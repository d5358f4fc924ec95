package graft.tree

import graft.tree.FitInternals._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** The tree axis `t` a level loop fits over. */
private[tree] sealed trait TreeAxis {
  def size: Int
  /** The level aggregate's group keys. */
  def keys: Seq[String]
  /** The rows the fit learns from, as a condition on the root pass. */
  def cond: Option[Column]
  /** Tree `t`'s numeric and categorical features. */
  def subset(t: Int, numeric: Seq[String], categorical: Seq[String]): (Seq[String], Seq[String])
  /** The level pass's input: each (tree, row) pair with its `node` under `route(t)`. */
  def routed(route: Int => Column): DataFrame
  /** The root pass: `aggs` per tree, keyed by tree index. */
  def root(pass: PreProjection, aggs: Seq[Column], route: Int => Column): Seq[(Int, Row)]
  /** Per-(tree, node) candidate thresholds, read by each routed row. */
  def thresholds(entries: Seq[(Int, Long, Double)]): Column
  def key(row: Row): (Int, Long)
}

/** One tree on the rows of `data` where `cond` holds: its passes group
  * by `node` alone, and its root pass is a global aggregate over all of
  * `data` (so root aggregates a caller adds can see every row). */
private[tree] final case class OneTree(data: DataFrame, cond: Option[Column] = None)
    extends TreeAxis {
  def size: Int = 1
  def keys: Seq[String] = Seq("node")
  def subset(t: Int, numeric: Seq[String], categorical: Seq[String]): (Seq[String], Seq[String]) =
    (numeric, categorical)
  def routed(route: Int => Column): DataFrame =
    cond.map(data.filter).getOrElse(data).select(col("*"), route(0).as("node"))
  def root(pass: PreProjection, aggs: Seq[Column], route: Int => Column): Seq[(Int, Row)] =
    Seq(0 -> pass.under(data).agg(aggs.head, aggs.tail: _*).collect()(0))
  def thresholds(entries: Seq[(Int, Long, Double)]): Column =
    levelThresholdExpr(entries.map { case (_, id, thr) => id -> thr })
  def key(row: Row): (Int, Long) = (0, row.getLong(0))
}

/** A fused forest: each row once per tree whose bag holds it (see
  * `FitInternals.forestMemberships`), grouped by (`t`, `node`). */
private[tree] final case class Forest(data: DataFrame, bags: Bags) extends TreeAxis {
  def size: Int = bags.numTrees
  def keys: Seq[String] = Seq("t", "node")
  def cond: Option[Column] = None
  def subset(t: Int, numeric: Seq[String], categorical: Seq[String]): (Seq[String], Seq[String]) =
    (bags.features(t), bags.categoricals(t))
  def routed(route: Int => Column): DataFrame =
    forestMemberships(data, size, bags.filter, route)
  def root(pass: PreProjection, aggs: Seq[Column], route: Int => Column): Seq[(Int, Row)] =
    pass.under(routed(route)).groupBy("t").agg(aggs.head, aggs.tail: _*).collect()
      .map(r => r.getInt(0) -> r).toSeq
  def thresholds(entries: Seq[(Int, Long, Double)]): Column = levelThresholdExprForest(entries)
  def key(row: Row): (Int, Long) = (row.getInt(0), row.getLong(1))
}

/** A forest's deterministic bags. Feature bags rotate a window of
  * `subsetSize` (all when ≤ 0) over each list per tree; row bags hash the
  * feature values (xxhash64 seeded by the tree index: stable under any
  * partitioning, unlike monotonically_increasing_id). Categorical columns
  * join the hash; with none, the bags are those of a numeric-only forest.
  */
private[tree] final case class Bags(numTrees: Int, numeric: Seq[String], categorical: Seq[String],
                                    subsetSize: Int, fraction: Double, seed: Long) {
  private def window(all: Seq[String], tree: Int): Seq[String] = {
    val m = if (subsetSize <= 0) all.size else math.min(subsetSize, all.size)
    (0 until m).map(j => all(math.floorMod(tree + seed + j, all.size).toInt)).distinct
  }
  def features(tree: Int): Seq[String] = window(numeric, tree)
  def categoricals(tree: Int): Seq[String] = window(categorical, tree)
  def filter(tree: Int): Column = {
    val h = xxhash64((lit(seed) +: lit(tree) +: (numeric ++ categorical).map(col)): _*)
    pmod(h, lit(1000L)) < lit((fraction * 1000).toLong)
  }
}

/** The level loop of every level-wise learner: the binary, k-ary and
  * regression trees, their fused forests, and through RegressionTree the
  * boosters. The learner picks a [[NodeStatistic]] and a [[TreeAxis]];
  * the loop owns the rest.
  *
  * Each level: the stopping partition, then ONE fused split pass (the
  * `levelAggregate`) over every open node of every tree. From its rows
  * the loop scores, per node, each numeric feature's candidate at the
  * node's threshold and each categorical feature's Breiman prefixes
  * (categories ordered by the statistic's key, |V| − 1 boundaries
  * scored from |V| cells, never 2^|V|), and takes the (cost, name)
  * argmin — the same tie-break as Splitting.computeAllSplits. The data
  * is never split or cached per node; the loop's state is O(nodes ×
  * features) scalars.
  *
  * Child stats either COMPOSE or are RECOMPUTED. Composed (`recompute`
  * false), the split pass also carries every feature's would-be child
  * threshold on each side, and the categorical cells the sums a chosen
  * set composes them from, so children arrive with complete stats: a
  * fit of depth d runs d + 1 jobs (the root pass, then a split pass per
  * level). Recomputed (the binary and k-ary forests), each level first
  * runs a node pass over the routed rows, so a level costs two jobs.
  * Fused forests produce trees IDENTICAL to fitting each tree alone on
  * its bag (the specs' tree-at-a-time reference fits, SequentialForests)
  * on null-free categoricals; a recomputed child threshold is a mean
  * over routed rows, a composed one a ratio of sums, so the recomputing
  * forests match bit for bit only on integer-valued numeric features.
  *
  * The fitted structure is heap-numbered: root 1, children 2i (left:
  * numeric `<=`, categorical IN-set) and 2i + 1.
  */
private[tree] object LevelFit {

  /** An open node: its statistic and per-feature candidate thresholds. */
  private final case class Node[S](stat: S, thresholds: Map[String, Double])

  /** A candidate split: a numeric threshold (Left) or a categorical left
    * set (Right), with its two sides. */
  private final case class Cand[S](name: String, choice: Either[Double, Seq[String]],
                                   left: S, right: S, cost: Double, degenerate: Boolean)

  /** One tree's decisions; `leafOf` is the statistic's leaf value. */
  final class Grown[S] private[LevelFit] (val features: Seq[String], val categoricals: Seq[String],
                                          leafOf: S => Double) {
    val splits = mutable.Map.empty[Long, SplitParams]
    val catSplits = mutable.Map.empty[Long, (String, Seq[String])]
    /** Every leaf's value: a class label, or a mean. */
    val leaves = mutable.Map.empty[Long, Double]
    /** Every node that got a statistic of its own. */
    val nodes = mutable.Map.empty[Long, S]
    /** Per feature, the impurity mass its splits removed. */
    val gains = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    private[LevelFit] var open: Seq[Long] = Seq(1L)

    /** The node's own or nearest ancestor's leaf value; 0 with none. */
    private[LevelFit] def inherited(id: Long): Double = {
      var cur = id
      while (cur >= 1 && !nodes.contains(cur)) cur /= 2
      nodes.get(cur).fold(0.0)(leafOf)
    }

    /** The classifier tree. `prune` collapses a subtree whose leaves all
      * agree into a leaf labelled with its root's majority
      * (dtree.py:246-250). */
    def classifier(classColumn: String, prune: Boolean): TreeNode = {
      def pruned(id: Long, node: TreeNode): TreeNode =
        if (prune && node.leafLabels.toSet.size == 1)
          LeafNode(nodes.get(id).fold(node.leafLabels.head)(leafOf(_).toInt), classColumn)
        else node
      foldSplits(splits, catSplits)(id => LeafNode(leaves(id).toInt, classColumn): TreeNode)(
        (id, s, l, r) => pruned(id, DecisionNode(s.attribute, s.threshold, l, r)),
        (id, a, vs, l, r) => pruned(id, CatDecisionNode(a, vs, l, r)))
    }

    def regression: RegTreeNode =
      foldSplits(splits, catSplits)(id => RegLeaf(leaves(id)): RegTreeNode)(
        (_, s, l, r) => RegSplit(s.attribute, s.threshold, l, r),
        (_, a, vs, l, r) => RegCatSplit(a, vs, l, r))

    def totalGain: Double = gains.values.sum

    /** Each feature's share of `totalGain`; empty when it is not positive. */
    def importances: Map[String, Double] = {
      val total = totalGain
      if (total <= 0.0) Map.empty else gains.map { case (f, g) => f -> g / total }.toMap
    }
  }

  /** Fit every tree of `axis` over the `numeric` and `categorical`
    * features (`catDict` holds each categorical's sorted values), with
    * jobs labelled "`name`.fit level=<d>". `extraRootAggs` ride the root
    * pass over the axis's full data; their values return positionally.
    */
  def fit[S](name: String, stat: NodeStatistic[S], axis: TreeAxis,
             numeric: Seq[String], categorical: Seq[String],
             catDict: Map[String, Seq[String]], recompute: Boolean = false,
             extraRootAggs: Seq[Column] = Nil): (IndexedSeq[Grown[S]], Seq[Any]) = {
    val trees = (0 until axis.size).map { t =>
      val (f, q) = axis.subset(t, numeric, categorical)
      new Grown[S](f, q, stat.leaf)
    }
    def route(t: Int): Column = routeExpr(numeric, categorical, trees(t).splits, trees(t).catSplits)
    def nodeAggs(pass: WeightedAggs, cond: Option[Column]): Seq[Column] =
      stat.nodeAggs(pass, cond) ++
        numeric.map(f => stat.threshold(pass, f, cond).as(s"thr_$f")) ++
        stat.label.map { case (_, y) => count(over(cond, when(y.isNull, lit(1)))).as("nulls") }
    def checkLabel(rows: Iterable[Row]): Unit = stat.label.foreach { case (c, _) =>
      requireNonNullLabel(c, rows.map(r => r.getLong(r.fieldIndex("nulls"))).sum)
    }
    def node(r: Row): Node[S] = Node(stat.node(r),
      numeric.map(f => f -> numOr(r.get(r.fieldIndex(s"thr_$f")), Double.NaN)).toMap)

    var openStats = Map.empty[(Int, Long), Node[S]]
    val extras: Seq[Any] = if (recompute) Nil else {
      val pass = stat.pass()
      val rows = axis.root(pass, nodeAggs(pass, axis.cond) ++ extraRootAggs, route)
      checkLabel(rows.map(_._2))
      openStats = rows.map { case (t, r) => (t, 1L) -> node(r) }
        .filter(n => stat.count(n._2.stat) != 0.0).toMap
      rows.headOption.toSeq.flatMap { case (_, r) =>
        extraRootAggs.indices.map(i => r.get(r.length - extraRootAggs.size + i))
      }
    }

    var depth = 0
    while (trees.exists(_.open.nonEmpty) && depth < stat.maxLevels) {
      val label = s"$name.fit level=$depth"
      if (recompute) {
        val pass = stat.pass()
        val level = levelAggregate(axis.routed(route), axis.keys, pass,
          nodeAggs(pass, None), Nil, Nil, label)(axis.key)
        if (depth == 0) checkLabel(level.groups.values)
        openStats = level.groups.map { case (k, r) => k -> node(r) }
      }

      val toSplit = mutable.Buffer.empty[(Int, Long, Node[S])]
      trees.zipWithIndex.foreach { case (tree, t) =>
        val present = tree.open.flatMap(id => openStats.get((t, id)).map(id -> _))
        present.foreach { case (id, n) => tree.nodes(id) = n.stat }
        val (sp, lf) = present.partition { case (_, n) => stat.splits(n.stat, depth) }
        lf.foreach { case (id, n) => tree.leaves(id) = stat.leaf(n.stat) }
        // an open node with no rows (unreachable while empty-side
        // splits are rejected; an empty fit's root)
        tree.open.filterNot(id => openStats.contains((t, id)))
          .foreach(id => tree.leaves(id) = tree.inherited(id))
        sp.foreach { case (id, n) => toSplit += ((t, id, n)) }
        tree.open = Seq.empty
      }

      if (toSplit.nonEmpty) {
        val pass = stat.pass()
        def thr(f: String): Column =
          axis.thresholds(toSplit.map { case (t, id, n) => (t, id, n.thresholds(f)) }.toSeq)
        val splitAggs = numeric.flatMap { f =>
          val fc = col(f).cast("double")
          val le = pass.side(s"__pv_le_$f", fc <= thr(f))
          val gt = pass.side(s"__pv_gt_$f", fc > thr(f))
          stat.sideAggs(pass, f, le, gt) ++ (if (recompute) Nil else numeric.flatMap { g =>
            Seq(stat.threshold(pass, g, Some(le)).as(s"cthl_${f}__$g"),
              stat.threshold(pass, g, Some(gt)).as(s"cthr_${f}__$g"))
          })
        }
        def cellAggs = stat.cellAggs(pass) ++
          (if (recompute) Nil else stat.thresholdCellAggs(pass, numeric))
        val level = levelAggregate(axis.routed(route), axis.keys, pass, splitAggs,
          categorical, cellAggs, label)(axis.key)

        val nextStats = Map.newBuilder[(Int, Long), Node[S]]
        val nextOpen = trees.map(_ => mutable.Buffer.empty[Long])
        toSplit.foreach { case (t, id, n) =>
          val tree = trees(t)
          val row = level((t, id))
          // the categories of `q` present at the node, with their cells
          def present(q: String): Seq[(String, IndexedSeq[Double])] = catDict(q).map { v =>
            v -> stat.cellNames.map(nm =>
              numOr(level.cell((t, id), categorical.indexOf(q), v, nm), 0.0)).toIndexedSeq
          }.filter { case (_, c) => stat.count(stat.fromCells(c)) > 0.0 }
          best(stat, tree, n, row, present) match {
            case None => tree.leaves(id) = stat.leaf(n.stat)
            case Some(c) =>
              tree.gains(c.name) += stat.gain(n.stat, c.cost)
              c.choice match {
                case Left(bt) => tree.splits(id) = SplitParams(c.name, bt)
                case Right(leftSet) => tree.catSplits(id) = (c.name, leftSet)
              }
              if (!recompute) {
                val (thrL, thrR) = c.choice match {
                  case Left(_) =>
                    def read(side: String) = numeric.map(g => g ->
                      numOr(row.get(row.fieldIndex(s"$side${c.name}__$g")), Double.NaN)).toMap
                    (read("cthl_"), read("cthr_"))
                  case Right(leftSet) =>
                    val qi = categorical.indexOf(c.name)
                    def composed(left: Boolean, side: S) = numeric.map { g =>
                      g -> stat.composedThreshold(g, side, nm => catDict(c.name)
                        .filter(leftSet.contains(_) == left)
                        .map(v => numOr(level.cell((t, id), qi, v, nm), 0.0)).sum)
                    }.toMap
                    (composed(left = true, c.left), composed(left = false, c.right))
                }
                nextStats += (t, 2 * id) -> Node(c.left, thrL)
                nextStats += (t, 2 * id + 1) -> Node(c.right, thrR)
              }
              nextOpen(t) += 2 * id
              nextOpen(t) += 2 * id + 1
          }
        }
        trees.zip(nextOpen).foreach { case (tree, o) => tree.open = o.toSeq }
        openStats = nextStats.result()
      }
      depth += 1
    }
    // nodes still open at the level cap
    trees.zipWithIndex.foreach { case (tree, t) =>
      tree.open.foreach { id =>
        tree.leaves(id) = openStats.get((t, id)).filter(_ => stat.childLeafAtCap)
          .fold(tree.inherited(id))(n => stat.leaf(n.stat))
      }
    }
    (trees, extras)
  }

  /** Node `n`'s best split from its level `row` and the `present`
    * categories' cells, or None to leaf it. */
  private def best[S](stat: NodeStatistic[S], tree: Grown[S], n: Node[S], row: Row,
                      present: String => Seq[(String, IndexedSeq[Double])]): Option[Cand[S]] = {
    val numericCands = tree.features.sorted.map { f =>
      val (l, r) = stat.sides(row, f)
      val thr = n.thresholds(f)
      Cand(f, Left(thr), l, r, stat.cost(n.stat, l, r),
        degenerate = math.min(stat.count(l), stat.count(r)) == 0.0 || thr.isNaN)
    }
    val catCands = tree.categoricals.flatMap { q =>
      val cells = present(q)
      if (cells.size < 2) None
      else {
        val ordered = cells.sortBy { case (v, c) => (stat.orderKey(stat.fromCells(c)), v) }
        def total(cs: Seq[(String, IndexedSeq[Double])]) =
          stat.fromCells(cs.head._2.indices.map(i => cs.map(_._2(i)).sum))
        val bounds = (1 until ordered.size).map { b =>
          val (lf, rt) = ordered.splitAt(b)
          val (l, r) = (total(lf), total(rt))
          (Cand(q, Right(lf.map(_._1)), l, r, stat.cost(n.stat, l, r), degenerate = false), b)
        }
        pickBest(bounds)(_._1.cost, _._2).map(_._1)
      }
    }
    val all = numericCands ++ catCands
    val cands = (if (stat.degeneratesCompete && tree.categoricals.isEmpty) all
                 else all.filterNot(_.degenerate)).sortBy(_.name)
    pickBest(cands)(_.cost, _.name).filter(c => !c.degenerate && stat.accepts(n.stat, c.cost))
  }
}
