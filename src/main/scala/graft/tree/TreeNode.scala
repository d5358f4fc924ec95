package graft.tree

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.json4s._

/** Immutable learned-tree node.
  *
  * Reference semantics: decision_tree_stuff/dtree.py:24-172
  * (`TreeNode`/`LeafNode`/`DecisionNode`). The reference classifies by
  * recursively filtering the frame per node, then re-sorting the two
  * halves back together (dtree.py:102-137). That is O(nodes) scans plus
  * a sort. Spark-first, the whole tree compiles to ONE nested
  * `when(attr <= t, left, right)` Catalyst expression — a single pass
  * inside whole-stage codegen, no shuffle, no sort, and it scales to
  * any row count.
  */
sealed trait TreeNode {
  /** The tree as a single codegen-friendly Column expression. */
  def predictionExpr: Column = render(ColumnRender)(lit(_))
  def leafLabels: Seq[Int]
  def toJValue: JValue

  /** The tree rendered as a portable ANSI-SQL CASE expression — model
    * export for serving the fitted tree in ANY engine (DuckDB,
    * Trino, BigQuery, …) without Spark.
    */
  def caseSql: String = render(SqlRender)(label => s"($label)")

  /** The tree through `r`, with `leaf(label)` at each leaf. */
  private[tree] def render[A](r: SplitRender[A])(leaf: Int => A): A = this match {
    case LeafNode(label, _) => leaf(label)
    case DecisionNode(a, t, lt, rt) => r.numeric(a, t, lt.render(r)(leaf), rt.render(r)(leaf))
    case CatDecisionNode(a, vs, lt, rt) =>
      r.categorical(a, vs, lt.render(r)(leaf), rt.render(r)(leaf))
  }
}

/** Constant prediction (reference dtree.py:39-65). */
final case class LeafNode(label: Int, className: String = "class") extends TreeNode {
  def leafLabels: Seq[Int] = Seq(label)
  def toJValue: JValue = JObject(className -> JInt(label))
}

/** Binary split on `attribute <= threshold` (reference dtree.py:68-172). */
final case class DecisionNode(
    attribute: String,
    threshold: Double,
    left: TreeNode,
    right: TreeNode) extends TreeNode {

  def toParams: SplitParams = SplitParams(attribute, threshold)

  def leafLabels: Seq[Int] = left.leafLabels ++ right.leafLabels

  /** Reference key format, e.g. "x_coord <= 1.0" / "x_coord > 1.0"
    * (dtree.py:139-141).
    */
  def conditionStr(lt: Boolean): String =
    s"$attribute ${if (lt) "<=" else ">"} $threshold"

  def toJValue: JValue =
    JObject(conditionStr(lt = true) -> left.toJValue,
            conditionStr(lt = false) -> right.toJValue)
}

/** Binary split on `attribute IN (values)` — the categorical split
  * (r11). Breiman-style target-rate ordinal encoding makes the left
  * set a PREFIX of the rate-ordered categories (see
  * MulticlassDecisionTree); the fitted node stores the resolved set,
  * so classify is one codegen'd `IN` and the SQL export is a portable
  * IN-list. NULL and categories unseen at fit time route to the
  * RIGHT child in both engines (IN over null/absent → not true).
  * The column is CAST TO STRING on both sides before the IN — the
  * fit-side dictionaries are strings, so a non-string categorical
  * column (int codes) must compare as its string rendering too, or
  * the raw-column IN could fail analysis under ANSI or coerce
  * differently in Spark vs the SQL-export engine (r11 advice).
  */
final case class CatDecisionNode(
    attribute: String,
    values: Seq[String],
    left: TreeNode,
    right: TreeNode) extends TreeNode {

  def leafLabels: Seq[Int] = left.leafLabels ++ right.leafLabels

  /** Serde keys extend the reference's condition-string format with
    * `attr IN <json list>` / `attr NOT IN <json list>` (values are
    * JSON-encoded so any category content round-trips).
    */
  def conditionStr(in: Boolean): String = {
    import org.json4s.jackson.JsonMethods
    val arr = JsonMethods.compact(JsonMethods.render(JArray(
      values.toList.map(JString(_)))))
    s"$attribute ${if (in) "IN" else "NOT IN"} $arr"
  }

  def toJValue: JValue =
    JObject(conditionStr(in = true) -> left.toJValue,
            conditionStr(in = false) -> right.toJValue)
}

/** The two renders of a split: a Column when-chain for Spark, and
  * portable ANSI SQL. Every fitted tree draws its Column and SQL forms
  * from these, so the two cannot drift.
  */
private[tree] sealed trait SplitRender[A] {
  def leaf(v: Double): A
  def numeric(attribute: String, threshold: Double, left: A, right: A): A
  def categorical(attribute: String, values: Seq[String], left: A, right: A): A

  /** The tree of heap-numbered splits (root 1, children 2i and 2i + 1)
    * with leaf value `value(id)`. */
  def tree(splits: collection.Map[Long, SplitParams],
           catSplits: collection.Map[Long, (String, Seq[String])])(value: Long => Double): A =
    FitInternals.foldSplits(splits, catSplits)(id => leaf(value(id)))(
      (_, s, l, r) => numeric(s.attribute, s.threshold, l, r),
      (_, a, vs, l, r) => categorical(a, vs, l, r))
}

private[tree] object ColumnRender extends SplitRender[Column] {
  def leaf(v: Double): Column = lit(v)
  def numeric(attribute: String, threshold: Double, left: Column, right: Column): Column =
    when(col(attribute) <= lit(threshold), left).otherwise(right)
  def categorical(attribute: String, values: Seq[String], left: Column, right: Column): Column =
    when(col(attribute).cast("string").isin(values: _*), left).otherwise(right)
}

/** Double leaves render as Scala's Double.toString, which standard SQL
  * parsers read back bit-exactly. */
private[tree] object SqlRender extends SplitRender[String] {
  def leaf(v: Double): String = s"($v)"
  def numeric(attribute: String, threshold: Double, left: String, right: String): String =
    s"(CASE WHEN $attribute <= $threshold THEN $left ELSE $right END)"
  def categorical(attribute: String, values: Seq[String], left: String, right: String): String =
    s"(CASE WHEN CAST($attribute AS STRING) IN " +
      values.map(v => "'" + v.replace("'", "''") + "'").mkString("(", ", ", ")") +
      s" THEN $left ELSE $right END)"
}

object DecisionNode {
  /** Parse the reference's condition-string format, e.g.
    * `"x_coord <= 1.0"` (lt) / `"x_coord > 1.0"` (dtree.py:143-146).
    */
  def fromConditionStr(s: String, lt: Boolean = true): (String, Double) = {
    val sep = if (lt) "<=" else ">"
    s.split(sep).map(_.trim) match {
      case Array(attr, thresh) => (attr, thresh.toDouble)
      case _ => throw new IllegalArgumentException(
        s"condition string must have the form 'attr $sep threshold': $s")
    }
  }
}

object TreeNode {

  /** Classify: append an integer `prediction` column in one pass. */
  def classify(node: TreeNode, samples: DataFrame): DataFrame =
    samples.withColumn("prediction", node.predictionExpr.cast("int"))

  private def jDouble(v: JValue): Double = v match {
    case JDouble(d)  => d
    case JInt(i)     => i.toDouble
    case JDecimal(d) => d.toDouble
    case JLong(l)    => l.toDouble
    case other       => throw new IllegalArgumentException(s"not a number: $other")
  }

  private def jInt(v: JValue): Int = v match {
    case JInt(i)  => i.toInt
    case JLong(l) => l.toInt
    case other    => throw new IllegalArgumentException(s"not an int: $other")
  }

  /** Parse the reference's nested-dict format (dtree.py:143-172):
    * decision nodes keyed by "attr <= t" / "attr > t", leaves by
    * `{class_column: label}`.
    */
  def fromJValue(j: JValue): TreeNode = j match {
    case JObject(fields) =>
      val lt = fields.find(_._1.contains("<="))
      val gt = fields.find(f => f._1.contains(">") && !f._1.contains("<="))
      val in = fields.find(f => f._1.contains(" IN ") && !f._1.contains(" NOT IN "))
      val notIn = fields.find(_._1.contains(" NOT IN "))
      // IN-shape keys dispatch FIRST: a category value containing "<="
      // (e.g. `lang IN ["a<=b"]`) would otherwise be mis-read as a
      // numeric split key (r12 advice). Numeric keys contain " IN "
      // only if the attribute name itself does — far rarer than "<="
      // inside data-driven category strings.
      (in, notIn, lt, gt) match {
        case (Some((inKey, lv)), Some((_, rv)), _, _) =>
          import org.json4s.jackson.JsonMethods
          val sep = inKey.indexOf(" IN ")
          val attr = inKey.substring(0, sep)
          val values = JsonMethods.parse(inKey.substring(sep + 4)) match {
            case JArray(vs) => vs.map { case JString(s) => s
              case other => throw new IllegalArgumentException(
                s"bad category value: $other") }
            case other => throw new IllegalArgumentException(
              s"bad IN list: $other")
          }
          CatDecisionNode(attr, values, fromJValue(lv), fromJValue(rv))
        case (_, _, Some((ltKey, lv)), Some((_, rv))) =>
          val Array(attr, thresh) = ltKey.split("<=").map(_.trim)
          DecisionNode(attr, thresh.toDouble, fromJValue(lv), fromJValue(rv))
        case _ =>
          fields match {
            case (cls, label) :: Nil => LeafNode(jInt(label), cls)
            case other => throw new IllegalArgumentException(s"bad leaf dict: $other")
          }
      }
    case other => throw new IllegalArgumentException(s"bad tree json: $other")
  }
}
