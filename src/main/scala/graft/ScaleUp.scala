package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Build an N× scaled copy of a testdata directory for wall-clock
  * scaling sweeps (the README's "10× sweep"): every fact table is
  * replicated `factor` times with key-space remapping, and the
  * replicas are PERTURBED so the workload stays adversarial —
  * document replicas become NEAR-duplicates (exact-content collapse
  * must not trivialize dedup), embedding replicas shift slightly
  * (ANN candidate structure is preserved, not collapsed), event
  * replicas land on fresh users in later weeks (sessionization and
  * retention grow real state). Dimension tables (region, nation,
  * customer, supplier, part) keep their cardinality — facts fan out
  * against them, which is how a corpus actually grows.
  *
  *   sbt "runMain graft.ScaleUp /root/testdata/sf0.1 /tmp/sf1.0 10"
  *
  * Deterministic (replica index is the only new entropy), so sweep
  * numbers are reproducible run to run.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/sf1.0")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    require(factor >= 1, s"factor must be >= 1: $factor")
    val spark = LocalSession(LocalSession.cores(8))

    def replicate(name: String)(remap: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val scaled = (0 until factor).map(i => remap(base, i)).reduce(_ unionAll _)
      scaled.write.mode("overwrite").parquet(s"$dst/$name.parquet")
    }
    def copy(name: String): Unit =
      spark.read.parquet(s"$src/$name.parquet")
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")

    Seq("region", "nation", "customer", "supplier", "part").foreach(copy)

    replicate("documents") { (d, i) =>
      if (i == 0) d
      else d.select(
        (col("doc_id") + lit(i.toLong * 50000000L)).as("doc_id"),
        // near-duplicate, never exact: a replica-specific suffix
        // keeps content keys distinct while minhash similarity stays
        // above every banding threshold in the suite
        concat(col("text"), lit(s" replica$i")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }

    replicate("embeddings") { (e, i) =>
      if (i == 0) e
      else e.select(
        (col("vec_id") + lit(i.toLong * 50000000L)).as("vec_id"),
        // small deterministic shift: neighbors stay neighbors, but
        // replicas are not bit-identical vectors
        transform(col("embedding"),
          x => x + lit(0.001f) * i).as("embedding"),
        col("label"))
    }

    replicate("events") { (ev, i) =>
      if (i == 0) ev
      else ev.select(
        (col("event_id") + lit(i.toLong * 500000000L)).as("event_id"),
        // push each replica a week out: sessionization/retention see
        // MORE real sessions, not the same sessions duplicated
        (col("ts") + expr(s"INTERVAL ${7 * i} DAYS")).as("ts"),
        (col("user_id") + lit(i.toLong * 10000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }

    replicate("orders") { (o, i) =>
      if (i == 0) o
      else o.select(
        (col("o_orderkey") + lit(i.toLong * 100000000L)).as("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        (col("o_orderdate") + expr(s"INTERVAL ${7 * i} DAYS")).as("o_orderdate"),
        col("o_orderpriority"))
    }

    replicate("lineitem") { (l, i) =>
      if (i == 0) l
      else l.select(
        (col("l_orderkey") + lit(i.toLong * 100000000L)).as("l_orderkey"),
        col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"), col("l_returnflag"), col("l_linestatus"),
        (col("l_shipdate") + expr(s"INTERVAL ${7 * i} DAYS")).as("l_shipdate"))
    }

    println(s"ScaleUp: wrote ${factor}x of $src to $dst")
    spark.stop()
  }
}
