package graft.ops

import graft.SparkSpec

/** The persisted-index contract (`graft.io.PersistedIndex`),
  * table-driven over the six index families: each family's on-disk
  * layout is pinned, so an index written by an earlier build keeps
  * reading, and each family's append and probe refuse a `_meta` that
  * is not one row. Appends refusing a hot table without a bucket spec
  * is IncrementalDedupSpec's refusal test, over the same families.
  */
class PersistedIndexSpec extends SparkSpec {

  IndexFamilies.all.foreach { f =>
    val name = s"graft_contract_${f.family}"

    test(s"${f.family} index: table names, schemas, bucketing and _meta columns are pinned") {
      try {
        f.build(spark, name)
        val layout = IndexFamilies.layoutOf(spark, name)
        assert(layout == f.layout, layout.mkString("\n"))
      } finally IndexFamilies.dropAll(spark, name)
    }

    test(s"${f.family} index: a two-row _meta is refused by append and probe") {
      try {
        f.build(spark, name)
        IndexFamilies.doubleMeta(spark, name)
        for (use <- Seq(f.append, f.probe)) {
          val e = intercept[IllegalArgumentException](use(spark, name))
          assert(e.getMessage == s"requirement failed: index $name: malformed ${name}_meta")
        }
      } finally IndexFamilies.dropAll(spark, name)
    }
  }
}
