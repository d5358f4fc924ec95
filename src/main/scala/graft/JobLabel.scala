package graft

import org.apache.spark.sql.SparkSession

/** Job descriptions for the Spark jobs an operator runs, as
  * "<Operator>.<phase> <detail>" (`DecisionTree.fit level=2`,
  * `Dedup.buildBandIndex write=sigs`): what the UI, the event log and
  * listeners show, so a trace attributes time to operator and phase.
  */
object JobLabel {

  /** Run `body` with Spark job description `label`, restoring the
    * caller's description afterwards.
    */
  def apply[A](spark: SparkSession, label: String)(body: => A): A = {
    val sc = spark.sparkContext
    val key = "spark.job.description"
    val previous = sc.getLocalProperty(key)
    sc.setLocalProperty(key, label)
    try body finally sc.setLocalProperty(key, previous)
  }
}
