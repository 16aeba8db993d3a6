package graft.core

import org.apache.spark.sql.SparkSession

/** Job labeling (optimization-guide §1.5): every substrate action
  * site wraps itself in [[described]], so the Spark UI / `Profile jobs`
  * attribute each of a query's jobs to the operator that submitted
  * it instead of an anonymous callsite. Descriptions are thread-local
  * in Spark; the previous value is restored so nested labels (e.g. a
  * refresh inside a foreachBatch) unwind correctly. */
object Jobs {
  def described[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body
    finally sc.setJobDescription(prev)
  }
}
