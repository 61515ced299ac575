package graft.operators

import org.apache.spark.sql.SparkSession

/** Job labeling (optimization-guide §1.5): multi-job operators set a
  * phase description so the perfbench trace and the UI can
  * attribute wall time to the phase that scheduled it, not just the
  * outermost callsite. Descriptions are thread-local; the previous value
  * is restored so streaming foreachBatch labels survive. */
object Jobs {
  def labeled[T](spark: SparkSession, label: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try f finally sc.setJobDescription(prev)
  }
}
