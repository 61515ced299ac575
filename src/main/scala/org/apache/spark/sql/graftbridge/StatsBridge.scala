package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{classic, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/**
 * Spark 4's Dataset.localCheckpoint wraps the materialized RDD in a
 * LogicalRDD that CARRIES the checkpointed plan's estimated statistics
 * (`originStats`). In iterative pipelines that checkpoint every step
 * (ALS-style window loops), those estimates COMPOUND: step w+1's plan
 * multiplies step w's carried sizeInBytes at every multi-child node
 * (Catalyst's fallback visitor takes the product of children), so the
 * BigInt doubles its bit-length per iteration — by iteration ~25 the
 * driver spends minutes in Toom-Cook BigInteger multiplication inside
 * stats estimation.
 *
 * This bridge re-wraps a checkpointed Dataset's LogicalRDD WITHOUT the
 * carried stats, so every iteration restarts from the flat
 * defaultSizeInBytes estimate. It must live inside the
 * org.apache.spark.sql namespace because LogicalRDD's constructor and
 * classic.Dataset's factory are private[sql].
 */
object StatsBridge {

  /** Drop carried `originStats`/`originConstraints` from a checkpointed
    * Dataset. No-op for plans that are not a bare LogicalRDD. Cheap: the
    * RDD is reused as-is; no job, no copy, no re-serialization. */
  def dropCarriedStats[T](ds: Dataset[T]): Dataset[T] = {
    val cds = ds.asInstanceOf[classic.Dataset[T]]
    cds.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val fresh = new LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
          lr.outputOrdering, lr.isStreaming, lr.stream)(
          cds.sparkSession, None, None)
        classic.Dataset[T](cds.sparkSession, fresh)(cds.encoder)
      case _ => ds
    }
  }

  /** A DataFrame over rows that are already in Catalyst's internal form,
    * so reading them skips per-object encoding. Like a re-wrapped
    * checkpoint, its LogicalRDD carries no stats. */
  def fromRows(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
