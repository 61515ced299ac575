package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

import graft.operators.Sampling
import graft.operators.Sampling.{CoocDelta, Flagged, UserState}

/**
 * Streaming user-history reservoir as a Spark 4.x StatefulProcessor
 * (transformWithState, RocksDB state store) — the reference's
 * UserInteractionCounterOneInputStreamOperator re-expressed on Spark's
 * keyed-state API (reference :167-249): bounded per-user history (kMax),
 * append path emits symmetric +1 co-occurrence deltas, reservoir path
 * replaces a random slot and emits paired +1/-1 deltas.
 *
 * Divergence from the reference, documented: the item-cut feedback refund
 * has no acyclic-DAG equivalent (SURVEY §7.4.1) — the streaming operator
 * runs reservoir-only (itemCut applied upstream or disabled); the batch
 * window loop (Sampling.sampledCoocDeltas) remains the exact-semantics
 * path.
 *
 * Scale posture: state per user is at most kMax ints + 2 counters, in
 * RocksDB — bounded regardless of stream length; emission is bounded by
 * 2*kMax deltas per event. Rows arrive per key in micro-batch order; we
 * sort each batch's rows by (ts, item) for the deterministic fold
 * contract.
 */
class ReservoirProcessor(kMax: Int, seed: Long)
    extends StatefulProcessor[Int, Flagged, CoocDelta] {

  @transient private var histState: ValueState[ReservoirProcessor.Hist] = _
  @transient private var totalState: ValueState[Int] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    // Product encoder (int-array column), not javaSerialization: state is
    // read+written once per key per micro-batch, and the SQL encoder avoids
    // a Java-serialization round-trip against RocksDB on every access.
    // State name is "histV2", not "hist": the V1 state (pre-encoder-switch)
    // was javaSerialization[Array[Int]] — a checkpoint written under that
    // schema is NOT compatible, and reusing the name would fail
    // state-schema validation (or misdeserialize) on restart. The bump
    // makes the incompatibility explicit: old checkpoints are invalidated;
    // restart such a query from a fresh checkpoint.
    histState = getHandle.getValueState[ReservoirProcessor.Hist](
      "histV2", Encoders.product[ReservoirProcessor.Hist], TTLConfig.NONE)
    totalState = getHandle.getValueState[Int]("total", Encoders.scalaInt, TTLConfig.NONE)
  }

  override def handleInputRows(user: Int, rows: Iterator[Flagged],
      timerValues: TimerValues): Iterator[CoocDelta] = {
    val st = UserState(user,
      if (totalState.exists()) totalState.get() else 0,
      if (histState.exists()) histState.get().items else Array.empty[Int])
    // The SAME fold and portable draw as the batch windows (userFold with
    // drawFor: a pure hash of (seed, user, total)), so the streaming fold
    // cannot drift from them no matter how events split across batches.
    // Dropped events' refunds are batch-only (see scaladoc): ignored here.
    val md = java.security.MessageDigest.getInstance("MD5")
    val (deltas, _, next) = Sampling.userFold(rows.toSeq.sortBy(e => (e.ts, e.item)), st,
      kMax, t => Sampling.drawFor(md, seed, user, t), None)
    totalState.update(next.total)
    histState.update(ReservoirProcessor.Hist(next.history))
    deltas.iterator
  }
}

object ReservoirProcessor {
  /** SQL-encodable reservoir state: at most kMax item ids per user. */
  case class Hist(items: Array[Int])
}

object ReservoirStream {

  /**
   * Streaming delta stream via transformWithState: interactions stream ->
   * per-user reservoir -> CoocDelta rows (append). Aggregation happens
   * AFTER the sink: a second stateful operator downstream of
   * transformWithState is unsupported in update mode, and the delta
   * stream is the reference's actual operator output anyway (ITEM_TAG
   * side output).
   */
  def deltas(interactions: DataFrame, kMax: Int, seed: Long): DataFrame = {
    val spark = interactions.sparkSession
    import spark.implicits._
    val flagged = interactions
      .select(col("user").cast("int"), col("item").cast("int"), unix_millis(col("ts")))
      .as[(Int, Int, Long)]
      .map { case (u, i, t) => Flagged(u, i, t, sample = true) }
    flagged
      .groupByKey(_.user)
      .transformWithState(new ReservoirProcessor(kMax, seed),
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** Aggregated (item, other, cnt) from a materialized delta table. */
  def countsFromDeltas(deltaTable: DataFrame): DataFrame =
    deltaTable
      .groupBy(col("item"), col("other"))
      .agg(sum(col("inc")).as("cnt"))
      .where(col("cnt") > 0)

  /**
   * End-to-end streaming co-occurrence counts: transformWithState deltas
   * aggregated per microbatch in foreachBatch (distributed map-side
   * combine into a small per-batch net-delta table), merged at the end —
   * never funnels raw deltas through a driver-side sink.
   */
  def coocCounts(interactions: DataFrame, kMax: Int, seed: Long): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val spark = interactions.sparkSession
    val batches = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val q = deltas(interactions, kMax, seed).writeStream
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        batches += b.groupBy(col("item"), col("other"))
          .agg(sum(col("inc")).as("inc")).localCheckpoint(true)
        ()
      }
      .start()
    q.awaitTermination()
    if (batches.isEmpty) spark.emptyDataFrame
    else batches.reduce(_ unionAll _)
      .groupBy(col("item"), col("other"))
      .agg(sum(col("inc")).as("cnt"))
      .where(col("cnt") > 0)
  }
}
