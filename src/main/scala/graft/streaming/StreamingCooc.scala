package graft.streaming

import scala.collection.mutable.{ArrayBuffer, LongMap}

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.StatsBridge
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

import graft.functions.{IntDoubleTopK, LogLikelihood}
import graft.operators.Sampling
import graft.operators.Sampling.{CoocDelta, Interaction, ItemCount, UserState}

/**
 * Incremental streaming co-occurrence pipeline: each microbatch runs the
 * same co-partitioned window step as the batch loop
 * (Sampling.WindowState — item cut, user reservoir, refunds), keeping its
 * delta increment; the rescorer (row sums -> LLR -> top-K) nets the
 * increments into the accumulated matrix, mirroring the reference's
 * watermark-flush ordering: row sums are recomputed BEFORE scoring within
 * each flush
 * (reference: ItemRowRescorerTwoInputStreamOperator.java:116-142 — the
 * cross-input ordering invariant, trivial under microbatch sequencing).
 *
 * This is SURVEY §7.0's design stance realized: the batch-proven window
 * step lifted into one foreachBatch shell ([[drain]]), with refunds
 * applied synchronously inside each batch (exact, unlike the Flink
 * in-JVM queue). A [[Checkpoint]] makes the shell's state durable on the
 * maintainers' [[ShardLog]] protocol, so a killed run resumes exactly
 * once.
 */
object StreamingCooc {

  /** Mutable cross-batch state for one streaming pipeline instance. The
    * keyed state stays co-partitioned RDDs (width: the session's
    * shuffle.partitions); `deltas` is a Dataset view of the accumulated
    * increments, and assigning it replaces them. */
  final class State(private[streaming] val spark: SparkSession) {
    import spark.implicits._
    private[graft] val window = new Sampling.WindowState(spark.sparkContext,
      new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt))
    /** One cached delta increment per batch (netted per user, not across
      * users), kept as internal rows of `deltaSchema`: rescore nets them
      * all once, without encoding any row again. */
    private[streaming] val increments = ArrayBuffer[RDD[InternalRow]]()
    /** Event-time watermark after the previous batch (max ts seen). Late
      * filtering uses the PREVIOUS batch's value — the same split Spark's
      * own watermark operators apply to multi-batch late data. Kept in
      * memory only: a restored state starts from no watermark. */
    var watermarkMs: Long = Long.MinValue

    /** The accumulated matrix as its un-netted delta rows. */
    def deltas: Dataset[CoocDelta] = StatsBridge.fromRows(spark, deltaRows, deltaSchema).as[CoocDelta]
    private[streaming] def deltaRows: RDD[InternalRow] =
      spark.sparkContext.union(increments.toSeq).coalesce(window.part.numPartitions)
    def deltas_=(ds: Dataset[CoocDelta]): Unit = {
      increments.clear()
      increments += ds.rdd.map(d => InternalRow(d.item, d.other, d.inc))
    }
  }

  private val deltaSchema = Encoders.product[CoocDelta].schema

  /**
   * Run one microbatch through the window step and keep its delta
   * increment in `st`.
   *
   * One Spark job per batch (Sampling.WindowState.step), plus one with
   * `metrics` attached: the reference's late-element contract is
   * enforced at ingest (the item stage is the first operator to see an
   * interaction): events with ts <= the previous batch's watermark are
   * dropped and counted as `ItemInteractionCounterLateElements`
   * (reference: ItemInteractionCounterTwoInputStreamOperator.java:66,76).
   * The user stage then processes an already-filtered batch under the
   * same watermark, so `UserInteractionCounterLateElements` is 0 by
   * construction here (see PipelineMetrics scaladoc). Without metrics
   * the ingest filter is off and every arrival is processed — the
   * arrival-sequenced mode the streaming oracles pin.
   */
  def processBatch(st: State, batch: Dataset[Interaction], batchId: Long,
      fMax: Int, kMax: Int, seed: Long,
      metrics: Option[Sampling.PipelineMetrics] = None): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val admitted = metrics match {
      case None => batch
      case Some(m) =>
        val wm = st.watermarkMs
        // one instrumented-mode job (an RDD aggregate: a Dataset agg
        // would add an exchange stage job): rows, late count, max ts
        val (n, late, mx) = batch.select(col("ts")).as[Long].rdd
          .aggregate((0L, 0L, Long.MinValue))(
            { case ((c, l, x), t) => (c + 1, if (t <= wm) l + 1 else l, math.max(x, t)) },
            { case ((c1, l1, x1), (c2, l2, x2)) => (c1 + c2, l1 + l2, math.max(x1, x2)) })
        m.itemLateElements.add(late)
        if (n > 0) {
          st.watermarkMs = math.max(wm, mx)
          // non-empty batch = exactly one forwarded file under the
          // maxFilesPerTrigger=1 contract (see PipelineMetrics.numSplits)
          m.numSplits.add(1)
        }
        batch.filter(col("ts") > wm)
    }
    st.increments += st.window.step(admitted, fMax, kMax, seed, batchId, metrics)(_.flatMap {
      case (_, r) =>
        if (r.kind == 0) Iterator.single(InternalRow(r.item, r.other, r.inc)) else Iterator.empty
    })
  }

  /**
   * The durable state of a checkpointed drain (`Main -st -cp <dir>`), on
   * the maintainers' crash-safe [[ShardLog]] protocol
   * ([[MaintainedIndex]]). Spark's checkpoint in `dir` keeps the SOURCE
   * offsets; this member keeps the rest of what a resumed run needs —
   * item counts, user reservoirs, the accumulated matrix — under
   * `dir/graft-log`. Each batch commits three relations under one
   * marker, each O(batch):
   *  - `delta`: the batch's increment, sum-merged ([[ShardLog.SumFold]]);
   *    a compaction nets it;
   *  - `items`: the post-batch count of each of the batch's items — a
   *    count moves only through the batch's own events and refunds, and
   *    every refunded item is one of the batch's items;
   *  - `users`: the post-batch reservoir of each of the batch's users.
   * `items` and `users` are latest-wins ([[ShardLog.LatestFold]]); a
   * compaction every `compactEvery` batches folds all three into
   * snapshots (the delta-files-plus-snapshots scheme of Spark's own HDFS
   * state store).
   *
   * Exactly-once under foreachBatch replay: Spark commits its offsets
   * AFTER foreachBatch returns, so a kill can leave batch b committed
   * here but not there. [[drain]] skips a batch id exactly when
   * [[isCommitted]] — replay by id, the role of the reference's
   * checkpointable monitor (ContinuousFileMonitoringFunction.java
   * snapshotState/restoreState).
   */
  final class Checkpoint(spark: SparkSession, val dir: String, compactEvery: Int)
    extends MaintainedIndex(spark, s"$dir/graft-log", compactEvery,
      Seq(Checkpoint.delta, Checkpoint.items, Checkpoint.users)) {

    import spark.implicits._

    /** A fresh [[State]] holding every committed batch. Its RDDs are
      * materialized here: a later compaction may sweep the files read. */
    def restore(): State = {
      val st = new State(spark)
      if (committedCount > 0) {
        def pinned[T](rdd: RDD[T]): RDD[T] = { rdd.localCheckpoint(); rdd.count(); rdd }
        st.window.itemCnt = pinned(log.currentRows(Checkpoint.items).as[ItemCount].rdd
          .map(c => (c.item.toLong, c.cnt)).partitionBy(st.window.part))
        st.window.userSt = pinned(log.currentRows(Checkpoint.users).as[UserState].rdd
          .map(u => (u.user.toLong, (u.total, u.history))).partitionBy(st.window.part))
        st.increments += pinned(log.currentRows(Checkpoint.delta).rdd
          .map(r => InternalRow(r.getInt(0), r.getInt(1), r.getLong(2).toInt)))
      }
      st
    }

    /** Commit batch `id`, which [[processBatch]] has just folded into
      * `st` from `batch`. A committed id returns at once. */
    def commit(id: Long, st: State, batch: Dataset[Interaction]): Unit = once(id) {
      val w = st.window
      // the batch's keys, partitioned like the state: the joins below
      // shuffle only these
      def keys(key: Interaction => Int) =
        batch.rdd.map(e => (key(e).toLong, ())).reduceByKey(w.part, (a, _) => a)
      val items = w.itemCnt.join(keys(_.item), w.part)
        .map { case (i, (c, _)) => ItemCount(i.toInt, c) }
      val users = w.userSt.join(keys(_.user), w.part)
        .map { case (u, ((t, h), _)) => UserState(u.toInt, t, h) }
      log.commitShard(id, Seq(
        // the snapshot's netted sums are bigint: every delta file is too
        StatsBridge.fromRows(spark, st.increments.last, deltaSchema)
          .withColumn("inc", col("inc").cast(LongType)),
        items.toDF().withColumn("b", lit(id)),
        users.toDF().withColumn("b", lit(id))), "{}")
    }
  }

  object Checkpoint {
    private def latest(key: String, schema: StructType) = ShardLog.Relation("shards",
      new ShardLog.LatestFold(key, schema.add("b", LongType)), s"${key}s")
    private val delta = ShardLog.Relation("shards",
      new ShardLog.SumFold(Seq("item", "other"), "inc"), "delta")
    private val items = latest("item", Encoders.product[ItemCount].schema)
    private val users = latest("user", Encoders.product[UserState].schema)
  }

  /**
   * The foreachBatch drain shell: `inter` — a stream of `(user, item,
   * ts)` interactions — runs through [[processBatch]] one microbatch at
   * a time until the source is drained (AvailableNow), then [[rescore]]
   * keeps each item's top `k`. With a `checkpoint` the state is restored
   * from it, every batch commits to it, Spark keeps its offsets in
   * `checkpoint.dir`, and a batch id the checkpoint already holds is
   * skipped: a replay of work already in the restored state.
   * `onBatch(id, processed)` runs after each batch.
   */
  def drain(inter: DataFrame, fMax: Int, kMax: Int, seed: Long, k: Int,
      checkpoint: Option[Checkpoint] = None,
      onBatch: (Long, Boolean) => Unit = (_, _) => ()): DataFrame = {
    val spark = inter.sparkSession
    import spark.implicits._
    val st = checkpoint.fold(new State(spark))(_.restore())
    val writer = inter.writeStream.outputMode(OutputMode.Update()).trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        if (checkpoint.exists(_.isCommitted(id))) onBatch(id, false)
        else {
          val batch = b.as[Interaction]
          processBatch(st, batch, id, fMax, kMax, seed)
          checkpoint.foreach(_.commit(id, st, batch))
          onBatch(id, true)
        }
      }
    checkpoint.foreach(c => writer.option("checkpointLocation", c.dir))
    writer.start().awaitTermination()
    rescore(st, k)
  }

  /** Partitions packed `(item << 32 | other)` cell keys by item. */
  private final class ItemPartitioner(n: Int) extends Partitioner {
    override def numPartitions: Int = n
    override def getPartition(key: Any): Int =
      Math.floorMod((key.asInstanceOf[Long] >> 32).toInt, n)
  }

  /** Item `i` goes to the first partition whose upper bound is >= i. */
  private final class ItemRangePartitioner(bounds: Array[Int]) extends Partitioner {
    override def numPartitions: Int = bounds.length + 1
    override def getPartition(key: Any): Int = {
      val at = java.util.Arrays.binarySearch(bounds, key.asInstanceOf[Int])
      if (at >= 0) at else -at - 1
    }
  }

  /** `llrTopKFromCounts`' output schema over the netted deltas. */
  private val topKSchema = StructType(Seq(
    StructField("item", IntegerType, nullable = false),
    StructField("rnk", IntegerType, nullable = false),
    StructField("other", IntegerType, nullable = false),
    StructField("score", DoubleType, nullable = true)))

  /** Rescore the accumulated matrix: row sums first, then LLR top-K.
    * The result equals `Cooccurrence.llrTopKFromCounts` over the netted
    * deltas (cells with count > 0), row for row and in its `(item, rnk)`
    * order.
    *
    * Two Spark jobs, the per-item loop of the reference's rescorer
    * (ItemRowRescorerTwoInputStreamOperator.java:116-142) over one
    * shuffle. Job 1 runs HERE, when `rescore` is called: it nets the
    * increments on packed `(item, other)` keys into item-partitioned
    * cells (map-side combine) and returns each item's row sum to the
    * driver (RowSumAggregator.java:50,67). Job 2 runs when the returned
    * DataFrame is read: it reuses job 1's shuffle output, scores each
    * cell against the row sums and the total (k22 as in
    * ItemRowRescorerTwoInputStreamOperator.java:236-239), keeps each
    * item's top-K in a bounded heap and range-partitions the rows by
    * item, with bounds from the row-sum keys. Nothing is cached.
    *
    * `metrics` reads its counters off job 1: the items with a row and
    * the net row-sum mass. `devReconcile` (default: the
    * `graft.dev.reconcile` system property) mirrors the reference's
    * DEV-mode row-sum reconciliation
    * (ItemRowRescorerTwoInputStreamOperator.java:183-193): the row sums
    * of the raw delta stream differ from those of the matrix exactly when
    * a netted cell is negative (a refund/eviction bug), which job 1
    * reports and which then fails loudly instead of mis-scoring. */
  def rescore(st: State, k: Int,
      devReconcile: Boolean = java.lang.Boolean.getBoolean("graft.dev.reconcile"),
      metrics: Option[Sampling.PipelineMetrics] = None): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val spark = st.spark
    val n = st.window.part.numPartitions
    val cells = st.deltaRows
      .map(r => ((r.getInt(0).toLong << 32) | (r.getInt(1) & 0xffffffffL), r.getInt(2).toLong))
      .reduceByKey(new ItemPartitioner(n), _ + _)
    // job 1: per partition, the items' row sums (over cells > 0) and the
    // first negative cell
    val parts = cells.mapPartitions { it =>
      val sums = new LongMap[Long]()
      var neg: Option[(Int, Int, Long)] = None
      it.foreach { case (key, cnt) =>
        if (cnt > 0) {
          val item = (key >> 32).toInt
          sums(item) = sums.getOrElse(item, 0L) + cnt
        } else if (cnt < 0 && neg.isEmpty) neg = Some(((key >> 32).toInt, key.toInt, cnt))
      }
      Iterator.single((sums.toArray.map { case (i, s) => (i.toInt, s) }, neg))
    }.collect()
    if (devReconcile) parts.flatMap(_._2).headOption.foreach { case (item, other, cnt) =>
      throw new IllegalArgumentException(s"row-sum reconciliation failed (item=$item: " +
        s"cell ($item, $other) nets to $cnt) — a cooc cell went negative")
    }
    val (items, rowSums) = parts.flatMap(_._1).sortBy(_._1).unzip
    val total = rowSums.sum
    metrics.foreach { m =>
      m.rescoredItems.add(items.length.toLong)
      m.rowSumMass.add(total)
    }
    def rowSum(item: Int): Long = {
      val at = java.util.Arrays.binarySearch(items, item)
      if (at >= 0) rowSums(at) else -1L
    }
    val p = math.max(1, math.min(n, items.length))
    val bounds = Array.tabulate(p - 1)(j => items(((j + 1).toLong * items.length / p - 1).toInt))
    // job 2 (lazy): score, keep each item's top-K, range-partition by item
    val topK = cells.mapPartitions { it =>
      val heaps = new LongMap[IntDoubleTopK]()
      it.foreach { case (key, cnt) =>
        if (cnt > 0) {
          val item = (key >> 32).toInt
          val other = key.toInt
          val rsO = rowSum(other)
          // the other item has no row: the inner join drops the cell
          if (rsO >= 0) {
            val k12 = rowSum(item) - cnt
            val k21 = rsO - cnt
            val k22 = total + cnt - k12 - k21
            heaps.getOrElseUpdate(item, new IntDoubleTopK(k))
              .offer(other, round4(LogLikelihood.logLikelihoodRatio(cnt, k12, k21, k22)))
          }
        }
      }
      heaps.iterator.map { case (item, h) => (item.toInt, h.dumpDescending()) }
    }.repartitionAndSortWithinPartitions(new ItemRangePartitioner(bounds))
      .flatMap { case (item, top) =>
        top.iterator.zipWithIndex.map { case ((other, score), r) =>
          InternalRow(item, r + 1, other, score)
        }
      }
    StatsBridge.fromRows(spark, topK, topKSchema)
  }

  /** Catalyst's `round(_, 4)` for doubles (HALF_UP over the decimal
    * string form; NaN and infinities pass through). */
  private def round4(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue

  /**
   * End-to-end streaming run over the events table: file-source stream ->
   * foreachBatch window step -> final rescore. With cuts >= data size the
   * result equals the batch pipeline exactly (same oracle).
   */
  def llrTopKStreaming(spark: SparkSession, dir: String, fMax: Int, kMax: Int,
      seed: Long, k: Int): DataFrame =
    drain(StreamingOps.eventsStream(spark, dir)
      .select(
        col("user_id").cast("int").as("user"),
        get_json_object(col("props"), "$.k").cast("int").as("item"),
        unix_millis(col("ts")).as("ts")), fMax, kMax, seed, k)
}
