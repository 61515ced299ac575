package graft.streaming

import scala.collection.mutable.{ArrayBuffer, LongMap}

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.StatsBridge
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}

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
 * step lifted into a foreachBatch shell, with refunds applied
 * synchronously inside each batch (exact, unlike the Flink in-JVM queue).
 */
object StreamingCooc {

  /** Mutable cross-batch state for one streaming pipeline instance. The
    * keyed state stays co-partitioned RDDs (width: the session's
    * shuffle.partitions); `itemState`, `userState` and `deltas` are
    * Dataset views of it, and assigning one replaces that state. */
  final class State(private[streaming] val spark: SparkSession) {
    import spark.implicits._
    private[streaming] val window = new Sampling.WindowState(spark.sparkContext,
      new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt))
    /** One cached delta increment per batch (netted per user, not across
      * users), kept as internal rows of `deltaSchema`: rescore nets them
      * all once, without encoding any row again. */
    private[streaming] val increments = ArrayBuffer[RDD[InternalRow]]()
    /** Event-time watermark after the previous batch (max ts seen). Late
      * filtering uses the PREVIOUS batch's value — the same split Spark's
      * own watermark operators apply to multi-batch late data. */
    var watermarkMs: Long = Long.MinValue

    def itemState: Dataset[ItemCount] =
      spark.createDataset(window.itemCnt.map { case (i, c) => ItemCount(i.toInt, c) })
    def itemState_=(ds: Dataset[ItemCount]): Unit =
      window.itemCnt = ds.rdd.map(c => (c.item.toLong, c.cnt)).partitionBy(window.part)
    def userState: Dataset[UserState] =
      spark.createDataset(window.userSt.map { case (u, (t, h)) => UserState(u.toInt, t, h) })
    def userState_=(ds: Dataset[UserState]): Unit =
      window.userSt = ds.rdd.map(u => (u.user.toLong, (u.total, u.history))).partitionBy(window.part)
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
   * increment in `st`. Returns this batch's NET increment (netted across
   * users) — lazy over the cached increment, so only a caller that reads
   * it (persistBatch) pays its small aggregation job.
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
      metrics: Option[Sampling.PipelineMetrics] = None): Dataset[CoocDelta] = {
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
    val inc = st.window.step(admitted, fMax, kMax, seed, batchId, metrics)(_.flatMap {
      case (_, r) =>
        if (r.kind == 0) Iterator.single(InternalRow(r.item, r.other, r.inc)) else Iterator.empty
    })
    st.increments += inc
    StatsBridge.fromRows(spark, inc, deltaSchema)
      .groupBy(col("item"), col("other"))
      .agg(sum(col("inc")).cast("int").as("inc"))
      .where(col("inc") =!= 0)
      .as[CoocDelta]
  }

  // ---------------------------------------------------------------------
  // Durable cross-restart state (checkpointed CLI runs, Main -st -cp).
  //
  // Spark's streaming checkpoint persists SOURCE offsets; the pipeline's
  // cross-batch state (item counts, user reservoirs, accumulated delta
  // matrix) lives in `State`, so a killed run would otherwise resume the
  // file monitor against empty state. Layout under <ckpt>/graft-state:
  //
  //   delta/id=<b>/   this batch's NET delta increment (O(batch), not
  //                   O(accumulated matrix) — the matrix is reconstructed
  //                   on restore as the union of all committed increments)
  //   items/<b>/      post-batch item-count state (bounded by #items)
  //   users/<b>/      post-batch user-reservoir state (bounded by #users)
  //   meta/<b>        COMMIT MARKER, written last: a batch is restorable
  //                   iff its meta file exists; partial writes from a
  //                   crash are overwritten on replay (mode=overwrite)
  //
  // Exactly-once under foreachBatch replay: Spark commits source offsets
  // AFTER foreachBatch returns, so a crash can leave batch b persisted
  // here but uncommitted there. On restart the caller restores to the
  // newest meta and SKIPS replayed batch ids <= that watermark — the
  // standard idempotent-foreachBatch protocol, expressed at the CLI
  // layer the reference's checkpointable monitor exposes
  // (ContinuousFileMonitoringFunction.java snapshotState/restoreState).
  // ---------------------------------------------------------------------

  private def stateRoot(checkpoint: String) = s"$checkpoint/graft-state"

  /** Persist batch `id`'s delta increment + post-batch state tables,
    * then the commit marker (watermark inside). Overwrite mode makes a
    * replayed half-written batch self-healing. */
  def persistBatch(st: State, d: Dataset[CoocDelta], checkpoint: String, id: Long): Unit = {
    val root = stateRoot(checkpoint)
    d.write.mode("overwrite").parquet(s"$root/delta/id=$id")
    st.itemState.write.mode("overwrite").parquet(s"$root/items/$id")
    st.userState.write.mode("overwrite").parquet(s"$root/users/$id")
    // the marker must APPEAR atomically: a kill mid-create would otherwise
    // leave a partial/empty meta/<id> that a restore could pick as "newest
    // committed" — CommitMarkers.commit writes a dot-prefixed temp sibling
    // and atomically renames it into place, even when replaying an
    // already-committed batch. restoreState additionally ignores
    // unparsable markers as a second line of defence.
    CommitMarkers.commit(d.sparkSession,
      new org.apache.hadoop.fs.Path(s"$root/meta"), id,
      s"""{"watermarkMs":${st.watermarkMs}}""")
  }

  /** Restore `st` to the newest committed batch under `checkpoint`.
    * Returns that batch id (the replay watermark: the caller must skip
    * foreachBatch invocations with id <= it), or None for a fresh start. */
  def restoreState(spark: SparkSession, st: State, checkpoint: String): Option[Long] = {
    import spark.implicits._
    val root = stateRoot(checkpoint)
    val metaDir = new org.apache.hadoop.fs.Path(s"$root/meta")
    val fs = metaDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = CommitMarkers.committed(spark, metaDir)
    if (committed.isEmpty) return None
    // Markers are written via temp+rename (atomic), but stay defensive: a
    // marker that exists yet doesn't parse is treated as UNCOMMITTED and we
    // fall back to the next-newest — the crash-tolerance contract is
    // "resume from the last good commit", never "refuse to resume".
    def readWatermark(id: Long): Option[Long] = {
      val json = scala.util.Try {
        val in = fs.open(new org.apache.hadoop.fs.Path(s"$root/meta/$id"))
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      }.getOrElse("")
      """"watermarkMs":(-?\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong)
    }
    val resolved = committed.sorted(Ordering[Long].reverse).iterator
      .map(id => (id, readWatermark(id)))
      .collectFirst { case (id, Some(wm)) => (id, wm) }
    if (resolved.isEmpty) return None
    val (last, wm) = resolved.get
    st.watermarkMs = wm
    st.itemState = spark.read.parquet(s"$root/items/$last").as[ItemCount]
    st.userState = spark.read.parquet(s"$root/users/$last").as[UserState]
    // partition discovery over delta/id=N gives the id column back; only
    // COMMITTED increments participate (a crash can leave id dirs past
    // the newest meta — they will be overwritten on replay)
    st.deltas = spark.read.parquet(s"$root/delta")
      .where(col("id") <= last)
      .select(col("item").cast("int"), col("other").cast("int"), col("inc").cast("int"))
      .as[CoocDelta]
      .localCheckpoint(true)
    Some(last)
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
      seed: Long, k: Int): DataFrame = {
    import spark.implicits._
    val st = new State(spark)
    val stream = StreamingOps.eventsStream(spark, dir)
      .select(
        col("user_id").cast("int").as("user"),
        get_json_object(col("props"), "$.k").cast("int").as("item"),
        unix_millis(col("ts")).as("ts"))
    val q = stream.writeStream
      .outputMode(OutputMode.Update())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batchDf: DataFrame, batchId: Long) =>
        processBatch(st, batchDf.as[Interaction], batchId, fMax, kMax, seed)
        ()
      }
      .start()
    q.awaitTermination()
    rescore(st, k)
  }
}
