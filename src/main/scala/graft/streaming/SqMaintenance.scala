package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.SqIndex

/**
 * Crash-safe streaming maintenance of the STANDING SQ8 CODE TABLE — the
 * scalar-quantization member of the maintenance family ([[ShardLog]]
 * protocol, same as [[AnnMaintenance]]/[[IvfPqMaintenance]]): the FIRST
 * batch is the training snapshot (per-dimension exact min/max — one
 * aggregate scan, published via temp + atomic rename), every later batch
 * is O(batch): one projection pass encoding the batch against the frozen
 * stats (out-of-range values saturate — the standard SQ posture until a
 * refit under a new root), one shard write, one marker.
 *
 * Crash windows are [[AnnMaintenance]]'s with "centroids" replaced by
 * "stats": a replay after a crash before the `stats/` rename re-derives
 * them deterministically (exact MIN/MAX — order-free) and republishes
 * identical values.
 *
 * [[refitBatch]] is the in-stream refit verb (generation-stamped
 * snapshot markers, stats_g<g> siblings — the [[IvfPqMaintenance]]
 * discipline).
 */
final class SqMaintenance(spark: SparkSession, root: String,
    dims: Int = 64, compactEvery: Int = 64) {

  private val log = new ShardLog(spark, root, compactEvery, Seq(ShardLog.Relation("codes",
    new ShardLog.AppendFold(Seq("vec_id", "codes", "recon2")))),
    // ordinary compactions must not lose the refit generation
    () => s""""gen":$generation""", deleteKey = "vec_id")

  private def fs = new Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val GenField = """"gen"\s*:\s*(\d+)""".r

  // the COMMITTED stats generation — authoritative from the latest
  // snapshot marker (the IvfPqMaintenance discipline: never pair fresher
  // stats with older committed codes after a crash mid-refit)
  @volatile private var genMemo: Int = -1

  /** The committed stats generation (0 = the bootstrap fit). */
  def generation: Int = {
    if (genMemo < 0)
      genMemo = log.latestSnapshotMarker
        .flatMap(mk => GenField.findFirstMatchIn(mk).map(_.group(1).toInt))
        .getOrElse(0)
    genMemo
  }

  /** gen 0 keeps the original `stats/` layout; refits publish
    * `stats_g<g>/` siblings. */
  private def statsDirFor(gen: Int): Path =
    if (gen == 0) new Path(s"$root/stats") else new Path(s"$root/stats_g$gen")

  private def statsDir = statsDirFor(generation)

  private val statsSchema = StructType(Seq(
    StructField("i", IntegerType, nullable = false),
    StructField("mn", LongType, nullable = false),
    StructField("mx", LongType, nullable = false)))

  def committedIds: Seq[Long] = log.committedIds
  def coveredUpTo: Option[Long] = log.coveredUpTo
  def isCommitted(id: Long): Boolean = log.isCommitted(id)
  def committedCount: Long = log.committedCount

  private def statsPublished: Boolean =
    statsMemo != null || fs.exists(statsDir)

  // write-once behind an atomic rename — loaded at most once per instance
  @volatile private var statsMemo: SqIndex.Stats = _

  /** The frozen per-dimension stats. */
  def stats(): SqIndex.Stats = {
    if (statsMemo == null) {
      require(statsPublished, "no stats published yet (no batch processed)")
      val rows = spark.read.schema(statsSchema).parquet(statsDir.toString)
        .collect().sortBy(_.getInt(0))
      // fail fast on parameter drift (mirrors IvfPqMaintenance.models):
      // an instance constructed with a different dims over an existing
      // root would silently reconstruct against truncated stats
      require(rows.length == dims,
        s"$statsDir holds ${rows.length} per-dimension stats, instance " +
          s"expects dims=$dims — constructor params disagree with the " +
          "published stats")
      statsMemo = SqIndex.Stats(rows.map(_.getLong(1)), rows.map(_.getLong(2)))
    }
    statsMemo
  }

  /** Atomic publish of generation `gen`'s stats. Write-once: an
    * already-published dir short-circuits (a refit replay re-derives
    * exact MIN/MAX — identical values). */
  private def publishStats(gen: Int, st: SqIndex.Stats): Unit = {
    val dst = statsDirFor(gen)
    if (fs.exists(dst)) return // write-once; a replay re-derived identical values
    val tmp = new Path(s"$root/.stats_g$gen.tmp")
    val rows = (0 until st.dims).map(i => Row(i, st.mins(i), st.maxs(i)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), statsSchema)
      .write.mode("overwrite").parquet(tmp.toString)
    try CommitMarkers.renameOverwrite(spark, fs, tmp, dst)
    catch {
      case e: Exception =>
        // PROPAGATE (r15 advice): a swallowed publish failure would still
        // commit batch 0's codes, and a later re-bootstrap would freeze
        // DIFFERENT stats — earlier codes reconstructed against the wrong
        // min/max at serve time. Fail the batch; the replay re-derives
        // identical stats (exact MIN/MAX) and republishes.
        fs.delete(tmp, true)
        throw e
    }
  }

  /**
   * Fold one ingest batch of embeddings `(vec_id, embedding, ...)` into
   * the code table. Idempotent; O(batch) after the bootstrap.
   */
  def processBatch(batchId: Long, embs: DataFrame): Unit = {
    if (log.isCommitted(batchId)) return
    val st =
      if (!statsPublished) {
        // bootstrap: this batch IS the training snapshot
        val (fitted, codes) = SqIndex.buildSq(embs, dims)
        publishStats(0, fitted)
        statsMemo = fitted
        log.commitShard(batchId, Seq(codes), s"""{"dims":$dims}""")
        org.apache.spark.sql.graftbridge.CheckpointBridge.release(codes)
        return
      } else stats()
    log.commitShard(batchId, Seq(SqIndex.encodeBatch(embs, st)), s"""{"dims":$dims}""")
  }

  /**
   * IN-STREAM REFIT-AND-SWAP (the [[IvfPqMaintenance.refitBatch]]
   * discipline applied to the cheapest member): re-derive the exact
   * per-dimension MIN/MAX on `corpus` (the full corpus as of this batch
   * — ONE aggregate scan, the family's cheapest retrain), publish them
   * as the next generation, re-encode everything and commit it as this
   * batch's SNAPSHOT with the generation in its marker. The committed
   * generation stays authoritative: a crash between the stats_g publish
   * and the snapshot commit leaves serving on the old pairing, and the
   * replay re-derives identical stats (exact MIN/MAX — order-free).
   */
  def refitBatch(batchId: Long, corpus: DataFrame): Unit = {
    if (log.isCommitted(batchId)) return
    require(statsPublished,
      "refit before bootstrap — batch 0 already fits; feed it processBatch")
    val newGen = generation + 1
    val (fitted, codes) = SqIndex.buildSq(corpus, dims)
    publishStats(newGen, fitted)
    log.commitSnapshot(batchId, codes, s""""dims":$dims,"gen":$newGen""")
    genMemo = newGen
    statsMemo = fitted
    org.apache.spark.sql.graftbridge.CheckpointBridge.release(codes)
  }

  /** DELETE standing vectors by id — tombstone batch in the shared log
    * ([[ShardLog.commitDeletes]]): serves exclude the codes immediately,
    * the covering compaction physically drops them, the key shard is
    * swept one cycle later. Frozen stats are untouched. */
  def deleteBatch(batchId: Long, ids: DataFrame): Unit = {
    if (log.isCommitted(batchId)) return
    log.commitDeletes(batchId, ids, """{"del":true}""")
  }

  /** Eager compaction (cadence-independent); two calls physically purge
    * every currently tombstoned vector from the root. */
  def compactNow(): Unit = log.compactNow()

  /** The standing `(vec_id, codes, recon2)` table over all committed
    * batches — resolved from the cached commit state; safe concurrently
    * with ONE later compaction (the [[ShardLog]] deferral contract). */
  def currentCodes(): DataFrame = log.currentRows()

  /** Serve asymmetric top-k from the maintained code table. */
  def topK(embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame =
    SqIndex.sqTopKFrom(stats(), currentCodes(), embeddings, queryIds, k)
}
