package graft.streaming

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
 * [[refitBatch]] is the in-stream refit verb: a `stats_g<g>/`
 * generation and a generation-stamped snapshot.
 */
final class SqMaintenance(spark: SparkSession, root: String,
    dims: Int = 64, compactEvery: Int = 64)
  extends MaintainedIndex(spark, root, compactEvery, Seq(ShardLog.Relation("codes",
    new ShardLog.AppendFold(Seq("vec_id", "codes", "recon2")))),
    deleteKey = "vec_id", markerField = "gen") {

  private val statsSchema = StructType(Seq(
    StructField("i", IntegerType, nullable = false),
    StructField("mn", LongType, nullable = false),
    StructField("mx", LongType, nullable = false)))

  private val frozen = new ModelStore[SqIndex.Stats]("stats", dir => {
    val rows = spark.read.schema(statsSchema).parquet(dir.toString)
      .collect().sortBy(_.getInt(0))
    // fail fast on parameter drift (mirrors IvfPqMaintenance.models):
    // an instance constructed with a different dims over an existing
    // root would silently reconstruct against truncated stats
    require(rows.length == dims,
      s"$dir holds ${rows.length} per-dimension stats, instance " +
        s"expects dims=$dims — constructor params disagree with the " +
        "published stats")
    SqIndex.Stats(rows.map(_.getLong(1)), rows.map(_.getLong(2)))
  }, (st, dir) =>
    writeRows((0 until st.dims).map(i => Row(i, st.mins(i), st.maxs(i))), statsSchema, dir))

  /** The committed stats generation (0 = the bootstrap fit). */
  def generation: Int = markerValue.toInt

  /** The frozen per-dimension stats. */
  def stats(): SqIndex.Stats = frozen()

  /**
   * Fold one ingest batch of embeddings `(vec_id, embedding, ...)` into
   * the code table. Idempotent; O(batch) after the bootstrap.
   */
  def processBatch(batchId: Long, embs: DataFrame): Unit = once(batchId) {
    val marker = s"""{"dims":$dims}"""
    if (frozen.published) log.commitShard(batchId, Seq(SqIndex.encodeBatch(embs, stats())), marker)
    else {
      // bootstrap: this batch IS the training snapshot
      val (fitted, codes) = SqIndex.buildSq(embs, dims)
      frozen.bootstrap(fitted)
      log.commitShard(batchId, Seq(codes), marker)
      org.apache.spark.sql.graftbridge.CheckpointBridge.release(codes)
    }
  }

  /**
   * IN-STREAM REFIT-AND-SWAP (the [[IvfPqMaintenance.refitBatch]] verb
   * applied to the cheapest member): re-derive the exact per-dimension
   * MIN/MAX on `corpus` (the full corpus as of this batch — ONE aggregate
   * scan, the family's cheapest retrain), publish them as the next
   * generation, re-encode everything and commit it as this batch's
   * SNAPSHOT with the generation in its marker. A replay re-derives
   * identical stats (exact MIN/MAX — order-free).
   */
  def refitBatch(batchId: Long, corpus: DataFrame): Unit = once(batchId) {
    require(frozen.published,
      "refit before bootstrap — batch 0 already fits; feed it processBatch")
    val (fitted, codes) = SqIndex.buildSq(corpus, dims)
    frozen.refit(batchId, fitted, codes, s""""dims":$dims""")
    org.apache.spark.sql.graftbridge.CheckpointBridge.release(codes)
  }

  /** The standing `(vec_id, codes, recon2)` table over all committed
    * batches — resolved from the cached commit state; safe concurrently
    * with ONE later compaction (the [[ShardLog]] deferral contract). */
  def currentCodes(): DataFrame = log.currentRows()

  /** Serve asymmetric top-k from the maintained code table. */
  def topK(embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame =
    SqIndex.sqTopKFrom(stats(), currentCodes(), embeddings, queryIds, k)
}
