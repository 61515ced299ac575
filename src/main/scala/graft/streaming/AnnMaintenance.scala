package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.IvfIndex

/**
 * Crash-safe streaming maintenance of the STANDING ANN INDEX — the ANN
 * twin of [[IndexMaintenance]]: per-batch state lives on the filesystem
 * behind commit markers ([[ShardLog]]), so a killed job resumes exactly
 * where it stopped and the drained index is byte-identical to the
 * uninterrupted run (and to the frozen-centroid batch rebuild — the
 * `stream_ann_index_refresh` oracle).
 *
 * Layout under `root/`: the [[ShardLog]] layout with `assign/<b>/` data
 * shards (the batch's `(vec_id, qv, norm, cluster)` assignment), plus
 * `centroids/` — the frozen codebook, written ONCE by the bootstrap batch
 * via temp + atomic rename: visible iff complete.
 *
 * Lifecycle: the FIRST batch is the training snapshot — it fits the
 * k-means and publishes the centroids (the standard IVF posture: train
 * once, assign forever, refit = periodic maintenance under a new root).
 * Every later batch is O(batch): one scan of the batch against the
 * published centroids, one shard write, one marker.
 *
 * Crash windows, all idempotent by replay:
 *  - after the bootstrap fit but before the centroid publish → replay
 *    refits (deterministic k-means: same centroids);
 *  - after the publish but before the shard write → replay takes the
 *    assign-only path against the published centroids, which equals the
 *    bootstrap's own assignment (assignment is per-row given centroids);
 *  - after the shard write but before the marker → replay overwrites
 *    the shard and commits;
 *  - replay of a committed batch → short-circuits on the marker.
 *
 * Serving reads ([[currentIndex]]/[[topK]]) resolve from the cached
 * commit state and — by the ShardLog deferral contract (r15 verdict #1)
 * — stay executable across ONE concurrent compaction, returning exactly
 * their plan-time rows. [[refitBatch]] is the in-stream refit verb:
 * a `centroids_g<g>/` generation and a generation-stamped snapshot.
 *
 * PRECONDITION (same as IndexMaintenance): vec_ids are unique across
 * ingest batches.
 */
final class AnnMaintenance(spark: SparkSession, root: String,
    nLists: Int = 16, iters: Int = 3, compactEvery: Int = 64)
  extends MaintainedIndex(spark, root, compactEvery, Seq(ShardLog.Relation("assign",
    new ShardLog.AppendFold(Seq("vec_id", "qv", "norm", "cluster")))),
    deleteKey = "vec_id", markerField = "gen") {

  private val codebook = new ModelStore[Array[Array[Double]]]("centroids", dir => {
    val cents = readCentroids(dir)
    // fail fast on parameter drift (mirrors IvfPqMaintenance.models)
    require(cents.length == nLists,
      s"$dir holds ${cents.length} centroids, instance expects " +
        s"nLists=$nLists — constructor params disagree with the " +
        "published codebook")
    cents
  }, writeCentroids)

  /** The committed codebook generation (0 = the bootstrap fit). */
  def generation: Int = markerValue.toInt

  /** The frozen codebook (exact integer-valued doubles). */
  def centroids(): Array[Array[Double]] = codebook()

  /**
   * Fold one ingest batch of embeddings `(vec_id, embedding, ...)` into
   * the index. Idempotent; O(batch) after the bootstrap.
   */
  def processBatch(batchId: Long, embs: DataFrame): Unit = once(batchId) {
    val shard =
      if (!codebook.published) {
        // bootstrap: this batch IS the training snapshot
        val (c, a) = IvfIndex.buildIndex(embs, nLists, iters)
        codebook.bootstrap(c)
        a
      } else IvfIndex.assignBatch(embs, centroids())
    log.commitShard(batchId, Seq(shard), s"""{"nLists":$nLists,"iters":$iters}""")
  }

  /**
   * IN-STREAM REFIT-AND-SWAP (the [[IvfPqMaintenance.refitBatch]] verb
   * on the raw-vector member): retrain the k-means on `corpus` (the full
   * corpus as of this batch), publish the codebook as the next
   * generation, commit the full re-assignment as this batch's SNAPSHOT
   * with the generation in its marker.
   */
  def refitBatch(batchId: Long, corpus: DataFrame): Unit = once(batchId) {
    require(codebook.published,
      "refit before bootstrap — batch 0 already fits; feed it processBatch")
    val (cents, assigned) = IvfIndex.buildIndex(corpus, nLists, iters)
    codebook.refit(batchId, cents, assigned, s""""nLists":$nLists,"iters":$iters""")
    org.apache.spark.sql.graftbridge.CheckpointBridge.release(assigned)
  }

  /** The standing `(vec_id, qv, norm, cluster)` index over all committed
    * batches — the latest compacted snapshot plus the shard tail.
    * Plan-time file resolution: see the drain-then-read note in the
    * class doc before serving concurrently with ingest. */
  def currentIndex(): DataFrame = log.currentRows()

  /** Serve approximate top-k from the maintained index. */
  def topK(queryIds: Seq[Long], k: Int, nProbe: Int): DataFrame =
    IvfIndex.topKFrom(centroids(), currentIndex(), queryIds, k, nProbe)
}
