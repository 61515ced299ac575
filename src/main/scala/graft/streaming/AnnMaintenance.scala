package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

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
 * Commit markers ROLL UP at compaction and the marker log stays bounded
 * by compactEvery forever — see [[ShardLog]]. SINGLE WRITER: exactly
 * one live instance may write a given `root` (the foreachBatch
 * contract). Serving reads ([[currentIndex]]/[[topK]]) resolve from the
 * cached commit state and — by the ShardLog deferral contract (r15
 * verdict #1) — stay executable across ONE concurrent compaction,
 * returning exactly their plan-time rows.
 *
 * [[refitBatch]] is the in-stream refit verb (generation-stamped
 * snapshot markers, centroids_g<g> siblings — the [[IvfPqMaintenance]]
 * discipline).
 *
 * PRECONDITION (same as IndexMaintenance): vec_ids are unique across
 * ingest batches.
 */
final class AnnMaintenance(spark: SparkSession, root: String,
    nLists: Int = 16, iters: Int = 3, compactEvery: Int = 64) {

  private val log = new ShardLog(spark, root, compactEvery, Seq(ShardLog.Relation("assign",
    new ShardLog.AppendFold(Seq("vec_id", "qv", "norm", "cluster")))),
    // ordinary compactions must not lose the refit generation
    () => s""""gen":$generation""", deleteKey = "vec_id")

  private def fs = new Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val GenField = """"gen"\s*:\s*(\d+)""".r

  // the COMMITTED codebook generation — authoritative from the latest
  // snapshot marker (the IvfPqMaintenance discipline: never pair a
  // fresher codebook with older committed assignments after a crash
  // mid-refit)
  @volatile private var genMemo: Int = -1

  /** The committed codebook generation (0 = the bootstrap fit). */
  def generation: Int = {
    if (genMemo < 0)
      genMemo = log.latestSnapshotMarker
        .flatMap(mk => GenField.findFirstMatchIn(mk).map(_.group(1).toInt))
        .getOrElse(0)
    genMemo
  }

  /** gen 0 keeps the original `centroids/` layout; refits publish
    * `centroids_g<g>/` siblings. */
  private def centroidsDirFor(gen: Int): Path =
    if (gen == 0) new Path(s"$root/centroids")
    else new Path(s"$root/centroids_g$gen")

  private def centroidsDir = centroidsDirFor(generation)

  private val centroidSchema = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("cv", ArrayType(DoubleType, containsNull = false), nullable = false)))

  /** Committed batch ids still individually listed — the post-snapshot
    * TAIL. Ids <= [[coveredUpTo]] are committed but rolled into the
    * snapshot marker; use [[isCommitted]]/[[committedCount]] for the full
    * picture. */
  def committedIds: Seq[Long] = log.committedIds

  /** Max batch id summarized by the latest compacted snapshot. */
  def coveredUpTo: Option[Long] = log.coveredUpTo

  def isCommitted(id: Long): Boolean = log.isCommitted(id)

  /** Total committed batches (covered prefix + tail). */
  def committedCount: Long = log.committedCount

  private def centroidsPublished: Boolean =
    centroidsMemo != null || fs.exists(centroidsDir)

  // the codebook is WRITE-ONCE by contract (publish happens exactly once,
  // behind an atomic rename), so it is loaded at most once per instance —
  // without this, every post-bootstrap batch paid one parquet-read Spark
  // job for an immutable artifact (r14 advice)
  @volatile private var centroidsMemo: Array[Array[Double]] = _

  /** The frozen codebook (exact integer-valued doubles). */
  def centroids(): Array[Array[Double]] = {
    if (centroidsMemo == null) {
      require(centroidsPublished, "no centroids published yet (no batch processed)")
      val cents = spark.read.schema(centroidSchema).parquet(centroidsDir.toString)
        .collect().sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
      // fail fast on parameter drift (mirrors IvfPqMaintenance.models)
      require(cents.length == nLists,
        s"$centroidsDir holds ${cents.length} centroids, instance expects " +
          s"nLists=$nLists — constructor params disagree with the " +
          "published codebook")
      centroidsMemo = cents
    }
    centroidsMemo
  }

  /** Atomic publish of generation `gen`'s codebook. Write-once: an
    * already-published dir short-circuits (a refit replay refits
    * deterministically — identical values). */
  private def publishCentroids(gen: Int, cents: Array[Array[Double]]): Unit = {
    val dst = centroidsDirFor(gen)
    if (fs.exists(dst)) return
    val tmp = new Path(s"$root/.centroids_g$gen.tmp")
    val rows = cents.zipWithIndex.map { case (cv, i) =>
      org.apache.spark.sql.Row(i, cv.toSeq)
    }
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, 1), centroidSchema)
      .write.mode("overwrite").parquet(tmp.toString)
    try {
      CommitMarkers.renameOverwrite(spark, fs, tmp, dst)
    } catch {
      case e: Exception =>
        // PROPAGATE (r15 advice, same pattern as IvfPqMaintenance): a
        // swallowed publish failure would still commit the bootstrap
        // shard, and the next batch would re-bootstrap on different data —
        // a standing index assigned against two codebooks. Fail the batch;
        // the replay refits deterministically and republishes.
        fs.delete(tmp, true)
        throw e
    }
  }

  /**
   * Fold one ingest batch of embeddings `(vec_id, embedding, ...)` into
   * the index. Idempotent; O(batch) after the bootstrap.
   */
  def processBatch(batchId: Long, embs: DataFrame): Unit = {
    if (log.isCommitted(batchId)) return
    val shard =
      if (!centroidsPublished) {
        // bootstrap: this batch IS the training snapshot
        val (c, a) = IvfIndex.buildIndex(embs, nLists, iters)
        publishCentroids(0, c)
        centroidsMemo = c // published: the bootstrap skips the re-read
        a
      } else IvfIndex.assignBatch(embs, centroids())
    log.commitShard(batchId, Seq(shard), s"""{"nLists":$nLists,"iters":$iters}""")
  }

  /**
   * IN-STREAM REFIT-AND-SWAP (the [[IvfPqMaintenance.refitBatch]]
   * discipline on the raw-vector member): retrain the k-means on
   * `corpus` (the full corpus as of this batch), publish the codebook
   * as the next generation, commit the full re-assignment as this
   * batch's SNAPSHOT with the generation in its marker. The committed
   * generation stays authoritative across the publish-vs-commit crash
   * window; the replay refits deterministically.
   */
  def refitBatch(batchId: Long, corpus: DataFrame): Unit = {
    if (log.isCommitted(batchId)) return
    require(centroidsPublished,
      "refit before bootstrap — batch 0 already fits; feed it processBatch")
    val newGen = generation + 1
    val (cents, assigned) = IvfIndex.buildIndex(corpus, nLists, iters)
    publishCentroids(newGen, cents)
    log.commitSnapshot(batchId, assigned,
      s""""nLists":$nLists,"iters":$iters,"gen":$newGen""")
    genMemo = newGen
    centroidsMemo = cents
    org.apache.spark.sql.graftbridge.CheckpointBridge.release(assigned)
  }

  /**
   * DELETE standing vectors by id (takedown / right-to-erasure): `ids`
   * is any DataFrame exposing `vec_id`. Committed as a tombstone batch
   * in the shared log — idempotent, crash-safe, ordered with ingest.
   * Serves exclude the vectors as soon as the marker commits; the next
   * compaction's snapshot physically drops the rows and the tombstone
   * shard is swept one cycle later ([[ShardLog.commitDeletes]]). The
   * frozen codebook is untouched — deleting training vectors does not
   * retrain (that is [[refitBatch]]'s job, on the post-delete corpus).
   */
  def deleteBatch(batchId: Long, ids: DataFrame): Unit = {
    if (log.isCommitted(batchId)) return
    log.commitDeletes(batchId, ids, """{"del":true}""")
  }

  /** Eager compaction (cadence-independent); two calls physically purge
    * every currently tombstoned vector from the root. */
  def compactNow(): Unit = log.compactNow()

  /** The standing `(vec_id, qv, norm, cluster)` index over all committed
    * batches — the latest compacted snapshot plus the shard tail.
    * Plan-time file resolution: see the drain-then-read note in the
    * class doc before serving concurrently with ingest. */
  def currentIndex(): DataFrame = log.currentRows()

  /** Serve approximate top-k from the maintained index. */
  def topK(queryIds: Seq[Long], k: Int, nProbe: Int): DataFrame =
    IvfIndex.topKFrom(centroids(), currentIndex(), queryIds, k, nProbe)
}
