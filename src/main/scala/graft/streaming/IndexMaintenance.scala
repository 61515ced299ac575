package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

import graft.operators.Dedup

/**
 * Kill-resumable streaming maintenance of a near-dup cluster index —
 * the continuous-ingest half of the build-once/merge-many lakehouse
 * pattern (reference behavior: the checkpointable file monitor,
 * ContinuousFileMonitoringFunction.java snapshotState/restoreState,
 * applied to index maintenance instead of the cooc matrix). The dedup
 * family is pluggable via [[IndexMaintenance.Algo]]: SimHash
 * fingerprints or MinHash signatures + word sets as the stored columns.
 *
 * Drive it from `foreachBatch`: `processBatch(batchId, docs)` per
 * microbatch, `currentIndex()` for the standing `(node, comp)`
 * assignment at any point. All cross-batch state is ON DISK, so a killed
 * run resumes exactly where the last committed batch left off.
 *
 * The commit/rollup/compaction PROTOCOL lives in the shared [[ShardLog]]
 * (r15 verdict #2: this class used to hand-roll its own copy of the
 * crash-ordering discipline; now one implementation serves the whole
 * maintenance family, including the r15 serve-while-compact deferral).
 * This class contributes only what is dedup-specific:
 *
 *  - `fps/<b>/` — batch b's STORED COLUMNS (SimHash: doc_id + fp;
 *    MinHash: doc_id + banded signatures + word-hash set) — written ONCE
 *    at ingest, O(batch); the standing corpus is only ever SCANNED
 *    afterwards (the banded join's corpus side), never re-materialized.
 *    This is what makes per-batch cost O(batch + candidates): the
 *    r10/r11 shape that re-checkpointed the accumulated fingerprint
 *    union every batch was quadratic in batch count. fps shards are
 *    never compacted (they ARE the corpus-side stored columns); their
 *    enumeration is cached from one startup listing, advanced per
 *    commit, and gated on the log's committed state.
 *  - `delta/<b>/` — the [[ShardLog]] data shards: batch b's MERGE
 *    payload (node, comp, b) — only rows the batch changed or created
 *    (the algo's delta refresh), O(ingest activity), never O(index).
 *  - [[IndexMaintenance.DeltaFold]] — the latest-wins fold
 *    ([[ShardLog.LatestFold]] keyed by node): the snapshot holds one row
 *    per node and is anti-joined (broadcast, never shuffled) against the
 *    windowed tail; snapshots carry a `b` stamp so an empty-delta batch
 *    still reads under the explicit schema.
 *
 * Replay (the [[MaintainedIndex]] guard): a crashed batch rewrites
 * fps/delta in overwrite mode and then commits.
 *
 * PRECONDITION — doc_ids are unique across ingest batches (each doc_id
 * is delivered by exactly one batch). refreshDelta detects changed
 * labels by comparing incoming doc_ids against standing labels, and the
 * staged fps union assumes one row per doc; a re-delivered doc_id would
 * duplicate fp rows and could corrupt the changed-label set silently.
 * This matches the file-per-batch ingest contract (a doc lives in one
 * file; replays of a batch short-circuit on its commit marker) — an
 * at-least-once upstream that re-delivers docs across DIFFERENT batch
 * ids must dedup before processBatch.
 */
final class IndexMaintenance(spark: SparkSession, root: String,
    algo: IndexMaintenance.Algo, compactEvery: Int = 64)
  extends MaintainedIndex(spark, root, compactEvery,
    Seq(ShardLog.Relation("delta", IndexMaintenance.DeltaFold)), deleteKey = "node") {

  /** simhash maintenance (the common case). */
  def this(spark: SparkSession, root: String, maxHamming: Int) =
    this(spark, root, IndexMaintenance.Simhash(maxHamming))

  // committed batches' fps/<b> stored columns — the standing corpus scan
  private val fps = log.sideShards(s"$root/fps")
  // committed delete batches' fpsdels/<b> masks over that scan
  private val fpsDels = log.sideShards(s"$root/fpsdels")

  /**
   * DELETE documents from the index (takedown / right-to-erasure):
   * `docIds` is any DataFrame exposing `doc_id`. Two effects, one
   * marker:
   *
   *  - the standing `(node, comp)` rows vanish from serves immediately
   *    and are PHYSICALLY purged by the covering compaction (the shared
   *    [[ShardLog.commitDeletes]] tombstone protocol);
   *  - the docs' stored columns (fps shards are immutable, never
   *    compacted) are MASKED out of every later batch's standing-corpus
   *    scan by a persistent `fpsdels/` key set — a removed doc can no
   *    longer attract new ingest into its component.
   *
   * Honest residuals, by design: surviving docs keep the component
   * labels computed while the deleted doc was present (deletion removes
   * rows, it does not re-split components — a rebuild does), and the
   * deleted docs' 64-bit fingerprints stay on disk masked (not content;
   * physically erased at the next index rebuild).
   */
  override def deleteBatch(batchId: Long, docIds: DataFrame): Unit = once(batchId) {
    val keys = docIds.select(col("doc_id").cast("long").as("node")).distinct()
    // the fps mask shard goes first — marker-last ordering makes the
    // crash replay overwrite both shards before committing
    keys.select(col("node").as("doc_id"))
      .write.mode("overwrite").parquet(fpsDels.path(batchId))
    super.deleteBatch(batchId, keys)
    fpsDels.add(batchId)
  }

  /** The standing `(node, comp)` index over all committed batches —
    * resolved from the cached commit state at plan time; safe to execute
    * concurrently with ONE later compaction (the [[ShardLog]] deferral
    * contract). */
  def currentIndex(): DataFrame = log.currentRows()

  /**
   * Fold one ingest batch into the index. Idempotent: a replayed
   * committed batch returns immediately; a replayed crashed batch
   * self-heals through overwrite writes. Per-batch cost is
   * O(batch) writes + O(standing fps + index) scans + CC over the
   * touched subgraph — independent of HOW MANY batches preceded.
   */
  def processBatch(batchId: Long, docs: DataFrame): Unit = once(batchId) {
    val standingFps = fps.ids
    // stage ONLY this batch's docs into the algo's stored columns and
    // persist them once — the lakehouse regime where fingerprints /
    // signatures are stored columns of the doc table
    graft.operators.Jobs.labeled(spark, s"idxmaint b=$batchId stage fps") {
      algo.stage(docs.select(col("doc_id"), col("text")))
        .write.mode("overwrite").parquet(fps.path(batchId))
    }
    // explicit schema: an EMPTY ingest file is a legal batch
    val newFps = spark.read.schema(algo.stagedSchema)
      .parquet(fps.path(batchId))
      .withColumn("inc", lit(true))
    // one multi-path scan over every standing shard (not a per-batch
    // union): scan cost tracks corpus volume, not batch count.
    // Only the STANDING side is cached — the union with the new batch's
    // parquet stays lazy, so the algo's incoming-side filter prunes the
    // union down to the small exact-stats parquet branch and the planner
    // reliably broadcasts it (r13: caching the whole union hid the new
    // batch behind an InMemoryRelation-sized estimate, and a conservative
    // broadcast threshold re-shuffled the entire fingerprint corpus x4
    // chunk joins per batch — 331 MB vs 137 MB over a 24-batch sf3 soak)
    // the inc=false literal goes ON TOP of the cache, not inside it: a
    // cached literal becomes a real column (the relation's schema hides
    // it), the incoming-side filter can no longer constant-fold the
    // standing branch to empty, and the planner sees a corpus-sized
    // incoming estimate — flipping the banded join to sort-merge and
    // re-shuffling every standing fingerprint per batch
    val standingRaw =
      if (standingFps.isEmpty) None
      else {
        val raw = spark.read.schema(algo.stagedSchema)
          .parquet(standingFps.map(fps.path): _*)
        // deleted docs are MASKED out of the standing corpus (fps shards
        // are immutable): key-only anti-join, broadcast-sized, applied
        // under the cache so every chunk scan sees the masked corpus
        val masked =
          if (fpsDels.ids.isEmpty) raw
          else raw.join(
            spark.read.parquet(fpsDels.ids.map(fpsDels.path): _*),
            Seq("doc_id"), "left_anti")
        Some(masked.persist())
      }
    // transient per-batch caches: the banded join scans the standing fps
    // once per simhash chunk and the delta tail scans `base` three times;
    // both are released before the batch commits and before the
    // compaction scan (writeShards + compactIfDue below), so no
    // cross-batch memory state accumulates (a restart pays two cold scans)
    val all = standingRaw
      .map(_.withColumn("inc", lit(false)).unionByName(newFps))
      .getOrElse(newFps)
    val base = log.currentRows().persist()
    try {
      graft.operators.Jobs.labeled(spark, s"idxmaint b=$batchId refresh delta") {
        // sink form: the delta's ONE materialization IS the shard write
        // (r17 opt round — the old shape localCheckpointed the delta and
        // then wrote the checkpoint back out, one redundant job per batch)
        algo.refreshDeltaTo(all, base,
          df => log.writeShards(batchId, Seq(df.withColumn("b", lit(batchId)))))
        log.commitWrittenShard(batchId, s"""{"batch":$batchId}""")
      }
    } finally {
      standingRaw.foreach(_.unpersist())
      base.unpersist()
    }
    fps.add(batchId)
    // periodic delta-log compaction: every compactEvery committed
    // batches, fold the log into a snapshot so the per-batch index read
    // stays O(index + compactEvery deltas) forever. Compaction is an
    // optimization of DERIVED data — skipping it (e.g. this batch was
    // replayed and short-circuited above) only defers truncation to a
    // later compaction point.
    log.compactIfDue()
  }
}

object IndexMaintenance {

  private[streaming] val deltaSchema = new StructType()
    .add("node", LongType).add("comp", LongType).add("b", LongType)

  /** Latest-wins per node: a batch's delta holds only the rows it
    * changed or created. */
  private[streaming] val DeltaFold = new ShardLog.LatestFold("node", deltaSchema)

  /**
   * Stored-column strategy for the maintenance loop: how a batch's docs
   * are staged (what the lakehouse stores per doc), and how the staged
   * union of (standing ∪ incoming) — flagged by `inc` — refreshes into
   * a delta against the standing index.
   */
  sealed trait Algo {
    private[streaming] def stage(docs: DataFrame): DataFrame
    private[streaming] def stagedSchema: StructType
    /** Sink form: the delta plan's single materialization is the caller's
      * `sink` (the batch's shard write) — no intermediate checkpoint. */
    private[streaming] def refreshDeltaTo(staged: DataFrame, base: DataFrame,
        sink: DataFrame => Unit): Unit
  }

  /** 60-bit SimHash at `maxHamming` — stored column: the fingerprint. */
  final case class Simhash(maxHamming: Int) extends Algo {
    private[streaming] def stage(docs: DataFrame): DataFrame =
      Dedup.simhashFingerprints(docs)
    private[streaming] val stagedSchema: StructType =
      new StructType().add("doc_id", LongType).add("fp", LongType)
    private[streaming] def refreshDeltaTo(staged: DataFrame, base: DataFrame,
        sink: DataFrame => Unit): Unit =
      Dedup.simhashComponentsRefreshFromFpsDeltaTo(staged, maxHamming, base, sink)
  }

  /** MinHash LSH + exact unigram-Jaccard verification at `threshold` —
    * stored columns: banded signatures + sorted word-hash set. */
  final case class MinhashJaccard(threshold: Double) extends Algo {
    private[streaming] def stage(docs: DataFrame): DataFrame =
      Dedup.minhashStagedColumns(docs)
    private[streaming] val stagedSchema: StructType = Dedup.minhashStagedSchema
    private[streaming] def refreshDeltaTo(staged: DataFrame, base: DataFrame,
        sink: DataFrame => Unit): Unit =
      Dedup.minhashComponentsRefreshFromSigsDeltaTo(
        staged.drop("wset", "n_w"),
        staged.select(col("doc_id"), col("wset"), col("n_w")),
        threshold, base, sink)
  }
}
