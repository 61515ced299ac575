package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructType}

import graft.operators.{IvfIndex, Similarity}

/**
 * Crash-safe STREAMING MAINTENANCE OF THE kNN GRAPH — the SemDeDup /
 * hard-negative / graph-analytics signal kept standing instead of
 * rebuilt per corpus snapshot. A full kNN-graph rebuild is the single
 * most expensive ANN read (every vector is a query); at 100 TB an
 * ingest batch must not re-run it, and with frozen IVF centroids it
 * never has to:
 *
 *  - FORWARD edges: the new batch's own top-k over the as-of index —
 *    one [[IvfIndex.knnJoinAssignedFrom]] (O(batch · probed lists)).
 *  - REVERSE edges: a new vector landing in cluster c is a candidate
 *    for exactly the standing nodes whose (static) probe set contains
 *    c. The probe sets are materialized once per ingest batch as a
 *    `(node, cluster, qv, norm)` routing table
 *    ([[IvfIndex.probePairs]]); the batch joins it on `cluster`, scores
 *    the exact cosine, and keeps the per-node top-k OF THE BATCH.
 *
 * LOSSLESSNESS of the per-batch caps (why the drained graph equals the
 * full rebuild, proven by KnnGraphSpec and the stream_knn_graph
 * oracle): candidates are ordered by the strict total order
 * (rounded cos DESC, dst ASC). If an edge (n, d) with d from batch b
 * is in n's FINAL top-k, it is in batch b's top-k for n — otherwise k
 * batch-b candidates precede it, and they precede it in the final
 * order too, pushing it past rank k. So final top-k ⊆ union of
 * per-batch top-k shards, and the fold (rank the union, keep k) is
 * exact. The same argument covers the forward side (later candidates
 * arrive as reverse edges).
 *
 * Durability: vectors ride an inner [[AnnMaintenance]] (its own shard
 * log under `root/vec`); edges ride a [[ShardLog]] under `root/graph`
 * with a top-k fold; probe shards are marker-gated like the dedup
 * maintenance's fps shards. Batch replay is idempotent end-to-end: the
 * vector commit short-circuits on its marker, the edge shard recomputes
 * deterministically from committed state (the reverse scan reads only
 * COMMITTED probe shards, so a crashed attempt's leftovers are
 * invisible), and the probe shard is overwritten before the edge
 * marker commits. SINGLE WRITER per root, as everywhere in the family.
 */
final class KnnGraphMaintenance(spark: SparkSession, root: String,
    nLists: Int = 16, iters: Int = 3, k: Int = 5, nProbe: Int = 4,
    compactEvery: Int = 64) {

  private val vec = new AnnMaintenance(spark, s"$root/vec", nLists, iters,
    compactEvery)
  private val log = new ShardLog(spark, s"$root/graph", compactEvery,
    Seq(ShardLog.Relation("edges", new KnnGraphMaintenance.TopKFold(k))),
    // ordinary compactions must not lose the probe-generation watermark
    () => s""""probesFrom":$probesFrom""", deleteKey = "node")

  private def fs = new Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val ProbesFromField = """"probesFrom"\s*:\s*(\d+)""".r

  // probe shards older than this batch id reflect a SUPERSEDED centroid
  // geometry (an in-stream refit happened at that batch) and must never
  // route reverse edges again — authoritative from the latest snapshot
  // marker, the same crash discipline as the refit generation
  @volatile private var probesFromMemo: Long = -1L
  private def probesFrom: Long = {
    if (probesFromMemo < 0)
      probesFromMemo = log.latestSnapshotMarker
        .flatMap(mk => ProbesFromField.findFirstMatchIn(mk).map(_.group(1).toLong))
        .getOrElse(0L)
    probesFromMemo
  }

  // committed batch ids whose probes/<b> routing shard is standing —
  // one startup listing gated on the edge log's markers AND the
  // probe-generation watermark, advanced per commit (the
  // IndexMaintenance.fpsIds discipline)
  @volatile private var probeIdsMemo: Vector[Long] = _
  private def probeIds: Vector[Long] = {
    if (probeIdsMemo == null) {
      val d = new Path(s"$root/probes")
      probeIdsMemo =
        if (!fs.exists(d)) Vector.empty
        else fs.listStatus(d).toVector
          .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption)
          .filter(log.isCommitted)
          .sorted
    }
    probeIdsMemo.filter(_ >= probesFrom)
  }

  def committedIds: Seq[Long] = log.committedIds
  def coveredUpTo: Option[Long] = log.coveredUpTo
  def isCommitted(id: Long): Boolean = log.isCommitted(id)
  def committedCount: Long = log.committedCount

  /** Fold one ingest batch of `(vec_id, embedding)` into the vector
    * index AND the standing kNN graph. Idempotent; O(batch · probed
    * lists) after the bootstrap. */
  def processBatch(batchId: Long, embs: DataFrame): Unit = {
    vec.processBatch(batchId, embs)
    if (log.isCommitted(batchId)) return
    val cents = vec.centroids()
    val batchAssigned = IvfIndex.assignBatch(embs, cents)
      .localCheckpoint(true) // reused by fwd, rev, and the probe shard
    try {
      // forward: the new nodes' own top-k over the as-of index (which
      // includes this batch — vec committed first)
      val fwd = IvfIndex.knnJoinAssignedFrom(cents, vec.currentIndex(),
          batchAssigned, k, nProbe)
        .select(col("query_id").as("node"), col("vec_id").as("dst"), col("cos"))
      // reverse: new vectors offered to every standing node probing
      // their cluster, per-node top-k OF THE BATCH (lossless — class doc)
      val standing = probeIds
      val rev =
        if (standing.isEmpty) None
        else {
          val probesRaw = spark.read.parquet(
            standing.map(b => s"$root/probes/$b"): _*)
          // deleted nodes leave the ROUTING too — without this, stale
          // probe rows would regenerate adjacency for a node whose
          // protocol tombstone was already purged by a compaction
          val probes = deletedKeys("node")
            .map(d => probesRaw.join(d, Seq("node"), "left_anti"))
            .getOrElse(probesRaw)
          val newSide = batchAssigned.select(col("cluster"),
            col("vec_id").as("dst"), col("qv").as("dqv"),
            col("norm").as("dnorm"))
          val w = Window.partitionBy(col("node"))
            .orderBy(col("cos").desc, col("dst"))
          Some(probes.join(newSide, Seq("cluster"))
            .where(col("node") =!= col("dst"))
            .select(col("node"), col("dst"),
              round(Similarity.cosineFromParts(
                Similarity.dotQ(col("qv"), col("dqv")),
                col("norm"), col("dnorm")), 4).as("cos"))
            .withColumn("rnk", row_number().over(w))
            .where(col("rnk") <= k)
            .select(col("node"), col("dst"), col("cos")))
        }
      val shard = rev.map(fwd.unionByName(_)).getOrElse(fwd)
      // the probe routing shard goes first — marker-last ordering; the
      // reverse scan above read only COMMITTED shards, so a replay after
      // a crash here recomputes the identical edge shard
      IvfIndex.probePairs(cents, batchAssigned, nProbe)
        .write.mode("overwrite").parquet(s"$root/probes/$batchId")
      log.commitShard(batchId, Seq(shard),
        s"""{"k":$k,"nProbe":$nProbe,"nLists":$nLists}""")
      probeIdsMemo = (probeIds :+ batchId).distinct.sorted
    } finally {
      org.apache.spark.sql.graftbridge.CheckpointBridge.release(batchAssigned)
    }
  }

  // committed batch ids whose dstdels/<b> mask shard is standing —
  // edges INTO a deleted vector are masked at read (they are baked into
  // earlier shards/snapshots, so unlike the node-side tombstones they
  // cannot be purged by a compaction; a refit erases them physically)
  @volatile private var dstDelIdsMemo: Vector[Long] = _
  private def dstDelIds: Vector[Long] = {
    if (dstDelIdsMemo == null) {
      val d = new Path(s"$root/dstdels")
      dstDelIdsMemo =
        if (!fs.exists(d)) Vector.empty
        else fs.listStatus(d).toVector
          .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption)
          .filter(log.isCommitted)
          .sorted
    }
    dstDelIdsMemo.filter(_ >= probesFrom)
  }

  /**
   * DELETE vectors from the graph (takedown): one batch, three effects,
   * one marker —
   *
   *  - the vectors leave the underlying index (the inner
   *    [[AnnMaintenance.deleteBatch]] tombstone), so no future forward
   *    or reverse edge can involve them;
   *  - the deleted nodes' ADJACENCY rows vanish from serves and are
   *    physically purged by the covering compaction (the shared
   *    [[ShardLog.commitDeletes]] protocol);
   *  - standing edges INTO the deleted vectors are MASKED at read by a
   *    persistent `dstdels/` key set (broadcast anti-join).
   *
   * Honest semantics, documented rather than hidden: masking does not
   * REFILL a surviving node's list (its k-th edge is gone, not
   * replaced) — the drained graph equals the full-corpus rebuild with
   * deleted nodes' rows and deleted-dst edges removed, which is exactly
   * what the `stream_knn_graph_delete` oracle replays. Refit rebuilds
   * the lists at full k over the post-delete corpus and retires the
   * mask (the `probesFrom` watermark gates `dstdels` exactly like the
   * probe shards).
   */
  def deleteBatch(batchId: Long, ids: DataFrame): Unit = {
    vec.deleteBatch(batchId, ids)
    if (log.isCommitted(batchId)) return
    val keys = ids.select(col("vec_id").cast("long").as("node")).distinct()
    keys.select(col("node").as("dst"))
      .write.mode("overwrite").parquet(s"$root/dstdels/$batchId")
    log.commitDeletes(batchId, keys, """{"del":true}""")
    if (dstDelIdsMemo != null)
      dstDelIdsMemo = (dstDelIdsMemo :+ batchId).distinct.sorted
  }

  /**
   * IN-STREAM REFIT-AND-SWAP for the graph member: retrain the vector
   * index on `corpus` (the corpus as of this batch — the inner
   * [[AnnMaintenance.refitBatch]]), rebuild the WHOLE graph under the
   * new centroids in one kNN join, commit it as this batch's SNAPSHOT,
   * and swap the probe routing table to the new geometry — the
   * `probesFrom` watermark in the snapshot marker makes the swap
   * crash-authoritative: probe shards below it never route reverse
   * edges again, whether or not their files were swept yet. The refit
   * is the priced full rebuild; post-refit batches return to O(batch).
   */
  def refitBatch(batchId: Long, corpus: DataFrame): Unit = {
    // a refit retires the delete masks (the watermark below), so the
    // corpus it rebuilds from must not resurrect a deleted vector —
    // re-apply the mask defensively rather than trusting the caller
    val clean = deletedKeys("vec_id")
      .map(d => corpus.join(d, Seq("vec_id"), "left_anti"))
      .getOrElse(corpus)
    vec.refitBatch(batchId, clean) // idempotent: marker short-circuits
    if (log.isCommitted(batchId)) return
    val cents = vec.centroids()
    val index = vec.currentIndex()
    val full = IvfIndex.knnJoinFrom(cents, index, lit(true), k, nProbe,
        broadcastProbes = false)
      .select(col("query_id").as("node"), col("vec_id").as("dst"), col("cos"))
    // new-geometry routing table first (replay overwrites), then the
    // atomic snapshot commit carrying the watermark
    IvfIndex.probePairs(cents, index, nProbe)
      .write.mode("overwrite").parquet(s"$root/probes/$batchId")
    log.commitSnapshot(batchId, full, s""""probesFrom":$batchId""")
    probesFromMemo = batchId
    // superseded-geometry shards: unreachable (the watermark gates every
    // read), swept eagerly; a crash mid-sweep just leaves files the
    // filter already ignores
    if (probeIdsMemo != null)
      probeIdsMemo.filter(_ < batchId).foreach { b =>
        fs.delete(new Path(s"$root/probes/$b"), true)
      }
    probeIdsMemo = Vector(batchId)
    // the delete masks are baked into the refit (deleted vectors are
    // not in the rebuilt corpus) — retire their shards with the same
    // watermark discipline
    if (dstDelIdsMemo != null)
      dstDelIdsMemo.filter(_ < batchId).foreach { b =>
        fs.delete(new Path(s"$root/dstdels/$b"), true)
      }
    dstDelIdsMemo = Vector.empty
  }

  /** The persistent deleted-key set under `alias`, when any deletes are
    * live (KB-scale; retired wholesale by the next refit's watermark). */
  private def deletedKeys(alias: String): Option[DataFrame] = {
    val ids = dstDelIds
    if (ids.isEmpty) None
    else Some(spark.read.parquet(ids.map(b => s"$root/dstdels/$b"): _*)
      .select(col("dst").as(alias)).distinct())
  }

  /** The standing edge set `(node, dst, cos)` — top-k per node over all
    * committed batches (serve-while-compact per the ShardLog deferral),
    * minus edges INTO deleted vectors (the persistent dst mask — see
    * [[deleteBatch]]). */
  def currentGraph(): DataFrame = {
    val rows = log.currentRows()
    deletedKeys("dst")
      .map(d => rows.join(d, Seq("dst"), "left_anti")
        .select(col("node"), col("dst"), col("cos")))
      .getOrElse(rows)
  }

  /** The graph with contiguous per-node ranks, the rebuild-comparable
    * surface: `(node, rnk, dst, cos)`. */
  def currentGraphRanked(): DataFrame = {
    val w = Window.partitionBy(col("node")).orderBy(col("cos").desc, col("dst"))
    currentGraph()
      .withColumn("rnk", row_number().over(w).cast("long"))
      .select(col("node"), col("rnk"), col("dst"), col("cos"))
  }

  /** The maintained vector index under the graph (for serves/refits). */
  def vectorIndex(): DataFrame = vec.currentIndex()
}

object KnnGraphMaintenance {

  private val edgeSchema = new StructType()
    .add("node", LongType).add("dst", LongType).add("cos", DoubleType)

  /** Top-k-per-node fold: the union of the snapshot and the per-batch
    * edge shards re-ranks under the same strict total order the shards
    * were capped with — exact by the losslessness argument in the class
    * doc. Snapshots persist the capped fold (<= k rows per node). */
  private[streaming] final class TopKFold(k: Int) extends ShardLog.Fold {
    def rows(spark: SparkSession, snapshot: Option[String],
        tail: Seq[(Long, String)]): DataFrame = {
      val df = spark.read.schema(edgeSchema)
        .parquet((snapshot.toSeq ++ tail.map(_._2)): _*)
      val w = Window.partitionBy(col("node")).orderBy(col("cos").desc, col("dst"))
      df.withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= k)
        .select(col("node"), col("dst"), col("cos"))
    }
  }
}
