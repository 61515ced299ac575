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
 * log under `root/vec`); edges ride this member's [[ShardLog]] under
 * `root/graph` with a top-k fold; probe shards are side shards gated on
 * the edge log's markers. Batch replay is idempotent end-to-end: the
 * vector commit short-circuits on its marker, the edge shard recomputes
 * deterministically from committed state (the reverse scan reads only
 * COMMITTED probe shards, so a crashed attempt's leftovers are
 * invisible), and the probe shard is overwritten before the edge
 * marker commits. A crash between the two logs' commits leaves the
 * vector log one batch ahead; the replay completes the edge side.
 */
final class KnnGraphMaintenance(spark: SparkSession, root: String,
    nLists: Int = 16, iters: Int = 3, k: Int = 5, nProbe: Int = 4,
    compactEvery: Int = 64)
  extends MaintainedIndex(spark, s"$root/graph", compactEvery,
    Seq(ShardLog.Relation("edges", new KnnGraphMaintenance.TopKFold(k))),
    deleteKey = "node", markerField = "probesFrom") {

  private val vec = new AnnMaintenance(spark, s"$root/vec", nLists, iters,
    compactEvery)

  // probe shards older than this batch id reflect a SUPERSEDED centroid
  // geometry (an in-stream refit happened at that batch) and must never
  // route reverse edges again — the snapshot-marker watermark
  private def probesFrom: Long = markerValue

  // committed batches' probes/<b> routing shards
  private val probes = log.sideShards(s"$root/probes")
  // committed delete batches' dstdels/<b> masks — edges INTO a deleted
  // vector are masked at read (they are baked into earlier
  // shards/snapshots, so unlike the node-side tombstones they cannot be
  // purged by a compaction; a refit erases them physically)
  private val dstDels = log.sideShards(s"$root/dstdels")

  /** Fold one ingest batch of `(vec_id, embedding)` into the vector
    * index AND the standing kNN graph. Idempotent; O(batch · probed
    * lists) after the bootstrap. */
  def processBatch(batchId: Long, embs: DataFrame): Unit = {
    vec.processBatch(batchId, embs)
    once(batchId)(processEdges(batchId, embs))
  }

  private def processEdges(batchId: Long, embs: DataFrame): Unit = {
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
      val standing = probes.ids.filter(_ >= probesFrom)
      val rev =
        if (standing.isEmpty) None
        else {
          val probesRaw = spark.read.parquet(standing.map(probes.path): _*)
          // deleted nodes leave the ROUTING too — without this, stale
          // probe rows would regenerate adjacency for a node whose
          // protocol tombstone was already purged by a compaction
          val routing = deletedKeys("node")
            .map(d => probesRaw.join(d, Seq("node"), "left_anti"))
            .getOrElse(probesRaw)
          val newSide = batchAssigned.select(col("cluster"),
            col("vec_id").as("dst"), col("qv").as("dqv"),
            col("norm").as("dnorm"))
          val w = Window.partitionBy(col("node"))
            .orderBy(col("cos").desc, col("dst"))
          Some(routing.join(newSide, Seq("cluster"))
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
        .write.mode("overwrite").parquet(probes.path(batchId))
      log.commitShard(batchId, Seq(shard),
        s"""{"k":$k,"nProbe":$nProbe,"nLists":$nLists}""")
      probes.add(batchId)
    } finally {
      org.apache.spark.sql.graftbridge.CheckpointBridge.release(batchAssigned)
    }
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
  override def deleteBatch(batchId: Long, ids: DataFrame): Unit = {
    vec.deleteBatch(batchId, ids)
    once(batchId) {
      val keys = ids.select(col("vec_id").cast("long").as("node")).distinct()
      keys.select(col("node").as("dst"))
        .write.mode("overwrite").parquet(dstDels.path(batchId))
      super.deleteBatch(batchId, keys)
      dstDels.add(batchId)
    }
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
    once(batchId)(refitEdges(batchId))
  }

  private def refitEdges(batchId: Long): Unit = {
    val cents = vec.centroids()
    val index = vec.currentIndex()
    val full = IvfIndex.knnJoinFrom(cents, index, lit(true), k, nProbe,
        broadcastProbes = false)
      .select(col("query_id").as("node"), col("vec_id").as("dst"), col("cos"))
    // new-geometry routing table first (replay overwrites), then the
    // atomic snapshot commit carrying the watermark
    IvfIndex.probePairs(cents, index, nProbe)
      .write.mode("overwrite").parquet(probes.path(batchId))
    log.commitSnapshot(batchId, full, s""""probesFrom":$batchId""")
    advanceMarker(batchId)
    // superseded-geometry shards: unreachable (the watermark gates every
    // read), swept eagerly; a crash mid-sweep just leaves files the
    // filter already ignores. The delete masks are baked into the refit
    // (deleted vectors are not in the rebuilt corpus) — retired the same
    // way.
    probes.add(batchId)
    probes.retire(_ < batchId).foreach(b => fs.delete(new Path(probes.path(b)), true))
    dstDels.retire(_ < batchId).foreach(b => fs.delete(new Path(dstDels.path(b)), true))
  }

  /** The persistent deleted-key set under `alias`, when any deletes are
    * live (KB-scale; retired wholesale by the next refit's watermark). */
  private def deletedKeys(alias: String): Option[DataFrame] = {
    val ids = dstDels.ids.filter(_ >= probesFrom)
    if (ids.isEmpty) None
    else Some(spark.read.parquet(ids.map(dstDels.path): _*)
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

  /** Eager compaction of both logs; two calls purge every deleted
    * vector's row and adjacency (edges INTO it stay masked until a
    * refit). */
  override def compactNow(): Unit = { vec.compactNow(); super.compactNow() }

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
