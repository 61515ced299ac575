package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Tables

/**
 * Round 16: STREAMING kNN-GRAPH MAINTENANCE
 * ([[graft.streaming.KnnGraphMaintenance]]) — the full kNN graph is the
 * most expensive ANN read (every vector is a query; the batch build is
 * decade-measured in PERF.md, round 16), which is exactly why a 100 TB
 * deployment cannot rebuild it per ingest batch. The maintenance loop
 * keeps it standing: forward edges from one batch-sized kNN join,
 * reverse edges routed through the static per-node probe table, both
 * capped per node per batch (provably lossless — the losslessness
 * argument and crash protocol live in the class doc), folded under the
 * shared ShardLog durability (markers, rollup, serve-while-compact).
 *
 *  - stream_knn_graph: the corpus drains as one file per trigger with a
 *    LIVE compaction point (compactEvery=2); the drained ranked graph
 *    must equal the frozen-centroid FULL REBUILD (fit on chunk 0, kNN
 *    join of everyone against everyone's probed lists) — the DuckDB
 *    oracle replays the fit, every probe set, every exact cosine, and
 *    the per-node ranking.
 */
object ExtQueries59 {

  private val NLists = 16
  private val IvfIters = 3
  private val K = 5
  private val NProbe = 4

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "stream_knn_graph" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val staged = ExtQueries46.stagedEmbChunks(s, dir)
      val schema = Tables.table(s, dir, "embeddings").schema
      val root = graft.operators.Sinks.dir(
        "knn_graph_maint/run" + runs.incrementAndGet())
      val maint = new graft.streaming.KnnGraphMaintenance(s, root, NLists,
        IvfIters, K, NProbe, compactEvery = 2)
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(staged)
        .writeStream.trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, id: Long) =>
          maint.processBatch(id, b)
          ()
        }
        .start()
      q.awaitTermination()
      maint.currentGraphRanked()
        .orderBy(col("node"), col("rnk"))
    }),

    // DELETION from the maintained graph: batch 3 (on the compactEvery=2
    // cadence — the purge path) and batch 4 (tail tombstone + dst mask)
    // remove two key sets. Honest masked-graph semantics: surviving
    // nodes' lists are NOT refilled (that is refit's job), so the
    // drained graph equals the full rebuild minus deleted nodes' rows
    // minus edges into deleted vectors — exactly what the oracle replays.
    "stream_knn_graph_delete" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val staged = ExtQueries46.stagedEmbChunks(s, dir)
      val embs = Tables.table(s, dir, "embeddings")
      val root = graft.operators.Sinks.dir(
        "knn_graph_maint/run" + runs.incrementAndGet())
      val maint = new graft.streaming.KnnGraphMaintenance(s, root, NLists,
        IvfIters, K, NProbe, compactEvery = 2)
      val q = s.readStream.schema(embs.schema)
        .option("maxFilesPerTrigger", 1).parquet(staged)
        .writeStream.trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, id: Long) =>
          maint.processBatch(id, b)
          ()
        }
        .start()
      q.awaitTermination()
      maint.deleteBatch(3L, embs.where(col("vec_id") % 7 === 3).select("vec_id"))
      maint.deleteBatch(4L, embs.where(col("vec_id") % 11 === 5).select("vec_id"))
      maint.currentGraphRanked().orderBy(col("node"), col("rnk"))
    }),

    // IN-STREAM GRAPH REFIT at the last chunk: the vector index retrains
    // on the corpus-so-far, the WHOLE graph rebuilds under the new
    // centroids as one snapshot commit, and the probe routing table
    // swaps generations behind the probesFrom watermark. Drained graph
    // == full rebuild with the fit on EVERYTHING.
    "stream_knn_graph_refit" -> ((s, dir) => drainGraph(s, dir, refitAt = 2L))
  )

  private val runs = new java.util.concurrent.atomic.AtomicLong()

  /** Shared drain driver: processBatch per chunk, with an optional
    * in-stream refit at `refitAt` (corpus-so-far = the full table, since
    * the refit point here is the last chunk). */
  private def drainGraph(s: SparkSession, dir: String,
      refitAt: Long): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val staged = ExtQueries46.stagedEmbChunks(s, dir)
    val embs = Tables.table(s, dir, "embeddings")
    val root = graft.operators.Sinks.dir(
      "knn_graph_maint/run" + runs.incrementAndGet())
    val maint = new graft.streaming.KnnGraphMaintenance(s, root, NLists,
      IvfIters, K, NProbe, compactEvery = 2)
    val q = s.readStream.schema(embs.schema)
      .option("maxFilesPerTrigger", 1).parquet(staged)
      .writeStream.trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        if (id == refitAt) maint.refitBatch(id, embs)
        else maint.processBatch(id, b)
        ()
      }
      .start()
    q.awaitTermination()
    maint.currentGraphRanked().orderBy(col("node"), col("rnk"))
  }

  def oracleSql: Map[String, String] = Map(

    // drained graph == frozen-centroid full rebuild: fit on chunk 0
    // (batch 0 bootstraps), probes for EVERY vector, exact cosine inside
    // the probed lists, per-node rank <= k
    "stream_knn_graph" ->
      s"""WITH RECURSIVE ${ExtQueries46.ivfReplayCtes("vec_id % 3 = 0")},
         |gprobes AS (
         |  SELECT vec_id AS query_id, qv AS qqv, n2 AS qn2, c AS cluster FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
         |    FROM fdists) x
         |  WHERE rn <= $NProbe),
         |gsc AS (
         |  SELECT p.query_id, v.vec_id,
         |         ROUND(list_inner_product(p.qqv, v.qv)
         |               / (sqrt(p.qn2) * sqrt(v.n2)), 4) AS cos
         |  FROM gprobes p JOIN indexed v
         |    ON v.cluster = p.cluster AND v.vec_id != p.query_id),
         |gr AS (
         |  SELECT query_id, vec_id, cos,
         |         ROW_NUMBER() OVER (PARTITION BY query_id
         |             ORDER BY cos DESC, vec_id) AS rnk
         |  FROM gsc)
         |SELECT query_id AS node, CAST(rnk AS BIGINT) AS rnk,
         |       vec_id AS dst, cos
         |FROM gr WHERE rnk <= $K ORDER BY node, rnk""".stripMargin,

    // masked-graph contract: the standing top-K rows of the full rebuild
    // minus deleted nodes' rows minus edges into deleted vectors, ranks
    // re-contiguous after the mask (no refill — refit refills)
    "stream_knn_graph_delete" ->
      s"""WITH RECURSIVE ${ExtQueries46.ivfReplayCtes("vec_id % 3 = 0")},
         |gprobes AS (
         |  SELECT vec_id AS query_id, qv AS qqv, n2 AS qn2, c AS cluster FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
         |    FROM fdists) x
         |  WHERE rn <= $NProbe),
         |gsc AS (
         |  SELECT p.query_id, v.vec_id,
         |         ROUND(list_inner_product(p.qqv, v.qv)
         |               / (sqrt(p.qn2) * sqrt(v.n2)), 4) AS cos
         |  FROM gprobes p JOIN indexed v
         |    ON v.cluster = p.cluster AND v.vec_id != p.query_id),
         |gr AS (
         |  SELECT query_id, vec_id, cos,
         |         ROW_NUMBER() OVER (PARTITION BY query_id
         |             ORDER BY cos DESC, vec_id) AS rnk
         |  FROM gsc),
         |standing AS (SELECT query_id, vec_id, cos FROM gr WHERE rnk <= $K),
         |masked AS (
         |  SELECT query_id, vec_id, cos FROM standing
         |  WHERE query_id % 7 != 3 AND query_id % 11 != 5
         |    AND vec_id % 7 != 3 AND vec_id % 11 != 5)
         |SELECT query_id AS node,
         |       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |           ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk,
         |       vec_id AS dst, cos
         |FROM masked ORDER BY node, rnk""".stripMargin,

    // refit at the last chunk == full rebuild with the fit on everything
    "stream_knn_graph_refit" ->
      s"""WITH RECURSIVE ${ExtQueries46.ivfReplayCtes("TRUE")},
         |gprobes AS (
         |  SELECT vec_id AS query_id, qv AS qqv, n2 AS qn2, c AS cluster FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
         |    FROM fdists) x
         |  WHERE rn <= $NProbe),
         |gsc AS (
         |  SELECT p.query_id, v.vec_id,
         |         ROUND(list_inner_product(p.qqv, v.qv)
         |               / (sqrt(p.qn2) * sqrt(v.n2)), 4) AS cos
         |  FROM gprobes p JOIN indexed v
         |    ON v.cluster = p.cluster AND v.vec_id != p.query_id),
         |gr AS (
         |  SELECT query_id, vec_id, cos,
         |         ROW_NUMBER() OVER (PARTITION BY query_id
         |             ORDER BY cos DESC, vec_id) AS rnk
         |  FROM gsc)
         |SELECT query_id AS node, CAST(rnk AS BIGINT) AS rnk,
         |       vec_id AS dst, cos
         |FROM gr WHERE rnk <= $K ORDER BY node, rnk""".stripMargin
  )
}
