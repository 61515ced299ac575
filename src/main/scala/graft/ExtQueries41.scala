package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Tables}

/**
 * Round-9 wave: provenance-aware dedup reporting + corpus growth law +
 * the flagship pipeline driven through the DSv2 streaming source.
 *
 *  - dedup_source_overlap: the source×source duplication matrix — for
 *    every unordered source pair, how many near-dup clusters contain
 *    documents from BOTH. This is the "who is mirroring whom" report a
 *    curation team reads before deciding which feed to drop; computed
 *    on the (cluster, source) distinct projection, which is bounded by
 *    #clusters × #sources, so the self-join never touches doc grain.
 *  - dedup_cluster_purity: per source, how many of its near-dup
 *    clusters are wholly intra-source (pure) vs spanning — the
 *    complementary per-source marginal of the overlap matrix.
 *  - vocab_growth: the Heaps'-law curve — new distinct words and
 *    cumulative vocabulary per ingestion chunk, against total tokens.
 *    Sub-linear vocabulary growth is the expected shape; a corpus whose
 *    curve bends upward is drifting (new domain or encoding garbage).
 *    One word-keyed shuffle (min-chunk per word, map-side combined);
 *    the cumulative window runs over the chunk-grain aggregate only.
 *  - stream_dsv2_topk: the reference's full pipeline (co-occurrence →
 *    LLR → top-K, skip-cuts) fed by `readStream.format
 *    ("graft-interactions")` — the MicroBatchStream admitting one file
 *    per trigger in (mod-time, name) order, exactly the reference
 *    monitor's contract (`ContinuousFileMonitoringFunction.java:219-294`),
 *    scored against the SAME LLR oracle as the batch pipeline.
 */
object ExtQueries41 {

  /** Distinct (cluster, source) projection of the simhash near-dup
    * components — the grain every provenance report here works at. */
  private def clusterSources(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(s, dir, "documents")
    // memoized cluster index (DedupIndex): built once per corpus
    // snapshot, scanned by every provenance report
    graft.operators.DedupIndex.simhashComponents(s, dir, 3)
      .join(docs.select(col("doc_id").as("node"), col("source")), "node")
      .select(col("comp"), col("source")).distinct()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "dedup_source_overlap" -> ((s, dir) => {
      val cs = clusterSources(s, dir)
      // self-join at (cluster, source) grain: bounded by clusters × 20
      // sources, never doc² — the matrix stays tiny at any corpus size
      cs.as("a").join(cs.as("b"),
          col("a.comp") === col("b.comp") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_shared_clusters"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    "dedup_cluster_purity" -> ((s, dir) => {
      val cs = clusterSources(s, dir)
      val nsrc = cs.groupBy(col("comp")).agg(count(lit(1)).as("n_src"))
      cs.join(nsrc, "comp")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(when(col("n_src") === 1, 1L).otherwise(0L)).as("n_pure"))
        .select(col("source"), col("n_clusters"), col("n_pure"),
          expr("(n_pure * 1000000) DIV n_clusters").as("purity_ppm"))
        .orderBy(col("source"))
    }),

    "vocab_growth" -> ((s, dir) => {
      val wd = Tables.table(s, dir, "documents")
        .select(expr("doc_id DIV 50").as("chunk"),
          explode(split(col("text"), " ")).as("word"))
      val tok = wd.groupBy(col("chunk")).agg(count(lit(1)).as("n_tokens"))
      val nw = wd.groupBy(col("word")).agg(min(col("chunk")).as("chunk"))
        .groupBy(col("chunk")).agg(count(lit(1)).as("new_words"))
      // global window over the CHUNK-grain aggregate only (#chunks =
      // #docs / 50 — thousands at sf10, never doc/token grain)
      val cum = org.apache.spark.sql.expressions.Window
        .orderBy(col("chunk"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      tok.join(nw, Seq("chunk"), "left_outer")
        .select(col("chunk"), col("n_tokens"),
          coalesce(col("new_words"), lit(0L)).as("new_words"))
        .withColumn("vocab", sum(col("new_words")).over(cum))
        .orderBy(col("chunk"))
    }),

    "stream_dsv2_topk" -> ((s, dir) => {
      // The cooc delta pipeline is trigger-split independent (processBatch
      // folds deltas associatively), so batching the aligned staged files
      // 3-per-trigger amortizes per-trigger planning without changing the
      // drained result — same oracle. Strict per-file admission (the
      // reference monitor default, maxFilesPerTrigger=1) stays covered by
      // stream_dsv2_interactions/stream_dsv2_pruned and the source spec.
      val interactions = s.readStream.format("graft-interactions")
        .option("maxFilesPerTrigger", 3).load(ExtQueries40.stagedCsv(s, dir))
        .select(col("user"), col("item"), unix_millis(col("ts")).as("ts"))
      graft.streaming.StreamingCooc.drain(interactions, Int.MaxValue, Int.MaxValue, 42L, 10)
    })
  )

  /** Shared recursive-CC prefix ending in `cs(comp, source)`. */
  private val clusterSourcesSql: String =
    s"""WITH RECURSIVE ${ExtQueries.simhashPairsCtes},
       |sel AS (SELECT doc_a, doc_b FROM pairs
       |        WHERE bit_count(xor(fp_a, fp_b)) <= 3),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM sel
       |      UNION SELECT doc_b, doc_a FROM sel),
       |nodes AS (SELECT DISTINCT src AS node FROM e),
       |reach(node, lab) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node),
       |comps AS (SELECT node, MIN(lab) AS comp FROM reach GROUP BY node),
       |cs AS (SELECT DISTINCT c.comp, d.source
       |       FROM comps c JOIN documents d ON d.doc_id = c.node)
       |""".stripMargin

  def oracleSql: Map[String, String] = Map(

    "dedup_source_overlap" -> (clusterSourcesSql +
      """SELECT a.source AS src_a, b.source AS src_b,
        |       CAST(COUNT(*) AS BIGINT) AS n_shared_clusters
        |FROM cs a JOIN cs b ON a.comp = b.comp AND a.source < b.source
        |GROUP BY a.source, b.source ORDER BY src_a, src_b""".stripMargin),

    "dedup_cluster_purity" -> (clusterSourcesSql +
      """, nsrc AS (SELECT comp, COUNT(*) AS n_src FROM cs GROUP BY comp)
        |SELECT cs.source, CAST(COUNT(*) AS BIGINT) AS n_clusters,
        |       CAST(SUM(CASE WHEN n_src = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pure,
        |       (CAST(SUM(CASE WHEN n_src = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
        |         // COUNT(*) AS purity_ppm
        |FROM cs JOIN nsrc ON cs.comp = nsrc.comp
        |GROUP BY cs.source ORDER BY cs.source""".stripMargin),

    "vocab_growth" ->
      """WITH wd AS (SELECT doc_id // 50 AS chunk,
        |              unnest(string_split(text, ' ')) AS word FROM documents),
        |tok AS (SELECT chunk, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM wd GROUP BY chunk),
        |fw AS (SELECT word, MIN(chunk) AS chunk FROM wd GROUP BY word),
        |nw AS (SELECT chunk, CAST(COUNT(*) AS BIGINT) AS new_words FROM fw GROUP BY chunk)
        |SELECT t.chunk, t.n_tokens,
        |       COALESCE(nw.new_words, 0) AS new_words,
        |       CAST(SUM(COALESCE(nw.new_words, 0)) OVER (
        |         ORDER BY t.chunk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS BIGINT) AS vocab
        |FROM tok t LEFT JOIN nw ON t.chunk = nw.chunk
        |ORDER BY t.chunk""".stripMargin,

    // the DSv2 streaming read must reproduce the BATCH pipeline's LLR
    // top-K exactly: same oracle as cooc_llr_topk, restricted to the
    // null-free rows the text format can carry
    "stream_dsv2_topk" -> SparkEntry.llrTopKFullSql.replace(SparkEntry.interSql,
      SparkEntry.interSql + " WHERE user_id IS NOT NULL" +
        " AND CAST(json_extract_string(props, 'k') AS INT) IS NOT NULL AND ts IS NOT NULL")
  )
}
