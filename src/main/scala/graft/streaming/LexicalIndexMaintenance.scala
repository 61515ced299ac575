package graft.streaming

import org.apache.spark.sql.{functions, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Retrieval

/**
 * Crash-safe STREAMING MAINTENANCE OF THE LEXICAL (BM25) INDEX — the
 * sparse-retrieval twin of the ANN maintenance family, closing the
 * hybrid-retrieval asymmetry: the dense leg has read from a standing
 * IVF artifact since r14, while the sparse leg recomputed corpus-sized
 * tokenize/tf/df/doclen aggregates on EVERY query (PLANS.md r16 wave B
 * priced it as "the irreducible lexical cost" — it is only irreducible
 * without a standing index). This is the Lucene posture re-expressed on
 * the shared [[ShardLog]] protocol: per-batch immutable segments,
 * periodic compaction as the segment merge, tombstoned deletes.
 *
 * Reference relationship: the reference engine keeps its rescoring
 * inputs STANDING across windows instead of recomputing them
 * (flink-cooccurrence ItemRowRescorerTwoInputStreamOperator.java
 * :158-228 holds item rows in operator state and merges per-window
 * deltas); this member applies the same standing-state move to the
 * lexical statistics a BM25 serve needs.
 *
 * One [[ShardLog]] under `root/` whose batches carry two relations
 * (three with positions), committed together under one marker and
 * tombstoned together by `doc_id`:
 *  - `postings/` — per-batch segments of `(doc_id, term, tf, dl)`: tf
 *    per (doc, term), dl (the doc's token count) denormalized onto the
 *    row so the serve scores without a per-doc join;
 *  - `doclens/`  — per-batch segments of `(doc_id, dl)`: the doc-scale
 *    relation the corpus stats (N, avgdl) aggregate over, kept separate
 *    so the stats scan reads two slim columns at doc cardinality, never
 *    the token-scale postings;
 *  - `positions/` (opt-in, `positions = true`) — per-batch segments of
 *    `(doc_id, term, pos)`: the position lists exact phrase search
 *    reads ([[phraseSearch]]), term-pruned like the postings.
 * One marker per batch means N, avgdl, df and the positions always
 * describe the same set of documents, across any crash.
 *
 * SERVE: [[topK]] reads ONLY the postings rows of the query's terms —
 * a parquet scan with the term predicate pushed down (row-group
 * pruning; at 100 TB the segment write would additionally bucket by a
 * term hash so the listing itself prunes) — plus one doc-cardinality
 * stats aggregate (memoized per commit state). df for the query terms
 * is counted from the term-filtered postings themselves, so NO
 * corpus-wide df table is ever maintained or scanned; scoring is the
 * exact arithmetic of [[Retrieval.bm25FromPostings]], which makes the
 * maintained serve HASH-EQUAL to the batch BM25 replay (the
 * `stream_bm25_refresh` oracle) — and, after deletes, equal to the
 * batch replay over the kept corpus (`stream_bm25_delete`): df, N and
 * avgdl all reflect the erasure because they are derived from the
 * live folds, never stored.
 *
 * DELETES ([[deleteBatch]]) ride [[ShardLog.commitDeletes]]: one
 * tombstone shard masks every relation, so serves exclude the doc's
 * postings, dl row and positions as soon as the marker commits, the
 * covering compaction physically drops the rows, and the tombstone
 * shard sweeps one cycle later — BM25 right-to-erasure with scores
 * exactly as if the doc never existed. There is no refit verb: BM25 has
 * no trained model — compaction (the segment merge) is the only
 * periodic maintenance the index needs.
 */
final class LexicalIndexMaintenance(spark: SparkSession, root: String,
    compactEvery: Int = 64, positions: Boolean = false)
  extends MaintainedIndex(spark, root, compactEvery,
    Seq(LexicalIndexMaintenance.postings, LexicalIndexMaintenance.doclens) ++
      (if (positions) Seq(LexicalIndexMaintenance.poslog) else Nil), deleteKey = "doc_id") {

  import LexicalIndexMaintenance.{doclens, poslog, postings}

  /** Fold one ingest batch of `(doc_id, text)` into the standing index.
    * Idempotent; O(batch) — one tokenize of the batch, one segment
    * write per relation, nothing scans the standing state except
    * compaction. */
  def processBatch(batchId: Long, docs: DataFrame): Unit = once(batchId) {
    val toks = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
      .localCheckpoint(true)
    try {
      val tf = toks
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
      log.commitShard(batchId, Seq(
        tf.join(dl, "doc_id").select(col("doc_id"), col("term"), col("tf"), col("dl")), dl) ++
        (if (positions) Seq(toks) else Nil), "{}")
    } finally {
      org.apache.spark.sql.graftbridge.CheckpointBridge.release(toks)
      invalidateStats()
    }
  }

  /** DELETE standing docs by id (takedown / right-to-erasure): one
    * tombstone batch masks every relation. Scores reflect the erasure
    * exactly — df, N and avgdl are all derived from the live folds. */
  override def deleteBatch(batchId: Long, ids: DataFrame): Unit = {
    super.deleteBatch(batchId, ids.select(col("doc_id").cast("long").as("doc_id")))
    invalidateStats()
  }

  /** The standing postings relation (doc_id, term, tf, dl) — snapshot +
    * tail, tombstones applied; resolved from the cached commit state at
    * plan time (serve-while-compact, per [[ShardLog]]). */
  def currentPostings(): DataFrame = log.currentRows(postings)

  /** The standing doc-length relation (doc_id, dl). */
  def currentDoclens(): DataFrame = log.currentRows(doclens)

  // the corpus stats are ONE doc-cardinality aggregate (two slim
  // columns, map-side partial) — memoized per commit state so a serve
  // burst after a drain pays it once. sum/count stays bit-equal to
  // avg(dl): every partial is integer-valued, exact in a double
  // far below 2^53.
  @volatile private var statsMemo: DataFrame = _

  private def invalidateStats(): Unit = {
    val old = statsMemo
    statsMemo = null
    if (old != null)
      org.apache.spark.sql.graftbridge.CheckpointBridge.release(old)
  }

  /** One-row `(n_docs, avgdl)` over the live corpus. */
  def statsDf(): DataFrame = {
    if (statsMemo == null)
      statsMemo = currentDoclens()
        .agg(count(lit(1)).as("n_docs"),
          (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
        .localCheckpoint(true)
    statsMemo
  }

  /** BM25 scores for the live docs matching any of `terms` — the
    * standing-index form of [[Retrieval.bm25]] (hash-equal by shared
    * arithmetic): term-pruned postings scan + broadcast stats row. */
  def bm25(terms: Seq[String]): DataFrame =
    Retrieval.bm25FromPostings(
      currentPostings().where(col("term").isin(terms: _*))
        .crossJoin(broadcast(statsDf())))

  /** The standing positional relation (doc_id, term, pos) — requires a
    * root built with `positions = true`. */
  def currentPositions(): DataFrame = {
    require(positions, "this index was built without positional segments")
    log.currentRows(poslog)
  }

  /** EXACT PHRASE SEARCH from the standing positional segments: reads
    * ONLY the phrases' terms' position lists (term predicate pushed to
    * the segment scan — the Lucene position-list read), then the shared
    * one-shuffle vote algebra ([[Retrieval.phraseMatches]]) — hash-equal
    * to the batch scan over tokenized documents by shared arithmetic.
    * Returns `(phrase, doc_id, n_occ, first_pos)`. */
  def phraseSearch(phrases: Seq[String]): DataFrame = {
    val terms = phrases.flatMap(_.split(" ")).distinct
    Retrieval.phraseMatches(
      currentPositions().where(col("term").isin(terms: _*)), phrases)
  }

  /** Top-`k` BM25 serve: `(rnk, doc_id, bm25)`, ties by doc_id. */
  def topK(terms: Seq[String], k: Int): DataFrame = {
    val w = Window.orderBy(col("bm25").desc, col("doc_id"))
    bm25(terms)
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("rnk").cast("long").as("rnk"), col("doc_id"), col("bm25"))
  }

  /**
   * BOOLEAN retrieval (Lucene's MUST / MUST_NOT over the standing
   * index): rank by BM25 over the `must` terms, restricted to docs
   * containing ALL of them (count-distinct == m over the term-pruned
   * postings — the same vote move as phrase matching, without
   * positions) and NONE of `mustNot` (a distinct-doc anti-join, also
   * term-pruned). BM25's df/N/avgdl stay the plain OR-query values, so
   * a boolean result is always a subset of the corresponding [[topK]]
   * ranking with ranks re-packed. Returns `(rnk, doc_id, bm25)`.
   */
  def booleanTopK(must: Seq[String], mustNot: Seq[String], k: Int): DataFrame = {
    val posts = currentPostings()
    val mdocs = posts.where(col("term").isin(must: _*))
      .groupBy("doc_id").agg(countDistinct(col("term")).as("mt"))
      .where(col("mt") === must.size).select("doc_id")
    val ndocs = posts.where(col("term").isin(mustNot: _*))
      .select("doc_id").distinct()
    val w = Window.orderBy(col("bm25").desc, col("doc_id"))
    bm25(must)
      .join(mdocs, Seq("doc_id"), "left_semi")
      .join(ndocs, Seq("doc_id"), "left_anti")
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("rnk").cast("long").as("rnk"), col("doc_id"), col("bm25"))
  }

  /**
   * MORE-LIKE-THIS (the Lucene serve shape): find the `k` docs most
   * similar to standing doc `docId` by (1) selecting its `maxTerms`
   * highest tf·idf terms — the doc's postings read with the doc_id
   * predicate pushed down, df for just those terms counted via one
   * broadcast-term join — then (2) running them as an ordinary BM25
   * query through the shared scorer (df over the FULL live corpus; the
   * query doc leaves the ranking after scoring, so its presence keeps
   * df exact). Everything stays in DataFrames — no term list ever
   * collects to the driver. Term selection rounds tf·idf to 1e-6 and
   * tie-breaks by term, so the selected set is engine-replayable.
   * Returns `(rnk, doc_id, bm25)`.
   */
  def moreLikeThis(docId: Long, maxTerms: Int, k: Int): DataFrame = {
    val posts = currentPostings()
    val q = posts.where(col("doc_id") === docId)
      .select(col("term"), col("tf").as("qtf"))
    val dfT = posts.join(broadcast(q.select("term")), "term")
      .groupBy("term").agg(count(lit(1)).as("df"))
    val sel = q.join(broadcast(dfT), "term")
      .crossJoin(broadcast(statsDf()))
      .withColumn("w", round(col("qtf") *
        functions.log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0), 6))
      .withColumn("trnk",
        row_number().over(Window.orderBy(col("w").desc, col("term"))))
      .where(col("trnk") <= maxTerms)
      .select("term")
    val cand = posts.join(broadcast(sel), "term")
      .crossJoin(broadcast(statsDf()))
    val w = Window.orderBy(col("bm25").desc, col("doc_id"))
    Retrieval.bm25FromPostings(cand)
      .where(col("doc_id") =!= docId)
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("rnk").cast("long").as("rnk"), col("doc_id"), col("bm25"))
  }
}

object LexicalIndexMaintenance {
  private[streaming] val postings = ShardLog.Relation("seg",
    new ShardLog.AppendFold(Seq("doc_id", "term", "tf", "dl")), "postings")
  private[streaming] val doclens = ShardLog.Relation("seg",
    new ShardLog.AppendFold(Seq("doc_id", "dl")), "doclens")
  // positional segments (opt-in — they are dl-sized per doc, not
  // distinct-term-sized): what phrase queries read, term-pruned
  private[streaming] val poslog = ShardLog.Relation("seg",
    new ShardLog.AppendFold(Seq("doc_id", "term", "pos")), "positions")
}
