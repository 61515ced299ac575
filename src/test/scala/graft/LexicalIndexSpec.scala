package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.{Retrieval, Tables}
import graft.streaming.LexicalIndexMaintenance

/** The maintained lexical (BM25) index == the batch scorer over the
  * same corpus: incremental segments + compaction + tombstones must be
  * invisible to the serve's scores. */
class LexicalIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private val terms = Seq("key", "value", "table", "row", "scan")
  @transient private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def docs = Tables.table(spark, sfDir, "documents")
  private def chunk(c: Int): DataFrame =
    docs.where(pmod(col("doc_id"), lit(3)) === c)

  private def scores(df: DataFrame): Map[Long, Double] =
    df.select("doc_id", "bm25").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("drained index serves BM25 hash-equal to the batch scorer, " +
      "through a live compaction") {
    val root = Files.createTempDirectory("lex_maint").toString
    val m = new LexicalIndexMaintenance(spark, root, compactEvery = 2)
    m.processBatch(0L, chunk(0))
    m.processBatch(1L, chunk(1)) // compaction point
    m.processBatch(2L, chunk(2))
    assert(scores(m.bm25(terms)) == scores(Retrieval.bm25(docs, terms)),
      "maintained serve must equal the batch BM25 over the full corpus")
    // replay of a committed batch is a no-op
    val before = scores(m.bm25(terms))
    m.processBatch(1L, chunk(1))
    assert(scores(m.bm25(terms)) == before)
  }

  test("kill/resume lands identical to the uninterrupted run") {
    val root = Files.createTempDirectory("lex_resume").toString
    val a = new LexicalIndexMaintenance(spark, root, compactEvery = 2)
    a.processBatch(0L, chunk(0)); a.processBatch(1L, chunk(1))
    // "kill": a fresh instance reloads commit state from markers
    val b = new LexicalIndexMaintenance(spark, root, compactEvery = 2)
    b.processBatch(1L, chunk(1)) // replay short-circuits
    b.processBatch(2L, chunk(2))
    assert(b.committedCount == 3L)
    assert(scores(b.bm25(terms)) == scores(Retrieval.bm25(docs, terms)))
  }

  test("crash before the batch marker (every relation shard written, " +
      "marker absent): a fresh instance reads none of them; replay converges") {
    val root = Files.createTempDirectory("lex_torn").toString
    val m = new LexicalIndexMaintenance(spark, root, compactEvery = 4)
    (0 until 3).foreach(c => m.processBatch(c.toLong, chunk(c)))
    // the state a death just before batch 2's one marker leaves behind
    assert(new java.io.File(s"$root/meta/2").delete())
    assert(Seq("postings", "doclens").forall(r =>
      new java.io.File(s"$root/$r/seg/2/_SUCCESS").exists))
    val m2 = new LexicalIndexMaintenance(spark, root, compactEvery = 4)
    assert(!m2.isCommitted(2L), "the marker is the only record of a commit")
    // N, avgdl and df all exclude the unmarked batch's documents
    val firstTwo = docs.where(pmod(col("doc_id"), lit(3)) =!= 2)
    assert(scores(m2.bm25(terms)) == scores(Retrieval.bm25(firstTwo, terms)))
    m2.processBatch(2L, chunk(2))
    assert(scores(m2.bm25(terms)) == scores(Retrieval.bm25(docs, terms)))
  }

  test("deleteBatch: df, N and avgdl all reflect the erasure — scores " +
      "equal the batch scorer over the kept corpus; rows purged") {
    val root = Files.createTempDirectory("lex_del").toString
    val m = new LexicalIndexMaintenance(spark, root, compactEvery = 2)
    m.processBatch(0L, chunk(0)); m.processBatch(1L, chunk(1))
    m.processBatch(2L, chunk(2))
    val delPred = col("doc_id") % 10 === 2
    val delIds = docs.where(delPred).select("doc_id")
    assert(delIds.count() > 0)
    m.deleteBatch(3L, delIds) // lands ON the compaction cadence
    val kept = docs.where(!delPred)
    assert(scores(m.bm25(terms)) == scores(Retrieval.bm25(kept, terms)),
      "post-delete scores must equal the batch scorer over kept docs " +
        "(stats and df shift, not just row masking)")
    // a second compaction completes the physical purge: no deleted key
    // survives anywhere under the roots
    val del = delIds.collect().map(_.getLong(0)).toSet
    assert(m.currentPostings().select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet.intersect(del).isEmpty)
    assert(m.currentDoclens().select("doc_id").collect()
      .map(_.getLong(0)).toSet.intersect(del).isEmpty)
    m.compactNow(); m.compactNow()
    assertErasedOnDisk(root, Seq("postings", "doclens"), del)
  }

  /** No parquet file under the relations `rels` still holds an erased
    * doc_id — read straight off disk, bypassing the folds. */
  private def assertErasedOnDisk(root: String, rels: Seq[String], del: Set[Long]): Unit =
    rels.foreach { rel =>
      assert(DiskRows.keysUnder(spark, root, Seq(rel), "doc_id").intersect(del).isEmpty,
        s"a parquet file under $rel/ still holds an erased doc_id")
    }

  test("positional segments: standing phrase search equals the batch " +
      "scan, survives deletes, and fails fast without positions") {
    import graft.operators.Retrieval
    val phrases = Seq("table scan", "key value", "table scan merge")
    val root = Files.createTempDirectory("lex_pos").toString
    val m = new LexicalIndexMaintenance(spark, root, compactEvery = 2,
      positions = true)
    m.processBatch(0L, chunk(0)); m.processBatch(1L, chunk(1))
    m.processBatch(2L, chunk(2))

    def batchMatches(corpus: DataFrame): Set[(String, Long, Long, Long)] =
      Retrieval.phraseMatches(
        corpus.select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "term"))),
        phrases).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    def standing(): Set[(String, Long, Long, Long)] =
      m.phraseSearch(phrases).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet

    val full = batchMatches(docs)
    assert(full.nonEmpty, "fixture phrases must occur in the corpus")
    assert(standing() == full)

    // delete a doc that matched: its rows leave the phrase results too
    val delId = full.head._2
    m.deleteBatch(3L, spark.createDataFrame(Seq(Tuple1(delId))).toDF("doc_id"))
    assert(standing() == batchMatches(docs.where(col("doc_id") =!= delId)))
    m.compactNow(); m.compactNow()
    assertErasedOnDisk(root, Seq("postings", "doclens", "positions"), Set(delId))

    // a root built WITHOUT positions refuses phrase serves loudly
    val noPos = new LexicalIndexMaintenance(spark,
      Files.createTempDirectory("lex_nopos").toString, compactEvery = 2)
    noPos.processBatch(0L, chunk(0))
    val e = intercept[IllegalArgumentException] { noPos.phraseSearch(phrases) }
    assert(e.getMessage.contains("positional segments"))
  }

  test("booleanTopK: every hit holds ALL must terms and NO mustNot " +
      "term; scores are the OR-query's, ranks re-packed") {
    val root = Files.createTempDirectory("lex_bool").toString
    val m = new LexicalIndexMaintenance(spark, root, compactEvery = 2)
    m.processBatch(0L, chunk(0)); m.processBatch(1L, chunk(1))
    m.processBatch(2L, chunk(2))
    val must = Seq("table", "scan"); val not = Seq("slow")
    val got = m.booleanTopK(must, not, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    assert(got.nonEmpty, "fixture must be non-vacuous")
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSet).toMap
    got.foreach { case (_, d, _) =>
      assert(must.forall(texts(d)), s"doc $d missing a must term")
      assert(not.forall(t => !texts(d)(t)), s"doc $d holds a mustNot term")
    }
    // subset of the plain OR ranking, same scores, ranks re-packed
    val or = scores(m.bm25(must))
    assert(got.forall { case (_, d, s) => or(d) == s })
    assert(got.map(_._1) == (1L to got.size.toLong).toList)
  }

  test("moreLikeThis: self excluded; with maxTerms covering the whole " +
      "doc it equals a BM25 query over the doc's own terms") {
    val root = Files.createTempDirectory("lex_mlt").toString
    val m = new LexicalIndexMaintenance(spark, root, compactEvery = 2)
    m.processBatch(0L, chunk(0)); m.processBatch(1L, chunk(1))
    m.processBatch(2L, chunk(2))
    val q = 3L
    val got = m.moreLikeThis(q, maxTerms = 100000, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    assert(got.nonEmpty && got.forall(_._2 != q), "self must never rank")
    val qTerms = docs.where(col("doc_id") === q)
      .select(explode(split(col("text"), " ")).as("t"))
      .distinct().collect().map(_.getString(0)).toSeq
    val want = m.bm25(qTerms).where(col("doc_id") =!= q).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (d, s) => (-s, d) }.take(10).zipWithIndex
      .map { case ((d, s), i) => (i + 1L, d, s) }.toList
    assert(got == want,
      "uncapped term selection must reduce to the doc's-terms BM25 query")
  }

  test("the serve reads only the query terms' postings (term filter " +
      "pushed to the segment scan)") {
    val root = Files.createTempDirectory("lex_plan").toString
    val m = new LexicalIndexMaintenance(spark, root, compactEvery = 2)
    m.processBatch(0L, chunk(0)); m.processBatch(1L, chunk(1))
    val plan = m.bm25(terms).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(term"),
      s"term predicate must reach the postings scan:\n$plan")
  }
}
