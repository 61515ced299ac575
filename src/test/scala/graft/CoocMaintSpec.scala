package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.Cooccurrence
import graft.streaming.CoocMaintenance

/** The maintained co-occurrence matrix == `Cooccurrence.coocCounts`
  * over the same events, for ANY batch split — the bilinear-delta
  * algebra (self terms + cross terms + negative-delta erasure) must be
  * invisible to the serve. */
class CoocMaintSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
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

  private def inter = Cooccurrence.interactions(spark, sfDir)
  // event-level hash split: a user's events SPAN batches, so the cross
  // terms (batch-histogram x standing-histogram) carry real weight
  private def chunk(c: Int, of: Int = 3): DataFrame =
    inter.where(pmod(xxhash64(col("user"), col("item"), col("ts")), lit(of)) === c)

  private def counts(df: DataFrame): Map[(Int, Int), Long] =
    df.select("item", "other", "cnt").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap

  test("drained matrix equals coocCounts over the full events, cross " +
      "terms live, through a live compaction; replay is a no-op") {
    val root = Files.createTempDirectory("cooc_maint").toString
    val m = new CoocMaintenance(spark, root, compactEvery = 2)
    m.processBatch(0L, chunk(0))
    val after0 = counts(m.currentCounts())
    m.processBatch(1L, chunk(1)) // compaction point
    m.processBatch(2L, chunk(2))

    val expect = counts(Cooccurrence.coocCounts(inter))
    assert(counts(m.currentCounts()) == expect,
      "incremental fold must equal the batch C matrix")

    // cross-term liveness: some pair's count GREW after batch 0 beyond
    // what either batch alone contributes (the delta x standing product)
    val grown = expect.filter { case (k, v) => after0.get(k).exists(v0 => v > v0) }
    assert(grown.nonEmpty,
      "no pair count grew across batches — the cross terms are untested")

    // replay short-circuits
    m.processBatch(1L, chunk(1))
    assert(counts(m.currentCounts()) == expect)

    // the serve tail is the batch rescorer: llrTopK matches the batch
    // pipeline's result row-for-row
    val got = m.llrTopK(10).collect().map(_.toSeq).toSeq
    val want = Cooccurrence.llrTopKFromCounts(
      Cooccurrence.coocCounts(inter), 10).collect().map(_.toSeq).toSeq
    assert(got == want)
  }

  test("kill/resume (fresh instance mid-drain) lands identical") {
    val root = Files.createTempDirectory("cooc_resume").toString
    val a = new CoocMaintenance(spark, root, compactEvery = 2)
    a.processBatch(0L, chunk(0)); a.processBatch(1L, chunk(1))
    val b = new CoocMaintenance(spark, root, compactEvery = 2)
    b.processBatch(1L, chunk(1)) // replay short-circuits
    b.processBatch(2L, chunk(2))
    assert(b.committedCount == 3L)
    assert(counts(b.currentCounts()) == counts(Cooccurrence.coocCounts(inter)))
  }

  test("deleteBatch removes a user's entire contribution by negative " +
      "delta: serve == batch pipeline over kept users; erasure physical " +
      "after compactions") {
    val root = Files.createTempDirectory("cooc_del").toString
    val m = new CoocMaintenance(spark, root, compactEvery = 2)
    m.processBatch(0L, chunk(0)); m.processBatch(1L, chunk(1))
    m.processBatch(2L, chunk(2))
    val delPred = col("user") % 10 === 3
    val delUsers = inter.where(delPred).select("user").distinct()
    assert(delUsers.count() > 0)
    m.deleteBatch(3L, delUsers)

    val kept = inter.where(!delPred)
    assert(counts(m.currentCounts()) == counts(Cooccurrence.coocCounts(kept)),
      "post-delete matrix must equal the batch matrix over kept users")
    assert(m.currentHistograms().where(delPred).count() == 0,
      "deleted users' standing histograms must fold to zero")

    // two eager compactions complete the physical erasure: the raw
    // delta folds (not just the aggregated views) hold nothing for the
    // deleted users, and no zero rows survive in the pair log
    m.compactNow(); m.compactNow()
    assert(counts(m.currentCounts()) == counts(Cooccurrence.coocCounts(kept)))
    assert(m.currentHistograms().where(delPred).count() == 0)
    val erased = delUsers.collect().map(_.get(0).asInstanceOf[Number].longValue).toSet
    assert(DiskRows.keysUnder(spark, root, Seq("users"), "user").intersect(erased).isEmpty,
      "no parquet file under users/ may still hold a deleted user")
  }

  test("crash before the batch marker (every relation shard written, " +
      "marker absent): a fresh instance reads none of them; replay converges") {
    val root = Files.createTempDirectory("cooc_torn").toString
    val m = new CoocMaintenance(spark, root, compactEvery = 4)
    (0 until 3).foreach(c => m.processBatch(c.toLong, chunk(c)))
    // the state a death just before batch 2's one marker leaves behind:
    // both relation shards durable, no marker
    assert(new java.io.File(s"$root/meta/2").delete())
    assert(Seq("pairs", "users").forall(r =>
      new java.io.File(s"$root/$r/delta/2/_SUCCESS").exists))
    val m2 = new CoocMaintenance(spark, root, compactEvery = 4)
    assert(!m2.isCommitted(2L), "the marker is the only record of a commit")
    val firstTwo = chunk(0).unionByName(chunk(1))
    assert(counts(m2.currentCounts()) == counts(Cooccurrence.coocCounts(firstTwo)),
      "the unmarked pair shard must not be read")
    def histos(df: DataFrame) = df.select("user", "item", "n").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    assert(histos(m2.currentHistograms()) ==
      histos(Cooccurrence.perUserItemCounts(firstTwo)),
      "the unmarked user shard must not be read")
    // the replay recomputes batch 2's pair delta from the pre-batch user
    // fold and overwrites both shards
    m2.processBatch(2L, chunk(2))
    assert(counts(m2.currentCounts()) == counts(Cooccurrence.coocCounts(inter)))
  }

  test("batch-split invariance: 2-way and 5-way drains agree exactly") {
    def drain(of: Int): Map[(Int, Int), Long] = {
      val root = Files.createTempDirectory(s"cooc_split$of").toString
      val m = new CoocMaintenance(spark, root, compactEvery = 3)
      (0 until of).foreach(c => m.processBatch(c.toLong, chunk(c, of)))
      counts(m.currentCounts())
    }
    val expect = counts(Cooccurrence.coocCounts(inter))
    assert(drain(2) == expect)
    assert(drain(5) == expect)
  }
}
