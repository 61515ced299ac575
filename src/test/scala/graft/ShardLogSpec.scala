package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.Dedup
import graft.streaming.{AnnMaintenance, CoocMaintenance, IndexMaintenance, LexicalIndexMaintenance}

/**
 * SERVE-WHILE-COMPACT contract of the shared shard log (r15 verdict #1):
 * a serving plan resolved from the cached commit state keeps executing —
 * no FileNotFoundException, bytes identical to its plan-time read set —
 * across ONE concurrent compaction, because covered shards and the
 * superseded snapshot are swept one compaction cycle late. Exercised
 * through both fold semantics: append (AnnMaintenance) and latest-wins
 * delta (IndexMaintenance). The multi-relation cases run through the
 * lexical index (postings, doclens, positions) and the co-occurrence
 * matrix (pairs, users): one marker per batch, one basemeta marker per
 * compaction, one tombstone per delete, whatever the relation count.
 */
class ShardLogSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  /** 30 deterministic 8-dim vectors; batch b = vec_id % 3 == b. */
  private def embsAll: DataFrame = {
    val rows = (0L until 30L).map { i =>
      val blob = (i % 4).toInt
      val base = Array.fill(8)(0.05f)
      base(blob) = (1.0 + 0.002 * i).toFloat
      base(blob + 4) = (0.5 + 0.003 * i).toFloat
      (i, base.toSeq)
    }
    spark.createDataFrame(rows).toDF("vec_id", "embedding")
  }

  private def batch(b: Int): DataFrame = embsAll.where(col("vec_id") % 3 === b)

  private def pairs(df: DataFrame): Set[(Long, Int)] =
    df.select(col("vec_id"), col("cluster")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet

  test("append fold: a serve plan built before a compaction executes after it") {
    val root = Files.createTempDirectory("slog_swc_ann").toString
    val m = new AnnMaintenance(spark, root, nLists = 4, iters = 2, compactEvery = 2)
    m.processBatch(0L, batch(0))
    // plan resolved NOW: read set = shard assign/0 only
    val planned = m.currentIndex()
    val asOfPlan = pairs(planned)
    // this commit triggers the compaction at batch 1 — under the old
    // protocol it deleted assign/0 and the planned read failed at
    // execution with FileNotFoundException
    m.processBatch(1L, batch(1))
    assert(m.coveredUpTo.contains(1L), "compaction at batch 1 must have run")
    assert(pairs(planned) == asOfPlan,
      "the pre-compaction plan must return exactly its plan-time rows")

    // a plan spanning snapshot + tail likewise survives the next
    // compaction: read set = base/1 + assign/2; the compaction at 3
    // sweeps only what snapshot 1 covered
    m.processBatch(2L, batch(2))
    val planned2 = m.currentIndex()
    val asOfPlan2 = pairs(planned2)
    m.processBatch(3L, spark.createDataFrame(
      Seq((100L, Seq.fill(8)(0.05f)))).toDF("vec_id", "embedding"))
    assert(m.coveredUpTo.contains(3L), "compaction at batch 3 must have run")
    assert(pairs(planned2) == asOfPlan2,
      "the snapshot+tail plan must survive the following compaction")
  }

  test("tombstones: delete masks immediately, compaction purges physically, " +
      "shards swept one cycle late") {
    val root = Files.createTempDirectory("slog_del").toString
    val m = new AnnMaintenance(spark, root, nLists = 4, iters = 2, compactEvery = 2)
    m.processBatch(0L, batch(0))
    m.processBatch(1L, batch(1)) // compaction at 1
    m.processBatch(2L, batch(2))
    val before = pairs(m.currentIndex())
    val delSet = before.map(_._1).filter(_ % 7 == 3)
    assert(delSet.nonEmpty, "the delete set must be non-trivial")

    def delKeys = spark.createDataFrame(delSet.toSeq.map(Tuple1(_)))
      .toDF("vec_id")
    m.deleteBatch(3L, delKeys) // count=4 -> covering compaction at 3
    assert(m.coveredUpTo.contains(3L), "the delete batch lands on the cadence")
    // 1) serve reflects the delete
    assert(pairs(m.currentIndex()) == before.filterNot(p => delSet(p._1)))
    // 2) the covering snapshot PHYSICALLY excludes the rows — scan the
    //    snapshot parquet straight off disk, bypassing the fold
    val baseIds = spark.read.parquet(s"$root/base/3")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(baseIds.intersect(delSet).isEmpty,
      "deleted vec_ids must not exist in the covering snapshot")
    // 3) the tombstone shard survives its covering compaction by ONE
    //    cycle (a plan built before it may reference the file)...
    val delsDir = new java.io.File(s"$root/dels")
    assert(delsDir.listFiles().map(_.getName).contains("3"),
      "the tombstone key shard is swept one cycle late, not eagerly")
    // ...and two eager compactions complete the physical purge: nothing
    //    under the root mentions the deleted keys anywhere
    m.processBatch(4L, spark.createDataFrame(
      Seq((200L, Seq.fill(8)(0.05f)))).toDF("vec_id", "embedding"))
    m.compactNow(); m.compactNow()
    assert(!delsDir.exists() || delsDir.listFiles().isEmpty,
      "after two compactions the tombstone shards are gone")
    val survivors = DiskRows.keysUnder(spark, root, Seq("assign", "base", "dels"), "vec_id")
    assert(survivors.intersect(delSet).isEmpty,
      "no parquet file under the root may still hold a deleted vec_id")
  }

  test("tombstones: a serve plan built before the delete's covering " +
      "compaction still executes, returning plan-time rows") {
    val root = Files.createTempDirectory("slog_del_swc").toString
    val m = new AnnMaintenance(spark, root, nLists = 4, iters = 2, compactEvery = 2)
    m.processBatch(0L, batch(0))
    m.processBatch(1L, batch(1)) // compaction at 1
    m.processBatch(2L, batch(2))
    val planned = m.currentIndex() // read set: base/1 + assign/2
    val asOfPlan = pairs(planned)
    val delKeys = spark.createDataFrame(Seq(Tuple1(3L), Tuple1(10L)))
      .toDF("vec_id")
    m.deleteBatch(3L, delKeys) // covering compaction at 3
    assert(m.coveredUpTo.contains(3L))
    assert(pairs(planned) == asOfPlan,
      "the pre-delete plan must still see the deleted rows (its plan-time set)")
    assert(pairs(m.currentIndex()) == asOfPlan.filterNot(p => Set(3L, 10L)(p._1)),
      "a fresh plan must not")
  }

  test("tombstones: kill/resume across a delete batch is byte-identical") {
    val rootA = Files.createTempDirectory("slog_del_resume_a").toString
    val rootB = Files.createTempDirectory("slog_del_resume_b").toString
    def delKeys = spark.createDataFrame(Seq(Tuple1(6L), Tuple1(13L)))
      .toDF("vec_id")

    // uninterrupted run
    val a = new AnnMaintenance(spark, rootA, nLists = 4, iters = 2, compactEvery = 3)
    a.processBatch(0L, batch(0)); a.processBatch(1L, batch(1))
    a.deleteBatch(2L, delKeys); a.processBatch(3L, batch(2))

    // killed after the delete committed; a NEW instance (fresh caches —
    // the restart) replays the delete (short-circuits) and continues
    val b1 = new AnnMaintenance(spark, rootB, nLists = 4, iters = 2, compactEvery = 3)
    b1.processBatch(0L, batch(0)); b1.processBatch(1L, batch(1))
    b1.deleteBatch(2L, delKeys)
    val b2 = new AnnMaintenance(spark, rootB, nLists = 4, iters = 2, compactEvery = 3)
    b2.deleteBatch(2L, delKeys) // replay of the committed delete: no-op
    b2.processBatch(3L, batch(2))

    assert(pairs(a.currentIndex()) == pairs(b2.currentIndex()),
      "resumed run must equal the uninterrupted run")
    assert(pairs(a.currentIndex()).forall(p => p._1 != 6L && p._1 != 13L))
  }

  test("delta fold: a standing-index plan built before a compaction executes after it") {
    val sfDir = "/root/testdata/sf0.001"
    def docs: DataFrame = graft.operators.Tables.table(spark, sfDir, "documents")
    def chunk(c: Int): DataFrame = docs.where(pmod(col("doc_id"), lit(3)) === c)
    def comps(df: DataFrame): Set[(Long, Long)] =
      df.select("node", "comp").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    val root = Files.createTempDirectory("slog_swc_idx").toString
    val m = new IndexMaintenance(spark, root,
      IndexMaintenance.Simhash(3), compactEvery = 2)
    m.processBatch(0L, chunk(0))
    val planned = m.currentIndex() // read set = delta/0 only
    val asOfPlan = comps(planned)
    m.processBatch(1L, chunk(1))   // compaction at batch 1
    assert(m.coveredUpTo.contains(1L), "compaction at batch 1 must have run")
    assert(comps(planned) == asOfPlan,
      "the pre-compaction delta plan must return its plan-time fold")
    // and the live fold advanced independently of the old plan
    assert(comps(m.currentIndex()) ==
      comps(Dedup.simhashComponents(
        docs.where(pmod(col("doc_id"), lit(3)) =!= 2), 3)))
  }

  private val words = Vector("table", "scan", "key", "value", "row", "merge")

  /** Batch b of a tiny corpus: docs 3b, 3b+1, 3b+2. */
  private def lexBatch(b: Int): DataFrame = {
    val session = spark; import session.implicits._
    (0 until 3).map { i =>
      val id = b * 3 + i
      (id.toLong, (0 until 4).map(j => words((id + j * j) % words.size)).mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def docIds(df: DataFrame): Set[Long] =
    df.select("doc_id").distinct().collect().map(_.getLong(0)).toSet

  private def lexRelations(m: LexicalIndexMaintenance): Seq[DataFrame] =
    Seq(m.currentPostings(), m.currentDoclens(), m.currentPositions())

  private def numeric(dir: java.io.File): Set[String] =
    Option(dir.list()).toSeq.flatten.filter(_.forall(_.isDigit)).toSet

  test("multi-relation batch is all-or-nothing: without its marker no " +
      "relation shows the batch, with it every relation does") {
    val root = Files.createTempDirectory("slog_multi").toString
    val m = new LexicalIndexMaintenance(spark, root, compactEvery = 8, positions = true)
    m.processBatch(0L, lexBatch(0)); m.processBatch(1L, lexBatch(1))
    assert(lexRelations(m).map(docIds).forall(_ == (0L until 6L).toSet))
    // drop batch 1's one marker: all three relation shards stay on disk
    assert(new java.io.File(s"$root/meta/1").delete())
    val fresh = new LexicalIndexMaintenance(spark, root, compactEvery = 8, positions = true)
    assert(!fresh.isCommitted(1L))
    assert(lexRelations(fresh).map(docIds).forall(_ == (0L until 3L).toSet),
      "an unmarked batch must be invisible in every relation")
    fresh.processBatch(1L, lexBatch(1))
    assert(lexRelations(fresh).map(docIds).forall(_ == (0L until 6L).toSet))
  }

  test("one compaction snapshots every relation under one basemeta marker") {
    val root = Files.createTempDirectory("slog_multi_compact").toString
    val m = new LexicalIndexMaintenance(spark, root, compactEvery = 2, positions = true)
    m.processBatch(0L, lexBatch(0)); m.processBatch(1L, lexBatch(1))
    assert(m.coveredUpTo.contains(1L))
    assert(numeric(new java.io.File(s"$root/basemeta")) == Set("1"))
    Seq("postings", "doclens", "positions").foreach { r =>
      assert(new java.io.File(s"$root/$r/base/1/_SUCCESS").exists, s"$r snapshot missing")
      assert(!new java.io.File(s"$root/$r/basemeta").exists, s"$r has its own basemeta")
    }
    val fresh = new LexicalIndexMaintenance(spark, root, compactEvery = 2, positions = true)
    assert(fresh.coveredUpTo.contains(1L) && fresh.committedCount == 2L)
    assert(lexRelations(fresh).map(docIds).forall(_ == (0L until 6L).toSet))
  }

  test("one tombstone masks every relation") {
    val root = Files.createTempDirectory("slog_multi_del").toString
    val m = new LexicalIndexMaintenance(spark, root, compactEvery = 8, positions = true)
    m.processBatch(0L, lexBatch(0)); m.processBatch(1L, lexBatch(1))
    val session = spark; import session.implicits._
    m.deleteBatch(2L, Seq(1L, 4L).toDF("doc_id"))
    assert(numeric(new java.io.File(s"$root/dels")) == Set("2"))
    Seq("postings", "doclens", "positions").foreach { r =>
      assert(!new java.io.File(s"$root/$r/dels").exists, s"$r has its own tombstones")
    }
    val want = (0L until 6L).toSet -- Set(1L, 4L)
    assert(lexRelations(m).map(docIds).forall(_ == want))
    val fresh = new LexicalIndexMaintenance(spark, root, compactEvery = 8, positions = true)
    assert(lexRelations(fresh).map(docIds).forall(_ == want))
  }

  test("after N ingest batches the root's meta/ holds N markers and no " +
      "relation directory has a meta/") {
    val session = spark; import session.implicits._
    val root = Files.createTempDirectory("slog_multi_meta").toString
    val m = new CoocMaintenance(spark, root, compactEvery = 8)
    (0 until 3).foreach { b =>
      m.processBatch(b.toLong, (0 until 4).map(u => (u, (u + b) % 5)).toDF("user", "item"))
    }
    assert(numeric(new java.io.File(s"$root/meta")) == Set("0", "1", "2"))
    Seq("pairs", "users").foreach { r =>
      assert(!new java.io.File(s"$root/$r/meta").exists, s"$r has its own marker log")
      assert(numeric(new java.io.File(s"$root/$r/delta")) == Set("0", "1", "2"))
    }
    assert(m.committedCount == 3L)
  }
}
