package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.{Cooccurrence, Sampling}
import graft.operators.Sampling.Interaction
import graft.streaming.{ReservoirStream, StreamingCooc, StreamingOps}

/**
 * Streaming semantics across REAL microbatch boundaries (MemoryStream):
 * the incremental pipeline must be batching-invariant — the accumulated
 * result after N microbatches equals the one-shot batch result.
 */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  @transient private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Interactions sorted by ts, split into n contiguous chunks. */
  private def chunks(n: Int): Seq[Seq[Interaction]] = {
    val sp = spark; import sp.implicits._
    val all = Cooccurrence.interactions(spark, sfDir)
      .select(col("user").cast("int"), col("item").cast("int"), unix_millis(col("ts")))
      .as[(Int, Int, Long)].collect()
      .map { case (u, i, t) => Interaction(u, i, t) }
      .sortBy(e => (e.ts, e.user, e.item)).toSeq
    val sz = (all.size + n - 1) / n
    all.grouped(sz).toSeq
  }

  test("foreachBatch incremental pipeline over 3 microbatches == one-shot batch counts") {
    val sp = spark; import sp.implicits._
    val st = new StreamingCooc.State(spark)
    chunks(3).zipWithIndex.foreach { case (chunk, i) =>
      StreamingCooc.processBatch(st, chunk.toDS(), i.toLong, 1000000, 1000000, 42L)
    }
    val streamed = st.deltas.groupBy("item", "other").agg(sum("inc").as("cnt"))
      .where(col("cnt") > 0).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val batch = Cooccurrence.coocCounts(Cooccurrence.interactions(spark, sfDir))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
  }

  /** sf0.001's interactions grouped by event-time window, in
    * window order (window = ts / windowMs, the batch loop's rule). */
  private def windowBatches(windowMs: Long): Seq[Seq[Interaction]] =
    chunks(1).flatten.groupBy(_.ts / windowMs).toSeq.sortBy(_._1).map(_._2)

  private def cellMap(counts: DataFrame): Map[(Int, Int), Long] =
    counts.collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap

  test("binding cuts, one window per microbatch: counts and counters == the batch loop") {
    val sp = spark; import sp.implicits._
    // sf0.001: 1,000 events, 100 items, 15 users over 30 days. fMax 3 drops
    // item interactions; kMax 4 makes every user's reservoir replace and
    // refund
    val (fMax, kMax, seed, dayMs) = (3, 4, 42L, 86400000L)
    val inter = Cooccurrence.interactions(spark, sfDir)
    val mBatch = new Sampling.PipelineMetrics(spark.sparkContext)
    Sampling.sampledCoocDeltas(inter, fMax, kMax, seed, dayMs, Some(mBatch)).count()
    val batch = cellMap(Sampling.sampledCoocCounts(inter, fMax, kMax, seed, dayMs))

    val mStream = new Sampling.PipelineMetrics(spark.sparkContext)
    val st = new StreamingCooc.State(spark)
    val windows = windowBatches(dayMs)
    windows.zipWithIndex.foreach { case (b, i) =>
      StreamingCooc.processBatch(st, b.toDS(), i.toLong, fMax, kMax, seed, Some(mStream))
    }
    val streamed = cellMap(st.deltas.groupBy("item", "other").agg(sum("inc").as("cnt"))
      .where(col("cnt") > 0))
    assert(windows.size > 20)
    assert(streamed == batch)
    assert(mStream.droppedInteractions.value > 0L, "item cut never dropped")
    assert(mStream.feedbackElements.value > 0L, "reservoir never refunded")
    assert(st.deltas.where(col("inc") < 0).count() > 0L, "reservoir never replaced")
    assert(mStream.itemLateElements.value == 0L) // window order: nothing is late
    Seq[Sampling.PipelineMetrics => org.apache.spark.util.LongAccumulator](
      _.sampledInteractions, _.droppedInteractions, _.feedbackElements,
      _.observedCooccurrences).foreach { acc =>
      assert(acc(mStream).value == acc(mBatch).value,
        s"${acc(mStream).name.get}: stream ${acc(mStream).value} != batch ${acc(mBatch).value}")
    }
  }

  test("processBatch submits one Spark job per microbatch, two with metrics") {
    val sp = spark; import sp.implicits._
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val batches = windowBatches(7L * 86400000L).map(_.toDS())
    def jobsPerBatch(metrics: Option[Sampling.PipelineMetrics]): Seq[Int] = {
      val st = new StreamingCooc.State(spark)
      batches.zipWithIndex.map { case (b, i) =>
        org.apache.spark.sql.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext)
        jobs.set(0)
        StreamingCooc.processBatch(st, b, i.toLong, 3, 4, 42L, metrics)
        org.apache.spark.sql.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext)
        jobs.get()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val plain = jobsPerBatch(None)
      assert(plain.forall(_ == 1), s"jobs per batch without metrics: $plain")
      val instrumented = jobsPerBatch(Some(new Sampling.PipelineMetrics(spark.sparkContext)))
      assert(instrumented.forall(_ == 2), s"jobs per batch with metrics: $instrumented")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("processBatch caches at most one RDD per batch plus the latest step output") {
    val sp = spark; import sp.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val st = new StreamingCooc.State(spark)
    val batches = windowBatches(7L * 86400000L)
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingCooc.processBatch(st, b.toDS(), i.toLong, 3, 4, 42L)
    }
    val held = (sc.getPersistentRDDs.keySet -- before).size
    assert(held <= batches.size + 1, s"$held RDDs cached after ${batches.size} batches")
    // the released step outputs are never read again: the matrix still rescores
    assert(StreamingCooc.rescore(st, 5).count() > 0L)
    // and a state that saw no batch rescores to nothing
    assert(StreamingCooc.rescore(new StreamingCooc.State(spark), 5).count() == 0L)
  }

  /** The binding-cuts fixture's streamed state: sf0.001, one day per
    * microbatch, fMax 3, kMax 4. */
  private lazy val bindingCutsState: StreamingCooc.State = {
    val sp = spark; import sp.implicits._
    val st = new StreamingCooc.State(spark)
    windowBatches(86400000L).zipWithIndex.foreach { case (b, i) =>
      StreamingCooc.processBatch(st, b.toDS(), i.toLong, 3, 4, 42L)
    }
    st
  }

  /** The Catalyst rescore over the same netted matrix. */
  private def rescoreOracle(st: StreamingCooc.State, k: Int): DataFrame =
    Cooccurrence.llrTopKFromCounts(st.deltas.groupBy(col("item"), col("other"))
      .agg(sum(col("inc")).as("cnt")).where(col("cnt") > 0), k)

  private def assertRescoreParity(st: StreamingCooc.State, k: Int): Unit = {
    val got = StreamingCooc.rescore(st, k)
    val want = rescoreOracle(st, k)
    assert(got.schema == want.schema)
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    assert(g == w, s"k=$k: ${g.size} rows vs the oracle's ${w.size}; first difference " +
      g.zipAll(w, null, null).find { case (a, b) => a != b })
  }

  test("rescore == llrTopKFromCounts over the netted deltas, row for row (binding cuts)") {
    val st = bindingCutsState
    assert(st.deltas.where(col("inc") < 0).count() > 0L, "reservoir never replaced")
    Seq(1, 3, 10).foreach(assertRescoreParity(st, _))
  }

  test("rescore == llrTopKFromCounts on ties, short rows, dropped and zero cells, NaN, empty") {
    val sp = spark; import sp.implicits._
    import graft.operators.Sampling.CoocDelta
    def sym(a: Int, b: Int, n: Int) = Seq(CoocDelta(a, b, n), CoocDelta(b, a, n))
    val st = new StreamingCooc.State(spark)
    st.deltas = (
      // item 1 co-occurs once with 2..5, which are alike: four tied scores
      (2 to 5).flatMap(sym(1, _, 1)) ++
      // a two-cell row (shorter than K) and a cell split over increments
      sym(6, 7, 2) ++ sym(6, 8, 1) ++ Seq(CoocDelta(6, 7, 1), CoocDelta(7, 6, 1)) ++
      // asymmetric: item 9 points at 99, which has no row -> dropped
      Seq(CoocDelta(9, 99, 3), CoocDelta(9, 2, 1)) ++
      // a cell that nets to 0 is not in the matrix
      Seq(CoocDelta(1, 8, 2), CoocDelta(1, 8, -2)) ++
      // k21 < 0 (row 11 is lighter than cell (10, 11)): an NaN score
      Seq(CoocDelta(10, 11, 5), CoocDelta(11, 10, 1)) ++ sym(10, 12, 1)
    ).toDS()
    Seq(1, 2, 3, 10).foreach(assertRescoreParity(st, _))
    val top = StreamingCooc.rescore(st, 10).collect()
    assert(!top.exists(r => r.getInt(0) == 9 && r.getInt(2) == 99))
    assert(!top.exists(r => r.getInt(0) == 1 && r.getInt(2) == 8))
    assert(top.filter(_.getInt(0) == 1).map(_.getInt(2)).toSeq == Seq(2, 3, 4, 5))
    assert(top.exists(r => r.getInt(0) == 10 && r.getDouble(3).isNaN))
    assertRescoreParity(new StreamingCooc.State(spark), 5)
  }

  test("rescore submits at most two Spark jobs and caches nothing, in every mode") {
    val sc = spark.sparkContext
    val st = bindingCutsState
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      for (metrics <- Seq(false, true); dev <- Seq(false, true)) {
        org.apache.spark.sql.graftbridge.ListenerBridge.waitUntilEmpty(sc)
        val cached = sc.getPersistentRDDs.size
        jobs.set(0)
        val m = if (metrics) Some(new Sampling.PipelineMetrics(sc)) else None
        assert(StreamingCooc.rescore(st, 10, devReconcile = dev, metrics = m).collect().nonEmpty)
        org.apache.spark.sql.graftbridge.ListenerBridge.waitUntilEmpty(sc)
        assert(jobs.get() <= 2, s"metrics=$metrics devReconcile=$dev: ${jobs.get()} jobs")
        assert(sc.getPersistentRDDs.size <= cached,
          s"metrics=$metrics devReconcile=$dev: ${sc.getPersistentRDDs.size - cached} RDDs left cached")
      }
    } finally sc.removeSparkListener(listener)
  }

  test("late/rescored accumulator parity: known late totals, user-late 0, rescored = matrix items") {
    val sp = spark; import sp.implicits._
    val m = new graft.operators.Sampling.PipelineMetrics(spark.sparkContext)
    val st = new StreamingCooc.State(spark)
    // batch 0: user 1 on items 10 (ts=100) and 20 (ts=200) -> wm 200
    // batch 1: ts=150 is late (<= 200); ts=250 on-time -> wm 250
    // batch 2: ts=250 is late (<= 250, reference uses <=); ts=300 on-time
    val batches = Seq(
      Seq(Interaction(1, 10, 100L), Interaction(1, 20, 200L)),
      Seq(Interaction(1, 99, 150L), Interaction(1, 30, 250L)),
      Seq(Interaction(2, 99, 250L), Interaction(2, 10, 300L)))
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingCooc.processBatch(st, b.toDS(), i.toLong, 1000000, 1000000, 42L, Some(m))
    }
    assert(m.itemLateElements.value == 2L, s"item-late ${m.itemLateElements.value}")
    assert(m.userLateElements.value == 0L) // structurally 0 under microbatch sequencing
    // late item 99 must NOT enter the matrix; on-time items 10,20,30 must
    val res = StreamingCooc.rescore(st, 10, metrics = Some(m))
    val items = res.select(col("item")).distinct().collect().map(_.getInt(0)).toSet
    assert(items == Set(10, 20, 30), s"matrix items $items")
    assert(m.rescoredItems.value == 3L, s"rescored ${m.rescoredItems.value}")
    // one forwarded split per non-empty batch (maxFilesPerTrigger=1 contract)
    assert(m.numSplits.value == 3L, s"splits ${m.numSplits.value}")
    // net row-sum mass: items 10/20/30 each co-occur with the other two
    // once -> 6 ordered-pair cells of cnt 1
    assert(m.rowSumMass.value == 6L, s"row-sum mass ${m.rowSumMass.value}")
  }

  test("transformWithState reservoir across 3 MemoryStream batches == batch C matrix (kMax >= n)") {
    val sp = spark; import sp.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Interaction]
    val inter = ms.toDF()
      .select(col("user"), col("item"), timestamp_millis(col("ts")).as("ts"))
    val deltas = ReservoirStream.deltas(inter, kMax = 1000000, seed = 42L)
    val name = s"resv_spec_${System.nanoTime()}"
    val q = deltas.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    chunks(3).foreach { c => ms.addData(c); q.processAllAvailable() }
    q.stop()
    val streamed = ReservoirStream.countsFromDeltas(spark.table(name))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val batch = Cooccurrence.coocCounts(Cooccurrence.interactions(spark, sfDir))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
  }

  test("transformWithState item-cut across 3 ts-ordered batches == batch first-fMax selection") {
    val sp = spark; import sp.implicits._
    implicit val sq = spark.sqlContext
    import graft.streaming.{ItemCutProcessor => ICP}
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode}
    val fMax = 7
    val rows = Cooccurrence.interactions(spark, sfDir)
      .select(col("item").cast("int"), col("user").cast("int"), unix_millis(col("ts")))
      .as[(Int, Int, Long)].collect()
      .sortBy { case (_, _, t) => t }
      .zipWithIndex
      .map { case ((i, u, t), id) => ICP.EvRow(i, id.toLong, u, t) }
      .toSeq
    val ms = MemoryStream[ICP.EvRow]
    val out = ms.toDS()
      .groupByKey(_.item)
      .transformWithState(new graft.streaming.ItemCutProcessor(fMax),
        TimeMode.None(), OM.Append())
    val name = s"icut_spec_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(OM.Append()).start()
    val sz = (rows.size + 2) / 3
    rows.grouped(sz).foreach { c => ms.addData(c); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table(name).select("item", "event_id")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    // batch oracle: first fMax per item by (tsMs, event_id).
    // (.values first — flatMap on a Map of pairs would rebuild a Map and
    // keep one entry per item)
    val expected = rows.groupBy(_.item).values.flatMap { evs =>
      evs.sortBy(e => (e.tsMs, e.event_id)).take(fMax).map(e => (e.item, e.event_id))
    }.toSet
    assert(streamed == expected)
    assert(streamed.nonEmpty)
  }

  test("streaming reservoir state is bounded by kMax") {
    val sp = spark; import sp.implicits._
    implicit val sq = spark.sqlContext
    val kMax = 5
    val ms = MemoryStream[Interaction]
    val inter = ms.toDF()
      .select(col("user"), col("item"), timestamp_millis(col("ts")).as("ts"))
    val deltas = ReservoirStream.deltas(inter, kMax = kMax, seed = 42L)
    val name = s"resv_bound_${System.nanoTime()}"
    val q = deltas.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    chunks(2).foreach { c => ms.addData(c); q.processAllAvailable() }
    q.stop()
    // every delta burst for one event pairs with at most kMax-1 others ->
    // per (item,other) cell counts stay small; total mass bounded
    val total = spark.table(name).agg(sum(abs(col("inc")))).head.getLong(0)
    val nEvents = Cooccurrence.interactions(spark, sfDir).count()
    assert(total <= 2L * kMax * nEvents)
  }

  test("transformWithState top-K across 3 batches: max-version rows == batch window-rank") {
    val sp = spark; import sp.implicits._
    implicit val sq = spark.sqlContext
    import graft.streaming.{TopKProcessor => TKP}
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode}
    val k = 4
    val rows = graft.operators.Tables.events(spark, sfDir)
      .select(get_json_object(col("props"), "$.k").cast("int").as("item"),
        col("event_id"), col("value"))
      .as[(Int, Long, Double)].collect()
      .map { case (i, id, v) => TKP.Scored(i, id, v) }.toSeq
    val ms = MemoryStream[TKP.Scored]
    val out = ms.toDS()
      .groupByKey(_.item)
      .transformWithState(new graft.streaming.TopKProcessor(k),
        TimeMode.None(), OM.Append())
    val name = s"stopk_spec_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(OM.Append()).start()
    val sz = (rows.size + 2) / 3
    rows.grouped(sz).foreach { c => ms.addData(c); q.processAllAvailable() }
    q.stop()
    val t = spark.table(name)
    val wmax = org.apache.spark.sql.expressions.Window.partitionBy(col("item"))
    val streamed = t.withColumn("vmax", max(col("version")).over(wmax))
      .where(col("version") === col("vmax"))
      .select(col("item"), col("id"), col("score"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = rows.groupBy(_.item).values.flatMap { evs =>
      evs.sortBy(e => (-e.score, e.id)).take(k).map(e => (e.item, e.id, e.score))
    }.toSet
    assert(streamed == expected)
    assert(streamed.nonEmpty)
  }

  test("multi-file stream honors mod-time file order: older file first, newer file's earlier events late-dropped") {
    // reference contract (ContinuousFileMonitoringFunction.java:266-294):
    // splits forward in modification-time order, files never split. Files
    // A and B (older mtimes) hold day-2 events; file C (newest) holds
    // day-1 events. maxFilesPerTrigger=1 + latestFirst=false must ingest
    // A, B, then C — and since Spark filters late events with the
    // PREVIOUS batch's watermark (split late/eviction watermarks), C's
    // day-1 rows are judged against the watermark established after A
    // and dropped. In a single combined batch they would survive.
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val dir = Files.createTempDirectory("graft_order").toString
    def writeOne(rows: Seq[(Long, Long, Long, String, Double, String)],
        name: String, mtimeMs: Long): Unit = {
      val sp = spark; import sp.implicits._
      val stage = Files.createTempDirectory("graft_order_stage").toString
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = Files.list(Paths.get(stage)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val target = Paths.get(dir, name)
      Files.copy(part, target)
      Files.setLastModifiedTime(target, FileTime.fromMillis(mtimeMs))
    }
    val usPerDay = 86400L * 1000000L
    def nanos(day: Long, sec: Long) = (day * usPerDay + sec * 1000000L) * 1000L
    val now = System.currentTimeMillis()
    // file A (OLDER mtime): 3 events on day 2
    writeOne(Seq(
      (1L, nanos(2, 10), 1L, "view", 1.0, "{}"),
      (2L, nanos(2, 20), 2L, "view", 2.0, "{}"),
      (3L, nanos(2, 30), 3L, "click", 3.0, "{}")), "a.parquet", now - 60000L)
    // file B (middle mtime): 2 more day-2 events — advances the batch
    // index so C meets an already-propagated late-events watermark
    writeOne(Seq(
      (6L, nanos(2, 40), 1L, "view", 6.0, "{}"),
      (7L, nanos(2, 50), 2L, "view", 7.0, "{}")), "b.parquet", now - 30000L)
    // file C (NEWEST mtime): 2 events on day 1 — late once A+B were seen
    writeOne(Seq(
      (4L, nanos(1, 10), 1L, "view", 4.0, "{}"),
      (5L, nanos(1, 20), 2L, "view", 5.0, "{}")), "c.parquet", now)
    val agg = StreamingOps.eventsStream(spark, dir, glob = "*.parquet")
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"), col("n"))
    // Update mode: the sink appends one row per updated window per batch
    val upd = StreamingOps.runToMemory(agg, s"order_${System.nanoTime()}",
        OutputMode.Update()).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(!upd.exists(_._1 == "1970-01-02"),
      s"day-1 events from the newest file must be late-dropped, got ${upd.toSeq}")
    assert(upd.filter(_._1 == "1970-01-03").map(_._2).max == 5L,
      s"day-2 window must see both on-time files, got ${upd.toSeq}")
  }

  test("DEV row-sum reconciliation catches a negative cooc cell; passes on a consistent matrix") {
    val sp = spark; import sp.implicits._
    import graft.operators.Sampling.CoocDelta
    val good = new StreamingCooc.State(spark)
    good.deltas = Seq(CoocDelta(1, 2, 1), CoocDelta(2, 1, 1)).toDS()
    assert(StreamingCooc.rescore(good, 5, devReconcile = true).count() >= 0L)
    val bad = new StreamingCooc.State(spark)
    // cell (1,2) nets to -1: filtered from the matrix but present in the
    // delta row sums -> reconciliation must fail loudly
    bad.deltas = Seq(CoocDelta(1, 2, 1), CoocDelta(1, 2, -2), CoocDelta(3, 4, 1)).toDS()
    val ex = intercept[IllegalArgumentException] {
      StreamingCooc.rescore(bad, 5, devReconcile = true).count()
    }
    assert(ex.getMessage.contains("reconciliation"))
  }

  test("streaming windowed agg (update mode, AvailableNow) == batch day agg") {
    val streamed = StreamingOps.streamWindowedAgg(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val batch = graft.operators.Tables.events(spark, sfDir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(20, 4))).cast("double").as("s"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(streamed == batch)
  }
}
