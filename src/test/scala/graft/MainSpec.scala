package graft

import java.nio.file.Files
import java.util.concurrent.TimeUnit

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** CLI surface: config parsing (reference Configuration.java semantics)
  * and the end-to-end CSV job entry point. */
class MainSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  test("config defaults mirror the reference (ic=500, uc=500, k=10, unit=ms)") {
    val c = Config.parse(Array("-i", "/x", "-ws", "3600000")).toOption.get
    assert(c.itemCut == 500 && c.userCut == 500 && c.topK == 10)
    assert(c.windowUnit == TimeUnit.MILLISECONDS && c.windowMs == 3600000L)
  }

  test("config full form, hex seed, window units") {
    val c = Config.parse(Array("--input", "/x", "--skip-cuts", "--item-cut", "7",
      "--user-cut", "9", "--top-k", "3", "--window-size", "2",
      "--window-unit", "DAYS", "--seed", "0xC0FFEE")).toOption.get
    assert(c.skipCuts && c.itemCut == 7 && c.userCut == 9 && c.topK == 3)
    assert(c.windowMs == 2L * 86400000L)
    assert(c.seed == 0xC0FFEEL)
  }

  test("config rejects missing input / unknown args") {
    assert(Config.parse(Array("-ws", "1")).isLeft)
    assert(Config.parse(Array("-i", "/x", "-ws", "1", "--bogus")).isLeft)
  }

  test("config accepts the reference's full default command line incl. -bt (Configuration.java:181-182)") {
    // buffer-timeout is accepted-and-ignored: Flink's network buffer
    // timeout has no analogue; the microbatch trigger interval plays
    // that latency/throughput role here
    val c = Config.parse(Array("-i", "/x", "-ic", "500", "-uc", "500", "-k", "10",
      "-ws", "3600000", "-wu", "MILLISECONDS", "-bt", "100", "-s", "42")).toOption.get
    assert(c.itemCut == 500 && c.topK == 10 && c.seed == 42L)
    val c2 = Config.parse(Array("-i", "/x", "-ws", "1", "--buffer-timeout", "5")).toOption.get
    assert(c2.windowMs == 1L)
  }

  test("malformed flag values produce the usage message, not a bare exception (r5 #8)") {
    for (bad <- Seq(
        Array("-i", "/x", "-ws", "1", "-bt", "nan"),
        Array("-i", "/x", "-ws", "1", "-ic", "many"),
        Array("-i", "/x", "-ws", "oops"),
        Array("-i", "/x", "-ws", "1", "-s", "0xZZ"),
        Array("-i", "/x", "-ws", "1", "-wu", "FORTNIGHTS"))) {
      val r = Config.parse(bad)
      assert(r.isLeft, s"expected Left for ${bad.mkString(" ")}")
      assert(r.swap.toOption.get.contains("usage:"),
        s"error must include usage for ${bad.mkString(" ")}")
    }
    assert(Config.parse(Array("-h")).isLeft) // help is also the usage path
  }

  test("end-to-end CSV job: known tiny dataset produces the expected top-K") {
    // users 1 and 2 both interact with items 10 and 20 -> strong cooc
    val lines = Seq(
      "1,10,1000", "1,20,2000", "2,10,3000", "2,20,4000", "3,30,5000")
    val dir = Files.createTempDirectory("graft_csv").toFile
    val f = new java.io.File(dir, "interactions.csv")
    Files.write(f.toPath, lines.mkString("\n").getBytes)
    val c = Config.parse(Array("-i", f.getAbsolutePath, "-sc", "-ws", "1",
      "-k", "5")).toOption.get
    val result = Main.run(spark, c).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    // items 10 and 20 co-occur (count 2); item 30 has no pairs
    val items = result.map(_._1).toSet
    assert(items == Set(10, 20))
    assert(result.filter(_._1 == 10).head._3 == 20)
    assert(result.filter(_._1 == 20).head._3 == 10)
    assert(result.forall(_._4 > 0.0))
  }

  test("streaming mode (-st) equals batch mode with skip-cuts; sampled streaming runs") {
    val lines = (1 to 30).flatMap(u => (1 to 8).map(i => s"$u,${i % 6},${u * 1000 + i * 10}"))
    val dir = Files.createTempDirectory("graft_csv_st").toFile
    val f = new java.io.File(dir, "i.csv")
    Files.write(f.toPath, lines.mkString("\n").getBytes)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSet
    val base = Config.parse(Array("-i", f.getAbsolutePath, "-sc", "-ws", "1", "-k", "5"))
      .toOption.get
    // streaming drain == batch planner on the same input (nocuts identity)
    assert(rows(Main.runStreaming(spark, base.copy(streaming = true)))
      == rows(Main.run(spark, base)))
    // sampled streaming mode (tight cuts, refunds per microbatch) runs
    val sampled = Config.parse(Array("-i", f.getAbsolutePath, "-ws", "1", "-wu", "HOURS",
      "-ic", "10", "-uc", "2", "-s", "42", "--streaming")).toOption.get
    assert(sampled.streaming && Main.runStreaming(spark, sampled).count() > 0)
  }

  test("-st -cp: a run KILLED mid-stream resumes from checkpoint to the uninterrupted result, exactly once") {
    // 4 files with distinct mod-times -> 4 deterministic microbatches
    // under maxFilesPerTrigger=1; tight cuts + fixed seed so the sampled
    // (stateful, RNG-keyed) path is what must survive the kill
    val lines = (1 to 24).flatMap(u => (1 to 6).map(i => s"$u,${i % 4},${u * 1000 + i * 10}"))
    val dir = Files.createTempDirectory("graft_resume").toFile
    lines.grouped(lines.size / 4 + 1).zipWithIndex.foreach { case (chunk, idx) =>
      val f = new java.io.File(dir, f"part$idx%02d.csv")
      Files.write(f.toPath, chunk.mkString("\n").getBytes)
      assert(f.setLastModified(1700000000000L + idx * 60000L))
    }
    def cfg(ckpt: String) = Config.parse(Array(
      "-i", dir.getAbsolutePath, "-st", "-cp", ckpt,
      "-ws", "1", "-wu", "HOURS", "-ic", "12", "-uc", "2", "-s", "42")).toOption.get
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSet

    // reference run: same config, fresh checkpoint, never interrupted
    val expected = rows(Main.runStreaming(spark,
      cfg(Files.createTempDirectory("graft_ckpt_ref").toString)))

    // interrupted run: crash AFTER batch 1's state snapshot commits but
    // BEFORE Spark commits its offsets — the exactly-once window
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val killed = intercept[Exception] {
      Main.runStreaming(spark, cfg(ckpt), onBatch = (id, _) =>
        if (id == 1) throw new RuntimeException("injected kill after batch 1"))
    }
    assert(killed.getMessage.contains("injected kill")
      || Option(killed.getCause).exists(_.getMessage.contains("injected kill")))

    // resume with the SAME checkpoint: batch 1 is re-delivered (offsets
    // were never committed) but must be SKIPPED (its effects are already
    // in the restored state); 2..3 process fresh
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Boolean)]()
    val resumed = rows(Main.runStreaming(spark, cfg(ckpt),
      onBatch = (id, processed) => seen.synchronized { seen += id -> processed; () }))
    assert(seen.toList == List(1L -> false, 2L -> true, 3L -> true),
      s"resume must replay-skip batch 1 and process only 2..3: $seen")
    assert(resumed == expected,
      "kill+resume must equal the uninterrupted run (sampled path, same seed)")
  }

  /** `files` CSV files of `lines` with distinct mod-times: one
    * deterministic microbatch each under maxFilesPerTrigger=1. */
  private def csvDir(prefix: String, lines: Seq[String], files: Int): java.io.File = {
    val dir = Files.createTempDirectory(prefix).toFile
    lines.grouped((lines.size + files - 1) / files).zipWithIndex.foreach { case (chunk, idx) =>
      val f = new java.io.File(dir, f"part$idx%02d.csv")
      Files.write(f.toPath, chunk.mkString("\n").getBytes)
      assert(f.setLastModified(1700000000000L + idx * 60000L))
    }
    dir
  }

  private def streamCfg(dir: java.io.File, ckpt: String, cuts: String*): Config =
    Config.parse(Array("-i", dir.getAbsolutePath, "-st", "-cp", ckpt,
      "-ws", "1", "-wu", "HOURS", "-s", "42") ++ cuts).toOption.get

  private def topK(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSet

  test("-st -cp: a kill after the first compacting batch resumes from the snapshot " +
      "to the uninterrupted result") {
    val batches = Main.CheckpointCompactEvery + 2
    val lines = (1 to 40).flatMap(u => (1 to 6).map(i => s"$u,${(u + i) % 7},${u * 1000 + i * 10}"))
    val dir = csvDir("graft_resume_compact", lines, batches)
    val cuts = Seq("-ic", "15", "-uc", "2")
    val expected = topK(Main.runStreaming(spark,
      streamCfg(dir, Files.createTempDirectory("graft_ckpt_ref").toString, cuts: _*)))
    // the first compaction runs inside the commit of batch compactEvery-1
    val compacting = Main.CheckpointCompactEvery - 1L
    val ckpt = Files.createTempDirectory("graft_ckpt_compact").toString
    intercept[Exception] {
      Main.runStreaming(spark, streamCfg(dir, ckpt, cuts: _*), onBatch = (id, _) =>
        if (id == compacting) throw new RuntimeException("injected kill"))
    }
    assert(new java.io.File(ckpt, s"graft-log/basemeta/$compacting").exists,
      "the killed run must have compacted before the kill")
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Boolean)]()
    val resumed = topK(Main.runStreaming(spark, streamCfg(dir, ckpt, cuts: _*),
      onBatch = (id, processed) => seen.synchronized { seen += id -> processed; () }))
    assert(seen.toList == (compacting -> false) +:
      (compacting + 1 until batches).map(_ -> true).toList, s"$seen")
    assert(resumed == expected)
  }

  test("-st -cp: an emptied newest commit marker still resumes to the uninterrupted result") {
    // a batch is committed exactly when its marker exists; the marker's
    // content is never parsed, so an empty one still commits its batch
    val lines = (1 to 12).flatMap(u => (1 to 4).map(i => s"$u,${i % 3},${u * 1000 + i * 10}"))
    val dir = csvDir("graft_corrupt", lines, 4)
    val ckpt = Files.createTempDirectory("graft_ckpt_corrupt").toString
    val full = topK(Main.runStreaming(spark, streamCfg(dir, ckpt, "-sc", "-k", "5")))
    assert(full.nonEmpty)
    val newest = java.nio.file.Paths.get(ckpt, "graft-log", "meta", "3")
    assert(Files.exists(newest))
    Files.write(newest, Array.empty[Byte])
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Boolean)]()
    val resumed = topK(Main.runStreaming(spark, streamCfg(dir, ckpt, "-sc", "-k", "5"),
      onBatch = (id, processed) => seen.synchronized { seen += id -> processed; () }))
    assert(seen.forall(!_._2), s"every batch was committed before the marker was emptied: $seen")
    assert(resumed == full)
  }

  test("-st -cp: a checkpoint of the retired graft-state layout is refused, not resumed") {
    val dir = csvDir("graft_legacy", Seq("1,10,1000", "1,20,2000", "2,10,3000"), 1)
    val ckpt = Files.createTempDirectory("graft_ckpt_legacy")
    Files.createDirectories(ckpt.resolve("graft-state/meta"))
    Files.write(ckpt.resolve("graft-state/meta/0"), """{"watermarkMs":0}""".getBytes)
    val e = intercept[IllegalStateException] {
      Main.runStreaming(spark, streamCfg(dir, ckpt.toString, "-sc"))
    }
    assert(e.getMessage.contains("retired layout") && e.getMessage.contains("graft-state"),
      e.getMessage)
    assert(!Files.exists(ckpt.resolve("graft-log")), "nothing may be written beside it")
  }

  test("sampled mode from CLI runs and respects cuts") {
    val lines = (1 to 50).flatMap(u => (1 to 10).map(i => s"$u,${i % 5},${u * 100 + i}"))
    val dir = Files.createTempDirectory("graft_csv2").toFile
    val f = new java.io.File(dir, "i.csv")
    Files.write(f.toPath, lines.mkString("\n").getBytes)
    val c = Config.parse(Array("-i", f.getAbsolutePath, "-ws", "1", "-wu", "HOURS",
      "-ic", "20", "-uc", "3", "-s", "42")).toOption.get
    val result = Main.run(spark, c)
    assert(result.count() > 0)
  }
}
