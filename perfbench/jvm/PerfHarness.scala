package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.concurrent.TimeUnit

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener, Trigger}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Config, Main, SparkEntry}
import graft.operators.{Cooccurrence, Sampling}
import graft.streaming.{CoocMaintenance, StreamingCooc}

/**
 * JVM side of the benchmark: drives one workload through graft's public
 * entry points and writes a raw record (op timings, spans, Spark/Hadoop
 * statistics, results) as JSON. `perfbench/run.py` turns the record into
 * metrics and checks the results.
 *
 * Nothing here reaches inside the program: timings are taken around the
 * public calls, and the engine underneath is observed only through Spark's
 * and Hadoop's public listeners and statistics, registered for the traced
 * phase alone.
 *
 * Usage: PerfHarness --workload setup|cooc_stream|serve_mix
 *   --in <inputs> --work <scratch> --out <record.json> --units N
 *   --trace 0|1 --seed N [--master M --events N --fmax N --kmax N
 *   --compact-every N]
 */
object PerfHarness {

  // ---- clock: epoch microseconds with nanoTime resolution ---------------
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  final case class Op(id: Int, kind: String, phase: String, unit: Int, start: Long,
      end: Long, ok: Boolean = true, events: Long = 0L, name: String = "", err: String = "")

  final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, op: Int)

  /** Spans, recorded only while tracing is on. One global
    * stack: the Spark driver runs one call at a time (a stream's foreachBatch
    * runs while the caller blocks in awaitTermination). */
  final class Tracer {
    @volatile var on = false
    val spans = ArrayBuffer[Span]()
    private var stack = List.empty[Int]
    private var nextId = 0

    def span[T](name: String, op: Int)(body: => T): T =
      if (!on) body
      else {
        val (id, parent) = synchronized {
          nextId += 1; val p = stack.headOption.getOrElse(-1); stack = nextId :: stack
          (nextId, p)
        }
        val s = nowUs
        try body finally synchronized {
          spans += Span(id, name, s, nowUs, parent, op)
          stack = stack.dropWhile(_ != id).drop(1)
        }
      }
  }

  // ---- engine observers (traced phase only) -----------------------------

  final class Observers extends SparkListener {
    val jobs = ArrayBuffer[Map[String, Any]]()
    private val jobStart = mutable.Map[Int, (Long, String, String, String)]()
    val stages = ArrayBuffer[Map[String, Any]]()
    private val stageTasks = mutable.Map[Int, ArrayBuffer[Long]]()
    var tasks, cpuNs, gcMs, shufW, shufR, spill = 0L
    val catalyst = ArrayBuffer[Map[String, Any]]()
    val progress = ArrayBuffer[Map[String, Any]]()

    /** The graft source file at a call site: the first graft frame of the
      * long form, else the file the short form names. */
    private def site(long: String, short: String): String = {
      val frame = """\((\w+\.scala):\d+\)""".r
      long.linesIterator.map(_.trim)
        .find(l => l.startsWith("graft.") && !l.startsWith("graft.perfbench"))
        .flatMap(l => frame.findFirstMatchIn(l).map(_.group(1)))
        .orElse("""at (\w+\.scala):""".r.findFirstMatchIn(short).map(_.group(1)))
        .getOrElse("")
    }
    /** SQL execution id -> the call site of the action that started it:
      * adaptive execution submits its stage jobs from pool threads, whose
      * own call site names no caller. */
    private val execSite = mutable.Map[Long, String]()

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        synchronized { execSite(x.executionId) = site(x.details, x.description) }
      case _ => ()
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val last = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val fromExec = prop("spark.sql.execution.id").flatMap(id => execSite.get(id.toLong))
      val own = last.map(si => site(si.details, si.name)).getOrElse("")
      val file = fromExec.filter(_.nonEmpty).getOrElse(own)
      jobStart(e.jobId) = (e.time, file, last.map(_.name).getOrElse(""),
        prop("spark.job.description").getOrElse(""))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (s, file, short, desc) =>
        jobs += Map("id" -> e.jobId, "start_us" -> s * 1000L, "end_us" -> e.time * 1000L,
          "site" -> file, "short" -> short, "desc" -> desc)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      stageTasks.getOrElseUpdate(e.stageId, ArrayBuffer()) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        cpuNs += m.executorCpuTime; gcMs += m.jvmGCTime
        shufW += m.shuffleWriteMetrics.bytesWritten
        shufR += m.shuffleReadMetrics.totalBytesRead
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      stages += Map("id" -> i.stageId,
        "wall_ms" -> (for (s <- i.submissionTime; c <- i.completionTime) yield c - s).getOrElse(0L),
        "task_ms" -> stageTasks.remove(i.stageId).map(_.toSeq).getOrElse(Seq.empty[Long]))
    }

    val qel: QueryExecutionListener = new QueryExecutionListener {
      private def rec(qe: QueryExecution): Unit = Observers.this.synchronized {
        val ph = qe.tracker.phases
        def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
        catalyst += Map("end_us" -> nowUs, "analysis_ms" -> ms("analysis"),
          "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning"))
      }
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = rec(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = rec(qe)
    }

    val sql: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        Observers.this.synchronized {
          val d = e.progress.durationMs
          def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
          progress += Map("batch" -> e.progress.batchId, "rows" -> e.progress.numInputRows,
            "trigger_ms" -> ms("triggerExecution"), "add_batch_ms" -> ms("addBatch"))
        }
    }

    def register(spark: SparkSession): Unit = {
      spark.sparkContext.addSparkListener(this)
      spark.listenerManager.register(qel)
      spark.streams.addListener(sql)
    }
    def unregister(spark: SparkSession): Unit = {
      spark.sparkContext.removeSparkListener(this)
      spark.listenerManager.unregister(qel)
      spark.streams.removeListener(sql)
    }
  }

  /** Process-wide counters sampled at the edges of a timed region. */
  def engineCounters(): Map[String, Double] = {
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val fs = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator.asScala
      .filter(_.getScheme == "file")
      .flatMap(_.getLongStatistics.asScala.map(s => s"fs.${s.getName}" -> s.getValue.toDouble))
      .toSeq.groupMapReduce(_._1)(_._2)(_ + _)
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    Map("cpu_ns" -> os.getProcessCpuTime.toDouble,
      "codegen.count" -> h.getCount.toDouble,
      "codegen.sum_ms" -> h.getSnapshot.getValues.map(_.toDouble).sum) ++ fs
  }

  def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  // ---- shared run state ---------------------------------------------------

  final class Run(val spark: SparkSession, val args: Map[String, String]) {
    val in: String = args("in")
    val work: String = args("work")
    val seed: Long = args.getOrElse("seed", "1").toLong
    val tracer = new Tracer
    val obs = new Observers
    val ops = ArrayBuffer[Op]()
    private var nextOp = 0
    def newOpId(): Int = { nextOp += 1; nextOp }
    val phases = ArrayBuffer[Map[String, Any]]()
    val extra = mutable.LinkedHashMap[String, Any]()
    var phase = "untraced"

    /** Time one op; an exception marks it failed and the run goes on. */
    def op[T](kind: String, unit: Int, events: Long = 0L, name: String = "")(
        body: Int => T): (Int, Option[T]) = {
      val id = newOpId()
      val s = nowUs
      val r = try Right(tracer.span(kind, id)(body(id))) catch { case e: Throwable => Left(e) }
      ops += Op(id, kind, phase, unit, s, nowUs, r.isRight, events, name,
        r.left.toOption.map(e => s"${e.getClass.getName}: ${e.getMessage}".take(300)).getOrElse(""))
      (id, r.toOption)
    }

    /** A wrong output found by a check counts its op as failed. */
    def fail(id: Int, why: String): Unit = {
      val i = ops.indexWhere(_.id == id)
      ops(i) = ops(i).copy(ok = false, err = why)
    }

    def startTracing(): Unit = { obs.register(spark); tracer.on = true }
    def stopTracing(): Unit = {
      tracer.on = false
      org.apache.spark.PerfbenchListenerDrain.drain(spark.sparkContext)
      obs.unregister(spark)
    }

    /** One timed phase: exactly `units` units of the workload's work, so
      * every run of a seed measures the same work. */
    def timedPhase(name: String)(unit: Int => Unit): Unit = {
      phase = name
      val c0 = engineCounters()
      val t0 = nowUs
      (0 until args("units").toInt).foreach(unit)
      val t1 = nowUs
      val c1 = engineCounters()
      phases += Map("name" -> name, "start_us" -> t0, "end_us" -> t1,
        "counters" -> c1.map { case (k, v) => k -> (v - c0.getOrElse(k, 0.0)) })
    }

    /** The timed phase: untraced, or with --trace 1 traced (the untraced
      * baseline of a traced run is a separate JVM, so both start alike). */
    def phasesOf(unit: Int => Unit): Unit =
      if (args.getOrElse("trace", "0") != "1") timedPhase("untraced")(unit)
      else {
        startTracing()
        timedPhase("traced")(unit)
        stopTracing()
      }
  }

  /** Sorted string form of a result: repeat runs must reproduce it. */
  def canon(rows: Array[Row]): Seq[String] = rows.toSeq.map(_.toString).sorted

  /** Write a collected result as one parquet dir for the oracle check. */
  def dumpRows(spark: SparkSession, rows: Array[Row], df: DataFrame, path: String): Unit =
    spark.createDataFrame(rows.toList.asJava, df.schema).coalesce(1)
      .write.mode("overwrite").parquet(path)

  // ---- workloads -------------------------------------------------------

  /** cooc_stream: Main.runStreaming drains one CSV file per microbatch, then
    * the LLR top-K is collected; one unit is one drain. Untraced drains
    * call Main.runStreaming; traced drains run the same foreachBatch shell
    * around StreamingCooc.processBatch with a Sampling.PipelineMetrics
    * attached, so the sampling counts can be read. */
  def coocStream(r: Run): Unit = {
    import r.spark.implicits._
    val spark = r.spark
    val dir = s"${r.in}/stream"
    val nEvents = r.args("events").toLong
    val cfg = Config(input = dir, itemCut = r.args("fmax").toInt,
      userCut = r.args("kmax").toInt, topK = 10, windowSize = 1,
      windowUnit = TimeUnit.DAYS, seed = r.seed, streaming = true)
    var first: Option[(Array[Row], DataFrame)] = None
    val mismatched = ArrayBuffer[Int]()
    val metrics = new Sampling.PipelineMetrics(spark.sparkContext)
    var lastState: Option[StreamingCooc.State] = None

    def tracedDrain(opId: Int, mark: () => Unit): DataFrame = {
      val st = new StreamingCooc.State(spark)
      lastState = Some(st)
      val lines = spark.readStream.option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false").text(cfg.input)
      val inter = Main.parseCsvLines(lines)
        .select(col("user"), col("item"), unix_millis(col("ts")).as("ts"))
      val q = inter.writeStream.outputMode(OutputMode.Update()).trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, id: Long) =>
          // the stream pins every job's call site to start(); clearing it
          // lets each job name the graft frame that ran it
          spark.sparkContext.clearCallSite()
          r.tracer.span("stream.batch", opId) {
            StreamingCooc.processBatch(st, b.as[Sampling.Interaction], id, cfg.itemCut,
              cfg.userCut, cfg.seed, Some(metrics))
          }
          mark()
          ()
        }.start()
      q.awaitTermination()
      StreamingCooc.rescore(st, cfg.topK)
    }

    def drain(u: Int): Unit = {
      var last = nowUs
      val mark = () => {
        val t = nowUs
        r.ops += Op(r.newOpId(), "batch", r.phase, u, last, t)
        last = t
      }
      r.op("drain", u, nEvents) { id =>
        val df =
          if (r.tracer.on) tracedDrain(id, mark)
          else Main.runStreaming(spark, cfg, (_, _) => mark())
        val rows = r.tracer.span("rescore", id)(df.collect())
        first match {
          case None => first = Some((rows, df))
          case Some((f, _)) => if (canon(f) != canon(rows)) mismatched += id
        }
      }
    }

    r.phasesOf(drain)
    if (r.args("trace") == "1") {
      // the ingest layer on its own: CSV -> interactions over the same files
      r.tracer.on = true
      r.extra("ingest.events") =
        r.tracer.span("ingest.csv", -1)(Main.csvInteractions(spark, dir).count())
      r.tracer.on = false
      r.extra("sampling.sampled") = metrics.sampledInteractions.value
      r.extra("sampling.dropped") = metrics.droppedInteractions.value
      r.extra("sampling.feedback") = metrics.feedbackElements.value
      r.extra("sampling.observed_cooc") = metrics.observedCooccurrences.value
      lastState.foreach { st =>
        r.extra("stream.state_rows") = st.deltas.count()
        r.extra("rescore.cells") = st.deltas.groupBy(col("item"), col("other"))
          .agg(sum(col("inc")).as("cnt")).where(col("cnt") > 0).count()
      }
    }
    first.foreach { case (rows, df) =>
      r.extra("rescore.items") = rows.map(_.getInt(0)).distinct.length
      dumpRows(spark, rows, df, s"${r.work}/results/cooc_stream")
    }
    mismatched.foreach(r.fail(_, "result differs from the first drain"))
    r.extra("oracle_sql") = Map("cooc_stream" -> Sampling.sampledLlrOracleSql(
      "SELECT usr, item, ts FROM inter_csv", cfg.itemCut, cfg.userCut, r.seed, 86400000L,
      SparkEntry.llrRankTailSql))
  }

  /** serve_mix: one client session interleaving the maintained matrix
    * (CoocMaintenance ingests, llrTopK serves, deleteBatch erasures over a
    * fresh durable root per unit) with catalog queries
    * (SparkEntry.queries(name)(spark, dir) built, then collected). */
  def serveMix(r: Run): Unit = {
    import r.spark.implicits._
    val spark = r.spark
    val maintDir = s"${r.in}/maint"
    val catalog = s"${r.in}/catalog"
    val plan = scala.io.Source.fromFile(s"${r.in}/serve_plan.txt").getLines()
      .filter(_.nonEmpty).toVector
    val compactEvery = r.args("compact-every").toInt
    val k = 10
    val queries = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    val firstResult = mutable.Map[String, (Array[Row], DataFrame)]()
    val expected = Cooccurrence.coocCounts(Main.csvInteractions(spark, s"$maintDir/surviving.csv"))
      .select(col("item"), col("other"), col("cnt").cast("long").as("cnt"))
    lazy val expectedServe = canon(Cooccurrence.llrTopKFromCounts(expected, k).collect())
    def lines(f: String): Long = {
      val src = scala.io.Source.fromFile(f); try src.getLines().size.toLong finally src.close()
    }
    val batchEvents = plan.collect { case l if l.startsWith("ingest ") =>
      l -> lines(s"$maintDir/${l.drop(7)}") }.toMap

    def query(name: String, u: Int): Unit =
      r.op("query", u, name = name) { i =>
        val df = r.tracer.span("catalog.build", i)(queries(name)(spark, catalog))
        val rows = r.tracer.span("catalog.exec", i)(df.collect())
        firstResult.get(name) match {
          case None => firstResult(name) = (rows, df)
          case Some((f, _)) =>
            if (canon(f) != canon(rows)) throw new IllegalStateException("result differs from first run")
        }
      }

    def unit(u: Int): Unit = {
      val root = s"${r.work}/maint_root_${r.phase}_$u"
      val m = new CoocMaintenance(spark, root, compactEvery)
      var id = 0L
      var lastServe: Option[(Int, Array[Row])] = None
      plan.foreach {
        case l if l.startsWith("query ") => query(l.drop(6), u)
        case l if l.startsWith("ingest ") =>
          r.op("ingest", u, batchEvents(l)) { _ =>
            m.processBatch(id, Main.csvInteractions(spark, s"$maintDir/${l.drop(7)}"))
          }
          id += 1
        case "serve" =>
          val (i, res) = r.op("serve", u) { i =>
            if (!r.tracer.on) m.llrTopK(k).collect()
            else {
              val cc = r.tracer.span("serve.build", i)(m.currentCounts())
              r.tracer.span("serve.exec", i)(Cooccurrence.llrTopKFromCounts(cc, k).collect())
            }
          }
          res.foreach(rows => lastServe = Some((i, rows)))
        case l if l.startsWith("erase ") =>
          val users = l.drop(6).split(' ').map(_.toInt).toSeq
          r.op("erase", u)(_ => m.deleteBatch(id, users.toDF("user")))
          id += 1
      }
      // output check, outside the timed ops: the standing matrix and the
      // final serve equal the batch pipeline over the surviving events
      val files = org.apache.commons.io.FileUtils.listFiles(new File(root), null, true).asScala
      r.extra(s"store.${r.phase}.$u") = Map("files" -> files.size, "bytes" -> files.map(_.length).sum)
      val cur = m.currentCounts().select(col("item"), col("other"), col("cnt").cast("long"))
      val countsOk = cur.exceptAll(expected).isEmpty && expected.exceptAll(cur).isEmpty
      lastServe.foreach { case (i, rows) =>
        val serveOk = canon(rows) == expectedServe
        if (!countsOk || !serveOk) r.fail(i, s"wrong output: counts " +
          s"${if (countsOk) "match" else "differ"}, final serve ${if (serveOk) "matches" else "differs"}")
      }
      org.apache.commons.io.FileUtils.deleteDirectory(new File(root))
    }

    r.phasesOf(unit)
    firstResult.foreach { case (name, (rows, df)) =>
      dumpRows(spark, rows, df, s"${r.work}/results/$name")
    }
    r.extra("oracle_sql") = firstResult.keys.map(q => q -> oracles.getOrElse(q, "")).toMap
  }

  // ---- JSON record ------------------------------------------------------

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
        case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case a: Array[_] => json(a.toSeq)
    case o: Op => json(Map("id" -> o.id, "name" -> o.name, "kind" -> o.kind, "phase" -> o.phase, "unit" -> o.unit,
      "start_us" -> o.start, "end_us" -> o.end, "ok" -> o.ok, "events" -> o.events, "err" -> o.err))
    case s: Span => json(Map("id" -> s.id, "name" -> s.name, "start_us" -> s.start,
      "end_us" -> s.end, "parent" -> s.parent, "op" -> s.op))
    case other => json(other.toString)
  }

  def parseArgs(a: Array[String]): Map[String, String] =
    a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val cpus = Runtime.getRuntime.availableProcessors()
    val master = args.getOrElse("master", s"local[$cpus]")
    val spark = SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${args("work")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the CLI's first action: parse a small interactions file
    Main.csvInteractions(spark, s"${args("in")}/first.csv").count()
    println(s"PERFBENCH_READY ${nowUs}")
    System.out.flush()
    val r = new Run(spark, args)
    val obs = r.obs
    val workload = args("workload")
    workload match {
      case "setup" => ()
      case "cooc_stream" => coocStream(r)
      case "serve_mix" => serveMix(r)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    org.apache.spark.PerfbenchListenerDrain.drain(spark.sparkContext)
    val rec = Map(
      "workload" -> workload, "master" -> master, "cpus" -> cpus,
      "ops" -> r.ops, "phases" -> r.phases, "spans" -> r.tracer.spans,
      "extra" -> r.extra,
      "jobs" -> obs.jobs, "stages" -> obs.stages, "catalyst" -> obs.catalyst,
      "progress" -> obs.progress,
      "tasks" -> Map("count" -> obs.tasks, "cpu_ns" -> obs.cpuNs, "gc_ms" -> obs.gcMs,
        "shuffle_write_bytes" -> obs.shufW, "shuffle_read_bytes" -> obs.shufR,
        "spill_bytes" -> obs.spill),
      "vm_hwm_kb" -> vmHwmKb())
    val out = new PrintWriter(args("out"), "UTF-8")
    try out.write(json(rec)) finally out.close()
    spark.stop()
  }
}
