package graft

import java.io.{File, IOException}
import java.net.URI
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.{FilterFileSystem, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.Sampling
import graft.operators.Sampling.Interaction
import graft.streaming.{AnnMaintenance, CoocMaintenance, IndexMaintenance, IvfPqMaintenance,
  KnnGraphMaintenance, LexicalIndexMaintenance, SqMaintenance, StreamingCooc}

/**
 * Test-only fault injection: the local file system under the `crashfs`
 * scheme. Every mutating call (create, rename, delete, mkdirs) outside
 * Spark's `_temporary` task-output paths is counted; once armed at N,
 * the N-th such call and every later one throws, the way a dead process
 * mutates nothing more. Task-attempt writes are left alone: they are
 * invisible until the driver's job commit publishes them, and the job
 * commit's renames (destination outside `_temporary`) are counted.
 */
final class CrashFs extends FilterFileSystem(new CrashFs.Raw) {
  override def getScheme: String = CrashFs.Scheme

  private def hit(paths: Path*): Unit =
    if (!paths.forall(_.toString.contains("/_temporary"))) {
      val n = CrashFs.calls.incrementAndGet()
      val at = CrashFs.failAt
      if (at > 0 && n >= at) throw new IOException(s"injected crash at mutating call $n")
    }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    hit(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { hit(src, dst); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { hit(f); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    hit(f); super.mkdirs(f, permission)
  }
  override def mkdirs(f: Path): Boolean = { hit(f); super.mkdirs(f) }
}

object CrashFs {
  val Scheme = "crashfs"
  private[graft] val calls = new AtomicLong
  @volatile private[graft] var failAt = 0L

  /** The raw local file system, answering to `crashfs:///` paths. */
  final class Raw extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
  }

  /** Reset the counter; fail from the `n`-th mutating call on (0 = never). */
  def arm(n: Long): Unit = { calls.set(0); failAt = n }
}

/**
 * CRASH-POINT ENUMERATION for every ShardLog maintainer: for every
 * mutating file-system call N of each target batch (an ingest that
 * compacts, a delete, an in-stream refit), the batch dies at call N and a
 * fresh instance resumes on the same root. Before the replay the fresh
 * instance serves exactly the clean drain up to b-1 or up to b (never a
 * mix) and reports `isCommitted(b)` accordingly; no commit marker exists
 * without every relation shard it names; after the replay the serve
 * equals the clean drain up to b exactly. The model members serve their
 * generation and loaded model next to the standing table, so a crash that
 * pairs a table with the wrong model fails the check.
 */
class ShardLogCrashSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[1]")
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("OFF")
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(s"fs.${CrashFs.Scheme}.impl", classOf[CrashFs].getName)
    conf.setBoolean(s"fs.${CrashFs.Scheme}.impl.disable.cache", true)
  }

  override def afterAll(): Unit = {
    CrashFs.arm(0)
    if (spark != null) spark.stop()
  }

  /** One maintainer instance as the enumeration drives it. */
  private trait Member {
    def run(b: Int): Unit
    def serve(): Seq[String]
    def isCommitted(b: Long): Boolean
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** One shard log under the member's root: its directory (relative to
    * the root, "" for the root itself) and its relations' shard and
    * snapshot directories (relative to the log). */
  private case class Log(dir: String, dataDirs: Seq[String], baseDirs: Seq[String])

  /**
   * Drain `batches` batches cleanly, then enumerate every crash point of
   * each batch in `targets`; `logs` are the member's shard logs.
   */
  private def enumerate(name: String, batches: Int, targets: Seq[Int],
      logs: Seq[Log])(open: String => Member): Unit = {
    CrashFs.arm(0)
    val scratch = Files.createTempDirectory(s"crash_$name").toFile
    def uri(dir: File) = s"${CrashFs.Scheme}://${dir.getAbsolutePath}"
    val clean = new File(scratch, "clean")
    val m = open(uri(clean))
    val pointsOf = new Array[Long](batches)
    val drained = (0 until batches).map { b =>
      if (targets.contains(b)) FileUtils.copyDirectory(clean, new File(scratch, s"prefix$b"))
      CrashFs.arm(0)
      m.run(b)
      pointsOf(b) = CrashFs.calls.get
      m.serve()
    }
    try targets.foreach { b =>
      val prefix = new File(scratch, s"prefix$b")
      val points = pointsOf(b)
      assert(points > 0, s"$name batch $b made no mutating call")
      info(s"$name batch $b: $points crash points")
      (1L to points).foreach { n =>
        val root = new File(scratch, s"b${b}_n$n")
        FileUtils.copyDirectory(prefix, root)
        CrashFs.arm(n)
        val crashed = scala.util.Try(open(uri(root)).run(b))
        CrashFs.arm(0)
        assert(crashed.isFailure, s"$name batch $b: crash point $n of $points never fired")
        val at = s"$name batch $b, crash at mutating call $n of $points"
        val resumed = open(uri(root))
        val got = resumed.serve()
        val committed = resumed.isCommitted(b)
        assert(got == drained(b - 1) || got == drained(b),
          s"$at: the fresh instance serves neither $b nor ${b + 1} drained batches")
        assert(got == (if (committed) drained(b) else drained(b - 1)),
          s"$at: isCommitted($b) = $committed disagrees with what is served")
        logs.foreach(l => assertMarkersComplete(new File(root, l.dir), l.dataDirs, l.baseDirs, at))
        // a committed batch's replay short-circuits: what it serves was
        // checked above
        resumed.run(b)
        if (!committed)
          assert(resumed.serve() == drained(b), s"$at: the replay did not converge")
        FileUtils.deleteDirectory(root)
      }
    } finally FileUtils.deleteDirectory(scratch)
  }

  /** Every commit marker names complete shards: `meta/<b>` needs every
    * relation's `<dataDir>/<b>` (or the tombstone `dels/<b>`),
    * `basemeta/<b>` every relation's `base/<b>`. */
  private def assertMarkersComplete(root: File, dataDirs: Seq[String],
      baseDirs: Seq[String], at: String): Unit = {
    def ids(dir: String): Seq[String] =
      Option(new File(root, dir).list()).toSeq.flatten.filter(_.forall(_.isDigit))
    def complete(dir: String, id: String) = new File(root, s"$dir/$id/_SUCCESS").exists
    ids("meta").foreach { id =>
      assert(complete("dels", id) || dataDirs.forall(complete(_, id)),
        s"$at: meta/$id exists without all of its relation shards")
    }
    ids("basemeta").foreach { id =>
      assert(baseDirs.forall(complete(_, id)),
        s"$at: basemeta/$id exists without all of its relation snapshots")
    }
  }

  // compactEvery = 2: batch 3 ingests and runs the second compaction
  // (which also sweeps what the first one covered); batch 4 deletes
  private val Batches = 5
  private val Targets = Seq(3, 4)

  test("CoocMaintenance: every crash point of an ingest+compact batch " +
      "and of a delete batch resumes to a clean drain") {
    val session = spark; import session.implicits._
    // users 0..5 each touch items in several batches, so cross terms and
    // the erased user's negative deltas reach committed state
    val events = (0 until 4).map { b =>
      (0 until 6).flatMap(u => Seq((u, (u + b) % 7), (u, (u * 3 + b) % 7)))
    }
    enumerate("cooc", Batches, Targets,
      Seq(Log("", Seq("pairs/delta", "users/delta"), Seq("pairs/base", "users/base")))) { root =>
      val m = new CoocMaintenance(spark, root, compactEvery = 2)
      new Member {
        def run(b: Int): Unit =
          if (b < 4) m.processBatch(b, events(b).toDF("user", "item"))
          else m.deleteBatch(b, Seq(2, 5).toDF("user"))
        def serve(): Seq[String] = rows(m.currentCounts())
        def isCommitted(b: Long): Boolean = m.isCommitted(b)
      }
    }
  }

  test("LexicalIndexMaintenance: every crash point of an ingest+compact " +
      "batch and of a delete batch resumes to a clean drain") {
    val session = spark; import session.implicits._
    val words = Vector("table", "scan", "key", "value", "row", "merge", "index")
    val docs = (0 until 4).map { b =>
      (0 until 3).map { i =>
        val id = b * 3 + i
        (id.toLong, (0 until 4 + id % 3).map(j => words((id + j * j) % words.size)).mkString(" "))
      }
    }
    val terms = Seq("table", "scan", "key")
    enumerate("lex", Batches, Targets,
      Seq(Log("", Seq("postings/seg", "doclens/seg", "positions/seg"),
        Seq("postings/base", "doclens/base", "positions/base")))) { root =>
      val m = new LexicalIndexMaintenance(spark, root, compactEvery = 2, positions = true)
      new Member {
        def run(b: Int): Unit =
          if (b < 4) m.processBatch(b, docs(b).toDF("doc_id", "text"))
          else m.deleteBatch(b, Seq(1L, 7L).toDF("doc_id"))
        def serve(): Seq[String] = rows(m.bm25(terms)) ++ rows(m.currentPositions())
        def isCommitted(b: Long): Boolean = m.isCommitted(b)
      }
    }
  }

  /** 36 deterministic 8-dim vectors in four loose blobs. */
  private def vectors: DataFrame = {
    val rows = (0L until 36L).map { i =>
      val blob = (i % 4).toInt
      val v = Array.fill(8)(0.05f)
      v(blob) = (1.0 + 0.002 * i).toFloat
      v(blob + 4) = (0.5 + 0.003 * i).toFloat
      (i, v.toSeq)
    }
    spark.createDataFrame(rows).toDF("vec_id", "embedding")
  }

  private def vecBatch(b: Int, of: Int): DataFrame =
    vectors.where(org.apache.spark.sql.functions.col("vec_id") % of === b)

  private def vecsUpTo(b: Int, of: Int): DataFrame =
    vectors.where(org.apache.spark.sql.functions.col("vec_id") % of <= b)

  private def matrix(a: Array[Array[Double]]): Seq[String] = a.map(_.mkString(",")).toSeq

  // the model members, compactEvery = 2: batch 0 bootstraps the model,
  // batch 1 compacts, batch 3 is an in-stream refit (a generation-1
  // snapshot), batch 5 ingests and compacts, carrying the generation
  // forward in its snapshot marker
  private val ModelBatches = 6
  private val ModelTargets = Seq(3, 5)

  /** Batch b of a model member: a refit over every vector of batches
    * 0..3 at b = 3, else an ingest of `vec_id % 6 == b`. */
  private def modelRun(b: Int)(ingest: (Long, DataFrame) => Unit,
      refit: (Long, DataFrame) => Unit): Unit =
    if (b == 3) refit(b, vecsUpTo(3, ModelBatches)) else ingest(b, vecBatch(b, ModelBatches))

  test("AnnMaintenance: every crash point of a refit batch and of an " +
      "ingest+compact batch resumes to a clean drain") {
    enumerate("ann", ModelBatches, ModelTargets,
      Seq(Log("", Seq("assign"), Seq("base")))) { root =>
      val m = new AnnMaintenance(spark, root, nLists = 2, iters = 2, compactEvery = 2)
      new Member {
        def run(b: Int): Unit = modelRun(b)(m.processBatch, m.refitBatch)
        def serve(): Seq[String] =
          rows(m.currentIndex()) ++ Seq(s"gen ${m.generation}") ++ matrix(m.centroids())
        def isCommitted(b: Long): Boolean = m.isCommitted(b)
      }
    }
  }

  test("SqMaintenance: every crash point of a refit batch and of an " +
      "ingest+compact batch resumes to a clean drain") {
    enumerate("sq", ModelBatches, ModelTargets,
      Seq(Log("", Seq("codes"), Seq("base")))) { root =>
      val m = new SqMaintenance(spark, root, dims = 8, compactEvery = 2)
      new Member {
        def run(b: Int): Unit = modelRun(b)(m.processBatch, m.refitBatch)
        def serve(): Seq[String] = rows(m.currentCodes()) ++ Seq(s"gen ${m.generation}",
          m.stats().mins.mkString(","), m.stats().maxs.mkString(","))
        def isCommitted(b: Long): Boolean = m.isCommitted(b)
      }
    }
  }

  test("IvfPqMaintenance: every crash point of a refit batch and of an " +
      "ingest+compact batch resumes to a clean drain") {
    enumerate("ivfpq", ModelBatches, ModelTargets,
      Seq(Log("", Seq("codes"), Seq("base")))) { root =>
      val m = new IvfPqMaintenance(spark, root, nLists = 2, iters = 2, m = 2, ksub = 4,
        pqIters = 2, compactEvery = 2, dims = 8)
      new Member {
        def run(b: Int): Unit = modelRun(b)(m.processBatch, m.refitBatch)
        def serve(): Seq[String] = {
          val (cents, books) = m.models()
          rows(m.currentTable()) ++ Seq(s"gen ${m.generation}") ++ matrix(cents) ++
            books.toSeq.flatMap(matrix)
        }
        def isCommitted(b: Long): Boolean = m.isCommitted(b)
      }
    }
  }

  test("IndexMaintenance: every crash point of an ingest+compact batch " +
      "and of a delete batch resumes to a clean drain") {
    val session = spark; import session.implicits._
    val words = Vector("lake", "house", "table", "scan", "merge", "row", "key", "value")
    // doc_ids equal mod 5 carry the same text, so components span batches
    val docs = (0 until 4).map { b =>
      (0 until 4).map { i =>
        val id = b * 4 + i
        (id.toLong, (0 until 12).map(j => words((id % 5 + j * 3) % words.size)).mkString(" "))
      }
    }
    enumerate("index", Batches, Targets, Seq(Log("", Seq("delta"), Seq("base")))) { root =>
      val m = new IndexMaintenance(spark, root, IndexMaintenance.Simhash(3), compactEvery = 2)
      new Member {
        def run(b: Int): Unit =
          if (b < 4) m.processBatch(b, docs(b).toDF("doc_id", "text"))
          else m.deleteBatch(b, Seq(1L, 6L, 12L).toDF("doc_id"))
        def serve(): Seq[String] = rows(m.currentIndex())
        def isCommitted(b: Long): Boolean = m.isCommitted(b)
      }
    }
  }

  test("KnnGraphMaintenance: every crash point of an ingest+compact, a " +
      "delete and a refit batch resumes to a clean drain in both logs") {
    val session = spark; import session.implicits._
    // batches 0-3 ingest vec_id % 4 (3 compacts both logs), 4 deletes,
    // 5 refits over the surviving corpus
    enumerate("knn", 6, Seq(3, 4, 5), Seq(Log("vec", Seq("assign"), Seq("base")),
        Log("graph", Seq("edges"), Seq("base")))) { root =>
      val m = new KnnGraphMaintenance(spark, root, nLists = 2, iters = 2, k = 3,
        nProbe = 1, compactEvery = 2)
      new Member {
        def run(b: Int): Unit =
          if (b < 4) m.processBatch(b, vecBatch(b, 4))
          else if (b == 4) m.deleteBatch(b, Seq(2L, 13L).toDF("vec_id"))
          else m.refitBatch(b, vectors)
        def serve(): Seq[String] = rows(m.currentGraph())
        def isCommitted(b: Long): Boolean = m.isCommitted(b)
      }
    }
  }

  test("StreamingCooc.Checkpoint: every crash point of a plain batch and of a " +
      "batch whose compaction runs the deferred sweep resumes to a clean drain") {
    val session = spark; import session.implicits._
    // 5 users over 6 items, 3 events each per batch, timestamps rising
    // across batches; with fMax = 4 and kMax = 2 the item cut drops, full
    // reservoirs replace, and sampled events a reservoir declines refund
    val events = (0 until 4).map { b =>
      (0 until 5).flatMap(u => (0 until 3).map(j =>
        Interaction(u, (u + 2 * j + b) % 6, b * 100L + u * 10 + j)))
    }
    val (fMax, kMax) = (4, 2)
    val probe = new StreamingCooc.State(spark)
    val m = new Sampling.PipelineMetrics(spark.sparkContext)
    events.zipWithIndex.foreach { case (ev, b) =>
      StreamingCooc.processBatch(probe, ev.toDS(), b, fMax, kMax, 42L, Some(m))
    }
    assert(m.droppedInteractions.value > 0 && m.feedbackElements.value > 0,
      s"dropped ${m.droppedInteractions.value}, refunded ${m.feedbackElements.value}")
    assert(probe.deltas.where(org.apache.spark.sql.functions.col("inc") < 0).count() > 0,
      "no reservoir replaced")
    // compactEvery = 2: batch 2 is plain; batch 3 compacts (count 4) and
    // sweeps what the compaction at batch 1 covered
    val relations = Seq("delta", "items", "users")
    enumerate("checkpoint", 4, Seq(2, 3), Seq(Log("graft-log",
        relations.map(r => s"$r/shards"), relations.map(r => s"$r/base")))) { root =>
      val cp = new StreamingCooc.Checkpoint(spark, root, compactEvery = 2)
      val st = cp.restore()
      new Member {
        def run(b: Int): Unit = if (!cp.isCommitted(b)) {
          val batch = events(b).toDS()
          StreamingCooc.processBatch(st, batch, b, fMax, kMax, 42L)
          cp.commit(b, st, batch)
        }
        def serve(): Seq[String] =
          st.window.itemCnt.collect().map { case (i, c) => s"item $i $c" }.toSeq.sorted ++
            st.window.userSt.collect()
              .map { case (u, (t, h)) => s"user $u $t ${h.mkString(",")}" }.toSeq.sorted ++
            rows(st.deltas.groupBy("item", "other").sum("inc").where("`sum(inc)` != 0"))
        def isCommitted(b: Long): Boolean = cp.isCommitted(b)
      }
    }
  }
}
