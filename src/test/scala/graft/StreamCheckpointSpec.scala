package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.Sampling.Interaction
import graft.streaming.StreamingCooc

/** The `-cp` pipeline state on ShardLog: each batch writes only what it
  * touched, and the root stays within the log's retention bound. */
class StreamCheckpointSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("each batch's items/users shards hold only its keys; the root keeps two " +
      "snapshots and at most 2*compactEvery shards per relation") {
    val session = spark; import session.implicits._
    val compactEvery = 2
    val batches = 3 * compactEvery + 1
    // batch b touches users 3b..3b+3 and items b..b+4: the state outgrows
    // every batch, so a full-state write would break the per-batch bound
    val events = (0 until batches).map { b =>
      (3 * b until 3 * b + 4).flatMap(u => (0 until 3).map(j =>
        Interaction(u, b + (u + j) % 5, b * 100L + u + j)))
    }
    val root = Files.createTempDirectory("graft_cp_bound").toFile
    val cp = new StreamingCooc.Checkpoint(spark, root.getAbsolutePath, compactEvery)
    val st = cp.restore()
    def entries(rel: String, dir: String): Int =
      Option(new File(root, s"graft-log/$rel/$dir").list()).toSeq.flatten
        .count(_.forall(_.isDigit))
    events.zipWithIndex.foreach { case (ev, b) =>
      val batch = ev.toDS()
      StreamingCooc.processBatch(st, batch, b, 3, 2, 42L)
      cp.commit(b, st, batch)
      def shard(rel: String) = spark.read.parquet(s"$root/graft-log/$rel/shards/$b").count()
      assert(shard("items") <= ev.map(_.item).distinct.size, s"items shard of batch $b")
      assert(shard("users") <= ev.map(_.user).distinct.size, s"users shard of batch $b")
      Seq("delta", "items", "users").foreach { rel =>
        assert(entries(rel, "shards") <= 2 * compactEvery, s"$rel shards after batch $b")
        assert(entries(rel, "base") <= 2, s"$rel snapshots after batch $b")
      }
    }
    assert(cp.coveredUpTo.contains((batches - 2).toLong), "the drain compacted")
    assert(st.window.userSt.count() > events.last.map(_.user).distinct.size)
    assert(st.window.itemCnt.count() > events.last.map(_.item).distinct.size)
  }
}
