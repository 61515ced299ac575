package graft.streaming

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path, UnsupportedFileSystemException}
import org.apache.spark.sql.SparkSession

/**
 * The commit-marker primitives under [[ShardLog]], graft's one
 * crash-safe commit protocol (every [[MaintainedIndex]] member, the
 * `-cp` [[StreamingCooc.Checkpoint]] included): a batch is committed iff
 * its `meta/<id>` marker exists, and the marker must APPEAR atomically —
 * including on replay of an already-committed batch, where the old marker
 * is replaced in one step rather than delete-then-rename (r10 advice: the
 * two-step form opened a window where a committed marker was briefly
 * absent, costing one batch of unnecessary replay after a kill in it).
 */
object CommitMarkers {

  /** Atomically rename `tmp` over `dst`, replacing any existing file.
    *
    * For `file://` paths this goes through
    * `java.nio.file.Files.move(..., ATOMIC_MOVE)` — a POSIX rename(2),
    * which atomically replaces an existing destination. Hadoop's own
    * LocalFs/ChecksumFs CANNOT be used here: its OVERWRITE rename falls
    * through to AbstractFileSystem's default 3-arg renameInternal, which
    * is delete(dst)-then-rename — exactly the marker-absence window this
    * helper exists to close (r11 advice). Non-local schemes use
    * FileContext's OVERWRITE rename, which IS a single atomic replace on
    * HDFS. Where neither path applies, the delete+rename fallback keeps
    * recovery correct via idempotent replay, just one batch less tight. */
  def renameOverwrite(spark: SparkSession, fs: FileSystem,
      tmp: Path, dst: Path): Unit = {
    // getUri.getScheme, not getScheme: the latter is allowed to throw
    // UnsupportedOperationException on FileSystem implementations that
    // don't override it, and this branch sits outside the try/catch
    // fallback below (r12 advice)
    if (fs.getUri.getScheme == "file") {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(dst.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      // the NIO move bypasses ChecksumFileSystem, orphaning tmp's .crc
      // sibling; drop it so the meta dir holds only markers (dst has no
      // .crc, so Hadoop reads it back unverified rather than mismatched)
      val crc = new Path(tmp.getParent, "." + tmp.getName + ".crc")
      if (fs.exists(crc)) fs.delete(crc, false)
    } else try {
      val fc = FileContext.getFileContext(fs.getUri,
        spark.sparkContext.hadoopConfiguration)
      fc.rename(tmp, dst, Options.Rename.OVERWRITE)
    } catch {
      case _: UnsupportedOperationException | _: UnsupportedFileSystemException =>
        fs.delete(dst, false)
        require(fs.rename(tmp, dst), s"rename $tmp -> $dst failed")
    }
  }

  /** Write `content` to `metaDir/<id>` through a dot-prefixed temp
    * sibling + atomic overwrite-rename. */
  def commit(spark: SparkSession, metaDir: Path, id: Long, content: String): Unit = {
    val fs = metaDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(metaDir, s".$id.tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8"))
    finally out.close()
    renameOverwrite(spark, fs, tmp, new Path(metaDir, id.toString))
  }

  /** Batch ids with a committed marker under `metaDir` (unparsable names
    * are ignored — they are temp siblings or debris, never commits). */
  def committed(spark: SparkSession, metaDir: Path): Seq[Long] = {
    val fs = metaDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(metaDir)) Seq.empty
    else fs.listStatus(metaDir).toSeq
      .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption)
      .sorted
  }

  /** Read a marker's content (the JSON written by [[commit]]). */
  def readMarker(spark: SparkSession, metaDir: Path, id: Long): String = {
    val fs = metaDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new Path(metaDir, id.toString))
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](4096)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, "UTF-8")
    } finally in.close()
  }

  private val CountField = """"count"\s*:\s*(\d+)""".r

  /**
   * ROLLED-UP commit-log state (r14 verdict #1): the latest snapshot
   * marker under `baseMetaDir` summarizes every batch id <= its own id
   * (batch ids are monotone — a crashed microbatch is replayed under the
   * SAME id before any later id can commit, so "id <= upTo" == committed)
   * and records how many batches it covers; `metaDir` then only lists
   * the post-snapshot TAIL, and covered `meta/<b>` files are deleted
   * after the snapshot marker commits. Without the rollup a months-old
   * stream pays one `listStatus` over every marker it ever wrote, per
   * batch — O(lifetime) control-plane cost and unbounded small-file
   * pressure.
   *
   * Instances of this state are CACHED by the maintenance classes
   * (single-writer contract) and advanced by their own commits; the
   * filesystem is consulted once, at [[loadState]].
   */
  final case class LogState(coveredUpTo: Option[Long], coveredCount: Long,
      tail: Vector[Long]) {
    def isCommitted(id: Long): Boolean =
      coveredUpTo.exists(id <= _) || tail.contains(id)
    /** Total committed batches (covered prefix + tail). */
    def count: Long = coveredCount + tail.size
    def maxId: Option[Long] = tail.lastOption.orElse(coveredUpTo)
    def withCommitted(id: Long): LogState =
      if (isCommitted(id)) this
      else copy(tail = (tail :+ id).sorted)
    /** Fold everything <= `upTo` into the covered prefix. */
    def rolledUp(upTo: Long): LogState = LogState(Some(upTo),
      coveredCount + tail.count(_ <= upTo), tail.filter(_ > upTo))
  }

  /** Load the rolled-up state: latest snapshot marker (its name = the
    * covered max id, its `count` field = covered batches) + the marker
    * tail past it. Marker files <= the covered id are leftovers of a
    * crash between the snapshot commit and the covered-marker sweep —
    * already summarized, so they are excluded here and swept at the next
    * compaction. */
  def loadState(spark: SparkSession, metaDir: Path, baseMetaDir: Path): LogState = {
    val snap = committed(spark, baseMetaDir).lastOption
    val coveredCount = snap.map { b =>
      CountField.findFirstMatchIn(readMarker(spark, baseMetaDir, b))
        .map(_.group(1).toLong)
        .getOrElse(throw new IllegalStateException(
          s"snapshot marker $baseMetaDir/$b lacks a count field"))
    }.getOrElse(0L)
    val tail = committed(spark, metaDir)
      .filter(id => snap.forall(id > _)).toVector
    LogState(snap, coveredCount, tail)
  }
}
