package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{broadcast, col, lit, row_number}
import org.apache.spark.sql.types.StructType

/**
 * The crash-safe PER-BATCH SHARD LOG shared by the standing-index
 * maintenance family: one commit marker per batch over one parquet
 * shard per RELATION, periodic compaction into snapshots, and commit
 * markers that ROLL UP into the snapshot marker so the marker log stays
 * bounded by `compactEvery` over an unbounded stream lifetime (r14
 * verdict #1).
 *
 * A batch is a set of named relations ([[ShardLog.Relation]]) committed
 * under ONE marker — the Structured Streaming commit-log shape: one
 * entry per microbatch, whatever the batch wrote. Most members keep one
 * relation; [[CoocMaintenance]] (pairs + user histograms) and
 * [[LexicalIndexMaintenance]] (postings + doc lengths + positions) keep
 * several, so a crash can never leave one relation of a batch visible
 * without the others.
 *
 * Layout under `root/`:
 *  - `meta/<b>` — batch b's commit marker ([[CommitMarkers]]), the only
 *    record that b committed;
 *  - `basemeta/<b>` — a compacted snapshot's marker (the fold of every
 *    batch <= b, across every relation);
 *  - per relation, `<name>/<dataDir>/<b>/` (one parquet shard per
 *    committed batch) and `<name>/base/<b>/` (its snapshots). A relation
 *    with an empty name lives at the root itself — `<dataDir>/<b>/` and
 *    `base/<b>/` — which is the single-relation layout;
 *  - `dels/<b>/` — TOMBSTONE batches ([[commitDeletes]]): one key-only
 *    shard naming standing rows to remove from every relation, committed
 *    under the same marker log.
 *
 * How each relation's standing rows FOLD out of (snapshot, shard tail) is
 * pluggable ([[ShardLog.Fold]]): append (one multi-path scan — snapshot
 * and shards share a schema), latest-wins ([[ShardLog.LatestFold]]),
 * sum-merge ([[ShardLog.SumFold]]). The log owns the PROTOCOL — markers,
 * rollup, compaction ordering, sweeps — exactly once for every member.
 *
 * Crash ordering: a commit writes every relation's shard, then the one
 * marker; a compaction writes every relation's snapshot, then the one
 * basemeta marker. A batch is committed iff its marker exists (or its id
 * <= the snapshot's covered prefix); shards and snapshots without a
 * marker are never read and are overwritten by the replay or swept by
 * the next compaction; replay of a committed batch short-circuits on the
 * marker. Sweeps delete a marker before the files it names, so no marker
 * ever outlives its shards. SINGLE WRITER: the cached commit state
 * assumes exactly one live instance writes a given root (the
 * foreachBatch contract).
 *
 * SERVE-WHILE-COMPACT (r15 verdict #1): deletions are DEFERRED BY ONE
 * COMPACTION CYCLE. A compaction at `upTo = U` with previous snapshot `P`
 * writes the `base/U` snapshots, commits their marker, and then sweeps
 * only what the PREVIOUS cycle covered: shards <= P and snapshots < P —
 * `base/P` and the shards in (P, U] stay on disk until the compaction
 * after U. Every file a serving plan can reference (the read set resolved
 * from the cached state at plan time: one snapshot + the then-current
 * tail) therefore survives at least one full concurrent compaction.
 * Shards are immutable, so the late-executed plan returns exactly the
 * rows as of its plan time. The price is bounded retention: at most one
 * extra snapshot + compactEvery extra shards on disk. A plan held across
 * TWO compaction points must be re-resolved (or eagerly materialized via
 * `localCheckpoint`).
 */
private[streaming] final class ShardLog(spark: SparkSession, root: String,
    compactEvery: Int, relations: Seq[ShardLog.Relation],
    markerExtra: () => String, deleteKey: String) {

  require(compactEvery >= 2, s"compactEvery must be >= 2, got $compactEvery")

  private val metaDir = new Path(s"$root/meta")
  private val baseMetaDir = new Path(s"$root/basemeta")
  private val delsDir = new Path(s"$root/dels")
  private def fs = metaDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def dataDir(rel: ShardLog.Relation) = s"$root/${rel.dataPath}"
  private def baseDir(rel: ShardLog.Relation) = s"$root/${rel.basePath}"

  // committed DELETE-batch ids whose dels/<b> key shard is still live,
  // pruned at the deferred sweep. Bounded: tombstones fold into the
  // snapshot at compaction and their shards are swept one cycle later,
  // so at most ~2*compactEvery ids are ever live.
  private val dels = sideShards(delsDir.toString)

  // cached rolled-up commit state (single-writer contract — see class doc)
  @volatile private var logState: CommitMarkers.LogState = _
  private def state: CommitMarkers.LogState = {
    if (logState == null)
      logState = CommitMarkers.loadState(spark, metaDir, baseMetaDir)
    logState
  }

  /** Committed batch ids still individually listed — the post-snapshot
    * TAIL (ids <= [[coveredUpTo]] are committed but rolled up). */
  def committedIds: Seq[Long] = state.tail

  /** Max batch id summarized by the latest compacted snapshot. */
  def coveredUpTo: Option[Long] = state.coveredUpTo

  def isCommitted(id: Long): Boolean = state.isCommitted(id)

  /** Total committed batches (covered prefix + tail). */
  def committedCount: Long = state.count

  /** The latest snapshot marker's JSON content (carries `upTo`, `count`,
    * plus any extra fields the owner recorded — e.g. a model generation
    * for the streaming-refit members). One small FS read per call;
    * [[MaintainedIndex]] memoizes what it parses out of it. */
  def latestSnapshotMarker: Option[String] =
    state.coveredUpTo.map(b => CommitMarkers.readMarker(spark, baseMetaDir, b))

  /** Commit one batch — one shard per relation, in `relations` order —
    * under one marker, then compact on cadence. The caller must have
    * short-circuited on [[isCommitted]] already (the shard expressions
    * may be expensive). */
  def commitShard(batchId: Long, shards: Seq[DataFrame], markerJson: String): Unit = {
    writeShards(batchId, shards)
    commitWrittenShard(batchId, markerJson)
    compactIfDue()
  }

  /** Write half of [[commitShard]], exposed for owners whose delta
    * producer sinks the batch's rows itself (one materialization — no
    * checkpoint-then-write): every relation's shard, NO marker. The
    * caller MUST follow with [[commitWrittenShard]] and [[compactIfDue]];
    * a crash in between leaves unmarked debris the replay overwrites. */
  def writeShards(batchId: Long, shards: Seq[DataFrame]): Unit = {
    require(shards.size == relations.size,
      s"${shards.size} shards for ${relations.size} relations")
    relations.zip(shards).foreach { case (rel, shard) =>
      shard.write.mode("overwrite").parquet(s"${dataDir(rel)}/$batchId")
    }
  }

  /** Marker half of [[commitShard]] — commit shards already written via
    * [[writeShards]]. */
  def commitWrittenShard(batchId: Long, markerJson: String): Unit = {
    CommitMarkers.commit(spark, metaDir, batchId, markerJson)
    logState = state.withCommitted(batchId)
  }

  /**
   * Commit one DELETE batch: `keys` (any DataFrame exposing `deleteKey`)
   * names standing rows to remove from EVERY relation (each must carry
   * `deleteKey`). The tombstone shard is key-only and lives in
   * `dels/<b>`; its marker joins the same log, so deletes are ordered,
   * crash-safe, and replay-idempotent exactly like ingest.
   *
   * Read semantics: committed tombstones are anti-joined onto every fold
   * (serves reflect the delete as soon as its marker commits); the next
   * compaction's snapshots PHYSICALLY exclude the rows, and both the
   * covering data shards and the tombstone shards are swept one cycle
   * later — after at most two compaction cycles the deleted rows exist
   * nowhere under `root/` (the takedown/right-to-erasure contract;
   * call [[compactNow]] twice to force the purge eagerly).
   *
   * PRECONDITION (inherited from the family's unique-id contract): a key
   * is deleted AFTER the batch that ingested it committed, and never
   * re-ingested later — a tombstone only outlives its own compaction as
   * the snapshot's absence of the row.
   */
  def commitDeletes(batchId: Long, keys: DataFrame, markerJson: String): Unit = {
    require(deleteKey.nonEmpty, "this log was built without a deleteKey")
    if (isCommitted(batchId)) return
    keys.select(col(deleteKey)).distinct()
      .write.mode("overwrite").parquet(dels.path(batchId))
    commitWrittenShard(batchId, markerJson)
    dels.add(batchId)
    compactIfDue()
  }

  /** Force a compaction over everything committed (regardless of
    * cadence) — two successive calls physically purge all currently
    * tombstoned rows and their key shards (see [[commitDeletes]]). The
    * second call, finding the head already snapshotted, runs only the
    * retirement sweep — an EAGER sweep that waives the one-cycle
    * deferral, so plans resolved before it may lose their read set
    * (the caller is explicitly trading serve-while-compact for an
    * immediate purge). */
  def compactNow(): Unit = state.maxId.foreach { upTo =>
    if (compactedIds.contains(upTo)) sweepDeferred(Some(upTo), upTo)
    else compact(upTo)
  }

  /** Periodic shard compaction: every compactEvery committed batches,
    * fold everything readable into one snapshot per relation so the read
    * stays O(1 snapshot + compactEvery shards) forever. Skipping a due
    * point (e.g. a replayed batch short-circuited) only defers
    * truncation. */
  def compactIfDue(): Unit =
    if (state.count % compactEvery == 0) compact(state.maxId.get)

  /**
   * Commit `batchId` DIRECTLY AS a compacted snapshot whose rows REPLACE
   * the fold — the streaming-refit path of the single-relation members:
   * the caller retrained its models and re-derived the whole standing
   * table against them, so the old shards are not just compactable but
   * semantically superseded. `extraJson` fields (e.g. `"gen":1`) are
   * folded into the snapshot marker — after the covered-marker sweep it
   * is the durable record of which model generation the snapshot's rows
   * were derived under.
   *
   * Crash-safe like [[compactIfDue]]: nothing is visible until the
   * basemeta marker commits (a crash before it leaves the old log plus
   * unmarked debris the next compaction sweeps); a replay of a committed
   * refit batch short-circuits on [[isCommitted]]. Deletions follow the
   * same one-cycle deferral as ordinary compaction.
   */
  def commitSnapshot(batchId: Long, rows: DataFrame, extraJson: String): Unit = {
    require(relations.size == 1, "a refit snapshot replaces a single relation")
    require(!isCommitted(batchId), s"batch $batchId already committed")
    sweepUnmarkedSnapshots()
    val prev = state.coveredUpTo
    // a refit snapshot is caller-derived from a corpus that may predate
    // live tombstones — re-apply them so a refit can never resurrect a
    // deleted key (for tombstones already PURGED by earlier compactions
    // the caller must pass a corpus that no longer contains the key —
    // i.e. one derived from the maintained rows, the normal refit input)
    val rel = relations.head
    rel.fold.snapshotRows(antiTombstones(rows, liveDels), batchId)
      .write.mode("overwrite").parquet(s"${baseDir(rel)}/$batchId")
    val next = state.withCommitted(batchId).rolledUp(batchId)
    val extra = if (extraJson.isEmpty) "" else s",$extraJson"
    CommitMarkers.commit(spark, baseMetaDir, batchId,
      s"""{"upTo":$batchId,"count":${next.count}$extra}""")
    logState = next
    sweepDeferred(prev, batchId)
  }

  /** Batch ids with a committed COMPACTED SNAPSHOT. */
  private def compactedIds: Seq[Long] =
    CommitMarkers.committed(spark, baseMetaDir)

  /** Tombstone ids a READ must still apply: only those newer than the
    * covered snapshot — older ones are already folded into `base/` as the
    * absence of their rows. Pinning reads to this set (not everything on
    * disk) keeps the serve-while-compact deferral symmetric: like data
    * shards, a dels shard is only referenced by plans built before the
    * compaction that covers it, so the one-cycle-late sweep can never
    * pull a file out from under a live plan. */
  private def liveDels: Vector[Long] = {
    val cov = state.coveredUpTo
    dels.ids.filter(id => cov.forall(id > _))
  }

  private def rowsFrom(rel: ShardLog.Relation, snapshot: Option[Long],
      tail: Seq[Long]): DataFrame = {
    // delete batches have no relation shards — their ids leave the fold
    val live = liveDels
    val dataTail = if (live.isEmpty) tail else tail.filterNot(live.contains)
    val folded =
      if (snapshot.isEmpty && dataTail.isEmpty) rel.fold.empty(spark)
      else rel.fold.rows(spark, snapshot.map(b => s"${baseDir(rel)}/$b"),
        dataTail.map(b => b -> s"${dataDir(rel)}/$b"))
    antiTombstones(folded, live)
  }

  /** Fold minus committed tombstones: one multi-path scan of the key-only
    * dels shards (KBs, never the standing table), anti-joined on
    * `deleteKey`. Catalyst picks a broadcast anti-join from the shards'
    * file-size stats — the standing side never shuffles; a pathological
    * tombstone volume degrades to a shuffled anti-join, which is still
    * the right plan. No committed deletes → the fold is returned as-is
    * (zero plan overhead for delete-free logs). */
  private def antiTombstones(rows: DataFrame, ids: Seq[Long]): DataFrame =
    if (ids.isEmpty) rows
    else rows.join(
      spark.read.parquet(ids.map(dels.path): _*),
      Seq(deleteKey), "left_anti")

  /** Delete numeric entries under `dir` whose id satisfies `drop` (never
    * let an unparsable name fall through a vacuous-truth delete). */
  private def sweep(dir: Path, recursive: Boolean)(drop: Long => Boolean): Unit =
    if (fs.exists(dir)) {
      fs.listStatus(dir).foreach { st =>
        scala.util.Try(st.getPath.getName.toLong).toOption match {
          case Some(id) => if (drop(id)) fs.delete(st.getPath, recursive)
          case None => ()
        }
      }
    }

  /** Sweep UNMARKED snapshot debris (a crash between the snapshot writes
    * and their basemeta commit) in every relation. Runs before each new
    * snapshot is written. */
  private def sweepUnmarkedSnapshots(): Unit = {
    val marked = compactedIds.toSet
    relations.foreach(rel => sweep(new Path(baseDir(rel)), recursive = true)(id => !marked(id)))
  }

  /** The ONE-CYCLE-DEFERRED sweep after a snapshot at `upTo` committed
    * with `prev` as the previous snapshot: rolled-up meta markers <= upTo
    * FIRST (plans never read markers; loadState ignores leftovers), then
    * shards and tombstones <= prev (NOT <= upTo — a serving plan resolved
    * against base/prev + the tail must survive this compaction), then
    * snapshots STRICTLY OLDER than prev, marker before files (base/prev
    * itself survives one more cycle for the same reason as its shards).
    * Markers go before the files they name, so a crash mid-sweep never
    * leaves a marker without its shards; re-running after a crashed
    * sweep is safe: every step deletes already-unreachable entries. */
  private def sweepDeferred(prev: Option[Long], upTo: Long): Unit = {
    sweep(metaDir, recursive = false)(_ <= upTo)
    prev.foreach { p =>
      relations.foreach(rel => sweep(new Path(dataDir(rel)), recursive = true)(_ <= p))
      // tombstones <= prev are folded into base/prev (the rows are gone
      // there) AND into base/upTo — the key shards have nothing left to
      // mask; this sweep completes the physical purge
      sweep(delsDir, recursive = true)(_ <= p)
      dels.retire(_ <= p)
      sweep(baseMetaDir, recursive = false)(_ < p)
      relations.foreach(rel => sweep(new Path(baseDir(rel)), recursive = true)(_ < p))
    }
  }

  private def compact(upTo: Long): Unit = {
    sweepUnmarkedSnapshots()
    if (compactedIds.contains(upTo)) return // snapshot already covers the log
    val prev = state.coveredUpTo
    graft.operators.Jobs.labeled(spark,
        s"shardlog compact ${relations.map(_.dataPath).mkString(",")} upTo=$upTo") {
      relations.foreach { rel =>
        rel.fold.snapshotRows(rowsFrom(rel, prev, state.tail), upTo)
          .write.mode("overwrite").parquet(s"${baseDir(rel)}/$upTo")
      }
    }
    // the marker carries the covered COUNT — with the covered meta/<b>
    // files deleted below, this is the only surviving record of how many
    // batches ever committed (the compaction-cadence counter) — plus the
    // owner's extra fields (e.g. the current model GENERATION, which an
    // ordinary compaction must carry forward or a restart would lose it)
    val extra = markerExtra() match { case "" => ""; case e => s",$e" }
    CommitMarkers.commit(spark, baseMetaDir, upTo,
      s"""{"upTo":$upTo,"count":${state.count}$extra}""")
    logState = state.rolledUp(upTo)
    sweepDeferred(prev, upTo)
  }

  /** All committed rows of `rel` — the latest compacted snapshot plus the
    * shard tail, resolved from the CACHED state at plan time. Safe to
    * execute concurrently with ONE later compaction (see class doc). */
  def currentRows(rel: ShardLog.Relation = relations.head): DataFrame =
    rowsFrom(rel, state.coveredUpTo, state.tail)

  /** The committed side shards under `dir` — one parquet shard per batch
    * id, written before its batch's marker and gated on it (the
    * tombstone keys here; a member's stored columns or masks beside its
    * relations). */
  def sideShards(dir: String): SideShards = new SideShards(dir)

  /** Side-shard ids, listed once (shards without a committed marker are
    * a crashed batch's debris — never read, overwritten by the replay),
    * then advanced per commit and retired per sweep. */
  final class SideShards private[ShardLog] (dir: String) {
    @volatile private var memo: Vector[Long] = _

    /** Committed ids with a shard under `dir`, ascending. */
    def ids: Vector[Long] = {
      if (memo == null)
        memo = CommitMarkers.committed(spark, new Path(dir)).filter(isCommitted).toVector
      memo
    }

    def path(id: Long): String = s"$dir/$id"

    /** Record `id`, whose marker just committed. */
    def add(id: Long): Unit = if (memo != null) memo = (memo :+ id).distinct.sorted

    /** Forget the committed ids `drop` selects and return them; the
      * caller removes their shards. */
    def retire(drop: Long => Boolean): Vector[Long] = {
      val (gone, kept) = ids.partition(drop)
      memo = kept
      gone
    }
  }
}

private[streaming] object ShardLog {

  /** One relation of a batch: its shards live in `<name>/<dataDir>/<b>`
    * and its snapshots in `<name>/base/<b>` under the log root (an empty
    * `name` is the root itself), folded by `fold`. */
  final case class Relation(dataDir: String, fold: Fold, name: String = "") {
    private[ShardLog] def dataPath: String = if (name.isEmpty) dataDir else s"$name/$dataDir"
    private[ShardLog] def basePath: String = if (name.isEmpty) "base" else s"$name/base"
  }

  /**
   * How the standing rows FOLD out of (latest snapshot, post-snapshot
   * shard tail), and what gets persisted at a compaction point. The
   * protocol (markers, rollup, sweeps, crash ordering) stays in
   * [[ShardLog]]; only the read/merge SEMANTICS vary per member.
   */
  trait Fold {
    /** Standing rows at (snapshot dir, ascending `(batchId, shardDir)`
      * tail). At least one side is non-empty. */
    def rows(spark: SparkSession, snapshot: Option[String],
        tail: Seq[(Long, String)]): DataFrame
    /** Rows to persist as the compacted snapshot (default: the fold
      * itself — append semantics needs no batch stamp). */
    def snapshotRows(rows: DataFrame, upTo: Long): DataFrame = rows
    /** The fold when NOTHING is committed yet (default: fail — the ANN
      * members only read after a drain). */
    def empty(spark: SparkSession): DataFrame =
      throw new IllegalStateException("no committed batches")
  }

  /** Append semantics: snapshot + shards share a schema; the fold is ONE
    * multi-path FileScan of `readCols` (never an N-way union — per-batch
    * relations would add planning cost per COMMITTED batch). */
  final class AppendFold(readCols: Seq[String]) extends Fold {
    def rows(spark: SparkSession, snapshot: Option[String],
        tail: Seq[(Long, String)]): DataFrame =
      spark.read.parquet((snapshot.toSeq ++ tail.map(_._2)): _*)
        .select(readCols.map(col): _*)
  }

  /** SUM-MERGE semantics (r16, the cooccurrence member): shards carry
    * SIGNED per-key deltas of `cnt`; a key's standing value is the sum
    * of its deltas across the log. `rows()` returns the raw delta rows
    * — consumers filter/aggregate on top, so key predicates still push
    * into the multi-path scan — and a compaction materializes the
    * summed rows with exact zeros dropped, which is where per-key
    * ERASURE VIA NEGATIVE DELTAS completes physically (the tombstone
    * anti-join does not fit merged counts: a key's contribution is
    * baked into sums, so the delete verb subtracts instead). */
  final class SumFold(keys: Seq[String], cnt: String) extends Fold {
    def rows(spark: SparkSession, snapshot: Option[String],
        tail: Seq[(Long, String)]): DataFrame =
      spark.read.parquet((snapshot.toSeq ++ tail.map(_._2)): _*)
        .select((keys :+ cnt).map(col): _*)
    override def snapshotRows(rows: DataFrame, upTo: Long): DataFrame =
      rows.groupBy(keys.map(col): _*)
        .agg(org.apache.spark.sql.functions.sum(col(cnt)).as(cnt))
        .where(col(cnt) =!= 0)
  }

  /**
   * LATEST-WINS semantics: a shard holds the new value of each key its
   * batch touched, stamped with the batch id in a `b` column, and a
   * key's standing row is its newest one. `schema` is the stored schema
   * (`key`, the value columns, then `b`); reads declare it, so a batch
   * that touched no key is a legal empty shard. The tail fold is ONE
   * multi-path FileScan + window, and the snapshot (one row per key) is
   * anti-joined against the tail's key set — broadcast, never an
   * O(standing) exchange (r12 verdict #2: a row_number window over
   * snapshot ∪ tail shuffled every standing row on every read).
   * Explicit broadcast: the tail is bounded by compactEvery batches of
   * touched keys — structurally small — while file-size stats alone
   * would leave the planner free to pick a sort-merge join and
   * re-shuffle the snapshot.
   */
  final class LatestFold(key: String, schema: StructType) extends Fold {
    private val served = schema.fieldNames.filter(_ != "b").map(col).toSeq

    def rows(spark: SparkSession, snapshot: Option[String],
        tail: Seq[(Long, String)]): DataFrame = {
      def read(paths: Seq[String]): DataFrame = spark.read.schema(schema).parquet(paths: _*)
      // latest-wins over the TAIL only — O(recent activity); tail rows
      // all carry b > the snapshot's batch id
      val tailFold = Option(tail).filter(_.nonEmpty).map { t =>
        val w = Window.partitionBy(col(key)).orderBy(col("b").desc)
        read(t.map(_._2))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(served: _*)
      }
      val snap = snapshot.map(p => read(Seq(p)).select(served: _*))
      (snap, tailFold) match {
        case (Some(s), None) => s
        case (None, Some(t)) => t
        case (None, None) => empty(spark) // unreachable: ShardLog guards
        case (Some(s), Some(t)) =>
          s.join(broadcast(t.select(col(key))), Seq(key), "left_anti").unionByName(t)
      }
    }
    // the `b` stamp keeps the snapshot readable under `schema` (and an
    // all-columns multi-path read with later tail shards well-typed)
    override def snapshotRows(rows: DataFrame, upTo: Long): DataFrame =
      rows.select(served: _*).withColumn("b", lit(upTo))
    override def empty(spark: SparkSession): DataFrame =
      spark.createDataFrame(new java.util.ArrayList[Row](),
        StructType(schema.filter(_.name != "b")))
  }
}
