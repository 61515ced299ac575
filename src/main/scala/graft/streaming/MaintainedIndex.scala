package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/**
 * The base of every crash-safe standing-index maintainer: it owns the
 * member's [[ShardLog]] and the commit discipline, so a member supplies
 * only its relations, its per-batch derivation and its model format
 * (the role Flink's `AbstractStreamOperator` plays for the reference's
 * stateful operators: one owner of snapshot and restore).
 *
 * The contract, stated once for the family:
 *  - SINGLE WRITER: exactly one live instance writes a given root (the
 *    foreachBatch contract); the commit state is cached and advanced by
 *    the instance's own commits.
 *  - REPLAY GUARD: a batch is committed iff its marker exists, and every
 *    verb run under [[once]] returns at once for a committed batch id —
 *    Spark replays a foreachBatch batch under the same id, so replay by
 *    id is idempotent. A crashed batch's shards are unmarked debris the
 *    replay overwrites.
 *  - GENERATION FROM THE SNAPSHOT MARKER: a member's numeric marker
 *    field (`markerField` — the model generation, or the kNN graph's
 *    probe watermark) is read from the latest snapshot marker once and
 *    memoized; ordinary compactions carry it forward, and a refit
 *    advances it only after its snapshot commits. The filesystem never
 *    decides it, so a crash between a model publish and its snapshot
 *    commit leaves the old table paired with the old model.
 *  - WRITE-ONCE PUBLISH ([[ModelStore]]): a model generation appears in
 *    one atomic rename and is never rewritten; a failed publish deletes
 *    its temp copy and PROPAGATES — a swallowed failure would let the
 *    batch commit and a later bootstrap fit a second model over the same
 *    table. The replay refits deterministically and republishes.
 */
abstract class MaintainedIndex private[streaming] (spark: SparkSession, root: String,
    compactEvery: Int, relations: Seq[ShardLog.Relation], deleteKey: String = "",
    markerField: String = "") {

  private[streaming] final val log = new ShardLog(spark, root, compactEvery, relations,
    () => if (markerField.isEmpty) "" else s""""$markerField":$markerValue""", deleteKey)

  protected final def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed batch ids still individually listed — the post-snapshot
    * TAIL. Ids <= [[coveredUpTo]] are committed but rolled into the
    * snapshot marker; use [[isCommitted]]/[[committedCount]] for the full
    * picture. */
  def committedIds: Seq[Long] = log.committedIds

  /** Max batch id summarized by the latest compacted snapshot. */
  def coveredUpTo: Option[Long] = log.coveredUpTo

  def isCommitted(id: Long): Boolean = log.isCommitted(id)

  /** Total committed batches (covered prefix + tail). */
  def committedCount: Long = log.committedCount

  /** Eager compaction (cadence-independent); two calls physically purge
    * every currently deleted row from the root. */
  def compactNow(): Unit = log.compactNow()

  /** DELETE standing rows by `deleteKey` (takedown / right-to-erasure):
    * `keys` is any DataFrame exposing it. One tombstone batch in the log
    * ([[ShardLog.commitDeletes]]): serves exclude the rows as soon as the
    * marker commits, the covering compaction drops them physically and
    * the key shard sweeps one cycle later. Models are untouched —
    * deletion does not retrain; a refit over the post-delete corpus
    * does. */
  def deleteBatch(batchId: Long, keys: DataFrame): Unit =
    log.commitDeletes(batchId, keys, """{"del":true}""")

  /** Run `body` unless `batchId` already committed (the replay guard). */
  protected final def once(batchId: Long)(body: => Unit): Unit =
    if (!log.isCommitted(batchId)) body

  @volatile private var markerMemo: Long = -1L

  /** The committed value of `markerField` (0 before any snapshot
    * carries it). */
  protected final def markerValue: Long = {
    if (markerMemo < 0)
      markerMemo = log.latestSnapshotMarker
        .flatMap(mk => s""""$markerField"\\s*:\\s*(\\d+)""".r.findFirstMatchIn(mk))
        .map(_.group(1).toLong)
        .getOrElse(0L)
    markerMemo
  }

  /** Record `v` as the marker field's value — only after the snapshot
    * marker that carries it committed. */
  protected final def advanceMarker(v: Long): Unit = markerMemo = v

  /**
   * A write-once generational model beside the log, its generation the
   * member's `markerField`: generation 0 lives at `<root>/<name>`,
   * generation g at `<root>/<name>_g<g>`. `read` loads (and checks) the
   * model at a directory; `write` writes it under one. The committed
   * generation's model is loaded at most once per instance — an
   * immutable artifact is never re-read per batch.
   */
  private[streaming] final class ModelStore[M <: AnyRef](name: String, read: Path => M,
      write: (M, Path) => Unit) {

    @volatile private var memo: M = _

    private def dir(gen: Long): Path =
      new Path(if (gen == 0) s"$root/$name" else s"$root/${name}_g$gen")

    /** Whether the committed generation's model exists. */
    def published: Boolean = memo != null || fs.exists(dir(markerValue))

    /** The committed generation's model. */
    def apply(): M = {
      if (memo == null) {
        require(published, s"no $name published yet (no batch processed)")
        memo = read(dir(markerValue))
      }
      memo
    }

    /** Publish generation `gen` through `.<name>_g<gen>.tmp` and one
      * atomic rename; an existing generation is kept (a replay refits
      * deterministically — identical values). */
    private def publish(gen: Long, model: M): Unit = {
      val dst = dir(gen)
      if (!fs.exists(dst)) {
        val tmp = new Path(s"$root/.${name}_g$gen.tmp")
        write(model, tmp)
        try CommitMarkers.renameOverwrite(spark, fs, tmp, dst)
        catch {
          case e: Exception =>
            fs.delete(tmp, true)
            throw e
        }
      }
    }

    /** The bootstrap batch's fit: publish generation 0 and serve it
      * without a re-read. */
    def bootstrap(model: M): Unit = { publish(0, model); memo = model }

    /** IN-STREAM REFIT: publish `model` as the next generation, commit
      * `rows` as batch `batchId`'s SNAPSHOT with `extraJson` and the new
      * generation in its marker ([[ShardLog.commitSnapshot]]), then swap
      * the memos. */
    def refit(batchId: Long, model: M, rows: DataFrame, extraJson: String): Unit = {
      val gen = markerValue + 1
      publish(gen, model)
      log.commitSnapshot(batchId, rows, s"""$extraJson,"$markerField":$gen""")
      advanceMarker(gen)
      memo = model
    }
  }

  /** One single-partition parquet of `rows` at `dir` (model artifacts
    * are driver-sized). */
  protected final def writeRows(rows: Seq[Row], schema: StructType, dir: Path): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(dir.toString)

  /** IVF centroids at `dir`, ordered by cluster id. */
  protected final def readCentroids(dir: Path): Array[Array[Double]] =
    spark.read.schema(MaintainedIndex.centroidSchema).parquet(dir.toString)
      .collect().sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)

  protected final def writeCentroids(cents: Array[Array[Double]], dir: Path): Unit =
    writeRows(cents.toSeq.zipWithIndex.map { case (cv, i) => Row(i, cv.toSeq) },
      MaintainedIndex.centroidSchema, dir)
}

private[streaming] object MaintainedIndex {
  val centroidSchema: StructType = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("cv", ArrayType(DoubleType, containsNull = false), nullable = false)))
}
