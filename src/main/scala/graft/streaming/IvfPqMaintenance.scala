package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.{IvfIndex, PqIndex}

/**
 * Crash-safe streaming maintenance of the STANDING IVFADC TABLE — the
 * deployment capstone of the ANN family: one stream keeps the single
 * `(vec_id, cluster, recon2, code_0..code_{m-1})` table (the canonical
 * FAISS serving layout, [[graft.operators.PqIndex.ivfpqTable]]) current
 * under ingest, with the same [[ShardLog]] durability contract as
 * [[AnnMaintenance]] (per-batch shards + rolled-up commit markers +
 * compaction; kill/resume byte-identical).
 *
 * Lifecycle: the FIRST batch is the training snapshot — it fits BOTH
 * models (IVF k-means + the M sub-k-means PQ codebooks) and publishes
 * them in ONE atomic rename (`models/` holding `centroids/` + `books/`,
 * visible iff both are complete — no crash window between the two
 * artifacts). Every later batch is O(batch): assign + encode the batch
 * against the frozen models (one scan + one batch-sized stitch join),
 * one shard write, one marker.
 *
 * IN-STREAM REFIT (r15 verdict #3 — the last lifecycle verb in
 * streaming form): when the drift signal fires, [[refitBatch]] retrains
 * BOTH models on the corpus-so-far INSIDE the stream, publishes them as
 * generation g+1 (`models_g<g+1>/`, same one-rename atomicity), and
 * commits the re-encoded corpus as a SNAPSHOT batch
 * ([[ShardLog.commitSnapshot]]) whose basemeta marker records the
 * generation — refit IS a compaction with retrain, so the re-encode
 * lands exactly where a fold would and the old-generation shards become
 * unreachable in the same marker commit that makes the new generation
 * visible (no mixed-generation read set, ever). A crash between the
 * models_g publish and the snapshot commit leaves serving on generation
 * g (the [[MaintainedIndex]] generation rule); the replay refits
 * deterministically (integer truncated-mean k-means) and keeps the
 * already-published dir.
 *
 * Other crash windows are [[AnnMaintenance]]'s, with the two-model
 * publish collapsed into one.
 *
 * `residual = true` maintains the RESIDUAL-encoded table instead (the
 * true FAISS IndexIVFPQ layout, [[graft.operators.PqIndex.buildResPq]]):
 * codebooks fit on `v - centroid[cluster]`, same shard-log protocol,
 * same O(batch) later-batch shape (assign + residual-encode one
 * projection), serving through the residual ADC read. The two layouts
 * share every line of the durability machinery — only the fit/encode
 * calls differ.
 */
final class IvfPqMaintenance(spark: SparkSession, root: String,
    nLists: Int = 16, iters: Int = 3, m: Int = 8, ksub: Int = 16,
    pqIters: Int = 2, compactEvery: Int = 64, dims: Int = 64,
    residual: Boolean = false)
  extends MaintainedIndex(spark, root, compactEvery, Seq(ShardLog.Relation("codes",
    new ShardLog.AppendFold(
      Seq("vec_id", "cluster", "recon2") ++ (0 until m).map(s => s"code_$s")))),
    deleteKey = "vec_id", markerField = "gen") {

  private type Models = (Array[Array[Double]], Array[Array[Array[Double]]])

  private val bookSchema = StructType(Seq(
    StructField("s", IntegerType, nullable = false),
    StructField("c", IntegerType, nullable = false),
    StructField("cv", ArrayType(DoubleType, containsNull = false), nullable = false)))

  // `models/` holds `centroids/` + `books/`, published in one rename
  private val store = new ModelStore[Models]("models", readModels, { case ((cents, books), dir) =>
    writeCentroids(cents, new Path(dir, "centroids"))
    writeRows(for {
      (book, s) <- books.toSeq.zipWithIndex
      (cv, c) <- book.toSeq.zipWithIndex
    } yield Row(s, c, cv.toSeq), bookSchema, new Path(dir, "books"))
  })

  private def readModels(dir: Path): Models = {
    val cents = readCentroids(new Path(dir, "centroids"))
    val rows = spark.read.schema(bookSchema)
      .parquet(new Path(dir, "books").toString).collect()
    // fail fast on parameter drift (r15 advice): an instance constructed
    // with different m/ksub over an existing root would otherwise yield
    // truncated or empty sub-codebooks and silently wrong codes
    require(cents.length == nLists,
      s"$dir/centroids holds ${cents.length} centroids, instance " +
        s"expects nLists=$nLists — constructor params disagree with the " +
        "published models")
    require(rows.length == m * ksub,
      s"$dir/books holds ${rows.length} codewords, instance " +
        s"expects m*ksub=${m * ksub} (m=$m, ksub=$ksub) — constructor " +
        "params disagree with the published models")
    val books = Array.tabulate(m) { s =>
      rows.filter(_.getInt(0) == s).sortBy(_.getInt(1))
        .map(_.getSeq[Double](2).toArray)
    }
    books.zipWithIndex.foreach { case (b, s) =>
      require(b.length == ksub,
        s"$dir/books subspace $s has ${b.length} codewords, " +
          s"expected ksub=$ksub")
    }
    (cents, books)
  }

  // the fit parameters every batch and refit marker records
  private val params = s""""nLists":$nLists,"iters":$iters,"m":$m,""" +
    s""""ksub":$ksub,"pqIters":$pqIters,"res":$residual"""

  /** The committed model generation (0 = the bootstrap fit). */
  def generation: Int = markerValue.toInt

  /** The current generation's frozen models: (IVF centroids, PQ
    * codebooks). */
  def models(): Models = store()

  /**
   * Fold one ingest batch of embeddings `(vec_id, embedding, ...)` into
   * the table. Idempotent; O(batch) after the bootstrap.
   */
  def processBatch(batchId: Long, embs: DataFrame): Unit = once(batchId) {
    val marker = s"{$params}"
    if (!store.published) {
      // bootstrap: this batch IS the training snapshot for both models
      val (cents, assigned) = IvfIndex.buildIndex(embs, nLists, iters)
      val (books, table, fitted) = fit(embs, cents, assigned)
      store.bootstrap((cents, books))
      log.commitShard(batchId, Seq(table), marker)
      // the shard parquet is the durable copy — the bootstrap builds'
      // checkpoint blocks are transient and released once it's written
      (assigned +: fitted).foreach(org.apache.spark.sql.graftbridge.CheckpointBridge.release)
    } else {
      val (cents, books) = models()
      val shard =
        if (residual)
          PqIndex.encodeResBatch(IvfIndex.assignBatch(embs, cents), cents, books)
        else
          PqIndex.ivfpqTable(
            IvfIndex.assignBatch(embs, cents), PqIndex.encodeBatch(embs, books))
      log.commitShard(batchId, Seq(shard), marker)
    }
  }

  /** Fit the PQ codebooks for `assigned` (the IVF assignment of
    * `corpus` under `cents`): the books, the standing table, and the
    * checkpointed builds to release once the table is written. */
  private def fit(corpus: DataFrame, cents: Array[Array[Double]],
      assigned: DataFrame): (Array[Array[Array[Double]]], DataFrame, Seq[DataFrame]) =
    if (residual) {
      val (books, table) = PqIndex.buildResPq(assigned, cents, m, ksub, pqIters, dims)
      (books, table, Seq(table))
    } else {
      val (books, codes) = PqIndex.buildPq(corpus, m, ksub, pqIters, dims)
      (books, PqIndex.ivfpqTable(assigned, codes), Seq(codes))
    }

  /**
   * IN-STREAM REFIT-AND-SWAP: retrain both models on `corpus` (the full
   * corpus as of this batch — the lakehouse source the stream ingests
   * from, INCLUDING this batch's vectors), publish them as the next
   * generation, re-encode everything and commit it as this batch's
   * SNAPSHOT. The caller decides WHEN (the `*_recall_drift` signal); the
   * decision must be a function of the batch id (the foreachBatch replay
   * contract — a replayed refit batch must refit again, which this
   * method handles idempotently). O(corpus) by necessity — a refit IS a
   * rebuild — but scheduled as one amortized batch instead of a
   * stop-the-world side pipeline, and it replaces the compaction the log
   * would owe anyway.
   */
  def refitBatch(batchId: Long, corpus: DataFrame): Unit = once(batchId) {
    require(store.published,
      "refit before bootstrap — batch 0 already fits; feed it processBatch")
    val (cents, assigned) = IvfIndex.buildIndex(corpus, nLists, iters)
    val (books, table, fitted) = fit(corpus, cents, assigned)
    store.refit(batchId, (cents, books), table, params)
    (assigned +: fitted).foreach(org.apache.spark.sql.graftbridge.CheckpointBridge.release)
  }

  /** The standing IVFADC table over all committed batches — resolved
    * from the cached commit state; safe concurrently with ONE later
    * compaction (the [[ShardLog]] deferral contract). */
  def currentTable(): DataFrame = log.currentRows()

  /** Serve approximate top-k from the maintained table (broadcast-probe
    * list pruning + ADC scoring; query vectors re-read from
    * `embeddings` with a pushed-down vec_id filter). */
  def topK(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      nProbe: Int): DataFrame = {
    val (cents, books) = models()
    if (residual)
      PqIndex.ivfadcResTopKFromTable(cents, books, currentTable(), embeddings,
        queryIds, k, nProbe)
    else
      PqIndex.ivfadcTopKFromTable(cents, books, currentTable(), embeddings,
        queryIds, k, nProbe)
  }

  /** Two-stage REFINED serve from the maintained table
    * ([[graft.operators.PqIndex.ivfadcRefinedTopK]]): ADC shortlist of
    * `shortlist` per query, raw vectors fetched only for the shortlist,
    * exact re-rank — the high-recall read a deployment points at this
    * stream's standing state. */
  def topKRefined(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      nProbe: Int, shortlist: Int): DataFrame = {
    val (cents, books) = models()
    if (residual)
      PqIndex.ivfadcResRefinedTopK(cents, books, currentTable(), embeddings,
        queryIds, k, nProbe, shortlist)
    else
      PqIndex.ivfadcRefinedTopK(cents, books, currentTable(), embeddings,
        queryIds, k, nProbe, shortlist)
  }
}
