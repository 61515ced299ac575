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
 * visible (no mixed-generation read set, ever). The GENERATION is
 * authoritative from the committed snapshot marker, not the filesystem:
 * a crash between the models_g publish and the snapshot commit leaves
 * serving on generation g (models g paired with gen-g codes), and the
 * replay refits deterministically, skips the already-published models
 * dir (identical values — integer truncated-mean k-means), and commits.
 * Ordinary compactions carry the generation forward in their own
 * markers (the ShardLog markerExtra hook) so a restart never loses it.
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
    residual: Boolean = false) {

  private val log = new ShardLog(spark, root, compactEvery, Seq(ShardLog.Relation("codes",
    new ShardLog.AppendFold(
      Seq("vec_id", "cluster", "recon2") ++ (0 until m).map(s => s"code_$s")))),
    // ordinary compactions must not lose the refit generation
    () => s""""gen":$generation""", deleteKey = "vec_id")

  private def fs = new Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val centroidSchema = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("cv", ArrayType(DoubleType, containsNull = false), nullable = false)))
  private val bookSchema = StructType(Seq(
    StructField("s", IntegerType, nullable = false),
    StructField("c", IntegerType, nullable = false),
    StructField("cv", ArrayType(DoubleType, containsNull = false), nullable = false)))

  def committedIds: Seq[Long] = log.committedIds
  def coveredUpTo: Option[Long] = log.coveredUpTo
  def isCommitted(id: Long): Boolean = log.isCommitted(id)
  def committedCount: Long = log.committedCount

  private val GenField = """"gen"\s*:\s*(\d+)""".r

  // the COMMITTED generation — authoritative from the latest snapshot
  // marker (filesystem consulted once; advanced by this instance's own
  // refit commits). Reading the models dir listing instead would open a
  // wrong-pairing window after a crash between a models_g publish and
  // its snapshot commit.
  @volatile private var genMemo: Int = -1

  /** The committed model generation (0 = the bootstrap fit). */
  def generation: Int = {
    if (genMemo < 0)
      genMemo = log.latestSnapshotMarker
        .flatMap(mk => GenField.findFirstMatchIn(mk).map(_.group(1).toInt))
        .getOrElse(0)
    genMemo
  }

  /** gen 0 keeps the original `models/` layout; refits publish
    * `models_g<g>/` siblings. */
  private def modelsDirFor(gen: Int): Path =
    if (gen == 0) new Path(s"$root/models") else new Path(s"$root/models_g$gen")

  private def modelsPublished: Boolean =
    modelsMemo != null || fs.exists(modelsDirFor(generation))

  // the current generation's models are WRITE-ONCE behind one atomic
  // rename — loaded at most once per instance (the AnnMaintenance
  // codebook-memo discipline); refit swaps the memo with the fitted
  // values in the same step that advances genMemo
  @volatile private var modelsMemo: (Array[Array[Double]], Array[Array[Array[Double]]]) = _

  /** The current generation's frozen models: (IVF centroids, PQ
    * codebooks). */
  def models(): (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    if (modelsMemo == null) {
      require(modelsPublished, "no models published yet (no batch processed)")
      val dir = modelsDirFor(generation)
      val cents = spark.read.schema(centroidSchema)
        .parquet(new Path(dir, "centroids").toString)
        .collect().sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
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
      modelsMemo = (cents, books)
    }
    modelsMemo
  }

  /** One-rename publish of generation `gen`'s models. Write-once: an
    * already-published dir short-circuits (a refit replay re-fits
    * deterministically, so the on-disk values are identical). */
  private def publishModels(gen: Int, cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]]): Unit = {
    val dst = modelsDirFor(gen)
    if (fs.exists(dst)) return
    val tmp = new Path(s"$root/.models_g$gen.tmp")
    val centRows = cents.zipWithIndex.map { case (cv, i) => Row(i, cv.toSeq) }
    spark.createDataFrame(
        spark.sparkContext.parallelize(centRows.toSeq, 1), centroidSchema)
      .write.mode("overwrite").parquet(new Path(tmp, "centroids").toString)
    val bookRows = for {
      (book, s) <- books.zipWithIndex
      (cv, c) <- book.zipWithIndex
    } yield Row(s, c, cv.toSeq)
    spark.createDataFrame(
        spark.sparkContext.parallelize(bookRows.toSeq, 1), bookSchema)
      .write.mode("overwrite").parquet(new Path(tmp, "books").toString)
    try CommitMarkers.renameOverwrite(spark, fs, tmp, dst)
    catch {
      case e: Exception =>
        // PROPAGATE (r15 advice): a swallowed publish failure would still
        // let the batch commit, and the next batch (or a restart) would
        // re-bootstrap on DIFFERENT data — a standing table mixing codes
        // from two model fits, decoded with one: silent wrong results.
        // Failing the batch means nothing commits and the replay refits
        // deterministically.
        fs.delete(tmp, true)
        throw e
    }
  }

  /**
   * Fold one ingest batch of embeddings `(vec_id, embedding, ...)` into
   * the table. Idempotent; O(batch) after the bootstrap.
   */
  def processBatch(batchId: Long, embs: DataFrame): Unit = {
    if (log.isCommitted(batchId)) return
    val marker = s"""{"nLists":$nLists,"iters":$iters,"m":$m,""" +
      s""""ksub":$ksub,"pqIters":$pqIters,"res":$residual}"""
    if (!modelsPublished) {
      // bootstrap: this batch IS the training snapshot for both models
      val (cents, assigned) = IvfIndex.buildIndex(embs, nLists, iters)
      if (residual) {
        val (books, table) =
          PqIndex.buildResPq(assigned, cents, m, ksub, pqIters, dims)
        publishModels(0, cents, books)
        modelsMemo = (cents, books)
        log.commitShard(batchId, Seq(table), marker)
        org.apache.spark.sql.graftbridge.CheckpointBridge.release(assigned)
        org.apache.spark.sql.graftbridge.CheckpointBridge.release(table)
      } else {
        val (books, codes) = PqIndex.buildPq(embs, m, ksub, pqIters, dims)
        publishModels(0, cents, books)
        modelsMemo = (cents, books)
        log.commitShard(batchId, Seq(PqIndex.ivfpqTable(assigned, codes)), marker)
        // the shard parquet is the durable copy — the bootstrap builds'
        // checkpoint blocks are transient and released once it's written
        org.apache.spark.sql.graftbridge.CheckpointBridge.release(assigned)
        org.apache.spark.sql.graftbridge.CheckpointBridge.release(codes)
      }
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
  def refitBatch(batchId: Long, corpus: DataFrame): Unit = {
    if (log.isCommitted(batchId)) return
    require(modelsPublished,
      "refit before bootstrap — batch 0 already fits; feed it processBatch")
    val newGen = generation + 1
    val (cents, assigned) = IvfIndex.buildIndex(corpus, nLists, iters)
    val snapExtra = s""""nLists":$nLists,"iters":$iters,"m":$m,""" +
      s""""ksub":$ksub,"pqIters":$pqIters,"res":$residual,"gen":$newGen"""
    if (residual) {
      val (books, table) =
        PqIndex.buildResPq(assigned, cents, m, ksub, pqIters, dims)
      publishModels(newGen, cents, books)
      log.commitSnapshot(batchId, table, snapExtra)
      genMemo = newGen
      modelsMemo = (cents, books)
      org.apache.spark.sql.graftbridge.CheckpointBridge.release(assigned)
      org.apache.spark.sql.graftbridge.CheckpointBridge.release(table)
    } else {
      val (books, codes) = PqIndex.buildPq(corpus, m, ksub, pqIters, dims)
      publishModels(newGen, cents, books)
      log.commitSnapshot(batchId, PqIndex.ivfpqTable(assigned, codes), snapExtra)
      genMemo = newGen
      modelsMemo = (cents, books)
      org.apache.spark.sql.graftbridge.CheckpointBridge.release(assigned)
      org.apache.spark.sql.graftbridge.CheckpointBridge.release(codes)
    }
  }

  /** DELETE standing vectors by id — tombstone batch in the shared log
    * ([[ShardLog.commitDeletes]]): serves exclude the codes immediately,
    * the covering compaction physically drops them, the key shard is
    * swept one cycle later. Models are untouched (deletion does not
    * retrain; [[refitBatch]] on the post-delete corpus does). */
  def deleteBatch(batchId: Long, ids: DataFrame): Unit = {
    if (log.isCommitted(batchId)) return
    log.commitDeletes(batchId, ids, """{"del":true}""")
  }

  /** Eager compaction (cadence-independent); two calls physically purge
    * every currently tombstoned vector from the root. */
  def compactNow(): Unit = log.compactNow()

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
