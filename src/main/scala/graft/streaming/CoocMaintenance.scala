package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Cooccurrence

/**
 * Crash-safe STREAMING MAINTENANCE OF THE CO-OCCURRENCE MATRIX — the
 * reference's OWN pipeline as a standing maintained artifact. The
 * reference recomputes its rescorer inputs per window from operator
 * state (flink-cooccurrence ItemRowRescorerTwoInputStreamOperator.java
 * :158-228); this member gives the batch pipeline's C matrix
 * (`Cooccurrence.coocCounts`) the same durable standing-index lifecycle
 * as the dedup/ANN/lexical families, on the shared [[ShardLog]]
 * protocol with SUM-MERGE folds ([[ShardLog.SumFold]]).
 *
 * WHY AN EXACT O(batch) DELTA EXISTS: the pair count is BILINEAR in the
 * per-user histograms — C(a,b) = Σ_u n_a·n_b (a ≠ b) and n_a·(n_a−1)
 * on the diagonal, pairs NEVER span users. A batch that moves user u's
 * histogram from n to n+δ therefore changes C by exactly
 *
 *   ΔC(a,b) = δ_a·n_b + n_a·δ_b + δ_a·δ_b          (a ≠ b)
 *   ΔC(a,a) = 2·n_a·δ_a + δ_a·(δ_a − 1)
 *
 * — computable from the batch histogram δ plus the standing histograms
 * of ONLY the batch's users. Deleting a user's events entirely is the
 * same algebra with δ = −n: one NEGATIVE delta shard removes exactly
 * the user's own-pair contribution (no cross-user terms exist).
 *
 * One [[ShardLog]] under `root/` whose batches carry two sum-merge
 * relations, committed together under one marker:
 *  - `pairs/` — signed (item, other, cnt) deltas: the serving artifact;
 *  - `users/` — signed (user, item, n) histogram deltas: internal state
 *    the next batch's cross terms probe.
 * Crash replay is exact: the pair delta is a function of the PRE-BATCH
 * user fold, and a batch's user shard stays invisible until its marker
 * commits, so the replay recomputes the identical pair shard.
 *
 * SERVE: [[currentCounts]] is one sum-merge aggregate over the pairs
 * fold (snapshot + ≤ compactEvery delta shards — the same pair-scale
 * aggregate the batch pipeline pays on raw events); [[llrTopK]] is the
 * UNCHANGED batch rescorer tail over it, so the drain hash-matches the
 * `cooc_llr_topk` oracle. Per-batch ingest cost: one O(batch)
 * histogram, one probe of the standing user fold (filtered to the
 * batch's users BEFORE aggregating, so the predicate pushes into the
 * scan; the user-log scan itself is the standing-probe cost the
 * family's refresh members all pay — at 100 TB the user log would
 * bucket by user so the listing prunes), and per-user-activity-bounded
 * delta joins (the kMax user cut bounds the fan-out upstream, exactly
 * as in the reference's sampled pipeline).
 *
 * ERASURE: negative deltas zero the key sums; the covering compaction
 * drops exact zeros ([[ShardLog.SumFold.snapshotRows]]) and the delta
 * shards holding the removed values sweep one cycle later — same
 * two-cycle physical-erasure bound as the tombstone members, via
 * subtraction instead of anti-join (merged counts cannot be key-masked:
 * a user's contribution is baked into sums).
 */
final class CoocMaintenance(spark: SparkSession, root: String,
    compactEvery: Int = 64)
  extends MaintainedIndex(spark, root, compactEvery,
    Seq(CoocMaintenance.pairs, CoocMaintenance.users)) {

  import CoocMaintenance.{pairs, users}

  /** δ×δ / n×n: the batch co-occurrence algebra over one histogram
    * relation `(user, item, n)` — `Cooccurrence.coocCounts`' inner
    * select, kept verbatim so the fold is the same arithmetic. */
  private def selfTerms(pu: DataFrame): DataFrame = {
    val a = pu.as("a"); val b = pu.as("b")
    a.join(b, "user").select(
      col("a.item").as("item"), col("b.item").as("other"),
      when(col("a.item") === col("b.item"), col("a.n") * (col("a.n") - 1))
        .otherwise(col("a.n") * col("b.n")).as("c"))
  }

  /** Cross terms between the batch histogram δ and the standing
    * histograms n of the same users: δ_a·n_b in both orientations,
    * 2·n·δ on the diagonal (emitted once). */
  private def crossTerms(d: DataFrame, old: DataFrame): DataFrame = {
    val j = d.as("a").join(old.as("b"), "user")
    val fwd = j.select(
      col("a.item").as("item"), col("b.item").as("other"),
      when(col("a.item") === col("b.item"), lit(2L) * col("a.n") * col("b.n"))
        .otherwise(col("a.n") * col("b.n")).as("c"))
    val rev = j.where(col("a.item") =!= col("b.item")).select(
      col("b.item").as("item"), col("a.item").as("other"),
      (col("a.n") * col("b.n")).as("c"))
    fwd.unionByName(rev)
  }

  /** Standing histograms of exactly `uids`' users: the semi-join runs
    * UNDER the sum-merge aggregate so the user predicate reaches the
    * delta scan. Callers guard on [[committedCount]] > 0. */
  private def oldHistograms(uids: DataFrame): DataFrame =
    log.currentRows(users)
      .join(broadcast(uids.select(col("user")).distinct()), Seq("user"), "left_semi")
      .groupBy(col("user"), col("item")).agg(sum(col("n")).as("n"))
      .where(col("n") =!= 0)

  private def sumDelta(terms: DataFrame): DataFrame =
    terms.groupBy(col("item"), col("other")).agg(sum(col("c")).as("cnt"))
      .where(col("cnt") =!= 0)

  /** Fold one ingest batch of interactions `(user, item, ...)` into the
    * standing matrix. Idempotent; O(batch · per-user activity). */
  def processBatch(batchId: Long, inter: DataFrame): Unit = once(batchId) {
    val delta = Cooccurrence
      .perUserItemCounts(inter.select(col("user"), col("item")))
      .localCheckpoint(true) // feeds the pair delta and the users shard
    try {
      val terms =
        if (log.committedCount == 0) selfTerms(delta)
        else selfTerms(delta).unionByName(crossTerms(delta, oldHistograms(delta)))
      log.commitShard(batchId, Seq(sumDelta(terms), delta), "{}")
    } finally {
      org.apache.spark.sql.graftbridge.CheckpointBridge.release(delta)
    }
  }

  /** DELETE users' entire event contribution (takedown): one negative
    * delta per relation — ΔC = −(own-pair contribution), Δn = −n. Scores
    * downstream shift exactly as if the users never existed. */
  override def deleteBatch(batchId: Long, userIds: DataFrame): Unit = once(batchId) {
    require(log.committedCount > 0, "delete before any ingest")
    val old = oldHistograms(userIds).localCheckpoint(true)
    try {
      log.commitShard(batchId, Seq(
        sumDelta(selfTerms(old)).select(col("item"), col("other"), (-col("cnt")).as("cnt")),
        old.select(col("user"), col("item"), (-col("n")).as("n"))), """{"del":true}""")
    } finally {
      org.apache.spark.sql.graftbridge.CheckpointBridge.release(old)
    }
  }

  /** The standing C matrix `(item, other, cnt)`, cnt > 0 — sum-merge of
    * the pairs fold; the exact relation `Cooccurrence.coocCounts`
    * computes from raw events. */
  def currentCounts(): DataFrame =
    log.currentRows(pairs)
      .groupBy(col("item"), col("other")).agg(sum(col("cnt")).as("cnt"))
      .where(col("cnt") > 0)

  /** The standing user histograms (specs/forensics). */
  def currentHistograms(): DataFrame =
    log.currentRows(users)
      .groupBy(col("user"), col("item")).agg(sum(col("n")).as("n"))
      .where(col("n") =!= 0)

  /** The reference pipeline's serve: LLR top-k from the standing matrix
    * — the unchanged batch rescorer tail (broadcast row sums + native
    * LLR + WindowGroupLimit rank). */
  def llrTopK(k: Int): DataFrame =
    Cooccurrence.llrTopKFromCounts(currentCounts(), k)
}

object CoocMaintenance {
  private[streaming] val pairs = ShardLog.Relation("delta",
    new ShardLog.SumFold(Seq("item", "other"), "cnt"), "pairs")
  private[streaming] val users = ShardLog.Relation("delta",
    new ShardLog.SumFold(Seq("user", "item"), "n"), "users")
}
