package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Connected components over an undirected pair list — the operator that
 * turns near-duplicate PAIRS (MinHash/SimHash/embedding verdicts) into
 * duplicate GROUPS with one canonical representative, the final step of
 * every web-scale dedup pipeline ("keep min doc_id per component").
 *
 * Algorithm: iterative min-label propagation with POINTER HALVING.
 * Every node starts labeled with itself; each round every node takes
 * the min of its own label and its neighbors' labels, then shortcuts
 * comp <- comp(comp). The halving step doubles propagation reach per
 * round, so rounds = O(log diameter) (cf. Kiveris et al., "Connected
 * Components in MapReduce and Beyond") instead of the plain
 * propagation's O(diameter); near-dup components are near-cliques and
 * converge in 2-3 rounds either way, but adversarial long chains stay
 * logarithmic.
 *
 * Execution: the loop runs on raw RDDs with CO-PARTITIONED edge and
 * label tables (one fixed HashPartitioner), the same discipline as the
 * sampled window loop: after one-time setup the per-round edges->labels
 * join is NARROW on both sides, and the only shuffle per round is the
 * (dst, label) message reduceByKey — at 100 TB that is the information-
 * theoretic minimum movement (one message per edge), with zero re-shuffle
 * of the edge table and no per-round Catalyst planning. (A Dataset
 * version re-shuffled both tables every round, and the checkpointed
 * tables' default size estimates blocked broadcast planning.)
 */
object ConnectedComponents {

  /** Pair-count bound below which the whole edge list is COLLECTED and
    * solved by a driver-side union-find instead of the distributed round
    * loop (r17 opt round). At per-batch maintenance grain a CC invocation
    * is a touched subgraph of a few hundred edges, yet the round loop
    * still paid 4-6 driver ACTIONS (edge count + one count per round) at
    * 100-230 ms of scheduling each — ~0.6-0.9 s per batch of pure
    * latency. Below the bound the driver does the same min-label fixpoint
    * in milliseconds over a ~tens-of-MB transient collect (the
    * bounded-artifact posture of the codebook/stats collects — the bound
    * was raised 2^17 -> 2^19 after a per-job profile showed sf0.1 refresh
    * batches just over 2^17 still paying 4-5 distributed rounds for a
    * graph the driver solves in one); above it — the 100 TB regime —
    * the distributed loop is unchanged. Output is byte-identical: a
    * union-find whose roots are kept at the component minimum computes
    * exactly "comp = min reachable node id". */
  private[graft] val LocalEdgeMax = 1 << 19

  /**
   * (node, comp) for every node appearing in `pairs` (columns doc_a,
   * doc_b); comp = min node id reachable — deterministic.
   */
  def components(pairs: DataFrame, maxIters: Int = 100,
      localMax: Int = LocalEdgeMax): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._

    val raw = pairs
      .select(col("doc_a").cast("long").as("src"), col("doc_b").cast("long").as("dst"))
      .as[(Long, Long)].rdd
      .persist(StorageLevel.MEMORY_AND_DISK)
    // size the loop's partitioner to edge volume (a few hundred thousand
    // edges gain nothing from default-width rounds; at real scale
    // edges/64k >> default and the session default wins). No fixed floor:
    // a touched-subgraph CC over a few hundred edges (the per-batch
    // maintenance regime) runs every round single-task — the old floor of
    // 4 paid 4x the task launches per shuffle for data that fits in one
    // (r16 opt round; sizing stays purely input-derived, so cluster-scale
    // graphs still widen to the session default)
    val defaultParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val nPairs = Jobs.labeled(spark, "cc: edge count")(raw.count())
    if (nPairs <= localMax) {
      val edges = Jobs.labeled(spark, "cc: local collect")(raw.collect())
      raw.unpersist(blocking = false)
      return localComponents(spark, edges)
    }
    val parts = math.max(1L, math.min(defaultParts.toLong, nPairs * 2 / 65536 + 1)).toInt
    val part = new HashPartitioner(parts)

    // Both directions; self-loops dropped from edges (they never change
    // a label) but their endpoints still get a singleton component.
    // Duplicate input pairs are NOT deduplicated — under min-propagation
    // a duplicate edge only duplicates a message, which the map-side
    // combine of the message reduce absorbs; a distinct() here would be
    // a full extra shuffle of the edge list for nothing.
    val edges = raw
      .flatMap { case (a, b) => if (a == b) Iterator.empty else Iterator((a, b), (b, a)) }
      .partitionBy(part)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // ROUND 1 FUSED INTO INITIALIZATION (r16 opt round): the first
    // min-propagation round assigns every node min(self, neighbors) —
    // computable NARROWLY from the partitioned edge list (keys are
    // co-located by hash, so a per-partition min per src is the global
    // min), plus the tiny self-loop-only remainder; reduceByKey folds
    // the overlap without moving the already-partitioned side. Saves the
    // loop's most expensive round (full-frontier messages) as a job.
    val edgeNodes = edges.mapPartitions({ it =>
      val mins = new java.util.HashMap[Long, Long]()
      it.foreach { case (src, dst) =>
        mins.put(src, math.min(mins.getOrDefault(src, src), dst))
      }
      scala.jdk.CollectionConverters.IteratorHasAsScala(
        mins.entrySet().iterator()).asScala
        .map(e => (e.getKey.longValue(), e.getValue.longValue()))
    }, preservesPartitioning = true)
    val selfLoopNodes = raw.filter { case (a, b) => a == b }
      .map { case (a, _) => (a, a) }.partitionBy(part)
    var labels = edgeNodes.union(selfLoopNodes)
      .reduceByKey(part, math.min(_, _))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val persisted = scala.collection.mutable.ArrayBuffer[org.apache.spark.rdd.RDD[_]](raw, edges, labels)
    // exception-safe cache lifetime: non-convergence (the `require` below)
    // or any job failure must still release every per-round cached RDD —
    // a long-lived session would otherwise accumulate ~2 blocks per round
    try {
    var changed = 1L
    var iters = 1 // round 1 ran fused above
    // FRONTIER pruning: only nodes whose label changed last round need to
    // re-send it (a stable label was already delivered in an earlier
    // round). Round 1 changed exactly the nodes whose fused label is
    // below their id; on near-clique dup graphs the frontier collapses
    // after round 2, so later rounds move almost nothing.
    var frontier = labels.filter { case (n, c) => c < n }
    // POINTER HALVING (comp <- comp(comp)) doubles propagation reach per
    // round but costs two extra |nodes|-sized shuffle stages per round.
    // Near-dup components are near-cliques that converge in a handful of
    // plain rounds, and at per-batch maintenance grain each extra STAGE
    // is pure scheduler latency — so halving is ADAPTIVE (r16 opt round):
    // plain 2-stage min-propagation rounds first; if the graph is still
    // moving after `HalvingFrom` rounds it is chain-shaped and every
    // later round halves too, restoring the O(log diameter) escalation
    // (reach after HalvingFrom + k rounds ~ HalvingFrom * 2^k). The
    // fixpoint of min-label propagation is the component minimum under
    // ANY update schedule, so the output is byte-identical either way
    // (ConnectedComponentsSpec covers clique/chain/mixed shapes).
    val HalvingFrom = 3
    while (changed > 0 && iters < maxIters) {
      // each frontier node's label flows to its neighbors: the round's
      // main shuffle, sized by the frontier's out-degree sum
      val msgs = edges.join(frontier) // narrow: both sides on `part`
        .map { case (_, (dst, lab)) => (dst, lab) }
        .reduceByKey(part, math.min(_, _))
      val next =
        if (iters < HalvingFrom) {
          labels.leftOuterJoin(msgs) // narrow: both on `part`
            .mapValues { case (cur, nbr) =>
              val now = math.min(cur, nbr.getOrElse(cur))
              (now, now < cur)
            }
            .persist(StorageLevel.MEMORY_AND_DISK)
        } else {
          val viaMsg = labels.leftOuterJoin(msgs) // narrow: both on `part`
            .mapValues { case (cur, nbr) => math.min(cur, nbr.getOrElse(cur)) }
          // labels always point at node ids, so one label-table self-join
          // composes comp(comp)
          val hopped = viaMsg.map { case (n, c) => (c, n) }.partitionBy(part)
            .join(viaMsg) // narrow on `part`: (c, (n, compOfC))
            .map { case (_, (n, c2)) => (n, c2) }
            .partitionBy(part)
          labels.join(hopped) // narrow: both on `part`
            .mapValues { case (prev, now) => (now, now < prev) }
            .persist(StorageLevel.MEMORY_AND_DISK)
        }
      frontier = next.filter(_._2._2).mapValues(_._1)
      changed = Jobs.labeled(spark, s"cc: round ${iters + 1}")(frontier.count())
      labels = next.mapValues(_._1)
      persisted += next
      iters += 1
    }
    require(changed == 0, s"connected components did not converge in $maxIters rounds")

    // materialize the labels eagerly, then release every cached round
    org.apache.spark.sql.graftbridge.StatsBridge.dropCarriedStats(
      labels.toDF("node", "comp").localCheckpoint(true))
    } finally {
      persisted.foreach(_.unpersist(blocking = false))
    }
  }

  /** Driver-side union-find over a collected edge list. The root of every
    * tree is kept at the MINIMUM member id (union links the larger root
    * under the smaller), so the final find(node) IS "min node id
    * reachable" — the identical fixpoint the distributed loop converges
    * to, independent of edge order. Self-loops contribute their endpoint
    * as a singleton, like the distributed path. Returns a LocalRelation
    * (already-materialized driver rows: downstream reads need no job, and
    * consumers' explicit broadcast hints are unaffected). */
  private def localComponents(spark: org.apache.spark.sql.SparkSession,
      edges: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x // path compression
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.putIfAbsent(a, a)
      if (a != b) {
        parent.putIfAbsent(b, b)
        val ra = find(a)
        val rb = find(b)
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
      }
    }
    val out = new Array[(Long, Long)](parent.size())
    val it = parent.keySet().iterator()
    var i = 0
    while (it.hasNext) { val n = it.next(); out(i) = (n, find(n)); i += 1 }
    scala.util.Sorting.quickSort(out)(Ordering.by(_._1))
    spark.createDataset(scala.collection.immutable.ArraySeq.unsafeWrapArray(out))
      .toDF("node", "comp")
  }
}
