package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/**
 * Bounded min-heap of (value:Int, score:Double) pairs with capacity K.
 *
 * Same contract as the reference's Lucene-derived heap
 * (reference: IntDoublePriorityQueue.java:48-292): `add` while under
 * capacity, `update` replaces the least element only when the new score is
 * strictly greater; memory is O(K) regardless of input size. Dump order is
 * score-descending with ties broken by ascending value so results are
 * deterministic across partitionings.
 */
final class IntDoubleTopK(val capacity: Int) extends Serializable {
  require(capacity > 0, s"$capacity is <= 0")
  // 1-based heap arrays, slot 0 unused (classic binary-heap layout).
  private val values = new Array[Int](capacity + 1)
  private val scores = new Array[Double](capacity + 1)
  private var count = 0

  def size: Int = count
  def leastScore: Double = scores(1)
  def leastValue: Int = values(1)

  /** score-asc, then value-desc: the heap keeps the *largest* K, so the
    * "least" element (the eviction candidate) is the min score / max value.
    * Scores compare as Spark SQL orders doubles: NaN above every number
    * and equal to NaN, -0.0 equal to 0.0. */
  @inline private def lt(s1: Double, v1: Int, s2: Double, v2: Int): Boolean = {
    val c = if (s1 == s2) 0 else java.lang.Double.compare(s1, s2)
    c < 0 || (c == 0 && v1 > v2)
  }

  def offer(value: Int, score: Double): Unit =
    if (count < capacity) add(value, score)
    else if (!lt(score, value, scores(1), values(1))) update(value, score)

  def add(value: Int, score: Double): Unit = {
    require(count < capacity, "heap full")
    count += 1
    values(count) = value
    scores(count) = score
    upHeap(count)
  }

  def update(value: Int, score: Double): Unit = {
    values(1) = value
    scores(1) = score
    downHeap(1)
  }

  def reset(): Unit = count = 0

  private def upHeap(i0: Int): Unit = {
    var i = i0
    val v = values(i); val s = scores(i)
    var j = i >>> 1
    while (j > 0 && lt(s, v, scores(j), values(j))) {
      values(i) = values(j); scores(i) = scores(j)
      i = j; j = j >>> 1
    }
    values(i) = v; scores(i) = s
  }

  private def downHeap(i0: Int): Unit = {
    var i = i0
    val v = values(i); val s = scores(i)
    var j = i << 1
    var k = j + 1
    if (k <= count && lt(scores(k), values(k), scores(j), values(j))) j = k
    while (j <= count && lt(scores(j), values(j), s, v)) {
      values(i) = values(j); scores(i) = scores(j)
      i = j
      j = i << 1
      k = j + 1
      if (k <= count && lt(scores(k), values(k), scores(j), values(j))) j = k
    }
    values(i) = v; scores(i) = s
  }

  /** (value, score) pairs, score-descending, ties value-ascending. */
  def dumpDescending(): Array[(Int, Double)] = {
    val out = new Array[(Int, Double)](count)
    var i = 1
    while (i <= count) { out(i - 1) = (values(i), scores(i)); i += 1 }
    out.sortWith { case ((v1, s1), (v2, s2)) => lt(s2, v2, s1, v1) }
  }

  def merge(other: IntDoubleTopK): IntDoubleTopK = {
    var i = 1
    while (i <= other.count) { offer(other.values(i), other.scores(i)); i += 1 }
    this
  }
}

/**
 * Typed Aggregator producing the top-K (value, score) pairs per group with
 * O(K) state — the batch/streaming-safe replacement for sort+limit when K is
 * small. Partial aggregation (map-side combine) works because the heap merges.
 */
case class TopKEntry(value: Int, score: Double)

class TopKAggregator(k: Int)
    extends Aggregator[TopKEntry, IntDoubleTopK, Array[TopKEntry]] {
  override def zero: IntDoubleTopK = new IntDoubleTopK(k)
  override def reduce(b: IntDoubleTopK, a: TopKEntry): IntDoubleTopK = { b.offer(a.value, a.score); b }
  override def merge(b1: IntDoubleTopK, b2: IntDoubleTopK): IntDoubleTopK = b1.merge(b2)
  override def finish(r: IntDoubleTopK): Array[TopKEntry] =
    r.dumpDescending().map { case (v, s) => TopKEntry(v, s) }
  override def bufferEncoder: Encoder[IntDoubleTopK] = Encoders.kryo[IntDoubleTopK]
  override def outputEncoder: Encoder[Array[TopKEntry]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[TopKEntry]]()
}
