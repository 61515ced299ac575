package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeArrayData}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{IvfCentroidRow, IvfProbeTop, QuantCodecCols}
import graft.operators.Similarity

/**
 * Byte-equality of the r17 codegen'd quantization kernels against the
 * LITERAL EXPRESSION TREES they replaced (the pre-r17 declarative
 * forms, reconstructed verbatim here): same codes, same recon2, same
 * dots, same argmin/probe order — on random vectors including negative
 * values, out-of-range refresh-path values (clamp), degenerate rg = 0
 * dimensions, and duplicate codewords (tie to the lower id).
 */
class QuantCodecSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = { if (spark != null) spark.stop() }

  private val rng = new scala.util.Random(0x17C0DEC)
  private val dims = 16

  /** Random quantized corpus (vec_id, qv) with values on a ±2e6 grid. */
  private def corpus(n: Int): DataFrame = {
    val rows = (0 until n).map { i =>
      (i.toLong, Seq.fill(dims)((rng.nextInt(4000001) - 2000000).toLong))
    }
    spark.createDataFrame(rows).toDF("vec_id", "qv")
  }

  // ---- the pre-r17 literal-tree forms, verbatim ----

  private def oldSqCodeExpr(mins: Array[Long], maxs: Array[Long], i: Int): Column = {
    val mn = mins(i)
    val rg = maxs(i) - mins(i)
    if (rg <= 0) lit(0L)
    else least(greatest(
      expr(s"((qv[$i] - (${mn}L)) * 255L) DIV ${rg}L"), lit(0L)), lit(255L))
  }

  private def oldSqReconExpr(mins: Array[Long], maxs: Array[Long], i: Int): Column = {
    val mn = mins(i)
    val rg = maxs(i) - mins(i)
    if (rg <= 0) lit(mn) else lit(mn) + expr(s"(codes[$i] * ${rg}L) DIV 255L")
  }

  private def oldSqReconArr(mins: Array[Long], maxs: Array[Long]): Column =
    array((0 until mins.length).map(i => oldSqReconExpr(mins, maxs, i)): _*)

  private def oldRelDist2(qv: Column, centroid: Array[Double]): Column = {
    val cq = centroid.map(math.round)
    val c2 = cq.map(x => x * x).sum
    lit(c2) - lit(2L) * Similarity.dotQ(qv, array(cq.map(lit): _*))
  }

  private def oldBookLit(book: Array[Array[Double]]): Column =
    array(book.map(c => array(c.map(x => lit(x.toLong)): _*)): _*)

  private def oldCentLit(cents: Array[Array[Double]]): Column =
    array(cents.map(c => array(c.map(x => lit(math.round(x))): _*)): _*)

  // ---- fixtures ----

  /** Stats with a degenerate (rg = 0) dimension and negative mins. */
  private def randomStats(): (Array[Long], Array[Long]) = {
    val mins = Array.tabulate(dims)(i => (rng.nextInt(2000001) - 1500000).toLong)
    val maxs = Array.tabulate(dims) { i =>
      if (i == 3) mins(i) // degenerate: mn == mx
      else mins(i) + 1 + rng.nextInt(3000000)
    }
    (mins, maxs)
  }

  /** m=4 subspaces x ksub=6 codewords of subDim=4, with a DUPLICATE
    * codeword pair in subspace 1 (tie must go to the lower code id). */
  private def randomBooks(): Array[Array[Array[Double]]] = {
    val m = 4; val ksub = 6; val subDim = dims / m
    val books = Array.tabulate(m, ksub, subDim)((_, _, _) =>
      (rng.nextInt(2000001) - 1000000).toDouble)
    books(1)(4) = books(1)(1).clone() // duplicate => argmin tie
    books
  }

  private def randomCents(nLists: Int): Array[Array[Double]] =
    Array.tabulate(nLists, dims)((_, _) => (rng.nextInt(2000001) - 1000000).toDouble)

  private def collectSorted(df: DataFrame): Seq[Row] = {
    df.orderBy("vec_id").collect().toSeq
  }
  private type Row = org.apache.spark.sql.Row

  // ---- SQ ----

  test("SqEncodeCodes + SqRecon2 == the old expr()-tree encode (incl. clamp + rg=0)") {
    val (mins, maxs) = randomStats()
    val c = corpus(200)
    val oldDf = c
      .withColumn("codes", array((0 until dims).map(i => oldSqCodeExpr(mins, maxs, i)): _*))
      .withColumn("recon2", Similarity.dotQ(oldSqReconArr(mins, maxs), oldSqReconArr(mins, maxs)))
      .select(col("vec_id"), col("codes"), col("recon2"))
    val newDf = c
      .withColumn("codes", QuantCodecCols.sqEncode(col("qv"), mins, maxs))
      .withColumn("recon2", QuantCodecCols.sqRecon2(col("codes"), mins, maxs))
      .select(col("vec_id"), col("codes"), col("recon2"))
    assert(newDf.schema("codes").dataType == oldDf.schema("codes").dataType)
    assert(collectSorted(newDf) == collectSorted(oldDf))
  }

  test("SqReconDot == dotQ(qqv, reconArr), including the min-length bound") {
    val (mins, maxs) = randomStats()
    val c = corpus(100)
    val codes = c.withColumn("codes", QuantCodecCols.sqEncode(col("qv"), mins, maxs))
    // a SHORT query vector exercises the min-length dot bound
    val withQ = codes.withColumn("qqv",
      when(col("vec_id") % 7 === 0, slice(col("qv"), 1, dims - 3)).otherwise(col("qv")))
    val oldDf = withQ.select(col("vec_id"),
      Similarity.dotQ(col("qqv"), oldSqReconArr(mins, maxs)).as("dot"))
    val newDf = withQ.select(col("vec_id"),
      QuantCodecCols.sqReconDot(col("qqv"), col("codes"), mins, maxs).as("dot"))
    assert(collectSorted(newDf) == collectSorted(oldDf))
  }

  // ---- PQ ----

  test("PqEncodeCodes == the old per-subspace array_sort argmin (ties to lower code)") {
    val books = randomBooks()
    val m = books.length; val subDim = dims / m
    val c = corpus(200)
    val oldDf = books.zipWithIndex.foldLeft(c) { case (df, (book, s)) =>
      val sub = slice(col("qv"), s * subDim + 1, subDim)
      val structs = book.zipWithIndex.map { case (cw, i) =>
        struct(oldRelDist2(sub, cw).as("d"), lit(i).as("c"))
      }
      df.withColumn(s"code_$s",
        element_at(array_sort(array(structs: _*)), 1).getField("c"))
    }.select(col("vec_id") +: (0 until m).map(s => col(s"code_$s")): _*)
    val newDf = c.withColumn("_pqc", QuantCodecCols.pqEncode(col("qv"), books))
      .select(col("vec_id") +:
        (0 until m).map(s => element_at(col("_pqc"), s + 1).as(s"code_$s")): _*)
    assert(newDf.schema == oldDf.schema) // code_s stays INT
    assert(collectSorted(newDf) == collectSorted(oldDf))
  }

  test("PqRecon2 + PqAdcDot == the old literal n2s/bookLit lookups") {
    val books = randomBooks()
    val m = books.length; val subDim = dims / m
    val c = corpus(150)
    val coded = c.withColumn("_pqc", QuantCodecCols.pqEncode(col("qv"), books))
      .select(col("vec_id") +: col("qv").as("qqv") +:
        (0 until m).map(s => element_at(col("_pqc"), s + 1).as(s"code_$s")): _*)
    val oldRecon2 = books.zipWithIndex.map { case (book, s) =>
      val n2s = array(book.map(cw => lit(cw.map(x => {
        val q = math.round(x); q * q
      }).sum)): _*)
      element_at(n2s, col(s"code_$s") + 1)
    }.reduce(_ + _)
    val oldAdc = books.zipWithIndex.map { case (book, s) =>
      Similarity.dotQ(slice(col("qqv"), s * subDim + 1, subDim),
        element_at(oldBookLit(book), col(s"code_$s") + 1))
    }.reduce(_ + _)
    val codesArr = array((0 until m).map(s => col(s"code_$s")): _*)
    val oldDf = coded.select(col("vec_id"), oldRecon2.as("r2"), oldAdc.as("adc"))
    val newDf = coded.select(col("vec_id"),
      QuantCodecCols.pqRecon2(codesArr, books).as("r2"),
      QuantCodecCols.pqAdcDot(col("qqv"), codesArr, books).as("adc"))
    assert(collectSorted(newDf) == collectSorted(oldDf))
  }

  // ---- IVF ----

  test("IvfArgmin / IvfProbeTop == the old struct-sort literal paths") {
    val cents = randomCents(9)
    cents(7) = cents(2).clone() // duplicate centroid => argmin/probe tie
    val c = corpus(200)
    val nProbe = 4
    val oldStructs = cents.zipWithIndex.map { case (cw, i) =>
      struct(oldRelDist2(col("qv"), cw).as("d"), lit(i).as("c"))
    }
    val oldDf = c.select(col("vec_id"),
      element_at(array_sort(array(oldStructs: _*)), 1).getField("c").as("cluster"),
      transform(slice(array_sort(array(oldStructs: _*)), 1, nProbe),
        p => p.getField("c")).as("probes"))
    val newDf = c.select(col("vec_id"),
      QuantCodecCols.ivfArgmin(col("qv"), cents).as("cluster"),
      QuantCodecCols.ivfProbeTop(col("qv"), cents, nProbe).as("probes"))
    assert(newDf.schema("cluster").dataType == oldDf.schema("cluster").dataType)
    assert(collectSorted(newDf) == collectSorted(oldDf))
  }

  test("IvfCentroidRow / LongArraySub == centLit lookup / zip_with subtract") {
    val cents = randomCents(6)
    val c = corpus(100).withColumn("cluster",
      (col("vec_id") % 6).cast("int"))
    val oldDf = c.select(col("vec_id"),
      zip_with(col("qv"), element_at(oldCentLit(cents), col("cluster") + 1),
        (a, b) => a - b).as("res"))
    val newDf = c.select(col("vec_id"),
      QuantCodecCols.longArraySub(col("qv"),
        QuantCodecCols.ivfCentroidRow(col("cluster"), cents)).as("res"))
    assert(collectSorted(newDf).map(_.getSeq[Long](1)) ==
      collectSorted(oldDf).map(_.getSeq[Long](1)))
  }

  test("kernels match under interpreted (non-codegen) evaluation too") {
    val (mins, maxs) = randomStats()
    val books = randomBooks()
    val c = corpus(60)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val sq = c.withColumn("codes", QuantCodecCols.sqEncode(col("qv"), mins, maxs))
        .withColumn("recon2", QuantCodecCols.sqRecon2(col("codes"), mins, maxs))
      val oldSq = c
        .withColumn("codes", array((0 until dims).map(i => oldSqCodeExpr(mins, maxs, i)): _*))
        .withColumn("recon2", Similarity.dotQ(oldSqReconArr(mins, maxs), oldSqReconArr(mins, maxs)))
      assert(collectSorted(sq) == collectSorted(oldSq))
      val pq = c.select(col("vec_id"), QuantCodecCols.pqEncode(col("qv"), books).as("p"))
      val m = books.length; val subDim = dims / m
      val oldPq = books.zipWithIndex.foldLeft(c) { case (df, (book, s)) =>
        val sub = slice(col("qv"), s * subDim + 1, subDim)
        val structs = book.zipWithIndex.map { case (cw, i) =>
          struct(oldRelDist2(sub, cw).as("d"), lit(i).as("c"))
        }
        df.withColumn(s"code_$s",
          element_at(array_sort(array(structs: _*)), 1).getField("c"))
      }.select(col("vec_id"), array((0 until m).map(s => col(s"code_$s")): _*).as("p"))
      assert(collectSorted(pq).map(_.getSeq[Int](1)) ==
        collectSorted(oldPq).map(_.getSeq[Int](1)))
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  // ---- degenerate inputs ----

  test("IvfProbeTop still picks a list when every remaining distance is Long.MaxValue") {
    // two zero-vector lists whose |c|^2 sits at Long.MaxValue: against a
    // zero query, after list 2 every remaining distance is the sentinel
    val probe = IvfProbeTop(Literal(0), new Array[Long](3 * 2),
      Array(Long.MaxValue, Long.MaxValue, 0L), dims = 2, nProbe = 3)
    val q = UnsafeArrayData.fromPrimitiveArray(Array(0L, 0L))
    assert(probe.kernel(q).toIntArray().toSeq == Seq(2, 0, 1))
  }

  test("IvfCentroidRow refuses a cluster id outside [0, nLists) with a descriptive error") {
    val cents = randomCents(6)
    val row = IvfCentroidRow(Literal(0), QuantCodecCols.flattenCents(cents)._1, dims)
    Seq(-1, 6).foreach { cl =>
      val ex = intercept[IllegalArgumentException](row.kernel(Integer.valueOf(cl)))
      assert(ex.getMessage.contains(s"cluster id $cl is outside [0, 6)"), ex.getMessage)
    }
    assert(row.kernel(Integer.valueOf(5)).toLongArray().toSeq == cents(5).map(_.toLong).toSeq)
    // through a plan: the executor reports the same error, not an AIOOBE
    val bad = corpus(4).withColumn("cluster", (col("vec_id") * 0 + 6).cast("int"))
      .select(QuantCodecCols.ivfCentroidRow(col("cluster"), cents))
    val ex = intercept[Exception](bad.collect())
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null).map(_.toString)
    assert(msgs.exists(_.contains("cluster id 6 is outside [0, 6)")), ex.toString)
  }

  test("PQ codebooks must be integral: a fractional codeword is refused, not rounded") {
    val books = randomBooks()
    assert(QuantCodecCols.flattenBooks(books)._1.toSeq ==
      books.flatten.flatten.map(_.toLong).toSeq)
    books(2)(3)(1) = 2.5
    val ex = intercept[IllegalArgumentException](QuantCodecCols.pqEncode(col("qv"), books))
    assert(ex.getMessage.contains("codebook 2 codeword 3 dim 1 is 2.5"), ex.getMessage)
    assert(ex.getMessage.contains("integral"))
  }
}
