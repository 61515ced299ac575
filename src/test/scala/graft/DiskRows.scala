package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** A maintainer's rows read straight off disk, bypassing every fold: the
  * physical-erasure checks. */
object DiskRows {

  /** Every `key` value held by a parquet file under `root` that sits below
    * one of the directories named in `dirs`, at any depth (at least one
    * such file must exist). */
  def keysUnder(spark: SparkSession, root: String, dirs: Seq[String], key: String): Set[Long] = {
    val walk = Files.walk(Paths.get(root))
    val files = try walk.filter { p =>
      val s = p.toString
      s.endsWith(".parquet") && dirs.exists(d => s.contains(s"/$d/"))
    }.toArray.map(_.toString).toSeq
    finally walk.close()
    require(files.nonEmpty, s"no parquet file under $root/{${dirs.mkString(",")}}")
    spark.read.parquet(files: _*).select(key).collect()
      .map(r => r.get(0).asInstanceOf[Number].longValue).toSet
  }
}
