package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measured evidence for the z-order layout claim: under a
  * two-dimensional range predicate, how much of the table must a
  * statistics-pruning reader fetch from a z-ordered layout vs the same
  * rows in arrival (round-robin) order?
  *
  * The headline numbers come from the parquet FOOTERS themselves —
  * for every row group, the (min, max) statistics of both filter
  * columns decide whether a pushdown reader skips it, and the
  * surviving row groups' compressed column-chunk sizes are the bytes
  * it must fetch. That is exactly the mechanism that bounds bytes read
  * at 100 TB (Spark's parquet filter pushdown evaluates the same
  * stats), measured deterministically instead of through the lossy
  * task-level inputMetrics counter (which on a local FS reports index
  * and footer traffic, not data pages — measured, see BENCH.md).
  * Warm wall-clock of the real filtered scan on both layouts rides
  * along as the end-to-end signal, with a row-count equality guard
  * proving the layouts answer identically.
  *
  * Protocol: one synthetic corpus (doc_id sequential, n_chars
  * splitmix64-scattered — the decorrelated shape of a real
  * (length, id) pair), written round-robin and z-ordered at the same
  * target file count; box = ~1/64 of the value plane.
  *
  * Output: ONE JSON line {"metric":"zorder_prune", ...}.
  */
object LayoutBench {

  /** Footer census: (rowGroups, rowGroupsSurviving, filterColBytesTotal,
    * filterColBytesSurviving) for a 2-D box over (n_chars, doc_id).
    */
  private def footerCensus(spark: SparkSession, dir: String,
                           aLo: Long, aHi: Long, bLo: Long, bHi: Long)
      : (Int, Int, Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    val files = fs.listStatus(new Path(dir))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    var (nRg, nSurvive, bytesAll, bytesSurvive) = (0, 0, 0L, 0L)
    for (f <- files) {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf))
      try {
        r.getFooter.getBlocks.forEach { b =>
          nRg += 1
          var (aMin, aMax, bMin, bMax) = (Long.MinValue, Long.MaxValue, Long.MinValue, Long.MaxValue)
          var colBytes = 0L
          b.getColumns.forEach { c =>
            val name = c.getPath.toDotString
            if (name == "n_chars" || name == "doc_id") {
              colBytes += c.getTotalSize
              val s = c.getStatistics
              if (s != null && !s.isEmpty) {
                val lo = s.genericGetMin.asInstanceOf[java.lang.Long].longValue
                val hi = s.genericGetMax.asInstanceOf[java.lang.Long].longValue
                if (name == "n_chars") { aMin = lo; aMax = hi }
                else { bMin = lo; bMax = hi }
              }
            }
          }
          bytesAll += colBytes
          val disjoint = aMin > aHi || aMax < aLo || bMin > bHi || bMax < bLo
          if (!disjoint) { nSurvive += 1; bytesSurvive += colBytes }
        }
      } finally r.close()
    }
    (nRg, nSurvive, bytesAll, bytesSurvive)
  }

  def main(args: Array[String]): Unit = {
    val nRows = if (args.length > 0) args(0).toLong else 2000000L
    val nFiles = if (args.length > 1) args(1).toInt else 64
    val spark = GraftSession()
    graft.functions.GraftExtensions.register(spark)

    val base = java.nio.file.Files.createTempDirectory("layout-bench").toString
    val rrDir = s"$base/rr"
    val zDir = s"$base/z"

    // (doc_id, n_chars) decorrelated via the native splitmix64 used
    // everywhere else; ~120-byte payload so files carry real weight
    val aMax = 50000L
    val corpus = spark.range(nRows).toDF("doc_id")
      .withColumn("n_chars",
        pmod(graft.ops.TextOps.splitmixCol(col("doc_id")), lit(aMax)))
      .withColumn("payload",
        concat(lit("p" * 100), col("doc_id"), lit("-"), col("n_chars")))

    corpus.repartition(nFiles).write.mode("overwrite").parquet(rrDir)
    graft.ops.Layout.zorderCluster(spark.read.parquet(rrDir), "n_chars", "doc_id", nFiles)
      .write.mode("overwrite").parquet(zDir)

    // box = bottom 1/8 of n_chars × middle 1/8 of doc_id (~1/64 of rows)
    val (aLo, aHi) = (0L, aMax / 8 - 1)
    val (bLo, bHi) = (nRows / 2, nRows / 2 + nRows / 8 - 1)
    def boxCount(dir: String): Long =
      spark.read.parquet(dir)
        .filter(col("n_chars").between(aLo, aHi) && col("doc_id").between(bLo, bHi))
        .count()
    def timedWarm(dir: String): (Long, Double) = {
      boxCount(dir) // cold — warms the page cache identically per layout
      val t0 = System.nanoTime()
      val rows = boxCount(dir)
      (rows, (System.nanoTime() - t0) / 1e9)
    }

    val (rrRows, rrSec) = timedWarm(rrDir)
    val (zRows, zSec) = timedWarm(zDir)
    require(rrRows == zRows, s"layouts disagree: $rrRows vs $zRows rows")

    val (rrRg, rrRgS, rrB, rrBS) = footerCensus(spark, rrDir, aLo, aHi, bLo, bHi)
    val (zRg, zRgS, zB, zBS) = footerCensus(spark, zDir, aLo, aHi, bLo, bHi)
    val ratio =
      if (rrBS > 0) (rrBS.toDouble / rrB) / math.max(1e-12, zBS.toDouble / zB)
      else Double.NaN
    println(
      s"""{"metric":"zorder_prune","rows":$nRows,"files":$nFiles,"box_rows":$zRows,""" +
      s""""roundrobin":{"rowgroups":$rrRg,"rg_read":$rrRgS,"col_bytes":$rrB,"col_bytes_read":$rrBS,"sec":${f"$rrSec%.3f"}},""" +
      s""""zorder":{"rowgroups":$zRg,"rg_read":$zRgS,"col_bytes":$zB,"col_bytes_read":$zBS,"sec":${f"$zSec%.3f"}},""" +
      s""""bytes_fraction_speedup":${f"$ratio%.2f"}}""")
    spark.stop()
  }
}
