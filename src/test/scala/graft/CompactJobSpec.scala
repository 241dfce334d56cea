package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.PageSource

/** Compaction of the append-based output table: file count drops,
  * every column (including resume-critical part_id) survives verbatim
  * (full-row digest), and a post-compaction ExtractJob rerun still
  * resumes cleanly (nothing re-appended).
  */
class CompactJobSpec extends AnyFunSuite with SparkSuite {

  test("compaction reduces files, preserves every row byte-for-byte, keeps resume working") {
    val pagesDir = java.nio.file.Files.createTempDirectory("compact-pages").toString
    val outDir = java.nio.file.Files.createTempDirectory("compact-out").toString
    PageSource.genPages(spark, 800, 16).toDF()
      .write.mode("overwrite").parquet(pagesDir)

    // two incremental appends → plenty of small files
    val (rows1, _) = ExtractJob.run(spark, pagesDir, outDir, 8, "c1")
    assert(rows1 == 800L)
    val tableDir = s"$outDir/pages_extracted"
    val before = spark.read.parquet(tableDir)
      .orderBy("url").collect().map(_.toString)
    val filesBefore = new java.io.File(tableDir)
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(filesBefore > 1)

    val r = CompactJob.run(spark, tableDir, targetFileBytes = 1L << 30)
    assert(r.rows == 800L)
    assert(r.filesBefore == filesBefore && r.filesAfter == 1)
    assert(!new java.io.File(tableDir + ".bak").exists())
    assert(!new java.io.File(tableDir + ".compacting").exists())

    // row-level identity after the rewrite
    val after = spark.read.parquet(tableDir)
      .orderBy("url").collect().map(_.toString)
    assert(after.toSeq == before.toSeq)

    // resume over the compacted table: rerun appends nothing
    val (rows2, resumed) = ExtractJob.run(spark, pagesDir, outDir, 8, "c2")
    assert(rows2 == 800L && resumed == 8L)
  }

  test("CompactJob runs against a `file:` URI path (Hadoop FS, not java.io.File)") {
    // a real deployment passes an HDFS/S3 URI; the local-FS URI form
    // exercises the same FileSystem resolution path
    val sp = spark; import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("compact-uri").toString
    val tableDir = s"$base/t"
    (0 until 200).map(i => (s"u$i", s"text body number $i", i.toLong))
      .toDF("url", "text", "part_id")
      .repartition(8)
      .write.parquet(tableDir)
    val filesBefore = new java.io.File(tableDir)
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(filesBefore > 1)
    val r = CompactJob.run(spark, s"file:$tableDir", targetFileBytes = 1L << 30)
    assert(r.rows == 200L && r.filesBefore == filesBefore && r.filesAfter == 1)
    assert(!new java.io.File(tableDir + ".bak").exists())
    assert(!new java.io.File(tableDir + ".compacting").exists())
    // debris guards hold through the URI form too
    assert(new java.io.File(tableDir + ".bak").mkdir())
    val e = intercept[IllegalArgumentException] { CompactJob.run(spark, s"file:$tableDir") }
    assert(e.getMessage.contains(".bak"))
    assert(new java.io.File(tableDir + ".bak").delete())
  }

  test("CompactJob: zero-row table returns trivially (no NPE); streaming-sink table refused") {
    val sp = spark; import sp.implicits._
    // files exist but every row was gated out upstream -> zero rows
    val emptyDir = java.nio.file.Files.createTempDirectory("compact-empty").toString + "/t"
    Seq.empty[(String, String)].toDF("url", "text").write.parquet(emptyDir)
    val r = CompactJob.run(spark, emptyDir)
    assert(r.rows == 0L && r.filesBefore == r.filesAfter && r.digest == 0L)

    // a Structured-Streaming sink table: readers see only log-listed
    // files, so a directory rewrite would lose data — must refuse
    val sinkDir = java.nio.file.Files.createTempDirectory("compact-sink").toString + "/t"
    Seq(("u1", "text one")).toDF("url", "text").write.parquet(sinkDir)
    assert(new java.io.File(sinkDir, "_spark_metadata").mkdir())
    val e = intercept[IllegalArgumentException] { CompactJob.run(spark, sinkDir) }
    assert(e.getMessage.contains("_spark_metadata"))
  }

  test("crash-debris guards: CompactJob and ExtractJob refuse to run over .bak / .compacting") {
    val pagesDir = java.nio.file.Files.createTempDirectory("compact-pages2").toString
    val outDir = java.nio.file.Files.createTempDirectory("compact-out2").toString
    PageSource.genPages(spark, 50, 4).toDF()
      .write.mode("overwrite").parquet(pagesDir)
    ExtractJob.run(spark, pagesDir, outDir, 4, "g1")
    val tableDir = s"$outDir/pages_extracted"

    // simulate a compaction that died between the two swap renames
    val bak = new java.io.File(tableDir + ".bak")
    assert(bak.mkdir())
    val e1 = intercept[IllegalArgumentException] { CompactJob.run(spark, tableDir) }
    assert(e1.getMessage.contains(".bak"))
    // a resume against the half-swapped table must fail fast too — it
    // would otherwise re-append every partition (duplicate rows once
    // .bak is restored)
    val e2 = intercept[IllegalArgumentException] {
      ExtractJob.run(spark, pagesDir, outDir, 4, "g2")
    }
    assert(e2.getMessage.contains(".bak"))
    assert(bak.delete())

    // stale partial rewrite: refuse until it is cleaned up
    val tmp = new java.io.File(tableDir + ".compacting")
    assert(tmp.mkdir())
    val e3 = intercept[IllegalArgumentException] { CompactJob.run(spark, tableDir) }
    assert(e3.getMessage.contains(".compacting"))
    assert(tmp.delete())

    // clean state: both run again
    val r = CompactJob.run(spark, tableDir, targetFileBytes = 1L << 30)
    assert(r.rows == 50L)
    val (rows, resumed) = ExtractJob.run(spark, pagesDir, outDir, 4, "g3")
    assert(rows == 50L && resumed == 4L)
  }
}
