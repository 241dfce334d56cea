package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.PageSource

/** Targeted deletion from the output table: only files containing a
  * victim are rewritten (all other files stay byte-untouched on disk),
  * survivors are verbatim, resume keeps working afterwards and does
  * NOT resurrect deleted rows, and the crash-debris guards hold.
  */
class DeleteJobSpec extends AnyFunSuite with SparkSuite {

  private def fileNames(dir: String): Set[String] =
    new java.io.File(dir).listFiles().toSeq
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet

  test("delete rewrites only affected files; survivors verbatim; resume does not resurrect") {
    val sp = spark; import sp.implicits._
    val pagesDir = java.nio.file.Files.createTempDirectory("del-pages").toString
    val outDir = java.nio.file.Files.createTempDirectory("del-out").toString
    PageSource.genPages(spark, 800, 16).toDF()
      .write.mode("overwrite").parquet(pagesDir)
    ExtractJob.run(spark, pagesDir, outDir, 8, "d1")
    val tableDir = s"$outDir/pages_extracted"
    val before = spark.read.parquet(tableDir)
      .orderBy("url").collect().map(_.toString).toSeq
    val namesBefore = fileNames(tableDir)
    assert(namesBefore.size > 1)

    // victims: three urls from ONE physical file
    import org.apache.spark.sql.functions.input_file_name
    val byFile = spark.read.parquet(tableDir)
      .select($"url", input_file_name().as("f")).collect()
      .groupBy(_.getString(1))
    val (victimFile, rowsInFile) = byFile.maxBy(_._2.length)
    val victims = rowsInFile.take(3).map(_.getString(0)).toSeq
    assert(victims.size == 3)
    val expected = spark.read.parquet(tableDir)
      .filter(!$"url".isin(victims: _*))
      .orderBy("url").collect().map(_.toString).toSeq

    val r = DeleteJob.run(spark, tableDir, victims.toDF("url"))
    assert(r.rowsBefore == 800L && r.rowsDeleted == 3L && r.rowsAfter == 797L)
    assert(r.filesTouched == 1 && r.filesTotal == namesBefore.size)
    assert(!new java.io.File(tableDir + ".bak").exists())
    assert(!new java.io.File(tableDir + ".deleting").exists())

    // untouched files still present under their ORIGINAL names; the
    // victim file is gone; the rewrite added new file(s)
    val namesAfter = fileNames(tableDir)
    val victimName = new java.io.File(new java.net.URI(victimFile).getPath).getName
    assert(!namesAfter.contains(victimName))
    assert((namesBefore - victimName).subsetOf(namesAfter))

    // survivors byte-verbatim, victims gone
    val after = spark.read.parquet(tableDir)
      .orderBy("url").collect().map(_.toString).toSeq
    assert(before.size == 800 && after.size == 797 && after == expected)

    // resume over the deleted table: nothing re-appended, nothing
    // resurrected (deletion is an output-table op by design)
    val (rows2, resumed) = ExtractJob.run(spark, pagesDir, outDir, 8, "d2")
    assert(resumed == 8L)
    assert(rows2 == 797L || rows2 == 800L) // report counts source rows pre-delete on some paths
    assert(spark.read.parquet(tableDir).count() == 797L)
  }

  test("zero matching victims is a no-op; deleting every row of a file drops it") {
    val sp = spark; import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("del-noop").toString
    val tableDir = s"$base/t"
    // two files with disjoint key ranges (repartition on url hash keeps
    // them mixed — write per-range instead for a deterministic split)
    (0 until 100).map(i => (f"u$i%03d", s"body $i")).toDF("url", "text")
      .coalesce(1).write.parquet(tableDir)
    (100 until 200).map(i => (f"u$i%03d", s"body $i")).toDF("url", "text")
      .coalesce(1).write.mode("append").parquet(tableDir)
    assert(fileNames(tableDir).size == 2)
    val names0 = fileNames(tableDir)

    // no victim present -> untouched
    val r0 = DeleteJob.run(spark, tableDir, Seq("nope").toDF("url"))
    assert(r0.rowsDeleted == 0L && r0.filesTouched == 0 && r0.rowsAfter == 200L)
    assert(fileNames(tableDir) == names0)

    // delete ALL rows of the first file: file disappears, no rewrite
    val allFirst = (0 until 100).map(i => f"u$i%03d")
    val r1 = DeleteJob.run(spark, tableDir, allFirst.toDF("url"))
    assert(r1.rowsDeleted == 100L && r1.filesTouched == 1 && r1.rowsAfter == 100L)
    assert(r1.bytesRewritten == 0L)
    assert(fileNames(tableDir).size == 1)
    assert(spark.read.parquet(tableDir).count() == 100L)
  }

  test("crash-debris guards: .bak and .deleting refused") {
    val sp = spark; import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("del-guard").toString
    val tableDir = s"$base/t"
    (0 until 50).map(i => (s"u$i", s"body $i")).toDF("url", "text")
      .write.parquet(tableDir)

    val bak = new java.io.File(tableDir + ".bak")
    assert(bak.mkdir())
    val e1 = intercept[IllegalArgumentException] {
      DeleteJob.run(spark, tableDir, Seq("u1").toDF("url"))
    }
    assert(e1.getMessage.contains(".bak"))
    assert(bak.delete())

    val tmp = new java.io.File(tableDir + ".deleting")
    assert(tmp.mkdir())
    val e2 = intercept[IllegalArgumentException] {
      DeleteJob.run(spark, tableDir, Seq("u1").toDF("url"))
    }
    assert(e2.getMessage.contains(".deleting"))
    assert(tmp.delete())

    val r = DeleteJob.run(spark, tableDir, Seq("u1").toDF("url"))
    assert(r.rowsDeleted == 1L && r.rowsAfter == 49L)
  }
}
