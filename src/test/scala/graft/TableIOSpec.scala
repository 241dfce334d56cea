package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Commit, IcebergTableIO, ManifestLog, ParquetTableIO, TableIO}

/** The storage seam's commit contract: appendCommit identifies exactly
  * the rows it added, readCommit returns them and nothing else, and
  * snapshotId changes iff the table state changes — the invariants the
  * single-pass ExtractJob metrics depend on. IcebergTableIO is
  * compile-checked against the same trait (runtime needs a catalog,
  * SURVEY.md §7.2); the seam swap itself is exercised here.
  */
class TableIOSpec extends AnyFunSuite with SparkSuite {

  override protected def master = "local[2]"

  test("appendCommit token = exactly the added files; readCommit = exactly those rows") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("graft-tio").toString + "/t"
    val io: TableIO = ParquetTableIO // through the seam type

    val c1 = io.appendCommit((0L until 10L).toDF("id"), path)
    assert(c1.token.nonEmpty)
    val c2 = io.appendCommit((100L until 105L).toDF("id"), path)
    assert(c2.token.nonEmpty)
    assert(c1.token.toSet.intersect(c2.token.toSet).isEmpty, "commits must not share files")

    val r1 = io.readCommit(spark, c1).select("id").as[Long].collect().sorted.toSeq
    val r2 = io.readCommit(spark, c2).select("id").as[Long].collect().sorted.toSeq
    assert(r1 == (0L until 10L))
    assert(r2 == (100L until 105L))
    // the full table is the union — commits partition it
    assert(spark.read.parquet(path).count() == 15)
  }

  test("empty append yields a readable empty commit") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("graft-tio-empty").toString + "/t"
    val io: TableIO = ParquetTableIO
    io.appendCommit((0L until 3L).toDF("id"), path)
    val c = io.appendCommit(spark.range(0).toDF("id").filter(lit(false)), path)
    val back = io.readCommit(spark, c)
    assert(back.columns.isEmpty || back.count() == 0)
  }

  test("snapshotId is a pure function of the committed file set") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("graft-tio-snap").toString + "/t"
    val io: TableIO = ParquetTableIO
    val empty = io.snapshotId(spark, path)
    io.append((0L until 5L).toDF("id"), path)
    val s1 = io.snapshotId(spark, path)
    val s1again = io.snapshotId(spark, path)
    assert(s1 == s1again, "stable without new commits")
    assert(s1 != empty, "must change when data lands")
    io.append((5L until 9L).toDF("id"), path)
    assert(io.snapshotId(spark, path) != s1, "must change on append")
  }

  test("time travel: readAsOf replays any commit prefix; readChanges is the exact delta") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("graft-tt").toString + "/t"
    ParquetTableIO.appendCommit((0L until 10L).toDF("id"), path)
    ParquetTableIO.appendCommit((10L until 25L).toDF("id"), path)
    ParquetTableIO.appendCommit((25L until 30L).toDF("id"), path)

    val hist = ParquetTableIO.commitHistory(spark, path)
    assert(hist.map(_._1) == Seq(0L, 1L, 2L))
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      if (df.schema.isEmpty) Seq.empty
      else df.select("id").as[Long].collect().sorted.toSeq
    // as-of read: every commit up to and including seq
    assert(ids(ParquetTableIO.readChanges(spark, path, -1L, 0L)) == (0L until 10L))
    assert(ids(ParquetTableIO.readChanges(spark, path, -1L, 1L)) == (0L until 25L))
    assert(ids(ParquetTableIO.readChanges(spark, path, -1L, 2L)) == (0L until 30L))
    // CDC: (from, to] delta only — no full-table scan, no diff join
    assert(ids(ParquetTableIO.readChanges(spark, path, 0L, 2L)) == (10L until 30L))
    assert(ids(ParquetTableIO.readChanges(spark, path, 2L)) == Seq.empty)
    // an incremental consumer that checkpoints "last seen seq" drains
    // exactly once: tail from each seq and union == full table
    val drained = (Seq(-1L, 0L, 1L).zip(Seq(0L, 1L, 2L))).flatMap {
      case (f, t) => ids(ParquetTableIO.readChanges(spark, path, f, t))
    }
    assert(drained.sorted == (0L until 30L))
  }

  test("ManifestLog reads only numbered lists: any other list name fails loudly, deleting nothing; seq is max+1") {
    import org.apache.hadoop.fs.Path
    val root = Files.createTempDirectory("graft-mlog").toString
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def touch(rel: String, body: String = ""): Unit = {
      val out = fs.create(new Path(s"$root/$rel"))
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    def present = fs.listStatus(new Path(s"$root/t")).map(_.getPath.getName).toSet
    touch("_log/c-00000000-a.list", "t/a\n")
    touch("_log/c-00000004-x.list", "t/b\nt/c\n")
    Seq("a", "b", "c", "d").foreach(n => touch(s"t/$n"))
    val log = new ManifestLog(fs, root, "_log", Seq("t"))
    assert(log.committed.contains(Set("t/a", "t/b", "t/c")))
    assert(log.history == Seq(Seq("t/a"), Seq("t/b", "t/c")))
    assert(log.logId == "c-00000000-a.list")
    assert(log.isCommitted("x") && !log.isCommitted("batch-4"))
    assert(log.reconcile() == Seq("t/d"), "unlisted file is debris")
    log.commitAdded(Some("batch-4"))(touch("t/e"))
    assert(log.isCommitted("batch-4"))
    assert(fs.exists(new Path(s"$root/_log/c-00000005-batch-4.list")))
    // replace retires every older list; numbering continues from max+1
    log.replace(log.dataEntries)
    assert(log.history == Seq(Seq("t/a", "t/b", "t/c", "t/e")))
    log.commitAdded()(touch("t/f"))
    assert(fs.listStatus(new Path(s"$root/_log")).map(_.getPath.getName)
      .filter(_.endsWith(".list")).count(_.startsWith("c-00000007-")) == 1)
    // an unnumbered, mutation (m-) or drop (d-) list name is no list
    // this log writes: every read throws, and reconcile throws before
    // deleting anything — neither the files it names nor the debris
    touch("t/g")
    val before = present
    for (bad <- Seq("c-legacy.list", "m-batch-3.list", "d-0f1e.list")) {
      touch(s"_log/$bad", "t/g\n")
      assert(intercept[IllegalStateException](log.committed)
        .getMessage.contains(bad))
      intercept[IllegalStateException](log.reconcile())
      intercept[IllegalStateException](log.isCommitted("batch-3"))
      assert(present == before, s"$bad: a data file was deleted")
      fs.delete(new Path(s"$root/_log/$bad"), false)
    }
    assert(log.reconcile() == Seq("t/g"))
  }

  test("Iceberg implementation satisfies the seam (no catalog in sandbox)") {
    // compile-time: IcebergTableIO IS a TableIO; runtime methods need a
    // configured catalog, so only the catalog-free surface is driven.
    val io: TableIO = IcebergTableIO
    assert(io.snapshotId(spark, "nonexistent_catalog_table") == "empty")
    val e = io.readOrEmpty(spark, "nonexistent_catalog_table",
      ParquetTableIO.checkpointSchema)
    assert(e.count() == 0)
    assert(e.schema == ParquetTableIO.checkpointSchema)
  }
}
