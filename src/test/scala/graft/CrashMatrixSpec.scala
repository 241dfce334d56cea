package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{AnnIndex, SearchIndex}
import graft.pipeline.ParquetTableIO
import graft.sources.PageSource

/** Crash matrix of every commit point: each writer runs on the
  * `faulty:///` filesystem ([[FaultyFileSystem]]) with its commit
  * rename failing — by returning false and by throwing — and must
  *  1. throw (a failed commit never reports success);
  *  2. delete nothing that was committed before the call;
  *  3. leave, after the next writer's reconcile, exactly the committed
  *     set from before the call.
  * A row's "committed set" is the entries its list log names, or for
  * the CDC checkpoint row the checkpoint value a reader sees.
  */
class CrashMatrixSpec extends AnyFunSuite with SparkSuite {

  override protected def master = "local[2]"
  override protected def confs = Map(
    "spark.hadoop.fs.faulty.impl" -> classOf[FaultyFileSystem].getName,
    "spark.hadoop.fs.faulty.impl.disable.cache" -> "true")

  // ---- file-level observations (no production reader involved) ------

  private def fs(p: String) = new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def files(dir: String): Seq[Path] =
    if (!fs(dir).exists(new Path(dir))) Seq.empty
    else fs(dir).listStatus(new Path(dir)).toSeq.filter(_.isFile).map(_.getPath)

  private def text(p: Path): String = {
    val in = fs(p.toString).open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Entries named by the committed lists of `root/logDir`. */
  private def listed(root: String, logDir: String): Set[String] =
    files(s"$root/$logDir").filter(_.getName.endsWith(".list"))
      .flatMap(p => text(p).linesIterator.filter(_.nonEmpty)).toSet

  /** Data files on disk in `tables` (`""` = the root itself), as entries. */
  private def onDisk(root: String, tables: Seq[String]): Set[String] =
    tables.flatMap { t =>
      files(if (t.isEmpty) root else s"$root/$t").map(_.getName)
        .filterNot(n => n.startsWith("_") || n.startsWith("."))
        .map(n => if (t.isEmpty) n else s"$t/$n")
    }.toSet

  // ---- tiny inputs ----------------------------------------------------

  private def localTmp(p: String) = Files.createTempDirectory(p).toString
  private def textOf(tag: String) = (0 until 16).map(k => s"${tag}w$k").mkString(" ")
  private def docs(tag: String, n: Int) =
    (0 until n).map(i => (s"https://crash.example/$tag/$i", textOf(s"$tag$i")))
  private def dropDir(tag: String, n: Int): String = {
    val sp = spark; import sp.implicits._
    val dir = localTmp(s"crash-drop-$tag")
    docs(tag, n).toDF("url", "text").write.mode("overwrite").parquet(dir)
    dir
  }
  private def keyed(from: Int, until: Int) = {
    val sp = spark; import sp.implicits._
    (from until until).map(i => (i.toLong, textOf(s"k$i"))).toDF("doc_id", "text")
  }

  // ---- the matrix -----------------------------------------------------

  /** One commit point: `call` on a `root` prepared by `setup`; the
    * `nth` rename onto a path matching `target` fails.
    */
  private case class Row(
      name: String,
      target: Path => Boolean,
      nth: Int,
      setup: String => Unit,
      call: String => Unit,
      committed: String => Set[String],
      present: String => Set[String],
      reconcile: String => Unit)

  private val isList: Path => Boolean = _.getName.endsWith(".list")
  private def isCdc(p: Path) = p.getName == "seq" && p.getParent.getName == "_cdc"

  /** A row whose commit point is a list log over data tables. */
  private def logRow(name: String, dir: String => String, logDir: String,
                     tables: Seq[String], setup: String => Unit,
                     call: String => Unit, reconcile: String => Unit) =
    Row(name, isList, 1, setup, call,
      root => listed(dir(root), logDir), root => onDisk(dir(root), tables),
      reconcile)

  private val stateTables = Seq("urls", "canonical", "shas", "bands")
  private def state(root: String) = s"$root/state"
  private def table(root: String) = s"$root/table"
  private def idx(root: String) = s"$root/idx"
  private def out(root: String) = s"$root/out"
  private lazy val pagesDir = {
    val dir = localTmp("crash-pages") + "/pages"
    PageSource.genPages(spark, 40, 2).toDF().write.parquet(dir)
    dir
  }
  /** Reader view of the CDC checkpoint: the value, or the `.prev` copy
    * an interrupted rewrite leaves.
    */
  private def checkpoint(root: String): Set[String] =
    Seq("seq", "seq.prev").map(n => new Path(s"${state(root)}/_cdc/$n"))
      .find(p => fs(p.toString).exists(p)).map(text).toSet

  private val rows = Seq(
    logRow("ParquetTableIO.appendCommit", table, "_commits", Seq(""),
      root => { val sp = spark; import sp.implicits._
        ParquetTableIO.appendCommit((0L until 6L).toDF("id"), table(root)) },
      root => { val sp = spark; import sp.implicits._
        ParquetTableIO.appendCommit((6L until 9L).toDF("id"), table(root)) },
      root => ParquetTableIO.reconcileOrphanFiles(spark, table(root))),
    logRow("IncrementalCurate.ingestDrop", state, "_drops", stateTables,
      root => IncrementalCurate.ingestDrop(spark, dropDir("a", 4), state(root)),
      root => IncrementalCurate.ingestDrop(spark, dropDir("b", 3), state(root)),
      root => IncrementalCurate.reconcileState(spark, state(root))),
    // the drop's own list commits first; the 2nd commit rename is the
    // checkpoint, so the drop is committed and only the checkpoint fails
    Row("IncrementalCurate.ingestFromCommits (checkpoint)",
      p => isList(p) || isCdc(p), 2,
      root => { val sp = spark; import sp.implicits._
        ParquetTableIO.appendCommit(docs("c", 4).toDF("url", "text"), table(root))
        IncrementalCurate.ingestFromCommits(spark, table(root), state(root))
        ParquetTableIO.appendCommit(docs("d", 3).toDF("url", "text"), table(root)) },
      root => IncrementalCurate.ingestFromCommits(spark, table(root), state(root)),
      checkpoint, checkpoint,
      root => IncrementalCurate.reconcileState(spark, state(root))),
    logRow("SearchIndex.append", idx, "_lexlog",
      Seq("postings", "lex_meta", "positions", "deleted_docs"),
      root => SearchIndex.build(spark, keyed(0, 4), idx(root)),
      root => SearchIndex.append(spark, keyed(4, 7), idx(root)),
      root => SearchIndex.reconcile(spark, idx(root))),
    logRow("AnnIndex.appendLsh", idx, "_annlog",
      Seq("lsh_buckets", "lsh_meta", "pq_codebook", "pq_codes", "sq_meta",
        "sq_codes", "ivf_centroids", "ivf_cells", "ann_deleted"),
      root => AnnIndex.buildLsh(spark, EmbedJob.embedDocs(spark, keyed(0, 4)), idx(root)),
      root => AnnIndex.appendLsh(spark, EmbedJob.embedDocs(spark, keyed(4, 7)), idx(root)),
      root => AnnIndex.reconcile(spark, idx(root))),
    // a table from before parts.meta existed: the rerun persists P
    Row("ExtractJob.run (parts.meta)", _.getName == "parts.meta", 1,
      root => {
        ExtractJob.run(spark, pagesDir, out(root), numLogicalParts = 4)
        fs(root).delete(new Path(s"${out(root)}/parts.meta"), false)
      },
      root => ExtractJob.run(spark, pagesDir, out(root), numLogicalParts = 4),
      root => listed(s"${out(root)}/pages_extracted", "_commits"),
      root => onDisk(s"${out(root)}/pages_extracted", Seq("")),
      root => ParquetTableIO.reconcileOrphanFiles(spark, s"${out(root)}/pages_extracted")))

  for (row <- rows; throws <- Seq(false, true)) {
    val how = if (throws) "throws" else "returns false"
    test(s"crash matrix: ${row.name}, commit rename $how") {
      val root = "faulty://" + localTmp("crash-matrix")
      row.setup(root)
      val before = row.committed(root)
      FaultyFileSystem.arm(row.nth, throws)(row.target)
      val result = try Try(row.call(root)) finally assert(FaultyFileSystem.disarm(),
        "the injected fault never fired")
      assert(result.isFailure, "a failed commit rename must fail the call")
      val kept = row.present(root)
      assert(before.subsetOf(kept),
        s"committed files deleted by the failed call: ${before -- kept}")
      row.reconcile(root)
      assert(row.present(root) == before,
        "the next writer's reconcile must leave exactly the pre-call committed set")
    }
  }

  // ---- rewrites after a crashed append --------------------------------

  /** Rows of the committed files of `tables` under `root/logDir`. */
  private def committedRows(root: String, logDir: String, tables: Seq[String]): Seq[String] = {
    val log = graft.pipeline.ManifestLog(spark, root, logDir, tables)
    tables.flatMap { t =>
      val files = log.committedFiles(t)
      if (files.isEmpty) Seq.empty
      else spark.read.parquet(files: _*).collect().map(r => s"$t:$r").toSeq
    }.sorted
  }

  /** A rewrite of `dir(root)` after `crash` died at its list commit;
    * `expected` maps the committed rows from before the crash to the
    * rows the rewrite must leave committed.
    */
  private case class Rewrite(
      name: String,
      dir: String => String,
      logDir: String,
      tables: Seq[String],
      setup: String => Unit,
      crash: String => Unit,
      rewrite: String => Unit,
      expected: Seq[String] => Seq[String] = identity)

  private val annTables = Seq("lsh_buckets", "lsh_meta", "pq_codebook", "pq_codes",
    "sq_meta", "sq_codes", "ivf_centroids", "ivf_cells", "ann_deleted")
  private def appendIds(root: String, from: Long, until: Long): Unit = {
    val sp = spark; import sp.implicits._
    ParquetTableIO.appendCommit((from until until).toDF("id"), table(root))
  }

  private val rewrites = Seq(
    Rewrite("CompactJob.run", table, "_commits", Seq(""),
      root => { appendIds(root, 0L, 6L); appendIds(root, 6L, 9L) },
      root => appendIds(root, 9L, 12L),
      root => CompactJob.run(spark, table(root), clusterKey = "id")),
    Rewrite("DeleteJob.run", table, "_commits", Seq(""),
      root => { appendIds(root, 0L, 6L); appendIds(root, 6L, 9L) },
      root => appendIds(root, 9L, 12L),
      root => { val sp = spark; import sp.implicits._
        DeleteJob.run(spark, table(root), Seq(0L).toDF("id"), keyCol = "id") },
      _.filterNot(_ == ":[0]")),
    Rewrite("IncrementalCurate.compactState", state, "_drops", stateTables,
      root => IncrementalCurate.ingestDrop(spark, dropDir("ra", 4), state(root)),
      root => IncrementalCurate.ingestDrop(spark, dropDir("rb", 3), state(root)),
      root => IncrementalCurate.compactState(spark, state(root))),
    Rewrite("SearchIndex.compact", idx, "_lexlog",
      Seq("postings", "lex_meta", "positions", "deleted_docs"),
      root => SearchIndex.build(spark, keyed(0, 4), idx(root)),
      root => SearchIndex.append(spark, keyed(4, 7), idx(root)),
      root => SearchIndex.compact(spark, idx(root))),
    Rewrite("AnnIndex.compact", idx, "_annlog", annTables,
      root => AnnIndex.buildLsh(spark, EmbedJob.embedDocs(spark, keyed(0, 4)), idx(root)),
      root => AnnIndex.appendLsh(spark, EmbedJob.embedDocs(spark, keyed(4, 7)), idx(root)),
      root => AnnIndex.compact(spark, idx(root))))

  for (rw <- rewrites)
    test(s"rewrite after a crashed append adopts no debris: ${rw.name}") {
      val root = "faulty://" + localTmp("crash-rewrite")
      val dir = rw.dir(root)
      rw.setup(root)
      val before = committedRows(dir, rw.logDir, rw.tables)
      FaultyFileSystem.arm(1, throws = true)(isList)
      val crashed = try Try(rw.crash(root)) finally assert(FaultyFileSystem.disarm(),
        "the injected fault never fired")
      assert(crashed.isFailure, "a failed commit rename must fail the append")
      assert((onDisk(dir, rw.tables) -- listed(dir, rw.logDir)).nonEmpty,
        "the crashed append left no debris")
      rw.rewrite(root)
      assert(committedRows(dir, rw.logDir, rw.tables) == rw.expected(before),
        "the rewrite changed the committed rows")
    }

  // ---- delete staging on the index's own filesystem -------------------

  private val deletes = Seq(
    ("SearchIndex.delete", "_lexlog",
      (d: String) => SearchIndex.build(spark, keyed(0, 4), d),
      (d: String) => SearchIndex.delete(spark, keyed(0, 2).select("doc_id"), d)),
    ("AnnIndex.delete", "_annlog",
      (d: String) => AnnIndex.buildLsh(spark, EmbedJob.embedDocs(spark, keyed(0, 4)), d),
      (d: String) => AnnIndex.delete(spark, keyed(0, 2).selectExpr("doc_id AS vec_id"), d)))

  for ((name, logDir, build, delete) <- deletes; throws <- Seq(false, true)) {
    val how = if (throws) "throws" else "returns false"
    test(s"$name stages under <indexDir>/_staging: staging rename $how fails the delete, commits nothing") {
      val d = idx("faulty://" + localTmp("crash-staging"))
      build(d)
      val before = listed(d, logDir)
      val staging = new Path(s"$d/_staging")
      FaultyFileSystem.arm(1, throws)(_.toUri.getPath.startsWith(staging.toUri.getPath))
      val result = try Try(delete(d)) finally assert(FaultyFileSystem.disarm(),
        "the injected fault never fired (staging is not under the index dir)")
      assert(result.isFailure, "a failed staging write must fail the delete")
      assert(listed(d, logDir) == before, "the failed delete changed the committed set")
      assert(!fs(d).exists(staging), "the staging dir outlived the failed delete")
    }
  }
}
