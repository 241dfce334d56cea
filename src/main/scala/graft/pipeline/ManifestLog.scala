package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The engine's one crash-atomic commit protocol, for a directory of
  * append-only parquet tables whose writers publish through a list log
  * (single-writer discipline; readers may run concurrently):
  *
  *  1. a writer appends data files to one or more tables under `root`;
  *  2. it then commits ONE list file naming every file it added
  *     (`table/file`, or the bare file name for the root table `""`),
  *     written to a temp name and renamed into `root/logDir` — the
  *     rename is the commit point, and a failed rename throws;
  *  3. the next writer starts with [[reconcile]]: data files no list
  *     names are debris of a crashed writer and are deleted; a root
  *     whose log does not exist yet (legacy data) is first adopted into
  *     a "genesis" list, so reconciliation never deletes pre-log data.
  *
  * Readers that must not see a crashed writer's debris read
  * [[committedFiles]] instead of the directory. Users and their logs:
  * `ParquetTableIO` (`_commits`, root table), `IncrementalCurate`
  * (`_drops`), `SearchIndex` (`_lexlog`), `AnnIndex` (`_annlog`).
  *
  * List names: every list is `c-%08d-<id>.list`, the sequence number
  * being max+1 over the lists present (not a count: a [[replace]]
  * retires old lists) and `<id>` a caller-chosen mutation id or a
  * random uuid. Lists order by sequence number. Any other `.list` name
  * in the log fails every read — and so [[reconcile]] before it
  * deletes anything: ignoring such a list would turn the files it
  * names into debris.
  *
  * Two reset rules rewrite a log's subject files in place:
  * [[reset]] (reconcile, delete the log, rewrite, re-adopt —
  * compactions and targeted deletes) and [[replace]] (commit the new
  * list, then retire the old ones — index rebuilds, whose readers must
  * fail loudly rather than legacy-adopt a half-rebuilt mix).
  */
final class ManifestLog(fs: FileSystem, root: String, logDir: String,
                        tables: Seq[String]) {
  import ManifestLog._

  private val logPath = new Path(s"$root/$logDir")

  private def entry(table: String, name: String) =
    if (table.isEmpty) name else s"$table/$name"

  /** Data-file entries present on disk in `table`. */
  def dataEntries(table: String): Seq[String] =
    dataFiles(fs, if (table.isEmpty) root else s"$root/$table")
      .map(st => entry(table, st.getPath.getName))

  /** Data-file entries present on disk in every table of the log. */
  def dataEntries: Seq[String] = tables.flatMap(dataEntries(_))

  /** Every list of the log; throws on a name that is not a numbered
    * list.
    */
  private def lists: Seq[Listed] =
    if (!fs.exists(logPath)) Seq.empty
    else fs.listStatus(logPath).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".list"))
      .map { st =>
        st.getPath.getName match {
          case Numbered(seq, id) => Listed(st.getPath, seq.toLong, id)
          case name => throw new IllegalStateException(
            s"unreadable commit list $name in $logPath: only c-<seq>-<id>.list names are read")
        }
      }

  private def read(p: Path): Seq[String] =
    readText(fs, p).linesIterator.filter(_.nonEmpty).toSeq

  /** Entries of every committed list; None when the log does not exist
    * (a legacy root: trust the directories).
    */
  def committed: Option[Set[String]] =
    if (!fs.exists(logPath)) None
    else Some(lists.flatMap(l => read(l.path)).toSet)

  /** Full paths of `table`'s committed-and-present data files (every
    * data file of a legacy root).
    */
  def committedFiles(table: String): Seq[String] = {
    val present = dataEntries(table)
    committed.fold(present)(ok => present.filter(ok.contains)).map(e => s"$root/$e")
  }

  private def ordered: Seq[Path] =
    lists.sortBy(l => (l.seq, l.path.getName)).map(_.path)

  /** Committed lists oldest first, one entry list each. */
  def history: Seq[Seq[String]] = ordered.map(read)

  /** Name of the oldest list — changes iff the log was reset and a
    * fresh genesis adopted. Empty when no log exists.
    */
  def logId: String = ordered.headOption.map(_.getName).getOrElse("")

  /** Has a commit under this caller-chosen mutation id landed? The list
    * IS the marker: retries key idempotence off it, with no window
    * between "data committed" and "marker written".
    */
  def isCommitted(mutationId: String): Boolean =
    lists.exists(_.id == mutationId)

  /** Atomically commit one list of entries (no-op when empty). */
  private def commit(entries: Seq[String], mutationId: Option[String]): Unit =
    if (entries.nonEmpty) {
      val seq = lists.map(_.seq).maxOption.fold(0L)(_ + 1)
      val id = mutationId.getOrElse(java.util.UUID.randomUUID().toString)
      write(fs, new Path(logPath, f"c-$seq%08d-$id.list"),
        entries.sorted.mkString("", "\n", "\n"))
    }

  /** Run `appendOp`, then commit exactly the data files it added.
    * The (possibly empty) log dir exists BEFORE the append, so a crash
    * mid-first-append leaves unlisted files next to an empty log, which
    * [[reconcile]] recognises as debris. Returns the added entries.
    */
  def commitAdded(mutationId: Option[String] = None)(appendOp: => Unit): Seq[String] = {
    fs.mkdirs(logPath)
    val before = dataEntries.toSet
    appendOp
    val added = dataEntries.filterNot(before.contains)
    commit(added, mutationId)
    added
  }

  /** Writer-entry rollback: delete data files no committed list names,
    * genesis-adopting a legacy root first. Returns the deleted entries.
    */
  def reconcile(): Seq[String] = committed match {
    case None =>
      commit(dataEntries, None)
      Seq.empty
    case Some(ok) =>
      val debris = dataEntries.filterNot(ok.contains)
      debris.foreach(e => fs.delete(new Path(s"$root/$e"), false))
      debris
  }

  /** Reset for in-place rewrites whose lists would name replaced files:
    * [[reconcile]] away a crashed writer's debris, delete the log, run
    * `rewrite`, then re-adopt the result as a fresh genesis (only if a
    * log existed — reset never makes a legacy root log-managed). The
    * reconcile comes first because the re-adoption would otherwise
    * commit the debris. A crash inside leaves no log, and the next
    * writer genesis-adopts whatever the rewrite's own swap recovery left.
    */
  def reset[A](rewrite: => A): A = {
    val managed = fs.exists(logPath)
    if (managed) reconcile()
    fs.delete(logPath, true)
    val result = rewrite
    if (managed) commit(dataEntries, None)
    result
  }

  /** Commit `entries` as the whole new state, then retire every older
    * list. Until the new list lands the old lists stay, naming files a
    * rebuild overwrote, so readers fail loudly instead of adopting a
    * half-rebuilt mix; retiring them after is cleanup, not a commit step.
    */
  def replace(entries: Seq[String], mutationId: Option[String] = None): Unit = {
    require(entries.nonEmpty, s"nothing to commit under $root")
    val old = lists
    commit(entries, mutationId)
    old.foreach(l => fs.delete(l.path, false))
  }
}

object ManifestLog {

  def apply(spark: SparkSession, root: String, logDir: String,
            tables: Seq[String]): ManifestLog =
    new ManifestLog(fsOf(spark, root), root, logDir, tables)

  private val Numbered = """c-(\d{8,})-(.*)\.list""".r

  /** A commit list: its path, sequence number and mutation id. */
  private final case class Listed(path: Path, seq: Long, id: String)

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Data files of a table directory: plain files, skipping `_`/`.`
    * prefixed names (logs, markers, temp files).
    */
  private[graft] def dataFiles(fs: FileSystem, dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
  }

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8)
    finally in.close()
  }

  /** `rename` reports many failures by returning false; ignoring that
    * would report a commit whose files the next reconcile deletes.
    */
  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    require(fs.rename(from, to), s"commit failed: cannot rename $from to $to")

  /** The commit point of every write here: content goes to a temp name
    * in the target's dir, then one checked rename publishes it.
    */
  private def write(fs: FileSystem, target: Path, content: String): Unit = {
    fs.mkdirs(target.getParent)
    val tmp = new Path(target.getParent, s".tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(UTF_8))
    finally out.close()
    rename(fs, tmp, target)
  }

  /** Content of a single-value file (`parts.meta`, `_cdc/seq`), None
    * when absent. Falls back to the `.prev` copy an interrupted
    * [[writeValue]] leaves, so a reader sees the old or the new value,
    * never neither.
    */
  def readValue(spark: SparkSession, path: String): Option[String] = {
    val fs = fsOf(spark, path)
    Seq(new Path(path), new Path(s"$path.prev")).find(fs.exists).map(readText(fs, _))
  }

  /** Atomically (re)write a single-value file. HDFS and object stores
    * refuse to rename onto an existing file, so an existing value first
    * moves to `<path>.prev` and is dropped once the new value landed.
    */
  def writeValue(spark: SparkSession, path: String, value: String): Unit = {
    val fs = fsOf(spark, path)
    val (cur, prev) = (new Path(path), new Path(s"$path.prev"))
    if (fs.exists(cur)) {
      fs.delete(prev, false)
      rename(fs, cur, prev)
    }
    write(fs, cur, value)
    fs.delete(prev, false)
  }
}
