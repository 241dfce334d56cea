package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.pipeline.ParquetTableIO
import graft.sources.WarcSource

/** Crawl-dump ingestion: a directory of WARC files (plain or
  * per-record-gzipped, the Common-Crawl layout) → the engine's pages
  * table (url, warc_ts, html) — the step in front of ExtractJob that
  * turns what a crawler actually ships into what the pipeline scans.
  *
  * Scale shape: the driver lists file PATHS only (names, no bytes);
  * each task opens its own FileSystem stream and record split / gzip /
  * HTTP unwrap run off the LAZY record iterator (damage-tolerant,
  * never throws; an unreadable file is skipped, not fatal — crawl
  * dumps lose members). Per-task heap is O(one decompressed record):
  * the raw file bytes never materialize (no `binaryFile` content
  * column — a 1 GB .warc.gz would otherwise ride a DataFrame row) and
  * the iterator yields records as the flatMap drains them. One file
  * maps to one stream (CC files are ~1 GB, the standard Spark-on-WARC
  * unit); the parquet write repartitions on url hash so downstream
  * scans see balanced files regardless of per-WARC skew. Ingestion is
  * deterministic per input file set, so a rerun after a crash is
  * idempotent at the overwrite level. ExtractJob's resume is
  * crash-resume over a FIXED input: it skips every page whose part_id
  * is already committed, so re-running it over a grown pages table
  * never extracts the new pages. Incremental crawl drains go through
  * StreamingExtract, or use a fresh ExtractJob outDir per crawl.
  *
  * Failure visibility: tasks carry the DRIVER's Hadoop configuration
  * (broadcast via SerializableConfiguration — a fresh per-task
  * `new Configuration()` would silently drop `spark.hadoop.*` settings
  * such as object-store credentials, turning a misconfigured remote FS
  * into an EMPTY pages table with no error). Each skipped file is
  * logged from the task and counted in an accumulator; the job report
  * carries `warc_files_skipped` so a partial ingest is loud, not
  * silent.
  *
  * CLI: spark-submit --class graft.IngestJob app.jar <warcDir> <pagesDir>
  */
object IngestJob {

  final case class IngestReport(nFiles: Long, nPages: Long, nSkipped: Long)

  /** Open `p` and drain its WARC response records; an unopenable file
    * yields an empty iterator (counted + logged when `skipped` is
    * given). The FS stream closes on task completion ALWAYS
    * (TaskContext listener) and eagerly when the iterator drains —
    * a downstream exception or early-terminating `limit` must not
    * leak the handle for the life of the executor.
    */
  def recordsForPath(conf: Configuration, p: String,
                     skipped: Option[LongAccumulator] = None): Iterator[(String, Long, Array[Byte])] = {
    val path = new Path(p)
    scala.util.Try(path.getFileSystem(conf).open(path)).toOption match {
      case None =>
        // listed but unopenable (deleted/permission mid-run): skip the
        // file, keep the drain going — but visibly
        skipped.foreach(_.add(1L))
        System.err.println(s"graft.IngestJob: skipping unopenable WARC $p")
        Iterator.empty
      case Some(in) =>
        Option(TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => in.close()))
        val records = WarcSource.responsesIterator(in)
        new Iterator[(String, Long, Array[Byte])] {
          override def hasNext: Boolean = {
            val h = records.hasNext
            if (!h) in.close() // idempotent; frees the handle pre-teardown
            h
          }
          override def next(): (String, Long, Array[Byte]) = records.next()
        }
    }
  }

  def run(spark: SparkSession, warcDir: String, pagesDir: String,
          numParts: Int = 32): IngestReport = {
    import spark.implicits._
    // driver-side listing, names only — the same unit of work the
    // binaryFile source would schedule, without shipping content rows
    val warcPath = new Path(warcDir)
    val fs = warcPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val filePaths = fs.listStatus(warcPath)
      .filter(s => s.isFile && s.getPath.getName.contains(".warc"))
      .map(_.getPath.toString)
      .sorted.toSeq
    val nFiles = filePaths.length.toLong
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val skipped = spark.sparkContext.longAccumulator("graft.ingest.skipped_files")
    val pages = filePaths.toDS()
      .repartition(math.max(1, math.min(numParts, filePaths.length)))
      .flatMap(p => recordsForPath(confBc.value.value, p, Some(skipped)))
      .map { case (url, epoch, body) =>
        (url, new java.sql.Timestamp(epoch * 1000L), body)
      }
      .toDF("url", "warc_ts", "html")
    pages
      .repartition(numParts, xxhash64(col("url")))
      .write.mode(SaveMode.Overwrite).options(ParquetTableIO.WriteOptions)
      .parquet(pagesDir)
    val nPages = spark.read.parquet(pagesDir).count()
    IngestReport(nFiles, nPages, skipped.value)
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.IngestJob <warcDir> <pagesDir>")
      sys.exit(2)
    }
    val spark = GraftSession()
    val r = run(spark, args(0), args(1))
    println(s"""{"warc_files":${r.nFiles},"pages":${r.nPages},"warc_files_skipped":${r.nSkipped}}""")
    spark.stop()
  }
}
