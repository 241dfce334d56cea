package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.ParquetTableIO

/** Small-file compaction for the append-based output table (the
  * `rewrite_data_files` maintenance op of a real lakehouse): every
  * ExtractJob / StreamingExtract drain appends a handful of files, and
  * after thousands of increments the table is scan-bound on file-open
  * overhead, not bytes.
  *
  * Protocol (parquet sandbox; Iceberg would make the swap a snapshot):
  *  1. read the table, re-cluster by url_hash into
  *     ceil(on-disk-bytes / targetFileBytes) partitions (hash, not
  *     range — no sampling re-scan, uniform by construction since
  *     url_hash is a hash; same decision as the production write,
  *     see BENCH.md);
  *  2. write to a sibling temp dir (zstd, dictionary off — the
  *     production output codec);
  *  3. VERIFY before swap: row count and order-independent digest of
  *     the rewrite equal the source — a compaction that changes either
  *     aborts and leaves the table's files untouched (log-less until
  *     the next writer re-adopts them, see below);
  *  4. atomically swap directories (rename table → .bak, temp →
  *     table, drop .bak). Single-writer discipline, same as the
  *     append protocol.
  *
  * All columns (including the resume-critical part_id) pass through
  * unchanged — only the file layout changes. Steps 1-4 run under the
  * table's `_commits` [[graft.pipeline.ManifestLog.reset]]: it first
  * reconciles a crashed append's unlisted files away (so the rewrite
  * never carries debris that would later look committed and make
  * resume skip a partial part), and afterwards re-adopts the compacted
  * files as a fresh genesis list — safe, because the swap is
  * digest-verified equal. On a log-less table (index and state
  * sub-tables) the reset is a no-op. Streaming-sink tables
  * (_spark_metadata) are refused, see the guard.
  */
object CompactJob {

  final case class CompactReport(
      rows: Long, filesBefore: Int, filesAfter: Int,
      bytesBefore: Long, bytesAfter: Long, digest: Long)

  private def parquetFiles(fs: FileSystem, dir: Path): Array[org.apache.hadoop.fs.FileStatus] =
    (if (fs.exists(dir)) fs.listStatus(dir) else Array.empty[org.apache.hadoop.fs.FileStatus])
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))

  /** @param clusterKey column(s) hashed for the rewrite clustering —
    *   `url` for the output table; index tables (ops.AnnIndex) pass
    *   `vec_id`. Comma-separated names hash together (ops.SearchIndex
    *   passes `term,salt` so a Zipf-hot term's postings spread across
    *   its bounded salt buckets instead of one straggler partition).
    *   Any uniformly-hashed combination keeps the rewrite balanced
    *   without a sampling pass.
    * @param layout `"hash"` (default — cluster by xxhash64 of
    *   clusterKey) or `"zorder"` — clusterKey must then name exactly
    *   TWO long-castable columns `a,b`; the rewrite interleaves their
    *   quantized bits ([[graft.ops.Layout.zorderCluster]]) so every
    *   rewritten row group carries a narrow min/max envelope in BOTH
    *   dimensions and parquet statistics prune two-dimensional range
    *   predicates. Same digest-verified swap either way — only the
    *   file layout changes.
    */
  def run(
      spark: SparkSession,
      tableDir: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      clusterKey: String = "url",
      layout: String = "hash"
  ): CompactReport = {
    require(layout == "hash" || layout == "zorder",
      s"layout must be 'hash' or 'zorder', got '$layout'")
    if (layout == "zorder")
      require(clusterKey.split(',').length == 2,
        s"zorder layout needs exactly two clusterKey columns, got '$clusterKey'")
    // Hadoop FileSystem API throughout (NOT java.io.File): compaction
    // is a lakehouse maintenance op and the table lives wherever the
    // lakehouse lives — HDFS/S3 paths must work, and `rename` is atomic
    // on HDFS (the swap below is then as safe as the FS allows).
    val dir = new Path(tableDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bakPath = new Path(tableDir + ".bak")
    val tmpPath = new Path(tableDir + ".compacting")
    // The swap below is two renames (atomic each on HDFS, but not as a
    // pair); a crash between them leaves the data in .bak (table dir
    // absent). Refuse to run over such debris — RECOVERY: if <tableDir>
    // is absent and <tableDir>.bak exists, rename <tableDir>.bak back to
    // <tableDir>; always delete any stale <tableDir>.compacting (an
    // unverified partial rewrite).
    require(!fs.exists(bakPath),
      s"$tableDir.bak exists — a previous compaction crashed mid-swap; " +
        s"recover first (mv $tableDir.bak $tableDir if the table dir is missing)")
    require(!fs.exists(tmpPath),
      s"$tableDir.compacting exists — stale partial rewrite; delete it first")
    require(fs.exists(dir) && fs.getFileStatus(dir).isDirectory,
      s"$tableDir is not a directory")
    // A Structured-Streaming file sink keeps its own _spark_metadata
    // log; readers of such a table see ONLY log-listed files, so a
    // directory-level rewrite would make every compacted row invisible
    // (and the swap would destroy the log). Refuse — stop the stream
    // and migrate (read + rewrite to a NEW batch table) instead.
    require(!fs.exists(new Path(dir, "_spark_metadata")),
      s"$tableDir is a streaming-sink table (_spark_metadata present) — " +
        s"compacting it would orphan the sink log; migrate to a batch table first")
    // steps 1-4 run under the `_commits` reset (see the scaladoc)
    ParquetTableIO.commitLog(spark, tableDir).reset(
      rewrite(spark, fs, tableDir, targetFileBytes, clusterKey, layout))
  }

  private def rewrite(spark: SparkSession, fs: FileSystem, tableDir: String,
                      targetFileBytes: Long, clusterKey: String, layout: String): CompactReport = {
    val dir = new Path(tableDir)
    val before = parquetFiles(fs, dir)
    val bytesBefore = before.map(_.getLen).sum
    val nParts = math.max(1, math.ceil(bytesBefore.toDouble / targetFileBytes).toInt)

    // full-row digest: every column (sorted for name-order stability),
    // order-independent bit_xor — stronger than the url+text pipeline
    // digest because compaction must preserve ALL columns verbatim
    def fullDigest(df: org.apache.spark.sql.DataFrame) =
      df.select(xxhash64(struct(df.columns.sorted.toIndexedSeq.map(col): _*)).as("h"))
        .agg(expr("bit_xor(h)").as("digest"), count(lit(1)).as("n_rows"))
        .collect()(0)

    val src = spark.read.parquet(tableDir)
    val srcStats = fullDigest(src)
    // bit_xor over zero rows is NULL — an all-gated-out table has files
    // but no rows; nothing to compact, and getLong(0) would NPE
    if (srcStats.isNullAt(0) || srcStats.getLong(1) == 0L)
      return CompactReport(0L, before.length, before.length,
        bytesBefore, bytesBefore, 0L)
    val (digest, rows) = (srcStats.getLong(0), srcStats.getLong(1))

    val tmp = tableDir + ".compacting"
    val clustered = layout match {
      case "zorder" =>
        val Array(a, b) = clusterKey.split(',').map(_.trim)
        graft.ops.Layout.zorderCluster(src, a, b, nParts)
      case _ =>
        src.repartition(nParts,
          xxhash64(clusterKey.split(',').toIndexedSeq.map(n => col(n.trim)): _*))
    }
    clustered
      .write.mode(SaveMode.Overwrite).options(ParquetTableIO.WriteOptions)
      .parquet(tmp)

    val rewritten = fullDigest(spark.read.parquet(tmp))
    require(rewritten.getLong(1) == rows && rewritten.getLong(0) == digest,
      s"compaction would change the table (rows $rows->${rewritten.getLong(1)}, " +
        s"digest $digest->${rewritten.getLong(0)}) — aborted, source untouched")

    val bakPath = new Path(tableDir + ".bak")
    require(fs.rename(dir, bakPath), s"swap failed: cannot move $tableDir aside")
    require(fs.rename(new Path(tmp), dir), s"swap failed: cannot move $tmp in")
    fs.delete(bakPath, true)

    val after = parquetFiles(fs, dir)
    CompactReport(rows, before.length, after.length,
      bytesBefore, after.map(_.getLen).sum, digest)
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 1) {
      System.err.println(
        "usage: graft.CompactJob <tableDir> [targetFileMB] [clusterKey] [hash|zorder]")
      sys.exit(2)
    }
    val targetMb = if (args.length > 1) args(1).toLong else 128L
    val clusterKey = if (args.length > 2) args(2) else "url"
    val layout = if (args.length > 3) args(3) else "hash"
    val spark = GraftSession()
    val r = run(spark, args(0), targetMb * 1024 * 1024, clusterKey, layout)
    println(
      s"""{"rows":${r.rows},"files_before":${r.filesBefore},"files_after":${r.filesAfter},""" +
      s""""bytes_before":${r.bytesBefore},"bytes_after":${r.bytesAfter},"digest":${r.digest}}""")
    spark.stop()
  }
}
