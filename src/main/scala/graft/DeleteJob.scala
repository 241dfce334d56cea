package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.ParquetTableIO

/** Targeted row deletion from the output table (the right-to-be-
  * forgotten / retention `delete from` of a real lakehouse): given a
  * relation of victim keys, rewrite ONLY the files that contain a
  * victim and leave every other file byte-untouched. At 100 TB a
  * deletion request touches a handful of urls; rewriting the whole
  * table for it (the CompactJob shape) would be a full-table write,
  * while the targeted rewrite is O(affected files) — found with one
  * column-pruned scan of the key column.
  *
  * Protocol (parquet sandbox; Iceberg makes steps 3-5 a snapshot
  * commit with delete files):
  *  1. tag every row with its file (`input_file_name`), semi-join the
  *     victim keys (key column only — the scan never reads payload
  *     columns), collect the DISTINCT affected file list (bounded by
  *     the file count, never by rows);
  *  2. read back just those files, anti-join the victims = survivors;
  *     write survivors to `<table>.deleting` (url-hash clustered,
  *     production codec);
  *  3. VERIFY: survivor count + full-row digest of the rewrite equal
  *     the anti-join recomputed from the still-untouched originals —
  *     a rewrite that changes surviving rows aborts, table untouched;
  *  4. swap at FILE granularity: move affected originals into
  *     `<table>.bak`, move the rewrite's files in, drop `.bak`;
  *  5. the swap runs under a [[graft.pipeline.ManifestLog.reset]] of
  *     the `_commits` append log (it names replaced files), so history
  *     collapses to a fresh genesis — the contract CompactJob's swap
  *     relies on too. Step 1 scans only committed files and the reset
  *     reconciles a crashed append's debris away before the swap, so
  *     the genesis never adopts it. `parts.meta` is kept: logical
  *     partitioning is unchanged.
  *
  * Crash recovery mirrors CompactJob: `.bak` present → a delete died
  * mid-swap; if any file exists ONLY in `.bak`, move it back, then
  * delete `.bak`; always delete a stale `.deleting`. Both debris
  * forms are refused loudly by this job (and `.bak` by ExtractJob's
  * resume).
  *
  * Deletion is an OUTPUT-table operation: if the crawl source still
  * holds the victim pages, a later re-extraction resurrects them —
  * delete upstream too. Likewise a part whose rows are ALL deleted
  * stays committed (parts.meta / genesis adoption), so a rerun does
  * not re-append it — that is the correct behavior for deletion,
  * the opposite of the resume hole.
  */
object DeleteJob {

  final case class DeleteReport(
      rowsBefore: Long, rowsDeleted: Long, rowsAfter: Long,
      filesTouched: Int, filesTotal: Int, bytesRewritten: Long)

  /** Full-row digest + count (order-independent; all columns, sorted
    * by name — deletion must preserve survivors verbatim).
    */
  private def digestCount(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(struct(df.columns.sorted.toIndexedSeq.map(col): _*)).as("h"))
      .agg(expr("bit_xor(h)").as("digest"), count(lit(1)).as("n")).collect()(0)
    if (r.isNullAt(0)) (0L, 0L) else (r.getLong(0), r.getLong(1))
  }

  def run(
      spark: SparkSession,
      tableDir: String,
      victims: DataFrame,
      keyCol: String = "url",
      targetFileBytes: Long = 128L * 1024 * 1024
  ): DeleteReport = {
    val dir = new Path(tableDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bakPath = new Path(tableDir + ".bak")
    val tmpPath = new Path(tableDir + ".deleting")
    require(!fs.exists(bakPath),
      s"$tableDir.bak exists — a previous swap crashed; recover first " +
        s"(move files that exist only in .bak back into the table, then delete .bak)")
    require(!fs.exists(tmpPath),
      s"$tableDir.deleting exists — stale partial rewrite; delete it first")
    require(fs.exists(dir) && fs.getFileStatus(dir).isDirectory,
      s"$tableDir is not a directory")
    require(!fs.exists(new Path(dir, "_spark_metadata")),
      s"$tableDir is a streaming-sink table (_spark_metadata present) — " +
        s"a directory-level rewrite would orphan the sink log; migrate first")

    // the committed view: a crashed append's unlisted files are never
    // scanned (the reset below reconciles them away before the swap)
    val log = ParquetTableIO.commitLog(spark, tableDir)
    val committed = log.committedFiles("")
    val filesTotal = committed.count(_.endsWith(".parquet"))
    val table = spark.read.parquet(committed: _*)
    require(table.columns.contains(keyCol), s"table has no column '$keyCol'")
    val keys = victims.select(col(keyCol)).distinct()

    // 1. affected files: key column only (parquet reads one column),
    // file list bounded by the file count — driver state is tiny
    val affected = table.select(col(keyCol), input_file_name().as("_f"))
      .join(keys, keyCol).select(col("_f")).distinct()
      .collect().map(_.getString(0)).sorted
    val rowsBefore = table.count()
    if (affected.isEmpty)
      return DeleteReport(rowsBefore, 0L, rowsBefore, 0, filesTotal, 0L)

    // 2. rewrite ONLY affected files, minus the victims
    val slice = spark.read.parquet(affected.toIndexedSeq: _*)
    val survivors = slice.join(keys, Seq(keyCol), "left_anti")
    val (dSurv, nSurv) = digestCount(survivors)
    val nSlice = slice.count()
    val rowsDeleted = nSlice - nSurv

    if (nSurv > 0) {
      val sliceBytes = affected.map(p => fs.getFileStatus(new Path(p)).getLen).sum
      val nParts = math.max(1, math.ceil(
        sliceBytes.toDouble * nSurv / math.max(1L, nSlice) / targetFileBytes).toInt)
      survivors.repartition(nParts, xxhash64(col(keyCol)))
        .write.mode(SaveMode.Overwrite).options(ParquetTableIO.WriteOptions)
        .parquet(tmpPath.toString)
      // 3. verify the rewrite against the still-untouched originals
      val (dBack, nBack) = digestCount(spark.read.parquet(tmpPath.toString))
      require(nBack == nSurv && dBack == dSurv,
        s"delete rewrite would change surviving rows " +
          s"($nSurv->$nBack rows, digest $dSurv->$dBack) — aborted, table untouched")
    }

    // 4. file-granularity swap; the _commits log names replaced files,
    // so the swap runs under its reset
    val bytesRewritten = log.reset {
      require(fs.mkdirs(bakPath), s"cannot create $bakPath")
      for (p <- affected) {
        val src = new Path(p)
        require(fs.rename(src, new Path(bakPath, src.getName)),
          s"swap failed moving $p aside — files moved so far are in $bakPath")
      }
      val moved =
        if (!fs.exists(tmpPath)) 0L
        else fs.listStatus(tmpPath).iterator
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .map { s =>
            require(fs.rename(s.getPath, new Path(dir, s.getPath.getName)),
              s"swap failed moving ${s.getPath} in — recover from $bakPath")
            s.getLen
          }.sum
      fs.delete(tmpPath, true)
      moved
    }
    // 5. drop the originals
    fs.delete(bakPath, true)

    val rowsAfter = spark.read.parquet(tableDir).count()
    require(rowsAfter == rowsBefore - rowsDeleted,
      s"post-swap count $rowsAfter != $rowsBefore - $rowsDeleted")
    DeleteReport(rowsBefore, rowsDeleted, rowsAfter,
      affected.length, filesTotal, bytesRewritten)
  }

  /** CLI: victim keys arrive as a parquet relation with `keyCol`. */
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: graft.DeleteJob <tableDir> <victimsParquet> [keyCol] [targetFileMB]")
      sys.exit(2)
    }
    val keyCol = if (args.length > 2) args(2) else "url"
    val targetMb = if (args.length > 3) args(3).toLong else 128L
    val spark = GraftSession()
    val r = run(spark, args(0), spark.read.parquet(args(1)), keyCol,
      targetMb * 1024 * 1024)
    println(
      s"""{"rows_before":${r.rowsBefore},"rows_deleted":${r.rowsDeleted},""" +
      s""""rows_after":${r.rowsAfter},"files_touched":${r.filesTouched},""" +
      s""""files_total":${r.filesTotal},"bytes_rewritten":${r.bytesRewritten}}""")
    spark.stop()
  }
}
