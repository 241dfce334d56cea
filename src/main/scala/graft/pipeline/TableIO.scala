package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types._

/** One atomic-append's handle: enough information to re-read EXACTLY
  * the rows that commit added (the Iceberg incremental-scan analog).
  * `token` is implementation-opaque: added data files for parquet, a
  * (start-snapshot, end-snapshot) pair for Iceberg.
  */
final case class Commit(ident: String, token: Seq[String])

/** Storage seam (SURVEY.md §7.2). The production deployment targets
  * Iceberg ([[IcebergTableIO]]: `spark.read.table` /
  * `writeTo(...).append()` with a `bucket(N, url)` hidden-partition
  * transform); NO Iceberg runtime jar exists in this sandbox, so the
  * bench/tests run on [[ParquetTableIO]] with an explicit append
  * layout. The seam keeps the pipeline code identical between the two.
  */
trait TableIO {
  def readPages(spark: SparkSession, ident: String): DataFrame
  def append(df: DataFrame, ident: String): Unit
  def readOrEmpty(spark: SparkSession, ident: String, schema: StructType): DataFrame

  /** Append and return a [[Commit]] handle for the rows just added.
    * The production job aggregates its checkpoint metrics from
    * [[readCommit]] of this handle (columnar read of the small metric
    * columns) instead of re-executing the producing plan — the
    * single-pass contract.
    */
  def appendCommit(df: DataFrame, ident: String): Commit

  /** Rows added by `commit` and nothing else. */
  def readCommit(spark: SparkSession, commit: Commit): DataFrame

  /** Opaque snapshot id of the current table state for C3 lineage:
    * Iceberg's currentSnapshot().snapshotId() on a real lake; a
    * deterministic fingerprint of the data-file manifest (names +
    * lengths, no data read) in the parquet sandbox.
    */
  def snapshotId(spark: SparkSession, ident: String): String

  /** Delete data files a CRASHED append left behind — files physically
    * present but not recorded by any completed [[appendCommit]].
    * Without this a crash mid-append makes every part_id of the run
    * look committed with only PARTIAL rows, and resume silently loses
    * data. No-op where appends are atomic (Iceberg); deletes nothing
    * from a table that predates the commit log (it is adopted instead).
    * Single-writer protocol. Returns the deleted file names.
    */
  def reconcileOrphanFiles(spark: SparkSession, ident: String): Seq[String] = Seq.empty
}

object ParquetTableIO extends TableIO {

  val pageSchema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("warc_ts", TimestampType),
    StructField("html", BinaryType),
    StructField("text", StringType),
    StructField("lang", StringType)
  ))

  val checkpointSchema: StructType = StructType(Seq(
    StructField("part_id", IntegerType),
    StructField("n_docs", LongType),
    StructField("n_blocks", LongType),
    StructField("n_kept", LongType),
    StructField("bytes_in", LongType),
    StructField("bytes_out", LongType),
    StructField("url_hash_lo", LongType),
    StructField("url_hash_hi", LongType),
    StructField("attempt", IntegerType),
    StructField("job_id", StringType),
    StructField("wall_ms", LongType),
    StructField("committed_ts", TimestampType),
    // input snapshot id (Iceberg snapshot on a real lake; the manifest
    // fingerprint of the input path in the parquet sandbox) — C3 lineage
    StructField("input_snapshot", StringType)
  ))

  override def readPages(spark: SparkSession, ident: String): DataFrame =
    spark.read.schema(pageSchema).parquet(ident)

  /** The parquet write policy of every graft table, applied with
    * `.options(...)` on batch and streaming writers alike. Measured on
    * the 500k-page corpus (round-2 codec A/B, BENCH.md): zstd shrinks
    * the extracted output 1.7x vs snappy (urls/text barely
    * snappy-compressible) for ~2% pipeline wall — at 100 TB that is 41%
    * fewer bytes for every downstream scan. Dictionary encoding stays
    * OFF: url/text values are unique, the dictionary is pure overhead
    * (BENCH.md optimization log). The SearchIndex postings and the
    * AnnIndex IVF cells keep dictionaries on (repetitive columns) and
    * set zstd alone.
    */
  val WriteOptions: Map[String, String] =
    Map("compression" -> "zstd", "parquet.enable.dictionary" -> "false")

  override def append(df: DataFrame, ident: String): Unit =
    df.write.mode(SaveMode.Append).options(WriteOptions).parquet(ident)

  /** Read a table that may not exist yet (first run: no checkpoint). */
  override def readOrEmpty(spark: SparkSession, ident: String, schema: StructType): DataFrame = {
    if (exists(spark, ident)) spark.read.schema(schema).parquet(ident)
    else spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The `_commits` log ([[ManifestLog]], bare data-file names): an
    * append's files are listed only AFTER the parquet append finishes,
    * so a crash mid-append leaves them unlisted and
    * [[reconcileOrphanFiles]] removes them on the next run. Iceberg
    * makes this whole mechanism a snapshot commit.
    */
  private[graft] def commitLog(spark: SparkSession, ident: String): ManifestLog =
    ManifestLog(spark, ident, "_commits", Seq(""))

  /** Ordered commit history: one (seq, data-file names) entry per
    * completed append, oldest first, seq being the position in the
    * log. Empty when the table predates the commit log entirely.
    */
  def commitHistory(spark: SparkSession, ident: String): Seq[(Long, Seq[String])] =
    commitLog(spark, ident).history.zipWithIndex.map { case (names, i) => (i.toLong, names) }

  /** Identity of the commit log's FIRST (oldest) list — changes iff
    * the log was reset (CompactJob / DeleteJob swap) and a fresh
    * genesis was adopted. CDC consumers checkpoint this next to their
    * last-seen seq so a log reset is detected (seqs restart at 0) and
    * they fall back to an idempotent full replay instead of silently
    * skipping post-reset commits. Empty string when no log exists.
    */
  def commitLogId(spark: SparkSession, ident: String): String =
    commitLog(spark, ident).logId

  /** CDC feed: rows ADDED by commits in (fromSeq, toSeq] — on an
    * append-only table the new files ARE the change set, so an
    * incremental consumer reads exactly the delta (no diff join, no
    * full-table scan). toSeq = Long.MaxValue tails the whole log;
    * fromSeq = -1 reads the table as it stood after commit toSeq (time
    * travel). CompactJob / DeleteJob reset the commit log at their
    * atomic swap, collapsing history to a fresh genesis — time travel
    * spans appends, not rewrites.
    */
  def readChanges(spark: SparkSession, ident: String,
                  fromSeq: Long, toSeq: Long = Long.MaxValue): DataFrame = {
    val files = commitHistory(spark, ident)
      .filter { case (s, _) => s > fromSeq && s <= toSeq }.flatMap(_._2)
      .map(n => s"$ident/$n")
    if (files.isEmpty) spark.emptyDataFrame
    else spark.read.parquet(files: _*)
  }

  override def reconcileOrphanFiles(spark: SparkSession, ident: String): Seq[String] =
    commitLog(spark, ident).reconcile()

  /** Directory-listing diff around the append (single-writer protocol,
    * as documented in ExtractJob); Iceberg replaces this with the
    * commit snapshot's added files — no listing at all. Debris of a
    * crashed append is reconciled first; pre-existing files of a table
    * that predates the commit log are adopted into a genesis list.
    */
  override def appendCommit(df: DataFrame, ident: String): Commit = {
    val log = commitLog(df.sparkSession, ident)
    log.reconcile()
    val added = log.commitAdded()(append(df, ident))
    Commit(ident, added.sorted.map(n => s"$ident/$n"))
  }

  override def readCommit(spark: SparkSession, commit: Commit): DataFrame =
    if (commit.token.isEmpty)
      spark.emptyDataFrame
    else
      spark.read.parquet(commit.token: _*)

  /** Manifest fingerprint: FNV-1a over sorted (name, length) pairs —
    * changes iff the committed file set changes, computed from a pure
    * listing (no data read).
    */
  override def snapshotId(spark: SparkSession, ident: String): String = {
    val fs = new org.apache.hadoop.fs.Path(ident)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = ManifestLog.dataFiles(fs, ident)
      .map(st => st.getPath.getName + ":" + st.getLen).sorted
    var h = 0xcbf29ce484222325L
    files.foreach { f =>
      f.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
        h ^= (b & 0xffL); h *= 0x100000001b3L
      }
    }
    java.lang.Long.toHexString(h)
  }
}

/** The deployment-target implementation (SURVEY.md §7.2): identifiers
  * are catalog table names (`lake.crawl.pages`), not paths. Compiles
  * against pure Spark APIs — DataFrameWriterV2 and string read options
  * — so the SAME jar runs here and on a cluster with
  * `spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog`
  * configured; only then do the calls resolve to Iceberg commits.
  *
  * Mapping of the seam:
  *   - appendCommit  → `writeTo(t).append()` (one atomic snapshot);
  *     the token is the (start, end) snapshot-id pair bracketing it.
  *   - readCommit    → incremental scan via the public
  *     `start-snapshot-id`/`end-snapshot-id` read options.
  *   - snapshotId    → newest row of the `<t>.snapshots` metadata table.
  *   - output clustering → `bucket(N, url)` hidden partitioning via
  *     [[createPagesExtracted]]; Iceberg routes appended rows without
  *     any explicit repartition column in the data.
  *
  * The non-atomic two-append window ExtractJob documents for parquet
  * disappears here: each append IS a snapshot, and the orphan
  * reconciliation read (`part_id`s present in output) comes from
  * manifest metadata, not a data scan.
  */
object IcebergTableIO extends TableIO {

  override def readPages(spark: SparkSession, ident: String): DataFrame =
    spark.read.table(ident)

  override def append(df: DataFrame, ident: String): Unit =
    df.writeTo(ident).append()

  override def readOrEmpty(spark: SparkSession, ident: String, schema: StructType): DataFrame =
    if (spark.catalog.tableExists(ident)) spark.read.table(ident)
    else spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)

  override def appendCommit(df: DataFrame, ident: String): Commit = {
    val spark = df.sparkSession
    val before = currentSnapshot(spark, ident)
    df.writeTo(ident).append()
    Commit(ident, Seq(before.getOrElse(""), currentSnapshot(spark, ident).getOrElse("")))
  }

  override def readCommit(spark: SparkSession, commit: Commit): DataFrame = {
    val Seq(start, end) = commit.token
    val r = spark.read.option("end-snapshot-id", end)
    (if (start.isEmpty) r else r.option("start-snapshot-id", start)).table(commit.ident)
  }

  private def currentSnapshot(spark: SparkSession, ident: String): Option[String] =
    if (!spark.catalog.tableExists(ident)) None
    else spark.sql(
        s"SELECT snapshot_id FROM $ident.snapshots ORDER BY committed_at DESC LIMIT 1")
      .collect().headOption.map(_.getLong(0).toString)

  override def snapshotId(spark: SparkSession, ident: String): String =
    currentSnapshot(spark, ident).getOrElse("empty")

  /** DDL for the output table: url-bucketed hidden partitioning — the
    * Iceberg-native form of ExtractPipeline.dedupAndCluster's
    * url_hash clustering (SURVEY.md §2.8 R1).
    */
  def createPagesExtracted(spark: SparkSession, ident: String, buckets: Int): Unit =
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS $ident (
         |  url STRING, warc_ts TIMESTAMP, text STRING,
         |  span_starts ARRAY<INT>, span_ends ARRAY<INT>,
         |  span_block_ids ARRAY<INT>, span_scores ARRAY<FLOAT>,
         |  n_blocks INT, n_kept INT, bytes_in BIGINT, bytes_out BIGINT,
         |  part_id INT)
         |USING iceberg
         |PARTITIONED BY (bucket($buckets, url))""".stripMargin)
}
