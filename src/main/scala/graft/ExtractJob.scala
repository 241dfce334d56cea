package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.extract.ExtractorConfig
import graft.pipeline.{ExtractPipeline, ManifestLog, ParquetTableIO, TableIO}

/** Production entry point (SURVEY.md §3.2): the spark-submit job
  *
  *   spark-submit --class graft.ExtractJob app.jar <pagesPath> <outDir> [P] [jobId]
  *
  * read pages → input gate → stable part_id → RESUME anti-join against
  * the committed-part set → expression-mode extract (no object
  * boundary) → ONE exchange for latest-snapshot dedup + url_hash
  * clustering → append output, then checkpoint/lineage metrics
  * aggregated from the FILES THAT APPEND ADDED (SURVEY.md §2.9).
  *
  * Single-pass contract: the extraction pipeline executes EXACTLY once
  * per run. The metrics aggregation reads back only this commit's
  * output files ([[TableIO.readCommit]]), pruned to the six small
  * metric columns — never text/spans — so at 10^12 rows the job costs
  * one pipeline pass plus a cheap columnar rollup of what it just
  * wrote. (Plan/listener test asserts the pages scan runs once.)
  *
  * Idempotence & the crash windows: output append and checkpoint
  * append are two separate commits (atomic snapshots on Iceberg; plain
  * directory appends in the parquet sandbox, single-writer protocol).
  *  - Crash MID-append: the parquet append is multi-file and
  *    non-atomic, so partial files would make every part_id of the run
  *    look committed. [[TableIO.reconcileOrphanFiles]] (the
  *    [[ManifestLog]] `_commits` log ParquetTableIO.appendCommit
  *    maintains) deletes files no completed commit recorded, so the
  *    rerun re-extracts those parts.
  *  - Crash BETWEEN the appends: "orphan" part_ids — present in the
  *    output, missing from the checkpoint. Reruns treat the OUTPUT as
  *    the source of truth for "already appended": committed =
  *    checkpoint part_ids ∪ output part_ids, so orphaned parts are
  *    never re-appended (no duplicate rows, ever), and their missing
  *    checkpoint rows are backfilled from the already-written files.
  * Extraction is pure and part_id is a pure function of url for FIXED
  * P (P is persisted in parts.meta on first run and adopted by every
  * rerun), so a re-extracted part would be byte-identical anyway; the
  * reconciliation just avoids paying for it and keeps row counts exact.
  *
  * On a real cluster the appends are Iceberg snapshots
  * ([[graft.pipeline.IcebergTableIO]]). The output-part_id probe is a
  * scan of the output's part_id column on either TableIO — O(output)
  * per run, not a metadata read.
  */
object ExtractJob {

  /** Number of stable logical resume units. Cluster-size independent;
    * at 10^12 rows this would be O(100k); tests use small values.
    */
  val DefaultLogicalParts = 256

  /** Metric columns read back from the written output (plus url for
    * the url_hash recompute) — the narrow rollup projection.
    */
  private val MetricCols =
    Seq("part_id", "url", "n_blocks", "n_kept", "bytes_in", "bytes_out")

  /** Output-table schema (ExtractedPage columns + the stable part_id)
    * — lets the resume probes go through the TableIO seam.
    */
  val outputSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[graft.extract.ExtractedPage].schema
      .add("part_id", org.apache.spark.sql.types.IntegerType)

  def run(
      spark: SparkSession,
      pagesPath: String,
      outDir: String,
      numLogicalParts: Int = DefaultLogicalParts,
      jobId: String = "job",
      attempt: Int = 0,
      cfg: ExtractorConfig = ExtractorConfig.default,
      io: TableIO = ParquetTableIO,
      honorRobots: Boolean = false
  ): (Long, Long) = {
    import spark.implicits._
    val outPath = s"$outDir/pages_extracted"
    val ckptPath = s"$outDir/checkpoint_metrics"

    // Fail fast on compaction-crash debris: if CompactJob died mid-swap
    // the real table sits in .bak, and resuming against the absent/empty
    // table dir would re-append every partition (duplicates once .bak is
    // restored). Recovery is CompactJob's documented procedure. Hadoop
    // FS, not java.io.File — outDir may be a URI (file:/, hdfs://, s3a://)
    // where a local-FS probe is silently vacuous.
    require(!ParquetTableIO.exists(spark, outPath + ".bak"),
      s"$outPath.bak exists — a compaction crashed mid-swap; restore it " +
        s"(mv $outPath.bak $outPath) before resuming extraction")

    // part_id = pmod(xxhash64(url), P) is only a pure function of url
    // for FIXED P: resuming with a different P than the run that wrote
    // the checkpoint silently drops/duplicates parts. The FIRST run
    // persists P next to the table; every later run ADOPTS it (the CLI
    // value is a request, not an override). Iceberg deployment: store P
    // as a table property instead.
    val parts =
      if (io eq ParquetTableIO) resolveParts(spark, outDir, numLogicalParts)
      else numLogicalParts

    // Drop data files a crashed append left behind (present on disk,
    // recorded by no completed commit) — otherwise their part_ids look
    // fully committed with partial rows and resume loses data.
    val debris = io.reconcileOrphanFiles(spark, outPath)
    if (debris.nonEmpty)
      System.err.println(s"[extract] removed ${debris.size} uncommitted " +
        s"data file(s) from a crashed append: ${debris.take(5).mkString(", ")}…")

    val t0 = System.currentTimeMillis()

    // ---- Resume set (J1): committed = checkpoint ∪ output part_ids.
    // The checkpoint table is tiny. The output probe prunes to the
    // single int part_id column but still scans it over the WHOLE
    // output table (parquet or Iceberg), so it costs O(output) per run.
    // Both run BEFORE extraction so committed partitions pay no CPU.
    val ckptIds: Set[Int] = io.readOrEmpty(spark, ckptPath, ParquetTableIO.checkpointSchema)
      .select("part_id").distinct().as[Int].collect().toSet
    val outIds: Set[Int] = io.readOrEmpty(spark, outPath, outputSchema)
      .select("part_id").distinct().as[Int].collect().toSet
    val orphanIds = outIds -- ckptIds
    val doneIds = ckptIds ++ outIds
    val inputSnapshot = io.snapshotId(spark, pagesPath)

    val pages = io.readPages(spark, pagesPath)
    // P4 scan-pushed validity gate; then (opt-in) the robots-noindex
    // compliance gate — a codegen regex over the html the extractor
    // reads anyway (same scan, no extra pass). Off by default: the
    // byte-identity oracles and resume tests run ungated.
    val gated0 = ExtractPipeline.inputGate(pages)
    val gated =
      if (honorRobots) graft.ops.TextOps.indexablePages(gated0) else gated0
    val done = doneIds.toSeq.sorted.toDF("part_id")
    val todo = ExtractPipeline
      .withPartId(gated, parts)
      .join(broadcast(done), Seq("part_id"), "left_anti")

    // Extract FIRST (pure map, no shuffle), then ONE exchange does both
    // latest-snapshot dedup and url_hash output clustering — the shuffle
    // carries extracted text (~25% of raw html bytes), never the html,
    // and there is no range-sampling recompute (see dedupAndCluster).
    val extracted = ExtractPipeline
      .extractExpr(todo.select("url", "warc_ts", "html"), cfg)
    val keyed = ExtractPipeline.withPartId(extracted, parts)
    val clustered = ExtractPipeline.dedupAndCluster(
      keyed, spark.sparkContext.defaultParallelism * 2)

    // ---- THE single pipeline pass: append the output.
    val commit = io.appendCommit(clustered.drop("url_hash"), outPath)

    // ---- Checkpoint metrics from the files that append added (plus
    // backfill rows for any orphaned parts of a crashed predecessor).
    def rollup(df: DataFrame, snapshot: String): DataFrame =
      ExtractPipeline.metrics(
          df.select(MetricCols.map(col): _*)
            .withColumn("url_hash", ExtractPipeline.urlHash),
          jobId, attempt,
          wallMs = System.currentTimeMillis() - t0,
          inputSnapshot = snapshot)
        .select(ParquetTableIO.checkpointSchema.fieldNames.toIndexedSeq.map(col): _*)

    val readBack = io.readCommit(spark, commit)
    val thisRun = // an all-resumed rerun appends no files at all
      if (readBack.columns.isEmpty) None else Some(rollup(readBack, inputSnapshot))
    val backfill =
      if (orphanIds.isEmpty) None
      else Some(rollup(
        io.readOrEmpty(spark, outPath, outputSchema)
          .join(broadcast(orphanIds.toSeq.sorted.toDF("part_id")), Seq("part_id"), "left_semi"),
        s"reconciled:$inputSnapshot"))
    (thisRun ++ backfill).reduceOption(_ unionByName _).foreach(io.append(_, ckptPath))

    // Totals come from the checkpoint (part_ids are append-once by the
    // protocol above, so sum(n_docs) == output rows) — no third pass
    // over the output data.
    val totalRows = io.readOrEmpty(spark, ckptPath, ParquetTableIO.checkpointSchema)
      .agg(coalesce(sum(col("n_docs")), lit(0L))).as[Long].collect()(0)
    (totalRows, doneIds.size.toLong)
  }

  /** Persisted logical-part count: first run writes `$outDir/parts.meta`
    * (a [[ManifestLog.writeValue]] commit); later runs adopt it,
    * warning when the CLI requested something else.
    */
  private def resolveParts(spark: SparkSession, outDir: String, requested: Int): Int =
    ManifestLog.readValue(spark, s"$outDir/parts.meta").map(_.trim.toInt) match {
      case Some(stored) =>
        if (stored != requested)
          System.err.println(s"[extract] adopting persisted numLogicalParts=$stored " +
            s"(CLI requested $requested — changing P would corrupt resume)")
        stored
      case None =>
        ManifestLog.writeValue(spark, s"$outDir/parts.meta", s"$requested\n")
        requested
    }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.ExtractJob <pagesPath> <outDir> " +
        "[numLogicalParts] [jobId] [honor-robots]")
      sys.exit(2)
    }
    val pagesPath = args(0)
    val outDir = args(1)
    val parts = if (args.length > 2) args(2).toInt else DefaultLogicalParts
    val jobId = if (args.length > 3) args(3) else "job-" + System.currentTimeMillis()
    val honorRobots = args.length > 4 && args(4) == "honor-robots"
    val spark = GraftSession()
    val (rows, resumedFrom) =
      run(spark, pagesPath, outDir, parts, jobId, honorRobots = honorRobots)
    println(s"""{"job":"$jobId","output_rows":$rows,"resumed_part_ids":$resumedFrom}""")
    spark.stop()
  }
}
