package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.extract.ExtractorConfig

/** The Spark-native extraction pipeline (SURVEY.md §3.2): DataFrame
  * transformations under Catalyst, NO RDDs (BASELINE.json input_hint).
  *
  * The three reference stages (preprocess → detect → recognize) are
  * FUSED into one native expression, `extract_page` ([[extractExpr]],
  * SURVEY.md §4.3b): the kernel runs inside the scan's codegen Project
  * and writes straight into an InternalRow, so there is no object-mode
  * boundary (no Deserialize/SerializeFromObject) anywhere on the path.
  * Every Spark caller — the batch job, the streaming job and the query
  * catalogue — extracts through it; [[graft.extract.GoldenExtractor]]
  * stays the driver-side executable spec it is checked against.
  */
object ExtractPipeline {

  /** Input gate (P4): skip unreadable/empty pages. Expressed as a
    * Column predicate BEFORE extraction so Catalyst can push it into
    * the scan.
    */
  def inputGate(pages: DataFrame): DataFrame =
    pages.filter(col("html").isNotNull && length(col("html")) > 0)

  /** Fused M1→M4 as the native `extract_page` expression (M7 /
    * SURVEY.md §4.3b): the pipeline stays a single codegen Project over
    * the scan. Takes the PRUNED projection (url, warc_ts, html) so the
    * parquet/Iceberg scan never reads the decoy crawl `text` column.
    * Every column equals [[graft.extract.GoldenExtractor.extractPage]]
    * (SparkPipelineSpec).
    */
  def extractExpr(pages: DataFrame, cfg: ExtractorConfig): DataFrame = {
    val spark = pages.sparkSession
    graft.functions.GraftExtensions.register(spark)
    pages
      .withColumn("__ex", call_function("extract_page",
        col("html"), lit(cfg.textThreshold), lit(cfg.linkThreshold),
        lit(cfg.blockSep), lit(cfg.maxHtmlBytes), lit(cfg.minChars),
        lit(cfg.listItemPrefix), lit(cfg.quotePrefix)))
      .select(
        col("url"), col("warc_ts"),
        col("__ex.text").as("text"),
        col("__ex.span_starts").as("span_starts"),
        col("__ex.span_ends").as("span_ends"),
        col("__ex.span_block_ids").as("span_block_ids"),
        col("__ex.span_scores").as("span_scores"),
        col("__ex.n_blocks").as("n_blocks"),
        col("__ex.n_kept").as("n_kept"),
        col("__ex.bytes_in").as("bytes_in"),
        col("__ex.bytes_out").as("bytes_out"))
  }

  /** Latest-snapshot dedup (A2/W3): keep the newest warc_ts per url.
    * Deterministic tie-break on warc_ts only — snapshots of one url
    * with equal ts are byte-identical by the determinism contract.
    */
  def dedupLatest(pages: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("url")).orderBy(col("warc_ts").desc)
    pages.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Stable logical partition id (R3): pmod(xxhash64(url), P) —
    * independent of runtime parallelism, so checkpoint/resume units
    * survive cluster-size changes (N → 4N executors).
    */
  def urlHash: Column = xxhash64(col("url"))

  def withPartId(df: DataFrame, numLogicalParts: Int): DataFrame =
    df.withColumn("url_hash", urlHash)
      .withColumn("part_id", pmod(col("url_hash"), lit(numLogicalParts.toLong)).cast("int"))

  /** Output clustering (R1): range-repartition on url_hash — balanced
    * output files even under host skew, because url_hash (not host)
    * spreads a hot host's pages by construction (SURVEY.md §2.8 R2).
    */
  def clusterForWrite(df: DataFrame, numPartitions: Int): DataFrame =
    df.repartitionByRange(numPartitions, col("url_hash"))

  /** Latest-snapshot dedup + output clustering in ONE exchange — the
    * production write path.
    *
    * Why not window-dedup then [[clusterForWrite]]: that is two
    * exchanges, and repartitionByRange's range-bounds SAMPLING job
    * re-executes the upstream stage (at 10^12 rows, a second pass over
    * the shuffle / a second run of the extraction). Since
    * url_hash = xxhash64(url) is uniform by construction, hash
    * clustering on it yields the same balanced output files with NO
    * sampling pass — and a hot host still cannot pin a partition
    * because its pages spread across the whole hash space (R2).
    *
    * One exchange is enough for BOTH dedup and clustering:
    * HashPartitioning(url_hash) satisfies the window's
    * ClusteredDistribution(url_hash, url), so Catalyst inserts no
    * second shuffle — just the window's partition-local sort, which
    * also leaves every output file sorted by (url_hash, url).
    * Plan-shape test asserts exchange count == 1.
    */
  def dedupAndCluster(extracted: DataFrame, numPartitions: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("url_hash"), col("url"))
      .orderBy(col("warc_ts").desc)
    val withHash =
      if (extracted.columns.contains("url_hash")) extracted
      else extracted.withColumn("url_hash", urlHash)
    withHash
      .repartition(numPartitions, col("url_hash"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Per-logical-partition metrics rollup (A1/C1). Aggregated by the
    * STABLE part_id (not the runtime partition index) so metrics rows
    * are value-identical across retries/parallelism — accumulator-free
    * by design (accumulators are not exactly-once on retry).
    */
  def metrics(extracted: DataFrame, jobId: String, attempt: Int,
              wallMs: Long = 0L, inputSnapshot: String = ""): DataFrame =
    extracted.groupBy(col("part_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_blocks")).cast("long").as("n_blocks"),
        sum(col("n_kept")).cast("long").as("n_kept"),
        sum(col("bytes_in")).cast("long").as("bytes_in"),
        sum(col("bytes_out")).cast("long").as("bytes_out"),
        min(col("url_hash")).as("url_hash_lo"),
        max(col("url_hash")).as("url_hash_hi")
      )
      .withColumn("attempt", lit(attempt))
      .withColumn("job_id", lit(jobId))
      .withColumn("wall_ms", lit(wallMs))
      .withColumn("committed_ts", current_timestamp())
      .withColumn("input_snapshot", lit(inputSnapshot))

  /** Row-form spans view: reconstructs ARRAY<STRUCT<start,end,blockId,
    * kind,score>> relationally from the struct-of-arrays storage
    * representation (zip_with over parallel primitive arrays — pure
    * Column exprs, stays in codegen).
    */
  def spansAsStructs(extracted: DataFrame): DataFrame =
    extracted.withColumn("spans",
      expr("""transform(span_starts, (s, i) -> named_struct(
              |  'start', s,
              |  'end', span_ends[i],
              |  'blockId', span_block_ids[i],
              |  'kind', 'content',
              |  'score', span_scores[i]))""".stripMargin))
      .drop("span_starts", "span_ends", "span_block_ids", "span_scores")

  /** Order-independent global digest (A4): bit_xor of per-row hashes —
    * partition-count-invariant, so one value certifies byte-identity
    * across any parallelism level.
    */
  def globalDigest(extracted: DataFrame): DataFrame =
    extracted
      .select(xxhash64(col("url"), col("text")).as("h"))
      .agg(expr("bit_xor(h)").as("digest"), count(lit(1)).as("n_rows"))
}
