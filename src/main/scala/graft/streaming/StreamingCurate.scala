package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.GraftSession
import graft.ops.TextOps

/** Streaming front-end of the curation pipeline (SURVEY.md §2.10 +
  * CurateJob): incremental drains of an extracted landing zone with
  * STATEFUL url dedup — `dropDuplicatesWithinWatermark(url_norm)`
  * keeps the first-seen doc per canonical url and drops every
  * revisit that arrives within the event-time watermark, across
  * batches and across AvailableNow invocations (state lives in the
  * streaming checkpoint).
  *
  * This is the ingestion-time half of dedup: bounded state (keys expire
  * with the watermark) catches the hot revisit window as data lands;
  * the global batch pass (CurateJob / ExtractJob dedup) remains the
  * authority for cold duplicates beyond the watermark — the standard
  * lambda split for a 100 TB crawl.
  *
  * The quality gate runs inline (same integer-exact rules as
  * CurateJob): stateless projection, so it costs nothing extra in the
  * streaming plan.
  */
object StreamingCurate {

  def start(
      spark: SparkSession,
      extractedDir: String,
      outDir: String,
      checkpointDir: String,
      schema: StructType = graft.ExtractJob.outputSchema,
      watermark: String = "1 hour",
      minTokens: Long = 5L,
      dupFactor: Long = 2L
  ): StreamingQuery = {
    val in = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "64")
      .parquet(extractedDir)
      .select(col("url").as("url_messy"), col("warc_ts"), col("text"))
    val words = split(col("text"), " ")
    TextOps.withUrlNorm(in)
      .withWatermark("warc_ts", watermark)
      .dropDuplicatesWithinWatermark("url_norm")
      .withColumn("n_tokens", size(words).cast("long"))
      .withColumn("n_distinct", size(array_distinct(words)).cast("long"))
      .withColumn("n_punct",
        (length(col("text")) - length(translate(col("text"), TextOps.PunctChars, "")))
          .cast("long"))
      // SAME three rules as CurateJob.run's batch gate (shared Column
      // builders) — the lambda split's two halves must agree
      .filter(col("n_tokens") >= minTokens &&
        TextOps.keepPunct(col("text"), col("n_punct")) &&
        TextOps.keepNonRepetitive(col("n_distinct"), col("n_tokens"), dupFactor))
      .select(col("url_norm"), col("warc_ts"), col("text"), col("n_tokens"))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** CLI: drain the extracted landing dir once and exit. */
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: graft.streaming.StreamingCurate <extractedDir> <outDir> <checkpointDir>")
      sys.exit(2)
    }
    val spark = GraftSession()
    val q = start(spark, args(0), args(1), args(2))
    q.awaitTermination()
    spark.stop()
  }
}
