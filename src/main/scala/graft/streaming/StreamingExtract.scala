package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.GraftSession
import graft.extract.ExtractorConfig
import graft.pipeline.{ExtractPipeline, ParquetTableIO}

/** Structured Streaming formulation of the pipeline (SURVEY.md §2.10):
  * the extraction stages are stateless per-row transforms, so the batch
  * plan lifts directly onto `readStream` → `writeStream`. The streaming
  * checkpoint directory replaces the batch job's checkpoint table as
  * the resume mechanism (exactly-once file-sink semantics).
  *
  * `Trigger.AvailableNow` drains everything currently in the source and
  * stops — the incremental-backfill pattern for a crawl landing zone: a
  * scheduled run picks up exactly the new files since the last
  * checkpoint, extracts, appends.
  *
  * Latest-snapshot dedup is NOT part of the streaming path (it is a
  * global-window batch concern, SURVEY.md §2.5 A2); compaction runs as
  * the batch ExtractJob over the streamed output when needed.
  */
object StreamingExtract {

  def start(
      spark: SparkSession,
      pagesDir: String,
      outDir: String,
      checkpointDir: String,
      cfg: ExtractorConfig = ExtractorConfig.default
  ): StreamingQuery = {
    val pages = spark.readStream
      .schema(ParquetTableIO.pageSchema)
      .option("maxFilesPerTrigger", "64")
      .parquet(pagesDir)
    val extracted = ExtractPipeline.extractExpr(
      ExtractPipeline.inputGate(pages).select("url", "warc_ts", "html"), cfg)
    // SAME part count as the batch job (the resume-unit contract is
    // shared — a divergent P here would corrupt batch resumes against
    // this table) and SAME output codec decisions (zstd, dictionary
    // off — see ParquetTableIO.append)
    ExtractPipeline.withPartId(extracted, graft.ExtractJob.DefaultLogicalParts)
      .drop("url_hash")
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .options(ParquetTableIO.WriteOptions)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** CLI: drain the pages dir once and exit (incremental backfill). */
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: graft.streaming.StreamingExtract <pagesDir> <outDir> <checkpointDir>")
      sys.exit(2)
    }
    val spark = GraftSession()
    val q = start(spark, args(0), args(1), args(2))
    q.awaitTermination()
    spark.stop()
  }
}
