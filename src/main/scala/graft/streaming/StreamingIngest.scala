package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.GraftSession
import graft.pipeline.ParquetTableIO

/** Streaming WARC landing-zone drain (SURVEY.md §2.10): crawlers drop
  * `.warc/.warc.gz` files into a directory continuously; each
  * scheduled `AvailableNow` drain picks up EXACTLY the files that
  * arrived since the last checkpoint (file-source exactly-once), record
  * splits them and appends pages — the streaming complement of the
  * batch [[graft.IngestJob]] backfill.
  *
  * Memory shape — the same path-listing discipline as the batch job:
  * the file source contributes ONLY `path` rows to the micro-batch
  * (the binaryFile format prunes the content column out of the scan —
  * the file bytes never ride a DataFrame row, so a multi-GB WARC
  * member costs nothing here and the 2 GB BinaryType ceiling does not
  * apply); each task opens its own FS stream via
  * [[graft.IngestJob.recordsForPath]] and drains the LAZY record
  * iterator — per-task heap is O(one decompressed record). Tasks use
  * the driver's broadcast Hadoop configuration, close streams on task
  * completion, and skip unopenable files (a landing zone can lose a
  * file between listing and open).
  */
object StreamingIngest {

  def start(
      spark: SparkSession,
      warcDir: String,
      pagesDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 8
  ): StreamingQuery = {
    import spark.implicits._
    // the binaryFile source's FIXED schema — streaming file sources
    // require it explicitly (no inference pass over the landing dir).
    // Only `path` is ever selected; the format prunes `content` from
    // the scan, so declaring it costs nothing.
    val binaryFileSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType)))
    val files = spark.readStream
      .format("binaryFile")
      .schema(binaryFileSchema)
      .option("pathGlobFilter", "*.warc*")
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .load(warcDir)
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    files.select(col("path")).as[String]
      .flatMap(p => graft.IngestJob.recordsForPath(confBc.value.value, p))
      .map { case (url, epoch, body) =>
        (url, new java.sql.Timestamp(epoch * 1000L), body)
      }
      .toDF("url", "warc_ts", "html")
      .writeStream
      .format("parquet")
      .option("path", pagesDir)
      .options(ParquetTableIO.WriteOptions)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** CLI: drain the landing dir once and exit (run from a scheduler). */
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(
        "usage: graft.streaming.StreamingIngest <warcDir> <pagesDir> <checkpointDir>")
      sys.exit(2)
    }
    val spark = GraftSession()
    start(spark, args(0), args(1), args(2)).awaitTermination()
    val n = spark.read.parquet(args(1)).count()
    println(s"""{"pages_total":$n}""")
    spark.stop()
  }
}
