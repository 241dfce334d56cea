package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.GraftSession
import graft.ops.AnnIndex

/** Streaming ANN-index maintenance (SURVEY.md §2.10): the vector twin
  * of [[StreamingLexIndex]], over the SAME landing shape — curated
  * (doc_id, text) batches land as parquet continuously, each scheduled
  * `AvailableNow` drain picks up exactly the files that arrived since
  * the last checkpoint (file-source exactly-once), embeds them through
  * the ONE shared kernel (graft.EmbedJob.embedDocs, so streamed
  * vectors are bit-identical to a batch re-embed) and appends them to
  * every committed leg of a stored [[AnnIndex]] — similarity-serving
  * freshness without rebuilds. One staged landing zone can feed BOTH
  * index maintainers.
  *
  * Exactly-once EFFECT per batch and per leg, by [[StreamingLexIndex]]'s
  * protocol: each leg's `_annlog` list carries the batch's mutation id,
  * so a committed replay short-circuits, a crashed one is reconciled
  * away and re-appended once, and a crashed first build (no list) is
  * rebuilt.
  */
object StreamingAnnIndex {

  /** One micro-batch into the index through [[AnnIndex.appendEveryLeg]]
    * under the batch mutation id `batch-<id>` (the LSH leg keeps the
    * original id, so pre-multi-leg checkpoints replay correctly; the
    * other legs commit under `batch-<id>-pq` etc.): every committed leg
    * gets the batch, exactly once per leg; an index with no committed
    * leg bootstraps as an LSH build over the batch. Exposed for the
    * duplicate-delivery spec.
    */
  private[graft] def ingestBatch(spark: SparkSession, batch: DataFrame,
                                 batchId: Long, indexDir: String): Unit = {
    val emb = graft.EmbedJob.embedDocs(spark,
      batch.select(col("doc_id").cast("long").as("doc_id"), col("text")))
    AnnIndex.appendEveryLeg(spark, emb, indexDir, Some(s"batch-$batchId"))(emb)
  }

  def start(
      spark: SparkSession,
      docsDir: String,
      indexDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 8
  ): StreamingQuery =
    StreamingLexIndex.drain(spark, docsDir, "doc_id BIGINT, text STRING", checkpointDir,
      maxFilesPerTrigger)(ingestBatch(spark, _, _, indexDir))

  /** CLI: drain the landing dir once and exit (run from a scheduler). */
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(
        "usage: graft.streaming.StreamingAnnIndex <docsDir> <indexDir> <checkpointDir>")
      sys.exit(2)
    }
    val spark = GraftSession()
    start(spark, args(0), args(1), args(2)).awaitTermination()
    println(s"""{"indexed_vectors":${AnnIndex.indexedVectors(spark, args(1))}}""")
    spark.stop()
  }
}
