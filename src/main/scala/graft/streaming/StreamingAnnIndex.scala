package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.GraftSession
import graft.ops.AnnIndex

/** Streaming ANN-index maintenance (SURVEY.md §2.10): the vector twin
  * of [[StreamingLexIndex]], over the SAME landing shape — curated
  * (doc_id, text) batches land as parquet continuously, each scheduled
  * `AvailableNow` drain picks up exactly the files that arrived since
  * the last checkpoint (file-source exactly-once), embeds them through
  * the ONE shared kernel (graft.EmbedJob.embedDocs, so streamed
  * vectors are bit-identical to a batch re-embed) and exact-appends
  * their LSH buckets to a stored [[AnnIndex]] — similarity-serving
  * freshness without rebuilds. One staged landing zone can feed BOTH
  * index maintainers.
  *
  * Exactly-once EFFECT on the index despite foreachBatch's
  * at-least-once contract, with ONE commit point per batch: the
  * append's own _annlog list carries the batch id as its mutation id
  * (see [[graft.pipeline.ManifestLog]]), so
  *  - a replay of a COMMITTED batch short-circuits on that list
  *    (ManifestLog.isCommitted);
  *  - a replay of a batch that crashed MID-append finds no manifest,
  *    reconciles the partial bucket files away at entry, and
  *    re-appends exactly once (readers never saw the debris anyway —
  *    they read only committed files);
  *  - a crash mid-FIRST-batch (the build) leaves no manifest either —
  *    build-vs-append keys off hasCommittedIndex, never dir existence,
  *    so the replay rebuilds over the partial dirs.
  */
object StreamingAnnIndex {

  /** One micro-batch into the index: every leg the stored index has
    * COMMITTED (lsh/pq/sq/ivf) gets this batch appended under its own
    * per-leg mutation id (`batch-<id>` for lsh — the original id, so
    * pre-multi-leg checkpoints replay correctly — `batch-<id>-pq` etc.
    * for the rest). Per-leg ids make a crash BETWEEN leg appends safe:
    * the replay short-circuits the committed legs on their manifests
    * and re-appends only the missing ones — exactly-once EFFECT per
    * leg, not just per batch. Quantized legs (pq/sq/ivf) append under
    * their FROZEN geometry, so their staleness counters are the
    * retrain signal, exactly as with batch appends. An index with no
    * committed leg at all bootstraps as an LSH build. Exposed for the
    * duplicate-delivery spec.
    */
  private[graft] def ingestBatch(spark: SparkSession, batch: DataFrame,
                                 batchId: Long, indexDir: String): Unit = {
    val emb = graft.EmbedJob.embedDocs(spark,
      batch.select(col("doc_id").cast("long").as("doc_id"), col("text")))
    val legMid: Map[String, String] = Map(
      "lsh" -> s"batch-$batchId", "pq" -> s"batch-$batchId-pq",
      "sq" -> s"batch-$batchId-sq", "ivf" -> s"batch-$batchId-ivf")
    val present = Seq("lsh", "pq", "sq", "ivf")
      .filter(AnnIndex.hasCommittedIndex(spark, indexDir, _))
    if (present.isEmpty) {
      val mid = legMid("lsh")
      if (AnnIndex.log(spark, indexDir).isCommitted(mid)) return
      if (emb.limit(1).count() > 0)
        AnnIndex.buildLsh(spark, emb, indexDir, mutationId = Some(mid))
    } else present.foreach {
      case "lsh" => AnnIndex.appendLsh(spark, emb, indexDir, Some(legMid("lsh")))
      case "pq" => AnnIndex.appendPq(spark, emb, indexDir, Some(legMid("pq")))
      case "sq" => AnnIndex.appendSq(spark, emb, indexDir, Some(legMid("sq")))
      case "ivf" => AnnIndex.appendIvf(spark, emb, indexDir, Some(legMid("ivf")))
    }
  }

  def start(
      spark: SparkSession,
      docsDir: String,
      indexDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 8
  ): StreamingQuery = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(docsDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(spark, batch, batchId, indexDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

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
