package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.GraftSession
import graft.ops.SearchIndex

/** Streaming lexical-index maintenance (SURVEY.md §2.10): curated doc
  * batches land as parquet in a directory continuously; each scheduled
  * `AvailableNow` drain picks up EXACTLY the files that arrived since
  * the last checkpoint (file-source exactly-once) and exact-appends
  * their postings to a stored [[SearchIndex]] — retrieval freshness
  * without rebuilds, the streaming complement of the per-drop
  * [[graft.IncrementalCurate]] lexIndexDir leg.
  *
  * Exactly-once EFFECT on the index despite foreachBatch's
  * at-least-once contract, with ONE commit point per batch: the
  * append's own _lexlog list carries the batch id as its mutation id
  * (see [[graft.pipeline.ManifestLog]]), so
  *  - a replay of a COMMITTED batch short-circuits on that list
  *    (ManifestLog.isCommitted) — Spark replays the last batch
  *    after a crash-before-checkpoint even though the sink ran it;
  *  - a replay of a batch that crashed MID-append finds no manifest,
  *    reconciles the partial postings away at entry, and re-appends
  *    exactly once;
  *  - a crash mid-FIRST-batch (the build) leaves no manifest either —
  *    build-vs-append keys off hasCommittedIndex, never dir existence,
  *    so the replay rebuilds over the partial dirs.
  * Spec-pinned: drains == fresh rebuild bit-identity, re-drain no-op,
  * and a forced duplicate delivery of the same batch id leaves the
  * index unchanged.
  *
  * Input schema: (doc_id BIGINT, text STRING) parquet — the admitted
  * shape IncrementalCurate stages; ids must be corpus-unique
  * (xxhash64(url_norm) — the engine convention), which is what makes
  * appends exact.
  */
object StreamingLexIndex {

  /** One micro-batch into the index: build-or-append under the batch
    * mutation id (a replayed committed batch short-circuits inside
    * [[SearchIndex.append]] on that id). Exposed for the
    * duplicate-delivery spec.
    */
  private[graft] def ingestBatch(spark: SparkSession, batch: DataFrame,
                                     batchId: Long, indexDir: String,
                                     withPositions: Boolean = false): Unit = {
    val mid = s"batch-$batchId"
    val docs = batch.select(col("doc_id").cast("long").as("doc_id"), col("text"))
    if (SearchIndex.hasCommittedIndex(spark, indexDir))
      // appends follow the STORED index's shape (a positional index
      // gets the batch's positions too) — the flag only steers the
      // first-batch build
      SearchIndex.append(spark, docs, indexDir, Some(mid))
    else if (docs.limit(1).count() > 0)
      SearchIndex.build(spark, docs, indexDir, Some(mid),
        withPositions = withPositions)
  }

  /** One deletion micro-batch: tombstone the batch's doc_ids under the
    * batch mutation id. Exactly-once effect for free: a committed
    * replay short-circuits on the manifest inside
    * [[SearchIndex.delete]]; a crash mid-delete leaves
    * its tombstone/meta files unlisted and [[SearchIndex.delete]]'s
    * entry reconcile rolls them back before the exact re-run; a
    * no-op batch (ids absent or already deleted) commits nothing and
    * replays harmlessly. Exposed for the duplicate-delivery spec.
    */
  private[graft] def deleteBatch(spark: SparkSession, batch: DataFrame,
                                 batchId: Long, indexDir: String): Unit =
    SearchIndex.delete(spark, batch.select(col("doc_id").cast("long").as("doc_id")),
      indexDir, Some(s"del-batch-$batchId"))

  /** Drain right-to-be-forgotten requests into the stored index:
    * deletion batches land as (doc_id BIGINT) parquet in `deletesDir`;
    * each scheduled drain tombstones exactly the newly-arrived ids
    * (see [[deleteBatch]]). Physical removal rides the next
    * SearchIndex.compact. The index must already have a committed
    * build (deletes against nothing fail loud).
    */
  def startDeletes(
      spark: SparkSession,
      deletesDir: String,
      indexDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 8
  ): StreamingQuery =
    drain(spark, deletesDir, "doc_id BIGINT", checkpointDir, maxFilesPerTrigger)(
      deleteBatch(spark, _, _, indexDir))

  /** @param withPositions build the FIRST batch's index with the
    *   positional artifact (exact-phrase serving); subsequent batches
    *   follow the stored shape regardless of this flag, so a restarted
    *   drain cannot fork the index's geometry.
    */
  def start(
      spark: SparkSession,
      docsDir: String,
      indexDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 8,
      withPositions: Boolean = false
  ): StreamingQuery =
    drain(spark, docsDir, "doc_id BIGINT, text STRING", checkpointDir, maxFilesPerTrigger)(
      ingestBatch(spark, _, _, indexDir, withPositions))

  /** One `AvailableNow` drain of the parquet landing dir `dir` (schema
    * `ddl`): each micro-batch goes to `f` with its batch id; the
    * checkpoint makes the file source exactly-once. Shared with
    * [[StreamingAnnIndex]].
    */
  private[streaming] def drain(spark: SparkSession, dir: String, ddl: String,
                               checkpointDir: String, maxFilesPerTrigger: Int)(
      f: (DataFrame, Long) => Unit): StreamingQuery =
    spark.readStream.schema(ddl)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(dir)
      .writeStream
      .foreachBatch(f)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** CLI: drain the landing dir once and exit (run from a scheduler). */
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(
        "usage: graft.streaming.StreamingLexIndex <docsDir> <indexDir> <checkpointDir>")
      sys.exit(2)
    }
    val spark = GraftSession()
    start(spark, args(0), args(1), args(2)).awaitTermination()
    println(s"""{"indexed_docs":${SearchIndex.indexedDocs(spark, args(1))}}""")
    spark.stop()
  }
}
