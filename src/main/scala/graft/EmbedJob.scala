package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.ParquetTableIO

/** Corpus → embeddings bridge: turn an extracted-pages table
  * (url, text, ...) into the engine's embeddings shape
  * (vec_id, embedding ARRAY<FLOAT>, label) so AnnIndexJob can index
  * the corpus the pipeline just extracted — the missing link in the
  * extraction → embedding → index → serve lifecycle.
  *
  * The FEATURE function is the honest deterministic stub
  * (Multimodal.featureStub over the UTF-8 text bytes — no embedding
  * model ships in this container, same convention as mm_embed); the
  * job's plumbing is the real shape: vec_id = xxhash64(url) so ids
  * survive re-runs and joins back to the corpus, one row-local map
  * (no shuffle), hash-repartitioned parquet write. A real model swaps
  * in a batched encoder inside the same mapPartitions; nothing else
  * changes.
  *
  * CLI: spark-submit --class graft.EmbedJob app.jar <extractedPath> <embDir>
  */
object EmbedJob {

  val Dim = 64

  /** THE embedding kernel: (vec_id, text) → (vec_id, embedding, label),
    * one row-local map, no shuffle. Shared by the batch job and the
    * incremental-curation ANN-freshness leg, so a drop's appended
    * vectors are bit-identical to what a batch re-embed would produce.
    * A real model swaps in a batched encoder inside the same
    * mapPartitions; nothing else changes.
    */
  def embedDocs(spark: SparkSession,
                keyed: DataFrame): DataFrame = {
    import spark.implicits._
    keyed
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val payload =
            if (text == null) Array.empty[Byte]
            else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val feats = graft.ops.Multimodal.featureStub(payload, Dim)
          // milli-exact floats: v in [0,1000) → v/1000 ∈ [0,1); the
          // index kernels floor(x·1000) back to the same integers
          (id, feats.map(_ / 1000.0f), (feats(0) % 16L).toInt)
        }
      }
      .toDF("vec_id", "embedding", "label")
  }

  /** @param normalizeUrls key vectors by xxhash64(url_norm) instead of
    *   xxhash64(url) — the id convention CurateJob's doc_id uses, so
    *   the output feeds straight into the funnel's optional semantic
    *   dedup leg (`CurateJob.run(embeddings = …)`). Off by default
    *   (the raw-url keying matches AnnIndexJob-era outputs).
    */
  def run(spark: SparkSession, extractedPath: String, embDir: String,
          numParts: Int = 32, normalizeUrls: Boolean = false): Long = {
    import spark.implicits._
    val src = spark.read.parquet(extractedPath)
    val keyed =
      if (normalizeUrls) {
        // one vector per url_norm, deterministic keep (lexicographic
        // min text sha — the same revisit rule as CurateJob's url
        // dedup, so ids AND the chosen text line up with the funnel)
        import org.apache.spark.sql.expressions.Window
        graft.ops.TextOps.withUrlNorm(src.withColumnRenamed("url", "url_messy"))
          .select(xxhash64(col("url_norm")).as("vec_id"), col("text"))
          .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
            Window.partitionBy(col("vec_id")).orderBy(sha2(col("text"), 256))))
          .filter(col("rn") === 1).drop("rn")
      } else src.select(xxhash64(col("url")).as("vec_id"), col("text"))
    embedDocs(spark, keyed)
      .repartition(numParts, col("vec_id"))
      .write.mode(SaveMode.Overwrite).options(ParquetTableIO.WriteOptions)
      .parquet(embDir)
    spark.read.parquet(embDir).count()
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.EmbedJob <extractedPath> <embDir>")
      sys.exit(2)
    }
    val spark = GraftSession()
    val n = run(spark, args(0), args(1))
    println(s"""{"vectors":$n,"dim":$Dim}""")
    spark.stop()
  }
}
