package graft

import org.apache.spark.sql.SparkSession

import graft.ops.AnnIndex
import graft.pipeline.ParquetTableIO

/** Batch ANN serving — the request-side counterpart of
  * [[AnnIndexJob]]: one spark-submit answers a parquet batch of query
  * vectors (query_id BIGINT, q_emb ARRAY<FLOAT>) from a STORED index,
  * writing (query_id, neighbor_id, rank, sim_micro) parquet. The
  * index is never rebuilt or re-bucketed; geometry comes from the
  * index's own metadata (lsh_meta / codebook shape / sq_meta), so a
  * serve invocation cannot drift from its build. Null-embedding rows
  * are dropped at entry (the id simply gets no result rows); the
  * probe side is broadcast only under the bounded-batch guard, with a
  * shuffle-join fallback for LSH/PQ — SQ is broadcast-by-construction
  * and enforces the same ceiling, so chunk larger SQ batches.
  *
  * CLI: spark-submit --class graft.AnnServeJob app.jar \
  *        <indexDir> <embeddingsParquet> <queriesParquet> <outDir> [lsh|pq|sq|ivf|ivfpq] [k]
  * ("ivfpq" answers from the ivf + pq legs of one index dir — the
  * coarse probe prunes the ADC scan)
  */
object AnnServeJob {

  /** Serve one request batch from a stored index; returns
    * (nQueries, nResults). Library entry so specs drive it with the
    * shared test session; `main` only owns session lifecycle.
    */
  def run(spark: SparkSession, indexDir: String, embPath: String,
          queriesPath: String, outDir: String, kind: String = "lsh",
          k: Int = 5): (Long, Long) = {
    require(Set("lsh", "pq", "sq", "ivf", "ivfpq").contains(kind),
      s"unknown index kind: $kind")
    val emb = spark.read.parquet(embPath)
    val queries = spark.read.parquet(queriesPath)
    val nQueries = queries.count()
    val result = kind match {
      case "lsh" => AnnIndex.serveLshQueries(spark, emb, queries, indexDir, k)
      case "pq" => AnnIndex.servePqQueries(spark, emb, queries, indexDir, k)
      case "sq" => AnnIndex.serveSqQueries(spark, emb, queries, indexDir, k)
      case "ivf" => AnnIndex.serveIvfQueries(spark, emb, queries, indexDir, k)
      // composed serving: needs BOTH the ivf and pq legs in indexDir
      case "ivfpq" => AnnIndex.serveIvfPqQueries(spark, emb, queries, indexDir, k)
    }
    result.write.mode("overwrite").options(ParquetTableIO.WriteOptions)
      .parquet(outDir)
    (nQueries, spark.read.parquet(outDir).count())
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println(
        "usage: graft.AnnServeJob <indexDir> <embeddingsParquet> " +
          "<queriesParquet> <outDir> [lsh|pq|sq|ivf|ivfpq] [k]")
      sys.exit(2)
    }
    val kind = if (args.length > 4) args(4) else "lsh"
    val k = if (args.length > 5) args(5).toInt else 5
    val spark = GraftSession()
    val t0 = System.nanoTime()
    val (nQueries, nResults) =
      run(spark, args(0), args(1), args(2), args(3), kind, k)
    val sec = (System.nanoTime() - t0) / 1e9
    println(
      s"""{"index_dir":"${args(0)}","kind":"$kind","k":$k,""" +
      s""""n_queries":$nQueries,"n_results":$nResults,"serve_sec":$sec}""")
    spark.stop()
  }
}
