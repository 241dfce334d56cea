package graft

import org.apache.spark.sql.SparkSession

import graft.ops.SearchIndex

/** Batch lexical serving — the request-side counterpart of
  * [[LexIndexJob]]: one spark-submit answers a parquet batch of query
  * terms (query_id BIGINT, term STRING — one row per query term) from
  * a STORED inverted index, writing (query_id, rank, doc_id,
  * score_micro) parquet. The corpus is never rescanned; corpus stats
  * come from the index's own lex_meta, so a serve invocation cannot
  * drift from its build. Null-term rows are dropped at entry; small
  * batches push a literal term IN predicate into the postings scan
  * (row-group pruning), larger bounded batches gate via broadcast
  * semi-join, unbounded ones fall back to shuffle joins — identical
  * results on every path.
  *
  * CLI: spark-submit --class graft.LexServeJob app.jar \
  *        <indexDir> <queriesParquet> <outDir> [k]
  */
object LexServeJob {

  /** Serve one request batch from a stored index; returns
    * (nQueries, nResults). Library entry so specs drive it with the
    * shared test session; `main` only owns session lifecycle.
    */
  def run(spark: SparkSession, indexDir: String, queriesPath: String,
          outDir: String, k: Int = 10): (Long, Long) = {
    val queries = spark.read.parquet(queriesPath)
    val nQueries = queries.select("query_id").distinct().count()
    SearchIndex.serve(spark, indexDir, queries, k)
      .write.mode("overwrite")
      .option("compression", "zstd")
      .parquet(outDir)
    (nQueries, spark.read.parquet(outDir).count())
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(
        "usage: graft.LexServeJob <indexDir> <queriesParquet> <outDir> [k]")
      sys.exit(2)
    }
    val k = if (args.length > 3) args(3).toInt else 10
    val spark = GraftSession()
    val t0 = System.nanoTime()
    val (nQueries, nResults) = run(spark, args(0), args(1), args(2), k)
    val sec = (System.nanoTime() - t0) / 1e9
    println(
      s"""{"index_dir":"${args(0)}","k":$k,"n_queries":$nQueries,""" +
      s""""n_results":$nResults,"serve_sec":$sec}""")
    spark.stop()
  }
}
