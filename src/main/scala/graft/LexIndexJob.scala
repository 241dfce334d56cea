package graft

import graft.ops.SearchIndex

/** Offline lexical-index maintenance — the production entry point for
  * the BM25 build/serve split (ops/SearchIndex): one spark-submit
  * builds (or appends a daily drop to, or compacts) the postings +
  * stats artifacts from a (doc_id BIGINT, text STRING) parquet, so
  * serving jobs ([[LexServeJob]]) only ever pay the postings probe.
  * For the extracted corpus, derive the input as
  * `SELECT xxhash64(url) AS doc_id, text FROM pages_extracted` — the
  * same id convention EmbedJob uses for the ANN leg.
  *
  * CLI: spark-submit --class graft.LexIndexJob app.jar \
  *        <docsParquet> <indexDir> [build|build-positions|append|compact|delete]
  * (compact ignores <docsParquet> but the slot is still required;
  * build-positions additionally materializes the positional artifact
  * for exact-phrase serving — appends then follow the stored shape
  * automatically; delete reads <docsParquet> as a victim relation
  * with a doc_id column — tombstone append, physically applied by the
  * next compact)
  */
object LexIndexJob {

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: graft.LexIndexJob <docsParquet> <indexDir> " +
          "[build|build-positions|append|compact|delete]")
      sys.exit(2)
    }
    val what = if (args.length > 2) args(2) else "build"
    require(
      Set("build", "build-positions", "append", "compact", "delete").contains(what),
      s"unknown action: $what")
    val spark = GraftSession()
    val t0 = System.nanoTime()
    val extra = what match {
      case "build" | "build-positions" =>
        val docs = spark.read.parquet(args(0))
        SearchIndex.build(spark, docs, args(1),
          withPositions = what == "build-positions")
        s""""n_docs":${docs.count()}"""
      case "append" =>
        val docs = spark.read.parquet(args(0))
        SearchIndex.append(spark, docs, args(1))
        s""""n_docs":${docs.count()}"""
      case "compact" =>
        val r = SearchIndex.compact(spark, args(1))
        s""""files_before":${r.filesBefore},"files_after":${r.filesAfter}"""
      case "delete" =>
        val n = SearchIndex.delete(spark, spark.read.parquet(args(0)), args(1))
        s""""n_deleted":$n"""
    }
    val sec = (System.nanoTime() - t0) / 1e9
    println(
      s"""{"index_dir":"${args(1)}","action":"$what",$extra,"sec":$sec}""")
    spark.stop()
  }
}
