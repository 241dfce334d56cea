package graft

import graft.ops.AnnIndex

/** Offline ANN index build — the production entry point for the
  * build/serve split (ops/AnnIndex): one spark-submit materializes the
  * LSH bucket relation and/or the PQ codebook+codes from an embeddings
  * parquet (vec_id, embedding ARRAY<FLOAT>, ...), so serving jobs
  * (AnnIndex.serveLsh / servePq) only ever pay the probe join and the
  * shortlist re-rank. Rebuilds are idempotent at the overwrite level —
  * rerunning after a crash just rewrites the same artifacts.
  *
  * CLI: spark-submit --class graft.AnnIndexJob app.jar \
  *        <embeddingsParquet> <indexDir> [lsh|pq|sq|ivf|both|all|delete]
  * ("both" = lsh+pq, kept for compatibility; "all" adds SQ8 and IVF;
  * "delete" reads <embeddingsParquet> as a victim relation with a
  * vec_id column — tombstone append across every committed leg,
  * physically applied by the next compact)
  */
object AnnIndexJob {

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: graft.AnnIndexJob <embeddingsParquet> <indexDir> [lsh|pq|sq|ivf|both|all|delete]")
      sys.exit(2)
    }
    val what = if (args.length > 2) args(2) else "both"
    require(Set("lsh", "pq", "sq", "ivf", "both", "all", "delete").contains(what),
      s"unknown index kind: $what")
    val spark = GraftSession()
    val emb = spark.read.parquet(args(0))
    val t0 = System.nanoTime()
    if (what == "delete") {
      val n = AnnIndex.delete(spark, emb, args(1))
      val sec = (System.nanoTime() - t0) / 1e9
      println(
        s"""{"index_dir":"${args(1)}","kind":"delete","n_deleted":$n,"sec":$sec}""")
      spark.stop()
      return
    }
    if (what == "lsh" || what == "both" || what == "all")
      AnnIndex.buildLsh(spark, emb, args(1))
    val tLsh = (System.nanoTime() - t0) / 1e9
    if (what == "pq" || what == "both" || what == "all")
      AnnIndex.buildPq(spark, emb, args(1))
    if (what == "sq" || what == "all") AnnIndex.buildSq(spark, emb, args(1))
    if (what == "ivf" || what == "all") AnnIndex.buildIvf(spark, emb, args(1))
    val tAll = (System.nanoTime() - t0) / 1e9
    val nVecs = emb.count()
    println(
      s"""{"index_dir":"${args(1)}","kind":"$what","n_vectors":$nVecs,""" +
      s""""lsh_build_sec":$tLsh,"total_build_sec":$tAll}""")
    spark.stop()
  }
}
