package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.Bpe

/** Corpus → tokenizer bridge: train BPE merges on an extracted-pages
  * table (url, text, ...), persist the merge table (the tokenizer
  * artifact that must travel with the corpus it tokenizes), and
  * report the corpus token mass under the trained tokenizer — the
  * number shard budgets and mixture math should be computed from.
  *
  * The lifecycle mirror of EmbedJob: extract → TRAIN-tokenizer →
  * token-count → (shard_pack / seq_pack consume the counts). One
  * census pass trains (ops.Bpe — the corpus-scale work is one
  * map-side-combined word census), one zero-shuffle pass counts.
  *
  * CLI: spark-submit --class graft.TokenizerJob app.jar <extractedPath> <mergesDir>
  */
object TokenizerJob {

  final case class TokenizerReport(
      nDocs: Long, nWords: Long, nBpeTokens: Long, nMerges: Int)

  def run(spark: SparkSession, extractedPath: String,
          mergesDir: String): TokenizerReport = {
    val docs = spark.read.parquet(extractedPath)
      .select(xxhash64(col("url")).as("doc_id"), col("text"))
    val merges = Bpe.trainMerges(Bpe.wordCensus(docs), Bpe.Merges)
    Bpe.saveMerges(spark, mergesDir, merges)
    val counts = Bpe.bpeTokenCountWith(spark, docs,
        merges.map { case (_, l, r, _, _) => (l, r) })
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"),
        sum(col("n_bpe_tokens")).as("n_toks"))
      .collect()(0)
    TokenizerReport(counts.getLong(0), counts.getLong(1), counts.getLong(2),
      merges.length)
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.TokenizerJob <extractedPath> <mergesDir>")
      sys.exit(2)
    }
    val spark = GraftSession()
    val r = run(spark, args(0), args(1))
    println(s"""{"job":"tokenizer","n_docs":${r.nDocs},"n_words":${r.nWords},""" +
      s""""n_bpe_tokens":${r.nBpeTokens},"n_merges":${r.nMerges}}""")
    spark.stop()
  }
}
