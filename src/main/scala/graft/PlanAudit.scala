package graft

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.extract.ExtractorConfig
import graft.pipeline.ExtractPipeline

/** Dev tool: dump `explain(formatted)` for the plans that matter at
  * 100 TB — the production pipeline and the most expensive operators.
  * Curated excerpts + commentary live in PLANS.md; re-run this after
  * touching any of them and re-check the properties listed there.
  */
object PlanAudit {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession("local[4]")

    val which = if (args.isEmpty) Set.empty[String] else args.toSet
    def dump(name: String)(df: => org.apache.spark.sql.DataFrame): Unit =
      if (which.isEmpty || which(name)) {
        println(s"\n===== $name =====")
        println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      }

    // the production write path (scan → gate → extract expression →
    // ONE exchange dedup+cluster), exactly as ExtractJob plans it
    dump("production_pipeline") {
      val pages = Queries.pages(spark, sfDir).toDF()
      ExtractPipeline.dedupAndCluster(
        ExtractPipeline.withPartId(
          ExtractPipeline.extractExpr(
            ExtractPipeline.inputGate(pages)
              .select(col("url"), col("warc_ts"), col("html")),
            ExtractorConfig.spaceJoined), 256), 8)
    }
    dump("dedup_minhash")(Queries.dedupMinhash(spark, sfDir))
    dump("shard_pack")(Queries.shardPack(spark, sfDir))
    dump("strat_sample")(Queries.stratSample(spark, sfDir))
    dump("ann_cosine")(Queries.annCosine(spark, sfDir))
    dump("salted_join")(Queries.saltedJoin(spark, sfDir))
    dump("rep_ratio")(Queries.repRatio(spark, sfDir))
    dump("ann_lsh_serve")(Queries.annLshServe(spark, sfDir))
    dump("quality_train")(Queries.qualityTrainQ(spark, sfDir))
    // the real-host authority last mile exactly as CurateJob composes
    // it: parsed doc hosts joined to link-graph tiers, then the
    // deterministic hash sample under the per-tier rate
    dump("authority_tier_join") {
      import spark.implicits._
      graft.functions.GraftExtensions.register(spark)
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"),
          concat(lit("https://h"), pmod(col("doc_id"), lit(97L)).cast("string"),
            lit(".example/p/"), col("doc_id").cast("string")).as("url_norm"))
      val edges = (0L until 96L).map(i => (s"h$i.example", s"h${i + 1}.example"))
        .toDF("src", "dst")
      val host = graft.ops.TextOps.hostOf("url_norm")
      val universe = docs.select(host.as("host"))
        .unionByName(edges.select(col("src").as("host")))
        .unionByName(edges.select(col("dst").as("host")))
      val tiers = graft.ops.GraphOps.tiersOf(
        graft.ops.GraphOps.hostRankEdges(spark, edges, nodes = Some(universe)), 3)
      val rates = Seq(1000L, 500L, 100L)
      val tierRates = tiers.select(col("host"),
        element_at(array(rates.map(lit): _*), col("tier").cast("int")).as("tier_permille"))
      val sampleKey = graft.ops.TextOps.unsignedMod1000(
        graft.ops.TextOps.splitmixCol(col("doc_id").bitwiseXOR(lit(graft.ops.TextOps.SampleSeed))))
      docs.withColumn("host", host)
        .join(tierRates, Seq("host"))
        .filter(sampleKey < col("tier_permille"))
        .drop("host", "tier_permille")
    }
    // lexical serve from a stored inverted index: the postings scan
    // must carry the literal In(term,...) pushed filter
    val lexPlanDir = java.nio.file.Files.createTempDirectory("plan-lex").toString
    dump("bm25_serve") {
      val docs = graft.ops.TextOps.readDocs(spark, sfDir)
      graft.ops.SearchIndex.build(spark, docs, lexPlanDir)
      graft.ops.SearchIndex.serve(spark, lexPlanDir, Queries.bm25QueryTerms(docs))
    }
    Queries.deleteDir(lexPlanDir)
    val ivfPqPlanDir =
      java.nio.file.Files.createTempDirectory("graft-plan-ivfpq").toString
    dump("ann_ivfpq_serve") {
      val emb = graft.ops.VectorOps.readEmbeddings(spark, sfDir)
      graft.ops.AnnIndex.buildIvf(spark, emb, ivfPqPlanDir)
      graft.ops.AnnIndex.buildPq(spark, emb, ivfPqPlanDir)
      graft.ops.AnnIndex.serveIvfPq(spark, emb, ivfPqPlanDir)
    }
    Queries.deleteDir(ivfPqPlanDir)
    spark.stop()
  }
}
