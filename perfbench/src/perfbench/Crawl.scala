package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.ExtractJob
import graft.extract.{Assembler, ExtractorConfig, GoldenExtractor, HtmlTokenizer, PageLite, Scorer}
import graft.pipeline.{ExtractPipeline, ParquetTableIO}

/** A generated crawl corpus and the reference its outputs are checked
  * against. The reference comes from the generator and from
  * GoldenExtractor run single-threaded on the driver, never from the
  * Spark path under test.
  */
final case class Corpus(
    dir: String, seed: Long, pages: Int, wordScale: Int, recrawlEvery: Int,
    rows: Long, htmlBytes: Long, fileBytes: Long,
    digest: Long, tsDigest: Long, nestedDigest: Long, nestedMismatches: Int)

object Crawl {

  val Cfg: ExtractorConfig = ExtractorConfig.default

  /** Spark's xxhash64(a, b): the seed chains through the columns. */
  def hash2(url: String, text: String): Long =
    XxHash64Function.hash(UTF8String.fromString(text), StringType,
      XxHash64Function.hash(UTF8String.fromString(url), StringType, 42L))

  def hashTs(url: String, tsSec: Long): Long =
    XxHash64Function.hash(tsSec * 1000000L, TimestampType,
      XxHash64Function.hash(UTF8String.fromString(url), StringType, 42L))

  def generate(spark: SparkSession, dir: String, seed: Long, pages: Int,
               wordScale: Int, recrawlEvery: Int): Corpus = {
    import spark.implicits._
    spark.range(0L, pages.toLong, 1L, 8).as[Long]
      .flatMap(id => Gen.snapshots(seed, id, wordScale, recrawlEvery)
        .map(p => (p.url, new Timestamp(p.tsSec * 1000L), p.html, p.text, p.lang)))
      .toDF("url", "warc_ts", "html", "text", "lang")
      .write.mode("overwrite").parquet(dir)
    var rows, htmlBytes, digest, tsDigest, nestedDigest = 0L
    var mismatches = 0
    var id = 0L
    while (id < pages) {
      val snaps = Gen.snapshots(seed, id, wordScale, recrawlEvery)
      rows += snaps.size
      snaps.foreach(htmlBytes += _.html.length)
      val p = snaps.maxBy(_.tsSec)
      val text = GoldenExtractor.extractPage(
        PageLite(p.url, new Timestamp(p.tsSec * 1000L), p.html), Cfg).text
      digest ^= hash2(p.url, text)
      tsDigest ^= hashTs(p.url, p.tsSec)
      if (p.cls == 0) {
        nestedDigest ^= hash2(p.url, p.content)
        if (text != p.content) mismatches += 1
      }
      id += 1
    }
    Corpus(dir, seed, pages, wordScale, recrawlEvery, rows, htmlBytes,
      Files.dataBytes(dir), digest, tsDigest, nestedDigest, mismatches)
  }

  /** Checks one ExtractJob output against the reference: one row per
    * url, the newest snapshot of each, the (url, text) digest of the
    * golden extractor, and for nested pages the generator's own text.
    */
  def check(spark: SparkSession, c: Corpus, outDir: String, reportedRows: Long,
            corruptDigest: Boolean): Option[String] = {
    val out = spark.read.parquet(s"$outDir/pages_extracted")
    val h = xxhash64(col("url"), col("text"))
    val r = out.agg(count(lit(1)), countDistinct(col("url")), bit_xor(h),
      bit_xor(xxhash64(col("url"), col("warc_ts"))),
      bit_xor(when(col("url").contains(".example/n/"), h).otherwise(0L))).head()
    val want = if (corruptDigest) c.digest ^ 1L else c.digest
    if (c.nestedMismatches > 0) Some(s"golden text differs from generated text on ${c.nestedMismatches} nested pages")
    else if (r.getLong(0) != c.pages) Some(s"rows ${r.getLong(0)} != urls ${c.pages}")
    else if (r.getLong(1) != c.pages) Some(s"distinct urls ${r.getLong(1)} != ${c.pages}")
    else if (reportedRows != c.pages) Some(s"job reported $reportedRows rows, want ${c.pages}")
    else if (r.getLong(3) != c.tsDigest) Some("an older snapshot won over the newest")
    else if (r.getLong(4) != c.nestedDigest) Some("nested-page text differs from the generated text")
    else if (r.getLong(2) != want) Some(f"digest ${r.getLong(2)}%016x != reference $want%016x")
    else None
  }

  final case class Run(wallS: Double, rows: Long, outBytes: Long, error: Option[String])

  /** One closed-loop iteration: ExtractJob.run into a fresh output dir,
    * then the output check, then the dir is removed.
    */
  def runOnce(spark: SparkSession, c: Corpus, outDir: String, tracer: Option[Tracer] = None,
              corruptDigest: Boolean = false): Run = {
    Files.delete(outDir)
    try {
      val t0 = System.nanoTime()
      val (rows, _) = tracer match {
        case Some(t) => t.span("ExtractJob.run")(ExtractJob.run(spark, c.dir, outDir))
        case None => ExtractJob.run(spark, c.dir, outDir)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val err = check(spark, c, outDir, rows, corruptDigest)
      Run(wall, rows, Files.dataBytes(outDir), err)
    } catch {
      case e: Exception => Run(0.0, 0L, 0L, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    } finally Files.delete(outDir)
  }

  // ------------------------------------------------------------ layers

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Single-threaded kernel on an in-memory sample of the corpus's
    * pages: tokenize, score and assemble timed separately.
    */
  def kernel(c: Corpus, sample: Int, tracer: Tracer, minSeconds: Double): Map[String, Double] = {
    val docs = (0L until math.min(sample, c.pages).toLong).map { id =>
      val p = Gen.snapshots(c.seed, id, c.wordScale, c.recrawlEvery).maxBy(_.tsSec)
      (p.url, p.html)
    }.toArray
    val bytes = docs.map(_._2.length.toLong).sum
    var tTok, tScore, tAsm = 0L
    var n = 0L
    var passes = 0
    def pass(timed: Boolean): Unit = docs.foreach { case (url, html) =>
      val a = System.nanoTime()
      val blocks = HtmlTokenizer.tokenize(html, Cfg)
      val b = System.nanoTime()
      val scored = Scorer.score(url, blocks)
      val d = System.nanoTime()
      Assembler.assembleColumnar(scored, Cfg)
      val e = System.nanoTime()
      if (timed) { tTok += b - a; tScore += d - b; tAsm += e - d; n += 1 }
    }
    tracer.span("kernel") {
      pass(timed = false)
      while (passes == 0 || (tTok + tScore + tAsm) / 1e9 < minSeconds) { pass(timed = true); passes += 1 }
      tracer.aggregate("HtmlTokenizer.tokenize", tTok / 1e9, n)
      tracer.aggregate("Scorer.score", tScore / 1e9, n)
      tracer.aggregate("Assembler.assembleColumnar", tAsm / 1e9, n)
    }
    val total = (tTok + tScore + tAsm) / 1e9
    Map(
      "extract.tokenize_us_per_doc" -> tTok / 1e3 / n,
      "extract.score_us_per_doc" -> tScore / 1e3 / n,
      "extract.assemble_us_per_doc" -> tAsm / 1e3 / n,
      "extract.kernel_mb_per_s_core" -> bytes * passes / 1e6 / total,
      "kernel_docs_per_s_core" -> n / total)
  }

  private def median(xs: Seq[Double]): Double = Stats.median(xs)

  /** Per-layer attribution of ExtractJob.run on corpus `c`: prefix runs
    * of the same plan into a noop sink (scan+gate, + extract_page,
    * + the dedup/cluster exchange), then + the write; each layer's self
    * time is the difference of consecutive prefix medians. The commit
    * layer times the calls ExtractJob.run makes around its write.
    */
  def layers(spark: SparkSession, tracer: Tracer, c: Corpus, work: String,
             cores: Int, kernelSample: Int, kernelSeconds: Double, reps: Int): Map[String, Double] = {
    val k = kernel(c, kernelSample, tracer, kernelSeconds)
    val parts = ExtractJob.DefaultLogicalParts
    val p1, p2, p3, p4, commit = scala.collection.mutable.ArrayBuffer.empty[Double]
    var exchange: SparkStats = null
    var writeMb, writeFiles = 0.0
    def prefix(name: String, into: scala.collection.mutable.ArrayBuffer[Double])(f: => Unit): Span = {
      tracer.span(name)(f)
      val s = tracer.spans.filter(_.name == name).last
      into += s.seconds
      s
    }
    // the plan ExtractJob.run builds on a fresh output dir: gate, then
    // the resume anti-join against the (empty) committed-part set
    def plan() = {
      import spark.implicits._
      val pages = tracer.span("ParquetTableIO.readPages")(ParquetTableIO.readPages(spark, c.dir))
      val gated = tracer.span("ExtractPipeline.inputGate")(ExtractPipeline.inputGate(pages))
      ExtractPipeline.withPartId(gated, parts)
        .join(broadcast(Seq.empty[Int].toDF("part_id")), Seq("part_id"), "left_anti")
        .select("url", "warc_ts", "html")
    }
    def extracted() = {
      val gated = plan()
      tracer.span("ExtractPipeline.extractExpr")(ExtractPipeline.extractExpr(gated, Cfg))
    }
    def clustered() = {
      val ex = extracted()
      tracer.span("ExtractPipeline.dedupAndCluster")(ExtractPipeline.dedupAndCluster(
        ExtractPipeline.withPartId(ex, parts), spark.sparkContext.defaultParallelism * 2))
    }
    (0 until reps).foreach { _ =>
      prefix("prefix.scan_gate", p1)(noop(plan()))
      prefix("prefix.extract", p2)(noop(extracted()))
      exchange = tracer.stats(prefix("prefix.exchange", p3)(noop(clustered())))
      val out = s"$work/prefix_out"
      val outPath = s"$out/pages_extracted"
      val ckptPath = s"$out/checkpoint_metrics"
      Files.delete(out)
      import spark.implicits._
      val before = tracer.span("commit.before") {
        ParquetTableIO.reconcileOrphanFiles(spark, outPath)
        ParquetTableIO.readOrEmpty(spark, ckptPath, ParquetTableIO.checkpointSchema)
          .select("part_id").distinct().as[Int].collect()
        ParquetTableIO.readOrEmpty(spark, outPath, ExtractJob.outputSchema)
          .select("part_id").distinct().as[Int].collect()
        ParquetTableIO.snapshotId(spark, c.dir)
      }
      val handle = tracer.span("prefix.write")(tracer.span("ParquetTableIO.appendCommit")(
        ParquetTableIO.appendCommit(clustered().drop("url_hash"), outPath)))
      p4 += tracer.spans.filter(_.name == "prefix.write").last.seconds
      tracer.span("commit.after") {
        val back = tracer.span("ParquetTableIO.readCommit")(ParquetTableIO.readCommit(spark, handle))
        val m = tracer.span("ExtractPipeline.metrics")(ExtractPipeline.metrics(
          back.select("part_id", "url", "n_blocks", "n_kept", "bytes_in", "bytes_out")
            .withColumn("url_hash", ExtractPipeline.urlHash), "prefix", 0, 0L, before))
        ParquetTableIO.append(m.select(ParquetTableIO.checkpointSchema.fieldNames.toIndexedSeq.map(col): _*), ckptPath)
        ParquetTableIO.readOrEmpty(spark, ckptPath, ParquetTableIO.checkpointSchema)
          .agg(coalesce(sum(col("n_docs")), lit(0L))).as[Long].collect()
      }
      commit += tracer.spans.filter(_.name == "commit.before").last.seconds +
        tracer.spans.filter(_.name == "commit.after").last.seconds
      writeMb = Files.dataBytes(outPath) / 1e6
      writeFiles = Files.dataFiles(outPath).toDouble
      Files.delete(out)
    }
    val (rowsIn, rowsKept) = tracer.span("gate.count") {
      val pages = ParquetTableIO.readPages(spark, c.dir)
      (pages.count(), ExtractPipeline.inputGate(pages).count())
    }
    val scan = median(p1.toSeq)
    val extractS = median(p2.toSeq) - scan
    Map(
      "functions.extract_page_s" -> extractS,
      "functions.extract_page.gap_to_kernel" ->
        k("kernel_docs_per_s_core") * cores / (c.rows / extractS),
      "pipeline.scan_s" -> scan,
      "pipeline.scan_mb_per_s" -> c.fileBytes / 1e6 / scan,
      "pipeline.gate.rows_in" -> rowsIn.toDouble,
      "pipeline.gate.rows_kept" -> rowsKept.toDouble,
      "pipeline.exchange_s" -> (median(p3.toSeq) - median(p2.toSeq)),
      "pipeline.exchange.shuffle_write_mb" -> exchange.shuffleWriteMb,
      "pipeline.exchange.spill_mb" -> exchange.spillMb,
      "pipeline.exchange.partition_skew" -> exchange.partitionSkew,
      "pipeline.exchange.rows_dropped" -> (rowsKept - c.pages).toDouble,
      "pipeline.write_s" -> (median(p4.toSeq) - median(p3.toSeq)),
      "pipeline.write.mb" -> writeMb,
      "pipeline.write.files" -> writeFiles,
      "pipeline.commit_s" -> median(commit.toSeq),
      "pipeline.layers_sum_s" -> (median(p4.toSeq) + median(commit.toSeq))
    ) ++ k.filter(_._1.startsWith("extract."))
  }
}
