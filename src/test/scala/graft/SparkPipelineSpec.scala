package graft

import java.nio.file.Files

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.extract.{ExtractedPage, ExtractorConfig, GoldenExtractor, PageLite}
import graft.pipeline.{ExtractPipeline, ParquetTableIO}
import graft.sources.PageSource

/** Spark-level pipeline tests: byte-identity vs the documents oracle,
  * parallelism invariance (the byte-identity contract operationalized,
  * SURVEY.md §5.2.2), resume idempotence, plan shape, skew balance.
  */
class SparkPipelineSpec extends AnyFunSuite with SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private def tmp(): String =
    Files.createTempDirectory("graft-test").toString

  test("byte-identity: extracted text equals documents.text for every url") {
    val s = spark
    import s.implicits._
    val got = Queries.extracted(spark, sfDir)
      .select(col("url"), col("text")).as[(String, String)]
      .collect().toMap
    val want = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().map { case (id, t) => PageSource.urlOf(id) -> t }.toMap
    assert(got.size == want.size)
    want.foreach { case (url, t) =>
      assert(got(url) == t, s"text mismatch for $url")
    }
  }

  test("parallelism invariance: digest identical at 1 vs 13 partitions") {
    val pages = Queries.pages(spark, sfDir).select("url", "warc_ts", "html")
    def digest(np: Int): (Long, Long) = {
      val d = ExtractPipeline.globalDigest(
        ExtractPipeline.extractExpr(pages.repartition(np), ExtractorConfig.spaceJoined))
      val r = d.collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    assert(digest(1) == digest(13))
  }

  test("dedup_latest keeps exactly the later snapshot per url") {
    val s = spark
    import s.implicits._
    val deduped = ExtractPipeline.dedupLatest(
      Queries.pages(spark, sfDir, withDups = true).toDF())
    val n = deduped.count()
    val nUrls = deduped.select("url").distinct().count()
    assert(n == nUrls)
    val epochs = deduped
      .withColumn("doc_id", regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long"))
      .filter(col("doc_id") % PageSource.DupMod === 0)
      .select(col("doc_id"), col("warc_ts").cast("long").as("e"))
      .as[(Long, Long)].collect()
    assert(epochs.nonEmpty)
    epochs.foreach { case (id, e) =>
      assert(e == PageSource.EpochBase + id + PageSource.DupLagSec, s"doc $id kept wrong snapshot")
    }
  }

  test("ExtractJob: idempotent re-run and checkpoint resume (anti-join)") {
    val s = spark
    import s.implicits._
    val pagesDir = tmp() + "/pages"
    PageSource.genPages(spark, 300, 6).toDF().write.parquet(pagesDir)

    // full run
    val outA = tmp()
    val (rowsA, _) = ExtractJob.run(spark, pagesDir, outA, numLogicalParts = 16, jobId = "a")
    assert(rowsA == 300)

    // re-run on the same outDir: everything committed -> no new rows
    val (rowsA2, resumed) = ExtractJob.run(spark, pagesDir, outA, numLogicalParts = 16, jobId = "a2")
    assert(rowsA2 == rowsA)
    assert(resumed == 16)

    // simulated partial failure: pre-seed half the checkpoint, resume
    val outB = tmp()
    val ckpt = spark.read.schema(ParquetTableIO.checkpointSchema)
      .parquet(s"$outA/checkpoint_metrics")
      .filter(col("part_id") < 8)
    ParquetTableIO.append(ckpt, s"$outB/checkpoint_metrics")
    ExtractJob.run(spark, pagesDir, outB, numLogicalParts = 16, jobId = "b")
    val outRows = spark.read.parquet(s"$outB/pages_extracted")
    // only the un-committed parts were (re)written, no duplicates
    assert(outRows.select("url").distinct().count() == outRows.count())
    val expected = spark.read.parquet(s"$outA/pages_extracted")
      .filter(col("part_id") >= 8).select("url").as[String].collect().sorted.toSeq
    val got = outRows.select("url").as[String].collect().sorted.toSeq
    assert(got == expected)
  }

  test("ExtractJob honor-robots: planted noindex pages are excluded; default run unchanged") {
    val s = spark
    import s.implicits._
    val pagesDir = tmp() + "/pages"
    PageSource.fromDocuments(spark, sfDir, withDups = false).toDF().write.parquet(pagesDir)
    val ids = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long")).as[Long].collect()
    val noindex = ids.filter(PageSource.isNoindex).toSet
    assert(noindex.nonEmpty, "corpus must plant at least one noindex page")

    val outGated = tmp()
    val (rowsG, _) = ExtractJob.run(spark, pagesDir, outGated, numLogicalParts = 8,
      jobId = "rg", honorRobots = true)
    assert(rowsG == ids.length - noindex.size)
    val urls = spark.read.parquet(s"$outGated/pages_extracted")
      .select("url").as[String].collect().toSet
    noindex.foreach(id => assert(!urls.contains(PageSource.urlOf(id)), s"noindex $id leaked"))

    val outDefault = tmp()
    val (rowsD, _) = ExtractJob.run(spark, pagesDir, outDefault, numLogicalParts = 8, jobId = "rd")
    assert(rowsD == ids.length, "default (ungated) run keeps every page")
  }

  test("ExtractJob single-pass: the pages scan executes exactly once per run") {
    val pagesDir = tmp() + "/pages"
    PageSource.genPages(spark, 200, 4).toDF().write.parquet(pagesDir)
    val scans = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        // count executed plans whose FILE SCAN location is the pages dir
        // (a lit(pagesPath) in a Project must not count — hence the
        // Location-line match, not a whole-plan substring match)
        val hit = qe.executedPlan.toString.linesIterator
          .exists(l => l.contains("Location") && l.contains(pagesDir))
        if (hit) scans.incrementAndGet()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val (rows, _) = ExtractJob.run(spark, pagesDir, tmp(), numLogicalParts = 8, jobId = "once")
      assert(rows == 200)
      // QueryExecutionListener delivery is async: poll until stable
      var last = -1; var stableFor = 0
      while (stableFor < 5) {
        val c = scans.get
        if (c == last) stableFor += 1 else { stableFor = 0; last = c }
        Thread.sleep(100)
      }
      assert(scans.get == 1, s"pages dir scanned ${scans.get} times, expected 1")
    } finally spark.listenerManager.unregister(listener)
  }

  test("ExtractJob reconciliation: crash between output and checkpoint appends never duplicates rows") {
    val s = spark
    import s.implicits._
    val pagesDir = tmp() + "/pages"
    PageSource.genPages(spark, 300, 6).toDF().write.parquet(pagesDir)
    val outA = tmp()
    ExtractJob.run(spark, pagesDir, outA, numLogicalParts = 16, jobId = "a")

    // simulate: predecessor appended the OUTPUT but died before the
    // checkpoint append (the non-atomic two-commit window)
    val outC = tmp()
    ParquetTableIO.append(
      spark.read.parquet(s"$outA/pages_extracted"), s"$outC/pages_extracted")
    val (rows, resumed) = ExtractJob.run(spark, pagesDir, outC, numLogicalParts = 16, jobId = "c")
    assert(resumed == 16, "all orphaned parts must count as committed")
    assert(rows == 300)
    val out = spark.read.parquet(s"$outC/pages_extracted")
    assert(out.count() == 300, "orphaned parts were re-appended (duplicates)")
    assert(out.select("url").distinct().count() == 300)
    // the missing checkpoint rows were backfilled from the output files
    val ckpt = spark.read.schema(ParquetTableIO.checkpointSchema)
      .parquet(s"$outC/checkpoint_metrics")
    assert(ckpt.select("part_id").distinct().count() == 16)
    assert(ckpt.agg(sum("n_docs")).as[Long].collect()(0) == 300)
    assert(ckpt.filter(col("input_snapshot").startsWith("reconciled:")).count() == 16)
  }

  test("ExtractJob: a crashed MID-append (uncommitted data file) is reconciled, not trusted") {
    val pagesDir = tmp() + "/pages"
    PageSource.genPages(spark, 300, 6).toDF().write.parquet(pagesDir)
    val outD = tmp()
    ExtractJob.run(spark, pagesDir, outD, numLogicalParts = 16, jobId = "d")
    // simulate a crash mid-append: a data file lands in the table dir
    // but no commit list records it (its rows duplicate existing urls)
    val tableDir = new java.io.File(s"$outD/pages_extracted")
    val committed = tableDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(committed.toPath,
      new java.io.File(tableDir, "part-debris-uncommitted.parquet").toPath)
    assert(spark.read.parquet(s"$outD/pages_extracted")
      .select("url").distinct().count() < spark.read.parquet(s"$outD/pages_extracted").count(),
      "setup: debris must introduce duplicates")
    val (rows, resumed) = ExtractJob.run(spark, pagesDir, outD, numLogicalParts = 16, jobId = "d2")
    assert(resumed == 16 && rows == 300)
    val out = spark.read.parquet(s"$outD/pages_extracted")
    assert(out.count() == 300 && out.select("url").distinct().count() == 300,
      "uncommitted debris must be removed on the next run")
    assert(!new java.io.File(tableDir, "part-debris-uncommitted.parquet").exists())
  }

  test("ExtractJob: persisted numLogicalParts wins over a divergent CLI value (resume soundness)") {
    val s = spark
    import s.implicits._
    val pagesDir = tmp() + "/pages"
    PageSource.genPages(spark, 300, 6).toDF().write.parquet(pagesDir)
    val outA = tmp()
    ExtractJob.run(spark, pagesDir, outA, numLogicalParts = 16, jobId = "a")

    // predecessor ran with P=16 and committed only parts 8..15
    val outH = tmp()
    ParquetTableIO.append(
      spark.read.parquet(s"$outA/pages_extracted").filter(col("part_id") >= 8),
      s"$outH/pages_extracted")
    ParquetTableIO.append(
      spark.read.schema(ParquetTableIO.checkpointSchema)
        .parquet(s"$outA/checkpoint_metrics").filter(col("part_id") >= 8),
      s"$outH/checkpoint_metrics")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$outH/parts.meta"),
      "16\n".getBytes)
    // resume asks for P=8 — without adoption, done={8..15} matches no
    // mod-8 id, every page re-extracts, and the table holds duplicates
    val (rows, _) = ExtractJob.run(spark, pagesDir, outH, numLogicalParts = 8, jobId = "h")
    assert(rows == 300)
    val out = spark.read.parquet(s"$outH/pages_extracted")
    assert(out.count() == 300 && out.select("url").distinct().count() == 300,
      "divergent CLI P must not corrupt the resume")
  }

  test("production pipeline handles a mixed HTML+PDF corpus (content sniffing)") {
    val s = spark
    import s.implicits._
    val pagesDir = tmp() + "/pages"
    val htmlPages = PageSource.genPages(spark, 100, 2).toDF()
    val pdfPages = (1000L until 1050L).map { id =>
      val text = PageSource.contentText(id, 40)
      graft.extract.Page(PageSource.urlOf(id),
        new java.sql.Timestamp((PageSource.EpochBase + id) * 1000L),
        graft.sources.PdfSource.wrapPdf(id, text),
        text, "en")
    }.toDF()
    htmlPages.unionByName(pdfPages).write.parquet(pagesDir)

    val outDir = tmp()
    val (rows, _) = ExtractJob.run(spark, pagesDir, outDir, numLogicalParts = 8, jobId = "mixed")
    assert(rows == 150)
    // PDF rows extracted through the SAME pipeline: text = paragraphs
    // joined by the default blockSep
    val got = spark.read.parquet(s"$outDir/pages_extracted")
      .withColumn("doc_id", regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long"))
      .filter(col("doc_id") >= 1000L)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap
    assert(got.size == 50)
    (1000L until 1050L).foreach { id =>
      val want = PageSource.paragraphs(PageSource.contentText(id, 40)).mkString("\n")
      assert(got(id) == want, s"pdf doc $id text mismatch")
    }
  }

  test("plan shape: hot-path scan never reads the decoy crawl text column") {
    val pagesDir = tmp() + "/pages"
    PageSource.genPages(spark, 50, 2).toDF().write.parquet(pagesDir)
    val pages = ParquetTableIO.readPages(spark, pagesDir)
    val pipeline = ExtractPipeline.extractExpr(
      ExtractPipeline.dedupLatest(ExtractPipeline.inputGate(pages))
        .select("url", "warc_ts", "html"),
      ExtractorConfig.default)
    val plan = pipeline.queryExecution.executedPlan.toString
    val read = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("url") && read.contains("html"), s"plan: $read")
    assert(!read.contains("text"), s"decoy column read! $read")
  }

  test("plan shape: dedupAndCluster uses exactly ONE exchange") {
    val extracted = Queries.extracted(spark, sfDir)
    val keyed = ExtractPipeline.withPartId(extracted, 64)
    val plan = ExtractPipeline.dedupAndCluster(keyed, 8)
      .queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
    assert(!plan.contains("rangepartitioning"), "no sampling pass expected")
  }

  test("dedupAndCluster output equals window dedup output (values)") {
    val pages = Queries.pages(spark, sfDir, withDups = true)
      .select("url", "warc_ts", "html")
    val extracted = ExtractPipeline.extractExpr(pages, ExtractorConfig.spaceJoined)
    val a = ExtractPipeline.dedupAndCluster(
        ExtractPipeline.withPartId(extracted, 64), 8)
      .select("url", "warc_ts", "text")
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getString(2))).sortBy(_._1).toSeq
    val b = ExtractPipeline.dedupLatest(extracted)
      .select("url", "warc_ts", "text")
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getString(2))).sortBy(_._1).toSeq
    assert(a == b)
  }

  test("expression-mode extraction == typed-map extraction, with no object boundary") {
    val s = spark
    import s.implicits._
    val cfg = ExtractorConfig.spaceJoined
    val pagesDf = Queries.pages(spark, sfDir).select("url", "warc_ts", "html")
    // reference: a typed Dataset map over the golden extractor, compared
    // with extractExpr on every column
    val want = pagesDf.as[PageLite].map(p => GoldenExtractor.extractPage(p, cfg))
      .collect().map(p => p.url -> p).toMap
    val viaExpr = ExtractPipeline.extractExpr(pagesDf, cfg)
    assert(viaExpr.columns.toSeq ==
      Encoders.product[ExtractedPage].schema.fieldNames.toSeq)
    val got = viaExpr.as[ExtractedPage].collect()
    assert(want.size == 500 && got.length == want.size)
    def bits(a: Array[Float]): Seq[Int] = a.toSeq.map(java.lang.Float.floatToRawIntBits)
    got.foreach { g =>
      val w = want(g.url)
      val ctx = s"column mismatch for ${g.url}"
      assert(g.warc_ts == w.warc_ts, ctx)
      assert(g.text == w.text, ctx)
      assert(g.span_starts.toSeq == w.span_starts.toSeq, ctx)
      assert(g.span_ends.toSeq == w.span_ends.toSeq, ctx)
      assert(g.span_block_ids.toSeq == w.span_block_ids.toSeq, ctx)
      assert(bits(g.span_scores) == bits(w.span_scores), ctx)
      assert((g.n_blocks, g.n_kept, g.bytes_in, g.bytes_out) ==
        (w.n_blocks, w.n_kept, w.bytes_in, w.bytes_out), ctx)
    }
    // no object-mode boundary when reading from parquet (the boundary
    // above belongs to the in-memory test-page builder, not extraction)
    val pagesDir = tmp() + "/pages"
    PageSource.genPages(spark, 50, 2).toDF().write.parquet(pagesDir)
    val fromParquet = ExtractPipeline.extractExpr(
      ParquetTableIO.readPages(spark, pagesDir)
        .select(col("url"), col("warc_ts"), col("html")),
      ExtractorConfig.default)
    val plan = fromParquet.queryExecution.executedPlan.toString
    assert(!plan.contains("DeserializeToObject") && !plan.contains("SerializeFromObject"), plan)
    assert(fromParquet.count() == 50)
  }

  test("plan shape: input gate is pushed into the parquet scan") {
    val pagesDir = tmp() + "/pages"
    PageSource.genPages(spark, 50, 2).toDF().write.parquet(pagesDir)
    val gated = ExtractPipeline.inputGate(ParquetTableIO.readPages(spark, pagesDir))
    val plan = gated.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(html)]"), s"plan: $plan")
  }

  test("plan shape: lang predicate is pushed into the parquet scan") {
    val pagesDir = tmp() + "/pages"
    PageSource.genPages(spark, 50, 2).toDF().write.parquet(pagesDir)
    val langGated = ParquetTableIO.readPages(spark, pagesDir)
      .filter(col("lang") === "en")
      .select(col("url"), col("warc_ts"), col("html"))
    val plan = langGated.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(scanLine.contains("EqualTo(lang,en)"), s"plan: $plan")
  }

  test("skew: url_hash range clustering balances a 50%-one-host corpus") {
    // PageSource host catalog gives host0 ~50% of pages by construction
    val pages = PageSource.genPages(spark, 2000, 8).toDF()
    val clustered = ExtractPipeline.clusterForWrite(
      ExtractPipeline.withPartId(pages, 64), 16)
    val sizes = clustered.groupBy(spark_partition_id().as("pid"))
      .count().select("count").collect().map(_.getLong(0))
    assert(sizes.length == 16)
    val avg = sizes.sum.toDouble / sizes.length
    assert(sizes.max <= avg * 1.5, s"skewed partitions: ${sizes.mkString(",")}")
  }

  test("stable part_id: in range, parallelism-independent") {
    val df = ExtractPipeline.withPartId(
      Queries.pages(spark, sfDir).toDF(), 64)
    val parts = df.select("part_id").distinct().collect().map(_.getInt(0))
    assert(parts.forall(p => p >= 0 && p < 64))
    val a = df.select("url", "part_id").collect().map(r => (r.getString(0), r.getInt(1))).toMap
    val b = ExtractPipeline.withPartId(Queries.pages(spark, sfDir).toDF().repartition(7), 64)
      .select("url", "part_id").collect().map(r => (r.getString(0), r.getInt(1))).toMap
    assert(a == b)
  }

  test("all SparkEntry queries execute and entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      val n = df.count()
      assert(n >= 0, s"$name failed")
      assert(df.columns.nonEmpty, s"$name has no columns")
    }
    // oracle keys must be a subset of query keys
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
