package graft

import org.scalatest.funsuite.AnyFunSuite

/** End-to-end curation pipeline: url-normalization dedup, quality
  * gate, near-dup clustering (one survivor per planted pair), PII
  * scrub, deterministic sampling, shard packing — plus run-to-run
  * determinism of the shard output.
  */
class CurateJobSpec extends AnyFunSuite with SparkSuite {

  private var inputDir: String = _

  // per-doc unique vocab: passes the quality gate (12 distinct words),
  // and no accidental cross-doc near-dups
  private def textOf(i: Int): String =
    (0 until 12).map(k => s"d${i}w$k").mkString(" ") +
      (if (i == 3) " contact someone a@b.example ok" else "")
  private def urlOf(i: Int): String = s"https://ex.example/p/$i"

  override def beforeAll(): Unit = {
    super.beforeAll()
    val sp = spark; import sp.implicits._
    val base = (0 until 40).map(i => (urlOf(i), textOf(i)))
    // fragment revisit: SAME page, url differs only by fragment →
    // url_norm dedup must merge it
    val fragDups = (0 until 40).filter(_ % 5 == 0)
      .map(i => (urlOf(i) + "#x", textOf(i)))
    // near-dup mirror page: distinct url_norm, text minus last word →
    // minhash edge, clustering keeps exactly one of the pair
    val nearDups = (0 until 40).filter(_ % 4 == 0)
      .map(i => (urlOf(i) + "?v=2", textOf(i).split(' ').dropRight(1).mkString(" ")))
    // exact-dup mirror page: distinct url_norm, identical text
    val exactDups = (0 until 40).filter(_ % 4 == 1)
      .map(i => (urlOf(i) + "?v=3", textOf(i)))
    inputDir = java.nio.file.Files.createTempDirectory("curate-in").toString
    (base ++ fragDups ++ nearDups ++ exactDups)
      .toDF("url", "text").write.mode("overwrite").parquet(inputDir)
  }

  test("curation funnel: dedup, gate, cluster, scrub, sample, pack") {
    val outDir = java.nio.file.Files.createTempDirectory("curate-out").toString
    val r = CurateJob.run(spark, inputDir, outDir)

    // funnel is monotone and every stage retained something
    assert(r.nInput == 40 + 8 + 10 + 10)
    assert(r.nUrlDeduped == 40 + 10 + 10, "fragment revisits merged only")
    assert(r.nGated == r.nUrlDeduped, "clean synthetic docs all pass the gate")
    // clustering: one survivor per near/exact pair → 40 canonical docs
    assert(r.nCanonical == 40, s"canonical=${r.nCanonical}")
    assert(r.nSampled <= r.nCanonical && r.nSampled > 0)
    assert(r.nShards > 0)

    // partitionBy writes bucket as a directory key; the readback infers
    // INT — cast back for the typed assertions
    def readShards(dir: String) = spark.read.parquet(s"$dir/shards")
      .withColumn("bucket", org.apache.spark.sql.functions.col("bucket").cast("long"))
    val rows = readShards(outDir).collect()
    assert(rows.length == r.nSampled)
    // PII scrubbed everywhere
    assert(!rows.exists(_.getAs[String]("text").contains("@")))
    // url_norm unique; for each planted pair at most one member present
    val urls = rows.map(_.getAs[String]("url_norm"))
    assert(urls.distinct.length == urls.length)
    (0 until 40).foreach { i =>
      val pairPresent = urls.count(u => u == urlOf(i) || u == urlOf(i) + "?v=2" || u == urlOf(i) + "?v=3")
      assert(pairPresent <= 1, s"pair of doc $i present $pairPresent times")
    }
    // shard budget: within each (bucket, shard), preceding-token offsets
    // respect the budget boundary (recompute like the shardPack test)
    rows.groupBy(_.getAs[Long]("bucket")).foreach { case (_, bucketRows) =>
      val ordered = bucketRows.sortBy(_.getAs[Long]("doc_id"))
      var cum = 0L
      ordered.foreach { row =>
        assert(row.getAs[Long]("shard") == cum / 4096L)
        cum += row.getAs[Long]("n_tokens")
      }
    }

    // metrics row written and matches the report
    val m = spark.read.parquet(s"$outDir/curate_metrics").collect()(0)
    assert(m.getAs[Long]("nCanonical") == r.nCanonical)

    // run-to-run determinism: identical shard content
    val outDir2 = java.nio.file.Files.createTempDirectory("curate-out2").toString
    val r2 = CurateJob.run(spark, inputDir, outDir2)
    assert(r2 == r)
    val rows2 = readShards(outDir2).collect()
    def key(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(x => (x.getAs[Long]("doc_id"), x.getAs[String]("text"),
        x.getAs[Long]("bucket"), x.getAs[Long]("shard"))).sortBy(_._1).toSeq
    assert(key(rows2) == key(rows))

    // JSONL shard format: same rows, trainer-consumable files
    val outDirJ = java.nio.file.Files.createTempDirectory("curate-json").toString
    val rj = CurateJob.run(spark, inputDir, outDirJ, format = "json")
    assert(rj.nSampled == r.nSampled && rj.nShards == r.nShards)
    val jrows = spark.read.json(s"$outDirJ/shards")
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "text",
        "CAST(bucket AS BIGINT) AS bucket", "CAST(shard AS BIGINT) AS shard")
      .collect()
    assert(key(jrows) == key(rows))
  }

  test("auditFunnel: stages partition the url-deduped ids and agree with the frames") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions.{col, xxhash64}
    val input = spark.read.parquet(inputDir).select(col("url"), col("text"))
    val normed = graft.ops.TextOps.withUrlNorm(input.withColumnRenamed("url", "url_messy"))
      .select(xxhash64(col("url_norm")).as("doc_id"), col("url_norm"), col("text"))
    val f = CurateJob.funnel(spark, normed)
    val audit = CurateJob.auditFunnel(f).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    // exactly one verdict per url-deduped doc
    val urlIds = f.urlDeduped.select(col("doc_id").cast("long")).as[Long].collect().toSet
    assert(audit.keySet == urlIds)
    // the 'admitted' set IS the packed set (sampling recompute == funnel filter)
    val packedIds = f.packed.select(col("doc_id").cast("long")).as[Long].collect().toSet
    assert(audit.filter(_._2 == "admitted").keySet == packedIds)
    // 'duplicate' = gated minus canonical, 'quality' = urlDeduped minus gated
    val gatedIds = f.gated.select(col("doc_id").cast("long")).as[Long].collect().toSet
    val canonIds = f.canonical.select(col("doc_id").cast("long")).as[Long].collect().toSet
    assert(audit.filter(_._2 == "duplicate").keySet == gatedIds -- canonIds)
    assert(audit.filter(_._2 == "quality").keySet == urlIds -- gatedIds)
    assert(audit.filter(_._2 == "sampled_out").keySet == canonIds -- packedIds)
    // default funnel: flat sampling explains every post-canonical drop
    assert(!audit.values.exists(_ == "post_canonical"))

    // optional-stage funnel: admitted still IS the packed set (the
    // regression this pins: a hash-recomputed 'admitted' would claim
    // host-capped docs were admitted), and docs an optional stage cut
    // that sampling would have kept are labeled post_canonical
    val fc = CurateJob.funnel(spark, normed, maxDocsPerHost = Some(3))
    val auditC = CurateJob.auditFunnel(fc).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val packedC = fc.packed.select(col("doc_id").cast("long")).as[Long].collect().toSet
    assert(auditC.filter(_._2 == "admitted").keySet == packedC)
    val canonC = fc.canonical.select(col("doc_id").cast("long")).as[Long].collect().toSet
    assert(canonC.size > packedC.size, "cap must bind for this case to test anything")
    val late = auditC.filter(_._2 == "post_canonical").keySet
    assert(late.nonEmpty && late.subsetOf(canonC -- packedC))
  }

  test("authority-weighted sampling: tier rates bind, deterministic, off-path unchanged") {
    def run(out: String, auth: Option[Seq[Long]]) =
      CurateJob.run(spark, inputDir, out, samplePermille = 1000L,
        authorityPermille = auth)
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

    // all-1000 tiers == flat 1000 (the weighting reduces to the flat rule)
    val outAll = tmp("auth-all")
    val rFlat = run(tmp("auth-flat"), None)
    val rAll = run(outAll, Some(Seq(1000L, 1000L)))
    assert(rAll.nSampled == rFlat.nSampled && rAll.nSampled == rAll.nCanonical)
    assert(rAll.nAuthTiers == 2L && rFlat.nAuthTiers == 0L)

    // all-zero tiers ship nothing
    val rZero = run(tmp("auth-zero"), Some(Seq(0L, 0L)))
    assert(rZero.nSampled == 0L && rZero.nShards == 0L)

    // top-tier-only: a strict, deterministic subset — rerun identical
    val outM1 = tmp("auth-mix1")
    val rMix = run(outM1, Some(Seq(1000L, 0L)))
    assert(rMix.nSampled > 0L && rMix.nSampled < rMix.nCanonical,
      s"tiering must split the corpus, got ${rMix.nSampled}/${rMix.nCanonical}")
    val rMix2 = run(tmp("auth-mix2"), Some(Seq(1000L, 0L)))
    assert(rMix2 == rMix)

    // under rates {1000, 0} the sample is HOST-atomic: for every host,
    // either all of its canonical docs ship (tier 1) or none (tier 2).
    // The all-1000 run's shards ARE the canonical set to compare against.
    import org.apache.spark.sql.functions.{col, lit, pmod}
    def docsByHost(out: String): Map[String, Set[Long]] = spark.read.parquet(s"$out/shards")
      .select(col("doc_id"), graft.ops.GraphOps.hostCol(
        pmod(col("doc_id"), lit(graft.ops.GraphOps.HostIdModulus))).as("host"))
      .collect()
      .groupBy(_.getString(1)).view.mapValues(_.map(_.getLong(0)).toSet).toMap
    val allByHost = docsByHost(outAll)
    val keptByHost = docsByHost(outM1)
    assert(keptByHost.nonEmpty && keptByHost.size < allByHost.size)
    allByHost.foreach { case (host, docs) =>
      val kept = keptByHost.getOrElse(host, Set.empty[Long])
      assert(kept.isEmpty || kept == docs,
        s"host $host shipped ${kept.size}/${docs.size} docs — tier rates must be host-atomic")
    }
  }

  test("authority funnel on a REAL corpus: parsed hosts from messy urls + supplied link graph") {
    val sp = spark; import sp.implicits._
    // three real hosts, messy urls (case, :443, fragments — the parse
    // must undo all of them); unique per-doc vocab passes the gate
    val hosts = Seq("a.example", "b.example", "c.example")
    def messyUrl(h: String, i: Int): String = i % 3 match {
      case 0 => s"HTTPS://${h.toUpperCase(java.util.Locale.ROOT)}/p/$i#frag"
      case 1 => s"https://$h:443/p/$i"
      case _ => s"https://$h/p/$i"
    }
    val docs = for { h <- hosts; i <- 0 until 6 } yield
      (messyUrl(h, i), (0 until 12).map(k => s"${h.take(1)}d${i}w$k").mkString(" "))
    val in = java.nio.file.Files.createTempDirectory("realhost-in").toString
    docs.toDF("url", "text").write.mode("overwrite").parquet(in)
    // link graph keyed on PARSED hosts: b and c both cite a, a cites b
    // → after 3 integer iterations a ranks first (1740 > 1107 > 150)
    val edges = Seq(("b.example", "a.example"), ("c.example", "a.example"),
      ("a.example", "b.example")).toDF("src", "dst")

    // 3 tiers, top tier only → exactly the a.example docs ship
    val outTop = java.nio.file.Files.createTempDirectory("realhost-top").toString
    val rTop = CurateJob.run(spark, in, outTop, samplePermille = 1000L,
      authorityPermille = Some(Seq(1000L, 0L, 0L)), authorityEdges = Some(edges))
    assert(rTop.nCanonical == 18L)
    assert(rTop.nSampled == 6L, s"only the top-authority host ships, got ${rTop.nSampled}")
    val keptUrls = spark.read.parquet(s"$outTop/shards")
      .select("url_norm").collect().map(_.getString(0))
    assert(keptUrls.forall(_.startsWith("https://a.example")), keptUrls.mkString(","))

    // all-1000 tiers with the same graph: no doc lost to the host join
    // (corpus hosts enter the rank universe even if unlinked)
    val outAll = java.nio.file.Files.createTempDirectory("realhost-all").toString
    val rAll = CurateJob.run(spark, in, outAll, samplePermille = 1000L,
      authorityPermille = Some(Seq(1000L, 1000L, 1000L)), authorityEdges = Some(edges))
    assert(rAll.nSampled == 18L, s"all tiers at 1000 ship everything, got ${rAll.nSampled}")

    // a host in NO edge still lands in a tier: drop c from the graph,
    // keep every tier at 1000 — c's docs must still ship (base rank)
    val edges2 = Seq(("b.example", "a.example"), ("a.example", "b.example")).toDF("src", "dst")
    val outUn = java.nio.file.Files.createTempDirectory("realhost-unlinked").toString
    val rUn = CurateJob.run(spark, in, outUn, samplePermille = 1000L,
      authorityPermille = Some(Seq(1000L, 1000L, 1000L)), authorityEdges = Some(edges2))
    assert(rUn.nSampled == 18L, s"unlinked host must not vanish, got ${rUn.nSampled}")
  }

  test("crawl-to-authority: edges EXTRACTED from page markup drive the tier funnel end-to-end") {
    val sp = spark; import sp.implicits._
    // hand-built pages whose html carries real absolute cross-host
    // links: b and c cite a, a cites b — same graph as the supplied-
    // edges case, but derived from markup, not handed in
    val cite = Map("a.example" -> "b.example",
      "b.example" -> "a.example", "c.example" -> "a.example")
    def pageHtml(h: String, i: Int, text: String): Array[Byte] =
      (s"""<html><body><nav><a href="/">Home</a> <a href="https://${cite(h)}/">Partner</a></nav>""" +
        s"""<div class="main"><p>$text</p></div></body></html>""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val hosts = Seq("a.example", "b.example", "c.example")
    val docs = for { h <- hosts; i <- 0 until 6 } yield
      (s"https://$h/p/$i", (0 until 12).map(k => s"${h.take(1)}d${i}w$k").mkString(" "))
    val pages = docs.map { case (url, text) =>
      (url, pageHtml(url.stripPrefix("https://").takeWhile(_ != '/'), 0, text))
    }.toDF("url", "html")
    val edges = graft.ops.GraphOps.linkEdgesFromPages(pages)
    val e = edges.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(e == Set(("a.example", "b.example", 6L),
      ("b.example", "a.example", 6L), ("c.example", "a.example", 6L)), e)

    // feed the extracted edges into the funnel THROUGH the CLI's
    // pages:<dir> form: top tier = a.example only
    val in = java.nio.file.Files.createTempDirectory("crawlauth-in").toString
    docs.toDF("url", "text").write.mode("overwrite").parquet(in)
    val pagesDir = java.nio.file.Files.createTempDirectory("crawlauth-pages").toString
    pages.write.mode("overwrite").parquet(pagesDir)
    val out = java.nio.file.Files.createTempDirectory("crawlauth-out").toString
    val r = CurateJob.run(spark, in, out, samplePermille = 1000L,
      authorityPermille = Some(Seq(1000L, 0L, 0L)),
      authorityEdges = Some(CurateJob.resolveEdges(spark, s"pages:$pagesDir")))
    assert(r.nSampled == 6L, s"only the markup-cited top host ships, got ${r.nSampled}")
    val keptUrls = spark.read.parquet(s"$out/shards")
      .select("url_norm").collect().map(_.getString(0))
    assert(keptUrls.forall(_.startsWith("https://a.example")), keptUrls.mkString(","))
  }

  test("EmbedJob(normalizeUrls): vectors keyed by xxhash64(url_norm), one per url, funnel-joinable") {
    import org.apache.spark.sql.functions.{col, xxhash64}
    val embDir = java.nio.file.Files.createTempDirectory("embnorm").toString
    val n = EmbedJob.run(spark, inputDir, embDir, 4, normalizeUrls = true)
    assert(n == 60, s"40 base + 10 near + 10 exact distinct url_norms, got $n")
    val emb = spark.read.parquet(embDir)
    assert(emb.select("vec_id").distinct().count() == 60, "one vector per url_norm")
    val ids = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    val expect = graft.ops.TextOps.withUrlNorm(
        spark.read.parquet(inputDir).withColumnRenamed("url", "url_messy"))
      .select(xxhash64(col("url_norm")).as("id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(ids == expect, "ids must equal the funnel's doc_id convention")
  }

  test("optional semantic dedup leg: no-shared-word paraphrase pairs collapse to one doc") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions.{col, xxhash64}
    // 4 "paraphrase" pairs: the two texts of a pair share NO words —
    // invisible to exact sha AND MinHash shingles — but carry
    // identical embeddings (what a real encoder would give a
    // translation/paraphrase); 64-dim, pair p peaks at component p
    val docs = (0 until 8).map(i => (s"https://sem.example/p/$i",
      (0 until 12).map(k => s"s${i}w$k").mkString(" ")))
    val in = java.nio.file.Files.createTempDirectory("sem-in").toString
    docs.toDF("url", "text").write.mode("overwrite").parquet(in)
    // urls carry no mutations, so url == url_norm and the id
    // convention xxhash64(url_norm) is satisfied by hashing url
    val emb = docs.zipWithIndex.map { case ((url, _), i) =>
      val v = Array.fill(64)(0.001f); v(i / 2) = 1.0f; (url, v.toSeq)
    }.toDF("url", "embedding")
      .select(xxhash64(col("url")).as("vec_id"), col("embedding"))

    val outOff = java.nio.file.Files.createTempDirectory("sem-off").toString
    val rOff = CurateJob.run(spark, in, outOff, samplePermille = 1000L)
    assert(rOff.nCanonical == 8, "text-only dedup cannot see the pairs")

    val outOn = java.nio.file.Files.createTempDirectory("sem-on").toString
    val rOn = CurateJob.run(spark, in, outOn, samplePermille = 1000L,
      embeddings = Some(emb))
    assert(rOn.nCanonical == 4, s"each pair must collapse, got ${rOn.nCanonical}")
    // survivor = component min doc_id; both members never co-ship
    val kept = spark.read.parquet(s"$outOn/shards")
      .select("url_norm").collect().map(_.getString(0)).toSet
    (0 until 4).foreach { p =>
      val both = kept.contains(s"https://sem.example/p/${2 * p}") &&
        kept.contains(s"https://sem.example/p/${2 * p + 1}")
      assert(!both, s"pair $p shipped both members")
    }
    // determinism of the semantic path
    val outOn2 = java.nio.file.Files.createTempDirectory("sem-on2").toString
    val rOn2 = CurateJob.run(spark, in, outOn2, samplePermille = 1000L,
      embeddings = Some(emb))
    assert(rOn2 == rOn)
  }

  test("optional passage gate drops boilerplate-mosaic docs; default-off funnel unchanged") {
    val sp = spark; import sp.implicits._
    val boiler = (0 until 16).map(k => s"boiler$k").mkString(" ")
    // 6 clean docs; 3 "mosaic" docs = the SAME 16-word boilerplate
    // window + a unique 16-word tail (distinct word sets → they pass
    // the repetition gate AND survive near-dup clustering)
    val docs =
      (0 until 6).map(i => (s"https://pg.example/c/$i",
        (0 until 17).map(k => s"c${i}w$k").mkString(" "))) ++
      (0 until 3).map(i => (s"https://pg.example/m/$i",
        boiler + " " + (0 until 16).map(k => s"m${i}u$k").mkString(" ")))
    val in = java.nio.file.Files.createTempDirectory("pg-in").toString
    docs.toDF("url", "text").write.mode("overwrite").parquet(in)

    val outOff = java.nio.file.Files.createTempDirectory("pg-off").toString
    val rOff = CurateJob.run(spark, in, outOff, samplePermille = 1000L)
    assert(rOff.nCanonical == 9, "no doc-level dup among these")
    assert(rOff.nSampled == 9, "gate off: every canonical doc ships")

    // mosaics are 50% duplicated passages (1 of 2 windows) → threshold
    // 400 drops all three; clean docs are 0-permille and survive
    val outOn = java.nio.file.Files.createTempDirectory("pg-on").toString
    val rOn = CurateJob.run(spark, in, outOn, samplePermille = 1000L,
      maxDupPermille = Some(400L))
    assert(rOn.nCanonical == 9, "the gate acts after clustering")
    assert(rOn.nSampled == 6, s"mosaic docs must be dropped, got ${rOn.nSampled}")
    val kept = spark.read.parquet(s"$outOn/shards")
      .select("url_norm").collect().map(_.getString(0))
    assert(kept.forall(_.contains("/c/")), kept.mkString(","))
  }

  test("optional per-domain cap keeps each host's longest docs; default-off funnel unchanged") {
    val sp = spark; import sp.implicits._
    // mega host: 12 docs of 8..19 words (all-distinct vocab per doc so
    // nothing dedups or trips the repetition gate); small host: 3 docs
    val docs =
      (0 until 12).map(i => (s"https://mega.example/p/$i",
        (0 until 8 + i).map(k => s"a${i}w$k").mkString(" "))) ++
      (0 until 3).map(i => (s"https://small.example/p/$i",
        (0 until 9).map(k => s"b${i}w$k").mkString(" ")))
    val in = java.nio.file.Files.createTempDirectory("hc-in").toString
    docs.toDF("url", "text").write.mode("overwrite").parquet(in)

    val outOff = java.nio.file.Files.createTempDirectory("hc-off").toString
    val rOff = CurateJob.run(spark, in, outOff, samplePermille = 1000L)
    assert(rOff.nCanonical == 15 && rOff.nSampled == 15, "cap off: all ship")

    val outOn = java.nio.file.Files.createTempDirectory("hc-on").toString
    val rOn = CurateJob.run(spark, in, outOn, samplePermille = 1000L,
      maxDocsPerHost = Some(4))
    assert(rOn.nCanonical == 15, "the cap acts after clustering")
    assert(rOn.nSampled == 4 + 3, s"mega capped to 4, small intact: ${rOn.nSampled}")
    val kept = spark.read.parquet(s"$outOn/shards")
      .select("url_norm").collect().map(_.getString(0)).toSet
    // the cap keeps the LONGEST mega docs (ids 8..11 have 16..19 words)
    assert((8 until 12).forall(i => kept.contains(s"https://mega.example/p/$i")),
      kept.mkString(","))
    assert((0 until 3).forall(i => kept.contains(s"https://small.example/p/$i")))
  }
}
