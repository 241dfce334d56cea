package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{AnnIndex, Classifier, TextOps, VectorOps}

/** Round-3 scale hardening: large-star/small-star connected components
  * on adversarial long chains (O(log n) rounds, correct labels), the
  * two-level hashed n-gram census (no corpus-scale string shuffle), the
  * sort-free minhash edge feed, and the ANN recall report.
  */
class ScaleOpsSpec extends AnyFunSuite with SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private def chain(n: Int) = {
    val sp = spark; import sp.implicits._
    val nodes = (0 until n).map(_.toLong).toDF("doc_id")
    val edges = (0 until n - 1).map(i => (i.toLong, i.toLong + 1))
      .toDF("doc_a", "doc_b")
    (nodes, edges)
  }

  test("connectedComponentsStar: 64-node chain collapses in O(log n) rounds") {
    val (nodes, edges) = chain(64)
    val (labels, rounds) =
      TextOps.connectedComponentsStarWithRounds(nodes, edges)
    assert(rounds <= 10, s"took $rounds rounds on a 64-chain (diameter 63)")
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size == 64 && got.values.forall(_ == 0L), s"labels: $got")
  }

  test("connected components keep only the final round's checkpoint") {
    // superseded rounds' local checkpoints are released as the loop
    // goes (unpersist never reaches a checkpoint's blocks)
    val sc = spark.sparkContext
    def leftAfter(run: => org.apache.spark.sql.DataFrame): Set[Int] = {
      val before = org.apache.spark.BlockProbe.storedRddIds(sc)
      run.collect()
      org.apache.spark.BlockProbe.storedRddIds(sc) -- before
    }
    val (nodes, edges) = chain(64)
    var rounds = 0
    val star = leftAfter {
      val (labels, r) = TextOps.connectedComponentsStarWithRounds(nodes, edges)
      rounds = r; labels
    }
    assert(rounds >= 3 && star.size <= 1, s"$rounds rounds left checkpoints $star")
  }

  test("connectedComponentsStar: chains + star + isolated nodes, mixed graph") {
    val sp = spark; import sp.implicits._
    // chain 0..9, star 100<-{101..105}, pair (200,201), isolated 300
    val edges = ((0 until 9).map(i => (i.toLong, i.toLong + 1)) ++
      (101 to 105).map(i => (100L, i.toLong)) ++ Seq((200L, 201L)))
      .toDF("doc_a", "doc_b")
    val nodes = ((0L to 9L) ++ (100L to 105L) ++ Seq(200L, 201L, 300L))
      .toDF("doc_id")
    val got = TextOps.connectedComponentsStar(nodes, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    (0L to 9L).foreach(i => assert(got(i) == 0L))
    (100L to 105L).foreach(i => assert(got(i) == 100L))
    assert(got(200L) == 200L && got(201L) == 200L && got(300L) == 300L)
  }

  test("connectedComponentsStar equals union-find on random graphs (property)") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(7)
    (0 until 4).foreach { _ =>
      val n = 6 + rnd.nextInt(20)
      val ids = (0 until n).map(_.toLong)
      val edges = (0 until rnd.nextInt(2 * n)).map { _ =>
        (ids(rnd.nextInt(n)), ids(rnd.nextInt(n)))
      }.filter { case (a, b) => a != b }
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = ids.map(i => i -> find(i)).toMap
      val got = TextOps.connectedComponentsStar(
          ids.toDF("doc_id"),
          edges.toDF("doc_a", "doc_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == want, s"n=$n edges=$edges")
    }
  }

  test("connectedComponents: edge-only endpoints (not in nodes) cannot cause premature convergence") {
    val sp = spark; import sp.implicits._
    // node 1 appears ONLY in edges: it links 5 and 9 but gets no label
    // row of its own (only `nodes` are labelled)
    val nodes = Seq(5L, 9L).toDF("doc_id")
    val edges = Seq((5L, 1L), (1L, 9L)).toDF("doc_a", "doc_b")
    val got = TextOps.connectedComponentsStar(nodes, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.keySet == Set(5L, 9L) && got(5L) == got(9L), s"5 and 9 share a component, got $got")
  }

  test("ngramCensus (two-level) equals the exact single-pass census") {
    val docs = TextOps.corpusWithNearDups(TextOps.readDocs(spark, sfDir))
    val got = TextOps.ngramCensus(docs).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // exact single-pass reference (the r2 implementation / oracle SQL)
    val want = docs.select(explode(TextOps.ngramArr(8)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2L)
      .orderBy(col("n").desc, col("gram").asc).limit(20)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(want.nonEmpty && got == want)
  }

  test("plan shape: ngramCensus string shuffle is candidates-only; corpus shuffle is 8-byte hashes") {
    val docs = TextOps.corpusWithNearDups(TextOps.readDocs(spark, sfDir))
    val plan = TextOps.ngramCensus(docs).queryExecution.executedPlan.toString
    val gramShuffles = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(gram#"))
    val hashShuffles = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(ghash#"))
    assert(gramShuffles == 1,
      s"expected exactly one (post-prune) string shuffle, got $gramShuffles:\n$plan")
    assert(hashShuffles >= 1, s"expected the 64-bit hash census shuffle:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      "candidate hash set should broadcast (ids only)")
  }

  test("plan shape: dedupMinhashEdges has no global sort (edge-feed variant)") {
    val docs = TextOps.corpusWithNearDups(TextOps.readDocs(spark, sfDir))
    def globalSorts(plan: String): Int =
      plan.linesIterator.count(l => l.contains("Sort [") && l.contains("], true,"))
    val edgesPlan = TextOps.dedupMinhashEdges(spark, docs)
      .queryExecution.executedPlan.toString
    assert(globalSorts(edgesPlan) == 0,
      s"edge feed should not globally sort:\n$edgesPlan")
    // the presentation variant keeps its deterministic output order
    val presPlan = TextOps.dedupMinhash(spark, docs)
      .queryExecution.executedPlan.toString
    assert(globalSorts(presPlan) >= 1)
  }

  test("passageDedup: planted cross-doc dup found; self-repeats don't count; partial tails exact") {
    val sp = spark; import sp.implicits._
    val w16a = (1 to 16).map(i => s"a$i").mkString(" ")
    val w16b = (1 to 16).map(i => s"b$i").mkString(" ")
    val w16c = (1 to 16).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      (1L, s"$w16a $w16b"),        // 2 passages; first shared with doc 2
      (2L, s"$w16a $w16c"),        // 2 passages; first shared with doc 1
      (3L, (1 to 20).map(i => s"z$i").mkString(" ")), // 2 passages (16+4 tail), unique
      (4L, ((1 to 16).map(i => s"d$i").mkString(" ") + " " +
        (1 to 16).map(i => s"d$i").mkString(" ")))  // self-repeat ONLY -> no cross-doc dup
    ).toDF("doc_id", "text")
    val got = TextOps.passageDedup(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) == ((2L, 1L, 500L)))
    assert(got(2L) == ((2L, 1L, 500L)))
    assert(got(3L) == ((2L, 0L, 0L)))
    assert(got(4L) == ((2L, 0L, 0L)), "within-doc repetition must not count as duplication")
  }

  test("passageDedup on the sf corpus: planted near-dups are passage-duplicated; strings never shuffle") {
    val docs = TextOps.corpusWithNearDups(TextOps.readDocs(spark, sfDir))
    val q = TextOps.passageDedup(docs)
    val rows = q.collect()
    val planted = rows.filter(_.getLong(0) >= 1000000L)
    assert(planted.nonEmpty)
    // a mutant shares every FULL window with its source; only the
    // word-dropped tail window can differ
    planted.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1) - 1,
        s"doc ${r.getLong(0)}: ${r.getLong(2)} of ${r.getLong(1)} windows dup")
    }
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(passage"),
      s"passage strings must not ride a shuffle:\n$plan")
  }

  test("qualityClassify: score is the truncated token-weight mean; deterministic; keep = score>=0") {
    val sp = spark; import sp.implicits._
    val docs = Seq((1L, "alpha beta alpha"), (2L, ""), (3L, "  gamma  ")).toDF("doc_id", "text")
    val got = TextOps.qualityClassify(spark, docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    def wt(w: String): Long =
      java.lang.Long.remainderUnsigned(
        graft.sources.PageSource.splitmix64(
          TextOps.fnv1a64(w) ^ TextOps.QualityClassifySeed), 2001L) - 1000L
    val s1 = 2 * wt("alpha") + wt("beta")
    assert(got(1L) == ((3L, s1 / 3, s1 / 3 >= 0)), "occurrence-weighted mean")
    assert(got(2L) == ((0L, 0L, true)), "empty text: zero words, neutral keep")
    assert(got(3L) == ((1L, wt("gamma"), wt("gamma") >= 0)), "ragged whitespace ignored")
    val full = TextOps.qualityClassify(spark, TextOps.readDocs(spark, sfDir))
    assert(full.collect().toSeq == TextOps.qualityClassify(
      spark, TextOps.readDocs(spark, sfDir).repartition(7)).collect().toSeq)
  }

  test("hostRank: ranks bounded below by the base, skew host dominates, partition-invariant") {
    val docs = TextOps.readDocs(spark, sfDir)
    val rows = graft.ops.GraphOps.hostRank(spark, docs).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.nonEmpty)
    // every host keeps at least the undamped base mass
    assert(rows.forall(_._2 >= 150L), rows.filter(_._2 < 150L).take(3).mkString(","))
    // host0 holds 50% of docs -> 50% of citations land on it: top rank
    assert(rows.head._1 == "host0.example" && rows.head._2 > rows(1)._2 * 5,
      s"head=${rows.head}, second=${rows(1)}")
    // deterministic and partition-invariant
    val again = graft.ops.GraphOps.hostRank(spark, docs.repartition(7)).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(again.toSeq == rows.toSeq)
  }

  test("linkEdgesFromPages: markup-extracted edges equal the planted citation arithmetic") {
    val docs = TextOps.readDocs(spark, sfDir)
    val pages = graft.sources.PageSource.fromDocuments(spark, sfDir, withDups = false).toDF()
    val got = graft.ops.GraphOps.linkEdgesFromPages(pages).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    // JVM recompute of the planted rule: src = hostId(doc), dst = hostId(doc*31+7)
    val ids = docs.select(col("doc_id").cast("long")).collect().map(_.getLong(0))
    def host(h: Long) = s"host$h.example"
    val expect = ids.groupBy(id => (host(graft.sources.PageSource.hostId(id)),
        host(graft.sources.PageSource.linkTargetHost(id))))
      .view.mapValues(_.length.toLong).toMap
    assert(got == expect, s"got ${got.size} edges, expect ${expect.size}")
    // relative nav/footer hrefs never leak in as edges
    assert(got.keys.forall { case (s2, d2) => s2.endsWith(".example") && d2.endsWith(".example") })
  }

  test("labelProp: iters bounds radius; weighted majority with smaller-label ties; seeds clamped") {
    val s = spark
    import s.implicits._
    def lp(edges: Seq[(String, String)], seeds: Seq[(String, Long)], iters: Int) =
      graft.ops.GraphOps.labelProp(spark,
        edges.toDF("src", "dst"), seeds.toDF("host", "seed_label"), iters)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // chain a->b->c->d, seed a: one hop per round
    val chain = Seq("a" -> "b", "b" -> "c", "c" -> "d")
    val one = lp(chain, Seq("a" -> 5L), 1)
    assert(one == Map("a" -> 5L, "b" -> 5L, "c" -> -1L, "d" -> -1L))
    val three = lp(chain, Seq("a" -> 5L), 3)
    assert(three == Map("a" -> 5L, "b" -> 5L, "c" -> 5L, "d" -> 5L))
    // equal-weight conflict: the SMALLER label wins
    val conflict = Seq("x" -> "z", "y" -> "z")
    assert(lp(conflict, Seq("x" -> 2L, "y" -> 1L), 1)("z") == 1L)
    // weight majority beats label order (parallel links = weight)
    val weighted = Seq("x" -> "z", "x" -> "z", "y" -> "z")
    assert(lp(weighted, Seq("x" -> 2L, "y" -> 1L), 1)("z") == 2L)
    // a seed never flips, whatever flows in
    val clamp = Seq("x" -> "y", "x" -> "y", "x" -> "y")
    assert(lp(clamp, Seq("x" -> 7L, "y" -> 0L), 3)("y") == 0L)
  }

  test("labelPropQ: propagation reaches past the seeds, stays strict, partition-invariant") {
    val out = Queries.labelPropQ(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val labeled = out.filter(_._2 >= 0)
    // seeds alone can't explain the labeled set (the hub host0 is not
    // a seed: 0 % 7 != 3 — it must have ADOPTED)
    assert(labeled.exists(_._1 == "host0.example"))
    assert(labeled.length > out.count { case (h, _) =>
      "^host(\\d+)\\.example$".r.findFirstMatchIn(h)
        .exists(m => m.group(1).toLong % 7 == 3) })
    // strict: unlabeled hosts remain
    assert(out.exists(_._2 == -1L))
    // deterministic across runs
    assert(Queries.labelPropQ(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq == out.toSeq)
  }

  test("hostScorecardQ: covers every host once, legs agree with their source queries, deterministic") {
    val out = Queries.hostScorecardQ(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // one row per corpus host, n_docs partitions the corpus
    assert(out.map(_._1).distinct.length == out.length)
    assert(out.map(_._2).sum == TextOps.readDocs(spark, sfDir).count())
    // the rank and label legs are EXACTLY the standalone queries'
    val ranks = Queries.linkRankQ(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val labels = Queries.labelPropQ(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.length == ranks.size && out.length == labels.size)
    out.foreach { case (h, _, _, rank, label) =>
      assert(rank == ranks(h), s"rank leg diverges for $h")
      assert(label == labels(h), s"label leg diverges for $h")
    }
    // quality leg: permille bounded and populated (constant 1000 on
    // this clean synthetic corpus — the ARITHMETIC is oracle-checked)
    assert(out.forall(t => t._3 >= 0L && t._3 <= 1000L))
    val again = Queries.hostScorecardQ(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == again.toSeq)
  }

  test("canonicalDedup: mirror pages collapse onto their target; self groups singleton") {
    val pages = graft.sources.PageSource.fromDocuments(spark, sfDir, withDups = false).toDF()
    val rows = graft.ops.TextOps.canonicalDedup(pages).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    val ids = TextOps.readDocs(spark, sfDir).select(col("doc_id").cast("long"))
      .collect().map(_.getLong(0)).toSet
    val mirrors = ids.filter(_ % 23L == 5L)
    def url(id: Long) = graft.sources.PageSource.urlOf(id)
    val byUrl = rows.map(r => (r._1, r)).toMap
    // every mirror's TARGET group holds 2 pages and the crawled target
    mirrors.foreach { m =>
      assert(byUrl(url(m - 5L)) == ((url(m - 5L), 2L, true)), s"mirror $m")
      assert(!byUrl.contains(url(m)), s"mirror $m must not form its own group")
    }
    // group count: one per non-mirror doc (each mirror folds into one)
    assert(rows.length == ids.size - mirrors.size)
    assert(rows.forall(_._3), "every planted canonical target is in-corpus")
  }

  test("plan shape: markup ops shuffle extracted strings only — html never rides an exchange") {
    val pages = graft.sources.PageSource.fromDocuments(spark, sfDir, withDups = false).toDF()
    def exchangeLines(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.toString.linesIterator
        .filter(_.contains("Exchange")).toSeq
    val linkEx = exchangeLines(graft.ops.GraphOps.linkEdgesFromPages(pages))
    assert(linkEx.exists(_.contains("hashpartitioning(src")), linkEx.mkString("\n"))
    assert(linkEx.forall(!_.contains("html")), linkEx.mkString("\n"))
    val canonEx = exchangeLines(graft.ops.TextOps.canonicalDedup(pages))
    assert(canonEx.exists(_.contains("canonical_url")), canonEx.mkString("\n"))
    assert(canonEx.forall(!_.contains("html")), canonEx.mkString("\n"))
    val robotsEx = exchangeLines(graft.ops.TextOps.robotsGate(pages))
    assert(robotsEx.forall(!_.contains("html")), robotsEx.mkString("\n"))
  }

  test("robotsGate: planted noindex pages are the exact excluded set; multi-directive content matches") {
    val sp = spark; import sp.implicits._
    val pages = graft.sources.PageSource.fromDocuments(spark, sfDir, withDups = false).toDF()
    val got = graft.ops.TextOps.robotsGate(pages).collect()
      .map(r => (r.getString(0), r.getBoolean(1))).toMap
    val ids = TextOps.readDocs(spark, sfDir).select(col("doc_id").cast("long"))
      .collect().map(_.getLong(0))
    ids.foreach { id =>
      val url = graft.sources.PageSource.urlOf(id)
      assert(got(url) == !graft.sources.PageSource.isNoindex(id), s"id=$id")
    }
    assert(graft.ops.TextOps.indexablePages(pages).count() ==
      ids.count(!graft.sources.PageSource.isNoindex(_)).toLong)
    // directive lists still opt out ("noindex, nofollow")
    val mixed = Seq(("https://x.example/p/1",
      """<html><head><meta name="robots" content="noindex, nofollow"></head><body><p>t</p></body></html>"""
        .getBytes("UTF-8"))).toDF("url", "html")
    assert(graft.ops.TextOps.robotsGate(mixed).collect().head.getBoolean(1) == false)
  }

  test("extractTitle: recovers the planted title per url; genuine regex (first title, no-title empty); html never shuffles") {
    val sp = spark; import sp.implicits._
    val pages = graft.sources.PageSource.fromDocuments(spark, sfDir, withDups = false).toDF()
    val got = graft.ops.TextOps.extractTitle(pages).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    val ids = TextOps.readDocs(spark, sfDir).select(col("doc_id").cast("long"))
      .collect().map(_.getLong(0))
    assert(got.size == ids.length)
    ids.foreach { id =>
      assert(got(graft.sources.PageSource.urlOf(id)) == s"Doc $id", s"id=$id")
    }
    // the kernel is a real extraction, not a replay of the planted rule:
    // hand-built pages with a custom / missing / repeated title
    val handmade = Seq(
      ("https://x.example/a", "<html><head><title>Custom T</title></head><body></body></html>".getBytes("UTF-8")),
      ("https://x.example/b", "<html><head></head><body><p>no title</p></body></html>".getBytes("UTF-8")),
      ("https://x.example/c", "<html><head><title>First</title><title>Second</title></head></html>".getBytes("UTF-8"))
    ).toDF("url", "html")
    val hm = graft.ops.TextOps.extractTitle(handmade).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(hm("https://x.example/a") == "Custom T")
    assert(hm("https://x.example/b") == "")
    assert(hm("https://x.example/c") == "First")
    // scale shape: only (url, title) strings enter any exchange
    val titleEx = graft.ops.TextOps.extractTitle(pages)
      .queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("Exchange")).toSeq
    assert(titleEx.forall(!_.contains("html")), titleEx.mkString("\n"))
  }

  test("packEfficiency: census covers the corpus; pad identity holds; buckets are 128-multiples clipped at 2048") {
    val docs = TextOps.readDocs(spark, sfDir)
    val rows = graft.ops.TextOps.packEfficiency(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty, "census must cover the corpus")
    assert(rows.map(_._2).sum == docs.count(), "doc mass must cover the corpus")
    rows.foreach { case (bucket, nDocs, nTok, nPad) =>
      assert(bucket % 128L == 0L && bucket >= 128L && bucket <= 2048L)
      assert(nPad == bucket * nDocs - nTok, s"pad identity at bucket=$bucket")
      assert(nTok > (bucket - 128L) * nDocs, "tokens must exceed the previous ceiling")
    }
    // differential on a handmade corpus spanning buckets + the 2048
    // clip: token counts 1, 128, 129, 2048 and 5000 (clipped)
    val sp = spark; import sp.implicits._
    val hand = Seq(1, 128, 129, 2048, 5000).zipWithIndex
      .map { case (n, i) => (i.toLong, Seq.fill(n)("w").mkString(" ")) }
      .toDF("doc_id", "text")
    val got = graft.ops.TextOps.packEfficiency(hand).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(
      (128L, 2L, 129L, 127L),      // 1 + 128 tokens, pad only for the 1
      (256L, 1L, 129L, 127L),      // 129 spills to the next bucket
      (2048L, 2L, 4096L, 0L)))     // 2048 exact + 5000 clipped, zero pad
  }

  test("ttrCensus / zipfCensus equal driver-recomputed references") {
    val docs = TextOps.readDocs(spark, sfDir)
    val rows = docs.select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1).toSeq))
    val expTtr = rows.groupBy(_._1).map { case (l, xs) =>
      val toks = xs.flatMap(_._2)
      (l, toks.length.toLong, toks.distinct.length.toLong,
        toks.distinct.length.toLong * 1000L / toks.length.toLong)
    }.toSeq.sortBy(_._1)
    val gotTtr = TextOps.ttrCensus(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(gotTtr == expTtr)
    val allToks = rows.flatMap(_._2)
    val expTop = allToks.groupBy(identity).map { case (t, xs) => (t, xs.length.toLong) }
      .toSeq.sortBy { case (t, n) => (-n, t) }.take(50)
    val gotZipf = TextOps.zipfCensus(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    // the synthetic vocabulary can be smaller than K — ranks stay dense
    assert(gotZipf.map(_._1) == (1L to expTop.length.toLong), "ranks dense")
    assert(gotZipf.map(z => (z._2, z._3)) == expTop)
    val total = allToks.length.toLong
    gotZipf.foreach { case (_, _, n, ppm) => assert(ppm == n * 1000000L / total) }
  }

  test("tfidfTopTerms: frequent-here-rare-elsewhere wins; deterministic ties") {
    val sp = spark; import sp.implicits._
    val docs = Seq(
      (1L, "apple apple apple common common"),   // apple: tf 3, df 1
      (2L, "banana banana common zebra"),        // banana: tf 2, df 1
      (3L, "common cherry")                      // every word df context
    ).toDF("doc_id", "text")
    val got = TextOps.tfidfTopTerms(docs, topN = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // doc1: apple 3*1M/1 = 3,000,000 > common 2*1M/3
    assert(got.filter(_._1 == 1L).toSeq ==
      Seq((1L, "apple", 1L, 3000000L), (1L, "common", 2L, 666666L)))
    // doc2: banana 2M > zebra 1M > common 333k
    assert(got.filter(_._1 == 2L).toSeq ==
      Seq((2L, "banana", 1L, 2000000L), (2L, "zebra", 2L, 1000000L)))
    // doc3: cherry 1M > common 333k
    assert(got.filter(_._1 == 3L).toSeq ==
      Seq((3L, "cherry", 1L, 1000000L), (3L, "common", 2L, 333333L)))
  }

  test("annLsh multi-table: recall@5 >= 0.7 on the sf corpus at ~0.3 scan fraction") {
    val emb = VectorOps.readEmbeddings(spark, sfDir)
    val recall = VectorOps.annRecall(spark, emb).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(recall("lsh") >= 700L, s"lsh recall_milli = ${recall("lsh")}")
    assert(recall("ivf") >= 700L, s"ivf recall_milli = ${recall("ivf")}")
    assert(recall("pq") >= 700L, s"pq recall_milli = ${recall("pq")}")
  }

  test("annLshFiltered: results within the allowed set, ranks dense, filter actually bites; stored-index serve bit-identical") {
    import org.apache.spark.sql.functions.col
    val emb = VectorOps.readEmbeddings(spark, sfDir)
    val allowed = emb.filter(col("vec_id") % 3 === 0).select(col("vec_id"))
    val rows = VectorOps.annLshFiltered(spark, emb, allowed).collect()
    assert(rows.nonEmpty)
    // every neighbor is allowed; self-hits excluded; ranks dense from 1
    rows.foreach { r =>
      assert(r.getLong(1) % 3 == 0, s"neighbor ${r.getLong(1)} not in allowed set")
      assert(r.getLong(0) != r.getLong(1))
    }
    val byQ = rows.groupBy(_.getLong(0))
    byQ.values.foreach { rs =>
      assert(rs.map(_.getLong(2)).sorted.toSeq == (1L to rs.length).toSeq)
    }
    // non-vacuity: the unfiltered top-k contains disallowed neighbors
    // for at least one query — the filter changes the answer
    val unfiltered = VectorOps.annLsh(spark, emb).collect()
    assert(unfiltered.exists(_.getLong(1) % 3 != 0),
      "fixture vacuous: unfiltered LSH already answers inside the allowed set")
  }

  test("new operators are partition-invariant (repartitioned input, identical output)") {
    val emb = VectorOps.readEmbeddings(spark, sfDir)
    val docs = TextOps.corpusWithNearDups(TextOps.readDocs(spark, sfDir))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq
    assert(rows(VectorOps.annPq(spark, emb)) ==
      rows(VectorOps.annPq(spark, emb.repartition(7))))
    assert(rows(VectorOps.embedCluster(spark, emb)) ==
      rows(VectorOps.embedCluster(spark, emb.repartition(7))))
    assert(rows(TextOps.passageDedup(docs)) ==
      rows(TextOps.passageDedup(docs.repartition(7))))
    assert(rows(TextOps.tfidfTopTerms(docs)) ==
      rows(TextOps.tfidfTopTerms(docs.repartition(7))))
  }

  test("embedCluster: every vector lands in one cell; purity and majority are consistent") {
    val emb = VectorOps.readEmbeddings(spark, sfDir)
    val total = emb.count()
    val rows = VectorOps.embedCluster(spark, emb).collect()
    assert(rows.map(_.getLong(1)).sum == total, "cells must partition the corpus")
    rows.foreach { r =>
      val (n, purity) = (r.getLong(1), r.getLong(3))
      assert(purity >= 1000L / 10 / 2 || n < 10,
        s"cell ${r.getLong(0)}: purity $purity implausibly low for majority-of-10-labels")
      assert(purity <= 1000L)
    }
    assert(VectorOps.embedCluster(spark, emb).collect().toSeq == rows.toSeq)
  }

  test("clusterSample: per-cell budget rates, sparse cells pass whole, deterministic + partition-invariant") {
    val emb = VectorOps.readEmbeddings(spark, sfDir)
    val total = emb.count()
    val budget = 24L
    val rows = VectorOps.clusterSample(spark, emb, perCellBudget = budget).collect()
    assert(rows.map(_.getLong(1)).sum == total, "cells must partition the corpus")
    rows.foreach { r =>
      val (n, rate, sampled) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(rate == math.min(1000L, budget * 1000L / n),
        s"cell ${r.getLong(0)}: rate $rate != min(1000, ${budget * 1000L / n})")
      assert(sampled <= n)
      // rate 1000 = cell under budget: every vector passes whole
      if (rate == 1000L) assert(sampled == n, s"uncapped cell ${r.getLong(0)} must pass whole")
      // capped cells thin toward the budget (hash admission is binomial
      // around n*rate/1000 ~ budget; 4x is a generous tail bound)
      else assert(sampled <= 4 * budget, s"cell ${r.getLong(0)}: $sampled >> budget $budget")
    }
    // the cap actually bites somewhere on this corpus, or the test is vacuous
    assert(rows.exists(_.getLong(2) < 1000L), "expected at least one over-budget cell")
    assert(VectorOps.clusterSample(spark, emb, perCellBudget = budget).collect().toSeq == rows.toSeq)
    assert(VectorOps.clusterSample(spark, emb.repartition(7), perCellBudget = budget)
      .collect().toSeq == rows.toSeq, "clusterSample must be partition-invariant")
  }

  test("annPq: ADC shortlist covers the exact top-k it reports; deterministic; codes compress") {
    val emb = VectorOps.readEmbeddings(spark, sfDir)
    val a = VectorOps.annPq(spark, emb).collect().toSeq
    val b = VectorOps.annPq(spark, emb).collect().toSeq
    assert(a == b, "PQ search must be run-to-run deterministic")
    assert(a.nonEmpty && a.size <= 50)
    // exact re-rank means reported sims are TRUE cosines: each reported
    // neighbor's sim_micro must match the brute-force value for that pair
    val brute = VectorOps.annBrute(emb, 10, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    a.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      brute.get(key).foreach(simB => assert(simB == r.getLong(3),
        s"re-ranked sim for $key diverges from exact"))
    }
  }

  test("annSq: near-exact recall, true cosines after re-rank, deterministic, partition-invariant") {
    val emb = VectorOps.readEmbeddings(spark, sfDir)
    val a = VectorOps.annSq(spark, emb).collect().toSeq
    assert(a == VectorOps.annSq(spark, emb).collect().toSeq, "SQ must be deterministic")
    assert(a == VectorOps.annSq(spark, emb.repartition(7)).collect().toSeq,
      "SQ train/encode/search must be partition-invariant")
    assert(a.nonEmpty && a.size <= 50)
    val brute = VectorOps.annBrute(emb, 10, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    // exact re-rank: reported sims are TRUE cosines
    a.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      brute.get(key).foreach(simB => assert(simB == r.getLong(3),
        s"re-ranked sim for $key diverges from exact"))
    }
    // SQ8 with per-DIMENSION codes + 100-deep shortlist should be
    // near-exact — materially tighter than the PQ floor
    val exact = brute.keySet
    val hits = a.map(r => (r.getLong(0), r.getLong(1))).count(exact.contains)
    assert(hits * 1000L / 50 >= 900L, s"SQ recall_milli = ${hits * 1000L / 50}")
    // codes are bytes per dimension: every code in [0, 255]
    val (mins, maxs) = VectorOps.sqTrain(spark, emb)
    val codes = VectorOps.sqEncode(spark, emb, mins, maxs)
    import org.apache.spark.sql.functions.{col, explode, max => smax, min => smin}
    val mm = codes.select(explode(col("codes")).as("c"))
      .agg(smin(col("c")), smax(col("c"))).head()
    assert(mm.getInt(0) >= 0 && mm.getInt(1) <= 255)
  }

  test("qualityTrain: recovers the planted lexicon on held-out docs; guards block memorization") {
    val sp = spark; import sp.implicits._
    val docs = TextOps.readDocs(spark, sfDir)
    val out = Classifier.qualityTrain(spark, docs).collect()
    assert(out.length == docs.count())
    // generalization: the model is induced from EVEN ids only, yet the
    // ODD (holdout) half classifies perfectly on this corpus
    val holdout = out.filter(_.getAs[Boolean]("holdout"))
    assert(holdout.nonEmpty)
    assert(holdout.forall(r =>
      r.getAs[Boolean]("pred") == (r.getAs[Long]("label") == 1L)),
      "held-out docs must classify by the learned lexicon buckets")
    // determinism + partition invariance
    val again = Classifier.qualityTrain(spark, docs.repartition(7)).collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)

    // train/serve split: a persisted model scores identically — and the
    // serving path runs NO training aggregates
    val modelDir = java.nio.file.Files.createTempDirectory("clf-model").toString
    val model = Classifier.trainModel(spark, docs)
    assert(model.nonEmpty)
    Classifier.saveModel(spark, model, modelDir)
    val served = Classifier.scoreWith(spark, docs,
      Classifier.loadModel(spark, modelDir)).collect()
    assert(served.map(_.toString).toSeq == out.map(_.toString).toSeq,
      "stored-model serving must equal train-time scoring")

    // degenerate inputs: empty text still emits a row (label -1, 0 hits)
    val weird = Seq((2L, ""), (4L, "   "), (6L, "agg agg"), (8L, "alpha")).toDF("doc_id", "text")
    val wr = Classifier.scoreWith(spark, weird, model).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("label"), r.getAs[Long]("n_hits"))).toMap
    assert(wr(2L) == (-1L, 0L) && wr(4L) == (-1L, 0L), "empty docs emit negative zero-hit rows")
    assert(wr(6L)._1 == 1L)

    // memorization guard: a word seen in ONE positive train doc has
    // support 1 < minSupport and must not enter the model; a word
    // spread over both classes fails the purity odds. Planted corpus:
    // lexicon word "agg" (inLexicon-true) drives labels; "memorizeme"
    // appears once; "common" rides every doc; other fillers are
    // verified non-lexicon.
    assert(Classifier.inLexicon("agg"), "vocab assumption: 'agg' is a lexicon word")
    for (w <- Seq("common", "alpha", "gamma", "dup", "memorizeme"))
      assert(!Classifier.inLexicon(w), s"filler '$w' must be non-lexicon")
    val planted = (
      Seq((0L, "common agg alpha"), (2L, "common agg gamma"), (4L, "common agg dup"),
          (6L, "common memorizeme agg"),
          (8L, "common dup alpha"), (10L, "common gamma dup"),
          (1L, "common alpha dup"), (3L, "common agg alpha"), (5L, "common dup gamma"))
    ).toDF("doc_id", "text")
    val p = Classifier.qualityTrain(spark, planted).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("label"), r.getAs[Long]("n_hits"), r.getAs[Boolean]("pred"))).toMap
    // "agg"-bearing docs are the positives; the learned bucket set is
    // exactly {bucket("agg")}: the one-off word excluded (support),
    // the everywhere word excluded (purity) — n_hits == 1 iff agg-doc
    for ((id, (label, hits, pred)) <- p) {
      val hasAgg = Seq(0L, 2L, 3L, 4L, 6L).contains(id)
      assert(label == (if (hasAgg) 1L else -1L), s"doc $id label")
      assert(hits == (if (hasAgg) 1L else 0L), s"doc $id hits=$hits — model must be exactly the agg bucket")
      assert(pred == hasAgg, s"doc $id pred")
    }
  }

  test("qualityTrain equals a sequential reference on random corpora (differential property)") {
    // The distributed path (typed maps + bucket-keyed census + driver
    // BigInt odds) must agree with a direct sequential transcription of
    // the algorithm for ANY corpus — seeds chosen deterministically.
    val sp = spark; import sp.implicits._
    val alphabet = Vector("agg", "crawl", "alpha", "gamma", "dup", "common",
      "spark", "data", "row", "memorizeme", "zeta", "theta")
    for (seed <- 1L to 8L) {
      var s = seed
      def nextInt(bound: Int): Int = {
        s = graft.sources.PageSource.splitmix64(s)
        java.lang.Long.remainderUnsigned(s, bound.toLong).toInt
      }
      val docs = (0 until (20 + nextInt(30))).map { i =>
        val n = 1 + nextInt(9)
        (i.toLong, Seq.fill(n)(alphabet(nextInt(alphabet.length))).mkString(" "))
      }
      // ---- sequential reference (direct spec transcription) ----
      val feats = docs.map { case (id, text) =>
        val words = text.split(' ').filter(_.nonEmpty)
        (id, words.map(Classifier.bucketOf).distinct.sorted.toSeq,
          if (words.exists(Classifier.inLexicon)) 1L else -1L)
      }
      val train = feats.filter(_._1 % 2 == 0)
      val np = train.count(_._3 == 1L).toLong
      val nn = train.count(_._3 == -1L).toLong
      val census = train.flatMap { case (_, bs, y) => bs.map(_ -> y) }
        .groupBy(_._1).view.mapValues { ys =>
          (ys.count(_._2 == 1L).toLong, ys.count(_._2 == -1L).toLong)
        }.toMap
      val sel = census.collect { case (b, (pd, nd))
        if pd >= 2L && BigInt(pd) * nn > BigInt(nd) * np * 5L => b }.toSet
      val want = feats.map { case (id, bs, y) =>
        val hits = bs.count(sel.contains).toLong
        (id, y, hits, hits > 0L, id % 2 == 1L)
      }.sortBy(_._1)
      // ---- distributed path ----
      val got = Classifier.qualityTrain(spark, docs.toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3), r.getBoolean(4))).toSeq
      assert(got == want, s"divergence at seed=$seed")
    }
  }

  test("AnnIndex build/serve: served results are bit-identical to the in-memory operators") {
    val emb = VectorOps.readEmbeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("ann-index-test").toString
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq

    AnnIndex.buildLsh(spark, emb, dir)
    AnnIndex.buildPq(spark, emb, dir)
    // the artifacts really materialized (parquet on disk, non-trivial)
    for (sub <- Seq("lsh_buckets", "pq_codebook", "pq_codes"))
      assert(new java.io.File(s"$dir/$sub").listFiles()
        .exists(_.getName.endsWith(".parquet")), s"$sub not written")

    assert(rows(AnnIndex.serveLsh(spark, emb, dir)) ==
      rows(VectorOps.annLsh(spark, emb)), "LSH serve != in-memory")
    assert(rows(AnnIndex.servePq(spark, emb, dir)) ==
      rows(VectorOps.annPq(spark, emb)), "PQ serve != in-memory")

    // geometry travels WITH the index: a non-default build serves
    // correctly with no parameters repeated at serve time
    val dir2 = java.nio.file.Files.createTempDirectory("ann-index-geo").toString
    AnnIndex.buildLsh(spark, emb, dir2, nTables = 4, planesPerTable = 7)
    assert(rows(AnnIndex.serveLsh(spark, emb, dir2)) ==
      rows(VectorOps.annLsh(spark, emb, nTables = 4, planesPerTable = 7)),
      "serve must read plane geometry from the stored metadata")

    // serving READS the store (not a hidden recompute), and only its
    // COMMITTED view: an out-of-band overwrite (= a crashed rebuild —
    // committed entries now name deleted files, the new files carry no
    // manifest) must fail LOUDLY, not silently serve a mixed index
    val sp = spark; import sp.implicits._
    Seq.empty[(Long, Int, Int)].toDF("vec_id", "band", "bucket")
      .write.mode("overwrite").parquet(s"$dir/lsh_buckets")
    val e = intercept[IllegalArgumentException] {
      AnnIndex.serveLsh(spark, emb, dir).count()
    }
    assert(e.getMessage.contains("no committed lsh_buckets"),
      s"unexpected failure: ${e.getMessage}")
  }

  test("AnnIndex delete: tombstone serve == physical (compacted) serve on every leg; LSH == survivor rebuild") {
    val emb = VectorOps.readEmbeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("ann-del").toString
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq
    AnnIndex.buildLsh(spark, emb, dir)
    AnnIndex.buildPq(spark, emb, dir)
    AnnIndex.buildSq(spark, emb, dir)
    AnnIndex.buildIvf(spark, emb, dir)
    val victims = emb.filter(col("vec_id") % 5 === 0).select("vec_id")
    val victimIds = victims.collect().map(_.getLong(0)).toSet
    val nIndexedBefore = AnnIndex.indexedVectors(spark, dir)

    val nDel = AnnIndex.delete(spark, victims, dir, Some("m1"))
    assert(nDel == victimIds.size.toLong)
    assert(AnnIndex.indexedVectors(spark, dir) == nIndexedBefore - nDel)
    // idempotent: replayed mutation and already-deleted ids are no-ops
    assert(AnnIndex.delete(spark, victims, dir, Some("m1")) == 0L)
    assert(AnnIndex.delete(spark, victims, dir, Some("m2")) == 0L)

    // LSH has no trained state -> tombstone serve must equal a fresh
    // rebuild over the survivors exactly
    val survivors = emb.filter(col("vec_id") % 5 =!= 0)
    val survDir = java.nio.file.Files.createTempDirectory("ann-del-surv").toString
    AnnIndex.buildLsh(spark, survivors, survDir)
    val lshDel = rows(AnnIndex.serveLsh(spark, emb, dir))
    assert(lshDel.nonEmpty && lshDel == rows(AnnIndex.serveLsh(spark, emb, survDir)))

    // no victim appears as a neighbor on ANY leg (shortlists are cut
    // AFTER the anti-join — base-side deletion alone can't ensure this)
    val served = Seq(
      AnnIndex.serveLsh(spark, emb, dir), AnnIndex.servePq(spark, emb, dir),
      AnnIndex.serveSq(spark, emb, dir), AnnIndex.serveIvf(spark, emb, dir),
      AnnIndex.serveIvfPq(spark, emb, dir)).map(rows)
    val neighborCols = Seq(
      AnnIndex.serveLsh(spark, emb, dir), AnnIndex.servePq(spark, emb, dir),
      AnnIndex.serveSq(spark, emb, dir), AnnIndex.serveIvf(spark, emb, dir),
      AnnIndex.serveIvfPq(spark, emb, dir))
      .flatMap(_.select("neighbor_id").collect().map(_.getLong(0)))
    assert(neighborCols.nonEmpty && !neighborCols.exists(victimIds.contains))

    // compact applies tombstones physically: table gone, victims' rows
    // gone from every leg, every serve bit-identical to tombstone serve
    AnnIndex.compact(spark, dir)
    assert(!new java.io.File(dir, "ann_deleted").exists())
    for (leg <- Seq("lsh_buckets", "pq_codes", "sq_codes", "ivf_cells")) {
      val ids = spark.read.parquet(s"$dir/$leg")
        .select("vec_id").distinct().collect().map(_.getLong(0)).toSet
      assert(ids.intersect(victimIds).isEmpty, s"$leg still holds victims")
    }
    val servedAfter = Seq(
      AnnIndex.serveLsh(spark, emb, dir), AnnIndex.servePq(spark, emb, dir),
      AnnIndex.serveSq(spark, emb, dir), AnnIndex.serveIvf(spark, emb, dir),
      AnnIndex.serveIvfPq(spark, emb, dir)).map(rows)
    assert(servedAfter == served)
    Seq(dir, survDir).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
  }

  test("AnnIndex SQ8 leg: serve bit-identity, frozen-quantizer appends, staleness, compaction") {
    val emb = VectorOps.readEmbeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("ann-index-sq").toString
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq

    AnnIndex.buildSq(spark, emb, dir)
    assert(new java.io.File(s"$dir/sq_codes").listFiles()
      .exists(_.getName.endsWith(".parquet")), "sq_codes not written")
    assert(rows(AnnIndex.serveSq(spark, emb, dir)) ==
      rows(VectorOps.annSq(spark, emb)), "SQ serve != in-memory")
    assert(AnnIndex.sqStaleness(spark, dir) == 0L)

    // frozen-quantizer append: build on the even half, append the odd
    // half; serve over the union must equal the KERNEL composition
    // (codes of the union encoded under the even half's quantizer)
    import org.apache.spark.sql.functions.col
    val evens = emb.filter(col("vec_id") % 2 === 0)
    val odds = emb.filter(col("vec_id") % 2 === 1)
    val dir2 = java.nio.file.Files.createTempDirectory("ann-index-sq-app").toString
    AnnIndex.buildSq(spark, evens, dir2)
    AnnIndex.appendSq(spark, odds, dir2)
    val (mn, mx) = VectorOps.sqTrain(spark, evens)
    val wantRows = rows(VectorOps.annSqFromQ(spark,
      VectorOps.sqEncode(spark, emb, mn, mx), mn, mx, emb,
      emb.select(col("vec_id").cast("long").as("query_id"),
        col("embedding").as("q_emb")).filter(col("query_id") < 10), 5, 100))
    assert(rows(AnnIndex.serveSq(spark, emb, dir2)) == wantRows,
      "append-then-serve must equal frozen-quantizer encoding of the union")
    val stale = AnnIndex.sqStaleness(spark, dir2)
    assert(stale > 0L && stale < 1000L, s"staleness permille = $stale")

    // rebuild in place (a build over the existing dir, dim read from
    // the stored quantizer) retrains on the full corpus: staleness
    // resets, results equal a fresh full build
    val storedDim = spark.read.parquet(s"$dir2/sq_meta")
      .select("mins").head().getSeq[Long](0).length
    AnnIndex.buildSq(spark, emb, dir2, dim = storedDim)
    assert(AnnIndex.sqStaleness(spark, dir2) == 0L)
    assert(rows(AnnIndex.serveSq(spark, emb, dir2)) ==
      rows(VectorOps.annSq(spark, emb)))

    // compaction covers sq_codes; serve is bit-identical after
    AnnIndex.appendSq(spark,
      emb.limit(20).withColumn("vec_id", col("vec_id") + 10000000L), dir)
    val before = rows(AnnIndex.serveSq(spark, emb, dir))
    val reports = AnnIndex.compact(spark, dir).toMap
    assert(reports.contains("sq_codes"))
    assert(rows(AnnIndex.serveSq(spark, emb, dir)) == before,
      "SQ serve changed across compaction")
  }

  test("AnnIndex IVF leg: serve bit-identity, frozen-centroid appends, staleness, rebuild, compaction") {
    val emb = VectorOps.readEmbeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("ann-index-ivf").toString
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    import org.apache.spark.sql.functions.col

    AnnIndex.buildIvf(spark, emb, dir)
    for (sub <- Seq("ivf_centroids", "ivf_cells"))
      assert(new java.io.File(s"$dir/$sub").listFiles()
        .exists(_.getName.endsWith(".parquet")), s"$sub not written")
    assert(rows(AnnIndex.serveIvf(spark, emb, dir)) ==
      rows(VectorOps.annIvf(spark, emb)), "IVF serve != in-memory")
    assert(AnnIndex.ivfStaleness(spark, dir) == 0L)

    // both gating paths answer identically (IN-pruned broadcast vs
    // shuffle fallback) and equal the in-memory operator
    val cs = VectorOps.kmeansMilli(spark, emb)
    val cells = VectorOps.ivfAssign(spark, emb, cs)
    val q10 = emb.select(col("vec_id").cast("long").as("query_id"),
      col("embedding").as("q_emb")).filter(col("query_id") < 10)
    assert(rows(VectorOps.annIvfFromQ(spark, cells, cs, emb, q10, 5, 2,
        broadcastProbes = true)) ==
      rows(VectorOps.annIvfFromQ(spark, cells, cs, emb, q10, 5, 2,
        broadcastProbes = false)),
      "broadcast+IN-pruned path != shuffle fallback")

    // the scale claim: a bounded batch's probed cells reach the STORED
    // relation's parquet scan as an IN predicate (row-group pruning on
    // the (cell, salt)-clustered files — the postings-pruning shape)
    val servePlan = AnnIndex.serveIvf(spark, emb, dir)
      .queryExecution.executedPlan.toString
    assert(servePlan.contains("ivf_cells") &&
      servePlan.matches("(?s).*PushedFilters: \\[[^\\]]*In\\(cell.*"),
      s"probed-cell IN predicate not pushed to the ivf_cells scan:\n$servePlan")

    // frozen-centroid append: build on the even half, append the odd
    // half; serve over the union must equal the KERNEL composition
    // (union assigned under the even half's centroids)
    val evens = emb.filter(col("vec_id") % 2 === 0)
    val odds = emb.filter(col("vec_id") % 2 === 1)
    val dir2 = tmp("ann-index-ivf-app")
    AnnIndex.buildIvf(spark, evens, dir2)
    AnnIndex.appendIvf(spark, odds, dir2)
    val csE = VectorOps.kmeansMilli(spark, evens)
    val want = rows(VectorOps.annIvfFromQ(spark,
      VectorOps.ivfAssign(spark, emb, csE), csE, emb, q10, 5, 2))
    assert(rows(AnnIndex.serveIvf(spark, emb, dir2)) == want,
      "append-then-serve must equal frozen-centroid assignment of the union")
    val stale = AnnIndex.ivfStaleness(spark, dir2)
    assert(stale > 0L && stale < 1000L, s"staleness permille = $stale")

    // rebuild in place (a build over the existing dir at the stored
    // k) retrains on the full corpus: staleness resets, results equal
    // a fresh build at that k
    val storedK = spark.read.parquet(s"$dir2/ivf_centroids").count().toInt
    AnnIndex.buildIvf(spark, emb, dir2, k = storedK)
    assert(AnnIndex.ivfStaleness(spark, dir2) == 0L)
    val freshDir = tmp("ann-index-ivf-fresh")
    AnnIndex.buildIvf(spark, emb, freshDir, k = csE.length)
    assert(rows(AnnIndex.serveIvf(spark, emb, dir2)) ==
      rows(AnnIndex.serveIvf(spark, emb, freshDir)),
      "rebuild != fresh build at the stored k")

    // compaction covers ivf_cells ((cell, salt) re-cluster); serve is
    // bit-identical after
    AnnIndex.appendIvf(spark,
      emb.limit(20).withColumn("vec_id", col("vec_id") + 10000000L), dir)
    val before = rows(AnnIndex.serveIvf(spark, emb, dir))
    val reports = AnnIndex.compact(spark, dir).toMap
    assert(reports.contains("ivf_cells"))
    assert(rows(AnnIndex.serveIvf(spark, emb, dir)) == before,
      "IVF serve changed across compaction")

    // serving reads only the COMMITTED store: an out-of-band overwrite
    // (= crashed rebuild) fails loudly instead of serving mixed state
    val sp = spark; import sp.implicits._
    Seq.empty[(Long, Int)].toDF("vec_id", "cell")
      .write.mode("overwrite").parquet(s"$dir/ivf_cells")
    val e = intercept[IllegalArgumentException] {
      AnnIndex.serveIvf(spark, emb, dir).count()
    }
    assert(e.getMessage.contains("no committed ivf_cells"),
      s"unexpected failure: ${e.getMessage}")
  }

  test("IVF+PQ composition: serve bit-identity, unbounded shortlist degenerates to IVF, probed-cell containment") {
    val emb = VectorOps.readEmbeddings(spark, sfDir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq
    import org.apache.spark.sql.functions.col

    // stored-index serve over BOTH persisted legs == in-memory operator
    val dir = java.nio.file.Files.createTempDirectory("ann-index-ivfpq").toString
    AnnIndex.buildIvf(spark, emb, dir)
    AnnIndex.buildPq(spark, emb, dir)
    val inMem = rows(VectorOps.annIvfPq(spark, emb))
    assert(rows(AnnIndex.serveIvfPq(spark, emb, dir)) == inMem,
      "IVF+PQ serve != in-memory")

    // with a shortlist larger than any candidate set the ADC stage
    // keeps everything, so the composition degenerates EXACTLY to the
    // plain IVF operator (same candidates, same re-rank contract) —
    // this pins the probe/candidate legs against ann_ivf's
    assert(rows(VectorOps.annIvfPq(spark, emb, shortlist = 1000000)) ==
      rows(VectorOps.annIvf(spark, emb)),
      "unbounded-shortlist IVF+PQ != plain IVF")

    // both gating paths answer identically
    val cs = VectorOps.kmeansMilli(spark, emb)
    val cells = VectorOps.ivfAssign(spark, emb, cs)
    val cbs = VectorOps.pqTrain(spark, emb, 8, 64, 3, 64)
    val codes = VectorOps.pqEncode(spark, emb, cbs, 64)
    val q10 = emb.select(col("vec_id").cast("long").as("query_id"),
      col("embedding").as("q_emb")).filter(col("query_id") < 10)
    assert(rows(VectorOps.annIvfPqFromQ(spark, cells, cs, codes, cbs, emb, q10,
        5, 2, 100, 64, broadcastProbes = true)) ==
      rows(VectorOps.annIvfPqFromQ(spark, cells, cs, codes, cbs, emb, q10,
        5, 2, 100, 64, broadcastProbes = false)),
      "broadcast+IN-pruned path != shuffle fallback")

    // every returned neighbor must live in one of its query's probed
    // cells (the IVF pruning invariant the PQ stage cannot widen)
    val cellOf = cells.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val probed = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").cast("long"), col("embedding")).collect()
      .map { r =>
        r.getLong(0) ->
          VectorOps.probeCells(cs, 2)(r.getSeq[Float](1)).toSet
      }.toMap
    VectorOps.annIvfPq(spark, emb).collect().foreach { r =>
      val (q, n) = (r.getLong(0), r.getLong(1))
      assert(probed(q).contains(cellOf(n)),
        s"neighbor $n of query $q outside the probed cells")
    }

    // the bounded batch's probed cells reach the stored cell scan as
    // an IN predicate (same pruning shape as plain IVF serving)
    val servePlan = AnnIndex.serveIvfPq(spark, emb, dir)
      .queryExecution.executedPlan.toString
    assert(servePlan.matches("(?s).*PushedFilters: \\[[^\\]]*In\\(cell.*"),
      s"probed-cell IN predicate not pushed to the ivf_cells scan:\n$servePlan")
    graft.Queries.deleteDir(dir)
  }

  test("IVF+PQ lifecycle: composed serve over frozen-geometry appends == kernel composition; compaction identity") {
    val emb = VectorOps.readEmbeddings(spark, sfDir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq
    import org.apache.spark.sql.functions.col

    // build both legs on the even half, append the odd half under the
    // FROZEN centroids + codebooks; the composed serve over the union
    // must equal the kernel composition (union assigned AND encoded
    // under the even half's geometries)
    val evens = emb.filter(col("vec_id") % 2 === 0)
    val odds = emb.filter(col("vec_id") % 2 === 1)
    val dir = java.nio.file.Files.createTempDirectory("ann-index-ivfpq-life").toString
    AnnIndex.buildIvf(spark, evens, dir)
    AnnIndex.buildPq(spark, evens, dir)
    AnnIndex.appendIvf(spark, odds, dir)
    AnnIndex.appendPq(spark, odds, dir)
    val csE = VectorOps.kmeansMilli(spark, evens)
    val cbsE = VectorOps.pqTrain(spark, evens, 8, 64, 3, 64)
    val q10 = emb.select(col("vec_id").cast("long").as("query_id"),
      col("embedding").as("q_emb")).filter(col("query_id") < 10)
    val want = rows(VectorOps.annIvfPqFromQ(spark,
      VectorOps.ivfAssign(spark, emb, csE), csE,
      VectorOps.pqEncode(spark, emb, cbsE, 64), cbsE, emb, q10, 5, 2, 100, 64))
    assert(rows(AnnIndex.serveIvfPq(spark, emb, dir)) == want,
      "append-then-composed-serve must equal the frozen-geometry kernel composition")

    // compaction covers both legs; the composed serve is bit-identical
    val before = rows(AnnIndex.serveIvfPq(spark, emb, dir))
    val reports = AnnIndex.compact(spark, dir).toMap
    assert(reports.contains("ivf_cells") && reports.contains("pq_codes"))
    assert(rows(AnnIndex.serveIvfPq(spark, emb, dir)) == before,
      "composed serve changed across compaction")
    graft.Queries.deleteDir(dir)
  }

  test("AnnIndex crash protocol: debris invisible to serving, reconcile rolls back, mutationId idempotent") {
    val emb = VectorOps.readEmbeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("ann-crashlog").toString
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq
    def manifests() = new java.io.File(s"$dir/_annlog").listFiles()
      .filter(_.getName.endsWith(".list")).map(_.getName).toSet
    import org.apache.spark.sql.functions.col

    AnnIndex.buildLsh(spark, emb, dir)
    val baseline = rows(AnnIndex.serveLsh(spark, emb, dir))
    val baseVecs = AnnIndex.indexedVectors(spark, dir)
    val committed = manifests()

    // simulate a crash between an append's data writes and its commit:
    // run the append, then delete its manifest — the bucket files are
    // on disk but unlisted
    val drop = emb.limit(25).withColumn("vec_id", col("vec_id") + 20000000L)
    AnnIndex.appendLsh(spark, drop, dir)
    val appendManifest = (manifests() -- committed).head
    assert(new java.io.File(s"$dir/_annlog/$appendManifest").delete())

    // readers never see the debris: serve and the freshness counter
    // both equal the pre-append state
    assert(rows(AnnIndex.serveLsh(spark, emb, dir)) == baseline,
      "crashed-append debris leaked into serving")
    assert(AnnIndex.indexedVectors(spark, dir) == baseVecs)

    // the next writer rolls the debris back wholly, and the RETRY of
    // the same batch lands exactly once
    assert(AnnIndex.reconcile(spark, dir).nonEmpty, "debris not reconciled")
    AnnIndex.appendLsh(spark, drop, dir, mutationId = Some("drop-1"))
    val afterRetry = rows(AnnIndex.serveLsh(spark, emb.unionByName(drop), dir))
    val fullDir = java.nio.file.Files.createTempDirectory("ann-crashlog-full").toString
    AnnIndex.buildLsh(spark, emb.unionByName(drop), fullDir)
    assert(afterRetry == rows(AnnIndex.serveLsh(spark, emb.unionByName(drop), fullDir)),
      "reconcile+retry != full rebuild over the union")

    // committed mutationId makes a re-delivery a no-op (exactly-once
    // EFFECT under at-least-once callers)
    val filesBefore = new java.io.File(s"$dir/lsh_buckets").listFiles().length
    AnnIndex.appendLsh(spark, drop, dir, mutationId = Some("drop-1"))
    assert(new java.io.File(s"$dir/lsh_buckets").listFiles().length == filesBefore,
      "re-delivered mutation re-appended")
    assert(rows(AnnIndex.serveLsh(spark, emb.unionByName(drop), dir)) == afterRetry)

    // a build on one leg must not orphan a committed sibling leg: the
    // consolidated manifest carries the LSH entries across a PQ build
    AnnIndex.buildPq(spark, emb, dir)
    assert(rows(AnnIndex.serveLsh(spark, emb.unionByName(drop), dir)) == afterRetry,
      "sibling-leg build lost the LSH leg's committed files")
    assert(AnnIndex.hasCommittedIndex(spark, dir, "lsh") &&
      AnnIndex.hasCommittedIndex(spark, dir, "pq") &&
      !AnnIndex.hasCommittedIndex(spark, dir, "ivf"))
  }

  test("corpus lifecycle: extract -> embed -> index -> serve ARBITRARY query vectors") {
    val sp = spark; import sp.implicits._
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val pagesDir = tmp("life-pages")
    graft.sources.PageSource.genPages(spark, 300, 8).toDF()
      .write.mode("overwrite").parquet(pagesDir)
    val jobOut = tmp("life-job")
    ExtractJob.run(spark, pagesDir, jobOut, 8, "life1")
    val embDir = tmp("life-emb")
    val n = EmbedJob.run(spark, s"$jobOut/pages_extracted", embDir, 4)
    assert(n > 0 && n <= 300)
    val emb = spark.read.parquet(embDir)
    val idxDir = tmp("life-idx")
    AnnIndex.buildLsh(spark, emb, idxDir)
    AnnIndex.buildPq(spark, emb, idxDir)

    // queries = three CORPUS vectors under fresh negative ids (the
    // arbitrary-query serving form: ids unknown to the base) — each
    // must recover its planted vector at (near-)unit cosine
    val probe = emb.orderBy("vec_id").limit(3)
      .select(col("vec_id"), col("embedding")).collect()
    val queries = probe.zipWithIndex.map { case (r, i) =>
      (-(i + 1).toLong, r.getSeq[Float](1))
    }.toSeq.toDF("query_id", "q_emb")
    val servedL = AnnIndex.serveLshQueries(spark, emb, queries, idxDir, k = 3).collect()
    val servedP = AnnIndex.servePqQueries(spark, emb, queries, idxDir, k = 3).collect()
    for ((served, nm) <- Seq((servedL, "lsh"), (servedP, "pq"))) {
      probe.zipWithIndex.foreach { case (r, i) =>
        val qid = -(i + 1).toLong
        val hits = served.filter(_.getLong(0) == qid)
        assert(hits.nonEmpty, s"$nm: no hits for query $qid")
        val top = hits.minBy(_.getLong(2))
        assert(top.getLong(3) >= 999999L,
          s"$nm top hit must be (an exact duplicate of) the planted vector, sim=${top.getLong(3)}")
        assert(hits.exists(h => h.getLong(1) == r.getLong(0) && h.getLong(3) >= 999999L),
          s"$nm: planted vec ${r.getLong(0)} missing from unit-cosine hits")
      }
    }

    // a malformed request row (null embedding) is dropped, not an NPE;
    // the valid row in the same batch still answers
    val mixed = Seq((-9L, null.asInstanceOf[Seq[Float]]),
      (-1L, probe(0).getSeq[Float](1))).toDF("query_id", "q_emb")
    val servedMixed = AnnIndex.serveLshQueries(spark, emb, mixed, idxDir, k = 3).collect()
    assert(servedMixed.nonEmpty && servedMixed.forall(_.getLong(0) == -1L))
  }

  test("AnnIndex incremental append: LSH append == full rebuild; PQ append is batch-associative") {
    val emb = VectorOps.readEmbeddings(spark, sfDir)
    val base = emb.filter(col("vec_id") < 400)
    val drop1 = emb.filter(col("vec_id") >= 400 && col("vec_id") < 450)
    val drop2 = emb.filter(col("vec_id") >= 450)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq
    def tmp() = java.nio.file.Files.createTempDirectory("ann-append").toString

    // LSH: bucket codes are per-vector independent — appending the new
    // batch then serving equals a full rebuild over the union, exactly
    val incDir = tmp()
    AnnIndex.buildLsh(spark, base, incDir)
    AnnIndex.appendLsh(spark, drop1, incDir)
    AnnIndex.appendLsh(spark, drop2, incDir)
    val fullDir = tmp()
    AnnIndex.buildLsh(spark, emb, fullDir)
    assert(rows(AnnIndex.serveLsh(spark, emb, incDir)) ==
      rows(AnnIndex.serveLsh(spark, emb, fullDir)),
      "LSH append-then-serve must equal full rebuild")

    // PQ: codes append under the FROZEN base codebook — one two-batch
    // append and two single-batch appends must serve identically (and
    // differ from nothing: the appended vectors are searchable)
    val pqA = tmp(); val pqB = tmp()
    AnnIndex.buildPq(spark, base, pqA)
    AnnIndex.buildPq(spark, base, pqB)
    AnnIndex.appendPq(spark, drop1.unionByName(drop2), pqA)
    AnnIndex.appendPq(spark, drop1, pqB)
    AnnIndex.appendPq(spark, drop2, pqB)
    val servedA = rows(AnnIndex.servePq(spark, emb, pqA))
    assert(servedA == rows(AnnIndex.servePq(spark, emb, pqB)),
      "PQ appends must be batch-associative")
    // appended vectors really entered the index: some neighbor id >= 400
    // OR the base-only serve differs (the drop changed at least one list)
    val baseOnly = tmp()
    AnnIndex.buildPq(spark, base, baseOnly)
    assert(servedA != rows(AnnIndex.servePq(spark, emb, baseOnly)),
      "appended vectors must be searchable")
  }

  test("AnnIndex maintenance: compact after appends serves bit-identically; PQ staleness + rebuild") {
    val emb = VectorOps.readEmbeddings(spark, sfDir)
    val base = emb.filter(col("vec_id") < 400)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq
    def nFiles(d: String) = new java.io.File(d).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val dir = java.nio.file.Files.createTempDirectory("ann-maint").toString

    // build + 4 append drops → small-file accumulation in both relations
    AnnIndex.buildLsh(spark, base, dir)
    AnnIndex.buildPq(spark, base, dir)
    assert(AnnIndex.pqStaleness(spark, dir) == 0L, "fresh build is fully trained")
    (0 until 4).foreach { i =>
      val drop = emb.filter(col("vec_id") >= 400 + i * 25 && col("vec_id") < 425 + i * 25)
      AnnIndex.appendLsh(spark, drop, dir)
      AnnIndex.appendPq(spark, drop, dir)
    }
    // staleness = appended/total = 100/500 → 200 permille
    assert(AnnIndex.pqStaleness(spark, dir) == 200L,
      s"got ${AnnIndex.pqStaleness(spark, dir)}")

    // compact both relations: fewer files, served results bit-identical
    val beforeL = rows(AnnIndex.serveLsh(spark, emb, dir))
    val beforeP = rows(AnnIndex.servePq(spark, emb, dir))
    val (fL0, fP0) = (nFiles(s"$dir/lsh_buckets"), nFiles(s"$dir/pq_codes"))
    val reports = AnnIndex.compact(spark, dir)
    assert(reports.map(_._1) == Seq("lsh_buckets", "pq_codes"))
    assert(nFiles(s"$dir/lsh_buckets") < fL0 && nFiles(s"$dir/pq_codes") < fP0,
      "compaction must reduce file counts")
    assert(rows(AnnIndex.serveLsh(spark, emb, dir)) == beforeL,
      "LSH serve changed across compaction")
    assert(rows(AnnIndex.servePq(spark, emb, dir)) == beforeP,
      "PQ serve changed across compaction")
    assert(AnnIndex.pqStaleness(spark, dir) == 200L,
      "compaction must not reset staleness")

    // retrain in place (a build over the existing dir, geometry read
    // from the stored codebook): staleness returns to 0 and the index
    // equals a fresh build over the full relation, bit-for-bit
    val cb = spark.read.parquet(s"$dir/pq_codebook")
    val (m, kCode) = (cb.select("s").distinct().count().toInt,
      cb.select("cid").distinct().count().toInt)
    val sub = cb.select("centroid").head().getSeq[Long](0).length
    AnnIndex.buildPq(spark, emb, dir, m = m, kCode = kCode, dim = m * sub)
    assert(AnnIndex.pqStaleness(spark, dir) == 0L)
    val freshDir = java.nio.file.Files.createTempDirectory("ann-fresh").toString
    AnnIndex.buildPq(spark, emb, freshDir)
    assert(rows(AnnIndex.servePq(spark, emb, dir)) ==
      rows(AnnIndex.servePq(spark, emb, freshDir)),
      "rebuild must equal a fresh build over the same relation")
  }

  test("annRecall: hit counts match a hand-join of the top-k outputs; deterministic") {
    val emb = VectorOps.readEmbeddings(spark, sfDir)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(VectorOps.annBrute(emb))
    val wantIvf = (pairs(VectorOps.annIvf(spark, emb)) intersect exact).size.toLong
    val wantLsh = (pairs(VectorOps.annLsh(spark, emb)) intersect exact).size.toLong
    val wantPq = (pairs(VectorOps.annPq(spark, emb)) intersect exact).size.toLong
    val got = VectorOps.annRecall(spark, emb).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSeq == Seq("ivf", "lsh", "pq"))
    val byM = got.map(r => r._1 -> r).toMap
    assert(byM("ivf")._2 == wantIvf && byM("lsh")._2 == wantLsh &&
      byM("pq")._2 == wantPq)
    got.foreach { case (_, hits, total, milli) =>
      assert(total == 50L && hits >= 0L && hits <= 50L && milli == hits * 1000L / 50L)
    }
    // deterministic across runs
    assert(VectorOps.annRecall(spark, emb).collect().toSeq ==
      VectorOps.annRecall(spark, emb).collect().toSeq)
  }

  test("dsirWeights: distributed == sequential reference; target-like docs rank higher; degenerate docs zero") {
    val sp = spark; import sp.implicits._
    // planted corpus: 'en' docs draw from vocab A, others from vocab B,
    // mixed docs share both — A-bigrams get high target share, so docs
    // heavier in A must rank higher. Plus degenerate 0/1-word docs.
    val a = (0 until 10).map(i => s"alpha$i")
    val b = (0 until 10).map(i => s"beta$i")
    val docs = Seq(
      (1L, a.mkString(" "), "en"), (2L, a.reverse.mkString(" "), "en"),
      (3L, b.mkString(" "), "de"), (4L, b.reverse.mkString(" "), "fr"),
      (5L, (a.take(5) ++ b.take(5)).mkString(" "), "de"),
      (6L, "", "en"), (7L, "solo", "de"))
      .toDF("doc_id", "text", "lang")
    // sequential reference (direct spec transcription)
    val rows = Seq(
      (1L, a, "en"), (2L, a.reverse, "en"), (3L, b, "de"),
      (4L, b.reverse, "fr"), (5L, a.take(5) ++ b.take(5), "de"),
      (6L, Seq.empty[String], "en"), (7L, Seq("solo"), "de"))
    def bOf(g: String) = java.lang.Long.remainderUnsigned(
      graft.ops.TextOps.fnv1a64(g), 4096L).toInt
    val occ = rows.flatMap { case (_, ws, lang) =>
      ws.sliding(2).filter(_.size == 2).map(p => (bOf(p.mkString(" ")), lang == "en"))
    }
    val share = occ.groupBy(_._1).view.mapValues { os =>
      os.count(_._2).toLong * 1000L / os.size.toLong
    }.toMap
    val want = rows.map { case (id, ws, _) =>
      val bs = ws.sliding(2).filter(_.size == 2).map(p => bOf(p.mkString(" "))).toSeq
      val s = bs.map(share).sum
      (id, bs.size.toLong, s, if (bs.isEmpty) 0L else s * 1000L / bs.size)
    }
    val got = graft.ops.TextOps.dsirWeights(spark, docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want)
    val byId = got.map(r => r._1 -> r._4).toMap
    // pure-target docs outrank pure-other docs; the mix sits between
    assert(byId(1L) > byId(3L) && byId(2L) > byId(4L))
    assert(byId(5L) > byId(3L) && byId(5L) < byId(1L))
    // degenerate docs emit zero-weight rows, not errors or dropped rows
    assert(byId(6L) == 0L && byId(7L) == 0L)
  }

  test("hostCap: salted two-phase == sequential reference; salt-invariant; mega-host capped") {
    val sp = spark; import sp.implicits._
    // adversarial skew: one host owns ~94% of the corpus, one host has
    // exactly cap rows, one fewer, plus deliberate n_tokens ties that
    // only the doc_id tiebreak resolves
    val rows = (0 until 900).map(i => (i.toLong, "mega.example", (i % 7).toLong + 10L)) ++
      (900 until 905).map(i => (i.toLong, "five.example", 50L)) ++
      Seq((905L, "one.example", 3L))
    val docs = rows.toDF("doc_id", "host", "n_tokens")
    val cap = 5
    // sequential reference: per-host sort by (n_tokens desc, doc_id asc)
    val want = rows.groupBy(_._2).toSeq.flatMap { case (_, g) =>
      g.sortBy { case (id, _, nt) => (-nt, id) }.take(cap).zipWithIndex
        .map { case ((id, h, nt), i) => (id, h, nt, (i + 1).toLong) }
    }.sortBy(_._1)
    def got(salt: Int) = graft.ops.TextOps.hostCap(docs, cap, salt)
      .select("doc_id", "host", "n_tokens", "cap_rank").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got(16) == want, "two-phase != sequential reference")
    // the salt is an execution detail, never a semantic one
    assert(got(1) == want && got(3) == want && got(64) == want,
      "result must be salt-invariant")
    // mega-host really truncated; small hosts intact
    val byHost = want.groupBy(_._2).view.mapValues(_.size).toMap
    assert(byHost("mega.example") == cap && byHost("five.example") == cap &&
      byHost("one.example") == 1)
    // cap >= every group: nothing dropped, ranks are a permutation
    assert(graft.ops.TextOps.hostCap(docs, 1000, 8).count() == rows.size.toLong)
  }

  test("AnnServeJob: batch serving from a stored index == library serve, all five kinds") {
    val sp = spark; import sp.implicits._
    val emb = VectorOps.readEmbeddings(spark, sfDir)
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val idxDir = tmp("serve-job-idx")
    AnnIndex.buildLsh(spark, emb, idxDir)
    AnnIndex.buildPq(spark, emb, idxDir)
    AnnIndex.buildSq(spark, emb, idxDir)
    AnnIndex.buildIvf(spark, emb, idxDir)

    // request batch = three corpus vectors under fresh negative ids,
    // plus one null-embedding row (must be dropped, not an NPE)
    val probe = emb.orderBy("vec_id").limit(3)
      .select(col("vec_id"), col("embedding")).collect()
    val embPath = tmp("serve-job-emb") + "/emb.parquet"
    emb.write.mode("overwrite").parquet(embPath)
    val qPath = tmp("serve-job-q") + "/queries.parquet"
    (probe.zipWithIndex.map { case (r, i) =>
      (-(i + 1).toLong, r.getSeq[Float](1))
    }.toSeq :+ (-9L, null.asInstanceOf[Seq[Float]]))
      .toDF("query_id", "q_emb").write.mode("overwrite").parquet(qPath)
    val queries = spark.read.parquet(qPath)

    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    for (kind <- Seq("lsh", "pq", "sq", "ivf", "ivfpq")) {
      val outDir = tmp(s"serve-job-out-$kind")
      val (nQ, nR) = AnnServeJob.run(spark, idxDir, embPath, qPath, outDir, kind, k = 3)
      assert(nQ == 4L, s"$kind: nQueries")
      val want = kind match {
        case "lsh" => AnnIndex.serveLshQueries(spark, emb, queries, idxDir, 3)
        case "pq" => AnnIndex.servePqQueries(spark, emb, queries, idxDir, 3)
        case "sq" => AnnIndex.serveSqQueries(spark, emb, queries, idxDir, 3)
        case "ivf" => AnnIndex.serveIvfQueries(spark, emb, queries, idxDir, 3)
        case "ivfpq" => AnnIndex.serveIvfPqQueries(spark, emb, queries, idxDir, 3)
      }
      val got = spark.read.parquet(outDir)
      assert(nR == got.count(), s"$kind: reported result count != written rows")
      assert(sortedRows(got) == sortedRows(want), s"$kind: job output != library serve")
      // null-embedding request dropped; real requests answered
      val qids = got.select("query_id").distinct().collect().map(_.getLong(0)).toSet
      assert(!qids.contains(-9L) && qids == Set(-1L, -2L, -3L), s"$kind: qids=$qids")
    }
    intercept[IllegalArgumentException] {
      AnnServeJob.run(spark, idxDir, embPath, qPath, tmp("serve-job-bad"), "hnsw")
    }
  }

  test("tiersOf: distributed rank equals the window ntile exactly") {
    // The scale-safe tiersOf (range partition + local row_number +
    // driver offsets + closed-form ntile) must reproduce the global
    // window ntile ROW FOR ROW: planted-rank shapes, heavy rank TIES
    // (broken by host asc), totals below/above/at multiples of nTiers,
    // and nTiers = 1.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    def reference(ranks: org.apache.spark.sql.DataFrame, n: Int) = ranks
      .withColumn("tier", ntile(n).over(
        Window.orderBy(col("rank_milli").desc, col("host").asc)))
      .select(col("host"), col("tier").cast("long").as("tier"))
    val shapes = Seq(
      // heavy ties: ranks collapse to i/10 — tier boundaries cut
      // mid-tie, which only the host tiebreak resolves
      (0 until 100).map(i => (f"host$i%03d.example", (i / 10).toLong * 100L)),
      // fewer rows than tiers
      (0 until 5).map(i => (s"h$i.example", 1000L - i)),
      // exact multiple of tiers
      (0 until 12).map(i => (s"h$i.example", (i % 3).toLong)),
      // single row
      Seq(("only.example", 42L)))
    for (shape <- shapes; n <- Seq(1, 2, 3, 4, 7, 11)) {
      val ranks = shape.toDF("host", "rank_milli").repartition(5)
      val got = graft.ops.GraphOps.tiersOf(ranks, n)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val want = reference(ranks, n)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(got == want, s"shape=${shape.size} rows, nTiers=$n")
    }
    // and the plan must NOT contain a global (unpartitioned) window —
    // the single-reducer shape this rewrite removes
    val plan = graft.ops.GraphOps.tiersOf(
      shapes.head.toDF("host", "rank_milli"), 3).queryExecution.executedPlan.toString
    assert(!plan.contains("ntile"), plan)
  }
}
