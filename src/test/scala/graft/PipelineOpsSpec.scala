package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TextOps
import graft.sources.PageSource

/** Training-pipeline operator guarantees: connected-component dup
  * clustering (transitivity over near+exact edges), Gopher-style
  * repetition features, token-budget shard packing, and deterministic
  * stratified sampling (splitmixCol == the JVM kernel bit-for-bit).
  */
class PipelineOpsSpec extends AnyFunSuite with SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  test("splitmixCol is bit-for-bit equal to the JVM splitmix64 kernel") {
    val sp = spark; import sp.implicits._
    graft.functions.GraftExtensions.register(spark)
    val inputs = Seq(0L, 1L, -1L, Long.MinValue, Long.MaxValue,
      0x5eedcafef00dL, -987654321L) ++ (0 until 100).map(i => i * 0x9e3779bL - 50)
    val got = inputs.toDF("x")
      .select(TextOps.splitmixCol(col("x")).as("h"))
      .collect().map(_.getLong(0))
    val want = inputs.map(PageSource.splitmix64)
    assert(got.toSeq == want)
  }

  test("unsignedMod1000 matches Long.remainderUnsigned") {
    val sp = spark; import sp.implicits._
    val inputs = Seq(0L, 999L, 1000L, -1L, -616L, Long.MinValue, Long.MaxValue,
      -1000000007L, 123456789012345678L)
    val got = inputs.toDF("x")
      .select(TextOps.unsignedMod1000(col("x")).as("m"))
      .collect().map(_.getLong(0))
    val want = inputs.map(x => java.lang.Long.remainderUnsigned(x, 1000L))
    assert(got.toSeq == want)
  }

  test("connectedComponents: chain + pair + singleton") {
    val sp = spark; import sp.implicits._
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    // chain 1-2-3 (transitivity), pair 5-6, singleton 4
    val edges = Seq((2L, 3L), (1L, 2L), (5L, 6L)).toDF("doc_a", "doc_b")
    val got = TextOps.connectedComponentsStar(nodes, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L))
  }

  test("dupCluster matches an independent JVM union-find over the same edges") {
    val rows = Queries.dupCluster(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val byId = rows.map(t => t._1 -> t).toMap

    // independent expected computation: collect the corpus, derive the
    // exact edges (identical text) + near edges (the oracle-proven
    // dedupMinhash output) in plain Scala, union-find the components.
    val docs = TextOps.readDocs(spark, sfDir)
    val corpusNear = TextOps.corpusWithNearDups(docs)
    val corpus = corpusNear.unionByName(
      corpusNear.filter(col("doc_id") % 20 === 0)
        .withColumn("doc_id", col("doc_id") + lit(2000000L)))
      .select(col("doc_id").cast("long"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val nearPairs = TextOps.dedupMinhash(spark, corpusNear)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val exactPairs = corpus.groupBy(_._2).values
      .flatMap { g => val ids = g.map(_._1).sorted; ids.tail.map(ids.head -> _) }
    val parent = scala.collection.mutable.Map(corpus.map(c => c._1 -> c._1): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    (nearPairs ++ exactPairs).foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expectRoot = corpus.map(c => c._1 -> find(c._1)).toMap
    val expectSize = expectRoot.values.groupBy(identity).view.mapValues(_.size.toLong).toMap

    assert(rows.length == corpus.length)
    corpus.foreach { case (id, _) =>
      val root = expectRoot(id)
      assert(byId(id) == ((id, root, expectSize(root), id == root)),
        s"doc $id: got ${byId(id)}, want ($id, $root, ${expectSize(root)}, ${id == root})")
    }
    // the planted 4-node chain exists and is transitive: d —near— d+1e6,
    // d —exact— d+2e6, d+1e6 —exact— d+3e6 all share one cluster
    val chained = corpus.map(_._1).filter(d => d < 1000000L && d % 20 == 0)
    assert(chained.nonEmpty)
    chained.foreach { d =>
      val cid = byId(d)._2
      Seq(d + 1000000L, d + 2000000L, d + 3000000L).foreach { m =>
        assert(byId(m)._2 == cid, s"member $m not in cluster of $d")
      }
      assert(byId(d)._3 >= 4L)
    }
  }

  test("repetitionStats computes exact word/bigram frequency maxima") {
    val sp = spark; import sp.implicits._
    val docs = Seq(
      (1L, "a b a b c"),          // max word 2 (a/b), max bigram 2 ("a b")
      (2L, "x x x x"),            // max word 4, max bigram 3 ("x x")
      (3L, "u v w")               // all unique
    ).toDF("doc_id", "text")
    val got = TextOps.repetitionStats(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))
    assert(got.toSeq == Seq(
      (1L, 5L, 3L, 2L, 2L, false),
      (2L, 4L, 1L, 4L, 3L, true),
      (3L, 3L, 3L, 1L, 1L, false)))
  }

  test("shardPack: shards are contiguous per bucket and budget-bounded") {
    val budget = 2048L
    val rows = TextOps.shardPack(TextOps.readDocs(spark, sfDir), 8, budget)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (_, bucketRows) =>
      val ordered = bucketRows.sortBy(_._1)
      // shard ids non-decreasing in doc order, starting at 0
      assert(ordered.head._4 == 0L)
      ordered.sliding(2).foreach {
        case Array((_, _, _, s1), (_, _, _, s2)) => assert(s2 >= s1 && s2 <= s1 + (ordered.map(_._3).max / budget + 1))
        case _ =>
      }
      // each doc's shard == floor(preceding-tokens / budget)
      var cum = 0L
      ordered.foreach { case (_, _, tok, shard) =>
        assert(shard == cum / budget)
        cum += tok
      }
    }
  }

  test("exactDupEdges: no Exchange carries document text") {
    val docs = TextOps.corpusWithNearDups(TextOps.readDocs(spark, sfDir))
    val plan = TextOps.exactDupEdges(docs).queryExecution.executedPlan
    val badExchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange
        if e.output.exists(_.name == "text") => e
    }
    assert(badExchanges.isEmpty,
      s"text column crosses a shuffle: ${badExchanges.map(_.output.map(_.name))}")
  }

  test("urlNormalize undoes all four deterministic mutations") {
    val rows = Queries.urlNormalizeQ(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, messy, norm) =>
      val clean = PageSource.urlOf(id)
      val expected = if (id % 4 == 3) clean + "?a=1&b=2" else clean
      assert(norm == expected, s"doc $id: $messy -> $norm, want $expected")
      if (id % 4 != 3) assert(messy != norm || id % 4 == -1)
    }
  }

  test("piiScrub redacts every planted email and counts it") {
    val rows = Queries.piiScrubQ(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, n, clean) =>
      assert(n == 1L, s"doc $id: $n redactions")
      assert(!clean.contains("@"), s"doc $id still contains an email")
      assert(clean.endsWith(" contact <EMAIL> for details"))
    }
  }

  test("plan shapes: rep_ratio is shuffle-free pre-sort; shard_pack has one data shuffle") {
    import org.apache.spark.sql.execution.exchange.Exchange
    val docs = TextOps.readDocs(spark, sfDir)
    // rep_ratio: per-row folds only — the single exchange is the final
    // presentation orderBy, nothing else
    val repEx = TextOps.repetitionStats(docs)
      .queryExecution.executedPlan.collect { case e: Exchange => e }
    assert(repEx.size <= 1, s"rep_ratio shuffles ${repEx.size}x")
    // shard_pack: one hash exchange for the bucket window + the final
    // presentation sort
    val packEx = TextOps.shardPack(docs)
      .queryExecution.executedPlan.collect { case e: Exchange => e }
    assert(packEx.size <= 2, s"shard_pack shuffles ${packEx.size}x")
    // strat_sample: filter at the scan — no exchange except the sort
    val sampEx = TextOps.stratifiedSample(docs)
      .queryExecution.executedPlan.collect { case e: Exchange => e }
    assert(sampEx.size <= 1, s"strat_sample shuffles ${sampEx.size}x")
    // host_cap: exactly the two designed exchanges — (host, salt) for
    // the local prune, host for the global rank — and neither carries
    // text (the cap relation is ids+host+count by contract)
    val sp2 = spark; import sp2.implicits._
    val capIn = (0 until 100).map(i => (i.toLong, s"h${i % 3}", (i % 11).toLong))
      .toDF("doc_id", "host", "n_tokens")
    // (string count: AQE wraps the plan, so collect{Exchange} sees
    // nothing pre-execution — same convention as SparkPipelineSpec)
    val capPlan = TextOps.hostCap(capIn, 4)
      .queryExecution.executedPlan.toString
    val capEx = capPlan.linesIterator.count(_.contains("Exchange"))
    assert(capEx == 2, s"host_cap shuffles ${capEx}x (want 2):\n$capPlan")
    assert(!capPlan.contains("Broadcast"), "host_cap must not broadcast")
  }

  test("urlNormalize is idempotent (property)") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(7)
    val urls = (0 until 300).map { i =>
      val scheme = if (rnd.nextBoolean()) "https" else "HTTPS"
      val host = (if (rnd.nextBoolean()) "Ex" else "ex") + i % 7 + ".Example"
      val port = if (rnd.nextInt(3) == 0) ":443" else ""
      val path = s"/P/$i"
      val q = rnd.nextInt(3) match {
        case 0 => "" case 1 => "?b=2&a=1" case _ => "?z=9&m=4&a=0"
      }
      val frag = if (rnd.nextBoolean()) "#Sec" else ""
      (i.toLong, s"$scheme://$host$port$path$q$frag")
    }
    val once = TextOps.urlNormalize(urls.toDF("doc_id", "url_messy"))
      .collect().map(r => (r.getLong(0), r.getString(2)))
    val twice = TextOps.urlNormalize(
      once.toSeq.toDF("doc_id", "url_messy"))
      .collect().map(r => (r.getLong(0), r.getString(2)))
    assert(twice.toSeq == once.toSeq)
    once.foreach { case (_, u) =>
      assert(!u.contains("#") && !u.contains(":443"), u)
      assert(u.startsWith("https://ex"), u)
    }
  }

  test("decontaminate flags the planted quote-docs with their full gram count") {
    val sp = spark; import sp.implicits._
    val docs = TextOps.readDocs(spark, sfDir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val got = Queries.decontaminateQ(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // every eval doc's quote-plant is flagged with ALL its distinct 8-grams
    val evalDocs = docs.filter(col("doc_id") % 50 === 0)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(evalDocs.nonEmpty)
    evalDocs.foreach { case (id, text) =>
      val words = text.split(' ')
      val nGrams = words.sliding(8).map(_.mkString(" ")).toSet.size
      assert(got.get(id + 4000001L).exists(_ >= nGrams),
        s"plant for eval doc $id: ${got.get(id + 4000001L)} < $nGrams")
    }
    // no eval doc appears in the output
    assert(!evalDocs.exists { case (id, _) => got.contains(id) })
  }

  test("decontaminateBloom is row-identical to decontaminate (exactness-preserving pre-filter)") {
    val exact = Queries.decontaminateQ(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val bloom = Queries.decontaminateBloomQ(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(bloom == exact)
    assert(bloom.nonEmpty)
    // a deliberately terrible fpp (50% false positives reach the
    // confirm join) must STILL be exact — only wasted wire, never a
    // wrong row
    val docs = TextOps.readDocs(spark, sfDir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val planted = docs.filter(col("doc_id") % 50 === 0)
      .withColumn("doc_id", col("doc_id") + lit(4000001L))
    val sloppy = TextOps.decontaminateBloom(docs.unionByName(planted), fpp = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(sloppy == exact)
  }

  test("decontaminateBloom never broadcasts the eval-gram strings") {
    val docs = TextOps.readDocs(spark, sfDir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val plan = TextOps.decontaminateBloom(docs)
      .queryExecution.optimizedPlan.toString()
    // the exact-confirm join must carry no broadcast HINT (AQE may
    // still size-promote at test scale; the invariant is that WE never
    // force a string-carrying broadcast)
    assert(!plan.contains("ResolvedHint"), plan.linesIterator.take(30).mkString("\n"))
    // and the bloom probe is in the plan (the pre-filter actually fires)
    assert(plan.contains("bloom_might_contain"))
  }

  test("mixTemperature: sqrt-weighted rates, budget respected, kept matches the JVM kernel") {
    val docs = TextOps.readDocs(spark, sfDir)
    val rows = Queries.mixTemperatureQ(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    def isqrt(n: Long): Long = { // exact integer sqrt reference
      var s = math.sqrt(n.toDouble).toLong
      while ((s + 1) * (s + 1) <= n) s += 1
      while (s * s > n) s -= 1
      s
    }
    val total = rows.map(_._2).sum
    val sIsq = rows.map(t => isqrt(t._2)).sum
    rows.foreach { case (lang, n, rate, kept) =>
      val want = math.min(1000L, (total / 2L) * 1000L * isqrt(n) / (sIsq * n))
      assert(rate == want, s"$lang rate $rate != $want")
      assert(kept <= n)
      val expect = docs.filter(col("lang") === lang)
        .select(col("doc_id").cast("long")).collect().map(_.getLong(0))
        .count(id => java.lang.Long.remainderUnsigned(
          PageSource.splitmix64(id ^ TextOps.TempSeed), 1000L) < rate)
      assert(kept == expect, s"$lang kept $kept != $expect")
    }
    // temperature flattening: isqrt is a step function, so rates are
    // only guaranteed monotone across a REAL size gap (isqrt(n)/n can
    // locally invert between near-equal strata, e.g. 8/80 < 9/82) —
    // assert it for every pair at least 2x apart, where
    // isqrt(2n)/(2n) < isqrt(n)/n holds unconditionally (n >= 3)
    val byN = rows.sortBy(_._2)
    for {
      (_, n1, r1, _) <- byN
      (_, n2, r2, _) <- byN
      if n2 >= 2 * n1 && n1 >= 3
    } assert(r1 >= r2, s"rate not monotone across 2x gap: n=$n1 r=$r1 vs n=$n2 r=$r2")
  }

  test("ngramCensus finds the mutated-copy grams at count 2") {
    val rows = Queries.ngramCensusQ(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.length == 20)
    assert(rows.forall(_._2 >= 2L))
    // descending counts, ties by gram
    rows.sliding(2).foreach {
      case Array((g1, c1), (g2, c2)) =>
        assert(c1 > c2 || (c1 == c2 && g1 < g2))
      case _ =>
    }
  }

  test("oovRatio: docs built from rare words are flagged, common-word docs are not") {
    val sp = spark; import sp.implicits._
    // 2 common words dominate; doc 3 is all singletons (100% OOV with K=2)
    val docs = Seq(
      (1L, "aa bb aa bb aa bb"),
      (2L, "aa bb aa bb"),
      (3L, "qq rr ss tt")
    ).toDF("doc_id", "text")
    val got = TextOps.oovRatio(docs, vocabK = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.toSeq == Seq((1L, 6L, 0L, false), (2L, 4L, 0L, false), (3L, 4L, 4L, true)))
  }

  test("lmScore: repeated transitions outrank hapax gibberish; smoothing caps unique bigrams") {
    val sp = spark; import sp.implicits._
    val fluent = "the cat sat on the mat"
    val docs = ((1L to 5L).map(i => (i, fluent)) :+ (9L, "zq vx bl kw jq nn"))
      .toDF("doc_id", "text")
    val got = TextOps.lmScore(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // gibberish: every bigram is hapax -> 1000 // (1+4) = 200 exactly
    assert(got.last == ((9L, 5L, 200L)))
    // fluent copies: identical rows, scored above the hapax ceiling
    val fl = got.filter(_._1 <= 5L)
    assert(fl.map(_._3).distinct.size == 1 && fl.head._2 == 5L)
    assert(fl.head._3 > 200L)
    // hand-check one conditional: "cat sat" cb=5, c1(cat)=5 -> 5000//9=555;
    // "the cat"/"the mat" cb=5, c1(the)=10 -> 5000//14=357; "sat on","on the",
    // "mat"-less; mean = (357+555+357+357+555... ) recomputed exactly:
    val c = Map("the" -> 10L, "cat" -> 5L, "sat" -> 5L, "on" -> 5L, "mat" -> 5L)
    val bigrams = fluent.split(' ').sliding(2).toSeq
    val expect = bigrams.map { case Array(a, _) => 5L * 1000L / (c(a) + 4L) }.sum / bigrams.size
    assert(fl.head._3 == expect)
  }

  test("lmScore: zero-bigram docs keep a zero row; partitioning-invariant") {
    val sp = spark; import sp.implicits._
    val docs = Seq((1L, "solo"), (2L, "a b a b"), (3L, "a b")).toDF("doc_id", "text")
    val got = TextOps.lmScore(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.head == ((1L, 0L, 0L)))
    val re = TextOps.lmScore(docs.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == re)
  }

  test("textClean: adversarial control soup normalizes; idempotent; empty-safe") {
    val sp = spark; import sp.implicits._
    val cases = Seq(
      (1L, "\u0000a\u0001b", "a b"),  // NUL/SOH soup
      (2L, "  lots   of\t\tgaps  ", "lots of gaps"),
      (3L, "crlf\r\njoin\rand\nmore", "crlf join and more"),
      (4L, "\u000Bvertical\ftab\u007Fdel", "vertical tab del"),
      (5L, "", ""),
      (6L, "already clean", "already clean"))
    val got = TextOps.textClean(cases.map(c => (c._1, c._2)).toDF("doc_id", "dirty"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    cases.foreach { case (id, _, want) => assert(got(id) == want, s"doc $id") }
    // idempotence: cleaning the cleaned output is a fixpoint
    val again = TextOps.textClean(
      got.toSeq.map { case (id, t) => (id, t) }.toDF("doc_id", "dirty"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(again == got)
  }

  test("lineDedup: first occurrence survives, later copies cut, reassembly byte-exact") {
    val sp = spark; import sp.implicits._
    // hand corpus on pre-split paragraphs (no synth): doc 1 owns A,B;
    // doc 2 repeats A (cross-doc dup) and its own C twice (in-doc dup);
    // doc 3 is ALL repeats — every paragraph must vanish
    val withParas = Seq(
      (1L, "alpha one\nbeta two"),
      (2L, "alpha one\ngamma three\ngamma three"),
      (3L, "alpha one\nbeta two")).toDF("doc_id", "ptext")
    val got = TextOps.lineDedup(withParas).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(got == Seq(
      (1L, 2L, 2L, "alpha one\nbeta two"),
      (2L, 3L, 1L, "gamma three"),
      (3L, 2L, 0L, "")))
    // the synth corpus: header shared across doc_id%7, footer across ALL
    val docs = TextOps.readDocs(spark, sfDir)
    val deduped = TextOps.lineDedup(TextOps.corpusWithParas(docs)).collect()
    val nDocs = deduped.length
    val footerKept = deduped.map(_.getString(3))
      .count(_.split('\n').contains(TextOps.ParaFooter))
    assert(footerKept == 1, s"universal footer must survive exactly once, got $footerKept")
    val headersKept = deduped.map(_.getString(3)).flatMap(_.split('\n'))
      .count(_.startsWith(TextOps.ParaHeaderPrefix))
    assert(headersKept == math.min(7, nDocs), s"one survivor per header variant, got $headersKept")
    // partition-invariance (first-occurrence rule is data-, not order-, defined)
    val re = TextOps.lineDedup(TextOps.corpusWithParas(docs.repartition(7))).collect()
    assert(deduped.map(_.toSeq).toSeq == re.map(_.toSeq).toSeq)
  }

  test("bpeTrain: weighted pair counts, ASCII tie-break, greedy run-parity application") {
    val sp = spark; import sp.implicits._
    import graft.ops.Bpe
    // census: aaab ×2, aab ×1 → (a,a) counts 2·2+1 = 5 beats (a,b) 3;
    // after the merge, (aa,a) and (a,b) tie at 2 → left "a" < "aa"
    val docs = Seq((1L, "aaab aaab aab")).toDF("doc_id", "text")
    val got = Bpe.bpeTrain(spark, docs, merges = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).toSeq
    assert(got == Seq((0L, "a", "a", "aa", 5L), (1L, "a", "b", "ab", 2L)))
    // run parity: "aaaa" has three overlapping (a,a) positions — greedy
    // keeps offsets 0 and 2 → [aa, aa], so the next best pair is (aa, aa)
    val runs = Bpe.bpeTrain(spark, Seq((1L, "aaaa")).toDF("doc_id", "text"), merges = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).toSeq
    assert(runs == Seq((0L, "a", "a", "aa", 3L), (1L, "aa", "aa", "aaaa", 1L)))
    // the encoder applies merges in learned order
    assert(Bpe.encode("aaab", Seq(("a", "a"), ("a", "b"))).toSeq == Seq("aa", "ab"))
    assert(Bpe.encode("aaaa", Seq(("a", "a"), ("aa", "aa"))).toSeq == Seq("aaaa"))
    // partition invariance on the real corpus (census is order-free)
    val corpus = TextOps.readDocs(spark, sfDir)
    val a = Bpe.bpeTrain(spark, corpus).collect().map(_.toSeq).toSeq
    val b = Bpe.bpeTrain(spark, corpus.repartition(7)).collect().map(_.toSeq).toSeq
    assert(a == b && a.length == Bpe.Merges)
  }

  test("bpe merge table round-trips through parquet; stored-table encoding == train-time") {
    import graft.ops.Bpe
    val docs = TextOps.readDocs(spark, sfDir)
    val trained = Bpe.trainMerges(Bpe.wordCensus(docs), Bpe.Merges)
    val dir = java.nio.file.Files.createTempDirectory("bpe-merges").toString
    Bpe.saveMerges(spark, dir, trained)
    val loaded = Bpe.loadMerges(spark, dir)
    assert(loaded == trained.map { case (_, l, r, _, _) => (l, r) })
    // encoding under the stored artifact is identical
    val sample = Bpe.wordCensus(docs, 50).map(_._1)
    sample.foreach { w =>
      assert(Bpe.encode(w, loaded).toSeq ==
        Bpe.encode(w, trained.map { case (_, l, r, _, _) => (l, r) }).toSeq)
    }
  }

  test("TokenizerJob: trains once, persists the artifact, counts under it") {
    val sp = spark; import sp.implicits._
    import graft.ops.Bpe
    val in = java.nio.file.Files.createTempDirectory("tok-in").toString
    val docs = TextOps.readDocs(spark, sfDir)
    docs.select(concat(lit("https://t.example/"), col("doc_id")).as("url"), col("text"))
      .write.mode("overwrite").parquet(in)
    val mergesDir = java.nio.file.Files.createTempDirectory("tok-merges").toString
    val r = TokenizerJob.run(spark, in, mergesDir)
    assert(r.nDocs == docs.count() && r.nMerges == Bpe.Merges)
    assert(r.nBpeTokens >= r.nWords && r.nBpeTokens > 0)
    // the stored artifact reproduces the job's own counts (and a fresh
    // in-memory train over the same corpus agrees)
    val keyed = spark.read.parquet(in)
      .select(xxhash64(col("url")).as("doc_id"), col("text"))
    val under = Bpe.bpeTokenCountWith(spark, keyed, Bpe.loadMerges(spark, mergesDir))
      .agg(sum(col("n_bpe_tokens"))).collect()(0).getLong(0)
    assert(under == r.nBpeTokens)
    val fresh = Bpe.bpeTokenCount(spark, keyed)
      .agg(sum(col("n_bpe_tokens"))).collect()(0).getLong(0)
    assert(fresh == r.nBpeTokens)
  }

  test("bpeTokenCount: per-doc counts == driver encode recompute; merges only shrink") {
    val sp = spark; import sp.implicits._
    import graft.ops.Bpe
    val docs = TextOps.readDocs(spark, sfDir)
    val got = Bpe.bpeTokenCount(spark, docs).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val table = Bpe.trainMerges(Bpe.wordCensus(docs), Bpe.Merges)
      .map { case (_, l, r, _, _) => (l, r) }
    val sample = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect().take(20)
    sample.foreach { case (id, text) =>
      val words = text.split(' ').filter(_.nonEmpty)
      val want = words.map(w => Bpe.encode(w, table).length.toLong).sum
      assert(got(id) == ((words.length.toLong, want)), s"doc $id")
      // merging never grows a word, and every word is >= 1 token
      assert(want >= words.length && want <= text.length)
    }
  }

  test("cmsCensus: estimates are sound over-counts; JVM sketch recompute matches; partition-invariant") {
    val sp = spark; import sp.implicits._
    // skewed corpus: "hot" dominates, a long tail forces bucket sharing
    val docs = ((1L to 40L).map(i => (i, "hot hot hot tail" + i)) :+
      (99L, (1 to 300).map(k => s"u$k").mkString(" "))).toDF("doc_id", "text")
    val got = TextOps.cmsCensus(spark, docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    assert(got.head._1 == "hot" && got.head._2 == 120L)
    assert(got.forall(_._4), s"CMS must never under-count: $got")
    // JVM recompute of the full sketch for the reported words
    val allWords = docs.select(explode(split(col("text"), " "))).as[String].collect()
    val cells = scala.collection.mutable.Map.empty[(Int, Long), Long]
    allWords.foreach { w =>
      val base = TextOps.fnv1a64(w)
      TextOps.CmsSeeds.zipWithIndex.foreach { case (s, d) =>
        val b = java.lang.Long.remainderUnsigned(
          graft.sources.PageSource.splitmix64(base ^ s), TextOps.CmsWidth)
        cells((d, b)) = cells.getOrElse((d, b), 0L) + 1L
      }
    }
    got.foreach { case (w, _, est, _) =>
      val base = TextOps.fnv1a64(w)
      val want = TextOps.CmsSeeds.zipWithIndex.map { case (s, d) =>
        cells((d, java.lang.Long.remainderUnsigned(
          graft.sources.PageSource.splitmix64(base ^ s), TextOps.CmsWidth)))
      }.min
      assert(est == want, s"$w: est $est != sketch-min $want")
    }
    val re = TextOps.cmsCensus(spark, docs.repartition(7)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    assert(got == re)
  }

  test("mixBalance: every stratum is rate-limited toward the smallest") {
    val docs = TextOps.readDocs(spark, sfDir)
    val rows = Queries.mixBalanceQ(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val minN = rows.map(_._2).min
    rows.foreach { case (lang, n, rate, kept) =>
      assert(rate == minN * 1000L / n, s"$lang rate")
      assert(kept <= n, s"$lang kept > n")
      // JVM recomputation of the kept count
      val expect = docs.filter(col("lang") === lang)
        .select(col("doc_id").cast("long")).collect().map(_.getLong(0))
        .count(id => java.lang.Long.remainderUnsigned(
          PageSource.splitmix64(id ^ TextOps.MixSeed), 1000L) < rate)
      assert(kept == expect, s"$lang kept $kept != $expect")
    }
  }

  test("stratifiedSample matches the JVM-side hash-threshold recomputation") {
    val docs = TextOps.readDocs(spark, sfDir)
    val got = TextOps.stratifiedSample(docs)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = docs.select(col("doc_id").cast("long"), col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter { case (id, lang) =>
        val h = PageSource.splitmix64(id ^ TextOps.SampleSeed)
        val rate = if (lang == "en") 500L else 200L
        java.lang.Long.remainderUnsigned(h, 1000L) < rate
      }.toSet
    assert(got == want)
    assert(got.nonEmpty && got.size < docs.count())
  }

  test("seqPack matches a sequential packing reference and tiles each bucket") {
    val docs = TextOps.readDocs(spark, sfDir)
    val got = TextOps.seqPack(docs, nBuckets = 8, seqLen = 512L)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    // sequential reference: concatenate per bucket in doc_id order
    val byBucket = docs.select(col("doc_id").cast("long"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).length.toLong))
      .sortBy(_._1)
      .groupBy { case (id, _) => java.lang.Math.floorMod(id, 8L) }
    val want = byBucket.toSeq.flatMap { case (bucket, ds) =>
      var off = 0L
      ds.toSeq.map { case (id, nTok) =>
        val first = off / 512L
        val last = (off + nTok - 1L) / 512L
        val row = (id, (bucket, nTok, first, last, last - first + 1L, off % 512L))
        off += nTok
        row
      }
    }.toMap
    assert(got == want)
    // the stream tiles: some doc crosses a window boundary at sf0.001
    assert(got.values.exists(_._5 > 1L), "no doc spans 2+ sequences — fixture too small?")
  }

  test("dedupSpans: planted shared runs yield exact merged-span coordinates") {
    val sp = spark; import sp.implicits._
    def words(prefix: String, n: Int): Seq[String] =
      (0 until n).map(i => s"$prefix$i")
    val shared1 = words("s", 20)  // one 20-word verbatim run
    val shared2 = words("t", 16)  // a second, disjoint 16-word run
    val docA = words("a", 10) ++ shared1 ++ words("b", 10) ++ shared2 ++ words("c", 5)
    val docB = words("d", 5) ++ shared1 ++ words("e", 8) ++ shared2
    val docC = words("f", 30)     // no duplication
    val corpus = Seq(
      (1L, docA.mkString(" ")), (2L, docB.mkString(" ")),
      (3L, docC.mkString(" ")), (4L, docC.mkString(" ")) // full-doc dup pair
    ).toDF("doc_id", "text")
    val got = TextOps.dedupSpans(corpus).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    // docA: 61 words. shared1 at positions 10..29 -> dup windows at
    // pos 10..14 (5 windows, one island, coverage 14-10+16 = 20 tokens);
    // shared2 at 40..55 -> exactly one dup window at pos 40 (16 tokens).
    assert(got(1L) == (61L, 46L, 6L, 2L, 36L, 36L * 1000L / 61L))
    // docB: 49 words. shared1 at 5..24 -> windows 5..9; shared2 at
    // 33..48 -> window 33. Same span masses as docA.
    assert(got(2L) == (49L, 34L, 6L, 2L, 36L, 36L * 1000L / 49L))
    // full-doc duplicates: every window dup, ONE span covering the doc
    assert(got(3L) == (30L, 15L, 15L, 1L, 30L, 1000L))
    assert(got(4L) == got(3L))
    // partition-invariant and deterministic
    val again = TextOps.dedupSpans(corpus.repartition(7)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(again == got)

    // the CUT applies those coordinates: shared runs vanish from BOTH
    // docs, unique content survives byte-exactly in order
    val cut = TextOps.dedupCut(corpus).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(cut(1L) == (61L, 36L,
      (words("a", 10) ++ words("b", 10) ++ words("c", 5)).mkString(" ")))
    assert(cut(2L) == (49L, 36L,
      (words("d", 5) ++ words("e", 8)).mkString(" ")))
    // full-doc duplicates lose everything
    assert(cut(3L) == (30L, 30L, "")); assert(cut(4L) == (30L, 30L, ""))
    // a short doc (< one window) passes through whole
    val short = Seq((1L, "tiny doc few words")).toDF("doc_id", "text")
    val sgot = TextOps.dedupCut(short).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(sgot == Seq((1L, 4L, 0L, "tiny doc few words")))
  }

  test("eventsAsof matches a sequential per-user scan; single user-keyed shuffle, no join") {
    import org.apache.spark.sql.execution.exchange.Exchange
    val df = Queries.eventsAsof(spark, sfDir)
    val got = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    // sequential reference: per user, walk (ts, side, event_id)-sorted
    // events carrying the last view
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .selectExpr("event_id", "user_id", "event_type",
        "timestampdiff(MICROSECOND, timestamp'2024-01-01 00:00:00', ts) AS t")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val want = ev.groupBy(_._2).values.flatMap { rows =>
      var lastView: Option[(Long, Long)] = None
      rows.sortBy { case (id, _, tpe, t) =>
        (t, if (tpe == "view") 0 else 1, id)
      }.flatMap {
        case (id, _, "view", t) => lastView = Some((id, t)); None
        case (id, _, "click", t) =>
          Some(id -> lastView.map(v => (v._1, t - v._2)).getOrElse((-1L, -1L)))
        case _ => None
      }
    }.toMap
    assert(got == want)
    assert(got.values.exists(_._1 >= 0L) && got.values.exists(_._1 == -1L),
      "fixture must exercise both matched and unmatched clicks")
    // plan shape: the union-tag window formulation — no join operator
    // at all, and no data-sized shuffle beyond the user partitioning
    val plan = df.queryExecution.executedPlan
    assert(plan.collect { case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }.isEmpty,
      "as-of must be the window formulation, not a join")
    val exchanges = plan.collect { case e: Exchange => e }
    assert(exchanges.size <= 2, // user hash + final orderBy range
      s"expected user-key + sort exchanges only, got ${exchanges.size}")
  }

  test("eventsRange: bucketed equi-join matches the naive quadratic reference; no nested-loop join") {
    val df = Queries.eventsRange(spark, sfDir)
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val W = 300L * 1000000L
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .selectExpr("event_id", "user_id", "event_type",
        "timestampdiff(MICROSECOND, timestamp'2024-01-01 00:00:00', ts) AS t")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val want = ev.filter(_._3 == "error").map { case (id, u, _, t0) =>
      id -> ev.count { case (_, bu, btpe, bt) =>
        bu == u && btpe != "error" && bt >= t0 && bt < t0 + W
      }.toLong
    }.toMap
    assert(got == want)
    assert(got.values.exists(_ > 0L) && got.values.exists(_ == 0L),
      "fixture must exercise both populated and empty windows")
    val plan = df.queryExecution.executedPlan
    val bad = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }
    assert(bad.isEmpty, "range join must stay an equi-join (bucketed), " +
      s"found ${bad.map(_.nodeName)}")
  }
}
