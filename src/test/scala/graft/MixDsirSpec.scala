package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TextOps
import graft.sources.PageSource.splitmix64

/** DSIR importance resampling (the admission step over dsir_weights)
  * and the token-mass temperature mixture.
  */
class MixDsirSpec extends AnyFunSuite with SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private def docsOf(rows: (Long, String, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text", "lang")
  }

  /** The admission rule recomputed sequentially in the driver. */
  private def admitted(id: Long, wMicro: Long): Boolean =
    java.lang.Long.remainderUnsigned(
      splitmix64(id ^ TextOps.DsirSeed), TextOps.DsirAcceptMod) < wMicro

  // ---------------------------------------------------------------
  // dsirSample
  // ---------------------------------------------------------------

  test("dsirSample: admitted set == driver-recomputed rejection sampling over dsirWeights") {
    val docs = TextOps.readDocs(spark, sfDir)
    val weights = TextOps.dsirWeights(spark, docs).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val expect = weights.filter { case (id, w) => admitted(id, w) }.keySet
    val got = TextOps.dsirSample(spark, docs).collect()
      .map(_.getLong(0)).toSet
    assert(got == expect)
    // the rule genuinely selects: neither empty nor the whole corpus
    assert(got.nonEmpty && got.size < weights.size)
  }

  test("dsirSample: zero-weight docs are never admitted, weight-10^6 docs always are") {
    // one sub-2-word doc (no bigrams -> weight 0) and an all-'en'
    // corpus whose every bucket is pure target (share 1000 -> micro 10^6)
    val docs = docsOf(
      (1L, "solo", "en"),
      (2L, "alpha beta gamma delta", "en"),
      (3L, "epsilon zeta eta theta", "en"))
    val out = TextOps.dsirSample(spark, docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!out.contains(1L))
    assert(out.get(2L).contains(1000000L) && out.get(3L).contains(1000000L))
  }

  test("dsirSample: off-target docs are admitted at most as often as the rule admits their weight") {
    // mixed corpus: 'xx' docs share no vocabulary with 'en' ones, so
    // their buckets are pure non-target -> weight 0 -> never admitted
    val docs = docsOf(
      (1L, "alpha beta gamma delta epsilon", "en"),
      (2L, "alpha beta gamma delta zeta", "en"),
      (3L, "uno dos tres cuatro cinco", "xx"),
      (4L, "uno dos tres cuatro seis", "xx"))
    val got = TextOps.dsirSample(spark, docs).collect().map(_.getLong(0)).toSet
    assert(!got.contains(3L) && !got.contains(4L))
  }

  // ---------------------------------------------------------------
  // mixTokens
  // ---------------------------------------------------------------

  test("mixTokens: kept_tokens equals the driver-recomputed whole-doc admission sum") {
    val docs = TextOps.readDocs(spark, sfDir)
    val rates = TextOps.mixTokenRates(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val perDoc = docs.select(
        col("doc_id").cast("long"), col("lang"),
        (length(col("text")) - length(translate(col("text"), " ", "")) + 1L)
          .cast("long")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expect = perDoc.filter { case (id, lang, _) =>
        java.lang.Long.remainderUnsigned(
          splitmix64(id ^ TextOps.TokSeed), 1000L) < rates(lang)._2
      }.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val got = TextOps.mixTokens(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    got.foreach { case (lang, mass, rate, kept) =>
      assert(mass == rates(lang)._1 && rate == rates(lang)._2)
      assert(kept == expect.getOrElse(lang, 0L))
      assert(kept <= mass && rate <= 1000L)
    }
    assert(got.map(_._1).toSeq == got.map(_._1).toSeq.sorted)
  }

  test("mixTokens: token mass, not doc count, drives the rates") {
    // two strata with EQUAL doc counts but 25x different token mass:
    // the doc-count rule rates them equally, the token-mass rule must
    // up-rate the lighter stratum (temperature flattening on mass)
    val heavy = (1 to 100).map(i =>
      (i.toLong, (1 to 50).map(j => s"h$j").mkString(" "), "aa"))
    val light = (101 to 200).map(i =>
      (i.toLong, "t1 t2", "bb"))
    val docs = docsOf((heavy ++ light): _*)
    val tokRates = TextOps.mixTokenRates(docs).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val docRates = TextOps.mixRates(docs).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(docRates("aa") == docRates("bb"))
    assert(tokRates("bb") > tokRates("aa"))
  }

  test("mixTokens: single-stratum corpus keeps ~half the mass (budget = total DIV 2)") {
    val docs = docsOf((1L to 400L).map(i =>
      (i, (1 to 10).map(j => s"w$j").mkString(" "), "en")): _*)
    val Array(row) = TextOps.mixTokens(docs).collect()
    assert(row.getLong(2) == 500L) // rate = B*1000*isq/(isq*mass) = 500
    // whole-doc admission at 500 permille: kept mass within 20% of half
    val kept = row.getLong(3).toDouble / row.getLong(1)
    assert(kept > 0.4 && kept < 0.6)
  }

  // ---------------------------------------------------------------
  // mirrorHosts
  // ---------------------------------------------------------------

  test("mixUnimax: hand corpus matches the water-filling reference exactly; caps and budget respected") {
    // strata of 1 / 10 / 100 docs, budget = 3*111/2 = 166, E = 2:
    // capacity order aa(2), bb(20), cc(200);
    // aa: fair 166/3 = 55 -> capped at 2, rem 164
    // bb: fair 164/2 = 82 -> capped at 20, rem 144
    // cc: fair 144/1     -> alloc 144 (under its 200 cap)
    val rows =
      (1 to 1).map(i => (i.toLong, "t", "aa")) ++
      (11 to 20).map(i => (i.toLong, "t", "bb")) ++
      (101 to 200).map(i => (i.toLong, "t", "cc"))
    val got = TextOps.mixUnimax(docsOf(rows: _*)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(
      ("aa", 1L, 2L, 2L, 2000L),
      ("bb", 10L, 20L, 20L, 2000L),
      ("cc", 100L, 200L, 144L, 1440L)))
  }

  test("mixUnimax: sf corpus — budget exhausted, caps bind for rare langs, en stays under one epoch") {
    val docs = TextOps.readDocs(spark, sfDir)
    val got = TextOps.mixUnimax(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val total = got.map(_._2).sum
    assert(got.map(_._4).sum <= 3L * total / 2L, "allocation may not exceed the budget")
    got.foreach { case (lang, n, cap, alloc, em) =>
      assert(cap == n * TextOps.UniMaxEpochCap)
      assert(alloc <= cap, s"$lang over its epoch cap")
      assert(em == alloc * 1000L / n)
      assert(em <= TextOps.UniMaxEpochCap * 1000L)
    }
    // non-vacuity on the web-skewed corpus: at least one rare lang is
    // CAP-bound (the whole point of the epoch cap) and the dominant
    // stratum is not (uniform share < its capacity)
    assert(got.exists { case (_, _, cap, alloc, _) => alloc == cap },
      "no stratum cap-bound — budget too small to exercise UniMax")
    assert(got.exists { case (_, _, cap, alloc, _) => alloc < cap },
      "every stratum cap-bound — budget too large to exercise fairness")
    // determinism
    val again = TextOps.mixUnimax(docs).collect()
      .map(r => (r.getString(0), r.getLong(3))).toSeq
    assert(again == got.map(r => (r._1, r._4)).toSeq)
  }

  test("mixUnimaxSample: per-doc copies == driver-recomputed replication + remainder draw; cap-bound strata replicate exactly") {
    val docs = TextOps.readDocs(spark, sfDir)
    val alloc = TextOps.mixUnimax(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
    val got = TextOps.mixUnimaxSample(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expected = docs.select(col("doc_id").cast("long"), col("lang")).collect()
      .map { r =>
        val (id, lang) = (r.getLong(0), r.getString(1))
        val (n, a) = alloc(lang)
        val ef = a / n
        val remPermille = (a - ef * n) * 1000L / n
        val admit = java.lang.Long.remainderUnsigned(
          splitmix64(id ^ TextOps.UniSeed), 1000L) < remPermille
        (id, lang, ef + (if (admit) 1L else 0L))
      }
      .filter(_._3 > 0L).sortBy(_._1).toSeq
    assert(got.toSeq == expected)
    // cap-bound strata (alloc == 2n): every doc exactly 2 copies —
    // the repeat-capped up-sampling the algorithm exists to bound
    val capped = alloc.collect { case (l, (n, a)) if a == n * TextOps.UniMaxEpochCap => l }
    assert(capped.nonEmpty, "no cap-bound stratum — sample test has no replication leg")
    capped.foreach { l =>
      assert(got.filter(_._2 == l).forall(_._3 == TextOps.UniMaxEpochCap),
        s"stratum $l must replicate at exactly the epoch cap")
      assert(got.count(_._2 == l).toLong == alloc(l)._1, s"stratum $l must keep every doc")
    }
    // a fractional stratum must both drop and keep docs (en: alloc < n)
    val frac = alloc.collect { case (l, (n, a)) if a < n => l }
    assert(frac.nonEmpty, "no sub-epoch stratum")
    frac.foreach { l =>
      val kept = got.count(_._2 == l).toLong
      assert(kept > 0L && kept < alloc(l)._1, s"stratum $l admission must be strict")
    }
  }

  test("mixUnimaxTokens: allocation == water-filling over driver-recomputed token masses; unit genuinely differs from docs") {
    val docs = TextOps.readDocs(spark, sfDir)
    // sequential reference over token masses computed independently
    val masses = docs.select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1).length.toLong))
      .groupBy(_._1).map { case (l, xs) => (l, xs.map(_._2).sum) }.toSeq
    var rem = 3L * masses.map(_._2).sum / 2L
    var left = masses.length.toLong
    val expect = masses.sortBy { case (l, n) => (n * TextOps.UniMaxEpochCap, l) }
      .map { case (l, n) =>
        val cap = n * TextOps.UniMaxEpochCap
        val alloc = math.min(cap, rem / left)
        rem -= alloc; left -= 1L
        (l, n, cap, alloc, alloc * 1000L / n)
      }.sortBy(_._1)
    val got = TextOps.mixUnimaxTokens(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == expect)
    // the unit matters: token-mass epochs_milli must not all equal the
    // doc-count allocation's (doc lengths vary per lang)
    val docEpochs = TextOps.mixUnimax(docs).collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(got.exists { case (l, _, _, _, em) => em != docEpochs(l) },
      "token-budget allocation degenerated to the doc-count one")
  }

  test("mixUnimaxSample plan: rate table broadcast, corpus never shuffles, text never read") {
    val df = TextOps.mixUnimaxSample(TextOps.readDocs(spark, sfDir))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastHashJoin"),
      plan.take(2000))
    // only the output sort may exchange; no hash shuffle of corpus rows
    val exchanges = plan.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Broadcast")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")), exchanges.mkString("\n"))
    // the doc scan reads ids+lang only — text stays out of the sample path
    assert(!plan.linesIterator.exists(l => l.contains("FileScan") && l.contains("text")),
      plan.linesIterator.filter(_.contains("FileScan")).mkString("\n"))
  }

  test("mixDomains: admission == driver-recomputed splitmix rule; sqrt rule up-weights rare strata") {
    val s = spark
    import s.implicits._
    // skewed strata: label 0 dominates, 1 is rare
    val rows = (0L until 400L).map(i => (i, 0L)) ++ (1000L until 1016L).map(i => (i, 1L))
    val docs = rows.toDF("doc_id", "label")
    val out = TextOps.mixDomains(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.keySet == Set(0L, 1L))
    val (n0, r0, k0) = out(0L)
    val (n1, r1, k1) = out(1L)
    assert((n0, n1) == (400L, 16L))
    // rare stratum rate strictly above the dominant one (16x gap)
    assert(r1 > r0, s"rates $r1 <= $r0")
    // driver recompute of the admission census under the same rule
    def kept(ids: Seq[Long], rate: Long): Long =
      ids.count(id => java.lang.Long.remainderUnsigned(
        splitmix64(id ^ TextOps.DomSeed), 1000L) < rate).toLong
    assert(k0 == kept((0L until 400L).toSeq, r0))
    assert(k1 == kept((1000L until 1016L).toSeq, r1))
    // strict on the dominant stratum: thinned but not emptied
    assert(k0 > 0L && k0 < n0)
  }

  test("mixDomainsQ: unlabeled stratum present and thinned; deterministic; strata cover the corpus") {
    val out = Queries.mixDomainsQ(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._1).contains(-1L), "unlabeled stratum must compete")
    // every page lands in exactly one stratum
    val total = out.map(_._2).sum
    assert(total == TextOps.readDocs(spark, sfDir).count())
    // at least one stratum actually thinned (rate < 1000) and none emptied
    assert(out.exists(_._3 < 1000L))
    assert(out.forall(t => t._4 > 0L))
    val again = Queries.mixDomainsQ(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == again.toSeq)
  }

  test("mirrorClustersQ: the planted farm collapses onto one canonical host; singletons self-canonical") {
    val out = Queries.mirrorClustersQ(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
    // the planted mirrors shift copies into the 1..9 band, all paired
    // with host0 — ONE cluster, canonical = min id = host0
    val farm = out.filter(_._3 > 1L)
    assert(farm.nonEmpty)
    assert(farm.forall(_._2 == "host0.example"))
    assert(farm.count(_._4) == 0 || farm.filter(_._4).map(_._1).toSeq == Seq("host0.example"))
    assert(farm.exists(t => t._1 == "host0.example" && t._4))
    // strictness: unmirrored hosts stay singleton and self-canonical
    val single = out.filter(_._3 == 1L)
    assert(single.nonEmpty && single.forall(t => t._1 == t._2 && t._4))
    // every corpus host appears exactly once
    assert(out.map(_._1).distinct.length == out.length)
  }

  test("mirrorHosts: two shared pages pair the hosts at full containment; one does not") {
    // hostId: even ids -> host0; ids 3 and 39 are both %4==3 -> host4
    val docs = docsOf(
      (2L, "alpha text one", "en"), (4L, "beta text two", "en"),
      (6L, "gamma text three", "en"),
      (3L, "alpha text one", "en"), (39L, "beta text two", "en"))
    val out = TextOps.mirrorHosts(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(("host0.example", "host4.example", 2L, 1000L)))
    // drop one shared page: below MirrorMinShared, no pair
    val one = TextOps.mirrorHosts(docs.filter(col("doc_id") =!= 39L)).collect()
    assert(one.isEmpty)
  }

  test("mirrorHosts: a sha on more hosts than MirrorMaxDf is boilerplate — capped before the join") {
    // ids ≡ 1 mod 4 land on distinct 10+id%990 hosts; same text on
    // MirrorMaxDf+2 of them (plus a second shared text so pairs WOULD
    // form if the cap failed to fire)
    val hot = (0 until TextOps.MirrorMaxDf + 2).map(k =>
      (1L + 4L * k, "the shared boilerplate footer", "en"))
    val docs = docsOf(hot: _*)
    assert(TextOps.mirrorHosts(docs).collect().isEmpty)
  }

  test("mirrorHostsQ: planted mirrors surface as host0-to-band pairs at every SF slice") {
    val rows = Queries.mirrorHostsQ(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // copies come from even source ids (host0) shifted into the 1..9
    // band — every pair involves host0, ordering and bounds hold
    assert(rows.forall { case (a, b, n, p) =>
      a == "host0.example" && a < b && n >= TextOps.MirrorMinShared &&
        p >= 1L && p <= 1000L
    })
  }
}
