package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{SearchIndex, SearchOps, TextOps}

/** Lexical retrieval guarantees: the distributed BM25-variant scorer
  * equals a sequential brute-force reference bit-for-bit (same Long
  * truncating arithmetic), and the plan keeps the corpus-side token
  * stream behind a broadcast semi-join (only matched postings
  * shuffle).
  */
class SearchOpsSpec extends AnyFunSuite with SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  /** Sequential reference: identical integer-exact BM25 variant. */
  private def reference(
      docs: Seq[(Long, Array[String])],
      queries: Seq[(Long, Seq[String])],
      k: Int): Seq[(Long, Long, Long, Long)] = {
    val n = docs.size.toLong
    val sdl = docs.map(_._2.length.toLong).sum
    val avgdlMilli = sdl * 1000L / n
    val dfOf = scala.collection.mutable.Map.empty[String, Long]
    val allQTerms = queries.flatMap(_._2).toSet
    for ((_, ws) <- docs; t <- ws.toSet if allQTerms.contains(t))
      dfOf(t) = dfOf.getOrElse(t, 0L) + 1L
    queries.flatMap { case (qid, terms) =>
      val scored = docs.flatMap { case (did, ws) =>
        val score = terms.map { t =>
          val tf = ws.count(_ == t).toLong
          if (tf == 0L) 0L
          else {
            val dl = ws.length.toLong
            val dlnorm = (dl * 1000000L) / avgdlMilli
            val denom = tf * 1000L +
              (SearchOps.K1Milli * (250L + (SearchOps.BMilli * dlnorm) / 1000L)) / 1000L
            val tfpart = (tf * 2200L * 1000000L) / denom
            val idf = math.min(n * 1000L / dfOf(t), SearchOps.IdfClampMilli)
            (idf * tfpart) / 1000L
          }
        }.sum
        if (score > 0L) Some((did, score)) else None
      }
      scored.sortBy { case (did, s) => (-s, did) }
        .take(k).zipWithIndex
        .map { case ((did, s), i) => (qid, (i + 1).toLong, did, s) }
    }
  }

  test("bm25Search equals the sequential integer reference") {
    val raw = TextOps.readDocs(spark, sfDir)
      .select(col("doc_id").cast("long"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
      .toSeq.sortBy(_._1)
    val queries = raw.filter(_._1 % 101 == 0)
      .map { case (id, ws) => (id, ws.slice(1, 6).distinct.toSeq) }
    val want = reference(raw, queries, k = 10)
    val got = Queries.bm25SearchQ(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(queries.nonEmpty && got.nonEmpty)
    assert(got == want)
    // structural: each query emits ranks 1..k with non-increasing
    // scores (the fixture vocabulary is ~30 template words, so "own
    // doc first" does NOT hold — every term is near-ubiquitous and
    // ranking is dominated by length normalization; the differential
    // check above is the semantic guarantee)
    got.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2) == (1L to sorted.size.toLong))
      assert(sorted.sliding(2).forall {
        case Seq(a, b) => a._4 >= b._4
        case _ => true
      })
    }
  }

  test("bm25Search plan: token stream is gated by a broadcast semi-join") {
    val plan = Queries.bm25SearchQ(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan.take(2000))
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("hardNegatives plan: term gate + id-only exclusion anti-join; no text column in any broadcast") {
    val plan = Queries.hardNegativesQ(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan.take(2000))
    assert(plan.contains("LeftAnti"), plan.take(2000))
    // the near-dup leg's id reductions and the term gate may broadcast;
    // no broadcast exchange may carry a text column (house invariant)
    val broadcasts = plan.linesIterator.filter(_.contains("BroadcastExchange")).toSeq
    assert(broadcasts.forall(l => !l.contains("text") && !l.contains("q_text") && !l.contains("d_text")),
      broadcasts.mkString("\n"))
  }

  test("bm25Search handles an empty query relation") {
    val sp = spark; import sp.implicits._
    val docs = TextOps.readDocs(spark, sfDir)
    val empty = Seq.empty[(Long, String)].toDF("query_id", "term")
    assert(SearchOps.bm25Search(docs, empty).count() == 0L)
  }

  test("hot-term df cap drops stopword-like terms, equals the query with them removed") {
    val sp = spark; import sp.implicits._
    // 200 docs, every one carrying the stopword; each doc also has a
    // unique rare term and a 10%-df medium term
    val docs = (0 until 200).map(i =>
      (i.toLong, s"the rare$i med${i % 10} pad${i}a pad${i}b")).toDF("doc_id", "text")
    val qterms = (0 until 5).flatMap(q => Seq(
      (1000L + q, "the"), (1000L + q, s"rare${q * 7}"), (1000L + q, s"med$q")))
      .toDF("query_id", "term")
    // "the" has df=200 (1000 permille), med* df=20 (100 permille),
    // rare* df=1 — a 500-permille cap must drop exactly "the"
    val capped = SearchOps.bm25Search(docs, qterms, maxDfPermille = 500L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val removed = SearchOps.bm25Search(docs, qterms.filter(col("term") =!= "the"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(capped.nonEmpty && capped == removed)
    // each query's top hit is the doc carrying its rare term
    capped.filter(_._2 == 1L).foreach { case (qid, _, doc, _) =>
      assert(doc == (qid - 1000L) * 7L)
    }
    // default 1000 = off: identical to the uncapped call
    val off = SearchOps.bm25Search(docs, qterms, maxDfPermille = 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val default = SearchOps.bm25Search(docs, qterms)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(off == default)
    // the served path honors the same cap
    val dir = java.nio.file.Files.createTempDirectory("lexidx-dfcap").toString
    SearchIndex.build(spark, docs, dir)
    val servedCap = SearchIndex.serve(spark, dir, qterms, maxDfPermille = 500L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(servedCap == capped)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("prfSearch: recovers a vocabulary-mismatch doc; equals bm25 under the driver-recomputed expansion") {
    val sp = spark; import sp.implicits._
    // A matches the query and co-occurs with xx; B speaks only xx —
    // invisible to the plain query, reachable through feedback
    val docs = Seq(
      (1L, "ta xx xx xx f1 f2 f3 f4"),
      (2L, "xx xx xx g1 g2 g3 g4 g5"),
      (3L, "h1 h2 h3 h4 h5 h6 h7 h8")).toDF("doc_id", "text")
    val qterms = Seq((9L, "ta")).toDF("query_id", "term")
    val plain = SearchOps.bm25Search(docs, qterms).collect().map(_.getLong(2)).toSet
    assert(plain == Set(1L), "plain query must see only the matching doc")
    val prf = SearchOps.prfSearch(docs, qterms).collect().map(_.getLong(2)).toSet
    assert(prf == Set(1L, 2L), s"expansion must recover the xx-only doc: $prf")
    // sf corpus: differential against a driver-recomputed expansion
    val docsSf = TextOps.readDocs(spark, sfDir)
    val q0 = Queries.bm25QueryTerms(docsSf)
    val fb = SearchOps.bm25Search(docsSf, q0, k = SearchOps.PrfFeedbackK).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val q0set = q0.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val posts = SearchOps.postingsOf(docsSf).collect()
      .map(r => ((r.getLong(0), r.getString(1)), r.getLong(3))).toMap
    val exp = fb.groupBy(_._1).toSeq.flatMap { case (q, hits) =>
      val sums = scala.collection.mutable.Map.empty[String, Long]
      hits.foreach { case (_, d) =>
        posts.keys.filter(_._1 == d).foreach { k =>
          if (!q0set.contains((q, k._2))) sums(k._2) = sums.getOrElse(k._2, 0L) + posts(k)
        }
      }
      sums.toSeq.sortBy { case (t, s) => (-s, t) }.take(SearchOps.PrfExpandN)
        .map { case (t, _) => (q, t) }
    }
    val q1 = (q0set ++ exp).toSeq.toDF("query_id", "term")
    val expect = SearchOps.bm25Search(docsSf, q1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val got = Queries.bm25PrfQ(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expect)
    // teeth: the expansion changes at least one query's result set
    val plainSf = Queries.bm25SearchQ(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(got.map(r => (r._1, r._3)).toSet != plainSf,
      "PRF degenerated to the plain ranking on every query")
  }

  test("searchSnippets: hand-computed best windows (clustered tail, tie to earliest); sf hits all covered") {
    val sp = spark; import sp.implicits._
    // doc 1: query terms clustered at the tail — the window must jump
    // there; doc 2: two tying windows — earliest begin wins
    val d1 = "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 ta tb tc"
    val d2 = "ta y1 y2 y3 y4 tb y5 y6 y7 tc"
    val docs = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
    val qterms = Seq((7L, "ta"), (7L, "tb"), (7L, "tc")).toDF("query_id", "term")
    val got = SearchOps.searchSnippets(docs, qterms).collect()
      .map(r => r.getLong(2) -> (r.getLong(3), r.getLong(4), r.getString(5))).toMap
    assert(got(1L) == ((10L, 3L, "ta tb tc")), got.toString)
    assert(got(2L) == ((0L, 2L, "ta y1 y2 y3 y4 tb y5 y6")), got.toString)
    // sf corpus: one snippet per bm25 hit, each containing >= 1 match
    val docsSf = TextOps.readDocs(spark, sfDir)
    val hits = SearchOps.bm25Search(docsSf, Queries.bm25QueryTerms(docsSf)).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val snips = Queries.searchSnippetsQ(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(4), r.getString(5)))
    assert(snips.map(s => (s._1, s._2)).toSet == hits, "one snippet per hit, no extras")
    assert(snips.forall(s => s._3 >= 1L && s._4.nonEmpty))
  }

  test("hardNegatives: positives excluded BEFORE ranking; equals wide-k bm25 minus the positive set") {
    import org.apache.spark.sql.functions.col
    val base = TextOps.readDocs(spark, sfDir)
    val corpus = TextOps.corpusWithNearDups(base)
    val queries = base.filter(col("doc_id") % 101 === 0)
      .select(col("doc_id").cast("long").as("query_id"), col("text"))
    val got = Queries.hardNegativesQ(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // never the query doc itself — while plain bm25 over the same
    // corpus puts self at rank 1 for every query (terms are its own)
    assert(got.nonEmpty && got.forall { case (q, _, d) => q != d })
    val plain = graft.ops.SearchOps.bm25Search(
      corpus, Queries.bm25QueryTerms(base), k = 40).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // differential: hard negatives == wide-k plain ranking minus the
    // positive set, re-ranked densely, top 10 (pre-rank exclusion).
    // (On this corpus the shared synthetic vocabulary means self/twin
    // need not crack the top-k lexically — the handmade test below is
    // where the exclusion provably changes the answer.)
    val positives = TextOps.neardupSearch(spark, corpus, queries).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    got.groupBy(_._1).foreach { case (q, rows) =>
      val expect = plain.filter(_._1 == q)
        .sortBy(_._2)
        .filter { case (_, _, d) => d != q && !positives.contains((q, d)) }
        .take(10).map(_._3)
      val gotDocs = rows.sortBy(_._2).map(_._3)
      assert(gotDocs == expect.toSeq, s"query $q")
      assert(rows.map(_._2).sorted == (1L to rows.length.toLong), s"ranks dense for $q")
    }
  }

  test("hardNegatives handmade: self and near-dup twin are top plain hits yet excluded; hard set is the true negative") {
    import org.apache.spark.sql.functions.col
    val sp = spark; import sp.implicits._
    // distinctive 24-word doc, a near-verbatim twin (last word dropped
    // — the planted-mirror shape, Jaccard >> 0.7) and a partial-match
    // negative sharing exactly the query terms once each
    val aWords = (1 to 24).map(i => s"zq$i")
    val a = aWords.mkString(" ")
    val aTwin = aWords.dropRight(1).mkString(" ")
    val b = "zq2 zq3 zq4 zq5 zq6 " + (1 to 19).map(i => s"other$i").mkString(" ")
    val docs = Seq((1L, a), (2L, aTwin), (3L, b)).toDF("doc_id", "text")
    val queries = Seq((1L, a)).toDF("query_id", "text")
    val qterms = Seq.tabulate(5)(i => (1L, s"zq${i + 2}")).toDF("query_id", "term")
    val plain = graft.ops.SearchOps.bm25Search(docs, qterms, k = 10).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
    // self and twin dominate the plain ranking — exactly the unlabeled
    // positives a naive miner would label negative
    assert(plain.map(_._2).take(2).toSet == Set(1L, 2L), plain.toString)
    val hard = graft.ops.SearchOps.hardNegatives(spark, docs, queries, qterms)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(hard == Seq((1L, 3L)), s"hard=$hard")
  }

  test("hybridRrf equals integer RRF recomputed from the collected legs") {
    val docs = TextOps.readDocs(spark, sfDir)
    val lex = Queries.bm25SearchQ(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(1))) // (qid, doc, rank)
    val vec = graft.ops.VectorOps.annBruteBy(
      graft.ops.VectorOps.readEmbeddings(spark, sfDir),
      col("vec_id") % 101 === 0, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) // (qid, doc, rank)
    val fused = (lex ++ vec).groupBy(t => (t._1, t._2))
      .map { case ((qid, doc), rows) =>
        (qid, doc, rows.map(t => 1000000L / (60L + t._3)).sum)
      }.toSeq
    val want = fused.groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
      rows.sortBy { case (_, doc, s) => (-s, doc) }.take(10).zipWithIndex
        .map { case ((_, doc, s), i) => (qid, (i + 1).toLong, doc, s) }
    }.sortBy(t => (t._1, t._2))
    val got = collectRows(Queries.hybridRrfQ(spark, sfDir))
    assert(got.nonEmpty && got == want)
    // a doc ranked in BOTH legs must outscore its best single-leg part
    val both = fused.filter { case (qid, doc, _) =>
      lex.exists(t => t._1 == qid && t._2 == doc) &&
        vec.exists(t => t._1 == qid && t._2 == doc)
    }
    assert(both.forall(_._3 > 1000000L / 61L))
    assert(docs.count() > 0)
  }

  test("hybrid_serve equals integer RRF over the two served legs") {
    val docs = TextOps.readDocs(spark, sfDir)
    val emb = graft.ops.VectorOps.readEmbeddings(spark, sfDir)
    val lexDir = java.nio.file.Files.createTempDirectory("hybserve-lex").toString
    val annDir = java.nio.file.Files.createTempDirectory("hybserve-ann").toString
    graft.ops.SearchIndex.build(spark, docs, lexDir)
    graft.ops.AnnIndex.buildLsh(spark, emb, annDir)
    val qterms = Queries.bm25QueryTerms(docs)
    val lex = graft.ops.SearchIndex.serve(spark, lexDir, qterms).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(1)))
    val vec = graft.ops.AnnIndex.serveLshQueries(spark, emb,
      emb.filter(col("vec_id") % 101 === 0)
        .select(col("vec_id").cast("long").as("query_id"),
          col("embedding").as("q_emb")), annDir, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val fused = (lex ++ vec).groupBy(t => (t._1, t._2))
      .map { case ((qid, doc), rows) =>
        (qid, doc, rows.map(t => 1000000L / (60L + t._3)).sum)
      }.toSeq
    val want = fused.groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
      rows.sortBy { case (_, doc, s) => (-s, doc) }.take(10).zipWithIndex
        .map { case ((_, doc, s), i) => (qid, (i + 1).toLong, doc, s) }
    }.sortBy(t => (t._1, t._2))
    val got = collectRows(Queries.hybridServeQ(spark, sfDir))
    assert(got.nonEmpty && got == want)
    Seq(lexDir, annDir).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
  }

  // -------------------------------------------------------------------
  // stored-index lifecycle (ops/SearchIndex)
  // -------------------------------------------------------------------

  private def collectRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

  private def docsAndTerms() = {
    val docs = TextOps.readDocs(spark, sfDir)
    (docs, Queries.bm25QueryTerms(docs))
  }

  test("SearchIndex build->serve is bit-identical to the in-memory search") {
    val (docs, qterms) = docsAndTerms()
    val dir = java.nio.file.Files.createTempDirectory("lexidx-bitid").toString
    SearchIndex.build(spark, docs, dir)
    val direct = collectRows(SearchOps.bm25Search(docs, qterms))
    val served = collectRows(SearchIndex.serve(spark, dir, qterms))
    assert(served.nonEmpty && served == direct)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("build meta derived from postings equals corpusStats (one corpus pass)") {
    // r6: build no longer runs the corpusStats scalar pass — stats
    // come from distinct (doc_id, dl) over the written postings. Pin
    // the equality on the tokenizer's edge shapes: empty string
    // (split('') == ['']), ragged whitespace (empty tokens KEPT by
    // dl = size(split)), single-word docs.
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, ""),              // dl 1: one empty token
      (3L, "  double  "),    // dl 5: ragged whitespace
      (4L, "solo")).toDF("doc_id", "text")
    val (nRef, sdlRef) = SearchOps.corpusStats(docs)
    val dir = java.nio.file.Files.createTempDirectory("lexidx-meta").toString
    SearchIndex.build(spark, docs, dir)
    val meta = spark.read.parquet(s"$dir/lex_meta").collect()
    assert(meta.length == 1)
    assert(meta(0).getLong(0) == nRef && meta(0).getLong(1) == sdlRef,
      s"meta=${meta(0)} want ($nRef, $sdlRef)")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("SearchIndex serve paths agree: IN pushdown, semi-join, shuffle fallback") {
    val (docs, qterms) = docsAndTerms()
    val dir = java.nio.file.Files.createTempDirectory("lexidx-paths").toString
    SearchIndex.build(spark, docs, dir)
    val pushed = SearchIndex.serve(spark, dir, qterms)
    // the small-batch path must reach the parquet scan as a literal
    // IN predicate — that's the row-group pruning the term-sorted
    // build layout exists for
    val plan = pushed.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(term"), plan.take(2000))
    val base = collectRows(pushed)
    // pushdown disabled -> broadcast semi-join gate
    val semi = collectRows(SearchIndex.serve(spark, dir, qterms,
      pushdownTerms = 0))
    // probe limit forced to 1 -> unbounded classification, shuffle joins
    val shuffled = collectRows(SearchIndex.serve(spark, dir, qterms,
      probeLimit = 1L))
    assert(base.nonEmpty && semi == base && shuffled == base)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("SearchIndex append-then-serve equals a full rebuild (exact)") {
    val (docs0, qterms) = docsAndTerms()
    // null-text docs follow one rule at both entry points (not indexed,
    // not counted): a null doc rides the appended slice and the
    // rebuild, and an all-null batch is a no-op append and a build
    // that fails before touching the index
    val docs = docs0.select(col("doc_id").cast("long"), col("text"))
    val s = spark
    import s.implicits._
    val nullDoc = Seq((-1L, null: String)).toDF("doc_id", "text")
    val allNull = Seq((-2L, null: String), (-3L, null: String)).toDF("doc_id", "text")
    val first = docs.filter(col("doc_id") % 2 === 0)
    val second = docs.filter(col("doc_id") % 2 === 1).unionByName(nullDoc)
    val incDir = java.nio.file.Files.createTempDirectory("lexidx-inc").toString
    val fullDir = java.nio.file.Files.createTempDirectory("lexidx-full").toString
    SearchIndex.build(spark, first, incDir)
    SearchIndex.append(spark, second, incDir)
    assert(SearchIndex.append(spark, allNull, incDir) == 0L)
    intercept[IllegalArgumentException](SearchIndex.build(spark, allNull, incDir))
    SearchIndex.build(spark, docs.unionByName(nullDoc), fullDir)
    assert(SearchIndex.indexedDocs(spark, incDir) == docs.count())
    assert(SearchIndex.indexedDocs(spark, fullDir) == docs.count())
    val inc = collectRows(SearchIndex.serve(spark, incDir, qterms))
    val full = collectRows(SearchIndex.serve(spark, fullDir, qterms))
    assert(inc.nonEmpty && inc == full)
    Seq(incDir, fullDir).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
  }

  test("SearchIndex compaction preserves served results and shrinks files") {
    val (docs, qterms) = docsAndTerms()
    val dir = java.nio.file.Files.createTempDirectory("lexidx-compact").toString
    // three appended slices -> small-file accumulation
    SearchIndex.build(spark, docs.filter(col("doc_id") % 3 === 0), dir)
    SearchIndex.append(spark, docs.filter(col("doc_id") % 3 === 1), dir)
    SearchIndex.append(spark, docs.filter(col("doc_id") % 3 === 2), dir)
    val before = collectRows(SearchIndex.serve(spark, dir, qterms))
    val report = SearchIndex.compact(spark, dir)
    val after = collectRows(SearchIndex.serve(spark, dir, qterms))
    assert(report.filesAfter < report.filesBefore)
    assert(before.nonEmpty && after == before)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("SearchIndex delete-then-serve is bit-identical to a rebuild over survivors") {
    val (docs, qterms) = docsAndTerms()
    val victims = docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id").cast("long"))
    val survivors = docs.filter(col("doc_id") % 3 =!= 0)
    val delDir = java.nio.file.Files.createTempDirectory("lexidx-del").toString
    val survDir = java.nio.file.Files.createTempDirectory("lexidx-surv").toString
    SearchIndex.build(spark, docs, delDir, withPositions = true)
    val nDel = SearchIndex.delete(spark, victims, delDir, Some("m1"))
    assert(nDel > 0L)
    SearchIndex.build(spark, survivors, survDir, withPositions = true)

    // BM25 serving: tombstone anti-join + negative meta delta ==
    // rebuild's smaller corpus stats and per-term df
    val served = collectRows(SearchIndex.serve(spark, delDir, qterms))
    val rebuilt = collectRows(SearchIndex.serve(spark, survDir, qterms))
    assert(served.nonEmpty && served == rebuilt)
    // positional serving honors tombstones too
    val phrases = Queries.phraseQueriesOf(docs)
    val servedP = collectRows(SearchIndex.servePhrase(spark, delDir, phrases))
    val rebuiltP = collectRows(SearchIndex.servePhrase(spark, survDir, phrases))
    assert(servedP.nonEmpty && servedP == rebuiltP)
    assert(SearchIndex.indexedDocs(spark, delDir) ==
      SearchIndex.indexedDocs(spark, survDir))

    // idempotent replay: same mutationId is a committed no-op; same
    // victims under a new id match nothing (already tombstoned)
    assert(SearchIndex.delete(spark, victims, delDir, Some("m1")) == 0L)
    assert(SearchIndex.delete(spark, victims, delDir, Some("m2")) == 0L)
    // ids never indexed: no-op
    val sp = spark; import sp.implicits._
    assert(SearchIndex.delete(spark,
      Seq(Long.MaxValue - 1).toDF("doc_id"), delDir) == 0L)
    assert(collectRows(SearchIndex.serve(spark, delDir, qterms)) == rebuilt)

    // compact applies tombstones physically: deleted_docs gone,
    // serving unchanged, postings hold no victim rows
    SearchIndex.compact(spark, delDir)
    assert(!new java.io.File(delDir, "deleted_docs").exists())
    assert(collectRows(SearchIndex.serve(spark, delDir, qterms)) == rebuilt)
    assert(collectRows(SearchIndex.servePhrase(spark, delDir, phrases)) == rebuiltP)
    val victimIds = victims.collect().map(_.getLong(0)).toSet
    val remaining = spark.read.parquet(s"$delDir/postings")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(remaining.intersect(victimIds).isEmpty)

    // a doc deleted and compacted away can be re-appended
    val back = docs.filter(col("doc_id") % 3 === 0).limit(1)
    assert(SearchIndex.append(spark, back, delDir) == 1L)
    assert(SearchIndex.indexedDocs(spark, delDir) ==
      survivors.count() + 1L)
    Seq(delDir, survDir).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
  }

  test("build clustering bounds a hot term's spread (Zipf skew lever)") {
    val sp = spark; import sp.implicits._
    // 400 docs all containing the stopword + a unique term each
    val docs = (0 until 400).map(i => (i.toLong, s"the uniq$i")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("lexidx-salt").toString
    SearchIndex.build(spark, docs, dir)
    // the hot term's postings carry >1 distinct persisted salt keys
    // (the partitioning key is xxhash64(term, salt), so at corpus
    // scale its rows land on that many distinct shuffle partitions —
    // at toy scale AQE legitimately coalesces them into fewer files,
    // so FILE count is not the observable here), bounded by the
    // salt-bucket count
    val hotSalts = spark.read.parquet(s"$dir/postings")
      .filter(col("term") === "the")
      .select(col("salt")).distinct().count()
    assert(hotSalts > 1, s"hot term all in one salt bucket (straggler): $hotSalts")
    assert(hotSalts <= SearchIndex.SaltBuckets,
      s"hot term spread unbounded: $hotSalts salts")
    // salting is transparent to results
    val q = Seq((7L, "the"), (7L, "uniq7")).toDF("query_id", "term")
    val got = SearchIndex.serve(spark, dir, q).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val direct = SearchOps.bm25Search(docs, q).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got.nonEmpty && got == direct)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  // -------------------------------------------------------------------
  // exact-phrase retrieval (positional anchor join)
  // -------------------------------------------------------------------

  /** Sequential phrase reference: sliding-window scan over raw token
    * arrays — deliberately NOT the anchor-join algorithm, so the two
    * implementations can only agree by computing the same semantics.
    */
  private def phraseReference(
      docs: Seq[(Long, Array[String])],
      phrases: Seq[(Long, Seq[String])],
      k: Int): Seq[(Long, Long, Long, Long)] =
    phrases.filter(_._2.nonEmpty).flatMap { case (qid, ph) =>
      val scored = docs.flatMap { case (did, ws) =>
        val n = (0 to ws.length - ph.length)
          .count(i => ph.indices.forall(j => ws(i + j) == ph(j)))
        if (n > 0) Some((did, n.toLong)) else None
      }
      scored.sortBy { case (did, c) => (-c, did) }
        .take(k).zipWithIndex
        .map { case ((did, c), i) => (qid, (i + 1).toLong, did, c) }
    }.sortBy(t => (t._1, t._2))

  test("phraseSearch equals a sequential sliding-window reference") {
    val raw = TextOps.readDocs(spark, sfDir)
      .select(col("doc_id").cast("long"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
      .toSeq.sortBy(_._1)
    val phrases = raw.filter(_._1 % 97 == 0)
      .map { case (id, ws) => (id, ws.slice(2, 5).toSeq) }
    val want = phraseReference(raw, phrases, k = 10)
    val got = collectRows(Queries.phraseSearchQ(spark, sfDir))
    assert(phrases.nonEmpty && got.nonEmpty)
    assert(got == want)
    // a phrase sliced from a doc's own tokens must rank that doc
    phrases.filter(_._2.size == 3).foreach { case (qid, _) =>
      assert(got.exists(r => r._1 == qid && r._3 == qid),
        s"query $qid does not match its own source doc")
    }
  }

  test("phraseSearch handles repeated phrase terms and overlapping occurrences") {
    val sp = spark; import sp.implicits._
    // doc 1: "a b a b a" — phrase "a b a" occurs at positions 0 and 2
    // (overlapping); doc 2 has one occurrence; doc 3 has the terms but
    // never consecutively
    val docs = Seq((1L, "a b a b a"), (2L, "x a b a y"), (3L, "a a b b a x a"))
      .toDF("doc_id", "text")
    val q = Seq((7L, 0L, "a"), (7L, 1L, "b"), (7L, 2L, "a"))
      .toDF("query_id", "off", "term")
    val got = collectRows(SearchOps.phraseSearch(docs, q))
    assert(got == Seq((7L, 1L, 1L, 2L), (7L, 2L, 2L, 1L)))
  }

  test("servePhrase from the positional artifact is bit-identical to phraseSearch") {
    val docs = TextOps.readDocs(spark, sfDir)
    val q = Queries.phraseQueriesOf(docs)
    val dir = java.nio.file.Files.createTempDirectory("lexidx-pos").toString
    SearchIndex.build(spark, docs, dir, withPositions = true)
    assert(SearchIndex.hasPositions(spark, dir))
    val direct = collectRows(SearchOps.phraseSearch(docs, q))
    val servedDf = SearchIndex.servePhrase(spark, dir, q)
    // the bounded batch's terms must reach the positions scan as a
    // literal IN predicate (row-group pruning over the term-sorted
    // positional files — the layout the build pays for)
    val plan = servedDf.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(term"), plan.take(2000))
    val served = collectRows(servedDf)
    assert(served.nonEmpty && served == direct)
    // all three gating paths agree (IN pushdown / semi-join / shuffle)
    val semi = collectRows(SearchIndex.servePhrase(spark, dir, q,
      pushdownTerms = 0))
    val shuffled = collectRows(SearchIndex.servePhrase(spark, dir, q,
      probeLimit = 1L))
    assert(semi == direct && shuffled == direct)
    // the BM25 leg of the same index is unaffected by positions
    val qterms = Queries.bm25QueryTerms(docs)
    assert(collectRows(SearchIndex.serve(spark, dir, qterms)) ==
      collectRows(SearchOps.bm25Search(docs, qterms)))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("positional appends follow the stored shape; rebuild without positions drops them") {
    val docs = TextOps.readDocs(spark, sfDir)
    val q = Queries.phraseQueriesOf(docs)
    val incDir = java.nio.file.Files.createTempDirectory("lexpos-inc").toString
    val fullDir = java.nio.file.Files.createTempDirectory("lexpos-full").toString
    SearchIndex.build(spark, docs.filter(col("doc_id") % 2 === 0), incDir,
      withPositions = true)
    SearchIndex.append(spark, docs.filter(col("doc_id") % 2 === 1), incDir)
    SearchIndex.build(spark, docs, fullDir, withPositions = true)
    val inc = collectRows(SearchIndex.servePhrase(spark, incDir, q))
    val full = collectRows(SearchIndex.servePhrase(spark, fullDir, q))
    assert(inc.nonEmpty && inc == full)
    // compaction preserves phrase serving too
    val report = SearchIndex.compact(spark, incDir)
    assert(report.filesAfter < report.filesBefore)
    assert(collectRows(SearchIndex.servePhrase(spark, incDir, q)) == full)
    // a rebuild WITHOUT positions retires the positional artifact:
    // servePhrase must fail loud, not answer from stale files
    SearchIndex.build(spark, docs, incDir)
    assert(!SearchIndex.hasPositions(spark, incDir))
    intercept[IllegalArgumentException] {
      SearchIndex.servePhrase(spark, incDir, q)
    }
    Seq(incDir, fullDir).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
  }

  test("servePhrase on a non-positional index fails loud") {
    val (docs, _) = docsAndTerms()
    val dir = java.nio.file.Files.createTempDirectory("lexidx-nopos").toString
    SearchIndex.build(spark, docs, dir)
    assert(!SearchIndex.hasPositions(spark, dir))
    intercept[IllegalArgumentException] {
      SearchIndex.servePhrase(spark, dir, Queries.phraseQueriesOf(docs))
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("LexServeJob answers a parquet request batch from a stored index") {
    val (docs, qterms) = docsAndTerms()
    val dir = java.nio.file.Files.createTempDirectory("lexidx-cli").toString
    val qDir = java.nio.file.Files.createTempDirectory("lexidx-q").toString
    val outDir = java.nio.file.Files.createTempDirectory("lexidx-out").toString
    SearchIndex.build(spark, docs, dir)
    // null-term row must be dropped, not NPE
    val withNull = qterms.unionByName(
      spark.sql("SELECT CAST(424242 AS BIGINT) AS query_id, CAST(NULL AS STRING) AS term"))
    withNull.write.mode("overwrite").parquet(qDir)
    val (nQ, nR) = LexServeJob.run(spark, dir, qDir, s"$outDir/res")
    assert(nQ > 0 && nR > 0)
    val fromJob = spark.read.parquet(s"$outDir/res")
      .orderBy("query_id", "rank")
    assert(collectRows(fromJob) == collectRows(SearchIndex.serve(spark, dir, qterms)))
    Seq(dir, qDir, outDir).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
  }
}
