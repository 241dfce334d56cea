package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.extract._
import graft.ops.{Multimodal, TextOps, VectorOps}
import graft.pipeline.ExtractPipeline
import graft.sources.PageSource

/** Query implementations behind SparkEntry (SURVEY.md §7.4). Extraction
  * queries run over pages synthesized 1:1 from the driver's read-only
  * documents.parquet (PageSource.fromDocuments) — every derived field is
  * reconstructable in ANSI SQL, so the DuckDB oracle can check the whole
  * pipeline INCLUDING byte-identity of extracted text.
  */
object Queries {

  /** One exploded row per (page, block) with scores — the relational
    * formulation of stages M1+M2 (X1 explode surface).
    */
  final case class ScoredBlockRow(
      url: String, blockId: Int, tag: String, depth: Int,
      nChars: Int, nLinkChars: Int, nTags: Int,
      score: Float, linkScore: Float)

  def pages(s: SparkSession, sfDir: String, withDups: Boolean = false): Dataset[Page] =
    PageSource.fromDocuments(s, sfDir, withDups)

  def extracted(s: SparkSession, sfDir: String): DataFrame =
    ExtractPipeline.extractExpr(
      pages(s, sfDir).toDF().select("url", "warc_ts", "html"),
      ExtractorConfig.spaceJoined)

  def scoredBlocks(s: SparkSession, sfDir: String): Dataset[ScoredBlockRow] = {
    import s.implicits._
    pages(s, sfDir).mapPartitions { it =>
      it.flatMap { p =>
        val blocks = HtmlTokenizer.tokenize(p.html, ExtractorConfig.spaceJoined)
        val sp = Scorer.score(p.url, blocks)
        blocks.indices.iterator.map { i =>
          val b = blocks(i)
          ScoredBlockRow(p.url, b.blockId, b.tag, b.depth, b.nChars,
            b.nLinkChars, b.nTags, sp.scores(i), sp.linkScores(i))
        }
      }
    }
  }

  // ---------------- generic relational (driver tables) ----------------

  def q1Agg(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/lineitem.parquet")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  def qJoinSegment(s: SparkSession, d: String): DataFrame = {
    val orders = s.read.parquet(s"$d/orders.parquet")
    val customer = s.read.parquet(s"$d/customer.parquet")
    orders.join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"))
      .orderBy(col("c_mktsegment"))
  }

  def qJoinNationRegion(s: SparkSession, d: String): DataFrame = {
    val nation = s.read.parquet(s"$d/nation.parquet")
    val region = s.read.parquet(s"$d/region.parquet")
    nation.join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_nations"))
      .orderBy(col("r_name"))
  }

  def eventsJson(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/events.parquet")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      .orderBy(col("event_type"))

  def eventsWindow(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    s.read.parquet(s"$d/events.parquet")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("first_event_type"))
      .orderBy(col("user_id"))
  }

  def docsByLang(s: SparkSession, d: String): DataFrame =
    TextOps.readDocs(s, d)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))

  // ---------------- training-data ops (documents/embeddings) ----------

  /** Corpus with exact copies (doc_id+2000000 for doc_id%20==0) for the
    * exact-dedup oracle.
    */
  private def corpusWithExactDups(docs: DataFrame): DataFrame =
    docs.unionByName(
      docs.filter(col("doc_id") % 20 === 0)
        .withColumn("doc_id", col("doc_id") + lit(2000000L)))

  def dedupExact(s: SparkSession, d: String): DataFrame =
    TextOps.dedupExact(corpusWithExactDups(TextOps.readDocs(s, d)))

  def dedupMinhash(s: SparkSession, d: String): DataFrame =
    TextOps.dedupMinhash(s, TextOps.corpusWithNearDups(TextOps.readDocs(s, d)))

  def dedupSimhash(s: SparkSession, d: String): DataFrame =
    TextOps.dedupSimhash(s, TextOps.corpusWithNearDups(TextOps.readDocs(s, d)))

  /** Winnowing (MOSS) positional near-dup census over the planted
    * near-dup corpus; see [[TextOps.dedupWinnow]]. The planted
    * truncated copies share almost their whole fingerprint set, so
    * every planted pair surfaces with high overlap_permille.
    */
  def dedupWinnowQ(s: SparkSession, d: String): DataFrame =
    TextOps.dedupWinnow(TextOps.corpusWithNearDups(TextOps.readDocs(s, d)))

  /** Cross-host mirror detection over the planted mirror corpus
    * (identical-text copies shifted onto OTHER hosts); see
    * [[TextOps.mirrorHosts]]. The crawl-level complement of doc-level
    * exact dedup: the verdict is per host PAIR, the unit crawl
    * scheduling acts on.
    */
  def mirrorHostsQ(s: SparkSession, d: String): DataFrame =
    TextOps.mirrorHosts(TextOps.corpusWithMirrorHosts(TextOps.readDocs(s, d)))

  /** Mirror-site CLUSTER census — connected components over the
    * [[mirrorHostsQ]] pair relation: a mirror FARM (one site served
    * from many hosts) shows up as pairwise rows in mirror_hosts but
    * is ONE scheduling/authority entity; the component label (min
    * host id) is the canonical host every crawl-budget and authority
    * decision should key on. Scale shape: CC runs over (host, host)
    * id pairs — a relation orders of magnitude below the corpus —
    * with the large-star/small-star kernel. Every pair endpoint is a
    * host of `docs`, so labelling `nodes` alone labels them all.
    */
  def mirrorClustersQ(s: SparkSession, d: String): DataFrame = {
    val docs = TextOps.corpusWithMirrorHosts(TextOps.readDocs(s, d))
    def hid(c: Column): Column =
      regexp_extract(c, "^host(\\d+)\\.example$", 1).cast("long")
    val pairs = TextOps.mirrorHosts(docs)
      .select(hid(col("host_a")).as("doc_a"), hid(col("host_b")).as("doc_b"))
    val nodes = docs
      .select(graft.ops.GraphOps.hostIdCol(col("doc_id").cast("long")).as("doc_id"))
      .distinct()
    val labels = TextOps.connectedComponentsStar(nodes, pairs)
    labels
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("label"))).cast("long"))
      .select(
        concat(lit("host"), col("doc_id").cast("string"), lit(".example")).as("host"),
        concat(lit("host"), col("label").cast("string"), lit(".example")).as("canonical_host"),
        col("cluster_size"),
        (col("doc_id") === col("label")).as("is_canonical"))
      .orderBy(col("host"))
  }

  /** Exact word-3-gram Jaccard for the planted near-dup pairs (the
    * verify-stage primitive exposed standalone; LSH candidates feed it
    * at scale — see dedup_minhash).
    */
  def ngramJaccard(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = TextOps.readDocs(s, d)
    val mutated = TextOps.corpusWithNearDups(docs)
      .filter(col("doc_id") >= 1000000L)
      .select(col("doc_id").as("doc_b"), col("text").as("text_b"))
    docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("doc_a"), col("text").as("text_a"))
      .join(mutated, col("doc_b") === col("doc_a") + 1000000L)
      .select(col("doc_a"), col("doc_b"), col("text_a"), col("text_b"))
      .as[(Long, Long, String, String)]
      .mapPartitions(_.map { case (a, b, ta, tb) =>
        (a, b, math.floor(TextOps.exactJaccard(ta, tb) * 1000.0).toLong)
      })
      .toDF("doc_a", "doc_b", "jaccard_milli")
      .orderBy(col("doc_a"))
  }

  /** Duplicate clustering: connected components over the union of
    * exact-dup pairs (identical sha-groups star-linked to their min)
    * and MinHash-LSH near-dup pairs, then one row per doc with its
    * cluster id / size / canonical flag. The planted corpus forms
    * 4-node chains (d —near— d+1e6, d —exact— d+2e6,
    * d+1e6 —exact— d+3e6 for d%20==0), so the oracle checks genuine
    * transitivity, not just pair membership. At 100 TB the same edge
    * feed comes from dedup_exact ∪ dedup_minhash ∪ dedup_simhash.
    */
  def dupCluster(s: SparkSession, d: String): DataFrame = {
    val docs = TextOps.readDocs(s, d)
    val corpusNear = TextOps.corpusWithNearDups(docs)
    val corpus = corpusWithExactDups(corpusNear)
    val nodes = corpus.select(col("doc_id").cast("long").as("doc_id"))
    val exactEdges = TextOps.exactDupEdges(corpus)
    val nearEdges = TextOps.dedupMinhashEdges(s, corpusNear)
      .select(col("doc_a"), col("doc_b"))
    // both edge feeds pair docs of `corpus`: every endpoint is a node
    val labels = TextOps.connectedComponentsStar(
      nodes, exactEdges.unionByName(nearEdges))
    val wc = Window.partitionBy(col("cluster_id"))
    labels.select(col("doc_id"), col("label").as("cluster_id"))
      .withColumn("cluster_size", count(lit(1)).over(wc).cast("long"))
      .withColumn("keep", col("doc_id") === col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** Dedup audit view: the component-SIZE histogram of dup_cluster —
    * how much of the corpus is duplicated and at what multiplicity
    * (n_docs = size × clusters recovers the per-band doc mass). The
    * number a curation team reads before deciding dedup thresholds.
    * Self-contained here because the oracle harness is stateless; at
    * 100 TB the histogram derives from the PERSISTED clustering table
    * via [[TextOps.dupStatsFrom]] (same aggregate, no re-clustering).
    */
  def dupStats(s: SparkSession, d: String): DataFrame =
    TextOps.dupStatsFrom(dupCluster(s, d))

  /** Quality-aware canonical selection over the dup_cluster relation:
    * keep the LONGEST member per cluster (ties to the smaller id) —
    * the planted near-dups (+1e6, last word truncated) lose to their
    * source, exact copies (+2e6) tie down to the original. Output is
    * row-level admission (`keep`), the column the curation funnel
    * consumes instead of dup_cluster's arbitrary min-id canonical.
    * Self-contained (recomputes the clustering) for the same
    * stateless-oracle reason as dup_stats; at 100 TB it derives from
    * the PERSISTED clustering table via [[TextOps.dupBestFrom]].
    */
  def dupBest(s: SparkSession, d: String): DataFrame = {
    val docs = TextOps.readDocs(s, d)
    val corpus = corpusWithExactDups(TextOps.corpusWithNearDups(docs))
    TextOps.dupBestFrom(dupCluster(s, d), corpus)
  }

  /** Leakage-free train/holdout split census: split assignment keyed
    * on the duplicate CLUSTER label (via [[TextOps.splitFrom]]) so
    * near/exact duplicates never straddle the eval boundary — the
    * split a training team must use or decontaminate later. Output is
    * the per-split census (n_docs, n_clusters); the production form
    * keeps the row-level `split` column from the persisted clustering
    * table instead of aggregating. Self-contained (recomputes the
    * clustering) for the same stateless-oracle reason as dup_stats.
    */
  /** Repeat-aware duplicate downweighting over the dup_cluster
    * relation: weight_micro = 10^6 DIV cluster_size per doc, the soft
    * dedup that keeps all rows but makes each duplicate CLUSTER
    * contribute one doc-mass per sampled epoch (see
    * [[TextOps.dupWeightsFrom]]). Self-contained (recomputes the
    * clustering) for the same stateless-oracle reason as dup_stats;
    * at 100 TB it is a projection of the PERSISTED clustering table.
    */
  def dupWeights(s: SparkSession, d: String): DataFrame =
    TextOps.dupWeightsFrom(dupCluster(s, d))

  /** Per-host duplication census: for every host, the fraction of its
    * BASE docs living in multi-doc duplicate clusters (permille) —
    * the crawl-scheduler signal host_scorecard lacks (a mirror-heavy
    * host wastes crawl budget even when its quality permille looks
    * fine). Self-contained over the dup_cluster relation for the
    * stateless-oracle reason of dup_stats; at 100 TB it is one
    * host-keyed aggregate over the PERSISTED clustering table. The
    * planted dup chains ride even doc ids only, so the census
    * correctly concentrates the duplication mass on host 0 — the
    * skewed shape real mirror farms produce.
    */
  def hostDupCensus(s: SparkSession, d: String): DataFrame =
    dupCluster(s, d)
      .filter(col("doc_id") < 1000000L)
      .withColumn("host_id", graft.ops.GraphOps.hostIdCol(col("doc_id")))
      .groupBy(col("host_id"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("cluster_size") > 1L, 1L).otherwise(0L))
          .cast("long").as("n_duped"))
      .withColumn("dup_permille", expr("n_duped * 1000 DIV n_docs").cast("long"))
      .orderBy(col("host_id"))

  def splitLeakfree(s: SparkSession, d: String): DataFrame =
    TextOps.splitFrom(dupCluster(s, d))
      .groupBy(col("split"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        countDistinct(col("cluster_id")).cast("long").as("n_clusters"))
      .orderBy(col("split"))

  /** End-to-end curation funnel over the planted dup corpus — drives
    * [[CurateJob.funnel]], the SAME code path the production job runs
    * (stages 1-4), with known ids and synthesized urls so the DuckDB
    * oracle replays every stage: url-revisit dedup (min-sha keep),
    * quality + repetition gate, exact+MinHash clustering over the
    * GATED corpus with component-minimum survivors, splitmix64
    * sampling at 900‰, and token-budget shard packing. Revisit rows
    * (doc_id%10==5, 'rev '-prefixed text, same url) exercise stage 1
    * on a planted set disjoint from the near (%10==0) and exact
    * (%20==0) families. `cache = false`: a query returns a lazy frame
    * and could never unpersist — see the funnel scaladoc.
    */
  def curateFunnelQ(s: SparkSession, d: String): DataFrame =
    CurateJob.funnel(s, curateCorpus(s, d), cache = false).packed
      .select(col("doc_id"), col("n_tokens"), col("bucket"), col("shard"))
      .orderBy(col("doc_id"))

  /** Per-doc audit of [[curateFunnelQ]]'s run: first rejecting stage
    * per url-deduped doc (see [[CurateJob.auditFunnel]]).
    */
  def curateAuditQ(s: SparkSession, d: String): DataFrame =
    CurateJob.auditFunnel(CurateJob.funnel(s, curateCorpus(s, d), cache = false))

  /** [[curateFunnelQ]] with authority-weighted sampling ON (rates
    * 1000/600/200‰ over 3 ntile tiers of the planted-arithmetic
    * host_rank) — the funnel's authority branch, oracle-replayed: the
    * mirror re-derives the PageRank loop over the SURVIVOR set (the
    * rank universe the funnel actually ranks — reduced ids, survivor
    * count as the citation modulus), the ntile tiers, the per-tier
    * permille and the final packing. Same shared funnel() code path.
    */
  def curateFunnelAuthQ(s: SparkSession, d: String): DataFrame =
    CurateJob.funnel(s, curateCorpus(s, d),
        authorityPermille = Some(Seq(1000L, 600L, 200L)), cache = false).packed
      .select(col("doc_id"), col("n_tokens"), col("bucket"), col("shard"))
      .orderBy(col("doc_id"))

  /** [[curateFunnelQ]] with the per-domain cap branch ON (maxDocsPerHost
    * 8 over 7 planted hosts — urls carry doc_id%7 host labels, so the
    * REAL parse chain TextOps.hostOf keys the cap while the oracle
    * re-derives the same partition from doc_id%7). The host part does
    * not change url-dedup grouping (urls stay unique per doc), so the
    * mirror reuses the shared survivor CTE and replays cap → sample →
    * pack on top. Same shared funnel() code path.
    */
  def curateFunnelCapQ(s: SparkSession, d: String): DataFrame =
    CurateJob.funnel(s, curateCorpus(s, d, hosted = true),
        maxDocsPerHost = Some(8), cache = false).packed
      .select(col("doc_id"), col("n_tokens"), col("bucket"), col("shard"))
      .orderBy(col("doc_id"))

  /** The planted funnel corpus shared by the curate_funnel queries:
    * base ∪ near-dups (+1e6) ∪ exact copies (+2e6), each with a
    * deterministic url, plus a url REVISIT row ('rev '-prefixed text,
    * same url) for doc_id%10==5 — disjoint from the near/exact planted
    * families so each funnel stage has its own positives.
    */
  private def curateCorpus(s: SparkSession, d: String,
                           hosted: Boolean = false): DataFrame = {
    val docs = TextOps.readDocs(s, d)
    val corpus = corpusWithExactDups(TextOps.corpusWithNearDups(docs))
    // hosted: spread urls over 7 doc_id%7 hosts (for the per-domain
    // cap branch); urls remain unique per doc either way, so url-dedup
    // and every later stage behave identically
    val urlOf =
      if (hosted) format_string("https://h%d.curate.example/d/%d",
        col("doc_id") % 7, col("doc_id"))
      else format_string("https://curate.example/d/%d", col("doc_id"))
    corpus
      .select(col("doc_id").cast("long").as("doc_id"), urlOf.as("url_norm"), col("text"))
      .unionByName(corpus.filter(col("doc_id") % 10 === 5)
        .select(col("doc_id").cast("long").as("doc_id"), urlOf.as("url_norm"),
          concat(lit("rev "), col("text")).as("text")))
  }

  def repRatio(s: SparkSession, d: String): DataFrame =
    TextOps.repetitionStats(TextOps.readDocs(s, d))

  def shardPack(s: SparkSession, d: String): DataFrame =
    TextOps.shardPack(TextOps.readDocs(s, d))

  def seqPack(s: SparkSession, d: String): DataFrame =
    TextOps.seqPack(TextOps.readDocs(s, d))

  def stratSample(s: SparkSession, d: String): DataFrame =
    TextOps.stratifiedSample(TextOps.readDocs(s, d))

  /** The deterministic bounded request batch both lexical queries
    * probe with (and the oracle re-derives with the same slice): every
    * doc_id % 101 == 0 doc queries with its distinct words 2..6.
    */
  private[graft] def bm25QueryTerms(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 101 === 0)
      .select(col("doc_id").cast("long").as("query_id"),
        explode(expr("array_distinct(slice(split(text, ' '), 2, 5))"))
          .as("term"))

  /** The deterministic phrase request batch (and the oracle's
    * re-derivation, same slice): every doc_id % 97 == 0 doc queries
    * with its own tokens 3..5 as a 3-word phrase — offsets from
    * posexplode, so the source doc itself is a guaranteed match.
    */
  private[graft] def phraseQueriesOf(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").cast("long").as("query_id"),
        posexplode(expr("slice(split(text, ' '), 3, 3)")).as(Seq("off", "term")))

  /** Exact phrase retrieval (positional anchor join, ops.SearchOps) —
    * the literal-quote search of a contamination audit.
    */
  def phraseSearchQ(s: SparkSession, d: String): DataFrame = {
    val docs = TextOps.readDocs(s, d)
    graft.ops.SearchOps.phraseSearch(docs, phraseQueriesOf(docs))
  }

  /** Lexical top-k retrieval (integer-exact BM25 variant,
    * ops.SearchOps). */
  def bm25SearchQ(s: SparkSession, d: String): DataFrame = {
    val docs = TextOps.readDocs(s, d)
    graft.ops.SearchOps.bm25Search(docs, bm25QueryTerms(docs))
  }

  /** Contextual result snippets for the bm25 top-k (best
    * query-term-dense window per hit; see
    * [[graft.ops.SearchOps.searchSnippets]]).
    */
  def searchSnippetsQ(s: SparkSession, d: String): DataFrame = {
    val docs = TextOps.readDocs(s, d)
    graft.ops.SearchOps.searchSnippets(docs, bm25QueryTerms(docs))
  }

  /** Pseudo-relevance-feedback expanded retrieval (see
    * [[graft.ops.SearchOps.prfSearch]]): the original bm25 query
    * re-ranked under the top-3-doc expansion terms.
    */
  def bm25PrfQ(s: SparkSession, d: String): DataFrame = {
    val docs = TextOps.readDocs(s, d)
    graft.ops.SearchOps.prfSearch(docs, bm25QueryTerms(docs))
  }

  /** DPR-style hard-negative mining over the near-dup-augmented
    * corpus: top-k BM25 per query EXCLUDING the query doc and its
    * near-duplicates BEFORE ranking (see
    * [[graft.ops.SearchOps.hardNegatives]]). Queries are the
    * doc_id % 101 slice of the BASE docs — those with a planted
    * truncated twin (+1e6) have a genuine unlabeled positive the
    * mining must keep out of the negative set.
    */
  def hardNegativesQ(s: SparkSession, d: String): DataFrame = {
    val base = TextOps.readDocs(s, d)
    val corpus = TextOps.corpusWithNearDups(base)
    val queries = base.filter(col("doc_id") % 101 === 0)
      .select(col("doc_id").cast("long").as("query_id"), col("text"))
    graft.ops.SearchOps.hardNegatives(s, corpus, queries, bm25QueryTerms(base))
  }

  /** Hybrid retrieval: RRF fusion of the bm25 lexical leg and the
    * exact-cosine vector leg over the SAME query set (ids % 101 == 0 —
    * the embeddings and documents tables share an id space). Each leg
    * is its own oracle-checked ranking; the fusion is integer-exact
    * (10^6 DIV (60+rank)), so the oracle composes both mirrors and
    * replays the fusion bit-for-bit.
    */
  def hybridRrfQ(s: SparkSession, d: String): DataFrame = {
    val docs = TextOps.readDocs(s, d)
    val lex = graft.ops.SearchOps.bm25Search(docs, bm25QueryTerms(docs))
    val vec = graft.ops.VectorOps.annBruteBy(
      graft.ops.VectorOps.readEmbeddings(s, d),
      col("vec_id") % 101 === 0, k = 10)
    graft.ops.SearchOps.hybridRrf(lex, vec)
  }

  /** Hybrid retrieval over STORED indexes end-to-end — the production
    * serving composition: the lexical leg answers from a built
    * SearchIndex, the vector leg from a built LSH AnnIndex (so this
    * leg is the APPROXIMATE ranking, unlike hybrid_rrf's exact
    * baseline), and the fusion is the same integer RRF. The oracle
    * composes the bm25 mirror with the multi-probe LSH mirror re-keyed
    * to the shared id % 101 query slice at depth 10.
    */
  def hybridServeQ(s: SparkSession, d: String): DataFrame = {
    val docs = TextOps.readDocs(s, d)
    val emb = graft.ops.VectorOps.readEmbeddings(s, d)
    val lexDir = java.nio.file.Files.createTempDirectory("graft-hyb-lex").toString
    val annDir = java.nio.file.Files.createTempDirectory("graft-hyb-ann").toString
    graft.ops.SearchIndex.build(s, docs, lexDir)
    graft.ops.AnnIndex.buildLsh(s, emb, annDir)
    val lex = graft.ops.SearchIndex.serve(s, lexDir, bm25QueryTerms(docs))
    val vec = graft.ops.AnnIndex.serveLshQueries(s, emb,
      emb.filter(col("vec_id") % 101 === 0)
        .select(col("vec_id").cast("long").as("query_id"),
          col("embedding").as("q_emb")),
      annDir, k = 10)
    val fused = materializeAndDelete(s,
      graft.ops.SearchOps.hybridRrf(lex, vec), lexDir)
    deleteDir(annDir)
    fused
  }

  /** Build/serve split for the lexical leg: materialize the inverted
    * index (postings + corpus stats) to parquet, then answer the SAME
    * request batch from the STORED index — bit-identical to
    * bm25_search (same DuckDB mirror), proving the serving path reads
    * what the offline build wrote. Temp dir lifecycle as annLshServe.
    */
  def bm25ServeQ(s: SparkSession, d: String): DataFrame = {
    val docs = TextOps.readDocs(s, d)
    val dir = java.nio.file.Files.createTempDirectory("graft-lex").toString
    graft.ops.SearchIndex.build(s, docs, dir)
    materializeAndDelete(s,
      graft.ops.SearchIndex.serve(s, dir, bm25QueryTerms(docs)), dir)
  }

  /** Right-to-be-forgotten on the STORED lexical index: build over the
    * full corpus, tombstone-delete every doc_id % 3 == 0, then answer
    * the same request batch — results must equal a fresh build over
    * the survivors (the oracle replays BM25 over `documents WHERE
    * doc_id % 3 <> 0` while the query batch still comes from ALL
    * docs). Checks the tombstone anti-join, the negative meta delta
    * (n/avgdl shrink), and per-term df shrinkage in one row.
    */
  def bm25DeleteQ(s: SparkSession, d: String): DataFrame = {
    val docs = TextOps.readDocs(s, d)
    val dir = java.nio.file.Files.createTempDirectory("graft-lex-del").toString
    graft.ops.SearchIndex.build(s, docs, dir)
    graft.ops.SearchIndex.delete(s,
      docs.filter(col("doc_id") % 3 === 0).select(col("doc_id").cast("long")),
      dir, Some("q-del"))
    materializeAndDelete(s,
      graft.ops.SearchIndex.serve(s, dir, bm25QueryTerms(docs)), dir)
  }

  /** Build/serve split for exact-phrase retrieval: the POSITIONAL
    * artifact persists with the index (withPositions=true) and the
    * same phrase batch answers from it — bit-identical to
    * phrase_search (the anchor-join kernel is shared verbatim, SAME
    * DuckDB mirror). Temp dir lifecycle as annLshServe.
    */
  def phraseServeQ(s: SparkSession, d: String): DataFrame = {
    val docs = TextOps.readDocs(s, d)
    val dir = java.nio.file.Files.createTempDirectory("graft-lex-pos").toString
    graft.ops.SearchIndex.build(s, docs, dir, withPositions = true)
    materializeAndDelete(s,
      graft.ops.SearchIndex.servePhrase(s, dir, phraseQueriesOf(docs)), dir)
  }

  /** URL canonicalization over deterministically-messied urls: every
    * doc's clean url gets one of four mutations (fragment, uppercased
    * scheme+host, explicit :443 port, unsorted query params) keyed on
    * doc_id%4; the normalizer must undo all four. The messy synth is a
    * typed map (test scaffolding); normalization itself is the pure
    * Column operator under test.
    */
  def urlNormalizeQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val messy = TextOps.readDocs(s, d)
      .select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map { id =>
        val u = PageSource.urlOf(id)
        val m = (id % 4).toInt match {
          case 0 => u + "#section-2"
          case 1 =>
            val i = u.indexOf("/p/")
            u.substring(0, i).toUpperCase(java.util.Locale.ROOT) + u.substring(i)
          case 2 => u.replace("/p/", ":443/p/")
          case _ => u + "?b=2&a=1"
        }
        (id, m)
      }).toDF("doc_id", "url_messy")
    TextOps.urlNormalize(messy)
  }

  /** Host parsed from the normalized url — the kernel the curation
    * funnel's real-corpus authority path keys on (TextOps.hostOfSql is
    * shared VERBATIM with the DuckDB oracle). Runs over the same
    * messy-url synth as url_normalize, so every mutation class
    * (fragment, case, port, params) must round-trip to the same host.
    */
  def hostParseQ(s: SparkSession, d: String): DataFrame =
    urlNormalizeQ(s, d)
      .select(col("doc_id"), col("url_norm"),
        TextOps.hostOf("url_norm").as("host"))
      .orderBy("doc_id")

  /** Per-host document cap over REAL parsed hosts (the C4/RefinedWeb
    * "at most N pages per domain" rule): hosts come from the full
    * messy-url → normalize → parse chain (same synth as url_normalize,
    * so the mega-host skew PageSource.hostId plants — half the corpus
    * on host0 — hits the cap for real), quality key = word count.
    * Salted two-phase window (TextOps.hostCap); the oracle replays the
    * single-window semantics the composition must equal.
    */
  def hostCapQ(s: SparkSession, d: String): DataFrame = {
    val hosts = urlNormalizeQ(s, d)
      .select(col("doc_id"), TextOps.hostOf("url_norm").as("host"))
    val toks = TextOps.readDocs(s, d)
      .select(col("doc_id").cast("long").as("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    TextOps.hostCap(hosts.join(toks, Seq("doc_id")), cap = 12)
      .orderBy("doc_id")
  }

  def piiScrubQ(s: SparkSession, d: String): DataFrame =
    TextOps.piiScrub(TextOps.readDocs(s, d))

  /** Benchmark decontamination over a corpus with PLANTED contamination:
    * every eval doc (doc_id%50==0) is quoted verbatim by a training doc
    * at doc_id+4000001 (≡1 mod 50, so the plant stays on the training
    * side) — those must surface with their full distinct-8-gram count;
    * natural collisions surface identically on both engines.
    */
  def decontaminateQ(s: SparkSession, d: String): DataFrame = {
    val docs = TextOps.readDocs(s, d)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val planted = docs.filter(col("doc_id") % 50 === 0)
      .withColumn("doc_id", col("doc_id") + lit(4000001L))
    TextOps.decontaminate(docs.unionByName(planted))
  }

  /** Fuzzy (MinHash near-dup) decontamination: the eval slice of the
    * planted contamination corpus rides the SAME band geometry
    * neardup_search probes with, as the query batch against the full
    * corpus — the lightly-edited benchmark leakage that exact 8-gram
    * matching (decontaminate) misses is exactly a near-dup query.
    * Result: per eval doc, the TRAIN docs whose exact Jaccard clears
    * the floor (eval-vs-eval matches dropped).
    */
  def decontaminateFuzzyQ(s: SparkSession, d: String): DataFrame = {
    val docs = TextOps.readDocs(s, d)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val planted = docs.filter(col("doc_id") % 50 === 0)
      .withColumn("doc_id", col("doc_id") + lit(4000001L))
    val evalQ = planted.select(col("doc_id").as("query_id"), col("text"))
    TextOps.neardupSearch(s, docs.unionByName(planted), evalQ)
      .filter(col("doc_id") < 4000001L)
      .select(col("query_id").as("eval_id"), col("doc_id"), col("jaccard_milli"))
      .orderBy(col("eval_id"), col("doc_id"))
  }

  /** Heavy-hitter 8-gram census over the near-dup corpus (the planted
    * mutations repeat almost all their 8-grams).
    */
  def ngramCensusQ(s: SparkSession, d: String): DataFrame =
    // persistGrams: the verify/bench corpora fit the cache comfortably —
    // level 2 reads it instead of re-exploding (the 100 TB run leaves
    // this off; see the TextOps.ngramCensus scaladoc trade note)
    TextOps.ngramCensus(TextOps.corpusWithNearDups(TextOps.readDocs(s, d)),
      persistGrams = true)

  /** Per-doc duplicated-passage fraction over the near-dup corpus (the
    * planted mutations share all their full 16-word windows with their
    * source doc).
    */
  def passageDedupQ(s: SparkSession, d: String): DataFrame =
    TextOps.passageDedup(TextOps.corpusWithNearDups(TextOps.readDocs(s, d)))

  /** Sub-document duplicate-SPAN coordinates over the planted near-dup
    * corpus (sliding-window exact-substring dedup, Lee-et-al form).
    */
  def dedupSpansQ(s: SparkSession, d: String): DataFrame =
    TextOps.dedupSpans(TextOps.corpusWithNearDups(TextOps.readDocs(s, d)))

  /** Duplicate-span CUTTING (see [[TextOps.dedupCut]]): the rewrite
    * that removes every cross-doc duplicated window's tokens,
    * clean_text byte-exact on both engines.
    */
  def dedupCutQ(s: SparkSession, d: String): DataFrame =
    TextOps.dedupCut(TextOps.corpusWithNearDups(TextOps.readDocs(s, d)))

  /** Near-dup retrieval for a query batch (doc_id % 50 slice of the
    * mutated corpus — every query has a planted mirror partner); see
    * [[TextOps.neardupSearch]].
    */
  def neardupSearchQ(s: SparkSession, d: String): DataFrame = {
    val corpus = TextOps.corpusWithNearDups(TextOps.readDocs(s, d))
    TextOps.neardupSearch(s, corpus,
      corpus.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("query_id"), col("text")))
  }

  def oovRatioQ(s: SparkSession, d: String): DataFrame =
    TextOps.oovRatio(TextOps.readDocs(s, d))

  /** Per-language type-token-ratio census; see [[TextOps.ttrCensus]]. */
  def ttrCensusQ(s: SparkSession, d: String): DataFrame =
    TextOps.ttrCensus(TextOps.readDocs(s, d))

  /** Top-50 word-frequency head with ppm; see [[TextOps.zipfCensus]]. */
  def zipfCensusQ(s: SparkSession, d: String): DataFrame =
    TextOps.zipfCensus(TextOps.readDocs(s, d))

  /** Bigram-LM fluency permille (self-trained, integer-exact) — the
    * CCNet-perplexity-filter analog; see [[TextOps.lmScore]].
    */
  def lmScoreQ(s: SparkSession, d: String): DataFrame =
    TextOps.lmScore(TextOps.readDocs(s, d))

  /** CCNet-style per-lang head/middle/tail fluency buckets over the
    * documents corpus; see [[TextOps.pplBuckets]].
    */
  def pplBucketsQ(s: SparkSession, d: String): DataFrame =
    TextOps.pplBuckets(TextOps.readDocs(s, d))

  /** Within-doc duplicate 2-/5-gram coverage permille (the Gopher
    * repetition rules) over a corpus with PLANTED loop-tail pages:
    * every doc_id % 7 == 3 re-appends its first 12 words (the
    * template/boilerplate loop shape), so the 5-gram rule has real
    * positives — natural text repeats bigrams but almost never
    * 5-grams. See [[TextOps.gopherRep]].
    */
  def gopherRepQ(s: SparkSession, d: String): DataFrame = {
    val docs = TextOps.readDocs(s, d)
    val corpus = docs.select(col("doc_id").cast("long").as("doc_id"),
      when(col("doc_id") % 7 === 3,
        concat(col("text"), lit(" "),
          array_join(slice(split(col("text"), " "), 1, 12), " ")))
        .otherwise(col("text")).as("text"))
    TextOps.gopherRep(corpus)
  }

  /** Composed quality-filter gate with first-rejector attribution
    * over a four-class planted corpus — truncated stubs (doc_id%97==1,
    * 4 words), punctuation runs (%89==2, a dot run the length of the
    * text), unbroken long-word pages (%83==4, twelve 40-char words)
    * and loop tails (%7==3, gopher_rep's plant) — so every rule has
    * positives; the natural corpus exercises 'repetitive' and
    * 'gibberish'. See [[TextOps.qualityGate]].
    */
  def qualityGateQ(s: SparkSession, d: String): DataFrame = {
    val docs = TextOps.readDocs(s, d)
    val corpus = docs.select(col("doc_id").cast("long").as("doc_id"),
      when(col("doc_id") % 97 === 1,
        array_join(slice(split(col("text"), " "), 1, 4), " "))
        .when(col("doc_id") % 89 === 2,
          concat(col("text"), lit(" "), expr("repeat('.', length(text))")))
        .when(col("doc_id") % 83 === 4,
          expr("rtrim(repeat(concat(repeat('x', 40), ' '), 12))"))
        .when(col("doc_id") % 7 === 3,
          concat(col("text"), lit(" "),
            array_join(slice(split(col("text"), " "), 1, 12), " ")))
        .otherwise(col("text")).as("text"))
    TextOps.qualityGate(corpus)
  }

  /** Count-min-sketch census with exact-count audit (see
    * [[TextOps.cmsCensus]]).
    */
  def cmsCensusQ(s: SparkSession, d: String): DataFrame =
    TextOps.cmsCensus(s, TextOps.readDocs(s, d))

  /** Crawl-text cleanup round trip: the deterministic messy synth
    * (tab/CRLF/doubled-space soup) must clean back to documents.text
    * byte-identically (see [[TextOps.textClean]]).
    */
  def textCleanQ(s: SparkSession, d: String): DataFrame =
    TextOps.textClean(TextOps.corpusWithMessyText(TextOps.readDocs(s, d)))

  /** Corpus-wide paragraph dedup over the planted-boilerplate
    * paragraph synth (see [[TextOps.lineDedup]]): first occurrence per
    * paragraph survives, clean_text reassembled byte-exactly.
    */
  def lineDedupQ(s: SparkSession, d: String): DataFrame =
    TextOps.lineDedup(TextOps.corpusWithParas(TextOps.readDocs(s, d)))

  /** BPE tokenizer induction: one corpus word census, then the
    * driver-side merge loop over the capped dictionary (see
    * [[graft.ops.Bpe]]); the oracle unrolls all merge iterations.
    */
  def bpeTrainQ(s: SparkSession, d: String): DataFrame =
    graft.ops.Bpe.bpeTrain(s, TextOps.readDocs(s, d))

  /** Tokens-per-doc under the trained BPE tokenizer (see
    * [[graft.ops.Bpe.bpeTokenCount]]); the oracle re-applies the
    * learned merges to every distinct corpus word.
    */
  def bpeEncodeQ(s: SparkSession, d: String): DataFrame =
    graft.ops.Bpe.bpeTokenCount(s, TextOps.readDocs(s, d))

  def tfidfTopTermsQ(s: SparkSession, d: String): DataFrame =
    TextOps.tfidfTopTerms(TextOps.readDocs(s, d))

  def mixBalanceQ(s: SparkSession, d: String): DataFrame =
    TextOps.mixBalance(TextOps.readDocs(s, d))

  def mixTemperatureQ(s: SparkSession, d: String): DataFrame =
    TextOps.mixTemperature(TextOps.readDocs(s, d))

  /** Row-level admission list under the temperature rates — the
    * materialized form of [[mixTemperatureQ]]'s census; see
    * [[TextOps.mixSample]].
    */
  def mixSampleQ(s: SparkSession, d: String): DataFrame =
    TextOps.mixSample(TextOps.readDocs(s, d))

  /** UniMax budget-capped uniform language allocation — the fairness
    * alternative to the sqrt temperature rule; see
    * [[TextOps.mixUnimax]].
    */
  def mixUnimaxQ(s: SparkSession, d: String): DataFrame =
    TextOps.mixUnimax(TextOps.readDocs(s, d))

  /** Row-level UniMax admission/replication list — the materialized
    * form of [[mixUnimaxQ]]'s allocation; see
    * [[TextOps.mixUnimaxSample]].
    */
  def mixUnimaxSampleQ(s: SparkSession, d: String): DataFrame =
    TextOps.mixUnimaxSample(TextOps.readDocs(s, d))

  /** Token-budget UniMax allocation — the published algorithm's unit;
    * see [[TextOps.mixUnimaxTokens]].
    */
  def mixUnimaxTokensQ(s: SparkSession, d: String): DataFrame =
    TextOps.mixUnimaxTokens(TextOps.readDocs(s, d))

  /** Token-mass temperature-mixture census — the alpha = 1/2 rule
    * over per-lang token mass (how real mixtures are specified); see
    * [[TextOps.mixTokens]].
    */
  def mixTokensQ(s: SparkSession, d: String): DataFrame =
    TextOps.mixTokens(TextOps.readDocs(s, d))

  /** Same planted-contamination corpus as [[decontaminateQ]], through
    * the Bloom-prefiltered scale path — output must be row-identical
    * (the oracle row reuses decontaminate's SQL verbatim).
    */
  def decontaminateBloomQ(s: SparkSession, d: String): DataFrame = {
    val docs = TextOps.readDocs(s, d)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val planted = docs.filter(col("doc_id") % 50 === 0)
      .withColumn("doc_id", col("doc_id") + lit(4000001L))
    TextOps.decontaminateBloom(docs.unionByName(planted))
  }

  /** Same planted-contamination corpus as [[decontaminateQ]], through
    * the span-CUTTING form: contaminated 8-gram spans are removed and
    * the survivors reassembled byte-exact (the planted verbatim
    * copies collapse to clean_text = ''; natural collisions lose only
    * the shared span).
    */
  def decontaminateCutQ(s: SparkSession, d: String): DataFrame = {
    val docs = TextOps.readDocs(s, d)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val planted = docs.filter(col("doc_id") % 50 === 0)
      .withColumn("doc_id", col("doc_id") + lit(4000001L))
    TextOps.decontaminateCut(docs.unionByName(planted))
  }

  /** Same planted-contamination corpus, reported from the EVAL side:
    * per eval doc, its leaked-gram census (every planted eval doc is
    * fully quoted, so leak_permille = 1000 with >= 1 source doc).
    */
  def decontamReportQ(s: SparkSession, d: String): DataFrame = {
    val docs = TextOps.readDocs(s, d)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val planted = docs.filter(col("doc_id") % 50 === 0)
      .withColumn("doc_id", col("doc_id") + lit(4000001L))
    TextOps.decontamReport(docs.unionByName(planted))
  }

  def tokenCount(s: SparkSession, d: String): DataFrame =
    TextOps.tokenCounts(TextOps.readDocs(s, d))

  def qualityScore(s: SparkSession, d: String): DataFrame =
    TextOps.qualityScores(TextOps.readDocs(s, d))

  def qualityClassifyQ(s: SparkSession, d: String): DataFrame =
    TextOps.qualityClassify(s, TextOps.readDocs(s, d))

  /** DSIR-style importance weights over the documents corpus (target
    * distribution = the 'en' slice) — the data-selection signal a
    * pretraining team uses to up-sample target-like documents.
    * Integer-exact permille shares; oracle recomputes census + scoring.
    */
  def dsirWeightsQ(s: SparkSession, d: String): DataFrame =
    TextOps.dsirWeights(s, TextOps.readDocs(s, d))

  /** DSIR importance RESAMPLING — the admission list dsir_weights
    * only scores: exact integer rejection sampling with acceptance
    * probability w_avg_milli/1000; see [[TextOps.dsirSample]].
    */
  def dsirSampleQ(s: SparkSession, d: String): DataFrame =
    TextOps.dsirSample(s, TextOps.readDocs(s, d))

  /** Supervised quality-classifier training on the documents corpus:
    * hashed-unigram presence features, planted lexicon labels, ONE-PASS
    * purity induction on the even-doc_id half (a bucket joins the model
    * iff its positive doc-frequency clears minSupport and its
    * class-purity odds clear purityFactor — integer-exact, BigInt
    * products); the odd half is held out. Returns the per-doc
    * (label, n_hits, pred, holdout) view under the induced model,
    * oracle-replayed by SQL that re-runs the same census + selection.
    * (A batch perceptron was tried and MEASURED to oscillate on this
    * class balance — see CLAUDE.md; do not revive it.)
    */
  def qualityTrainQ(s: SparkSession, d: String): DataFrame =
    graft.ops.Classifier.qualityTrain(s, TextOps.readDocs(s, d))

  /** Holdout precision/recall/accuracy of the trained quality
    * classifier — one integer-exact row over the odd-doc_id half (the
    * generalization number a filtering team reads before deploying the
    * model; the oracle re-runs training AND evaluation in SQL).
    */
  def qualityEvalQ(s: SparkSession, d: String): DataFrame =
    graft.ops.Classifier.qualityEval(s, TextOps.readDocs(s, d))

  def langIdQ(s: SparkSession, d: String): DataFrame =
    TextOps.langIds(s, TextOps.readDocs(s, d))

  def fingerprintQ(s: SparkSession, d: String): DataFrame =
    TextOps.fingerprints(s, TextOps.readDocs(s, d))

  def annCosine(s: SparkSession, d: String): DataFrame =
    VectorOps.annBrute(VectorOps.readEmbeddings(s, d))

  def annLsh(s: SparkSession, d: String): DataFrame =
    VectorOps.annLsh(s, VectorOps.readEmbeddings(s, d))

  /** Filtered ANN: top-k restricted to the allowed set vec_id%3=0 —
    * the metadata-predicate vector-search request shape.
    */
  def annLshFiltered(s: SparkSession, d: String): DataFrame = {
    val emb = VectorOps.readEmbeddings(s, d)
    VectorOps.annLshFiltered(s, emb,
      emb.filter(col("vec_id") % 3 === 0).select(col("vec_id")))
  }

  def annPq(s: SparkSession, d: String): DataFrame =
    VectorOps.annPq(s, VectorOps.readEmbeddings(s, d))

  def annSq(s: SparkSession, d: String): DataFrame =
    VectorOps.annSq(s, VectorOps.readEmbeddings(s, d))

  /** Build/serve split: materialize the LSH index to parquet, then
    * answer from the STORED index — bit-identical to ann_lsh (same
    * DuckDB mirror), proving the serving path reads what the offline
    * build wrote. The temp index dir lives for this query only and is
    * DRIVER-LOCAL (fine for the local-mode harness); a real cluster
    * builds to shared storage via graft.AnnIndexJob and serves from
    * that path.
    */
  def annLshServe(s: SparkSession, d: String): DataFrame = {
    val emb = VectorOps.readEmbeddings(s, d)
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-lsh").toString
    graft.ops.AnnIndex.buildLsh(s, emb, dir)
    materializeAndDelete(s, graft.ops.AnnIndex.serveLsh(s, emb, dir), dir)
  }

  /** Right-to-be-forgotten on the STORED vector index: build over the
    * full base, tombstone-delete every vec_id % 5 == 0, serve the
    * standard batch — results must equal an LSH index holding only the
    * survivors under the SAME stored plane geometry (the oracle gates
    * the candidate side with the survivor predicate; queries still
    * come from the full base, like bm25_delete).
    */
  def annLshDeleteQ(s: SparkSession, d: String): DataFrame = {
    val emb = VectorOps.readEmbeddings(s, d)
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-del").toString
    graft.ops.AnnIndex.buildLsh(s, emb, dir)
    graft.ops.AnnIndex.delete(s,
      emb.filter(col("vec_id") % 5 === 0).select("vec_id"), dir, Some("q-del"))
    materializeAndDelete(s, graft.ops.AnnIndex.serveLsh(s, emb, dir), dir)
  }

  /** Same split for PQ: codebooks + codes persist, serving rehydrates
    * the codebook and scans stored codes — bit-identical to ann_pq.
    */
  def annPqServe(s: SparkSession, d: String): DataFrame = {
    val emb = VectorOps.readEmbeddings(s, d)
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-pq").toString
    graft.ops.AnnIndex.buildPq(s, emb, dir)
    materializeAndDelete(s, graft.ops.AnnIndex.servePq(s, emb, dir), dir)
  }

  /** Collect a tiny serve result (nQueries×k rows by construction) so
    * the per-query temp index dir can be deleted immediately — every
    * Verify/oracle run was otherwise leaving LSH-bucket + PQ-code
    * parquet debris in the system temp dir. Row order is preserved.
    */
  private def materializeAndDelete(s: SparkSession, df: DataFrame, dir: String): DataFrame = {
    val rows = df.collect()
    deleteDir(dir)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** Recursive local-temp-dir cleanup (driver-local harness dirs only —
    * production tables live on the lakehouse FS and are never deleted
    * this way).
    */
  private[graft] def deleteDir(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    }
  }

  /** Same split for SQ8: the quantizer + byte codes persist, serving
    * reads them back — bit-identical to ann_sq (same DuckDB mirror).
    */
  def annSqServe(s: SparkSession, d: String): DataFrame = {
    val emb = VectorOps.readEmbeddings(s, d)
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-sq").toString
    graft.ops.AnnIndex.buildSq(s, emb, dir)
    materializeAndDelete(s, graft.ops.AnnIndex.serveSq(s, emb, dir), dir)
  }

  /** Same split for IVF: centroid table + (cell, salt)-clustered
    * inverted-file relation persist, serving probes the stored lists —
    * bit-identical to ann_ivf (same DuckDB mirror, same deterministic
    * k-means training).
    */
  def annIvfServe(s: SparkSession, d: String): DataFrame = {
    val emb = VectorOps.readEmbeddings(s, d)
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-ivf").toString
    graft.ops.AnnIndex.buildIvf(s, emb, dir)
    materializeAndDelete(s, graft.ops.AnnIndex.serveIvf(s, emb, dir), dir)
  }

  /** In-memory IVF+PQ: coarse probe restricts the ADC scan to the
    * probed inverted lists — the composed billion-scale serving shape
    * (candidate fan-out Q×N×nProbe/k instead of plain PQ's Q×N).
    */
  def annIvfPq(s: SparkSession, d: String): DataFrame =
    VectorOps.annIvfPq(s, VectorOps.readEmbeddings(s, d))

  /** Composed split serving: BOTH persisted legs of one index dir (the
    * coarse inverted file + the PQ codebook/codes) answer the query
    * with no serve-time training — bit-identical to ann_ivfpq (same
    * composed DuckDB mirror).
    */
  def annIvfPqServe(s: SparkSession, d: String): DataFrame = {
    val emb = VectorOps.readEmbeddings(s, d)
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-ivfpq").toString
    graft.ops.AnnIndex.buildIvf(s, emb, dir)
    graft.ops.AnnIndex.buildPq(s, emb, dir)
    materializeAndDelete(s, graft.ops.AnnIndex.serveIvfPq(s, emb, dir), dir)
  }

  def embedClusterQ(s: SparkSession, d: String): DataFrame =
    VectorOps.embedCluster(s, VectorOps.readEmbeddings(s, d))

  /** SemDeDup over the planted semantic-dup corpus: k-means clusters,
    * within-cluster cosine pairs, min-id canonical (ops/VectorOps
    * .semDedup — the cluster-structured sibling of dedup_embedding).
    */
  def semDedupQ(s: SparkSession, d: String): DataFrame =
    VectorOps.semDedup(s,
      VectorOps.corpusWithSemDups(VectorOps.readEmbeddings(s, d)))

  /** Cluster-balanced sampling census (per-cell budget rates). */
  def clusterSampleQ(s: SparkSession, d: String): DataFrame =
    VectorOps.clusterSample(s, VectorOps.readEmbeddings(s, d))

  /** Z-order layout envelope census over documents, dims (n_chars,
    * doc_id): the per-cell (count, min/max × both dims) statistics a
    * planner prunes on — the oracle-checkable face of
    * [[graft.ops.Layout]]'s Morton clustering kernel.
    */
  def zorderLayoutQ(s: SparkSession, d: String): DataFrame =
    graft.ops.Layout.envelopeCensus(
      TextOps.readDocs(s, d).select(col("doc_id"), col("n_chars")),
      "n_chars", "doc_id")

  /** Integer PageRank over the planted host citation graph (domain
    * authority for host-level sample weighting).
    */
  def hostRankQ(s: SparkSession, d: String): DataFrame =
    graft.ops.GraphOps.hostRank(s, TextOps.readDocs(s, d))

  /** Host→host edges extracted from the raw page markup (the planted
    * nav out-link; see [[graft.ops.GraphOps.linkEdgesFromPages]]) —
    * the crawl-derived link graph behind the authority funnel.
    */
  def linkHostsQ(s: SparkSession, d: String): DataFrame =
    graft.ops.GraphOps.linkEdgesFromPages(pages(s, d).toDF())
      .orderBy(col("src"), col("dst"))

  /** Canonical-URL dedup census over the raw pages (the planted
    * doc_id%23==5 mirror rule; see [[TextOps.canonicalDedup]]).
    */
  def canonicalDedupQ(s: SparkSession, d: String): DataFrame =
    TextOps.canonicalDedup(pages(s, d).toDF())

  /** Per-page robots indexability (planted doc_id%31==11 noindex rule;
    * see [[TextOps.robotsGate]]).
    */
  def robotsGateQ(s: SparkSession, d: String): DataFrame =
    TextOps.robotsGate(pages(s, d).toDF())

  /** Title metadata extraction from raw html (genuine regex over the
    * pages scan; the oracle replays the planted `Doc <id>` title
    * rule — see [[TextOps.extractTitle]]).
    */
  def extractTitleQ(s: SparkSession, d: String): DataFrame =
    TextOps.extractTitle(pages(s, d).toDF())

  /** Padded-batch efficiency census over the documents table (see
    * [[TextOps.packEfficiency]]): token mass vs padding waste per
    * 128-token length bucket at seq_len 2048.
    */
  def packEfficiencyQ(s: SparkSession, d: String): DataFrame =
    TextOps.packEfficiency(TextOps.readDocs(s, d))

  /** PageRank over the markup-EXTRACTED link graph (hostRankEdges over
    * [[graft.ops.GraphOps.linkPairsFromPages]]) — the real-deployment
    * authority path end-to-end: crawl markup → edges → rank. Rank
    * universe = corpus hosts (a host nobody links to still ranks).
    */
  def linkRankQ(s: SparkSession, d: String): DataFrame = {
    val p = pages(s, d).toDF()
    graft.ops.GraphOps.hostRankEdges(s,
      graft.ops.GraphOps.linkPairsFromPages(p),
      nodes = Some(p.select(TextOps.hostOf("url").as("host"))))
  }

  /** The seed-label rule of [[labelPropQ]] and [[hostScorecardQ]]:
    * hosts whose parsed numeric id is 3 mod 7 carry label id % 3.
    */
  private def seedLabels(hosts: DataFrame): DataFrame = hosts.distinct()
    .withColumn("hid",
      regexp_extract(col("host"), "^host(\\d+)\\.example$", 1).cast("long"))
    .filter(col("hid") % 7 === 3)
    .select(col("host"), (col("hid") % 3).as("seed_label"))

  /** Semi-supervised label propagation over the markup-EXTRACTED link
    * graph ([[graft.ops.GraphOps.labelProp]]): seed hosts (parsed
    * numeric id ≡ 3 mod 7 — a stand-in for a curated domain list)
    * carry label id % 3; three rounds of weighted-majority adoption
    * spread the labels through the crawl structure. The seed relation
    * is an ARBITRARY (host, seed_label) input on the operator — this
    * query derives a deterministic one so the oracle can replay it.
    */
  def labelPropQ(s: SparkSession, d: String): DataFrame = {
    val p = pages(s, d).toDF()
    val hosts = p.select(TextOps.hostOf("url").as("host"))
    graft.ops.GraphOps.labelProp(s, graft.ops.GraphOps.linkPairsFromPages(p),
      seedLabels(hosts), nodes = Some(hosts))
  }

  /** Temperature mixture over PROPAGATED domain labels — the
    * composition [[labelPropQ]] exists to feed: every page's host is
    * parsed from its url, joined onto the label_prop labels, the
    * doc_id parsed from the url path, then the alpha = 1/2 isqrt
    * rate + splitmix admission census runs per label stratum
    * ([[graft.ops.TextOps.mixDomains]]). The unlabeled stratum (-1)
    * competes like any other.
    */
  def mixDomainsQ(s: SparkSession, d: String): DataFrame = {
    val p = pages(s, d).toDF()
    val docs = p.select(
        regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long").as("doc_id"),
        TextOps.hostOf("url").as("host"))
      .join(labelPropQ(s, d), Seq("host"))
      .select(col("doc_id"), col("label"))
    TextOps.mixDomains(docs)
  }

  /** Per-host crawl-prioritization scorecard — the one table a crawl
    * scheduler reads: document count, shallow-quality rate
    * (qualityScores' is_quality aggregated to permille), link-graph
    * authority rank ([[linkRankQ]]) and propagated domain label
    * ([[labelPropQ]]), all host-keyed. Scale shape: one per-doc scan
    * feeds a host aggregate; every join after that is between
    * host-count-sized relations (the rank/label state), orders of
    * magnitude below the corpus.
    */
  def hostScorecardQ(s: SparkSession, d: String): DataFrame = {
    val p = pages(s, d).toDF()
    val dh = p.select(
      regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long").as("doc_id"),
      TextOps.hostOf("url").as("host"))
    val q = TextOps.qualityScores(TextOps.readDocs(s, d))
      .select(col("doc_id").cast("long").as("doc_id"), col("is_quality"))
    val perHost = dh.join(q, Seq("doc_id"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("is_quality").cast("long")).as("nq"))
      .select(col("host"), col("n_docs").cast("long").as("n_docs"),
        expr("nq * 1000 DIV n_docs").cast("long").as("quality_permille"))
    // The rank and label legs consume the SAME extracted link graph —
    // materialize the (src, dst) pair relation once (it is link-sized,
    // orders of magnitude below the pages scan that derives it) so the
    // full-html regex extraction runs once, not once per leg. Same
    // relations as composing linkRankQ/labelPropQ directly.
    val pairs = graft.ops.GraphOps.linkPairsFromPages(p).localCheckpoint(false)
    val hosts = p.select(TextOps.hostOf("url").as("host"))
    val rank = graft.ops.GraphOps.hostRankEdges(s, pairs, nodes = Some(hosts))
    val label = graft.ops.GraphOps.labelProp(s, pairs, seedLabels(hosts), nodes = Some(hosts))
    perHost
      .join(rank, Seq("host"))
      .join(label, Seq("host"))
      .select(col("host"), col("n_docs"), col("quality_permille"),
        col("rank_milli"), col("label"))
      .orderBy(col("host"))
  }

  def annIvf(s: SparkSession, d: String): DataFrame =
    VectorOps.annIvf(s, VectorOps.readEmbeddings(s, d))

  def annRecall(s: SparkSession, d: String): DataFrame =
    VectorOps.annRecall(s, VectorOps.readEmbeddings(s, d))

  def dedupEmbedding(s: SparkSession, d: String): DataFrame =
    VectorOps.dedupEmbedding(s, VectorOps.readEmbeddings(s, d),
      minSimMicro = OracleSqlGen.DedupEmbeddingMinSimMicro,
      maxBucket = OracleSqlGen.DedupEmbeddingMaxBucket)

  def embedStats(s: SparkSession, d: String): DataFrame =
    VectorOps.embedStats(VectorOps.readEmbeddings(s, d))

  def mmDecodeStub(s: SparkSession, d: String): DataFrame =
    Multimodal.decodeAssets(s, d)

  def mmResize(s: SparkSession, d: String): DataFrame =
    Multimodal.resizeAssets(s, d)

  def mmEmbed(s: SparkSession, d: String): DataFrame =
    Multimodal.embedAssets(s, d)

  def mmSegments(s: SparkSession, d: String): DataFrame =
    Multimodal.segmentAssets(s, d)

  // ---------------- extraction pipeline (pages) ------------------------

  def scanPages(s: SparkSession, d: String): DataFrame =
    pages(s, d).toDF().select(col("url"), col("lang")).orderBy(col("url"))

  def filterNonempty(s: SparkSession, d: String): DataFrame =
    ExtractPipeline.inputGate(pages(s, d).toDF())
      .agg(count(lit(1)).as("n_pages"))

  def filterLang(s: SparkSession, d: String): DataFrame =
    pages(s, d).toDF().filter(col("lang") === "en")
      .select(col("url"), col("lang")).orderBy(col("url"))

  def tokenizeBlocks(s: SparkSession, d: String): DataFrame =
    scoredBlocks(s, d).toDF()
      .groupBy(col("url"))
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("tag") === "p", col("nChars")).otherwise(0)).cast("long").as("content_chars"),
        sum(when(col("tag") =!= "p", col("nChars")).otherwise(0)).cast("long").as("boiler_chars"))
      .orderBy(col("url"))

  def scoreBlocks(s: SparkSession, d: String): DataFrame =
    extracted(s, d)
      .select(col("url"), col("n_blocks").cast("long").as("n_blocks"),
        col("n_kept").cast("long").as("n_kept"))
      .orderBy(col("url"))

  /** Relational region grouping (M3 as Window) — cross-checks the
    * in-row Assembler implementation.
    */
  def groupRegions(s: SparkSession, d: String): DataFrame = {
    val kept = scoredBlocks(s, d).toDF()
      .filter(col("score") >= ExtractorConfig.spaceJoined.textThreshold)
    val w = Window.partitionBy(col("url")).orderBy(col("blockId"))
    kept
      .withColumn("prevId", lag(col("blockId"), 1).over(w))
      .withColumn("prevLink", lag(col("linkScore"), 1).over(w))
      .withColumn("newRegion",
        when(col("prevId").isNull, 1)
          .when(col("prevId") + 1 =!= col("blockId"), 1)
          .when(col("prevLink") < ExtractorConfig.spaceJoined.linkThreshold, 1)
          .otherwise(0))
      .groupBy(col("url"))
      .agg(sum(col("newRegion")).cast("long").as("n_regions"))
      .orderBy(col("url"))
  }

  /** Exploded row-form spans with exact byte offsets — reconstructed
    * from the struct-of-arrays storage via the arrays_zip view; the
    * DuckDB oracle recomputes every offset from the paragraph grammar.
    */
  def spansView(s: SparkSession, d: String): DataFrame =
    ExtractPipeline.spansAsStructs(extracted(s, d))
      .select(col("url"), posexplode(col("spans")).as(Seq("i", "span")))
      .select(col("url"), col("i"),
        col("span.start").as("start"), col("span.end").as("end"))
      .orderBy(col("url"), col("i"))

  def assembleSpans(s: SparkSession, d: String): DataFrame =
    extracted(s, d)
      .select(col("url"), size(col("span_starts")).cast("long").as("n_spans"),
        length(col("text")).cast("long").as("text_len"))
      .orderBy(col("url"))

  /** The flagship: full fused pipeline; extracted text is byte-identical
    * to documents.text (verified by the DuckDB oracle via sha256 AND by
    * direct value compare here).
    */
  def extractPipeline(s: SparkSession, d: String): DataFrame =
    extracted(s, d).select(col("url"), col("text")).orderBy(col("url"))

  /** PDF extraction leg (north rule: "PDF/layout parse"): documents
    * wrapped as one-page PDFs (Flate + raw streams) and run through THE
    * PRODUCTION extraction expression — ContentTokenizer sniffs the
    * %PDF magic and routes to PdfTextExtractor, the scorer/assembler
    * are format-agnostic. Output text is byte-identical to
    * documents.text, same oracle shape as extract_pipeline.
    */
  def extractPdf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pdfPages = TextOps.readDocs(s, d)
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        (PageSource.urlOf(id),
          new java.sql.Timestamp((PageSource.EpochBase + id) * 1000L),
          graft.sources.PdfSource.wrapPdf(id, text))
      })
      .toDF("url", "warc_ts", "html")
    ExtractPipeline.extractExpr(pdfPages, ExtractorConfig.spaceJoined)
      .select(col("url"), col("text"))
      .orderBy(col("url"))
  }

  /** WARC ingestion leg (the Common-Crawl container): documents are
    * packed 5-per-file into synthesized WARC/1.0 files (warcinfo +
    * request + response records; every other file gzipped per record —
    * the CC convention), the reader splits records / unwraps the HTTP
    * message / keeps only responses, and THE PRODUCTION extraction
    * expression runs on the recovered html. Output text byte-identical
    * to documents.text — record splitting is proven by the same oracle
    * as the HTML and PDF legs.
    */
  def extractWarc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val files = TextOps.readDocs(s, d)
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .groupByKey(_._1 / 5)
      .mapGroups { (g, it) =>
        val members = it.toArray.sortBy(_._1).map { case (id, text) =>
          (id, PageSource.urlOf(id), PageSource.EpochBase + id,
            PageSource.wrapHtml(id, text))
        }
        graft.sources.WarcSource.buildWarcFile(members.toSeq, gzipPerRecord = g % 2 == 1)
      }
    val warcPages = files
      .flatMap(bytes => graft.sources.WarcSource.responsesIterator(bytes))
      .map { case (url, epoch, body) =>
        (url, new java.sql.Timestamp(epoch * 1000L), body)
      }
      .toDF("url", "warc_ts", "html")
    ExtractPipeline.extractExpr(warcPages, ExtractorConfig.spaceJoined)
      .select(col("url"), col("text"))
      .orderBy(col("url"))
  }

  def digestOutput(s: SparkSession, d: String): DataFrame =
    extracted(s, d)
      .select(col("url"), sha2(col("text"), 256).as("text_sha"))
      .orderBy(col("url"))

  def dedupLatest(s: SparkSession, d: String): DataFrame =
    ExtractPipeline.dedupLatest(pages(s, d, withDups = true).toDF())
      .select(col("url"), col("warc_ts").cast("long").as("warc_epoch"))
      .orderBy(col("url"))

  def metricsByHost(s: SparkSession, d: String): DataFrame =
    extracted(s, d)
      .withColumn("host", regexp_extract(col("url"), "^https://([^/]+)/", 1))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("sum_text_chars"))
      .orderBy(col("host"))

  /** Per-host extraction COST census (skew diagnosis at 100 TB: which
    * hosts burn the bytes/CPU): input html bytes, output text bytes,
    * block counts — all from the extraction metrics columns, no second
    * scan of the raw html.
    */
  def hostCost(s: SparkSession, d: String): DataFrame =
    extracted(s, d)
      .withColumn("host", regexp_extract(col("url"), "^https://([^/]+)/", 1))
      .groupBy(col("host"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("bytes_in")).as("sum_bytes_in"),
        sum(col("bytes_out")).as("sum_bytes_out"),
        sum(col("n_blocks").cast("long")).as("sum_blocks"),
        max(col("bytes_in")).as("max_bytes_in"))
      .orderBy(col("host"))

  def skewTopk(s: SparkSession, d: String): DataFrame =
    pages(s, d).toDF()
      .withColumn("host", regexp_extract(col("url"), "^https://([^/]+)/", 1))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("host").asc)
      .limit(5)

  /** Skew census quantiles (A3): exact `percentile` over per-host page
    * counts (the oracle mirrors Spark's interpolation term-for-term:
    * (higher-pos)*lower + (pos-lower)*higher), plus a sanity bit that
    * the GK-sketch `percentile_approx` agrees at high accuracy.
    */
  def skewQuantiles(s: SparkSession, d: String): DataFrame =
    pages(s, d).toDF()
      .withColumn("host", regexp_extract(col("url"), "^https://([^/]+)/", 1))
      .groupBy(col("host")).agg(count(lit(1)).as("n_docs"))
      .agg(
        count(lit(1)).as("n_hosts"),
        expr("percentile(n_docs, array(0.25D, 0.5D, 0.75D, 0.9D))").as("q"),
        expr("percentile_approx(n_docs, 0.5D, 100000)").as("approx_p50"),
        max(col("n_docs")).as("max_docs"))
      .select(
        col("n_hosts"),
        element_at(col("q"), 1).as("p25"),
        element_at(col("q"), 2).as("p50"),
        element_at(col("q"), 3).as("p75"),
        element_at(col("q"), 4).as("p90"),
        (abs(col("approx_p50") - element_at(col("q"), 2)) <=
          greatest(lit(1.0), element_at(col("q"), 2) * 0.05)).as("approx_ok"),
        col("max_docs"))

  /** HLL cardinality metrics (A2): approx_count_distinct sketches
    * sanity-checked against the exact distinct counts (the sketch
    * estimate itself is engine-specific, so the oracle checks the
    * exact values plus the within-5% bits).
    */
  def approxDistinct(s: SparkSession, d: String): DataFrame =
    pages(s, d).toDF()
      .withColumn("host", regexp_extract(col("url"), "^https://([^/]+)/", 1))
      .agg(
        countDistinct(col("host")).as("n_hosts_exact"),
        countDistinct(col("url")).as("n_urls_exact"),
        approx_count_distinct(col("host"), 0.01).as("hll_hosts"),
        approx_count_distinct(col("url"), 0.01).as("hll_urls"))
      .select(
        col("n_hosts_exact"), col("n_urls_exact"),
        (abs(col("hll_hosts") - col("n_hosts_exact")) <=
          greatest(lit(1L), (col("n_hosts_exact") * 0.05).cast("long"))).as("hll_hosts_ok"),
        (abs(col("hll_urls") - col("n_urls_exact")) <=
          greatest(lit(1L), (col("n_urls_exact") * 0.05).cast("long"))).as("hll_urls_ok"))

  def scoreHistogram(s: SparkSession, d: String): DataFrame =
    scoredBlocks(s, d).toDF()
      .select(floor(col("score") / 8.0).cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_blocks"))
      .orderBy(col("bucket"))

  def resumeAntijoin(s: SparkSession, d: String): DataFrame = {
    // committed logical partitions 0..31 of 64 (doc-keyed for SQL
    // mirror; engine-internal part_id uses xxhash64(url) — unit-tested)
    val committed = s.range(0, 32).toDF("part_id")
    pages(s, d).toDF()
      .withColumn("part_id",
        regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long") % 64)
      .join(broadcast(committed), Seq("part_id"), "left_anti")
      .select(col("url")).orderBy(col("url"))
  }

  def repartitionRange(s: SparkSession, d: String): DataFrame =
    ExtractPipeline.clusterForWrite(
        ExtractPipeline.withPartId(extracted(s, d), 256), 8)
      .select(col("url")).orderBy(col("url"))

  /** Projection-prune query (P1): minimal column set + agg. */
  def projectPrune(s: SparkSession, d: String): DataFrame =
    pages(s, d).toDF().select(col("lang"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_pages"))
      .orderBy(col("lang"))

  /** Salted broadcast join (J3): the skewed big side (host0 owns 50% of
    * pages) carries a salt from url bytes; the small host-tier dim is
    * exploded across all salt values so the join key (host, salt)
    * spreads the hot host over S reducers.
    */
  def saltedJoin(s: SparkSession, d: String): DataFrame = {
    val S = 8
    val big = pages(s, d).toDF()
      .withColumn("host", regexp_extract(col("url"), "^https://([^/]+)/", 1))
      .withColumn("salt", pmod(xxhash64(col("url")), lit(S.toLong)).cast("int"))
    val dim = big.select(col("host")).distinct()
      .withColumn("hid", regexp_extract(col("host"), "^host(\\d+)\\.", 1).cast("long"))
      .withColumn("tier",
        when(col("hid") === 0, "hot")
          .when(col("hid").between(1, 9), "warm")
          .otherwise("cold"))
      .withColumn("salt", explode(sequence(lit(0), lit(S - 1))))
    big.join(broadcast(dim), Seq("host", "salt"))
      .groupBy(col("tier")).agg(count(lit(1)).as("n_pages"))
      .orderBy(col("tier"))
  }

  /** Scalar subquery (decorrelated by Catalyst). */
  def qSubquery(s: SparkSession, d: String): DataFrame = {
    val orders = s.read.parquet(s"$d/orders.parquet")
    val half = orders.agg((max(col("o_totalprice")) * 0.5).as("t"))
    orders.crossJoin(half).filter(col("o_totalprice") > col("t"))
      .agg(count(lit(1)).as("n_above"))
  }

  /** ROLLUP grouping sets over documents. */
  def qRollup(s: SparkSession, d: String): DataFrame =
    TextOps.readDocs(s, d)
      .rollup(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first)

  /** ONE SQL body for the Spark run and the DuckDB oracle (only the
    * table name differs) — two hand-kept copies would desynchronize
    * silently, the exact hazard the generated mirrors avoid.
    */
  private[graft] def groupingSetsSql(orders: String): String =
    s"""SELECT o_orderpriority, o_orderstatus,
       |  count(*) AS n_orders,
       |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
       |FROM $orders
       |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
       |ORDER BY o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""".stripMargin

  private[graft] def existsSql(customer: String, orders: String): String =
    s"""SELECT c_custkey FROM $customer
       |WHERE EXISTS (SELECT 1 FROM $orders
       |              WHERE o_custkey = c_custkey
       |                AND o_orderpriority = '1-URGENT' AND o_orderstatus = 'O')
       |ORDER BY c_custkey""".stripMargin

  /** Explicit GROUPING SETS (not derivable from rollup/cube): totals
    * by priority, by status, and the grand total in one pass.
    */
  def qGroupingSets(s: SparkSession, d: String): DataFrame = {
    s.read.parquet(s"$d/orders.parquet").createOrReplaceTempView("q_gs_orders")
    s.sql(groupingSetsSql("q_gs_orders"))
  }

  /** Correlated EXISTS subquery (decorrelated by Catalyst into a
    * semi-join): customers holding at least one urgent open order.
    */
  def qExists(s: SparkSession, d: String): DataFrame = {
    s.read.parquet(s"$d/customer.parquet").createOrReplaceTempView("q_ex_customer")
    s.read.parquet(s"$d/orders.parquet").createOrReplaceTempView("q_ex_orders")
    s.sql(existsSql("q_ex_customer", "q_ex_orders"))
  }

  /** NOT EXISTS as left-anti join: customers with no orders. */
  def qAntijoin(s: SparkSession, d: String): DataFrame = {
    val customer = s.read.parquet(s"$d/customer.parquet")
    val orders = s.read.parquet(s"$d/orders.parquet")
    customer.join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey")).orderBy(col("c_custkey"))
  }

  /** Explicit window FRAME spec (rowsBetween): per-customer 3-row
    * moving sum. Cents are floored BEFORE the sum so the aggregate is
    * integer-exact on both engines (double window-sums are
    * accumulation-order-sensitive).
    */
  def qWindowFrame(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(-2, Window.currentRow)
    s.read.parquet(s"$d/orders.parquet")
      .withColumn("cents", expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_custkey").cast("long").as("o_custkey"),
        sum(col("cents")).over(w).as("mov_cents"))
      .orderBy(col("o_orderkey"))
  }

  /** Pivot (grouping-sets cousin): docs per (source, lang) with langs
    * as columns. The value list is pinned so the schema is stable at
    * every scale factor.
    */
  def qPivot(s: SparkSession, d: String): DataFrame =
    TextOps.readDocs(s, d)
      .groupBy(col("source"))
      .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("source"))

  /** Set operators: INTERSECT / EXCEPT of the customer-key sets. */
  def qSetOps(s: SparkSession, d: String): DataFrame = {
    val cust = s.read.parquet(s"$d/customer.parquet").select(col("c_custkey"))
    val ord = s.read.parquet(s"$d/orders.parquet")
      .select(col("o_custkey").as("c_custkey"))
    cust.intersect(ord).agg(count(lit(1)).as("n_both"))
      .crossJoin(cust.except(ord).agg(count(lit(1)).as("n_only_cust")))
  }

  /** Sessionization: a new session starts after a >30 min gap (classic
    * event-stream window op; the batch formulation of what Structured
    * Streaming session windows compute).
    */
  def eventsSessions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    s.read.parquet(s"$d/events.parquet")
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull, 1)
          // microsecond diff: exact on both engines (SECOND-granularity
          // truncates vs counts boundary-crossings — disagrees on
          // sub-second timestamps)
          .when(expr("timestampdiff(MICROSECOND, prev_ts, ts)") > 1800L * 1000000L, 1)
          .otherwise(0))
      .groupBy(col("user_id"))
      .agg(sum(col("new_session")).cast("long").as("n_sessions"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  /** As-of join — the time-series "latest state at-or-before each
    * probe" operator: every click is matched to the SAME user's most
    * recent view at-or-before the click's timestamp. Implemented as
    * the union-tag formulation: both sides land in ONE window
    * partitioned by user and ordered (ts, side, event_id) with the
    * state side sorting first on timestamp ties, and the match is
    * last(state_id, ignoreNulls) over unbounded-preceding..current —
    * exactly one shuffle on the join key plus a linear per-user pass.
    * A naive `probe.ts >= state.ts` theta-join has no equi-key for the
    * time axis and degrades to a per-user nested loop (O(clicks·views)
    * pairs before the max); the window formulation's state is one
    * running id, whatever the history length — the shape that holds
    * when a key carries years of events. Output is integer-exact:
    * matched view id + the microsecond gap, -1 sentinels when no view
    * precedes the click (kept null-free so the cross-engine hash
    * compare never depends on null ordering).
    */
  def eventsAsof(s: SparkSession, d: String): DataFrame = {
    val tagged = s.read.parquet(s"$d/events.parquet")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        when(col("event_type") === "view", 0).otherwise(1).as("side"),
        when(col("event_type") === "view", col("event_id")).as("view_id"),
        when(col("event_type") === "view", col("ts")).as("view_ts"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("side").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("asof_view_id", last(col("view_id"), ignoreNulls = true).over(w))
      .withColumn("asof_view_ts", last(col("view_ts"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"),
        coalesce(col("asof_view_id"), lit(-1L)).cast("long").as("asof_view_id"),
        coalesce(expr("timestampdiff(MICROSECOND, asof_view_ts, ts)"),
          lit(-1L)).cast("long").as("gap_us"))
      .orderBy(col("event_id"))
  }

  /** Range (interval) join: for every error event, count the SAME
    * user's non-error events inside the 5-minute window [t, t+5min).
    * Implemented as the BUCKETED interval join: time is quantized into
    * window-width epochs, each probe interval covers at most two
    * epochs (explode fan-out bounded at 2), and the join is an
    * EQUI-join on (user_id, epoch) refined by the exact range
    * predicate — a hash shuffle join, never the
    * BroadcastNestedLoopJoin a raw inequality join plans as. At scale
    * the shuffle keys on (user, epoch), so a long history spreads over
    * epochs instead of concentrating per user; microsecond arithmetic
    * is anchored at a fixed literal epoch so both engines compute the
    * identical integers regardless of session timezone or
    * TIMESTAMP/NTZ type mapping.
    */
  def eventsRange(s: SparkSession, d: String): DataFrame = {
    val W = 300L * 1000000L // 5-minute window width in microseconds
    val ev = s.read.parquet(s"$d/events.parquet")
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("timestampdiff(MICROSECOND, timestamp'2024-01-01 00:00:00', ts)")
          .as("t"))
    val probes = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id"), col("t").as("t0"))
      .withColumn("epoch",
        explode(array(expr(s"t0 DIV $W"), expr(s"t0 DIV $W") + 1)))
    val base = ev.filter(col("event_type") =!= "error")
      .withColumn("epoch", expr(s"t DIV $W"))
    val hits = probes.join(base, Seq("user_id", "epoch"))
      .filter(col("t") >= col("t0") && col("t") < col("t0") + lit(W))
      .groupBy(col("err_id")).agg(count(lit(1)).as("n_in_window"))
    ev.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id"))
      .join(hits, Seq("err_id"), "left")
      .select(col("err_id").as("event_id"), col("user_id"),
        coalesce(col("n_in_window"), lit(0L)).cast("long").as("n_in_window"))
      .orderBy(col("event_id"))
  }

  /** Multimodal frame-sampling: explode each asset into one row per
    * decoded frame (video analog of the decode stub).
    */
  def mmFrames(s: SparkSession, d: String): DataFrame =
    Multimodal.decodeAssets(s, d)
      .select(col("doc_id"),
        explode(sequence(lit(0), col("n_frames") - 1)).as("frame_idx"))
      .orderBy(col("doc_id"), col("frame_idx"))

  def saltedPartition(s: SparkSession, d: String): DataFrame =
    pages(s, d).toDF()
      .withColumn("salt",
        regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long") % 8)
      .groupBy(col("salt"))
      .agg(count(lit(1)).as("n_pages"))
      .orderBy(col("salt"))

  /** RAG chunking over the documents corpus (see
    * [[TextOps.chunkOverlap]]): overlapping 32-word windows every 24
    * words with byte-exact begin_char offsets — the oracle re-derives
    * the offset by a different route (joined-prefix length), so the
    * offset contract is verified, not just echoed.
    */
  def chunkOverlapQ(s: SparkSession, d: String): DataFrame =
    TextOps.chunkOverlap(TextOps.readDocs(s, d))

  /** Exact-k-per-language quota sample (see [[TextOps.quotaSample]]);
    * the WindowGroupLimit pre-shuffle top-k shape is plan-asserted in
    * ScaleOpsSpec.
    */
  def quotaSampleQ(s: SparkSession, d: String): DataFrame =
    TextOps.quotaSample(TextOps.readDocs(s, d))

  /** Embedding-space eval decontamination (see
    * [[graft.ops.VectorOps.decontaminateEmbed]]): eval slice
    * vec_id % 53 == 0 drawn from the corpus itself, so slice members
    * self-flag at ~1.0 alongside genuine semantic near-matches.
    */
  def decontaminateEmbedQ(s: SparkSession, d: String): DataFrame =
    graft.ops.VectorOps.decontaminateEmbed(
      graft.ops.VectorOps.readEmbeddings(s, d))

  /** Retrieve-then-rerank (see [[graft.ops.SearchOps.hybridRerank]]):
    * the bm25 leg nominates its top-10 on the shared doc_id % 101
    * query slice, embedding cosine re-orders them, top-5 kept. The
    * oracle composes the bm25 mirror verbatim with the cosine kernel.
    */
  def hybridRerankQ(s: SparkSession, d: String): DataFrame = {
    val docs = TextOps.readDocs(s, d)
    graft.ops.SearchOps.hybridRerank(
      graft.ops.SearchOps.bm25Search(docs, bm25QueryTerms(docs)),
      graft.ops.VectorOps.readEmbeddings(s, d))
  }
}
