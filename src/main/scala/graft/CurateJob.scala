package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{GraphOps, TextOps, VectorOps}
import graft.pipeline.ParquetTableIO

/** Training-corpus curation job: composes the training-data operators
  * into the production pipeline a 100 TB corpus actually runs AFTER
  * extraction:
  *
  *   extracted pages → url canonicalization + url dedup
  *     → quality + repetition gate (single projection, codegen)
  *     → near-dup clustering (exact sha + MinHash-LSH edges, plus an
  *       optional SEMANTIC embedding-LSH edge source for
  *       paraphrase-grade duplicates that share no word set →
  *       connected components; keep one canonical doc per cluster)
  *     → [optional] passage-level gate (drop boilerplate-mosaic docs
  *       whose cross-doc duplicated-passage share exceeds
  *       maxDupPermille — the sub-document signal doc-level dedup
  *       cannot see; off by default)
  *     → [optional] per-domain cap (at most maxDocsPerHost docs per
  *       PARSED host, keep the best by token count — the C4/RefinedWeb
  *       domain budget; salted two-phase TextOps.hostCap, off by
  *       default)
  *     → PII scrub → deterministic hash sampling (flat permille, or
  *       [optional] authority-weighted: host_rank → ntile tiers →
  *       per-tier permille joined on host — the PageRank signal
  *       actually consumed by the funnel)
  *     → token-budget shard packing → shard-partitioned parquet write
  *
  * Scale shape (the properties that survive 1000 executors):
  *  - doc key = xxhash64(url_norm): no string keys cross a shuffle
  *    after normalization;
  *  - the quality/repetition/scrub/sample stages are ONE codegen'd
  *    projection pass — no shuffle, no UDF;
  *  - dedup edges carry (id, sha) / (id, band-bucket) only — document
  *    text never rides an exchange (same invariants as TextOps);
  *  - the url-deduped set is persisted once: the funnel counts, the
  *    gate, edge building (several small actions during component
  *    iteration) and the final write all derive from it — the input
  *    parquet is scanned exactly once per run;
  *  - the funnel report reads counts from the persisted frames, not
  *    extra passes over parquet.
  *
  * CLI: spark-submit --class graft.CurateJob app.jar <extractedPath> <outDir>
  * (expects ExtractJob output or any parquet with url + text columns).
  *
  * Note on synthetic corpora: the repetition gate (n_distinct*2 <=
  * n_tokens) is calibrated for natural text; a vocab-limited synthetic
  * corpus (e.g. the 56-word bench generator) trips it for most long
  * docs — the funnel report makes that visible (that IS the filter
  * doing its job), and the thresholds are `run()` parameters.
  */
object CurateJob {

  final case class CurateReport(
      nInput: Long, nUrlDeduped: Long, nGated: Long,
      nCanonical: Long, nSampled: Long, nShards: Long,
      nAuthTiers: Long)

  /** The funnel's stage frames: [[run]] counts and writes from these;
    * the `curate_funnel` oracle query materializes `packed` directly.
    * `urlDeduped` (and `canonical`, when an optional stage is on) come
    * back persisted when `cache = true` — callers unpersist them after
    * their last action (unpersist on a non-persisted frame is a no-op).
    */
  final case class FunnelFrames(
      urlDeduped: DataFrame, gated: DataFrame,
      canonical: DataFrame, packed: DataFrame)

  def run(
      spark: SparkSession,
      extractedPath: String,
      outDir: String,
      nBuckets: Int = 8,
      budgetTokens: Long = 4096L,
      samplePermille: Long = 900L,
      minTokens: Long = 5L,
      dupFactor: Long = 2L,
      format: String = "parquet", // or "json": JSONL shards for trainers
      // optional sub-document gate: drop docs whose cross-doc
      // duplicated-passage share exceeds this permille (the
      // boilerplate-mosaic filter doc-level dedup cannot see).
      // None (default) keeps the funnel byte-identical to r2/r3 runs.
      maxDupPermille: Option[Long] = None,
      // optional authority-weighted sampling: per-tier permille rates,
      // index 0 = highest-authority hosts (GraphOps.hostTiers over the
      // host_rank signal). Replaces the flat samplePermille when set;
      // None (default) keeps the funnel byte-identical to prior runs.
      authorityPermille: Option[Seq[Long]] = None,
      // optional REAL crawl link graph (src, dst) keyed on parsed
      // hosts: when set (with authorityPermille), the doc-side host is
      // parsed from url_norm (TextOps.hostOf) and ranks come from
      // GraphOps.hostRankEdges over these edges — the production
      // shape. When None, the planted-arithmetic generator stands in
      // (tests/oracle; doc ids are hashes, so its "hosts" are residues).
      authorityEdges: Option[DataFrame] = None,
      // optional SEMANTIC dedup leg (SemDeDup-style): an embeddings
      // relation (vec_id, embedding) keyed by vec_id =
      // xxhash64(url_norm) — EmbedJob.run(normalizeUrls = true)
      // produces exactly this. Near-identical-embedding pairs above
      // semanticMinSimMicro join the clustering edge feed, so
      // paraphrase/translation-grade duplicates that share no word
      // set (invisible to exact sha AND MinHash shingles) still
      // collapse to one canonical doc. Off by default: the funnel is
      // byte-identical to prior rounds when None.
      embeddings: Option[DataFrame] = None,
      semanticMinSimMicro: Long = 950000L,
      // optional per-domain cap ("at most N pages per host, keep the
      // best by token count" — the C4/RefinedWeb rule): hosts are
      // PARSED from url_norm, the cap is the salted two-phase
      // TextOps.hostCap. Off by default (funnel byte-identical).
      maxDocsPerHost: Option[Int] = None
  ): CurateReport = {
    graft.functions.GraftExtensions.register(spark)

    val input = spark.read.parquet(extractedPath).select(col("url"), col("text"))
    val nInput = input.count()

    // ---- 0. canonicalize urls; doc key = xxhash64(url_norm). The
    // funnel core (stages 1-4) is the shared [[funnel]] — the
    // `curate_funnel` oracle query drives the SAME code over a planted
    // corpus with known ids, so every stage below is DuckDB-replayed.
    val normed = TextOps.withUrlNorm(input.withColumnRenamed("url", "url_messy"))
      .select(xxhash64(col("url_norm")).as("doc_id"), col("url_norm"), col("text"))
    val f = funnel(spark, normed, nBuckets, budgetTokens, samplePermille,
      minTokens, dupFactor, maxDupPermille, authorityPermille, authorityEdges,
      embeddings, semanticMinSimMicro, maxDocsPerHost)
    val nUrlDeduped = f.urlDeduped.count() // materializes the persist
    val nGated = f.gated.count() // cheap filter over the cached frame
    val packed = f.packed

    val writer = packed.write.mode(SaveMode.Overwrite).partitionBy("bucket")
    if (format == "json") // text-codec list has no zstd; gzip is the JSONL norm
      writer.option("compression", "gzip").json(s"$outDir/shards")
    else writer.options(ParquetTableIO.WriteOptions)
      .parquet(s"$outDir/shards")

    // a gate-everything day writes NO shard files; neither format can
    // infer a schema from an empty directory tree — report zeros.
    // Hadoop FS API, not java.io.File: the outDir may be HDFS/S3 on a
    // real cluster, where a local-FS walk would silently report empty.
    val suffix = if (format == "json") ".json" else ".parquet"
    val shardsPath = new org.apache.hadoop.fs.Path(s"$outDir/shards")
    val fs = shardsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hasData(p: org.apache.hadoop.fs.Path): Boolean =
      fs.exists(p) && fs.listStatus(p).exists(s =>
        (s.isFile && s.getPath.getName.contains(suffix)) ||
          (s.isDirectory && hasData(s.getPath)))
    val (nSampled, nShards) =
      if (!hasData(shardsPath)) (0L, 0L)
      else {
        // explicit schema for JSONL: inference would decompress every
        // gzip shard a second time just to learn what `packed` wrote
        // (bucket is the partition-dir key, appended by discovery)
        val jsonSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("url_norm", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_tokens", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("shard", org.apache.spark.sql.types.LongType)))
        val out = if (format == "json") spark.read.schema(jsonSchema).json(s"$outDir/shards")
          else spark.read.parquet(s"$outDir/shards")
        val r = out.agg(count(lit(1)),
          countDistinct(col("bucket"), col("shard"))).collect()(0)
        (r.getLong(0), r.getLong(1))
      }
    val nCanonical = f.canonical.count()
    f.canonical.unpersist()
    f.urlDeduped.unpersist()

    val report = CurateReport(nInput, nUrlDeduped, nGated, nCanonical, nSampled, nShards,
      authorityPermille.map(_.length.toLong).getOrElse(0L))
    import spark.implicits._
    Seq(report).toDS().write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/curate_metrics")
    report
  }

  /** The funnel core, stages 1-4 of [[run]] as a pure frame transform:
    * url-dedup → quality gate → near-dup clustering → scrub + sample +
    * shard-pack. Input `normed` rows are (doc_id, url_norm, text) with
    * doc_id functionally determined by url_norm (production:
    * xxhash64(url_norm); the oracle query supplies planted ids so the
    * DuckDB mirror can recompute every stage) — multiple rows per
    * url_norm are url revisits, collapsed by stage 1.
    *
    * `cache = false` skips the internal persists for one-shot callers
    * (the oracle query) that cannot unpersist after returning a lazy
    * frame; the component iteration then recomputes the cheap upstream
    * projections, which is fine at oracle scale and wrong at corpus
    * scale — [[run]] always caches.
    */
  def funnel(
      spark: SparkSession,
      normed: DataFrame,
      nBuckets: Int = 8,
      budgetTokens: Long = 4096L,
      samplePermille: Long = 900L,
      minTokens: Long = 5L,
      dupFactor: Long = 2L,
      maxDupPermille: Option[Long] = None,
      authorityPermille: Option[Seq[Long]] = None,
      authorityEdges: Option[DataFrame] = None,
      embeddings: Option[DataFrame] = None,
      semanticMinSimMicro: Long = 950000L,
      maxDocsPerHost: Option[Int] = None,
      cache: Boolean = true): FunnelFrames = {
    graft.functions.GraftExtensions.register(spark)

    // ---- 1. one doc per url_norm (deterministic keep:
    // lexicographically-min sha — revisit-insensitive). Persisted ONCE:
    // the funnel count, the gate, edge building, clustering and the
    // final write all derive from this frame — the input is scanned
    // exactly once per run.
    val urlDeduped0 = normed
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("url_norm")).orderBy(sha2(col("text"), 256))))
      .filter(col("rn") === 1).drop("rn")
    // cache=true (production `run`): plain persist, unpersisted by the
    // caller after its last action. cache=false (one-shot callers that
    // return a lazy frame and can never unpersist — the oracle
    // queries): LAZY local checkpoint instead. The component iteration
    // and every downstream frame then reuse one materialization of the
    // scan+window instead of replaying it per action (measured 1.5-3x
    // on the curate_funnel* bench queries), and the blocks are
    // reclaimed by the ContextCleaner once the returned plan is
    // dropped — exactly what persist() could not guarantee here.
    val urlDeduped = if (cache) urlDeduped0.persist()
      else urlDeduped0.localCheckpoint(false)

    // ---- 2. quality + repetition gate: one projection, all flags
    // integer-exact (TextOps.qualityScores / repetitionStats rules).
    val words = split(col("text"), " ")
    val gated = urlDeduped
      .withColumn("n_tokens", size(words).cast("long"))
      .withColumn("n_distinct", size(array_distinct(words)).cast("long"))
      .withColumn("n_punct",
        (length(col("text")) - length(translate(col("text"), TextOps.PunctChars, "")))
          .cast("long"))
      .filter(col("n_tokens") >= minTokens &&
        TextOps.keepPunct(col("text"), col("n_punct")) &&
        TextOps.keepNonRepetitive(col("n_distinct"), col("n_tokens"), dupFactor))

    // ---- 3. near-dup clustering: exact (sha) + MinHash-LSH (+
    // optional embedding-LSH) edges → connected components; survivors
    // are the component minima.
    val texts = gated.select(col("doc_id"), col("text"))
    val textEdges = TextOps.exactDupEdges(texts)
      .unionByName(TextOps.dedupMinhashEdges(spark, texts).select(col("doc_a"), col("doc_b")))
    val edges = embeddings match {
      case None => textEdges
      case Some(emb) =>
        // restrict to GATED docs first (left_semi on ids) so a
        // semantic edge cannot bridge two survivors through a doc the
        // quality gate already dropped; dedupEmbedding keeps its own
        // invariants (hot-bucket caps, ids-only candidate distinct,
        // no full-relation broadcast)
        val embGated = emb
          .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
          .join(gated.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
        textEdges.unionByName(
          VectorOps.dedupEmbedding(spark, embGated, minSimMicro = semanticMinSimMicro)
            .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
    }
    // star alternation, not min-label: a production corpus can contain
    // adversarial near-dup CHAINS (a~b~c~...) whose diameter exceeds
    // any fixed round budget — large-star/small-star converges in
    // O(log n) rounds on any shape instead of throwing mid-job
    val labels = TextOps.connectedComponentsStar(gated.select(col("doc_id")), edges)
    val canonical = gated.join(
      labels.filter(col("doc_id") === col("label")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")

    // ---- 3b (optional). passage-level gate: a doc that is mostly a
    // mosaic of passages duplicated ACROSS the corpus survives both
    // exact and near-dup clustering (its word set is unique) — this is
    // the RefinedWeb/Lee-et-al sub-document signal. Hashes only on the
    // wire (TextOps.passageDedup).
    // persist when any optional stage adds extra actions over the
    // canonical lineage (passage aggregate / host-rank pre-count) —
    // without it the whole funnel (gate + dedup + components) would
    // execute once per action
    val cacheCanonical = cache && (maxDupPermille.isDefined ||
      authorityPermille.isDefined || maxDocsPerHost.isDefined)
    // cache=false mirrors the urlDeduped treatment: a lazy local
    // checkpoint truncates the gate+clustering lineage so the optional
    // stages (passage aggregate, host-rank sizing count, tier join)
    // and the packed/audit consumers reuse one materialization.
    val canonicalC =
      if (cacheCanonical) canonical.persist()
      else if (!cache) canonical.localCheckpoint(false)
      else canonical
    val passGated = maxDupPermille match {
      case Some(th) =>
        // Drop only docs PROVEN over threshold (left_anti): a doc with
        // no passages at all is absent from the report and must survive.
        val drop = TextOps.passageDedup(canonicalC.select(col("doc_id"), col("text")))
          .filter(col("dup_permille") > th)
          .select(col("doc_id"))
        canonicalC.join(drop, Seq("doc_id"), "left_anti")
      case None => canonicalC
    }

    // ---- 3c (optional). per-domain cap: at most maxDocsPerHost docs
    // per PARSED host, keeping the highest-token-count ones — the
    // C4/RefinedWeb "domain budget" that stops one mega-host from
    // dominating the corpus even after dedup (its pages are all
    // distinct content). The cap relation carries (doc_id, host,
    // n_tokens) only — text never rides the hostCap shuffles — and
    // survivors rejoin by id (left_semi).
    val hostCapped = maxDocsPerHost match {
      case Some(cap) =>
        val kept = TextOps.hostCap(
          passGated.select(col("doc_id"),
            TextOps.hostOf("url_norm").as("host"),
            col("n_tokens")),
          cap).select(col("doc_id"))
        passGated.join(kept, Seq("doc_id"), "left_semi")
      case None => passGated
    }

    // ---- 4. scrub + sample + shard-pack, one more projection + the
    // bucket-partitioned window, then the shard write.
    val scrubbed = hostCapped
      .withColumn("text",
        regexp_replace(col("text"), TextOps.EmailPattern, "<EMAIL>"))
    val sampleKey = TextOps.unsignedMod1000(
      TextOps.splitmixCol(col("doc_id").bitwiseXOR(lit(TextOps.SampleSeed))))
    val sampled = authorityPermille match {
      case None => scrubbed.filter(sampleKey < lit(samplePermille))
      case Some(rates) =>
        // authority-weighted sampling: host_rank → ntile tiers → per-tier
        // permille, joined on host (the signal → funnel last mile).
        require(rates.nonEmpty && rates.forall(r => r >= 0L && r <= 1000L),
          "authorityPermille rates must be in [0, 1000]")
        val (docHost, tiers) = authorityEdges match {
          case Some(edges) =>
            // REAL-corpus path: the doc-side host is PARSED from
            // url_norm and ranks come from the supplied crawl link
            // graph keyed the same way — no id arithmetic anywhere.
            // Corpus hosts nobody links to join the rank universe so
            // they still land in a tier (base rank).
            val host = TextOps.hostOf("url_norm")
            val universe = scrubbed.select(host.as("host"))
              .unionByName(edges.select(col("src").as("host")))
              .unionByName(edges.select(col("dst").as("host")))
            (host, GraphOps.tiersOf(
              GraphOps.hostRankEdges(spark, edges, nodes = Some(universe)),
              rates.length))
          case None =>
            // planted-arithmetic generator (tests/oracle): host derives
            // from the REDUCED doc id (GraphOps.HostIdModulus — raw
            // xxhash64 ids overflow the planted-graph arithmetic under
            // ANSI) on BOTH the rank and the doc side, so the join key
            // is consistent by construction.
            (GraphOps.hostCol(pmod(col("doc_id"), lit(GraphOps.HostIdModulus))),
              GraphOps.hostTiers(spark,
                scrubbed.select(pmod(col("doc_id"), lit(GraphOps.HostIdModulus)).as("doc_id")),
                rates.length))
        }
        // tier is 1-based (ntile); element_at is 1-based too. No forced
        // broadcast: the rate relation is one row PER HOST — usually
        // tiny, but at 10^7+ hosts a forced broadcast would ship
        // hundreds of MB to every executor; AQE picks BHJ when it
        // actually fits and SMJ otherwise.
        val tierRates = tiers.select(col("host"),
          element_at(array(rates.map(lit): _*), col("tier").cast("int")).as("tier_permille"))
        scrubbed.withColumn("host", docHost)
          .join(tierRates, Seq("host"))
          .filter(sampleKey < col("tier_permille"))
          .drop("host", "tier_permille")
    }
    val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
    val packed = sampled
      .withColumn("bucket", pmod(col("doc_id"), lit(nBuckets.toLong)))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("shard", expr(s"(cum - n_tokens) DIV ${budgetTokens}L").cast("long"))
      .select(col("doc_id"), col("url_norm"), col("text"),
        col("n_tokens"), col("bucket"), col("shard"))
    FunnelFrames(urlDeduped, gated, canonicalC, packed)
  }

  /** Per-doc funnel AUDIT — the debugging view a pipeline owner reads
    * when "why did my corpus shrink 40%?" lands: every url-deduped doc
    * labeled with the FIRST stage that rejected it (`quality`,
    * `duplicate`, `sampled_out`, `post_canonical`) or `admitted`.
    * Derived from the SAME [[FunnelFrames]] a funnel run produced —
    * the admitted set IS the packed frame's id set by join, so the
    * audit cannot drift from the real funnel's judgment under ANY
    * branch combination (passage gate, host cap, authority tiers).
    * Among non-admitted survivors, the flat-sampling verdict is
    * recomputed from the deterministic hash expression: under the
    * default funnel it explains every post-canonical drop (the
    * `post_canonical` label never appears — spec-pinned); with
    * optional stages ON, docs the hash would have kept but an
    * optional stage cut are labeled `post_canonical` honestly instead
    * of being misattributed to sampling. All joins are ids-only; text
    * never rides them.
    *
    * Plan note: the branches share the funnel lineage — run the
    * producing funnel with cache=true at scale (it persists the
    * url-deduped frame; component labels are checkpoint-truncated
    * already) or audit a funnel output that was written to a table.
    */
  def auditFunnel(frames: FunnelFrames,
                  samplePermille: Long = 900L): DataFrame = {
    val ids = frames.urlDeduped.select(col("doc_id").cast("long").as("doc_id"))
    val g = frames.gated.select(col("doc_id").cast("long").as("doc_id"),
      lit(true).as("is_gated"))
    val c = frames.canonical.select(col("doc_id").cast("long").as("doc_id"),
      lit(true).as("is_canonical"))
    val p = frames.packed.select(col("doc_id").cast("long").as("doc_id"),
      lit(true).as("is_packed"))
    val sampleKey = TextOps.unsignedMod1000(
      TextOps.splitmixCol(col("doc_id").bitwiseXOR(lit(TextOps.SampleSeed))))
    ids.join(g, Seq("doc_id"), "left").join(c, Seq("doc_id"), "left")
      .join(p, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_gated").isNull, "quality")
          .when(col("is_canonical").isNull, "duplicate")
          .when(col("is_packed").isNotNull, "admitted")
          .when(sampleKey >= lit(samplePermille), "sampled_out")
          .otherwise("post_canonical").as("stage"))
      .orderBy(col("doc_id"))
  }

  /** CLI link-graph argument: a parquet of (src, dst) host edges, or
    * `pages:<dir>` — a pages table whose raw html is link-extracted on
    * the fly (the crawl-derived authority path as one CLI flag).
    */
  def resolveEdges(spark: SparkSession, arg: String): DataFrame =
    if (arg.startsWith("pages:"))
      GraphOps.linkPairsFromPages(spark.read.parquet(arg.stripPrefix("pages:")))
    else spark.read.parquet(arg)

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: graft.CurateJob <extractedPath> <outDir> [tierPermille,...] [linkGraphPath] [maxDocsPerHost]\n" +
        "  optional 3rd arg: comma-separated per-tier sample permille\n" +
        "  (index 0 = highest-authority hosts) enabling authority-weighted sampling\n" +
        "  optional 4th arg: parquet of (src, dst) host link edges — tiers then\n" +
        "  key on hosts PARSED from url_norm ranked over this real link graph;\n" +
        "  or pages:<pagesDir> to EXTRACT the link graph from that pages\n" +
        "  table's raw html (GraphOps.linkPairsFromPages)\n" +
        "  optional 5th arg: per-domain document cap (keep the top-N docs\n" +
        "  per parsed host by token count); '-' skips the 3rd/4th args")
      sys.exit(2)
    }
    // '-' placeholders let later optional args be set without earlier ones
    val authRates =
      if (args.length > 2 && args(2) != "-")
        Some(args(2).split(",").toSeq.map(_.trim.toLong))
      else None
    val hostCapArg =
      if (args.length > 4 && args(4) != "-") Some(args(4).toInt) else None
    val spark = GraftSession()
    val edges = if (args.length > 3 && args(3) != "-")
      Some(resolveEdges(spark, args(3))) else None
    val r = run(spark, args(0), args(1), authorityPermille = authRates,
      authorityEdges = edges, maxDocsPerHost = hostCapArg)
    println(
      s"""{"n_input":${r.nInput},"n_url_deduped":${r.nUrlDeduped},""" +
      s""""n_gated":${r.nGated},"n_canonical":${r.nCanonical},""" +
      s""""n_sampled":${r.nSampled},"n_shards":${r.nShards},""" +
      s""""n_auth_tiers":${r.nAuthTiers}}""")
    spark.stop()
  }
}
