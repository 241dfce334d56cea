package graft.ops

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.PageSource.splitmix64

/** Training-data text operations over the driver's `documents` table:
  * exact + near dedup (MinHash/LSH, SimHash), language-ID heuristic,
  * quality scoring, token counting, document fingerprinting.
  *
  * Scale notes (100 TB framing):
  *  - exact dedup = hash groupBy (map-side partial agg, one shuffle);
  *  - MinHash dedup avoids the O(n²) all-pairs comparison: per-doc
  *    signatures in ONE typed map (no explode shuffle for signature
  *    building), then an LSH band-bucket join yields candidates, and
  *    only candidates pay the exact-Jaccard verify;
  *  - SimHash near-dup uses 4-segment blocking (Hamming ≤3 ⇒ at least
  *    one of 4 16-bit segments equal) so the join is equi-join-able.
  */
object TextOps {

  val MinHashK = 16
  val Bands = 4
  val RowsPerBand = 4
  val ShingleWords = 3

  /** FNV-1a 64-bit over UTF-8 bytes — stable, dependency-free. */
  def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes(StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Word shingles of a single-space-separated text. */
  def shingles(text: String): Array[String] = {
    val words = if (text.isEmpty) Array.empty[String] else text.split(' ')
    if (words.length < ShingleWords) {
      if (text.isEmpty) Array.empty[String] else Array(text)
    } else {
      // honors ShingleWords (a hardcoded 3-word join would silently
      // produce malformed shingles if the constant is ever tuned)
      (0 to words.length - ShingleWords)
        .map(i => words.slice(i, i + ShingleWords).mkString(" ")).toArray
    }
  }

  /** Per-hash-function seeds (public: the DuckDB oracle embeds them as
    * literals).
    */
  val minhashSeeds: Array[Long] =
    Array.tabulate(MinHashK)(i => splitmix64(0x3c6ef372fe94f82aL + i))
  private def seeds = minhashSeeds

  /** MinHash signature in one pass over the shingles (primitive array,
    * unsigned-min semantics).
    */
  def minhashSignature(text: String): Array[Long] = {
    val sig = Array.fill(MinHashK)(-1L) // unsigned max
    val sh = shingles(text)
    var si = 0
    while (si < sh.length) {
      val base = fnv1a64(sh(si))
      var i = 0
      while (i < MinHashK) {
        val h = splitmix64(base ^ seeds(i))
        if (java.lang.Long.compareUnsigned(h, sig(i)) < 0) sig(i) = h
        i += 1
      }
      si += 1
    }
    sig
  }

  def exactJaccard(a: String, b: String): Double = {
    val sa = shingles(a).toSet
    val sb = shingles(b).toSet
    if (sa.isEmpty && sb.isEmpty) 1.0
    else {
      val inter = sa.intersect(sb).size
      inter.toDouble / (sa.size + sb.size - inter).toDouble
    }
  }

  /** 64-bit SimHash over word unigrams. Empty tokens (leading/double
    * spaces) are SKIPPED — bit-for-bit equal to the native
    * GraftFunctions.simhash64 kernel on ANY input (FunctionsSpec).
    */
  def simhash(text: String): Long = {
    val counts = new Array[Int](64)
    if (text.nonEmpty) {
      val words = text.split(' ')
      var wi = 0
      while (wi < words.length) {
        if (words(wi).nonEmpty) {
          val h = fnv1a64(words(wi))
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
            b += 1
          }
        }
        wi += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Rolling polynomial fingerprint (Rabin–Karp style) over text bytes. */
  def fingerprint(text: String): Long = {
    var h = 0L
    val bytes = text.getBytes(StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) {
      h = h * 1000003L + (bytes(i) & 0xffL)
      i += 1
    }
    h
  }

  /** Tiny n-gram language-ID heuristic: char-bigram log-odds profiles
    * for {en,de,es,fr,zh} built into the code (public-knowledge marker
    * n-grams), argmax with deterministic tie-break by lang name.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("th", "he", "in", "er", "an", " t", "e "),
    "de" -> Seq("en", "er", "ch", "de", "ei", "sch", "ung"),
    "es" -> Seq("de", "la", "os", "el", "en", "ción", " y "),
    "fr" -> Seq("le", "de", "es", "on", "nt", " l", "é"),
    "zh" -> Seq("的", "是", "了", "在", "我")
  )

  /** Marker occurrences are counted NON-overlapping (greedy left to
    * right) and lowercasing is Locale.ROOT — both choices make the
    * score an exact SQL mirror: (len(t) - len(replace(t, m, ''))) /
    * len(m). Argmax with deterministic tie-break by lang name.
    */
  def langId(text: String): String = {
    val t = text.toLowerCase(java.util.Locale.ROOT)
    val scores = langMarkers.toSeq.map { case (lang, markers) =>
      var s = 0
      markers.foreach { m =>
        var idx = t.indexOf(m)
        while (idx >= 0) { s += 1; idx = t.indexOf(m, idx + m.length) }
      }
      (lang, s)
    }
    scores.sortBy { case (l, s) => (-s, l) }.head._1
  }

  // -------------------------------------------------------------------
  // DataFrame-level operators
  // -------------------------------------------------------------------

  def readDocs(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  /** Seed for the stub quality-classifier weights (public: the DuckDB
    * oracle embeds it).
    */
  val QualityClassifySeed: Long = 0x9e3779b97f4a7c15L

  /** Linear quality-classifier INFERENCE (the fastText shape, hashing
    * trick): each token's weight is a pure function of its hash —
    * weight_milli = splitmix64(fnv1a64(w) xor seed) mod 2001 - 1000 —
    * and the doc score is the truncated mean over token occurrences.
    * The weights are a seed-fixed STUB (no trained model ships in this
    * sandbox, same honesty convention as Multimodal.featureStub); the
    * plumbing is the real serving shape: with the hashing trick there
    * is no weight table to broadcast at all — a trained model swaps in
    * a broadcast float array indexed by the same hash, nothing else
    * changes. The TRAINING side of this shape exists too: see
    * [[graft.ops.Classifier]] (supervised purity induction over the
    * same hashed-bucket features, train/holdout split, persisted
    * model, oracle-replayed — the quality_train query). Per-row map, zero shuffles; integer-exact on both
    * engines (JVM `/` and DuckDB `//` both truncate toward zero on
    * negative means).
    */
  def qualityClassify(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val words = text.split(' ').filter(_.nonEmpty)
        var s = 0L
        var i = 0
        while (i < words.length) {
          val h = splitmix64(fnv1a64(words(i)) ^ QualityClassifySeed)
          s += java.lang.Long.remainderUnsigned(h, 2001L) - 1000L
          i += 1
        }
        val n = words.length.toLong
        val score = if (n == 0) 0L else s / n
        (id, n, score, score >= 0L)
      }
      .toDF("doc_id", "n_words", "score_milli", "keep")
      .orderBy("doc_id")
  }

  /** Quality-gate KEEP rules — ONE definition for the batch funnel
    * (CurateJob), the streaming gate (StreamingCurate) and, by
    * CLAUDE.md pinning, the oracle mirrors. Integer-exact.
    */
  def keepPunct(text: Column, nPunct: Column): Column =
    nPunct * 5L <= length(text)
  def keepNonRepetitive(nDistinct: Column, nTokens: Column,
                        dupFactor: Long = 2L): Column =
    !(nDistinct * dupFactor <= nTokens)

  /** Mutated-corpus builder: every 10th doc gets a near-duplicate
    * (doc_id + 1,000,000; last word dropped) so near-dup operators have
    * deterministic positives. Pure Column exprs — stays in codegen.
    */
  def corpusWithNearDups(docs: DataFrame): DataFrame = {
    val mutated = docs
      .filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
      // drop the last word: text up to the last space (docs have >= 8 words)
      .withColumn("text", expr("substring(text, 1, length(text) - instr(reverse(text), ' '))"))
    docs.unionByName(mutated)
  }

  /** Exact dedup: hash-groupBy on sha2(text). One shuffle, partial agg
    * map-side; the canonical representative is min(doc_id).
    */
  def dedupExact(docs: DataFrame): DataFrame =
    docs.groupBy(sha2(col("text"), 256).as("text_sha"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_dups"))
      .orderBy(col("text_sha"))

  /** Planted mirror-host corpus: every [[MirrorEvery]]th doc gets an
    * IDENTICAL-text copy at doc_id + [[MirrorCopyShift]]. The shift is
    * chosen ≡ 3 mod 4 so the copy's planted host (PageSource.hostId —
    * sources are even ids on host0) lands in the 1..9 host band:
    * cross-HOST exact duplicates, the mirror-site signature (the
    * exact-dup corpus's +2000000 shift preserves parity, so its copies
    * stay on the source host — wrong planted shape for this op).
    */
  val MirrorEvery = 10L
  val MirrorCopyShift = 2000003L
  def corpusWithMirrorHosts(docs: DataFrame): DataFrame =
    docs.unionByName(
      docs.filter(col("doc_id") % MirrorEvery === 0)
        .withColumn("doc_id", col("doc_id") + lit(MirrorCopyShift)))

  /** Hot-sha host-frequency cap and minimum shared-page floor for
    * [[mirrorHosts]] — the MinhashMaxBucket discipline at host
    * granularity (a sha on >64 hosts is boilerplate, not mirroring;
    * one shared page is coincidence, two is the match floor).
    */
  val MirrorMaxDf = 64
  val MirrorMinShared = 2

  /** Cross-host mirror detection: host pairs sharing >=
    * [[MirrorMinShared]] byte-identical pages (sha256 of text), with
    * the shared count and mirror_permille = shared * 1000 / min host
    * page-set size — the crawl-curation census that catches mirror
    * sites, CDNs re-serving a source host, and scraped re-hosts,
    * which doc-level dedup collapses silently without ever SAYING two
    * hosts are the same site (the host-level verdict drives crawl
    * scheduling and authority accounting).
    *
    * Scale shape: the corpus reduces to DISTINCT (host, sha) rows
    * immediately (64-hex shas on the wire, never text); the per-sha
    * host-frequency cap drops boilerplate shas BEFORE the self-join
    * (a footer page shared by 10^5 hosts would go quadratic); pair
    * aggregate and size joins are host-keyed. Sizes are counted over
    * the capped sets so the permille is internally consistent.
    */
  def mirrorHosts(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hs = docs.select(
        GraphOps.hostCol(col("doc_id").cast("long")).as("host"),
        sha2(col("text"), 256).as("sha"))
      .distinct()
    val capped = hs
      .withColumn("c", count(lit(1)).over(Window.partitionBy(col("sha"))))
      .filter(col("c") <= MirrorMaxDf)
      .drop("c")
    val sz = capped.groupBy(col("host")).agg(count(lit(1)).as("n"))
    val pairs = capped.as("x").join(capped.as("y"),
        col("x.sha") === col("y.sha") && col("x.host") < col("y.host"))
      .groupBy(col("x.host").as("host_a"), col("y.host").as("host_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= MirrorMinShared)
    pairs
      .join(sz.select(col("host").as("host_a"), col("n").as("na")), Seq("host_a"))
      .join(sz.select(col("host").as("host_b"), col("n").as("nb")), Seq("host_b"))
      .select(col("host_a"), col("host_b"),
        col("n_shared").cast("long").as("n_shared"),
        expr("n_shared * 1000 DIV least(na, nb)").cast("long").as("mirror_permille"))
      .orderBy(col("host_a"), col("host_b"))
  }

  /** MinHash+LSH near-dup pairs, exact-Jaccard verified.
    * Stages: (1) one typed map → signatures + band hashes (no shuffle);
    * (2) explode bands → per-(band,bucket) window count bounds hot
    * buckets BEFORE collect_list (one exchange: the groupBy reuses the
    * window's partitioning), skipping degenerate buckets > maxBucket
    * (a skewed corpus cannot go quadratic; a skipped pair is still
    * found via its other bands); (3) candidate pairs from buckets;
    * (4) verify: semi-join the corpus down to candidate ids (broadcast
    * the SMALL id set — never the texts relation; plan-shape test
    * asserts no text-carrying broadcast hint), then join the candidate
    * texts to the pairs and check exact Jaccard >= minJ.
    */
  def dedupMinhash(spark: SparkSession, docs: DataFrame,
                   minJaccardMilli: Long = 700L, maxBucket: Int = 4096): DataFrame =
    dedupMinhashEdges(spark, docs, minJaccardMilli, maxBucket)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Hot-bucket cap default for the MinHash candidate joins (public:
    * the dedup_minhash / neardup_search oracles mirror it — a corpus
    * with a >cap bucket would otherwise diverge).
    */
  val MinhashMaxBucket = 4096

  /** The (id, band, bucket) LSH band relation of a corpus — band
    * bucket = the RAW signature slice (array<long> of RowsPerBand
    * values): grouping on the slice is candidate-equivalent to
    * hashing it, with no collision term and an exact SQL mirror. ONE
    * definition feeds dedupMinhashEdges AND neardupSearch — a band
    * geometry change cannot desynchronize them.
    */
  private[graft] def bandRelation(df: DataFrame, idCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) => (id, minhashSignature(text)) })
      .toDF(idCol, "sig")
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, ${Bands - 1}), b -> slice(sig, b*$RowsPerBand + 1, $RowsPerBand))"
      )).as(Seq("band", "bucket")))
  }

  /** [[dedupMinhash]] without the presentation sort — the edge feed for
    * connected components / CurateJob, where the consumer is
    * order-insensitive (union → groupBy) and a Sort below the union
    * would be wasted work the optimizer only *usually* removes.
    */
  def dedupMinhashEdges(spark: SparkSession, docs: DataFrame,
                        minJaccardMilli: Long = 700L,
                        maxBucket: Int = MinhashMaxBucket): DataFrame =
    minhashEdgesFromBands(bandRelation(docs, "doc_id"), docs, minJaccardMilli, maxBucket)

  /** [[dedupMinhashEdges]] over an already-computed `bandRelation(docs,
    * "doc_id")` — for a caller that probes other state with the same
    * bands (IncrementalCurate computes them once per drop).
    */
  private[graft] def minhashEdgesFromBands(bands: DataFrame, docs: DataFrame,
                                           minJaccardMilli: Long,
                                           maxBucket: Int): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("band"), col("bucket"))
    val buckets = bands
      .withColumn("cnt", count(lit(1)).over(w))
      .filter(col("cnt") >= 2 && col("cnt") <= maxBucket)
      .groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))

    val pairs = buckets
      .select(explode(expr(
        "flatten(transform(ids, (x, i) -> transform(slice(ids, i + 2, size(ids)), y -> named_struct('a', x, 'b', y))))"
      )).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .distinct()

    val texts = docs.select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val candIds = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
    // candTexts is small by construction (≤ 2·|pairs| rows); the joins
    // below stay shuffle/AQE-decided — no hint ever puts full documents
    // on the build side.
    val candTexts = texts.join(broadcast(candIds), Seq("doc_id"), "left_semi")
    val joined = pairs
      .join(candTexts.toDF("doc_a", "text_a"), "doc_a")
      .join(candTexts.toDF("doc_b", "text_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("text_a"), col("text_b"))
      .as[(Long, Long, String, String)]

    joined.mapPartitions(_.map { case (a, b, ta, tb) =>
      (a, b, math.floor(exactJaccard(ta, tb) * 1000.0).toLong)
    }).toDF("doc_a", "doc_b", "jaccard_milli")
      .filter(col("jaccard_milli") >= minJaccardMilli)
  }

  /** Near-duplicate SEARCH — the request-time form of MinHash dedup:
    * for every query doc, the corpus docs whose exact Jaccard clears
    * the floor, found through the SAME band-bucket candidate geometry
    * dedupMinhashEdges dedups with ("is this draft already in the
    * corpus?" / contamination triage, answered per request instead of
    * corpus-wide). Self-matches are excluded by id.
    *
    * Scale shape: the query side is a bounded request batch; the
    * corpus band relation carries (band, 32-byte slice, id) rows and
    * keeps the hot-bucket cap BEFORE the probe join (a degenerate
    * bucket would otherwise fan every query into it); candidates are
    * DISTINCT id pairs; only candidates pay the exact-Jaccard verify,
    * and candidate TEXTS are fetched by ids-only semi-joins — no
    * text-carrying relation is ever broadcast.
    */
  def neardupSearch(spark: SparkSession, docs: DataFrame, queries: DataFrame,
                    minJaccardMilli: Long = 700L,
                    maxBucket: Int = MinhashMaxBucket): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("band"), col("bucket"))
    val corpusBands = bandRelation(docs, "doc_id")
      .withColumn("cnt", count(lit(1)).over(w))
      .filter(col("cnt") <= maxBucket)
      .select(col("doc_id"), col("band"), col("bucket"))
    val queryBands = bandRelation(queries, "query_id")
    val cands = queryBands.join(corpusBands, Seq("band", "bucket"))
      .filter(col("query_id") =!= col("doc_id"))
      .select(col("query_id"), col("doc_id"))
      .distinct()
    val qIds = cands.select(col("query_id")).distinct()
    val dIds = cands.select(col("doc_id")).distinct()
    val qTexts = queries.select(col("query_id").cast("long").as("query_id"), col("text").as("q_text"))
      .join(broadcast(qIds), Seq("query_id"), "left_semi")
    val dTexts = docs.select(col("doc_id").cast("long").as("doc_id"), col("text").as("d_text"))
      .join(broadcast(dIds), Seq("doc_id"), "left_semi")
    cands.join(qTexts, Seq("query_id")).join(dTexts, Seq("doc_id"))
      .select(col("query_id"), col("doc_id"), col("q_text"), col("d_text"))
      .as[(Long, Long, String, String)]
      .mapPartitions(_.map { case (q, d, tq, td) =>
        (q, d, math.floor(exactJaccard(tq, td) * 1000.0).toLong)
      })
      .toDF("query_id", "doc_id", "jaccard_milli")
      .filter(col("jaccard_milli") >= minJaccardMilli)
      .orderBy(col("query_id"), col("doc_id"))
  }

  /** SimHash near-dup pairs via 4×16-bit segment blocking: Hamming
    * distance <= maxHamming (pigeonhole: some segment matches exactly),
    * equi-join on (segment index, segment value), then verify Hamming.
    *
    * Hot-bucket bound: a degenerate segment value (e.g. 0 from masses
    * of short/boilerplate docs) would make one bucket quadratic plus a
    * distinct() over the blown-up pair set. A per-(seg,segval) window
    * count drops buckets larger than maxBucket BEFORE the self-join;
    * the self-join reuses the window's (seg,segval) partitioning, so
    * the bound costs no extra exchange. Recall note: with maxBucket ≥
    * corpus bucket sizes this is EXACT (pigeonhole recall 1 for
    * Hamming ≤ 3); under the cap, a pair is lost only if ALL of its
    * matching segments are degenerate-hot (skew test).
    */
  def dedupSimhash(spark: SparkSession, docs: DataFrame, maxHamming: Int = 3,
                   maxBucket: Int = 4096): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // signature stage via the NATIVE simhash64 expression — stays in
    // whole-stage codegen, zero-copy over UTF8String bytes (bit-for-bit
    // equal to TextOps.simhash, asserted in FunctionsSpec)
    graft.functions.GraftExtensions.register(spark)
    val sigs = docs.selectExpr(
      "CAST(doc_id AS BIGINT) AS doc_id", "simhash64(text) AS simhash")

    // pigeonhole blocking honors the ASKED threshold: maxHamming+1
    // disjoint segments guarantee one equal segment for any pair at
    // Hamming <= maxHamming (a fixed 4x16 split silently loses pairs
    // for maxHamming >= 4); the last segment absorbs the remainder bits
    val nSegs = maxHamming + 1
    require(nSegs >= 1 && nSegs <= 64, "maxHamming in [0, 63]")
    val segBits = 64 / nSegs
    val segCols = (0 until nSegs).map { i =>
      val lo = i * segBits
      val width = if (i == nSegs - 1) 64 - lo else segBits
      val mask = if (width >= 64) -1L else (1L << width) - 1L
      shiftright(col("simhash"), lo).bitwiseAND(lit(mask))
    }
    val w = Window.partitionBy(col("seg"), col("segval"))
    val segs = sigs.select(
        col("doc_id"), col("simhash"),
        posexplode(array(segCols: _*)).as(Seq("seg", "segval")))
      .withColumn("cnt", count(lit(1)).over(w))
      .filter(col("cnt") >= 2 && col("cnt") <= maxBucket)
      .drop("cnt")

    val cand = segs.as("x").join(segs.as("y"),
        col("x.seg") === col("y.seg") &&
          col("x.segval") === col("y.segval") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.simhash").as("sh_a"), col("y.simhash").as("sh_b"))
      .distinct()

    cand
      .withColumn("hamming", expr("CAST(bit_count(sh_a ^ sh_b) AS BIGINT)"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Winnowing geometry (Schleimer et al. 2003, MOSS): k-word grams
    * hashed with [[fnv1a64]], windows of [[WinnowW]] consecutive gram
    * hashes, per window select the RIGHTMOST minimal hash (unsigned
    * order — the canonical winnowing tie rule: it maximizes the
    * chance that adjacent windows select the same hash, keeping the
    * fingerprint set small). All four constants are embedded in the
    * DuckDB mirror — change one side → change both.
    */
  val WinnowK = 4
  val WinnowW = 4

  /** Hot-fingerprint document-frequency cap (the minhash
    * MinhashMaxBucket discipline applied to winnowing buckets): a
    * fingerprint present in more docs than this is boilerplate, and
    * its bucket would go quadratic in the pair join — dropped BEFORE
    * the self-join on both engines.
    */
  val WinnowMaxDf = 64

  /** Minimum shared fingerprints for a reported pair — one shared
    * window minimum is noise; two is the standard match floor.
    */
  val WinnowMinShared = 2

  /** Per-doc winnowing fingerprint set: one (doc_id, fp) row per
    * DISTINCT selected window-minimum hash. Entirely per-row until
    * the distinct — one typed flatMap computes grams, hashes and the
    * window minima in O(words · W) and ships only 8-byte hashes.
    */
  def winnowFingerprints(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val k = WinnowK
    val w = WinnowW
    docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val ws = text.split(' ').filter(_.nonEmpty)
        val nGrams = ws.length - k + 1
        if (nGrams < w) Iterator.empty
        else {
          val hs = new Array[Long](nGrams)
          var i = 0
          while (i < nGrams) {
            hs(i) = fnv1a64(ws.slice(i, i + k).mkString(" "))
            i += 1
          }
          val sel = new java.util.HashSet[Long]()
          var j = 0
          while (j <= nGrams - w) {
            var m = hs(j)
            var p = j + 1
            // <= 0 keeps the RIGHTMOST minimal hash on ties
            while (p < j + w) {
              if (java.lang.Long.compareUnsigned(hs(p), m) <= 0) m = hs(p)
              p += 1
            }
            sel.add(m)
            j += 1
          }
          val out = new Array[(Long, Long)](sel.size)
          val it = sel.iterator()
          var o = 0
          while (it.hasNext) { out(o) = (id, it.next()); o += 1 }
          out.iterator
        }
      }
      .toDF("doc_id", "fp")
  }

  /** Winnowing near-dup census (the MOSS pairing applied to corpus
    * dedup): pairs of docs sharing >= [[WinnowMinShared]] winnowing
    * fingerprints, with the shared count and the containment permille
    * n_shared * 1000 / min(|A|, |B|) over the CAPPED fingerprint
    * sets. Complements the family: MinHash estimates whole-doc
    * Jaccard, SimHash whole-doc cosine-ish distance — winnowing is
    * POSITIONAL (guaranteed to catch any shared run of >= K+W-1
    * words), so it flags partial overlap and quotation that whole-doc
    * signatures dilute away.
    *
    * Scale shape: fingerprints are one per-row flatMap (8-byte hashes
    * on the wire, never text); the df cap drops boilerplate
    * fingerprints BEFORE the self-join (the [[MinhashMaxBucket]]
    * discipline — a fingerprint shared by the whole corpus would
    * otherwise go quadratic); the pair aggregate and the two size
    * joins are id-keyed. Sizes are counted over the capped sets so
    * the permille is internally consistent on both engines.
    */
  def dedupWinnow(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fps = winnowFingerprints(docs)
    val capped = fps
      .withColumn("c", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .filter(col("c") <= WinnowMaxDf)
      .drop("c")
    val sizes = capped.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val pairs = capped.as("x").join(capped.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
    pairs
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared").cast("long"),
        expr("n_shared * 1000 DIV least(na, nb)").cast("long")
          .as("overlap_permille"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** BPE-ish pre-tokenizer pattern (the GPT-2-family shape minus
    * lookaheads, so Java regex and RE2 agree): letter runs, digit
    * runs, or single non-alphanumeric non-space marks.
    */
  val BpeTokenPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

  /** Token counts — whitespace tokenizer AND the BPE-ish regex
    * pre-tokenizer, both pure Column exprs (codegen).
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      regexp_count(col("text"), lit(BpeTokenPattern)).cast("long").as("n_tokens_bpe")
    ).orderBy("doc_id")

  /** Punctuation characters counted by the quality features (fixed,
    * SQL-mirrorable set).
    */
  val PunctChars = ".,!?;:"

  /** Quality score: integer-exact shallow text features (length,
    * word-length, stopword ratio, punctuation count) —
    * Boilerpipe-family features.
    */
  def qualityScores(docs: DataFrame): DataFrame =
    docs.select(
        col("doc_id"),
        col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        size(filter(split(col("text"), " "),
          w => w === "the" || w === "a")).cast("long").as("n_stopwords"),
        (length(col("text")) - length(translate(col("text"), PunctChars, "")))
          .cast("long").as("n_punct")
      )
      .withColumn("avg_word_len_c",
        expr("(n_chars - (n_tokens - 1)) * 100 DIV n_tokens").cast("long"))
      .withColumn("is_quality",
        col("n_tokens") >= 10L && col("avg_word_len_c").between(200L, 1200L) &&
          col("n_punct") * 5L <= col("n_chars"))
      .orderBy("doc_id")

  /** DSIR-style importance weights over hashed bigrams (Xie et al.
    * 2023, "Data Selection for Language Models via Importance
    * Resampling" — integer-exact variant): bigrams feature-hash into
    * `nBuckets` buckets (fnv1a64 mod nBuckets — the Classifier.bucketOf
    * kernel, same DuckDB mirror); the per-bucket importance share is
    * tc·1000/rc (target-language occurrences over all occurrences —
    * proportional to p_target/p_raw up to the corpus-constant
    * tt/rt, so doc ranks are DSIR ranks), and a doc's weight is the
    * sum of its grams' shares. No logs, no floats: every number is a
    * permille-scaled integer the oracle recomputes exactly.
    *
    * Scale shape: pass 1 is a bucket census — map-side-combined
    * groupBy over ≤ nBuckets keys, collected state ≤ nBuckets longs
    * (the Classifier-census precedent); pass 2 scores per ROW against
    * the closure-shipped share table — zero shuffles, and no gram
    * string ever rides a wire in either pass (buckets are ints).
    * Two corpus scans total, both O(doc) per row.
    */
  def dsirWeights(spark: SparkSession, docs: DataFrame,
                  targetLang: String = "en",
                  nBuckets: Int = Classifier.NBuckets): DataFrame = {
    import spark.implicits._
    val rows = docs.select(col("doc_id").cast("long"), col("text"), col("lang"))
      .as[(Long, String, String)]
    def grams(t: String): Array[Int] = {
      val ws = t.split(' ').filter(_.nonEmpty)
      if (ws.length < 2) Array.empty
      else Array.tabulate(ws.length - 1) { i =>
        java.lang.Long.remainderUnsigned(
          fnv1a64(ws(i) + " " + ws(i + 1)), nBuckets.toLong).toInt
      }
    }
    val census = rows.flatMap { case (_, t, lang) =>
        val tgt = if (lang == targetLang) 1L else 0L
        grams(t).iterator.map(b => (b, tgt))
      }.toDF("bucket", "t")
      .groupBy("bucket")
      .agg(count(lit(1)).as("rc"), sum(col("t")).as("tc"))
      .collect()
    val share = new Array[Long](nBuckets)
    census.foreach(r => share(r.getInt(0)) = r.getLong(2) * 1000L / r.getLong(1))
    rows.mapPartitions(_.map { case (id, t, _) =>
        val bs = grams(t)
        var wSum = 0L
        var i = 0
        while (i < bs.length) { wSum += share(bs(i)); i += 1 }
        val n = bs.length.toLong
        (id, n, wSum, if (n == 0L) 0L else wSum * 1000L / n)
      })
      .toDF("doc_id", "n_grams", "w_sum", "w_avg_milli")
      .orderBy("doc_id")
  }

  /** Seed for the DSIR admission hash (public: the oracle embeds it). */
  val DsirSeed = 0xd512bea7c0deL

  /** Acceptance modulus of [[dsirSample]]: w_avg_milli is
    * MICRO-scaled as a fraction (each bucket share is permille,
    * 0..1000; the per-doc mean is scaled by another 1000), so the
    * admission draw is mod 10^6 — embedded in the oracle.
    */
  val DsirAcceptMod = 1000000L

  /** DSIR importance RESAMPLING — the selection step of Xie et al.
    * 2023 that [[dsirWeights]] only scores: each doc is admitted with
    * probability proportional to its importance weight, via exact
    * integer rejection sampling (w_avg_milli is the doc's mean bucket
    * share in micro units of p_target/p_raw's normalized fraction, in
    * [0, 10^6] — see [[DsirAcceptMod]] — so admit iff
    * splitmix64(doc_id xor [[DsirSeed]]) mod 10^6 < w_avg_milli).
    * Deterministic, no RNG, reproducible across runs and engines;
    * sub-2-word docs have weight 0 and are never admitted, all-target
    * docs have weight 10^6 and always are. Scale shape inherited from
    * [[dsirWeights]] (bucket census + per-row scoring, zero data
    * shuffles) plus one per-row hash filter.
    */
  def dsirSample(spark: SparkSession, docs: DataFrame,
                 targetLang: String = "en",
                 nBuckets: Int = Classifier.NBuckets): DataFrame = {
    graft.functions.GraftExtensions.register(spark)
    dsirWeights(spark, docs, targetLang, nBuckets)
      .filter(unsignedModCol(
        splitmixCol(col("doc_id").bitwiseXOR(lit(DsirSeed))), DsirAcceptMod)
        < col("w_avg_milli"))
      .select(col("doc_id"), col("w_avg_milli"))
      .orderBy("doc_id")
  }

  /** Language-ID heuristic (typed map; non-SQL-expressible → rows-only
    * driver check, byte-determinism covered by unit tests).
    */
  def langIds(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) => (id, langId(t)) })
      .toDF("doc_id", "pred_lang")
      .orderBy("doc_id")
  }

  /** Rolling-hash document fingerprints. */
  def fingerprints(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) => (id, fingerprint(t), simhash(t)) })
      .toDF("doc_id", "fingerprint", "simhash")
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------------
  // Column-expression splitmix64 (codegen; bit-for-bit equal to
  // PageSource.splitmix64 — Spark long arithmetic wraps mod 2^64 like
  // the JVM kernel, asserted in OpsCoreSpec)
  // -------------------------------------------------------------------

  /** Native-expression splitmix64 over a BIGINT column — SQL-level
    * `+`/`*` throw on overflow under ANSI mode, so the wrap-around
    * arithmetic lives in the codegen'd [[graft.functions.Splitmix64]]
    * kernel. Callers must have run GraftExtensions.register(spark).
    */
  def splitmixCol(x: Column): Column = call_function("splitmix64", x)

  /** Unsigned 64-bit `x mod 1000` on a signed long column: for x < 0
    * the unsigned value is x + 2^64, and 2^64 mod 1000 = 616, so
    * (pmod(x,1000) + 616) mod 1000.
    */
  def unsignedMod1000(x: Column): Column =
    when(x < 0, pmod(pmod(x, lit(1000L)) + lit(616L), lit(1000L)))
      .otherwise(pmod(x, lit(1000L)))

  /** Unsigned 64-bit `x mod m` on a signed long column, for any
    * positive modulus: for x < 0 the unsigned value is x + 2^64, and
    * 2^64 mod m is computed exactly from the unsigned remainder of
    * 2^64 - 1 (generalizes [[unsignedMod1000]]'s baked-in 616).
    */
  def unsignedModCol(x: Column, m: Long): Column = {
    val wrap = (java.lang.Long.remainderUnsigned(-1L, m) + 1L) % m
    when(x < 0, pmod(pmod(x, lit(m)) + lit(wrap), lit(m)))
      .otherwise(pmod(x, lit(m)))
  }

  // -------------------------------------------------------------------
  // Duplicate clustering: connected components over near/exact-dup pairs
  // -------------------------------------------------------------------

  /** Exact-dup edges: every doc whose text is byte-identical to an
    * earlier doc gets an edge to the group minimum. The text is hashed
    * to sha256 BEFORE the window shuffle — the exchange carries
    * (doc_id, 64-byte sha), never document bodies (plan test asserts
    * no text attribute crosses an Exchange).
    */
  def exactDupEdges(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs.select(col("doc_id").cast("long").as("doc_id"),
        sha2(col("text"), 256).as("text_sha"))
      .withColumn("min_id",
        min(col("doc_id")).over(Window.partitionBy(col("text_sha"))))
      .filter(col("doc_id") =!= col("min_id"))
      .select(col("min_id").as("doc_a"), col("doc_id").as("doc_b"))
  }

  /** Cluster-size histogram from an already-computed clustering
    * relation carrying (doc_id, cluster_id) — the 100 TB shape for the
    * dup_stats audit: the clustering is the expensive job and is
    * PERSISTED once; the histogram is two tiny id-only aggregates over
    * that table, not a re-clustering (the self-contained dup_stats
    * query recomputes only because the oracle harness is stateless).
    * Sizes are derived from the doc rows, so the input needs no
    * cluster_size column.
    */
  def dupStatsFrom(clusters: DataFrame): DataFrame =
    clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).cast("long").as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).cast("long").as("n_clusters"))
      .withColumn("n_docs", (col("cluster_size") * col("n_clusters")).cast("long"))
      .orderBy(col("cluster_size"))

  /** Repeat-aware sampling weights from an already-computed
    * clustering relation carrying (doc_id, cluster_id, cluster_size):
    * weight_micro = 10^6 DIV cluster_size, so every KEPT duplicate is
    * downweighted to make each cluster contribute one document-mass
    * per epoch in expectation — the soft alternative to hard
    * canonical-only dedup when duplicates carry signal (boilerplate
    * variants, mirrored updates). Integer-exact: truncating division
    * on positive sizes agrees across engines.
    *
    * Scale shape: a pure per-row projection over the PERSISTED
    * clustering table (same contract as [[dupStatsFrom]]) — zero
    * shuffles beyond the output sort.
    */
  def dupWeightsFrom(clusters: DataFrame): DataFrame =
    clusters.select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        expr("1000000 DIV cluster_size").cast("long").as("weight_micro"))
      .orderBy(col("doc_id"))

  /** Padded-batch efficiency census: docs bucketed by their
    * whitespace token count clipped at `seqLen` and rounded UP to the
    * next `bucketW` multiple (the length-bucketed batching a trainer
    * uses), reporting per bucket the doc count, real token mass and
    * padding waste (bucket ceiling minus tokens, summed) — the number
    * that decides whether sequence PACKING (concat-and-split) is
    * worth its attention-mask complexity over plain bucketing.
    *
    * Scale shape: one per-row codegen projection + one map-side-
    * combined aggregate over at most seqLen/bucketW + 1 groups; no
    * text ever shuffles.
    */
  def packEfficiency(docs: DataFrame, seqLen: Long = 2048L,
      bucketW: Long = 128L): DataFrame =
    docs.select(
        least(size(split(col("text"), " ")).cast("long"), lit(seqLen)).as("tok"))
      .withColumn("bucket_len",
        expr(s"((tok + ${bucketW - 1L}) DIV $bucketW) * $bucketW"))
      .groupBy(col("bucket_len"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("tok")).cast("long").as("n_tokens"),
        sum(col("bucket_len") - col("tok")).cast("long").as("n_pad"))
      .orderBy(col("bucket_len"))

  /** Canonical selection WITHIN duplicate clusters from an
    * already-computed clustering relation carrying (doc_id,
    * cluster_id) plus the corpus texts: keep the LONGEST member (the
    * C4/CCNet canonical rule — truncated mirrors and teaser snippets
    * lose to their source), ties to the smaller doc_id so exact
    * copies resolve deterministically. Emits one row per doc with its
    * cluster's winner and a `keep` flag — the row-level admission
    * column a curation funnel consumes (dup_cluster's min-id `keep`
    * is the arbitrary-canonical fallback; this is the quality-aware
    * one).
    *
    * Scale shape: texts reduce to (doc_id, n_chars) before anything
    * shuffles — no text column rides a wire; the per-cluster winner
    * is a row_number window bounded by cluster size, and the winner
    * relation (one row per CLUSTER) joins back by cluster_id with no
    * forced broadcast. The clustering input is the PERSISTED artifact
    * at 100 TB (same contract as [[dupStatsFrom]]).
    */
  def dupBestFrom(clusters: DataFrame, corpus: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ch = corpus.select(col("doc_id").cast("long").as("doc_id"),
      length(col("text")).cast("long").as("n_chars"))
    val j = clusters.select(col("doc_id").cast("long").as("doc_id"),
        col("cluster_id").cast("long").as("cluster_id"))
      .join(ch, Seq("doc_id"))
    val wnd = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val best = j.withColumn("rn", row_number().over(wnd))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("best_doc"))
    j.join(best, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("best_doc"),
        col("n_chars"), (col("doc_id") === col("best_doc")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Seed for leakage-free split admission (mirrored unsigned in
    * OracleSqlGen.splitLeakfree).
    */
  val SplitSeed = 0x5eed5317f00dL

  /** Leakage-free train/holdout split from an already-computed
    * clustering relation carrying (doc_id, cluster_id): the split key
    * is the CLUSTER label, not the doc id, so every near/exact
    * duplicate of a holdout document is also holdout — a doc-keyed
    * split leaks ~dup_rate of the eval set into training verbatim
    * (the contamination class decontaminate exists to catch). A
    * cluster is train iff splitmix64(cluster_id xor seed) unsigned
    * mod 1000 < trainPermille — deterministic, no RNG state,
    * reproducible across engines. Adds a `split` column; the input
    * clustering is the expensive PERSISTED artifact at 100 TB (same
    * contract as [[dupStatsFrom]]), the split itself is a per-row
    * codegen expression with zero shuffles.
    */
  def splitFrom(clusters: DataFrame, trainPermille: Long = 900L,
                seed: Long = SplitSeed): DataFrame = {
    graft.functions.GraftExtensions.register(clusters.sparkSession)
    val h = splitmixCol(col("cluster_id").cast("long").bitwiseXOR(lit(seed)))
    clusters.withColumn("split",
      when(unsignedMod1000(h) < lit(trainPermille), lit("train"))
        .otherwise(lit("holdout")))
  }

  /** Frees the blocks of a `localCheckpoint`ed frame now instead of at
    * the next ContextCleaner pass (`unpersist` only reaches the cache
    * manager, which never sees a checkpoint). The frame must not be
    * read afterwards.
    */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** Connected components via LARGE-STAR / SMALL-STAR alternation
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the O(log n)-round variant for graphs where plain
    * min-label propagation needs O(diameter) rounds (adversarial long
    * chains). Each half-round is one groupBy + one join over bare
    * (node, node) id pairs; convergence is an order-insensitive
    * checksum (count + bit_xor of the edge hash), one tiny action per
    * round.
    *
    *  - large-star: every node v > u re-links to the minimum of u's
    *    closed neighborhood (folds chains onto local minima);
    *  - small-star: every smaller neighbor re-links to the minimum
    *    (flattens the local trees into stars);
    *  - fixpoint: the edge set is a union of stars, every node linked
    *    directly to its component minimum.
    *
    * @return (doc_id, label) for every node (isolated nodes label
    *         themselves) plus the number of alternation rounds taken.
    */
  def connectedComponentsStarWithRounds(
      nodes: DataFrame, edges: DataFrame, maxIter: Int = 50): (DataFrame, Int) = {

    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        expr("bit_xor(xxhash64(u, v))")).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // closed-neighborhood minimum per node over the symmetrized edges
    def withMin(sym: DataFrame): DataFrame =
      sym.join(
        sym.groupBy("u").agg(min(col("v")).as("mv"))
          .select(col("u"), least(col("mv"), col("u")).as("m")),
        Seq("u"))
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .unionByName(e.select(col("v").as("u"), col("u").as("v")))
      withMin(sym).filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // orient larger -> smaller; every neighborhood is then all-smaller
      val oriented = e.select(
        greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val linked = withMin(oriented)
      linked.filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(linked.select(col("u"), col("m").as("v")))
        .distinct()
    }

    // LAZY checkpoints: the checksum action materializes each round's
    // edge set — one job per round instead of an eager materialize plus
    // the checksum. `localCheckpoint` truncates lineage so plan depth
    // stays O(1) per round (on a cluster: checkpoint to a reliable dir).
    var e = edges
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(false)
    var sum = checksum(e)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxIter) {
      val next = smallStar(largeStar(e)).localCheckpoint(false)
      val nextSum = checksum(next)
      releaseCheckpoint(e)
      e = next
      converged = nextSum == sum
      sum = nextSum
      rounds += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIter rounds")
    // fixpoint edges are stars: each non-root u carries exactly one
    // (u, component-min) edge; roots and isolated nodes label themselves
    val labels = nodes
      .join(e.groupBy("u").agg(min(col("v")).as("lbl")),
        nodes("doc_id") === col("u"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("label"))
    (labels, rounds)
  }

  /** [[connectedComponentsStarWithRounds]] without the round count. */
  def connectedComponentsStar(nodes: DataFrame, edges: DataFrame,
                              maxIter: Int = 50): DataFrame =
    connectedComponentsStarWithRounds(nodes, edges, maxIter)._1

  // -------------------------------------------------------------------
  // Repetition quality features (Gopher-style)
  // -------------------------------------------------------------------

  /** Max run length in the sorted array = count of the most frequent
    * element — a single codegen'd `aggregate` fold, no per-doc shuffle.
    */
  private def maxFreqExpr(arr: String): String =
    s"""aggregate(array_sort($arr),
       |  named_struct('prev', CAST(NULL AS STRING), 'run', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)),
       |  (acc, x) -> named_struct(
       |    'prev', x,
       |    'run', IF(x <=> acc.prev, acc.run + CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
       |    'best', GREATEST(acc.best, IF(x <=> acc.prev, acc.run + CAST(1 AS BIGINT), CAST(1 AS BIGINT)))),
       |  acc -> acc.best)""".stripMargin

  /** Repetition features over the whitespace words (the Gopher-family
    * repetition filters): word count, distinct-word count, count of the
    * most frequent word and of the most frequent word-bigram, plus an
    * integer-exact repetitiveness flag. Pure Column exprs — per-row
    * array folds, no shuffle beyond the final sort, embarrassingly
    * parallel at 100 TB.
    */
  def repetitionStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(
        col("doc_id"),
        size(col("w")).cast("long").as("n_words"),
        size(array_distinct(col("w"))).cast("long").as("n_distinct_words"),
        expr(maxFreqExpr("w")).as("max_word_freq"),
        expr(maxFreqExpr(
          "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1), (a, b) -> concat(a, ' ', b))"
        )).as("max_bigram_freq"))
      .withColumn("is_repetitive",
        col("n_distinct_words") * 2L <= col("n_words"))
      .orderBy("doc_id")

  /** Within-doc duplicate n-gram coverage (the Gopher repetition
    * rules, Rae et al. 2021 §A1.1 — word-position variant): per doc,
    * the permille of word positions covered by a bigram (n=2) or
    * 5-gram (n=5) that occurs at least twice INSIDE the doc. High
    * dup5 flags looping boilerplate and template pages that the
    * unigram [[repetitionStats]] ratio misses (distinct words can be
    * plentiful while whole phrases loop).
    *
    * Scale shape: entirely per-row — one typed map builds the gram
    * counts and the coverage bitmap in O(doc) and ships four longs.
    * Zero shuffles beyond the final sort; embarrassingly parallel at
    * 100 TB. The DuckDB mirror recomputes the coverage relationally
    * (dup-gram positions exploded, distinct-counted).
    */
  def gopherRep(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val ws = text.split(' ').filter(_.nonEmpty)
        def dupCover(n: Int): Long = {
          if (ws.length < n) return 0L
          val counts = new java.util.HashMap[String, Integer]()
          val grams = new Array[String](ws.length - n + 1)
          var i = 0
          while (i <= ws.length - n) {
            val g = ws.slice(i, i + n).mkString(" ")
            grams(i) = g
            counts.merge(g, 1, (a, b) => a + b)
            i += 1
          }
          val covered = new Array[Boolean](ws.length)
          i = 0
          while (i < grams.length) {
            if (counts.get(grams(i)) >= 2) {
              var j = i; while (j < i + n) { covered(j) = true; j += 1 }
            }
            i += 1
          }
          covered.count(identity).toLong
        }
        val nw = ws.length.toLong
        val d2 = dupCover(2)
        val d5 = dupCover(5)
        (id, nw,
          if (nw == 0L) 0L else d2 * 1000L / nw,
          if (nw == 0L) 0L else d5 * 1000L / nw)
      }
      .toDF("doc_id", "n_words", "dup2_permille", "dup5_permille")
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------------
  // Shard packing: token-budget assignment for training shards
  // -------------------------------------------------------------------

  /** Pack documents into training shards by cumulative token budget:
    * docs are spread across `nBuckets` independent buckets (production:
    * hash of url — here doc_id mod, which the SQL oracle mirrors), and
    * within a bucket the running token total assigns shard
    * floor(offset / budget). The window is PARTITIONED by bucket, so
    * no global sort / single-reducer cumsum exists at any scale —
    * buckets scale out linearly.
    */
  def shardPack(docs: DataFrame, nBuckets: Int = 8,
                budgetTokens: Long = 2048L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
    docs.select(col("doc_id").cast("long").as("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("bucket", pmod(col("doc_id"), lit(nBuckets.toLong)))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("shard",
        expr(s"(cum - n_tokens) DIV ${budgetTokens}L").cast("long"))
      .select("doc_id", "bucket", "n_tokens", "shard")
      .orderBy("doc_id")
  }


  /** Sequence packing: the final stage of an LLM training-data
    * pipeline. Documents are concatenated (within a bucket, in doc_id
    * order) into one token stream that is cut into fixed-length
    * training sequences of `seqLen` tokens; each doc gets its packing
    * coordinates — the first/last sequence window it lands in, how
    * many windows it spans, and its start position inside the first
    * window (what an attention-mask / boundary-reset builder needs).
    * Same scale shape as [[shardPack]]: the running offset is a window
    * sum PARTITIONED by bucket, so there is no global sort or
    * single-reducer cumsum — buckets scale out linearly, and sequence
    * ids are per-bucket (production: bucket = shard file).
    * Token count = whitespace split, >= 1 even for empty text (both
    * engines agree); all offsets non-negative so DIV == DuckDB `//`.
    */
  def seqPack(docs: DataFrame, nBuckets: Int = 8,
              seqLen: Long = 512L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
    docs.select(col("doc_id").cast("long").as("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("bucket", pmod(col("doc_id"), lit(nBuckets.toLong)))
      .withColumn("off", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("seq_first", expr(s"off DIV ${seqLen}L"))
      .withColumn("seq_last", expr(s"(off + n_tokens - 1L) DIV ${seqLen}L"))
      .withColumn("n_seqs", col("seq_last") - col("seq_first") + lit(1L))
      .withColumn("begin_pos", expr(s"off % ${seqLen}L"))
      .select("doc_id", "bucket", "n_tokens",
        "seq_first", "seq_last", "n_seqs", "begin_pos")
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------------
  // Decontamination (eval-set n-gram overlap) + n-gram census
  // -------------------------------------------------------------------

  /** Word n-grams of the text column as an array (pure Column expr;
    * total: shorter-than-n texts yield the empty array — `sequence`
    * with a negative stop would otherwise count DOWNWARD).
    */
  def ngramArr(n: Int): Column =
    // The word array is bound ONCE through a single-element transform
    // lambda (`ws`): higher-order functions re-evaluate non-lambda
    // subexpressions per element, so the direct form pays one full
    // split(text) per GRAM — O(words^2) character work per row. Same
    // grams, same types; only the evaluation count changes.
    expr(s"""transform(array(split(text, ' ')), ws ->
            |  CASE WHEN size(ws) < $n THEN array()
            |  ELSE transform(sequence(0, size(ws) - $n),
            |    i -> array_join(slice(ws, i + 1, $n), ' ')) END)[0]""".stripMargin)

  /** Benchmark decontamination: flag every training doc that shares at
    * least one word n-gram with the eval set (the standard n-gram
    * contamination rule). The eval side is reduced to its DISTINCT
    * n-grams and broadcast — eval sets are tiny next to the corpus, so
    * the corpus-side scan never shuffles; the per-doc overlap count is
    * a map-side join + partial agg.
    *
    * @param evalPred marks eval docs; they are excluded from output.
    */
  def decontaminate(docs: DataFrame, n: Int = 8,
                    evalPred: Column = col("doc_id") % 50 === 0): DataFrame = {
    val grams = docs.select(col("doc_id").cast("long").as("doc_id"),
        evalPred.as("is_eval"),
        explode(array_distinct(ngramArr(n))).as("gram"))
    val evalGrams = grams.filter(col("is_eval"))
      .select(col("gram")).distinct()
    grams.filter(!col("is_eval"))
      .join(broadcast(evalGrams), Seq("gram"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_ngrams"))
      .orderBy("doc_id")
  }

  /** Serialized [[org.apache.spark.util.sketch.BloomFilter]] over a
    * BIGINT key column — the driver-built sketch the native
    * `bloom_might_contain` probe ([[graft.functions.BloomMightContain]])
    * deserializes once per plan. Shared by [[decontaminateBloom]] and
    * IncrementalCurate's state-scan prefilters.
    */
  def bloomBitsOf(keys: DataFrame, keyCol: String, n: Long,
                  fpp: Double): Array[Byte] = {
    val bloom = keys.stat.bloomFilter(keyCol, math.max(n, 1L), fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    bos.toByteArray
  }

  /** [[decontaminate]]'s 100 TB shape: identical output, but the
    * eval-gram set is never broadcast as strings. A driver-built
    * Bloom filter over xxhash64(gram) (~10 bits/gram at fpp=0.01 —
    * a 10^9-gram eval set is ~1.2 GB of bits vs ~60 GB of strings)
    * travels in the plan and pre-filters the corpus-side gram stream
    * inside whole-stage codegen ([[graft.functions.BloomMightContain]]);
    * only the fpp-bounded survivors reach the exact confirm semi-join,
    * which is a plain shuffle join (NO broadcast — wire bytes ≈
    * fpp × corpus grams + eval grams). Exactness: the Bloom stage has
    * no false negatives and the confirm join removes its false
    * positives (including any xxhash64 collisions), so the result is
    * row-identical to [[decontaminate]] — the DuckDB oracle is the
    * SAME SQL (asserted in OpsCoreSpec, plus oracle row
    * `decontaminate_bloom`).
    *
    * Eval docs are scanned twice eagerly (distinct-gram count for
    * Bloom sizing, then the sketch build) + once lazily (confirm
    * join) — the eval set is orders of magnitude smaller than the
    * corpus, which is scanned exactly once.
    */
  def decontaminateBloom(docs: DataFrame, n: Int = 8,
                         evalPred: Column = col("doc_id") % 50 === 0,
                         fpp: Double = 0.01): DataFrame = {
    graft.functions.GraftExtensions.register(docs.sparkSession)
    // The eval-gram set is consumed THREE times (sizing count, sketch
    // build, exact confirm join) — materialize it once with truncated
    // lineage so the eval-side scan+explode+distinct runs once per
    // call instead of three times. Eval sets are tiny next to the
    // corpus (the operator's premise), so the checkpoint is bounded.
    val evalGrams = docs.filter(evalPred)
      .select(explode(array_distinct(ngramArr(n))).as("gram"))
      .distinct()
      .localCheckpoint(false)
    val evalHashes = evalGrams.select(xxhash64(col("gram")).as("gh"))
    val nEval = evalHashes.count()
    val bits = bloomBitsOf(evalHashes, "gh", nEval, fpp)
    val grams = docs.filter(!evalPred)
      .select(col("doc_id").cast("long").as("doc_id"),
        explode(array_distinct(ngramArr(n))).as("gram"))
    grams
      .filter(call_function("bloom_might_contain",
        xxhash64(col("gram")), lit(bits)))
      .join(evalGrams, Seq("gram"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_ngrams"))
      .orderBy("doc_id")
  }

  /** Span-level decontamination — the CUTTING form of
    * [[decontaminate]]: instead of dropping every training doc that
    * shares an n-gram with the eval set (which at 100 TB discards a
    * whole document for one quoted sentence), remove exactly the token
    * positions covered by a shared n-gram and reassemble the
    * survivors byte-exact (the Lee-et-al span-removal discipline
    * applied to contamination; the oracle re-derives clean_text, so
    * the rewrite is verified end-to-end). Output per TRAIN doc:
    * (doc_id, n_words, n_cut, clean_text); a verbatim eval copy
    * collapses to clean_text = ''. Docs shorter than one n-gram have
    * no windows and pass through whole.
    *
    * Scale shape: eval n-grams are tiny next to the corpus and gate
    * the train-side window stream as a broadcast semi-join (the
    * [[decontaminate]] contract; swap in the [[decontaminateBloom]]
    * Bloom prefilter when the eval set outgrows a string broadcast —
    * exactness is unchanged either way). Everything after the gate is
    * bounded by CONTAMINATED positions: islands merge per doc
    * (gaps-and-islands window, doc-bounded), coverage explodes one
    * row per CUT token over the MERGED islands, the kept-word filter
    * is an id+position anti-join, and the rebuild pays the tokenize
    * explode the engine already pays elsewhere. No text column rides
    * a shuffle except the per-doc reassembly groupBy.
    */
  def decontaminateCut(docs: DataFrame, n: Int = 8,
                       evalPred: Column = col("doc_id") % 50 === 0): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col("doc_id").cast("long").as("doc_id"),
      col("text"), evalPred.as("is_eval"))
    def wins(rows: DataFrame): DataFrame =
      rows.select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, text) =>
          val words = text.split(' ').filter(_.nonEmpty)
          (0 to words.length - n).iterator.map { i =>
            (id, i.toLong, words.slice(i, i + n).mkString(" "))
          }
        }
        .toDF("doc_id", "pos", "gram")
    val evalGrams = wins(base.filter(col("is_eval")))
      .select(col("gram")).distinct()
    val train = base.filter(!col("is_eval"))
    val contaminated = wins(train)
      .join(broadcast(evalGrams), Seq("gram"), "left_semi")
    val ord = Window.partitionBy(col("doc_id")).orderBy(col("pos").asc)
    val islands = contaminated
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(ord) > n, 1L)
          .otherwise(lit(0L)))
      .withColumn("island", sum(col("brk"))
        .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + n).as("e"))
    val cov = islands.select(col("doc_id"),
      explode(sequence(col("s"), col("e") - 1L)).as("p"))
    val words = train.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        text.split(' ').filter(_.nonEmpty).iterator.zipWithIndex
          .map { case (wd, i) => (id, i.toLong, wd) }
      }
      .toDF("doc_id", "p", "word")
    val kept = words.join(cov, Seq("doc_id", "p"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("p"), col("word")))),
            x => x.getField("word"))).as("clean_text"))
    train.select(col("doc_id"),
        size(array_remove(split(col("text"), " "), "")).cast("long").as("n_words"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("n_words"),
        (col("n_words") - coalesce(col("n_kept"), lit(0L))).cast("long").as("n_cut"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** Eval-side contamination census — the report a benchmark owner
    * reads before trusting a score: per EVAL doc, how much of it
    * leaks into the training corpus (distinct n-grams, leaked
    * n-grams, distinct leaking training docs, leak permille). The
    * dual of [[decontaminate]], which reports the train side; an eval
    * doc at leak_permille 1000 is fully memorizable from training
    * data. Eval docs shorter than one n-gram have no grams and emit
    * no row (there is nothing to leak).
    *
    * Scale shape: the train-side gram stream is gated by the SAME
    * broadcast eval-gram semi-join as [[decontaminate]] before
    * anything shuffles, so the gram-keyed join that attributes leaks
    * to eval docs only ever carries contaminated occurrences; output
    * is one row per eval doc.
    */
  def decontamReport(docs: DataFrame, n: Int = 8,
                     evalPred: Column = col("doc_id") % 50 === 0): DataFrame = {
    val grams = docs.select(col("doc_id").cast("long").as("doc_id"),
      evalPred.as("is_eval"),
      explode(array_distinct(ngramArr(n))).as("gram"))
    val evalG = grams.filter(col("is_eval"))
      .select(col("doc_id").as("eval_id"), col("gram"))
    val evalSet = evalG.select(col("gram")).distinct()
    val hits = grams.filter(!col("is_eval"))
      .join(broadcast(evalSet), Seq("gram"), "left_semi")
      .select(col("doc_id").as("src_id"), col("gram"))
    evalG.join(hits, Seq("gram"), "left")
      .groupBy(col("eval_id"))
      .agg(countDistinct(col("gram")).as("n_grams"),
        countDistinct(when(col("src_id").isNotNull, col("gram"))).as("n_leaked"),
        countDistinct(col("src_id")).as("n_src_docs"))
      .select(col("eval_id").as("doc_id"), col("n_grams"), col("n_leaked"),
        col("n_src_docs"),
        expr("n_leaked * 1000 DIV n_grams").cast("long").as("leak_permille"))
      .orderBy(col("doc_id"))
  }

  /** Cross-corpus n-gram census: the most-repeated word n-grams (the
    * memorization-risk / boilerplate census), TWO-LEVEL so the
    * corpus-scale shuffle never carries gram strings:
    *
    *  1. count 64-bit gram hashes — the full-data shuffle carries
    *     (xxhash64, partial count), 16 bytes/row instead of ~60-char
    *     strings with near-unique cardinality (the r2 scale-killer);
    *  2. re-count EXACT strings for the candidate hashes only (count
    *     >= 2) — at census scale the repeated set is the boilerplate
    *     tail, orders of magnitude smaller than the corpus; it is
    *     broadcast as bare 8-byte ids (never text).
    *
    * Exactness: hash collisions can only ADD a candidate (a unique gram
    * colliding into count >= minCount), and the exact re-count filters
    * it back out — every true count >= minCount gram survives level 1,
    * so the result is IDENTICAL to the single-pass exact census (the
    * DuckDB oracle).
    *
    * @param minCount candidate floor. On a corpus whose repeated tail
    *   is itself huge (the level-1 candidate set would overflow the
    *   broadcast), RAISE it — the top-k winners have counts orders of
    *   magnitude above 2, so a higher floor shrinks the candidate set
    *   without touching the winners.
    * @param persistGrams small-corpus convenience: cache the exploded
    *   grams so level 2 reads the cache instead of re-tokenizing (the
    *   two-level design's second pass — recovers ~2 s at sf0.1; the
    *   cache is reclaimed by the ContextCleaner once the plan is
    *   collected and dropped). Leave FALSE at corpus scale: the
    *   exploded grams are ~n× the corpus text and exceed any aggregate
    *   memory+disk cache budget at 100 TB — there the second scan IS
    *   the deliberate trade for 8-byte shuffle keys.
    */
  def ngramCensus(docs: DataFrame, n: Int = 8, k: Int = 20,
                  minCount: Long = 2L, persistGrams: Boolean = false): DataFrame = {
    val grams0 = docs.select(explode(ngramArr(n)).as("gram"))
    val grams =
      if (persistGrams)
        grams0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else grams0
    val hot = grams.select(xxhash64(col("gram")).as("ghash"))
      .groupBy(col("ghash"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount)
      .select(col("ghash"))
    grams
      .join(broadcast(hot), xxhash64(col("gram")) === col("ghash"), "left_semi")
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") >= minCount)
      .orderBy(col("n_occurrences").desc, col("gram").asc)
      .limit(k)
  }

  /** Sub-document duplicated-passage detection (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better"
    * passage-level analog of doc-level dedup): each doc is cut into
    * consecutive non-overlapping w-word windows; a passage is
    * duplicated if it appears VERBATIM in >= 2 distinct docs. Emits the
    * per-doc duplicated-passage fraction — the signal a curation
    * pipeline uses to strip boilerplate-heavy docs that doc-level
    * dedup misses.
    *
    * Scale shape: passages are FNV-hashed inside the flatMap, so the
    * corpus-scale shuffle carries (doc_id, 8-byte hash) — never
    * passage strings; the dup set is an 8-byte-key aggregate joined
    * back by hash with NO forced broadcast (the optimizer may pick BHJ
    * only when the dup side is provably small). Per-doc repeats are
    * collapsed BEFORE the cross-doc count, so a doc repeating its own
    * boilerplate does not fake a cross-doc duplicate.
    */
  def passageDedup(docs: DataFrame, w: Int = 16): DataFrame = {
    import docs.sparkSession.implicits._
    val ph = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        // empty tokens dropped on BOTH sides (oracle: list_filter) —
        // Scala split(' ') silently drops trailing empties while DuckDB
        // string_split keeps them, so the filter is the only tokenizing
        // the two engines agree on for ragged whitespace
        val words = text.split(' ').filter(_.nonEmpty)
        val n = (words.length + w - 1) / w
        (0 until n).iterator.map { i =>
          (id, fnv1a64(words.slice(i * w, math.min((i + 1) * w, words.length)).mkString(" ")))
        }
      }
      .toDF("doc_id", "phash")
    val dup = ph.distinct() // per-doc collapse: cross-DOC duplication only
      .groupBy(col("phash"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2L)
      .select(col("phash"), lit(true).as("is_dup"))
    ph.join(dup, Seq("phash"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_passages"))
      .withColumn("dup_permille",
        expr("n_dup_passages * 1000 DIV n_passages").cast("long"))
      .orderBy(col("doc_id"))
  }

  /** Shared window machinery for dedupSpans/dedupCut: stride-1 w-word
    * window hashes `wh(doc_id, pos, n_words, whash)`, cross-doc
    * duplicated positions `dupw`, and the merged gaps-and-islands
    * coverage `islands(doc_id, island, s, e)` — contiguous [s, e) cut
    * ranges, disjoint per doc by construction (islands break only
    * when the gap exceeds w, so every kept gap is bridged).
    */
  private def dupIslands(docs: DataFrame, w: Int): (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    import docs.sparkSession.implicits._
    val wh = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val words = text.split(' ').filter(_.nonEmpty)
        (0 to words.length - w).iterator.map { i =>
          (id, i.toLong, words.length.toLong,
            fnv1a64(words.slice(i, i + w).mkString(" ")))
        }
      }
      .toDF("doc_id", "pos", "n_words", "whash")
    val dup = wh.select(col("doc_id"), col("whash")).distinct()
      .groupBy(col("whash"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2L)
      .select(col("whash"))
    val dupw = wh.join(dup, Seq("whash"))
    val ord = Window.partitionBy(col("doc_id")).orderBy(col("pos").asc)
    val islands = dupw
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(ord) > w, 1L)
          .otherwise(lit(0L)))
      .withColumn("island", sum(col("brk"))
        .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + w).as("e"))
    (wh, dupw, islands)
  }

  /** The CUTTING form of exact-substring dedup — where [[dedupSpans]]
    * reports coordinates, dedupCut APPLIES them: every token position
    * covered by a cross-doc duplicated window is removed from every
    * doc, and the surviving words are reassembled in order (clean_text
    * is byte-exact; the oracle re-derives it, so the rewrite is
    * verified end-to-end). Docs shorter than one window have no
    * windows and pass through whole.
    *
    * Scale shape: the only additions over the dedupSpans chain are the
    * coverage explode — one row per CUT token, over the MERGED islands
    * (never per overlapping window, so coverage is bounded by corpus
    * tokens) — and one word-position explode for the rebuild (the
    * tokenize volume the engine already pays elsewhere). The kept-word
    * filter is an id+position anti-join; clean_text rides only the
    * per-doc reassembly groupBy.
    */
  def dedupCut(docs: DataFrame, w: Int = 16): DataFrame = {
    import docs.sparkSession.implicits._
    val (_, _, islands) = dupIslands(docs, w)
    val cov = islands.select(col("doc_id"),
      explode(sequence(col("s"), col("e") - 1L)).as("p"))
    val words = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        text.split(' ').filter(_.nonEmpty).iterator.zipWithIndex
          .map { case (wd, i) => (id, i.toLong, wd) }
      }
      .toDF("doc_id", "p", "word")
    val kept = words.join(cov, Seq("doc_id", "p"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("p"), col("word")))),
            x => x.getField("word"))).as("clean_text"))
    // base from the corpus itself, not the word explode — a zero-word
    // doc must still emit its (0, 0, '') row on both engines
    docs.select(col("doc_id").cast("long").as("doc_id"),
        size(array_remove(split(col("text"), " "), "")).cast("long").as("n_words"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("n_words").cast("long").as("n_words"),
        (col("n_words") - coalesce(col("n_kept"), lit(0L))).cast("long").as("n_cut"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** Exact duplicate-SPAN coordinates (the sub-document removal form
    * of exact-substring dedup, after Lee et al. "Deduplicating
    * Training Data Makes Language Models Better"): every SLIDING
    * w-word window (stride 1) is hashed; a window is duplicated if it
    * occurs verbatim in >= 2 distinct docs; per doc, overlapping or
    * touching duplicated windows merge into maximal spans — the
    * (start, length) coordinates a curation pipeline CUTS (see
    * [[dedupCut]] for the rewrite that applies them). Emits per doc:
    * window/dup-window counts, merged span count, duplicated token
    * mass and its permille of the doc.
    *
    * Scale shape: windows are FNV-hashed inside the flatMap so the
    * corpus-scale shuffle carries (doc_id, pos, 8-byte hash) — stride-1
    * windows cost one row per corpus token, the same order as the
    * tokenize explode the engine already pays elsewhere. Per-doc
    * repeats collapse BEFORE the cross-doc census (a doc repeating its
    * own boilerplate is not a cross-doc duplicate); the dup-hash set
    * joins back by hash with NO forced broadcast. Span merging is a
    * per-doc window over only the DUPLICATED positions
    * (gaps-and-islands, [[dupIslands]]), bounded by doc length —
    * never a corpus-wide sort.
    */
  def dedupSpans(docs: DataFrame, w: Int = 16): DataFrame = {
    val (wh, dupw, islands) = dupIslands(docs, w)
    val spans = islands.select(col("doc_id"), col("island"),
      (col("e") - col("s")).as("span_tokens"))
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("span_tokens")).as("dup_tokens"))
    val dcnt = dupw.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_windows"))
    wh.groupBy(col("doc_id"))
      .agg(first(col("n_words")).as("n_words"), count(lit(1)).as("n_windows"))
      .join(dcnt, Seq("doc_id"), "left")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("n_words").cast("long").as("n_words"),
        col("n_windows").cast("long").as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).cast("long").as("n_dup_windows"),
        coalesce(col("n_spans"), lit(0L)).cast("long").as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).cast("long").as("dup_tokens"))
      .withColumn("dup_token_permille",
        expr("dup_tokens * 1000 DIV n_words").cast("long"))
      .orderBy(col("doc_id"))
  }

  /** Top salient terms per doc by an integer-exact TF/DF score
    * (score = tf·10^6 DIV df): the keyword/topic-signal primitive for
    * corpus exploration and domain tagging. A true tf·idf would need
    * ln(N/df) — cross-engine float logs are not bit-guaranteed, so the
    * score keeps the same "frequent here, rare elsewhere" ordering in
    * exact integers instead (df-monotone for fixed tf).
    *
    * Scale shape: two hash aggregates (per-doc tf, corpus df — both
    * map-side combined) and a vocabulary-keyed shuffle join (df is NOT
    * broadcast: at web scale the vocabulary is huge); the per-doc top-N
    * is a bounded window.
    */
  def tfidfTopTerms(docs: DataFrame, topN: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = docs.select(col("doc_id").cast("long").as("doc_id"),
        explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    val tf = words.groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val df = words.select(col("doc_id"), col("w")).distinct()
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
    val scored = tf.join(df, Seq("w"))
      .withColumn("score", expr("tf * 1000000 DIV df").cast("long"))
    val wnd = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("w").asc)
    scored.withColumn("rank", row_number().over(wnd))
      .filter(col("rank") <= topN)
      .select(col("doc_id"), col("w").as("term"),
        col("rank").cast("long").as("rank"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  // -------------------------------------------------------------------
  // OOV-rate quality signal (top-K-vocabulary UNK rate)
  // -------------------------------------------------------------------

  /** Out-of-vocabulary rate against the corpus's own top-K vocabulary
    * (the KenLM-free UNK-rate filter): pass 1 builds global word
    * counts and takes the top K (count desc, word asc — deterministic
    * ties); pass 2 left-joins the exploded words against the tiny
    * vocab (broadcast by AQE) and counts misses per doc. Both passes
    * are plain hash aggregates — at 100 TB the vocab aggregation is
    * the classic map-side-combined word count.
    */
  def oovRatio(docs: DataFrame, vocabK: Int = 64): DataFrame = {
    val words = docs.select(col("doc_id").cast("long").as("doc_id"),
        explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "") // ragged whitespace must not count as words
    val vocab = words.groupBy(col("w"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc)
      .limit(vocabK)
      .select(col("w"), lit(1).as("in_vocab"))
    words.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("is_oov_heavy", col("n_oov") * 5L > col("n_words"))
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------------
  // Bigram-LM fluency score (the CCNet-perplexity analog, integer-exact)
  // -------------------------------------------------------------------

  /** Self-trained bigram language-model fluency score — the
    * integer-exact analog of CCNet's KenLM perplexity filter (no
    * external LM ships in this container, so the corpus is its own
    * model; a production deployment would feed reference counts the
    * same way). For each adjacent word pair the model's conditional is
    * cond_permille = c(w1,w2)·1000 DIV (c(w1) + [[LmSmoothing]]); the
    * additive smoothing term is what penalizes hapax transitions — in
    * a SELF-trained unsmoothed LM a unique word's unique bigram is a
    * "perfect" 1000 (c1 = cb = 1) and gibberish would score fluent. A
    * document's score is the truncated mean over its bigram
    * occurrences. High =
    * made of corpus-typical transitions (fluent); low = transitions
    * the corpus has rarely seen (gibberish / OOD) — the ranking a
    * perplexity filter produces, in exact integers both engines agree
    * on (no cross-engine float logs).
    *
    * Scale shape: bigrams are built IN-ROW (array zip — no per-doc
    * window shuffle); the model is two map-side-combined hash
    * aggregates; scoring is a vocabulary-keyed shuffle join (the model
    * is corpus-sized — never broadcast) plus one per-doc aggregate.
    * Docs with <2 words keep a row (n_bigrams=0, score 0) via the
    * LEFT-join discipline (the quality_classify zero-word lesson).
    */
  /** Additive-smoothing mass for [[lmScore]]'s conditional denominator
    * (public: the DuckDB oracle embeds it).
    */
  val LmSmoothing = 4L

  def lmScore(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id").cast("long").as("doc_id"),
      split(col("text"), " ").as("w"))
    // corpus unigram counts over ALL positions (the conditional's
    // denominator; bigram mass per w1 can never exceed it)
    val uni = t.select(explode(col("w")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    // in-row adjacent pairs: zip the word array with its own tail
    val pairs = t.select(col("doc_id"), explode(expr(
      "zip_with(slice(w, 1, greatest(0, size(w) - 1))," +
        " slice(w, 2, greatest(0, size(w) - 1))," +
        " (a, b) -> struct(a AS w1, b AS w2))")).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val bi = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val scored = pairs
      .join(bi, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(expr(s"cb * 1000 DIV (c1 + $LmSmoothing)")).as("sp"))
    docs.select(col("doc_id").cast("long").as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).cast("long").as("n_bigrams"),
        coalesce(expr("sp DIV n_bigrams"), lit(0L)).cast("long").as("lm_permille"))
      .orderBy(col("doc_id"))
  }

  /** CCNet-style perplexity buckets (Wenzek et al. 2020): per
    * language, split the corpus into head/middle/tail terciles of
    * [[lmScore]] fluency — the standard pre-training mix knob (train
    * mostly on head, sample middle, drop or tag tail). Buckets are
    * THRESHOLD-based, not rank-based: per lang, t_k = the largest
    * score whose >=-score doc count reaches ceil(kN/3), and a doc's
    * bucket is a per-row threshold compare — ties at a boundary all
    * land on the higher bucket (deterministic, no ordering of
    * individual docs required). Output is the (lang, bucket) census
    * with the score range each bucket spans.
    *
    * Scale shape: an ntile over a per-lang window would be a single
    * reducer per language (one lang can be half the corpus — the
    * anti-pattern). Instead the thresholds come from a (lang, score)
    * HISTOGRAM — lm_permille is bounded [0, 1000], so the histogram
    * is <= 1001 rows per lang regardless of corpus size; the window
    * cumsum runs over that tiny relation, and bucket assignment is a
    * per-row join against a 2-longs-per-lang threshold table (AQE
    * broadcasts it). The expensive part remains lmScore's
    * vocabulary-keyed join, which the corpus pays once.
    */
  def pplBuckets(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scores = lmScore(docs).select(col("doc_id"), col("lm_permille"))
    val lg = docs.select(col("doc_id").cast("long").as("doc_id"), col("lang"))
    val j = scores.join(lg, Seq("doc_id"))
    val hist = j.groupBy(col("lang"), col("lm_permille"))
      .agg(count(lit(1)).as("c"))
    val wnd = Window.partitionBy(col("lang"))
      .orderBy(col("lm_permille").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("c")).over(wnd))
    val n = j.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val th = cum.join(n, Seq("lang"))
      .groupBy(col("lang"))
      .agg(
        max(when(col("cum") >= expr("(n + 2) DIV 3"), col("lm_permille"))).as("t1"),
        max(when(col("cum") >= expr("(2 * n + 2) DIV 3"), col("lm_permille"))).as("t2"))
    j.join(th, Seq("lang"))
      .withColumn("bucket",
        when(col("lm_permille") >= col("t1"), "head")
          .when(col("lm_permille") >= col("t2"), "middle")
          .otherwise("tail"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        min(col("lm_permille")).as("min_permille"),
        max(col("lm_permille")).as("max_permille"))
      .orderBy(col("lang"), col("bucket"))
  }

  /** Composed quality gate with first-rejector attribution — the
    * FineWeb/Gopher filter stack as ONE pass: per doc, the first
    * failing rule in fixed order (short → punct → word_len →
    * repetitive → loop → gibberish) or 'pass'. The attribution column
    * is what a curation team tunes thresholds against: it says not
    * just how much data each rule costs but which rule would START
    * rejecting a doc class if an earlier one were relaxed
    * (curate_audit gives the same discipline for the DEDUP funnel;
    * this is the quality-filter counterpart).
    *
    * Rule sources: shallow features reuse [[qualityScores]]'s exact
    * conventions (unfiltered split, integer avg word length,
    * [[PunctChars]] count); 'repetitive' is [[repetitionStats]]'s
    * distinct-ratio rule; 'loop' is [[gopherRep]]'s dup-5-gram
    * coverage at >= 200 permille; 'gibberish' is [[lmScore]] fluency
    * below 30 permille.
    *
    * Scale shape: shallow features and the repetitive rule are pure
    * per-row exprs; the loop leg is gopherRep's per-row map; only the
    * lm leg shuffles (its vocabulary-keyed model join, which a
    * quality pipeline pays once and reuses); the two id-keyed joins
    * carry four longs per doc.
    */
  def qualityGate(docs: DataFrame): DataFrame = {
    val g = gopherRep(docs).select(col("doc_id"), col("dup5_permille"))
    val lm = lmScore(docs).select(col("doc_id"), col("lm_permille"))
    val feats = docs.select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("w", split(col("text"), " "))
      .withColumn("nt", size(col("w")).cast("long"))
      .withColumn("nd", size(array_distinct(col("w"))).cast("long"))
      .withColumn("np",
        (length(col("text")) - length(translate(col("text"), PunctChars, "")))
          .cast("long"))
      .withColumn("awl", expr("(n_chars - (nt - 1)) * 100 DIV nt"))
    feats.join(g, Seq("doc_id")).join(lm, Seq("doc_id"))
      .withColumn("verdict",
        when(col("nt") < 10L, "short")
          .when(col("np") * 5L > col("n_chars"), "punct")
          .when(!col("awl").between(200L, 1200L), "word_len")
          .when(col("nd") * 2L <= col("nt"), "repetitive")
          .when(col("dup5_permille") >= 200L, "loop")
          .when(col("lm_permille") < 30L, "gibberish")
          .otherwise("pass"))
      .select(col("doc_id"), col("nt").as("n_words"), col("verdict"))
      .orderBy(col("doc_id"))
  }

  // -------------------------------------------------------------------
  // Crawl-text normalization (control strip + whitespace collapse)
  // -------------------------------------------------------------------

  /** Control-character class, ONE regex string shared verbatim by the
    * Spark Column and the DuckDB mirror (escape sequences interpreted
    * by the regex engines — Java and RE2 agree on \xNN and ranges).
    */
  val CtrlClassPattern: String = "[\\x00-\\x1F\\x7F]"

  /** Crawl-text cleanup — the normalization pass every web corpus
    * applies before hashing/dedup (raw crawl text carries CR/LF/tab
    * soup, NBSP-adjacent control bytes, ragged runs): control chars →
    * space, space runs collapsed, ends trimmed. Pure per-row codegen
    * regexes, zero shuffles; idempotent (clean(clean(x)) == clean(x)).
    */
  def textCleanCol(c: Column): Column =
    trim(regexp_replace(regexp_replace(c, CtrlClassPattern, " "), " {2,}", " "))

  /** Deterministic messy-crawl synth for the text_clean round-trip
    * oracle (url_normalize's convention): tab/trailing + doubled
    * spaces (id%3=0), CRLF joins (id%3=1), already-clean (else). The
    * cleaner must reproduce documents.text BYTE-IDENTICALLY.
    */
  def corpusWithMessyText(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").cast("long").as("doc_id"),
      when(col("doc_id") % 3 === 0,
        concat(lit("\t"), regexp_replace(col("text"), lit(" "), lit("  ")), lit(" ")))
        .when(col("doc_id") % 3 === 1,
          regexp_replace(col("text"), lit(" "), lit("\r\n")))
        .otherwise(col("text")).as("dirty"))

  def textClean(withDirty: DataFrame): DataFrame =
    withDirty.select(col("doc_id"),
      textCleanCol(col("dirty")).as("clean_text"))
      .orderBy(col("doc_id"))

  // -------------------------------------------------------------------
  // Paragraph-level corpus dedup (the CCNet / RefinedWeb line dedup)
  // -------------------------------------------------------------------

  /** Words per synthesized body paragraph (public: the oracle embeds
    * it).
    */
  val ParaWords = 10

  /** Planted boilerplate (public: oracle literals). The header varies
    * over doc_id % 7 — seven shared nav strings, each duplicated
    * across ~1/7 of the corpus — and the footer is ONE string shared
    * by every doc, the worst-case duplicated line.
    */
  val ParaHeaderPrefix = "shared nav menu home about contact edition "
  val ParaFooter = "all rights reserved copyright footer boilerplate"

  /** The paragraph list of one synthesized multi-paragraph doc
    * (public: the flatMap kernel and the specs share it).
    */
  def paragraphsOf(id: Long, text: String): Seq[String] = {
    val words = text.split(' ').filter(_.nonEmpty)
    val body = words.grouped(ParaWords).map(_.mkString(" ")).toSeq
    (ParaHeaderPrefix + (id % 7)) +: body :+ ParaFooter
  }

  /** Deterministic multi-paragraph synth for line_dedup
    * (corpusWithMessyText's convention): corpus text regrouped into
    * ParaWords-word body paragraphs wrapped in a planted nav header
    * (7 variants keyed doc_id % 7) and one universal footer,
    * newline-joined — web pages as a paragraph stream with cross-site
    * boilerplate, the input shape paragraph dedup exists for.
    */
  def corpusWithParas(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) => (id, paragraphsOf(id, text).mkString("\n")) }
      .toDF("doc_id", "ptext")
  }

  /** Paragraph-level exact dedup across the whole corpus — the
    * CCNet-family "remove duplicated lines/paragraphs" pass that web
    * pipelines run before document-level dedup: a paragraph OCCURRENCE
    * survives iff it is the globally FIRST occurrence of that
    * paragraph, ordered by (doc_id, pos), so boilerplate shared across
    * pages is kept exactly once corpus-wide and every later copy is
    * cut (a doc re-quoting its own earlier paragraph loses the repeat
    * too). Emits per doc the paragraph counts and the deduped text
    * reassembled in original order — clean_text is byte-exact and the
    * oracle re-derives it, so reassembly is verified end-to-end.
    *
    * Scale shape: paragraphs are FNV-hashed inside the flatMap, so the
    * keeper census shuffles (phash, doc_id, pos) 24-byte rows — never
    * text — into ONE min(struct) aggregate (map-side combined, the
    * first-occurrence rule with no corpus-wide window or sort).
    * Paragraph text rides only the hash-keyed join back and the
    * per-doc reassembly groupBy, the same volume as the input scan;
    * dedup decisions key on the 64-bit hash alone (the CCNet design —
    * a collision merges two paragraphs identically on both engines).
    */
  def lineDedup(withParas: DataFrame): DataFrame = {
    import withParas.sparkSession.implicits._
    val paras = withParas.select(col("doc_id").cast("long"), col("ptext"))
      .as[(Long, String)]
      .flatMap { case (id, ptext) =>
        ptext.split('\n').iterator.zipWithIndex.map { case (p, i) =>
          (id, i.toLong, p, fnv1a64(p))
        }
      }
      .toDF("doc_id", "pos", "para", "phash")
    val keeper = paras
      .select(col("phash"), struct(col("doc_id"), col("pos")).as("occ"))
      .groupBy(col("phash")).agg(min(col("occ")).as("keep_occ"))
    val kept = paras.join(keeper, Seq("phash"))
      .filter(struct(col("doc_id"), col("pos")) === col("keep_occ"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws("\n",
          transform(array_sort(collect_list(struct(col("pos"), col("para")))),
            x => x.getField("para"))).as("clean_text"))
    paras.groupBy(col("doc_id")).agg(count(lit(1)).as("n_paras"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("n_paras").cast("long").as("n_paras"),
        coalesce(col("n_kept"), lit(0L)).cast("long").as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  // -------------------------------------------------------------------
  // Count-min sketch census (bounded-memory heavy hitters)
  // -------------------------------------------------------------------

  /** Count-min geometry (public: the cms_census oracle embeds it). */
  val CmsDepth = 4
  val CmsWidth = 1024L
  /** Row seeds: bucket_d(w) = splitmix64(fnv1a64(w) xor seed_d) mod W. */
  val CmsSeeds: Array[Long] = Array(
    0x9e3779b97f4a7c15L, 0xc2b2ae3d27d4eb4fL,
    0x165667b19e3779f9L, 0x27d4eb2f165667c5L)

  /** Count-min-sketch word census with a soundness audit — the
    * bounded-memory answer to "count everything" at 100 TB: the exact
    * census's state is vocabulary-sized (unbounded), the sketch's is
    * FIXED at depth×width cells (4×1024 here), and map-side combine
    * caps the shuffle at that cell count per task regardless of corpus
    * size. Estimates are deterministic over-counts (est ≥ exact, the
    * published CMS guarantee); this query reports the true top-`topK`
    * words with exact and sketch counts side by side — the
    * measurement a sketch user needs (ann_recall's analog for
    * counting). All hashing is the FNV+splitmix integer kernel pair
    * the DuckDB oracle replays bit-for-bit.
    */
  /** The CMS row buckets of one word (public: spec recomputes it). */
  def cmsBucketsOf(w: String): Seq[(String, Int, Long)] = {
    val base = fnv1a64(w)
    CmsSeeds.toSeq.zipWithIndex.map { case (s, d) =>
      (w, d, java.lang.Long.remainderUnsigned(
        graft.sources.PageSource.splitmix64(base ^ s), CmsWidth))
    }
  }

  def cmsCensus(spark: SparkSession, docs: DataFrame, topK: Int = 10): DataFrame = {
    import spark.implicits._
    val words = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").as[String]
    // sketch: one pass, (d, bucket) cells — ≤ CmsDepth·CmsWidth rows
    // survive the (map-side combined) aggregate
    val cells = words.flatMap(w => cmsBucketsOf(w).map { case (_, d, b) => (d, b) })
      .toDF("d", "bucket")
      .groupBy(col("d"), col("bucket")).agg(count(lit(1)).as("c"))
    // audit side: exact census (vocabulary-sized — the thing the
    // sketch replaces; computed here only to measure it)
    val exact = words.toDF("w").groupBy(col("w")).agg(count(lit(1)).as("exact_count"))
    val top = exact.orderBy(col("exact_count").desc, col("w").asc).limit(topK)
    val probes = top.select(col("w")).as[String]
      .flatMap(cmsBucketsOf _).toDF("w", "d", "bucket")
    val est = probes.join(cells, Seq("d", "bucket"))
      .groupBy(col("w")).agg(min(col("c")).as("cms_count"))
    top.join(est, Seq("w"))
      .select(col("w"), col("exact_count"), col("cms_count"),
        (col("cms_count") >= col("exact_count")).as("sound"))
      .orderBy(col("exact_count").desc, col("w").asc)
  }

  // -------------------------------------------------------------------
  // Mixture balancing (per-stratum rate-balanced sampling)
  // -------------------------------------------------------------------

  /** Seed for the mixture-balancing hash. */
  val MixSeed = 0xba1a2ced5eedL

  /** Balance the corpus mixture across strata (lang): every stratum is
    * down-sampled toward the SMALLEST stratum's size with the
    * deterministic hash-threshold rule, rate_permille = min_n*1000/n
    * (integer division — slightly under-samples, never over). Output
    * is the per-stratum audit row; the kept set itself is the same
    * filter applied row-wise. One aggregate + one broadcast-joined
    * scan — no per-stratum repartition, no RNG.
    */
  def mixBalance(docs: DataFrame): DataFrame = {
    graft.functions.GraftExtensions.register(docs.sparkSession)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val rates = counts
      .withColumn("min_n", min(col("n_docs")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("rate_permille",
        expr("min_n * 1000 DIV n_docs").cast("long"))
      .select(col("lang"), col("n_docs"), col("rate_permille"))
    val kept = docs.select(col("doc_id").cast("long").as("doc_id"), col("lang"))
      .join(broadcast(rates), Seq("lang"))
      .filter(unsignedMod1000(
        splitmixCol(col("doc_id").bitwiseXOR(lit(MixSeed)))) < col("rate_permille"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
    rates.join(kept, Seq("lang"), "left")
      .na.fill(0L, Seq("n_kept"))
      .orderBy("lang")
  }

  /** Seed for the temperature-sampling hash (public: the oracle
    * embeds it).
    */
  val TempSeed = 0x7e3a5eedbea7L

  /** Exact integer square root as ONE SQL expression string, shared
    * VERBATIM between Spark and the DuckDB oracle: floor(sqrt(double))
    * then a ±1 integer fix-up, so any cross-engine double-sqrt rounding
    * at the boundary cannot change the result (exact for n < 2^52,
    * where the double representation of n is itself exact).
    */
  def isqrtSql(n: String): String = {
    val s0 = s"CAST(floor(sqrt(CAST(($n) AS DOUBLE))) AS BIGINT)"
    s"(CASE WHEN ($s0 + 1) * ($s0 + 1) <= ($n) THEN $s0 + 1 " +
      s"WHEN $s0 * $s0 > ($n) THEN $s0 - 1 ELSE $s0 END)"
  }

  /** Temperature-weighted mixture sampling (the multilingual
    * corpus-mixing rule, alpha = 1/2): target stratum mass is
    * proportional to sqrt(n_lang) — up-weights rare languages
    * relative to proportional sampling without letting any stratum
    * dominate — under a total budget of half the corpus. Per-stratum
    * keep rate (integer-exact, mirrored in the DuckDB oracle):
    *
    *   rate_permille = min(1000, (B * 1000 * isqrt(n_l)) DIV (S * n_l))
    *   where B = total DIV 2, S = sum of isqrt(n_m) over strata.
    *
    * The kept set is the deterministic hash-threshold rule on
    * splitmix64(doc_id xor TempSeed) — same machinery as
    * [[mixBalance]]/[[stratifiedSample]], no RNG, reproducible across
    * runs and engines. One aggregate (strata cardinality rows) + one
    * broadcast-joined scan; the corpus never shuffles. Overflow bound:
    * B * 1000 * isqrt(n_l) < 2^63 holds to ~10^12 docs per corpus
    * (isqrt ≤ 10^6 there); past that, widen to DECIMAL on both sides.
    * Output is the per-stratum audit row (lang, n_docs, rate_permille,
    * n_kept).
    */
  def mixTemperature(docs: DataFrame): DataFrame = {
    val rates = mixRates(docs)
    val kept = mixKept(docs, rates)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
    rates.join(kept, Seq("lang"), "left")
      .na.fill(0L, Seq("n_kept"))
      .orderBy("lang")
  }

  /** The alpha = 1/2 temperature rate table of [[mixTemperature]] —
    * one (lang, n_docs, rate_permille) row per stratum. Factored so
    * the census ([[mixTemperature]]) and the materialization
    * ([[mixSample]]) share ONE rate definition.
    */
  def mixRates(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .withColumn("isq", expr(isqrtSql("n_docs")))
      .withColumn("total", sum(col("n_docs")).over(w))
      .withColumn("s_isq", sum(col("isq")).over(w))
      .withColumn("rate_permille",
        least(lit(1000L),
          expr("(total DIV 2) * 1000 * isq DIV (s_isq * n_docs)")).cast("long"))
      .select(col("lang"), col("n_docs"), col("rate_permille"))
  }

  /** The deterministic kept set under a rate table: one row per doc
    * whose splitmix64(doc_id xor TempSeed) mod-1000 residue clears
    * its stratum's rate. Shared kernel of [[mixTemperature]] and
    * [[mixSample]].
    */
  private def mixKept(docs: DataFrame, rates: DataFrame): DataFrame = {
    graft.functions.GraftExtensions.register(docs.sparkSession)
    docs.select(col("doc_id").cast("long").as("doc_id"), col("lang"))
      .join(broadcast(rates), Seq("lang"))
      .filter(unsignedMod1000(
        splitmixCol(col("doc_id").bitwiseXOR(lit(TempSeed)))) < col("rate_permille"))
  }

  /** Materialized temperature mixture: the actual (doc_id, lang)
    * admission list under [[mixRates]] — the row-level output a
    * training-data writer consumes, where [[mixTemperature]] is the
    * audit census over the SAME kept set (shared [[mixKept]] kernel;
    * a rate or seed change hits both oracle rows). Scale shape
    * unchanged: one stratum-cardinality aggregate, then a
    * broadcast-joined scan filter — the corpus never shuffles.
    */
  def mixSample(docs: DataFrame): DataFrame =
    mixKept(docs, mixRates(docs))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  /** Type-token-ratio census per language — the lexical-diversity
    * number a corpus analyst reads next to the quality permilles
    * (template-heavy or looped corpora show depressed TTR long before
    * a human spots the repetition). Integer permille, truncating.
    *
    * Scale shape: one (lang, word) partial-aggregated shuffle for the
    * distinct-type count riding the same exchange as the token sum;
    * output is #langs rows.
    */
  def ttrCensus(docs: DataFrame): DataFrame =
    docs.select(col("lang"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        countDistinct(col("term")).cast("long").as("n_types"))
      .withColumn("ttr_permille", expr("n_types * 1000 DIV n_tokens").cast("long"))
      .orderBy(col("lang"))

  /** Top-of-the-Zipf-curve census: the `topK` most frequent corpus
    * words with dense rank (count desc, ties to the smaller word) and
    * parts-per-million frequency — the head a stopword list, a
    * hot-term df cap (SearchOps.maxDfPermille) or a tokenizer vocab
    * is tuned against. Integer-exact on both engines.
    *
    * Scale shape: one word-census shuffle with map-side combine, then
    * a K-row global top-k — the ngram_census machinery's unigram
    * little sibling, census-sized all the way after the first
    * aggregate.
    */
  def zipfCensus(docs: DataFrame, topK: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs.select(explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).cast("long").as("n"))
    // coalesce: sum() over an EMPTY census is NULL — fail loud like
    // corpusStats instead of NPEing on getLong
    val total = counts.agg(coalesce(sum(col("n")), lit(0L)).cast("long"))
      .collect()(0).getLong(0)
    require(total > 0, "cannot census an empty corpus")
    // top-k via distributed TakeOrdered (never a full-vocabulary
    // single-partition window); the rank window then runs over K rows
    val top = counts.orderBy(col("n").desc, col("term").asc).limit(topK)
    val w = Window.partitionBy().orderBy(col("n").desc, col("term").asc)
    top.withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("freq_ppm", expr(s"n * 1000000 DIV ${total}L").cast("long"))
      .select(col("rank"), col("term"), col("n"), col("freq_ppm"))
      .orderBy(col("rank"))
  }

  /** UniMax per-language epoch cap (public: the mirror embeds it). */
  val UniMaxEpochCap = 2L

  /** Oracle unroll depth for the UniMax allocation loop — the SQL
    * mirror unrolls exactly this many steps, so the Spark side
    * fail-louds past it (public: the mirror is generated from it).
    */
  val UniMaxUnrollSteps = 8

  /** UniMax language-budget allocation (Chung et al. 2023): instead
    * of temperature-weighting ([[mixTemperature]]'s alpha = 1/2
    * sqrt rule), distribute a token/doc budget UNIFORMLY across
    * languages subject to a per-language repeat cap — no stratum may
    * be up-sampled past [[UniMaxEpochCap]] epochs of its own data.
    * Greedy water-filling, provably the unique fair allocation:
    * process strata ASCENDING by capacity cap_l = n_l * E; each gets
    * min(cap_l, remaining_budget DIV strata_left); budget here is
    * 3 * total DIV 2 (1.5 average epochs), which makes the rare-lang
    * caps genuinely bind on a web-skewed corpus. Integer-exact:
    * truncating division on positives, ties in the capacity order
    * broken by lang ascending on both engines.
    *
    * Scale shape: ONE stratum-cardinality aggregate collected to the
    * driver (#langs rows — the same bounded-state contract as the
    * classifier census and k-means centroids), the sequential
    * water-filling loop on the driver (inherently ordered, #langs
    * steps), and the census row set back out; the corpus itself is
    * scanned once and never shuffles. The row-level materialization
    * at 100 TB is the [[mixSample]] shape: full epochs replicate the
    * stratum floor(alloc/n) times, the fractional remainder admits by
    * the splitmix hash-threshold rule.
    */
  def mixUnimax(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    unimaxAllocs(docs)
      .map { case (lang, n, cap, alloc) =>
        (lang, n, cap, alloc, alloc * 1000L / n)
      }
      .toDF("lang", "n_docs", "cap_docs", "alloc_docs", "epochs_milli")
      .orderBy(col("lang"))
  }

  /** The UniMax water-filling allocation shared by [[mixUnimax]] and
    * [[mixUnimaxSample]]: (lang, n, cap, alloc) per stratum in
    * capacity order — the driver loop over the collected census.
    */
  private def unimaxAllocs(docs: DataFrame): Seq[(String, Long, Long, Long)] =
    unimaxAllocsOf(docs.groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq)

  /** The water-filling loop over an arbitrary (stratum, mass) census —
    * doc counts for [[mixUnimax]]/[[mixUnimaxSample]], token mass for
    * [[mixUnimaxTokens]]; ONE loop definition for every unit.
    */
  private def unimaxAllocsOf(census: Seq[(String, Long)]): Seq[(String, Long, Long, Long)] = {
    require(census.length <= UniMaxUnrollSteps,
      s"UniMax oracle unrolls $UniMaxUnrollSteps steps; got ${census.length} strata")
    val total = census.map(_._2).sum
    var rem = 3L * total / 2L
    var left = census.length.toLong
    census.sortBy { case (lang, n) => (n * UniMaxEpochCap, lang) }
      .map { case (lang, n) =>
        val cap = n * UniMaxEpochCap
        val alloc = math.min(cap, rem / left)
        rem -= alloc; left -= 1L
        (lang, n, cap, alloc)
      }
  }

  /** Token-budget UniMax — the form the published algorithm actually
    * runs (language budgets in TOKENS, the unit a trainer consumes):
    * the same water-filling loop over per-language whitespace token
    * MASS (caps = 2 epochs of a language's token mass, budget = 1.5
    * average epochs of the corpus's total). Same scale shape as
    * [[mixUnimax]]: one map-side-combined aggregate to a #langs
    * census, the driver loop, a census-sized output.
    */
  def mixUnimaxTokens(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val census = docs.groupBy(col("lang"))
      .agg(sum(size(split(col("text"), " ")).cast("long")).cast("long").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    unimaxAllocsOf(census.toSeq)
      .map { case (lang, n, cap, alloc) =>
        (lang, n, cap, alloc, alloc * 1000L / n)
      }
      .toDF("lang", "n_tokens", "cap_tokens", "alloc_tokens", "epochs_milli")
      .orderBy(col("lang"))
  }

  /** Seed for the UniMax fractional-remainder admission draw —
    * independent of the temperature/token/domain mixture seeds
    * (public: the mirror embeds it).
    */
  val UniSeed = 0x5eed0417a110cL

  /** Row-level UniMax materialization: the (doc_id, lang, n_copies)
    * relation a training-data writer consumes under [[mixUnimax]]'s
    * allocation — every doc gets floor(alloc/n) FULL-epoch copies
    * (the repeat-capped up-sampling UniMax exists to bound), plus one
    * more if its splitmix draw clears the fractional remainder's
    * permille; zero-copy docs drop out. Deterministic, no RNG,
    * reproducible across engines and runs.
    *
    * Scale shape: the allocation is the driver census loop; the rate
    * table is #langs rows riding a broadcast join; the admission is
    * one codegen splitmix filter — the corpus is scanned once and
    * never shuffles.
    */
  def mixUnimaxSample(docs: DataFrame): DataFrame = {
    graft.functions.GraftExtensions.register(docs.sparkSession)
    val spark = docs.sparkSession
    import spark.implicits._
    val rates = unimaxAllocs(docs)
      .map { case (lang, n, _, alloc) =>
        val ef = alloc / n
        (lang, ef, (alloc - ef * n) * 1000L / n)
      }
      .toDF("lang", "ef", "rem_permille")
    docs.select(col("doc_id").cast("long").as("doc_id"), col("lang"))
      .join(broadcast(rates), Seq("lang"))
      .withColumn("n_copies",
        (col("ef") + when(unsignedMod1000(
          splitmixCol(col("doc_id").bitwiseXOR(lit(UniSeed)))) < col("rem_permille"),
          1L).otherwise(0L)).cast("long"))
      .filter(col("n_copies") > 0L)
      .select(col("doc_id"), col("lang"), col("n_copies"))
      .orderBy(col("doc_id"))
  }

  /** Seed for the domain-mixture admission draw ([[mixDomains]]) —
    * distinct from [[TempSeed]]/[[TokSeed]] so the three mixtures
    * are independent draws (public: the mirror embeds it).
    */
  val DomSeed = 0x5eedd0a1a155L

  /** Temperature mixture over DOMAIN labels — [[mixRates]]'s
    * alpha = 1/2 rule re-keyed from language to a (doc_id, label)
    * relation, typically the corpus joined onto
    * [[graft.ops.GraphOps.labelProp]]'s propagated host labels: the
    * composition label propagation exists to feed, balancing the
    * training mixture across TOPIC/domain strata instead of (or on
    * top of) language strata. The unlabeled stratum
    * ([[graft.ops.GraphOps.Unlabeled]]) competes like any other — at
    * curation time it is usually the largest, and the sqrt rule is
    * exactly what keeps it from flooding the mixture. Scale shape
    * unchanged from [[mixTemperature]]: one stratum-cardinality
    * aggregate (label-count rows), a broadcast rate table, one
    * codegen splitmix scan filter — the corpus never shuffles.
    */
  def mixDomains(docs: DataFrame): DataFrame = {
    graft.functions.GraftExtensions.register(docs.sparkSession)
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    val rates = docs.groupBy(col("label")).agg(count(lit(1)).as("n_docs"))
      .withColumn("isq", expr(isqrtSql("n_docs")))
      .withColumn("total", sum(col("n_docs")).over(w))
      .withColumn("s_isq", sum(col("isq")).over(w))
      .withColumn("rate_permille",
        least(lit(1000L),
          expr("(total DIV 2) * 1000 * isq DIV (s_isq * n_docs)")).cast("long"))
      .select(col("label").cast("long").as("label"), col("n_docs"),
        col("rate_permille"))
    val kept = docs
      .select(col("doc_id").cast("long").as("doc_id"),
        col("label").cast("long").as("label"))
      .join(broadcast(rates), Seq("label"))
      .filter(unsignedMod1000(
        splitmixCol(col("doc_id").bitwiseXOR(lit(DomSeed)))) < col("rate_permille"))
      .groupBy(col("label")).agg(count(lit(1)).as("n_kept"))
    rates.join(kept, Seq("label"), "left")
      .na.fill(0L, Seq("n_kept"))
      .select(col("label"), col("n_docs").cast("long").as("n_docs"),
        col("rate_permille"), col("n_kept").cast("long").as("n_kept"))
      .orderBy(col("label"))
  }

  /** Seed for the token-mass temperature hash (public: the oracle
    * embeds it; distinct from [[TempSeed]] so the two mixtures are
    * independent draws).
    */
  val TokSeed = 0x70cbea70a5edL

  /** Token-mass alpha = 1/2 temperature rates: the [[mixRates]] rule
    * with each stratum measured by its TOKEN mass (whitespace token
    * count summed per lang — the same space-count+1 kernel as
    * token_count) instead of its document count. This is how real
    * mixtures are specified: a lang of few huge docs and a lang of
    * many tiny docs are different training masses even at equal doc
    * counts. rate_permille = min(1000, (B*1000*isqrt(m_l)) DIV
    * (S*m_l)) with B = total token mass DIV 2, S = sum of isqrt
    * masses. Overflow bound tightens vs the doc-count variant:
    * B*1000*isqrt(m_l) < 2^63 holds to ~10^12 TOKENS per corpus —
    * past that widen to DECIMAL on both sides (Spark ANSI mode fails
    * loud, never wraps).
    */
  def mixTokenRates(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    docs.select(col("lang"),
        (length(col("text")) - length(translate(col("text"), " ", "")) + 1L)
          .cast("long").as("n_tokens"))
      .groupBy(col("lang")).agg(sum(col("n_tokens")).as("tok_mass"))
      .withColumn("isq", expr(isqrtSql("tok_mass")))
      .withColumn("total", sum(col("tok_mass")).over(w))
      .withColumn("s_isq", sum(col("isq")).over(w))
      .withColumn("rate_permille",
        least(lit(1000L),
          expr("(total DIV 2) * 1000 * isq DIV (s_isq * tok_mass)")).cast("long"))
      .select(col("lang"), col("tok_mass"), col("rate_permille"))
  }

  /** Token-mass temperature-mixture census: per-stratum
    * (lang, tok_mass, rate_permille, kept_tokens) under
    * [[mixTokenRates]], with admission by the deterministic
    * splitmix64(doc_id xor [[TokSeed]]) mod-1000 rule — docs are
    * admitted whole (a training mixture never splits a document), so
    * kept_tokens converges to rate*mass without ever equaling it
    * exactly. Same scale shape as [[mixTemperature]]: one stratum
    * aggregate, one broadcast-joined scan filter, the corpus never
    * shuffles and text never moves (token counts are computed in the
    * scan projection).
    */
  def mixTokens(docs: DataFrame): DataFrame = {
    graft.functions.GraftExtensions.register(docs.sparkSession)
    val rates = mixTokenRates(docs)
    val kept = docs.select(col("doc_id").cast("long").as("doc_id"), col("lang"),
        (length(col("text")) - length(translate(col("text"), " ", "")) + 1L)
          .cast("long").as("n_tokens"))
      .join(broadcast(rates), Seq("lang"))
      .filter(unsignedMod1000(
        splitmixCol(col("doc_id").bitwiseXOR(lit(TokSeed)))) < col("rate_permille"))
      .groupBy(col("lang")).agg(sum(col("n_tokens")).as("kept_tokens"))
    rates.join(kept, Seq("lang"), "left")
      .na.fill(0L, Seq("kept_tokens"))
      .orderBy("lang")
  }

  // -------------------------------------------------------------------
  // URL normalization (crawl canonicalization)
  // -------------------------------------------------------------------

  /** Canonicalize `url_messy`: strip the fragment, lowercase
    * scheme+authority (path case preserved), drop the https default
    * port `:443`, and sort query parameters. Pure Column exprs —
    * embarrassingly parallel; the classic pre-dedup step (fragments /
    * param order / case otherwise defeat exact URL dedup). Assumes
    * `scheme://` URLs with a non-empty path.
    */
  def withUrlNorm(df: DataFrame): DataFrame =
    df
      .withColumn("norm1", expr("substring_index(url_messy, '#', 1)"))
      .withColumn("base", expr("substring_index(norm1, '?', 1)"))
      .withColumn("query",
        expr("CASE WHEN instr(norm1, '?') > 0 THEN substring(norm1, instr(norm1, '?') + 1) ELSE '' END"))
      .withColumn("slash", expr("instr(substring(base, 9), '/')"))
      .withColumn("auth", expr("lower(substring(base, 1, 8 + slash - 1))"))
      .withColumn("path", expr("substring(base, 8 + slash)"))
      .withColumn("auth2",
        expr("CASE WHEN auth LIKE '%:443' THEN substring(auth, 1, length(auth) - 4) ELSE auth END"))
      .withColumn("url_norm",
        expr("concat(auth2, path, CASE WHEN query = '' THEN '' " +
          "ELSE concat('?', array_join(array_sort(split(query, '&')), '&')) END)"))
      .drop("norm1", "base", "query", "slash", "auth", "path", "auth2")

  /** url_normalize as a full projection over (doc_id, url_messy). */
  def urlNormalize(withMessy: DataFrame): DataFrame =
    withUrlNorm(withMessy)
      .select(col("doc_id"), col("url_messy"), col("url_norm"))
      .orderBy("doc_id")

  /** Host of a normalized url as ONE SQL expression string, shared
    * VERBATIM between the Spark side (`expr`) and the DuckDB oracle —
    * only `instr` / `substring` / `CASE`, which behave identically in
    * both engines. Parse: authority = between `://` and the next `/`;
    * strip userinfo (after the first `@`) and port (before the first
    * `:`). The authority is already lowercased by [[withUrlNorm]].
    * This is the derivation that makes the curation funnel's
    * host-level levers (host_rank tiers, per-host sampling) work on a
    * REAL corpus — doc ids are hashes, so any id-arithmetic "host" is
    * test scaffolding only.
    */
  def hostOfSql(u: String): String = {
    val rest = s"substring($u, instr($u, '://') + 3)"
    val auth = s"(CASE WHEN instr($rest, '/') > 0 THEN substring($rest, 1, instr($rest, '/') - 1) ELSE $rest END)"
    val noUser = s"(CASE WHEN instr($auth, '@') > 0 THEN substring($auth, instr($auth, '@') + 1) ELSE $auth END)"
    s"(CASE WHEN instr($noUser, ':') > 0 THEN substring($noUser, 1, instr($noUser, ':') - 1) ELSE $noUser END)"
  }

  /** [[hostOfSql]] as a Column over the named url column. */
  def hostOf(urlNormCol: String): Column = expr(hostOfSql(urlNormCol))

  /** `<link rel="canonical">` href regex (public: the canonical_dedup
    * oracle documents the extraction contract).
    */
  val CanonicalPattern: String = "<link rel=\"canonical\" href=\"([^\"]+)\">"

  /** Canonical-URL dedup census over raw pages — the mirror / AMP /
    * tracking-variant collapse every crawl pipeline needs BEFORE
    * content hashing (variant pages often differ in bytes but declare
    * the same canonical): group pages by their declared
    * `<link rel="canonical">` target (absence = self-canonical).
    * Output per canonical group: page count and whether the canonical
    * target itself was crawled (when false the group needs a fetch,
    * not just a collapse).
    *
    * Scale shape: one regex projection over the pages scan (html read
    * once, never shuffled — only (url, canonical_url) strings enter
    * the exchange) + one map-side-combined aggregate on canonical_url.
    */
  /** robots-noindex meta regex — content may carry other directives
    * alongside noindex (`"noindex, nofollow"`); any occurrence opts
    * the page out. Public: the robots_gate oracle documents it.
    */
  val NoindexPattern: String =
    "<meta name=\"robots\" content=\"[^\"]*noindex[^\"]*\">"

  /** Publisher opt-out gate: per-page indexability from the robots
    * meta tag — the compliance filter a training pipeline must apply
    * BEFORE extraction (a noindex page must not enter the corpus at
    * all, not merely be down-weighted). One per-row codegen regex over
    * the pages scan; zero shuffles.
    */
  def robotsGate(pages: DataFrame): DataFrame =
    pages.select(col("url"),
      (!expr(s"regexp_like(CAST(html AS STRING), '$NoindexPattern')"))
        .as("indexable"))
      .orderBy(col("url"))

  /** head-title regex — first `<title>` element's text (no nested
    * markup inside a title per the HTML content model). Public: the
    * extract_title oracle documents the planted shape it recovers.
    */
  val TitlePattern: String = "<title>([^<]*)</title>"

  /** Page-title extraction: the metadata sidecar column a crawl
    * pipeline keeps alongside the extracted body text (dedup hints,
    * search snippets, quality features). A genuine regex extraction
    * over the raw html — the oracle replays the planted-corpus title
    * rule, so any drift in the regex or the decode path fails the
    * gate. One per-row codegen regex over the pages scan; zero
    * shuffles; the html column never rides the exchange (only the
    * extracted title string does).
    */
  def extractTitle(pages: DataFrame): DataFrame =
    pages.select(col("url"),
      expr(s"regexp_extract(CAST(html AS STRING), '$TitlePattern', 1)")
        .as("title"))
      .orderBy(col("url"))

  /** The gate applied: pages that may enter extraction. */
  def indexablePages(pages: DataFrame): DataFrame =
    pages.filter(!expr(s"regexp_like(CAST(html AS STRING), '$NoindexPattern')"))

  def canonicalDedup(pages: DataFrame): DataFrame = {
    val c = pages.select(col("url"),
      expr(s"regexp_extract(CAST(html AS STRING), '$CanonicalPattern', 1)").as("c"))
      .select(col("url"),
        when(col("c") === "", col("url")).otherwise(col("c")).as("canonical_url"))
    c.groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_pages"),
        (max(when(col("url") === col("canonical_url"), 1L).otherwise(0L)) === 1L)
          .as("has_canonical_doc"))
      .orderBy(col("canonical_url"))
  }

  /** Per-host document cap — the "at most `cap` pages per domain"
    * curation rule: keep each host's top-`cap` docs by
    * (n_tokens DESC, doc_id ASC), emitting `cap_rank` (1-based) for
    * the survivors. Input must carry (doc_id, host, n_tokens); the
    * ordering key is total per host (doc_id is unique), so the result
    * is deterministic and parallelism-invariant.
    *
    * Scale shape: a single `Window.partitionBy(host)` puts an entire
    * host in ONE task — on a web corpus where one host can own half
    * the crawl (exactly the skew PageSource.hostId plants), that task
    * is the job. Instead the cap runs in two phases:
    *   1. a SALTED window over (host, doc_id % saltBuckets) prunes
    *      each bucket to its local top-`cap` — the mega-host's rows
    *      spread over `saltBuckets` tasks, and the survivor set is
    *      ≤ saltBuckets·cap rows per host regardless of corpus size;
    *   2. the global per-host window ranks only those survivors.
    * Phase 1 cannot evict a global top-`cap` row (a row in the global
    * top-`cap` is in the top-`cap` of its own bucket), so the
    * composition equals the single-window semantics exactly —
    * spec-asserted against the naive form.
    */
  def hostCap(docs: DataFrame, cap: Int, saltBuckets: Int = 16): DataFrame = {
    require(cap > 0, s"cap must be positive: $cap")
    require(saltBuckets > 0, s"saltBuckets must be positive: $saltBuckets")
    import org.apache.spark.sql.expressions.Window
    val order = Seq(col("n_tokens").desc, col("doc_id").asc)
    val local = Window
      .partitionBy(col("host"), pmod(col("doc_id"), lit(saltBuckets.toLong)))
      .orderBy(order: _*)
    val global = Window.partitionBy(col("host")).orderBy(order: _*)
    docs
      .withColumn("rn_local", row_number().over(local))
      .filter(col("rn_local") <= cap)
      .drop("rn_local")
      .withColumn("cap_rank", row_number().over(global).cast("long"))
      .filter(col("cap_rank") <= cap)
  }

  // -------------------------------------------------------------------
  // PII scrubbing (email redaction)
  // -------------------------------------------------------------------

  /** Email pattern shared with the oracle — character classes +
    * quantifiers only (no lookarounds/alternation), so Java regex and
    * RE2 produce identical matches.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Redact email addresses, count redactions. regexp_replace/
    * regexp_count are codegen'd Catalyst expressions — per-row work,
    * no UDF, no shuffle. The corpus carries no emails, so a
    * deterministic one is appended per doc (contact user<id>@…) to
    * make the redaction observable and oracle-checkable.
    */
  def piiScrub(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com for details"))
          .as("dirty"))
      .select(col("doc_id"),
        regexp_count(col("dirty"), lit(EmailPattern)).cast("long").as("n_redactions"),
        regexp_replace(col("dirty"), EmailPattern, "<EMAIL>").as("clean_text"))
      .orderBy("doc_id")

  // -------------------------------------------------------------------
  // Deterministic stratified sampling
  // -------------------------------------------------------------------

  /** Seed for the sampling hash (public: the oracle embeds it). */
  val SampleSeed = 0x5eedcafef00dL

  /** Per-stratum deterministic sampling: keep a doc iff
    * splitmix64(doc_id xor seed) mod 1000 (unsigned) < the stratum's
    * permille rate. Hash-threshold sampling is reproducible across
    * runs/engines and needs no state — the idiomatic replacement for
    * rand()-based sampling in a 100 TB pipeline (same doc set on every
    * rerun, no RNG seeds to thread through executors).
    */
  def stratifiedSample(docs: DataFrame,
                       ratesPermille: Map[String, Long] = Map("en" -> 500L),
                       defaultPermille: Long = 200L): DataFrame = {
    graft.functions.GraftExtensions.register(docs.sparkSession)
    val h = splitmixCol(col("doc_id").cast("long").bitwiseXOR(lit(SampleSeed)))
    val rate = ratesPermille.toSeq.sortBy(_._1)
      .foldLeft(lit(defaultPermille)) { case (acc, (l, r)) =>
        when(col("lang") === l, lit(r)).otherwise(acc)
      }
    docs.select(col("doc_id").cast("long").as("doc_id"), col("lang"))
      .filter(unsignedMod1000(h) < rate)
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------------
  // RAG chunking (overlapping sliding-window passages)
  // -------------------------------------------------------------------

  /** Chunk geometry (public: the chunk_overlap oracle embeds it).
    * Window of [[ChunkWords]] words advancing by [[ChunkStride]]
    * (overlap = 8 words), the retrieval-chunking default shape.
    */
  val ChunkWords = 32
  val ChunkStride = 24

  /** Overlapping sliding-window chunking — the passage splitter a
    * retrieval/RAG pipeline runs between extraction and embedding:
    * the doc's words (single-space normalized) are windowed into
    * `w`-word chunks every `s` words, the final partial window kept,
    * and each chunk carries its EXACT offsets into the normalized
    * text: `begin_word` (0-based word index) and `begin_char`
    * (0-based char index, the prefix fold of len(word)+1) — so a
    * serving layer can highlight the chunk in the source doc without
    * re-tokenizing. Offsets are the verified contract: the oracle
    * re-derives begin_char by a DIFFERENT route (length of the joined
    * prefix + 1) and the two derivations must agree byte-for-byte.
    *
    * Scale shape: ZERO shuffles — split/slice/aggregate are
    * codegen'd higher-order functions evaluated per input row, and
    * the chunk fan-out is the only row growth (bounded by
    * ceil(n_words/stride) per doc). At 100 TB this runs as a pure map
    * stage on the extraction output's existing partitioning.
    */
  def chunkOverlap(docs: DataFrame, w: Int = ChunkWords,
                   s: Int = ChunkStride): DataFrame = {
    require(w > 0 && s > 0 && s <= w, s"bad chunk geometry w=$w s=$s")
    docs
      .select(col("doc_id").cast("long").as("doc_id"),
        expr("filter(split(text, ' '), x -> x != '')").as("ws"))
      .withColumn("nw", size(col("ws")))
      .withColumn("nk",
        when(col("nw") <= w, lit(1))
          .otherwise(expr(s"(nw - $w + ${s - 1}) div $s") + 1)
          .cast("int"))
      .select(col("doc_id"), col("ws"),
        explode(expr("sequence(0, nk - 1)")).as("chunk_id"))
      .withColumn("cw", expr(s"slice(ws, chunk_id * $s + 1, $w)"))
      .select(
        col("doc_id"),
        col("chunk_id").cast("long").as("chunk_id"),
        (col("chunk_id") * s).cast("long").as("begin_word"),
        expr(s"aggregate(slice(ws, 1, chunk_id * $s), 0L, (acc, x) -> acc + length(x) + 1L)")
          .as("begin_char"),
        size(col("cw")).cast("long").as("n_words"),
        array_join(col("cw"), " ").as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  // -------------------------------------------------------------------
  // Quota sampling (exact-k per stratum)
  // -------------------------------------------------------------------

  /** Seed for the quota-sample ordering hash (public: oracle embeds
    * it). Distinct from [[SampleSeed]] so the two samplers draw
    * independent pseudo-random orders.
    */
  val QuotaSeed = 0x9b0a7a5eedL

  /** Per-stratum quota (public: the oracle embeds it). */
  val QuotaK = 40

  /** Exact-k-per-stratum deterministic sampling — the quota
    * counterpart of [[stratifiedSample]]'s rate sampler: every
    * stratum (lang) contributes its k smallest docs under the
    * splitmix64(doc_id xor seed) order, so the sample size per
    * stratum is EXACT (a mixture spec like "40 docs per language"),
    * reproducible across runs/engines, and independent of stratum
    * size. Signed-long hash order on both engines (the oracle orders
    * by the two's-complement view of the same hash).
    *
    * Scale shape: rank-within-stratum compiles to Spark's
    * WindowGroupLimit — each map task pre-selects its own top-k per
    * stratum BEFORE the shuffle (plan-asserted in ScaleOpsSpec), so
    * the exchange carries O(tasks × strata × k) rows, not the corpus;
    * a skewed stratum costs its partial top-k heaps, never a
    * stratum-wide sort spill.
    */
  def quotaSample(docs: DataFrame, k: Int = QuotaK): DataFrame = {
    graft.functions.GraftExtensions.register(docs.sparkSession)
    import org.apache.spark.sql.expressions.Window
    val h = splitmixCol(col("doc_id").cast("long").bitwiseXOR(lit(QuotaSeed)))
    val win = Window.partitionBy(col("lang"))
      .orderBy(col("hk").asc, col("doc_id").asc)
    docs.select(col("doc_id").cast("long").as("doc_id"), col("lang"))
      .withColumn("hk", h)
      .withColumn("smp_rank", row_number().over(win).cast("long"))
      .filter(col("smp_rank") <= k)
      .select(col("lang"), col("doc_id"), col("smp_rank"))
      .orderBy(col("lang"), col("doc_id"))
  }
}
