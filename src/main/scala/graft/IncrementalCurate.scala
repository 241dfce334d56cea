package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.TextOps
import graft.pipeline.ParquetTableIO

/** Incremental curation — the daily-drop form of [[CurateJob]]: a
  * 100 TB corpus is not re-curated from scratch per crawl drop; each
  * drop is deduplicated against a persisted STATE and only genuinely
  * new documents are admitted. Semantics are first-writer-wins: an
  * already-admitted canonical doc stays canonical forever; a new doc
  * that duplicates it (exactly, near, or transitively through other
  * new docs) is rejected. (Batch CurateJob keeps the component MIN id
  * instead — the two agree on WHICH content survives, not always on
  * which member represents it.)
  *
  * State layout under `stateDir` (all parquet, append-per-drop):
  *  - `urls/`      (url_hash BIGINT)          — xxhash64(url_norm) of
  *    every processed url; the idempotence key: re-ingesting a drop
  *    admits nothing. Hashes, not strings, by design: the table is
  *    read whole by every drop's anti-join, and 8-byte high-entropy
  *    values cut that scan+shuffle ~8x vs raw urls at 10^11-url
  *    state. The trade is hash-collision url loss — a genuinely new
  *    url whose hash matches ANY processed url is silently skipped:
  *    expected n^2/2^65 ≈ 270 docs across 10^11 processed urls,
  *    negligible against crawl noise (and url_hash == doc_id, which
  *    is already the corpus-wide identity key, so a collision here
  *    would collide canonical doc_ids anyway).
  *  - `canonical/` (doc_id, url_norm, text)   — the curated corpus
  *  - `shas/`      (text_sha, doc_id)         — exact-dup lookup
  *  - `bands/`     (doc_id, band, bucket)     — MinHash band slices
  *    of canonical docs (the same raw-slice convention as
  *    TextOps.dedupMinhashEdges, so lookups are candidate-equivalent
  *    to the batch operator)
  *
  * Per-drop cost is O(drop) on the doc side: every state interaction
  * is a key join (url_norm / text_sha / (band, bucket)) against
  * relations that carry ids+hashes only — canonical TEXT is read
  * exclusively for the Jaccard verify of the (small) candidate pair
  * set. All three state-table joins are additionally Bloom-prefiltered
  * on the DROP's keys (see [[prefilterState]]): the state scan still
  * reads its key column, but the join exchanges carry only true
  * matches + fpp×|state| false positives instead of the whole table —
  * the difference between ~8 GB and ~8 TB of urls shuffle per drop at
  * 10^12-url state. Hot state buckets are capped like the batch operator, with
  * the count window running over state bands RESTRICTED to the
  * drop's probed buckets — identical counts (the cap key equals the
  * join key, so probed buckets keep all their state rows) at
  * O(matched) sort cost instead of an O(state) shuffle-sort per
  * drop; a probed mega-bucket still pays its own scan, but never the
  * quadratic pair fan-out. New-vs-new duplicates inside a
  * drop cluster exactly as in CurateJob (exact + MinHash edges →
  * star components over the drop's OWN duplicate graph), and state
  * edges only taint: a component is admitted only if NO member links
  * to state, so new1 ~ new2 ~ old rejects BOTH new docs. This is the
  * verdict of components over drop + old ids together, because old
  * ids never equal drop ids (the urls anti-join; url_hash == doc_id)
  * and state holds no old–old edges: every drop-only piece of a
  * component that reaches an old id has a state edge of its own, and
  * an untainted component is the same doc set with the same root
  * either way (spec-pinned on random graphs). So new1 ~ old ~ new2
  * with no within-drop edge links both and admits neither. The state
  * edges and the per-doc component status are each evaluated ONCE per
  * drop (eager local checkpoints, both done before the first state
  * append): the taint, both report counts (one aggregate) and the
  * admitted set read those, so `shas/` and `bands/` are scanned once
  * per drop (spec-pinned). The drop's band relation is computed once
  * too; it probes the state bands and feeds the within-drop edges.
  *
  * Crash protocol: the four state appends commit AS A GROUP through
  * one [[graft.pipeline.ManifestLog]] list in `stateDir/_drops`,
  * written after all four appends finish, and ingest starts with
  * [[reconcileState]]. A crash anywhere mid-ingest therefore rolls the
  * WHOLE drop back (the urls key was part of the uncommitted group, so
  * the re-ingest re-processes the drop from scratch); a crash after
  * the commit leaves the re-ingest a no-op through the urls anti-join.
  *
  * Staging note (correctness, not style): `admitted`'s lineage READS
  * every state dir (urls anti-join, sha join, band probe, canonical
  * texts for the Jaccard verify), and each state append fires Spark's
  * recacheByPath invalidation on the dirs it writes — so a persisted
  * `admitted` is recomputed mid-append-sequence against PARTIALLY
  * updated state, where each doc exact-matches its own just-appended
  * sha and the whole drop self-taints to empty (the bands append
  * silently wrote 0 rows for every drop after the first — caught by
  * a multi-drop planted-dup accounting; IncrementalCurateSpec "drop
  * k+2 dedups against content ADMITTED in drop k+1" pins it). The fix is
  * to materialize `admitted` to a scratch parquet once and derive all
  * state appends from the staged read-back, whose plan reads no state
  * path. The eager checkpoints of the state edges and the per-doc
  * status (see "Per-drop cost") cut the sha/band/canonical lineage
  * too, which is why both must land before the first append; the
  * urls lineage (through `newDocs`) remains, so the staging stays.
  *
  * CLI: spark-submit --class graft.IncrementalCurate app.jar <dropPath> <stateDir>
  */
object IncrementalCurate {

  final case class DropReport(
      nDrop: Long, nNewUrls: Long, nGated: Long,
      nStateLinked: Long, nAdmitted: Long, nCanonicalTotal: Long)

  private def urlsDir(s: String) = s"$s/urls"
  private def canonicalDir(s: String) = s"$s/canonical"
  private def shasDir(s: String) = s"$s/shas"
  private def bandsDir(s: String) = s"$s/bands"

  // fixed schemas of the state tables this job writes: a read with a
  // given schema skips the footer-sampling schema-inference job
  private val UrlsSchema = "url_hash BIGINT"
  private val CanonicalSchema = "doc_id BIGINT, url_norm STRING, text STRING"
  private val ShasSchema = "text_sha STRING, doc_id BIGINT"
  private val BandsSchema = "doc_id BIGINT, band INT, bucket ARRAY<BIGINT>"

  private def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The drop log (`stateDir/_drops`, a [[graft.pipeline.ManifestLog]]
    * over the four state tables): the single publish point for one
    * drop's four appends. See the crash protocol in the object scaladoc.
    */
  private def stateLog(spark: SparkSession, stateDir: String) =
    graft.pipeline.ManifestLog(spark, stateDir, "_drops",
      Seq("urls", "canonical", "shas", "bands"))

  /** Roll back any half-committed drop: delete state data files no
    * drop list names (plus stale `_staging` scratch), genesis-adopting
    * legacy state. Returns the deleted `table/filename` entries.
    */
  def reconcileState(spark: SparkSession, stateDir: String): Seq[String] = {
    val staging = new Path(s"$stateDir/_staging")
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(staging)) fs.delete(staging, true)
    stateLog(spark, stateDir).reconcile()
  }

  /** State-side Bloom prefilter for the per-drop joins: a sketch over
    * the DROP's join keys (~14 bits/key at fpp=1e-3 — drop-sized, so
    * ~180 MB for a 10^8-url drop) filters the state scan INSIDE
    * whole-stage codegen before the confirm join, so only true matches
    * + fpp×|state| rows reach the exchange instead of the whole table
    * (a 10^12-row urls state is ~8 TB of shuffle per drop without it;
    * ~8 GB of false positives with it). Exactness: the sketch has no
    * false negatives, so every true match still reaches the downstream
    * anti/semi/equi join; false positives are non-matching state rows
    * that join drops — results are row-identical (A/B-asserted in
    * IncrementalCurateSpec). The hot-bucket cap window stays correct
    * too: every state row of a PROBED (band, bucket) has its key in
    * the sketch by construction, so probed buckets keep all their rows
    * and per-bucket counts are unchanged.
    *
    * Returns state unfiltered when the projected sketch exceeds
    * `maxBytes` — the bits ride the task binary, so an unbounded drop
    * must not inflate the plan (the joins are already correct without
    * the prefilter, just state-scan-bound).
    */
  private[graft] def prefilterState(state: DataFrame, probeKey: org.apache.spark.sql.Column,
                                    dropKeys: DataFrame, n: Long,
                                    fpp: Double, maxBytes: Long): DataFrame = {
    val ln2 = math.log(2)
    val projBytes = (-math.max(n, 1L) * math.log(fpp) / (ln2 * ln2)).toLong / 8 + 1
    if (n <= 0 || maxBytes <= 0 || projBytes > maxBytes) state
    else {
      val bits = TextOps.bloomBitsOf(dropKeys, dropKeys.columns.head, n, fpp)
      state.filter(call_function("bloom_might_contain", probeKey, lit(bits)))
    }
  }

  /** Rows of the committed canonical files (every file of legacy
    * log-less state), summed from their parquet footers on the driver:
    * no Spark job and no data read.
    */
  private def canonicalRows(spark: SparkSession, stateDir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    stateLog(spark, stateDir).committedFiles("canonical").map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(f), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Per-doc (doc_id, admit, linked) from component labels (doc_id,
    * label) and the ids that have a state edge: a component is tainted
    * iff one of its docs has one; linked = the doc's component is
    * tainted; admit = the doc is the root of an untainted component.
    */
  private[graft] def componentStatus(labels: DataFrame, stateLinked: DataFrame): DataFrame = {
    val tainted = labels.join(stateLinked.distinct(), Seq("doc_id"))
      .select(col("label")).distinct()
    labels
      .join(tainted.withColumn("tainted", lit(true)), Seq("label"), "left")
      .select(col("doc_id"),
        (col("doc_id") === col("label") && col("tainted").isNull).as("admit"),
        col("tainted").isNotNull.as("linked"))
  }

  private def append(df: DataFrame, dir: String): Unit =
    df.write.mode(SaveMode.Append).options(ParquetTableIO.WriteOptions)
      .parquet(dir)

  /** @param lexIndexDir when set, the drop's ADMITTED docs are
    *   appended to the lexical serving index there (ops/SearchIndex;
    *   built on first use) — the freshness leg of the incremental
    *   lifecycle: a curation deployment serves retrieval from the same
    *   state it admits into. The append runs AFTER the drop's manifest
    *   commit: a crash in between leaves the index BEHIND state (one
    *   drop missing — detectable via [[lexStaleness]], recoverable via
    *   [[rebuildLexIndex]]), never double-appended (the reverse order
    *   would re-append the whole drop after a state rollback+replay).
    *   Disjoint-ids contract holds by construction: doc_id =
    *   xxhash64(url_norm) and first-writer-wins admission means a
    *   url_norm is admitted at most once across all drops.
    * @param annIndexDir when set, the drop's ADMITTED docs are embedded
    *   (EmbedJob.embedDocs keyed by doc_id — the funnel's id space) and
    *   appended to every committed leg of the ANN serving index there
    *   (AnnIndex.appendEveryLeg; an LSH build over the full canonical
    *   set on first use) — the VECTOR
    *   twin of the lexical freshness leg. Same crash contract: the
    *   append runs AFTER the drop's manifest commit, so a crash in
    *   between leaves the index BEHIND state (surfaced by
    *   [[annStaleness]], recovered by [[rebuildAnnIndex]]) and a
    *   replayed drop never double-appends (first-writer-wins admission
    *   re-admits 0 docs); AnnIndex's own `_annlog` protocol keeps a
    *   crashed append's partial files invisible to serving meanwhile.
    */
  def ingestDrop(
      spark: SparkSession,
      dropPath: String,
      stateDir: String,
      minTokens: Long = 5L,
      dupFactor: Long = 2L,
      minJaccardMilli: Long = 700L,
      maxBucket: Int = 4096,
      prefilterFpp: Double = 0.001,
      prefilterMaxBytes: Long = 256L << 20,
      lexIndexDir: Option[String] = None,
      annIndexDir: Option[String] = None
  ): DropReport =
    ingestDropDf(spark, spark.read.parquet(dropPath), stateDir, minTokens,
      dupFactor, minJaccardMilli, maxBucket, prefilterFpp, prefilterMaxBytes,
      lexIndexDir, annIndexDir)

  /** [[ingestDrop]] over an already-constructed drop relation — the
    * seam the commit-log CDC source ([[ingestFromCommits]]) feeds.
    */
  def ingestDropDf(
      spark: SparkSession,
      dropDf: org.apache.spark.sql.DataFrame,
      stateDir: String,
      minTokens: Long = 5L,
      dupFactor: Long = 2L,
      minJaccardMilli: Long = 700L,
      maxBucket: Int = 4096,
      prefilterFpp: Double = 0.001,
      prefilterMaxBytes: Long = 256L << 20,
      lexIndexDir: Option[String] = None,
      annIndexDir: Option[String] = None
  ): DropReport = {
    import spark.implicits._
    graft.functions.GraftExtensions.register(spark)
    reconcileState(spark, stateDir)
    val log = stateLog(spark, stateDir)
    // gate on DATA files, not dir existence: a rolled-back first drop
    // leaves empty table dirs behind (reading one would fail schema
    // inference). canonical/shas/bands commit as one group, so the
    // canonical gate covers all three; urls commits in the same group
    // but can be non-empty while canonical is empty (an all-rejected
    // drop still records its urls), hence its own gate.
    val hasState = log.dataEntries("canonical").nonEmpty
    val hasUrls = log.dataEntries("urls").nonEmpty

    val drop = dropDf.select(col("url"), col("text"))
    val nDrop = drop.count()

    // within-drop url dedup (CurateJob's deterministic revisit rule).
    // urlNormed is factored out pre-window so the Bloom build below
    // scans urls only (text pruned, no window re-execution) — the
    // row-number dedup doesn't change the url_norm key SET.
    val urlNormed = TextOps.withUrlNorm(drop.withColumnRenamed("url", "url_messy"))
      .select(xxhash64(col("url_norm")).as("doc_id"), col("url_norm"), col("text"))
    val normed = urlNormed
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("url_norm")).orderBy(sha2(col("text"), 256))))
      .filter(col("rn") === 1).drop("rn")
    // quality + repetition gate — the same integer-exact rules — as a
    // flag on the new docs, so one aggregate counts both the new urls
    // and the gated docs
    val words = split(col("text"), " ")
    val nTokens = size(words).cast("long")
    val nPunct =
      (length(col("text")) - length(translate(col("text"), TextOps.PunctChars, ""))).cast("long")
    val pass = nTokens >= minTokens && TextOps.keepPunct(col("text"), nPunct) &&
      TextOps.keepNonRepetitive(size(array_distinct(words)).cast("long"), nTokens, dupFactor)
    // idempotence gate: urls the state has already processed are done.
    // The join key is url_hash == doc_id (both xxhash64(url_norm)).
    // The state side is Bloom-prefiltered on the drop's url hashes (see
    // prefilterState) so the anti-join's state exchange is
    // O(drop + fpp*state), not O(state).
    val newDocs = (if (hasUrls) {
        val urlHashes = spark.read.schema(UrlsSchema).parquet(urlsDir(stateDir))
        val probed = prefilterState(urlHashes, col("url_hash"),
          urlNormed.select(col("doc_id")), nDrop, prefilterFpp, prefilterMaxBytes)
        normed.join(probed, normed("doc_id") === probed("url_hash"), "left_anti")
      } else normed).withColumn("pass", pass).persist()
    val newCounts = newDocs.agg(count(lit(1)), count(when(col("pass"), 1))).head()
    val (nNewUrls, nGated) = (newCounts.getLong(0), newCounts.getLong(1))
    val gated = newDocs.filter(col("pass"))
      .select(col("doc_id"), col("url_norm"), col("text"))
      .persist()
    // the drop's band relation, computed once: it probes the state
    // bands and feeds the within-drop MinHash edges
    val dropBands = TextOps.bandRelation(gated, "doc_id").persist()

    // ---- edges to STATE: exact (sha join) + near (band-bucket join,
    // Jaccard-verified on the candidate pairs only)
    val oldEdges: DataFrame = if (!hasState)
      Seq.empty[(Long, Long)].toDF("doc_id", "old_id")
    else {
      val stateShas = prefilterState(
        spark.read.schema(ShasSchema).parquet(shasDir(stateDir))
          .select(col("text_sha"), col("doc_id").as("old_id")),
        xxhash64(col("text_sha")),
        gated.select(xxhash64(sha2(col("text"), 256)).as("k")),
        nGated, prefilterFpp, prefilterMaxBytes)
      val exactOld = gated
        .select(col("doc_id"), sha2(col("text"), 256).as("text_sha"))
        .join(stateShas, Seq("text_sha"))
        .select(col("doc_id"), col("old_id"))
      // bands prefilter keys on xxhash64(band, bucket) — identical
      // IntegerType/ArrayType(LongType) inputs on both sides, so the
      // hash agrees; the left_semi below stays the exact confirm
      val stateBands = prefilterState(
        spark.read.schema(BandsSchema).parquet(bandsDir(stateDir))
          .select(col("doc_id").as("old_id"), col("band"), col("bucket")),
        xxhash64(col("band"), col("bucket")),
        dropBands.select(xxhash64(col("band"), col("bucket")).as("k")),
        nGated * TextOps.Bands, prefilterFpp, prefilterMaxBytes)
      // Restrict state bands to the drop's probed buckets FIRST: the
      // cap key equals the join key, so every state row of a probed
      // bucket survives the restriction and per-bucket counts are
      // identical to counts over the full state — but the window sort
      // now runs over O(matched) rows, not O(state). (The restricted
      // window's (band, bucket) partitioning is then reused by the
      // candidate equi-join — one state-side exchange, no full-state
      // sort.)
      val probedState = stateBands.join(
        dropBands.select(col("band"), col("bucket")).distinct(),
        Seq("band", "bucket"), "left_semi")
      // hot-bucket cap, same rule as the batch operator
      val wb = Window.partitionBy(col("band"), col("bucket"))
      val boundedState = probedState
        .withColumn("cnt", count(lit(1)).over(wb))
        .filter(col("cnt") <= maxBucket).drop("cnt")
      val nearCand = dropBands
        .join(boundedState, Seq("band", "bucket"))
        .select(col("doc_id"), col("old_id")).distinct()
      val oldTexts = spark.read.schema(CanonicalSchema).parquet(canonicalDir(stateDir))
        .select(col("doc_id").as("old_id"), col("text").as("text_old"))
      val verified = nearCand
        .join(gated.select(col("doc_id"), col("text").as("text_new")), Seq("doc_id"))
        .join(oldTexts, Seq("old_id"))
        .select(col("doc_id"), col("old_id"), col("text_new"), col("text_old"))
        .as[(Long, Long, String, String)]
        .mapPartitions(_.flatMap { case (d, o, tn, to) =>
          if (math.floor(TextOps.exactJaccard(tn, to) * 1000.0).toLong >= minJaccardMilli)
            Iterator.single((d, o))
          else Iterator.empty
        })
        .toDF("doc_id", "old_id")
      // eager: the state probes are evaluated once, and land before the
      // first state append (see the staging note)
      exactOld.unionByName(verified).localCheckpoint()
    }

    // ---- components over the drop's OWN duplicate graph; state links
    // only taint. A component is tainted iff one of its drop docs has a
    // state edge — the same verdict as components over drop + old ids
    // (see the transitivity note in the scaladoc)
    val withinEdges = TextOps.exactDupEdges(gated)
      .unionByName(TextOps.minhashEdgesFromBands(dropBands, gated,
        minJaccardMilli, maxBucket).select(col("doc_a"), col("doc_b")))
    val labels = TextOps.connectedComponentsStar(gated.select(col("doc_id")), withinEdges)
    // one row per gated doc (doc_id = xxhash64 of the url_norm that
    // `normed` made unique). Materialized eagerly, like oldEdges, so the
    // counts and `admitted` evaluate the components once, before the
    // first append.
    val status = componentStatus(labels, oldEdges.select(col("doc_id"))).localCheckpoint()
    val counts = status
      .agg(count(when(col("admit"), 1)), count(when(col("linked"), 1))).head()
    val (nAdmitted, nStateLinked) = (counts.getLong(0), counts.getLong(1))
    val admitted = gated.join(status.filter(col("admit")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")

    // ---- state appends: admitted docs + their lookup keys; ALL newly
    // processed urls (even gated/rejected ones are "done"). Stage the
    // admitted set FIRST (see the staging note in the scaladoc: the
    // appends invalidate the cached plan, which otherwise recomputes
    // against half-updated state and self-taints to empty).
    val staging = s"$stateDir/_staging"
    admitted.select(col("doc_id"), col("url_norm"), col("text"))
      .write.mode(SaveMode.Overwrite).options(ParquetTableIO.WriteOptions)
      .parquet(staging)
    val staged = spark.read.schema(CanonicalSchema).parquet(staging)
    // the drop's single commit point: one list naming every file the
    // four appends added (a crash before it lands = full rollback at
    // the next ingest's reconcileState)
    log.commitAdded() {
      append(staged, canonicalDir(stateDir))
      append(staged.select(sha2(col("text"), 256).as("text_sha"), col("doc_id")),
        shasDir(stateDir))
      append(TextOps.bandRelation(staged, "doc_id"), bandsDir(stateDir))
      append(newDocs.select(col("doc_id").as("url_hash")), urlsDir(stateDir))
    }
    val nTotal = canonicalRows(spark, stateDir)
    // serving-index freshness leg — AFTER the commit point (see the
    // param doc: behind-by-one-drop on crash, never double-appended);
    // derives from the staged read-back, so its plan reads no state
    // path the appends above invalidated
    // build-vs-append gates need canonical ROWS (nTotal), not just
    // files: an all-rejected first drop commits EMPTY canonical part
    // files, and building an index over zero docs fails loudly AFTER
    // the drop committed (caught by a CLI smoke with an all-repetitive
    // drop)
    lexIndexDir.foreach { idx =>
      if (graft.ops.SearchIndex.hasCommittedIndex(spark, idx))
        graft.ops.SearchIndex.append(spark, staged.select(col("doc_id"), col("text")), idx)
      else if (nTotal > 0)
        // no committed index: first drop, a crashed build, or a fresh
        // index dir pointed at existing state — build over the FULL
        // canonical set (it already includes this drop's admissions),
        // so a committed-drop REPLAY repairs a crashed build instead of
        // skipping on nAdmitted == 0
        graft.ops.SearchIndex.build(spark,
          spark.read.parquet(canonicalDir(stateDir)).select(col("doc_id"), col("text")), idx)
    }
    // vector-index freshness leg — same position and crash contract as
    // the lexical leg above; embeddings derive from the staged
    // read-back through the ONE embedding kernel (EmbedJob.embedDocs),
    // so the appended vectors are bit-identical to a batch re-embed
    annIndexDir.foreach { idx =>
      def embed(docs: DataFrame) =
        graft.EmbedJob.embedDocs(spark, docs.select(col("doc_id"), col("text")))
      // every committed leg gets the admitted docs (an all-rejected drop
      // or a committed-drop REPLAY admits none, so nothing is appended);
      // no committed leg — first drop, a crashed build, or a fresh index
      // dir pointed at existing state — builds LSH over the FULL
      // canonical set (the lexical leg's repair-on-replay shape)
      graft.ops.AnnIndex.appendEveryLeg(spark, embed(staged), idx)(
        embed(spark.read.parquet(canonicalDir(stateDir))))
    }
    new Path(staging).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new Path(staging), true)

    gated.unpersist(); newDocs.unpersist(); dropBands.unpersist()
    TextOps.releaseCheckpoint(oldEdges); TextOps.releaseCheckpoint(status)
    DropReport(nDrop, nNewUrls, nGated, nStateLinked, nAdmitted, nTotal)
  }

  /** Compact the per-drop small files the state dirs accumulate: each
    * ingest appends a handful of files to all four state tables, and
    * after a year of daily drops every state probe is file-open-bound
    * exactly like the output table [[CompactJob]] exists for. Reuses
    * CompactJob's digest-verified atomic swap per table, clustered on
    * each table's own probe key (so compacted files group the rows a
    * lookup touches together). Ingest results are unchanged — the
    * tables are verified row- and digest-identical — and the spec
    * replays planted duplicates across a compaction to prove it.
    * Single-writer discipline: don't compact while a drop is
    * ingesting.
    *
    * The `_drops` log names the files the swap replaces, so the
    * compaction runs under [[graft.pipeline.ManifestLog.reset]], which
    * first reconciles a crashed drop's debris away (the swap would
    * otherwise carry it into the re-adopted genesis).
    */
  def compactState(spark: SparkSession, stateDir: String,
                   targetFileBytes: Long = 128L * 1024 * 1024)
      : Seq[(String, CompactJob.CompactReport)] = stateLog(spark, stateDir).reset {
    Seq(
      ("urls", "url_hash", urlsDir(stateDir)),
      ("canonical", "doc_id", canonicalDir(stateDir)),
      ("shas", "text_sha", shasDir(stateDir)),
      ("bands", "doc_id", bandsDir(stateDir)))
      .filter { case (_, _, dir) => exists(spark, dir) }
      .map { case (name, key, dir) =>
        name -> CompactJob.run(spark, dir, targetFileBytes, clusterKey = key)
      }
  }

  // ---- commit-log CDC source: the daily "drop" is whatever commits
  // the upstream extracted table gained since this state last looked.

  private def cdcPath(s: String) = s"$s/_cdc/seq"

  /** The (commit-log id, last seq) checkpoint; ("", -1) before the first. */
  private def readCdcCheckpoint(spark: SparkSession, stateDir: String): (String, Long) =
    graft.pipeline.ManifestLog.readValue(spark, cdcPath(stateDir))
      .map(_.linesIterator.toList).fold(("", -1L)) { lines =>
        (lines.headOption.getOrElse(""), lines.lift(1).map(_.toLong).getOrElse(-1L))
      }

  /** CDC-driven ingest: treat a commit-logged append-only table (an
    * ExtractJob output) as the drop SOURCE — process exactly the
    * commits this state has not yet seen
    * (ParquetTableIO.readChanges(lastSeq, latest]), no diff join, no
    * full-table rescan. The (commit-log id, last seq) checkpoint is
    * written AFTER the drop's manifest commit, so crash semantics
    * compose with the drop-atomic protocol into exactly-once EFFECT:
    *  - crash before the drop commit → reconcile rolls the half-drop
    *    back, checkpoint unchanged, the re-run replays the same delta;
    *  - crash after the drop commit but before the checkpoint → the
    *    re-run replays a delta whose urls are all known (admits 0)
    *    and then advances the checkpoint.
    * A commit-log RESET (CompactJob/DeleteJob swap collapses history
    * to a fresh genesis) is detected by the stored log id: the
    * consumer falls back to one idempotent full replay rather than
    * silently skipping post-reset commits.
    *
    * Returns None when there is nothing new.
    */
  def ingestFromCommits(
      spark: SparkSession,
      tablePath: String,
      stateDir: String,
      lexIndexDir: Option[String] = None,
      annIndexDir: Option[String] = None
  ): Option[(Long, DropReport)] = {
    val hist = ParquetTableIO.commitHistory(spark, tablePath)
    if (hist.isEmpty) return None
    val logId = ParquetTableIO.commitLogId(spark, tablePath)
    val (seenId, seenSeq0) = readCdcCheckpoint(spark, stateDir)
    val seenSeq = if (seenId == logId) seenSeq0 else -1L
    val latest = hist.last._1
    if (latest <= seenSeq) return None
    val delta = ParquetTableIO.readChanges(spark, tablePath, seenSeq, latest)
    val r = ingestDropDf(spark, delta, stateDir,
      lexIndexDir = lexIndexDir, annIndexDir = annIndexDir)
    graft.pipeline.ManifestLog.writeValue(spark, cdcPath(stateDir), s"$logId\n$latest\n")
    Some((latest, r))
  }

  /** Right-to-be-forgotten at the curation layer: remove the victims'
    * canonical rows (and their MinHash band slices) while RETAINING
    * the urls and shas state — retention is deliberate: a forgotten
    * document must NOT resurrect on the next crawl revisit (url gate)
    * or via a byte-identical mirror under a new url (sha gate). What
    * is retained is hashes only (url_hash, text_sha), never content.
    * Band slices are dropped because near-dup verification reads
    * canonical TEXT, which is gone by design — near-duplicates of
    * forgotten docs degrade to the exact/sha gate (the honest trade:
    * one cannot verify against text one was required to delete;
    * spec-pinned as the contract).
    *
    * Protocol: reconcile debris, then DeleteJob the canonical and
    * bands tables on doc_id under [[graft.pipeline.ManifestLog.reset]]
    * (the `_drops` lists name files the targeted rewrites replace).
    * Every crash point genesis-adopts a consistent state: canonical-purged-but-
    * bands-present only degrades near-dup candidates (they drop at
    * the text join), and a re-run of the same forget is a no-op.
    * Serving-index tombstone deletes (lex + ANN, both keyed by the
    * funnel's doc_id) run AFTER the state mutation under a
    * victim-set-derived mutation id — idempotent across re-runs, and
    * staleness stays 0 because canonical shrank by the same ids.
    * Returns the number of canonical docs removed.
    */
  def forget(
      spark: SparkSession,
      urls: DataFrame,
      stateDir: String,
      lexIndexDir: Option[String] = None,
      annIndexDir: Option[String] = None
  ): Long = {
    reconcileState(spark, stateDir)
    val victims = TextOps.withUrlNorm(
        urls.select(col("url").as("url_messy")))
      .select(xxhash64(col("url_norm")).as("doc_id")).distinct()
    // present count from the pre-mutation canonical (victims' lineage
    // reads only the caller relation — never the tables being rewritten)
    val stats = spark.read.parquet(canonicalDir(stateDir))
      .join(victims, Seq("doc_id"), "left_semi")
      .agg(count(lit(1)), expr("bit_xor(doc_id)")).collect()(0)
    val nForget = stats.getLong(0)
    val mid =
      if (nForget == 0L) None
      else Some(f"forget-${stats.getLong(1)}%016x-$nForget")

    if (nForget > 0L) stateLog(spark, stateDir).reset {
      DeleteJob.run(spark, canonicalDir(stateDir), victims, keyCol = "doc_id")
      if (exists(spark, bandsDir(stateDir)))
        DeleteJob.run(spark, bandsDir(stateDir), victims, keyCol = "doc_id")
    }
    // index deletes run even when canonical had nothing left to remove:
    // a forget that crashed between the state commit and the index
    // side completes on re-run (the deletes are no-ops once applied)
    lexIndexDir.foreach(idx =>
      graft.ops.SearchIndex.delete(spark, victims, idx, mid))
    annIndexDir.foreach(idx =>
      graft.ops.AnnIndex.delete(spark,
        victims.select(col("doc_id").as("vec_id")), idx, mid))
    nForget
  }

  /** Docs the lexical serving index is BEHIND the curated state (0 =
    * fresh): canonical rows minus indexed n_docs. Nonzero only after a
    * crash between a drop's state commit and its index append — the
    * recovery signal for [[rebuildLexIndex]]. (Never negative in a
    * healthy lifecycle: admissions are index-append-or-crash, and the
    * index never indexes a doc state doesn't have.)
    */
  def lexStaleness(spark: SparkSession, stateDir: String,
                   lexIndexDir: String): Long =
    canonicalRows(spark, stateDir) - graft.ops.SearchIndex.indexedDocs(spark, lexIndexDir)

  /** Rebuild the lexical serving index from the curated state — the
    * recovery path when [[lexStaleness]] is nonzero (exact appends
    * mean the rebuilt index is bit-identical to the never-crashed
    * append chain over the same canonical set; spec-asserted).
    */
  def rebuildLexIndex(spark: SparkSession, stateDir: String,
                      lexIndexDir: String): Unit =
    graft.ops.SearchIndex.build(spark,
      spark.read.parquet(canonicalDir(stateDir)).select(col("doc_id"), col("text")),
      lexIndexDir)

  /** Docs the ANN serving index is BEHIND the curated state (0 =
    * fresh) — the vector twin of [[lexStaleness]]: canonical rows
    * minus indexed vector count. Nonzero only after a crash between a
    * drop's state commit and its index append.
    */
  def annStaleness(spark: SparkSession, stateDir: String,
                   annIndexDir: String): Long =
    canonicalRows(spark, stateDir) - graft.ops.AnnIndex.indexedVectors(spark, annIndexDir)

  /** Rebuild the ANN serving index from the curated state — the
    * recovery path when [[annStaleness]] is nonzero (LSH appends are
    * exact, so the rebuilt index serves bit-identically to the
    * never-crashed append chain over the same canonical set;
    * spec-asserted).
    */
  def rebuildAnnIndex(spark: SparkSession, stateDir: String,
                      annIndexDir: String): Unit =
    graft.ops.AnnIndex.buildLsh(spark,
      graft.EmbedJob.embedDocs(spark,
        spark.read.parquet(canonicalDir(stateDir))
          .select(col("doc_id"), col("text"))),
      annIndexDir)

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: graft.IncrementalCurate <dropPath> <stateDir> [lexIndexDir] " +
          "[annIndexDir] | --compact <stateDir> " +
          "| --forget <stateDir> <urlsParquet> [lexIndexDir] [annIndexDir] " +
          "| --from-commits <tablePath> <stateDir> [lexIndexDir] [annIndexDir]")
      sys.exit(2)
    }
    val spark = GraftSession()
    if (args(0) == "--forget") {
      require(args.length >= 3, "--forget needs <stateDir> <urlsParquet>")
      val n = forget(spark, spark.read.parquet(args(2)), args(1),
        lexIndexDir = args.lift(3), annIndexDir = args.lift(4))
      println(s"""{"n_forgotten":$n}""")
      spark.stop()
      return
    }
    if (args(0) == "--from-commits") {
      require(args.length >= 3, "--from-commits needs <tablePath> <stateDir>")
      ingestFromCommits(spark, args(1), args(2),
        lexIndexDir = args.lift(3), annIndexDir = args.lift(4)) match {
        case None =>
          println("""{"cdc":"up-to-date"}""")
        case Some((seq, r)) =>
          println(
            s"""{"cdc_seq":$seq,"n_drop":${r.nDrop},"n_new_urls":${r.nNewUrls},""" +
            s""""n_gated":${r.nGated},"n_state_linked":${r.nStateLinked},""" +
            s""""n_admitted":${r.nAdmitted},"n_canonical_total":${r.nCanonicalTotal}}""")
      }
      spark.stop()
      return
    }
    if (args(0) == "--compact") {
      val reports = compactState(spark, args(1))
      println(reports.map { case (name, r) =>
        s""""$name":{"rows":${r.rows},"files_before":${r.filesBefore},""" +
        s""""files_after":${r.filesAfter},"digest":${r.digest}}"""
      }.mkString("{", ",", "}"))
    } else {
      val lexIdx = args.lift(2)
      val annIdx = args.lift(3)
      val r = ingestDrop(spark, args(0), args(1), lexIndexDir = lexIdx,
        annIndexDir = annIdx)
      val lexJson = lexIdx.map(idx =>
        s""","lex_staleness":${lexStaleness(spark, args(1), idx)}""").getOrElse("")
      val annJson = annIdx.map(idx =>
        s""","ann_staleness":${annStaleness(spark, args(1), idx)}""").getOrElse("")
      println(
        s"""{"n_drop":${r.nDrop},"n_new_urls":${r.nNewUrls},"n_gated":${r.nGated},""" +
        s""""n_state_linked":${r.nStateLinked},"n_admitted":${r.nAdmitted},""" +
        s""""n_canonical_total":${r.nCanonicalTotal}$lexJson$annJson}""")
    }
    spark.stop()
  }
}
