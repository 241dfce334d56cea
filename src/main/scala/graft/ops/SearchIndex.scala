package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Lexical (inverted) index materialization — the build/serve split
  * for BM25 retrieval, mirroring ops/AnnIndex's lifecycle: at corpus
  * scale the tokenize+postings aggregation is the expensive OFFLINE
  * job (one full pass over text), and serving must answer request
  * batches from STORED postings without ever rescanning the corpus.
  *
  * Artifacts under `indexDir`:
  *  - `postings`  — (doc_id, dl, term, tf), clustered by term hash and
  *    term-sorted within files, so a small request batch's literal
  *    `term IN (...)` predicate pushes into the parquet scan and
  *    prunes row groups by min/max stats (serve reads a sliver of the
  *    index, not all of it). Dictionary encoding stays ON here —
  *    unlike urls/text (near-unique, see BENCH.md), terms repeat
  *    massively and dictionary-encode well.
  *  - `lex_meta`  — append-only (n_docs, sum_dl) DELTA rows, one per
  *    build/append; readers SUM them. Deltas make the meta leg
  *    append-only like the postings leg, so one commit manifest can
  *    cover both (below) — the overwrite-a-stats-row design had an
  *    unfixable crash window between the two writes.
  *  - `_lexlog/`  — the [[graft.pipeline.ManifestLog]] every mutation
  *    commits through (one list per mutation, optionally under a
  *    caller mutation id). Writers reconcile at entry; READERS read
  *    only committed files, so a crashed append is invisible to
  *    serving even before the next writer cleans it up.
  *
  * Serving composes the SAME scoring kernel as the in-memory search
  * (SearchOps.bm25From), so a served result is bit-identical to
  * bm25Search over the same corpus — bm25_serve is checked against the
  * very same DuckDB mirror as bm25_search.
  *
  * Appends are EXACT: postings rows are per-document independent and
  * the meta stats are associative sums, so append-then-serve equals a
  * full rebuild over the union (stronger than PQ's frozen-codebook
  * trade; spec-asserted). Single-writer discipline: one build/append/
  * compact at a time (serves are safe concurrent readers).
  */
object SearchIndex {

  /** Max distinct terms inlined as a pushdown-able IN literal; larger
    * (still bounded) batches gate via a broadcast semi-join instead —
    * identical results, no row-group pruning.
    */
  val TermPushdownLimit = 1024

  private def postingsDir(indexDir: String) = s"$indexDir/postings"
  private def metaDir(indexDir: String) = s"$indexDir/lex_meta"
  private def positionsDir(indexDir: String) = s"$indexDir/positions"

  /** Commit log, committed reads, tombstones (`deleted_docs`, keyed by
    * doc_id) and compaction — the maintenance shared with AnnIndex.
    */
  private val Store = new StoredIndex("_lexlog",
    Seq("postings", "lex_meta", "positions", "deleted_docs"), "deleted_docs", "doc_id")

  /** Bounded salt for the postings clustering: a Zipf-hot term's
    * posting list is O(corpus) rows — hashing on term alone would sink
    * it all into ONE straggler task/file (the skew class CLAUDE.md's
    * uniform url-hash rule exists to avoid). Salting by doc_id mod 16
    * bounds a term's spread to 16 partitions/files: build and compact
    * stay balanced, while the serve-time IN predicate still prunes to
    * at most 16 term-sorted slivers per term. The salt persists as a
    * postings column so compaction can re-cluster on (term, salt).
    */
  private[graft] val SaltBuckets = 16

  /** (term, salt)-hash clustering + in-file term sort: bounded-skew
    * co-location with parquet row-group min/max stats the serve-time
    * IN predicate can prune on.
    */
  private def clustered(postings: DataFrame): DataFrame = postings
    .withColumn("salt", pmod(xxhash64(col("doc_id")), lit(SaltBuckets)).cast("int"))
    .repartition(xxhash64(col("term"), col("salt")))
    .sortWithinPartitions("term", "doc_id")

  private def write(df: DataFrame, dir: String, mode: SaveMode): Unit =
    df.write.mode(mode).option("compression", "zstd").parquet(dir)

  /** The one null-text rule of both entry points ([[build]] and
    * [[append]]), applied before anything is written: a doc without
    * text yields no postings, so it is not indexed and not counted in
    * n_docs. A corpus of only such docs is empty: build fails loud,
    * append is a no-op.
    */
  private def indexable(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)

  /** Writer-side rollback of a crashed mutation (see
    * [[graft.pipeline.ManifestLog.reconcile]]). Returns the deleted
    * entries.
    */
  def reconcile(spark: SparkSession, indexDir: String): Seq[String] =
    Store.log(spark, indexDir).reconcile()

  // ---- build / append / serve ----------------------------------------

  /** Materialize the inverted index: one tokenize+aggregate pass for
    * the postings, one scalar pass for the stats. Overwrites any
    * existing index at `indexDir` (rebuilds are idempotent at the
    * overwrite level) and commits through
    * [[graft.pipeline.ManifestLog.replace]].
    */
  /** @param withPositions also materialize the POSITIONAL postings
    *   table (doc_id, pos, term — one row per token, not per distinct
    *   term) so [[servePhrase]] can answer exact-phrase queries from
    *   the stored index. Same (term, salt) clustering + in-file term
    *   sort as the postings, so a phrase batch's IN predicate prunes
    *   its row groups too. Off by default: positions cost O(tokens)
    *   rows vs postings' O(distinct terms) — the standard Lucene-style
    *   index-time trade, chosen per deployment. Appends follow the
    *   stored index's shape automatically.
    */
  def build(spark: SparkSession, corpus: DataFrame, indexDir: String,
            mutationId: Option[String] = None,
            withPositions: Boolean = false): Unit = {
    import spark.implicits._
    val docs = indexable(corpus)
    // Empty-corpus guard BEFORE any index surgery (cheap limit-1 scan,
    // not a corpus pass — the full stats now derive from the postings
    // read-back below). Every indexable doc yields >= 1 posting
    // (split('') == ['']), so past this guard the stats have n > 0.
    require(docs.limit(1).count() > 0,
      "cannot build a lexical index over an empty corpus")
    // The log is NOT deleted up front: the overwrites run under the
    // OLD lists and the rebuild commits through ManifestLog.replace, so
    // a crash mid-rebuild makes readers fail loudly ("no committed
    // files", recovery = re-run build) instead of legacy-adopting new
    // postings scored with old stats.
    write(clustered(SearchOps.postingsOf(docs)), postingsDir(indexDir),
      SaveMode.Overwrite)
    // Corpus stats derived from the just-written ARTIFACT instead of a
    // second full corpus pass (r6: the old corpusStats scalar pass
    // tokenized the whole corpus again — at index scale that is a
    // second complete read+split of the input). dl is functionally
    // determined by doc_id (index contract: unique doc ids; null texts
    // never get here, see indexable), so
    // distinct (doc_id, dl) pairs reproduce corpusStats exactly —
    // spec-pinned in SearchOpsSpec incl. empty-string and ragged-
    // whitespace texts. The read-back touches postings (term-sized),
    // not the corpus.
    val statsRow = spark.read.parquet(postingsDir(indexDir))
      .select(col("doc_id"), col("dl")).distinct()
      .agg(count(lit(1)).cast("long").as("n"),
        coalesce(sum(col("dl")), lit(0L)).cast("long").as("sdl")).collect()(0)
    val (n, sdl) = (statsRow.getLong(0), statsRow.getLong(1))
    write(Seq((n, sdl)).toDF("n_docs", "sum_dl").coalesce(1),
      metaDir(indexDir), SaveMode.Overwrite)
    if (withPositions)
      write(clustered(SearchOps.positionsOf(docs)), positionsDir(indexDir),
        SaveMode.Overwrite)
    else
      // a rebuild WITHOUT positions over a previously-positional index
      // must not genesis-adopt the stale positional files (they'd
      // disagree with the new postings) — drop the dir outright
      new Path(indexDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new Path(positionsDir(indexDir)), true)
    val lg = Store.log(spark, indexDir)
    lg.replace(lg.dataEntries, mutationId)
  }

  /** True iff the index has a COMMITTED build (a manifest recording a
    * lex_meta file). A crash mid-build leaves dirs but no manifest —
    * callers deciding build-vs-append must key off this, not dir
    * existence, or a partial build gets genesis-adopted as the base.
    */
  def hasCommittedIndex(spark: SparkSession, indexDir: String): Boolean =
    Store.log(spark, indexDir).committed.exists(_.exists(_.startsWith("lex_meta/")))

  /** True iff the committed index carries the positional artifact
    * (appends follow the stored shape off this, and [[servePhrase]]
    * requires it). Legacy log-less indexes predate positions — false.
    */
  def hasPositions(spark: SparkSession, indexDir: String): Boolean =
    Store.log(spark, indexDir).committed.exists(_.exists(_.startsWith("positions/")))

  /** Summed stored corpus stats (delta rows over all committed
    * builds/appends).
    */
  private def readMeta(spark: SparkSession, indexDir: String): (Long, Long) = {
    val rows = Store.readCommitted(spark, indexDir, "lex_meta")
      .agg(sum(col("n_docs")).as("n"), sum(col("sum_dl")).as("sdl")).collect()
    require(rows.length == 1 && !rows(0).isNullAt(0),
      s"malformed lex_meta at $indexDir")
    (rows(0).getLong(0), rows(0).getLong(1))
  }

  /** Remove documents from the stored index WITHOUT rewriting the
    * postings: deletion appends a tombstone row per victim doc_id plus
    * a NEGATIVE (n_docs, sum_dl) meta delta — both through the same
    * single-manifest commit appends use, so a delete is exactly as
    * crash-atomic as an append (all-or-nothing, idempotent under a
    * replayed mutationId). Serving anti-joins the tombstone set; the
    * corpus stats and per-term df a BM25 score reads then equal a
    * fresh build over the survivors, so delete-then-serve is
    * bit-identical to rebuild-then-serve (spec + the bm25_delete
    * oracle row). Physical removal happens at [[compact]], which
    * applies tombstones to the postings/positions files and drops the
    * tombstone table — the Iceberg delete-file shape. Contract: a
    * tombstoned doc_id stays deleted even if re-appended, until a
    * compact has applied the tombstone. Returns victims actually
    * removed (ids not in the index, or already deleted, count 0). The
    * mechanics (staging under `<indexDir>/_staging`) are
    * [[StoredIndex.delete]]'s.
    */
  def delete(spark: SparkSession, docIds: DataFrame, indexDir: String,
             mutationId: Option[String] = None): Long = {
    import spark.implicits._
    // the negative meta delta commits in the tombstones' list
    def metaDelta(staged: DataFrame, nDel: Long): Unit =
      write(Seq((-nDel, -staged.agg(sum(col("dl"))).head().getLong(0)))
        .toDF("n_docs", "sum_dl").coalesce(1), metaDir(indexDir), SaveMode.Append)
    Store.delete(spark, indexDir, docIds, mutationId, metaDelta) { victims =>
      Store.readCommitted(spark, indexDir, "postings")
        .join(victims, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("dl")).distinct()
    }
  }

  /** Total docs the index covers (0 for a missing index) — the
    * freshness denominator callers like IncrementalCurate.lexStaleness
    * compare against their corpus count.
    */
  def indexedDocs(spark: SparkSession, indexDir: String): Long =
    if (Store.log(spark, indexDir).committedFiles("lex_meta").isEmpty) 0L
    else readMeta(spark, indexDir)._1

  /** Top-k BM25 against the PREBUILT index: bit-identical to
    * SearchOps.bm25Search over the indexed corpus, but the corpus is
    * never rescanned — serve cost is the postings probe (row-group
    * pruned for small batches) + the score aggregation. Reads only
    * COMMITTED index files (crash debris invisible). Null-term request
    * rows are dropped at entry; probe relations ride broadcasts only
    * under the bounded-batch guard (shuffle fallback with identical
    * results); `maxDfPermille` dials the hot-term cap (default off).
    */
  def serve(spark: SparkSession, indexDir: String, queryTerms: DataFrame,
            k: Int = 10, probeLimit: Long = AnnIndex.BroadcastQueryLimit,
            pushdownTerms: Int = TermPushdownLimit,
            maxDfPermille: Long = 1000L): DataFrame = {
    val (n, sdl) = readMeta(spark, indexDir)
    val qterms = SearchOps.cleanTerms(queryTerms)
    val bounded = SearchOps.isBounded(qterms, probeLimit)
    val postings = Store.readCommitted(spark, indexDir, "postings")
    val termSet = qterms.select("term").distinct()
    val gated = gateByTerms(postings, termSet, bounded, pushdownTerms)
    // deleted docs are invisible: the anti-join runs BEFORE df/score
    // aggregation, and the meta sums already carry the delete's
    // negative delta — scores equal a rebuild over the survivors
    SearchOps.bm25From(Store.live(spark, indexDir, gated), n, sdl * 1000L / n, qterms, k, bounded,
      maxDfPermille)
  }

  /** Term gate shared by BM25 and phrase serving: a small bounded
    * batch inlines a literal IN predicate (pushes into the parquet
    * scan, prunes term-sorted row groups); larger batches gate via a
    * semi-join — broadcast when bounded, shuffle otherwise. Identical
    * result rows on every path.
    */
  private def gateByTerms(rel: DataFrame, termSet: DataFrame,
                          bounded: Boolean, pushdownTerms: Int): DataFrame = {
    val inlined: Option[Seq[String]] =
      if (bounded && pushdownTerms > 0) {
        val ts = termSet.limit(pushdownTerms + 1).collect().map(_.getString(0))
        if (ts.length <= pushdownTerms) Some(ts.toSeq) else None
      } else None
    inlined match {
      case Some(ts) => rel.filter(col("term").isin(ts: _*))
      case None => rel.join(
        if (bounded) broadcast(termSet) else termSet, Seq("term"), "left_semi")
    }
  }

  /** Exact-phrase top-k against the PREBUILT positional artifact —
    * bit-identical to SearchOps.phraseSearch over the indexed corpus
    * (the anchor-join kernel phraseFrom is shared verbatim, so
    * phrase_serve checks against phrase_search's oracle SQL), but the
    * corpus text is never rescanned: the phrase batch's term IN
    * predicate prunes the term-sorted positional row groups exactly
    * like BM25 serving. Requires an index built withPositions=true.
    */
  def servePhrase(spark: SparkSession, indexDir: String, phrases: DataFrame,
                  k: Int = 10, probeLimit: Long = AnnIndex.BroadcastQueryLimit,
                  pushdownTerms: Int = TermPushdownLimit): DataFrame = {
    require(hasPositions(spark, indexDir),
      s"no committed positional artifact at $indexDir (build withPositions=true)")
    val q = phrases.filter(col("term").isNotNull)
      .select(col("query_id").cast("long").as("query_id"),
        col("off").cast("long").as("off"), col("term"))
    val bounded = SearchOps.isBounded(q, probeLimit)
    val gated = gateByTerms(Store.readCommitted(spark, indexDir, "positions"),
      q.select("term").distinct(), bounded, pushdownTerms)
    SearchOps.phraseFrom(Store.live(spark, indexDir, gated), q, k, bounded)
  }

  /** Append newly-arrived documents WITHOUT touching existing rows:
    * their postings are per-document independent and the meta stats
    * are delta rows, so append-then-serve is EXACTLY a rebuild over
    * the union (spec-asserted). Crash-atomic: unlisted debris from a
    * previous crash is reconciled at entry, the postings and meta
    * delta appends publish through ONE manifest (atomic rename — the
    * commit point), so a crash anywhere mid-append rolls back wholly
    * and a RETRY of the same batch is exact, never doubled. Caller
    * contract: `newDocs` doc_ids are disjoint from the indexed set
    * (the engine's ids are xxhash64-derived; a revisit should rebuild
    * instead). Returns the number of docs appended.
    */
  def append(spark: SparkSession, newDocs: DataFrame, indexDir: String,
             mutationId: Option[String] = None): Long = {
    import spark.implicits._
    val lg = Store.log(spark, indexDir)
    if (mutationId.exists(lg.isCommitted)) return 0L
    val docs = indexable(newDocs)
    val (dn, dsdl) = SearchOps.corpusStats(docs)
    if (dn == 0L) return 0L
    // appends follow the stored index's shape: a positional index gets
    // the drop's positions too, inside the SAME commit
    val positional = hasPositions(spark, indexDir)
    lg.reconcile()
    lg.commitAdded(mutationId) {
      write(clustered(SearchOps.postingsOf(docs)), postingsDir(indexDir),
        SaveMode.Append)
      write(Seq((dn, dsdl)).toDF("n_docs", "sum_dl").coalesce(1),
        metaDir(indexDir), SaveMode.Append)
      if (positional)
        write(clustered(SearchOps.positionsOf(docs)), positionsDir(indexDir),
          SaveMode.Append)
    }
    dn
  }

  /** Compact append-accumulated small postings files (thousands of
    * daily drops leave the relation file-open-bound, exactly like the
    * output table). Digest-verified atomic swap, re-clustered on term;
    * served results are bit-identical before and after (spec).
    * Tombstones apply to postings and positions first and drop last,
    * all under the `_lexlog` reset ([[StoredIndex.compact]]). Returns
    * the postings report.
    */
  def compact(spark: SparkSession, indexDir: String,
              targetFileBytes: Long = 128L * 1024 * 1024): graft.CompactJob.CompactReport =
    // (term, salt) keeps the rewrite balanced under Zipf-hot terms —
    // same bounded-spread trade as the build clustering; a positional
    // index compacts its positions under the same key
    Store.compact(spark, indexDir, Seq("postings" -> "term,salt", "positions" -> "term,salt"),
      targetFileBytes).toMap.apply("postings")
}
