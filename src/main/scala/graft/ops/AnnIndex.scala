package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.ParquetTableIO

/** ANN index materialization — the build/serve split a 10^10-vector
  * corpus actually needs. The in-memory operators (VectorOps.annLsh /
  * annPq / annSq / annIvf) recompute buckets, codebooks and codes from
  * the raw embeddings on every invocation; at scale the index build is
  * the expensive OFFLINE job (one full pass + training), and serving
  * must join against a STORED index:
  *
  *  - LSH: the (vec_id, band, bucket) relation persists as parquet.
  *    Serving buckets only the query batch, explodes its probe masks,
  *    and equi-joins the stored relation — the base embeddings are
  *    touched once, in the exact re-rank of the candidate ids.
  *  - PQ: two artifacts — the codebook (subspace, cid, centroid) and
  *    the 6-byte-per-vector code relation (vec_id, s, code). Serving
  *    collects the codebook to the driver (m·k tiny rows), broadcasts
  *    per-query ADC tables, and scans only the stored codes; raw
  *    vectors are read once for the shortlist re-rank.
  *  - SQ8: a one-row quantizer (per-dim min/max) plus byte-per-dim
  *    codes; ADC scan + exact re-rank.
  *  - IVF: a tiny centroid table plus the (vec_id, cell, salt)
  *    inverted-file relation, (cell, salt)-clustered so a bounded
  *    batch's probed cells prune row groups via an IN predicate.
  *
  * Build and serve compose the SAME private kernels as the in-memory
  * operators (VectorOps.lshBucketize / annLshFrom / pqEncode /
  * annPqFrom / sqEncode / annSqFromQ / ivfAssign / annIvfFromQ), so a
  * served result is bit-identical to the in-memory one — the
  * ann_*_serve queries are checked against the very same DuckDB
  * mirrors as their in-memory counterparts.
  *
  * Crash atomicity: every mutation (build, append, delete, compact)
  * commits through the [[graft.pipeline.ManifestLog]] in `_annlog`.
  * READERS read only committed files, so a crashed append's partial
  * bucket/code files are invisible to serving even before the next
  * writer reconciles them away; a crashed REBUILD (lists naming
  * overwritten-away files) fails loudly instead of silently serving a
  * mixed index. Single-writer discipline: one build/append/compact at
  * a time (serves are safe concurrent readers).
  *
  * Write discipline matches the engine's tables: zstd; dictionary off
  * for the near-unique id/code relations (see BENCH.md), ON for the
  * heavily-repeating ivf cell column (the postings rule).
  */
object AnnIndex {

  private def lshDir(indexDir: String) = s"$indexDir/lsh_buckets"
  private def lshMetaDir(indexDir: String) = s"$indexDir/lsh_meta"
  private def pqCodebookDir(indexDir: String) = s"$indexDir/pq_codebook"
  private def pqCodesDir(indexDir: String) = s"$indexDir/pq_codes"
  private def sqMetaDir(indexDir: String) = s"$indexDir/sq_meta"
  private def sqCodesDir(indexDir: String) = s"$indexDir/sq_codes"
  private def ivfCentroidsDir(indexDir: String) = s"$indexDir/ivf_centroids"
  private def ivfCellsDir(indexDir: String) = s"$indexDir/ivf_cells"

  /** An index kind's two tables — a build overwrites exactly these,
    * never a sibling's, and a committed `geometry` file marks a
    * committed build — plus the per-vector relation's compaction
    * cluster key: ivf_cells re-clusters on (cell, salt), the
    * inverted-list locality serving's IN-predicate pruning depends on
    * (the postings discipline); the id-keyed relations on vec_id.
    */
  private final case class Leg(kind: String, geometry: String, relation: String,
                               clusterKey: String)
  private val Legs = Seq(Leg("lsh", "lsh_meta", "lsh_buckets", "vec_id"),
    Leg("pq", "pq_codebook", "pq_codes", "vec_id"), Leg("sq", "sq_meta", "sq_codes", "vec_id"),
    Leg("ivf", "ivf_centroids", "ivf_cells", "cell,salt"))

  /** Commit log, committed reads, tombstones (`ann_deleted`, keyed by
    * vec_id) and compaction — the maintenance shared with SearchIndex.
    * Every per-vector leg relation (buckets/codes/cells) is read through
    * `Store.liveCommitted`, so ADC/SQ shortlists and LSH/IVF probes never
    * see a deleted vector — the shortlist cut happens BEFORE the exact
    * re-rank, which is why base-side deletion alone would not equal an
    * index over the survivors for the quantized legs.
    */
  private val Store = new StoredIndex("_annlog",
    Legs.flatMap(l => Seq(l.geometry, l.relation)) :+ "ann_deleted", "ann_deleted", "vec_id")

  private def write(df: DataFrame, dir: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).options(ParquetTableIO.WriteOptions)
      .parquet(dir)

  /** Writer-side rollback of a crashed mutation (see
    * [[graft.pipeline.ManifestLog.reconcile]]). Returns the deleted
    * entries.
    */
  def reconcile(spark: SparkSession, indexDir: String): Seq[String] =
    Store.log(spark, indexDir).reconcile()

  /** Remove vectors from every committed leg of the stored index
    * WITHOUT rewriting it: deletion appends one tombstone row per
    * victim through the same single-manifest commit appends use —
    * exactly as crash-atomic, idempotent under a replayed mutationId.
    * Serving anti-joins the tombstones before any shortlist/probe
    * math, so results equal an index holding only the survivors'
    * rows under the SAME stored geometry (planes/codebook/quantizer/
    * centroids are untouched — deletion never retrains). Physical
    * removal happens at [[compact]]. Contract: a tombstoned vec_id
    * stays deleted even if re-appended, until a compact has applied
    * the tombstone. Returns victims actually present (and not already
    * deleted) in at least one committed leg. The mechanics (staging
    * under `<indexDir>/_staging`) are [[StoredIndex.delete]]'s.
    */
  def delete(spark: SparkSession, vecIds: DataFrame, indexDir: String,
             mutationId: Option[String] = None): Long =
    Store.delete(spark, indexDir, vecIds, mutationId) { victims =>
      val legs = Legs.map(_.relation)
        .filter(t => Store.log(spark, indexDir).committedFiles(t).nonEmpty)
      require(legs.nonEmpty, s"no committed index legs at $indexDir")
      legs.map(t => Store.readCommitted(spark, indexDir, t)
          .join(victims, Seq("vec_id"), "left_semi").select("vec_id"))
        .reduce(_ union _).distinct()
    }

  /** Commit a leg's freshly-overwritten tables through
    * [[graft.pipeline.ManifestLog.replace]]: ONE consolidated list
    * naming every still-present committed file of the OTHER legs plus
    * all present files of THIS leg (its dirs were just overwritten, so
    * everything present is the new build; a crashed earlier append to
    * a sibling leg stays uncommitted).
    */
  private def commitLegBuild(spark: SparkSession, indexDir: String,
                             leg: String, mutationId: Option[String]): Unit = {
    val lg = Store.log(spark, indexDir)
    val committed = lg.committed
    val own = Legs.filter(_.kind == leg).flatMap(l => Seq(l.geometry, l.relation))
    lg.replace(lg.dataEntries.filter(e => committed.forall(_.contains(e)) ||
      own.contains(e.takeWhile(_ != '/'))), mutationId)
  }

  /** True iff the kind has a COMMITTED build (a manifest recording its
    * meta/centroid/codebook table). A crash mid-build leaves dirs but
    * no manifest — callers deciding build-vs-append must key off this,
    * not dir existence.
    */
  def hasCommittedIndex(spark: SparkSession, indexDir: String,
                        kind: String): Boolean = {
    val leg = Legs.find(_.kind == kind)
      .getOrElse(throw new IllegalArgumentException(s"unknown kind: $kind"))
    Store.log(spark, indexDir).committed.exists(_.exists(_.startsWith(s"${leg.geometry}/")))
  }

  // -------------------------------------------------------------------
  // LSH index
  // -------------------------------------------------------------------

  /** Materialize the multi-table sign-LSH bucket relation. One pass
    * over the base; the stored rows are (vec_id, band, bucket) — 20
    * bytes each, nTables rows per vector. The plane geometry
    * (nTables, planesPerTable, dim) is persisted alongside — serving
    * reads IT, so a build/serve parameter drift cannot silently
    * produce wrong buckets on the query side.
    */
  def buildLsh(spark: SparkSession, emb: DataFrame, indexDir: String,
               nTables: Int = 16, planesPerTable: Int = 9, dim: Int = 64,
               mutationId: Option[String] = None): Unit = {
    import spark.implicits._
    val planes = VectorOps.hyperplanes(nTables * planesPerTable, dim)
    write(VectorOps.lshBucketize(spark, emb, planes, nTables, planesPerTable),
      lshDir(indexDir))
    write(Seq((nTables, planesPerTable, dim))
      .toDF("n_tables", "planes_per_table", "dim").coalesce(1),
      lshMetaDir(indexDir))
    commitLegBuild(spark, indexDir, "lsh", mutationId)
  }

  private def readLshMeta(spark: SparkSession, indexDir: String): (Int, Int, Int) = {
    val meta = Store.readCommitted(spark, indexDir, "lsh_meta")
      .select(col("n_tables"), col("planes_per_table"), col("dim")).collect()
    require(meta.length == 1, s"malformed lsh_meta at $indexDir")
    (meta(0).getInt(0), meta(0).getInt(1), meta(0).getInt(2))
  }

  /** Approximate top-k against a PREBUILT LSH index: identical results
    * to VectorOps.annLsh with the index's build parameters, but the
    * base is never re-bucketed — serve cost is the probe join + one
    * re-rank. Plane geometry comes from the STORED index metadata;
    * only the serve-time knobs (nQueries, k, probeHamming) are
    * caller-chosen.
    */
  def serveLsh(spark: SparkSession, emb: DataFrame, indexDir: String,
               nQueries: Int = 10, k: Int = 5,
               probeHamming: Int = 1): DataFrame = {
    val (nTables, planesPerTable, dim) = readLshMeta(spark, indexDir)
    VectorOps.annLshFrom(spark, Store.liveCommitted(spark, indexDir, "lsh_buckets"),
      emb, nQueries, k, nTables, planesPerTable, dim, probeHamming)
  }

  /** Vectors the committed LSH leg covers (bucket rows are exactly
    * nTables per vector by construction) — the freshness denominator
    * incremental callers compare their corpus count against. 0 for a
    * missing/uncommitted leg.
    */
  def indexedVectors(spark: SparkSession, indexDir: String): Long =
    if (Store.log(spark, indexDir).committedFiles("lsh_meta").isEmpty) 0L
    else {
      val (nTables, _, _) = readLshMeta(spark, indexDir)
      Store.liveCommitted(spark, indexDir, "lsh_buckets").count() / nTables
    }

  // -------------------------------------------------------------------
  // PQ index
  // -------------------------------------------------------------------

  /** Train PQ codebooks and materialize both index artifacts: the
    * codebook table (subspace, cid, centroid ARRAY<BIGINT>) and the
    * per-vector code relation. Training is the one expensive step —
    * iters passes over the base; encoding is one more.
    */
  def buildPq(spark: SparkSession, emb: DataFrame, indexDir: String,
              m: Int = 8, kCode: Int = 64, iters: Int = 3, dim: Int = 64,
              mutationId: Option[String] = None): Unit = {
    import spark.implicits._
    val codebooks = VectorOps.pqTrain(spark, emb, m, kCode, iters, dim)
    val cbRows = for {
      s <- codebooks.indices
      c <- codebooks(s).indices
    } yield (s, c, codebooks(s)(c).toSeq)
    write(cbRows.toDF("s", "cid", "centroid"), pqCodebookDir(indexDir))
    // from_append=false: these codes were part of the codebook's
    // training set — the staleness metric counts the complement
    write(VectorOps.pqEncode(spark, emb, codebooks, dim)
      .withColumn("from_append", lit(false)), pqCodesDir(indexDir))
    commitLegBuild(spark, indexDir, "pq", mutationId)
  }

  /** Fraction (permille) of stored PQ code rows encoded AFTER the
    * current codebook's training — the retrain-cadence signal: 0 right
    * after a build, grows with every [[appendPq]] drop. A retrain is a
    * [[buildPq]] over the current corpus.
    */
  def pqStaleness(spark: SparkSession, indexDir: String): Long =
    stalenessOf(Store.liveCommitted(spark, indexDir, "pq_codes"))

  private def stalenessOf(codes: DataFrame): Long = {
    val r = codes.agg(
      sum(when(col("from_append"), 1L).otherwise(0L)).as("na"),
      count(lit(1)).as("n")).collect()(0)
    if (r.getLong(1) == 0L) 0L else r.getLong(0) * 1000L / r.getLong(1)
  }

  /** Rehydrate the driver-side codebook array from the stored table. */
  private def readCodebooks(spark: SparkSession, indexDir: String): Array[Array[Array[Long]]] = {
    val rows = Store.readCommitted(spark, indexDir, "pq_codebook")
      .select(col("s"), col("cid"), col("centroid"))
      .collect()
    val m = rows.map(_.getInt(0)).max + 1
    val k = rows.map(_.getInt(1)).max + 1
    val out = Array.ofDim[Array[Long]](m, k)
    rows.foreach { r =>
      out(r.getInt(0))(r.getInt(1)) = r.getSeq[Long](2).toArray
    }
    out.map(_.map(c => { require(c != null, "codebook table has holes"); c }))
  }

  /** Vector dimension implied by a codebook: m subspaces × sub
    * components each — serving derives it from the artifact instead of
    * trusting a caller parameter.
    */
  private def dimOf(codebooks: Array[Array[Array[Long]]]): Int =
    codebooks.length * codebooks(0)(0).length

  /** Approximate top-k against a PREBUILT PQ index: identical results
    * to VectorOps.annPq with the index's build parameters — codebooks
    * and codes come from parquet, no training or encoding at serve
    * time; the subspace geometry is implied by the stored codebook.
    */
  def servePq(spark: SparkSession, emb: DataFrame, indexDir: String,
              nQueries: Int = 10, k: Int = 5, shortlist: Int = 100): DataFrame = {
    val codebooks = readCodebooks(spark, indexDir)
    VectorOps.annPqFrom(spark, Store.liveCommitted(spark, indexDir, "pq_codes"),
      codebooks, emb, nQueries, k, shortlist, dimOf(codebooks))
  }

  // -------------------------------------------------------------------
  // SQ8 index — per-dimension scalar quantization (see VectorOps.annSq)
  // -------------------------------------------------------------------

  /** Train per-dimension (min, max) and materialize the SQ8 artifacts:
    * a one-row quantizer table (mins, maxs ARRAY<BIGINT>) and the
    * byte-per-dimension code relation. Training is one
    * partial-aggregate pass; encoding one more.
    */
  def buildSq(spark: SparkSession, emb: DataFrame, indexDir: String,
              dim: Int = 64, mutationId: Option[String] = None): Unit = {
    import spark.implicits._
    val (mins, maxs) = VectorOps.sqTrain(spark, emb, dim)
    write(Seq((mins.toSeq, maxs.toSeq)).toDF("mins", "maxs").coalesce(1),
      sqMetaDir(indexDir))
    write(VectorOps.sqEncode(spark, emb, mins, maxs)
      .withColumn("from_append", lit(false)), sqCodesDir(indexDir))
    commitLegBuild(spark, indexDir, "sq", mutationId)
  }

  /** Rehydrate the stored quantizer (the geometry travels WITH the
    * index — serve/append cannot drift from build parameters).
    */
  private def readSqMeta(spark: SparkSession, indexDir: String): (Array[Long], Array[Long]) = {
    val rows = Store.readCommitted(spark, indexDir, "sq_meta")
      .select(col("mins"), col("maxs")).collect()
    require(rows.length == 1, s"malformed sq_meta at $indexDir")
    (rows(0).getSeq[Long](0).toArray, rows(0).getSeq[Long](1).toArray)
  }

  /** Approximate top-k against a PREBUILT SQ8 index — identical
    * results to VectorOps.annSq with the index's quantizer; the base
    * is read once, in the exact re-rank.
    */
  def serveSq(spark: SparkSession, emb: DataFrame, indexDir: String,
              nQueries: Int = 10, k: Int = 5, shortlist: Int = 100): DataFrame = {
    val (mins, maxs) = readSqMeta(spark, indexDir)
    VectorOps.annSqFromQ(spark, Store.liveCommitted(spark, indexDir, "sq_codes"),
      mins, maxs, emb, VectorOps.queriesByIdPrefix(emb, nQueries), k, shortlist)
  }

  /** Arbitrary-query SQ serving. SQ ADC is a broadcast scan by
    * construction (the query batch rides the closure), so this form is
    * for BOUNDED request batches only — the kernel enforces the same
    * 65536 ceiling the LSH/PQ serve guards use; chunk larger batches
    * or use the PQ/LSH serve paths.
    */
  def serveSqQueries(spark: SparkSession, emb: DataFrame, queries: DataFrame,
                     indexDir: String, k: Int = 5, shortlist: Int = 100): DataFrame = {
    val (mins, maxs) = readSqMeta(spark, indexDir)
    VectorOps.annSqFromQ(spark, Store.liveCommitted(spark, indexDir, "sq_codes"),
      mins, maxs, emb, queries.filter(col("q_emb").isNotNull), k, shortlist)
  }

  /** Append newly-arrived vectors encoded under the FROZEN stored
    * quantizer (codes are per-vector independent given (mins, maxs),
    * so append-then-serve equals serving codes of the union encoded
    * under the same frozen quantizer — spec-asserted). Out-of-range
    * values clamp to 0/255; [[sqStaleness]] is the retrain signal.
    * Same disjoint-ids contract as [[appendLsh]].
    */
  def appendSq(spark: SparkSession, newEmb: DataFrame, indexDir: String,
               mutationId: Option[String] = None): Unit =
    appendCommitted(spark, indexDir, mutationId) {
      val (mins, maxs) = readSqMeta(spark, indexDir)
      write(VectorOps.sqEncode(spark, newEmb, mins, maxs)
        .withColumn("from_append", lit(true)), sqCodesDir(indexDir),
        SaveMode.Append)
    }

  /** Permille of stored SQ code rows encoded after the quantizer's
    * training (mirrors [[pqStaleness]]).
    */
  def sqStaleness(spark: SparkSession, indexDir: String): Long =
    stalenessOf(Store.liveCommitted(spark, indexDir, "sq_codes"))

  // -------------------------------------------------------------------
  // IVF index — coarse k-means cells + probed search (VectorOps.annIvf)
  // -------------------------------------------------------------------

  /** Bounded salt for the cell clustering — the SearchIndex postings
    * discipline: a hot cell (real corpora cluster!) spreads over at
    * most this many cell-sorted slivers instead of one straggler file,
    * and serving's IN(cell,...) predicate still prunes row groups. The
    * salt persists as a column so compaction re-clusters on it.
    */
  private val IvfSaltBuckets = 16

  /** (cell, salt)-clustered write for the inverted-file relation.
    * Dictionary ON — cells and salts repeat heavily (the postings rule,
    * the opposite of the near-unique id/code tables).
    */
  private def writeIvfCells(df: DataFrame, dir: String, mode: SaveMode): Unit =
    df.withColumn("salt",
        pmod(xxhash64(col("vec_id")), lit(IvfSaltBuckets)).cast("int"))
      .repartition(xxhash64(col("cell"), col("salt")))
      .sortWithinPartitions("cell", "vec_id")
      .write.mode(mode)
      .option("compression", "zstd")
      .parquet(dir)

  /** Train the coarse quantizer and materialize the IVF artifacts: a
    * tiny centroid table (cid, centroid ARRAY<BIGINT> — the geometry
    * travels WITH the index) and the (vec_id, cell, salt) inverted-file
    * relation. Training is the expensive step (iters passes); the
    * assignment one more. Serving probes nProbe cells per query and —
    * for bounded batches — reads ONLY those inverted lists off the
    * cell-clustered files.
    */
  def buildIvf(spark: SparkSession, emb: DataFrame, indexDir: String,
               k: Int = 16, iters: Int = 3,
               mutationId: Option[String] = None): Unit = {
    import spark.implicits._
    val centroids = VectorOps.kmeansMilli(spark, emb, k, iters)
    write(centroids.zipWithIndex
      .map { case (c, cid) => (cid, c.toSeq) }.toSeq
      .toDF("cid", "centroid").coalesce(1), ivfCentroidsDir(indexDir))
    writeIvfCells(
      VectorOps.ivfAssign(spark, emb, centroids)
        .withColumn("from_append", lit(false)),
      ivfCellsDir(indexDir), SaveMode.Overwrite)
    commitLegBuild(spark, indexDir, "ivf", mutationId)
  }

  /** Rehydrate the stored centroid array (cid-dense, hole-checked). */
  private def readIvfCentroids(spark: SparkSession, indexDir: String): Array[Array[Long]] = {
    val rows = Store.readCommitted(spark, indexDir, "ivf_centroids")
      .select(col("cid"), col("centroid")).collect()
    require(rows.nonEmpty, s"malformed ivf_centroids at $indexDir")
    val out = new Array[Array[Long]](rows.map(_.getInt(0)).max + 1)
    rows.foreach(r => out(r.getInt(0)) = r.getSeq[Long](1).toArray)
    out.map(c => { require(c != null, "ivf_centroids table has holes"); c })
  }

  /** Probed top-k against a PREBUILT IVF index — identical results to
    * VectorOps.annIvf with the index's build parameters (same centroid
    * training, same assignment rule, same probe rule, same re-rank
    * contract), but the base is never re-trained or re-assigned: serve
    * cost is the probed-list join plus the exact re-rank of candidates.
    */
  def serveIvf(spark: SparkSession, emb: DataFrame, indexDir: String,
               nQueries: Int = 10, topK: Int = 5, nProbe: Int = 2): DataFrame =
    VectorOps.annIvfFromQ(spark, Store.liveCommitted(spark, indexDir, "ivf_cells"),
      readIvfCentroids(spark, indexDir), emb,
      VectorOps.queriesByIdPrefix(emb, nQueries), topK, nProbe)

  /** Arbitrary-query IVF serving (query_id, q_emb) — broadcast probes
    * + IN-pruned index scan for bounded batches, shuffle fallback
    * otherwise (same guard as the LSH/PQ serve paths).
    */
  def serveIvfQueries(spark: SparkSession, emb: DataFrame, queries: DataFrame,
                      indexDir: String, topK: Int = 5, nProbe: Int = 2): DataFrame = {
    val (q, small) = cleanQueries(queries)
    VectorOps.annIvfFromQ(spark, Store.liveCommitted(spark, indexDir, "ivf_cells"),
      readIvfCentroids(spark, indexDir), emb, q, topK, nProbe,
      broadcastProbes = small)
  }

  /** Append newly-arrived vectors assigned under the FROZEN stored
    * centroids (assignment is per-vector independent given the
    * centroids, so append-then-serve equals serving the union assigned
    * under the same frozen centroids — spec-asserted and
    * batch-associative). [[ivfStaleness]] is the retrain signal; same
    * disjoint-ids contract as [[appendLsh]].
    */
  def appendIvf(spark: SparkSession, newEmb: DataFrame, indexDir: String,
                mutationId: Option[String] = None): Unit =
    appendCommitted(spark, indexDir, mutationId) {
      writeIvfCells(
        VectorOps.ivfAssign(spark, newEmb, readIvfCentroids(spark, indexDir))
          .withColumn("from_append", lit(true)),
        ivfCellsDir(indexDir), SaveMode.Append)
    }

  /** Permille of stored cell rows assigned after the centroids'
    * training (mirrors [[pqStaleness]]).
    */
  def ivfStaleness(spark: SparkSession, indexDir: String): Long =
    stalenessOf(Store.liveCommitted(spark, indexDir, "ivf_cells"))

  // -------------------------------------------------------------------
  // IVF+PQ — composed serving over the two already-persisted legs
  // -------------------------------------------------------------------

  /** IVF-pruned PQ serving against a PREBUILT index holding BOTH legs
    * (buildIvf + buildPq over the same base): the stored inverted file
    * restricts each query to its probed lists, the stored codes score
    * the survivors by ADC, then the exact re-rank — identical results
    * to VectorOps.annIvfPq with the index's build parameters. No
    * training, assignment, or encoding happens at serve time; geometry
    * comes from the stored centroid and codebook tables.
    */
  def serveIvfPq(spark: SparkSession, emb: DataFrame, indexDir: String,
                 nQueries: Int = 10, topK: Int = 5, nProbe: Int = 2,
                 shortlist: Int = 100): DataFrame =
    serveIvfPqQueries(spark, emb,
      VectorOps.queriesByIdPrefix(emb, nQueries), indexDir, topK, nProbe, shortlist)

  /** Arbitrary-query IVF+PQ serving (query_id, q_emb) — broadcast
    * probes/ADC tables + IN-pruned cell scan for bounded batches,
    * shuffle fallback otherwise (same guard as the other serve paths).
    */
  def serveIvfPqQueries(spark: SparkSession, emb: DataFrame, queries: DataFrame,
                        indexDir: String, topK: Int = 5, nProbe: Int = 2,
                        shortlist: Int = 100): DataFrame = {
    val (q, small) = cleanQueries(queries)
    val codebooks = readCodebooks(spark, indexDir)
    VectorOps.annIvfPqFromQ(spark, Store.liveCommitted(spark, indexDir, "ivf_cells"),
      readIvfCentroids(spark, indexDir),
      Store.liveCommitted(spark, indexDir, "pq_codes"), codebooks, emb, q,
      topK, nProbe, shortlist, dimOf(codebooks), broadcastProbes = small)
  }

  // -------------------------------------------------------------------
  // maintenance
  // -------------------------------------------------------------------

  /** Compact the index's append-accumulated small files (thousands of
    * append drops leave the bucket/code relations file-open-bound,
    * exactly like the output table CompactJob exists for). Reuses
    * CompactJob's digest-verified atomic swap; served results are
    * bit-identical before and after (the spec asserts it). Tombstones
    * apply to every leg first and drop last, all under the `_annlog`
    * reset ([[StoredIndex.compact]]). Returns (table, report) for each
    * committed per-vector relation.
    */
  def compact(spark: SparkSession, indexDir: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Seq[(String, graft.CompactJob.CompactReport)] =
    Store.compact(spark, indexDir, Legs.map(l => l.relation -> l.clusterKey), targetFileBytes)

  // -------------------------------------------------------------------
  // arbitrary-query serving — the real request shape
  // -------------------------------------------------------------------

  /** Probe-side relations (LSH bucket probes / PQ ADC tables) are
    * broadcast only when the request batch is provably bounded — a
    * caller passing a 10^8-row query relation would otherwise ship a
    * multi-GB broadcast to every executor (or fail outright at the
    * broadcast ceiling). The size probe is a bounded `limit(N+1)`
    * count, so an unbounded relation costs one cheap action and falls
    * back to a shuffle join; results are identical either way.
    */
  private[ops] val BroadcastQueryLimit = 65536L

  /** Null-embedding query rows are DROPPED up front (a malformed
    * request row must not NPE a task mid-batch; the id simply gets no
    * result rows — the caller's absent-key signal). Returns the clean
    * relation plus whether it is small enough to broadcast probes for.
    */
  private def cleanQueries(queries: DataFrame): (DataFrame, Boolean) = {
    val q = queries.filter(col("q_emb").isNotNull)
    val small = q.limit(BroadcastQueryLimit.toInt + 1).count() <= BroadcastQueryLimit
    (q, small)
  }

  /** Serve an ARBITRARY query relation (query_id, q_emb) against a
    * stored LSH index — the production request shape (the nQueries
    * forms exist for the oracle harness's vec_id-prefix convention).
    * query_ids need not exist in the base; a matching base vec_id is
    * excluded as the trivial self-hit.
    */
  def serveLshQueries(spark: SparkSession, emb: DataFrame, queries: DataFrame,
                      indexDir: String, k: Int = 5, probeHamming: Int = 1): DataFrame = {
    val (nTables, planesPerTable, dim) = readLshMeta(spark, indexDir)
    val (q, small) = cleanQueries(queries)
    VectorOps.annLshFromQ(spark, Store.liveCommitted(spark, indexDir, "lsh_buckets"),
      emb, q, k, nTables, planesPerTable, dim, probeHamming,
      broadcastProbes = small)
  }

  /** Same for a stored PQ index. */
  def servePqQueries(spark: SparkSession, emb: DataFrame, queries: DataFrame,
                     indexDir: String, k: Int = 5, shortlist: Int = 100): DataFrame = {
    val codebooks = readCodebooks(spark, indexDir)
    val (q, small) = cleanQueries(queries)
    VectorOps.annPqFromQ(spark, Store.liveCommitted(spark, indexDir, "pq_codes"),
      codebooks, emb, q, k, shortlist, dimOf(codebooks),
      broadcastProbes = small)
  }

  // -------------------------------------------------------------------
  // incremental append — the daily-drop serving lifecycle
  // -------------------------------------------------------------------

  /** Run one append mutation crash-atomically: skip a committed
    * `mutationId`, reconcile prior debris, run the append, commit the
    * added files as ONE list. A crash anywhere mid-append rolls back
    * wholly at the next writer's entry, and readers never see the
    * debris meanwhile.
    */
  private def appendCommitted(spark: SparkSession, indexDir: String,
                              mutationId: Option[String])(appendOp: => Unit): Unit = {
    val lg = Store.log(spark, indexDir)
    if (!mutationId.exists(lg.isCommitted)) {
      lg.reconcile()
      lg.commitAdded(mutationId)(appendOp)
    }
  }

  /** The one ANN freshness append: `newEmb` goes to EVERY committed leg
    * (lsh/pq/sq/ivf), the quantized legs under their FROZEN geometry
    * (their staleness counters are the retrain signal). The LSH leg
    * commits under `mutationId` itself, the others under
    * `<id>-pq`/`<id>-sq`/`<id>-ivf`, so a crash BETWEEN leg appends is
    * safe: a replay short-circuits the committed legs and appends only
    * the missing ones. An empty `newEmb` appends nothing. An index with
    * no committed leg bootstraps as an LSH build over `bootstrap`
    * (when non-empty) under `mutationId`.
    */
  def appendEveryLeg(spark: SparkSession, newEmb: DataFrame, indexDir: String,
                     mutationId: Option[String] = None)(bootstrap: => DataFrame): Unit = {
    val legs = Legs.map(_.kind).filter(hasCommittedIndex(spark, indexDir, _))
    def mid(leg: String) = mutationId.map(id => if (leg == "lsh") id else s"$id-$leg")
    if (legs.isEmpty) {
      val base = bootstrap
      if (base.limit(1).count() > 0) buildLsh(spark, base, indexDir, mutationId = mutationId)
    } else if (newEmb.limit(1).count() > 0) legs.foreach {
      case "lsh" => appendLsh(spark, newEmb, indexDir, mid("lsh"))
      case "pq" => appendPq(spark, newEmb, indexDir, mid("pq"))
      case "sq" => appendSq(spark, newEmb, indexDir, mid("sq"))
      case "ivf" => appendIvf(spark, newEmb, indexDir, mid("ivf"))
    }
  }

  /** Append newly-arrived vectors to a stored LSH index WITHOUT
    * touching the existing rows (one pass over the new batch only,
    * plane geometry from the stored metadata). Sign-LSH bucket codes
    * are per-vector independent, so append-then-serve is EXACTLY
    * equal to a full rebuild over the union — the test asserts it.
    * Caller contract: `newEmb` vec_ids are disjoint from the indexed
    * set (the engine's ids are xxhash64-derived; a revisit should
    * compact/rebuild instead).
    */
  def appendLsh(spark: SparkSession, newEmb: DataFrame, indexDir: String,
                mutationId: Option[String] = None): Unit =
    appendCommitted(spark, indexDir, mutationId) {
      val (nTables, planesPerTable, dim) = readLshMeta(spark, indexDir)
      val planes = VectorOps.hyperplanes(nTables * planesPerTable, dim)
      write(VectorOps.lshBucketize(spark, newEmb, planes, nTables, planesPerTable),
        lshDir(indexDir), SaveMode.Append)
    }

  /** Append newly-arrived vectors to a stored PQ index: encode them
    * with the FROZEN stored codebook (the standard serving trade —
    * codebooks retrain on a slow cadence, code appends are cheap and
    * exact under the current codebook; append-then-serve equals
    * serving union codes under the old codebook by construction).
    * Same disjoint-ids contract as [[appendLsh]].
    */
  def appendPq(spark: SparkSession, newEmb: DataFrame, indexDir: String,
               mutationId: Option[String] = None): Unit =
    appendCommitted(spark, indexDir, mutationId) {
      val codebooks = readCodebooks(spark, indexDir)
      write(VectorOps.pqEncode(spark, newEmb, codebooks, dimOf(codebooks))
        .withColumn("from_append", lit(true)), pqCodesDir(indexDir),
        SaveMode.Append)
    }
}
