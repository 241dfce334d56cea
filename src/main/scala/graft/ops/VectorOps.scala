package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.PageSource.splitmix64

/** Similarity search over the `embeddings` table (vec_id, embedding
  * ARRAY<FLOAT>, label).
  *
  * Scale design: the BRUTE-force top-k broadcasts the (small) query set
  * and makes ONE pass over the base table — no cartesian shuffle; the
  * dot product stays inside whole-stage codegen (`zip_with` +
  * `aggregate`, no UDF). The LSH variant buckets base vectors by
  * random-hyperplane sign bits so each query only scans its bucket —
  * the 100 TB path where even one full pass per query batch is too much.
  */
object VectorOps {

  def readEmbeddings(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/embeddings.parquet")

  /** Dot product of two ARRAY<FLOAT> columns in DOUBLE with a fixed
    * left-to-right fold (deterministic). Native codegen expression
    * ([[graft.functions.DotF64]]) — the aggregate-over-zip_with SQL
    * formulation is CodegenFallback and paid an interpreted fold plus
    * a zip-array allocation PER CANDIDATE PAIR on every ANN re-rank
    * path. Bit-identical values (same left fold, same null
    * semantics — asserted in FunctionsSpec); the DuckDB mirror
    * (list_reduce over list_prepend) is unchanged.
    */
  def dot(x: Column, y: Column): Column = {
    graft.functions.GraftExtensions.register(
      org.apache.spark.sql.SparkSession.active)
    call_function("dot_f64", x, y)
  }

  /** L2 norm of an ARRAY<FLOAT> column. Precompute ONCE per vector —
    * cosine per candidate pair is then a single fold + one divide
    * instead of three folds (3x less expression work in the join).
    */
  def l2norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine similarity between two ARRAY<FLOAT> columns. Prefer the
    * precomputed-norm form (dot(a,b)/(normA*normB)) in joins.
    */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / l2norm(a) / l2norm(b)

  /** Exact brute-force cosine top-k for a query set (vec_id < nQueries).
    * Deterministic tie-break on neighbor id.
    */
  def annBrute(emb: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame =
    annBruteBy(emb, col("vec_id") < nQueries, k)

  /** Same exact baseline with an arbitrary query predicate over
    * vec_id (the hybrid_rrf vector leg keys its query set off the
    * shared doc_id slice, not an id prefix). The query side carries
    * embeddings, so it rides a broadcast only under the bounded-batch
    * guard — a corpus-proportional predicate falls back to a plain
    * join (AQE decides) instead of forcing a multi-GB vector broadcast.
    */
  def annBruteBy(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val normed = emb.select(col("vec_id"), col("embedding"),
      l2norm(col("embedding")).as("norm"))
    val queries = normed.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
    val small = queries.limit(AnnIndex.BroadcastQueryLimit.toInt + 1).count() <=
      AnnIndex.BroadcastQueryLimit
    val scored = normed
      .select(col("vec_id").as("neighbor_id"), col("embedding"), col("norm"))
      .join(if (small) broadcast(queries) else queries,
        col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", dot(col("q_emb"), col("embedding")) / (col("norm") * col("q_norm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
        floor(col("sim") * 1000000.0).cast("long").as("sim_micro"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Deterministic random hyperplanes: nPlanes × dim, values in {-1,+1}
    * from splitmix64 — seed-fixed, no RNG state.
    */
  def hyperplanes(nPlanes: Int, dim: Int): Array[Array[Float]] =
    Array.tabulate(nPlanes) { p =>
      Array.tabulate(dim) { d =>
        if ((splitmix64(p.toLong * 131071L + d.toLong) & 1L) == 0L) -1.0f else 1.0f
      }
    }

  /** Sign-bit LSH bucket id for an embedding (pure Scala, used in a
    * typed map so the plane matrix lives once per partition).
    *
    * INTEGER-EXACT by design: each component contributes
    * ±floor(x·1000) (a Long), so the sign — hence the bucket — is
    * bit-reproducible across engines/summation orders, and the DuckDB
    * oracle can recompute it in pure SQL (the embed_stats trick).
    */
  def lshBucket(planes: Array[Array[Float]])(v: Seq[Float]): Int = {
    var bucket = 0
    var p = 0
    while (p < planes.length) {
      var s = 0L
      val plane = planes(p)
      val n = math.min(plane.length, v.length)
      var i = 0
      while (i < n) {
        val milli = math.floor(v(i).toDouble * 1000.0).toLong
        s += (if (plane(i) >= 0) milli else -milli)
        i += 1
      }
      if (s >= 0) bucket |= (1 << p)
      p += 1
    }
    bucket
  }

  /** One bucket id per band: band b uses planes [b·planesPerBand,
    * (b+1)·planesPerBand) — OR-amplified multi-band LSH (a pair is a
    * candidate if ANY band agrees), the MinHash-band analog for
    * embeddings.
    */
  def bandBuckets(planes: Array[Array[Float]], nBands: Int, planesPerBand: Int)
                 (v: Seq[Float]): Array[Int] =
    Array.tabulate(nBands) { b =>
      lshBucket(planes.slice(b * planesPerBand, (b + 1) * planesPerBand))(v)
    }

  /** The testdata query-set convention (vec_id < nQueries) as an
    * explicit (query_id, q_emb) relation.
    */
  private[ops] def queriesByIdPrefix(emb: DataFrame, nQueries: Int): DataFrame =
    emb.select(col("vec_id").cast("long").as("query_id"),
      col("embedding").as("q_emb")).filter(col("query_id") < nQueries)

  /** Exact-cosine top-k over candidate (query_id, neighbor_id) id
    * pairs against a query relation (query_id, q_emb) — the shared
    * re-rank tail of the candidate-generating ANN methods (annLsh,
    * annPq, annSq and their stored-index serve forms). query_ids need
    * not exist in the base (a matching base vec_id is excluded as the
    * trivial self-hit). ONE scoring contract: precomputed norms,
    * micro-floored similarity, (sim desc, neighbor asc) ties.
    * annBrute/annIvf keep their inline scoring (their candidates carry
    * vectors already — re-joining through here would add a pass), so a
    * contract change touches those two sites AND their SQL mirrors.
    */
  private[ops] def rerankExactQ(cand: DataFrame, emb: DataFrame,
                                queries: DataFrame, k: Int,
                                broadcastQ: Boolean = true): DataFrame = {
    val normed = emb.select(col("vec_id").cast("long").as("vec_id"), col("embedding"),
      l2norm(col("embedding")).as("norm"))
    val q = queries
      .select(col("query_id").cast("long").as("query_id"), col("q_emb"))
      .withColumn("q_norm", l2norm(col("q_emb")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    cand
      .join(normed.toDF("neighbor_id", "embedding", "norm"), Seq("neighbor_id"))
      .join(if (broadcastQ) broadcast(q) else q, Seq("query_id"))
      .withColumn("sim", dot(col("q_emb"), col("embedding")) / (col("norm") * col("q_norm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
        floor(col("sim") * 1000000.0).cast("long").as("sim_micro"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** (vec_id, band, bucket) rows of the multi-table sign-LSH index —
    * one row per (vector, table). This IS the LSH index relation: the
    * in-memory annLsh computes it inline; AnnIndex.buildLsh persists
    * it to parquet and serving reads it back.
    */
  private[ops] def lshBucketize(spark: SparkSession, df: DataFrame,
                                planes: Array[Array[Float]],
                                nTables: Int, planesPerTable: Int): DataFrame = {
    import spark.implicits._
    df.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val f = bandBuckets(planes, nTables, planesPerTable) _
        it.flatMap { case (id, v) =>
          val bs = f(v)
          bs.indices.map(t => (id, t, bs(t)))
        }
      }
      .toDF("vec_id", "band", "bucket")
  }

  /** Query an LSH bucket relation (in-memory or read from a stored
    * index) with the testdata query convention (vec_id < nQueries).
    */
  private[ops] def annLshFrom(spark: SparkSession, bucketed: DataFrame, emb: DataFrame,
                              nQueries: Int, k: Int, nTables: Int, planesPerTable: Int,
                              dim: Int, probeHamming: Int): DataFrame =
    annLshFromQ(spark, bucketed, emb, queriesByIdPrefix(emb, nQueries), k,
      nTables, planesPerTable, dim, probeHamming)

  /** General serving form: answer an ARBITRARY (query_id, q_emb)
    * relation against an LSH bucket relation — bucket ONLY the query
    * batch, explode the Hamming<=probeHamming probe masks, equi-join
    * ids-only, exact re-rank.
    */
  private[ops] def annLshFromQ(spark: SparkSession, bucketed: DataFrame, emb: DataFrame,
                               queries: DataFrame, k: Int, nTables: Int,
                               planesPerTable: Int, dim: Int, probeHamming: Int,
                               broadcastProbes: Boolean = true,
                               allowed: Option[DataFrame] = None): DataFrame = {
    require(probeHamming >= 0 && probeHamming <= 1, "probeHamming in {0,1}")
    val planes = hyperplanes(nTables * planesPerTable, dim)
    val masks = 0 +: (if (probeHamming == 0) Seq.empty[Int]
                      else (0 until planesPerTable).map(1 << _))
    val qprobes = lshBucketize(spark,
        queries.select(col("query_id").as("vec_id"), col("q_emb").as("embedding")),
        planes, nTables, planesPerTable)
      .select(col("vec_id").as("query_id"), col("band"),
        explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))

    // broadcast only for bounded request batches (AnnIndex enforces
    // the threshold); an unbounded query relation shuffle-joins instead
    val cand0 = bucketed
      .join(if (broadcastProbes) broadcast(qprobes) else qprobes, Seq("band", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    // filtered search: the allowed-id set gates candidates BEFORE the
    // distinct and the exact re-rank (a post-top-k filter would return
    // < k rows and lose recall). Ids-only LEFT SEMI with no broadcast
    // hint — a corpus-proportional filter set stays a shuffle join.
    val cand = allowed.fold(cand0)(a => cand0.join(
        a.select(col("vec_id").cast("long").as("neighbor_id")).distinct(),
        Seq("neighbor_id"), "left_semi"))
      .distinct()
    rerankExactQ(cand, emb, queries, k, broadcastQ = broadcastProbes)
  }

  /** Filtered ANN (in-memory form): multi-probe LSH top-k restricted
    * to an `allowed(vec_id)` id set — the "top-k among docs matching a
    * metadata predicate" request every production vector store serves
    * (lang = 'en', date range, licence tier). The filter gates the
    * CANDIDATE stream between the bucket join and the exact re-rank,
    * so ranks are computed WITHIN the allowed subset; queries
    * themselves need not be allowed. Scale shape: identical to annLsh
    * plus one ids-only semi-join (no broadcast hint — AQE decides), so
    * an arbitrarily large filter set costs one hash join on 8-byte
    * keys, never a vector-carrying relation.
    */
  def annLshFiltered(spark: SparkSession, emb: DataFrame, allowed: DataFrame,
                     nQueries: Int = 10, k: Int = 5, nTables: Int = 16,
                     planesPerTable: Int = 9, dim: Int = 64,
                     probeHamming: Int = 1): DataFrame = {
    val planes = hyperplanes(nTables * planesPerTable, dim)
    val bucketed = lshBucketize(spark, emb, planes, nTables, planesPerTable)
    annLshFromQ(spark, bucketed, emb, queriesByIdPrefix(emb, nQueries), k,
      nTables, planesPerTable, dim, probeHamming, allowed = Some(allowed))
  }

  /** Approximate top-k: bucket base and queries with sign-bit LSH, then
    * brute-force WITHIN the probed buckets (equi-join on (band,bucket) —
    * shuffle bounded by bucket sizes, no global pass per query at
    * scale).
    *
    * MULTI-TABLE + MULTI-PROBE (the two standard recall dials,
    * composed): nTables independent hash tables of planesPerTable sign
    * bits each (OR amplification — a neighbor is a candidate if ANY
    * table agrees), and within each table every query also probes the
    * buckets at Hamming distance <= probeHamming of its own (Lv et
    * al., VLDB'07). Candidate generation carries IDS ONLY — (vec_id,
    * band, bucket) rows into the equi-join, then a distinct on
    * (query_id, neighbor_id) — so vectors never ride the bucket join
    * or the distinct; embeddings re-join once per side for the single
    * cosine pass. Per-query work is bounded by the probed-bucket mass
    * (measured ~0.30 of the base for T=16, P=9 on this corpus), not a
    * full pass. Measured recall@5 on the synthetic corpus by ann_recall
    * (BENCH.md round 3): single-table single-probe 0.04-0.08
    * (r2) -> single-table multi-probe 0.34-0.48 (r3) -> this shape
    * 0.74-0.84 at a LOWER scan fraction (~0.30 vs 0.31). The ceiling
    * is data-limited, not structural: exact rank-5 cosine is only
    * 0.26-0.35 here (near-uniform sphere), so each sign bit agrees
    * with p ~= 0.59 — on real embedding corpora with tighter neighbors
    * the same shape probes far less for far more.
    */
  def annLsh(spark: SparkSession, emb: DataFrame, nQueries: Int = 10, k: Int = 5,
             nTables: Int = 16, planesPerTable: Int = 9, dim: Int = 64,
             probeHamming: Int = 1): DataFrame = {
    val planes = hyperplanes(nTables * planesPerTable, dim)
    val bucketed = lshBucketize(spark, emb, planes, nTables, planesPerTable)
    annLshFrom(spark, bucketed, emb, nQueries, k, nTables, planesPerTable, dim, probeHamming)
  }

  // -------------------------------------------------------------------
  // IVF (inverted-file) ANN: k-means coarse quantizer + probed search
  // -------------------------------------------------------------------

  /** Milli-quantized vector: ±floor(x·1000) per component — the
    * integer-exact representation all IVF arithmetic runs in, so
    * training and assignment are bit-reproducible across engines.
    */
  def milli(v: Seq[Float]): Array[Long] =
    v.map(x => math.floor(x.toDouble * 1000.0).toLong).toArray

  /** Squared L2 distance between milli vectors (exact integers). */
  def dist2(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Deterministic integer k-means (the IVF training step):
    *  - init: centroids = the vectors with vec_id 0..k-1;
    *  - assignment: argmin squared-L2 in exact milli integers, ties to
    *    the smaller centroid id;
    *  - update: per-component sum/count with JVM TRUNCATING division
    *    (== DuckDB integer `//`, which truncates toward zero — NOT
    *    floorDiv, which differs on negative non-divisible sums);
    *    empty cluster keeps its previous centroid;
    *  - FIXED iteration count — no convergence test, no RNG.
    * Centroids are tiny (k × dim longs): the per-iteration aggregate
    * collects k rows to the driver and re-broadcasts — the standard
    * k-means-on-Spark shape; the DATA never leaves executors.
    */
  def kmeansMilli(spark: SparkSession, emb: DataFrame, k: Int = 16,
                  iters: Int = 3): Array[Array[Long]] = {
    import spark.implicits._
    val vecs = emb.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])]
      .map { case (id, v) => (id, milli(v)) }
      .toDF("vec_id", "vm")
      .as[(Long, Array[Long])]
      .cache()
    var centroids: Array[Array[Long]] = vecs.filter(_._1 < k)
      .collect().sortBy(_._1).map(_._2)
    var it = 0
    while (it < iters) {
      val bc = spark.sparkContext.broadcast(centroids)
      val sums = vecs
        .map { case (_, vm) => (nearestCell(bc.value, vm), (vm.clone(), 1L)) }
        .groupByKey(_._1)
        .reduceGroups { (a, b) =>
          val (va, na) = a._2; val (vb, nb) = b._2
          val sum = new Array[Long](va.length)
          var i = 0
          while (i < va.length) { sum(i) = va(i) + vb(i); i += 1 }
          (a._1, (sum, na + nb))
        }
        .map { case (cid, (_, (sum, n))) => (cid, sum, n) }
        .collect()
      val next = centroids.map(_.clone())
      sums.foreach { case (cid, sum, n) =>
        // TRUNCATING division, not floorDiv: DuckDB's integer `//`
        // truncates toward zero (-7 // 2 = -3) while floorDiv floors
        // (-4) — caught by the sf0.001 oracle where a centroid
        // coordinate sum goes negative and non-divisible
        next(cid) = sum.map(s => s / n)
      }
      centroids = next
      bc.unpersist()
      it += 1
    }
    vecs.unpersist()
    centroids
  }

  /** Argmin centroid id for a milli vector — THE assignment rule every
    * IVF surface shares (training, in-memory search, the stored cell
    * relation, serve-time probes): exact integer squared-L2, ties to
    * the smaller centroid id by the strict `<` comparison.
    */
  private[graft] def nearestCell(cs: Array[Array[Long]], vm: Array[Long]): Int = {
    var best = 0
    var bestD = Long.MaxValue
    var c = 0
    while (c < cs.length) {
      val d = dist2(vm, cs(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** The nProbe coarse cells nearest a query — annIvf's probe rule as
    * a shared function: ascending (distance, cid), so ties go to the
    * smaller cell id. Distinct cells by construction.
    */
  private[graft] def probeCells(cs: Array[Array[Long]], nProbe: Int)
                               (v: Seq[Float]): Seq[Int] = {
    val vm = milli(v)
    cs.indices.map(c => (dist2(vm, cs(c)), c)).sorted.take(nProbe).map(_._2)
  }

  /** IVF probed search: assign base vectors to their coarse cell, probe
    * the nProbe cells nearest each query, exact cosine top-k WITHIN the
    * probed cells — the classic inverted-file recall/latency dial (at
    * 10^10 vectors each query touches nProbe/k of the base, not all of
    * it; the cell assignment is one map, the probe an equi-join).
    */
  def annIvf(spark: SparkSession, emb: DataFrame, nQueries: Int = 10, topK: Int = 5,
             k: Int = 16, iters: Int = 3, nProbe: Int = 2): DataFrame = {
    import spark.implicits._
    val centroids = kmeansMilli(spark, emb, k, iters)
    // NOT unpersisted here: the returned plan is lazy and re-reads the
    // broadcast on every execution; ContextCleaner reclaims it when the
    // plan is GC'd (kmeansMilli's per-iteration broadcasts, by
    // contrast, die inside the call and are released eagerly)
    val bc = spark.sparkContext.broadcast(centroids)

    val assigned = emb.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])]
      .mapPartitions { rows =>
        val cs = bc.value
        rows.map { case (id, v) => (id, v, nearestCell(cs, milli(v))) }
      }
      .toDF("vec_id", "embedding", "cell")
      .withColumn("norm", l2norm(col("embedding")))

    val probes = emb.select(col("vec_id").cast("long"), col("embedding"))
      .filter(col("vec_id") < nQueries)
      .as[(Long, Seq[Float])]
      .flatMap { case (id, v) =>
        // (distance, cid) ascending: ties to the smaller cid
        probeCells(bc.value, nProbe)(v).map(c => (id, v, c))
      }
      .toDF("query_id", "q_emb", "cell")
      .withColumn("q_norm", l2norm(col("q_emb")))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    assigned
      .select(col("vec_id").as("neighbor_id"), col("embedding"), col("norm"), col("cell"))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", dot(col("q_emb"), col("embedding")) / (col("norm") * col("q_norm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
        floor(col("sim") * 1000000.0).cast("long").as("sim_micro"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** (vec_id, cell) rows of the IVF coarse-cell assignment — the
    * STORED inverted-file relation (AnnIndex.buildIvf persists it; the
    * in-memory annIvf computes the same assignment inline, carrying the
    * embedding to skip a join). Assignment is [[nearestCell]] verbatim,
    * so a stored cell can never disagree with the in-memory one.
    */
  private[graft] def ivfAssign(spark: SparkSession, emb: DataFrame,
                               centroids: Array[Array[Long]]): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    emb.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])]
      .mapPartitions { rows =>
        val cs = bc.value
        rows.map { case (id, v) => (id, nearestCell(cs, milli(v))) }
      }
      .toDF("vec_id", "cell")
  }

  /** Query a STORED IVF cell relation (vec_id, cell, ...) with an
    * arbitrary (query_id, q_emb) relation: probe each query's nProbe
    * nearest cells ([[probeCells]] — the annIvf rule), equi-join the
    * cell relation ids-only, then the ONE shared exact re-rank
    * (rerankExactQ) — identical results to annIvf over the same
    * centroids (spec + the shared ann_ivf DuckDB mirror pin it).
    *
    * Serve-time scan pruning: for a BOUNDED request batch the distinct
    * probed cells are collected (≤ the centroid count, tiny) and pushed
    * into the stored relation's scan as an IN predicate — on the
    * (cell, salt)-clustered index files this prunes row groups exactly
    * like the lexical postings' IN(term,...) path, so a small batch
    * reads only its probed inverted lists, not the whole assignment
    * table. The filter only removes rows the equi-join would drop, so
    * results are identical with it on or off. The unbounded fallback
    * shuffle-joins with no driver-side collect and no IN filter.
    */
  private[graft] def annIvfFromQ(spark: SparkSession, cells: DataFrame,
                                 centroids: Array[Array[Long]], emb: DataFrame,
                                 queries: DataFrame, topK: Int, nProbe: Int,
                                 broadcastProbes: Boolean = true): DataFrame = {
    val cand = ivfCandidatesQ(spark, cells, centroids, queries, nProbe, broadcastProbes)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    rerankExactQ(cand, emb, queries, topK, broadcastQ = broadcastProbes)
  }

  /** The probed-cell candidate relation (query_id, vec_id) shared by
    * the IVF serving paths: probe each query's nProbe nearest cells,
    * IN-prune the stored cell relation for bounded batches, equi-join
    * ids-only, drop the trivial self-hit.
    */
  private def ivfCandidatesQ(spark: SparkSession, cells: DataFrame,
                             centroids: Array[Array[Long]], queries: DataFrame,
                             nProbe: Int, broadcastProbes: Boolean): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    val probes = queries
      .select(col("query_id").cast("long"), col("q_emb"))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.flatMap { case (id, v) => probeCells(cs, nProbe)(v).map(c => (id, c)) }
      }
      .toDF("query_id", "cell")
    val stored = cells.select(col("vec_id").cast("long"), col("cell"))
    val pruned =
      if (broadcastProbes) {
        val probed = probes.select(col("cell")).distinct().as[Int].collect()
        stored.filter(col("cell").isin(probed.toIndexedSeq.map(Int.box): _*))
      } else stored
    pruned
      .join(if (broadcastProbes) broadcast(probes) else probes, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
  }

  /** IVF-pruned PQ search — the composed billion-scale serving shape
    * (Jégou et al.'s IVFADC with a shared flat codebook instead of
    * per-cell residual books, so both legs stay oracle-recomputable):
    *
    *  - the coarse quantizer restricts each query to its nProbe
    *    inverted lists (candidate fan-out drops from Q×N to
    *    Q×N×nProbe/k — THE term that dominates at 10^10 vectors, where
    *    plain-PQ ADC still touches every code row per query);
    *  - the surviving candidates are scored by PQ ADC (m table lookups
    *    per pair, codes only — raw vectors untouched);
    *  - the ADC shortlist gets the ONE shared exact re-rank.
    *
    * Candidates join the code relation id-keyed (one shuffle bounded
    * by the probed mass); the ADC tables and probes broadcast only for
    * bounded request batches, mirroring the other serve paths. Results
    * compose the ann_ivf and ann_pq contracts exactly, so the DuckDB
    * mirror (OracleSqlGen.annIvfPq) is a pure composition of the two
    * existing mirror chains.
    */
  private[graft] def annIvfPqFromQ(spark: SparkSession, cells: DataFrame,
                                   centroids: Array[Array[Long]], codes: DataFrame,
                                   codebooks: Array[Array[Array[Long]]], emb: DataFrame,
                                   queries: DataFrame, topK: Int, nProbe: Int,
                                   shortlist: Int, dim: Int,
                                   broadcastProbes: Boolean = true): DataFrame = {
    import spark.implicits._
    val m = codebooks.length
    val sub = dim / m
    val cand = ivfCandidatesQ(spark, cells, centroids, queries, nProbe, broadcastProbes)
    val bc = spark.sparkContext.broadcast(codebooks)
    // per-query exact distance table to every codebook entry (m·k rows
    // per query — the annPqFromQ table, computed once per batch)
    val qd = queries
      .select(col("query_id").cast("long"), col("q_emb"))
      .as[(Long, Seq[Float])]
      .flatMap { case (id, v) =>
        val cbs = bc.value
        val vm = milli(v)
        for {
          s <- cbs.indices.iterator
          c <- cbs(s).indices.iterator
        } yield (id, s, c, dist2(vm.slice(s * sub, (s + 1) * sub), cbs(s)(c)))
      }
      .toDF("query_id", "s", "code", "d")
    val adc = cand
      .join(codes.select(col("vec_id").cast("long"), col("s"), col("code")), Seq("vec_id"))
      .join(if (broadcastProbes) broadcast(qd) else qd, Seq("query_id", "s", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d")).as("adc_dist"))
    val wShort = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
    val short = adc.withColumn("srank", row_number().over(wShort))
      .filter(col("srank") <= shortlist)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    rerankExactQ(short, emb, queries, topK, broadcastQ = broadcastProbes)
  }

  /** In-memory IVF+PQ with the testdata query convention: train both
    * quantizers (the SAME deterministic trainings as annIvf/annPq —
    * identical params reproduce identical centroids and codebooks),
    * assign + encode the base, then the composed probe→ADC→re-rank.
    */
  def annIvfPq(spark: SparkSession, emb: DataFrame, nQueries: Int = 10, topK: Int = 5,
               k: Int = 16, iters: Int = 3, nProbe: Int = 2, m: Int = 8,
               kCode: Int = 64, shortlist: Int = 100, dim: Int = 64): DataFrame = {
    val centroids = kmeansMilli(spark, emb, k, iters)
    val codebooks = pqTrain(spark, emb, m, kCode, iters, dim)
    annIvfPqFromQ(spark, ivfAssign(spark, emb, centroids), centroids,
      pqEncode(spark, emb, codebooks, dim), codebooks, emb,
      queriesByIdPrefix(emb, nQueries), topK, nProbe, shortlist, dim)
  }

  /** Cluster census over the embedding space (the domain-discovery /
    * mixing-diagnostics view): assign every vector to its deterministic
    * k-means cell (the IVF coarse quantizer reused as a clustering),
    * then report per-cell size, majority label and purity — the
    * numbers a curation pipeline reads to decide which embedding
    * regions are over/under-represented before reweighting. One
    * assignment map (centroids broadcast) + two hash aggregates; ties
    * on (count desc, label asc) so the census is engine-reproducible.
    */
  def embedCluster(spark: SparkSession, emb: DataFrame, k: Int = 16,
                   iters: Int = 3): DataFrame = {
    import spark.implicits._
    val centroids = kmeansMilli(spark, emb, k, iters)
    val bc = spark.sparkContext.broadcast(centroids)
    val assigned = emb.select(col("vec_id").cast("long"), col("embedding"),
        col("label").cast("long"))
      .as[(Long, Seq[Float], Long)]
      .mapPartitions { rows =>
        val cs = bc.value
        rows.map { case (id, v, label) => (id, nearestCell(cs, milli(v)), label) }
      }
      .toDF("vec_id", "cell", "label")
    val perLabel = assigned.groupBy(col("cell"), col("label"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("cell"))
      .orderBy(col("n").desc, col("label").asc)
    perLabel
      .withColumn("rn", row_number().over(w))
      .withColumn("n_vecs", sum(col("n")).over(Window.partitionBy(col("cell"))))
      .filter(col("rn") === 1)
      .select(col("cell").cast("long").as("cell"),
        col("n_vecs").cast("long").as("n_vecs"),
        col("label").as("top_label"),
        expr("n * 1000 DIV n_vecs").cast("long").as("purity_permille"))
      .orderBy(col("cell"))
  }

  /** Seed for cluster-balanced sampling admission (mirrored unsigned
    * in OracleSqlGen.clusterSample).
    */
  val ClusterSampleSeed = 0x5eedce11ba1aL

  /** Cluster-balanced sampling — the embedding-space analog of
    * mix_balance: cap every k-means cell's contribution at
    * `perCellBudget` vectors with deterministic hash-threshold rates.
    * rate_permille(cell) = min(1000, perCellBudget·1000 / n_cell)
    * (truncating); a vector is admitted iff
    * splitmix64(vec_id xor seed) unsigned mod 1000 < rate — the
    * diversity lever a curation pipeline pulls when one embedding
    * region dominates the corpus (over-represented cells thin toward
    * the budget, sparse cells pass whole), reproducible across
    * runs/engines with no RNG state. Returns the per-cell census
    * (cell, n_vecs, rate_permille, n_sampled). Scale shape: one
    * assignment map under broadcast centroids, a k-row census
    * broadcast back, a codegen splitmix scan filter, and a k-row
    * final aggregate — no data-sized shuffle at any corpus size.
    */
  def clusterSample(spark: SparkSession, emb: DataFrame, k: Int = 16,
                    iters: Int = 3, perCellBudget: Long = 24L): DataFrame = {
    graft.functions.GraftExtensions.register(spark)
    val centroids = kmeansMilli(spark, emb, k, iters)
    val assigned = ivfAssign(spark, emb, centroids)
    val rates = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"))
      .withColumn("rate_permille",
        least(lit(1000L), expr(s"${perCellBudget} * 1000 DIV n_vecs")))
    val h = TextOps.splitmixCol(col("vec_id").cast("long")
      .bitwiseXOR(lit(ClusterSampleSeed)))
    assigned.join(broadcast(rates), Seq("cell"))
      .withColumn("admit", TextOps.unsignedMod1000(h) < col("rate_permille"))
      .groupBy(col("cell"), col("n_vecs"), col("rate_permille"))
      .agg(sum(when(col("admit"), 1L).otherwise(0L)).as("n_sampled"))
      .select(col("cell").cast("long").as("cell"),
        col("n_vecs").cast("long").as("n_vecs"),
        col("rate_permille").cast("long").as("rate_permille"),
        col("n_sampled").cast("long").as("n_sampled"))
      .orderBy(col("cell"))
  }

  // -------------------------------------------------------------------
  // PQ (product quantization): compressed-code ADC search + re-rank
  // -------------------------------------------------------------------

  /** Deterministic per-subspace integer k-means (PQ codebook training,
    * Jégou et al. TPAMI'11): the vector space splits into m contiguous
    * dim/m-component subspaces, each trained with the same integer
    * k-means discipline as [[kmeansMilli]] (init = subvectors of the
    * first k vectors; exact milli arithmetic; TRUNCATING division ==
    * DuckDB `//`; fixed iteration count, no RNG). One data pass per
    * iteration trains ALL m codebooks (keyed aggregate on (subspace,
    * cell)); only m·k·(dim/m) longs ever reach the driver.
    * Returns codebooks(s)(cid)(component).
    */
  def pqTrain(spark: SparkSession, emb: DataFrame, m: Int = 8, k: Int = 16,
              iters: Int = 3, dim: Int = 64): Array[Array[Array[Long]]] = {
    import spark.implicits._
    val sub = dim / m
    val vecs = emb.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])]
      .map { case (id, v) => (id, milli(v)) }
      .toDF("vec_id", "vm")
      .as[(Long, Array[Long])]
      .cache()
    val init = vecs.filter(_._1 < k).collect().sortBy(_._1).map(_._2)
    var codebooks: Array[Array[Array[Long]]] =
      Array.tabulate(m)(s => init.map(_.slice(s * sub, (s + 1) * sub)))
    var it = 0
    while (it < iters) {
      val bc = spark.sparkContext.broadcast(codebooks)
      val sums = vecs
        .flatMap { case (_, vm) =>
          val cbs = bc.value
          (0 until m).iterator.map { s =>
            val sv = vm.slice(s * sub, (s + 1) * sub)
            var best = 0
            var bestD = Long.MaxValue
            var c = 0
            while (c < cbs(s).length) {
              val d = dist2(sv, cbs(s)(c))
              if (d < bestD) { bestD = d; best = c }
              c += 1
            }
            ((s, best), (sv, 1L))
          }
        }
        .groupByKey(_._1)
        .reduceGroups { (a, b) =>
          val (va, na) = a._2; val (vb, nb) = b._2
          val sum = new Array[Long](va.length)
          var i = 0
          while (i < va.length) { sum(i) = va(i) + vb(i); i += 1 }
          (a._1, (sum, na + nb))
        }
        .map { case ((s, cid), (_, (sum, n))) => (s, cid, sum, n) }
        .collect()
      val next = codebooks.map(_.map(_.clone()))
      sums.foreach { case (s, cid, sum, n) =>
        next(s)(cid) = sum.map(_ / n) // truncating: mirrors DuckDB //
      }
      codebooks = next
      bc.unpersist()
      it += 1
    }
    vecs.unpersist()
    codebooks
  }

  /** PQ approximate top-k with asymmetric-distance (ADC) shortlist +
    * exact re-rank — the memory-bound scale path for similarity search
    * (the IVF-PQ serving shape without the coarse stage):
    *
    *  - base vectors compress to m sub-codes (m·log2(k)/8 bytes each —
    *    here 8 codes ≈ 4-8 bytes vs 256 bytes of raw floats), the
    *    representation the scan actually touches at 10^10 vectors;
    *  - each query computes its EXACT integer distance table to all
    *    m·k codebook entries (tiny; broadcast), so per-candidate ADC
    *    distance is a sum of m table lookups — an equi-join on
    *    (subspace, code) plus a partially-aggregated sum, never a
    *    full-vector read;
    *  - the top `shortlist` candidates by ADC are re-ranked with ONE
    *    exact cosine pass (the standard two-stage serving plan), which
    *    also heals most quantization error: recall@5 is then bounded
    *    by the shortlist, not the 4-bit codes.
    *
    * All arithmetic is exact (milli integers; ADC distances are exact
    * BIGINT sums), so the DuckDB oracle recomputes codebooks, codes,
    * shortlists and the final ranking bit-for-bit.
    */
  /** PQ sub-code relation (vec_id, s, code) — the compressed
    * representation the ADC scan touches. This IS (half of) the PQ
    * index: AnnIndex.buildPq persists it (with the codebooks) and
    * serving reads it back instead of re-encoding the base.
    */
  private[graft] def pqEncode(spark: SparkSession, emb: DataFrame,
                            codebooks: Array[Array[Array[Long]]], dim: Int): DataFrame = {
    import spark.implicits._
    val m = codebooks.length
    val sub = dim / m
    val bc = spark.sparkContext.broadcast(codebooks)
    emb.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])]
      .mapPartitions { rows =>
        val cbs = bc.value
        rows.flatMap { case (id, v) =>
          val vm = milli(v)
          (0 until cbs.length).iterator.map { s =>
            val sv = vm.slice(s * sub, (s + 1) * sub)
            var best = 0
            var bestD = Long.MaxValue
            var c = 0
            while (c < cbs(s).length) {
              val d = dist2(sv, cbs(s)(c))
              if (d < bestD) { bestD = d; best = c }
              c += 1
            }
            (id, s, best)
          }
        }
      }
      .toDF("vec_id", "s", "code")
  }

  /** PQ ADC shortlist + exact re-rank over a code relation (in-memory
    * or read from a stored index) and driver-held codebooks, with the
    * testdata query convention (vec_id < nQueries).
    */
  private[ops] def annPqFrom(spark: SparkSession, codes: DataFrame,
                             codebooks: Array[Array[Array[Long]]], emb: DataFrame,
                             nQueries: Int, k: Int, shortlist: Int, dim: Int): DataFrame =
    annPqFromQ(spark, codes, codebooks, emb, queriesByIdPrefix(emb, nQueries),
      k, shortlist, dim)

  /** General serving form: ADC shortlist + re-rank for an ARBITRARY
    * (query_id, q_emb) relation.
    */
  private[ops] def annPqFromQ(spark: SparkSession, codes: DataFrame,
                              codebooks: Array[Array[Array[Long]]], emb: DataFrame,
                              queries: DataFrame, k: Int, shortlist: Int,
                              dim: Int, broadcastProbes: Boolean = true): DataFrame = {
    import spark.implicits._
    val m = codebooks.length
    val sub = dim / m
    val bc = spark.sparkContext.broadcast(codebooks)
    // per-query exact distance table to every codebook entry (m·k rows
    // per query — broadcastable by construction)
    val qd = queries
      .select(col("query_id").cast("long"), col("q_emb"))
      .as[(Long, Seq[Float])]
      .flatMap { case (id, v) =>
        val cbs = bc.value
        val vm = milli(v)
        for {
          s <- cbs.indices.iterator
          c <- cbs(s).indices.iterator
        } yield (id, s, c, dist2(vm.slice(s * sub, (s + 1) * sub), cbs(s)(c)))
      }
      .toDF("query_id", "s", "code", "d")

    // ADC tables broadcast only for bounded request batches (AnnIndex
    // enforces the threshold); otherwise a shuffle join
    val adc = codes
      .join(if (broadcastProbes) broadcast(qd) else qd, Seq("s", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d")).as("adc_dist"))
    val wShort = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
    val short = adc.withColumn("srank", row_number().over(wShort))
      .filter(col("srank") <= shortlist)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    rerankExactQ(short, emb, queries, k, broadcastQ = broadcastProbes)
  }

  def annPq(spark: SparkSession, emb: DataFrame, nQueries: Int = 10, k: Int = 5,
            m: Int = 8, kCode: Int = 64, iters: Int = 3, shortlist: Int = 100,
            dim: Int = 64): DataFrame = {
    val codebooks = pqTrain(spark, emb, m, kCode, iters, dim)
    val codes = pqEncode(spark, emb, codebooks, dim)
    annPqFrom(spark, codes, codebooks, emb, nQueries, k, shortlist, dim)
  }

  // -------------------------------------------------------------------
  // SQ8 — per-dimension int8 scalar quantization (the memory tier
  // between the exact float scan and PQ: 4x smaller vectors, one code
  // per DIMENSION so reconstruction error is per-element bounded and
  // recall is near-exact; FAISS's SQ8 shape)
  // -------------------------------------------------------------------

  /** SQ8 train: per-dimension (min, max) of the milli-fixed-point
    * values over the base — ONE partial-aggregate pass (d longs per
    * partition to the driver, no shuffle; the kmeansMilli precedent).
    * Integer-exact, so the DuckDB oracle recomputes it bit-for-bit.
    */
  def sqTrain(spark: SparkSession, emb: DataFrame,
              dim: Int = 64): (Array[Long], Array[Long]) = {
    import spark.implicits._
    val parts = emb.select(col("embedding")).as[Seq[Float]]
      .mapPartitions { it =>
        val mn = Array.fill(dim)(Long.MaxValue)
        val mx = Array.fill(dim)(Long.MinValue)
        var any = false
        it.foreach { v =>
          any = true
          val m = milli(v)
          var i = 0
          val n = math.min(dim, m.length)
          while (i < n) {
            if (m(i) < mn(i)) mn(i) = m(i)
            if (m(i) > mx(i)) mx(i) = m(i)
            i += 1
          }
        }
        if (any) Iterator.single((mn.toSeq, mx.toSeq)) else Iterator.empty
      }
      .collect()
    require(parts.nonEmpty, "sqTrain: empty embedding relation")
    val mins = Array.fill(dim)(Long.MaxValue)
    val maxs = Array.fill(dim)(Long.MinValue)
    parts.foreach { case (mn, mx) =>
      var i = 0
      while (i < dim) {
        if (mn(i) < mins(i)) mins(i) = mn(i)
        if (mx(i) > maxs(i)) maxs(i) = mx(i)
        i += 1
      }
    }
    (mins, maxs)
  }

  /** SQ8 encode: code_i = clamp_255((m_i - min_i) * 255 / rng_i) with
    * rng_i = max(1, max_i - min_i). All-integer; JVM truncating `/`
    * matches DuckDB `//` (both toward zero — the numerator is
    * non-negative for training vectors, and the clamp equalizes any
    * out-of-range serve-time vector on both engines).
    */
  def sqEncode(spark: SparkSession, emb: DataFrame,
               mins: Array[Long], maxs: Array[Long]): DataFrame = {
    import spark.implicits._
    val ranges = mins.indices.map(i => math.max(1L, maxs(i) - mins(i))).toArray
    val bc = spark.sparkContext.broadcast((mins, ranges))
    emb.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val (mn, rng) = bc.value
        it.map { case (id, v) =>
          val m = milli(v)
          val n = math.min(mn.length, m.length)
          val cs = new Array[Int](n)
          var i = 0
          while (i < n) {
            val c = (m(i) - mn(i)) * 255L / rng(i)
            cs(i) = math.max(0L, math.min(255L, c)).toInt
            i += 1
          }
          (id, cs.toSeq)
        }
      }
      .toDF("vec_id", "codes")
  }

  /** SQ8 ADC shortlist + exact re-rank for an ARBITRARY (query_id,
    * q_emb) relation: squared L2 in the 255-scaled milli space between
    * the query and each code's dequantization (min_i*255 + c_i*rng_i)
    * — one pass over the codes (4x fewer bytes than the float base),
    * then [[rerankExactQ]] on the shortlist only. The query batch is
    * collected and broadcast (BOUNDED request batches — same contract
    * as the serve queries; enforced), so the base never shuffles.
    * Magnitude bound: per-term (2^21)^2 ≈ 2^42, x4096 dims < 2^54 —
    * BIGINT-safe on both engines.
    */
  private[graft] def annSqFromQ(spark: SparkSession, codes: DataFrame,
                              mins: Array[Long], maxs: Array[Long],
                              emb: DataFrame, queries: DataFrame,
                              k: Int, shortlist: Int): DataFrame = {
    import spark.implicits._
    val ranges = mins.indices.map(i => math.max(1L, maxs(i) - mins(i))).toArray
    val qArr = queries.select(col("query_id").cast("long"), col("q_emb"))
      .as[(Long, Seq[Float])].collect()
      .map { case (id, v) => (id, milli(v).map(_ * 255L)) }
    require(qArr.length <= 65536,
      s"annSq: ${qArr.length} queries exceed the bounded-batch contract (65536)")
    val bc = spark.sparkContext.broadcast((qArr, mins.map(_ * 255L), ranges))
    val adc = codes.select(col("vec_id").cast("long"), col("codes"))
      .as[(Long, Seq[Int])]
      .mapPartitions { it =>
        val (qs, min255, rng) = bc.value
        it.flatMap { case (id, csSeq) =>
          val cs = csSeq.toArray
          qs.iterator.filter(_._1 != id).map { case (qid, qv) =>
            var s = 0L
            var i = 0
            val n = math.min(cs.length, math.min(qv.length, rng.length))
            while (i < n) {
              val d = qv(i) - (min255(i) + cs(i).toLong * rng(i))
              s += d * d
              i += 1
            }
            (qid, id, s)
          }
        }
      }
      .toDF("query_id", "vec_id", "adc_dist")
    val wShort = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
    val short = adc.withColumn("srank", row_number().over(wShort))
      .filter(col("srank") <= shortlist)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    rerankExactQ(short, emb, queries, k)
  }

  def annSq(spark: SparkSession, emb: DataFrame, nQueries: Int = 10,
            k: Int = 5, shortlist: Int = 100, dim: Int = 64): DataFrame = {
    val (mins, maxs) = sqTrain(spark, emb, dim)
    val codes = sqEncode(spark, emb, mins, maxs)
    annSqFromQ(spark, codes, mins, maxs, emb,
      queriesByIdPrefix(emb, nQueries), k, shortlist)
  }

  /** Recall@k of the approximate ANN methods against the exact
    * brute-force ground truth — the number a user tuning
    * nPlanes/nProbe/bands actually needs. Deterministic and fully
    * oracle-able: both sides are the already-mirrored top-k queries,
    * the metric is a semi-join hit count and an integer-exact
    * permille. At scale the ground truth is computed once on a sampled
    * query set (here: the same 10 queries all three methods use), so
    * the cost is one extra exact pass over the base — an offline
    * tuning job, not a serving-path op.
    */
  def annRecall(spark: SparkSession, emb: DataFrame,
                nQueries: Int = 10, k: Int = 5): DataFrame = {
    val nTotal = nQueries.toLong * k
    val exact = annBrute(emb, nQueries, k).select(col("query_id"), col("neighbor_id"))
    def row(method: String, approx: DataFrame): DataFrame =
      approx.select(col("query_id"), col("neighbor_id"))
        .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(method).as("method"), col("n_hits"),
          lit(nTotal).as("n_total"),
          expr(s"n_hits * 1000 DIV ${nTotal}L").cast("long").as("recall_milli"))
    row("ivf", annIvf(spark, emb, nQueries, k))
      .unionByName(row("lsh", annLsh(spark, emb, nQueries, k)))
      .unionByName(row("pq", annPq(spark, emb, nQueries, k)))
      .orderBy(col("method"))
  }

  /** Per-label vector stats with integer-exact norms (oracle-friendly):
    * sum over elements of floor(x*1000)² in BIGINT — float→double is
    * exact, so Spark and DuckDB agree bit-for-bit.
    */
  def embedStats(emb: DataFrame): DataFrame =
    emb.select(col("label"), col("vec_id"),
        aggregate(
          transform(col("embedding"),
            x => floor(x.cast("double") * 1000.0).cast("long") * floor(x.cast("double") * 1000.0).cast("long")),
          lit(0L), (acc, v) => acc + v).as("norm_milli2"),
        size(col("embedding")).cast("long").as("dim"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        min(col("dim")).as("min_dim"),
        max(col("dim")).as("max_dim"),
        sum(col("norm_milli2")).as("sum_norm_milli2"),
        min(col("vec_id")).as("min_vec_id")
      )
      .orderBy(col("label"))

  /** Embedding-cosine near-duplicate pairs above a similarity floor,
    * restricted to multi-band LSH candidates (the scale path for
    * embedding near-dedup; deterministic output ordering).
    *
    * Scale shape, mirroring dedupMinhash:
    *  - AND/OR amplification: nBands buckets per vector (8 sign bits
    *    each) — candidates = pairs agreeing on ANY band, so recall does
    *    not depend on one 2^8 partition of the sphere;
    *  - hot-bucket bound: per-(band,bucket) window count skips buckets
    *    > maxBucket BEFORE the self-join, so no bucket goes quadratic;
    *  - candidate ids are deduped FIRST (ids only through distinct),
    *    then the embeddings semi-join back for the one cosine verify —
    *    vectors never ride through the distinct, and no broadcast of
    *    the full embeddings relation anywhere.
    */
  def dedupEmbedding(spark: SparkSession, emb: DataFrame, minSimMicro: Long = 950000L,
                     nBands: Int = 4, planesPerBand: Int = 8, dim: Int = 64,
                     maxBucket: Int = 4096): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val planes = hyperplanes(nBands * planesPerBand, dim)
    val bucketed = emb.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val f = bandBuckets(planes, nBands, planesPerBand) _
        it.map { case (id, v) => (id, f(v)) }
      }
      .toDF("vec_id", "buckets")
      .select(col("vec_id"), posexplode(col("buckets")).as(Seq("band", "bucket")))

    val w = Window.partitionBy(col("band"), col("bucket"))
    val bounded = bucketed
      .withColumn("cnt", count(lit(1)).over(w))
      .filter(col("cnt") >= 2 && col("cnt") <= maxBucket)
      .drop("cnt")

    val pairs = bounded.as("x").join(bounded.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()

    val candIds = pairs.select(col("vec_a").as("vec_id"))
      .unionByName(pairs.select(col("vec_b").as("vec_id"))).distinct()
    val candVecs = emb.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .join(broadcast(candIds), Seq("vec_id"), "left_semi")
      .withColumn("norm", l2norm(col("embedding")))

    pairs
      .join(candVecs.toDF("vec_a", "emb_a", "norm_a"), "vec_a")
      .join(candVecs.toDF("vec_b", "emb_b", "norm_b"), "vec_b")
      .withColumn("sim_micro",
        floor(dot(col("emb_a"), col("emb_b"))
          / (col("norm_a") * col("norm_b")) * 1000000.0).cast("long"))
      .filter(col("sim_micro") >= minSimMicro)
      .select(col("vec_a"), col("vec_b"), col("sim_micro"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  // -------------------------------------------------------------------
  // Embedding-space eval decontamination
  // -------------------------------------------------------------------

  /** Eval-slice modulus + similarity floor for decontaminate_embed
    * (public: the oracle embeds both). ONE constant pair for the
    * Spark call and the SQL mirror.
    */
  val DecontamEvalEvery = 53L
  val DecontamMinSimMicro = 400000L

  /** Embedding-space decontamination — the semantic sibling of the
    * n-gram [[TextOps.decontaminate]]: a training doc is contaminated
    * if its embedding lies within cosine `minSimMicro/1e6` of ANY
    * eval-set embedding (paraphrased benchmark leakage that n-gram
    * overlap misses). Emits per contaminated doc the hit count, the
    * max similarity (micro-floored, integer-exact) and the closest
    * eval id (ties to the smaller id via the max-struct trick).
    * The eval slice here is `vec_id % DecontamEvalEvery == 0` — evals
    * drawn from the corpus itself, so every slice member self-flags at
    * ~1.0 (the planted truth) alongside genuine near matches.
    *
    * Scale shape: the eval set is benchmark-sized (thousands), the
    * corpus is not — eval rides a broadcast under the SAME bounded
    * guard as [[annBruteBy]] (never an unbounded vector broadcast),
    * the corpus is scanned ONCE, and the only shuffle is the
    * contaminated-ids aggregate (hit rows only, never vectors).
    */
  def decontaminateEmbed(emb: DataFrame,
                         evalEvery: Long = DecontamEvalEvery,
                         minSimMicro: Long = DecontamMinSimMicro): DataFrame = {
    val normed = emb.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding"), l2norm(col("embedding")).as("norm"))
    val evals = normed.filter(col("vec_id") % evalEvery === 0)
      .select(col("vec_id").as("eval_id"), col("embedding").as("e_emb"),
        col("norm").as("e_norm"))
    val small = evals.limit(AnnIndex.BroadcastQueryLimit.toInt + 1).count() <=
      AnnIndex.BroadcastQueryLimit
    normed
      .join(if (small) broadcast(evals) else evals, lit(true))
      .withColumn("sim", dot(col("embedding"), col("e_emb"))
        / (col("norm") * col("e_norm")))
      .withColumn("sim_micro", floor(col("sim") * 1000000.0).cast("long"))
      .filter(col("sim_micro") >= minSimMicro)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).cast("long").as("n_hits"),
        max(struct(col("sim_micro").as("sm"), (-col("eval_id")).as("nid"))).as("m"))
      .select(col("vec_id"), col("n_hits"),
        col("m.sm").as("max_sim_micro"),
        (-col("m.nid")).cast("long").as("top_eval_id"))
      .orderBy(col("vec_id"))
  }

  // -------------------------------------------------------------------
  // SemDeDup — cluster-then-pair semantic dedup
  // -------------------------------------------------------------------

  /** Planted semantic-dup corpus for [[semDedup]]: every
    * [[SemDupEvery]]th vector reappears VERBATIM at
    * vec_id + [[SemDupCopyShift]] — the re-embedded re-post /
    * re-crawled page whose embedding is (near-)identical to its
    * source, which is exactly the redundancy SemDeDup exists to
    * remove. Mirrored arithmetically in the semdedup oracle.
    */
  val SemDupEvery = 10L
  val SemDupCopyShift = 1000000L
  def corpusWithSemDups(emb: DataFrame): DataFrame =
    emb.unionByName(
      emb.filter(col("vec_id") % SemDupEvery === 0)
        .withColumn("vec_id", col("vec_id") + lit(SemDupCopyShift)))

  /** Similarity floor and degenerate-cluster cap for [[semDedup]]
    * (public: the oracle embeds both — change one side → change both).
    */
  val SemDedupMinSimMicro = 600000L
  val SemDedupMaxCluster = 4096

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication"): k-means the
    * embedding space, then look for high-cosine pairs ONLY within
    * each cluster — the O(N²) pair search becomes O(N²/k) and each
    * cluster's search is an independent task. A vector is a duplicate
    * iff some SMALLER-id vector in its cluster clears the cosine
    * floor; `dup_of` is the argmax-similarity such keeper (ties to
    * the smaller id — the [[decontaminateEmbed]] struct-max rule), so
    * the kept canonical is the min id of each dup chain, the same
    * deterministic canonical every dedup op in this engine uses (the
    * paper keeps the vector farthest from the centroid; min-id is the
    * engine-wide reproducible choice and changes nothing about WHAT
    * is removed, only which member represents the group).
    *
    * Relation to [[dedupEmbedding]]: that op amplifies recall with
    * multi-band LSH buckets (pair-oriented, threshold 0.95-ish);
    * SemDeDup trades bucket randomness for learned cluster structure
    * — at 10^10 vectors the cluster count k scales with N so cluster
    * sizes stay bounded, every within-cluster join is an equi-join on
    * cell, and no vector ever compares against another cluster.
    *
    * Scale shape (the dedupEmbedding discipline): cluster assignment
    * is one map under broadcast centroids; the pair self-join runs on
    * an IDS-ONLY (vec_id, cell) relation with a per-cell window cap
    * dropping degenerate clusters > maxCluster BEFORE the join; only
    * candidate ids semi-join their vectors back for the one cosine
    * verify — no vector-carrying relation is ever broadcast and no
    * cluster goes quadratic. (The `cnt >= 2` term is pair-neutral —
    * singleton clusters generate no x<y pairs — and just keeps
    * singleton rows out of the self-join input.)
    */
  def semDedup(spark: SparkSession, emb: DataFrame, k: Int = 16,
               iters: Int = 3, minSimMicro: Long = SemDedupMinSimMicro,
               maxCluster: Int = SemDedupMaxCluster): DataFrame = {
    val centroids = kmeansMilli(spark, emb, k, iters)
    val assigned = ivfAssign(spark, emb, centroids)
    val w = Window.partitionBy(col("cell"))
    val capped = assigned
      .withColumn("cnt", count(lit(1)).over(w))
      .filter(col("cnt") >= 2 && col("cnt") <= maxCluster)
      .drop("cnt")
    val pairs = capped.as("x").join(capped.as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("keep_id"), col("y.vec_id").as("vec_id"))
    val candIds = pairs.select(col("keep_id").as("vec_id"))
      .unionByName(pairs.select(col("vec_id"))).distinct()
    val candVecs = emb.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .join(broadcast(candIds), Seq("vec_id"), "left_semi")
      .withColumn("norm", l2norm(col("embedding")))
    val scored = pairs
      .join(candVecs.toDF("keep_id", "emb_a", "norm_a"), "keep_id")
      .join(candVecs.toDF("vec_id", "emb_b", "norm_b"), "vec_id")
      .withColumn("sim_micro",
        floor(dot(col("emb_a"), col("emb_b"))
          / (col("norm_a") * col("norm_b")) * 1000000.0).cast("long"))
      .filter(col("sim_micro") >= minSimMicro)
    val best = scored.groupBy(col("vec_id"))
      .agg(max(struct(col("sim_micro").as("sm"), (-col("keep_id")).as("nid"))).as("m"))
      .select(col("vec_id"), col("m.sm").as("best_sim"),
        (-col("m.nid")).cast("long").as("best_keep"))
    assigned
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        coalesce(col("best_keep"), lit(-1L)).cast("long").as("dup_of"),
        coalesce(col("best_sim"), lit(-1L)).cast("long").as("sim_micro"))
      .orderBy(col("vec_id"))
  }
}
