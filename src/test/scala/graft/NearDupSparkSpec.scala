package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{TextOps, VectorOps}

/** Near-dup operator guarantees at the Spark level: planted-pair
  * recall, EXACT pigeonhole recall for simhash, the no-text-broadcast
  * plan shape of the minhash verify stage, and the hot-bucket bounds
  * that keep a skewed corpus from going quadratic.
  */
class NearDupSparkSpec extends AnyFunSuite with SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private def corpus: DataFrame =
    TextOps.corpusWithNearDups(TextOps.readDocs(spark, sfDir))

  test("dedupMinhash recovers every planted near-dup pair") {
    val planted = TextOps.readDocs(spark, sfDir)
      .filter(col("doc_id") % 10 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(planted.nonEmpty)
    val got = TextOps.dedupMinhash(spark, corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    planted.foreach { id =>
      assert(got.contains((id, id + 1000000L)), s"planted pair for doc $id missed")
    }
  }

  test("dedupMinhash verify stage never broadcasts a text-carrying relation") {
    // the regression this guards: broadcast(texts...) on the corpus
    // side of the verify join — at 100 TB that OOMs the driver. Only
    // the candidate ID set may carry an explicit broadcast hint.
    val analyzed = TextOps.dedupMinhash(spark, corpus).queryExecution.analyzed
    val badHints = analyzed.collect {
      case h: ResolvedHint if h.output.exists(a =>
        a.name.toLowerCase.contains("text")) => h
    }
    assert(badHints.isEmpty,
      s"broadcast hint carries text columns: ${badHints.map(_.output.map(_.name))}")
  }

  test("neardupSearch: every query recovers its planted mirror; self excluded; no text broadcast") {
    val sp = spark; import sp.implicits._
    val queries = corpus.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("query_id"), col("text"))
    val res = TextOps.neardupSearch(spark, corpus, queries)
    val got = res.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // no self matches, all results clear the floor
    assert(got.forall { case (q, d, j) => q != d && j >= 700L })
    // each planted query (base doc with a +1e6 mirror, or the mirror
    // itself) finds its partner
    val qids = queries.select("query_id").as[Long].collect()
    qids.foreach { q =>
      val partner = if (q >= 1000000L) q - 1000000L
                    else if (q % 10 == 0) q + 1000000L else -1L
      if (partner >= 0)
        assert(got.exists { case (qq, d, _) => qq == q && d == partner },
          s"query $q missed partner $partner")
    }
    // the serve chain inherits the no-text-broadcast discipline
    val badHints = res.queryExecution.analyzed.collect {
      case h: ResolvedHint if h.output.exists(_.name.toLowerCase.contains("text")) => h
    }
    assert(badHints.isEmpty)
  }

  test("dedupSimhash equals brute-force Hamming<=3 (pigeonhole recall 1)") {
    val docs = corpus.select(col("doc_id").cast("long"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val sigs = docs.map { case (id, t) => (id, TextOps.simhash(t)) }
    val expected = (for {
      (a, sa) <- sigs; (b, sb) <- sigs
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b, java.lang.Long.bitCount(sa ^ sb))).toSet
    val got = TextOps.dedupSimhash(spark, corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.get(2).toString.toInt)).toSet
    assert(got == expected, s"got ${got.size} pairs, expected ${expected.size}")
    assert(expected.nonEmpty, "fixture should contain at least one close pair")
  }

  test("dedupSimhash maxHamming > 3: segment count scales, brute-force equality holds") {
    val docs = TextOps.corpusWithNearDups(TextOps.readDocs(spark, sfDir))
    val got = TextOps.dedupSimhash(spark, docs, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force over all pairs at Hamming <= 6 (pigeonhole with 7
    // segments must lose nothing)
    val sigs = docs.selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "text")
      .collect().map(r => (r.getLong(0), TextOps.simhash(r.getString(1))))
    val want = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 6
    } yield (a, b, h.toLong)).toSet
    assert(want.nonEmpty && got == want)
  }

  test("dedupSimhash hot-bucket cap: degenerate corpus stays bounded, distinct pair still found") {
    val s = spark
    import s.implicits._
    // 1000 IDENTICAL short docs (one degenerate (seg,segval) bucket per
    // segment — quadratic without the cap) + one unique near-dup pair
    val spam = (0L until 1000L).map(i => (i, "spam spam spam spam"))
    val pairText = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = (spam ++ Seq((2000L, pairText), (2001L, pairText)))
      .toDF("doc_id", "text")
    val out = TextOps.dedupSimhash(spark, docs, maxBucket = 100).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the spam mass is capped out (no quadratic pair set); the unique
    // pair lives in cnt=2 buckets and is found
    assert(out == Set((2000L, 2001L)), s"got $out")
  }

  test("dedupEmbedding hot-bucket cap: identical-vector mass bounded, planted pair found") {
    val s = spark
    import s.implicits._
    val dim = 64
    // 500 identical vectors pointing one way; a planted near-identical
    // pair pointing the OPPOSITE way (guaranteed different sign bucket
    // in every band: bit 0 flips with the sign of component 0)
    val mass = Array.fill(dim)(0.0f).updated(0, -1000.0f).toSeq
    val a = Array.fill(dim)(0.0f).updated(0, 1000.0f).toSeq
    val b = a.updated(1, 0.5f)
    val rows = (0L until 500L).map(i => (i, mass)) ++ Seq((2000L, a), (2001L, b))
    val emb = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val out = VectorOps.dedupEmbedding(spark, emb,
        minSimMicro = 900000L, maxBucket = 50).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((2000L, 2001L)), s"got $out")
  }

  test("semDedup: planted copies marked dup-of-source, kept set strict, co-clustered") {
    val emb = VectorOps.corpusWithSemDups(VectorOps.readEmbeddings(spark, sfDir))
    val out = VectorOps.semDedup(spark, emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byId = out.map(t => t._1 -> t).toMap
    val planted = out.filter(_._1 >= VectorOps.SemDupCopyShift)
    assert(planted.nonEmpty)
    planted.foreach { case (id, cell, dupOf, sim) =>
      val src = id - VectorOps.SemDupCopyShift
      // a VERBATIM copy: same cluster as its source, flagged as its dup
      assert(dupOf == src, s"copy $id dup_of=$dupOf, want $src")
      assert(cell == byId(src)._2, s"copy $id not co-clustered with $src")
      assert(sim >= VectorOps.SemDedupMinSimMicro)
    }
    // STRICT selection (the oracle can only prove cross-engine
    // agreement): sources and the non-copied majority are KEPT
    val kept = out.filter(_._3 == -1L)
    assert(kept.length == out.length - planted.length,
      "only the planted copies may be flagged at the 0.6 floor on this corpus")
    // deterministic across runs
    val again = VectorOps.semDedup(spark, emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == again.toSeq)
  }

  test("semDedup: degenerate-cluster cap bounds identical-vector mass") {
    val s = spark
    import s.implicits._
    val dim = 64
    val v = Array.fill(dim)(0.0f).updated(0, 1000.0f).toSeq
    val rows = (0L until 12L).map(i => (i, v))
    val emb = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    // cap below the cluster size: the pair join is skipped entirely
    val capped = VectorOps.semDedup(spark, emb, k = 2, iters = 1, maxCluster = 4)
      .collect().map(_.getLong(2))
    assert(capped.forall(_ == -1L), "capped cluster must produce no pairs")
    // cap above: ids 1..11 all collapse onto the min-id canonical 0
    val open = VectorOps.semDedup(spark, emb, k = 2, iters = 1, maxCluster = 100)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(open(0L) == -1L)
    (1L until 12L).foreach(i => assert(open(i) == 0L, s"vec $i dup_of=${open(i)}"))
  }

  test("decontaminateFuzzy: every eval doc hits its verbatim source; fuzzy hits exist; train side only") {
    val out = Queries.decontaminateFuzzyQ(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    // hits are TRAIN docs only
    assert(out.forall(_._2 < 4000001L))
    // each eval copy finds its verbatim source at jaccard 1000
    val evalIds = out.map(_._1).distinct
    evalIds.foreach { e =>
      val src = e - 4000001L
      assert(out.contains((e, src, 1000L)), s"eval $e missing source $src")
    }
    // the band geometry also surfaces genuinely FUZZY (non-verbatim)
    // leaks — the cases exact n-gram decontamination exists to miss
    assert(out.exists(t => t._3 < 1000L && t._3 >= 700L),
      "expected at least one non-verbatim near-dup leak")
  }

  test("annIvf: deterministic k-means, probed results agree with brute force on probed cells") {
    val emb = VectorOps.readEmbeddings(spark, sfDir)
    // centroids bit-reproducible across runs (integer k-means)
    val c1 = VectorOps.kmeansMilli(spark, emb)
    val c2 = VectorOps.kmeansMilli(spark, emb)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
    val ivf = VectorOps.annIvf(spark, emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(ivf.nonEmpty)
    // every query got results, ranks are 1..k' and sims non-increasing
    ivf.groupBy(_._1).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == (1L to sorted.length))
      assert(sorted.map(_._4).toSeq.reverse.sorted.reverse == sorted.map(_._4).toSeq,
        s"sims not non-increasing for query $q")
    }
    // IVF neighbors are a subset of the brute-force candidate space and
    // agree with brute-force sims bit-for-bit where they overlap
    val brute = VectorOps.annBrute(emb, nQueries = 10, k = 1000).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3))).toMap
    ivf.foreach { case (q, n, _, sim) =>
      assert(brute((q, n)) == sim, s"sim mismatch vs brute for ($q,$n)")
    }
  }

  test("dedupEmbedding recovers planted near-identical vectors on the sf corpus") {
    val emb = VectorOps.readEmbeddings(spark, sfDir)
    val out = VectorOps.dedupEmbedding(spark, emb, minSimMicro = 300000L)
    assert(out.count() > 0)
    // deterministic across runs
    val a = out.collect().toSeq
    val b = VectorOps.dedupEmbedding(spark, emb, minSimMicro = 300000L).collect().toSeq
    assert(a == b)
  }

  test("dupStatsFrom over a PERSISTED clustering equals the self-contained histogram") {
    // the 100 TB shape: cluster once, persist, derive the audit from
    // the stored table — must agree with the stateless query exactly
    val clusters = Queries.dupCluster(spark, sfDir)
    val tableDir = java.nio.file.Files.createTempDirectory("dupstats-table").toString
    clusters.write.mode("overwrite").parquet(tableDir)
    val fromTable = TextOps.dupStatsFrom(spark.read.parquet(tableDir))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val selfContained = Queries.dupStats(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(fromTable == selfContained)
    assert(fromTable.nonEmpty && fromTable.map(_._3).sum ==
      clusters.count(), "histogram doc mass must cover the corpus")
  }

  test("hostDupCensus: covers every base doc once; dup mass lands on host 0; permilles recompute") {
    val census = Queries.hostDupCensus(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val base = TextOps.readDocs(spark, sfDir).count()
    assert(census.map(_._2).sum == base, "every base doc in exactly one host row")
    census.foreach { case (_, n, d, pm) =>
      assert(d <= n && pm == d * 1000L / n)
    }
    // planted dup chains ride EVEN doc ids → host 0 carries them
    val h0 = census.find(_._1 == 0L).get
    assert(h0._4 > 0L, "host 0 must show duplication mass")
    // differential: recompute host 0's duped count from the clustering
    val clusters = Queries.dupCluster(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val expectDuped = clusters.count { case (id, size) =>
      id < 1000000L && id % 2 == 0 && size > 1L
    }.toLong
    assert(h0._3 == expectDuped)
  }

  test("dupWeightsFrom: weight is 10^6 DIV cluster_size per doc; duplicates genuinely downweighted") {
    val clusters = Queries.dupCluster(spark, sfDir)
    val byDoc = clusters.collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val weights = TextOps.dupWeightsFrom(clusters).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(weights.length == byDoc.size)
    weights.foreach { case (doc, size, w) =>
      assert(size == byDoc(doc))
      assert(w == 1000000L / size, s"doc=$doc size=$size")
    }
    // non-vacuity: the planted corpus has real multi-doc clusters, so
    // some weights are strictly below a singleton's 10^6
    assert(weights.exists(_._3 == 1000000L), "singletons must keep full weight")
    assert(weights.exists(_._3 < 1000000L), "duplicates must be downweighted")
    // per-cluster mass: summed weights never exceed one doc-mass and
    // miss it only by truncation (< cluster_size micro)
    val perCluster = TextOps.dupWeightsFrom(clusters)
      .groupBy(org.apache.spark.sql.functions.col("cluster_id"))
      .agg(org.apache.spark.sql.functions.sum("weight_micro").as("mass"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    perCluster.foreach { case (mass, n) =>
      assert(mass <= 1000000L && mass > 1000000L - n, s"mass=$mass n=$n")
    }
  }

  test("splitFrom: no duplicate cluster straddles train/holdout; doc-keyed split WOULD leak") {
    import org.apache.spark.sql.functions.{col, countDistinct, lit}
    val clusters = Queries.dupCluster(spark, sfDir)
    val split = TextOps.splitFrom(clusters)
    // the leakage-free contract: every cluster lands in exactly one split
    val straddlers = split.groupBy(col("cluster_id"))
      .agg(countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1).count()
    assert(straddlers == 0L, s"$straddlers clusters straddle the split boundary")
    // both splits populated, census covers the corpus, ~900 permille of
    // clusters train (hash admission: loose binomial bounds)
    val census = Queries.splitLeakfree(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(census.keySet == Set("train", "holdout"))
    assert(census.values.map(_._1).sum == clusters.count())
    val nClusters = census.values.map(_._2).sum
    val trainFrac = census("train")._2 * 1000 / nClusters
    assert(trainFrac > 800 && trainFrac < 980, s"train cluster permille $trainFrac")
    // non-vacuity: a DOC-keyed split would break at least one multi-doc
    // cluster across the boundary — the leak this operator exists to stop
    val docKeyed = clusters.withColumn("split",
      org.apache.spark.sql.functions.when(
        TextOps.unsignedMod1000(TextOps.splitmixCol(
          col("doc_id").cast("long").bitwiseXOR(lit(TextOps.SplitSeed)))) < 900,
        "train").otherwise("holdout"))
    val leaked = docKeyed.groupBy(col("cluster_id"))
      .agg(countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1).count()
    assert(leaked > 0L, "planted dup corpus must exhibit doc-keyed leakage")
    // deterministic
    assert(TextOps.splitFrom(clusters).collect().map(_.toString).sorted.toSeq ==
      split.collect().map(_.toString).sorted.toSeq)
  }
}
