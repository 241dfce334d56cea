package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{SearchIndex, TextOps}

/** Daily-drop incremental curation: new content admits, every
  * duplicate class against prior drops rejects (url revisit, exact
  * copy, near-dup, transitive chains through the drop), re-ingesting
  * a drop is a no-op, and the final canonical corpus is dup-free by
  * the batch operators' own judgment.
  */
class IncrementalCurateSpec extends AnyFunSuite with SparkSuite {

  // >= 16 distinct words so the near-dup mutation (drop last word)
  // keeps Jaccard well above the 700-milli verify threshold
  private def textOf(tag: String): String =
    (0 until 16).map(k => s"${tag}w$k").mkString(" ")
  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
  private def write(rows: Seq[(String, String)], dir: String): Unit = {
    val sp = spark; import sp.implicits._
    rows.toDF("url", "text").write.mode("overwrite").parquet(dir)
  }

  test("drops dedup against state: url revisits, exact, near, transitive chains; idempotent re-drop") {
    val state = tmp("inc-state")

    // drop 1: ten fresh docs — all admit
    val d1 = (0 until 10).map(i => (s"https://inc.example/p/$i", textOf(s"a$i")))
    val d1Dir = tmp("inc-d1"); write(d1, d1Dir)
    val r1 = IncrementalCurate.ingestDrop(spark, d1Dir, state)
    assert(r1.nDrop == 10 && r1.nNewUrls == 10 && r1.nGated == 10)
    assert(r1.nStateLinked == 0 && r1.nAdmitted == 10 && r1.nCanonicalTotal == 10)

    // drop 2: 3 fresh docs + every duplicate class against drop 1:
    //  - url revisit (same url_norm, any text) -> filtered by urls
    //  - exact copy of a1 under a new url     -> sha edge to state
    //  - near-dup of a2 (last word dropped)   -> band edge to state
    //  - transitive chain: fresh text n1, its near-dup n1' (within
    //    drop), and n1'' = near-dup of BOTH n1' and old a3 — wait, keep
    //    it planted simply: chainA ~ chainB within the drop, and
    //    chainB ~ a3's text near-dup — so chainA must reject through
    //    the chain even though chainA itself never touches state
    val a3near = textOf("a3").split(' ').dropRight(1).mkString(" ")
    val d2 = Seq(
      ("https://inc.example/q/0", textOf("b0")),
      ("https://inc.example/q/1", textOf("b1")),
      ("https://inc.example/q/2", textOf("b2")),
      ("https://inc.example/p/4#frag", textOf("zz")), // url revisit of p/4
      ("https://inc.example/q/exact", textOf("a1")), // exact copy of a1
      ("https://inc.example/q/near", textOf("a2").split(' ').dropRight(1).mkString(" ")),
      ("https://inc.example/q/chainB", a3near), // near-dups a3 AND chainA
      ("https://inc.example/q/chainA", a3near.split(' ').dropRight(1).mkString(" "))
    )
    val d2Dir = tmp("inc-d2"); write(d2, d2Dir)
    val r2 = IncrementalCurate.ingestDrop(spark, d2Dir, state)
    assert(r2.nDrop == 8)
    assert(r2.nNewUrls == 7, "the p/4 revisit is already-processed by url_norm")
    assert(r2.nGated == 7)
    assert(r2.nAdmitted == 3, s"only b0,b1,b2 are new content, got ${r2.nAdmitted}")
    assert(r2.nStateLinked == 4, "exact + near + both chain members link to state")
    assert(r2.nCanonicalTotal == 13)
    val canon = spark.read.parquet(s"$state/canonical")
    val urls = canon.select("url_norm").collect().map(_.getString(0)).toSet
    assert(Seq("q/0", "q/1", "q/2").forall(q => urls.exists(_.contains(q))))
    assert(!urls.exists(_.contains("chain")) && !urls.exists(_.contains("q/exact")))

    // re-ingesting drop 2 is a no-op (url idempotence)
    val r2b = IncrementalCurate.ingestDrop(spark, d2Dir, state)
    assert(r2b.nNewUrls == 0 && r2b.nAdmitted == 0 && r2b.nCanonicalTotal == 13)

    // the final canonical corpus is dup-free by the BATCH operators'
    // own judgment: no exact edges, no verified near-dup edges
    val docs = canon.select(
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.col("text"))
    assert(TextOps.exactDupEdges(docs).count() == 0L)
    assert(TextOps.dedupMinhashEdges(spark, docs).count() == 0L)

    // determinism: replay both drops into a fresh state -> same corpus
    val state2 = tmp("inc-state2")
    IncrementalCurate.ingestDrop(spark, d1Dir, state2)
    IncrementalCurate.ingestDrop(spark, d2Dir, state2)
    val urls2 = spark.read.parquet(s"$state2/canonical")
      .select("url_norm").collect().map(_.getString(0)).toSet
    assert(urls2 == urls)
  }

  test("commit-log CDC ingest: exact deltas, exactly-once effect, log-reset fallback") {
    val sp = spark; import sp.implicits._
    val state = tmp("cdc-state")
    val table = tmp("cdc-table") + "/t"
    def commit(rows: Seq[(String, String)]): Unit =
      graft.pipeline.ParquetTableIO.appendCommit(rows.toDF("url", "text"), table)

    // two commits, one CDC ingest: BOTH ride the first delta
    commit((0 until 6).map(i => (s"https://cdc.example/p/$i", textOf(s"c$i"))))
    commit((6 until 10).map(i => (s"https://cdc.example/p/$i", textOf(s"c$i"))))
    val Some((seq1, r1)) = IncrementalCurate.ingestFromCommits(spark, table, state)
    assert(seq1 == 1L && r1.nDrop == 10 && r1.nAdmitted == 10)

    // nothing new -> None (no work, no state mutation)
    assert(IncrementalCurate.ingestFromCommits(spark, table, state).isEmpty)

    // commit 3: only the DELTA is processed (4 fresh + 1 exact dup of c0)
    commit(Seq(("https://cdc.example/p/dup", textOf("c0"))) ++
      (10 until 14).map(i => (s"https://cdc.example/p/$i", textOf(s"c$i"))))
    val Some((seq2, r2)) = IncrementalCurate.ingestFromCommits(spark, table, state)
    assert(seq2 == 2L && r2.nDrop == 5)
    assert(r2.nStateLinked == 1 && r2.nAdmitted == 4, s"delta-only: $r2")

    // crash AFTER drop commit, BEFORE checkpoint: wipe the checkpoint —
    // the replayed delta is all-known (admits 0), then seq advances
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$state/_cdc"), true)
    val Some((seqR, rR)) = IncrementalCurate.ingestFromCommits(spark, table, state)
    assert(seqR == 2L && rR.nAdmitted == 0, s"replay must admit nothing: $rR")
    assert(IncrementalCurate.ingestFromCommits(spark, table, state).isEmpty)

    // log RESET (the compaction swap shape): fresh genesis, seqs restart —
    // the stored log id mismatches, one idempotent full replay, admits 0
    fs.delete(new org.apache.hadoop.fs.Path(s"$table/_commits"), true)
    commit(Seq(("https://cdc.example/p/15", textOf("c15"))))
    val Some((seqZ, rZ)) = IncrementalCurate.ingestFromCommits(spark, table, state)
    assert(rZ.nAdmitted == 1, s"only the post-reset doc is new: $rZ")
    assert(IncrementalCurate.ingestFromCommits(spark, table, state).isEmpty)
    assert(seqZ >= 0L)
  }

  test("prefilterState: bloom probe fires in-plan, keeps every true match, byte-cap bypasses") {
    val sp = spark; import sp.implicits._
    graft.functions.GraftExtensions.register(spark)
    import org.apache.spark.sql.functions.col
    val state = (0L until 10000L).toDF("url_hash")
    val dropKeys = Seq(3L, 42L, 9999L, 123456789L).toDF("k")
    val filtered = IncrementalCurate.prefilterState(
      state, col("url_hash"), dropKeys, 4L, 0.001, 1L << 20)
    // analyzed, not optimized: over a LocalRelation the optimizer
    // constant-folds the whole filter away (ConvertToLocalRelation) —
    // itself proof the probe evaluates — but parquet-backed state (the
    // production shape) keeps it as a codegen filter above the scan
    val plan = filtered.queryExecution.analyzed.toString()
    assert(plan.contains("bloom_might_contain"), plan.linesIterator.take(5).mkString("\n"))
    val kept = filtered.collect().map(_.getLong(0)).toSet
    // no false negatives: every drop key present in state survives
    assert(Set(3L, 42L, 9999L).subsetOf(kept))
    // the sketch actually filters (fpp=1e-3 over 10k rows leaves ~ the
    // true matches, allow generous headroom)
    assert(kept.size < 1000, s"prefilter kept ${kept.size} of 10000")
    // byte cap / zero-n bypass: state returned unfiltered
    assert(IncrementalCurate.prefilterState(
      state, col("url_hash"), dropKeys, 4L, 0.001, 0L).count() == 10000L)
    assert(IncrementalCurate.prefilterState(
      state, col("url_hash"), dropKeys, 0L, 0.001, 1L << 20).count() == 10000L)
  }

  test("ingest with state prefilter disabled is result-identical (A/B over every dup class)") {
    val d1 = (0 until 10).map(i => (s"https://ab.example/p/$i", textOf(s"a$i")))
    val a3near = textOf("a3").split(' ').dropRight(1).mkString(" ")
    val d2 = Seq(
      ("https://ab.example/q/0", textOf("b0")),
      ("https://ab.example/p/4#frag", textOf("zz")),
      ("https://ab.example/q/exact", textOf("a1")),
      ("https://ab.example/q/near", textOf("a2").split(' ').dropRight(1).mkString(" ")),
      ("https://ab.example/q/chainB", a3near),
      ("https://ab.example/q/chainA", a3near.split(' ').dropRight(1).mkString(" ")))
    val d1Dir = tmp("ab-d1"); write(d1, d1Dir)
    val d2Dir = tmp("ab-d2"); write(d2, d2Dir)
    val stOn = tmp("ab-on"); val stOff = tmp("ab-off")
    val on = Seq(
      IncrementalCurate.ingestDrop(spark, d1Dir, stOn),
      IncrementalCurate.ingestDrop(spark, d2Dir, stOn))
    val off = Seq(
      IncrementalCurate.ingestDrop(spark, d1Dir, stOff, prefilterMaxBytes = 0L),
      IncrementalCurate.ingestDrop(spark, d2Dir, stOff, prefilterMaxBytes = 0L))
    assert(on == off)
    def canon(st: String) = spark.read.parquet(s"$st/canonical")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1).toSeq
    assert(canon(stOn) == canon(stOff))
  }

  /** The three-drop chain: drops 0 and 1 are four fresh docs each;
    * drop 2 plants an exact and a near copy of drop-1 docs, a drop-1
    * url revisit and one fresh doc.
    */
  private def chainDrop(k: Int): Seq[(String, String)] =
    if (k < 2) (0 until 4).map(i => (s"https://chain.example/p$k/$i", textOf(s"g$k$i")))
    else Seq(
      ("https://chain.example/p2/exact", textOf("g12")), // exact copy of drop-1 doc
      ("https://chain.example/p2/near", // near-dup of drop-1 doc
        textOf("g13").split(' ').dropRight(1).mkString(" ")),
      ("https://chain.example/p1/0#f", textOf("fresh0")), // url revisit of drop-1 url
      ("https://chain.example/p2/new", textOf("fresh1")))

  test("drop k+2 dedups against content ADMITTED in drop k+1 (state appends are lineage-safe)") {
    // Regression: the state appends used to invalidate the cached
    // `admitted` plan (its lineage reads every state dir), and the
    // recomputation mid-append-sequence self-tainted the drop to
    // empty — the bands (and in other orderings, shas) append wrote
    // ZERO rows for every drop after the first, so later drops could
    // not near-dup (or exact-dup) against drop >= 1 admissions. The
    // staged-write fix makes all four appends read only the staging
    // parquet. This test chains THREE drops: drop 2's planted dups
    // target docs admitted in drop 1, exercising exactly the state
    // rows the bug dropped.
    val state = tmp("inc-chain-state")
    val d0Dir = tmp("inc-chain-d0"); write(chainDrop(0), d0Dir)
    assert(IncrementalCurate.ingestDrop(spark, d0Dir, state).nAdmitted == 4)

    val d1Dir = tmp("inc-chain-d1"); write(chainDrop(1), d1Dir)
    assert(IncrementalCurate.ingestDrop(spark, d1Dir, state).nAdmitted == 4)
    // every admitted doc must have its band rows in state: 8 docs
    val bandRows = spark.read.parquet(s"$state/bands")
      .select("doc_id").distinct().count()
    assert(bandRows == 8, s"state bands must cover ALL admitted docs, got $bandRows")

    // drop 2 dups target DROP 1 content (admitted into existing state)
    val d2Dir = tmp("inc-chain-d2"); write(chainDrop(2), d2Dir)
    val r2 = IncrementalCurate.ingestDrop(spark, d2Dir, state)
    assert(r2.nNewUrls == 3, "drop-1 url revisit filtered")
    assert(r2.nStateLinked == 2, s"exact+near against DROP-1 state, got ${r2.nStateLinked}")
    assert(r2.nAdmitted == 1, s"only the fresh doc admits, got ${r2.nAdmitted}")
    assert(r2.nCanonicalTotal == 9)
    // staging debris cleaned up
    assert(!new java.io.File(s"$state/_staging").exists())
  }

  test("an ingest against state scans shas/ and bands/ exactly once (state edges evaluated once)") {
    // Every executed plan of the drop-2 ingest is searched for file
    // scans of the state's lookup tables. The state edges feed the
    // component build, both report counts and the admitted set; each
    // re-evaluation would re-scan both tables.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val state = tmp("inc-once-state")
    val d1Dir = tmp("inc-once-d1"); write(chainDrop(1), d1Dir)
    assert(IncrementalCurate.ingestDrop(spark, d1Dir, state).nAdmitted == 4)
    val d2Dir = tmp("inc-once-d2"); write(chainDrop(2), d2Dir)

    val stateName = new java.io.File(state).getName
    val scans = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val helper = new AdaptiveSparkPlanHelper {}
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        helper.collect(qe.executedPlan) { case s: FileSourceScanExec => s.relation.location.rootPaths }
          .flatten
          .filter(_.getParent.getName == stateName)
          .foreach(p => scans.merge(p.getName, 1, (a: Integer, b: Integer) => a + b))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val r = IncrementalCurate.ingestDrop(spark, d2Dir, state)
      assert(r.nStateLinked == 2 && r.nAdmitted == 1, r.toString)
      // QueryExecutionListener delivery is async: poll until stable
      var last = ""; var stableFor = 0
      while (stableFor < 5) {
        val c = scans.toString
        if (c == last) stableFor += 1 else { stableFor = 0; last = c }
        Thread.sleep(100)
      }
      assert(scans.get("shas") == 1 && scans.get("bands") == 1,
        s"state table scans per ingest: $scans")
    } finally spark.listenerManager.unregister(listener)
  }

  test("drop-only components with state links as taint equal components over drop + old ids") {
    // The clustering a drop is judged by: components over its own
    // duplicate graph, tainted by the docs with a state link. Reference:
    // components over drop AND old ids, tainted by the old ids. The two
    // must agree on every drop doc's (admit, linked) whenever old ids
    // are disjoint from drop ids and no edge joins two old ids.
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(11)
    val dropIds = Seq.newBuilder[Long]; val oldIds = Seq.newBuilder[Long]
    val within = Seq.newBuilder[(Long, Long)]; val links = Seq.newBuilder[(Long, Long)]
    (0 until 50).foreach { g =>
      val (n, m) = (2 + rnd.nextInt(8), rnd.nextInt(4))
      // shuffled ids: an old id is sometimes the smallest id around
      val ids = rnd.shuffle((0 until n + m).map(i => g * 100L + i))
      val (ds, os) = ids.splitAt(n)
      dropIds ++= ds; oldIds ++= os
      (0 until rnd.nextInt(n)).foreach(_ => within += ((ds(rnd.nextInt(n)), ds(rnd.nextInt(n)))))
      if (m > 0) (0 until rnd.nextInt(4)).foreach(_ =>
        links += ((ds(rnd.nextInt(n)), os(rnd.nextInt(m)))))
    }
    // the hand case: new1 ~ old ~ new2, no within-drop edge between them
    dropIds ++= Seq(9001L, 9003L); oldIds += 9002L
    links ++= Seq((9001L, 9002L), (9003L, 9002L))

    val drop = dropIds.result().toDF("doc_id")
    val old = oldIds.result().toDF("doc_id")
    val withinDf = within.result().toDF("doc_a", "doc_b")
    val linkDf = links.result().toDF("doc_id", "old_id")
    def byDoc(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2))).toMap

    val dropLabels = TextOps.connectedComponentsStar(drop, withinDf)
    val got = byDoc(IncrementalCurate.componentStatus(dropLabels, linkDf.select("doc_id")))
    val unionLabels = TextOps.connectedComponentsStar(drop.unionByName(old),
      withinDf.unionByName(linkDf.toDF("doc_a", "doc_b")))
    val want = byDoc(IncrementalCurate.componentStatus(unionLabels, old)
      .join(drop, Seq("doc_id"), "left_semi"))
    assert(got == want)
    assert(got(9001L) == ((false, true)) && got(9003L) == ((false, true)))
    // the random set covers every shape: admitted roots, linked docs,
    // and drop-only pieces that only an old id joins
    val dropLabel = dropLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bridged = unionLabels.collect().map(r => r.getLong(0) -> r.getLong(1))
      .filter { case (d, _) => dropLabel.contains(d) }
      .groupBy(_._2).values.count(_.map(p => dropLabel(p._1)).distinct.length > 1)
    assert(got.values.count(_._1) > 0 && got.values.count(_._2) > 0 && bridged > 1,
      s"coverage: ${got.values.count(_._1)} admitted, ${got.values.count(_._2)} linked, $bridged bridged")
  }

  test("state compaction: fewer files, identical ingest behavior across the swap") {
    val state = tmp("inc-compact-state")
    // several small drops -> each state table accumulates per-drop files
    val dirs = (0 until 3).map { k =>
      val d = (0 until 4).map(i => (s"https://cmp.example/p$k/$i", textOf(s"m$k$i")))
      val dir = tmp(s"inc-compact-d$k"); write(d, dir); dir
    }
    dirs.foreach(d => IncrementalCurate.ingestDrop(spark, d, state))
    def nFiles(sub: String) = new java.io.File(s"$state/$sub")
      .listFiles().count(f => f.isFile && f.getName.endsWith(".parquet"))
    val before = Seq("urls", "canonical", "shas", "bands").map(nFiles)

    val reports = IncrementalCurate.compactState(spark, state)
    assert(reports.map(_._1) == Seq("urls", "canonical", "shas", "bands"))
    val after = Seq("urls", "canonical", "shas", "bands").map(nFiles)
    assert(after.zip(before).forall { case (a, b) => a < b },
      s"compaction must shrink file counts, got $before -> $after")
    reports.foreach { case (name, r) => assert(r.rows > 0, s"$name empty") }

    // ingest behavior across the swap: url revisit, exact, near against
    // content admitted BEFORE compaction all still reject; fresh admits
    val d4 = Seq(
      ("https://cmp.example/p1/0#frag", textOf("zz")), // url revisit
      ("https://cmp.example/q/exact", textOf("m21")), // exact copy
      ("https://cmp.example/q/near",
        textOf("m02").split(' ').dropRight(1).mkString(" ")), // near-dup
      ("https://cmp.example/q/new", textOf("fresh")))
    val d4Dir = tmp("inc-compact-d4"); write(d4, d4Dir)
    val r = IncrementalCurate.ingestDrop(spark, d4Dir, state)
    assert(r.nNewUrls == 3 && r.nStateLinked == 2 && r.nAdmitted == 1,
      s"post-compaction ingest must behave identically, got $r")
    // re-ingesting an OLD drop is still a no-op (urls state survived)
    assert(IncrementalCurate.ingestDrop(spark, dirs(0), state).nAdmitted == 0)
  }

  test("crash before the drop manifest rolls the WHOLE drop back; re-ingest replays it") {
    // Simulate the widest crash window — all four appends finished,
    // the manifest rename never happened — by ingesting normally and
    // deleting the drop's manifest. reconcileState at the next ingest
    // must delete every file that drop added (all four tables), and
    // the replayed ingest must produce the ORIGINAL report and a
    // state indistinguishable from a never-crashed run.
    val state = tmp("inc-crash-state")
    val d0 = (0 until 5).map(i => (s"https://crash.example/p0/$i", textOf(s"x0$i")))
    val d0Dir = tmp("inc-crash-d0"); write(d0, d0Dir)
    assert(IncrementalCurate.ingestDrop(spark, d0Dir, state).nAdmitted == 5)
    def manifests() = new java.io.File(s"$state/_drops")
      .listFiles().filter(_.getName.endsWith(".list")).map(_.getName).toSet
    val m0 = manifests()

    val d1 = Seq(
      ("https://crash.example/p1/new0", textOf("x10")),
      ("https://crash.example/p1/new1", textOf("x11")),
      ("https://crash.example/p1/exact", textOf("x03"))) // dup vs drop 0
    val d1Dir = tmp("inc-crash-d1"); write(d1, d1Dir)
    val r1 = IncrementalCurate.ingestDrop(spark, d1Dir, state)
    assert(r1.nAdmitted == 2 && r1.nStateLinked == 1 && r1.nCanonicalTotal == 7)
    val added = manifests() -- m0
    assert(added.size == 1, s"one manifest per drop, got $added")
    // "crash": commit record lost
    assert(new java.io.File(s"$state/_drops/${added.head}").delete())

    // the replay must roll back first (urls key included — otherwise
    // the anti-join would skip the drop and its content would be lost)
    val deleted = IncrementalCurate.reconcileState(spark, state)
    assert(deleted.nonEmpty && Seq("urls/", "canonical/", "shas/", "bands/")
      .forall(p => deleted.exists(_.startsWith(p))),
      s"rollback must cover all four tables, got $deleted")
    val r1b = IncrementalCurate.ingestDrop(spark, d1Dir, state)
    assert(r1b == r1, s"replay must equal the original report: $r1 vs $r1b")
    // and the replayed state still dedups: re-ingest is now a no-op
    assert(IncrementalCurate.ingestDrop(spark, d1Dir, state).nAdmitted == 0)
    val total = spark.read.parquet(s"$state/canonical").count()
    assert(total == 7, s"no duplicated canonical rows after replay, got $total")
  }

  test("legacy state without a _drops log is genesis-adopted, never deleted") {
    val state = tmp("inc-legacy-state")
    val d0 = (0 until 4).map(i => (s"https://legacy.example/p/$i", textOf(s"y$i")))
    val d0Dir = tmp("inc-legacy-d0"); write(d0, d0Dir)
    assert(IncrementalCurate.ingestDrop(spark, d0Dir, state).nAdmitted == 4)
    // wipe the log: state now predates the manifest protocol
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(deleteRec); f.delete()
    }
    deleteRec(new java.io.File(s"$state/_drops"))

    assert(IncrementalCurate.reconcileState(spark, state).isEmpty,
      "adoption must not delete pre-manifest data")
    // adopted state behaves: old content rejects, fresh admits
    val d1 = Seq(
      ("https://legacy.example/q/exact", textOf("y2")),
      ("https://legacy.example/q/new", textOf("fresh")))
    val d1Dir = tmp("inc-legacy-d1"); write(d1, d1Dir)
    val r = IncrementalCurate.ingestDrop(spark, d1Dir, state)
    assert(r.nStateLinked == 1 && r.nAdmitted == 1 && r.nCanonicalTotal == 5)
  }

  test("hot-bucket cap applies to the probed state bands") {
    // The cap window runs over state bands restricted to the drop's
    // probed buckets; with maxBucket = 0 EVERY probed bucket is
    // over-cap, so near-dup state lookups are disabled (the near-dup
    // admits) while the sha leg still rejects exact copies. With the
    // default cap the same near-dup rejects — proving the restriction
    // did not change which buckets the cap sees.
    val state = tmp("inc-cap-state")
    val d1 = Seq(("https://cap.example/p/0", textOf("c0")),
      ("https://cap.example/p/1", textOf("c1")))
    val d1Dir = tmp("inc-cap-d1"); write(d1, d1Dir)
    assert(IncrementalCurate.ingestDrop(spark, d1Dir, state).nAdmitted == 2)

    val near = textOf("c0").split(' ').dropRight(1).mkString(" ")
    val d2 = Seq(("https://cap.example/q/near", near),
      ("https://cap.example/q/exact", textOf("c1")))
    val d2Dir = tmp("inc-cap-d2"); write(d2, d2Dir)
    val rCap = IncrementalCurate.ingestDrop(spark, d2Dir, state, maxBucket = 0)
    assert(rCap.nAdmitted == 1, "cap=0 disables near state lookup; exact sha still rejects")

    // same drop against a replayed state with the default cap: rejects
    val state2 = tmp("inc-cap-state2")
    IncrementalCurate.ingestDrop(spark, d1Dir, state2)
    val rDef = IncrementalCurate.ingestDrop(spark, d2Dir, state2)
    assert(rDef.nAdmitted == 0, "default cap keeps the near-dup rejection")
  }

  test("lexical serving index stays fresh across drops; staleness + rebuild recover a crash gap") {
    import org.apache.spark.sql.functions._
    val state = tmp("inc-lex-state")
    val lexIdx = tmp("inc-lex-idx")

    // three drops, the middle one carrying duplicates that must NOT
    // reach the index (only admitted docs are indexed)
    val d1 = (0 until 6).map(i => (s"https://lex.example/p/$i", textOf(s"la$i")))
    val d2 = Seq(
      ("https://lex.example/q/0", textOf("lb0")),
      ("https://lex.example/q/exact", textOf("la1")), // rejected: exact dup
      ("https://lex.example/q/1", textOf("lb1")))
    val d3 = Seq(("https://lex.example/r/0", textOf("lc0")))
    val dirs = Seq(d1, d2, d3).map { rows =>
      val d = tmp("inc-lex-d"); write(rows, d); d
    }
    dirs.foreach(d =>
      IncrementalCurate.ingestDrop(spark, d, state, lexIndexDir = Some(lexIdx)))
    assert(IncrementalCurate.lexStaleness(spark, state, lexIdx) == 0L)

    // the per-drop-appended index serves bit-identically to one built
    // fresh over the canonical state (exact appends)
    val canonical = spark.read.parquet(s"$state/canonical")
      .select(col("doc_id"), col("text"))
    val qterms = canonical.select(col("doc_id").as("query_id"),
      explode(expr("slice(split(text, ' '), 1, 3)")).as("term"))
    val freshIdx = tmp("inc-lex-fresh")
    SearchIndex.build(spark, canonical, freshIdx)
    def rows(idx: String) = SearchIndex.serve(spark, idx, qterms).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val served = rows(lexIdx)
    assert(served.nonEmpty && served == rows(freshIdx))
    // the rejected duplicate never entered the index: indexed doc
    // count == canonical count (9 of the 10 drop rows admitted)
    assert(canonical.count() == 9L)

    // idempotent re-drop appends nothing to the index
    IncrementalCurate.ingestDrop(spark, dirs(1), state, lexIndexDir = Some(lexIdx))
    assert(IncrementalCurate.lexStaleness(spark, state, lexIdx) == 0L)
    assert(rows(lexIdx) == served)

    // crash gap: a drop commits to state but the index append is lost
    // -> staleness surfaces it, rebuild recovers bit-identity
    val d4 = Seq(("https://lex.example/s/0", textOf("ld0")))
    val d4Dir = tmp("inc-lex-d4"); write(d4, d4Dir)
    IncrementalCurate.ingestDrop(spark, d4Dir, state) // no lexIndexDir = the "crash"
    assert(IncrementalCurate.lexStaleness(spark, state, lexIdx) == 1L)
    IncrementalCurate.rebuildLexIndex(spark, state, lexIdx)
    assert(IncrementalCurate.lexStaleness(spark, state, lexIdx) == 0L)
    val canonical2 = spark.read.parquet(s"$state/canonical")
      .select(col("doc_id"), col("text"))
    val fresh2 = tmp("inc-lex-fresh2")
    SearchIndex.build(spark, canonical2, fresh2)
    assert(rows(lexIdx) == rows(fresh2))
  }

  test("ANN serving index stays fresh across drops; staleness + rebuild recover a crash gap") {
    import org.apache.spark.sql.functions._
    import graft.ops.AnnIndex
    val state = tmp("inc-ann-state")
    val annIdx = tmp("inc-ann-idx")

    // same three-drop protocol as the lexical twin: the middle drop's
    // exact duplicate must never be embedded into the index
    val d1 = (0 until 6).map(i => (s"https://ann.example/p/$i", textOf(s"va$i")))
    val d2 = Seq(
      ("https://ann.example/q/0", textOf("vb0")),
      ("https://ann.example/q/exact", textOf("va1")), // rejected: exact dup
      ("https://ann.example/q/1", textOf("vb1")))
    val d3 = Seq(("https://ann.example/r/0", textOf("vc0")))
    val dirs = Seq(d1, d2, d3).map { rows =>
      val d = tmp("inc-ann-d"); write(rows, d); d
    }
    dirs.foreach(d =>
      IncrementalCurate.ingestDrop(spark, d, state, annIndexDir = Some(annIdx)))
    assert(IncrementalCurate.annStaleness(spark, state, annIdx) == 0L)

    // the per-drop-appended index serves bit-identically to one built
    // fresh over the canonical state (LSH appends are exact); queries
    // = every canonical vector (self-hits excluded by the serve path)
    val canonical = spark.read.parquet(s"$state/canonical")
      .select(col("doc_id"), col("text"))
    val emb = EmbedJob.embedDocs(spark, canonical)
    val queries = emb.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
    val freshIdx = tmp("inc-ann-fresh")
    AnnIndex.buildLsh(spark, emb, freshIdx)
    def rows(idx: String) = AnnIndex.serveLshQueries(spark, emb, queries, idx, k = 3)
      .collect().map(_.toString).sorted.toSeq
    val served = rows(annIdx)
    assert(served == rows(freshIdx),
      "drop-appended index != fresh build over canonical")
    // only admitted docs were embedded: 9 of the 10 drop rows
    assert(canonical.count() == 9L)
    assert(AnnIndex.indexedVectors(spark, annIdx) == 9L)

    // idempotent re-drop appends nothing to the index
    IncrementalCurate.ingestDrop(spark, dirs(1), state, annIndexDir = Some(annIdx))
    assert(IncrementalCurate.annStaleness(spark, state, annIdx) == 0L)
    assert(rows(annIdx) == served)

    // crash gap: a drop commits to state but the index append is lost
    // -> staleness surfaces it, rebuild recovers bit-identity
    val d4 = Seq(("https://ann.example/s/0", textOf("vd0")))
    val d4Dir = tmp("inc-ann-d4"); write(d4, d4Dir)
    IncrementalCurate.ingestDrop(spark, d4Dir, state) // no annIndexDir = the "crash"
    assert(IncrementalCurate.annStaleness(spark, state, annIdx) == 1L)
    IncrementalCurate.rebuildAnnIndex(spark, state, annIdx)
    assert(IncrementalCurate.annStaleness(spark, state, annIdx) == 0L)
    val canonical2 = spark.read.parquet(s"$state/canonical")
      .select(col("doc_id"), col("text"))
    val emb2 = EmbedJob.embedDocs(spark, canonical2)
    val q2 = emb2.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
    val fresh2 = tmp("inc-ann-fresh2")
    AnnIndex.buildLsh(spark, emb2, fresh2)
    def rows2(idx: String) = AnnIndex.serveLshQueries(spark, emb2, q2, idx, k = 3)
      .collect().map(_.toString).sorted.toSeq
    assert(rows2(annIdx) == rows2(fresh2))
  }

  test("ANN freshness leg appends to EVERY committed leg: PQ serve == appendPq under the frozen codebook") {
    import org.apache.spark.sql.functions._
    import graft.ops.AnnIndex
    val state = tmp("inc-annpq-state")
    val annIdx = tmp("inc-annpq-idx")
    val d1 = (0 until 12).map(i => (s"https://annpq.example/p/$i", textOf(s"pa$i")))
    val d2 = (0 until 5).map(i => (s"https://annpq.example/q/$i", textOf(s"pb$i"))) :+
      (("https://annpq.example/q/exact", textOf("pa1"))) // rejected: exact dup
    val Seq(d1Dir, d2Dir) = Seq(d1, d2).map { rows =>
      val d = tmp("inc-annpq-d"); write(rows, d); d
    }
    def canonical() = spark.read.parquet(s"$state/canonical").select(col("doc_id"), col("text"))

    // drop 1 bootstraps the LSH leg; a PQ leg is then trained over the
    // same vectors, so drop 2 meets an index with two committed legs
    IncrementalCurate.ingestDrop(spark, d1Dir, state, annIndexDir = Some(annIdx))
    // staged: a cached frame over canonical/ would be recomputed after
    // drop 2 appends to it
    val baseDir = tmp("inc-annpq-base")
    EmbedJob.embedDocs(spark, canonical()).write.mode("overwrite").parquet(baseDir)
    val base = spark.read.parquet(baseDir)
    AnnIndex.buildPq(spark, base, annIdx)
    IncrementalCurate.ingestDrop(spark, d2Dir, state, annIndexDir = Some(annIdx))
    val all = EmbedJob.embedDocs(spark, canonical()).cache()
    val admitted = all.join(base.select("vec_id"), Seq("vec_id"), "left_anti")
    assert(admitted.count() == 5L)

    // reference: the same two legs, with drop 2's admitted vectors
    // appended to each under its frozen geometry
    val ref = tmp("inc-annpq-ref")
    AnnIndex.buildLsh(spark, base, ref)
    AnnIndex.buildPq(spark, base, ref)
    AnnIndex.appendLsh(spark, admitted, ref)
    AnnIndex.appendPq(spark, admitted, ref)
    val q = all.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(AnnIndex.servePqQueries(spark, all, q, annIdx, k = 3)) ==
      rows(AnnIndex.servePqQueries(spark, all, q, ref, k = 3)),
      "the PQ leg missed the drop's admitted docs")
    assert(rows(AnnIndex.serveLshQueries(spark, all, q, annIdx, k = 3)) ==
      rows(AnnIndex.serveLshQueries(spark, all, q, ref, k = 3)))
    assert(AnnIndex.pqStaleness(spark, annIdx) == AnnIndex.pqStaleness(spark, ref))
    all.unpersist()
  }

  test("forget: canonical+index removal, no resurrection via url or mirror, near-dup degrade pinned") {
    import org.apache.spark.sql.functions._
    val sp = spark; import sp.implicits._
    val state = tmp("inc-forget-state")
    val lexIdx = tmp("inc-forget-lex")

    val d1 = (0 until 8).map(i => (s"https://f.example/p/$i", textOf(s"fa$i")))
    val d1Dir = tmp("inc-forget-d1"); write(d1, d1Dir)
    IncrementalCurate.ingestDrop(spark, d1Dir, state, lexIndexDir = Some(lexIdx))
    assert(spark.read.parquet(s"$state/canonical").count() == 8L)

    // forget docs 0 and 3 (their messy urls — normalization applies)
    val victims = Seq("https://f.example/p/0#frag", "https://f.example/p/3")
    val n = IncrementalCurate.forget(spark, victims.toDF("url"), state,
      lexIndexDir = Some(lexIdx))
    assert(n == 2L)
    val canonical = spark.read.parquet(s"$state/canonical")
    assert(canonical.count() == 6L)
    assert(canonical.filter(col("url_norm").contains("/p/0") ||
      col("url_norm").contains("/p/3")).count() == 0L)
    // content is gone everywhere; hashes are retained by design
    assert(spark.read.parquet(s"$state/urls").count() == 8L)
    assert(spark.read.parquet(s"$state/shas").count() == 8L)
    assert(spark.read.parquet(s"$state/bands")
      .select("doc_id").distinct().count() == 6L)
    // lex index serves == rebuild over the remaining canonical;
    // staleness stays 0 (both sides shrank by the same ids)
    assert(IncrementalCurate.lexStaleness(spark, state, lexIdx) == 0L)
    val qterms = spark.read.parquet(s"$state/canonical")
      .select(col("doc_id").as("query_id"),
        explode(expr("slice(split(text, ' '), 1, 3)")).as("term"))
      .unionByName(Seq((0L, "fa0w0")).toDF("query_id", "term"))
    val fresh = tmp("inc-forget-fresh")
    SearchIndex.build(spark,
      spark.read.parquet(s"$state/canonical").select(col("doc_id"), col("text")),
      fresh)
    def rows(idx: String) = SearchIndex.serve(spark, idx, qterms).collect()
      .map(_.toString).sorted.toSeq
    assert(rows(lexIdx).nonEmpty && rows(lexIdx) == rows(fresh))

    // re-run of the same forget: nothing left to remove, state intact
    assert(IncrementalCurate.forget(spark, victims.toDF("url"), state,
      lexIndexDir = Some(lexIdx)) == 0L)
    assert(spark.read.parquet(s"$state/canonical").count() == 6L)

    // NO RESURRECTION: a new drop revisits the forgotten url (url
    // gate), and mirrors its exact text under a new url (sha gate) —
    // both rejected; a near-dup paraphrase under a new url ADMITS (the
    // pinned degrade: verification text is gone by design); a genuinely
    // fresh doc admits
    val d2 = Seq(
      ("https://f.example/p/0", textOf("resurrect")), // url revisit
      ("https://f.example/m/0", textOf("fa0")), // exact mirror of forgotten
      ("https://f.example/n/0", // near-dup of forgotten (last word off)
        textOf("fa3").split(" ").dropRight(1).mkString(" ")),
      ("https://f.example/x/0", textOf("fx0"))) // fresh
    val d2Dir = tmp("inc-forget-d2"); write(d2, d2Dir)
    val r2 = IncrementalCurate.ingestDrop(spark, d2Dir, state,
      lexIndexDir = Some(lexIdx))
    assert(r2.nNewUrls == 3L, "url gate must still block the forgotten url")
    assert(r2.nStateLinked == 1L, "sha gate must still block the exact mirror")
    assert(r2.nAdmitted == 2L, "near-dup degrade + fresh doc admit")
    assert(spark.read.parquet(s"$state/canonical").count() == 8L)
    assert(IncrementalCurate.lexStaleness(spark, state, lexIdx) == 0L)
    // subsequent ingests keep working against the forgotten state and
    // the rewritten manifests (the genesis re-adoption path)
    val r2b = IncrementalCurate.ingestDrop(spark, d2Dir, state,
      lexIndexDir = Some(lexIdx))
    assert(r2b.nNewUrls == 0L && r2b.nAdmitted == 0L)
  }
}
