package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TextOps

/** Round-5k ops: winnowing (MOSS) positional near-dup census and the
  * materialized temperature mixture.
  */
class WinnowSpec extends AnyFunSuite with SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private def docsOf(rows: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  private def words(n: Int, tag: String = "w"): String =
    (1 to n).map(i => s"$tag$i").mkString(" ")

  // ---------------------------------------------------------------
  // winnowFingerprints
  // ---------------------------------------------------------------

  test("winnowFingerprints: guarantee — a shared run of K+W-1 words yields a shared fingerprint") {
    // two otherwise-disjoint docs embed the same 7-word run
    // (K=4, W=4: any shared run of K+W-1 words spans one full window
    // of shared grams, whose minimum both docs must select)
    val run = words(TextOps.WinnowK + TextOps.WinnowW - 1, "shared")
    val a = s"${words(20, "a")} $run ${words(20, "b")}"
    val b = s"${words(20, "c")} $run ${words(20, "d")}"
    val fps = TextOps.winnowFingerprints(docsOf(1L -> a, 2L -> b))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val fa = fps.filter(_._1 == 1L).map(_._2).toSet
    val fb = fps.filter(_._1 == 2L).map(_._2).toSet
    assert(fa.intersect(fb).nonEmpty)
  }

  test("winnowFingerprints: fully repeating text collapses to few fingerprints (rightmost-tie rule)") {
    // every gram identical -> every window's hashes all equal -> one
    // fingerprint, deterministically
    val fps = TextOps.winnowFingerprints(docsOf(1L -> ("x " * 40).trim))
      .collect()
    assert(fps.length == 1)
  }

  test("winnowFingerprints: docs shorter than K+W-1 words emit nothing") {
    val out = TextOps.winnowFingerprints(
      docsOf(1L -> words(TextOps.WinnowK + TextOps.WinnowW - 2), 2L -> "")).collect()
    assert(out.isEmpty)
  }

  // ---------------------------------------------------------------
  // dedupWinnow
  // ---------------------------------------------------------------

  test("dedupWinnow: identical docs pair at 1000 permille; disjoint docs don't pair") {
    val t = words(30)
    val out = TextOps.dedupWinnow(docsOf(
        1L -> t, 2L -> t, 3L -> words(30, "z")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 2L, 1000L)))
  }

  test("dedupWinnow: hot-fingerprint df cap drops boilerplate buckets before the pair join") {
    val t = words(30)
    val docs = docsOf((1L to (TextOps.WinnowMaxDf + 1).toLong).map(i => i -> t): _*)
    assert(TextOps.dedupWinnow(docs).collect().isEmpty)
    // one under the cap: all pairs survive
    val under = docsOf((1L to TextOps.WinnowMaxDf.toLong).map(i => i -> t): _*)
    val n = TextOps.dedupWinnow(under).count()
    assert(n == TextOps.WinnowMaxDf.toLong * (TextOps.WinnowMaxDf - 1) / 2)
  }

  test("dedupWinnowQ: every planted truncated pair surfaces with high containment") {
    val rows = Queries.dedupWinnowQ(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val planted = rows.filter { case (a, b, _) => b == a + 1000000L }
    val nPlantable = TextOps.readDocs(spark, sfDir)
      .filter(col("doc_id") % 10 === 0).count()
    assert(planted.length == nPlantable)
    assert(planted.forall(_._3 >= 900L))
    assert(rows.forall(_._3 <= 1000L))
  }

  // ---------------------------------------------------------------
  // mixSample
  // ---------------------------------------------------------------

  test("mixSample: per-lang admission counts equal mix_temperature's census") {
    val docs = TextOps.readDocs(spark, sfDir)
    val census = TextOps.mixTemperature(docs).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    val sampled = TextOps.mixSample(docs)
      .groupBy(col("lang")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(census.filter(_._2 > 0L) == sampled)
  }

  test("mixSample: admitted ids are distinct members of the corpus") {
    val docs = TextOps.readDocs(spark, sfDir)
    val kept = TextOps.mixSample(docs)
    assert(kept.count() == kept.select("doc_id").distinct().count())
    assert(kept.join(
      docs.select(col("doc_id").cast("long").as("doc_id")),
      Seq("doc_id"), "left_anti").count() == 0L)
  }
}
