package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TextOps

/** Round-5j quality ops: Gopher within-doc repetition coverage and
  * CCNet-style per-lang perplexity terciles (threshold-based, from
  * the bounded score histogram).
  */
class QualityBucketsSpec extends AnyFunSuite with SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private def docsOf(rows: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  // ---------------------------------------------------------------
  // gopherRep
  // ---------------------------------------------------------------

  test("gopherRep: alternating bigram loop is fully dup2-covered, dup5-clean") {
    val out = TextOps.gopherRep(docsOf(1L -> "a b a b a b")).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((6L, 1000L, 0L)))
  }

  test("gopherRep: a 6-word loop tail covers both copies for n=2 and n=5") {
    val base = (1 to 12).map(i => s"w$i").mkString(" ")
    val tail = (1 to 6).map(i => s"w$i").mkString(" ")
    val out = TextOps.gopherRep(docsOf(1L -> s"$base $tail")).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // positions 0-5 and 12-17 covered (12 of 18) for both widths
    assert(out.toSeq == Seq((18L, 666L, 666L)))
  }

  test("gopherRep: short and empty docs pass through with zero coverage") {
    val out = TextOps.gopherRep(docsOf(1L -> "solo", 2L -> "")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 1L, 0L, 0L), (2L, 0L, 0L, 0L)))
  }

  test("gopherRepQ: planted loop-tail docs all have dup5 positives; clean docs exist") {
    val rows = Queries.gopherRepQ(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(3)))
    val planted = rows.filter(_._1 % 7 == 3)
    assert(planted.nonEmpty && planted.forall(_._2 > 0L))
    assert(rows.exists(r => r._1 % 7 != 3 && r._2 == 0L))
  }

  // ---------------------------------------------------------------
  // qualityGate
  // ---------------------------------------------------------------

  test("qualityGate: each rule fires on its planted class, in order") {
    val loopText = ((1 to 12).map(i => s"w$i") ++ (1 to 6).map(i => s"w$i"))
      .mkString(" ")
    val docs = docsOf(
      1L -> "a b c",                                           // short
      2L -> ((1 to 10).map(i => s"a$i").mkString(" ") + " .........."), // punct
      3L -> (1 to 12).map(_ => "x" * 40).mkString(" "),        // word_len
      4L -> (1 to 5).flatMap(_ => Seq("xx", "yy")).mkString(" "), // repetitive
      5L -> loopText)                                          // loop
    val out = TextOps.qualityGate(docs).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out == Map(1L -> "short", 2L -> "punct", 3L -> "word_len",
      4L -> "repetitive", 5L -> "loop"))
  }

  test("qualityGateQ: planted classes all represented; census covers the corpus") {
    val rows = Queries.qualityGateQ(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(2)))
    val by = rows.groupBy(_._2).view.mapValues(_.length).toMap
    Seq("short", "punct", "word_len", "repetitive", "loop", "pass").foreach {
      v => assert(by.getOrElse(v, 0) > 0, s"verdict $v has no members")
    }
    assert(rows.length == 500)
    // every planted short doc is attributed 'short' (first rule wins)
    rows.filter(_._1 % 97 == 1).foreach { case (id, v) =>
      assert(v == "short", s"doc $id got $v")
    }
  }

  // ---------------------------------------------------------------
  // pplBuckets
  // ---------------------------------------------------------------

  test("pplBuckets: differential vs a driver-side threshold reference") {
    val docs = TextOps.readDocs(spark, sfDir)
    // reference: collect per-doc scores + lang, recompute the bucket
    // rule sequentially
    val scored = TextOps.lmScore(docs)
      .join(docs.select(col("doc_id").cast("long").as("doc_id"), col("lang")),
        Seq("doc_id"))
      .select(col("lang"), col("lm_permille")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val ref = scored.groupBy(_._1).flatMap { case (lang, rs) =>
      val scores = rs.map(_._2).sorted(Ordering[Long].reverse)
      val n = scores.length
      val t1 = scores((n + 2) / 3 - 1)
      val t2 = scores((2 * n + 2) / 3 - 1)
      rs.map(_._2).groupBy { s =>
        if (s >= t1) "head" else if (s >= t2) "middle" else "tail"
      }.map { case (b, ss) =>
        (lang, b) -> ((ss.length.toLong, ss.min, ss.max))
      }
    }.toMap
    val got = TextOps.pplBuckets(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == ref)
  }

  test("pplBuckets: buckets are score-disjoint and census sums to the corpus") {
    val docs = TextOps.readDocs(spark, sfDir)
    val rows = TextOps.pplBuckets(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val langs = rows.map(_._1).distinct
    langs.foreach { lang =>
      val by = rows.filter(_._1 == lang).map(r => r._2 -> ((r._3, r._4, r._5))).toMap
      val n = by.values.map(_._1).sum
      // head absorbs boundary ties: at least ceil(N/3) docs
      assert(by("head")._1 >= (n + 2) / 3)
      for {
        h <- by.get("head"); m <- by.get("middle")
      } assert(h._2 > m._3, s"$lang head/middle overlap")
      for {
        m <- by.get("middle"); t <- by.get("tail")
      } assert(m._2 > t._3, s"$lang middle/tail overlap")
    }
    val total = rows.map(_._3).sum
    assert(total == docs.count())
  }
}
