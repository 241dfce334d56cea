package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TextOps

/** Round-5j operators: span-level decontamination (cut contaminated
  * n-gram spans, byte-exact reassembly), the eval-side leak census,
  * and quality-aware canonical selection within dup clusters.
  */
class CanonDecontamSpec extends AnyFunSuite with SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private def docsOf(rows: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  // eval = doc_id >= 100 in the micro-corpora below
  private val evalPred = col("doc_id") >= 100L

  // ---------------------------------------------------------------
  // decontaminateCut
  // ---------------------------------------------------------------

  test("decontaminateCut: a quoted 8-gram is cut exactly, survivors byte-exact") {
    val quote = "q1 q2 q3 q4 q5 q6 q7 q8"
    val docs = docsOf(
      1L -> s"x1 x2 x3 $quote y1 y2 y3",
      100L -> quote)
    val out = TextOps.decontaminateCut(docs, n = 8, evalPred = evalPred)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq((1L, 14L, 8L, "x1 x2 x3 y1 y2 y3")))
  }

  test("decontaminateCut: verbatim eval copy collapses to empty clean_text") {
    val text = (1 to 20).map(i => s"w$i").mkString(" ")
    val docs = docsOf(1L -> text, 100L -> text)
    val out = TextOps.decontaminateCut(docs, n = 8, evalPred = evalPred)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq((1L, 20L, 20L, "")))
  }

  test("decontaminateCut: overlapping contaminated windows merge into one span") {
    // train quotes NINE eval words -> windows at pos 2 and 3 merge to [2, 11)
    val nine = "q1 q2 q3 q4 q5 q6 q7 q8 q9"
    val docs = docsOf(
      1L -> s"a b $nine c d",
      100L -> nine)
    val out = TextOps.decontaminateCut(docs, n = 8, evalPred = evalPred)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3))).head
    assert(out == ((13L, 9L, "a b c d")))
  }

  test("decontaminateCut: docs shorter than one window pass through whole") {
    val docs = docsOf(
      1L -> "only five words right here",
      100L -> "e1 e2 e3 e4 e5 e6 e7 e8")
    val out = TextOps.decontaminateCut(docs, n = 8, evalPred = evalPred)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq((1L, 0L, "only five words right here")))
  }

  test("decontaminateCut: clean docs survive byte-identical; flag set == decontaminate's") {
    val docs = TextOps.readDocs(spark, sfDir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val planted = docs.filter(col("doc_id") % 50 === 0)
      .withColumn("doc_id", col("doc_id") + lit(4000001L))
    val corpus = docs.unionByName(planted)
    val cut = TextOps.decontaminateCut(corpus).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    val orig = corpus.filter(!(col("doc_id") % 50 === 0)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // untouched docs keep their exact text
    orig.foreach { case (id, text) =>
      if (cut(id)._1 == 0L) assert(cut(id)._2 == text, s"doc $id mutated")
    }
    // a doc loses tokens iff decontaminate flags it
    val flagged = TextOps.decontaminate(corpus).collect().map(_.getLong(0)).toSet
    val cutIds = cut.filter(_._2._1 > 0L).keySet
    assert(cutIds == flagged)
  }

  // ---------------------------------------------------------------
  // decontamReport
  // ---------------------------------------------------------------

  test("decontamReport: per-eval-doc leak census is exact") {
    val quote = "q1 q2 q3 q4 q5 q6 q7 q8"           // 1 gram
    val evalText = s"$quote e9 e10"                  // 3 grams total
    val docs = docsOf(
      1L -> s"pad1 pad2 $quote tail1",
      2L -> s"$quote other words here",
      3L -> "completely unrelated training text with many plain words",
      100L -> evalText,
      101L -> "lonely eval doc with no leak anywhere at all")
    val out = TextOps.decontamReport(docs, n = 8, evalPred = evalPred)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      (100L, 3L, 1L, 2L, 333L),   // 1 of 3 grams leaked, by docs 1 and 2
      (101L, 2L, 0L, 0L, 0L)))    // 9 words -> 2 grams, none leaked
  }

  test("decontamReport: planted corpus reports full leakage for every eval doc") {
    val docs = TextOps.readDocs(spark, sfDir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val planted = docs.filter(col("doc_id") % 50 === 0)
      .withColumn("doc_id", col("doc_id") + lit(4000001L))
    val rep = TextOps.decontamReport(docs.unionByName(planted)).collect()
    assert(rep.nonEmpty)
    rep.foreach { r =>
      assert(r.getLong(4) == 1000L, s"eval ${r.getLong(0)} not fully leaked")
      assert(r.getLong(3) >= 1L)
    }
  }

  // ---------------------------------------------------------------
  // dupBestFrom
  // ---------------------------------------------------------------

  test("dupBestFrom: longest member wins, ties to the smaller doc_id") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "short"), (2L, "the longest text in cluster"), (3L, "medium len"),
      (10L, "same size"), (11L, "same size"),
      (20L, "singleton doc")).toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L),
      (20L, 20L)).toDF("doc_id", "cluster_id")
    val out = TextOps.dupBestFrom(clusters, corpus).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getBoolean(4))).toSeq
    assert(out == Seq(
      (1L, 2L, false), (2L, 2L, true), (3L, 2L, false),
      (10L, 10L, true), (11L, 10L, false),
      (20L, 20L, true)))
  }

  test("dupBest query: exactly one keeper per cluster; keeper is a max-length member") {
    val out = Queries.dupBest(spark, sfDir)
    val rows = out.select(col("cluster_id"), col("doc_id"), col("best_doc"),
      col("n_chars"), col("keep")).collect()
    val byCluster = rows.groupBy(_.getLong(0))
    byCluster.foreach { case (cid, rs) =>
      val keepers = rs.filter(_.getBoolean(4))
      assert(keepers.length == 1, s"cluster $cid has ${keepers.length} keepers")
      val maxChars = rs.map(_.getLong(3)).max
      assert(keepers.head.getLong(3) == maxChars)
      // tie rule: no member with the same length and a smaller id
      val best = keepers.head.getLong(1)
      assert(!rs.exists(r => r.getLong(3) == maxChars && r.getLong(1) < best))
    }
    // the quality-aware rule must actually diverge from min-id canonical
    // somewhere on the planted corpus (truncated mirrors lose)
    assert(rows.exists(r => r.getBoolean(4) && r.getLong(1) != r.getLong(0)))
  }
}
