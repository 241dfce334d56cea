package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.SearchIndex
import graft.streaming.StreamingLexIndex

/** Streaming lexical-index maintenance: checkpointed drains keep a
  * stored index bit-identical to a fresh rebuild, replays and
  * duplicate deliveries are no-ops, and the commit-manifest protocol
  * makes crash debris invisible to serving and reconciled by the next
  * writer.
  */
class StreamingLexIndexSpec extends AnyFunSuite with SparkSuite {

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
  private def docsOf(ids: Range): Seq[(Long, String)] =
    ids.map(i => (i.toLong, (0 until 12).map(k => s"d${i}w$k").mkString(" ") + s" shared$i"))
  private def land(rows: Seq[(Long, String)], dir: String): Unit = {
    val sp = spark; import sp.implicits._
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(dir)
  }
  private def qtermsOf(ids: Seq[Long]) = {
    val sp = spark; import sp.implicits._
    ids.map(i => (i, s"shared$i")).toDF("query_id", "term")
  }
  private def served(idx: String, q: org.apache.spark.sql.DataFrame) =
    SearchIndex.serve(spark, idx, q).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

  test("drains track the landing zone; served results == fresh rebuild; re-drain is a no-op") {
    val landDir = tmp("slex-land"); val idx = tmp("slex-idx")
    val ckpt = tmp("slex-ckpt")
    val q = qtermsOf(Seq(0L, 5L, 12L))

    land(docsOf(0 until 8), landDir)
    land(docsOf(8 until 10), landDir)
    StreamingLexIndex.start(spark, landDir, idx, ckpt).awaitTermination()
    assert(SearchIndex.indexedDocs(spark, idx) == 10L)

    // second drain picks up ONLY the new arrivals (file-source
    // exactly-once), appends them, and the result is bit-identical to
    // an index built fresh over everything
    land(docsOf(10 until 15), landDir)
    StreamingLexIndex.start(spark, landDir, idx, ckpt).awaitTermination()
    assert(SearchIndex.indexedDocs(spark, idx) == 15L)
    val sp = spark; import sp.implicits._
    val fresh = tmp("slex-fresh")
    SearchIndex.build(spark, docsOf(0 until 15).toDF("doc_id", "text"), fresh)
    assert(served(idx, q).nonEmpty && served(idx, q) == served(fresh, q))

    // nothing new: drain is a no-op
    StreamingLexIndex.start(spark, landDir, idx, ckpt).awaitTermination()
    assert(SearchIndex.indexedDocs(spark, idx) == 15L)
    assert(served(idx, q) == served(fresh, q))
  }

  test("duplicate delivery of a committed batch id is a no-op (manifest IS the marker)") {
    val sp = spark; import sp.implicits._
    val idx = tmp("slex-dup-idx")
    val q = qtermsOf(Seq(1L, 3L))
    val b0 = docsOf(0 until 6).toDF("doc_id", "text")
    val b1 = docsOf(6 until 9).toDF("doc_id", "text")
    StreamingLexIndex.ingestBatch(spark, b0, 0L, idx)
    StreamingLexIndex.ingestBatch(spark, b1, 1L, idx)
    val before = served(idx, q)
    assert(SearchIndex.indexedDocs(spark, idx) == 9L)
    // at-least-once replay: same batch id, same payload
    StreamingLexIndex.ingestBatch(spark, b1, 1L, idx)
    assert(SearchIndex.indexedDocs(spark, idx) == 9L)
    assert(served(idx, q) == before)
  }

  test("uncommitted debris is invisible to serving and reconciled by the next append") {
    val sp = spark; import sp.implicits._
    val idx = tmp("slex-debris-idx")
    val q = qtermsOf(Seq(2L))
    SearchIndex.build(spark, docsOf(0 until 6).toDF("doc_id", "text"), idx)
    val clean = served(idx, q)
    // simulate a crash mid-append: postings rows land with NO manifest
    // (a poisoned doc that would hijack the query if read)
    Seq((999L, "shared2 shared2 shared2")).toDF("doc_id", "text")
      .createOrReplaceTempView("poison")
    graft.ops.SearchOps.postingsOf(spark.table("poison"))
      .write.mode("append").parquet(s"$idx/postings")
    // serving reads only committed files — debris invisible
    assert(served(idx, q) == clean)
    // the next writer rolls the debris back, then appends exactly once
    val n = SearchIndex.append(spark, docsOf(6 until 8).toDF("doc_id", "text"), idx)
    assert(n == 2L)
    val fresh = tmp("slex-debris-fresh")
    SearchIndex.build(spark, docsOf(0 until 8).toDF("doc_id", "text"), fresh)
    assert(served(idx, q) == served(fresh, q))
    assert(SearchIndex.indexedDocs(spark, idx) == 8L)
  }

  test("a crashed FIRST build (no manifest) is rebuilt, not adopted") {
    val sp = spark; import sp.implicits._
    val idx = tmp("slex-halfbuild-idx")
    // partial build: postings + meta dirs exist but the log does not
    // (the crash-before-manifest state of build())
    val partial = docsOf(0 until 3).toDF("doc_id", "text")
    graft.ops.SearchOps.postingsOf(partial)
      .write.mode("overwrite").parquet(s"$idx/postings")
    Seq((2L, 10L)).toDF("n_docs", "sum_dl").coalesce(1)
      .write.mode("overwrite").parquet(s"$idx/lex_meta")
    assert(!SearchIndex.hasCommittedIndex(spark, idx))
    // the replayed first batch REBUILDS over the partial dirs
    val b0 = docsOf(0 until 6).toDF("doc_id", "text")
    StreamingLexIndex.ingestBatch(spark, b0, 0L, idx)
    assert(SearchIndex.indexedDocs(spark, idx) == 6L)
    val fresh = tmp("slex-halfbuild-fresh")
    SearchIndex.build(spark, b0, fresh)
    val q = qtermsOf(Seq(1L, 4L))
    assert(served(idx, q) == served(fresh, q))
  }

  test("positional drains: appended positions serve phrases == fresh positional build") {
    val sp = spark; import sp.implicits._
    val landDir = tmp("slexp-land"); val idx = tmp("slexp-idx")
    val ckpt = tmp("slexp-ckpt")
    land(docsOf(0 until 8), landDir)
    StreamingLexIndex.start(spark, landDir, idx, ckpt,
      withPositions = true).awaitTermination()
    assert(SearchIndex.hasPositions(spark, idx))
    // second drain appends — positions follow the stored shape even
    // though the restarted drain passes the default flag (no fork)
    land(docsOf(8 until 15), landDir)
    StreamingLexIndex.start(spark, landDir, idx, ckpt).awaitTermination()
    assert(SearchIndex.indexedDocs(spark, idx) == 15L)
    assert(SearchIndex.hasPositions(spark, idx))
    // phrase = each queried doc's own tokens 2..4 (guaranteed hit)
    val phrases = Seq(3L, 11L).flatMap(i => (0 until 3).map(j =>
      (i, j.toLong, s"d${i}w${1 + j}"))).toDF("query_id", "off", "term")
    val fresh = tmp("slexp-fresh")
    SearchIndex.build(spark, docsOf(0 until 15).toDF("doc_id", "text"), fresh,
      withPositions = true)
    val got = SearchIndex.servePhrase(spark, idx, phrases).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val want = SearchIndex.servePhrase(spark, fresh, phrases).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got.nonEmpty && got == want)
    assert(got.exists(r => r._1 == 3L && r._3 == 3L))
    assert(got.exists(r => r._1 == 11L && r._3 == 11L))
  }

  test("delete drain: tombstoned ids vanish; serve == rebuild over survivors; replays are no-ops") {
    val sp = spark; import sp.implicits._
    val landDir = tmp("slexd-land"); val idx = tmp("slexd-idx")
    val ckpt = tmp("slexd-ckpt")
    val delDir = tmp("slexd-del"); val delCkpt = tmp("slexd-delckpt")
    land(docsOf(0 until 12), landDir)
    StreamingLexIndex.start(spark, landDir, idx, ckpt).awaitTermination()

    val victims = Seq(0L, 3L, 6L, 9L)
    victims.toDF("doc_id").coalesce(1).write.mode("append").parquet(delDir)
    StreamingLexIndex.startDeletes(spark, delDir, idx, delCkpt).awaitTermination()
    assert(SearchIndex.indexedDocs(spark, idx) == 8L)

    // queries for one deleted doc and some survivors: the deleted id
    // returns nothing, survivors score exactly like a fresh rebuild
    val q = qtermsOf(Seq(0L, 5L, 9L, 11L))
    val fresh = tmp("slexd-fresh")
    SearchIndex.build(spark,
      docsOf(0 until 12).filterNot(d => victims.contains(d._1))
        .toDF("doc_id", "text"), fresh)
    val got = served(idx, q)
    assert(got.nonEmpty && got == served(fresh, q))
    assert(!got.exists(r => victims.contains(r._3)))

    // re-drain with no new request files: checkpoint says nothing new
    StreamingLexIndex.startDeletes(spark, delDir, idx, delCkpt).awaitTermination()
    assert(SearchIndex.indexedDocs(spark, idx) == 8L)
    // forced duplicate delivery of the committed batch id: manifest
    // short-circuits, index unchanged
    StreamingLexIndex.deleteBatch(spark, victims.toDF("doc_id"), 0L, idx)
    assert(served(idx, q) == got)
    assert(SearchIndex.indexedDocs(spark, idx) == 8L)

    // a later doc drain and a later delete drain compose: new docs
    // arrive, one of them is then deleted too
    land(docsOf(12 until 15), landDir)
    StreamingLexIndex.start(spark, landDir, idx, ckpt).awaitTermination()
    Seq(13L).toDF("doc_id").coalesce(1).write.mode("append").parquet(delDir)
    StreamingLexIndex.startDeletes(spark, delDir, idx, delCkpt).awaitTermination()
    val fresh2 = tmp("slexd-fresh2")
    SearchIndex.build(spark,
      docsOf(0 until 15).filterNot(d => (victims :+ 13L).contains(d._1))
        .toDF("doc_id", "text"), fresh2)
    val q2 = qtermsOf(Seq(5L, 12L, 13L, 14L))
    assert(served(idx, q2) == served(fresh2, q2))
    assert(SearchIndex.indexedDocs(spark, idx) == 10L)
  }
}
