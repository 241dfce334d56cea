package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.AnnIndex
import graft.streaming.StreamingAnnIndex

/** Streaming ANN-index maintenance: checkpointed drains keep a stored
  * LSH index bit-identical to a fresh rebuild over the same docs,
  * replays and duplicate deliveries are no-ops, and the `_annlog`
  * commit-manifest protocol makes crash debris invisible to serving
  * and reconciled by the next writer.
  */
class StreamingAnnIndexSpec extends AnyFunSuite with SparkSuite {

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
  private def docsOf(ids: Range): Seq[(Long, String)] =
    ids.map(i => (i.toLong, (0 until 12).map(k => s"v${i}w$k").mkString(" ")))
  private def land(rows: Seq[(Long, String)], dir: String): Unit = {
    val sp = spark; import sp.implicits._
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(dir)
  }
  private def embOf(rows: Seq[(Long, String)]) = {
    val sp = spark; import sp.implicits._
    EmbedJob.embedDocs(spark, rows.toDF("doc_id", "text"))
  }
  private def queriesOf(rows: Seq[(Long, String)]) =
    embOf(rows).select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
  private def served(idx: String, emb: org.apache.spark.sql.DataFrame,
                     q: org.apache.spark.sql.DataFrame) =
    AnnIndex.serveLshQueries(spark, emb, q, idx, k = 3)
      .collect().map(_.toString).sorted.toSeq

  test("drains track the landing zone; served results == fresh rebuild; re-drain is a no-op") {
    val landDir = tmp("sann-land"); val idx = tmp("sann-idx")
    val ckpt = tmp("sann-ckpt")

    land(docsOf(0 until 8), landDir)
    land(docsOf(8 until 10), landDir)
    StreamingAnnIndex.start(spark, landDir, idx, ckpt).awaitTermination()
    assert(AnnIndex.indexedVectors(spark, idx) == 10L)

    // second drain picks up ONLY the new arrivals (file-source
    // exactly-once), appends them, and the result is bit-identical to
    // an index built fresh over everything
    land(docsOf(10 until 15), landDir)
    StreamingAnnIndex.start(spark, landDir, idx, ckpt).awaitTermination()
    assert(AnnIndex.indexedVectors(spark, idx) == 15L)
    val all = docsOf(0 until 15)
    val emb = embOf(all); val q = queriesOf(all)
    val fresh = tmp("sann-fresh")
    AnnIndex.buildLsh(spark, embOf(all), fresh)
    assert(served(idx, emb, q) == served(fresh, emb, q))

    // nothing new: drain is a no-op
    StreamingAnnIndex.start(spark, landDir, idx, ckpt).awaitTermination()
    assert(AnnIndex.indexedVectors(spark, idx) == 15L)
    assert(served(idx, emb, q) == served(fresh, emb, q))
  }

  test("duplicate delivery of a committed batch id is a no-op (manifest IS the marker)") {
    val sp = spark; import sp.implicits._
    val idx = tmp("sann-dup-idx")
    val b0 = docsOf(0 until 6).toDF("doc_id", "text")
    val b1 = docsOf(6 until 9).toDF("doc_id", "text")
    StreamingAnnIndex.ingestBatch(spark, b0, 0L, idx)
    StreamingAnnIndex.ingestBatch(spark, b1, 1L, idx)
    val all = docsOf(0 until 9)
    val emb = embOf(all); val q = queriesOf(all)
    val before = served(idx, emb, q)
    assert(AnnIndex.indexedVectors(spark, idx) == 9L)
    // at-least-once replay: same batch id, same payload
    StreamingAnnIndex.ingestBatch(spark, b1, 1L, idx)
    assert(AnnIndex.indexedVectors(spark, idx) == 9L)
    assert(served(idx, emb, q) == before)
  }

  test("uncommitted debris is invisible to serving and reconciled by the next append") {
    val sp = spark; import sp.implicits._
    val idx = tmp("sann-debris-idx")
    val base = docsOf(0 until 6)
    AnnIndex.buildLsh(spark, embOf(base), idx)
    val emb0 = embOf(base); val q0 = queriesOf(base)
    val clean = served(idx, emb0, q0)
    val vecsBefore = AnnIndex.indexedVectors(spark, idx)
    // simulate a crash mid-append: bucket rows land with NO manifest —
    // a poisoned vector that would collide into every probed bucket
    spark.read.parquet(s"$idx/lsh_buckets")
      .filter(col("vec_id") === 2L)
      .withColumn("vec_id", lit(999L))
      .write.mode("append").parquet(s"$idx/lsh_buckets")
    // serving reads only committed files — debris invisible
    assert(served(idx, emb0, q0) == clean)
    assert(AnnIndex.indexedVectors(spark, idx) == vecsBefore)
    // the next writer rolls the debris back, then appends exactly once
    AnnIndex.appendLsh(spark, embOf(docsOf(6 until 8)), idx)
    val all = docsOf(0 until 8)
    val emb = embOf(all); val q = queriesOf(all)
    val fresh = tmp("sann-debris-fresh")
    AnnIndex.buildLsh(spark, embOf(all), fresh)
    assert(served(idx, emb, q) == served(fresh, emb, q))
    assert(AnnIndex.indexedVectors(spark, idx) == 8L)
  }

  test("a crashed FIRST build (no manifest) is rebuilt, not adopted") {
    val sp = spark; import sp.implicits._
    val idx = tmp("sann-halfbuild-idx")
    // partial build: bucket + meta dirs exist but the log does not
    // (the crash-before-manifest state of buildLsh) — simulate with a
    // raw write of a WRONG-geometry bucket relation
    Seq((0L, 0, 7), (1L, 0, 9)).toDF("vec_id", "band", "bucket")
      .write.mode("overwrite").parquet(s"$idx/lsh_buckets")
    Seq((1, 3, 64)).toDF("n_tables", "planes_per_table", "dim").coalesce(1)
      .write.mode("overwrite").parquet(s"$idx/lsh_meta")
    assert(!AnnIndex.hasCommittedIndex(spark, idx, "lsh"))
    // the replayed first batch REBUILDS over the partial dirs
    val b0docs = docsOf(0 until 6)
    StreamingAnnIndex.ingestBatch(spark, b0docs.toDF("doc_id", "text"), 0L, idx)
    assert(AnnIndex.indexedVectors(spark, idx) == 6L)
    val emb = embOf(b0docs); val q = queriesOf(b0docs)
    val fresh = tmp("sann-halfbuild-fresh")
    AnnIndex.buildLsh(spark, embOf(b0docs), fresh)
    assert(served(idx, emb, q) == served(fresh, emb, q))
  }

  test("multi-leg index: drains keep EVERY committed leg fresh; partial-commit replay appends only missing legs") {
    val sp = spark; import sp.implicits._
    val landDir = tmp("sann-ml-land"); val idx = tmp("sann-ml-idx")
    val ckpt = tmp("sann-ml-ckpt")
    val base = docsOf(0 until 12)
    val drop1 = docsOf(12 until 17)
    val drop2 = docsOf(17 until 21)

    // offline build of all four legs, then two streamed drops
    AnnIndex.buildLsh(spark, embOf(base), idx)
    AnnIndex.buildPq(spark, embOf(base), idx)
    AnnIndex.buildSq(spark, embOf(base), idx)
    AnnIndex.buildIvf(spark, embOf(base), idx)
    land(drop1, landDir)
    StreamingAnnIndex.start(spark, landDir, idx, ckpt).awaitTermination()
    land(drop2, landDir)
    StreamingAnnIndex.start(spark, landDir, idx, ckpt).awaitTermination()

    // reference: the same initial build + BATCH appends of the same
    // drops — streamed maintenance must be bit-identical per leg
    val ref = tmp("sann-ml-ref")
    AnnIndex.buildLsh(spark, embOf(base), ref)
    AnnIndex.buildPq(spark, embOf(base), ref)
    AnnIndex.buildSq(spark, embOf(base), ref)
    AnnIndex.buildIvf(spark, embOf(base), ref)
    AnnIndex.appendLsh(spark, embOf(drop1), ref)
    AnnIndex.appendPq(spark, embOf(drop1), ref)
    AnnIndex.appendSq(spark, embOf(drop1), ref)
    AnnIndex.appendIvf(spark, embOf(drop1), ref)
    AnnIndex.appendLsh(spark, embOf(drop2), ref)
    AnnIndex.appendPq(spark, embOf(drop2), ref)
    AnnIndex.appendSq(spark, embOf(drop2), ref)
    AnnIndex.appendIvf(spark, embOf(drop2), ref)
    val all = base ++ drop1 ++ drop2
    val emb = embOf(all); val q = queriesOf(docsOf(0 until 5))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(AnnIndex.serveLshQueries(spark, emb, q, idx, k = 3)) ==
      rows(AnnIndex.serveLshQueries(spark, emb, q, ref, k = 3)))
    assert(rows(AnnIndex.servePqQueries(spark, emb, q, idx, k = 3)) ==
      rows(AnnIndex.servePqQueries(spark, emb, q, ref, k = 3)))
    assert(rows(AnnIndex.serveSqQueries(spark, emb, q, idx, k = 3)) ==
      rows(AnnIndex.serveSqQueries(spark, emb, q, ref, k = 3)))
    assert(rows(AnnIndex.serveIvfQueries(spark, emb, q, idx, topK = 3)) ==
      rows(AnnIndex.serveIvfQueries(spark, emb, q, ref, topK = 3)))
    // quantized legs appended under FROZEN geometry: staleness moved
    assert(AnnIndex.pqStaleness(spark, idx) > 0L)
    assert(AnnIndex.sqStaleness(spark, idx) > 0L)
    assert(AnnIndex.ivfStaleness(spark, idx) > 0L)

    // crash BETWEEN leg appends: lsh committed under the batch id,
    // the rest not — the replay short-circuits lsh and appends only
    // the missing legs, exactly once
    val drop3 = docsOf(21 until 24)
    AnnIndex.appendLsh(spark, embOf(drop3), idx, Some("batch-77"))
    val lshAfter = rows(AnnIndex.serveLshQueries(spark, embOf(drop3),
      queriesOf(drop3), idx, k = 2))
    StreamingAnnIndex.ingestBatch(spark, drop3.toDF("doc_id", "text"), 77L, idx)
    StreamingAnnIndex.ingestBatch(spark, drop3.toDF("doc_id", "text"), 77L, idx) // full replay
    AnnIndex.appendPq(spark, embOf(drop3), ref)
    AnnIndex.appendSq(spark, embOf(drop3), ref)
    AnnIndex.appendIvf(spark, embOf(drop3), ref)
    AnnIndex.appendLsh(spark, embOf(drop3), ref)
    val emb3 = embOf((all ++ drop3).distinct)
    assert(rows(AnnIndex.serveLshQueries(spark, embOf(drop3), queriesOf(drop3), idx, k = 2)) ==
      lshAfter, "replay must not double-append the already-committed lsh leg")
    assert(rows(AnnIndex.servePqQueries(spark, emb3, q, idx, k = 3)) ==
      rows(AnnIndex.servePqQueries(spark, emb3, q, ref, k = 3)))
    assert(rows(AnnIndex.serveSqQueries(spark, emb3, q, idx, k = 3)) ==
      rows(AnnIndex.serveSqQueries(spark, emb3, q, ref, k = 3)))
    assert(rows(AnnIndex.serveIvfQueries(spark, emb3, q, idx, topK = 3)) ==
      rows(AnnIndex.serveIvfQueries(spark, emb3, q, ref, topK = 3)))
  }
}
