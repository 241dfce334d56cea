package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{SearchOps, TextOps, VectorOps}

/** Round-5i operators: RAG chunking (offset contract, overlap
  * geometry), exact-k quota sampling (WindowGroupLimit pre-shuffle
  * top-k, partitioning invariance), embedding-space decontamination
  * (planted self-flags, argmax tie rule), and retrieve-then-rerank
  * (candidate-set preservation, missing-embedding sentinel).
  */
class ChunkRerankSpec extends AnyFunSuite with SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  // ---------------------------------------------------------------
  // chunkOverlap
  // ---------------------------------------------------------------

  test("chunkOverlap: chunk_text is the exact substring at begin_char of the normalized text") {
    val docs = TextOps.readDocs(spark, sfDir)
    val norm = docs.collect().map { r =>
      val id = r.getAs[Long]("doc_id")
      id -> r.getAs[String]("text").split(' ').filter(_.nonEmpty).mkString(" ")
    }.toMap
    val chunks = TextOps.chunkOverlap(docs).collect()
    assert(chunks.nonEmpty)
    chunks.foreach { c =>
      val id = c.getAs[Long]("doc_id")
      val begin = c.getAs[Long]("begin_char").toInt
      val text = c.getAs[String]("chunk_text")
      val full = norm(id)
      assert(full.substring(begin, begin + text.length) == text,
        s"doc $id chunk ${c.getAs[Long]("chunk_id")}: offset $begin does not locate the chunk")
    }
  }

  test("chunkOverlap: window geometry — stride, overlap, full coverage, final partial window") {
    val sp = spark; import sp.implicits._
    // 60 words -> 3 chunks at words 0,24,48 (W=32, S=24)
    val words = (0 until 60).map(i => s"w$i")
    val docs = Seq((1L, words.mkString(" "), "en")).toDF("doc_id", "text", "lang")
    val got = TextOps.chunkOverlap(docs).collect()
      .map(r => (r.getAs[Long]("chunk_id"), r.getAs[Long]("begin_word"),
        r.getAs[Long]("n_words"), r.getAs[String]("chunk_text")))
    assert(got.map(g => (g._1, g._2, g._3)).toSeq ==
      Seq((0L, 0L, 32L), (1L, 24L, 32L), (2L, 48L, 12L)))
    // consecutive chunks overlap by W-S = 8 words
    assert(got(0)._4.split(' ').takeRight(8).toSeq == got(1)._4.split(' ').take(8).toSeq)
    // coverage: every word appears in some chunk
    val covered = got.flatMap(_._4.split(' ')).toSet
    assert(covered == words.toSet)
  }

  test("chunkOverlap: a doc at or under the window is one whole chunk") {
    val sp = spark; import sp.implicits._
    val docs = Seq((1L, (0 until 32).map(i => s"w$i").mkString(" "), "en"),
      (2L, "solo", "en")).toDF("doc_id", "text", "lang")
    val got = TextOps.chunkOverlap(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"),
        r.getAs[Long]("begin_char"), r.getAs[Long]("n_words")))
    assert(got.toSeq == Seq((1L, 0L, 0L, 32L), (2L, 0L, 0L, 1L)))
  }

  // ---------------------------------------------------------------
  // quotaSample
  // ---------------------------------------------------------------

  test("quotaSample: exactly min(k, stratum size) per lang, dense ranks, deterministic under repartitioning") {
    val docs = TextOps.readDocs(spark, sfDir)
    val strata = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = TextOps.quotaSample(docs, k = 40).collect()
    val byLang = got.groupBy(_.getAs[String]("lang"))
    assert(byLang.keySet == strata.keySet)
    byLang.foreach { case (lang, rows) =>
      val expect = math.min(40L, strata(lang))
      assert(rows.length == expect, s"lang $lang: ${rows.length} != $expect")
      assert(rows.map(_.getAs[Long]("smp_rank")).sorted.toSeq == (1L to expect),
        s"lang $lang ranks not dense")
    }
    // partitioning must not change the sample (hash order is global)
    val re = TextOps.quotaSample(docs.repartition(7, col("lang")), k = 40)
      .collect().map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id"))).toSet
    assert(re == got.map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id"))).toSet)
  }

  test("quotaSample: rank<=k compiles to a pre-shuffle WindowGroupLimit") {
    val docs = TextOps.readDocs(spark, sfDir)
    val plan = TextOps.quotaSample(docs).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit (partial top-k before the stratum shuffle) in:\n$plan")
  }

  // ---------------------------------------------------------------
  // decontaminateEmbed
  // ---------------------------------------------------------------

  test("decontaminateEmbed: every eval-slice member self-flags at ~1.0 with itself as top hit") {
    val emb = VectorOps.readEmbeddings(spark, sfDir)
    val got = VectorOps.decontaminateEmbed(emb).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("max_sim_micro"), r.getAs[Long]("top_eval_id"))).toMap
    val evalIds = emb.filter(col("vec_id") % VectorOps.DecontamEvalEvery === 0)
      .collect().map(_.getAs[Long]("vec_id"))
    assert(evalIds.nonEmpty)
    evalIds.foreach { id =>
      val (sim, top) = got(id)
      assert(sim >= 999998L, s"eval $id self-sim $sim")
      assert(top == id, s"eval $id top hit $top")
    }
    // threshold respected on every row
    assert(got.values.forall(_._1 >= VectorOps.DecontamMinSimMicro))
  }

  test("decontaminateEmbed: argmax ties break to the smaller eval id") {
    val sp = spark; import sp.implicits._
    // vec 10 (NOT an eval) is identical to evals 0 and 53 -> tie at 1.0
    val v = Array(1.0f, 2.0f, 3.0f)
    val other = Array(-3.0f, 1.0f, 0.5f)
    val emb = Seq((0L, v), (53L, v), (10L, v), (7L, other))
      .toDF("vec_id", "embedding")
    val got = VectorOps.decontaminateEmbed(emb).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("n_hits"),
        r.getAs[Long]("top_eval_id"))).toList.sorted
    // 0, 10, 53 each hit both evals; 7 is near-orthogonal (below floor)
    assert(got == List((0L, 2L, 0L), (10L, 2L, 0L), (53L, 2L, 0L)))
  }

  // ---------------------------------------------------------------
  // hybridRerank
  // ---------------------------------------------------------------

  test("hybridRerank: permutes the lexical candidate set by cosine, never invents candidates") {
    val docs = TextOps.readDocs(spark, sfDir)
    val lex = SearchOps.bm25Search(docs, Queries.bm25QueryTerms(docs))
    val emb = VectorOps.readEmbeddings(spark, sfDir)
    val cand = lex.collect().groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("doc_id")).toSet }
    val got = SearchOps.hybridRerank(lex, emb).collect()
    assert(got.nonEmpty)
    got.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rows) =>
      val ids = rows.map(_.getAs[Long]("doc_id"))
      assert(ids.toSet.subsetOf(cand(q)), s"query $q invented candidates")
      assert(rows.map(_.getAs[Long]("rank")).sorted.toSeq ==
        (1L to math.min(5L, cand(q).size)), s"query $q ranks not dense")
      // ordering follows rerank_micro desc, doc_id asc
      val ordered = rows.sortBy(_.getAs[Long]("rank"))
        .map(r => (-r.getAs[Long]("rerank_micro"), r.getAs[Long]("doc_id")))
      assert(ordered.toSeq == ordered.sorted.toSeq, s"query $q not cosine-ordered")
    }
  }

  test("hybridRerank: a candidate without a stored embedding takes the sentinel and sorts last") {
    val sp = spark; import sp.implicits._
    val lex = Seq((1L, 1L, 10L), (1L, 2L, 20L), (1L, 3L, 999L))
      .toDF("query_id", "rank", "doc_id")
    // query 1 and docs 10, 20 have embeddings; doc 999 does not
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)),
      (10L, Array(0.0f, 1.0f)),   // cosine 0 to query
      (20L, Array(1.0f, 1.0f)))   // cosine ~0.707 to query
      .toDF("vec_id", "embedding")
    val got = SearchOps.hybridRerank(lex, emb).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("rerank_micro")))
    assert(got.map(g => (g._1, g._2)).toSeq == Seq((1L, 20L), (2L, 10L), (3L, 999L)))
    assert(got(2)._3 == SearchOps.RerankMissingMicro)
  }
}
