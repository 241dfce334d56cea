package graft

import org.apache.spark.sql.{SaveMode, SparkSession}

/** Drop-cost evidence for [[IncrementalCurate]]: ingest K constant-size
  * drops against a GROWING state and time each one. The claim under
  * test is the O(drop)-per-drop shape — wall per drop should stay
  * ~flat as the canonical state grows K-fold (the only state-side
  * costs are key joins: url anti-join, sha join, band-bucket probe
  * restricted to the drop's buckets).
  *
  * Drop k carries ids [k*N, (k+1)*N); each doc's text is W globally
  * unique words (so shingles never collide by accident), with planted
  * duplicate classes against drop k-1: id%20==0 exact copy, ==1
  * near-dup (last word dropped), ==2 url revisit — so every state
  * interaction path is exercised at a realistic (15%) dup rate and
  * steady-state drops admit 85% (drop 0 has no planted classes and
  * admits 100%). Each planted class targets a PLAIN doc of the
  * previous drop (id - N + 3, classes 3-5): a class-0/1/2 doc's own
  * text/url were themselves redirected, so targeting them would
  * plant dups against content that never entered state (drops >= 2
  * would silently link nothing — caught by the first smoke run).
  *
  * Output: one JSON line with per-drop walls + admissions + state
  * totals. Not part of the driver contract (dev evidence tool).
  */
object IncrementalBench {

  private def textOf(id: Long, w: Int): String =
    (0 until w).map(k => s"d${id}x$k").mkString(" ")

  def main(args: Array[String]): Unit = {
    val drops = sys.env.getOrElse("SPARK_GRAFT_INC_DROPS", "5").toInt
    val dropN = sys.env.getOrElse("SPARK_GRAFT_INC_N", "250000").toLong
    val words = sys.env.getOrElse("SPARK_GRAFT_INC_WORDS", "60").toInt
    val spark = GraftSession()
    import spark.implicits._

    val base = java.nio.file.Files.createTempDirectory("inc-bench").toString
    val stateDir = s"$base/state"

    def genDrop(k: Int): String = {
      val dir = s"$base/drop$k"
      val lo = k * dropN
      spark.range(lo, lo + dropN, 1L, 32).map { idJ =>
        val id = idJ
        val cls = id % 20L
        val target = id - dropN + 3L // plain-class doc of drop k-1
        val (url, text) =
          if (k > 0 && cls == 0L) (graft.sources.PageSource.urlOf(id), textOf(target, words))
          else if (k > 0 && cls == 1L)
            (graft.sources.PageSource.urlOf(id),
              textOf(target, words).split(' ').dropRight(1).mkString(" "))
          else if (k > 0 && cls == 2L) (graft.sources.PageSource.urlOf(target), textOf(id, words))
          else (graft.sources.PageSource.urlOf(id), textOf(id, words))
        (url, text)
      }.toDF("url", "text")
        .write.mode(SaveMode.Overwrite).parquet(dir)
      dir
    }

    val rows = (0 until drops).map { k =>
      val dir = genDrop(k)
      val t0 = System.nanoTime()
      val r = IncrementalCurate.ingestDrop(spark, dir, stateDir)
      val wall = (System.nanoTime() - t0) / 1e9
      val line =
        s"""{"drop":$k,"wall_s":${f"$wall%.2f"},"n_drop":${r.nDrop},""" +
        s""""n_new_urls":${r.nNewUrls},"n_admitted":${r.nAdmitted},""" +
        s""""n_state_linked":${r.nStateLinked},"n_canonical_total":${r.nCanonicalTotal}}"""
      System.err.println(line)
      line
    }
    println(s"""{"metric":"incremental_curate_drop_cost","drop_n":$dropN,""" +
      s""""words":$words,"cpus":${spark.sparkContext.defaultParallelism},"drops":[${rows.mkString(",")}]}""")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    spark.stop()
  }
}
