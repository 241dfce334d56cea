package graft

import java.sql.Timestamp

import org.apache.spark.sql.types.{StructField, StructType, StringType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingCurate

/** Stateful streaming url dedup: revisits within the watermark are
  * dropped ACROSS AvailableNow drains (state persists in the streaming
  * checkpoint), url normalization unifies fragment revisits, and the
  * inline quality gate filters repetitive docs.
  */
class StreamingCurateSpec extends AnyFunSuite with SparkSuite {

  private val schema = StructType(Seq(
    StructField("url", StringType),
    StructField("warc_ts", TimestampType),
    StructField("text", StringType)))

  private val base = 1735689600000L // 2025-01-01T00:00Z
  private def ts(min: Int) = new Timestamp(base + min * 60000L)
  private def good(i: Int): String =
    (0 until 12).map(k => s"s${i}w$k").mkString(" ")

  test("cross-drain dedup, fragment unification, inline gate") {
    val sp = spark; import sp.implicits._
    val landing = java.nio.file.Files.createTempDirectory("scur-in").toString
    val outDir = java.nio.file.Files.createTempDirectory("scur-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("scur-ckpt").toString

    def write(rows: Seq[(String, Timestamp, String)]): Unit =
      rows.toDF("url", "warc_ts", "text")
        .write.mode("append").parquet(landing)

    // drain 1: A + a same-batch fragment revisit of A (same url_norm),
    // B, and a repetitive doc the gate must drop
    write(Seq(
      ("https://ex.example/a", ts(0), good(0)),
      ("https://ex.example/a#frag", ts(5), good(0)),
      ("https://ex.example/b", ts(0), good(1)),
      ("https://ex.example/rep", ts(0), "x x x x x x x x")))
    StreamingCurate.start(spark, landing, outDir, ckpt, schema)
      .awaitTermination()
    val out1 = spark.read.parquet(outDir).collect()
      .map(r => (r.getString(0), r.getString(2)))
    assert(out1.map(_._1).sorted.toSeq ==
      Seq("https://ex.example/a", "https://ex.example/b"))

    // drain 2: a later revisit of A inside the watermark (must be
    // dropped by checkpointed state) + a genuinely new C
    write(Seq(
      ("https://ex.example/a", ts(30), good(9)),
      ("https://ex.example/c", ts(30), good(2))))
    StreamingCurate.start(spark, landing, outDir, ckpt, schema)
      .awaitTermination()
    val out2 = spark.read.parquet(outDir).collect()
      .map(r => (r.getString(0), r.getString(2))).sortBy(_._1)
    assert(out2.map(_._1).toSeq == Seq(
      "https://ex.example/a", "https://ex.example/b", "https://ex.example/c"))
    // the surviving A is the FIRST-seen text, not the later revisit
    assert(out2.head._2 == good(0))
  }
}
