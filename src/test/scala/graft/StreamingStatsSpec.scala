package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingStats

/** Stateful streaming: watermarked windowed aggregation and
  * flatMapGroupsWithState sessionization over incremental drains.
  */
class StreamingStatsSpec extends AnyFunSuite with SparkSuite {

  private val eventsParquet = "/root/testdata/sf0.001/events.parquet"

  /** Split driver events at the median ts into two landing batches. */
  private def landTwoBatches(srcDir: String): Unit = {
    val ev = spark.read.parquet(eventsParquet)
      .withColumn("ts", col("ts").cast("timestamp"))
    val mid = ev.stat.approxQuantile("event_id", Array(0.5), 0.0)(0)
    ev.filter(col("event_id") <= mid).write.mode("append").parquet(srcDir)
    // second batch written later by the caller
    ev.filter(col("event_id") > mid).write.mode("overwrite")
      .parquet(srcDir + "_part2")
  }

  test("watermarked windowed counts emit finalized windows across drains") {
    val base = Files.createTempDirectory("graft-swc").toString
    val src = s"$base/src"
    landTwoBatches(src)
    StreamingStats.windowedCounts(spark, src, s"$base/out", s"$base/ckpt")
      .awaitTermination()
    val afterFirst = spark.read.parquet(s"$base/out").count()
    // second drain: watermark advances past the early windows
    spark.read.parquet(src + "_part2").write.mode("append").parquet(src)
    StreamingStats.windowedCounts(spark, src, s"$base/out", s"$base/ckpt")
      .awaitTermination()
    val emitted = spark.read.parquet(s"$base/out")
    assert(emitted.count() > afterFirst, "no windows finalized on drain 2")
    // every finalized window matches the batch computation exactly
    val batch = spark.read.parquet(eventsParquet)
      .withColumn("ts", col("ts").cast("timestamp"))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    emitted.collect().foreach { r =>
      val k = (r.getTimestamp(0), r.getString(1))
      assert(batch(k) == r.getLong(2), s"window $k count mismatch")
    }
  }

  test("update-mode serving table stays current across drains (unsealed windows included)") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft-upd").toString
    val src = s"$base/src"
    val h = 3600L * 1000000 // one hour in micros
    val t0 = 1735689600000000L // 2025-01-01T00:00Z
    def ev(id: Long, us: Long, typ: String) =
      (id, new java.sql.Timestamp(us / 1000), 1L, typ, 1.0, "{}")
    def land(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("append").parquet(src)

    // drain 1: hour 0 (2 clicks, 1 view), hour 1 (1 click)
    land(Seq(ev(1, t0, "click"), ev(2, t0 + 1, "click"), ev(3, t0 + 2, "view"),
      ev(4, t0 + h, "click")))
    StreamingStats.windowedCountsUpdate(spark, src, s"$base/out", s"$base/ckpt")
      .awaitTermination()
    def serving(): Map[(java.sql.Timestamp, String), Long] =
      spark.read.parquet(s"$base/out")
        .select(col("win_start"), col("event_type").cast("string"), col("n"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val ts0 = new java.sql.Timestamp(t0 / 1000)
    val ts1 = new java.sql.Timestamp((t0 + h) / 1000)
    val ts2 = new java.sql.Timestamp((t0 + 2 * h) / 1000)
    // ALL windows visible immediately — including the unsealed hour 1
    assert(serving() == Map((ts0, "click") -> 2L, (ts0, "view") -> 1L, (ts1, "click") -> 1L))

    // drain 2: more hour-1 clicks (IN-watermark update of an existing
    // cell) + a new hour-2 view; the click cell must be REPLACED, the
    // untouched (hour0, view) cell preserved
    land(Seq(ev(5, t0 + h + 1, "click"), ev(6, t0 + h + 2, "click"),
      ev(7, t0 + 2 * h, "view")))
    StreamingStats.windowedCountsUpdate(spark, src, s"$base/out", s"$base/ckpt")
      .awaitTermination()
    assert(serving() == Map(
      (ts0, "click") -> 2L, (ts0, "view") -> 1L,
      (ts1, "click") -> 3L, (ts2, "view") -> 1L))
  }

  test("late event within watermark merges gap-crossing sessions (no premature emission)") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft-late").toString
    val src = s"$base/src"
    val t0 = 1735689600000000L // 2025-01-01T00:00Z in micros
    def ev(id: Long, us: Long, user: Long) =
      (id, new java.sql.Timestamp(us / 1000), user, "click", 1.0, "{}")
    def land(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("append").parquet(src)

    val m = 60L * 1000000 // one minute in micros
    // drain 1: user 1 at t0 and t0+40min — LOOKS like two sessions
    land(Seq(ev(1, t0, 1), ev(2, t0 + 40 * m, 1)))
    StreamingStats.sessionQuery(spark, src, s"$base/out", s"$base/ckpt").awaitTermination()
    val afterFirst =
      if (new java.io.File(s"$base/out").list().exists(_.endsWith(".parquet")))
        spark.read.parquet(s"$base/out").filter(col("user_id") === 1).count()
      else 0L
    assert(afterFirst == 0, "session emitted before the watermark sealed it")

    // drain 2: a LATE event inside the gap (t0+20min, within the 30-min
    // watermark) bridges the two sessions; user 2 far in the future
    // pushes the watermark past the merged session's seal point
    land(Seq(ev(3, t0 + 20 * m, 1), ev(4, t0 + 300 * m, 2)))
    StreamingStats.sessionQuery(spark, src, s"$base/out", s"$base/ckpt").awaitTermination()
    val u1 = spark.read.parquet(s"$base/out").filter(col("user_id") === 1)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(u1 == Seq((t0, t0 + 40 * m, 3)), s"got $u1 — expected ONE merged session of 3 events")
  }

  test("flatMapGroupsWithState sessionization matches batch sessions") {
    val base = Files.createTempDirectory("graft-sess").toString
    val src = s"$base/src"
    landTwoBatches(src)
    StreamingStats.sessionQuery(spark, src, s"$base/out", s"$base/ckpt")
      .awaitTermination()
    spark.read.parquet(src + "_part2").write.mode("append").parquet(src)
    StreamingStats.sessionQuery(spark, src, s"$base/out", s"$base/ckpt")
      .awaitTermination()
    val emitted = spark.read.parquet(s"$base/out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(emitted.nonEmpty, "no sessions emitted")
    assert(emitted.distinct.size == emitted.size, "duplicate session emissions")

    // batch reference: same gap rule over all events per user
    val all = spark.read.parquet(eventsParquet)
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      .select("user_id", "ts_us")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val batchSessions = all.flatMap { case (user, ts) =>
      val sessions = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Int)]
      var start = ts.head; var last = ts.head; var n = 1
      ts.tail.foreach { t =>
        if (t - last > StreamingStats.GapUs) {
          sessions += ((user, start, last, n)); start = t; last = t; n = 1
        } else { last = t; n += 1 }
      }
      sessions += ((user, start, last, n))
      sessions
    }.toSet
    emitted.foreach { s =>
      assert(batchSessions.contains(s), s"streamed session $s not in batch result")
    }
  }
}
