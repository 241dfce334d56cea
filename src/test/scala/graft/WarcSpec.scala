package graft

import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{PageSource, WarcSource}

/** WARC container leg: record round-trip (plain and per-record gzip),
  * non-response records skipped, damaged input degrades without
  * throwing.
  */
class WarcSpec extends AnyFunSuite with SparkSuite {

  private def pages(n: Int) = (0 until n).map { i =>
    val id = i.toLong
    (id, PageSource.urlOf(id), PageSource.EpochBase + id,
      PageSource.wrapHtml(id, s"alpha beta gamma delta doc$i epsilon zeta eta theta"))
  }

  test("record parsing is LAZY: consuming one record reads O(record) bytes, not the file") {
    // 2000 records ≈ several MB plain WARC; a counting stream under the
    // parser proves the iterator pulls bytes only as records are drained
    // (the per-task memory contract IngestJob's flatMap relies on —
    // O(one record payload), never the decompressed file's body list)
    val ps = (0 until 2000).map { i =>
      val id = i.toLong
      (id, PageSource.urlOf(id), PageSource.EpochBase + id,
        PageSource.wrapHtml(id, ("w" + i + " ") * 200))
    }
    val warc = WarcSource.buildWarcFile(ps, gzipPerRecord = false)
    assert(warc.length > 1000000, s"fixture too small (${warc.length}) to prove laziness")
    final class CountingStream(data: Array[Byte]) extends java.io.InputStream {
      private val in = new java.io.ByteArrayInputStream(data)
      var bytesRead: Long = 0L
      override def read(): Int = { val r = in.read(); if (r >= 0) bytesRead += 1; r }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        val r = in.read(b, off, len); if (r > 0) bytesRead += r; r
      }
    }
    val counter = new CountingStream(warc)
    val it = WarcSource.responsesIterator(counter)
    val first = it.next()
    assert(first._1 == PageSource.urlOf(0L))
    // one record consumed: only the read-ahead buffers' worth of the
    // stream may have been pulled — a materializing parser reads it all
    assert(counter.bytesRead < warc.length / 4,
      s"read ${counter.bytesRead} of ${warc.length} bytes after one record — not lazy")
    assert(it.size == 1999, "remaining records still parse after partial consumption")
    assert(counter.bytesRead >= warc.length - 65536, "full drain reads the file")
  }

  test("round-trip: plain multi-record file yields every response body byte-identically") {
    val ps = pages(4)
    val warc = WarcSource.buildWarcFile(ps, gzipPerRecord = false)
    val got = WarcSource.responses(warc)
    assert(got.size == 4)
    got.zip(ps).foreach { case ((uri, epoch, body), (_, url, ts, html)) =>
      assert(uri == url && epoch == ts)
      assert(body.sameElements(html), s"body bytes differ for $uri")
    }
  }

  test("round-trip: per-record gzip members (the Common-Crawl convention)") {
    val ps = pages(3)
    val warc = WarcSource.buildWarcFile(ps, gzipPerRecord = true)
    assert((warc(0) & 0xff) == 0x1f && (warc(1) & 0xff) == 0x8b)
    val got = WarcSource.responses(warc)
    assert(got.size == 3)
    got.zip(ps).foreach { case ((uri, _, body), (_, url, _, html)) =>
      assert(uri == url && body.sameElements(html))
    }
  }

  test("warcinfo and request records are skipped; only responses surface") {
    val warc = WarcSource.buildWarcFile(pages(2), gzipPerRecord = false)
    val text = new String(warc, StandardCharsets.ISO_8859_1)
    assert(text.contains("WARC-Type: warcinfo") && text.contains("WARC-Type: request"))
    assert(WarcSource.responses(warc).size == 2)
  }

  test("damaged input: truncated tail, garbage, bad gzip — degrade, never throw") {
    val warc = WarcSource.buildWarcFile(pages(3), gzipPerRecord = false)
    // truncating mid-payload loses at most the damaged record
    val cut = java.util.Arrays.copyOf(warc, warc.length * 2 / 3)
    assert(WarcSource.responses(cut).size >= 1)
    assert(WarcSource.responses(Array[Byte](0x1f.toByte, 0x8b.toByte, 0, 0)).isEmpty)
    assert(WarcSource.responses("not a warc at all".getBytes).isEmpty)
    assert(WarcSource.responses(Array.empty[Byte]).isEmpty)
    assert(WarcSource.responses(null).isEmpty)
    // header without Content-Length: parser stops instead of guessing
    val noLen = ("WARC/1.0\r\nWARC-Type: response\r\n\r\npayload").getBytes
    assert(WarcSource.responses(noLen).isEmpty)
  }

  test("adversarial Content-Length values terminate (negative, 2^32-wrapped, absurd)") {
    // regression: a negative length once moved the scan cursor BACKWARD
    // past the same header — infinite loop inside a Spark task
    def rec(len: String) =
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: u\r\n" +
        s"Content-Length: $len\r\n\r\npayload\r\n\r\n").getBytes
    for (len <- Seq("-100", "4294967196", "999999999999999", "nonsense")) {
      val t0 = System.nanoTime()
      assert(WarcSource.responses(rec(len)).isEmpty, s"len=$len")
      assert(System.nanoTime() - t0 < 5e9, s"len=$len must not hang")
    }
    // a valid record FOLLOWED by a poisoned one keeps the valid prefix
    val good = WarcSource.buildWarcFile(pages(1), gzipPerRecord = false)
    val mixed = good ++ rec("-100")
    assert(WarcSource.responses(mixed).size == 1)
  }

  test("gzip decompression is streamed: member damage keeps the parsed prefix") {
    val warc = WarcSource.buildWarcFile(pages(4), gzipPerRecord = true)
    // corrupt the LAST quarter (inside later members): earlier members
    // must still parse; never throws
    val damaged = warc.clone()
    var i = warc.length * 3 / 4
    while (i < warc.length) { damaged(i) = 0x55.toByte; i += 1 }
    val got = WarcSource.responses(damaged)
    assert(got.size < 4, "damage must lose something")
    got.foreach { case (uri, _, body) => assert(uri.nonEmpty && body.nonEmpty) }
  }

  test("property: round-trip holds for random page sets (either codec); fuzzed bytes never throw") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val params = Gen.Parameters.default.withSize(40)
    val htmlGen = Gen.listOf(Gen.oneOf(
      Gen.alphaNumStr.map(_.take(10)),
      Gen.oneOf("<p>", "</p>", "\r\n\r\nWARC/1.0\r\n", "Content-Length: 7",
        "é中文", "")
    )).map(_.mkString(" "))
    var seed = 0L
    var runs = 0
    while (runs < 60) {
      Gen.zip(Gen.choose(0, 6), Gen.listOfN(6, htmlGen), Gen.oneOf(true, false))
        .apply(params, Seed(seed)) match {
        case Some((n, texts, gz)) =>
          val ps = (0 until n).map { i =>
            (i.toLong, PageSource.urlOf(i.toLong), PageSource.EpochBase + i,
              texts(i).getBytes(StandardCharsets.UTF_8))
          }.filter(_._4.nonEmpty)
          val warc = WarcSource.buildWarcFile(ps, gz)
          val got = WarcSource.responses(warc)
          assert(got.size == ps.size,
            s"lost records (n=${ps.size}, gz=$gz, got=${got.size})")
          got.zip(ps).foreach { case ((uri, _, body), (_, url, _, html)) =>
            assert(uri == url && body.sameElements(html))
          }
          // fuzz: responses() is total on arbitrary corruption
          if (warc.nonEmpty) {
            val corrupt = warc.clone()
            corrupt((seed % corrupt.length).toInt.abs) =
              (seed & 0xff).toByte
            WarcSource.responses(corrupt)
            WarcSource.responses(java.util.Arrays.copyOf(warc, warc.length / 2))
          }
          runs += 1
        case None =>
      }
      seed += 1
    }
  }

  test("deterministic bytes: same pages -> same file, gzip included") {
    val a = WarcSource.buildWarcFile(pages(3), gzipPerRecord = true)
    val b = WarcSource.buildWarcFile(pages(3), gzipPerRecord = true)
    assert(a.sameElements(b))
  }

  test("StreamingIngest: landing-zone drain is incremental and exactly-once across runs") {
    val warcDir = java.nio.file.Files.createTempDirectory("singest-warc")
    val pagesDir = java.nio.file.Files.createTempDirectory("singest-pages").toString
    val ckDir = java.nio.file.Files.createTempDirectory("singest-ck").toString
    val ps = pages(8)
    def write(name: String, slice: Seq[(Long, String, Long, Array[Byte])], gz: Boolean): Unit =
      java.nio.file.Files.write(warcDir.resolve(name),
        WarcSource.buildWarcFile(slice, gzipPerRecord = gz))
    write("a.warc", ps.slice(0, 3), gz = false)
    write("b.warc.gz", ps.slice(3, 5), gz = true)

    val q1 = graft.streaming.StreamingIngest
      .start(spark, warcDir.toString, pagesDir, ckDir)
    q1.awaitTermination()
    assert(spark.read.parquet(pagesDir).count() == 5L)
    // scale shape: the micro-batch scan reads PATHS only — the file
    // content column is pruned out of the binaryFile scan (bytes are
    // opened per task off the path, so multi-GB members never ride a
    // row and the 2 GB BinaryType ceiling does not apply)
    val lastPlan = q1
      .asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan.toString
    assert(!lastPlan.contains("content"),
      s"micro-batch scan must prune the file content column:\n$lastPlan")

    // a new file lands; the next drain picks up ONLY it (checkpointed
    // file source) — prior pages are not re-appended
    write("c.warc", ps.slice(5, 8), gz = false)
    graft.streaming.StreamingIngest
      .start(spark, warcDir.toString, pagesDir, ckDir).awaitTermination()
    val got = spark.read.parquet(pagesDir).collect()
      .map(r => r.getAs[String]("url") -> r.getAs[Array[Byte]]("html"))
    assert(got.length == 8, s"5 + 3 pages exactly once, got ${got.length}")
    val byUrl = got.toMap
    ps.foreach { case (_, url, _, html) =>
      assert(byUrl(url).sameElements(html), s"html bytes differ for $url")
    }
    // a third drain with nothing new appends nothing
    graft.streaming.StreamingIngest
      .start(spark, warcDir.toString, pagesDir, ckDir).awaitTermination()
    assert(spark.read.parquet(pagesDir).count() == 8L)
  }

  test("streaming chain: WARC landing -> ingest -> extract -> curate, incremental end-to-end") {
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val warcDir = tmp("chain-warc"); val pagesDir = tmp("chain-pages")
    val extractedDir = tmp("chain-ex"); val curatedDir = tmp("chain-cur")
    val ck1 = tmp("chain-ck1"); val ck2 = tmp("chain-ck2"); val ck3 = tmp("chain-ck3")
    val ps = pages(6)
    def drainAll(): Unit = {
      graft.streaming.StreamingIngest
        .start(spark, warcDir, pagesDir, ck1).awaitTermination()
      graft.streaming.StreamingExtract
        .start(spark, pagesDir, extractedDir, ck2).awaitTermination()
      graft.streaming.StreamingCurate
        .start(spark, extractedDir, curatedDir, ck3).awaitTermination()
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(warcDir, "a.warc.gz"),
      WarcSource.buildWarcFile(ps.slice(0, 4), gzipPerRecord = true))
    drainAll()
    val first = spark.read.parquet(curatedDir).collect()
    assert(first.length == 4, s"4 clean docs through the full chain, got ${first.length}")

    // a new WARC lands: each leg's checkpoint drains ONLY the delta
    java.nio.file.Files.write(java.nio.file.Paths.get(warcDir, "b.warc"),
      WarcSource.buildWarcFile(ps.slice(4, 6), gzipPerRecord = false))
    drainAll()
    val second = spark.read.parquet(curatedDir).collect()
    assert(second.length == 6, s"exactly the 2 new docs appended, got ${second.length}")
    val byUrl = second.map(r => r.getAs[String]("url_norm") -> r.getAs[String]("text")).toMap
    assert(byUrl.keySet == ps.map(_._2).toSet)
    // byte-identity survives the whole streamed chain: the curated
    // text equals the batch GoldenExtractor output for the same html
    ps.foreach { case (_, url, _, html) =>
      val want = graft.extract.GoldenExtractor
        .extract(html, graft.extract.ExtractorConfig.default)._1
      assert(byUrl(url) == want, s"chain text differs for $url")
    }
  }

  test("IngestJob: WARC dir (plain + gzip + damaged) -> pages parquet, idempotent rerun") {
    val warcDir = java.nio.file.Files.createTempDirectory("ingest-warc")
    val pagesDir = java.nio.file.Files.createTempDirectory("ingest-pages").toString
    val ps = pages(9)
    def write(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(warcDir.resolve(name), bytes)
    write("a.warc", WarcSource.buildWarcFile(ps.slice(0, 4), gzipPerRecord = false))
    write("b.warc.gz", WarcSource.buildWarcFile(ps.slice(4, 7), gzipPerRecord = true))
    val full = WarcSource.buildWarcFile(ps.slice(7, 9), gzipPerRecord = false)
    write("c.warc", java.util.Arrays.copyOf(full, full.length / 2)) // damaged
    write("notes.txt", "not a warc".getBytes) // glob-filtered out

    val r = IngestJob.run(spark, warcDir.toString, pagesDir, numParts = 3)
    val (nFiles, nPages) = (r.nFiles, r.nPages)
    assert(nFiles == 3, "pathGlobFilter keeps only *.warc*")
    assert(nPages >= 7 && nPages <= 8, s"4 + 3 + (damaged partial) pages, got $nPages")
    assert(r.nSkipped == 0, "all listed files were openable")
    val got = spark.read.parquet(pagesDir)
      .collect().map(r => r.getAs[String]("url") ->
        r.getAs[Array[Byte]]("html")).toMap
    ps.take(7).foreach { case (_, url, _, html) =>
      assert(got(url).sameElements(html), s"html bytes differ for $url")
    }
    val r2 = IngestJob.run(spark, warcDir.toString, pagesDir, numParts = 3)
    assert(r2.nFiles == nFiles && r2.nPages == nPages, "rerun is idempotent")
  }
}
