package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.extract.ExtractorConfig
import graft.pipeline.{ExtractPipeline, ParquetTableIO}
import graft.sources.PageSource
import graft.streaming.StreamingExtract

/** Streaming formulation equals the batch formulation byte-for-byte,
  * and the streaming checkpoint makes incremental drains exactly-once.
  */
class StreamingSpec extends AnyFunSuite with SparkSuite {

  test("streaming extract == batch extract (digest), incremental drain is exactly-once") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft-stream").toString
    val pagesDir = s"$base/pages"
    val outDir = s"$base/out"
    val ckpt = s"$base/ckpt"
    PageSource.genPages(spark, 200, 4).toDF().write.parquet(pagesDir)

    // drain 1
    StreamingExtract.start(spark, pagesDir, outDir, ckpt).awaitTermination()
    val afterFirst = spark.read.parquet(outDir).count()
    assert(afterFirst == 200)

    // batch reference digest over the same input
    val batch = ExtractPipeline.extractExpr(
      ExtractPipeline.inputGate(ParquetTableIO.readPages(spark, pagesDir))
        .select("url", "warc_ts", "html"),
      ExtractorConfig.default)
    val bd = ExtractPipeline.globalDigest(batch).collect()(0)
    val sd = ExtractPipeline.globalDigest(spark.read.parquet(outDir)).collect()(0)
    assert(sd.getLong(0) == bd.getLong(0) && sd.getLong(1) == bd.getLong(1))

    // drain 2 with no new files: checkpoint must prevent re-processing
    StreamingExtract.start(spark, pagesDir, outDir, ckpt).awaitTermination()
    assert(spark.read.parquet(outDir).count() == 200)

    // new files land; drain 3 picks up exactly the increment
    PageSource.genPages(spark, 100, 2)
      .map(p => p.copy(url = p.url + "?v=2"))
      .toDF().write.mode("append").parquet(pagesDir)
    StreamingExtract.start(spark, pagesDir, outDir, ckpt).awaitTermination()
    assert(spark.read.parquet(outDir).count() == 300)
  }
}
