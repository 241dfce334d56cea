package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketing = pre-shuffled storage (SURVEY.md §2.8 / §4.2 partition
  * pruning family): two tables bucketed+sorted on the join key join
  * with ZERO exchanges — the 100 TB pattern for repeatedly-joined
  * tables (write the shuffle once, reuse it on every join).
  */
class BucketingSpec extends AnyFunSuite with SparkSuite {

  override protected def confs = Map(
    "spark.sql.warehouse.dir" -> Files.createTempDirectory("graft-warehouse").toString,
    "spark.sql.autoBroadcastJoinThreshold" -> "-1") // force SMJ

  test("bucketed+sorted tables sort-merge join with zero exchanges") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.mode("overwrite")
      .bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable("docs_a")
    docs.select(col("doc_id"), col("n_chars")).write.mode("overwrite")
      .bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable("docs_b")

    val joined = spark.table("docs_a").join(spark.table("docs_b"), "doc_id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
    assert(joined.count() == 500)

    // contrast: the same join over plain parquet DOES shuffle
    val plain = docs.join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
    assert(plain.queryExecution.executedPlan.toString.contains("Exchange"))
  }
}
