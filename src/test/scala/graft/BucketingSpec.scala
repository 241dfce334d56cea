package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Bucketing = pre-shuffled storage (SURVEY.md §2.8 / §4.2 partition
  * pruning family): two tables bucketed+sorted on the join key join
  * with ZERO exchanges — the 100 TB pattern for repeatedly-joined
  * tables (write the shuffle once, reuse it on every join).
  */
class BucketingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    val wh = Files.createTempDirectory("graft-warehouse").toString
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-bucketing-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

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
