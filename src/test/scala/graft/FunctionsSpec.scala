package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GraftExtensions, GraftFunctions}
import graft.ops.TextOps

class FunctionsSpec extends AnyFunSuite with SparkSuite {

  override protected def master = "local[2]"

  override def beforeAll(): Unit = {
    super.beforeAll()
    GraftExtensions.register(spark)
  }

  test("simhash64 expression matches the Scala reference bit-for-bit") {
    // includes non-normalized inputs: leading/trailing/double spaces
    // produce empty split() tokens, which BOTH kernels must skip
    val texts = Seq("", "a", "one two three", "the the the",
      " leading", "trailing ", "double  space", "  ", " a  b ",
      (1 to 200).map(i => s"w$i").mkString(" "))
    texts.foreach { t =>
      assert(GraftFunctions.simhash64(UTF8String.fromString(t)) == TextOps.simhash(t),
        s"kernel mismatch for '$t'")
    }
    val s = spark
    import s.implicits._
    val df = texts.toDF("text").selectExpr("text", "simhash64(text) AS sh")
    df.collect().foreach { r =>
      assert(r.getLong(1) == TextOps.simhash(r.getString(0)))
    }
  }

  test("simhash64 stays inside WholeStageCodegen") {
    val s = spark
    import s.implicits._
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "simhash64(text) AS sh")
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" prefix marks operators inside a WholeStageCodegen stage
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("simhash64")), plan)
    assert(!plan.contains("DeserializeToObject"), "object-mode boundary leaked in")
    // and it executes (codegen path, not just interpreted fallback)
    assert(df.count() == 500)
    // deterministic across runs
    val a = df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val b = df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a == b)
  }

  test("simhash64 is null-safe") {
    val s = spark
    import s.implicits._
    val df = Seq(Some("x y"), None).toDF("text").selectExpr("simhash64(text) AS sh")
    val rows = df.collect()
    assert(!rows(0).isNullAt(0) && rows(1).isNullAt(0))
  }

  test("dot_f64 is bit-identical to the aggregate-over-zip_with fold") {
    val s = spark
    import s.implicits._
    // cases that pin the exact semantics: the left-to-right DOUBLE fold
    // order (mixed magnitudes where (a+b)+c != a+(c+b)), empty arrays
    // (fold initial 0.0), UNEQUAL lengths (zip_with pads with null ->
    // fold null), null elements, and null arrays
    val rng = new scala.util.Random(42)
    val rand = (1 to 50).map(_ =>
      (Some(Seq.fill(16)(rng.nextFloat() * 2 - 1)), Some(Seq.fill(16)(rng.nextFloat() * 2 - 1))))
    val edge: Seq[(Option[Seq[Float]], Option[Seq[Float]])] = Seq(
      (Some(Seq(1e30f, 1f, -1e30f)), Some(Seq(1e8f, 1f, 1e8f))), // order-sensitive
      (Some(Seq.empty[Float]), Some(Seq.empty[Float])),          // empty -> 0.0
      (Some(Seq(1f, 2f)), Some(Seq(1f))),                        // unequal -> null
      (Some(Seq(1f)), Some(Seq(1f, 2f))),                        // unequal -> null
      (None, Some(Seq(1f))),                                     // null array
      (Some(Seq(1f)), None))
    val df = (rand ++ edge).toDF("x", "y")
      .selectExpr("x", "y",
        "dot_f64(x, y) AS fast",
        "aggregate(zip_with(x, y, (p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)), " +
          "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS slow")
    df.collect().foreach { r =>
      val (fn, sn) = (r.isNullAt(2), r.isNullAt(3))
      assert(fn == sn, s"null mismatch: $r")
      if (!fn) {
        // bit-identical, not approximately-equal: the DuckDB mirror
        // replays the same fold, so the doubles must match exactly
        assert(java.lang.Double.doubleToRawLongBits(r.getDouble(2)) ==
          java.lang.Double.doubleToRawLongBits(r.getDouble(3)), s"value mismatch: $r")
      }
    }
    // and the fast path stays inside WholeStageCodegen (parquet-backed:
    // a local relation constant-folds to LocalTableScan before codegen)
    val pq = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("vec_id", "dot_f64(embedding, embedding) AS d2")
    val plan = pq.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("dot_f64")), plan)
    assert(pq.count() > 0)
  }
}
