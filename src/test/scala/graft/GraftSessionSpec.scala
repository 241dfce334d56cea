package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session policy every graft job, dev tool and spec runs under. */
class GraftSessionSpec extends AnyFunSuite with SparkSuite {

  override protected def master = "local[3]"

  test("explicit master: shuffle partitions = its cores, UTC, UI off, AQE on by Spark default") {
    val sc = spark.sparkContext
    assert(sc.master == "local[3]" && sc.defaultParallelism == 3)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "3")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(sc.uiWebUrl.isEmpty)
    // nothing sets the AQE flags, yet they read true: the explicit
    // settings the job builders used to carry restated Spark defaults
    for (k <- Seq("adaptive", "adaptive.coalescePartitions", "adaptive.skewJoin")) {
      assert(!sc.getConf.contains(s"spark.sql.$k.enabled"))
      assert(spark.conf.get(s"spark.sql.$k.enabled") == "true", k)
    }
  }
}
