package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One [[GraftSession]] per suite: started before the first test,
  * stopped after the last. A suite overrides `master` or `confs` (a
  * test FileSystem, a warehouse dir) when it needs to; the explicit
  * master keeps specs off the `SPARK_GRAFT_*` env.
  */
trait SparkSuite extends BeforeAndAfterAll { this: Suite =>

  protected def master: String = "local[4]"
  protected def confs: Map[String, String] = Map.empty

  private var session: SparkSession = _
  protected def spark: SparkSession = session

  override def beforeAll(): Unit = {
    super.beforeAll()
    session = GraftSession(master, confs)
  }

  override def afterAll(): Unit =
    try super.afterAll() finally if (session != null) session.stop()
}
