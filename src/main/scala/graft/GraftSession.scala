package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.spark.sql.SparkSession

/** The one session policy of every graft job, dev tool and spec:
  *  - master: `SPARK_GRAFT_MASTER`, else `local[cores]`
  *  - cores: `SPARK_GRAFT_CPUS`, else the cores the JVM sees
  *  - `spark.sql.shuffle.partitions` = the session's cores
  *  - UTC session time zone, UI off
  *  - WARN log level (a log4j config that is already quieter, as the
  *    test JVM's is, stays in force)
  * AQE with partition coalescing and skew-join splitting is on by
  * Spark default, so no session sets it. `Bench` and `Verify` keep
  * their own builders: they are frozen measurement surfaces.
  */
object GraftSession {

  /** Cores of the default session. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  private val LocalN = """local\[(\d+)\]""".r

  private def coresOf(master: String): Int = master match {
    case LocalN(n) => n.toInt
    case _ => cores
  }

  /** @param master an explicit master (specs, dev tools) reads no env
    * @param confs  extra session confs, e.g. a test FileSystem
    */
  def apply(
      master: String = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]"),
      confs: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .appName("graft")
      .master(master)
      .config("spark.sql.shuffle.partitions", coresOf(master).toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(confs)
      .getOrCreate()
    if (LogManager.getRootLogger.getLevel.isLessSpecificThan(Level.WARN))
      spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
