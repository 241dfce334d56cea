package graft

/** Focused per-query benchmark harness for OPTIMIZATION work (guide
  * §1.4/§1.5) — graft.Bench is FROZEN for measurement, so targeted
  * iteration lives here: time a SUBSET of SparkEntry.queries with
  * repeats, optionally capture `.explain("formatted")` per query.
  *
  * Usage (env, same contract as Bench):
  *   SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_CPUS     core count (default: the machine's, see GraftSession)
  * Args: [repeats] [query,query,...]  — no query list = all queries.
  *   SPARK_GRAFT_EXPLAIN_DIR  when set, writes <dir>/<query>.txt with
  *     the formatted physical plan (no timing run needed for that).
  *
  * Timing methodology matches Bench exactly: wall time of
  * `fn(spark, sfDir).count()` including any eager actions the query
  * function performs. Job descriptions are set per query so the run is
  * attributable in event logs.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repeats = if (args.length > 0) args(0).toInt else 1
    val subset: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").map(_.trim).toSet) else None
    val explainDir = sys.env.get("SPARK_GRAFT_EXPLAIN_DIR")
    val spark = GraftSession()

    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => subset.forall(_.contains(n)) }

    explainDir.foreach { dir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      qs.foreach { case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution
            .explainString(org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dir, s"$name.txt"),
            plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        } catch {
          case e: Throwable =>
            System.err.println(s"[benchextra] explain $name FAILED: ${e.getMessage}")
        }
      }
    }

    val results = qs.map { case (name, fn) =>
      val times = (0 until repeats).map { i =>
        spark.sparkContext.setJobDescription(s"benchextra:$name#$i")
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      spark.sparkContext.setJobDescription(null)
      name -> times
    }
    val json = results.map { case (n, ts) =>
      "\"" + n + "\":[" + ts.map(t => f"$t%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val load = try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split(" ").take(3).mkString("[", ",", "]") catch { case _: Throwable => "null" }
    println(s"""{"times":$json,"load":$load,"sf":"$sfDir"}""")
    spark.stop()
  }
}
