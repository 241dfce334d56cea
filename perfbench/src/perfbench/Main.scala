package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

object Files {
  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
      .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith("."))
      .flatMap(walk)
    else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty

  /** Bytes of the parquet data files under `dir`: commit logs,
    * manifests, checksums and staging dirs are not data.
    */
  def dataBytes(dir: String): Long = walk(new java.io.File(dir)).map(_.length).sum
  def dataFiles(dir: String): Int = walk(new java.io.File(dir)).size
  def delete(path: String): Unit = org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.filterNot(_.isNaN).sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Every metric the benchmark reports, with its unit. */
object Units {
  val endToEnd: Seq[(String, String)] = Seq(
    "docs_per_s" -> "docs/s", "setup_s" -> "s", "peak_rss_mb" -> "MB",
    "bytes_out_per_in" -> "ratio", "ok_ratio" -> "ratio")
  val perLayer: Seq[(String, String)] = Seq(
    "extract.tokenize_us_per_doc" -> "us", "extract.score_us_per_doc" -> "us",
    "extract.assemble_us_per_doc" -> "us", "extract.kernel_mb_per_s_core" -> "MB/s",
    "functions.extract_page_s" -> "s", "functions.extract_page.gap_to_kernel" -> "ratio",
    "pipeline.scan_s" -> "s", "pipeline.scan_mb_per_s" -> "MB/s",
    "pipeline.gate.rows_in" -> "count", "pipeline.gate.rows_kept" -> "count",
    "pipeline.exchange_s" -> "s", "pipeline.exchange.shuffle_write_mb" -> "MB",
    "pipeline.exchange.spill_mb" -> "MB", "pipeline.exchange.partition_skew" -> "ratio",
    "pipeline.exchange.rows_dropped" -> "count",
    "pipeline.write_s" -> "s", "pipeline.write.mb" -> "MB", "pipeline.write.files" -> "count",
    "pipeline.commit_s" -> "s", "pipeline.layers_sum_s" -> "s", "pipeline.untraced_run_s" -> "s",
    "pipeline.accounted_ratio" -> "ratio",
    "spark.plan_s" -> "s", "spark.jobs" -> "count", "spark.driver_gap_s" -> "s",
    "spark.task_s" -> "s", "spark.gc_s" -> "s", "spark.cpu_util" -> "ratio",
    "curate.jobs_per_drop" -> "count", "curate.plan_s_per_drop" -> "s",
    "curate.driver_gap_s_per_drop" -> "s", "curate.task_s_per_drop" -> "s",
    "curate.shuffle_mb_per_drop" -> "MB", "curate.state_mb" -> "MB",
    "curate.admit_ratio" -> "ratio", "curate.linked_ratio" -> "ratio",
    "ops.minhash_us_per_doc" -> "us",
    "scaling.eff_1to4" -> "ratio", "trace.overhead_s" -> "s")
  val all: Map[String, String] = (endToEnd ++ perLayer).toMap
}

final class Result {
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]

  def count(error: Option[String]): Unit = {
    attempted += 1
    error.foreach { e =>
      failed += 1
      errors += e
      System.err.println(s"[perfbench] output check failed: $e")
    }
  }

  def correct: Boolean = attempted > 0 && failed == 0

  def toMap: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap(
    "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
    "metrics" -> metrics.map { case (k, v) =>
      k -> mutable.LinkedHashMap("value" -> v, "unit" -> Units.all(k))
    })
}

/** Sizes of one run. `Full` is what the benchmark measures; `Smoke`
  * exercises every path at toy sizes.
  */
final case class Sizes(
    pages4k: Int, pages33k: Int, dropDocs: Long, dropWords: Int,
    sample4k: Int, sample33k: Int, sidePages: Int, sideDropDocs: Long,
    prefixReps: Int, inputReps: Int, warmSeconds: Double, setupDrops: Int, kernelSeconds: Double)

object Sizes {
  val Full = Sizes(16000, 2400, 2000, 60, 1500, 200, 3000, 1000, 3, 2, 8.0, 1, 1.0)
  val Smoke = Sizes(300, 24, 100, 60, 60, 8, 200, 100, 1, 1, 0.0, 1, 0.05)
}

/** perfbench: closed-loop runs of the extraction and curation jobs, one
  * job at a time in one JVM on `local[min(4, cpus)]`.
  *
  *   perfbench.Main --workload crawl_4k|crawl_33k|curate_drops --seed N
  *     --seconds S --trace 0|1 --workdir DIR [--spans FILE] [--launch-ms T]
  *   perfbench.Main --smoke --workdir DIR [--spans FILE]
  *
  * The last stdout line is the run's result as JSON.
  */
object Main {

  val Workloads = Seq("crawl_4k", "crawl_33k", "curate_drops")

  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  /** Repeats `body` until `seconds` have passed, at least once. */
  private def loop[T](seconds: Double)(body: => T): Seq[T] = {
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer.empty[T]
    while (out.isEmpty || since(t0) < seconds) out += body
    out.toSeq
  }

  /** Input set-up done `reps` times; the first result is kept and its
    * time is reported as the median over the repetitions.
    */
  private def inputs[T](reps: Int)(make: Int => T)(drop: Int => Unit): (T, Double) = {
    val timed = (0 until reps).map { i =>
      val t0 = System.nanoTime()
      val v = make(i)
      (v, since(t0))
    }
    (1 until reps).foreach(drop)
    (timed.head._1, Stats.median(timed.map(_._2)))
  }

  private def sparkMetrics(st: SparkStats, wallS: Double, cores: Int): Map[String, Double] = Map(
    "spark.plan_s" -> st.planS, "spark.jobs" -> st.jobs.toDouble,
    "spark.driver_gap_s" -> st.driverGapS, "spark.task_s" -> st.taskS,
    "spark.gc_s" -> st.gcS, "spark.cpu_util" -> st.cpuS / (wallS * cores))

  final case class CrawlTrace(layers: Map[String, Double], st: SparkStats,
                              tracedS: Double, untracedS: Double)

  /** Untraced and traced ExtractJob runs plus the prefix attribution. */
  private def traceCrawl(spark: SparkSession, tracer: Tracer, res: Result, c: Corpus,
                         work: String, cores: Int, sample: Int, sz: Sizes): CrawlTrace = {
    val out = s"$work/out"
    // untraced and traced runs alternate, so a drift in speed hits both
    val pairs = (0 until 2).map { _ =>
      (tracer.paused(Crawl.runOnce(spark, c, out)), Crawl.runOnce(spark, c, out, Some(tracer)))
    }
    pairs.foreach { case (u, t) => res.count(u.error); res.count(t.error) }
    val st = tracer.stats(tracer.spans.filter(_.name == "ExtractJob.run").last)
    val u = Stats.median(pairs.map(_._1.wallS))
    val l = Crawl.layers(spark, tracer, c, work, cores, sample, sz.kernelSeconds, sz.prefixReps)
    CrawlTrace(l ++ Map("pipeline.untraced_run_s" -> u,
      "pipeline.accounted_ratio" -> l("pipeline.layers_sum_s") / u), st,
      Stats.median(pairs.map(_._2.wallS)), u)
  }

  /** ExtractJob.run at local[1] against the local[cores] rate. */
  private def scaling(res: Result, c: Corpus, work: String, cores: Int, untracedS: Double): Double = {
    val s1 = session(1, work)
    try {
      val r = Crawl.runOnce(s1, c, s"$work/out")
      res.count(r.error)
      (c.pages / untracedS) / (cores * (c.pages / r.wallS))
    } finally s1.stop()
  }

  private def newChain(spark: SparkSession, work: String, seed: Long, n: Long, words: Int,
                       setupDrops: Int, res: Result): DropChain = {
    Files.delete(s"$work/chain")
    val chain = new DropChain(spark, s"$work/chain", seed, n, words)
    (0 until setupDrops).foreach(_ => res.count(chain.ingestNext().error))
    chain
  }

  def run(w: String, seed: Long, seconds: Double, trace: Boolean, sz: Sizes, work: String,
          jvmS: Double, corrupt: Boolean, spansPath: Option[String]): Result = {
    val res = new Result
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val sessionS = since(t0)
    res.info ++= Seq("workload" -> w, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "jvm_start_s" -> jvmS, "session_s" -> sessionS)
    val tracer = if (trace) Some(new Tracer(spark, s"$w-$seed")) else None

    def crawlCorpus(pages: Int, scale: Int, recrawl: Int): (Corpus, Double) = {
      val (c, inputS) = inputs(sz.inputReps)(i =>
        Crawl.generate(spark, s"$work/pages$i", seed, pages, scale, recrawl))(i => Files.delete(s"$work/pages$i"))
      res.info ++= Seq("rows" -> c.rows, "urls" -> c.pages, "input_html_bytes" -> c.htmlBytes,
        "input_file_bytes" -> c.fileBytes, "input_s" -> inputS)
      (c, inputS)
    }

    w match {
      case "crawl_4k" | "crawl_33k" =>
        val (pages, scale, recrawl, sample) =
          if (w == "crawl_4k") (sz.pages4k, 1, 8, sz.sample4k) else (sz.pages33k, 9, 0, sz.sample33k)
        val (c, inputS) = crawlCorpus(pages, scale, recrawl)
        val tw = System.nanoTime()
        // warm-up by time, not by count: the JIT settles later on the
        // few-large-pages corpus than on the many-small-pages one
        loop(sz.warmSeconds) {
          res.count(Crawl.runOnce(spark, c, s"$work/out", corruptDigest = corrupt).error)
        }
        val warmS = since(tw)
        res.metrics("setup_s") = jvmS + sessionS + inputS + warmS
        res.info("warmup_s") = warmS
        tracer match {
          case None =>
            val runs = loop(seconds) {
              val r = Crawl.runOnce(spark, c, s"$work/out", corruptDigest = corrupt)
              res.count(r.error)
              r
            }
            val ok = runs.filter(_.error.isEmpty)
            res.metrics("docs_per_s") = Stats.median(ok.map(r => r.rows / r.wallS))
            res.metrics("bytes_out_per_in") = Stats.median(ok.map(_.outBytes.toDouble)) / c.htmlBytes
            res.info("run_walls_s") = runs.map(_.wallS)
          case Some(t) =>
            val ct = traceCrawl(spark, t, res, c, work, cores, sample, sz)
            res.metrics ++= ct.layers.filter(kv => Units.all.contains(kv._1))
            res.metrics ++= sparkMetrics(ct.st, ct.tracedS, cores)
            res.metrics("trace.overhead_s") = ct.tracedS - ct.untracedS
            // the curation layers, on a small chain: one set-up drop, one traced
            val side = newChain(spark, work, seed, sz.sideDropDocs, sz.dropWords, 1, res)
            val cl = Curate.layers(side, t, 1, untraced0 = false)
            cl.drops.foreach(d => res.count(d.error))
            res.metrics ++= cl.metrics
            t.close()
            spark.stop()
            res.metrics("scaling.eff_1to4") = scaling(res, c, work, cores, ct.untracedS)
        }

      case "curate_drops" =>
        val tw = System.nanoTime()
        val chain = newChain(spark, work, seed, sz.dropDocs, sz.dropWords, sz.setupDrops, res)
        res.metrics("setup_s") = jvmS + sessionS + since(tw)
        res.info ++= Seq("drop_docs" -> sz.dropDocs, "words_per_doc" -> sz.dropWords)
        tracer match {
          case None =>
            val drops = loop(seconds) {
              val d = chain.ingestNext()
              res.count(d.error)
              d
            }
            val ok = drops.filter(_.error.isEmpty)
            res.metrics("docs_per_s") = Stats.median(ok.map(d => chain.n / d.wallS))
            res.metrics("bytes_out_per_in") =
              Stats.median(ok.map(d => d.stateBytesAdded.toDouble / d.textBytes))
            res.info ++= Seq("drop_walls_s" -> drops.map(_.wallS), "drops" -> drops.size,
              "input_text_bytes_per_drop" -> drops.head.textBytes)
          case Some(t) =>
            // one more drop first, so that neither drop of the pair pays
            // the first compile of the state-join paths
            res.count(chain.ingestNext().error)
            val cl = Curate.layers(chain, t, 1, untraced0 = true)
            cl.drops.foreach(d => res.count(d.error))
            res.metrics ++= cl.metrics
            res.metrics ++= sparkMetrics(cl.spark, cl.tracedWallS, cores)
            res.metrics("trace.overhead_s") = cl.tracedWallS - cl.untracedWallS
            // the crawl layers, on a small 4 KB-page corpus
            val (c, _) = crawlCorpus(sz.sidePages, 1, 8)
            res.count(Crawl.runOnce(spark, c, s"$work/out").error)
            val ct = traceCrawl(spark, t, res, c, work, cores, sz.sample4k, sz)
            res.metrics ++= ct.layers.filter(kv => Units.all.contains(kv._1))
            t.close()
            spark.stop()
            res.metrics("scaling.eff_1to4") = scaling(res, c, work, cores, ct.untracedS)
        }
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (!trace) {
      res.info("heap_committed_mb") = Runtime.getRuntime.totalMemory / 1048576.0
      res.info("heap_peak_used_mb") = {
        import scala.jdk.CollectionConverters._
        java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0
      }
      res.metrics("peak_rss_mb") = peakRssMb()
      res.metrics("ok_ratio") = (res.attempted - res.failed).toDouble / res.attempted
    }
    // a run reports exactly its own metric set: end-to-end untraced,
    // per-layer traced (set-up time of a traced run goes to the info)
    val wanted = (if (trace) Units.perLayer else Units.endToEnd).map(_._1).toSet
    res.metrics.keys.filterNot(wanted).toSeq.foreach(k => res.info(k) = res.metrics.remove(k).get)
    for (t <- tracer; p <- spansPath) {
      val f = new java.io.File(p)
      Option(f.getParentFile).foreach(_.mkdirs())
      java.nio.file.Files.write(f.toPath, t.toJson(res.info.toMap).getBytes("UTF-8"))
    }
    res.info("errors") = res.errors.take(5).toSeq
    res
  }

  private def parse(args: Array[String]): Map[String, String] = {
    val flags = Set("--smoke")
    val out = mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      require(a.startsWith("--"), s"unexpected argument $a")
      if (flags(a)) { out(a.drop(2)) = "1"; i += 1 }
      else {
        require(i + 1 < args.length, s"$a needs a value")
        out(a.drop(2)) = args(i + 1); i += 2
      }
    }
    out.toMap
  }

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val o = parse(args)
    val work = o.getOrElse("workdir", sys.error("--workdir is required"))
    val jvmS = o.get("launch-ms").map(l => (mainMs - l.toLong) / 1e3)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3)
    val spans = o.get("spans")
    val ok = try {
      if (o.contains("smoke")) {
        // every workload untraced, one traced run (it measures every
        // layer), then a run whose reference digest is corrupted on purpose
        val plan = Workloads.map((_, false, false)) :+ (("crawl_4k", true, false)) :+
          (("crawl_4k", false, true))
        plan.map { case (w, trace, corrupt) =>
          val r = run(w, 7L, 0.5, trace, Sizes.Smoke, s"$work/$w", jvmS, corrupt,
            spans.filter(_ => trace).map(p => s"$p.$w"))
          println("PERFBENCH_SMOKE " + Json.obj("workload" -> w, "trace" -> trace,
            "corrupt_digest" -> corrupt, "result" -> r.toMap))
          r.correct != corrupt
        }.forall(identity)
      } else {
        val w = o.getOrElse("workload", sys.error("--workload is required"))
        require(Workloads.contains(w), s"--workload must be one of ${Workloads.mkString(", ")}")
        val r = run(w, o.getOrElse("seed", "1").toLong, o.getOrElse("seconds", "10").toDouble,
          o.getOrElse("trace", "0") == "1", Sizes.Full, s"$work/$w", jvmS,
          corrupt = false, spans)
        println("PERFBENCH_INFO " + Json.value(r.info))
        println(Json.value(r.toMap))
        r.correct
      }
    } finally {
      SparkSession.getActiveSession.foreach(_.stop())
      Files.delete(work)
    }
    System.out.flush()
    sys.exit(if (ok) 0 else 1)
  }
}
