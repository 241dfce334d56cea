package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed call into the program. `endNs` stays -1 while it is open. */
final class Span(val id: Int, val parent: Int, val name: String,
                 val startMs: Long, val startNs: Long) {
  var endNs: Long = -1L
  var endMs: Long = -1L
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  def seconds: Double = (endNs - startNs) / 1e9
}

/** What Spark did inside one span and its descendants. */
final case class SparkStats(
    jobs: Int, planS: Double, driverGapS: Double, taskS: Double, cpuS: Double,
    gcS: Double, shuffleWriteMb: Double, spillMb: Double, partitionSkew: Double)

/** Spans plus the benchmark's own Spark listeners. Each span sets the
  * `perfbench.span` local property, so every job the program launches
  * inside it is attributed to it; query planning time comes from each
  * query's phase tracker and is attributed by time window. Nothing is
  * instrumented inside the program.
  */
final class Tracer(spark: SparkSession, val traceId: String) {
  private val sc = spark.sparkContext
  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  private final class TaskAgg {
    var runMs, cpuNs, gcMs, shuffleWrite, spill = 0L
    val reduceReads = ArrayBuffer.empty[Long]
  }
  private final case class Job(id: Int, span: Int, startMs: Long, var endMs: Long)
  private val lock = new Object
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val tasks = mutable.HashMap.empty[Int, TaskAgg]
  private val queries = ArrayBuffer.empty[(Long, Long)] // (first phase start ms, plan ms)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span")))
        .map(_.toInt).getOrElse(-1)
      jobs(e.jobId) = Job(e.jobId, span, e.time, -1L)
      e.stageIds.foreach(stageSpan(_) = span)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val a = tasks.getOrElseUpdate(stageSpan.getOrElse(e.stageId, -1), new TaskAgg)
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.diskBytesSpilled
        val read = m.shuffleReadMetrics.totalBytesRead
        if (read > 0) a.reduceReads += read
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) lock.synchronized {
        queries += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }
  private def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }
  private def detach(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
  attach()

  def close(): Unit = detach()

  /** Runs `body` with the listeners detached: the untraced baseline the
    * tracing overhead is measured against.
    */
  def paused[T](body: => T): T = { detach(); try body finally attach() }

  def span[T](name: String)(body: => T): T = {
    val parent = open.headOption
    val s = new Span(spans.size, parent.map(_.id).getOrElse(-1), name,
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    open = s :: open
    sc.setLocalProperty("perfbench.span", s.id.toString)
    sc.setJobDescription(name)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      PerfbenchBus.drain(sc)
      open = open.tail
      sc.setLocalProperty("perfbench.span", parent.map(_.id.toString).orNull)
      sc.setJobDescription(parent.map(_.name).orNull)
    }
  }

  /** A child span for work timed by the caller in many small slices
    * (the single-threaded kernel stages), placed at the end of the
    * current span.
    */
  def aggregate(name: String, seconds: Double, calls: Long): Unit = {
    val now = System.nanoTime()
    val s = new Span(spans.size, open.headOption.map(_.id).getOrElse(-1), name,
      System.currentTimeMillis(), now - (seconds * 1e9).toLong)
    s.endNs = now
    s.endMs = System.currentTimeMillis()
    s.attrs("calls") = calls
    spans += s
  }

  private def subtree(root: Span): Set[Int] = {
    val ids = mutable.Set(root.id)
    spans.foreach(s => if (ids.contains(s.parent)) ids += s.id)
    ids.toSet
  }

  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def stats(root: Span): SparkStats = lock.synchronized {
    val ids = subtree(root)
    val js = jobs.values.filter(j => ids.contains(j.span)).toSeq
    val ts = tasks.collect { case (k, v) if ids.contains(k) => v }.toSeq
    // union of job intervals, for the driver-side gap
    var covered = 0L
    var reach = Long.MinValue
    js.map(j => (j.startMs, math.max(j.endMs, j.startMs))).sortBy(_._1).foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) covered += b - from
      reach = math.max(reach, b)
    }
    val planMs = queries.collect {
      case (start, ms) if start >= root.startMs && start <= root.endMs => ms
    }.sum
    val reads = ts.flatMap(_.reduceReads).sorted
    val skew =
      if (reads.isEmpty) 1.0
      else reads.last.toDouble / math.max(1L, reads(reads.size / 2)).toDouble
    SparkStats(
      jobs = js.size,
      planS = planMs / 1e3,
      driverGapS = math.max(0.0, root.seconds - covered / 1e3),
      taskS = ts.map(_.runMs).sum / 1e3,
      cpuS = ts.map(_.cpuNs).sum / 1e9,
      gcS = ts.map(_.gcMs).sum / 1e3,
      shuffleWriteMb = ts.map(_.shuffleWrite).sum / 1e6,
      spillMb = ts.map(_.spill).sum / 1e6,
      partitionSkew = skew)
  }

  def toJson(info: Map[String, Any]): String = Json.obj(
    "trace_id" -> traceId,
    "info" -> info,
    "spans" -> spans.map { s =>
      val st = stats(s)
      mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "seconds" -> s.seconds, "self_seconds" -> selfSeconds(s),
        "jobs" -> st.jobs, "plan_s" -> st.planS, "task_s" -> st.taskS,
        "shuffle_write_mb" -> st.shuffleWriteMb, "attrs" -> s.attrs)
    }.toSeq)
}

/** Minimal JSON writer: numbers keep all their digits. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = value(mutable.LinkedHashMap(kv: _*))
}
