package perfbench

import org.apache.spark.sql.SparkSession

import graft.IncrementalCurate
import graft.ops.TextOps

/** A chain of constant-size drops ingested against one growing state.
  * Drop k is generated just before it is ingested; the expected
  * admitted, linked and canonical-total counts follow from the planted
  * classes alone.
  */
final class DropChain(spark: SparkSession, val dir: String, val seed: Long,
                      val n: Long, val words: Int) {
  val stateDir = s"$dir/state"
  private var next = 0
  private var canonical = 0L

  def docs(k: Int): Seq[Gen.Doc] =
    (k * n until (k + 1) * n).map(id => Gen.doc(seed, k, n, id, words))

  final case class Drop(wallS: Double, textBytes: Long, stateBytesAdded: Long,
                        admitted: Long, linked: Long, error: Option[String])

  /** Generates and ingests the next drop; only the ingest is timed. */
  def ingestNext(tracer: Option[Tracer] = None): Drop = {
    val k = next
    next += 1
    val ds = docs(k)
    val dropDir = s"$dir/drop$k"
    import spark.implicits._
    ds.map(d => (d.url, d.text)).toDF("url", "text").coalesce(1)
      .write.mode("overwrite").parquet(dropDir)
    val textBytes = ds.map(_.text.length.toLong).sum // ASCII text
    val before = Files.dataBytes(stateDir)
    val (nDocs, newUrls, linked, admitted) = Gen.planted(seed, k, n, words)
    try {
      val t0 = System.nanoTime()
      val r = tracer match {
        case Some(t) => t.span("IncrementalCurate.ingestDrop")(IncrementalCurate.ingestDrop(spark, dropDir, stateDir))
        case None => IncrementalCurate.ingestDrop(spark, dropDir, stateDir)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      canonical += admitted
      val got = (r.nDrop, r.nNewUrls, r.nStateLinked, r.nAdmitted, r.nCanonicalTotal)
      val want = (nDocs, newUrls, linked, admitted, canonical)
      val err = if (got == want) None
        else Some(s"drop $k (docs, new urls, linked, admitted, canonical total) = $got, planted $want")
      if (err.nonEmpty) canonical = r.nCanonicalTotal
      Drop(wall, textBytes, Files.dataBytes(stateDir) - before, r.nAdmitted, r.nStateLinked, err)
    } catch {
      case e: Exception =>
        Drop(0.0, textBytes, 0L, 0L, 0L, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    } finally Files.delete(dropDir)
  }
}

object Curate {

  /** Single-threaded MinHash signatures over one drop's texts. */
  def minhash(chain: DropChain, tracer: Tracer, minSeconds: Double): Double = {
    val texts = chain.docs(1).map(_.text).toArray
    texts.foreach(TextOps.minhashSignature)
    var n = 0L
    val t0 = System.nanoTime()
    tracer.span("TextOps.minhashSignature") {
      while (n == 0 || (System.nanoTime() - t0) / 1e9 < minSeconds) {
        texts.foreach(TextOps.minhashSignature)
        n += texts.length
      }
    }
    (System.nanoTime() - t0) / 1e3 / n
  }

  /** Per-drop attribution on a chain whose set-up drops are already
    * ingested: `pairs` times an untraced drop (when `untraced`) then a
    * traced one. The traced drops give the Spark job, planning, gap,
    * task and shuffle figures; the pairs give the tracing overhead.
    */
  final case class Layers(metrics: Map[String, Double], spark: SparkStats,
                          tracedWallS: Double, untracedWallS: Double, drops: Seq[DropChain#Drop])

  def layers(chain: DropChain, tracer: Tracer, pairs: Int, untraced0: Boolean): Layers = {
    val untraced, traced = scala.collection.mutable.ArrayBuffer.empty[DropChain#Drop]
    val stats = scala.collection.mutable.ArrayBuffer.empty[SparkStats]
    (0 until pairs).foreach { _ =>
      if (untraced0) untraced += tracer.paused(chain.ingestNext())
      traced += chain.ingestNext(Some(tracer))
      stats += tracer.stats(tracer.spans.filter(_.name == "IncrementalCurate.ingestDrop").last)
    }
    val med = (f: SparkStats => Double) => Stats.median(stats.map(f).toSeq)
    val all = (untraced ++ traced).toSeq
    val m = Map(
      "curate.jobs_per_drop" -> med(_.jobs.toDouble),
      "curate.plan_s_per_drop" -> med(_.planS),
      "curate.driver_gap_s_per_drop" -> med(_.driverGapS),
      "curate.task_s_per_drop" -> med(_.taskS),
      "curate.shuffle_mb_per_drop" -> med(_.shuffleWriteMb),
      "curate.state_mb" -> Files.dataBytes(chain.stateDir) / 1e6,
      "curate.admit_ratio" -> Stats.median(all.map(d => d.admitted.toDouble / chain.n)),
      "curate.linked_ratio" -> Stats.median(all.map(d => d.linked.toDouble / chain.n)),
      "ops.minhash_us_per_doc" -> minhash(chain, tracer, 0.5))
    Layers(m,
      SparkStats(med(_.jobs.toDouble).toInt, med(_.planS), med(_.driverGapS), med(_.taskS),
        med(_.cpuS), med(_.gcS), med(_.shuffleWriteMb), med(_.spillMb), med(_.partitionSkew)),
      Stats.median(traced.map(_.wallS).toSeq), Stats.median(untraced.map(_.wallS).toSeq), all)
  }
}
