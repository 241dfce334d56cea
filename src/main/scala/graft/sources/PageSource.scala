package graft.sources

import java.nio.charset.StandardCharsets
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.extract.Page

/** Deterministic synthesis of the `pages` input table — EXACTLY the
  * input-hint shape (url, warc_ts, html BINARY, text, lang). Two
  * producers:
  *
  *  1. [[fromDocuments]] — wraps the driver's read-only
  *     documents.parquet rows into web pages whose main content IS the
  *     document text. Every derived field (url, epoch, paragraph count)
  *     is reconstructable in ANSI SQL, so DuckDB oracles can verify the
  *     whole extraction pipeline BYTE-IDENTICALLY (extracted text ==
  *     documents.text).
  *  2. [[genPages]] — seed-fixed splittable synthesis at arbitrary
  *     scale for the bench corpus (FIXTURES.md §1): Zipf-ish host skew,
  *     three DOM fixture classes, no wall clock, no global RNG.
  */
object PageSource {

  /** 2025-01-01T00:00:00Z. */
  val EpochBase: Long = 1735689600L
  /** Every 37th doc gets a second, later crawl snapshot (dedup tests). */
  val DupMod: Long = 37L
  val DupLagSec: Long = 86400L
  /** Words per paragraph when wrapping document text. */
  val WordsPerPara: Int = 8

  /** Skewed host id — FIXTURES.md §4 profile (host0 owns 50%, hosts
    * 1..9 own 25%, ~990-host long tail). SQL-mirrorable:
    * CASE WHEN id%2=0 THEN 0 WHEN id%4=3 THEN 1+(id%9) ELSE 10+(id%990) END
    */
  def hostId(id: Long): Long =
    if (id % 2 == 0) 0L
    else if (id % 4 == 3) 1L + (id % 9)
    else 10L + (id % 990)

  def urlOf(id: Long): String = s"https://host${hostId(id)}.example/p/$id"

  private def esc(s: String): String = {
    if (s.indexOf('&') < 0 && s.indexOf('<') < 0 && s.indexOf('>') < 0) s
    else s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
  }

  /** Split single-space-separated text into paragraphs of
    * [[WordsPerPara]] words. Paragraph count = (nWords+7)/8 — the SQL
    * mirror is (nw + 7) // 8 with nw = length-replace word count.
    */
  def paragraphs(text: String): Array[String] = {
    if (text.isEmpty) return Array.empty
    val words = text.split(' ')
    words.grouped(WordsPerPara).map(_.mkString(" ")).toArray
  }

  /** Boilerplate nav/footer shared by all synthesized pages. Link-heavy
    * by construction so the scorer rejects them.
    */
  val NavHtml =
    """<nav><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a></nav>"""
  val FooterHtml =
    """<footer><a href="/privacy">Privacy</a> <a href="/terms">Terms</a></footer>"""

  /** Planted cross-host citation target — every synthesized page's nav
    * carries ONE absolute out-link to this host, so a REAL link graph
    * is extractable from the markup itself (GraphOps.linkEdgesFromPages).
    * Same arithmetic family as GraphOps.hostRank's planted rule and
    * SQL-mirrorable (hidOf(doc_id*31+7) in the link_hosts oracle).
    */
  def linkTargetHost(id: Long): Long = hostId(id * 31L + 7L)

  /** The planted out-link markup: 40 bytes + target-host digits (the
    * host_cost oracle's byte accounting depends on this exact shape).
    * Anchor text "Ref" keeps the nav 100% link chars → score exactly 0.
    */
  def outLinkHtml(id: Long): String =
    s""" <a href="https://host${linkTargetHost(id)}.example/">Ref</a>"""

  /** Per-page nav: the static boilerplate plus the planted out-link. */
  def navHtml(id: Long): String =
    NavHtml.stripSuffix("</nav>") + outLinkHtml(id) + "</nav>"

  /** Planted mirror pages: every doc with id % 23 == 5 declares a
    * `<link rel="canonical">` to doc (id - 5) — the tracking-variant /
    * mirror shape canonical-URL dedup collapses. Head-only markup: no
    * extractable text, so extraction byte-identity is untouched; only
    * the host_cost byte accounting sees it (53 bytes + host digits +
    * target-id digits, spec-pinned).
    */
  val CanonicalMod: Long = 23L
  val CanonicalOff: Long = 5L

  def canonicalTarget(id: Long): Option[Long] =
    if (id % CanonicalMod == CanonicalOff) Some(id - CanonicalOff) else None

  def canonicalLinkHtml(id: Long): String =
    canonicalTarget(id)
      .map(t => s"""<link rel="canonical" href="${urlOf(t)}">""")
      .getOrElse("")

  /** Planted robots-noindex pages: every doc with id % 31 == 11
    * carries `<meta name="robots" content="noindex">` in the head —
    * the publisher opt-out a compliant training-data pipeline must
    * honor BEFORE extraction. Head-only (38 fixed bytes, no text):
    * extraction byte-identity untouched, host_cost sees the constant.
    */
  val NoindexMod: Long = 31L
  val NoindexOff: Long = 11L

  def isNoindex(id: Long): Boolean = id % NoindexMod == NoindexOff

  def robotsMetaHtml(id: Long): String =
    if (isNoindex(id)) """<meta name="robots" content="noindex">""" else ""

  /** Wrap document text into a page whose extraction (blockSep=" ") is
    * byte-identical to `text`.
    */
  def wrapHtml(docId: Long, text: String): Array[Byte] = {
    val sb = new java.lang.StringBuilder(text.length + 512)
    sb.append("<html><head><title>Doc ").append(docId)
      .append("</title>").append(canonicalLinkHtml(docId))
      .append(robotsMetaHtml(docId))
      .append("</head>\n<body>\n")
    sb.append(navHtml(docId)).append('\n')
    sb.append("""<div class="main">""")
    paragraphs(text).foreach { para =>
      sb.append("<p>").append(esc(para)).append("</p>")
    }
    sb.append("</div>\n")
    sb.append(FooterHtml).append("\n</body></html>\n")
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  /** Noisy crawl-style `text` column (decoy — naive tag strip keeps the
    * boilerplate). The engine must never read it on the hot path.
    */
  def noisyText(text: String): String =
    "Home About Contact " + text + " Privacy Terms"

  private def tsOf(epochSec: Long): Timestamp = new Timestamp(epochSec * 1000L)

  /** Pages derived 1:1 (+dup snapshots) from the driver's documents
    * table. All derivations SQL-mirrorable for the DuckDB oracle.
    */
  def fromDocuments(spark: SparkSession, sfDir: String, withDups: Boolean): Dataset[Page] = {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "lang")
      .as[(Long, String, String)]
    docs.flatMap { case (docId, text, lang) =>
      val base = Page(
        url = urlOf(docId),
        warc_ts = tsOf(EpochBase + docId),
        html = wrapHtml(docId, text),
        text = noisyText(text),
        lang = lang
      )
      if (withDups && docId % DupMod == 0L)
        Seq(base, base.copy(warc_ts = tsOf(EpochBase + docId + DupLagSec)))
      else Seq(base)
    }
  }

  // ---------------------------------------------------------------------
  // Seed-fixed large-scale synthesis (bench corpus)
  // ---------------------------------------------------------------------

  /** splitmix64 — the standard splittable PRNG step; keyed by doc id so
    * generation is order- and partitioning-independent.
    */
  def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private val Vocab: Array[String] = Array(
    "the", "a", "spark", "data", "table", "row", "column", "query", "join",
    "filter", "scan", "merge", "sort", "hash", "group", "agg", "window",
    "stream", "batch", "key", "value", "order", "part", "line", "customer",
    "fast", "slow", "big", "small", "vector", "page", "crawl", "extract",
    "block", "span", "text", "link", "host", "shard", "salt", "skew"
  )

  /** Deterministic content words for doc `id` (wordCount words). */
  def contentText(id: Long, wordCount: Int): String = {
    val sb = new java.lang.StringBuilder(wordCount * 6)
    var h = splitmix64(id ^ 0x5eedL)
    var i = 0
    while (i < wordCount) {
      if (i > 0) sb.append(' ')
      h = splitmix64(h)
      sb.append(Vocab(((h >>> 8) % Vocab.length).toInt))
      i += 1
    }
    sb.toString
  }

  /** One synthesized bench page of 100..999 words (~4 KB html);
    * fixture class by id%3: 0 → nested (horizontal analog),
    * 1 → rotated-table (multi-oriented), 2 → irregular (curved) —
    * FIXTURES.md §3.
    */
  def genPage(id: Long): Page = {
    val h = splitmix64(id)
    val wordCount = 100 + ((h >>> 16) % 900L).toInt
    val text = contentText(id, wordCount)
    val langs = Array("en", "en", "en", "de", "es", "fr", "zh")
    val lang = langs(((h >>> 4) % 7L).toInt)
    val cls = (id % 3L).toInt
    val html = cls match {
      case 0 => wrapHtml(id, text)
      case 1 => tableHtml(id, text)
      case 2 => irregularHtml(id, text)
    }
    Page(urlOf(id), tsOf(EpochBase + id), html, noisyText(text), lang)
  }

  private def tableHtml(docId: Long, text: String): Array[Byte] = {
    val paras = paragraphs(text)
    val sb = new java.lang.StringBuilder(text.length + 1024)
    sb.append("<html><head><title>T").append(docId).append("</title></head><body>")
    sb.append(navHtml(docId))
    sb.append("<table>")
    paras.foreach { p => sb.append("<tr><td>").append(esc(p)).append("</td></tr>") }
    sb.append("</table>")
    sb.append(FooterHtml).append("</body></html>")
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  private def irregularHtml(docId: Long, text: String): Array[Byte] = {
    val paras = paragraphs(text)
    val sb = new java.lang.StringBuilder(text.length + 1024)
    sb.append("<html><body>")
    sb.append("<script>var x = '<div>not content</div>';</script>")
    sb.append(navHtml(docId))
    sb.append("<!-- comment <p>ignored</p> -->")
    var i = 0
    paras.foreach { p =>
      // unclosed <p>, mis-nested inline, entity soup
      if (i % 3 == 0) sb.append("<p>").append(esc(p))
      else if (i % 3 == 1) sb.append("<p><b>").append(esc(p)).append("</p>")
      else sb.append("<div><p>").append(esc(p)).append("&nbsp;</div>")
      i += 1
    }
    sb.append(FooterHtml).append("</body>")
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  /** Bench corpus: n seed-fixed pages. Generated distributed (range →
    * map), partitioning-independent by construction.
    */
  def genPages(spark: SparkSession, n: Long, parts: Int): Dataset[Page] = {
    import spark.implicits._
    spark.range(0L, n, 1L, parts).as[Long].map(id => genPage(id))
  }
}
