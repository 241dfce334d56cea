package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

/** Seed-driven input generators. They belong to the benchmark, not to
  * the program: nothing here calls into `graft`, so a change to the
  * program cannot change what the benchmark feeds it. Every value is a
  * pure function of (seed, id), so generation is order- and
  * partitioning-independent and the driver can regenerate any page for
  * its reference without reading the written input back.
  */
object Gen {

  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def key(seed: Long, id: Long, salt: Long): Long =
    mix(mix(seed * 0x2545f4914f6cdd1dL + salt) ^ id)

  /** Fixed-width seed tag for urls and words, so input sizes and their
    * compressibility do not depend on how many digits the seed has.
    */
  private def tag(seed: Long): String = f"${mix(seed) & 0xffffffffL}%08x"

  /** 512 pronounceable words of 2-4 syllables: realistic word lengths
    * (avg ~6.5 bytes with the separator), letters only, so no escaping.
    */
  private val Vocab: Array[String] = {
    val on = Array("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z", "st")
    val nu = Array("a", "e", "i", "o", "u", "ai", "ou", "ea")
    Array.tabulate(512) { i =>
      val h = mix(i.toLong + 77L)
      val syl = 2 + (h & 1).toInt + (if (i % 7 == 0) 1 else 0)
      (0 until syl).map { s =>
        val b = (h >>> (4 + 7 * s)).toInt
        on(b & 15) + nu((b >>> 4) & 7)
      }.mkString
    }
  }

  private def words(k: Long, n: Int): Array[String] = {
    var h = k
    Array.fill(n) { h = mix(h); Vocab(((h >>> 11) & 511).toInt) }
  }

  // ---------------------------------------------------------------- pages

  final case class PageRow(url: String, tsSec: Long, html: Array[Byte], text: String,
                           lang: String, cls: Int, content: String)

  val EpochBase = 1735689600L // 2025-01-01T00:00:00Z
  val ClassNames = Array("nested", "table", "irregular")
  private val Langs = Array("en", "en", "en", "de", "es", "fr", "zh")

  /** Host skew of FIXTURES §4: host0 ≈ 50%, hosts 1-9 ≈ 25%, a 990-host
    * tail the rest.
    */
  def hostOf(h: Long): Long = ((h >>> 3) & 3L) match {
    case 0L | 1L => 0L
    case 2L => 1L + java.lang.Long.remainderUnsigned(h >>> 8, 9L)
    case _ => 10L + java.lang.Long.remainderUnsigned(h >>> 8, 990L)
  }

  /** Snapshots of page `id`: one, or two (1 in `recrawlEvery` urls) with
    * the later one carrying different content. `wordScale` 1 gives
    * 80-719 words (~4 KB html on average), 9 gives ~33 KB.
    */
  def snapshots(seed: Long, id: Long, wordScale: Int, recrawlEvery: Int): Seq[PageRow] = {
    val h = key(seed, id, 1L)
    val cls = java.lang.Long.remainderUnsigned(h >>> 20, 3L).toInt
    val url = s"https://host${hostOf(h)}.example/${ClassNames(cls).head}/${tag(seed)}/$id"
    val lang = Langs(((h >>> 40) % 7L).toInt)
    val recrawled = recrawlEvery > 0 && java.lang.Long.remainderUnsigned(h >>> 24, recrawlEvery.toLong) == 0L
    (0 until (if (recrawled) 2 else 1)).map { snap =>
      val k = key(seed, id, 2L + snap)
      val nWords = (80 + java.lang.Long.remainderUnsigned(k >>> 16, 640L).toInt) * wordScale
      val (html, content) = render(cls, k, words(k, nWords))
      val ts = EpochBase + id + snap * (86400L + (k >>> 50))
      PageRow(url, ts, html, content.take(200), lang, cls, content)
    }
  }

  /** Paragraphs of 6-17 words, so blocks vary in size. */
  private def paragraphs(k: Long, ws: Array[String]): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    var h = k
    while (i < ws.length) {
      h = mix(h)
      val n = 6 + ((h >>> 5) % 12L).toInt
      out += ws.slice(i, i + n).mkString(" ")
      i += n
    }
    out.result()
  }

  private def nav(k: Long): String = {
    val sb = new StringBuilder("<nav>")
    (0 until 4 + (k & 3L).toInt).foreach { i =>
      sb.append(s"""<a href="/s/${(k >>> (i * 4)) & 15}">${Vocab(((k >>> (i * 5)) & 511).toInt)}</a> """)
    }
    sb.append("</nav>").toString
  }

  private val Footer =
    """<footer><a href="/privacy">Privacy</a> <a href="/terms">Terms</a> <a href="/contact">Contact</a></footer>"""

  /** Returns the page bytes and, for the nested class, the exact main
    * text the extractor must produce (kept blocks joined by "\n").
    */
  private def render(cls: Int, k: Long, ws: Array[String]): (Array[Byte], String) = {
    val paras = paragraphs(k, ws)
    val out = new ByteArrayOutputStream(ws.length * 8 + 1024)
    def put(s: String): Unit = out.write(s.getBytes(UTF_8))
    cls match {
      case 0 => // nested: content 3-7 block levels deep between link-only boilerplate
        val depth = 3 + (k % 5L).toInt
        put(s"""<!DOCTYPE html><html><head><title>${ws.head}</title><style>p{margin:0}</style></head><body>\n""")
        put("""<header><a href="/">Home</a> <a href="/news">News</a></header>""")
        put(nav(k)); put("\n")
        (1 until depth).foreach(d => put(s"""<div class="l$d">"""))
        put("<article>")
        val content = new StringBuilder
        paras.zipWithIndex.foreach { case (p, i) =>
          val line = if (i % 9 == 0) s"<h2>$p</h2>" else {
            // an inline tag inside the paragraph; the text stays the same
            val sp = p.indexOf(' ')
            if (i % 4 == 1 && sp > 0) s"<p>${p.substring(0, sp)} <em>${p.substring(sp + 1)}</em></p>" else s"<p>$p</p>"
          }
          put(line); if (i % 3 == 2) put("\n")
          if (i > 0) content.append('\n')
          content.append(p)
        }
        put("</article>")
        (1 until depth).foreach(_ => put("</div>"))
        put("\n"); put(Footer); put("</body></html>\n")
        (out.toByteArray, content.toString)
      case 1 => // table: body cells before header cells, two columns
        put(s"""<html><head><title>t</title></head><body>${nav(k)}<table><tbody>""")
        paras.grouped(2).foreach { row => put("<tr>" + row.map(c => s"<td>$c</td>").mkString + "</tr>") }
        put(s"</tbody><thead><tr><th>${ws.head}</th><th>${ws.last}</th></tr></thead></table>$Footer</body></html>")
        (out.toByteArray, paras.mkString("\n"))
      case _ => // irregular: script/comment noise, unclosed and mis-nested tags, entities, invalid UTF-8
        put(s"""<html><body><script>var s = '<p>not text</p>';</script>${nav(k)}<!-- <div>gone</div> -->""")
        paras.zipWithIndex.foreach { case (p, i) =>
          i % 4 match {
            case 0 => put(s"<p>$p")
            case 1 => put(s"<p><b>$p</p>")
            case 2 => put(s"<div><p>$p &amp; &nbsp;&#169;</div>")
            case _ => put(s"<p><i>$p"); out.write(0xff); out.write(0xc3); put(" &bogus;</i>")
          }
        }
        put(Footer)
        (out.toByteArray, paras.mkString("\n"))
    }
  }

  // ---------------------------------------------------------------- drops

  /** One curation doc, planted against the previous drop, as in
    * `graft.IncrementalBench`: ids of drop k are [k*n, (k+1)*n); for k > 0,
    * id%20 == 0 copies the text of a plain doc of drop k-1 exactly, == 1
    * copies it minus its last word (a near-dup), == 2 revisits that doc's
    * url with new text. Targets are plain docs (id%20 == 3), whose text
    * and url entered the state.
    */
  final case class Doc(url: String, text: String)

  private def docUrl(seed: Long, id: Long): String = {
    val h = key(seed, id, 9L)
    s"https://host${hostOf(h)}.example/d/${tag(seed)}/$id"
  }

  /** Globally unique words, so shingles never collide by accident. */
  private def docText(seed: Long, id: Long, nWords: Int): String =
    (0 until nWords).map(j => s"w${tag(seed)}d${id}x$j").mkString(" ")

  def doc(seed: Long, drop: Int, n: Long, id: Long, nWords: Int): Doc = {
    val c = id % 20L
    val target = id - n + 3L
    if (drop == 0 || c > 2L) Doc(docUrl(seed, id), docText(seed, id, nWords))
    else if (c == 0L) Doc(docUrl(seed, id), docText(seed, target, nWords))
    else if (c == 1L) Doc(docUrl(seed, id), docText(seed, target, nWords - 1))
    else Doc(docUrl(seed, target), docText(seed, id, nWords))
  }

  /** Planted per-drop counts: (docs, new urls, linked to state, admitted).
    * A near-dup counts as linked when it shares a MinHash band with its
    * target under [[Lsh]]: banding finds a pair at Jaccard 0.98 with
    * probability 1 - 2e-5, so over thousands of planted pairs an
    * occasional one is, by design, not a candidate and is admitted.
    */
  def planted(seed: Long, drop: Int, n: Long, nWords: Int): (Long, Long, Long, Long) = {
    val lo = drop * n
    val ids = if (drop == 0) Seq.empty[Long] else (lo until lo + n)
    val exact = ids.count(_ % 20L == 0L).toLong
    val revisits = ids.count(_ % 20L == 2L).toLong
    val near = ids.count { id =>
      id % 20L == 1L && Lsh.candidates(docText(seed, id - n + 3L, nWords), docText(seed, id - n + 3L, nWords - 1))
    }.toLong
    val newUrls = n - revisits
    (n, newUrls, exact + near, newUrls - exact - near)
  }

  /** The near-duplicate candidate rule the curation state joins promise,
    * written out from its specification: 3-word shingles hashed with
    * 64-bit FNV-1a, 16 MinHash functions (splitmix64 of the shingle hash
    * xor a per-function seed, unsigned minimum), 4 bands of 4 rows; two
    * texts are candidates when any band is equal.
    */
  object Lsh {
    private val Hashes = 16
    private val Rows = 4
    private val seeds = Array.tabulate(Hashes)(i => mix(0x3c6ef372fe94f82aL + i))

    private def fnv1a64(s: String): Long = {
      var h = 0xcbf29ce484222325L
      s.getBytes(UTF_8).foreach { b => h ^= (b & 0xffL); h *= 0x100000001b3L }
      h
    }

    def signature(text: String): Array[Long] = {
      val w = text.split(' ')
      val sig = Array.fill(Hashes)(-1L)
      (0 to w.length - 3).foreach { i =>
        val base = fnv1a64(w.slice(i, i + 3).mkString(" "))
        (0 until Hashes).foreach { j =>
          val h = mix(base ^ seeds(j))
          if (java.lang.Long.compareUnsigned(h, sig(j)) < 0) sig(j) = h
        }
      }
      sig
    }

    def candidates(a: String, b: String): Boolean = {
      val (sa, sb) = (signature(a), signature(b))
      (0 until Hashes / Rows).exists(band =>
        (band * Rows until (band + 1) * Rows).forall(i => sa(i) == sb(i)))
    }
  }
}
