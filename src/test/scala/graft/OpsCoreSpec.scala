package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TextOps
import graft.ops.VectorOps

class OpsCoreSpec extends AnyFunSuite {

  test("shingles and exact jaccard") {
    val a = "one two three four five"
    val b = "one two three four" // drop last word
    val sa = TextOps.shingles(a)
    assert(sa.toSeq == Seq("one two three", "two three four", "three four five"))
    val j = TextOps.exactJaccard(a, b)
    assert(j == 2.0 / 3.0)
    assert(TextOps.exactJaccard(a, a) == 1.0)
  }

  test("minhash signature: deterministic, near-dup similar, distinct differ") {
    val a = (1 to 50).map(i => s"w$i").mkString(" ")
    val b = a.substring(0, a.lastIndexOf(' ')) // drop last word
    val c = (1 to 50).map(i => s"z$i").mkString(" ")
    val sa = TextOps.minhashSignature(a)
    assert(sa.toSeq == TextOps.minhashSignature(a).toSeq)
    val simAB = sa.zip(TextOps.minhashSignature(b)).count { case (x, y) => x == y }
    val simAC = sa.zip(TextOps.minhashSignature(c)).count { case (x, y) => x == y }
    assert(simAB > simAC)
    assert(simAB >= TextOps.MinHashK / 2)
    // near-dups share at least one raw band slice (RowsPerBand
    // consecutive signature values) with high probability here
    val bands = (s: Array[Long]) => s.grouped(TextOps.RowsPerBand).map(_.toSeq).toSeq
    val sb = TextOps.minhashSignature(b)
    assert(bands(sa).zip(bands(sb)).exists { case (x, y) => x == y })
  }

  test("simhash: near-dup within small hamming distance") {
    def hamming(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    val a = (1 to 100).map(i => s"w$i").mkString(" ")
    val b = a.substring(0, a.lastIndexOf(' '))
    val c = (1 to 100).map(i => s"z$i").mkString(" ")
    assert(TextOps.simhash(a) == TextOps.simhash(a))
    assert(hamming(TextOps.simhash(a), TextOps.simhash(b)) <= 8)
    assert(hamming(TextOps.simhash(a), TextOps.simhash(c)) > 8)
  }

  test("langId is deterministic and total") {
    val t = "the quick brown fox is in the house"
    assert(TextOps.langId(t) == TextOps.langId(t))
    assert(Set("en", "de", "es", "fr", "zh").contains(TextOps.langId(t)))
    assert(TextOps.langId("") == TextOps.langId("")) // empty input safe
  }

  test("fingerprint is stable and content-sensitive") {
    assert(TextOps.fingerprint("abc def") == TextOps.fingerprint("abc def"))
    assert(TextOps.fingerprint("abc def") != TextOps.fingerprint("abc deg"))
  }

  test("LSH hyperplanes and buckets are seed-fixed") {
    val p1 = VectorOps.hyperplanes(4, 8)
    val p2 = VectorOps.hyperplanes(4, 8)
    assert(p1.map(_.toSeq).toSeq == p2.map(_.toSeq).toSeq)
    val v = Seq(0.5f, -0.25f, 0.1f, 0.9f, -0.3f, 0.0f, 0.7f, -0.6f)
    assert(VectorOps.lshBucket(p1)(v) == VectorOps.lshBucket(p2)(v))
    assert(VectorOps.lshBucket(p1)(v) >= 0 && VectorOps.lshBucket(p1)(v) < 16)
  }

  test("fnv1a64 matches known reference values") {
    // public FNV-1a test vectors
    assert(TextOps.fnv1a64("") == 0xcbf29ce484222325L)
    assert(TextOps.fnv1a64("a") == 0xaf63dc4c8601ec8cL)
  }
}
