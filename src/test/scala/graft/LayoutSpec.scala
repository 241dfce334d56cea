package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Layout

/** Z-order layout kernel and clustering: Column/JVM spread parity,
  * interleave round-trip, both quantizer regimes (wide range shifted
  * down, narrow range shifted up to full 16-bit width), the envelope
  * census, and the clustering contract (co-located cells, sorted
  * partitions, narrow per-file envelopes vs a hash layout).
  */
class LayoutSpec extends AnyFunSuite with SparkSuite {

  private def mortonJvm(a: Long, b: Long): Long =
    Layout.spreadBitsJvm(a) | (Layout.spreadBitsJvm(b) << 1)

  test("spreadBits: Column matches JVM reference on 16-bit samples") {
    val sp = spark; import sp.implicits._
    val xs = (Seq(0L, 1L, 2L, 3L, 0xFFFFL, 0xAAAAL, 0x5555L, 0x8000L) ++
      (0 until 64).map(i => (i * 1021L) % 65536L)).distinct
    val got = xs.toDF("x").select(Layout.spreadBits(col("x")).as("s"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == xs.map(Layout.spreadBitsJvm))
  }

  test("spread puts bit i at bit 2i; interleave round-trips") {
    for (i <- 0 until 16)
      assert(Layout.spreadBitsJvm(1L << i) == (1L << (2 * i)))
    // de-interleave by reading alternating bits back out
    def unspread(z: Long): Long =
      (0 until 16).map(i => ((z >> (2 * i)) & 1L) << i).reduce(_ | _)
    for ((a, b) <- Seq((0L, 0L), (65535L, 0L), (0L, 65535L),
        (12345L, 54321L), (40000L, 1L))) {
      val z = mortonJvm(a, b)
      assert(unspread(z) == a && unspread(z >> 1) == b)
    }
  }

  test("bucketShift: wide range shifts down, narrow range shifts up") {
    val sp = spark; import sp.implicits._
    // wide: range = 2^40 → shift 24 down; values quantize into 16 bits
    val sWide = Layout.bucketShift(0L, (1L << 40) - 1)
    assert(sWide == 24)
    // narrow: range = 499 (9 bits) → shift -7: scaled UP to full width
    val sNarrow = Layout.bucketShift(0L, 499L)
    assert(sNarrow == -7)
    // each quantizer applied only to values INSIDE its bounds (the
    // bucket16 contract) — wide values through the wide shift, narrow
    // values through the narrow shift
    val wideVals = Seq(0L, 1L, 250L, 499L, (1L << 40) - 1, 1L << 39)
    val wide = wideVals.toDF("v")
      .select(Layout.bucket16(col("v"), 0L, sWide).as("w"))
      .collect().map(_.getLong(0))
    assert(wide.forall(w => w >= 0 && w <= 65535L))
    val narrowVals = Seq(0L, 1L, 250L, 499L)
    val narrow = narrowVals.toDF("v")
      .select(Layout.bucket16(col("v"), 0L, sNarrow).as("n"))
      .collect().map(_.getLong(0))
    assert(narrow.forall(n => n >= 0 && n <= 65535L))
    // narrow max value reaches the top half of the 16-bit width
    val nMax = narrow.max
    assert(nMax >= 32768L, s"up-shifted bucket max $nMax never reaches high bits")
    // degenerate range (all values equal) is legal and yields bucket 0
    assert(Layout.bucketShift(7L, 7L) == -16)
    val z = Seq(7L).toDF("v")
      .select(Layout.bucket16(col("v"), 7L, -16).as("b")).head().getLong(0)
    assert(z == 0L)
  }

  private def grid(n: Int) = {
    val sp = spark; import sp.implicits._
    // n^2 points on an n×n grid, shuffled order
    val rows = for (a <- 0 until n; b <- 0 until n)
      yield ((a * 7919 + b * 104729) % 100000, a.toLong * 3 + 5, b.toLong * 11 + 2)
    rows.sortBy(_._1).map { case (_, a, b) => (a, b) }.toDF("a", "b")
  }

  test("envelopeCensus: cells partition the rows with narrow envelopes") {
    val df = grid(64) // a in [5,194], b in [2,695]
    val cells = Layout.envelopeCensus(df, "a", "b", 16).collect()
    assert(cells.map(_.getLong(1)).sum == 64L * 64)
    // up-shifted quantization fills all 16 cells only for exact
    // power-of-two ranges; this grid occupies 9 — assert the key
    // SPREADS (more than half the cells) and stays in range
    assert(cells.length >= 8 && cells.length <= 16, s"got ${cells.length} cells")
    assert(cells.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 16))
    val (aLo, aHi, bLo, bHi) = (5L, 194L, 2L, 695L)
    val totalArea = (aHi - aLo + 1) * (bHi - bLo + 1)
    for (r <- cells) {
      val area = (r.getLong(3) - r.getLong(2) + 1) * (r.getLong(5) - r.getLong(4) + 1)
      // each of 16 z-cells covers at most ~1/8 of the (a,b) plane
      assert(area * 8 <= totalArea,
        s"cell ${r.getLong(0)} envelope too wide: $area of $totalArea")
    }
  }

  test("zorderCluster: cells co-located, partitions z-sorted, envelopes narrow") {
    val df = grid(64)
    val nFiles = 8
    val clustered = Layout.zorderCluster(df, "a", "b", nFiles)
    assert(clustered.rdd.getNumPartitions == nFiles)
    assert(clustered.columns.toSeq == Seq("a", "b")) // helper key dropped
    // recompute the key per row inside each partition and check sortedness
    // + that every z-cell lands in exactly one partition
    val sa = Layout.bucketShift(5L, 194L)
    val sb = Layout.bucketShift(2L, 695L)
    val perPart = clustered.rdd.mapPartitionsWithIndex { (pid, it) =>
      val rows = it.map { r =>
        val za = { val x = r.getLong(0) - 5L; if (sa >= 0) x >> sa else x << -sa }
        val zb = { val x = r.getLong(1) - 2L; if (sb >= 0) x >> sb else x << -sb }
        Layout.spreadBitsJvm(za) | (Layout.spreadBitsJvm(zb) << 1)
      }.toVector
      Iterator.single((pid, rows))
    }.collect()
    val cellToParts = scala.collection.mutable.Map[Long, Set[Int]]()
    var nRows = 0L
    for ((pid, zs) <- perPart) {
      assert(zs == zs.sorted, s"partition $pid not z-sorted")
      nRows += zs.size
      for (z <- zs) {
        val cell = z >>> (32 - 3) // top log2(8) bits of the 32-bit key
        cellToParts(cell) = cellToParts.getOrElse(cell, Set()) + pid
      }
    }
    assert(nRows == 64L * 64)
    assert(cellToParts.values.forall(_.size == 1), "a z-cell straddles partitions")
    // assignment is BIJECTIVE (slot-probe steering): no two cells share
    // a file, so no collision junction widens a file envelope
    val partsUsed = cellToParts.values.map(_.head).toSeq
    assert(partsUsed.distinct.size == cellToParts.size,
      s"cells ${cellToParts.keys} share partitions: $cellToParts")
    // per-ROW-GROUP envelope (the pruning unit): each contiguous
    // same-cell z-run within a sorted partition stays inside one
    // top-3-bit cell, i.e. <= 1/8 of the bucket-space plane. Hash
    // collisions may widen the per-FILE envelope (documented), but the
    // sorted runs keep row-group stats tight.
    def unspread(z: Long): Long =
      (0 until 16).map(i => ((z >> (2 * i)) & 1L) << i).reduce(_ | _)
    val total = 65536L * 65536L // bucket-space plane
    for ((pid, zs) <- perPart if zs.nonEmpty) {
      val runs = zs.groupBy(_ >>> (32 - 3)).values
      for (run <- runs) {
        val as = run.map(unspread); val bs = run.map(z => unspread(z >> 1))
        val area = (as.max - as.min + 1) * (bs.max - bs.min + 1)
        assert(area * 8 <= total,
          s"partition $pid: a z-run envelope covers >1/8 of the plane")
      }
    }
  }

  test("CompactJob zorder layout: digest-verified swap + prunable file envelopes") {
    val sp = spark; import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("zorder-compact").toString
    val tableDir = s"$base/t"
    // pseudo-random scatter over (n_chars, doc_id); round-robin write
    // = every file spans the full range of BOTH dims (nothing prunable)
    val n = 20000
    (0 until n).map { i =>
      (s"u$i", i.toLong, (i.toLong * 7919) % 5000, "x" * 40)
    }.toDF("url", "doc_id", "n_chars", "text")
      .repartition(8)
      .write.parquet(tableDir)

    def envelopes(dir: String) =
      spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(min("n_chars").as("aMin"), max("n_chars").as("aMax"),
          min("doc_id").as("bMin"), max("doc_id").as("bMax"))
        .collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // query box: bottom-left 1/16 of the (n_chars, doc_id) plane
    def intersects(e: (Long, Long, Long, Long)) =
      e._1 <= 1249L && e._3 <= 4999L

    val before = envelopes(tableDir)
    assert(before.length == 8 && before.forall(intersects),
      "round-robin layout should leave every file un-prunable")
    val rowsBefore = spark.read.parquet(tableDir)
      .orderBy("url").collect().map(_.toString).toSeq

    val r = CompactJob.run(spark, tableDir, targetFileBytes = 16L * 1024,
      clusterKey = "n_chars,doc_id", layout = "zorder")
    assert(r.rows == n.toLong)
    assert(r.filesAfter > 4, s"want multiple z-files, got ${r.filesAfter}")

    // byte-identical table (the digest verify already gates the swap;
    // re-assert row identity independently)
    val rowsAfter = spark.read.parquet(tableDir)
      .orderBy("url").collect().map(_.toString).toSeq
    assert(rowsAfter == rowsBefore)

    // most z-files carry an envelope DISJOINT from the box — a stats-
    // pruning scan planner skips them; the old layout skipped nothing
    // hash collisions can leave a partition rowless → an empty file
    // with no envelope group
    val after = envelopes(tableDir)
    assert(after.length <= r.filesAfter && after.length > 4)
    val hit = after.count(intersects)
    assert(hit >= 1, "the box contains rows; some file must intersect")
    assert(hit * 2 <= after.length,
      s"z-order layout: $hit of ${after.length} files intersect the box — expected most prunable")
  }

  test("zorderCluster is deterministic across runs") {
    val df = grid(32)
    def sig() = Layout.zorderCluster(df, "a", "b", 4).rdd
      .mapPartitionsWithIndex((p, it) => it.map(r => (p, r.getLong(0), r.getLong(1))))
      .collect().toSeq
    assert(sig() == sig())
  }
}
