package graft

import graft.ops.VectorOps

/** Dev tool: recall@k / candidate-fraction sweep over the ann_lsh
  * (nTables, planesPerTable) grid against the exact brute-force ground
  * truth — the measurement behind the defaults pinned in
  * VectorOps.annLsh and the OracleSqlGen.annLsh mirror. Not part of
  * the driver contract.
  */
object AnnTune {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession("local[16]")
    val emb = VectorOps.readEmbeddings(spark, sfDir).cache()
    val nVec = emb.count()
    val nQueries = 10
    val k = 5
    val exact = VectorOps.annBrute(emb, nQueries, k)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    println(s"sfDir=$sfDir nVec=$nVec exactTopK=${exact.size}")
    for ((kc, sl) <- Seq((16, 50), (16, 100), (64, 50), (64, 100), (256, 50))) {
      val approx = VectorOps.annPq(spark, emb, nQueries, k,
        kCode = kc, shortlist = sl)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val hits = (approx intersect exact).size
      println(f"pq kCode=$kc shortlist=$sl recall@$k=${hits.toDouble / exact.size}%.2f")
    }
    // IVF+PQ: recall vs the probed-cell fraction (the coarse dial) at
    // fixed PQ geometry — candidate mass computed driver-side from the
    // cell census + each query's probe set
    {
      val cs = VectorOps.kmeansMilli(spark, emb)
      val cellSize = VectorOps.ivfAssign(spark, emb, cs)
        .groupBy("cell").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val qvecs = emb
        .select(org.apache.spark.sql.functions.col("vec_id").cast("long"),
          org.apache.spark.sql.functions.col("embedding"))
        .filter(org.apache.spark.sql.functions.col("vec_id") < nQueries)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      for (np <- Seq(1, 2, 4)) {
        val approx = VectorOps.annIvfPq(spark, emb, nQueries, k, nProbe = np)
          .select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val hits = (approx intersect exact).size
        val nCand = qvecs.map { case (qid, v) =>
          val probed = VectorOps.probeCells(cs, np)(v)
          probed.map(c => cellSize.getOrElse(c, 0L)).sum -
            (if (probed.contains(VectorOps.nearestCell(cs,
              VectorOps.milli(v)))) 1L else 0L)
        }.sum
        val frac = nCand.toDouble / (nQueries.toDouble * (nVec - 1))
        println(f"ivfpq nProbe=$np recall@$k=${hits.toDouble / exact.size}%.2f candFrac=$frac%.3f")
      }
    }
    for ((t, p) <- Seq((16, 9))) {
      val approx = VectorOps.annLsh(spark, emb, nQueries, k,
        nTables = t, planesPerTable = p)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val hits = (approx intersect exact).size
      // candidate fraction: distinct (query, neighbor) candidates / full
      val planes = VectorOps.hyperplanes(t * p, 64)
      import spark.implicits._
      val bucketed = emb
        .select(org.apache.spark.sql.functions.col("vec_id").cast("long"),
          org.apache.spark.sql.functions.col("embedding"))
        .as[(Long, Seq[Float])]
        .mapPartitions { it =>
          val f = VectorOps.bandBuckets(planes, t, p) _
          it.flatMap { case (id, v) =>
            val bs = f(v); bs.indices.map(b => (id, b, bs(b))) }
        }
        .toDF("vec_id", "band", "bucket")
      import org.apache.spark.sql.functions._
      val masks = 0 +: (0 until p).map(1 << _)
      val qprobes = bucketed.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("band"),
          explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
      val nCand = bucketed.join(qprobes, Seq("band", "bucket"))
        .filter(col("vec_id") =!= col("query_id"))
        .select("query_id", "vec_id").distinct().count()
      val frac = nCand.toDouble / (nQueries.toDouble * (nVec - 1))
      println(f"tables=$t planes=$p recall@$k=${hits.toDouble / exact.size}%.2f candFrac=$frac%.3f")
    }
    spark.stop()
  }
}
