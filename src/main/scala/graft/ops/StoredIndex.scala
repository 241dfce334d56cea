package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{ManifestLog, ParquetTableIO}

/** The maintenance both stored indexes share ([[SearchIndex]] over
  * `_lexlog`, [[AnnIndex]] over `_annlog`), keyed by log dir, table set,
  * tombstone table and the id column the tombstones and per-document
  * relations share: the committed read, the tombstone set, the
  * tombstone delete and the tombstone-applying compaction. Deletion
  * lifecycle: a delete appends tombstones through one commit list,
  * readers anti-join them ([[live]]), [[compact]] applies them
  * physically and drops them last.
  */
private[graft] final class StoredIndex(logDir: String, tables: Seq[String],
                                       tombstones: String, idCol: String) {

  def log(spark: SparkSession, indexDir: String): ManifestLog =
    ManifestLog(spark, indexDir, logDir, tables)

  /** The committed view of an index table: exactly the files the lists
    * record (legacy log-less dirs read whole). A crashed append's debris
    * never reaches a reader through here; a crashed REBUILD (committed
    * entries but files overwritten away) fails loudly.
    */
  def readCommitted(spark: SparkSession, indexDir: String, table: String): DataFrame = {
    val files = log(spark, indexDir).committedFiles(table)
    require(files.nonEmpty,
      s"no committed $table files at $indexDir (crashed build? re-run build)")
    spark.read.parquet(files: _*)
  }

  /** Committed tombstone ids; None (no anti-join) before any delete. */
  private def tombstonesOpt(spark: SparkSession, indexDir: String): Option[DataFrame] = {
    val files = log(spark, indexDir).committedFiles(tombstones)
    if (files.isEmpty) None
    else Some(spark.read.parquet(files: _*).select(idCol).distinct())
  }

  /** `df` minus its tombstoned ids. */
  def live(spark: SparkSession, indexDir: String, df: DataFrame): DataFrame =
    tombstonesOpt(spark, indexDir).fold(df)(t => df.join(t, Seq(idCol), "left_anti"))

  /** The committed view of `table` minus tombstoned ids. */
  def liveCommitted(spark: SparkSession, indexDir: String, table: String): DataFrame =
    live(spark, indexDir, readCommitted(spark, indexDir, table))

  /** Tombstone the ids of `ids` that `present` finds in the index and
    * no tombstone covers yet; returns how many. A committed
    * `mutationId` short-circuits to 0 before anything is read. The
    * victims stage under `<indexDir>/_staging` on the index's own
    * filesystem — the tombstone append's lineage must NOT read the
    * tombstone table (append → recache invalidation → self-taint; the
    * IncrementalCurate staging lesson) — and the staging dir is removed
    * on every exit. The tombstones and `extra`'s writes (given the
    * staged victims and their count) commit as ONE list.
    */
  def delete(spark: SparkSession, indexDir: String, ids: DataFrame,
             mutationId: Option[String],
             extra: (DataFrame, Long) => Unit = (_, _) => ())(
      present: DataFrame => DataFrame): Long = {
    val lg = log(spark, indexDir)
    if (mutationId.exists(lg.isCommitted)) return 0L
    lg.reconcile()
    val victims = ids.select(col(idCol).cast("long").as(idCol)).distinct()
    val staging = new Path(s"$indexDir/_staging")
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      live(spark, indexDir, present(victims)).coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(staging.toString)
      val staged = spark.read.parquet(staging.toString)
      val nDel = staged.count()
      if (nDel > 0L) lg.commitAdded(mutationId) {
        staged.select(idCol).coalesce(1).write.mode(SaveMode.Append)
          .options(ParquetTableIO.WriteOptions).parquet(s"$indexDir/$tombstones")
        extra(staged, nDel)
      }
      nDel
    } finally fs.delete(staging, true)
  }

  /** Compact each committed table of `legs` (table, CompactJob cluster
    * key) under the log's [[graft.pipeline.ManifestLog.reset]], which
    * first reconciles a crashed writer's debris away. Tombstones apply
    * PHYSICALLY first (a targeted DeleteJob rewrite of only the files
    * holding a victim), and the tombstone table drops LAST: every crash
    * point genesis-adopts consistently because the anti-join is
    * idempotent — until the tombstone files go, readers anti-join ids
    * that may or may not still have rows, with identical results.
    * Returns (table, report) per compacted table.
    */
  def compact(spark: SparkSession, indexDir: String, legs: Seq[(String, String)],
              targetFileBytes: Long): Seq[(String, graft.CompactJob.CompactReport)] = {
    val lg = log(spark, indexDir)
    val tomb = tombstonesOpt(spark, indexDir)
    val committed = legs.filter { case (t, _) => lg.committedFiles(t).nonEmpty }
    lg.reset {
      for (t <- tomb; (table, _) <- committed)
        graft.DeleteJob.run(spark, s"$indexDir/$table", t, keyCol = idCol,
          targetFileBytes = targetFileBytes)
      val reports = committed.map { case (table, key) =>
        table -> graft.CompactJob.run(spark, s"$indexDir/$table", targetFileBytes,
          clusterKey = key)
      }
      if (tomb.nonEmpty) {
        val dir = new Path(s"$indexDir/$tombstones")
        dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true)
      }
      reports
    }
  }
}
