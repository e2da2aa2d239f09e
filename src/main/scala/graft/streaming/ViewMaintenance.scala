package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Materialize

/** Streaming twin of [[graft.ops.Materialize]]: maintain a LIVE
  * aggregate view under a CDC delta stream, persisted as a
  * hash-bucketed parquet table with PARTIAL rewrites — the
  * [[SnapshotCdc]] bucket discipline applied to aggregate state
  * instead of raw rows.
  *
  * Per micro-batch: the delta collapses to per-key signed state (one
  * delta-sized aggregate), the view is read PRUNED to the touched
  * buckets, merged (count/sum addition, groups reaching zero leave),
  * and dynamic partition overwrite rewrites exactly those bucket
  * directories. A batch touching B of N buckets costs B/N of the view.
  *
  * Idempotence matters MORE here than for snapshot upserts: replaying
  * an absorbed delta into an aggregate DOUBLE-COUNTS (upserts are
  * naturally idempotent, additions are not), so [[sink]]'s
  * batchId-marker gate is the correctness line that turns foreachBatch
  * at-least-once into exactly-once view maintenance. */
object ViewMaintenance {

  /** The live view (None before the first batch). */
  def read(spark: SparkSession, viewDir: String): Option[DataFrame] = {
    val p = new Path(viewDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p) && fs.listStatus(p).nonEmpty)
      Some(spark.read.option("basePath", viewDir).parquet(viewDir))
    else None
  }

  /** Merge one CDC delta batch into the bucketed aggregate view. */
  def applyBatch(viewDir: String, batch: DataFrame, keyCols: Seq[String],
                 opCol: String, measures: Seq[(String, org.apache.spark.sql.Column)],
                 nBuckets: Int): Unit = {
    val spark = batch.sparkSession
    val valueCols = "n" +: measures.map(_._1)
    val ds = Materialize.deltaState(batch, keyCols, opCol, measures)
      .withColumn("bucket", SnapshotCdc.bucketOf(concat_ws("", keyCols.map(col): _*), nBuckets))
    // Canonical value types: what deltaState produces — stable across
    // batches, so the stored schema never drifts.
    val canon = ds.schema.fields.map(f => f.name -> f.dataType).toMap
    val touched = ds.select("bucket").distinct()
      .collect().map(_.getLong(0)).sorted // bounded by nBuckets
    if (touched.isEmpty) return
    val stored = read(spark, viewDir).map(
      _.where(col("bucket").isin(touched: _*))) // partition-pruned scan
    val merged = stored match {
      case None => ds.where(col("n") > 0)
      case Some(st) =>
        st.join(ds.select(keyCols.map(col) ++
              valueCols.map(c => col(c).as(s"__d_$c")) :+ col("bucket").as("__d_bucket"): _*),
            keyCols, "full_outer")
          .select(keyCols.map(col) ++ valueCols.map(c =>
            (coalesce(col(c), lit(0)) + coalesce(col(s"__d_$c"), lit(0)))
              .cast(canon(c)).as(c)) :+
            coalesce(col("bucket"), col("__d_bucket")).as("bucket"): _*)
          .where(col("n") > 0)
    }
    // EAGER materialization before the overwrite: the merge plan reads
    // the very files the write replaces, and unlike snapshot upserts an
    // aggregate delta is NOT idempotent — a lazy cache that recomputes
    // `alive` from the post-write state would re-apply the delta and
    // wrongly clear live buckets (caught by ViewMaintenanceSpec).
    // localCheckpoint cuts the lineage, so nothing downstream can touch
    // the source files again.
    val survivors = merged.localCheckpoint()
    try {
      // dynamic: replace only the touched buckets. A write option, so a
      // concurrent writer on the same session never sees the mode.
      survivors.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket").parquet(viewDir)
      // a bucket whose groups all died produces no output partition —
      // clear its directory so stale files don't resurrect it
      val alive = survivors.select("bucket").distinct()
        .collect().map(_.getLong(0)).toSet
      val fs = new Path(viewDir).getFileSystem(spark.sessionState.newHadoopConf())
      touched.filterNot(alive).foreach { b =>
        fs.delete(new Path(s"$viewDir/bucket=$b"), true)
      }
    } finally { survivors.unpersist(); () } // drop the checkpoint blocks
  }

  /** foreachBatch form with the batchId-marker exactly-once gate. */
  def sink(viewDir: String, keyCols: Seq[String], opCol: String,
           measures: Seq[(String, org.apache.spark.sql.Column)],
           nBuckets: Int): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      val marker = new java.io.File(viewDir + ".batchid")
      val last =
        if (marker.exists) java.nio.file.Files.readString(marker.toPath).trim.toLong
        else -1L
      if (batchId > last) {
        applyBatch(viewDir, batch, keyCols, opCol, measures, nBuckets)
        java.nio.file.Files.writeString(marker.toPath, batchId.toString)
        ()
      }
    }
}
