package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming CDC apply: maintain a LIVE corpus snapshot under a change
  * stream of upserts and deletes — the materialized "current version"
  * that [[graft.ops.CorpusOps.snapshotDiff]] diffs and batch queries
  * scan. The snapshot is a parquet table hash-partitioned into
  * `bucket=N/` directories; applying a micro-batch rewrites ONLY the
  * buckets the batch touches (merge-on-write with partition-level
  * granularity — the lakehouse upsert shape, built from Spark's dynamic
  * partition overwrite).
  *
  * Scale: a batch touching B of N buckets reads and rewrites B/N of the
  * snapshot — the read prunes to touched partitions (directory layout),
  * the merge shuffles only those buckets' rows on the id, and the write
  * replaces exactly those directories. Size N so one bucket ≈ one
  * comfortable task (e.g. 2⁶ at test scale, 2¹⁶ at 100 TB); a hot batch
  * degrades to a bounded fraction, never a full-table rewrite.
  *
  * Semantics: last-write-wins by (`seqCol`, batch-beats-stored) per id;
  * `opCol = "D"` tombstones drop the row. A bucket whose rows ALL
  * disappear is cleared explicitly (dynamic overwrite only replaces
  * partitions present in the output — an empty partition would
  * otherwise keep its stale files).
  *
  * Reference analog: numaflow sinks are append-streams with no keyed
  * state (`docs/user-guide/sinks/overview.md`); keyed upsert
  * materialization is engine surface the training-data pipeline needs
  * (crawl revisits, takedowns). */
object SnapshotCdc {

  def bucketOf(id: Column, nBuckets: Int): Column =
    pmod(xxhash64(id), lit(nBuckets.toLong))

  /** The live snapshot (empty frame with no schema claim if absent). */
  def read(spark: SparkSession, snapshotDir: String): Option[DataFrame] = {
    val p = new Path(snapshotDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p) && fs.listStatus(p).nonEmpty)
      Some(spark.read.option("basePath", snapshotDir).parquet(snapshotDir))
    else None
  }

  /** Merge one CDC batch (columns: id, seq, op, payload…) into the
    * snapshot. Stored rows carry everything but the op column. */
  def applyBatch(snapshotDir: String, batch: DataFrame, idCol: String,
                 opCol: String, seqCol: String, nBuckets: Int): Unit = {
    val spark = batch.sparkSession
    val incoming = batch
      .withColumn("bucket", bucketOf(col(idCol), nBuckets))
      .withColumn("__src", lit(1))
    // Touched buckets: bounded by the layout (≤ nBuckets rows), never by
    // batch size — safe to collect.
    val touched = incoming.select("bucket").distinct()
      .collect().map(_.getLong(0)).sorted
    if (touched.isEmpty) return
    val stored = read(spark, snapshotDir).map {
      _.where(col("bucket").isin(touched: _*)) // partition-pruned scan
        .withColumn(opCol, lit("U"))
        .withColumn("__src", lit(0))
    }
    val all = stored.fold(incoming)(s => s.unionByName(incoming))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col(seqCol).desc, col("__src").desc)
    val outCols = batch.columns.filterNot(_ == opCol).map(col) :+ col("bucket")
    val survivors = all
      .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
      .where(col(opCol) =!= "D")
      .select(outCols: _*)
      .persist() // two consumers below; cache the merged buckets once
    try {
      // dynamic: replace only the touched buckets. A write option, so a
      // concurrent writer on the same session never sees the mode.
      survivors.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket").parquet(snapshotDir)
      // Buckets whose rows were all tombstoned produce no output
      // partition — clear their directories explicitly.
      val alive = survivors.select("bucket").distinct()
        .collect().map(_.getLong(0)).toSet
      val fs = new Path(snapshotDir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      touched.filterNot(alive).foreach { b =>
        fs.delete(new Path(s"$snapshotDir/bucket=$b"), true)
      }
    } finally survivors.unpersist()
  }

  /** foreachBatch form: batchId-marker idempotence (at-least-once replay
    * of an absorbed batch is a no-op — the [[SpanGuard.admitSink]]
    * discipline), so at-least-once delivery yields exactly-once
    * snapshot maintenance. */
  def sink(snapshotDir: String, idCol: String, opCol: String,
           seqCol: String, nBuckets: Int): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      val marker = new java.io.File(snapshotDir + ".batchid")
      val last =
        if (marker.exists) java.nio.file.Files.readString(marker.toPath).trim.toLong
        else -1L
      if (batchId > last) {
        applyBatch(snapshotDir, batch, idCol, opCol, seqCol, nBuckets)
        java.nio.file.Files.writeString(marker.toPath, batchId.toString)
        ()
      }
    }
}
