package perfbench

import java.sql.Timestamp
import java.time.Instant
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import graft.model.Pipeline._
import graft.ops.Routing.TagCondition
import graft.streaming.{Compiler, Sinks}

/** Numaflow's core shape as a compiled PipelineSpec: source → tagging map
  * → conditional edge → 60 s fixed-window keyed reduce (sum, count) → sink,
  * on RocksDB state with changelog checkpointing.
  *
  * The sf `events` table is replayed pass after pass with its timestamps
  * shifted by one span per pass, so the watermark advances and state turns
  * over. One feeder thread (this one) sends blocks through a MemoryStream:
  *  1. cold: start the query and process the first `ColdBlocks` blocks
  *     of `SatBlock` rows, in a closed loop: one block at a time, the next
  *     sent as soon as the engine has processed the last. This is what a
  *     newly started job pays: codegen, state store start-up and JIT;
  *  2. saturated, `--seconds`: the same closed loop → rows per second
  *     from the median block time;
  *  3. open loop, `--seconds`: `LatBlock` rows every `LatBlock/LatRate`
  *     seconds, on schedule whatever the engine does → latency of each
  *     block, from the time it was due to the end of the micro-batch whose
  *     watermark closes the last window its rows fall in;
  *  4. a closing event far ahead in event time, then wait for the no-data
  *     batch that emits every remaining window, and check the output. */
object Stream {
  final case class Ev(key: Long, ts: Timestamp, value: Long)

  val WindowMicros: Long = 60L * 1000000
  val DelayMicros: Long = 120L * 1000000   // watermark delay
  val DisorderMicros: Long = 90L * 1000000 // bounded disorder, inside the delay
  val SatBlock = 20000
  val ColdBlocks = 8
  val LatRate = 8000 // rows per second
  val LatBlock = 200
  val CloseKey: Long = -1L

  /** The tag the map vertex gives a row, and the edge into the reduce. */
  def routed(value: Long): Boolean = value % 5 != 0
  val tagMap: DataFrame => DataFrame = df =>
    df.withColumn("tags", when(col("value") % 5 =!= 0, array(lit("main")))
      .otherwise(array(lit("audit"))))

  /** Order-independent digest of (key, window start, sum, count) rows. */
  final class Digest {
    var rows = 0L
    var count = 0L
    var hash = 0L
    def add(key: Long, wStartMicros: Long, sum: Long, n: Long): Unit = {
      rows += 1; count += n
      hash += mix(mix(mix(mix(0x9E3779B97F4A7C15L, key), wStartMicros), sum), n)
    }
    private def mix(h: Long, x: Long): Long = {
      var z = h ^ (x + 0x9E3779B97F4A7C15L + (h << 6) + (h >>> 2))
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def toMap: Map[String, Any] = Map("rows" -> rows, "count" -> count, "hash" -> hash)
    override def equals(o: Any): Boolean = o match {
      case d: Digest => d.rows == rows && d.count == count && d.hash == hash
      case _         => false
    }
    override def hashCode: Int = hash.hashCode
  }

  def run(spark: SparkSession, a: PerfBench.Args, trace: Option[Trace]): Map[String, Any] = {
    import spark.implicits._

    // ---- feed rows: (key, ts µs, value in cents), in the seed's delivery order
    val base = graft.ops.Tables.events(spark, a.data)
      .select(col("user_id").cast("long"), unix_micros(col("ts").cast("timestamp")),
        round(col("value") * 100).cast("long"))
      .as[(Long, Long, Long)].collect()
    val rnd = new java.util.SplittableRandom(a.seed)
    val order = base.indices.map(i => (base(i)._2 + rnd.nextLong(DisorderMicros), i))
      .sortBy(identity).map(_._2).toArray
    val minTs = base.iterator.map(_._2).min
    val span = {
      val s = base.iterator.map(_._2).max - minTs + DisorderMicros + DelayMicros + 2 * WindowMicros
      (s / WindowMicros + 1) * WindowMicros
    }
    val setupS = PerfBench.sinceStart(a)

    // ---- what the feeder sent, kept apart from the program
    var fedRows = 0L
    var fedBlocks = 0L
    var next = 0L // position in the endless replay
    val routedGroups = new mutable.ArrayBuilder.ofLong // (window index << 20 | key)
    val routedValues = new mutable.ArrayBuilder.ofLong
    var maxRoutedWindowEnd = Long.MinValue

    def micros(us: Long): Timestamp = {
      val t = new Timestamp(Math.floorDiv(us, 1000L))
      t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }

    val mem = MemoryStream[Ev](spark, a.cpus)

    /** Sends the next `n` replay rows as one block; returns the end (µs) of
      * the last window its routed rows fall in. */
    def feed(n: Int): Long = {
      val block = new Array[Ev](n)
      var lastEnd = Long.MinValue
      var j = 0
      while (j < n) {
        val (k, ts0, v) = base(order((next % base.length).toInt))
        val ts = ts0 + (next / base.length) * span
        require(k >= 0 && k < (1L << 20), s"key $k out of range")
        block(j) = Ev(k, micros(ts), v)
        if (routed(v)) {
          val w = Math.floorDiv(ts, WindowMicros)
          routedGroups += (w << 20) | k
          routedValues += v
          lastEnd = math.max(lastEnd, (w + 1) * WindowMicros)
        }
        next += 1; j += 1
      }
      mem.addData(block.toIndexedSeq)
      fedRows += n; fedBlocks += 1
      maxRoutedWindowEnd = math.max(maxRoutedWindowEnd, lastEnd)
      lastEnd
    }

    // ---- the sink: the benchmark's result writer behind Sinks.withRetry
    val emitted = new Digest
    val sinkMs = mutable.ArrayBuffer[Double]()
    var writerCalls = 0L
    val batchesSeen = mutable.Set[Long]()
    val writer: Sinks.Writer = (df, id) => {
      writerCalls += 1
      batchesSeen += id
      val rows = df.select(col("key"), unix_micros(col("w_start")), col("sum"), col("n")).collect()
      rows.foreach(r => emitted.add(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    }
    val retrying = Sinks.withRetry(writer)
    val timedSink: (DataFrame, Long) => Unit = (df, id) => {
      val t0 = System.nanoTime()
      retrying(df, id)
      sinkMs += (System.nanoTime() - t0) / 1e6
    }

    trace.foreach(_.take())
    // ---- 1. cold: compile the spec, start the query, process the first blocks
    val t0 = System.nanoTime()
    val reduce = GroupBySpec(Fixed("60 seconds"), Seq("key"),
      Seq(sum(col("value")).as("sum"), count(lit(1)).as("n")))
    val spec = PipelineSpec(
      vertices = Seq(SourceV("in", mem.toDF(), "ts"), MapV("tag", tagMap),
        ReduceV("minute", reduce), SinkV("out")),
      edges = Seq(Edge("in", "tag"), Edge("tag", "minute", Some(TagCondition(Seq("main")))),
        Edge("minute", "out")),
      watermark = WatermarkSpec(s"${DelayMicros / 1000000} seconds"))
    val q = Compiler.compile(spec)("out").writeStream
      .queryName("perfbench_stream_reduce")
      .outputMode(Compiler.outputMode(reduce))
      .option("checkpointLocation", s"${a.work}/checkpoint/stream_reduce")
      .foreachBatch(timedSink)
      .start()
    try {
      def processedBlocks: Long = Option(q.lastProgress)
        .flatMap(p => p.sources.headOption).flatMap(s => Option(s.endOffset))
        .flatMap(o => scala.util.Try(o.trim.toLong + 1).toOption).getOrElse(0L)
      var backlogMax = 0L
      /** One block of the closed loop; returns its seconds. */
      def block(): Double = {
        val b0 = System.nanoTime()
        feed(SatBlock)
        backlogMax = math.max(backlogMax, fedBlocks - processedBlocks)
        q.processAllAvailable()
        (System.nanoTime() - b0) / 1e9
      }
      for (_ <- 0 until ColdBlocks) block()
      val coldS = (System.nanoTime() - t0) / 1e9

      // ---- 2. saturated, closed loop
      val satRows0 = fedRows
      val satFrom = q.lastProgress.batchId
      val blockS = mutable.ArrayBuffer[Double]()
      val s0 = System.nanoTime()
      while (System.nanoTime() - s0 < a.seconds * 1000000000L) blockS += block()
      val satS = (System.nanoTime() - s0) / 1e9
      val satRows = fedRows - satRows0
      val satTo = q.lastProgress.batchId

      // ---- 3. open loop at a fixed rate
      val intervalNs = LatBlock * 1000000000L / LatRate
      val nBlocks = a.seconds * LatRate / LatBlock
      val startNs = Clock.epochNanos() + 50000000L
      val due = new Array[Long](nBlocks)      // epoch ns
      val closes = new Array[Long](nBlocks)   // µs of the last routed window end
      var lateMaxMs = 0.0
      for (i <- 0 until nBlocks) {
        due(i) = startNs + i * intervalNs
        var now = Clock.epochNanos()
        while (now < due(i)) {
          LockSupport.parkNanos(math.min(due(i) - now, 1000000L))
          now = Clock.epochNanos()
        }
        lateMaxMs = math.max(lateMaxMs, (now - due(i)) / 1e6)
        closes(i) = feed(LatBlock)
        backlogMax = math.max(backlogMax, fedBlocks - processedBlocks)
      }

      // ---- 4. closing event, then wait for the batch that emits the rest
      val closeTs = (next / base.length + 1) * span + minTs + DelayMicros + 2 * WindowMicros
      mem.addData(Ev(CloseKey, micros(closeTs), 1L))
      fedRows += 1; fedBlocks += 1
      q.processAllAvailable()
      val w0 = System.nanoTime()
      def batches: Seq[StreamingQueryProgress] = executed(q.recentProgress.toSeq)
      while (!batches.exists(p => watermarkMicros(p) >= maxRoutedWindowEnd) &&
             System.nanoTime() - w0 < 60e9)
        Thread.sleep(10)
      val progress = batches

      // ---- saturated rate: one block over the median block time
      val rowsPerS = SatBlock / Stats.median(blockS.toSeq)
      val sat = progress.filter(p => p.batchId > satFrom && p.batchId <= satTo && p.numInputRows > 0)
      val streamSpan = trace.map(_.take())

      // ---- latency samples from the progress watermark
      val ends = progress.map(p => (watermarkMicros(p), endEpochNs(p)))
      val lat = (0 until nBlocks).filter(closes(_) > Long.MinValue).flatMap { i =>
        ends.find(_._1 >= closes(i)).map { case (_, end) => (end - due(i)) / 1e6 }
      }

      // ---- the check, against a digest folded here from what was fed
      val expected = new Digest
      val g = routedGroups.result(); val v = routedValues.result()
      val idx = g.indices.sortBy(g(_))
      var i = 0
      while (i < idx.length) {
        val grp = g(idx(i)); var s = 0L; var n = 0L
        while (i < idx.length && g(idx(i)) == grp) { s += v(idx(i)); n += 1; i += 1 }
        expected.add(grp & ((1L << 20) - 1), (grp >> 20) * WindowMicros, s, n)
      }
      val inputRows = progress.map(_.numInputRows).sum
      val droppedLate = progress.flatMap(_.stateOperators.headOption).map(_.numRowsDroppedByWatermark).sum
      val checks = mutable.LinkedHashMap[String, Any](
        "digest_equal" -> (emitted == expected),
        "count_equal" -> (emitted.count == v.length),
        "input_rows_equal" -> (inputRows == fedRows),
        "no_late_drops" -> (droppedLate == 0),
        "latency_samples_ok" -> (lat.size == nBlocks),
        "emitted" -> emitted.toMap, "expected" -> expected.toMap,
        "fed_rows" -> fedRows, "progress_input_rows" -> inputRows,
        "dropped_late" -> droppedLate)
      val checkKeys = Seq("digest_equal", "count_equal", "input_rows_equal", "no_late_drops",
        "latency_samples_ok")

      val report = mutable.LinkedHashMap[String, Any](
        "setup_s" -> setupS,
        "attempted" -> fedBlocks,
        "failed" -> 0,
        "correct" -> checkKeys.forall(k => checks(k) == true),
        "check" -> checks,
        "metrics" -> Map(
          "cold_s" -> coldS,
          "warm_s" -> base.length / rowsPerS,
          "latency_ms" -> Stats.median(lat)),
        "rows_per_s" -> rowsPerS,
        "latency_p50_ms" -> Stats.median(lat),
        "latency_p90_ms" -> Stats.quantile(lat, 0.9),
        "latency_samples" -> lat.size,
        "phases" -> Map("cold_blocks" -> ColdBlocks, "sat_s" -> satS, "sat_rows" -> satRows,
          "sat_blocks" -> blockS.size, "sat_block_s" -> blockS.toSeq, "sat_batches" -> sat.size,
          "lat_blocks" -> nBlocks, "lat_rate" -> LatRate, "lat_block" -> LatBlock,
          "sat_block" -> SatBlock))

      // ---- per-batch figures from the query's own progress reports
      val data = progress.filter(_.numInputRows > 0)
      def dur(k: String) = Stats.median(data.map(p => Option(p.durationMs.get(k)).fold(0.0)(_.toDouble)))
      def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
        Stats.median(data.flatMap(_.stateOperators.headOption).map(f))
      val layers = Map(
        "stream.batches" -> progress.size.toDouble,
        "stream.data_batch_ratio" -> (if (progress.isEmpty) 0.0 else data.size.toDouble / progress.size),
        "stream.rows_per_batch" -> Stats.median(data.map(_.numInputRows.toDouble)),
        "stream.trigger_ms" -> dur("triggerExecution"),
        "stream.add_batch_ms" -> dur("addBatch"),
        "stream.query_planning_ms" -> dur("queryPlanning"),
        "stream.wal_commit_ms" -> dur("walCommit"),
        "stream.commit_offsets_ms" -> dur("commitOffsets"),
        "stream.state_commit_ms" -> state(_.commitTimeMs.toDouble),
        "stream.state_rows" -> state(_.numRowsTotal.toDouble),
        "stream.state_rows_updated" -> state(_.numRowsUpdated.toDouble),
        "stream.state_rows_removed" -> state(_.numRowsRemoved.toDouble),
        "stream.state_memory_mb" -> state(_.memoryUsedBytes / 1048576.0),
        "stream.rows_dropped_late" -> droppedLate.toDouble,
        "stream.backlog_blocks_max" -> backlogMax.toDouble,
        "stream.feeder_late_ms_max" -> lateMaxMs,
        "sink.ms" -> Stats.median(sinkMs.toSeq),
        "sink.retries" -> (writerCalls - batchesSeen.size).toDouble)
      report("stream_layers") = layers
      for (t <- trace; s <- streamSpan) {
        val execS = progress.map(p => Option(p.durationMs.get("triggerExecution")).fold(0.0)(_ / 1e3)).sum
        report("layers") = Layers.empty ++ layers ++ Map(
          "tables.open_ms" -> Layers.openTables(spark, a.data, Seq("events")),
          "plan.analysis_ms" -> s.analysisMs.toDouble,
          "plan.optimizer_ms" -> s.optimizerMs.toDouble,
          "plan.planning_ms" -> s.planningMs.toDouble,
          "codegen.compile_ms" -> s.compileNs / 1e6,
          "codegen.classes" -> s.classes.toDouble) ++ Layers.exec(s, execS, t)
        report("slot_bound_ok") = t.withinSlots(s, (System.nanoTime() - t0) / 1e9)
      }
      report.toMap
    } finally {
      q.stop()
      q.awaitTermination(60000L)
    }
  }

  /** Progress reports of batches that ran, one per batch id. */
  private def executed(ps: Seq[StreamingQueryProgress]): Seq[StreamingQueryProgress] =
    ps.filter(_.durationMs.containsKey("addBatch"))
      .groupBy(_.batchId).values.map(_.last).toSeq.sortBy(_.batchId)

  private def watermarkMicros(p: StreamingQueryProgress): Long =
    Option(p.eventTime.get("watermark")).fold(Long.MinValue) { s =>
      val i = Instant.parse(s); i.getEpochSecond * 1000000L + i.getNano / 1000
    }

  private def endEpochNs(p: StreamingQueryProgress): Long = {
    val i = Instant.parse(p.timestamp)
    i.getEpochSecond * 1000000000L + i.getNano +
      p.durationMs.get("triggerExecution").longValue * 1000000L
  }
}
