package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming benchmark, part 2 (r12 verdict #7 / r13 verdict #3): the
  * STATEFUL TWINS — sustained throughput of the five custom stateful
  * operators on RocksDB state at 1M+ input rows each, pooled over 5
  * runs (medians are the comparable series; single shots sit anywhere
  * in the machine band, the STREAMBENCH.json precedent).
  *
  * Same methodology as [[StreamBench]]: a PACED FEED (≥100k-row
  * MemoryStream blocks, throttled only when the engine falls >6 blocks
  * behind), the events table replayed 10 passes with timestamps shifted
  * by the table span per pass so watermarks advance and state turns
  * over; fresh query + fresh state per run. RocksDB provider with
  * changelog checkpointing (transformWithState requires it; it is also
  * the only provider honest about >heap state), 4 shuffle partitions
  * (= state stores — sized to state volume, not core count).
  *
  * Twins measured:
  *  - ttl_dedup    — [[graft.streaming.TtlDedupStream.dedupByKey]]
  *  - accum_sorter — [[graft.streaming.AccumulatorWindow.sortedRows]]
  *  - temporal_join — [[graft.streaming.TemporalJoin.enrich]]
  *  - feature_snap — [[graft.streaming.FeatureStream.snapshots]]
  *  - near_dup     — [[graft.streaming.StreamingNearDup.pairs]]
  *  - js_drift     — [[graft.streaming.JsDivStream.windowedJsd]]
  *  - ks_drift     — [[graft.streaming.KsDriftStream.windowedKs]]
  *
  * The two drift monitors (r14 verdict #3 follow-up) are a different
  * state shape from the five transformWithState twins: chained windowed
  * aggregations against a FROZEN broadcast reference, per-window state
  * ≤ |reference domain| cells — benched on the same RocksDB + paced-feed
  * protocol so every custom streaming operator has a throughput and
  * latency line.
  *
  * Output: one JSON line per twin APPENDED into STREAMBENCH.json (the
  * base windowed-sum line is preserved; stale twin lines are replaced).
  */
object StreamBenchTwins {
  final case class E(key: String, ts: Timestamp, value: Long)
  final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                      event_type: String, value: Double)
  final case class Doc(doc_id: Long, text: String, ts: Timestamp)
  final case class Dim(key: String, ts: Timestamp, dv: String)
  final case class SDoc(source: String, text: String, ts: Timestamp)

  private val ChunkRows = 100000
  private val MaxBacklog = 6L
  private val Passes = 10

  /** Sum of processed input blocks across all sources of the query.
    * MemoryStream's progress `endOffset` is the 0-based INDEX of the
    * last committed block, not a count (measured: after block 0
    * commits, endOffset reads 0) — so each non-null offset contributes
    * index + 1. */
  private def processedBlocks(q: StreamingQuery): Long =
    Option(q.lastProgress).map(_.sources.toSeq.map(s =>
      Option(s.endOffset)
        .flatMap(o => scala.util.Try(o.trim.toLong).toOption)
        .map(_ + 1L).getOrElse(0L)).sum).getOrElse(0L)

  /** Paced feed: blocksFed is tracked by the caller via the returned
    * closure; wait only while the engine is >MaxBacklog blocks behind. */
  private def pace(q: StreamingQuery, blocksFed: => Long): Unit = {
    val waitStart = System.nanoTime()
    while (blocksFed - processedBlocks(q) > MaxBacklog &&
           System.nanoTime() - waitStart < 60L * 1000 * 1000 * 1000)
      Thread.sleep(5)
  }

  /** Offset-based drain: wait until every fed block is committed.
    * `processAllAvailable` is the wrong barrier here — twins holding
    * PROCESSING-TIME timers (TTLConfig) keep scheduling no-data batches
    * to fire expirations, so "all available" never settles while input
    * catch-up is a plain offset comparison (measured: a 100k-row warm
    * block churned 4500+ empty timer micro-batches without returning). */
  private def drain(q: StreamingQuery, blocksFed: => Long,
                    timeoutSec: Long = 600L): Unit = {
    val t0 = System.nanoTime()
    while (processedBlocks(q) < blocksFed &&
           System.nanoTime() - t0 < timeoutSec * 1000 * 1000 * 1000)
      Thread.sleep(10)
    require(processedBlocks(q) >= blocksFed,
      s"drain timed out: ${processedBlocks(q)} of $blocksFed blocks committed")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_STREAM_RUNS", "5").toInt
    // trailing args restrict the sweep to the named twins (builder-local
    // iteration; the merge below only replaces the lines it re-ran)
    val only: Set[String] = args.toSet
    val spark = GraftSession.local(extra = GraftSession.StreamStateConf)
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    // one in-memory copy of the events table, the raw material for
    // every twin's replayed feed
    val events = graft.ops.Tables.events(spark, sfDir)
      .select(col("event_id").cast("long"), col("ts").cast("timestamp"),
        col("user_id").cast("long"), col("event_type"),
        col("value").cast("double"))
      .as[Ev].collect()
    val minTs = events.iterator.map(_.ts.getTime).min
    val spanMs = events.iterator.map(_.ts.getTime).max - minTs + 120000L
    val nEvents = events.length.toLong

    def shifted(p: Int): Iterator[Ev] = {
      val shift = p * spanMs
      val idOff = p * nEvents
      events.iterator.map(e => e.copy(event_id = e.event_id + idOff,
        ts = new Timestamp(e.ts.getTime + shift)))
    }

    /** One timed run: build the query over a fresh stream, feed the
      * warm block, time `Passes` replays, drain, return rows/sec. */
    def run[T](mk: () => (MemoryStream[T], StreamingQuery),
               warm: IndexedSeq[T],
               blocks: Int => Iterator[IndexedSeq[T]]): (Double, Long) = {
      val (in, q) = mk()
      var blocksFed = 0L
      var rowsFed = 0L
      try {
        in.addData(warm)
        blocksFed += 1
        drain(q, blocksFed)
        val t0 = System.nanoTime()
        for (p <- 0 until Passes) blocks(p).foreach { chunk =>
          in.addData(chunk)
          blocksFed += 1
          rowsFed += chunk.length
          pace(q, blocksFed)
        }
        drain(q, blocksFed)
        (rowsFed / ((System.nanoTime() - t0) / 1e9), rowsFed)
      } finally q.stop()
    }

    /** temporal_join needs a second (dimension) stream fed alongside. */
    def runTwoStream(): (Double, Long) = {
      val facts = MemoryStream[E](spark, numPartitions = 8)
      val dims = MemoryStream[Dim](spark, numPartitions = 2)
      val out = graft.streaming.TemporalJoin.enrich(
        facts.toDF(), dims.toDF(), "key", "ts", "value", "dv",
        delay = "30 seconds")
      val q = out.writeStream.format("noop").outputMode("append").start()
      var blocksFed = 0L
      var rowsFed = 0L
      val users = events.iterator.map(_.user_id).toSet.toIndexedSeq.sorted
      try {
        // warm block one span early (ids/timestamps below every timed pass)
        facts.addData(events.take(ChunkRows).toIndexedSeq.map(e =>
          E(e.user_id.toString, new Timestamp(e.ts.getTime - spanMs), e.event_id)))
        blocksFed += 1
        drain(q, blocksFed)
        val t0 = System.nanoTime()
        for (p <- 0 until Passes) {
          // one dimension version per user per pass, stamped at pass start:
          // every fact in the pass matches the in-force version (as-of)
          val dimBlock = users.map(u =>
            Dim(u.toString, new Timestamp(minTs + p * spanMs), s"v$p-$u"))
          dims.addData(dimBlock)
          blocksFed += 1
          rowsFed += dimBlock.length
          shifted(p).map(e => E(e.user_id.toString, e.ts, e.event_id))
            .grouped(ChunkRows).foreach { chunk =>
              facts.addData(chunk.toIndexedSeq)
              blocksFed += 1
              rowsFed += chunk.length
              pace(q, blocksFed)
            }
        }
        drain(q, blocksFed)
        (rowsFed / ((System.nanoTime() - t0) / 1e9), rowsFed)
      } finally q.stop()
    }

    // deterministic near-dup corpus: 16-token texts from a seeded hash;
    // every 10th doc repeats the text 5 docs back (≈10% near-dup rate,
    // the planted-positive pattern the batch dedup queries use)
    def docText(i: Long): String = {
      val base = if (i % 10 == 0 && i >= 5) i - 5 else i
      (0 until 16).map { t =>
        val h = scala.util.hashing.MurmurHash3.stringHash(s"$base|$t")
        s"w${(h & 0x7fffffff) % 5000}"
      }.mkString(" ")
    }

    // frozen references for the two drift monitors, built once on the
    // batch side (the deployment pattern: a settled corpus/history
    // snapshot, the stream scored against it). jsRef: top-64 words +
    // OOV bucket over the same deterministic doc generator the feed
    // uses; ksRef: dense dollar-bin histogram of the events value
    // domain (~561 bins at this table's range).
    // lazy: a restricted run that excludes the drift twins must not pay
    // the reference-building Spark jobs at startup
    lazy val jsRef = graft.streaming.JsDivStream.referenceFrom(
      (0L until 100000L).map(docText).toDF("text"), "text", k = 64)
    lazy val ksRef = graft.streaming.KsDriftStream.referenceFrom(
      graft.ops.Tables.events(spark, sfDir), "value")

    val twins: Seq[(String, () => (Double, Long))] = Seq(
      "ttl_dedup" -> (() => run[E](
        mk = () => {
          val in = MemoryStream[E](spark, numPartitions = 8)
          val out = graft.streaming.TtlDedupStream.dedupByKey(
            in.toDF(), Seq("key"), java.time.Duration.ofMinutes(10))
          (in, out.writeStream.format("noop").outputMode("append").start())
        },
        warm = events.take(ChunkRows).toIndexedSeq.map(e =>
          E(s"warm-${e.event_id}", e.ts, e.event_id)),
        // key = event_id within a pass (fresh keys, worst-case state
        // growth); replayed passes re-offer ~10% of the previous pass's
        // ids so the dedup path exercises both hit and miss
        blocks = p => shifted(p)
          .map(e => E((if (e.event_id % 10 == 0) e.event_id - nEvents
                       else e.event_id).toString, e.ts, e.event_id))
          .grouped(ChunkRows).map(_.toIndexedSeq))),
      "accum_sorter" -> (() => run[E](
        mk = () => {
          val in = MemoryStream[E](spark, numPartitions = 8)
          val out = graft.streaming.AccumulatorWindow.sortedRows(
            in.toDF().withWatermark("ts", "30 seconds"), Seq("key"), "ts")
          (in, out.writeStream.format("noop").outputMode("append").start())
        },
        warm = events.take(ChunkRows).toIndexedSeq.map(e =>
          E(e.user_id.toString, new Timestamp(e.ts.getTime - spanMs), e.event_id)),
        blocks = p => shifted(p).map(e => E(e.user_id.toString, e.ts, e.event_id))
          .grouped(ChunkRows).map(_.toIndexedSeq))),
      "temporal_join" -> (() => runTwoStream()),
      "feature_snap" -> (() => run[Ev](
        mk = () => {
          val in = MemoryStream[Ev](spark, numPartitions = 8)
          val out = graft.streaming.FeatureStream.snapshots(in.toDF())
          (in, out.writeStream.format("noop").outputMode("append").start())
        },
        warm = events.take(ChunkRows).toIndexedSeq.map(e =>
          e.copy(event_id = e.event_id - nEvents,
            ts = new Timestamp(e.ts.getTime - spanMs))),
        blocks = p => shifted(p).grouped(ChunkRows).map(_.toIndexedSeq))),
      "near_dup" -> (() => run[Doc](
        mk = () => {
          val in = MemoryStream[Doc](spark, numPartitions = 8)
          val out = graft.streaming.StreamingNearDup.pairs(
            in.toDF().withWatermark("ts", "30 seconds"),
            "doc_id", "text", "ts", retentionMs = spanMs)
          (in, out.writeStream.format("noop").outputMode("append").start())
        },
        warm = (0 until ChunkRows).map(i =>
          Doc(-ChunkRows + i, docText(i.toLong), new Timestamp(minTs - spanMs + i))),
        blocks = p => {
          val idOff = p * nEvents
          val shift = p * spanMs
          // one doc per event row: ids unique per pass, timestamps ride
          // the events clock so the watermark advances identically
          events.iterator.zipWithIndex.map { case (e, i) =>
            Doc(idOff + i, docText(idOff + i),
              new Timestamp(e.ts.getTime + shift))
          }.grouped(ChunkRows).map(_.toIndexedSeq)
        })),
      "js_drift" -> (() => run[SDoc](
        mk = () => {
          val in = MemoryStream[SDoc](spark, numPartitions = 8)
          val out = graft.streaming.JsDivStream.windowedJsd(
            in.toDF(), "ts", "source", "text", jsRef,
            windowDur = "1 hour", delay = "30 seconds")
          (in, out.writeStream.format("noop").outputMode("append").start())
        },
        warm = (0 until ChunkRows).map(i =>
          SDoc(s"s${i % 8}", docText(i.toLong),
            new Timestamp(minTs - spanMs + i))),
        // one doc per event row across 8 sources, timestamps riding the
        // events clock so windows close and state turns over per pass
        blocks = p => {
          val idOff = p * nEvents
          val shift = p * spanMs
          events.iterator.zipWithIndex.map { case (e, i) =>
            SDoc(s"s${e.user_id % 8}", docText(idOff + i),
              new Timestamp(e.ts.getTime + shift))
          }.grouped(ChunkRows).map(_.toIndexedSeq)
        })),
      "ks_drift" -> (() => run[Ev](
        mk = () => {
          val in = MemoryStream[Ev](spark, numPartitions = 8)
          val out = graft.streaming.KsDriftStream.windowedKs(
            in.toDF(), "ts", "value", ksRef,
            windowDur = "1 hour", delay = "30 seconds")
          (in, out.writeStream.format("noop").outputMode("append").start())
        },
        warm = events.take(ChunkRows).toIndexedSeq.map(e =>
          e.copy(event_id = e.event_id - nEvents,
            ts = new Timestamp(e.ts.getTime - spanMs))),
        blocks = p => shifted(p).grouped(ChunkRows).map(_.toIndexedSeq))))

    // ---- single-message latency: feed-to-commit of ONE row through a
    // warm pipeline (7 reps, first 2 dropped as JIT warmers, median of
    // 5). RocksDB per-batch commit dominates here by design — these
    // twins REQUIRE RocksDB (transformWithState) or deploy on it, so
    // unlike the base bench's HDFS-store latency slice this measures
    // the operator as actually run, commit cost included.
    def latRun[T](mk: () => (MemoryStream[T], StreamingQuery),
                  warm: IndexedSeq[T], single: Int => T): Seq[Double] = {
      val (in, q) = mk()
      var blocksFed = 0L
      try {
        in.addData(warm)
        blocksFed += 1
        drain(q, blocksFed)
        (1 to 7).map { i =>
          val t0 = System.nanoTime()
          in.addData(IndexedSeq(single(i)))
          blocksFed += 1
          drain(q, blocksFed)
          (System.nanoTime() - t0) / 1e6
        }.drop(2)
      } finally q.stop()
    }

    def latTemporalJoin(): Seq[Double] = {
      val facts = MemoryStream[E](spark, numPartitions = 8)
      val dims = MemoryStream[Dim](spark, numPartitions = 2)
      val out = graft.streaming.TemporalJoin.enrich(
        facts.toDF(), dims.toDF(), "key", "ts", "value", "dv",
        delay = "30 seconds")
      val q = out.writeStream.format("noop").outputMode("append").start()
      var blocksFed = 0L
      try {
        dims.addData(IndexedSeq(Dim("u0", new Timestamp(minTs), "v0")))
        blocksFed += 1
        facts.addData(events.take(ChunkRows).toIndexedSeq.map(e =>
          E(e.user_id.toString, e.ts, e.event_id)))
        blocksFed += 1
        drain(q, blocksFed)
        (1 to 7).map { i =>
          val t0 = System.nanoTime()
          facts.addData(IndexedSeq(
            E("u0", new Timestamp(minTs + spanMs + i * 1000L), i.toLong)))
          blocksFed += 1
          drain(q, blocksFed)
          (System.nanoTime() - t0) / 1e6
        }.drop(2)
      } finally q.stop()
    }

    val latencies: Map[String, () => Seq[Double]] = Map(
      "ttl_dedup" -> (() => latRun[E](
        mk = () => {
          val in = MemoryStream[E](spark, numPartitions = 8)
          val out = graft.streaming.TtlDedupStream.dedupByKey(
            in.toDF(), Seq("key"), java.time.Duration.ofMinutes(10))
          (in, out.writeStream.format("noop").outputMode("append").start())
        },
        warm = events.take(ChunkRows).toIndexedSeq.map(e =>
          E(e.event_id.toString, e.ts, e.event_id)),
        single = i => E(s"lat-$i", new Timestamp(minTs + i * 1000L), i.toLong))),
      "accum_sorter" -> (() => latRun[E](
        mk = () => {
          val in = MemoryStream[E](spark, numPartitions = 8)
          val out = graft.streaming.AccumulatorWindow.sortedRows(
            in.toDF().withWatermark("ts", "30 seconds"), Seq("key"), "ts")
          (in, out.writeStream.format("noop").outputMode("append").start())
        },
        warm = events.take(ChunkRows).toIndexedSeq.map(e =>
          E(e.user_id.toString, e.ts, e.event_id)),
        single = i => E("lat", new Timestamp(minTs + spanMs + i * 1000L), i.toLong))),
      "temporal_join" -> (() => latTemporalJoin()),
      "feature_snap" -> (() => latRun[Ev](
        mk = () => {
          val in = MemoryStream[Ev](spark, numPartitions = 8)
          val out = graft.streaming.FeatureStream.snapshots(in.toDF())
          (in, out.writeStream.format("noop").outputMode("append").start())
        },
        warm = events.take(ChunkRows).toIndexedSeq,
        single = i => Ev(nEvents + i, new Timestamp(minTs + i * 1000L),
          i.toLong % 100, "purchase", 1.0))),
      "near_dup" -> (() => latRun[Doc](
        mk = () => {
          val in = MemoryStream[Doc](spark, numPartitions = 8)
          val out = graft.streaming.StreamingNearDup.pairs(
            in.toDF().withWatermark("ts", "30 seconds"),
            "doc_id", "text", "ts", retentionMs = spanMs)
          (in, out.writeStream.format("noop").outputMode("append").start())
        },
        warm = (0 until ChunkRows).map(i =>
          Doc(i.toLong, docText(i.toLong), new Timestamp(minTs + i))),
        single = i => Doc(1000000L + i, docText(i.toLong),
          new Timestamp(minTs + spanMs + i * 1000L)))),
      "js_drift" -> (() => latRun[SDoc](
        mk = () => {
          val in = MemoryStream[SDoc](spark, numPartitions = 8)
          val out = graft.streaming.JsDivStream.windowedJsd(
            in.toDF(), "ts", "source", "text", jsRef,
            windowDur = "1 hour", delay = "30 seconds")
          (in, out.writeStream.format("noop").outputMode("append").start())
        },
        warm = (0 until ChunkRows).map(i =>
          SDoc(s"s${i % 8}", docText(i.toLong), new Timestamp(minTs + i))),
        single = i => SDoc("s0", docText(i.toLong),
          new Timestamp(minTs + spanMs + i * 1000L)))),
      "ks_drift" -> (() => latRun[Ev](
        mk = () => {
          val in = MemoryStream[Ev](spark, numPartitions = 8)
          val out = graft.streaming.KsDriftStream.windowedKs(
            in.toDF(), "ts", "value", ksRef,
            windowDur = "1 hour", delay = "30 seconds")
          (in, out.writeStream.format("noop").outputMode("append").start())
        },
        warm = events.take(ChunkRows).toIndexedSeq,
        single = i => Ev(nEvents + i, new Timestamp(minTs + spanMs + i * 1000L),
          i.toLong % 100, "purchase", 1.0 * i))))

    // a typo'd twin name must fail fast, not silently bench nothing and
    // rewrite STREAMBENCH.json unchanged
    val unknown = only -- twins.map(_._1).toSet
    require(unknown.isEmpty,
      s"unknown twin name(s): ${unknown.mkString(", ")} — " +
        s"valid: ${twins.map(_._1).mkString(", ")}")
    val lines = twins.filter(t => only.isEmpty || only(t._1)).map { case (name, f) =>
      val results = (1 to runs).map { r =>
        val (v, fed) = f()
        println(f"  $name run $r: $v%.0f rows/s ($fed rows)")
        (v, fed)
      }
      val rps = results.map(_._1)
      // the feed is deterministic per twin — every run feeds the same
      // row count, and (ADVICE r14) for temporal_join that count
      // includes the per-pass dimension blocks the throughput divisor
      // already counted, so report what was actually measured over
      val rowsFed = results.head._2
      val sorted = rps.sorted
      val median = sorted(sorted.length / 2)
      val lats = latencies(name)().sorted
      val latMedian = lats(lats.length / 2)
      println(f"  $name latency: median $latMedian%.1f ms " +
        s"(${lats.map(v => f"$v%.1f").mkString(",")})")
      val line =
        s"""{"metric":"stream_twin","twin":"$name","rows":$rowsFed,""" +
          s""""passes":$Passes,"chunk_rows":$ChunkRows,"state_store":"rocksdb",""" +
          f""""median_rows_per_sec":$median%.0f,""" +
          s""""pooled_rows_per_sec":[${rps.map(v => f"$v%.0f").mkString(",")}],""" +
          f""""median_latency_ms":$latMedian%.1f,""" +
          s""""pooled_latency_ms":[${lats.map(v => f"$v%.1f").mkString(",")}],""" +
          s""""sf":"$sfDir"}"""
      println(line)
      line
    }

    // merge into STREAMBENCH.json: keep non-twin lines and the twin
    // lines NOT re-run this invocation, replace the re-run ones
    val ranNames = twins.collect {
      case (n, _) if only.isEmpty || only(n) => s""""twin":"$n"""" }
    val path = java.nio.file.Paths.get("STREAMBENCH.json")
    val existing =
      if (java.nio.file.Files.exists(path))
        java.nio.file.Files.readString(path).linesIterator
          .filterNot(l => l.contains("\"stream_twin\"") &&
            ranNames.exists(l.contains))
          .toSeq
      else Seq.empty
    java.nio.file.Files.writeString(path, (existing ++ lines).mkString("\n") + "\n")
    spark.stop()
  }
}
