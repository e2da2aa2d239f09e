package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM: `tpch` or `stream_reduce`.
  *
  * Started by `run.py`, which owns building, the DuckDB checks and the
  * final result line. This process writes one JSON document to `--out`:
  * the end-to-end figures, the per-layer figures of a traced run, the
  * drift probe (`control_s`) and what the batch check needs (output
  * directories and oracle SQL).
  *
  * The program is reached only through `graft.SparkEntry`,
  * `graft.model.Pipeline`, `graft.streaming.Compiler`,
  * `graft.streaming.Sinks` and the `graft.ops.Tables` read seam.
  */
object PerfBench {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: String, work: String, out: String, startNs: Long, cpus: Int)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      get("data"), get("work"), get("out"), get("start-ns").toLong, get("cpus").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val controlStart = Control.time()
    // The drift probe is not part of set-up.
    val a = { val p = parse(argv); p.copy(startNs = p.startNs + (controlStart * 1e9).toLong) }
    val spark = session(a)
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cpus" -> a.cpus, "data" -> a.data)
    try {
      val trace = if (a.trace) Some(new Trace(spark, a.cpus)) else None
      val body = a.workload match {
        case "tpch"          => Batch.run(spark, a, trace)
        case "stream_reduce" => Stream.run(spark, a, trace)
        case w               => sys.error(s"unknown workload $w")
      }
      report ++= body
      for (t <- trace; layers <- body.get("layers"))
        report("layers") = layers.asInstanceOf[Map[String, Double]] ++ t.jvm()
    } finally spark.stop()
    report("control_s") = Map("start" -> controlStart, "end" -> Control.time())
    report("peak_rss_mb") = peakRssMb()
    Files.writeString(Paths.get(a.out),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(report))
  }

  /** `local[cpus]` with matching shuffle partitions; every directory the
    * session writes sits under this run's own work directory. */
  private def session(a: Args): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${a.work}/checkpoint")
      // The engine settings the repo's timed entry points and its oracle
      // gate run under (graft.Bench.applyBenchConf), fixed here so that
      // both sides of a comparison run the same configuration.
      .config("spark.graft.scan.fanout", "true")
      .config("spark.graft.scan.fanout.taskBytes", "65536")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
    if (a.workload == "stream_reduce") b
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Seconds from the start of this JVM's process to now. */
  def sinceStart(a: Args): Double =
    (Clock.epochNanos() - a.startNs) / 1e9

  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

object Clock {
  /** Wall clock in epoch nanoseconds, comparable with Python's `time.time_ns()`. */
  def epochNanos(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
}

/** A fixed JVM-only computation that never touches the program: its time at
  * the start and the end of a run tells host drift apart from a change in
  * the program. 200M steps of a xorshift generator: CPU only, no
  * allocation. */
object Control {
  def time(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 200000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 42L) println("") // keeps the loop observable
    (System.nanoTime() - t0) / 1e9
  }
}
