package graft

import org.apache.spark.sql.SparkSession

/** The one place a Spark session is built, for every main and every
  * spec. Engine confs are set here, once, when the session is built:
  * operators and loaders never write the session's conf, so no plan
  * depends on which query the session built first. The local-session
  * policy:
  *  - `local[cores]` with shuffle partitions equal to cores;
  *  - UTC session time zone;
  *  - the UI off;
  *  - the engine confs in [[EngineConf]].
  * A main adds only what differs for it (`extra` confs, a log level),
  * and the timed mains and Verify add [[BenchConf]] on top.
  */
object GraftSession {

  /** Task slots of a local session: `SPARK_GRAFT_CPUS`, else the JVM's
    * available processors. Read once per JVM. */
  lazy val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Confs the engine's queries need to plan and read correctly. A
    * session built without them (a library user's own builder) must set
    * them too:
    *  - rank filters up to the registry's max top-k (65536) rewrite to a
    *    map-side WindowGroupLimit; at Spark's default threshold of 1000,
    *    vocab_entropy's per-source clamp stays a full window sort. It
    *    only enables pruning for k ≤ 65536 and changes no other plan.
    *  - parquet TIMESTAMP(NANOS), written by older test-data generations
    *    for `events.ts`, is readable only as a raw long;
    *    [[graft.ops.Tables.events]] converts it. */
  val EngineConf: Map[String, String] = Map(
    "spark.sql.optimizer.windowGroupLimitThreshold" -> "65536",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** State-store confs of the streaming benchmarks. Shuffle partitions
    * fix the number of STATE STORE instances per stateful operator, and
    * each one pays commit/checkpoint cost every micro-batch: for their
    * state size (≲100k windowed keys) 4 stores beat 32 by ~2x, so they
    * are sized to state volume, not core count. RocksDB is the provider
    * at real state sizes, and changelog checkpointing commits the
    * per-batch delta (snapshots in the background), keeping commit cost
    * O(changed keys) instead of O(state). */
  val StreamStateConf: Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  /** The builder confs of a local session under the policy above;
    * `extra` confs come last, so they may override the shuffle partition
    * count. */
  def settings(cores: Int = GraftSession.cores,
               extra: Map[String, String] = Map.empty): Seq[(String, String)] =
    Seq("spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false") ++ EngineConf ++ extra

  /** A session built from [[settings]] (or the existing one, with these
    * SQL confs applied), logging at `logLevel`. */
  def local(cores: Int = GraftSession.cores,
            extra: Map[String, String] = Map.empty,
            logLevel: String = "WARN"): SparkSession = {
    val builder = SparkSession.builder()
    settings(cores, extra).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Engine perf confs shared by every timed entry point (Bench,
    * MicroBench, Profile, PlanDump) AND by Verify — the oracle gate runs
    * under exactly the bench configuration, so result-identity of these
    * settings is certified, not assumed. Both are scale-adaptive /
    * scale-inert (OPTIMIZATION_r15.md §global):
    *  - scan fan-out (see [[graft.ops.ScanFanOut]]): repartitions a
    *    small fact-table scan where the work before its first shuffle
    *    pays for the exchange; identity at scale.
    *    `SPARK_GRAFT_FANOUT=false` turns it off, for an oracle pass
    *    without fan-out.
    *  - AQE coalesce floor: AQE's byte-targeted coalescing treats
    *    partition BYTES as the whole cost model, so a CPU-heavy stage
    *    over a small shuffle (posting-list pair expansion, resample
    *    grids) collapses to ONE task (measured 1.6–1.7 s single-task
    *    stages at sf0.1). 64 KiB keeps parallelism available for such
    *    stages; at cluster scale post-shuffle partitions sit far above
    *    any sane floor, so the setting is inert there. */
  val BenchConf: Map[String, String] = Map(
    "spark.graft.scan.fanout" -> sys.env.getOrElse("SPARK_GRAFT_FANOUT", "true"),
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k")

  /** [[local]] with [[BenchConf]]: the session the oracle gate and the
    * timed mains share. */
  def bench(extra: Map[String, String] = Map.empty,
            logLevel: String = "WARN"): SparkSession =
    local(extra = BenchConf ++ extra, logLevel = logLevel)
}
