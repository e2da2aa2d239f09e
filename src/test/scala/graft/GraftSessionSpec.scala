package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.functions.{col, explode, split}

import graft.ops.{ScanFanOut, Tables}
import graft.streaming.{SnapshotCdc, ViewMaintenance}

/** Guards the one-session-factory rule: every session, in the mains and
  * in the specs, is built through [[GraftSession]], so the local-session
  * policy (cores, shuffle partitions, time zone, UI), the engine confs
  * and the bench confs are defined once and set when the session is
  * built. Operators never write the session's conf. */
class GraftSessionSpec extends SparkSpec {

  /** `.scala` files under `root`, relative path → text. */
  private def sources(root: String): Seq[(String, String)] = {
    val base = Paths.get(root)
    val walk = Files.walk(base)
    try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map((p: Path) => base.relativize(p).toString -> Files.readString(p))
      .toSeq.sorted
    finally walk.close()
  }

  test("local policy: shuffle partitions = cores, UTC, UI off; bench confs set") {
    val expectedCores = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    assert(GraftSession.cores === expectedCores)

    val default = GraftSession.settings().toMap
    assert(default("spark.master") === s"local[${GraftSession.cores}]")
    assert(default("spark.sql.shuffle.partitions") === GraftSession.cores.toString)
    assert(default("spark.sql.session.timeZone") === "UTC")
    assert(default("spark.ui.enabled") === "false")
    assert(default("spark.sql.optimizer.windowGroupLimitThreshold") === "65536")
    assert(default("spark.sql.legacy.parquet.nanosAsLong") === "true")

    val pinned = GraftSession.settings(cores = 32).toMap
    assert(pinned("spark.master") === "local[32]")
    assert(pinned("spark.sql.shuffle.partitions") === "32")

    // extra confs win: the stream mains keep 4 state stores on any host
    val stream = GraftSession.settings(extra = GraftSession.StreamStateConf).toMap
    assert(stream("spark.sql.shuffle.partitions") === "4")
    assert(stream("spark.sql.streaming.stateStore.providerClass")
      .endsWith("RocksDBStateStoreProvider"))

    // specs plan under the mains' engine confs
    GraftSession.EngineConf.foreach { case (k, v) => assert(spark.conf.get(k) === v, k) }

    assert(GraftSession.BenchConf === Map(
      "spark.graft.scan.fanout" -> sys.env.getOrElse("SPARK_GRAFT_FANOUT", "true"),
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k"))

    // the oracle gate and the timed mains run under the same session
    val mains = sources("src/main/scala").toMap
    Seq("Verify", "Bench", "MicroBench", "Profile", "PlanDump").foreach { m =>
      assert(mains(s"graft/$m.scala").contains("GraftSession.bench("),
        s"$m does not use GraftSession.bench()")
    }
  }

  private def builderUses(root: String): Seq[(String, Int)] =
    sources(root)
      .map { case (f, text) => f -> "SparkSession\\.builder".r.findAllMatchIn(text).size }
      .filter(_._2 > 0)

  test("no SparkSession.builder in src/main outside GraftSession") {
    assert(builderUses("src/main/scala") === Seq("graft/GraftSession.scala" -> 1))
  }

  test("no SparkSession.builder in src/test: specs build through GraftSession") {
    // the only matches are the two test names in this file
    assert(builderUses("src/test/scala") === Seq("graft/GraftSessionSpec.scala" -> 2))
  }

  test("src/main writes the session conf only where no per-query scope exists") {
    val allowed = Map(
      // an explicit API: applies a pipeline's state-store codec
      "graft/streaming/Compiler.scala" -> 1,
      // the stateful-correctness checker's opt-out: Spark reads it only
      // from the session, with no per-query scope
      "graft/streaming/StreamingNearDup.scala" -> 1,
      // its own main switches the state-store provider between two slices
      "graft/StreamBench.scala" -> 1)
    val writes = sources("src/main/scala")
      .map { case (f, text) => f -> "\\bconf\\.(set|unset)\\b".r.findAllMatchIn(text).size }
      .filter(_._2 > 0).toMap
    assert(writes === allowed)
  }

  /** The argument lists of every `.repartition(...)` call in `text`. */
  private def repartitionArgs(text: String): Seq[String] =
    "\\.repartition\\(".r.findAllMatchIn(text).map { m =>
      var (depth, i) = (1, m.end)
      while (depth > 0 && i < text.length) {
        if (text(i) == '(') depth += 1 else if (text(i) == ')') depth -= 1
        i += 1
      }
      text.substring(m.end, i - 1)
    }.toSeq

  test("queries read plainly: scan fan-out is decided by the ScanFanOut rule") {
    val stableId = "\"(l_orderkey|o_orderkey|c_custkey|doc_id|vec_id|event_id)\"".r
    val offenders = sources("src/main/scala/graft/queries").collect {
      case (f, text) if text.contains("Tables.fanned") ||
          repartitionArgs(text).exists(stableId.findFirstIn(_).isDefined) => f
    }
    assert(offenders.isEmpty)
    // the probe itself finds a stable-id repartition
    assert(repartitionArgs("""d.repartition(8, col("doc_id")).select(x)""") ===
      Seq("""8, col("doc_id")"""))
  }

  test("reads and CDC sinks leave the session's conf as it was") {
    val child = spark.newSession()
    child.conf.set("spark.graft.scan.fanout", "true") // exercise the fan-out path
    import child.implicits._
    def unchanged(what: String)(op: => Unit): Unit = {
      val before = child.conf.getAll
      op
      assert(child.conf.getAll === before, s"$what changed the session's conf")
    }
    unchanged("Tables.table")(Tables.table(child, sf(), "lineitem").count())
    unchanged("Tables.events")(Tables.events(child, sf()).count())
    unchanged("Tables.table, fanned by the rule") {
      val words = Tables.table(child, sf(), "documents")
        .select(explode(split(col("text"), " ")))
      assert(child.experimental.extraOptimizations.contains(ScanFanOut))
      assert(words.queryExecution.optimizedPlan
        .exists(_.isInstanceOf[RepartitionByExpression]))
      words.count()
    }

    val tmp = Files.createTempDirectory("confguard")
    try {
      val snap = tmp.resolve("snap").toString
      unchanged("SnapshotCdc.applyBatch") {
        SnapshotCdc.applyBatch(snap,
          Seq(Cdc(1L, 1L, "U", "a"), Cdc(2L, 1L, "U", "b")).toDF(), "id", "op", "seq", 4)
        SnapshotCdc.applyBatch(snap, Seq(Cdc(1L, 2L, "D", "")).toDF(), "id", "op", "seq", 4)
      }
      val view = tmp.resolve("view").toString
      val meas = Seq("s" -> org.apache.spark.sql.functions.col("v").cast("decimal(18,2)"))
      unchanged("ViewMaintenance.applyBatch") {
        ViewMaintenance.applyBatch(view,
          Seq(AggCdc(1, 10, "I"), AggCdc(2, 5, "I")).toDF(), Seq("k"), "op", meas, 4)
        ViewMaintenance.applyBatch(view, Seq(AggCdc(1, 10, "D")).toDF(), Seq("k"), "op", meas, 4)
      }
    } finally rmdirAll(tmp.toFile)
  }
}
