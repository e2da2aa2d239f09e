package graft

import scala.jdk.CollectionConverters._

/** Guards the one-session-factory rule: every main builds its Spark
  * session through [[GraftSession]], so the local-session policy (cores,
  * shuffle partitions, time zone, UI) and the bench confs are defined
  * once. The settings are checked as builder confs and on an isolated
  * child session, so the shared test session's confs stay untouched. */
class GraftSessionSpec extends SparkSpec {

  test("local policy: shuffle partitions = cores, UTC, UI off; bench confs set") {
    val expectedCores = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    assert(GraftSession.cores === expectedCores)

    val default = GraftSession.settings().toMap
    assert(default("spark.master") === s"local[${GraftSession.cores}]")
    assert(default("spark.sql.shuffle.partitions") === GraftSession.cores.toString)
    assert(default("spark.sql.session.timeZone") === "UTC")
    assert(default("spark.ui.enabled") === "false")

    val pinned = GraftSession.settings(cores = 32).toMap
    assert(pinned("spark.master") === "local[32]")
    assert(pinned("spark.sql.shuffle.partitions") === "32")

    // extra confs win: the stream mains keep 4 state stores on any host
    val stream = GraftSession.settings(extra = GraftSession.StreamStateConf).toMap
    assert(stream("spark.sql.shuffle.partitions") === "4")
    assert(stream("spark.sql.streaming.stateStore.providerClass")
      .endsWith("RocksDBStateStoreProvider"))

    val child = spark.newSession()
    GraftSession.applyBenchConf(child)
    assert(child.conf.get("spark.graft.scan.fanout") ===
      sys.env.getOrElse("SPARK_GRAFT_FANOUT", "true"))
    assert(child.conf.get("spark.graft.scan.fanout.taskBytes") ===
      sys.env.getOrElse("SPARK_GRAFT_FANOUT_TASK_BYTES", "65536"))
    assert(child.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") ===
      sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PARTITION", "64k"))

    // the oracle gate and the timed sweep run under the same session
    val src = java.nio.file.Paths.get("src/main/scala/graft")
    Seq("Verify.scala", "Bench.scala").foreach { f =>
      assert(java.nio.file.Files.readString(src.resolve(f))
        .contains("GraftSession.bench()"), s"$f does not use GraftSession.bench()")
    }
  }

  test("no SparkSession.builder in src/main outside GraftSession") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val walk = java.nio.file.Files.walk(root)
    val uses =
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .map(p => root.relativize(p).toString ->
          "SparkSession\\.builder".r.findAllMatchIn(
            java.nio.file.Files.readString(p)).size)
        .filter(_._2 > 0).toSeq.sorted
      finally walk.close()
    assert(uses === Seq("graft/GraftSession.scala" -> 1))
  }
}
