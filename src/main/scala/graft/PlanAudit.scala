package graft

import org.apache.spark.sql.SparkSession

/** Plan-audit tool.
  *
  * Mode 1 — `runMain graft.PlanAudit [sfDir] [query...]`: prints
  * `explain("formatted")` for the named queries (default: a
  * scan/join/agg/top-k cross-section) so scan pruning, pushdown,
  * broadcast choices, and partial aggregation can be reviewed per round.
  *
  * Mode 2 — `runMain graft.PlanAudit --fingerprint <round> [sfDir]`
  * (r14 verdict #3): computes a normalized-plan hash for EVERY query in
  * SparkEntry.queries and writes the manifest to `PLANS_r<round>.json`.
  * If the previous round's manifest is committed, prints a `PLANDIFF`
  * line naming each query whose plan hash changed — so silent plan
  * regressions (the thing full-sweep timing noise can mask) are caught
  * structurally by a git diff, not statistically by timing archaeology.
  * PlanManifestSpec recomputes a sentinel subset and asserts the
  * committed manifest is fresh.
  */
object PlanAudit {

  /** The canonical sf for fingerprints: the correctness-gate scale.
    * Plans MUST be fingerprinted at one fixed sf — file-size statistics
    * feed broadcast decisions, so hashes are only comparable across
    * rounds at the same input. */
  val FingerprintSf = "/root/testdata/sf0.01"

  /** Task slots of the fingerprint session. A few plans print the
    * default parallelism (a `range`'s splits), so PlanManifestSpec's
    * shared test session and this main must run on the same master. */
  val FingerprintCores = 4

  /** Fingerprint confs on top of the local-session policy. The shuffle
    * partition count is part of every plan hash, so it is pinned at 32
    * whatever the host. Metadata strings (DataFilters/PushedFilters)
    * truncate at a char budget, and WHERE the "..." cut lands depends on
    * expression-id digit counts — which vary with session history.
    * Untruncated text + id-stripping is deterministic; truncated text is
    * not. */
  val FingerprintConf: Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> "32",
    "spark.sql.maxMetadataStringLength" -> "100000")

  /** Normalized physical-plan text: expression ids (`#123`), plan ids,
    * and object addresses stripped — everything else (operator tree,
    * join strategies, pushed filters, read schemas, partial/final agg
    * modes) is exactly what a plan regression would change. */
  def normalize(plan: String): String =
    plan
      .replaceAll("#\\d+", "#_")
      .replaceAll("plan_id=\\d+", "plan_id=_")
      // broadcast VARIABLE ids (`Broadcast(680)` in a native-expression
      // rendering, e.g. BloomProbe) count every broadcast the session
      // created before the query — pure session history, and the one
      // id the r16 audit caught flapping a fingerprint between
      // otherwise-identical runs
      .replaceAll("Broadcast\\(\\d+\\)", "Broadcast(_)")
      .replaceAll("@[0-9a-f]{4,}", "@_")
      .replaceAll("exprId=\\d+", "exprId=_")
      .replaceAll("cachedrdd-\\d+", "cachedrdd-_")
      // JVM-assigned lambda class suffixes ($$Lambda$123/0x7f... — the
      // number AND the hidden-class address vary per JVM) in typed-seam
      // plans (MapPartitions/SerializeFromObject)
      .replaceAll("\\$\\$Lambda(\\$\\d+)?(/0x[0-9a-fA-F]+)?", "\\$\\$Lambda")
      // higher-order-function variables (`lambda x_146#...`) draw their
      // numeric suffix from a session-global counter
      .replaceAll("lambda ([A-Za-z]+)_\\d+#", "lambda $1_#")

  def fingerprint(spark: SparkSession, name: String, sfDir: String): String = {
    val plan = SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString()
    val norm = normalize(plan)
    sys.env.get("GRAFT_PLAN_DUMP_DIR").foreach { d =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(d, s"$name.txt"), norm)
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(norm.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }

  private def loadManifest(path: java.nio.file.Path): Map[String, String] = {
    // flat {"plans":{"name":"hash",...}} — anchored extraction, the
    // manifest is machine-written by this object
    val s = java.nio.file.Files.readString(path)
    val i = s.indexOf("\"plans\":{")
    require(i >= 0, s"no plans object in $path")
    // hashes contain no braces, so the plans object ends at the FIRST
    // '}' past its opening brace (lastIndexOf would grab the outer
    // object's brace and corrupt the final entry's value)
    val body = s.substring(i + 9, s.indexOf('}', i + 9))
    body.split(",").iterator.filter(_.contains(":")).map { kv =>
      val Array(k, v) = kv.split(":", 2)
      k.trim.stripPrefix("\"").stripSuffix("\"") ->
        v.trim.stripPrefix("\"").stripSuffix("\"")
    }.toMap
  }

  private def runFingerprint(round: Int, sfDir: String): Unit = {
    val spark = GraftSession.local(cores = FingerprintCores, logLevel = "ERROR",
      extra = FingerprintConf)
    val names = SparkEntry.queries.keys.toSeq.sorted
    val hashes = names.map { n => n -> fingerprint(spark, n, sfDir) }
    val body = hashes.map { case (n, h) => s""""$n":"$h"""" }.mkString(",")
    val json =
      s"""{"metric":"plan_manifest","round":$round,"sf":"$sfDir",""" +
        s""""n":${hashes.size},"plans":{$body}}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"PLANS_r$round.json"), json + "\n")
    println(s"wrote PLANS_r$round.json (${hashes.size} plans)")
    val prev = java.nio.file.Paths.get(s"PLANS_r${round - 1}.json")
    if (java.nio.file.Files.exists(prev)) {
      val old = loadManifest(prev)
      val changed = hashes.filter { case (n, h) => old.get(n).exists(_ != h) }
      val added = hashes.collect { case (n, _) if !old.contains(n) => n }
      val removed = old.keys.filterNot(names.contains).toSeq.sorted
      changed.foreach { case (n, _) => println(s"PLANDIFF changed $n") }
      added.foreach(n => println(s"PLANDIFF added $n"))
      removed.foreach(n => println(s"PLANDIFF removed $n"))
      println(s"PLANDIFF summary: ${changed.size} changed, " +
        s"${added.size} added, ${removed.size} removed vs r${round - 1}")
    } else println(s"no PLANS_r${round - 1}.json — first manifest, no diff")
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--fingerprint")) {
      val round = args(1).toInt
      val sfDir = if (args.length > 2) args(2) else FingerprintSf
      runFingerprint(round, sfDir)
      return
    }
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("m1_project", "q1_agg", "join_broadcast", "topk_orders",
        "x2_dedup", "dedup_lsh_verified", "q3_shipping", "sim_ann_ivfpq",
        "curate_filter", "text_winnow", "dedup_span_removal")
    val spark = GraftSession.local(logLevel = "ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }

  /** Newest committed manifest (highest round), for the freshness spec. */
  def newestManifest(): Option[(Int, Map[String, String])] = {
    import scala.jdk.CollectionConverters._
    val re = "PLANS_r(\\d+)\\.json".r
    val stream = java.nio.file.Files.list(java.nio.file.Paths.get("."))
    val files =
      try stream.iterator().asScala.flatMap { p =>
        p.getFileName.toString match {
          case re(n) => Some(n.toInt -> p)
          case _ => None
        }
      }.toSeq
      finally stream.close()
    files.sortBy(-_._1).headOption.map { case (r, p) => r -> loadManifest(p) }
  }
}
