package graft

/** Structural guard for the committed plan-fingerprint manifest (r14
  * verdict #3): silent plan regressions must surface as a git diff of
  * PLANS_rN.json, not as cross-round timing archaeology. This spec
  * asserts (a) the newest committed manifest covers exactly the query
  * registry, and (b) it is FRESH — recomputing the fingerprint of every
  * sentinel query (the MicroBench set: TPC-H analogs + the heaviest
  * registry entries + the known sweep movers) reproduces the committed
  * hash. A failure names the stale queries and the regeneration command.
  * It fingerprints on a child of the shared test session, which has the
  * fingerprint main's master; the child carries the fingerprint confs,
  * so the shared session's confs stay untouched.
  */
class PlanManifestSpec extends SparkSpec {

  test("newest committed PLANS_r*.json covers the registry and is fresh " +
      "for the sentinel subset") {
    // touch the shared session first: if this suite runs first in the
    // JVM, it builds the session at the spec policy's master
    assert(spark.sparkContext.defaultParallelism === PlanAudit.FingerprintCores,
      "the shared test session and `PlanAudit --fingerprint` must run on " +
        "the same master: some plans print the default parallelism")
    PlanAudit.newestManifest() match {
      case None =>
        fail("no PLANS_r*.json committed — generate one with " +
          "`runMain graft.PlanAudit --fingerprint <round>`")
      case Some((round, manifest)) =>
        val registry = SparkEntry.queries.keySet
        val missing = registry -- manifest.keySet
        val extra = manifest.keySet -- registry
        assert(missing.isEmpty && extra.isEmpty,
          s"PLANS_r$round.json out of sync with the registry — " +
            s"missing: ${missing.toSeq.sorted.mkString(",")} " +
            s"extra: ${extra.toSeq.sorted.mkString(",")} — regenerate " +
            s"with `runMain graft.PlanAudit --fingerprint $round`")

        val fp = spark.newSession()
        PlanAudit.FingerprintConf.foreach { case (k, v) => fp.conf.set(k, v) }
        val sentinels = MicroBench.Sentinels
        val unknown = sentinels.filterNot(registry.contains)
        assert(unknown.isEmpty,
          s"MicroBench.Sentinels names unknown queries: ${unknown.mkString(",")}")
        assert(sentinels.distinct.size == sentinels.size,
          "MicroBench.Sentinels contains duplicates: " +
            sentinels.diff(sentinels.distinct).distinct.mkString(","))
        val stale = sentinels.filter { n =>
          PlanAudit.fingerprint(fp, n, PlanAudit.FingerprintSf) != manifest(n)
        }
        assert(stale.isEmpty,
          s"PLANS_r$round.json is STALE for: ${stale.mkString(", ")} — " +
            s"the plan changed since the manifest was generated; rerun " +
            s"`runMain graft.PlanAudit --fingerprint <round>` and commit " +
            s"the diff (that diff IS the plan-change acknowledgment)")
    }
  }
}
