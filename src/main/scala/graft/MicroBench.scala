package graft

/** Developer tool: min-of-N wall time for a subset of SparkEntry.queries —
  * per-query numbers from the full Bench sweep carry session cross-talk
  * (GC, JIT, cache pressure), so A/B perf decisions use this instead.
  *
  * Two modes:
  *  - `runMain graft.MicroBench q1 q2 ...` — ad-hoc A/B (min-of-REPS).
  *  - `runMain graft.MicroBench --artifact <round>` — the committed
  *    isolated series (r14 verdict #2): min-of-5 over the FIXED
  *    [[Sentinels]] set on an idle machine in a fresh JVM, written to
  *    `MICRO_r<round>.json`. Cross-round perf questions diff these
  *    artifacts; full-sweep (BENCH_rN) per-query figures are never
  *    compared across rounds — three consecutive rounds of >1.3×
  *    "regressions" in them were adjudicated as sweep cross-talk.
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_REPS (ad-hoc
  * mode only; artifact mode is pinned at 5).
  */
object MicroBench {

  /** The fixed sentinel set. Composition (pinned r15, append-only so
    * artifact diffs stay comparable):
    *  - the 22 TPC-H analogs — the cross-round headline family;
    *  - the 15 heaviest registry entries of the r14 warm sweep;
    *  - the 5 most expensive plans of the standing r13/r14 plan audit;
    *  - the 3 worst r14 sweep movers (the queries whose full-sweep drift
    *    kept triggering A/B archaeology).
    */
  val Sentinels: Seq[String] = Seq(
    // TPC-H analogs
    "q1_agg", "q2_mincost", "q3_shipping", "q4_priority", "q5_region",
    "q6_forecast", "q7_volume", "q8_mktshare", "q9_profit", "q10_returned",
    "q11_important", "q12_late_priority", "q13_custdist", "q14_promo",
    "q15_top_supplier", "q16_supplier_cnt", "q17_small_qty",
    "q18_large_orders", "q19_disjunct", "q20_excess", "q21_waiting",
    "q22_opportunity",
    // 15 heaviest registry entries (BENCH_r14 warm sweep order)
    "graph_pagerank", "emb_semdedup", "dedup_lsh_verified", "dedup_minhash",
    "text_tfidf", "stat_ols", "text_bpe", "w3_session", "ev_funnel",
    "shard_tokens", "agg_kmv", "ts_resample", "x2_dedup", "sim_ann_ivf",
    "topk_per_cust",
    // standing plan-audit heavies
    "layout_prune_sim", "text_entropy", "join_interval",
    "text_ngram_coverage", "dedup_contain",
    // r14 sweep movers
    "text_js_divergence", "text_compress_proxy", "text_lm_interp")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val artifact = args.headOption.contains("--artifact")
    // parse the round FIRST: a malformed invocation must fail before
    // the minutes-long sweep, not after it (losing the measurement)
    val artifactRound: Option[Int] =
      if (!artifact) None
      else Some(args.lift(1).flatMap(_.toIntOption).getOrElse(
        sys.error("usage: runMain graft.MicroBench --artifact <round>")))
    val reps =
      if (artifact) 5 else sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val names = if (artifact) Sentinels else args.toSeq
    val spark = GraftSession.bench()

    Bench.timeQuery(spark, sfDir, "q1_agg") // warm codegen/JIT
    val mins = names.map { name =>
      val ts = (1 to reps).map(_ => Bench.timeQuery(spark, sfDir, name))
      println(f"MICRO $name min=${ts.min}%.2f all=${ts.map(t => f"$t%.2f").mkString(",")}")
      name -> ts.min
    }
    artifactRound.foreach { round =>
      val body = mins.map { case (n, t) => f""""$n":$t%.3f""" }.mkString(",")
      val json =
        s"""{"metric":"microbench","round":$round,"reps":$reps,""" +
          s""""sf":"$sfDir","protocol":"min-of-$reps, fixed sentinel set, """ +
          s"""fresh JVM, idle machine","queries":{$body}}"""
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"MICRO_r$round.json"), json + "\n")
      println(json)
    }
    spark.stop()
  }
}
