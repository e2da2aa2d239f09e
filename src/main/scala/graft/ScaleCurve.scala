package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SCALECURVE: measured evidence that the heavy operators scale
  * near-linearly, not just argued plan shapes. Generates deterministic
  * k× scale-ups of `documents`/`embeddings` from a base sf directory,
  * times the heaviest queries at 1×/5×/25×, and reports seconds plus the
  * growth ratio vs a perfectly linear scale-up.
  *
  * Scale-up model — same DISTRIBUTION, bigger corpus:
  *  - documents: replica r of the base corpus suffixes every token with
  *    `_r<r>` (replica 0 is verbatim). Shingles therefore never collide
  *    ACROSS replicas, so dup density (pairs per doc, cluster size
  *    distribution, shingle frequency shape) is exactly the base
  *    corpus's — total dup volume grows k×, the right null model for "the
  *    same pipeline, 25× the data". Distinct-token vocabulary also grows
  *    k×, which is the conservative direction for LM/posting-list ops.
  *  - embeddings: replica r rotates each vector left by r positions —
  *    norm- and distribution-preserving, but decorrelated across
  *    replicas, so ANN bucket occupancy scales k× without fabricating
  *    cross-replica near-dups.
  *  - ids offset by r·(max base id + 1): replica strata never collide.
  *
  * Pass criterion (reported in SCALING.md): time(k×)/time(1×) ≤ k for
  * every query at deployment-scaled capacity knobs — anything
  * superlinear is a scale bug (a driver bottleneck, an uncapped
  * quadratic, a plan that changed shape under size). ScaleCurveSpec
  * asserts the GENERATOR's null model (ids disjoint, dup pairs exactly
  * k×, no cross-replica collisions, norms invariant), which is what
  * makes the timing curves interpretable; the timings themselves are
  * recorded runs, not CI assertions.
  *
  * Usage: runMain graft.ScaleCurve [baseSfDir] [workDir] [k,k,...] [q,q,...]
  * (trailing query list restricts the sweep — builder-local iteration).
  * Writes <workDir>/SCALECURVE.json and prints the same JSON line.
  */
object ScaleCurve {

  /** The measured set: the heaviest driver queries (r8 judge bench) plus
    * the capped-crossJoin query, whose time should stay FLAT (the cap is
    * the point), and the star-edge/CC pair. All read only documents /
    * embeddings, which is what the generator scales. */
  val HeavyQueries: Seq[String] = Seq(
    "dedup_lsh_verified", "dedup_keep_best", "dedup_clusters", "dedup_star_cc",
    "dedup_minhash", "dedup_simhash", "text_lm_kn", "mix_dsir",
    "text_winnow", "pack_cdc", "emb_neardup_lsh", "emb_semdedup",
    "emb_neardup", "dedup_bloom_incr", "shard_tokens",
    "contam_frac", "purge_closure", "curate_pipeline",
    "graph_pagerank", "emb_kmeans", "dedup_edit", "corpus_diff",
    "sim_ann_ivf_trained",
    // third-wave additions: posting-core containment, wedge-join
    // triangles, iterative BPE (vocab-sized rounds — should be FLAT-ish
    // past the word collapse), sketch heavy hitters, BPE sharding chain
    "dedup_contain", "graph_triangles", "text_bpe", "text_bpe_encode",
    "agg_cms_hh", "shard_bpe",
    // fourth-wave additions: map-pruned BM25 search, 3-round label
    // propagation over span edges, A-ES weighted sampling (scan +
    // top-k — should be flat-ish), classifier PR calibration (one scan)
    "text_search_topk", "graph_lpa", "sample_weighted", "eval_pr_curve",
    // event-family queries (events now scale too: k× users, identical
    // per-user streams): per-user sequence ops should be linear; the
    // time-series folds should be FLAT past the first hash-agg (bucket
    // grid is time-range-bounded, only counts grow)
    "ts_ewma", "ts_forecast", "ev_funnel", "ev_transitions",
    "agg_kmv_rollup", "text_phrase", "mm_phash_pairs",
    // fifth-wave additions: fixed-round k-core peel over span edges
    // (per-round cost tracks edge volume, like lpa/pagerank), basket
    // association rules (one user_id shuffle + |types|²-bounded pairs),
    // MAD anomalies and binned quantiles (both collapse to |keys|- or
    // |bins|-sized aggregates after one hash-agg — should be FLAT),
    // per-group reservoir (WindowGroupLimit: map-side k rows per group)
    "graph_kcore", "ev_cooccur", "ts_anomaly", "agg_quantile_binned",
    "sample_per_source",
    // sixth-wave additions: cross-source span matrix (posting-core
    // family), per-session rollup + inter-arrival quantiles (one
    // user_id window shuffle each), audio frame energy (row-local
    // typed seam), post-fix outlier training (one Lloyd pass now)
    "dedup_source_matrix", "ev_session_stats", "ev_interarrival",
    "mm_audio_energy", "emb_outliers",
    // seventh-wave additions: neighborhood jaccard (pair fan-out over
    // neighbor lists), Holt fold (grid-bounded like ewma), Heaps vocab
    // curve (one token agg), Pareto share (range-rank + 1-row totals)
    "graph_jaccard", "ts_holt", "text_heaps", "ev_power_users",
    // eighth-wave additions (r10): CUSUM windows + seasonal profile +
    // lagged cross-correlation (all grid-bounded past one hash-agg —
    // should be FLAT-ish), chi-squared (|cells|-sized — FLAT), VAD
    // segmentation (row-local typed seam — linear), perplexity terciles
    // (the LM scorer + a range-rank — tracks text_lm_interp)
    "ts_cusum", "ts_seasonal", "ts_xcorr", "stat_chi2", "mm_vad",
    "text_ppl_bucket",
    // ninth-wave additions (r10 second sweep): rank/KS tests (collapsed
    // value-domain windows — FLAT past the hash-agg), SRM (one distinct
    // + two counters), NDCG (50-query broadcast probe), chunk-store
    // dedup (chunk-hash agg — the dedup_exact family), frozen-cell
    // drift (map-side argmin + |cells| agg), video near-dup (capped
    // frame-hash posting lists — the dedup_jaccard family)
    "stat_mwu", "stat_ks", "ev_ab_srm", "eval_ndcg", "dedup_chunk",
    "drift_cells", "mm_video_neardup",
    // Holt–Winters (grid-bounded fold like ewma/holt, now with the
    // 24-slot seasonal state — should be FLAT)
    "ts_holtwinters",
    // tenth wave: matryoshka agreement (two broadcast probes), nearest
    // as-of (two union-window passes on user_id), windowed funnel
    // (per-user min-joins), confusion card + token budgeting + document
    // contract (tiny-table windows / violation scans)
    "sim_matryoshka", "join_asof_near", "ev_funnel_window",
    "eval_confusion", "mix_token_budget", "validate_documents",
    // eleventh wave: clipped n-gram overlap (one (pair,gram) shuffle —
    // tracks corpus token volume), ACF (grid-bounded — FLAT), degree
    // histogram (span-edge family + two hash-aggs), Spearman
    // (domain-collapsed rank windows — FLAT past the per-user agg)
    "eval_bleu", "ts_acf", "graph_degree_hist", "stat_spearman",
    // chrF (char-bigram clip — ~5× the gram volume of token BLEU),
    // ANOVA (k-bounded fold past one hash-agg — FLAT), Markov steady
    // state (one per-user window shuffle, then |types|² rounds)
    "eval_chrf", "stat_anova", "ev_markov_steady",
    // banded Theil–Sen (grid²-band-bounded slope table — FLAT) and the
    // exact decomposition (two grid windows + |keys|×24 join — FLAT)
    "ts_theil_sen", "ts_decompose",
    // recall sweep: 4 probe widths over the IVF path + one brute pass;
    // epoch order: 3× the corpus through range-repartition+zipWithIndex
    "sim_nprobe_sweep", "corpus_epoch_order",
    // yield funnel: fingerprint agg + span-coverage window (the
    // dupFraction family) over the survivors
    "curate_funnel",
    // twelfth wave: HITS on the containment digraph (posting core +
    // fixed-point rounds — tracks dedup_contain then |edges| per
    // round), banded matrix profile (grid×band rolling windows — FLAT
    // past the hourly agg), second PC (two power loops on ONE Gram
    // checkpoint — tracks emb_top_pc), Zipf fit (one token agg + k-row
    // fold — tracks text_heaps), contribution bounding (one user-window
    // shuffle — linear), Benford (one hash-agg — FLAT), MRR (50-query
    // broadcast probe — tracks eval_ndcg)
    "graph_hits", "ts_motif", "emb_top2_pc", "text_zipf",
    "gov_contrib_bound", "ev_benford", "eval_mrr",
    // 3-level BFS (frontier fan-out is the Σdeg² risk the hot-span cap
    // bounds), shape census (hash-agg only — should be FLAT), OOV scan
    // (one broadcast left join over the token stream — linear)
    "graph_closeness", "ts_shapes", "vocab_oov",
    // one-scan sum-vector diversity (dim-keyed agg — linear scan, flat
    // agg) and the deflate scorer (zero-shuffle projection). NOT
    // agg_median_exact: it reads lineitem, which the generator copies
    // verbatim — its curve would measure nothing (the scale argument is
    // the value-domain bound, stat_mwu's, already measured).
    "emb_diversity", "text_compress_proxy",
    // round-11 registrations
    "graph_edges", "dedup_cluster_stats", "eval_ppl_by_source",
    "sim_hybrid_rrf", "contam_13gram",
    // round-12 registrations: point-in-time features + staleness as-of
    // (one user_id window/key shuffle each — linear in events),
    // order-mix adjacency (two linear shuffles on position), PSI (cell
    // census), ECE (one scan + a 10-bin fold)
    "ev_feature_snapshot", "join_asof_tol", "corpus_order_mix",
    "drift_psi", "eval_ece", "stat_fdr",
    // Bayes A/B (one day groupBy — linear then flat), Brier (the ECE
    // scan + 10-bin fold), DoReMi reweight (the LM-builder chain + one
    // source agg — tracks eval_ppl_by_source)
    "stat_bayes_ab", "eval_brier", "mix_doremi",
    // (eval_chrf — the native row-local clip — is already listed in the
    // eleventh wave above. NOT layout_hilbert: like agg_median_exact it
    // reads lineitem, which the generator copies verbatim — the scale
    // argument is the row-local zero-shuffle shape itself
    // (plan-guarded), the layout_zvalue precedent.)
    // sampled self-BLEU: 4N deterministic pairs + one partner equi-join,
    // clips row-local — linear in pair volume
    "eval_self_bleu",
    // the round-12 per-partition-fold builders: exact Gram (one scan,
    // dim²/2-sized partials per partition) and the native Gopher
    // projection (row-local)
    "emb_gram", "text_gopher",
    // gram-hash join novelty (linear in gram volume), and the two
    // bounded broadcast probes (flat, the eval_ndcg shape)
    "text_novelty", "sim_hard_negatives", "sim_mips",
    // diversity wave: cross-split leakage (the lshVerifiedPairs
    // two-stage shape), cluster-cap sample (WindowGroupLimit prunes
    // map-side — near-flat shuffle), MMR (bounded broadcast probe +
    // candidate-sized greedy steps), Mann–Kendall (grid-bounded pair
    // space — FLAT past the hash-agg)
    "split_leakage", "sample_cluster_cap", "sim_mmr", "ts_mann_kendall",
    // inference wave: Poisson bootstrap (×b map-side fan-out collapsing
    // into the (grp,i) agg — linear with a b-sized constant), CUPED
    // (one user_id agg then arm-bounded folds — linear then flat),
    // SPRT (horizon-capped per-arm window — should be FLAT past the
    // first projection), cluster split (dupClusters' CC loop + one md5
    // projection — tracks dedup_clusters), boilerplate removal (one
    // distinct-segment agg + broadcast probe — linear, no data
    // shuffle), fertility (one token-stream agg — tracks text_heaps)
    "stat_bootstrap", "stat_cuped", "ev_ab_sprt", "split_assign_cluster",
    "text_boilerplate", "vocab_fertility",
    // experiment-lifecycle + curation wave: sizing (one hash-agg —
    // FLAT), QTE (value-domain windows — FLAT past the collapse), soft
    // dedup (the dupClusters CC loop + one cluster-sized join), yield
    // curve (the pr_curve one-scan fan-out shape)
    "stat_power", "stat_qte", "dedup_soft_weights", "curate_yield_curve",
    // forecasting/causal/calibration wave: causal impact (pre-period
    // Holt fold — grid-bounded FLAT), integer prediction intervals
    // (grid + residual-domain windows — FLAT), text threshold sweep
    // (the lshVerifiedPairs two-stage shape × |thresholds|)
    "ev_impact", "ts_forecast_interval", "dedup_threshold_sweep",
    // watermark scan: strictly row-local projection — should be linear
    // with a small constant (one md5 per adjacent token pair)
    "text_watermark",
    // DiD (one 4-cell hash-agg — FLAT) and per-source entropy (the
    // vocab-bounded sorted fold — tracks text_heaps)
    "stat_did", "vocab_entropy",
    // winsorized means: value-domain cap pick + one broadcast probe —
    // domain-bounded FLAT (the stat_qte shape)
    "stat_winsor",
    // round-12 continuation: TOST (one event_type hash-agg — FLAT),
    // rank-based trimmed mean (one event_type window shuffle — linear),
    // offline change-point (grid-bounded windows — FLAT past the
    // resample hash-agg, the ts_cusum shape)
    "stat_tost", "stat_trimmed", "ts_changepoint",
    // Granger: grid-bounded pair moments — FLAT past the resample
    // hash-agg (the ts_xcorr shape)
    "ts_granger",
    // ROUGE-L: one native DP call per generation pair, zero shuffles —
    // linear with the row-local generation-eval family
    "eval_rouge_l",
    // order-sensitive LSH verification: candidate-bounded joins + one
    // native LCS DP per candidate pair (tracks dedup_lsh_verified)
    "dedup_lcs_verified",
    // assortativity (edge-list moments over the degree join — tracks
    // the span-edge family) and discounted LTV (two user_id aggs)
    "graph_assortativity", "ev_ltv_discounted",
    // permutation test: events x b fan-out into one (type, i) hash-agg
    // (the stat_bootstrap shape)
    "stat_permutation",
    // MDE (one hash-agg — FLAT) and balanced sampling (WindowGroupLimit
    // map-side prune, the sample_per_source shape)
    "stat_mde", "sample_balanced",
    // semantic contamination: constant eval side broadcasts, one train
    // scan (the contam_13gram economics)
    "contam_semantic",
    // WER: one native token-Levenshtein DP per generation pair, zero
    // shuffles (the eval_rouge_l row-local family)
    "eval_wer",
    // periodogram + PACF: grid-bounded past the resample hash-agg (the
    // ts_acf shape); readability: row-local projection + tiny agg
    "ts_periodogram", "ts_pacf", "text_readability",
    // ratio-metric SEs: one user_id hash-agg then a 2-row broadcast
    // probe (jackknife) or a 2-row fold (delta) — linear then flat
    "stat_delta_ratio", "stat_jackknife",
    // clustering coefficient: the graph_triangles wedge-join shape plus
    // a node-sized credit agg
    "graph_clustering",
    // Hurst: one window shuffle over the 4x-exploded grid — FLAT past
    // the resample hash-agg (the ts_acf family); Levene: two linear
    // passes (group moments + centered join-back), |types|-sized finals
    "ts_hurst", "stat_levene",
    // Brown–Forsythe: the Levene passes + a value-domain median window
    // (the stat_trimmed shape); Hill: rank window with WindowGroupLimit
    // map-side prune (the sample_balanced shape); entropy rate: one
    // user window shuffle then |types|²; permutation entropy: one
    // grid-ordered window then |keys|·6
    "stat_levene_bf", "stat_tail_index", "ev_entropy_rate",
    "ts_permentropy",
    // Wilcoxon: one user agg + value-domain rank windows (the stat_mwu
    // shape); trend: one (day,user) agg then |days| rows; Ljung-Box:
    // the ts_pacf grid-bounded lag-join shape
    "stat_wilcoxon", "stat_trend", "ts_ljungbox",
    // RBO: two bounded broadcast probes (the eval_ndcg shape);
    // isotropy: one posexplode + |dims| hash-agg (the dimStats shape)
    "eval_rbo", "emb_isotropy",
    // lifecycle: one user window + |weeks| join; char entropy: two
    // (source, gram) hash-aggs, charset²-bounded cells
    "ev_lifecycle", "text_entropy",
    // Shapley: one user hash-agg then the 32-point lattice — FLAT past
    // the agg; CKA: the 128-dim gramFixedPoint per-partition fold
    // (tracks emb_gram's builder economics ×4 the cells).
    // NOT layout_prune_sim: it reads lineitem, which the generator
    // copies verbatim (the agg_median_exact precedent — the scale
    // argument is the one-scan bucket hash-agg shape itself)
    "ev_attribution_shapley", "emb_cka",
    // autoperiod: grid-bounded past the resample hash-agg (FLAT)
    "ts_autoperiod",
    // round-13 inference pack. Value-domain ranks (kruskal — the
    // stat_mwu shape), |days|-strata quantized folds (cmh), the Levene
    // centered join-back (jarque_bera), one user_id hash-agg each
    // (mcnemar, sign_test, cohens_d), contingency cells (cramers_v)
    "stat_kruskal", "stat_cmh", "stat_jarque_bera", "stat_mcnemar",
    "stat_cramers_v", "stat_cohens_d", "stat_sign_test",
    // grid-bounded past the resample hash-agg, all of them (the
    // ts_pacf/ts_acf family); sax adds a |keys|×8 fold
    "ts_dickey_fuller", "ts_kpss", "ts_spectral_entropy",
    "ts_rolling_corr", "ts_sax", "ts_cointegration",
    // one (source, word) hash-agg each; burstiness adds the
    // WindowGroupLimit top-20 prune; ngram_coverage collapses to the
    // count-of-counts domain; js_divergence is vocab-bounded cells
    "text_hapax", "text_burstiness", "text_js_divergence",
    "text_ngram_coverage", "text_punct_profile",
    // row-local scored projections + one fold (the eval_ece shape);
    // gleu rides the genEval pair kernel (row-local clips)
    "eval_logloss", "eval_mcc", "eval_gleu",
    // one user_id agg (cdc) / one user_id window (scd2) — linear;
    // hubness is a 50-probe broadcast scan (the eval_ndcg shape)
    "cdc_apply", "scd2_intervals", "emb_hubness",
    // batch D: day×type grid ranks (friedman), grid sign runs,
    // 24-row frames (bollinger), value-domain time-split KS,
    // |sources| quantized KL folds
    "stat_friedman", "stat_runs_test", "ts_bollinger", "drift_ks_time",
    "mix_kl",
    // batch E: one (user,day) hash-agg + 10-number fold (ols2),
    // grid lag windows (var_ratio)
    "stat_ols2", "ts_var_ratio",
    // r14 legacy sweep (r13 verdict #2): the remaining pre-r12
    // vocab-domain shape not yet in this list (the other suspects —
    // vocab_entropy, vocab_oov, text_zipf, vocab_fertility, text_heaps,
    // text_novelty, mix_dsir, text_lm_kn — are already registered in the
    // waves above). TakeOrdered top-100 after the vocab hash-agg.
    "vocab_top",
    // r14 stylo pack: yule (one (source,word) hash-agg — the hapax
    // shape), mattr (row-local windows, zero shuffle), burrows (vocab
    // agg + top-30 bounded grid), logrank + meta (value-domain /
    // day-grid folds over one events hash-agg)
    "text_yule_k", "text_mattr", "text_burrows_delta",
    "stat_logrank", "stat_meta",
    // uplift deciles: one user hash-agg then the collapsed score domain;
    // HT sampling: row-local draw + one source agg; strength: grid-
    // bounded moments over the decompose components (the ts_decompose
    // shape plus one hash-agg)
    "ev_uplift_deciles", "sample_importance", "ts_strength")

  def scaleDocuments(spark: SparkSession, baseDir: String, k: Int): DataFrame = {
    val base = spark.read.parquet(s"$baseDir/documents.parquet")
    val n = base.agg(max("doc_id")).head().getLong(0) + 1
    val replicas = (0 until k).map { r =>
      if (r == 0) base
      else base
        .withColumn("doc_id", col("doc_id") + lit(r * n))
        .withColumn("text",
          array_join(transform(split(col("text"), " "),
            t => concat(t, lit(s"_r$r"))), " "))
        .withColumn("n_chars", length(col("text")))
    }
    replicas.reduce(_ unionByName _)
  }

  def scaleEmbeddings(spark: SparkSession, baseDir: String, k: Int): DataFrame = {
    val base = spark.read.parquet(s"$baseDir/embeddings.parquet")
    val n = base.agg(max("vec_id")).head().getLong(0) + 1
    val dim = base.select(size(col("embedding"))).head().getInt(0)
    val replicas = (0 until k).map { r =>
      val rot = r % dim
      if (r == 0) base
      else base
        .withColumn("vec_id", col("vec_id") + lit(r * n))
        .withColumn("embedding",
          if (rot == 0) col("embedding")
          else concat(slice(col("embedding"), rot + 1, dim - rot),
            slice(col("embedding"), 1, rot)))
    }
    replicas.reduce(_ unionByName _)
  }

  /** Events scale-up: replica r offsets user_id/event_id by r·(max+1),
    * keeping every timestamp and per-user stream VERBATIM — the user
    * population grows k× with identical behavioral distributions, so
    * per-user ops (funnels, transitions) grow k× in output with
    * unchanged shape, and per-type time series keep their bucket count
    * while counts scale k× — the right null model for "k× the traffic,
    * same product". */
  def scaleEvents(spark: SparkSession, baseDir: String, k: Int): DataFrame = {
    val base = spark.read.parquet(s"$baseDir/events.parquet")
    val nU = base.agg(max("user_id")).head().getLong(0) + 1
    val nE = base.agg(max("event_id")).head().getLong(0) + 1
    (0 until k).map { r =>
      if (r == 0) base
      else base
        .withColumn("user_id", col("user_id") + lit(r * nU))
        .withColumn("event_id", col("event_id") + lit(r * nE))
    }.reduce(_ unionByName _)
  }

  /** Materialize the k× directory (documents + embeddings + events
    * scaled; the other tables copied verbatim so any query can run).
    * Idempotent via a DONE marker. */
  def materialize(spark: SparkSession, baseDir: String, outDir: String, k: Int): Unit = {
    val done = Paths.get(outDir, "_DONE")
    if (Files.exists(done)) return
    Files.createDirectories(Paths.get(outDir))
    scaleDocuments(spark, baseDir, k)
      .repartition(32).write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    scaleEmbeddings(spark, baseDir, k)
      .repartition(8).write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    scaleEvents(spark, baseDir, k)
      .repartition(16).write.mode("overwrite").parquet(s"$outDir/events.parquet")
    // Other tables ride along verbatim (raw byte copy — a Spark
    // round-trip would need the per-table reader configs, and there is
    // nothing to scale).
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem")) {
      val src = Paths.get(s"$baseDir/$t.parquet")
      if (Files.isRegularFile(src))
        Files.copy(src, Paths.get(s"$outDir/$t.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    Files.writeString(done, "ok"); ()
  }

  /** Capacity-knob scaling for occupancy-sensitive operators: the
    * registered queries pin k/nBits as plan literals for oracle
    * determinism, but a real deployment grows INDEX CAPACITY with the
    * corpus — SemDeDup's cluster count ∝ N (constant cell occupancy; the
    * operator's own scaladoc: "k grows with the corpus") and SRP bits ∝
    * log₂ N (constant bucket occupancy). Running the 1×-pinned knobs at
    * 25× measures a mis-deployment: cell occupancy ×25 → per-cell
    * self-join ×625 (measured 498× on emb_semdedup — the first
    * SCALECURVE run's headline catch). These overrides measure the
    * DOCUMENTED deployment; SCALING.md reports both curves. */
  def scaledOverrides(mult: Int): Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    // hash WIDTH is the capacity knob: the 16-bit aHash pins chunk space
    // at 2⁴ per band, so bucket occupancy — and the banded self-join —
    // grows linearly with the corpus (measured 55× at 25×). Deployment
    // grows the hash with the corpus: an 8×8 (64-bit) hash gives 2¹⁶
    // chunks per band and restores constant occupancy. Same pigeonhole
    // exactness (4 bands > maxHamming 2).
    "mm_phash_pairs" -> ((s: SparkSession, dir: String) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      import org.apache.spark.sql.functions.col
      // 7×9 = 63 bits (BIGINT-max hash width), 3 bands of 21 bits —
      // chunk space 2²¹ per band vs the pinned 2⁴; still > maxHamming.
      val (hw, hh) = if (mult >= 5) (7, 9) else (4, 4)
      val bits = hw * hh
      val bands = if (mult >= 5) 3 else 4
      val media = graft.ops.Tables.documents(s, dir)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val n = hw * hh * 3
          val payload = text.take(n).padTo(n, 'A').map(c => (c & 0xff).toByte).toArray
          (id, graft.ops.Multimodal.bmpFromBytes(payload, hw, hh),
            "image/bmp", "synthetic", (54 + n).toLong)
        }.toDF("id", "media", "mime", "source", "n_bytes")
      graft.ops.Dedup.hammingPairs(
        graft.ops.Multimodal.avgHash(media, hw = hw, hh = hh).toDF(),
        "id", "phash", totalBits = bits, bands = bands, maxHamming = 2)
    }),
    // k ∝ √N (assignment costs N·k, per-cell pairs k·(N/k)² — √N
    // balances both at N^1.5; k ∝ N was measured 247× at 25×: the
    // assignment itself turns quadratic) PLUS the hot-cell cap: md5
    // "centroids" leave real cells skewed, and the largest cell alone
    // kept the uncapped √N variant at ~134× (≈ the N^1.5 law on paper,
    // but one straggler task in practice). semDedupCapped bounds every
    // cell's pair work at maxCell² and spreads hot cells across tasks.
    "emb_semdedup" -> ((s: SparkSession, dir: String) =>
      graft.ops.Similarity.semDedupCapped(
        graft.ops.Tables.embeddings(s, dir), "vec_id", "embedding",
        threshold = 0.2, k = (8 * math.sqrt(mult.toDouble)).round.toInt,
        maxCell = 256, maxSubBits = 8)),
    "emb_neardup_lsh" -> ((s: SparkSession, dir: String) =>
      graft.ops.Similarity.embeddingNearDupPairs(
        graft.ops.Tables.embeddings(s, dir), "vec_id", "embedding",
        threshold = 0.2,
        nBits = 6 + (math.log(mult.toDouble) / math.log(2.0)).ceil.toInt)))

  def timeQuery(spark: SparkSession, name: String, dir: String, reps: Int,
                mult: Int = 1, scaleKnobs: Boolean = false): Double = {
    val fn =
      if (scaleKnobs) scaledOverrides(mult).getOrElse(name, SparkEntry.queries(name))
      else SparkEntry.queries(name)
    // Full GC before the big-tier runs: leftover broadcasts/shuffle state
    // from smaller tiers otherwise crowd the unified region and can fail
    // a legitimate broadcast build ("not enough memory to broadcast" on
    // dedup_contain at 25× — isolated, the same query runs clean). The
    // codegen-cache eviction cost this forces is noise at 25× run times.
    if (mult >= 5) System.gc()
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      // clearCache in finally: a failed rep must not leak its persisted
      // intermediates into every later timed run of the sweep. The stamp
      // is taken inside the try so the cleanup stays untimed.
      try {
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[scalecurve] $name failed at $dir: ${e.getMessage}")
        return -1.0
      } finally spark.sharedState.cacheManager.clearCache()
    }
    ts.min
  }

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val workDir = if (args.length > 1) args(1) else "/tmp/scalecurve"
    val ks = (if (args.length > 2) args(2).split(",").map(_.trim.toInt).toSeq
              else Seq(5, 25))
    val only: Set[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).toSet else Set.empty
    val spark = GraftSession.local()
    // curves measure the WHOLE from-scratch shape per tier — a sidecar
    // hit would time the read path of whatever tier built it first
    graft.ops.Sidecar.enabled = false

    val tiers: Seq[(Int, String)] =
      (1, baseDir) +: ks.map(k => k -> s"$workDir/x$k")
    ks.foreach(k => materialize(spark, baseDir, s"$workDir/x$k", k))

    // Warm codegen/JIT once before any timed pass.
    timeQuery(spark, "dedup_minhash", baseDir, 1)

    // reps shrink as tiers grow: at 25× each query runs tens of seconds,
    // where cold-start noise is a small fraction; at 1× it is not.
    // Occupancy-sensitive operators run BOTH ways: pinned 1× knobs (what
    // the oracle query declares) and capacity-scaled knobs (what a
    // deployment at that corpus size uses) — reported as "<q>" and
    // "<q>@scaled".
    val results: Seq[(String, Map[Int, Double])] = HeavyQueries
      .filter(q => only.isEmpty || only(q)).flatMap { q =>
      val pinned = q -> tiers.map { case (k, dir) =>
        k -> timeQuery(spark, q, dir, reps = if (k >= 25) 1 else 2)
      }.toMap
      if (!scaledOverrides(2).contains(q)) Seq(pinned)
      else Seq(pinned, s"$q@scaled" -> tiers.map { case (k, dir) =>
        k -> timeQuery(spark, q, dir, reps = if (k >= 25) 1 else 2,
          mult = k, scaleKnobs = true)
      }.toMap)
    }

    def fmt(d: Double) = f"$d%.2f"
    val rows = results.map { case (q, byK) =>
      val t1 = byK(1)
      val ratios = ks.map { k =>
        val r = if (t1 > 0 && byK(k) > 0) byK(k) / t1 else -1.0
        s""""x$k":${fmt(byK(k))},"x${k}_ratio":${fmt(r)}"""
      }.mkString(",")
      s""""$q":{"x1":${fmt(t1)},$ratios}"""
    }.mkString("{", ",", "}")
    val json = s"""{"metric":"scalecurve","unit":"sec","base":"$baseDir","tiers":${ks.mkString("[", ",", "]")},"queries":$rows}"""
    println(json)
    Files.writeString(Paths.get(workDir, "SCALECURVE.json"), json)

    // Human-readable table for SCALING.md.
    val md = new StringBuilder
    md ++= "| query | 1x (s) | " + ks.map(k => s"${k}x (s) | ${k}x/1x |").mkString(" ") + "\n"
    md ++= "|---|---|" + ks.map(_ => "---|---|").mkString + "\n"
    results.foreach { case (q, byK) =>
      val t1 = byK(1)
      md ++= s"| $q | ${fmt(t1)} | " + ks.map { k =>
        val r = if (t1 > 0 && byK(k) > 0) byK(k) / t1 else -1.0
        s"${fmt(byK(k))} | ${fmt(r)} |"
      }.mkString(" ") + "\n"
    }
    Files.writeString(Paths.get(workDir, "SCALECURVE.md"), md.toString)
    spark.stop()
  }
}
