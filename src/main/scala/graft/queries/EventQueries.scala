package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.{CorpusOps, Tables}

/** Event-stream analytics over the `events` table — the query patterns a
  * numaflow-style event pipeline feeds downstream (funnels, cohorts).
  * Both are ordinary shuffle-on-user_id aggregations: user_id is the
  * high-cardinality natural key, so the shape holds at any scale (no
  * skew, map-side partial aggregation throughout; the step joins are
  * per-user and AQE-broadcastable when a step's survivor set is small).
  */
object EventQueries extends QueryPack {

  /** BH z² thresholds at FDR 0.05 up to 12 hypotheses, 6dp-quantized so
    * the Spark literal and the SQL text literal parse to the SAME
    * doubles (a bare full-precision double literal goes through
    * DuckDB's decimal intermediate one ulp off — the ev_benford note).
    * Shared by stat_fdr's engine plan and oracle. */
  private lazy val bhThr: Seq[Seq[Double]] =
    graft.ops.Stats.bhT2Matrix(0.05, 12)
      .map(_.map(x => math.round(x * 1e6) / 1e6))

  /** Daily discount factors 0.98^d, scaled to exact micro-units and
    * computed ONCE in Scala — both engines index the SAME literal
    * table, so the LTV sum is pure integer arithmetic (cents × micros)
    * with no libm pow anywhere (the HllLnTable/minhash-seed pattern).
    * Day 366 caps the horizon (0.98³⁶⁶ ≈ 0.0006 — past it the residual
    * value is noise; clamped, documented). */
  private lazy val discountMicros: IndexedSeq[Long] =
    IndexedSeq.tabulate(367)(d => math.round(math.pow(0.98, d) * 1e6))

  val queries: Map[String, Q] = Map(

    // TOST equivalence reading per event type — the "prove the metric did
    // NOT move" direction a guardrail metric needs (a plain t-test can
    // only fail to reject, never demonstrate equivalence). Two one-sided
    // Welch tests against a ±5%-of-pooled-mean margin: equivalent iff
    // t_low > z₀.₉₅ AND t_up < −z₀.₉₅. Moments are exact integer cents
    // (squares in DECIMAL(38,0)); the statistics are one deterministic
    // IEEE chain (+,−,×,÷,sqrt — no libm), so the decision FLAG itself is
    // hash-stable across engines. A zero-variance type yields null
    // statistics, not DIVIDE_BY_ZERO (the stat_ttest dead-metric rule).
    // The TOST chain itself lives in Stats.tost — TostStream's windowed
    // guardrail monitor replays the identical expression tree.
    "stat_tost" -> { (s, dir) =>
      val cents = (col("value").cast("decimal(18,2)") * 100)
        .cast("decimal(38,0)")
      val per = Tables.events(s, dir)
        .select(col("event_type"), pmod(col("user_id"), lit(2)).as("variant"),
          cents.as("x"))
      val m = per.groupBy(col("event_type")).agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("variant") === 0, col("x"))).as("sx0"),
        sum(when(col("variant") === 0, col("x") * col("x"))).as("sxx0"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("variant") === 1, col("x"))).as("sx1"),
        sum(when(col("variant") === 1, col("x") * col("x"))).as("sxx1"))
      val t = graft.ops.Stats.tost(col("n0"), col("sx0"), col("sxx0"),
        col("n1"), col("sx1"), col("sxx1"))
      m.select(col("event_type"), col("n0"), col("n1"),
        graft.ops.TimeSeries.portableRound6(t.mean0c / 100.0).as("mean0"),
        graft.ops.TimeSeries.portableRound6(t.mean1c / 100.0).as("mean1"),
        graft.ops.TimeSeries.portableRound6(when(t.se2 > 0, t.tLow))
          .as("t_low"),
        graft.ops.TimeSeries.portableRound6(when(t.se2 > 0, t.tUp))
          .as("t_up"),
        t.equiv.as("equiv"))
    },

    // 10% two-sided trimmed mean per event type — the robust center a
    // metrics platform quotes when a few whale values dominate the
    // arithmetic mean. Trimming is rank-based (k = n DIV 10 from each
    // tail), but computed in the VALUE DOMAIN (the stat_mwu shape): a
    // (type, cents) hash-agg collapses the stream map-side, then the
    // kept multiplicity of each distinct value is the overlap of its
    // cumulative-rank span with (k, n−k] — the trimmed SUM only depends
    // on how many copies of each value survive, so this is bit-identical
    // to sorting all rows and dropping the tails, WITHOUT the per-type
    // full sort (a low-cardinality key would serialize row-rank windows
    // into |types| giant sorted tasks at corpus scale; the distinct-cents
    // table is value-domain-bounded whatever the row count). Exact
    // integer cents until one final division per output.
    "stat_trimmed" -> { (s, dir) =>
      val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val cents = (col("value").cast("decimal(18,2)") * 100)
        .cast("decimal(38,0)")
      val wOrd = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("x"))
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
      Tables.events(s, dir)
        .select(col("event_type"), cents.as("x"))
        .groupBy(col("event_type"), col("x")).agg(count(lit(1)).as("c"))
        .withColumn("cum_end", sum(col("c")).over(wOrd))
        .withColumn("n", sum(col("c")).over(wAll))
        .withColumn("k", expr("n DIV 10"))
        .withColumn("kept", greatest(lit(0L),
          least(col("cum_end"), col("n") - col("k")) -
            greatest(col("cum_end") - col("c"), col("k"))))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"),
          sum(col("kept")).as("n_kept"),
          sum(col("x") * d38(col("kept"))).as("sxk"),
          sum(col("x") * d38(col("c"))).as("sxa"))
        .select(col("event_type"), col("n"), col("n_kept"),
          graft.ops.TimeSeries.portableRound6(
            col("sxk").cast("double") / col("n_kept").cast("double") / 100.0)
            .as("trimmed_mean"),
          graft.ops.TimeSeries.portableRound6(
            col("sxa").cast("double") / col("n").cast("double") / 100.0)
            .as("mean"))
    },

    // retrospective single change-point per event type — binary
    // segmentation's first split over the gap-filled hourly series, the
    // offline "when did the level shift" twin of ts_cusum's online
    // alarm. Exact-integer prefix sums, DECIMAL(38,0) squares, one
    // deterministic double chain per candidate boundary; argmax ties
    // break on the earlier hour (TimeSeries.changePoint).
    "ts_changepoint" -> { (s, dir) =>
      graft.ops.TimeSeries.changePoint(Tables.events(s, dir),
        "event_type", "ts")
    },

    // Minimum detectable effect per event type — the INVERSE read of
    // stat_power: given the arms this experiment actually has (n0, n1),
    // the smallest absolute/relative lift it can detect at α=0.05 /
    // power 0.8. mde = sqrt(σ²·(z_{α/2}+z_β)²·(1/n0+1/n1)); the z-sum
    // square is the same pico-quantized Scala literal stat_power
    // injects, σ² exact DECIMAL(38,0) until the one float chain.
    "stat_mde" -> { (s, dir) =>
      val zp = graft.ops.Stats.PowerZsum2Pico
      val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val x = graft.ops.Stats.cents(col("value"))
      val m = Tables.events(s, dir)
        .select(col("event_type"), pmod(col("user_id"), lit(2)).as("variant"),
          x.as("x"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(d38(col("x")) * d38(col("x"))).as("sxx"),
          sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"))
      val nD = d38(col("n"))
      val varc = (nD * col("sxx") - d38(col("sx")) * d38(col("sx")))
        .cast("double") / (nD * (nD - 1)).cast("double")
      val meanc = col("sx").cast("double") / col("n").cast("double")
      val mdeAbs = sqrt(varc * (lit(zp).cast("double") / lit(1.0e12)) *
        (lit(1.0) / col("n0").cast("double") +
          lit(1.0) / col("n1").cast("double")))
      m.select(col("event_type"), col("n0"), col("n1"),
        graft.ops.TimeSeries.portableRound6(meanc / 100.0).as("mean"),
        graft.ops.TimeSeries.portableRound6(mdeAbs / 100.0).as("mde_abs"),
        graft.ops.TimeSeries.portableRound6(mdeAbs / meanc).as("mde_rel"))
    },

    // Two-sample permutation test per event type — the NONPARAMETRIC
    // companion to stat_ttest (no normality assumption) and to
    // stat_bootstrap's CI: b = 40 deterministic label reassignments,
    // each replicate's mean diff from exact cents sums,
    // p = (1 + #{|diff_i| ≥ |diff_obs|}) / (b + 1) — the add-one
    // permutation p-value, an exact rational. The schedule hashes ONCE
    // per event (the PoissonDrawWeights single-hash design): replicate
    // i's arm is bit i%4 of md5(event_id) nibble i DIV 4 — 128
    // independent bits per event, b ≤ 128; a per-(event, i) hash made
    // this the registry's slowest entry (2.18 s — 40× the hash volume
    // for nothing). Volume is events×b through one map-side-combining
    // (type, i) hash-agg — the stat_bootstrap scale shape. A degenerate
    // replicate (one side empty) yields a null diff and counts as
    // not-extreme in both engines (CASE-null falls to ELSE 0).
    "stat_permutation" -> { (s, dir) =>
      val b = 40
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
      val base = Tables.events(s, dir).select(col("event_type"),
        pmod(col("user_id"), lit(2)).as("variant"), cents.as("x"),
        col("event_id"))
      val obs = base.groupBy(col("event_type")).agg(
          sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("variant") === 0, col("x"))).as("sx0"),
          sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("variant") === 1, col("x"))).as("sx1"))
        .select(col("event_type"), col("n0"), col("n1"),
          (col("sx0").cast("double") / col("n0").cast("double") -
            col("sx1").cast("double") / col("n1").cast("double"))
            .as("diff_obs"))
      val perm = base
        .withColumn("h", md5(col("event_id").cast("string")))
        .select(col("event_type"), col("x"), col("h"),
          explode(sequence(lit(0), lit(b - 1))).as("i"))
        .withColumn("arm", expr(
          "CAST(shiftright(CAST(conv(substring(h, (i DIV 4) + 1, 1), 16, 10)" +
            " AS INT), CAST(i % 4 AS INT)) & 1 AS BIGINT)"))
        .groupBy(col("event_type"), col("i"))
        .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("pn0"),
          sum(when(col("arm") === 0, col("x"))).as("psx0"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("pn1"),
          sum(when(col("arm") === 1, col("x"))).as("psx1"))
        .select(col("event_type"),
          (col("psx0").cast("double") / col("pn0").cast("double") -
            col("psx1").cast("double") / col("pn1").cast("double"))
            .as("diff_i"))
      perm.join(obs, "event_type")
        .groupBy(col("event_type"))
        .agg(max(col("n0")).as("n0"), max(col("n1")).as("n1"),
          sum(when(abs(col("diff_i")) >= abs(col("diff_obs")), 1L)
            .otherwise(0L)).as("n_extreme"))
        .select(col("event_type"), col("n0"), col("n1"), col("n_extreme"),
          graft.ops.TimeSeries.portableRound6(
            (col("n_extreme") + 1).cast("double") / lit((b + 1).toDouble))
            .as("p_value"))
    },

    // Discounted lifetime value per signup cohort — Σ over a user's
    // purchases of value·0.98^(days since first seen), the number a
    // growth model discounts acquisition against. ENTIRELY integer:
    // exact cents × a Scala-injected micro-scaled discount table
    // (element_at on the same literal array in both engines — no libm
    // pow), summed as BIGINTs, one final division per cohort row on the
    // 6dp grid. One user_id hash-agg for first-seen, one broadcastable
    // join back, one cohort agg.
    "ev_ltv_discounted" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val first = ev.groupBy(col("user_id")).agg(min(col("ts")).as("first_ts"))
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
      ev.join(first, "user_id")
        .withColumn("cohort_day",
          date_trunc("day", col("first_ts")).cast("date"))
        .withColumn("d", least(
          datediff(col("ts").cast("date"), col("first_ts").cast("date")),
          lit(366)))
        .withColumn("ltv_micros",
          when(col("event_type") === "purchase",
            cents * element_at(typedlit(discountMicros),
              col("d").cast("int") + 1)).otherwise(0L))
        .groupBy(col("cohort_day"))
        .agg(count_distinct(col("user_id")).as("n_users"),
          sum(col("ltv_micros")).as("sltv"))
        .select(col("cohort_day"), col("n_users"),
          graft.ops.TimeSeries.portableRound6(
            col("sltv").cast("double") / col("n_users").cast("double")
              / 1.0e8).as("ltv_per_user"))
    },

    // Granger causality between event-type hourly series — does signup
    // activity PREDICT purchases beyond purchases' own history? Lag-1
    // OLS in closed form from exact integer moments (Cramer on the
    // normal equations; see TimeSeries.granger). The directional
    // companion to ts_xcorr's symmetric lead/lag correlation.
    "ts_granger" -> { (s, dir) =>
      graft.ops.TimeSeries.granger(Tables.events(s, dir),
        "event_type", "ts")
    },

    // Fixed-frequency periodogram per event type — MEASURES the daily /
    // weekly seasonality ts_holtwinters and the forecast alarms ASSUME:
    // amp is the fitted sinusoid's per-hour amplitude at period 24/168,
    // strength the variance fraction it explains (≈1 pure sinusoid, ~0
    // white noise). Mean-removed Fourier sums kept exact by multiplying
    // through by N; trig tables are micro-scaled Scala literals in both
    // engines (no libm cos in any per-row path). One hash-agg after the
    // resample grid. See TimeSeries.periodogram.
    "ts_periodogram" -> { (s, dir) =>
      graft.ops.TimeSeries.periodogram(Tables.events(s, dir),
        "event_type", "ts")
    },

    // Permutation entropy (Bandt–Pompe, order 3) per event type — the
    // COMPLEXITY read beside ts_hurst's memory read: how many of the 6
    // ordinal shapes of (x_t, x_{t+1}, x_{t+2}) the series actually
    // visits, Shannon-weighted. ~log2(6) bits = structureless noise,
    // near 0 = a rigid repeating motif (monotone ramps visit ONE
    // pattern). Ranks use the stable tie rule (equal values rank by
    // time index), so the pattern id r0·9+r1·3+r2 is pure integer CASE
    // arithmetic — engine-identical; the ≤6-cell distribution folds in
    // explicit pattern order (the vocab_entropy discipline). One
    // key-ordered window shuffle over the grid, |keys|·6-bounded rest.
    "ts_permentropy" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("k")).orderBy(col("bucket"))
      val series = graft.ops.TimeSeries
        .resample(Tables.events(s, dir), "event_type", "ts", "value")
        .select(col("event_type").as("k"), col("bucket"), col("n").as("x0"))
        .withColumn("x1", lead(col("x0"), 1).over(w))
        .withColumn("x2", lead(col("x0"), 2).over(w))
        .where(col("x2").isNotNull)
      def b(c: org.apache.spark.sql.Column) = when(c, 1L).otherwise(0L)
      val r0 = b(col("x1") < col("x0")) + b(col("x2") < col("x0"))
      val r1 = b(col("x0") <= col("x1")) + b(col("x2") < col("x1"))
      val r2 = b(col("x0") <= col("x2")) + b(col("x1") <= col("x2"))
      val cells = series
        .select(col("k"), (r0 * 9 + r1 * 3 + r2).as("pid"))
        .groupBy(col("k"), col("pid")).agg(count(lit(1)).as("c"))
      val g = cells.groupBy(col("k"))
        .agg(sum(col("c")).as("n_windows"), count(lit(1)).as("n_patterns"),
          sort_array(collect_list(struct(col("pid"), col("c")))).as("lst"))
      val nd = col("n_windows").cast("double")
      val ent = -aggregate(col("lst"), lit(0.0), (a, e) =>
        a + e.getField("c").cast("double") / nd *
          log2(e.getField("c").cast("double") / nd))
      g.select(col("k").as("event_type"), col("n_windows"),
        col("n_patterns"),
        graft.ops.TimeSeries.portableRound4(ent).as("perm_entropy"),
        // log2(6) injected as a literal — a per-engine libm call could
        // differ in the last ulp (the HllLnTable discipline)
        graft.ops.TimeSeries.portableRound4(
          ent / lit(2.584962500721156)).as("norm_entropy"))
    },

    // Hurst exponent (rescaled range over dyadic blocks) per event
    // type — the long-memory read beyond ts_acf/ts_pacf's few-hour
    // horizon: H≈0.5 independent traffic, H→1 persistent load runs,
    // H<0.5 mean-reverting. The block denominator cancels in R/S so
    // numerator and radicand are exact integers; per-block R/S
    // micro-quantized and summed exactly; the dyadic sizes make the
    // regression x-axis the exact integers 3..6 (fixed rational
    // weights, only the four log2 calls touch libm). See
    // TimeSeries.hurst.
    "ts_hurst" -> { (s, dir) =>
      graft.ops.TimeSeries.hurst(Tables.events(s, dir),
        "event_type", "ts")
    },

    // Ljung–Box portmanteau Q over lags 1–3 per event type — the "is
    // this white noise" gate before any forecast band or serial-test
    // readout is trusted (under independence Q ~ χ²(3); large Q says
    // the profiled autocorrelation is real). Shares pacf's exact
    // integer-moment ρ pipeline; Q is one fixed-arity double chain.
    "ts_ljungbox" -> { (s, dir) =>
      graft.ops.TimeSeries.ljungBox(Tables.events(s, dir),
        "event_type", "ts")
    },

    // Dominant-period detection per event type: the periodogram swept
    // over the candidate grid {6,8,12,24,84,168} h and argmaxed by
    // explained-variance strength (ties → shorter period; constant
    // series keep a null-strength row). The number ts_holtwinters'
    // season length should be SET from. See TimeSeries.autoperiod.
    "ts_autoperiod" -> { (s, dir) =>
      graft.ops.TimeSeries.autoperiod(Tables.events(s, dir),
        "event_type", "ts")
    },

    // Partial autocorrelation at lags 1–3 per event type — the
    // Box–Jenkins AR-order diagnostic: ACF inflates lag 2 through the
    // lag-1 chain, PACF regresses the shorter lags out, so an AR(p)
    // series cuts off after lag p. Exact global-mean ACF (multiplied
    // through by N² — every term DECIMAL(38,0)/HUGEINT) then the
    // Durbin–Levinson recursion as one identical double chain in both
    // engines. See TimeSeries.pacf.
    "ts_pacf" -> { (s, dir) =>
      graft.ops.TimeSeries.pacf(Tables.events(s, dir),
        "event_type", "ts")
    },

    // Cochran–Armitage trend test on daily conversion — IS conversion
    // drifting over the observation window, as one number: ev_ab_test
    // compares two arms at a point, ev_cohort shows the retention
    // surface, but "is the funnel getting better or worse day over
    // day" is a TREND question with ordered scores (day index). The
    // statistic is an exact integer rational until one division:
    // z² = N·A²/(C(N−C)·B) with A = N·Σsᵢcᵢ − C·Σsᵢnᵢ,
    // B = N·Σsᵢ²nᵢ − (Σsᵢnᵢ)², unit = (user, day) with conversion =
    // any purchase that day. A² can cross DECIMAL38 at fleet scale, so
    // A casts to double BEFORE squaring (the one loss, deterministic);
    // everything else is exact. One (day,user) hash-agg → ≤|days| rows.
    "stat_trend" -> { (s, dir) =>
      val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val ev = Tables.events(s, dir)
      val day0 = ev.agg(min(date_trunc("day", col("ts"))).as("d0"))
      val perUserDay = ev.crossJoin(broadcast(day0))
        .select(datediff(date_trunc("day", col("ts")).cast("date"),
          col("d0").cast("date")).cast("long").as("si"),
          col("user_id"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("p"))
        .groupBy(col("si"), col("user_id"))
        .agg(max(col("p")).as("conv"))
      val daily = perUserDay.groupBy(col("si"))
        .agg(count(lit(1)).as("ni"), sum(col("conv")).as("ci"))
      val m = daily.agg(count(lit(1)).as("n_days"),
        sum(col("ni")).as("n"), sum(col("ci")).as("c"),
        sum(d38(col("si")) * d38(col("ci"))).as("ssc"),
        sum(d38(col("si")) * d38(col("ni"))).as("ssn"),
        sum(d38(col("si")) * d38(col("si")) * d38(col("ni"))).as("ss2n"))
      val nD = d38(col("n"))
      val cD = d38(col("c"))
      val aDec = nD * col("ssc") - cD * col("ssn")
      val bDec = nD * col("ss2n") - col("ssn") * col("ssn")
      val dDec = cD * (nD - cD)
      val (nd, ad, bd, dd) = (col("n").cast("double"), aDec.cast("double"),
        bDec.cast("double"), dDec.cast("double"))
      m.select(col("n_days"), col("n").as("n_user_days"),
        col("c").as("n_conv"),
        when(aDec > 0, 1L).when(aDec < 0, -1L).otherwise(0L)
          .as("trend_dir"),
        graft.ops.TimeSeries.portableRound6(
          when(bDec > 0 && dDec > 0, nd * (ad * ad) / (dd * bd)))
          .as("z2_trend"))
    },

    // Wilcoxon signed-rank on PAIRED per-user spend (first half vs
    // second half of the observation window) — the nonparametric
    // paired companion the family lacked: stat_mwu compares two
    // INDEPENDENT groups, but "did the same users spend more after
    // the midpoint" is a within-user question, and pairing removes
    // the between-user variance a two-sample test drowns in. The
    // period split is the exact event-time midpoint in microseconds;
    // d_u = post − pre cents; zeros drop (the standard rule);
    // tie-averaged ranks of |d| via the doubled-rank value-domain
    // collapse (stat_mwu's — windows are domain-bounded, never
    // row-bounded), and the normal-approximation statistic is an
    // EXACT rational until one division:
    // z² = 12·(2W⁺ − n(n+1)/2)² / (2n(n+1)(2n+1) − Σ(t³−t)).
    "stat_wilcoxon" -> { (s, dir) =>
      val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      // ts lands as TIMESTAMP_NTZ; the cast runs under the session's
      // pinned UTC, so micros align with DuckDB's naive epoch_us
      val us = unix_micros(col("ts").cast("timestamp"))
      val cents = graft.ops.Stats.cents(col("value"))
      val ev = Tables.events(s, dir).select(col("user_id"), us.as("us"),
        cents.as("x"))
      val bounds = ev.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
      val per = ev.crossJoin(broadcast(bounds))
        .withColumn("mid", expr("(mn + mx) DIV 2"))
        .groupBy(col("user_id"))
        .agg(coalesce(sum(when(col("us") < col("mid"), col("x"))), lit(0L))
          .as("pre"),
          coalesce(sum(when(col("us") >= col("mid"), col("x"))), lit(0L))
            .as("post"))
        .select((col("post") - col("pre")).as("d"))
        .where(col("d") =!= 0)
      val wOrd = org.apache.spark.sql.expressions.Window.orderBy(col("a"))
      val vd = per.select(abs(col("d")).as("a"),
          when(col("d") > 0, 1L).otherwise(0L).as("pos"))
        .groupBy(col("a"))
        .agg(count(lit(1)).as("c"), sum(col("pos")).as("cpos"))
        .withColumn("cum", sum(col("c")).over(wOrd))
        .withColumn("r2", lit(2L) * (col("cum") - col("c")) + col("c") + 1)
      val m = vd.agg(sum(col("c")).as("n"),
        sum(d38(col("cpos")) * d38(col("r2"))).as("w2"),
        sum(d38(col("c")) * d38(col("c")) * d38(col("c")) - d38(col("c")))
          .as("t3"))
      val nD = d38(col("n"))
      // doubled form keeps every term an integer: A2 = 2A = 4W⁺−n(n+1),
      // z² = 12A²/den = 3·A2²/den (a decimal n(n+1)/2 would pick up a
      // fractional scale type even though its value is exact)
      val a2 = lit(2).cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
        col("w2") - nD * (nD + 1)
      val den = nD * (nD + 1) * (nD * 2 + 1) * 2 - col("t3")
      m.select(col("n").as("n_pairs"), col("w2").cast("long").as("w2_plus"),
        graft.ops.TimeSeries.portableRound6(when(den > 0,
          (lit(3).cast(org.apache.spark.sql.types.DecimalType(38, 0))
            * a2 * a2).cast("double") / den.cast("double"))).as("z2"))
    },

    // Hill tail-index estimator per event type — HOW heavy the value
    // tail is, the number behind every skew decision ev_gini /
    // ev_power_users only rank: α ≤ 1 means the mean itself is
    // tail-dominated (salting/caps mandatory), α ≤ 2 means variance is
    // infinite (every SE in the stat_* family is then a lie). Classic
    // Hill over the top k = 100 order statistics:
    // α̂ = k / Σᵢ ln(x₍ᵢ₎/x₍ₖ₊₁₎). The top-(k+1) rows per type come off
    // one rank window (WindowGroupLimit prunes map-side — the
    // sample_balanced shape, only ~101·|types| rows ever shuffle); the
    // k logs fold in EXPLICIT rank order over the collected bounded
    // list (the vocab_entropy discipline — a float sum over an
    // engine-ordered aggregate can't hash-match). Ties at the
    // boundary are value-identical, so the cut is deterministic.
    "stat_tail_index" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
        .orderBy(col("c").desc, col("event_id"))
      val pos = Tables.events(s, dir)
        .select(col("event_type"), col("event_id"),
          graft.ops.Stats.cents(col("value")).as("c"))
        .where(col("c") > 0)
      // n_pos as a SEPARATE tiny agg joined back broadcast: an
      // unbounded count-over-type window on the ranked rows would
      // defeat WindowGroupLimit's map-side prune (caught by the
      // PlanShapeSpec guard — every positive row shuffled)
      val npos = pos.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_pos"))
      val top = pos
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 101)
      val g = top.groupBy(col("event_type"))
        .agg(count(lit(1)).as("m"),
          transform(sort_array(collect_list(struct(col("rn"), col("c")))),
            e => e.getField("c")).as("lt"))
        .join(broadcast(npos), "event_type")
      val kd = col("k").cast("double")
      val lnx = log(col("xk1d"))
      val den = col("slog") - kd * lnx
      g.select(col("event_type"), col("n_pos"), (col("m") - 1).as("k"),
          element_at(col("lt"), col("m").cast("int")).cast("double")
            .as("xk1d"),
          aggregate(slice(col("lt"), lit(1), (col("m") - 1).cast("int")),
            lit(0.0), (a, x) => a + log(x.cast("double"))).as("slog"))
        .select(col("event_type"), col("n_pos"), col("k"),
          graft.ops.TimeSeries.portableRound4(
            when(col("k") >= 1 && den > 0, kd / den)).as("alpha"))
    },

    // Levene's test for variance homogeneity across event types — the
    // PRECONDITION check for the pooled-variance family (stat_anova's F
    // assumes equal group variances; heteroscedastic groups make it
    // anti-conservative). Classic mean-centered Levene: one-way ANOVA
    // on z_ij = |x_ij − x̄_i|. Every within-group moment is exact —
    // z_ij·N_i = |N_i·x − S_i| is an integer, so A_i = Σ|N_i x − S_i|
    // and Q_i = Σ(N_i x − S_i)² carry the group exactly in
    // DECIMAL(38,0) — and the CROSS-group sums (k rationals with
    // different N_i denominators) go through the 1e-6 quantize-and-
    // integer-sum discipline (stat_jackknife's): Σz̄_i-terms and
    // within-SS terms are one deterministic double chain per GROUP,
    // never an order-dependent float fold. Between-SS uses the
    // computational form Σ N_i z̄_i² − N z̄². Two passes over events
    // (group moments + centered join-back), |types|-sized finals.
    "stat_levene" -> { (s, dir) =>
      val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val x = graft.ops.Stats.cents(col("value"))
      val per = Tables.events(s, dir)
        .select(col("event_type"), x.as("x"))
      val g = per.groupBy(col("event_type"))
        .agg(count(lit(1)).as("ni"), sum(col("x")).as("si"))
      val cent = per.join(broadcast(g), "event_type")
        .select(col("event_type"), col("ni"), col("si"),
          abs(d38(col("ni")) * d38(col("x")) - d38(col("si"))).as("zn"))
        .groupBy(col("event_type"))
        .agg(max(col("ni")).as("ni"),
          sum(col("zn")).as("ai"), sum(col("zn") * col("zn")).as("qi"))
      val nid = col("ni").cast("double")
      val niD = d38(col("ni"))
      // quantize the per-group MEANS, never the group-scaled sums (a
      // Σz·1e6 integer wraps BIGINT at the 625× tier); the exact
      // DECIMAL sums re-weight by N_i, so only the ~1e4-cent scalars
      // ride the grid: z̄_i on 1e-9, per-unit within variance on 1e-6
      val qa = round(col("ai").cast("double") / (nid * nid)
        * lit(1.0e6), 0).cast("long") // z̄_i · 1e6 (1e9 made Σ N·qa²
      // cross DECIMAL38/HUGEINT at the 625× tier for high-value metrics)
      val qw = round((niD * col("qi") - col("ai") * col("ai"))
        .cast("double") / (nid * nid * nid * nid) * lit(1.0e6), 0)
        .cast("long") // (within-SS_i / N_i) · 1e6
      val m = cent.select(col("ni"), qa.as("qa"), qw.as("qw"))
        .agg(count(lit(1)).as("k"), sum(col("ni")).as("n"),
          sum(d38(col("ni")) * d38(col("qa"))).as("sqa"),
          sum(d38(col("ni")) * d38(col("qa")) * d38(col("qa"))).as("sqb"),
          sum(d38(col("ni")) * d38(col("qw"))).as("sqw"))
      val nd = col("n").cast("double")
      val kd = col("k").cast("double")
      val zbar = col("sqa").cast("double") / lit(1.0e6) / nd
      val between = col("sqb").cast("double") / lit(1.0e12) -
        nd * zbar * zbar
      val within = col("sqw").cast("double") / lit(1.0e6)
      val f = when(col("k") > 1 && within > 0,
        between / (kd - lit(1.0)) / (within / (nd - kd)))
      m.select(col("n"), col("k"),
        graft.ops.TimeSeries.portableRound6(zbar / lit(100.0)).as("z_mean"),
        graft.ops.TimeSeries.portableRound6(f).as("f_levene"))
    },

    // Brown–Forsythe variance-homogeneity F — stat_levene's ROBUST
    // twin: centering on the group MEDIAN instead of the mean keeps a
    // heavy value tail (see stat_tail_index) from inflating its own
    // group's spread estimate, the variant actually recommended for
    // skewed metrics. The median is exact in the VALUE DOMAIN
    // (the stat_trimmed collapse: (type, cents) counts + cumulative
    // multiplicities; 2·median = the two middle order statistics'
    // sum, an integer even for even n), so z·2 = |2x − 2med| is an
    // integer and A_i/Q_i carry each group exactly; cross-group terms
    // ride the same quantize-the-means discipline as stat_levene.
    "stat_levene_bf" -> { (s, dir) =>
      val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val x = graft.ops.Stats.cents(col("value"))
      val wOrd = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("x"))
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
      def covers(p: org.apache.spark.sql.Column) =
        when(col("cum_end") - col("c") < p && p <= col("cum_end"), 1L)
          .otherwise(0L)
      val med = Tables.events(s, dir)
        .select(col("event_type"), x.as("x"))
        .groupBy(col("event_type"), col("x")).agg(count(lit(1)).as("c"))
        .withColumn("cum_end", sum(col("c")).over(wOrd))
        .withColumn("n", sum(col("c")).over(wAll))
        .withColumn("lo", expr("(n + 1) DIV 2"))
        .withColumn("hi", expr("(n + 2) DIV 2"))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("ni"),
          sum(col("x") * (covers(col("lo")) + covers(col("hi"))))
            .as("med2"))
      val cent = Tables.events(s, dir)
        .select(col("event_type"), x.as("x"))
        .join(broadcast(med), "event_type")
        .select(col("event_type"), col("ni"),
          abs(lit(2L) * col("x") - col("med2")).as("z2"))
        .groupBy(col("event_type"))
        .agg(max(col("ni")).as("ni"),
          sum(d38(col("z2"))).as("ai"),
          sum(d38(col("z2")) * d38(col("z2"))).as("qi"))
      val nid = col("ni").cast("double")
      val niD = d38(col("ni"))
      val qa = round(col("ai").cast("double") / (lit(2.0) * nid)
        * lit(1.0e6), 0).cast("long") // z̄_i · 1e6 (the stat_levene
      // width bound)
      val qw = round((niD * col("qi") - col("ai") * col("ai"))
        .cast("double") / (lit(4.0) * nid * nid) * lit(1.0e6), 0)
        .cast("long") // (within-SS_i / N_i) · 1e6: (N·Q − A²)/(4N²)
      val m = cent.select(col("ni"), qa.as("qa"), qw.as("qw"))
        .agg(count(lit(1)).as("k"), sum(col("ni")).as("n"),
          sum(d38(col("ni")) * d38(col("qa"))).as("sqa"),
          sum(d38(col("ni")) * d38(col("qa")) * d38(col("qa"))).as("sqb"),
          sum(d38(col("ni")) * d38(col("qw"))).as("sqw"))
      val nd = col("n").cast("double")
      val kd = col("k").cast("double")
      val zbar = col("sqa").cast("double") / lit(1.0e6) / nd
      val between = col("sqb").cast("double") / lit(1.0e12) -
        nd * zbar * zbar
      val within = col("sqw").cast("double") / lit(1.0e6)
      val f = when(col("k") > 1 && within > 0,
        between / (kd - lit(1.0)) / (within / (nd - kd)))
      m.select(col("n"), col("k"),
        graft.ops.TimeSeries.portableRound6(zbar / lit(100.0)).as("z_mean"),
        graft.ops.TimeSeries.portableRound6(f).as("f_bf"))
    },

    // Delta-method standard error of the per-variant RATIO metric
    // revenue-per-event (Σx/Σy over USERS — the unit of randomization,
    // so user-level covariance is what the SE must carry; a naive
    // row-level SE ignores that a heavy user moves both numerator and
    // denominator together and is anti-conservative). Var(R̂) ≈
    // (σx² − 2Rσxy + R²σy²)/(n·ȳ²) — the standard first-order Taylor
    // expansion; all five moments exact integer cents/counts in
    // DECIMAL(38,0), one double chain per variant row. The jackknife
    // twin (stat_jackknife) estimates the same SE empirically — the
    // classic cross-check pair for ratio metrics.
    "stat_delta_ratio" -> { (s, dir) =>
      val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val per = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("y"),
          coalesce(sum(when(col("event_type") === "purchase",
            graft.ops.Stats.cents(col("value")))), lit(0L)).as("x"))
        .withColumn("variant", pmod(col("user_id"), lit(2)))
      val m = per.groupBy(col("variant"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(d38(col("x")) * d38(col("x"))).as("sxx"),
          sum(d38(col("y")) * d38(col("y"))).as("syy"),
          sum(d38(col("x")) * d38(col("y"))).as("sxy"))
      val dr = graft.ops.Stats.deltaRatio(col("n"), col("sx"), col("sy"),
        col("sxx"), col("syy"), col("sxy"))
      m.select(col("variant"), col("n").as("n_users"),
        graft.ops.TimeSeries.portableRound6(dr.r / lit(100.0)).as("r"),
        graft.ops.TimeSeries.portableRound6(dr.se / lit(100.0))
          .as("se_delta"))
    },

    // Leave-one-out jackknife SE of the SAME per-variant ratio metric —
    // the empirical twin of stat_delta_ratio's Taylor formula (they
    // agree to O(1/n); a gap flags a heavy-tail regime where the
    // linearization is lying). Each user's leave-one-out ratio
    // R_i = (Σx−x_i)/(Σy−y_i) is ONE deterministic double division per
    // row against the broadcast 2-row totals, then QUANTIZED to the
    // 1e-8 grid (round-then-cast — DuckDB's double→BIGINT cast rounds
    // while Spark's truncates, so both engines round() first) so the
    // replicate sums are exact integers — a raw float Σ(R_i−R̄)² is
    // addition-order-dependent and can never hash-match across
    // engines. Quantization bias on SE² is ≤ grid²/12 per term — eight
    // decimal orders under the signal. SE² = (n−1)/n·Σ(R_i−R̄)².
    "stat_jackknife" -> { (s, dir) =>
      val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val per = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("y"),
          coalesce(sum(when(col("event_type") === "purchase",
            graft.ops.Stats.cents(col("value")))), lit(0L)).as("x"))
        .withColumn("variant", pmod(col("user_id"), lit(2)))
      val tot = per.groupBy(col("variant"))
        .agg(sum(col("x")).as("sx"), sum(col("y")).as("sy"))
      // sy > y guard: a single-user variant makes R_i = 0/0 — Spark's
      // NaN→long cast silently yields 0 while DuckDB's ERRORS; a null
      // replicate (skipped by sum) is the portable degenerate
      val q = when(col("sy") > col("y"),
        round(((col("sx") - col("x")).cast("double") /
          (col("sy") - col("y")).cast("double")) * lit(1.0e8), 0)
          .cast("long"))
      val m = per.join(broadcast(tot), "variant")
        .select(col("variant"), col("sx"), col("sy"), q.as("q"))
        .groupBy(col("variant"))
        .agg(count(lit(1)).as("n"), max(col("sx")).as("sx"),
          max(col("sy")).as("sy"),
          // q ~ 1e12 × 6e7 users at the 625× tier wraps BIGINT — the
          // chi² lesson: widen the OPERAND, not the result
          sum(d38(col("q"))).as("sq"),
          sum(d38(col("q")) * d38(col("q"))).as("sqq"))
      val nd = col("n").cast("double")
      val numd = (d38(col("n")) * col("sqq") - col("sq") * col("sq"))
        .cast("double")
      val se = sqrt(numd * (nd - lit(1.0))) / (nd * lit(1.0e8))
      m.select(col("variant"), col("n").as("n_users"),
        graft.ops.TimeSeries.portableRound6(
          col("sx").cast("double") / col("sy").cast("double") / lit(100.0))
          .as("r"),
        graft.ops.TimeSeries.portableRound6(se / lit(100.0)).as("se_jack"))
    },

    // Markov next-event transition matrix: P(next_type | type) over each
    // user's (ts, event_id)-ordered stream — the behavioral model behind
    // next-action prediction and anomaly scoring. One shuffle on user_id
    // for the lead(), then a tiny (|types|²) aggregate.
    "ev_transitions" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wType = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
      Tables.events(s, dir)
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .where(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p",
          round(col("n").cast("double") / sum(col("n")).over(wType), 4))
    },

    // Shapley channel attribution — the game-theoretically fair credit
    // split ev_attribution's positional rules (first/last touch) can't
    // give: each non-purchase event type is a channel, each user's
    // exposure set a coalition, v(S) = conversion rate of users exposed
    // to EXACTLY S (0 for unobserved coalitions — the standard
    // simplified-Shapley convention), and channel i's value is
    // Σ_{S∌i} |S|!(4−|S|)!/5! · (v(S∪i) − v(S)). With 5 channels the
    // lattice is 32 points, so the computation is EXACT: coalition
    // stats are one user hash-agg + one ≤32-row agg; the ≤16 terms per
    // channel are quantized at 1e-12 and summed exactly; the weights
    // ×5! are the integers {24,6,4,6,24}. Efficiency law
    // (Σ shapley = v(full) − v(∅)) is spec-pinned.
    "ev_attribution_shapley" -> { (s, dir) =>
      val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val bitc = when(col("event_type") === "view", 1L)
        .when(col("event_type") === "click", 2L)
        .when(col("event_type") === "cart", 4L)
        .when(col("event_type") === "signup", 8L)
        .when(col("event_type") === "error", 16L).otherwise(0L)
      val per = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(sum_distinct(bitc).as("mask"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("conv"))
      val stats = per.groupBy(col("mask"))
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
        .withColumn("v", col("c").cast("double") / col("n").cast("double"))
      val ch = s.range(0, 1).select(posexplode(typedlit(
          Seq("view", "click", "cart", "signup", "error")))
        .as(Seq("idx", "channel")))
        .select(col("channel"),
          element_at(typedlit(Seq(1L, 2L, 4L, 8L, 16L)),
            col("idx").cast("int") + 1).as("bit"))
      val exposed = stats.crossJoin(broadcast(ch))
        .where(col("mask").bitwiseAND(col("bit")) =!= 0)
        .groupBy(col("channel")).agg(sum(col("n")).as("n_exposed"))
      val w120 = typedlit(Seq(24L, 6L, 4L, 6L, 24L))
      val q = round(element_at(w120, bit_count(col("m")).cast("int") + 1) *
        (coalesce(col("v1"), lit(0.0)) - coalesce(col("v0"), lit(0.0))) *
        lit(1.0e12), 0).cast("long")
      s.range(0, 32).select(col("id").as("m"))
        .crossJoin(broadcast(ch))
        .where(col("m").bitwiseAND(col("bit")) === 0)
        .join(broadcast(stats.select(col("mask").as("m"),
          col("v").as("v0"))), Seq("m"), "left")
        .join(broadcast(stats.select(col("mask").as("m1"),
          col("v").as("v1"))),
          col("m1") === col("m") + col("bit"), "left")
        .select(col("channel"), q.as("q"))
        .groupBy(col("channel")).agg(sum(d38(col("q"))).as("sq"))
        .join(broadcast(exposed), Seq("channel"), "left")
        .select(col("channel"),
          coalesce(col("n_exposed"), lit(0L)).as("n_exposed"),
          graft.ops.TimeSeries.portableRound6(
            col("sq").cast("double") / lit(1.0e12) / lit(120.0))
            .as("shapley"))
    },

    // Growth-accounting lifecycle matrix per week — the identity every
    // growth dashboard decomposes DAU movement into: active_w =
    // new_w + retained_w + resurrected_w, churned_w = active_{w−1} −
    // retained_w, quick ratio = (new+resurrected)/churned. ev_cohort
    // gives the retention SURFACE; this is the week-over-week FLOW
    // decomposition (which weeks grew on acquisition vs reactivation,
    // and whether churn outran both). Exact distinct-week activity, a
    // per-user lag window for the state classification, and a week-lag
    // join for churn — one user shuffle, |weeks|-sized everything after.
    "ev_lifecycle" -> { (s, dir) =>
      val wUser = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("wk"))
      val act = Tables.events(s, dir)
        .select(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("wk"))
        .distinct()
        .withColumn("prev_wk", lag(col("wk"), 1).over(wUser))
        .withColumn("state",
          when(col("prev_wk").isNull, lit("new"))
            .when(datediff(col("wk"), col("prev_wk")) === 7,
              lit("retained"))
            .otherwise(lit("resurrected")))
      val weekly = act.groupBy(col("wk"))
        .agg(count(lit(1)).as("active"),
          sum(when(col("state") === "new", 1L).otherwise(0L)).as("n_new"),
          sum(when(col("state") === "retained", 1L).otherwise(0L))
            .as("n_retained"),
          sum(when(col("state") === "resurrected", 1L).otherwise(0L))
            .as("n_resurrected"))
      // churn joins on the CALENDAR previous week (wk − 7), not lag():
      // an entirely-silent week would make lag() skip across the gap
      // and charge its churn to the wrong week
      val prev = weekly.select(date_add(col("wk"), 7).as("wk"),
        col("active").as("prev_active"))
      weekly.join(broadcast(prev), Seq("wk"), "left")
        .withColumn("churned", col("prev_active") - col("n_retained"))
        .select(col("wk"), col("active"), col("n_new"), col("n_retained"),
          col("n_resurrected"), col("churned"),
          graft.ops.TimeSeries.portableRound4(when(col("churned") > 0,
            (col("n_new") + col("n_resurrected")).cast("double") /
              col("churned").cast("double"))).as("quick_ratio"))
    },

    // Markov entropy rate of the per-user event stream — HOW predictable
    // the next action is given the current one, in bits: 0 = fully
    // deterministic flows, log2(|types|) = uniform chaos. The single
    // number behind ev_transitions' matrix (its Shannon summary) and
    // the capacity read for sequence-model training data (near-zero
    // entropy streams are boilerplate sessions worth downweighting).
    // H = −Σ_st (n_st/N)·log2(n_st/n_s) over exact transition counts,
    // folded in EXPLICIT (state, next) order over the ≤|types|²-sized
    // collected cell list (the vocab_entropy discipline). One user_id
    // window shuffle, then |types|²-bounded everything.
    "ev_entropy_rate" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val cells = Tables.events(s, dir)
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .where(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("nst"))
      val withNs = cells.join(
        cells.groupBy(col("event_type")).agg(sum(col("nst")).as("ns")),
        "event_type")
      val g = withNs.agg(sum(col("nst")).as("n"),
        count(lit(1)).as("n_cells"),
        countDistinct(col("event_type")).as("n_states"),
        sort_array(collect_list(struct(col("event_type"), col("next_type"),
          col("nst"), col("ns")))).as("lst"))
      val nd = col("n").cast("double")
      val ent = -aggregate(col("lst"), lit(0.0), (a, e) =>
        a + e.getField("nst").cast("double") / nd *
          log2(e.getField("nst").cast("double") /
            e.getField("ns").cast("double")))
      g.select(col("n"), col("n_cells"), col("n_states"),
        graft.ops.TimeSeries.portableRound4(ent).as("entropy_rate"),
        graft.ops.TimeSeries.portableRound4(
          ent / log2(col("n_states").cast("double"))).as("norm_entropy"))
    },

    // two-proportion experiment readout: per-variant exposure/conversion
    // and the pooled z² statistic (the A/B decision number), computed
    // from exact integer counts through one deterministic double
    // expression — hash-verifiable like the drift chi-square. One
    // shuffle on user_id, then a 2-row aggregate.
    "ev_ab_test" -> { (s, dir) =>
      val users = Tables.events(s, dir).groupBy("user_id")
        .agg(when(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) >= 14, 1L)
          .otherwise(0L).as("conv"))
        .withColumn("variant", pmod(col("user_id"), lit(2)))
      val r = users.agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("variant") === 0, col("conv")).otherwise(0L)).as("c0"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("variant") === 1, col("conv")).otherwise(0L)).as("c1"))
      val (n0, c0, n1, c1) = (col("n0").cast("double"), col("c0").cast("double"),
        col("n1").cast("double"), col("c1").cast("double"))
      val p = (c0 + c1) / (n0 + n1)
      r.select(col("n0"), col("c0"), col("n1"), col("c1"),
        (c0 / n0).as("rate0"), (c1 / n1).as("rate1"),
        ((c0 / n0 - c1 / n1) * (c0 / n0 - c1 / n1) /
          (p * (lit(1.0) - p) * (lit(1.0) / n0 + lit(1.0) / n1))).as("z2"))
    },

    // Welch two-sample t² on purchase value between the two user-id
    // variants — the continuous-metric companion to ev_ab_test's
    // proportion z². Moments accumulate as exact integer CENTS (and
    // squared cents in DECIMAL(38,0)); the t² statistic is one
    // deterministic double chain from those exact moments, written
    // identically in both engines. Sample variance via the computational
    // formula (n·Σx² − (Σx)²) / (n·(n−1)) — exact integers until the
    // final casts.
    "stat_ttest" -> { (s, dir) =>
      val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val cents = (col("value").cast("decimal(18,2)") * 100)
        .cast("decimal(38,0)")
      val per = Tables.events(s, dir)
        .where(col("event_type") === "purchase")
        .select(pmod(col("user_id"), lit(2)).as("variant"),
          cents.as("x"))
      val m = per.agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("variant") === 0, col("x"))).as("sx0"),
        sum(when(col("variant") === 0, col("x") * col("x"))).as("sxx0"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("variant") === 1, col("x"))).as("sx1"),
        sum(when(col("variant") === 1, col("x") * col("x"))).as("sxx1"))
      def mean(sx: String, n: String) =
        col(sx).cast("double") / col(n).cast("double")
      def svar(n: String, sx: String, sxx: String) =
        (d38(col(n)) * col(sxx) - col(sx) * col(sx)).cast("double") /
          (d38(col(n)) * (d38(col(n)) - 1)).cast("double")
      val diff = mean("sx0", "n0") - mean("sx1", "n1")
      val se2 = svar("n0", "sx0", "sxx0") / col("n0").cast("double") +
        svar("n1", "sx1", "sxx1") / col("n1").cast("double")
      m.select(col("n0"), col("n1"),
        graft.ops.TimeSeries.portableRound6(mean("sx0", "n0") / 100.0)
          .as("mean0"),
        graft.ops.TimeSeries.portableRound6(mean("sx1", "n1") / 100.0)
          .as("mean1"),
        // se2 = 0 (both arms constant) → null t2, not an ANSI
        // DIVIDE_BY_ZERO that fails the whole query on one dead metric
        graft.ops.TimeSeries.portableRound6(
          when(se2 > 0, diff * diff / se2)).as("t2"))
    },

    // Benjamini–Hochberg FDR control across the per-event-type A/B
    // tests — the multiple-comparisons read an experimentation platform
    // actually ships (five metrics at α=0.05 each ≈ a 23% family-wise
    // false-alarm rate; BH caps the expected FALSE-DISCOVERY share
    // instead). Per type: the stat_ttest Welch t² from exact cents
    // moments; then the step-up rule on the |types|-row table — rank by
    // t² descending, r* = max rank clearing its z²(1 − α·r/(2m)) bar,
    // reject ranks ≤ r*. The threshold matrix is Scala-computed
    // (Stats.bhT2Matrix — Acklam Φ⁻¹, never each engine's own libm) and
    // injected as the SAME nested literal into both plans. All windows
    // run on the |types|-sized aggregate (the mixWeights precedent),
    // never the corpus.
    "stat_fdr" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val mMax = 12
      val thrMat = array(bhThr.map(row => array(row.map(lit): _*)): _*)
      val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val cents = (col("value").cast("decimal(18,2)") * 100)
        .cast("decimal(38,0)")
      val per = Tables.events(s, dir)
        .select(col("event_type"),
          pmod(col("user_id"), lit(2)).as("variant"), cents.as("x"))
      val m = per.groupBy(col("event_type")).agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("variant") === 0, col("x"))).as("sx0"),
        sum(when(col("variant") === 0, col("x") * col("x"))).as("sxx0"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("variant") === 1, col("x"))).as("sx1"),
        sum(when(col("variant") === 1, col("x") * col("x"))).as("sxx1"))
      def mean(sx: String, n: String) =
        col(sx).cast("double") / col(n).cast("double")
      def svar(n: String, sx: String, sxx: String) =
        (d38(col(n)) * col(sxx) - col(sx) * col(sx)).cast("double") /
          (d38(col(n)) * (d38(col(n)) - 1)).cast("double")
      val diff = mean("sx0", "n0") - mean("sx1", "n1")
      val se2 = svar("n0", "sx0", "sxx0") / col("n0").cast("double") +
        svar("n1", "sx1", "sxx1") / col("n1").cast("double")
      val wRank = Window.orderBy(col("t2").desc, col("event_type").asc)
      val wAll = wRank.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      m.select(col("event_type"), col("n0"), col("n1"),
          // null (not ANSI DIVIDE_BY_ZERO) for a zero-variance metric:
          // ranks LAST under the DESC order, never clears a bar, and is
          // rejected only when a lower rank pulls the step-up prefix
          // over it — FdrStream aligns its sort key to the same rule
          when(se2 > 0, diff * diff / se2).as("t2"))
        .withColumn("rank", row_number().over(wRank).cast("long"))
        .withColumn("m", count(lit(1)).over(wAll).cast("int"))
        .withColumn("pass", col("t2") >= element_at(element_at(
          when(col("m") <= mMax, thrMat).otherwise(raise_error(
            lit(s"stat_fdr: more than $mMax hypotheses — widen the matrix"))),
          col("m")), col("rank").cast("int")))
        .withColumn("rstar",
          max(when(col("pass"), col("rank")).otherwise(0L)).over(wAll))
        .select(col("event_type"), col("n0"), col("n1"),
          graft.ops.TimeSeries.portableRound6(col("t2")).as("t2"),
          col("rank"), (col("rank") <= col("rstar")).as("rejected"))
    },

    // Bayesian A/B on daily conversion: per day, each variant's purchase
    // rate gets a Beta(1+s, 1+n−s) posterior (uniform prior) and the
    // readout is P(p_B > p_A) under the normal approximation of the
    // posterior difference — the "probability B is better" number a
    // decision dashboard shows instead of a p-value. Every moment is a
    // ratio of EXACT counts taken in double (products in double, never
    // BIGINT — a per-day trial count squared wraps int64 at ~3e9 rows/
    // day; doubles round identically in both engines), Φ is the shared
    // A&S 26.2.17 polynomial literal (Stats.normCdf — never each
    // engine's own erf), 6dp-rounded to absorb the one libm exp ulp.
    // One groupBy day — the same single shuffle as stat_ttest.
    "stat_bayes_ab" -> { (s, dir) =>
      val m = Tables.events(s, dir)
        .select(to_date(col("ts")).as("day"),
          pmod(col("user_id"), lit(2)).as("variant"),
          (col("event_type") === "purchase").as("conv"))
        .groupBy(col("day")).agg(
          sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("variant") === 0 && col("conv"), 1L).otherwise(0L))
            .as("s0"),
          sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("variant") === 1 && col("conv"), 1L).otherwise(0L))
            .as("s1"))
      def mu(sc: org.apache.spark.sql.Column, nc: org.apache.spark.sql.Column) =
        (sc + 1L).cast("double") / (nc + 2L).cast("double")
      def variance(sc: org.apache.spark.sql.Column,
                   nc: org.apache.spark.sql.Column) =
        (sc + 1L).cast("double") * (nc - sc + 1L).cast("double") /
          ((nc + 2L).cast("double") * (nc + 2L).cast("double") *
            (nc + 3L).cast("double"))
      val z = (mu(col("s1"), col("n1")) - mu(col("s0"), col("n0"))) /
        sqrt(variance(col("s0"), col("n0")) + variance(col("s1"), col("n1")))
      m.withColumn("z", z)
        .select(col("day"), col("n0"), col("s0"), col("n1"), col("s1"),
          graft.ops.TimeSeries.portableRound6(col("z")).as("z"),
          graft.ops.TimeSeries.portableRound6(
            graft.ops.Stats.normCdf(col("z"))).as("p_b_gt_a"))
    },

    // day-over-day top movers: for every (event_type, day) on the
    // AGGREGATED daily series, the count delta vs the previous day;
    // top-10 absolute movers via TakeOrdered — the crawl/traffic-shift
    // triage list. Integer deltas; ties break on (type, day).
    "topk_movers" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("day"))
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("prev_n", lag(col("n"), 1).over(w))
        .where(col("prev_n").isNotNull)
        .withColumn("delta", col("n") - col("prev_n"))
      graft.ops.Relational.topK(daily, 10,
        abs(col("delta")).desc, col("event_type").asc, col("day").asc)
    },

    // top behavioral paths: the 20 most common ordered 3-event
    // sequences across user streams (the sequence-mining staple next up
    // from the Markov matrix). Two leads over the same (ts, event_id)
    // per-user order — ONE shuffle on user_id serves both — then a
    // |types|³-bounded aggregate and a deterministic
    // (count desc, path asc) top-20.
    "ev_paths" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("e2", lead(col("event_type"), 1).over(w))
        .withColumn("e3", lead(col("event_type"), 2).over(w))
        .where(col("e2").isNotNull && col("e3").isNotNull)
        .groupBy(col("event_type").as("e1"), col("e2"), col("e3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("e1"), asc("e2"), asc("e3"))
        .limit(20)
    },

    // 3-step ordered funnel view -> click -> purchase: each step's
    // timestamp must follow the previous step's FIRST occurrence.
    // Output: one row per user who entered the funnel, with the number
    // of steps completed (1..3).
    "ev_funnel" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val v = ev.where(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val c = ev.where(col("event_type") === "click")
        .join(v, "user_id").where(col("ts") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val p = ev.where(col("event_type") === "purchase")
        .join(c, "user_id").where(col("ts") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      v.join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .select(col("user_id"),
          (lit(1L) + when(col("t2").isNotNull, 1L).otherwise(0L)
            + when(col("t3").isNotNull, 1L).otherwise(0L)).as("steps"))
    },

    // TIME-BOUNDED funnel: ev_funnel's steps, but each step must land
    // within 24 hours of the previous one — the conversion-window form
    // every funnel product actually ships (an unbounded funnel credits
    // conversions weeks later). Same per-user min-join shape; the
    // window is one extra predicate pushed into each step join.
    "ev_funnel_window" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val day = expr("INTERVAL 24 HOURS")
      val v = ev.where(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val c = ev.where(col("event_type") === "click")
        .join(v, "user_id")
        .where(col("ts") > col("t1") && col("ts") <= col("t1") + day)
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val p = ev.where(col("event_type") === "purchase")
        .join(c, "user_id")
        .where(col("ts") > col("t2") && col("ts") <= col("t2") + day)
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      v.join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .select(col("user_id"),
          (lit(1L) + when(col("t2").isNotNull, 1L).otherwise(0L)
            + when(col("t3").isNotNull, 1L).otherwise(0L)).as("steps"))
    },

    // last-touch attribution: each purchase credits the user's most
    // recent click at-or-before it, but only within a 1-hour window —
    // the as-of union+last() shape (one shuffle on user_id, no join).
    // The window ORDER tie-breaks on (ts, side, click_id): clicks sort
    // before a same-instant purchase (inclusive as-of), and equal-ts
    // clicks resolve to the largest id deterministically.
    "ev_attribution" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), lit(0).as("side"),
          col("event_id").as("click_id"), lit(null).cast("long").as("purchase_id"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), lit(1).as("side"),
          lit(null).cast("long").as("click_id"), col("event_id").as("purchase_id"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("side").asc, col("click_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ok = col("lc.cts").isNotNull &&
        col("lc.cts") >= col("ts") - expr("INTERVAL 1 HOUR")
      clicks.unionByName(purchases)
        .withColumn("lc", last(when(col("side") === 0,
          struct(col("ts").as("cts"), col("click_id").as("cid"))),
          ignoreNulls = true).over(w))
        .where(col("side") === 1)
        .select(col("purchase_id"), col("user_id"), col("ts"),
          when(ok, col("lc.cid")).as("click_id"),
          when(ok, col("lc.cts")).as("click_ts"))
    },

    // trailing-window anomaly scores: hourly event counts per type,
    // z-scored against the previous 6 hours (frame excludes the current
    // row — the standard monitoring baseline). One shuffle for the
    // hourly rollup, one for the per-type ordering; the window key
    // (event_type) is low-cardinality but the frame runs over the tiny
    // AGGREGATED series, never the raw events.
    "ev_anomaly" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val hourly = Tables.events(s, dir)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
        .rowsBetween(-6, -1)
      hourly
        .withColumn("mean_n", avg(col("n")).over(w))
        .withColumn("sd_n", stddev_samp(col("n")).over(w))
        .select(col("event_type"), col("hour"), col("n"),
          round(col("mean_n"), 4).as("mean_n"),
          round((col("n") - col("mean_n")) / nullif(col("sd_n"), lit(0.0)), 4)
            .as("z"))
    },

    // type-2 SCD build: collapse each user's event-type stream into
    // validity intervals (valid_from/valid_to, null while current) —
    // the dimension table an as-of join probes. One shuffle on user_id,
    // two window passes over co-located rows; (ts, event_id) is the
    // deterministic per-user total order.
    "dim_scd2" -> { (s, dir) =>
      graft.ops.Relational.scd2(Tables.events(s, dir),
        Seq("user_id"), "ts", Seq("event_type"),
        Seq(col("ts"), col("event_id")))
    },

    // the scd2+asOfJoin COMPOSE: each purchase enriched with the user's
    // state just before it (probe at ts − 1µs against the interval
    // table scd2 builds) — "what was this entity's state at time t",
    // answered end to end. A purchase that is the user's first event
    // has no prior state (null).
    "dim_asof" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val dim = graft.ops.Relational.scd2(ev, Seq("user_id"), "ts",
          Seq("event_type"), Seq(col("ts"), col("event_id")))
        .select(col("user_id"), col("valid_from").as("ts"),
          col("event_type").as("state"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          (col("ts") - expr("INTERVAL 1 MICROSECOND")).as("ts"))
      graft.ops.Relational.asOfJoin(purchases, dim, Seq("user_id"), "ts",
          "state", "state_before")
        .select("event_id", "user_id", "state_before")
    },

    // RFM segmentation: per-user recency/frequency/monetary + quartile
    // (ntile) segment — the user-scoring rollup behind retention
    // campaigns. Monetary goes through DECIMAL(18,2) so the sum is
    // order-free; the ntile window runs over the per-USER aggregate
    // (bounded by users, not events — same rule as the mixWeights
    // single-partition window).
    // segment via the DISTRIBUTED exact ntile (range-rank + broadcast
    // count): a bare `ntile over (order by …)` is a one-task window —
    // the whole user table on a single executor at 100 TB. Bucket
    // assignment is bit-identical to SQL ntile (the oracle still says
    // ntile), the plan just never collapses to one partition.
    "ev_rfm" -> { (s, dir) =>
      val rfm = Tables.events(s, dir).where(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(max(col("ts")).as("last_purchase"),
          count(lit(1)).as("frequency"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("monetary"))
      graft.ops.Relational.ntileExact(rfm, 4,
        Seq(col("monetary").desc, col("user_id")), "segment")
    },

    // uniform hourly resample with gap fill: every event_type covers
    // every hour between its first and last active hour; silent hours
    // get n=0 / sum=0.00. Raw events are touched once (one hash-agg
    // shuffle); the grid explodes from the per-key span — its size is
    // |keys|×|hours in range|, independent of event volume.
    "ts_resample" -> { (s, dir) =>
      graft.ops.TimeSeries.resample(Tables.events(s, dir),
        "event_type", "ts", "value")
    },

    // linear interpolation of missing hourly means on a deterministic
    // 1-in-7 sparsified stream (the sparsifier guarantees real gaps to
    // anchor the test): absent buckets get prev + (next−prev)·frac from
    // the nearest present neighbors; leading/trailing gaps stay null.
    "ts_interpolate" -> { (s, dir) =>
      graft.ops.TimeSeries.interpolate(
        Tables.events(s, dir).where(pmod(col("event_id"), lit(7)) === 0),
        "event_type", "ts", "value")
    },

    // recursive exponential smoothing (α=0.3) over gap-filled hourly
    // counts — ewmaₜ = 0.3·xₜ + 0.7·ewmaₜ₋₁, an ordered in-plan fold per
    // key that a recursive-CTE oracle replays step for step.
    "ts_ewma" -> { (s, dir) =>
      graft.ops.TimeSeries.ewma(Tables.events(s, dir),
        "event_type", "ts", 0.3)
    },

    // robust MAD anomalies: hourly buckets more than 3 MADs from their
    // type's median — the outlier rule a single spike cannot poison
    // (unlike ev_anomaly's trailing z-score, where the anomaly inflates
    // its own baseline). All thresholds stay exact integers (2·median
    // and 4·MAD of integer counts are integral), so the flag is a pure
    // integer comparison in both engines.
    "ts_anomaly" -> { (s, dir) =>
      graft.ops.TimeSeries.robustAnomalies(Tables.events(s, dir),
        "event_type", "ts")
    },

    // CUSUM change-point detection: the sequential level-shift detector,
    // run declaratively via the Sₜ = Pₜ − min(0, min Pᵢ) closed form —
    // two window passes over the gap-filled hourly series, everything
    // scaled into exact BIGINTs (see TimeSeries.cusum).
    "ts_cusum" -> { (s, dir) =>
      graft.ops.TimeSeries.cusum(Tables.events(s, dir), "event_type", "ts")
    },

    // hour-of-day seasonal profile: per-type seasonal index
    // (hour mean / overall mean), exact cross-products until one
    // 6dp-rounded division.
    "ts_seasonal" -> { (s, dir) =>
      graft.ops.TimeSeries.seasonalProfile(Tables.events(s, dir),
        "event_type", "ts")
    },

    // lagged cross-correlation between event-type series: Pearson r of
    // (xₜ, yₜ₊ₗ) for lags 0..3 from exact BIGINT moments; the only
    // float ops are casts, one IEEE sqrt, one division.
    "ts_xcorr" -> { (s, dir) =>
      graft.ops.TimeSeries.crossCorrelation(Tables.events(s, dir),
        "event_type", "ts")
    },

    // additive trend/seasonal/residual decomposition per type — STL's
    // idea in exact arithmetic (25-bucket moving mean trend, hour-of-day
    // seasonal of the detrended interior, shared-denominator residual;
    // one float division per component, no running float sums).
    "ts_decompose" -> { (s, dir) =>
      graft.ops.TimeSeries.decompose(Tables.events(s, dir),
        "event_type", "ts")
    },

    // Mann–Kendall monotone-trend test per type — the nonparametric "is
    // this metric trending" monitor: S over all T² bucket pairs,
    // tie-corrected Var(S)·18 integer-exact, one division+sqrt for z.
    "ts_mann_kendall" -> { (s, dir) =>
      graft.ops.TimeSeries.mannKendall(Tables.events(s, dir),
        "event_type", "ts")
    },

    // banded Theil–Sen robust trend slope per event type — the median
    // pairwise slope over the hourly grid, pairs ≤ 48 h apart (full
    // Theil–Sen is O(T²); the band is O(T·48) and local slopes carry
    // the trend signal). Median via explicit middle row_numbers — no
    // engine quantile interpolation to drift.
    "ts_theil_sen" -> { (s, dir) =>
      graft.ops.TimeSeries.theilSen(Tables.events(s, dir),
        "event_type", "ts")
    },

    // one-way ANOVA F across event types on the spend column — the
    // k-group generalization of stat_ttest. All moments exact (BIGINT
    // counts/sums, DECIMAL(38,0) squares); the one non-rational step,
    // A = Σᵢ Sᵢ²/nᵢ, is a FOLD over the k-bounded group array in sorted
    // event_type order, so both engines add the same doubles in the
    // same sequence (the text_search_topk portability rule — never let
    // an engine pick its own float summation order).
    "stat_anova" -> { (s, dir) =>
      graft.ops.Stats.fFromGroupMoments(
        graft.ops.Stats.groupMoments(Tables.events(s, dir),
          "event_type", "value"), Nil)
        .select(col("n"), col("k").as("n_groups"), col("f"))
    },

    // Poisson-bootstrap 95% CI for each type's mean spend — the
    // distributed bootstrap (per-row Poisson(1) multiplicities, never a
    // global resample); draws are md5-deterministic per (row key,
    // replicate), so any engine reproduces the band bit for bit.
    "stat_bootstrap" -> { (s, dir) =>
      graft.ops.Stats.poissonBootstrapCI(Tables.events(s, dir),
        "event_type", "value", col("event_id"), b = 40)
    },

    // CUPED variance-reduced A/B means: each user's post-cutoff spend
    // adjusted by their own pre-cutoff spend (θ pooled across arms) —
    // the adjusted means answer the same question as stat_ttest's raw
    // means with the between-user noise removed.
    "stat_cuped" -> { (s, dir) =>
      graft.ops.Stats.cupedMeans(Tables.events(s, dir),
        "user_id", "value", "ts", cutoff = "2024-01-15 00:00:00")
    },

    // Wald SPRT on the purchase-conversion stream per arm: H0 p=0.10
    // vs H1 p=0.20, trials in (ts, event_id) order — the sequential
    // decision an experiment platform reads live instead of waiting
    // for the fixed-horizon t-test.
    "ev_ab_sprt" -> { (s, dir) =>
      graft.ops.Stats.sprtDecision(Tables.events(s, dir),
        pmod(col("user_id"), lit(2)).cast("int"),
        col("event_type") === "purchase",
        Seq(col("ts"), col("event_id")), p0 = 0.10, p1 = 0.20)
    },

    // experiment sizing from observed moments: per event type, the
    // per-arm n needed to detect a 5% lift of that type's own mean at
    // α=0.05 / power 0.8 — n = 2σ²(z_{α/2}+z_β)²/δ². The z-sum square
    // is computed once in Scala and injected into both engines; σ² is
    // exact DECIMAL(38,0) until the final float chain, and the
    // fractional n is 6dp-rounded (never an ulp-fragile ceil).
    "stat_power" -> { (s, dir) =>
      val zsum2 = graft.ops.Stats.PowerZsum2 // (z_.025 + z_.20)²
      val x = graft.ops.Stats.cents(col("value"))
      val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val m = Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(x).as("sx"),
          sum(x.cast(d38) * x.cast(d38)).as("sxx"))
      val nD = col("n").cast(d38)
      val varC = (nD * col("sxx") - col("sx").cast(d38) * col("sx").cast(d38))
        .cast("double") /
        (nD * (nD - 1)).cast("double")
      val meanC = col("sx").cast("double") / col("n").cast("double")
      val delta = meanC * 0.05
      m.select(col("event_type"), col("n"),
        graft.ops.TimeSeries.portableRound6(meanC / 100.0).as("mean"),
        graft.ops.TimeSeries.portableRound6(sqrt(varC) / 100.0).as("sd"),
        graft.ops.TimeSeries.portableRound6(
          varC * lit(zsum2) * 2.0 / (delta * delta)).as("n_per_arm"))
    },

    // winsorized A/B means: spend capped at the POOLED p99 (exact
    // type-1 rank off the value-domain collapse — both arms capped by
    // the same bar), then per-arm means raw vs winsorized — the
    // whale-robust read whose variance a handful of outlier purchases
    // can't own. Exact integers until the final divisions.
    "stat_winsor" -> { (s, dir) =>
      val x = graft.ops.Stats.cents(col("value"))
      val base = Tables.events(s, dir)
        .where(col("event_type") === "purchase")
        .select(pmod(col("user_id"), lit(2)).cast("int").as("variant"),
          x.as("x"))
        .localCheckpoint() // consumed by the cap scan and the means scan
      val dom = base.groupBy(col("x")).agg(count(lit(1)).as("c"))
      val wOrd = org.apache.spark.sql.expressions.Window.orderBy(col("x"))
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1))
      val rank = floor((col("n") * 99 + 99) / 100) // ⌈0.99·n⌉
      val cap = dom
        .withColumn("cum", sum(col("c")).over(wOrd))
        .withColumn("n", sum(col("c")).over(wAll))
        .agg(min(when(col("cum") >= rank && col("cum") - col("c") < rank,
          col("x"))).as("cap"))
      def r6(c: org.apache.spark.sql.Column) =
        graft.ops.TimeSeries.portableRound6(c)
      base.crossJoin(broadcast(cap))
        .groupBy(col("variant"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(least(col("x"), col("cap"))).as("sw"),
          max(col("cap")).as("capc"))
        .select(col("variant"), col("n"),
          r6(col("sx").cast("double") / col("n").cast("double") / 100.0)
            .as("mean_raw"),
          r6(col("sw").cast("double") / col("n").cast("double") / 100.0)
            .as("mean_winsor"),
          (col("capc").cast("double") / 100.0).as("cap"))
    },

    // difference-in-differences: the arm-1 pre→post spend change minus
    // the arm-0 change — the causal estimate that survives a shared
    // time trend (ev_impact's counterfactual is a forecast; DiD's is
    // the control arm). Four exact cents means, fixed-order float chain.
    "stat_did" -> { (s, dir) =>
      val cut = lit("2024-01-15 00:00:00").cast("timestamp")
      val x = graft.ops.Stats.cents(col("value"))
      val m = Tables.events(s, dir)
        .groupBy(pmod(col("user_id"), lit(2)).cast("int").as("variant"),
          (col("ts") >= cut).as("post"))
        .agg(count(lit(1)).as("n"), sum(x).as("sx"))
      def mean(v: Int, p: Boolean) = {
        val c = max(when(col("variant") === v && col("post") === p,
          col("sx"))).cast("double") /
          max(when(col("variant") === v && col("post") === p,
            col("n"))).cast("double")
        c / 100.0
      }
      def r6(c: org.apache.spark.sql.Column) =
        graft.ops.TimeSeries.portableRound6(c)
      m.agg(
        r6(mean(0, false)).as("mean_c_pre"), r6(mean(0, true)).as("mean_c_post"),
        r6(mean(1, false)).as("mean_t_pre"), r6(mean(1, true)).as("mean_t_post"),
        r6((mean(1, true) - mean(1, false)) - (mean(0, true) - mean(0, false)))
          .as("did"))
    },

    // quantile treatment effect on purchase spend: exact type-1
    // quantiles (rank ceil(q·n) off the collapsed value-domain table —
    // never an engine interpolation rule) per arm, differenced — the
    // distributional read a mean-based t-test can't give.
    "stat_qte" -> { (s, dir) =>
      graft.ops.Stats.quantileTreatmentEffect(
        Tables.events(s, dir).where(col("event_type") === "purchase"),
        pmod(col("user_id"), lit(2)).cast("int"), "value")
    },

    // steady-state of the event-type Markov chain (where does a user's
    // session settle?): transition counts from per-user ordered streams,
    // then 3 rounds of x·P in EXACT scaled-integer floor arithmetic —
    // the graph_pagerank fixed-point discipline (identical bits in any
    // engine; dangling states drop their mass, fine for RANKING).
    // Everything past the one per-user shuffle is |types|²-bounded.
    "ev_markov_steady" -> { (s, dir) =>
      def fdiv(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        graft.ops.Stats.fdiv(a, b)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val cnts = Tables.events(s, dir)
        .select(col("event_type"),
          lead(col("event_type"), 1).over(w).as("next_type"))
        .where(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint() // |types|² rows; rows/states/iterations reuse it
      val rows = cnts.groupBy(col("event_type")).agg(sum(col("c")).as("r"))
      val states = cnts.select(col("event_type").as("st"))
        .unionAll(cnts.select(col("next_type").as("st"))).distinct()
      val pm = cnts.join(rows, "event_type")
      var x = states.select(col("st"), lit(1000000L).as("p"))
      for (_ <- 1 to 3) {
        val pin = pm.join(x, pm("event_type") === x("st"))
          .select(col("next_type").as("st2"),
            fdiv(col("p") * col("c"), col("r")).as("m"))
          .groupBy(col("st2")).agg(sum(col("m")).as("pin"))
        x = states.join(pin, states("st") === pin("st2"), "left")
          .select(col("st"), coalesce(col("pin"), lit(0L)).as("p"))
      }
      x.select(col("st").as("event_type"), col("p").as("steady_scaled"),
        (col("p") / lit(1000000.0)).as("steady"))
    },

    // autocorrelation of each type's hourly series at lags 1..24 — the
    // seasonality detector (daily cycle = peak at lag 24); the self-lag
    // member of the ts_xcorr family, same exact-moment machinery.
    "ts_acf" -> { (s, dir) =>
      graft.ops.TimeSeries.autocorrelation(Tables.events(s, dir),
        "event_type", "ts")
    },

    // banded exact matrix profile of each type's hourly series: per
    // 24 h subsequence, squared distance to its nearest neighbor 12–48 h
    // away — low = motif (repeated shape), high = discord (the most
    // anomalous window, the subsequence-level ts_anomaly). Exact BIGINT
    // rolling sums; the band is both the O(T·48) cost cap and the
    // trivial-match exclusion zone.
    "ts_motif" -> { (s, dir) =>
      graft.ops.TimeSeries.matrixProfile(Tables.events(s, dir),
        "event_type", "ts")
    },

    // Spearman rank correlation between per-user activity (event count)
    // and per-user total spend — the monotone-association test that
    // ignores the spend distribution's heavy tail. Tie-averaged ranks
    // via the same collapsed VALUE-DOMAIN trick as stat_mwu (2·avgrank
    // = 2·cumBefore + c + 1 on the distinct-value table; windows are
    // domain-bounded, never row-bounded), then Pearson on the doubled
    // ranks (scale-invariant) with every moment in DECIMAL(38,0) and
    // one sqrt + one division at the end.
    "stat_spearman" -> { (s, dir) =>
      val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val per = Tables.events(s, dir).groupBy(col("user_id"))
        .agg(count(lit(1)).as("a"),
          sum(graft.ops.Stats.cents(col("value"))).as("b"))
        .localCheckpoint() // three consumers (join left + both rank tables)
      def ranks2(src: org.apache.spark.sql.DataFrame, c: String, out: String) = {
        val grp = src.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
        val w = org.apache.spark.sql.expressions.Window.orderBy(col(c))
        grp.withColumn("cum", sum(col("cnt")).over(w))
          .select(col(c),
            (lit(2L) * (col("cum") - col("cnt")) + col("cnt") + 1).as(out))
      }
      val j = per.join(ranks2(per, "a", "ra"), "a").join(ranks2(per, "b", "rb"), "b")
      val m = j.agg(count(lit(1)).as("n"),
        sum(col("ra")).cast(d38).as("sa"), sum(col("rb")).cast(d38).as("sb"),
        sum(col("ra").cast(d38) * col("rb").cast(d38)).as("sab"),
        sum(col("ra").cast(d38) * col("ra").cast(d38)).as("saa"),
        sum(col("rb").cast(d38) * col("rb").cast(d38)).as("sbb"))
      // each variance factor stays exact DECIMAL(38,0) (safe to ~1e9
      // users); their PRODUCT is ~n⁸ and would overflow any fixed-width
      // integer long before that, so the factors cross to double first
      // — both engines, same spot, so the sqrt sees identical bits
      m.withColumn("den2",
          (col("n") * col("saa") - col("sa") * col("sa")).cast("double") *
            (col("n") * col("sbb") - col("sb") * col("sb")).cast("double"))
        .select(col("n").as("n_users"),
          when(col("den2") > 0, graft.ops.TimeSeries.portableRound4(
            (col("n") * col("sab") - col("sa") * col("sb")).cast("double") /
              sqrt(col("den2")))).as("rho"))
    },

    // Kendall tau-b between order quantity and discount — the
    // concordance-based association test. The pair census collapses to
    // the JOINT VALUE-DOMAIN table first (l_quantity × l_discount is a
    // dictionary-bounded ≤50×11 grid at ANY corpus size), so the O(n²)
    // pair space becomes one ≤550²-cell broadcast cross join of cell
    // COUNTS — concordant/discordant mass is Σ c_i·c_j over cells with
    // x_i<x_j, split by the y order. Tie terms Σt(t−1)/2 and the pair
    // total n(n−1)/2 stay exact DECIMAL(38,0); the two variance factors
    // cross to double BEFORE their product (their product is ~n⁴ and
    // would overflow any fixed width — the stat_spearman den2
    // discipline), one sqrt + one division at the end.
    "stat_kendall" -> { (s, dir) =>
      graft.ops.Stats.kendallTauB(
        Tables.lineitem(s, dir).select(
          col("l_quantity").cast("long").as("x"),
          (col("l_discount").cast("decimal(4,2)") * 100).cast("long")
            .as("y")),
        "x", "y")
    },

    // Kaplan–Meier survival over user lifetimes — the churn curve.
    // Lifetime = days between a user's first and last event; the death
    // is OBSERVED when the user went silent before the corpus horizon
    // DAY (else censored — still at risk through their lifetime,
    // contributing no drop; the one-day rule is the fixture-scaled
    // churn window — production would pass weeks). Everything collapses to the
    // lifetime-DAY domain table (calendar-bounded, never row-bounded):
    // at-risk n_t = total − Σ_{L<t} m_L via one domain window, and the
    // survival product folds over the sorted death-time array — prefix
    // slices replay the SAME left-to-right double sequence the
    // recursive oracle computes, so S(t) is bit-identical.
    "ev_survival" -> { (s, dir) =>
      val e = Tables.events(s, dir)
      val horizon = e.agg(max(col("ts")).cast("date").as("h"))
      graft.ops.Stats.kaplanMeier(
        e.groupBy(col("user_id"))
          .agg(min(col("ts")).cast("date").as("f"),
            max(col("ts")).cast("date").as("l"))
          .crossJoin(broadcast(horizon))
          .select(datediff(col("l"), col("f")).cast("long").as("t"),
            (datediff(col("h"), col("l")) > 0).as("dead")),
        "t", "dead")
    },

    // Mann–Whitney U — the nonparametric twin of stat_ttest on the same
    // variant split: tie-averaged ranks computed WITHOUT a row-level
    // global window (2·avgrank = 2·cumBefore + c + 1 on the collapsed
    // VALUE-GROUP table, whose size is the distinct-cents domain, not
    // the row count), rank sums and the tie correction Σ(t³−t) all
    // exact BIGINTs, then one double chain for the tie-corrected z².
    "stat_mwu" -> { (s, dir) =>
      val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val per = Tables.events(s, dir)
        .where(col("event_type") === "purchase")
        .select(pmod(col("user_id"), lit(2)).as("variant"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("x"))
      val grp = per.groupBy(col("x")).agg(
        count(lit(1)).as("c"),
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("c0"))
      // window over DISTINCT values — domain-bounded, never row-bounded
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("x"))
      val m = grp
        .withColumn("cum", sum(col("c")).over(w))
        .withColumn("ar2",
          lit(2L) * (col("cum") - col("c")) + col("c") + 1)
        .agg(sum(col("c0")).as("n0"),
          sum(col("c") - col("c0")).as("n1"),
          sum(col("c0") * col("ar2")).as("r2"),
          // c³ wraps BIGINT once one distinct value holds ~1.3M rows —
          // widen the OPERAND (the chi² lesson, applied r13)
          sum(col("c").cast(d38) * col("c").cast(d38) * col("c").cast(d38)
            - col("c").cast(d38)).as("tsum"))
        .withColumn("u2", col("r2") - col("n0") * (col("n0") + 1))
      val nn = col("n0") + col("n1")
      val a = col("n0") * col("n1")
      m.select(col("n0"), col("n1"), col("u2"),
        (round(((col("u2") - a).cast(d38) * (col("u2") - a).cast(d38))
          .cast("double") /
          (a.cast("double") / 3.0 *
            ((nn + 1).cast("double") -
              col("tsum").cast("double") / (nn * (nn - 1)).cast("double")))
          * 10000) / 10000).as("z2"))
    },

    // two-sample Kolmogorov–Smirnov on the same split: D = max |F₀−F₁|
    // as the EXACT rational max|n₁·cum₀ − n₀·cum₁|/(n₀·n₁) — the
    // distribution-shift detector, integer-exact up to one division.
    // Same collapsed-value-domain window as stat_mwu.
    "stat_ks" -> { (s, dir) =>
      val per = Tables.events(s, dir)
        .where(col("event_type") === "purchase")
        .select(pmod(col("user_id"), lit(2)).as("variant"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("x"))
      val grp = per.groupBy(col("x")).agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("a"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("b"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("x"))
      val tot = grp.agg(sum(col("a")).as("n0"), sum(col("b")).as("n1"))
      grp
        .withColumn("ca", sum(col("a")).over(w))
        .withColumn("cb", sum(col("b")).over(w))
        .crossJoin(broadcast(tot))
        .agg(first(col("n0")).as("n0"), first(col("n1")).as("n1"),
          max(abs(col("n1") * col("ca") - col("n0") * col("cb")))
            .as("d_num"))
        .select(col("n0"), col("n1"), col("d_num"),
          graft.ops.TimeSeries.portableRound6(
            col("d_num").cast("double") /
              (col("n0") * col("n1")).cast("double")).as("d"))
    },

    // sample-ratio-mismatch guardrail: the experiment-integrity check
    // run BEFORE reading any A/B result — distinct users per variant vs
    // the designed 50/50 split, χ² = (n₀−n₁)²/(n₀+n₁) with 1 df,
    // flagged past the 95% critical value. Exact until one division.
    "ev_ab_srm" -> { (s, dir) =>
      Tables.events(s, dir)
        .select(col("user_id")).distinct()
        .agg(
          sum(when(pmod(col("user_id"), lit(2)) === 0, 1L).otherwise(0L))
            .as("n0"),
          sum(when(pmod(col("user_id"), lit(2)) === 1, 1L).otherwise(0L))
            .as("n1"))
        .select(col("n0"), col("n1"),
          (round(((col("n0") - col("n1")) * (col("n0") - col("n1")))
            .cast("double") / (col("n0") + col("n1")).cast("double")
            * 10000) / 10000).as("chi2"),
          // critical-value test as a pure integer comparison
          // (χ² > 3.8415 ⇔ 10⁴·(n₀−n₁)² > 38415·N): no float threshold
          // for a borderline experiment to straddle
          ((col("n0") - col("n1")) * (col("n0") - col("n1")) * 10000L
            > lit(38415L) * (col("n0") + col("n1"))).as("srm"))
    },

    // chi-squared independence test: event_type × user-parity variant
    // contingency table; χ² = Σ (n·O − r·c)²/(n·r·c) with every count
    // product in DECIMAL(38,0) (see Stats.chi2Term — a BIGINT pairwise
    // product of counts wraps at ~9.2e18, the triple product in the
    // denominator first) and one double division per cell, 4dp-rounded
    // like the LM scores.
    "stat_chi2" -> { (s, dir) =>
      val cells = Tables.events(s, dir)
        .groupBy(col("event_type"),
          pmod(col("user_id"), lit(2)).as("variant"))
        .agg(count(lit(1)).as("o"))
      val rowt = cells.groupBy("event_type").agg(sum(col("o")).as("r"))
      val colt = cells.groupBy("variant").agg(sum(col("o")).as("c"))
      val tot = cells.agg(sum(col("o")).as("n"))
      cells.join(broadcast(rowt), "event_type")
        .join(broadcast(colt), "variant")
        .crossJoin(broadcast(tot))
        .withColumn("term",
          graft.ops.Stats.chi2Term(col("n"), col("o"), col("r"), col("c")))
        .agg(count(lit(1)).as("n_cells"),
          (count_distinct(col("event_type")) - 1).as("df"),
          (round(sum(col("term")) * 10000) / 10000).as("chi2"))
    },

    // association rules over per-user event-type baskets: pairwise
    // support, confidence, and lift — "users who do A also do B", the
    // co-occurrence signal behind cross-sell and feature-bundling
    // decisions. ONE shuffle on user_id builds sorted distinct-type
    // baskets; pairs expand MAP-SIDE from each basket (expansion bounded
    // by |event types|², never a self-join of the user×type table);
    // singles and the user count broadcast back onto the tiny pair
    // table. Lift = supp(ab)·N / (supp(a)·supp(b)) stays exact integer
    // products until one double division.
    "ev_cooccur" -> { (s, dir) =>
      val t = Tables.events(s, dir).select("user_id", "event_type").distinct()
      val singles = t.groupBy(col("event_type")).agg(count(lit(1)).as("supp"))
      val n = t.agg(count_distinct(col("user_id")).as("nu"))
      val baskets = t.groupBy("user_id")
        .agg(sort_array(collect_set(col("event_type"))).as("ts"))
      val pairs = baskets
        .select(explode(graft.ops.GraphOps.sortedPairs(col("ts"))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("supp_ab"))
      // DECIMAL products before the double cast: a BIGINT supp_a·supp_b
      // wraps once supports pass ~3e9 (exactness preserved — decimal
      // is as exact as the integer product, and the decimal→double
      // cast rounds once like the oracle's HUGEINT→double).
      val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      pairs
        .join(broadcast(singles.select(col("event_type").as("a"),
          col("supp").as("supp_a"))), "a")
        .join(broadcast(singles.select(col("event_type").as("b"),
          col("supp").as("supp_b"))), "b")
        .crossJoin(broadcast(n))
        .select(col("a"), col("b"), col("supp_ab"), col("supp_a"),
          col("supp_b"),
          graft.ops.TimeSeries.portableRound6(
            (d38(col("supp_ab")) * d38(col("nu"))).cast("double") /
              (d38(col("supp_a")) * d38(col("supp_b"))).cast("double"))
            .as("lift"),
          graft.ops.TimeSeries.portableRound6(
            col("supp_ab").cast("double") / col("supp_a").cast("double"))
            .as("confidence"))
    },

    // DAU/WAU engagement: per day, distinct active users, the trailing
    // 7-day active-user count, and the stickiness ratio — the product
    // health number. The rolling distinct needs no window machinery:
    // each (user, day) activity projects onto the 7 report days it
    // keeps the user "weekly active" for (a bounded ×7 map-side
    // expansion), then ONE distinct + count per day. Exact integers
    // until the rounded ratio.
    "ev_dau_wau" -> { (s, dir) =>
      val ud = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
      val wau = ud
        .select(col("user_id"), explode(sequence(col("day"),
          date_add(col("day"), 6))).as("day"))
        .distinct()
        .groupBy("day").agg(count(lit(1)).as("wau"))
      dau.join(wau, "day")
        .select(col("day"), col("dau"), col("wau"),
          graft.ops.TimeSeries.portableRound4(
            col("dau").cast("double") / col("wau").cast("double"))
            .as("stickiness"))
    },

    // Pareto concentration readout: the top-1% most active users' share
    // of all events — the "whales" number beside ev_gini's coefficient.
    // Per-user counts rank through the DISTRIBUTED range-rank (never a
    // one-task window); the 1% cutoff is the exact integer comparison
    // 100·(rank−1) < n_users (≡ rank ≤ ⌈n/100⌉), counts stay integers
    // until one rounded division.
    "ev_power_users" -> { (s, dir) =>
      val ranked = graft.ops.Relational.withGlobalRank(
          Tables.events(s, dir).groupBy("user_id")
            .agg(count(lit(1)).as("cnt")),
          Seq(col("cnt").desc, col("user_id").asc))
        .localCheckpoint() // rank once; totals and the cut both read it
      val totals = ranked.agg(count(lit(1)).as("n_users"),
        sum(col("cnt")).as("total_events"))
      val isTop = (col("rank") - 1) * 100 < col("n_users")
      ranked.crossJoin(broadcast(totals))
        .agg(first(col("n_users")).as("n_users"),
          first(col("total_events")).as("total_events"),
          sum(when(isTop, 1L).otherwise(0L)).as("n_top"),
          sum(when(isTop, col("cnt")).otherwise(0L)).as("top_events"))
        .select(col("n_users"), col("n_top"), col("total_events"),
          col("top_events"),
          graft.ops.TimeSeries.portableRound6(
            col("top_events").cast("double") /
              col("total_events").cast("double")).as("top_share"))
    },

    // Holt double exponential smoothing (α=0.3, β=0.1) over gap-filled
    // hourly counts — the trend-aware forecaster (a plain EWMA lags a
    // ramp forever); emits level, trend, and the one-step forecast per
    // bucket, replayed step for step by a recursive-CTE oracle.
    "ts_holt" -> { (s, dir) =>
      graft.ops.TimeSeries.holt(Tables.events(s, dir),
        "event_type", "ts", alpha = 0.3, beta = 0.1)
    },

    // causal-impact read: Holt fit on the PRE-period only, projected
    // over the post window in CLOSED FORM (Σ level+h·trend = H·level +
    // trend·H(H+1)/2 — no order-dependent float summation), compared to
    // post-period actuals. The "did the launch move the metric" card.
    "ev_impact" -> { (s, dir) =>
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      val ev = Tables.events(s, dir)
      val fit = graft.ops.TimeSeries.holt(ev.where(col("ts") < cut),
        "event_type", "ts", alpha = 0.3, beta = 0.1)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("bucket").desc)
      val last = fit.withColumn("rk", row_number().over(w))
        .where(col("rk") === 1)
        .select(col("event_type"), col("level"), col("trend"))
      val actual = ev.where(col("ts") >= cut)
        .groupBy(col("event_type")).agg(count(lit(1)).as("cum_actual"))
      // H = 336 post hours; H(H+1)/2 = 56616 — both exact literals
      val cf = col("level") * 336.0 + col("trend") * 56616.0
      val imp = col("cum_actual").cast("double") - cf
      def r6(c: org.apache.spark.sql.Column) =
        graft.ops.TimeSeries.portableRound6(c)
      last.join(actual, Seq("event_type"))
        .select(col("event_type"), col("level"), col("trend"),
          col("cum_actual"), r6(cf).as("cum_forecast"),
          r6(imp).as("impact"), r6(imp / cf).as("rel_effect"))
    },

    // additive Holt–Winters (period 24): the forecasting family's
    // seasonal completion — the oracle's recursive CTE carries a
    // rotating 24-slot seasonal list, the fold reads entry t−24 of its
    // own history; same sequence by construction.
    "ts_holtwinters" -> { (s, dir) =>
      graft.ops.TimeSeries.holtWinters(Tables.events(s, dir),
        "event_type", "ts")
    },

    // exact Gini coefficient of per-user purchase spend — the activity-
    // concentration number behind "whales vs long tail" decisions.
    // Spend travels as integer CENTS (decimal sum ×100), the global
    // rank is the distributed range-rank (never a one-task window; tie
    // order cannot change Σ rank·x between equal values), and
    // G = (2·Σ rank·x − (n+1)·Σx) / (n·Σx) stays exact integers until
    // one double division.
    "ev_gini" -> { (s, dir) =>
      val cents = graft.ops.Relational.withGlobalRank(
        Tables.events(s, dir).where(col("event_type") === "purchase")
          .groupBy("user_id")
          .agg((sum(col("value").cast("decimal(18,2)")) * 100)
            .cast("long").as("cents")),
        Seq(col("cents").asc, col("user_id").asc), "rank")
      cents.agg(count(lit(1)).as("n_users"), sum(col("cents")).as("total"),
          sum(col("rank") * col("cents")).as("rx"))
        .select(col("n_users"),
          graft.ops.TimeSeries.portableRound6(
            (lit(2L) * col("rx") - (col("n_users") + 1L) * col("total"))
              .cast("double") /
              (col("n_users") * col("total")).cast("double")).as("gini"))
    },

    // SAX-style shape census — ts_motif's SCALE PATH (the LSH-vs-exact
    // pattern for motifs): non-overlapping 24 h windows as 4-bit shape
    // words (bit j ⇔ segment j above window mean, the exact z-norm-free
    // symbolization), censused per type. Pure hash-agg arithmetic —
    // no window functions, nothing past the hourly aggregate.
    "ts_shapes" -> { (s, dir) =>
      graft.ops.TimeSeries.shapeCensus(Tables.events(s, dir),
        "event_type", "ts")
    },

    // DP-histogram plumbing: per-type event counts + calibrated
    // Laplace(1/ε) noise, ε=1 — the noise leg that composes with
    // gov_contrib_bound's bounded sensitivity. The noise draw is a
    // DETERMINISTIC stand-in (inverse-CDF over the md5 unit hash of
    // the key, so the oracle replays it bit for bit — the multimodal
    // stub discipline); production swaps the hash for secure
    // randomness, the calibration math is the real thing.
    "gov_dp_hist" -> { (s, dir) =>
      val eps = 1.0
      val u = CorpusOps.unitHash(col("event_type"))
      val noise = lit(-1.0 / eps) * signum(u - 0.5) *
        log(lit(1.0) - lit(2.0) * abs(u - 0.5))
      Tables.events(s, dir).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_true"))
        .select(col("event_type"), col("n_true"),
          (round(noise * 10000) / 10000).as("noise"),
          (round((col("n_true") + noise) * 10000) / 10000).as("n_noisy"))
    },

    // Benford first-digit audit over spend cents — the classic
    // fabricated-data detector (organic amounts follow log₁₀(1+1/d);
    // synthetic or capped values don't): exact per-digit counts, the
    // expected Benford mass as a Scala-injected literal (identical in
    // both engines), and the absolute deviation per digit. The
    // validation-family companion to validate_events' domain rules.
    "ev_benford" -> { (s, dir) =>
      val benford = (1 to 9).map(d => math.log10(1.0 + 1.0 / d))
      val bArr = array(benford.map(lit): _*)
      val digits = Tables.events(s, dir)
        .select((col("value").cast("decimal(18,2)") * 100)
          .cast("decimal(38,0)").as("x"))
        .where(col("x") > 0)
        .select(substring(col("x").cast("string"), 1, 1).cast("int")
          .as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
        .localCheckpoint() // 9 rows; the total agg must not rescan events
      val frac = col("n").cast("double") / col("tot").cast("double")
      digits.crossJoin(broadcast(digits.agg(sum(col("n")).as("tot"))))
        .select(col("digit").cast("long").as("digit"), col("n"),
          graft.ops.TimeSeries.portableRound6(frac).as("frac"),
          // 6dp: DuckDB parses the injected literal through a decimal
          // intermediate and lands one ulp off the Scala double — the
          // one case the raw-literal trick doesn't cover (ndcg's
          // literals always flow into a rounded product; this column
          // is output bare)
          graft.ops.TimeSeries.portableRound6(
            element_at(bArr, col("digit"))).as("expected"),
          graft.ops.TimeSeries.portableRound6(
            abs(frac - element_at(bArr, col("digit")))).as("dev"))
    },

    // time-to-conversion distribution: each click's lag to its user's
    // next purchase (forward as-of), exact integer seconds into one
    // two-quantile percentile buffer — the funnel-latency readout.
    "ev_conversion_lag" -> { (s, dir) =>
      val e = Tables.events(s, dir)
      val clicks = e.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("ts").as("pts"))
      // exact MICROSECOND lags: unix_timestamp would floor to seconds,
      // which DuckDB's fractional epoch() does not — integer micros are
      // identical in both engines.
      val ep = (c: org.apache.spark.sql.Column) =>
        unix_micros(c.cast("timestamp"))
      graft.ops.Relational.asOfJoinForward(clicks, purchases,
          Seq("user_id"), "ts", "pts", "npts")
        .where(col("npts").isNotNull)
        .select((ep(col("npts")) - ep(col("ts"))).as("lag_us"))
        .agg(count(lit(1)).as("n_converted"),
          expr("percentile(lag_us, array(0.5D, 0.9D))").as("ps"))
        .select(col("n_converted"),
          round(element_at(col("ps"), 1) / 1000000.0, 4).as("p50_sec"),
          round(element_at(col("ps"), 2) / 1000000.0, 4).as("p90_sec"))
    },

    // session-level rollup: wf_sessionize's session assignment carried
    // into per-session facts — event count, exact integer duration in
    // microseconds, conversion flag — the table session-based analytics
    // (length distributions, conversion-by-depth) reads. Both window
    // passes and the final aggregate share ONE user_id shuffle.
    "ev_session_stats" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val ep = unix_micros(col("ts").cast("timestamp"))
      val gap = ep - lag(ep, 1).over(w) > 1800L * 1000000L
      Tables.events(s, dir)
        .withColumn("session_seq",
          sum(when(coalesce(gap, lit(false)), 1L).otherwise(0L)).over(w))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(count(lit(1)).as("n_events"),
          (max(ep) - min(ep)).as("duration_us"),
          max(col("event_type") === "purchase").as("converted"))
    },

    // inter-arrival gap distribution per event type: consecutive-event
    // gaps within each (user, type) stream in exact integer MICROseconds
    // (the proven conversion-lag discipline), one shuffle on the
    // (user, type) window key, then a |types|-row quantile aggregate —
    // the hazard/engagement-cadence readout.
    "ev_interarrival" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val ep = unix_micros(col("ts").cast("timestamp"))
      Tables.events(s, dir)
        .withColumn("prev_us", lag(ep, 1).over(w))
        .where(col("prev_us").isNotNull)
        .select(col("event_type"), (ep - col("prev_us")).as("gap_us"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_gaps"),
          expr("percentile(gap_us, array(0.5D, 0.9D))").as("ps"))
        .select(col("event_type"), col("n_gaps"),
          round(element_at(col("ps"), 1) / 1000000.0, 4).as("p50_sec"),
          round(element_at(col("ps"), 2) / 1000000.0, 4).as("p90_sec"))
    },

    // seasonal-naive backtest: predict each hour's count with the count
    // 24h earlier on the gap-filled grid; exact-integer MAE/bias per
    // type — the baseline any forecaster must beat.
    "ts_forecast" -> { (s, dir) =>
      graft.ops.TimeSeries.seasonalNaiveBacktest(Tables.events(s, dir),
        "event_type", "ts", season = 24)
    },

    // tomorrow's number WITH its uncertainty: seasonal-naive next-bucket
    // point + the p90 |residual| band from the backtest history — all
    // integer arithmetic end to end (no float for engines to disagree on).
    "ts_forecast_interval" -> { (s, dir) =>
      graft.ops.TimeSeries.forecastInterval(Tables.events(s, dir),
        "event_type", "ts", season = 24, qNum = 9, qDen = 10)
    },

    // weekly cohort retention: users bucketed by first-seen week; count
    // distinct active users per (cohort week, week offset).
    // cohort LTV curves — the money companion to the ev_cohort retention
    // triangle: cumulative spend per signup-week cohort by week offset,
    // normalized per cohort member. Cents-exact sums and cumulative
    // window (cohort×offset grid-bounded); ONE division at the end.
    "ev_ltv" -> { (s, dir) =>
      val e = Tables.events(s, dir)
      val cohort = e.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).as("cohort_ts"))
      val per = e.where(col("event_type") === "purchase")
        .select(col("user_id"), date_trunc("week", col("ts")).as("wk"),
          graft.ops.Stats.cents(col("value")).as("cents"))
        .join(cohort, "user_id")
        .groupBy(col("cohort_ts"),
          (datediff(col("wk"), col("cohort_ts")) / lit(7)).cast("long")
            .as("week_offset"))
        .agg(sum(col("cents")).as("spend_cents"))
      val sizes = cohort.groupBy(col("cohort_ts"))
        .agg(count(lit(1)).as("n_users"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cohort_ts")).orderBy(col("week_offset"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      per.withColumn("cum", sum(col("spend_cents")).over(w))
        .join(sizes, "cohort_ts")
        .select(col("cohort_ts").cast("date").as("cohort_week"),
          col("week_offset"), col("n_users"), col("spend_cents"),
          graft.ops.TimeSeries.portableRound4(
            col("cum").cast("double") /
              (lit(100L) * col("n_users")).cast("double")).as("ltv_per_user"))
    },

    "ev_cohort" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val first = ev.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).as("cohort_ts"))
      val act = ev.select(col("user_id"),
        date_trunc("week", col("ts")).as("wk")).distinct()
      first.join(act, "user_id")
        .groupBy(col("cohort_ts").cast("date").as("cohort_week"),
          (datediff(col("wk"), col("cohort_ts")) / lit(7)).cast("long")
            .as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    },

    // POINT-IN-TIME-CORRECT feature snapshot — the no-label-leakage
    // training-set builder: for each label event (purchase), every
    // feature is computed from the user's events STRICTLY BEFORE it in
    // (ts, event_id) order — a frame ending at 1 PRECEDING, so the label
    // row itself and anything after it can never leak into its own
    // features (the bug that makes offline AUC a lie). One user_id
    // shuffle; running counts are window sums, spend history goes
    // through cents (a double running sum is order-dependent across
    // engines), recency in exact integer micros.
    "ev_feature_snapshot" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      def nType(t: String) = coalesce(
        sum(when(col("event_type") === t, 1L).otherwise(0L)).over(w), lit(0L))
      val ep = (c: org.apache.spark.sql.Column) =>
        unix_micros(c.cast("timestamp"))
      Tables.events(s, dir)
        .withColumn("n_before", count(lit(1)).over(w))
        .withColumn("clicks_before", nType("click"))
        .withColumn("views_before", nType("view"))
        .withColumn("errors_before", nType("error"))
        .withColumn("spend_before_cents", coalesce(
          sum(when(col("event_type") === "purchase",
            graft.ops.Stats.cents(col("value"))).otherwise(0L)).over(w),
          lit(0L)))
        .withColumn("micros_since_prev", ep(col("ts")) - ep(max(col("ts")).over(w)))
        .where(col("event_type") === "purchase")
        .select(col("event_id").as("label_id"), col("user_id"),
          col("n_before"), col("clicks_before"), col("views_before"),
          col("errors_before"), col("spend_before_cents"),
          col("micros_since_prev"))
    }
  )

  /** Gap-filled hourly count series per event_type — the shared grid the
    * ts_cusum / ts_seasonal / ts_xcorr oracles all start from (the same
    * fill rule as ts_resample: every type covers every hour between its
    * first and last active hour; silent hours get n = 0). */
  /** Exact-moment lag-1..3 autocorrelation chain over the hourly
    * grid — CTEs sr..r yielding r(k, nn, r1, r2, r3) — shared by the
    * ts_ljungbox and ts_pacf oracles (ADVICE r12: the chain was
    * duplicated verbatim; a fix to one twin could silently miss the
    * other). Each r_m is the standard lag-m sample autocorrelation
    * expanded to exact HUGEINT moments (nn^2*sxy_m - nn*s*(sh+st) +
    * (nn-m)*s^2) / (nn*sxx - s^2) / nn, null when the series is
    * constant or shorter than the lag. */
  private val rhoLag123Ctes: String =
    """sr AS (SELECT event_type AS k,
      |    CAST(epoch(bucket) AS BIGINT) // 3600 AS h, n FROM ff),
      |tot AS (SELECT k, CAST(count(*) AS BIGINT) AS nn,
      |    CAST(sum(n) AS HUGEINT) AS s,
      |    sum(CAST(n AS HUGEINT) * CAST(n AS HUGEINT)) AS sxx
      |  FROM sr GROUP BY 1),
      |l AS (SELECT a.k, lg.lag,
      |    sum(CAST(a.n AS HUGEINT) * CAST(b.n AS HUGEINT)) AS sxy,
      |    CAST(sum(a.n) AS HUGEINT) AS sh,
      |    CAST(sum(b.n) AS HUGEINT) AS st
      |  FROM sr a
      |  JOIN (SELECT unnest([1, 2, 3]) AS lag) lg ON true
      |  JOIN sr b ON b.k = a.k AND b.h = a.h + lg.lag
      |  GROUP BY 1, 2),
      |p AS (SELECT k,
      |    max(CASE WHEN lag = 1 THEN sxy END) AS sxy1,
      |    max(CASE WHEN lag = 1 THEN sh END) AS sh1,
      |    max(CASE WHEN lag = 1 THEN st END) AS st1,
      |    max(CASE WHEN lag = 2 THEN sxy END) AS sxy2,
      |    max(CASE WHEN lag = 2 THEN sh END) AS sh2,
      |    max(CASE WHEN lag = 2 THEN st END) AS st2,
      |    max(CASE WHEN lag = 3 THEN sxy END) AS sxy3,
      |    max(CASE WHEN lag = 3 THEN sh END) AS sh3,
      |    max(CASE WHEN lag = 3 THEN st END) AS st3
      |  FROM l GROUP BY 1),
      |j AS (SELECT tot.k, tot.nn, tot.s, tot.sxx,
      |    p.sxy1, p.sh1, p.st1, p.sxy2, p.sh2, p.st2,
      |    p.sxy3, p.sh3, p.st3
      |  FROM tot LEFT JOIN p USING (k)),
      |r AS (SELECT k, nn,
      |    CASE WHEN CAST(nn AS HUGEINT) * sxx - s * s > 0
      |          AND sxy1 IS NOT NULL THEN
      |      CAST(CAST(nn AS HUGEINT) * CAST(nn AS HUGEINT) * sxy1
      |          - CAST(nn AS HUGEINT) * s * (sh1 + st1)
      |          + (CAST(nn AS HUGEINT) - 1) * s * s AS DOUBLE)
      |        / CAST(CAST(nn AS HUGEINT) * sxx - s * s AS DOUBLE)
      |        / CAST(nn AS DOUBLE) END AS r1,
      |    CASE WHEN CAST(nn AS HUGEINT) * sxx - s * s > 0
      |          AND sxy2 IS NOT NULL THEN
      |      CAST(CAST(nn AS HUGEINT) * CAST(nn AS HUGEINT) * sxy2
      |          - CAST(nn AS HUGEINT) * s * (sh2 + st2)
      |          + (CAST(nn AS HUGEINT) - 2) * s * s AS DOUBLE)
      |        / CAST(CAST(nn AS HUGEINT) * sxx - s * s AS DOUBLE)
      |        / CAST(nn AS DOUBLE) END AS r2,
      |    CASE WHEN CAST(nn AS HUGEINT) * sxx - s * s > 0
      |          AND sxy3 IS NOT NULL THEN
      |      CAST(CAST(nn AS HUGEINT) * CAST(nn AS HUGEINT) * sxy3
      |          - CAST(nn AS HUGEINT) * s * (sh3 + st3)
      |          + (CAST(nn AS HUGEINT) - 3) * s * s AS DOUBLE)
      |        / CAST(CAST(nn AS HUGEINT) * sxx - s * s AS DOUBLE)
      |        / CAST(nn AS DOUBLE) END AS r3
      |  FROM j)""".stripMargin

  private[queries] val hourlyGridCtes: String =
    """hh AS (SELECT event_type, date_trunc('hour', ts) AS bucket,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |sp AS (SELECT event_type, min(bucket) AS b0, max(bucket) AS b1
      |       FROM hh GROUP BY 1),
      |gg AS (SELECT event_type,
      |    unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
      |  FROM sp),
      |ff AS (SELECT gg.event_type, gg.bucket, coalesce(hh.n, 0) AS n
      |  FROM gg LEFT JOIN hh
      |    ON gg.event_type = hh.event_type AND gg.bucket = hh.bucket)""".stripMargin

  val oracles: Map[String, String] = Map(
    "ev_ltv_discounted" -> {
      val table = discountMicros.mkString("[", ", ", "]")
      s"""WITH f AS (SELECT user_id, min(ts) AS first_ts
         |           FROM events GROUP BY user_id),
         |j AS (SELECT e.user_id,
         |    CAST(date_trunc('day', f.first_ts) AS DATE) AS cohort_day,
         |    CASE WHEN e.event_type = 'purchase' THEN
         |      CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT) *
         |        ($table)[least(date_diff('day', CAST(f.first_ts AS DATE),
         |                                 CAST(e.ts AS DATE)), 366) + 1]
         |    ELSE 0 END AS ltv_micros
         |  FROM events e JOIN f USING (user_id))
         |SELECT cohort_day,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         |  round(CAST(sum(ltv_micros) AS DOUBLE)
         |      / CAST(count(DISTINCT user_id) AS DOUBLE)
         |      / 100000000.0 * 1000000) / 1000000 AS ltv_per_user
         |FROM j GROUP BY 1""".stripMargin
    },

    "stat_mde" -> {
      val zp = graft.ops.Stats.PowerZsum2Pico
      s"""WITH m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS DECIMAL(38,0)) AS sx,
         |    sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx,
         |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n0,
         |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n1
         |  FROM (SELECT event_type, ((user_id % 2) + 2) % 2 AS variant,
         |      CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
         |    FROM events)
         |  GROUP BY 1),
         |f AS (SELECT event_type, n0, n1,
         |    CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE)
         |      / CAST(CAST(n AS DECIMAL(38,0))
         |          * (CAST(n AS DECIMAL(38,0)) - 1) AS DOUBLE) AS varc,
         |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS meanc
         |  FROM m),
         |g AS (SELECT event_type, n0, n1, meanc,
         |    sqrt(varc * (CAST($zp AS DOUBLE) / 1000000000000.0)
         |      * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))
         |      AS mde_abs_c
         |  FROM f)
         |SELECT event_type, n0, n1,
         |  round(meanc / 100.0 * 1000000) / 1000000 AS mean,
         |  round(mde_abs_c / 100.0 * 1000000) / 1000000 AS mde_abs,
         |  round(mde_abs_c / meanc * 1000000) / 1000000 AS mde_rel
         |FROM g""".stripMargin
    },

    "stat_permutation" ->
      """WITH base AS (SELECT event_type, ((user_id % 2) + 2) % 2 AS variant,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
        |    event_id
        |  FROM events),
        |obs AS (SELECT event_type,
        |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n0,
        |    CAST(sum(CASE WHEN variant = 0 THEN x END) AS BIGINT) AS sx0,
        |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1,
        |    CAST(sum(CASE WHEN variant = 1 THEN x END) AS BIGINT) AS sx1
        |  FROM base GROUP BY 1),
        |obsd AS (SELECT event_type, n0, n1,
        |    CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE)
        |      - CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS diff_obs
        |  FROM obs),
        |ex AS (SELECT event_type, x,
        |    md5(CAST(event_id AS VARCHAR)) AS h,
        |    unnest(range(0, 40)) AS i FROM base),
        |arm AS (SELECT event_type, i, x,
        |    (CAST(('0x' || substr(h, CAST(i // 4 AS INT) + 1, 1)) AS INTEGER)
        |      >> CAST(i % 4 AS INT)) & 1 AS arm
        |  FROM ex),
        |pm AS (SELECT event_type, i,
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS pn0,
        |    CAST(sum(CASE WHEN arm = 0 THEN x END) AS BIGINT) AS psx0,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS pn1,
        |    CAST(sum(CASE WHEN arm = 1 THEN x END) AS BIGINT) AS psx1
        |  FROM arm GROUP BY 1, 2),
        |pd AS (SELECT event_type,
        |    CAST(psx0 AS DOUBLE) / CAST(pn0 AS DOUBLE)
        |      - CAST(psx1 AS DOUBLE) / CAST(pn1 AS DOUBLE) AS diff_i
        |  FROM pm)
        |SELECT p.event_type,
        |  CAST(max(o.n0) AS BIGINT) AS n0,
        |  CAST(max(o.n1) AS BIGINT) AS n1,
        |  CAST(sum(CASE WHEN abs(diff_i) >= abs(o.diff_obs)
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
        |  round(CAST(sum(CASE WHEN abs(diff_i) >= abs(o.diff_obs)
        |                      THEN 1 ELSE 0 END) + 1 AS DOUBLE)
        |      / 41.0 * 1000000) / 1000000 AS p_value
        |FROM pd p JOIN obsd o USING (event_type)
        |GROUP BY 1""".stripMargin,

    "stat_tost" ->
      """WITH per AS (SELECT event_type, ((user_id % 2) + 2) % 2 AS variant,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0)) AS x
        |  FROM events),
        |m AS (SELECT event_type,
        |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    sum(CASE WHEN variant = 0 THEN x END) AS sx0,
        |    sum(CASE WHEN variant = 0 THEN x * x END) AS sxx0,
        |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    sum(CASE WHEN variant = 1 THEN x END) AS sx1,
        |    sum(CASE WHEN variant = 1 THEN x * x END) AS sxx1
        |  FROM per GROUP BY 1),
        |c AS (SELECT event_type, n0, n1,
        |    CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS mean0c,
        |    CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS mean1c,
        |    CAST(CAST(n0 AS DECIMAL(38,0)) * sxx0 - sx0 * sx0 AS DOUBLE)
        |      / CAST(CAST(n0 AS DECIMAL(38,0))
        |             * (CAST(n0 AS DECIMAL(38,0)) - 1) AS DOUBLE)
        |      / CAST(n0 AS DOUBLE)
        |    + CAST(CAST(n1 AS DECIMAL(38,0)) * sxx1 - sx1 * sx1 AS DOUBLE)
        |      / CAST(CAST(n1 AS DECIMAL(38,0))
        |             * (CAST(n1 AS DECIMAL(38,0)) - 1) AS DOUBLE)
        |      / CAST(n1 AS DOUBLE) AS se2,
        |    abs(CAST(sx0 + sx1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)) * 0.05
        |      AS margin
        |  FROM m),
        |t AS (SELECT event_type, n0, n1, mean0c, mean1c, se2,
        |    (mean0c - mean1c + margin) / sqrt(se2) AS t_low_r,
        |    (mean0c - mean1c - margin) / sqrt(se2) AS t_up_r
        |  FROM c)
        |SELECT event_type, n0, n1,
        |  round(mean0c / 100.0 * 1000000) / 1000000 AS mean0,
        |  round(mean1c / 100.0 * 1000000) / 1000000 AS mean1,
        |  round(CASE WHEN se2 > 0 THEN t_low_r END * 1000000) / 1000000
        |    AS t_low,
        |  round(CASE WHEN se2 > 0 THEN t_up_r END * 1000000) / 1000000
        |    AS t_up,
        |  CASE WHEN se2 > 0 THEN
        |    CASE WHEN t_low_r > 1.644854 AND t_up_r < -1.644854
        |         THEN 1 ELSE 0 END END AS equiv
        |FROM t""".stripMargin,

    "stat_trimmed" ->
      """WITH per AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0)) AS x
        |  FROM events),
        |g AS (SELECT event_type, x, CAST(count(*) AS BIGINT) AS c
        |  FROM per GROUP BY 1, 2),
        |w AS (SELECT event_type, x, c,
        |    CAST(sum(c) OVER
        |      (PARTITION BY event_type ORDER BY x) AS BIGINT) AS cum_end,
        |    CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM g),
        |k AS (SELECT *, n // 10 AS k FROM w),
        |kk AS (SELECT *,
        |    greatest(CAST(0 AS BIGINT),
        |      least(cum_end, n - k) - greatest(cum_end - c, k)) AS kept
        |  FROM k)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |  CAST(sum(kept) AS BIGINT) AS n_kept,
        |  round(CAST(sum(x * CAST(kept AS DECIMAL(38,0))) AS DOUBLE)
        |    / CAST(sum(kept) AS DOUBLE)
        |    / 100.0 * 1000000) / 1000000 AS trimmed_mean,
        |  round(CAST(sum(x * CAST(c AS DECIMAL(38,0))) AS DOUBLE)
        |    / CAST(max(n) AS DOUBLE)
        |    / 100.0 * 1000000) / 1000000 AS mean
        |FROM kk GROUP BY 1""".stripMargin,

    "ts_changepoint" ->
      s"""WITH $hourlyGridCtes,
         |s AS (SELECT event_type, bucket, n,
         |    CAST(row_number() OVER
         |      (PARTITION BY event_type ORDER BY bucket) AS BIGINT) AS t,
         |    CAST(sum(n) OVER
         |      (PARTITION BY event_type ORDER BY bucket) AS BIGINT) AS sl,
         |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS tt,
         |    CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS stot
         |  FROM ff),
         |g AS (SELECT event_type, bucket, t, tt, sl, stot - sl AS sr, stot
         |  FROM s WHERE t < tt),
         |v AS (SELECT event_type, bucket, t, tt, sl, sr,
         |    CAST(CAST(sl AS DECIMAL(38,0)) * CAST(sl AS DECIMAL(38,0))
         |      AS DOUBLE) / CAST(t AS DOUBLE)
         |    + CAST(CAST(sr AS DECIMAL(38,0)) * CAST(sr AS DECIMAL(38,0))
         |      AS DOUBLE) / CAST(tt - t AS DOUBLE)
         |    - CAST(CAST(stot AS DECIMAL(38,0)) * CAST(stot AS DECIMAL(38,0))
         |      AS DOUBLE) / CAST(tt AS DOUBLE) AS gain
         |  FROM g),
         |rk AS (SELECT *, row_number() OVER
         |    (PARTITION BY event_type ORDER BY gain DESC, t) AS rn FROM v)
         |SELECT event_type, t AS t_split, bucket AS split_bucket,
         |  tt AS n_hours,
         |  round(gain * 1000000) / 1000000 AS gain,
         |  round(CAST(sl AS DOUBLE) / CAST(t AS DOUBLE) * 1000000) / 1000000
         |    AS mean_before,
         |  round(CAST(sr AS DOUBLE) / CAST(tt - t AS DOUBLE) * 1000000)
         |    / 1000000 AS mean_after
         |FROM rk WHERE rn = 1""".stripMargin,

    "ts_granger" ->
      s"""WITH $hourlyGridCtes,
         |sr AS (SELECT event_type AS k,
         |    CAST(epoch(bucket) AS BIGINT) // 3600 AS h, n FROM ff),
         |r AS (SELECT cl.k AS cause, e.k AS effect,
         |    e.n AS y, el.n AS yl, cl.n AS xl
         |  FROM sr e JOIN sr el ON el.h + 1 = e.h AND el.k = e.k
         |            JOIN sr cl ON cl.h + 1 = e.h AND cl.k <> e.k),
         |m AS (SELECT cause, effect, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(y) AS HUGEINT) AS sy,
         |    CAST(sum(yl) AS HUGEINT) AS syl,
         |    CAST(sum(xl) AS HUGEINT) AS sxl,
         |    CAST(sum(y * y) AS HUGEINT) AS syy,
         |    CAST(sum(y * yl) AS HUGEINT) AS syyl,
         |    CAST(sum(y * xl) AS HUGEINT) AS syxl,
         |    CAST(sum(yl * yl) AS HUGEINT) AS syl2,
         |    CAST(sum(xl * xl) AS HUGEINT) AS sxl2,
         |    CAST(sum(yl * xl) AS HUGEINT) AS sylxl
         |  FROM r GROUP BY 1, 2),
         |d AS (SELECT *,
         |    CAST(n AS HUGEINT) * (syl2 * sxl2 - sylxl * sylxl)
         |      - syl * (syl * sxl2 - sxl * sylxl)
         |      + sxl * (syl * sylxl - syl2 * sxl) AS detu,
         |    sy * sy * (syl2 * sxl2 - sylxl * sylxl)
         |      + syyl * syyl * (CAST(n AS HUGEINT) * sxl2 - sxl * sxl)
         |      + syxl * syxl * (CAST(n AS HUGEINT) * syl2 - syl * syl)
         |      - 2 * sy * syyl * (syl * sxl2 - sxl * sylxl)
         |      + 2 * sy * syxl * (syl * sylxl - syl2 * sxl)
         |      - 2 * syyl * syxl * (CAST(n AS HUGEINT) * sylxl - syl * sxl)
         |      AS q,
         |    CAST(n AS HUGEINT) * syl2 - syl * syl AS detr,
         |    sy * sy * syl2 + syyl * syyl * CAST(n AS HUGEINT)
         |      - 2 * sy * syyl * syl AS qr
         |  FROM m),
         |v AS (SELECT *,
         |    CAST(syy AS DOUBLE) - CAST(q AS DOUBLE) / CAST(detu AS DOUBLE)
         |      AS rss_u_r,
         |    CAST(syy AS DOUBLE) - CAST(qr AS DOUBLE) / CAST(detr AS DOUBLE)
         |      AS rss_r_r
         |  FROM d)
         |SELECT cause, effect, n,
         |  round(CASE WHEN detr > 0 AND detu > 0 THEN rss_r_r END
         |    * 1000000) / 1000000 AS rss_r,
         |  round(CASE WHEN detr > 0 AND detu > 0 THEN rss_u_r END
         |    * 1000000) / 1000000 AS rss_u,
         |  round(CASE WHEN detr > 0 AND detu > 0 AND rss_u_r > 0
         |      THEN (rss_r_r - rss_u_r) * (CAST(n AS DOUBLE) - 3.0)
         |           / rss_u_r END
         |    * 1000000) / 1000000 AS f_granger
         |FROM v""".stripMargin,

    "ts_periodogram" -> {
      val c24 = graft.ops.TimeSeries.cosMicros(24).mkString("[", ", ", "]")
      val s24 = graft.ops.TimeSeries.sinMicros(24).mkString("[", ", ", "]")
      val c168 = graft.ops.TimeSeries.cosMicros(168).mkString("[", ", ", "]")
      val s168 = graft.ops.TimeSeries.sinMicros(168).mkString("[", ", ", "]")
      s"""WITH $hourlyGridCtes,
         |sr AS (SELECT event_type,
         |    CAST(epoch(bucket) AS BIGINT) // 3600 AS h, n FROM ff),
         |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nh,
         |    CAST(sum(n) AS HUGEINT) AS s,
         |    sum(CAST(n AS HUGEINT) * CAST(n AS HUGEINT)) AS snn,
         |    sum(CAST(n AS HUGEINT) * ($c24)[CAST(h % 24 AS INT) + 1]) AS snc24,
         |    CAST(sum(($c24)[CAST(h % 24 AS INT) + 1]) AS HUGEINT) AS sc24,
         |    sum(CAST(n AS HUGEINT) * ($s24)[CAST(h % 24 AS INT) + 1]) AS sns24,
         |    CAST(sum(($s24)[CAST(h % 24 AS INT) + 1]) AS HUGEINT) AS ss24,
         |    sum(CAST(n AS HUGEINT) * ($c168)[CAST(h % 168 AS INT) + 1]) AS snc168,
         |    CAST(sum(($c168)[CAST(h % 168 AS INT) + 1]) AS HUGEINT) AS sc168,
         |    sum(CAST(n AS HUGEINT) * ($s168)[CAST(h % 168 AS INT) + 1]) AS sns168,
         |    CAST(sum(($s168)[CAST(h % 168 AS INT) + 1]) AS HUGEINT) AS ss168
         |  FROM sr GROUP BY 1),
         |d AS (SELECT event_type, nh,
         |    CAST(nh AS HUGEINT) * snn - s * s AS vnum,
         |    CAST(nh AS HUGEINT) * snc24 - s * sc24 AS a24,
         |    CAST(nh AS HUGEINT) * sns24 - s * ss24 AS b24,
         |    CAST(nh AS HUGEINT) * snc168 - s * sc168 AS a168,
         |    CAST(nh AS HUGEINT) * sns168 - s * ss168 AS b168
         |  FROM m),
         |v AS (SELECT event_type, nh, CAST(nh AS DOUBLE) AS nd,
         |    CAST(vnum AS DOUBLE)
         |      / (CAST(nh AS DOUBLE) * CAST(nh AS DOUBLE)) AS vard,
         |    CAST(a24 AS DOUBLE) AS a24d, CAST(b24 AS DOUBLE) AS b24d,
         |    CAST(a168 AS DOUBLE) AS a168d, CAST(b168 AS DOUBLE) AS b168d
         |  FROM d)
         |SELECT event_type, nh AS n_hours,
         |  round(2.0 * sqrt(a24d * a24d + b24d * b24d)
         |    / (nd * nd * 1000000.0) * 1000000) / 1000000 AS amp_24,
         |  round(CASE WHEN vard > 0 THEN
         |      2.0 * (a24d * a24d + b24d * b24d)
         |        / ((nd * nd * 1000000.0) * (nd * nd * 1000000.0)) / vard
         |    END * 1000000) / 1000000 AS strength_24,
         |  round(2.0 * sqrt(a168d * a168d + b168d * b168d)
         |    / (nd * nd * 1000000.0) * 1000000) / 1000000 AS amp_168,
         |  round(CASE WHEN vard > 0 THEN
         |      2.0 * (a168d * a168d + b168d * b168d)
         |        / ((nd * nd * 1000000.0) * (nd * nd * 1000000.0)) / vard
         |    END * 1000000) / 1000000 AS strength_168
         |FROM v""".stripMargin
    },

    "ts_permentropy" ->
      s"""WITH $hourlyGridCtes,
         |sr AS (SELECT event_type AS k, bucket, n AS x0,
         |    lead(n, 1) OVER (PARTITION BY event_type ORDER BY bucket)
         |      AS x1,
         |    lead(n, 2) OVER (PARTITION BY event_type ORDER BY bucket)
         |      AS x2
         |  FROM ff),
         |pid AS (SELECT k,
         |    ((CASE WHEN x1 < x0 THEN 1 ELSE 0 END
         |      + CASE WHEN x2 < x0 THEN 1 ELSE 0 END) * 9
         |     + (CASE WHEN x0 <= x1 THEN 1 ELSE 0 END
         |        + CASE WHEN x2 < x1 THEN 1 ELSE 0 END) * 3
         |     + CASE WHEN x0 <= x2 THEN 1 ELSE 0 END
         |     + CASE WHEN x1 <= x2 THEN 1 ELSE 0 END) AS p
         |  FROM sr WHERE x2 IS NOT NULL),
         |cells AS (SELECT k, p, CAST(count(*) AS BIGINT) AS c
         |  FROM pid GROUP BY 1, 2),
         |g AS (SELECT k, CAST(sum(c) AS BIGINT) AS n_windows,
         |    CAST(count(*) AS BIGINT) AS n_patterns,
         |    list(struct_pack(c := c) ORDER BY p) AS lst
         |  FROM cells GROUP BY 1),
         |e AS (SELECT k, n_windows, n_patterns,
         |    -(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |        list_transform(lst, x -> CAST(x.c AS DOUBLE)
         |          / CAST(n_windows AS DOUBLE)
         |          * log2(CAST(x.c AS DOUBLE)
         |            / CAST(n_windows AS DOUBLE)))),
         |      (acc, y) -> acc + y)) AS ent
         |  FROM g)
         |SELECT k AS event_type, n_windows, n_patterns,
         |  round(ent * 10000) / 10000 AS perm_entropy,
         |  round(ent / 2.584962500721156 * 10000) / 10000 AS norm_entropy
         |FROM e""".stripMargin,

    "ts_hurst" ->
      s"""WITH $hourlyGridCtes,
         |sr AS (SELECT event_type AS k, bucket, n,
         |    CAST(row_number() OVER (PARTITION BY event_type
         |      ORDER BY bucket) AS BIGINT) - 1 AS t
         |  FROM ff),
         |g AS (SELECT k, t, n AS x, m, t // m AS b, t % m + 1 AS j
         |  FROM sr, (SELECT unnest([CAST(8 AS BIGINT), 16, 32, 64]) AS m)),
         |wn AS (SELECT k, m, b, j, x,
         |    CAST(sum(x) OVER (PARTITION BY k, m, b ORDER BY j) AS BIGINT)
         |      AS prefix,
         |    CAST(sum(x) OVER (PARTITION BY k, m, b) AS BIGINT) AS s,
         |    CAST(count(*) OVER (PARTITION BY k, m, b) AS BIGINT) AS cnt,
         |    CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT))
         |      OVER (PARTITION BY k, m, b) AS HUGEINT) AS sxx
         |  FROM g),
         |blk AS (SELECT k, m, b,
         |    max(m * prefix - j * s) AS ymax,
         |    min(m * prefix - j * s) AS ymin,
         |    max(CAST(m AS HUGEINT) * sxx
         |      - CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS d2
         |  FROM wn WHERE cnt = m GROUP BY 1, 2, 3),
         |qs AS (SELECT k, m,
         |    CAST(round(CAST(ymax - ymin AS DOUBLE)
         |      / sqrt(CAST(d2 AS DOUBLE)) * 1000000.0) AS BIGINT) AS q
         |  FROM blk WHERE d2 > 0),
         |ps AS (SELECT k, m, CAST(count(*) AS BIGINT) AS nb,
         |    sum(CAST(q AS HUGEINT)) AS sq
         |  FROM qs GROUP BY 1, 2),
         |pv0 AS (SELECT k,
         |    max(CASE WHEN m = 8 THEN nb END) AS nb8,
         |    max(CASE WHEN m = 8 THEN sq END) AS sq8,
         |    max(CASE WHEN m = 16 THEN nb END) AS nb16,
         |    max(CASE WHEN m = 16 THEN sq END) AS sq16,
         |    max(CASE WHEN m = 32 THEN nb END) AS nb32,
         |    max(CASE WHEN m = 32 THEN sq END) AS sq32,
         |    max(CASE WHEN m = 64 THEN nb END) AS nb64,
         |    max(CASE WHEN m = 64 THEN sq END) AS sq64
         |  FROM ps GROUP BY 1),
         |pv AS (SELECT kk.k, nb8, sq8, nb16, sq16, nb32, sq32, nb64, sq64
         |  FROM (SELECT DISTINCT k FROM sr) kk LEFT JOIN pv0 USING (k)),
         |vv AS (SELECT k, nb8, nb16, nb32, nb64,
         |    CASE WHEN nb8 > 0 THEN CAST(sq8 AS DOUBLE)
         |      / CAST(nb8 AS DOUBLE) / 1000000.0 END AS rs8d,
         |    CASE WHEN nb16 > 0 THEN CAST(sq16 AS DOUBLE)
         |      / CAST(nb16 AS DOUBLE) / 1000000.0 END AS rs16d,
         |    CASE WHEN nb32 > 0 THEN CAST(sq32 AS DOUBLE)
         |      / CAST(nb32 AS DOUBLE) / 1000000.0 END AS rs32d,
         |    CASE WHEN nb64 > 0 THEN CAST(sq64 AS DOUBLE)
         |      / CAST(nb64 AS DOUBLE) / 1000000.0 END AS rs64d
         |  FROM pv)
         |SELECT k AS event_type,
         |  coalesce(nb8, 0) AS nb8, coalesce(nb16, 0) AS nb16,
         |  coalesce(nb32, 0) AS nb32, coalesce(nb64, 0) AS nb64,
         |  round(rs8d * 1000000) / 1000000 AS rs8,
         |  round(rs16d * 1000000) / 1000000 AS rs16,
         |  round(rs32d * 1000000) / 1000000 AS rs32,
         |  round(rs64d * 1000000) / 1000000 AS rs64,
         |  round((4.0 * (3.0 * log2(rs8d) + 4.0 * log2(rs16d)
         |        + 5.0 * log2(rs32d) + 6.0 * log2(rs64d))
         |      - 18.0 * (log2(rs8d) + log2(rs16d) + log2(rs32d)
         |        + log2(rs64d))) / 20.0
         |    * 10000) / 10000 AS hurst
         |FROM vv""".stripMargin,

    // shares ts_pacf's CTE chain through the unrounded rho's, then the
    // Q = n(n+2)·Σ ρ_k²/(n−k) fixed-arity chain (null propagates from
    // any missing lag / constant key)
    "ts_ljungbox" ->
      s"""WITH $hourlyGridCtes,
         |$rhoLag123Ctes
         |SELECT k AS event_type, nn AS n_hours,
         |  round(r1 * 1000000) / 1000000 AS r1,
         |  round(r2 * 1000000) / 1000000 AS r2,
         |  round(r3 * 1000000) / 1000000 AS r3,
         |  round(CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 2.0)
         |      * (r1 * r1 / (CAST(nn AS DOUBLE) - 1.0)
         |        + r2 * r2 / (CAST(nn AS DOUBLE) - 2.0)
         |        + r3 * r3 / (CAST(nn AS DOUBLE) - 3.0))
         |    * 1000000) / 1000000 AS q_lb
         |FROM r""".stripMargin,

    "ts_autoperiod" -> {
      val periods = Seq(6, 8, 12, 24, 84, 168)
      def ct(p: Int) =
        graft.ops.TimeSeries.cosMicros(p).mkString("[", ", ", "]")
      def st(p: Int) =
        graft.ops.TimeSeries.sinMicros(p).mkString("[", ", ", "]")
      val sumCols = periods.map { p =>
        s"""    sum(CAST(n AS HUGEINT)
           |      * (${ct(p)})[CAST(h % $p AS INT) + 1]) AS snc$p,
           |    CAST(sum((${ct(p)})[CAST(h % $p AS INT) + 1])
           |      AS HUGEINT) AS sc$p,
           |    sum(CAST(n AS HUGEINT)
           |      * (${st(p)})[CAST(h % $p AS INT) + 1]) AS sns$p,
           |    CAST(sum((${st(p)})[CAST(h % $p AS INT) + 1])
           |      AS HUGEINT) AS ss$p""".stripMargin
      }.mkString(",\n")
      val abCols = periods.map { p =>
        s"""    CAST(nh AS HUGEINT) * snc$p - s * sc$p AS a$p,
           |    CAST(nh AS HUGEINT) * sns$p - s * ss$p AS b$p""".stripMargin
      }.mkString(",\n")
      val rowSelects = periods.map { p =>
        s"""SELECT k, nh, CAST($p AS BIGINT) AS period,
           |  round(2.0 * sqrt(CAST(a$p AS DOUBLE) * CAST(a$p AS DOUBLE)
           |      + CAST(b$p AS DOUBLE) * CAST(b$p AS DOUBLE))
           |    / (nd * nd * 1000000.0) * 1000000) / 1000000 AS amp,
           |  round(CASE WHEN vard > 0 THEN
           |      2.0 * (CAST(a$p AS DOUBLE) * CAST(a$p AS DOUBLE)
           |        + CAST(b$p AS DOUBLE) * CAST(b$p AS DOUBLE))
           |        / ((nd * nd * 1000000.0) * (nd * nd * 1000000.0))
           |        / vard END * 1000000) / 1000000 AS strength
           |FROM v""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $hourlyGridCtes,
         |sr AS (SELECT event_type AS k,
         |    CAST(epoch(bucket) AS BIGINT) // 3600 AS h, n FROM ff),
         |m AS (SELECT k, CAST(count(*) AS BIGINT) AS nh,
         |    CAST(sum(n) AS HUGEINT) AS s,
         |    sum(CAST(n AS HUGEINT) * CAST(n AS HUGEINT)) AS snn,
         |$sumCols
         |  FROM sr GROUP BY 1),
         |d AS (SELECT k, nh, s, snn,
         |$abCols
         |  FROM m),
         |v AS (SELECT *, CAST(nh AS DOUBLE) AS nd,
         |    CAST(CAST(nh AS HUGEINT) * snn - s * s AS DOUBLE)
         |      / (CAST(nh AS DOUBLE) * CAST(nh AS DOUBLE)) AS vard
         |  FROM d),
         |rows AS ($rowSelects),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY k
         |    ORDER BY strength DESC NULLS LAST, period) AS rn FROM rows)
         |SELECT k AS event_type, nh AS n_hours, period AS best_period,
         |  amp, strength
         |FROM rk WHERE rn = 1""".stripMargin
    },

    "ts_pacf" ->
      s"""WITH $hourlyGridCtes,
         |$rhoLag123Ctes,
         |d1 AS (SELECT *, 1.0 - r1 * r1 AS v1 FROM r),
         |d2 AS (SELECT *,
         |    CASE WHEN v1 > 0 THEN (r2 - r1 * r1) / v1 END AS phi22
         |  FROM d1),
         |d3 AS (SELECT *, r1 - phi22 * r1 AS phi21,
         |    v1 * (1.0 - phi22 * phi22) AS v2 FROM d2)
         |SELECT k AS event_type, nn AS n_hours,
         |  round(r1 * 1000000) / 1000000 AS r1,
         |  round(r2 * 1000000) / 1000000 AS r2,
         |  round(r3 * 1000000) / 1000000 AS r3,
         |  round(r1 * 1000000) / 1000000 AS pacf1,
         |  round(phi22 * 1000000) / 1000000 AS pacf2,
         |  round(CASE WHEN v2 > 0
         |      THEN (r3 - phi21 * r2 - phi22 * r1) / v2 END
         |    * 1000000) / 1000000 AS pacf3
         |FROM d3""".stripMargin,

    "stat_trend" ->
      """WITH d0 AS (SELECT min(date_trunc('day', ts)) AS d0 FROM events),
        |pud AS (SELECT CAST(date_diff('day', CAST(d0.d0 AS DATE),
        |      CAST(date_trunc('day', e.ts) AS DATE)) AS BIGINT) AS si,
        |    e.user_id,
        |    max(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM events e, d0 GROUP BY 1, 2),
        |daily AS (SELECT si, CAST(count(*) AS BIGINT) AS ni,
        |    CAST(sum(conv) AS BIGINT) AS ci
        |  FROM pud GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(ni) AS BIGINT) AS n, CAST(sum(ci) AS BIGINT) AS c,
        |    sum(CAST(si AS HUGEINT) * CAST(ci AS HUGEINT)) AS ssc,
        |    sum(CAST(si AS HUGEINT) * CAST(ni AS HUGEINT)) AS ssn,
        |    sum(CAST(si AS HUGEINT) * CAST(si AS HUGEINT)
        |      * CAST(ni AS HUGEINT)) AS ss2n
        |  FROM daily),
        |v AS (SELECT n_days, n, c,
        |    CAST(n AS HUGEINT) * ssc - CAST(c AS HUGEINT) * ssn AS a,
        |    CAST(n AS HUGEINT) * ss2n - ssn * ssn AS b,
        |    CAST(c AS HUGEINT) * (CAST(n AS HUGEINT) - c) AS d
        |  FROM m)
        |SELECT n_days, n AS n_user_days, c AS n_conv,
        |  CAST(CASE WHEN a > 0 THEN 1 WHEN a < 0 THEN -1 ELSE 0 END
        |    AS BIGINT) AS trend_dir,
        |  round(CASE WHEN b > 0 AND d > 0 THEN
        |      CAST(n AS DOUBLE)
        |        * (CAST(a AS DOUBLE) * CAST(a AS DOUBLE))
        |        / (CAST(d AS DOUBLE) * CAST(b AS DOUBLE)) END
        |    * 1000000) / 1000000 AS z2_trend
        |FROM v""".stripMargin,

    "stat_wilcoxon" ->
      """WITH b AS (SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx
        |  FROM events),
        |per AS (SELECT user_id,
        |    CAST(coalesce(sum(CASE WHEN epoch_us(e.ts) < (b.mn + b.mx) // 2
        |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END),
        |      0) AS BIGINT) AS pre,
        |    CAST(coalesce(sum(CASE WHEN epoch_us(e.ts) >= (b.mn + b.mx) // 2
        |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END),
        |      0) AS BIGINT) AS post
        |  FROM events e, b GROUP BY user_id),
        |dd AS (SELECT post - pre AS d FROM per WHERE post - pre <> 0),
        |vd AS (SELECT abs(d) AS a, CAST(count(*) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS cpos
        |  FROM dd GROUP BY 1),
        |rk AS (SELECT a, c, cpos,
        |    2 * (CAST(sum(c) OVER (ORDER BY a) AS BIGINT) - c) + c + 1 AS r2
        |  FROM vd),
        |m AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |    sum(CAST(cpos AS HUGEINT) * CAST(r2 AS HUGEINT)) AS w2,
        |    sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT) * CAST(c AS HUGEINT)
        |      - CAST(c AS HUGEINT)) AS t3
        |  FROM rk),
        |v AS (SELECT n, w2,
        |    2 * w2 - CAST(n AS HUGEINT) * (n + 1) AS a2,
        |    CAST(n AS HUGEINT) * (n + 1) * (n * 2 + 1) * 2 - t3 AS den
        |  FROM m)
        |SELECT n AS n_pairs, CAST(w2 AS BIGINT) AS w2_plus,
        |  round(CASE WHEN den > 0 THEN
        |      CAST(3 * a2 * a2 AS DOUBLE) / CAST(den AS DOUBLE) END
        |    * 1000000) / 1000000 AS z2
        |FROM v""".stripMargin,

    "ev_attribution_shapley" ->
      """WITH per AS (SELECT user_id,
        |    CAST(coalesce(sum(DISTINCT CASE event_type
        |      WHEN 'view' THEN 1 WHEN 'click' THEN 2 WHEN 'cart' THEN 4
        |      WHEN 'signup' THEN 8 WHEN 'error' THEN 16 ELSE 0 END), 0)
        |      AS BIGINT) AS mask,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM events GROUP BY user_id),
        |stats AS (SELECT mask, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(conv) AS BIGINT) AS c,
        |    CAST(sum(conv) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS v
        |  FROM per GROUP BY 1),
        |ch AS (SELECT channel, bit FROM (VALUES ('view', 1), ('click', 2),
        |    ('cart', 4), ('signup', 8), ('error', 16)) t(channel, bit)),
        |exposed AS (SELECT ch.channel,
        |    CAST(sum(stats.n) AS BIGINT) AS n_exposed
        |  FROM stats, ch WHERE (stats.mask & ch.bit) <> 0
        |  GROUP BY 1),
        |uni AS (SELECT unnest(range(0, 32)) AS m),
        |pairs AS (SELECT ch.channel,
        |    CAST(round(([24, 6, 4, 6, 24])[bit_count(uni.m) + 1]
        |      * (coalesce(s1.v, 0.0) - coalesce(s0.v, 0.0))
        |      * 1000000000000.0) AS BIGINT) AS q
        |  FROM uni CROSS JOIN ch
        |  LEFT JOIN stats s0 ON s0.mask = uni.m
        |  LEFT JOIN stats s1 ON s1.mask = uni.m + ch.bit
        |  WHERE (uni.m & ch.bit) = 0),
        |agg AS (SELECT channel, sum(CAST(q AS HUGEINT)) AS sq
        |  FROM pairs GROUP BY 1)
        |SELECT agg.channel, coalesce(exposed.n_exposed, 0) AS n_exposed,
        |  round(CAST(sq AS DOUBLE) / 1000000000000.0 / 120.0 * 1000000)
        |    / 1000000 AS shapley
        |FROM agg LEFT JOIN exposed USING (channel)""".stripMargin,

    "ev_lifecycle" ->
      """WITH act AS (SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
        |st AS (SELECT user_id, wk,
        |    lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk
        |  FROM act),
        |cls AS (SELECT wk,
        |    CASE WHEN prev_wk IS NULL THEN 'new'
        |         WHEN date_diff('day', prev_wk, wk) = 7 THEN 'retained'
        |         ELSE 'resurrected' END AS state
        |  FROM st),
        |weekly AS (SELECT wk, CAST(count(*) AS BIGINT) AS active,
        |    CAST(sum(CASE WHEN state = 'new' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_new,
        |    CAST(sum(CASE WHEN state = 'retained' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_retained,
        |    CAST(sum(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_resurrected
        |  FROM cls GROUP BY 1),
        |pv AS (SELECT wk + 7 AS wk, active AS prev_active FROM weekly)
        |SELECT w.wk, w.active, w.n_new, w.n_retained, w.n_resurrected,
        |  pv.prev_active - w.n_retained AS churned,
        |  round(CASE WHEN pv.prev_active - w.n_retained > 0 THEN
        |      CAST(w.n_new + w.n_resurrected AS DOUBLE)
        |        / CAST(pv.prev_active - w.n_retained AS DOUBLE) END
        |    * 10000) / 10000 AS quick_ratio
        |FROM weekly w LEFT JOIN pv ON pv.wk = w.wk""".stripMargin,

    "ev_entropy_rate" ->
      """WITH seq AS (SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |cells AS (SELECT event_type, next_type,
        |    CAST(count(*) AS BIGINT) AS nst
        |  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |nsl AS (SELECT event_type, CAST(sum(nst) AS BIGINT) AS ns
        |  FROM cells GROUP BY 1),
        |j AS (SELECT c.event_type, c.next_type, c.nst, nsl.ns
        |  FROM cells c JOIN nsl USING (event_type)),
        |g AS (SELECT CAST(sum(nst) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS n_cells,
        |    CAST(count(DISTINCT event_type) AS BIGINT) AS n_states,
        |    list(struct_pack(nst := nst, ns := ns)
        |      ORDER BY event_type, next_type) AS lst
        |  FROM j),
        |e AS (SELECT n, n_cells, n_states,
        |    -(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(lst, x -> CAST(x.nst AS DOUBLE)
        |          / CAST(n AS DOUBLE)
        |          * log2(CAST(x.nst AS DOUBLE) / CAST(x.ns AS DOUBLE)))),
        |      (acc, y) -> acc + y)) AS ent
        |  FROM g)
        |SELECT n, n_cells, n_states,
        |  round(ent * 10000) / 10000 AS entropy_rate,
        |  round(ent / log2(CAST(n_states AS DOUBLE)) * 10000) / 10000
        |    AS norm_entropy
        |FROM e""".stripMargin,

    "stat_tail_index" ->
      """WITH pos AS (SELECT event_type, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events
        |  WHERE CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) > 0),
        |r AS (SELECT event_type, c,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY c DESC, event_id) AS rn,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_pos
        |  FROM pos),
        |t AS (SELECT event_type, max(n_pos) AS n_pos,
        |    CAST(count(*) AS BIGINT) AS m,
        |    list(c ORDER BY rn) AS lt
        |  FROM r WHERE rn <= 101 GROUP BY 1),
        |v AS (SELECT event_type, n_pos, m - 1 AS k,
        |    CAST(lt[CAST(m AS INT)] AS DOUBLE) AS xk1d,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |        lt[1:CAST(m - 1 AS INT)]),
        |      (a, x) -> a + ln(CAST(x AS DOUBLE))) AS slog
        |  FROM t)
        |SELECT event_type, n_pos, k,
        |  round(CASE WHEN k >= 1
        |      AND slog - CAST(k AS DOUBLE) * ln(xk1d) > 0
        |    THEN CAST(k AS DOUBLE)
        |      / (slog - CAST(k AS DOUBLE) * ln(xk1d)) END
        |    * 10000) / 10000 AS alpha
        |FROM v""".stripMargin,

    "stat_levene_bf" ->
      """WITH per AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM events),
        |vd AS (SELECT event_type, x, CAST(count(*) AS BIGINT) AS c
        |  FROM per GROUP BY 1, 2),
        |w AS (SELECT event_type, x, c,
        |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY x)
        |      AS BIGINT) AS cum_end,
        |    CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM vd),
        |md AS (SELECT event_type, max(n) AS ni,
        |    CAST(sum(x * (CASE WHEN cum_end - c < (n + 1) // 2
        |          AND (n + 1) // 2 <= cum_end THEN 1 ELSE 0 END
        |        + CASE WHEN cum_end - c < (n + 2) // 2
        |          AND (n + 2) // 2 <= cum_end THEN 1 ELSE 0 END))
        |      AS BIGINT) AS med2
        |  FROM w GROUP BY 1),
        |cent AS (SELECT p.event_type, max(md.ni) AS ni,
        |    sum(CAST(abs(2 * p.x - md.med2) AS HUGEINT)) AS ai,
        |    sum(CAST(abs(2 * p.x - md.med2) AS HUGEINT)
        |      * CAST(abs(2 * p.x - md.med2) AS HUGEINT)) AS qi
        |  FROM per p JOIN md USING (event_type) GROUP BY 1),
        |q AS (SELECT ni,
        |    CAST(round(CAST(ai AS DOUBLE) / (2.0 * CAST(ni AS DOUBLE))
        |      * 1000000.0) AS BIGINT) AS qa,
        |    CAST(round(CAST(CAST(ni AS HUGEINT) * qi - ai * ai AS DOUBLE)
        |      / (4.0 * CAST(ni AS DOUBLE) * CAST(ni AS DOUBLE))
        |      * 1000000.0) AS BIGINT) AS qw
        |  FROM cent),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(ni) AS BIGINT) AS n,
        |    sum(CAST(ni AS HUGEINT) * CAST(qa AS HUGEINT)) AS sqa,
        |    sum(CAST(ni AS HUGEINT) * CAST(qa AS HUGEINT)
        |      * CAST(qa AS HUGEINT)) AS sqb,
        |    sum(CAST(ni AS HUGEINT) * CAST(qw AS HUGEINT)) AS sqw
        |  FROM q),
        |v AS (SELECT k, n, CAST(n AS DOUBLE) AS nd, CAST(k AS DOUBLE) AS kd,
        |    CAST(sqa AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE) AS zbar,
        |    CAST(sqb AS DOUBLE) AS sqbd, CAST(sqw AS DOUBLE) AS sqwd
        |  FROM m),
        |wf AS (SELECT k, n, nd, kd, zbar,
        |    sqbd / 1000000000000.0 - nd * zbar * zbar AS between_ss,
        |    sqwd / 1000000.0 AS within_ss
        |  FROM v)
        |SELECT n, k,
        |  round(zbar / 100.0 * 1000000) / 1000000 AS z_mean,
        |  round(CASE WHEN k > 1 AND within_ss > 0 THEN
        |      between_ss / (kd - 1.0) / (within_ss / (nd - kd)) END
        |    * 1000000) / 1000000 AS f_bf
        |FROM wf""".stripMargin,

    "stat_levene" ->
      """WITH per AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM events),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS ni,
        |    CAST(sum(x) AS BIGINT) AS si FROM per GROUP BY 1),
        |cent AS (SELECT p.event_type, max(g.ni) AS ni,
        |    sum(abs(CAST(g.ni AS HUGEINT) * CAST(p.x AS HUGEINT)
        |      - CAST(g.si AS HUGEINT))) AS ai,
        |    sum(abs(CAST(g.ni AS HUGEINT) * CAST(p.x AS HUGEINT)
        |        - CAST(g.si AS HUGEINT))
        |      * abs(CAST(g.ni AS HUGEINT) * CAST(p.x AS HUGEINT)
        |        - CAST(g.si AS HUGEINT))) AS qi
        |  FROM per p JOIN g USING (event_type) GROUP BY 1),
        |q AS (SELECT ni,
        |    CAST(round(CAST(ai AS DOUBLE)
        |      / (CAST(ni AS DOUBLE) * CAST(ni AS DOUBLE))
        |      * 1000000.0) AS BIGINT) AS qa,
        |    CAST(round(CAST(CAST(ni AS HUGEINT) * qi - ai * ai AS DOUBLE)
        |      / (CAST(ni AS DOUBLE) * CAST(ni AS DOUBLE)
        |         * CAST(ni AS DOUBLE) * CAST(ni AS DOUBLE))
        |      * 1000000.0) AS BIGINT) AS qw
        |  FROM cent),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(ni) AS BIGINT) AS n,
        |    sum(CAST(ni AS HUGEINT) * CAST(qa AS HUGEINT)) AS sqa,
        |    sum(CAST(ni AS HUGEINT) * CAST(qa AS HUGEINT)
        |      * CAST(qa AS HUGEINT)) AS sqb,
        |    sum(CAST(ni AS HUGEINT) * CAST(qw AS HUGEINT)) AS sqw
        |  FROM q),
        |v AS (SELECT k, n, CAST(n AS DOUBLE) AS nd, CAST(k AS DOUBLE) AS kd,
        |    CAST(sqa AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE) AS zbar,
        |    CAST(sqb AS DOUBLE) AS sqbd, CAST(sqw AS DOUBLE) AS sqwd
        |  FROM m),
        |w AS (SELECT k, n, nd, kd, zbar,
        |    sqbd / 1000000000000.0 - nd * zbar * zbar AS between_ss,
        |    sqwd / 1000000.0 AS within_ss
        |  FROM v)
        |SELECT n, k,
        |  round(zbar / 100.0 * 1000000) / 1000000 AS z_mean,
        |  round(CASE WHEN k > 1 AND within_ss > 0 THEN
        |      between_ss / (kd - 1.0) / (within_ss / (nd - kd)) END
        |    * 1000000) / 1000000 AS f_levene
        |FROM w""".stripMargin,

    "stat_delta_ratio" ->
      """WITH per AS (SELECT user_id, CAST(count(*) AS BIGINT) AS y,
        |    CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END),
        |      0) AS BIGINT) AS x,
        |    ((user_id % 2) + 2) % 2 AS variant
        |  FROM events GROUP BY user_id),
        |m AS (SELECT variant, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
        |    sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy,
        |    sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
        |  FROM per GROUP BY 1),
        |v AS (SELECT variant, n, sy, CAST(n AS DOUBLE) AS nd,
        |    CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE) AS r,
        |    CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS vx,
        |    CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS vy,
        |    CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS cxy,
        |    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS ybar
        |  FROM m)
        |SELECT variant, n AS n_users,
        |  round(CASE WHEN n > 1 AND sy > 0 THEN r END
        |    / 100.0 * 1000000) / 1000000 AS r,
        |  round(CASE WHEN n > 1 AND sy > 0 THEN
        |      sqrt((vx - 2.0 * r * cxy + r * r * vy) / nd) / ybar END
        |    / 100.0 * 1000000) / 1000000 AS se_delta
        |FROM v""".stripMargin,

    "stat_jackknife" ->
      """WITH per AS (SELECT user_id, CAST(count(*) AS BIGINT) AS y,
        |    CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END),
        |      0) AS BIGINT) AS x,
        |    ((user_id % 2) + 2) % 2 AS variant
        |  FROM events GROUP BY user_id),
        |tot AS (SELECT variant, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(y) AS BIGINT) AS sy
        |  FROM per GROUP BY 1),
        |jk AS (SELECT per.variant, tot.sx, tot.sy,
        |    CASE WHEN tot.sy > per.y THEN
        |      CAST(round(CAST(tot.sx - per.x AS DOUBLE)
        |        / CAST(tot.sy - per.y AS DOUBLE) * 100000000.0) AS BIGINT)
        |    END AS q
        |  FROM per JOIN tot ON per.variant = tot.variant),
        |m AS (SELECT variant, CAST(count(*) AS BIGINT) AS n,
        |    max(sx) AS sx, max(sy) AS sy,
        |    sum(CAST(q AS HUGEINT)) AS sq,
        |    sum(CAST(q AS HUGEINT) * CAST(q AS HUGEINT)) AS sqq
        |  FROM jk GROUP BY 1)
        |SELECT variant, n AS n_users,
        |  round(CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE) / 100.0 * 1000000)
        |    / 1000000 AS r,
        |  round(sqrt(CAST(CAST(n AS HUGEINT) * sqq - sq * sq AS DOUBLE)
        |      * (CAST(n AS DOUBLE) - 1.0))
        |    / (CAST(n AS DOUBLE) * 100000000.0) / 100.0 * 1000000)
        |    / 1000000 AS se_jack
        |FROM m""".stripMargin,

    "stat_mwu" ->
      """WITH per AS (SELECT ((user_id % 2) + 2) % 2 AS variant,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM events WHERE event_type = 'purchase'),
        |grp AS (SELECT x, CAST(count(*) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0
        |  FROM per GROUP BY x),
        |rk AS (SELECT c, c0,
        |    2 * (CAST(sum(c) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - c)
        |      + c + 1 AS ar2
        |  FROM grp),
        |m AS (SELECT CAST(sum(c0) AS BIGINT) AS n0,
        |    CAST(sum(c - c0) AS BIGINT) AS n1,
        |    CAST(sum(c0 * ar2) AS BIGINT) AS r2,
        |    sum(CAST(c AS HUGEINT) * c * c - c) AS tsum
        |  FROM rk),
        |u AS (SELECT n0, n1, tsum, r2 - n0 * (n0 + 1) AS u2 FROM m)
        |SELECT n0, n1, u2,
        |  round(CAST(CAST(u2 - n0 * n1 AS HUGEINT)
        |        * CAST(u2 - n0 * n1 AS HUGEINT) AS DOUBLE)
        |    / (CAST(n0 * n1 AS DOUBLE) / 3.0
        |       * (CAST(n0 + n1 + 1 AS DOUBLE)
        |          - CAST(tsum AS DOUBLE)
        |            / CAST((n0 + n1) * (n0 + n1 - 1) AS DOUBLE)))
        |    * 10000) / 10000 AS z2
        |FROM u""".stripMargin,
    "stat_ks" ->
      """WITH per AS (SELECT ((user_id % 2) + 2) % 2 AS variant,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM events WHERE event_type = 'purchase'),
        |grp AS (SELECT x,
        |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b
        |  FROM per GROUP BY x),
        |cum AS (SELECT
        |    CAST(sum(a) OVER w AS BIGINT) AS ca,
        |    CAST(sum(b) OVER w AS BIGINT) AS cb
        |  FROM grp
        |  WINDOW w AS (ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |t AS (SELECT CAST(sum(a) AS BIGINT) AS n0,
        |      CAST(sum(b) AS BIGINT) AS n1 FROM grp)
        |SELECT n0, n1,
        |  CAST(max(abs(n1 * ca - n0 * cb)) AS BIGINT) AS d_num,
        |  round(CAST(max(abs(n1 * ca - n0 * cb)) AS DOUBLE)
        |      / CAST(n0 * n1 AS DOUBLE) * 1000000) / 1000000 AS d
        |FROM cum, t GROUP BY n0, n1""".stripMargin,
    "ev_ab_srm" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |m AS (SELECT
        |    CAST(sum(CASE WHEN ((user_id % 2) + 2) % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN ((user_id % 2) + 2) % 2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n1
        |  FROM u)
        |SELECT n0, n1,
        |  round(CAST((n0 - n1) * (n0 - n1) AS DOUBLE)
        |      / CAST(n0 + n1 AS DOUBLE) * 10000) / 10000 AS chi2,
        |  (n0 - n1) * (n0 - n1) * 10000 > 38415 * (n0 + n1) AS srm
        |FROM m""".stripMargin,
    "ts_cusum" ->
      s"""WITH $hourlyGridCtes,
         |t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS t,
         |      CAST(sum(n) AS BIGINT) AS sx FROM ff GROUP BY 1),
         |d AS (SELECT ff.event_type, bucket, n, sx,
         |    2 * t * n - 3 * sx AS d
         |  FROM ff JOIN t USING (event_type)),
         |p AS (SELECT event_type, bucket, n, sx,
         |    CAST(sum(d) OVER (PARTITION BY event_type ORDER BY bucket
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p
         |  FROM d),
         |q AS (SELECT event_type, bucket, n, sx, p,
         |    least(CAST(0 AS BIGINT), min(p) OVER (PARTITION BY event_type
         |      ORDER BY bucket
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS pmin
         |  FROM p)
         |SELECT event_type, bucket, n,
         |  CAST(p - pmin AS BIGINT) AS cusum_scaled,
         |  (p - pmin) > 8 * sx AS alarm
         |FROM q""".stripMargin,
    "ts_seasonal" ->
      s"""WITH $hourlyGridCtes,
         |hod AS (SELECT event_type, CAST(hour(bucket) AS INT) AS hod,
         |    CAST(sum(n) AS BIGINT) AS n_sum,
         |    CAST(count(*) AS BIGINT) AS n_buckets
         |  FROM ff GROUP BY 1, 2),
         |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS t_sum,
         |      CAST(count(*) AS BIGINT) AS t_buckets FROM ff GROUP BY 1)
         |SELECT event_type, hod, n_sum, n_buckets,
         |  round(CAST(n_sum * t_buckets AS DOUBLE)
         |      / CAST(n_buckets * t_sum AS DOUBLE) * 1000000) / 1000000
         |    AS seasonal_ratio
         |FROM hod JOIN t USING (event_type)""".stripMargin,
    // Poisson bootstrap: weight CASE replays Stats.PoissonCum as
    // injected CAST(… AS DOUBLE) literals (decimal-intermediate-safe);
    // replicate means are exact cents sums, ranked with the replicate
    // id as tiebreak.
    "stat_bootstrap" -> {
      val cs = graft.ops.Stats.PoissonCum
      val wCase = cs.zipWithIndex
        .map { case (c, k) => s"WHEN u < CAST($c AS DOUBLE) THEN $k" }
        .mkString("CASE ", " ", " ELSE 7 END")
      s"""WITH base AS (SELECT event_type,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
         |    CAST(event_id AS VARCHAR) AS rk
         |  FROM events),
         |reps AS (SELECT event_type, x, rk, unnest(range(40)) AS i FROM base),
         |ww AS (SELECT event_type, x, i, $wCase AS w
         |  FROM (SELECT *,
         |    CAST(('0x' || substr(md5(concat_ws('|', rk,
         |      CAST(i // 4 AS VARCHAR))), CAST((i % 4) * 8 + 1 AS INT), 8))
         |      AS BIGINT) / 4294967296.0 AS u
         |    FROM reps)),
         |m AS (SELECT event_type, i, CAST(sum(w * x) AS BIGINT) AS swx,
         |    CAST(sum(w) AS BIGINT) AS sw
         |  FROM ww GROUP BY 1, 2),
         |mm AS (SELECT event_type, i,
         |    CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE) AS mean_c
         |  FROM m WHERE sw > 0),
         |r AS (SELECT event_type, mean_c,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY mean_c ASC, i ASC) AS rk2,
         |    count(*) OVER (PARTITION BY event_type) AS mreps
         |  FROM mm),
         |ci AS (SELECT event_type,
         |    max(CASE WHEN rk2 = greatest(CAST(ceil(mreps * 0.025) AS INT), 1)
         |      THEN mean_c END) AS lo_c,
         |    max(CASE WHEN rk2 = CAST(ceil(mreps * 0.975) AS INT)
         |      THEN mean_c END) AS hi_c
         |  FROM r GROUP BY 1),
         |p AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx
         |  FROM base GROUP BY 1)
         |SELECT p.event_type, n,
         |  round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 * 1000000)
         |    / 1000000 AS mean,
         |  round(lo_c / 100.0 * 1000000) / 1000000 AS lo,
         |  round(hi_c / 100.0 * 1000000) / 1000000 AS hi
         |FROM p JOIN ci USING (event_type)""".stripMargin
    },
    // CUPED: per-user cents pre/post sums, exact DECIMAL(38,0) pooled
    // cross-moments, then the identical float chain as the Spark plan
    // (θ = num/denX unrounded inside mean_cuped; var_reduction's
    // division order matches the left-assoc Spark expression).
    "stat_cuped" ->
      """WITH per AS (SELECT user_id,
        |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
        |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS xu,
        |    CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
        |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS yu
        |  FROM events GROUP BY 1),
        |pv AS (SELECT ((user_id % 2) + 2) % 2 AS variant, xu, yu FROM per),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(xu) AS DECIMAL(38,0)) AS sx,
        |    CAST(sum(yu) AS DECIMAL(38,0)) AS sy,
        |    sum(CAST(xu AS DECIMAL(38,0)) * CAST(xu AS DECIMAL(38,0))) AS sxx,
        |    sum(CAST(xu AS DECIMAL(38,0)) * CAST(yu AS DECIMAL(38,0))) AS sxy,
        |    sum(CAST(yu AS DECIMAL(38,0)) * CAST(yu AS DECIMAL(38,0))) AS syy
        |  FROM pv),
        |mm AS (SELECT n,
        |    CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE) AS num,
        |    CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE) AS den_x,
        |    CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy AS DOUBLE) AS den_y,
        |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_x
        |  FROM m),
        |v AS (SELECT variant, CAST(count(*) AS BIGINT) AS nv,
        |    CAST(sum(xu) AS BIGINT) AS sxv, CAST(sum(yu) AS BIGINT) AS syv
        |  FROM pv GROUP BY 1)
        |SELECT variant, nv AS n_users,
        |  round(CAST(syv AS DOUBLE) / CAST(nv AS DOUBLE) / 100.0
        |    * 1000000) / 1000000 AS mean_raw,
        |  round((CAST(syv AS DOUBLE) / CAST(nv AS DOUBLE)
        |      - num / den_x * (CAST(sxv AS DOUBLE) / CAST(nv AS DOUBLE)
        |                       - mean_x)) / 100.0
        |    * 1000000) / 1000000 AS mean_cuped,
        |  round(num / den_x * 1000000) / 1000000 AS theta,
        |  round(num / den_x * num / den_y * 1000000) / 1000000
        |    AS var_reduction
        |FROM v CROSS JOIN mm""".stripMargin,
    // SPRT: the µ-nat constants come from the SAME sprtMicroNats call
    // as the Spark plan, so the running LLR and both boundary compares
    // are exact BIGINT in both engines; first crossing per arm via
    // min(rn) over the hit rows, horizon row reported when no crossing.
    "ev_ab_sprt" -> {
      val (l1, l0, up, lo) =
        graft.ops.Stats.sprtMicroNats(0.10, 0.20, 0.05, 0.20)
      s"""WITH t AS (SELECT ((user_id % 2) + 2) % 2 AS variant,
         |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS succ,
         |    ts, event_id
         |  FROM events),
         |o AS (SELECT variant, succ,
         |    row_number() OVER (PARTITION BY variant ORDER BY ts, event_id)
         |      AS rn
         |  FROM t),
         |c AS (SELECT variant, rn,
         |    CAST(sum(succ) OVER (PARTITION BY variant ORDER BY rn
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s
         |  FROM o WHERE rn <= 100000),
         |b AS (SELECT variant, rn, s,
         |    s * ($l1) + (rn - s) * ($l0) AS llr_u
         |  FROM c),
         |h AS (SELECT variant, rn, s, llr_u,
         |    CASE WHEN llr_u >= ($up) THEN 'accept_h1'
         |         WHEN llr_u <= ($lo) THEN 'accept_h0' END AS hit
         |  FROM b),
         |fh AS (SELECT variant, min(rn) AS stop_rn FROM h
         |  WHERE hit IS NOT NULL GROUP BY 1),
         |lr AS (SELECT variant, max(rn) AS last_rn FROM h GROUP BY 1)
         |SELECT h.variant, CAST(rn AS BIGINT) AS n_trials, s AS n_succ,
         |  CAST(llr_u AS DOUBLE) / 1000000.0 AS llr,
         |  coalesce(hit, 'continue') AS decision
         |FROM h JOIN lr ON h.variant = lr.variant
         |LEFT JOIN fh ON h.variant = fh.variant
         |WHERE rn = coalesce(stop_rn, last_rn)""".stripMargin
    },
    // sizing: exact moments, then the identical float chain; the z-sum
    // square rebuilds from the shared pico integer (one IEEE division).
    "stat_power" -> {
      val zp = graft.ops.Stats.PowerZsum2Pico
      s"""WITH m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS DECIMAL(38,0)) AS sx,
         |    sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx
         |  FROM (SELECT event_type,
         |      CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
         |    FROM events)
         |  GROUP BY 1),
         |f AS (SELECT event_type, n,
         |    CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE)
         |      / CAST(CAST(n AS DECIMAL(38,0))
         |          * (CAST(n AS DECIMAL(38,0)) - 1) AS DOUBLE) AS varc,
         |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS meanc
         |  FROM m)
         |SELECT event_type, n,
         |  round(meanc / 100.0 * 1000000) / 1000000 AS mean,
         |  round(sqrt(varc) / 100.0 * 1000000) / 1000000 AS sd,
         |  round(varc * (CAST($zp AS DOUBLE) / 1000000000000.0) * 2.0
         |      / ((meanc * 0.05) * (meanc * 0.05)) * 1000000) / 1000000
         |    AS n_per_arm
         |FROM f""".stripMargin
    },
    // winsorized means: same pooled-p99 rank pick, same least() caps.
    "stat_winsor" ->
      """WITH base AS (SELECT ((user_id % 2) + 2) % 2 AS variant,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM events WHERE event_type = 'purchase'),
        |dom AS (SELECT x, CAST(count(*) AS BIGINT) AS c
        |  FROM base GROUP BY 1),
        |cu AS (SELECT x, c, sum(c) OVER (ORDER BY x) AS cum,
        |    sum(c) OVER () AS n FROM dom),
        |cap AS (SELECT min(CASE WHEN cum >= (n * 99 + 99) // 100
        |    AND cum - c < (n * 99 + 99) // 100 THEN x END) AS cap
        |  FROM cu)
        |SELECT variant, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100.0
        |    * 1000000) / 1000000 AS mean_raw,
        |  round(CAST(sum(least(x, cap)) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) / 100.0 * 1000000) / 1000000
        |    AS mean_winsor,
        |  CAST(max(cap) AS DOUBLE) / 100.0 AS cap
        |FROM base CROSS JOIN cap GROUP BY variant""".stripMargin,
    // DiD: the identical four-mean float chain off exact cents sums.
    "stat_did" ->
      """WITH m AS (SELECT ((user_id % 2) + 2) % 2 AS variant,
        |    ts >= TIMESTAMP '2024-01-15 00:00:00' AS post,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS sx
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT
        |    CAST(max(CASE WHEN variant = 0 AND NOT post THEN sx END)
        |      AS DOUBLE) / CAST(max(CASE WHEN variant = 0 AND NOT post
        |      THEN n END) AS DOUBLE) / 100.0 AS m_c_pre,
        |    CAST(max(CASE WHEN variant = 0 AND post THEN sx END)
        |      AS DOUBLE) / CAST(max(CASE WHEN variant = 0 AND post
        |      THEN n END) AS DOUBLE) / 100.0 AS m_c_post,
        |    CAST(max(CASE WHEN variant = 1 AND NOT post THEN sx END)
        |      AS DOUBLE) / CAST(max(CASE WHEN variant = 1 AND NOT post
        |      THEN n END) AS DOUBLE) / 100.0 AS m_t_pre,
        |    CAST(max(CASE WHEN variant = 1 AND post THEN sx END)
        |      AS DOUBLE) / CAST(max(CASE WHEN variant = 1 AND post
        |      THEN n END) AS DOUBLE) / 100.0 AS m_t_post
        |  FROM m)
        |SELECT round(m_c_pre * 1000000) / 1000000 AS mean_c_pre,
        |  round(m_c_post * 1000000) / 1000000 AS mean_c_post,
        |  round(m_t_pre * 1000000) / 1000000 AS mean_t_pre,
        |  round(m_t_post * 1000000) / 1000000 AS mean_t_post,
        |  round(((m_t_post - m_t_pre) - (m_c_post - m_c_pre)) * 1000000)
        |    / 1000000 AS did
        |FROM p""".stripMargin,
    // QTE: collapsed value-domain cum counts, ⌈q·n⌉ ranks in integer
    // arithmetic, the three quantile rows assembled by UNION ALL.
    "stat_qte" ->
      """WITH base AS (SELECT ((user_id % 2) + 2) % 2 AS v,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM events WHERE event_type = 'purchase'),
        |grp AS (SELECT v, x, CAST(count(*) AS BIGINT) AS c
        |  FROM base GROUP BY 1, 2),
        |cum AS (SELECT v, x, c,
        |    sum(c) OVER (PARTITION BY v ORDER BY x) AS cum,
        |    sum(c) OVER (PARTITION BY v) AS n FROM grp),
        |pa AS (SELECT v,
        |    min(CASE WHEN cum >= (n+3)//4 AND cum - c < (n+3)//4
        |        THEN x END) AS q25c,
        |    min(CASE WHEN cum >= (n+1)//2 AND cum - c < (n+1)//2
        |        THEN x END) AS q50c,
        |    min(CASE WHEN cum >= (3*n+3)//4 AND cum - c < (3*n+3)//4
        |        THEN x END) AS q75c
        |  FROM cum GROUP BY 1),
        |j AS (SELECT a0.q25c AS q25_0, a0.q50c AS q50_0, a0.q75c AS q75_0,
        |             a1.q25c AS q25_1, a1.q50c AS q50_1, a1.q75c AS q75_1
        |      FROM (SELECT * FROM pa WHERE v = 0) a0
        |      CROSS JOIN (SELECT * FROM pa WHERE v = 1) a1)
        |SELECT 'p25' AS quantile, CAST(q25_0 AS DOUBLE) / 100.0 AS arm0,
        |  CAST(q25_1 AS DOUBLE) / 100.0 AS arm1,
        |  CAST(q25_1 - q25_0 AS DOUBLE) / 100.0 AS qte FROM j
        |UNION ALL
        |SELECT 'p50', CAST(q50_0 AS DOUBLE) / 100.0,
        |  CAST(q50_1 AS DOUBLE) / 100.0,
        |  CAST(q50_1 - q50_0 AS DOUBLE) / 100.0 FROM j
        |UNION ALL
        |SELECT 'p75', CAST(q75_0 AS DOUBLE) / 100.0,
        |  CAST(q75_1 AS DOUBLE) / 100.0,
        |  CAST(q75_1 - q75_0 AS DOUBLE) / 100.0 FROM j""".stripMargin,
    // Mann–Kendall: S and Var(S)·18 as exact BIGINT sums over the
    // gap-filled grid; the only float ops are the final division and
    // sqrt, on the shared 6dp grid. Same inner-join semantics as the
    // Spark plan: keys need ≥ 2 buckets to appear.
    "ts_mann_kendall" ->
      s"""WITH $hourlyGridCtes,
         |s AS (SELECT a.event_type,
         |    CAST(sum(CASE WHEN b.n > a.n THEN 1
         |                  WHEN b.n < a.n THEN -1 ELSE 0 END) AS BIGINT) AS s
         |  FROM ff a JOIN ff b ON a.event_type = b.event_type
         |    AND a.bucket < b.bucket
         |  GROUP BY 1),
         |ties AS (SELECT event_type,
         |    CAST(sum(t) AS BIGINT) AS nb,
         |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
         |  FROM (SELECT event_type, n, CAST(count(*) AS BIGINT) AS t
         |        FROM ff GROUP BY 1, 2) GROUP BY 1),
         |v AS (SELECT s.event_type, nb, s.s,
         |    nb * (nb - 1) * (2 * nb + 5) - tie_term AS var18
         |  FROM s JOIN ties USING (event_type))
         |SELECT event_type, nb AS n_buckets, s, var18,
         |  round(CASE WHEN var18 <= 0 OR s = 0 THEN 0.0
         |    WHEN s > 0 THEN CAST(s - 1 AS DOUBLE)
         |      / sqrt(CAST(var18 AS DOUBLE) / 18.0)
         |    ELSE CAST(s + 1 AS DOUBLE)
         |      / sqrt(CAST(var18 AS DOUBLE) / 18.0) END * 1000000) / 1000000
         |    AS z
         |FROM v""".stripMargin,
    "ts_xcorr" ->
      s"""WITH $hourlyGridCtes,
         |sr AS (SELECT event_type AS k,
         |    CAST(epoch(bucket) AS BIGINT) // 3600 AS h, n FROM ff),
         |a AS (SELECT k AS ka, h, n AS x, lag
         |  FROM sr, (SELECT unnest(range(4)) AS lag)),
         |b AS (SELECT k AS kb, h AS hb, n AS y FROM sr),
         |m AS (SELECT ka AS type_a, kb AS type_b, lag,
         |    CAST(count(*) AS BIGINT) AS n_overlap,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x * y) AS BIGINT) AS sxy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx,
         |    CAST(sum(y * y) AS BIGINT) AS syy
         |  FROM a JOIN b ON hb = h + lag AND ka < kb
         |  GROUP BY 1, 2, 3),
         |v AS (SELECT *,
         |    CAST(CAST(n_overlap AS HUGEINT) * sxx
         |       - CAST(sx AS HUGEINT) * sx AS DOUBLE)
         |      * CAST(CAST(n_overlap AS HUGEINT) * syy
         |            - CAST(sy AS HUGEINT) * sy AS DOUBLE) AS den2
         |  FROM m)
         |SELECT type_a, type_b, lag, n_overlap,
         |  CASE WHEN den2 > 0 THEN
         |    round(CAST(CAST(n_overlap AS HUGEINT) * sxy
         |             - CAST(sx AS HUGEINT) * sy AS DOUBLE)
         |        / sqrt(den2) * 1000000) / 1000000
         |  END AS r
         |FROM v""".stripMargin,
    "ts_decompose" ->
      s"""WITH $hourlyGridCtes,
         |t AS (SELECT event_type, bucket, n,
         |    CAST(sum(n) OVER w AS BIGINT) AS s25,
         |    CAST(count(*) OVER w AS BIGINT) AS c25
         |  FROM ff
         |  WINDOW w AS (PARTITION BY event_type ORDER BY bucket
         |    ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
         |sea AS (SELECT event_type, CAST(hour(bucket) AS INT) AS hod,
         |    CAST(sum(25 * n - s25) AS BIGINT) AS num,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM t WHERE c25 = 25 GROUP BY 1, 2)
         |SELECT t.event_type, bucket, n,
         |  CASE WHEN c25 = 25 THEN
         |    round(CAST(s25 AS DOUBLE) / 25.0 * 1000000) / 1000000
         |  END AS trend,
         |  CASE WHEN c25 = 25 THEN
         |    round(CAST(num AS DOUBLE) / CAST(25 * cnt AS DOUBLE)
         |      * 1000000) / 1000000
         |  END AS seasonal,
         |  CASE WHEN c25 = 25 THEN
         |    round(CAST(25 * cnt * n - cnt * s25 - num AS DOUBLE)
         |        / CAST(25 * cnt AS DOUBLE) * 1000000) / 1000000
         |  END AS resid
         |FROM t LEFT JOIN sea
         |  ON t.event_type = sea.event_type
         |  AND CAST(hour(bucket) AS INT) = sea.hod""".stripMargin,

    "ts_theil_sen" ->
      s"""WITH $hourlyGridCtes,
         |sr AS (SELECT event_type AS k,
         |    CAST(epoch(bucket) AS BIGINT) // 3600 AS h, n FROM ff),
         |a AS (SELECT k, h, n AS x, lag
         |  FROM sr, (SELECT unnest(range(1, 49)) AS lag)),
         |b AS (SELECT k AS kb, h AS hb, n AS y FROM sr),
         |p AS (SELECT k, CAST(y - x AS DOUBLE) / lag AS s
         |  FROM a JOIN b ON kb = k AND hb = h + lag),
         |r AS (SELECT k, s,
         |    row_number() OVER (PARTITION BY k ORDER BY s) AS rn,
         |    count(*) OVER (PARTITION BY k) AS cnt FROM p)
         |SELECT k AS event_type, CAST(max(cnt) AS BIGINT) AS n_slopes,
         |  round(sum(s) / count(*) * 1000000) / 1000000 AS slope_med
         |FROM r
         |WHERE rn = (cnt + 1) // 2 OR rn = cnt // 2 + 1
         |GROUP BY k""".stripMargin,

    "stat_anova" ->
      """WITH per AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM events),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS ni,
        |    CAST(sum(x) AS BIGINT) AS si,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS qi
        |  FROM per GROUP BY 1),
        |t AS (SELECT CAST(sum(ni) AS BIGINT) AS n,
        |    CAST(sum(si) AS HUGEINT) AS s, CAST(sum(qi) AS HUGEINT) AS q,
        |    CAST(count(*) AS BIGINT) AS k,
        |    list((CAST(si AS DOUBLE) * CAST(si AS DOUBLE))
        |         / CAST(ni AS DOUBLE) ORDER BY event_type) AS terms
        |  FROM g),
        |v AS (SELECT n, k,
        |    list_reduce(terms, (acc, tm) -> acc + tm) AS a,
        |    CAST(s AS DOUBLE) AS sd, CAST(q AS DOUBLE) AS qd
        |  FROM t),
        |f AS (SELECT n, k, a - sd * sd / CAST(n AS DOUBLE) AS ssb,
        |    qd - a AS ssw FROM v)
        |SELECT n, k AS n_groups,
        |  CASE WHEN ssw > 0 AND k > 1 AND n > k THEN
        |    round(ssb * CAST(n - k AS DOUBLE)
        |        / (ssw * CAST(k - 1 AS DOUBLE)) * 10000) / 10000
        |  END AS f
        |FROM f""".stripMargin,

    "ev_markov_steady" -> {
      def iter(prev: String, name: String) =
        s"""$name AS (SELECT st.st, coalesce(m.pin, 0) AS p
           |  FROM st LEFT JOIN (
           |    SELECT c.next_type AS st2,
           |      CAST(sum((x.p * c.c - (x.p * c.c) % r.r) / r.r) AS BIGINT)
           |        AS pin
           |    FROM c JOIN r USING (event_type)
           |      JOIN $prev x ON x.st = c.event_type
           |    GROUP BY 1) m ON st.st = m.st2)"""
      s"""WITH nxt AS (SELECT event_type,
         |    lead(event_type, 1) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS next_type
         |  FROM events),
         |c AS (SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS c
         |  FROM nxt WHERE next_type IS NOT NULL GROUP BY 1, 2),
         |r AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS r
         |      FROM c GROUP BY 1),
         |st AS (SELECT DISTINCT st FROM (SELECT event_type AS st FROM c
         |       UNION ALL SELECT next_type FROM c)),
         |x0 AS (SELECT st, CAST(1000000 AS BIGINT) AS p FROM st),
         |${iter("x0", "x1")},
         |${iter("x1", "x2")},
         |${iter("x2", "x3")}
         |SELECT st AS event_type, p AS steady_scaled,
         |  p / 1000000.0 AS steady
         |FROM x3""".stripMargin
    },

    "ts_acf" ->
      s"""WITH $hourlyGridCtes,
         |sr AS (SELECT event_type AS k,
         |    CAST(epoch(bucket) AS BIGINT) // 3600 AS h, n FROM ff),
         |a AS (SELECT k, h, n AS x, lag
         |  FROM sr, (SELECT unnest(range(1, 25)) AS lag)),
         |b AS (SELECT k AS kb, h AS hb, n AS y FROM sr),
         |m AS (SELECT k AS event_type, lag,
         |    CAST(count(*) AS BIGINT) AS n_overlap,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x * y) AS BIGINT) AS sxy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx,
         |    CAST(sum(y * y) AS BIGINT) AS syy
         |  FROM a JOIN b ON kb = k AND hb = h + lag
         |  GROUP BY 1, 2),
         |v AS (SELECT *,
         |    CAST(CAST(n_overlap AS HUGEINT) * sxx
         |       - CAST(sx AS HUGEINT) * sx AS DOUBLE)
         |      * CAST(CAST(n_overlap AS HUGEINT) * syy
         |            - CAST(sy AS HUGEINT) * sy AS DOUBLE) AS den2
         |  FROM m)
         |SELECT event_type, lag, n_overlap,
         |  CASE WHEN den2 > 0 THEN
         |    round(CAST(CAST(n_overlap AS HUGEINT) * sxy
         |             - CAST(sx AS HUGEINT) * sy AS DOUBLE)
         |        / sqrt(den2) * 1000000) / 1000000
         |  END AS r
         |FROM v""".stripMargin,

    // same hourly grid as ts_acf; rolling 24-term BIGINT window sums
    // per (key, lag), complete-window filter, both-endpoint union, and
    // the (dist2, signed-lag) arg-min — all exact integers.
    "ts_motif" ->
      s"""WITH $hourlyGridCtes,
         |sr AS (SELECT event_type AS k,
         |    CAST(epoch(bucket) AS BIGINT) // 3600 AS h, n FROM ff),
         |aa AS (SELECT k, h, n AS x, lag
         |  FROM sr, (SELECT unnest(range(12, 49)) AS lag)),
         |dd AS (SELECT aa.k, aa.lag, aa.h,
         |    (aa.x - b.n) * (aa.x - b.n) AS d2
         |  FROM aa JOIN sr b ON b.k = aa.k AND b.h = aa.h + aa.lag),
         |rs AS (SELECT k, lag, h,
         |    sum(d2) OVER (PARTITION BY k, lag ORDER BY h
         |      ROWS BETWEEN CURRENT ROW AND 23 FOLLOWING) AS dist2,
         |    count(*) OVER (PARTITION BY k, lag ORDER BY h
         |      ROWS BETWEEN CURRENT ROW AND 23 FOLLOWING) AS m
         |  FROM dd),
         |fw AS MATERIALIZED (SELECT k, lag, h, CAST(dist2 AS BIGINT) AS dist2
         |  FROM rs WHERE m = 24),
         |u AS (SELECT k, h AS i, dist2, lag AS nn_lag FROM fw
         |  UNION ALL SELECT k, h + lag AS i, dist2, -lag AS nn_lag FROM fw),
         |p AS (SELECT k, i, dist2, nn_lag, row_number() OVER (
         |    PARTITION BY k, i ORDER BY dist2 ASC, nn_lag ASC) AS rn FROM u)
         |SELECT k AS event_type, CAST(i AS BIGINT) AS h,
         |  CAST(dist2 AS BIGINT) AS mp2, CAST(nn_lag AS BIGINT) AS nn_lag
         |FROM p WHERE rn = 1""".stripMargin,

    "stat_kendall" ->
      """WITH cells AS (SELECT CAST(l_quantity AS BIGINT) AS x,
        |    CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT) AS y,
        |    CAST(count(*) AS HUGEINT) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |cd AS (SELECT
        |    CAST(coalesce(sum(CASE WHEN l.y < r.y THEN l.c * r.c ELSE 0 END),
        |      0) AS HUGEINT) AS conc,
        |    CAST(coalesce(sum(CASE WHEN l.y > r.y THEN l.c * r.c ELSE 0 END),
        |      0) AS HUGEINT) AS disc
        |  FROM cells l JOIN cells r ON l.x < r.x),
        |tx AS (SELECT CAST(sum(t * (t - 1)) AS HUGEINT) AS tx2 FROM (
        |    SELECT CAST(sum(c) AS HUGEINT) AS t FROM cells GROUP BY x)),
        |ty AS (SELECT CAST(sum(t * (t - 1)) AS HUGEINT) AS ty2 FROM (
        |    SELECT CAST(sum(c) AS HUGEINT) AS t FROM cells GROUP BY y)),
        |tot AS (SELECT CAST(sum(c) AS HUGEINT) AS n FROM cells),
        |m AS (SELECT n, tx2, ty2, conc, disc, n * (n - 1) AS n2
        |      FROM tot, tx, ty, cd)
        |SELECT CAST(n AS BIGINT) AS n_rows,
        |  CAST(conc AS DOUBLE) AS conc, CAST(disc AS DOUBLE) AS disc,
        |  CASE WHEN n2 - tx2 > 0 AND n2 - ty2 > 0 THEN
        |    round(CAST(conc - disc AS DOUBLE) * 2.0
        |      / sqrt(CAST(n2 - tx2 AS DOUBLE) * CAST(n2 - ty2 AS DOUBLE))
        |      * 10000) / 10000 END AS tau_b
        |FROM m""".stripMargin,

    "ev_survival" ->
      """WITH RECURSIVE hz AS (SELECT CAST(max(ts) AS DATE) AS h FROM events),
        |per AS (SELECT user_id, CAST(min(ts) AS DATE) AS f,
        |    CAST(max(ts) AS DATE) AS l FROM events GROUP BY user_id),
        |uu AS (SELECT CAST(date_diff('day', f, l) AS BIGINT) AS t,
        |    date_diff('day', l, h) > 0 AS dead FROM per, hz),
        |lif AS (SELECT t, CAST(count(*) AS BIGINT) AS m,
        |    CAST(sum(CASE WHEN dead THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM uu GROUP BY t),
        |tot AS (SELECT CAST(sum(m) AS BIGINT) AS n FROM lif),
        |rk AS (SELECT t, d, n - coalesce(CAST(sum(m) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
        |      0) AS n_risk
        |  FROM lif, tot),
        |dd AS (SELECT t, d, n_risk,
        |    row_number() OVER (ORDER BY t) AS rn FROM rk WHERE d > 0),
        |km AS (
        |  SELECT rn, t, d, n_risk,
        |    1.0 * (1.0 - CAST(d AS DOUBLE) / n_risk) AS s
        |  FROM dd WHERE rn = 1
        |  UNION ALL
        |  SELECT dd.rn, dd.t, dd.d, dd.n_risk,
        |    km.s * (1.0 - CAST(dd.d AS DOUBLE) / dd.n_risk)
        |  FROM dd JOIN km ON dd.rn = km.rn + 1)
        |SELECT t AS t_day, d, n_risk,
        |  round(s * 10000) / 10000 AS survival FROM km""".stripMargin,

    "stat_spearman" ->
      """WITH per AS (SELECT user_id, CAST(count(*) AS BIGINT) AS a,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS b
        |  FROM events GROUP BY user_id),
        |ga AS (SELECT a, CAST(count(*) AS BIGINT) AS cnt FROM per GROUP BY a),
        |ra AS (SELECT a,
        |    2 * (CAST(sum(cnt) OVER (ORDER BY a
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      - cnt) + cnt + 1 AS ra
        |  FROM ga),
        |gb AS (SELECT b, CAST(count(*) AS BIGINT) AS cnt FROM per GROUP BY b),
        |rb AS (SELECT b,
        |    2 * (CAST(sum(cnt) OVER (ORDER BY b
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      - cnt) + cnt + 1 AS rb
        |  FROM gb),
        |j AS (SELECT ra.ra, rb.rb
        |  FROM per JOIN ra USING (a) JOIN rb USING (b)),
        |m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(ra) AS HUGEINT) AS sa, CAST(sum(rb) AS HUGEINT) AS sb,
        |    CAST(sum(CAST(ra AS HUGEINT) * rb) AS HUGEINT) AS sab,
        |    CAST(sum(CAST(ra AS HUGEINT) * ra) AS HUGEINT) AS saa,
        |    CAST(sum(CAST(rb AS HUGEINT) * rb) AS HUGEINT) AS sbb
        |  FROM j),
        |v AS (SELECT n, sab, sa, sb,
        |    CAST(n * saa - sa * sa AS DOUBLE)
        |      * CAST(n * sbb - sb * sb AS DOUBLE) AS den2 FROM m)
        |SELECT CAST(n AS BIGINT) AS n_users,
        |  CASE WHEN den2 > 0 THEN
        |    round(CAST(n * sab - sa * sb AS DOUBLE)
        |        / sqrt(den2) * 10000) / 10000
        |  END AS rho
        |FROM v""".stripMargin,

    "stat_chi2" ->
      """WITH cells AS (SELECT event_type,
        |    ((user_id % 2) + 2) % 2 AS variant,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r
        |       FROM cells GROUP BY 1),
        |ct AS (SELECT variant, CAST(sum(o) AS BIGINT) AS c
        |       FROM cells GROUP BY 1),
        |tt AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
        |nums AS (SELECT event_type,
        |    CAST(CAST(n AS HUGEINT) * o - CAST(r AS HUGEINT) * c
        |         AS DOUBLE) AS num,
        |    CAST(CAST(n AS HUGEINT) * r * c AS DOUBLE) AS den
        |  FROM cells JOIN rt USING (event_type) JOIN ct USING (variant), tt),
        |terms AS (SELECT event_type, num * num / den AS term FROM nums)
        |SELECT CAST(count(*) AS BIGINT) AS n_cells,
        |  CAST(count(DISTINCT event_type) - 1 AS BIGINT) AS df,
        |  round(sum(term) * 10000) / 10000 AS chi2
        |FROM terms""".stripMargin,
    "ev_transitions" ->
      """WITH nxt AS (SELECT event_type,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |cnt AS (SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
        |  FROM nxt WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT event_type, next_type, n,
        |  round(CAST(n AS DOUBLE) /
        |    sum(n) OVER (PARTITION BY event_type), 4) AS p
        |FROM cnt""".stripMargin,
    "ev_ab_test" ->
      """WITH u AS (SELECT user_id,
        |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
        |         THEN 1 ELSE 0 END AS conv,
        |    user_id % 2 AS variant
        |  FROM events GROUP BY user_id),
        |a AS (SELECT
        |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT) AS c1
        |  FROM u)
        |SELECT n0, c0, n1, c1,
        |  CAST(c0 AS DOUBLE) / n0 AS rate0,
        |  CAST(c1 AS DOUBLE) / n1 AS rate1,
        |  (CAST(c0 AS DOUBLE) / n0 - CAST(c1 AS DOUBLE) / n1)
        |    * (CAST(c0 AS DOUBLE) / n0 - CAST(c1 AS DOUBLE) / n1)
        |    / ((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
        |       * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
        |       * (1.0 / n0 + 1.0 / n1)) AS z2
        |FROM a""".stripMargin,
    "ev_paths" ->
      """WITH t AS (SELECT event_type AS e1,
        |    lead(event_type, 1) OVER w AS e2,
        |    lead(event_type, 2) OVER w AS e3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n
        |FROM t WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        |GROUP BY e1, e2, e3
        |ORDER BY n DESC, e1, e2, e3 LIMIT 20""".stripMargin,
    "ev_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
        |           WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id)
        |SELECT v.user_id,
        |  CAST(1 + (CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)
        |         + (CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS steps
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |       LEFT JOIN p ON v.user_id = p.user_id""".stripMargin,
    "ev_funnel_window" ->
      """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
        |           WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.ts > v.t1
        |        AND e.ts <= v.t1 + INTERVAL 24 HOURS GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t2
        |        AND e.ts <= c.t2 + INTERVAL 24 HOURS GROUP BY e.user_id)
        |SELECT v.user_id,
        |  CAST(1 + (CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)
        |         + (CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS steps
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |       LEFT JOIN p ON v.user_id = p.user_id""".stripMargin,
    "ev_attribution" ->
      """WITH u AS (
        |  SELECT user_id, ts, 0 AS side, event_id AS click_id,
        |    CAST(NULL AS BIGINT) AS purchase_id
        |  FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, ts, 1, NULL, event_id
        |  FROM events WHERE event_type = 'purchase'),
        |w AS (SELECT *,
        |  last_value(CASE WHEN side = 0 THEN {'cts': ts, 'cid': click_id} END
        |      IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, side, click_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lc
        |  FROM u)
        |SELECT purchase_id, user_id, ts,
        |  CASE WHEN lc.cts IS NOT NULL AND lc.cts >= ts - INTERVAL 1 HOUR
        |       THEN lc.cid END AS click_id,
        |  CASE WHEN lc.cts IS NOT NULL AND lc.cts >= ts - INTERVAL 1 HOUR
        |       THEN lc.cts END AS click_ts
        |FROM w WHERE side = 1""".stripMargin,
    "ev_anomaly" ->
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour,
        |            CAST(count(*) AS BIGINT) AS n
        |          FROM events GROUP BY 1, 2)
        |SELECT event_type, hour, n,
        |  round(avg(n) OVER w, 4) AS mean_n,
        |  round((n - avg(n) OVER w) / nullif(stddev_samp(n) OVER w, 0), 4) AS z
        |FROM h
        |WINDOW w AS (PARTITION BY event_type ORDER BY hour
        |             ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)""".stripMargin,
    "ts_anomaly" ->
      """WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS hour,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |med AS (SELECT event_type,
        |    CAST(2 * quantile_cont(cnt, 0.5) AS BIGINT) AS med2
        |  FROM hourly GROUP BY 1),
        |dev AS (SELECT h.event_type, h.hour, h.cnt, m.med2,
        |    abs(2 * h.cnt - m.med2) AS dev2
        |  FROM hourly h JOIN med m USING (event_type)),
        |mad AS (SELECT event_type,
        |    CAST(2 * quantile_cont(dev2, 0.5) AS BIGINT) AS mad4
        |  FROM dev GROUP BY 1)
        |SELECT d.event_type, d.hour, d.cnt, d.med2, m.mad4
        |FROM dev d JOIN mad m USING (event_type)
        |WHERE 2 * d.dev2 > 3 * m.mad4""".stripMargin,
    "ev_cooccur" ->
      """WITH t AS (SELECT DISTINCT user_id, event_type FROM events),
        |n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS nu FROM t),
        |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS supp
        |      FROM t GROUP BY 1),
        |p AS (SELECT t1.event_type AS a, t2.event_type AS b,
        |    CAST(count(*) AS BIGINT) AS supp_ab
        |  FROM t t1 JOIN t t2 ON t1.user_id = t2.user_id
        |    AND t1.event_type < t2.event_type
        |  GROUP BY 1, 2)
        |SELECT a, b, supp_ab, sa.supp AS supp_a, sb.supp AS supp_b,
        |  round(CAST(supp_ab * nu AS DOUBLE)
        |    / CAST(sa.supp * sb.supp AS DOUBLE) * 1000000) / 1000000 AS lift,
        |  round(CAST(supp_ab AS DOUBLE)
        |    / CAST(sa.supp AS DOUBLE) * 1000000) / 1000000 AS confidence
        |FROM p JOIN s sa ON p.a = sa.event_type
        |  JOIN s sb ON p.b = sb.event_type, n""".stripMargin,
    "dim_scd2" ->
      """WITH m AS (SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM events),
        |c AS (SELECT user_id, event_type, ts, event_id FROM m
        |      WHERE rn = 1 OR coalesce(prev, '') <> coalesce(event_type, ''))
        |SELECT user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS valid_to
        |FROM c""".stripMargin,
    // intervals tile per user, so the range join matches at most once;
    // probing at ts−1µs ⇔ vf < ts AND (vt IS NULL OR vt >= ts) at
    // microsecond granularity.
    "dim_asof" ->
      """WITH m AS (SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM events),
        |c AS (SELECT user_id, event_type, ts, event_id FROM m
        |      WHERE rn = 1 OR coalesce(prev, '') <> coalesce(event_type, '')),
        |dim AS (SELECT user_id, event_type AS state, ts AS vf,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vt
        |  FROM c),
        |p AS (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, d.state AS state_before
        |FROM p LEFT JOIN dim d ON p.user_id = d.user_id
        |  AND d.vf < p.ts AND (d.vt IS NULL OR d.vt >= p.ts)""".stripMargin,
    "ev_rfm" ->
      """WITH p AS (SELECT user_id, max(ts) AS last_purchase,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id)
        |SELECT user_id, last_purchase, frequency, monetary,
        |  CAST(ntile(4) OVER (ORDER BY monetary DESC, user_id) AS INT)
        |    AS segment
        |FROM p""".stripMargin,
    "ts_resample" ->
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS bucket,
        |    CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(value AS DECIMAL(18,2))) AS sum_value
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, min(bucket) AS b0, max(bucket) AS b1
        |      FROM h GROUP BY 1),
        |g AS (SELECT event_type,
        |    unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
        |  FROM s)
        |SELECT g.event_type, g.bucket,
        |  coalesce(h.n, 0) AS n,
        |  CAST(coalesce(h.sum_value, CAST(0 AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_value
        |FROM g LEFT JOIN h
        |  ON g.event_type = h.event_type AND g.bucket = h.bucket""".stripMargin,
    // interval replay: same grid, same lag-24 residuals, same ⌈0.9·n⌉
    // integer rank off the residual-domain collapse, same ±band.
    "ts_forecast_interval" ->
      """WITH h0 AS (SELECT event_type, date_trunc('hour', ts) AS bucket,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, min(bucket) AS b0, max(bucket) AS b1
        |      FROM h0 GROUP BY 1),
        |g AS (SELECT event_type,
        |    unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
        |  FROM s),
        |h AS (SELECT g.event_type, g.bucket, coalesce(h0.n, 0) AS n
        |  FROM g LEFT JOIN h0
        |    ON g.event_type = h0.event_type AND g.bucket = h0.bucket),
        |p AS (SELECT event_type, bucket, n,
        |    lag(n, 24) OVER (PARTITION BY event_type ORDER BY bucket)
        |      AS pred
        |  FROM h),
        |rd AS (SELECT event_type, abs(n - pred) AS r,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM p WHERE pred IS NOT NULL GROUP BY 1, 2),
        |cu AS (SELECT event_type, r, c,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY r) AS cum,
        |    sum(c) OVER (PARTITION BY event_type) AS nr
        |  FROM rd),
        |bd AS (SELECT event_type, CAST(max(nr) AS BIGINT) AS n_resid,
        |    min(CASE WHEN cum >= (nr * 9 + 9) // 10
        |             AND cum - c < (nr * 9 + 9) // 10 THEN r END) AS band
        |  FROM cu GROUP BY 1),
        |lastb AS (SELECT event_type, max(bucket) AS bmax FROM h GROUP BY 1),
        |pt AS (SELECT h.event_type, bmax + INTERVAL 1 HOUR AS next_bucket,
        |    n AS point
        |  FROM h JOIN lastb ON h.event_type = lastb.event_type
        |    AND h.bucket = bmax - INTERVAL 23 HOURS)
        |SELECT pt.event_type, next_bucket, point,
        |  greatest(point - band, 0) AS lo, point + band AS hi,
        |  band, n_resid
        |FROM pt JOIN bd USING (event_type)""".stripMargin,
    "ts_interpolate" ->
      """WITH e AS (SELECT * FROM events WHERE event_id % 7 = 0),
        |h AS (SELECT event_type, date_trunc('hour', ts) AS bucket,
        |    CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(value AS DECIMAL(18,2))) AS sum_value
        |  FROM e GROUP BY 1, 2),
        |s AS (SELECT event_type, min(bucket) AS b0, max(bucket) AS b1
        |      FROM h GROUP BY 1),
        |g AS (SELECT event_type,
        |    unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
        |  FROM s),
        |f AS (SELECT g.event_type, g.bucket, coalesce(h.n, 0) AS n,
        |    CASE WHEN h.n > 0 THEN CAST(h.sum_value AS DOUBLE) / h.n END AS v
        |  FROM g LEFT JOIN h
        |    ON g.event_type = h.event_type AND g.bucket = h.bucket),
        |w AS (SELECT *,
        |    last_value(CASE WHEN v IS NOT NULL
        |        THEN {'b': bucket, 'pv': v} END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY bucket
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev,
        |    first_value(CASE WHEN v IS NOT NULL
        |        THEN {'b': bucket, 'pv': v} END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY bucket
        |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next
        |  FROM f)
        |SELECT event_type, bucket, n,
        |  round((CASE WHEN v IS NOT NULL THEN v
        |    ELSE prev.pv + (next.pv - prev.pv) *
        |      (CAST(epoch(bucket) - epoch(prev.b) AS DOUBLE) /
        |       CAST(epoch(next.b) - epoch(prev.b) AS DOUBLE)) END) * 10000)
        |    / 10000 AS value
        |FROM w""".stripMargin,
    "ts_ewma" ->
      """WITH RECURSIVE h0 AS (SELECT event_type,
        |    date_trunc('hour', ts) AS bucket, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, min(bucket) AS b0, max(bucket) AS b1
        |      FROM h0 GROUP BY 1),
        |g AS (SELECT event_type,
        |    unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
        |  FROM s),
        |h AS (SELECT g.event_type, g.bucket, coalesce(h0.n, 0) AS n,
        |    row_number() OVER (PARTITION BY g.event_type
        |                       ORDER BY g.bucket) AS rn
        |  FROM g LEFT JOIN h0
        |    ON g.event_type = h0.event_type AND g.bucket = h0.bucket),
        |r AS (
        |  SELECT event_type, bucket, n, rn, CAST(n AS DOUBLE) AS ewma
        |  FROM h WHERE rn = 1
        |  UNION ALL
        |  SELECT h.event_type, h.bucket, h.n, h.rn,
        |    0.3 * CAST(h.n AS DOUBLE) + 0.7 * r.ewma
        |  FROM h JOIN r ON h.event_type = r.event_type AND h.rn = r.rn + 1)
        |SELECT event_type, bucket, n, round(ewma * 10000) / 10000 AS ewma
        |FROM r""".stripMargin,
    // the float chain mirrors the Spark column order exactly: cent
    // means, computational-formula variances from exact DECIMAL(38,0)
    // moments, (diff·diff)/se2, one 6-dp round.
    "stat_ttest" ->
      """WITH per AS (SELECT ((user_id % 2) + 2) % 2 AS variant,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0)) AS x
        |  FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT
        |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    sum(CASE WHEN variant = 0 THEN x END) AS sx0,
        |    sum(CASE WHEN variant = 0 THEN x * x END) AS sxx0,
        |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    sum(CASE WHEN variant = 1 THEN x END) AS sx1,
        |    sum(CASE WHEN variant = 1 THEN x * x END) AS sxx1
        |  FROM per)
        |SELECT n0, n1,
        |  round((CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE)) / 100.0
        |    * 1000000) / 1000000 AS mean0,
        |  round((CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)) / 100.0
        |    * 1000000) / 1000000 AS mean1,
        |  round(CASE WHEN (CAST(CAST(n0 AS DECIMAL(38,0)) * sxx0 - sx0 * sx0 AS DOUBLE)
        |        / CAST(CAST(n0 AS DECIMAL(38,0))
        |            * (CAST(n0 AS DECIMAL(38,0)) - 1) AS DOUBLE)
        |        / CAST(n0 AS DOUBLE)
        |      + CAST(CAST(n1 AS DECIMAL(38,0)) * sxx1 - sx1 * sx1 AS DOUBLE)
        |        / CAST(CAST(n1 AS DECIMAL(38,0))
        |            * (CAST(n1 AS DECIMAL(38,0)) - 1) AS DOUBLE)
        |        / CAST(n1 AS DOUBLE)) > 0 THEN
        |    ((CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE))
        |       - (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)))
        |    * ((CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE))
        |       - (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)))
        |    / (CAST(CAST(n0 AS DECIMAL(38,0)) * sxx0 - sx0 * sx0 AS DOUBLE)
        |        / CAST(CAST(n0 AS DECIMAL(38,0))
        |            * (CAST(n0 AS DECIMAL(38,0)) - 1) AS DOUBLE)
        |        / CAST(n0 AS DOUBLE)
        |      + CAST(CAST(n1 AS DECIMAL(38,0)) * sxx1 - sx1 * sx1 AS DOUBLE)
        |        / CAST(CAST(n1 AS DECIMAL(38,0))
        |            * (CAST(n1 AS DECIMAL(38,0)) - 1) AS DOUBLE)
        |        / CAST(n1 AS DOUBLE)) END
        |    * 1000000) / 1000000 AS t2
        |FROM m""".stripMargin,
    // BH step-up on the per-type Welch t² (the stat_ttest kernel grouped
    // by event_type); the z² bar matrix is the SAME 6dp-quantized Scala
    // literal the engine plan embeds
    "stat_fdr" -> {
      val mat = bhThr
        .map(row => row.map(x => f"$x%.6f").mkString("[", ", ", "]"))
        .mkString("[", ", ", "]")
      s"""WITH per AS (SELECT event_type, ((user_id % 2) + 2) % 2 AS variant,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0)) AS x
         |  FROM events),
         |m AS (SELECT event_type,
         |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         |    sum(CASE WHEN variant = 0 THEN x END) AS sx0,
         |    sum(CASE WHEN variant = 0 THEN x * x END) AS sxx0,
         |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    sum(CASE WHEN variant = 1 THEN x END) AS sx1,
         |    sum(CASE WHEN variant = 1 THEN x * x END) AS sxx1
         |  FROM per GROUP BY 1),
         |t AS (SELECT event_type, n0, n1,
         |    CASE WHEN (CAST(CAST(n0 AS DECIMAL(38,0)) * sxx0 - sx0 * sx0 AS DOUBLE)
         |        / CAST(CAST(n0 AS DECIMAL(38,0))
         |            * (CAST(n0 AS DECIMAL(38,0)) - 1) AS DOUBLE)
         |        / CAST(n0 AS DOUBLE)
         |      + CAST(CAST(n1 AS DECIMAL(38,0)) * sxx1 - sx1 * sx1 AS DOUBLE)
         |        / CAST(CAST(n1 AS DECIMAL(38,0))
         |            * (CAST(n1 AS DECIMAL(38,0)) - 1) AS DOUBLE)
         |        / CAST(n1 AS DOUBLE)) > 0 THEN
         |    ((CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE))
         |       - (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)))
         |    * ((CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE))
         |       - (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)))
         |    / (CAST(CAST(n0 AS DECIMAL(38,0)) * sxx0 - sx0 * sx0 AS DOUBLE)
         |        / CAST(CAST(n0 AS DECIMAL(38,0))
         |            * (CAST(n0 AS DECIMAL(38,0)) - 1) AS DOUBLE)
         |        / CAST(n0 AS DOUBLE)
         |      + CAST(CAST(n1 AS DECIMAL(38,0)) * sxx1 - sx1 * sx1 AS DOUBLE)
         |        / CAST(CAST(n1 AS DECIMAL(38,0))
         |            * (CAST(n1 AS DECIMAL(38,0)) - 1) AS DOUBLE)
         |        / CAST(n1 AS DOUBLE)) END AS t2
         |  FROM m),
         |r AS (SELECT event_type, n0, n1, t2,
         |    CAST(row_number() OVER (ORDER BY t2 DESC NULLS LAST,
         |      event_type ASC) AS BIGINT) AS rank,
         |    CAST(count(*) OVER () AS INT) AS mm
         |  FROM t),
         |p AS (SELECT *, t2 >= ($mat)[mm][CAST(rank AS INT)] AS pass FROM r)
         |SELECT event_type, n0, n1,
         |  round(t2 * 1000000) / 1000000 AS t2, rank,
         |  rank <= coalesce(max(CASE WHEN pass THEN rank END) OVER (), 0)
         |    AS rejected
         |FROM p""".stripMargin
    },
    // Beta-posterior normal approximation, Φ via the SAME A&S 26.2.17
    // polynomial literals (Stats.normCdfSql), moments as double ratios
    // of exact counts — products in double, never BIGINT
    "stat_bayes_ab" -> {
      def mu(s: String, n: String) =
        s"(CAST($s + 1 AS DOUBLE) / CAST($n + 2 AS DOUBLE))"
      def va(s: String, n: String) =
        s"(CAST($s + 1 AS DOUBLE) * CAST($n - $s + 1 AS DOUBLE) " +
          s"/ (CAST($n + 2 AS DOUBLE) * CAST($n + 2 AS DOUBLE) " +
          s"* CAST($n + 3 AS DOUBLE)))"
      val z = s"((${mu("s1", "n1")} - ${mu("s0", "n0")}) " +
        s"/ sqrt(${va("s0", "n0")} + ${va("s1", "n1")}))"
      s"""WITH per AS (SELECT CAST(ts AS DATE) AS day,
         |    ((user_id % 2) + 2) % 2 AS variant,
         |    event_type = 'purchase' AS conv
         |  FROM events),
         |m AS (SELECT day,
         |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         |    CAST(sum(CASE WHEN variant = 0 AND conv THEN 1 ELSE 0 END)
         |      AS BIGINT) AS s0,
         |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(sum(CASE WHEN variant = 1 AND conv THEN 1 ELSE 0 END)
         |      AS BIGINT) AS s1
         |  FROM per GROUP BY 1),
         |zt AS (SELECT day, n0, s0, n1, s1, $z AS z FROM m)
         |SELECT day, n0, s0, n1, s1,
         |  round(z * 1000000) / 1000000 AS z,
         |  round(${graft.ops.Stats.normCdfSql("z")} * 1000000) / 1000000
         |    AS p_b_gt_a
         |FROM zt""".stripMargin
    },
    "topk_movers" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |d2 AS (SELECT event_type, day, n,
        |    lag(n) OVER (PARTITION BY event_type ORDER BY day) AS prev_n
        |  FROM daily)
        |SELECT event_type, day, n, prev_n, n - prev_n AS delta
        |FROM d2 WHERE prev_n IS NOT NULL
        |ORDER BY abs(n - prev_n) DESC, event_type, day LIMIT 10""".stripMargin,
    // the wau join keeps only days that exist as DAU days (inner join),
    // exactly like the Spark plan.
    "ev_dau_wau" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events),
        |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau
        |  FROM ud GROUP BY 1),
        |w AS (SELECT DISTINCT user_id, day + CAST(i.i AS INT) AS day
        |  FROM ud, (SELECT unnest(range(7)) AS i) i),
        |wau AS (SELECT day, CAST(count(*) AS BIGINT) AS wau
        |  FROM w GROUP BY 1)
        |SELECT dau.day, dau.dau, wau.wau,
        |  round(CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) * 10000) / 10000
        |    AS stickiness
        |FROM dau JOIN wau ON dau.day = wau.day""".stripMargin,
    "ev_power_users" ->
      """WITH per AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1),
        |r AS (SELECT cnt, row_number() OVER
        |    (ORDER BY cnt DESC, user_id ASC) AS rank FROM per),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(cnt) AS BIGINT) AS total_events FROM per)
        |SELECT t.n_users,
        |  CAST(sum(CASE WHEN (rank - 1) * 100 < n_users
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_top,
        |  t.total_events,
        |  CAST(sum(CASE WHEN (rank - 1) * 100 < n_users
        |    THEN cnt ELSE 0 END) AS BIGINT) AS top_events,
        |  round(CAST(sum(CASE WHEN (rank - 1) * 100 < n_users
        |      THEN cnt ELSE 0 END) AS DOUBLE)
        |    / CAST(t.total_events AS DOUBLE) * 1000000) / 1000000
        |    AS top_share
        |FROM r, t GROUP BY t.n_users, t.total_events""".stripMargin,
    // level spelled twice in the recursive arm (SQL can't bind it);
    // identical float chain to the Spark fold, so states replay exactly.
    "ts_holt" ->
      """WITH RECURSIVE h0 AS (SELECT event_type,
        |    date_trunc('hour', ts) AS bucket, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, min(bucket) AS b0, max(bucket) AS b1
        |      FROM h0 GROUP BY 1),
        |g AS (SELECT event_type,
        |    unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
        |  FROM s),
        |h AS (SELECT g.event_type, g.bucket, coalesce(h0.n, 0) AS n,
        |    row_number() OVER (PARTITION BY g.event_type
        |                       ORDER BY g.bucket) AS rn
        |  FROM g LEFT JOIN h0
        |    ON g.event_type = h0.event_type AND g.bucket = h0.bucket),
        |r AS (
        |  SELECT event_type, bucket, n, rn,
        |    CAST(n AS DOUBLE) AS level, CAST(0 AS DOUBLE) AS trend
        |  FROM h WHERE rn = 1
        |  UNION ALL
        |  SELECT h.event_type, h.bucket, h.n, h.rn,
        |    0.3 * CAST(h.n AS DOUBLE) + 0.7 * (r.level + r.trend),
        |    0.1 * ((0.3 * CAST(h.n AS DOUBLE) + 0.7 * (r.level + r.trend))
        |           - r.level) + 0.9 * r.trend
        |  FROM h JOIN r ON h.event_type = r.event_type AND h.rn = r.rn + 1)
        |SELECT event_type, bucket, n,
        |  round(level * 10000) / 10000 + 0.0 AS level,
        |  round(trend * 10000) / 10000 + 0.0 AS trend,
        |  round((level + trend) * 10000) / 10000 + 0.0 AS forecast_next
        |FROM r""".stripMargin,
    // (+ 0.0 normalizes DuckDB's round()'s -0.0 to +0.0 — Spark's round
    // goes through BigDecimal, which has no negative zero, so a tiny
    // negative state that rounds to zero rendered -0.0 here and 0.0
    // there; IEEE -0.0 + 0.0 = +0.0 and the identity everywhere else.)
    // same recursion restricted to the pre-period; the projection is
    // the identical closed-form double chain off the 4dp-rounded state.
    "ev_impact" ->
      """WITH RECURSIVE h0 AS (SELECT event_type,
        |    date_trunc('hour', ts) AS bucket, CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
        |  GROUP BY 1, 2),
        |s AS (SELECT event_type, min(bucket) AS b0, max(bucket) AS b1
        |      FROM h0 GROUP BY 1),
        |g AS (SELECT event_type,
        |    unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
        |  FROM s),
        |h AS (SELECT g.event_type, g.bucket, coalesce(h0.n, 0) AS n,
        |    row_number() OVER (PARTITION BY g.event_type
        |                       ORDER BY g.bucket) AS rn
        |  FROM g LEFT JOIN h0
        |    ON g.event_type = h0.event_type AND g.bucket = h0.bucket),
        |r AS (
        |  SELECT event_type, bucket, n, rn,
        |    CAST(n AS DOUBLE) AS level, CAST(0 AS DOUBLE) AS trend
        |  FROM h WHERE rn = 1
        |  UNION ALL
        |  SELECT h.event_type, h.bucket, h.n, h.rn,
        |    0.3 * CAST(h.n AS DOUBLE) + 0.7 * (r.level + r.trend),
        |    0.1 * ((0.3 * CAST(h.n AS DOUBLE) + 0.7 * (r.level + r.trend))
        |           - r.level) + 0.9 * r.trend
        |  FROM h JOIN r ON h.event_type = r.event_type AND h.rn = r.rn + 1),
        |lastr AS (SELECT event_type,
        |    round(level * 10000) / 10000 AS level,
        |    round(trend * 10000) / 10000 AS trend,
        |    row_number() OVER (PARTITION BY event_type ORDER BY rn DESC)
        |      AS rk
        |  FROM r),
        |l2 AS (SELECT event_type, level, trend FROM lastr WHERE rk = 1),
        |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS cum_actual
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
        |  GROUP BY 1)
        |SELECT l2.event_type, level, trend, cum_actual,
        |  round((level * 336.0 + trend * 56616.0) * 1000000) / 1000000
        |    AS cum_forecast,
        |  round((CAST(cum_actual AS DOUBLE)
        |         - (level * 336.0 + trend * 56616.0)) * 1000000) / 1000000
        |    AS impact,
        |  round((CAST(cum_actual AS DOUBLE)
        |         - (level * 336.0 + trend * 56616.0))
        |        / (level * 336.0 + trend * 56616.0) * 1000000) / 1000000
        |    AS rel_effect
        |FROM l2 JOIN a USING (event_type)""".stripMargin,
    // additive HW replay: the recursion carries a rotating 24-slot
    // seasonal list sl (sl[1] is always s_{t+1−24}); level/trend/seasonal
    // are the SAME double expression trees the fold evaluates, inlined.
    "ts_holtwinters" ->
      """WITH RECURSIVE h0 AS (SELECT event_type,
        |    date_trunc('hour', ts) AS bucket, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, min(bucket) AS b0, max(bucket) AS b1
        |      FROM h0 GROUP BY 1),
        |g AS (SELECT event_type,
        |    unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
        |  FROM s),
        |h AS (SELECT g.event_type, g.bucket, coalesce(h0.n, 0) AS n,
        |    row_number() OVER (PARTITION BY g.event_type
        |                       ORDER BY g.bucket) AS rn
        |  FROM g LEFT JOIN h0
        |    ON g.event_type = h0.event_type AND g.bucket = h0.bucket),
        |r AS (
        |  SELECT event_type, bucket, n, rn,
        |    CAST(n AS DOUBLE) AS level, CAST(0 AS DOUBLE) AS trend,
        |    list_concat([CAST(0 AS DOUBLE) FOR i IN range(23)],
        |                [CAST(0 AS DOUBLE)]) AS sl
        |  FROM h WHERE rn = 1
        |  UNION ALL
        |  SELECT h.event_type, h.bucket, h.n, h.rn,
        |    0.3 * (CAST(h.n AS DOUBLE) - r.sl[1])
        |      + 0.7 * (r.level + r.trend),
        |    0.1 * ((0.3 * (CAST(h.n AS DOUBLE) - r.sl[1])
        |            + 0.7 * (r.level + r.trend)) - r.level)
        |      + 0.9 * r.trend,
        |    list_concat(r.sl[2:24],
        |      [0.3 * (CAST(h.n AS DOUBLE)
        |              - (0.3 * (CAST(h.n AS DOUBLE) - r.sl[1])
        |                 + 0.7 * (r.level + r.trend)))
        |       + 0.7 * r.sl[1]])
        |  FROM h JOIN r ON h.event_type = r.event_type AND h.rn = r.rn + 1)
        |SELECT event_type, bucket, n,
        |  round(level * 10000) / 10000 + 0.0 AS level,
        |  round(trend * 10000) / 10000 + 0.0 AS trend,
        |  round(sl[24] * 10000) / 10000 + 0.0 AS seasonal,
        |  round((level + trend + sl[1]) * 10000) / 10000 + 0.0
        |    AS forecast_next
        |FROM r""".stripMargin,
    // same hourly grid; window/segment indices by floor division off
    // the per-key anchor; above-mean bits via 4*s > total (no division);
    // the DuckDB shift needs the BIGINT-cast base (the `1 << 52` trap).
    "ts_shapes" ->
      s"""WITH $hourlyGridCtes,
         |sr AS (SELECT event_type AS k,
         |    CAST(epoch(bucket) AS BIGINT) // 3600 AS h, n FROM ff),
         |h0 AS (SELECT k, min(h) AS h0 FROM sr GROUP BY 1),
         |seg AS (SELECT sr.k, (h - h0) // 24 AS win,
         |    ((h - h0) % 24) // 6 AS sidx,
         |    CAST(sum(n) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS hours
         |  FROM sr JOIN h0 ON sr.k = h0.k GROUP BY 1, 2, 3),
         |w1 AS (SELECT k, win, CAST(sum(s) AS BIGINT) AS total,
         |    CAST(sum(hours) AS BIGINT) AS nh FROM seg GROUP BY 1, 2),
         |wd AS (SELECT seg.k, seg.win,
         |    CAST(sum(CASE WHEN 4 * seg.s > w1.total
         |      THEN (CAST(1 AS BIGINT) << CAST(sidx AS INT)) ELSE 0 END)
         |      AS BIGINT) AS word
         |  FROM seg JOIN w1 USING (k, win)
         |  WHERE w1.nh = 24 GROUP BY 1, 2)
         |SELECT k AS event_type, word, CAST(count(*) AS BIGINT) AS n_windows,
         |  CAST(min(win) AS BIGINT) AS first_win,
         |  CAST(max(win) AS BIGINT) AS last_win
         |FROM wd GROUP BY 1, 2""".stripMargin,

    "gov_dp_hist" ->
      """WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_true
        |  FROM events GROUP BY 1),
        |z AS (SELECT event_type, n_true,
        |    -1.0 * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)) AS noise
        |  FROM (SELECT event_type, n_true,
        |      CAST(('0x' || substr(md5(event_type), 1, 8)) AS BIGINT)
        |        / 4294967296.0 AS u
        |    FROM g))
        |SELECT event_type, n_true,
        |  round(noise * 10000) / 10000 AS noise,
        |  round((n_true + noise) * 10000) / 10000 AS n_noisy
        |FROM z""".stripMargin,

    "ev_benford" -> {
      val bl = (1 to 9).map(d => math.log10(1.0 + 1.0 / d).toString)
        .mkString("[", ",", "]")
      s"""WITH d AS (SELECT CAST(substr(CAST(x AS VARCHAR), 1, 1) AS INT)
         |    AS digit
         |  FROM (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100
         |          AS DECIMAL(38,0)) AS x FROM events)
         |  WHERE x > 0),
         |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM g)
         |SELECT CAST(digit AS BIGINT) AS digit, n,
         |  round(CAST(n AS DOUBLE) / tot * 1000000) / 1000000 AS frac,
         |  round(($bl::DOUBLE[])[digit] * 1000000) / 1000000 AS expected,
         |  round(abs(CAST(n AS DOUBLE) / tot - ($bl::DOUBLE[])[digit])
         |    * 1000000) / 1000000 AS dev
         |FROM g, t""".stripMargin
    },
    "ev_gini" ->
      """WITH c AS (SELECT user_id,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |r AS (SELECT cents,
        |    row_number() OVER (ORDER BY cents, user_id) AS rank FROM c)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        |  round(CAST(2 * sum(rank * cents)
        |      - (count(*) + 1) * sum(cents) AS DOUBLE)
        |    / (count(*) * sum(cents)) * 1000000) / 1000000 AS gini
        |FROM r""".stripMargin,
    "ev_conversion_lag" ->
      """WITH lagged AS (
        |  SELECT epoch_us((SELECT min(p.ts) FROM events p
        |      WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
        |        AND p.ts >= c.ts)) - epoch_us(c.ts) AS lag_us
        |  FROM events c WHERE c.event_type = 'click')
        |SELECT CAST(count(*) AS BIGINT) AS n_converted,
        |  round(quantile_cont(lag_us, 0.5) / 1000000.0, 4) AS p50_sec,
        |  round(quantile_cont(lag_us, 0.9) / 1000000.0, 4) AS p90_sec
        |FROM lagged WHERE lag_us IS NOT NULL""".stripMargin,
    "ev_session_stats" ->
      """WITH m AS (SELECT user_id, event_type, ts, event_id,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
        |           > 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (SELECT user_id, event_type, ts,
        |    sum(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS session_seq
        |  FROM m)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS BIGINT)
        |    AS duration_us,
        |  max(event_type = 'purchase') AS converted
        |FROM sess GROUP BY 1, 2""".stripMargin,
    "ev_interarrival" ->
      """WITH g AS (SELECT event_type,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS gap_us
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        |  round(quantile_cont(gap_us, 0.5) / 1000000.0, 4) AS p50_sec,
        |  round(quantile_cont(gap_us, 0.9) / 1000000.0, 4) AS p90_sec
        |FROM g WHERE gap_us IS NOT NULL GROUP BY 1""".stripMargin,
    "ts_forecast" ->
      """WITH h0 AS (SELECT event_type, date_trunc('hour', ts) AS bucket,
        |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, min(bucket) AS b0, max(bucket) AS b1
        |      FROM h0 GROUP BY 1),
        |g AS (SELECT event_type,
        |    unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
        |  FROM s),
        |h AS (SELECT g.event_type, g.bucket, coalesce(h0.n, 0) AS n
        |  FROM g LEFT JOIN h0
        |    ON g.event_type = h0.event_type AND g.bucket = h0.bucket),
        |p AS (SELECT event_type, bucket, n,
        |    lag(n, 24) OVER (PARTITION BY event_type ORDER BY bucket) AS pred
        |  FROM h)
        |SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_buckets,
        |  CAST(sum(CASE WHEN pred IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_scored,
        |  round(CAST(sum(CASE WHEN pred IS NOT NULL
        |      THEN abs(n - pred) END) AS DOUBLE)
        |    / nullif(sum(CASE WHEN pred IS NOT NULL THEN 1 ELSE 0 END), 0)
        |    * 10000) / 10000 AS mae,
        |  round(CAST(sum(CASE WHEN pred IS NOT NULL
        |      THEN n - pred END) AS DOUBLE)
        |    / nullif(sum(CASE WHEN pred IS NOT NULL THEN 1 ELSE 0 END), 0)
        |    * 10000) / 10000 AS bias
        |FROM p GROUP BY event_type""".stripMargin,
    "ev_ltv" ->
      """WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort_ts
        |           FROM events GROUP BY user_id),
        |p AS (SELECT user_id, date_trunc('week', ts) AS wk,
        |        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |      FROM events WHERE event_type = 'purchase'),
        |g AS (SELECT cohort_ts,
        |        CAST(date_diff('day', cohort_ts, wk) / 7 AS BIGINT)
        |          AS week_offset,
        |        CAST(sum(cents) AS BIGINT) AS spend_cents
        |      FROM p JOIN f USING (user_id) GROUP BY 1, 2),
        |s AS (SELECT cohort_ts, CAST(count(*) AS BIGINT) AS n_users
        |      FROM f GROUP BY 1),
        |c AS (SELECT g.*, CAST(sum(spend_cents) OVER (
        |        PARTITION BY cohort_ts ORDER BY week_offset
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |        AS BIGINT) AS cum FROM g)
        |SELECT CAST(c.cohort_ts AS DATE) AS cohort_week, week_offset,
        |  n_users, spend_cents,
        |  round(CAST(cum AS DOUBLE) / (100 * n_users) * 10000) / 10000
        |    AS ltv_per_user
        |FROM c JOIN s USING (cohort_ts)""".stripMargin,

    "ev_cohort" ->
      """WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort_ts
        |           FROM events GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events)
        |SELECT CAST(cohort_ts AS DATE) AS cohort_week,
        |  CAST(date_diff('day', cohort_ts, wk) / 7 AS BIGINT) AS week_offset,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM f JOIN a USING (user_id)
        |GROUP BY 1, 2""".stripMargin,

    "ev_feature_snapshot" ->
      """WITH w AS (SELECT event_id, user_id, event_type,
        |    CAST(count(*) OVER win AS BIGINT) AS n_before,
        |    CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN 1 END)
        |      OVER win, 0) AS BIGINT) AS clicks_before,
        |    CAST(coalesce(sum(CASE WHEN event_type = 'view' THEN 1 END)
        |      OVER win, 0) AS BIGINT) AS views_before,
        |    CAST(coalesce(sum(CASE WHEN event_type = 'error' THEN 1 END)
        |      OVER win, 0) AS BIGINT) AS errors_before,
        |    CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
        |        THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END)
        |      OVER win, 0) AS BIGINT) AS spend_before_cents,
        |    epoch_us(ts) - epoch_us(max(ts) OVER win) AS micros_since_prev
        |  FROM events
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT event_id AS label_id, user_id, n_before, clicks_before,
        |  views_before, errors_before, spend_before_cents, micros_since_prev
        |FROM w WHERE event_type = 'purchase'""".stripMargin
  )
}
