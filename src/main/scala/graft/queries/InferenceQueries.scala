package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.Tables

/** Round-13 experimentation/inference pack: the classical tests a
  * metrics platform still needs beyond the r10-r12 suite — omnibus
  * rank tests (Kruskal–Wallis), stratified association (CMH), paired
  * designs (McNemar, sign test), effect sizes (Cohen's d / Hedges' g,
  * Cramér's V), and distribution-shape diagnostics (Jarque–Bera). All
  * follow the established exact-moment discipline: integer/DECIMAL(38,0)
  * sums or 1e-6/1e-9-quantized per-cell double terms until one final
  * IEEE chain, so the DuckDB oracle hashes bit-identically.
  *
  * Scale shapes: every query is one or two hash-aggs on a
  * high-cardinality key (user_id) or the value domain (distinct cents),
  * plus |types|/|days|-bounded folds — the stat_mwu/stat_anova family;
  * nothing is row-sorted and nothing collects. */
object InferenceQueries extends QueryPack {

  private val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
  private def centsL(c: org.apache.spark.sql.Column) =
    (c.cast("decimal(18,2)") * 100).cast("long")
  private def r4(c: org.apache.spark.sql.Column) =
    graft.ops.TimeSeries.portableRound4(c)
  private def r6(c: org.apache.spark.sql.Column) =
    graft.ops.TimeSeries.portableRound6(c)

  val queries: Map[String, Q] = Map(

    // Kruskal–Wallis omnibus rank test: does `value` differ in location
    // across the five event types? The k-group generalization of
    // stat_mwu, and like it computed ENTIRELY in the collapsed value
    // domain: one (cents) hash-agg for the pooled tie-aware ranks (2×avg
    // rank is integer), one (cents, type) hash-agg for per-type rank
    // sums — never a row-level sort. Per-type H terms are one
    // deterministic double chain each, quantized to the 1e-6 grid
    // (magnitude ≈ N/4 — BIGINT-safe at any sf) and integer-summed, so
    // the tie-corrected H is engine-portable; 4dp absorbs the ≤3e-5
    // quantization residue.
    "stat_kruskal" -> { (s, dir) =>
      val per = Tables.events(s, dir)
        .select(col("event_type").as("k"), centsL(col("value")).as("x"))
      val vals = per.groupBy(col("x")).agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("x"))
      val ranked = vals
        .withColumn("ar2", lit(2L) * (sum(col("c")).over(w) - col("c"))
          + col("c") + 1)
      val cells = per.groupBy(col("x"), col("k")).agg(count(lit(1)).as("ck"))
      val byType = cells.join(ranked.select(col("x"), col("ar2")), "x")
        .groupBy(col("k"))
        .agg(sum(col("ck")).as("nk"), sum(col("ck") * col("ar2")).as("r2k"))
      // c³ wraps BIGINT once one distinct value holds ~1.3M rows — the
      // tie term widens to DECIMAL(38,0) BEFORE the cube (chi² lesson)
      val tot = vals.agg(sum(col("c")).as("nn"),
        sum(d38(col("c")) * d38(col("c")) * d38(col("c")) - d38(col("c")))
          .as("tsum"))
      val nnD = col("nn").cast("double")
      val term = col("r2k").cast("double") * col("r2k").cast("double") /
        (lit(4.0) * col("nk").cast("double") * nnD * nnD)
      val m = byType.crossJoin(broadcast(tot))
        .select(col("nn"), col("tsum"),
          round(term * lit(1.0e6), 0).cast("long").as("q"))
        .groupBy(col("nn"), col("tsum"))
        .agg(count(lit(1)).as("k_groups"), sum(d38(col("q"))).as("sq"))
      val hRaw = lit(12.0) * (col("sq").cast("double") / lit(1.0e6)) *
        nnD / (nnD + lit(1.0)) - lit(3.0) * (nnD + lit(1.0))
      val tieAdj = lit(1.0) -
        col("tsum").cast("double") / (nnD * nnD * nnD - nnD)
      m.select(col("nn").as("n"), col("k_groups"),
        r4(hRaw).as("h_raw"),
        r4(when(col("tsum") <
          d38(col("nn")) * d38(col("nn")) * d38(col("nn")) - d38(col("nn")),
          hRaw / tieAdj)).as("h"))
    },

    // Cochran–Mantel–Haenszel: variant × purchase association
    // stratified by calendar day — the confounder-adjusted 2×2 test
    // (a day-of-week traffic mix shift inflates the pooled chi²; CMH
    // conditions it out). Per-stratum 2×2 cells are exact BIGINTs; the
    // hypergeometric mean/variance terms (a − E, V) are one double
    // chain each, quantized to the 1e-9 grid (|a−E| ≤ stratum size —
    // BIGINT-safe) and summed exactly across the ≤|days| strata.
    "stat_cmh" -> { (s, dir) =>
      val e = Tables.events(s, dir).select(
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
          .as("day"),
        pmod(col("user_id"), lit(2)).as("variant"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      val cells = e.groupBy(col("day")).agg(
        count(lit(1)).as("nk"),
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n1k"),
        sum(col("y")).as("m1k"),
        sum(when(col("variant") === 0, col("y")).otherwise(0L)).as("ak"))
      val nkD = col("nk").cast("double")
      val eTerm = col("ak").cast("double") -
        col("n1k").cast("double") * col("m1k").cast("double") / nkD
      val vTerm = col("n1k").cast("double") *
        (col("nk") - col("n1k")).cast("double") *
        col("m1k").cast("double") * (col("nk") - col("m1k")).cast("double") /
        (nkD * nkD * (nkD - lit(1.0)))
      val m = cells.where(col("nk") > 1)
        .select(round(eTerm * lit(1.0e9), 0).cast("long").as("qd"),
          round(vTerm * lit(1.0e9), 0).cast("long").as("qv"))
        .agg(count(lit(1)).as("n_strata"),
          sum(d38(col("qd"))).as("sd"), sum(d38(col("qv"))).as("sv"))
      m.select(col("n_strata"),
        r4(when(col("sv") > 0,
          (col("sd").cast("double") / lit(1.0e9)) *
            (col("sd").cast("double") / lit(1.0e9)) /
            (col("sv").cast("double") / lit(1.0e9)))).as("cmh"))
    },

    // Jarque–Bera normality diagnostic per event type: skewness, excess
    // kurtosis, and JB = n/6·(S² + K²/4) — the "is the metric even
    // t-testable" card. Variance comes exactly from integer moments
    // (n·Σx² − (Σx)²); the 3rd/4th central moments use the Levene
    // centered-join-back shape (the 5-row mean table broadcasts onto a
    // second scan), with per-row d³/d⁴ terms quantized to BIGINT-safe
    // grids (d ≤ 10⁴ cents ⇒ d⁴ ≤ 10¹⁶) and DECIMAL-summed. m2^1.5 is
    // m2·sqrt(m2) — no libm pow anywhere.
    "stat_jarque_bera" -> { (s, dir) =>
      val per = Tables.events(s, dir)
        .select(col("event_type"), centsL(col("value")).as("x"))
      val mom = per.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"), sum(col("x")).as("s1"),
        sum(d38(col("x")) * d38(col("x"))).as("s2"))
      val mean = col("s1").cast("double") / col("n").cast("double")
      val cent = per.join(broadcast(mom), "event_type")
        .select(col("event_type"),
          (col("x").cast("double") - mean).as("d"))
        .select(col("event_type"),
          round(col("d") * col("d") * col("d") * lit(100.0), 0)
            .cast("long").as("q3"),
          round(col("d") * col("d") * col("d") * col("d"), 0)
            .cast("long").as("q4"))
        .groupBy(col("event_type"))
        .agg(sum(d38(col("q3"))).as("sq3"), sum(d38(col("q4"))).as("sq4"))
      val j = mom.join(cent, "event_type")
      val nD = col("n").cast("double")
      val m2 = (d38(col("n")) * col("s2") - d38(col("s1")) * d38(col("s1")))
        .cast("double") / (nD * nD)
      val skew = (col("sq3").cast("double") / lit(100.0) / nD) /
        (m2 * sqrt(m2))
      val kurt = (col("sq4").cast("double") / nD) / (m2 * m2) - lit(3.0)
      j.select(col("event_type"), col("n"),
        r6(when(m2 > 0, skew)).as("skew"),
        r6(when(m2 > 0, kurt)).as("kurt"),
        r4(when(m2 > 0,
          nD / lit(6.0) * (skew * skew + kurt * kurt / lit(4.0))))
          .as("jb"))
    },

    // McNemar's paired test: did individual users' purchase behavior
    // CHANGE between the first and second half of the window? Pairs are
    // users (each their own control); only the discordant counts b
    // (early-only) and c (late-only) matter. Exact integers to one
    // division; the significance flag is a pure integer comparison
    // (the ev_ab_srm borderline rule). One user_id hash-agg.
    "stat_mcnemar" -> { (s, dir) =>
      val e = Tables.events(s, dir).select(col("user_id"),
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
          .as("day"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      val span = e.agg(((min(col("day")) + max(col("day")) + 1) / 2)
        .cast("long").as("mid"))
      val per = e.crossJoin(broadcast(span))
        .groupBy(col("user_id"))
        .agg(max(when(col("day") < col("mid"), col("y")).otherwise(0L))
          .as("early"),
          max(when(col("day") >= col("mid"), col("y")).otherwise(0L))
            .as("late"))
      val m = per.agg(
        sum(when(col("early") === 1 && col("late") === 0, 1L)
          .otherwise(0L)).as("b"),
        sum(when(col("early") === 0 && col("late") === 1, 1L)
          .otherwise(0L)).as("c"))
      val bc = col("b") + col("c")
      val dAbs = abs(col("b") - col("c"))
      m.select(col("b"), col("c"),
        r4(when(bc > 0, ((col("b") - col("c")) * (col("b") - col("c")))
          .cast("double") / bc.cast("double"))).as("chi2"),
        r4(when(bc > 0, ((dAbs - 1) * (dAbs - 1)).cast("double") /
          bc.cast("double"))).as("chi2_cc"),
        (when(bc > 0, (dAbs - 1) * (dAbs - 1) * 10000L > lit(38415L) * bc))
          .as("changed"))
    },

    // Cramér's V — the effect SIZE the stat_chi2 p-value hides: V =
    // sqrt(χ²/(n·(min(r,c)−1))), comparable across table shapes and
    // sample sizes. Reuses the exact chi2Term kernel (every count
    // product in DECIMAL(38,0)) over the event_type × variant table.
    "stat_cramers_v" -> { (s, dir) =>
      val cells = Tables.events(s, dir)
        .groupBy(col("event_type"), pmod(col("user_id"), lit(2)).as("variant"))
        .agg(count(lit(1)).as("o"))
      val rowt = cells.groupBy("event_type").agg(sum(col("o")).as("r"))
      val colt = cells.groupBy("variant").agg(sum(col("o")).as("c"))
      // nr/nc as row counts of the marginal tables, NOT two
      // count_distincts in one aggregate: RewriteDistinctAggregates
      // expands multi-distinct aggs with a gid whose group order is
      // session-dependent, which made this plan's fingerprint flap
      // between PlanAudit runs (values were never affected)
      val tot = cells.agg(sum(col("o")).as("n"))
        .crossJoin(broadcast(rowt.agg(count(lit(1)).as("nr"))))
        .crossJoin(broadcast(colt.agg(count(lit(1)).as("nc"))))
      val m = cells.join(broadcast(rowt), "event_type")
        .join(broadcast(colt), "variant")
        .crossJoin(broadcast(tot))
        .withColumn("term",
          graft.ops.Stats.chi2Term(col("n"), col("o"), col("r"), col("c")))
        .groupBy(col("n"), col("nr"), col("nc"))
        .agg(sum(col("term")).as("chi2"))
      val mindf = least(col("nr"), col("nc")) - 1
      m.select(col("n"),
        r4(col("chi2")).as("chi2"),
        r6(when(mindf > 0,
          sqrt(col("chi2") / (col("n") * mindf).cast("double")))).as("v"))
    },

    // Cohen's d / Hedges' g per event type — the standardized effect
    // size a meta-analysis or an MDE check consumes (stat_mde gives the
    // design-time flip side). Pooled variance from exact integer
    // moments; the cents scale cancels in d, so no /100 anywhere. g
    // applies the small-sample correction J = 1 − 3/(4m−9).
    "stat_cohens_d" -> { (s, dir) =>
      val per = Tables.events(s, dir).select(col("event_type"),
        pmod(col("user_id"), lit(2)).as("variant"),
        centsL(col("value")).as("x"))
      val m = per.groupBy(col("event_type")).agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("variant") === 0, col("x"))).as("sx0"),
        sum(when(col("variant") === 0, d38(col("x")) * d38(col("x"))))
          .as("sxx0"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("variant") === 1, col("x"))).as("sx1"),
        sum(when(col("variant") === 1, d38(col("x")) * d38(col("x"))))
          .as("sxx1"))
      def css(n: org.apache.spark.sql.Column, sx: org.apache.spark.sql.Column,
              sxx: org.apache.spark.sql.Column) =
        (d38(n) * sxx - d38(sx) * d38(sx)).cast("double") / n.cast("double")
      val mTot = (col("n0") + col("n1")).cast("double")
      val varP = (css(col("n0"), col("sx0"), col("sxx0")) +
        css(col("n1"), col("sx1"), col("sxx1"))) / (mTot - lit(2.0))
      val dEff = (col("sx1").cast("double") / col("n1").cast("double") -
        col("sx0").cast("double") / col("n0").cast("double")) / sqrt(varP)
      val ok = col("n0") > 1 && col("n1") > 1 && varP > 0
      m.select(col("event_type"), col("n0"), col("n1"),
        r6(when(ok, dEff)).as("d"),
        r6(when(ok, dEff * (lit(1.0) - lit(3.0) /
          (lit(4.0) * mTot - lit(9.0))))).as("g"))
    },

    // Dickey–Fuller unit-root test per event type: Δyₜ = α + φ·yₜ₋₁ + ε
    // over the gap-filled hourly grid — "is this series stationary, or
    // does it wander?" (the go/no-go before any ARMA-style forecast;
    // ts_kpss below is the complementary null). The whole test folds to
    // exact centered moments: t² = Sxz²(n−2)/(Sxx·Szz − Sxz²), integer
    // DECIMAL(38,0) throughout, one sqrt at the end — and the 5%
    // decision (t < −2.86) is a pure integer comparison, so the flag
    // cannot straddle an ulp. Grid-bounded past the resample hash-agg.
    "ts_dickey_fuller" -> { (s, dir) =>
      val series = graft.ops.TimeSeries.resample(
        Tables.events(s, dir), "event_type", "ts", "value")
        .select(col("event_type").as("k"),
          (unix_timestamp(col("bucket").cast("timestamp")) / 3600L)
            .cast("long").as("h"),
          col("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("k")).orderBy(col("h"))
      val m = series
        .withColumn("a", lag(col("n"), 1).over(w))
        .where(col("a").isNotNull)
        .select(col("k"), col("a"), (col("n") - col("a")).as("z"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n2"), sum(col("a")).as("sa"),
          sum(col("z")).as("sz"),
          sum(d38(col("a")) * d38(col("a"))).as("saa"),
          sum(d38(col("a")) * d38(col("z"))).as("saz"),
          sum(d38(col("z")) * d38(col("z"))).as("szz"))
      val sxx = d38(col("n2")) * col("saa") - d38(col("sa")) * d38(col("sa"))
      val sxz = d38(col("n2")) * col("saz") - d38(col("sa")) * d38(col("sz"))
      val szz = d38(col("n2")) * col("szz") - d38(col("sz")) * d38(col("sz"))
      val den = sxx * szz - sxz * sxz
      val ok = col("n2") > 2 && sxx > 0 && den > 0
      val t = sxz.cast("double") *
        sqrt((col("n2") - 2).cast("double") / den.cast("double"))
      m.select(col("k").as("event_type"), col("n2").as("n_obs"),
        r6(when(ok, sxz.cast("double") / sxx.cast("double"))).as("phi"),
        r4(when(ok, t)).as("t_df"),
        // t < −2.86 ⇔ Sxz < 0 ∧ 10⁴·Sxz²(n−2) > 81796·(SxxSzz−Sxz²)
        when(ok, sxz < 0 &&
          sxz * sxz * (d38(col("n2")) - 2) * 10000 > den * lit(81796L))
          .as("stationary"))
    },

    // KPSS level-stationarity test per event type — Dickey–Fuller's
    // complement (DF's null is a unit root; KPSS's null is
    // stationarity; agreeing tests settle the question, disagreeing
    // ones flag near-integration). η = ΣSₜ²/(T·Σe²) with partial sums
    // multiplied through by T (Pₜ = T·Cₜ − t·S — exact BIGINTs), the
    // lag-0 variance estimator, and the 5% decision (η > 0.463) as an
    // integer comparison. One resample, one window pass, one hash-agg.
    "ts_kpss" -> { (s, dir) =>
      val series = graft.ops.TimeSeries.resample(
        Tables.events(s, dir), "event_type", "ts", "value")
        .select(col("event_type").as("k"),
          (unix_timestamp(col("bucket").cast("timestamp")) / 3600L)
            .cast("long").as("h"),
          col("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("k")).orderBy(col("h"))
      val tot = series.groupBy(col("k"))
        .agg(count(lit(1)).as("t"), sum(col("n")).as("s"))
      val m = series
        .withColumn("c", sum(col("n")).over(w))
        .withColumn("i", row_number().over(w))
        .join(broadcast(tot), "k")
        .select(col("k"), col("t"),
          (col("t") * col("c") - col("i") * col("s")).as("p"),
          (col("t") * col("n") - col("s")).as("e"))
        .groupBy(col("k"))
        .agg(max(col("t")).as("t"),
          sum(d38(col("p")) * d38(col("p"))).as("sp2"),
          sum(d38(col("e")) * d38(col("e"))).as("n2"))
      m.select(col("k").as("event_type"), col("t").as("n_hours"),
        r6(when(col("n2") > 0,
          col("sp2").cast("double") /
            (col("t").cast("double") * col("n2").cast("double"))))
          .as("eta"),
        when(col("n2") > 0,
          col("sp2") * 1000 > col("n2") * d38(col("t")) * lit(463L))
          .as("nonstationary"))
    },

    // Normalized spectral entropy over the ts_autoperiod candidate grid
    // {6,8,12,24,84,168} h: ≈0 when one period owns the signal (strong
    // seasonality), ≈1 when power spreads evenly (noise) — the
    // one-number "is there ANY structure" companion to autoperiod's
    // argmax. Same injected trig literals and exact mean-removed
    // moments; per-period powers quantize to the 1e9 strength grid and
    // the 6 p·log2 p terms to the 1e-9 grid before exact summation (the
    // two-stage quantization that makes a 6-term libm sum portable).
    "ts_spectral_entropy" -> { (s, dir) =>
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val periods = Seq(6, 8, 12, 24, 84, 168)
      val series = graft.ops.TimeSeries.resample(
        Tables.events(s, dir), "event_type", "ts", "value")
        .select(col("event_type").as("k"),
          (unix_timestamp(col("bucket").cast("timestamp")) / 3600L)
            .cast("long").as("h"),
          col("n"))
      def trig(p: Int, table: IndexedSeq[Long]) =
        element_at(typedlit(table), (pmod(col("h"), lit(p)) + 1).cast("int"))
      val aggs = Seq(
        count(lit(1)).as("nh"),
        sum(col("n")).cast(dec).as("s"),
        sum(col("n").cast(dec) * col("n").cast(dec)).as("snn")) ++
        periods.flatMap { p =>
          Seq(
            sum(col("n").cast(dec) *
              trig(p, graft.ops.TimeSeries.cosMicros(p)).cast(dec))
              .as(s"snc$p"),
            sum(trig(p, graft.ops.TimeSeries.cosMicros(p))).cast(dec)
              .as(s"sc$p"),
            sum(col("n").cast(dec) *
              trig(p, graft.ops.TimeSeries.sinMicros(p)).cast(dec))
              .as(s"sns$p"),
            sum(trig(p, graft.ops.TimeSeries.sinMicros(p))).cast(dec)
              .as(s"ss$p"))
        }
      val m = series.groupBy(col("k")).agg(aggs.head, aggs.tail: _*)
      val nd = col("nh").cast("double")
      val vard = (col("nh").cast(dec) * col("snn") - col("s") * col("s"))
        .cast("double") / (nd * nd)
      def q(p: Int) = {
        val ad = (col("nh").cast(dec) * col(s"snc$p") -
          col("s") * col(s"sc$p")).cast("double")
        val bd = (col("nh").cast(dec) * col(s"sns$p") -
          col("s") * col(s"ss$p")).cast("double")
        val den = nd * nd * lit(1.0e6)
        round(lit(2.0) * (ad * ad + bd * bd) / (den * den) / vard
          * lit(1.0e9), 0).cast("long")
      }
      val rows = m.where(vard > 0)
        .select(col("k"), col("nh"),
          explode(array(periods.map(p => q(p).as("q")): _*)).as("q"))
      val tot = rows.groupBy(col("k")).agg(sum(col("q")).as("sq"))
      val term = col("q").cast("double") / col("sq").cast("double")
      val h = rows.join(broadcast(tot), "k")
        .where(col("q") > 0 && col("sq") > 0)
        .select(col("k"), col("nh"),
          round(term * log2(term) * lit(1.0e9), 0).cast("long").as("qt"))
        .groupBy(col("k"))
        .agg(max(col("nh")).as("n_hours"), sum(d38(col("qt"))).as("st"))
      // log2(6) injected as a 12dp literal so both engines divide by
      // the same double (the HllLnTable discipline)
      h.select(col("k").as("event_type"), col("n_hours"),
        r6(-(col("st").cast("double") / lit(1.0e9)) / lit(2.584962500722))
          .as("spec_entropy"))
    },

    // Rolling 24 h Pearson correlation between the click and purchase
    // hourly series — the co-movement monitor ts_xcorr's single global
    // number can't give (a decoupling WINDOW is the incident signal).
    // Exact integer co-moments inside each window frame (counts ≤ the
    // hourly volume: 24·Σxy is BIGINT-safe to ~10¹⁴ events/hour), one
    // double chain per emitted hour. The window runs on the two-series
    // grid join — time-range-bounded, corpus-independent.
    "ts_rolling_corr" -> { (s, dir) =>
      val series = graft.ops.TimeSeries.resample(
        Tables.events(s, dir), "event_type", "ts", "value")
        .select(col("event_type").as("k"),
          (unix_timestamp(col("bucket").cast("timestamp")) / 3600L)
            .cast("long").as("h"),
          col("n"))
      val a = series.where(col("k") === "click")
        .select(col("h"), col("n").as("x"))
      val b = series.where(col("k") === "purchase")
        .select(col("h"), col("n").as("y"))
      val j = a.join(b, "h")
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("h"))
        .rowsBetween(-23, 0)
      val m = j.select(col("h"),
        count(lit(1)).over(w).as("c"),
        sum(col("x")).over(w).as("sx"), sum(col("y")).over(w).as("sy"),
        sum(col("x") * col("y")).over(w).as("sxy"),
        sum(col("x") * col("x")).over(w).as("sxx"),
        sum(col("y") * col("y")).over(w).as("syy"))
        .where(col("c") === 24)
      val den2 = (d38(lit(24)) * col("sxx") - d38(col("sx")) * d38(col("sx")))
        .cast("double") *
        (d38(lit(24)) * col("syy") - d38(col("sy")) * d38(col("sy")))
          .cast("double")
      m.select(col("h").as("hour"),
        r6(when(den2 > 0,
          (d38(lit(24)) * col("sxy") - d38(col("sx")) * d38(col("sy")))
            .cast("double") / sqrt(den2))).as("r"))
    },

    // SAX symbolization: each event type's hourly series compressed to
    // an 8-segment, 4-letter word (PAA means z-scored against the
    // series' own exact moments, quartile breakpoints ±0.6745 as
    // literals) — the shape index behind "find series that look like
    // this" retrieval; ts_motif's alphabet-level cousin. z-scores
    // quantize to 6dp BEFORE the breakpoint comparison so a boundary
    // segment cannot letter-flip across engines. Grid-bounded: one
    // resample, one |keys|×8 fold.
    "ts_sax" -> { (s, dir) =>
      val series = graft.ops.TimeSeries.resample(
        Tables.events(s, dir), "event_type", "ts", "value")
        .select(col("event_type").as("k"),
          (unix_timestamp(col("bucket").cast("timestamp")) / 3600L)
            .cast("long").as("h"),
          col("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("k")).orderBy(col("h"))
      val tot = series.groupBy(col("k"))
        .agg(count(lit(1)).as("t"), sum(col("n")).as("s"),
          sum(d38(col("n")) * d38(col("n"))).as("snn"))
      val seg = series
        .withColumn("i", row_number().over(w) - 1)
        .join(broadcast(tot), "k")
        .groupBy(col("k"), (col("i") * 8 / col("t")).cast("long").as("seg"))
        .agg(count(lit(1)).as("cs"), sum(col("n")).as("ss"),
          max(col("t")).as("t"), max(col("s")).as("s"),
          max(col("snn")).as("snn"))
      val m2 = (d38(col("t")) * col("snn") - d38(col("s")) * d38(col("s")))
        .cast("double") / (col("t").cast("double") * col("t").cast("double"))
      val z = (col("ss").cast("double") / col("cs").cast("double") -
        col("s").cast("double") / col("t").cast("double")) / sqrt(m2)
      val zq = round(z * lit(1.0e6), 0) / lit(1.0e6)
      val letter = when(m2 <= 0, lit("b"))
        .when(zq < lit(-0.6745), lit("a"))
        .when(zq < lit(0.0), lit("b"))
        .when(zq < lit(0.6745), lit("c"))
        .otherwise(lit("d"))
      seg.select(col("k"), col("seg"), col("t"), letter.as("l"))
        .groupBy(col("k"))
        .agg(max(col("t")).as("n_hours"),
          array_join(transform(
            array_sort(collect_list(struct(col("seg"), col("l")))),
            x => x.getField("l")), "").as("sax"))
        .select(col("k").as("event_type"), col("n_hours"), col("sax"))
    },

    // Sign test on paired per-user purchase spend (first half vs second
    // half of the window, the stat_mcnemar midpoint): the
    // assumption-free companion to a paired t — only the SIGN of each
    // user's change matters, zeros drop. Exact integers to one division.
    "stat_sign_test" -> { (s, dir) =>
      val e = Tables.events(s, dir).select(col("user_id"),
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
          .as("day"),
        when(col("event_type") === "purchase", centsL(col("value")))
          .otherwise(0L).as("v"))
      val span = e.agg(((min(col("day")) + max(col("day")) + 1) / 2)
        .cast("long").as("mid"))
      val per = e.crossJoin(broadcast(span))
        .groupBy(col("user_id"))
        .agg(sum(when(col("day") < col("mid"), col("v")).otherwise(0L))
          .as("e"),
          sum(when(col("day") >= col("mid"), col("v")).otherwise(0L))
            .as("l"))
      val m = per.agg(
        sum(when(col("l") > col("e"), 1L).otherwise(0L)).as("pos"),
        sum(when(col("e") > col("l"), 1L).otherwise(0L)).as("neg"))
      val pn = col("pos") + col("neg")
      m.select(col("pos"), col("neg"),
        r4(when(pn > 0, ((col("pos") - col("neg")) *
          (col("pos") - col("neg"))).cast("double") / pn.cast("double")))
          .as("z2"))
    },

    // Friedman test: do the event types RANK consistently across days?
    // The repeated-measures omnibus (each day is its own block, so
    // day-of-week traffic swings cancel — the within-block cousin of
    // stat_kruskal). Daily counts on the COMPLETE day×type grid
    // (zero-fill: an absent type still ranks), tie-aware 2×average
    // ranks from a per-(day, count) window, then
    // χ²_F = 3·ΣR2_j²/(b·k·(k+1)) − 3b(k+1) — exact integers to one
    // division. Grid-bounded past the (day, type) hash-agg.
    "stat_friedman" -> { (s, dir) =>
      val e = Tables.events(s, dir).select(
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
          .as("day"), col("event_type"))
      val counts = e.groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val days = counts.select(col("day")).distinct()
      val types = counts.select(col("event_type")).distinct()
      val grid = days.crossJoin(broadcast(types))
        .join(counts, Seq("day", "event_type"), "left")
        .select(col("day"), col("event_type"),
          coalesce(col("n"), lit(0L)).as("n"))
      val vals = grid.groupBy(col("day"), col("n"))
        .agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("day")).orderBy(col("n"))
      val ranked = vals.withColumn("ar2",
        lit(2L) * (sum(col("c")).over(w) - col("c")) + col("c") + 1)
      val byType = grid.join(ranked.select(col("day"), col("n"), col("ar2")),
          Seq("day", "n"))
        .groupBy(col("event_type"))
        .agg(sum(col("ar2")).as("r2j"), count(lit(1)).as("b"))
      val m = byType.agg(count(lit(1)).as("k"), max(col("b")).as("b"),
        sum(d38(col("r2j")) * d38(col("r2j"))).as("sr2"))
      val kD = col("k").cast("double")
      val bD = col("b").cast("double")
      m.select(col("b").as("b_days"), col("k").as("k_types"),
        r4(lit(3.0) * col("sr2").cast("double") /
          (bD * kD * (kD + lit(1.0))) -
          lit(3.0) * bD * (kD + lit(1.0))).as("chi2_f"))
    },

    // Wald–Wolfowitz runs test on each type's hourly series: is the
    // above/below-mean sign sequence random, or does it trend/cluster?
    // (Too FEW runs = regime persistence a mean-based alarm misses; too
    // MANY = oscillation.) Signs from the exact scaled residual
    // T·yₜ − S (> 0 vs ≤ 0 — the standard dichotomy, documented);
    // run count from one lag window; E[R] and Var[R] from exact
    // integers, one final double chain. Grid-bounded.
    "stat_runs_test" -> { (s, dir) =>
      val series = graft.ops.TimeSeries.resample(
        Tables.events(s, dir), "event_type", "ts", "value")
        .select(col("event_type").as("k"),
          (unix_timestamp(col("bucket").cast("timestamp")) / 3600L)
            .cast("long").as("h"),
          col("n"))
      val tot = series.groupBy(col("k"))
        .agg(count(lit(1)).as("t"), sum(col("n")).as("s"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("k")).orderBy(col("h"))
      val signed = series.join(broadcast(tot), "k")
        .select(col("k"),
          (col("t") * col("n") - col("s") > 0).cast("long").as("sg"),
          col("h"))
        .withColumn("prev", lag(col("sg"), 1).over(w))
      val m = signed.groupBy(col("k")).agg(
        count(lit(1)).as("n"),
        sum(col("sg")).as("n1"),
        (sum(when(col("prev").isNotNull && col("prev") =!= col("sg"), 1L)
          .otherwise(0L)) + 1).as("runs"))
      val n1D = col("n1").cast("double")
      val n2D = (col("n") - col("n1")).cast("double")
      val nD = col("n").cast("double")
      val eR = lit(1.0) + lit(2.0) * n1D * n2D / nD
      val vR = lit(2.0) * n1D * n2D * (lit(2.0) * n1D * n2D - nD) /
        (nD * nD * (nD - lit(1.0)))
      m.select(col("k").as("event_type"), col("n").as("n_hours"),
        col("n1").as("n_above"), col("runs").as("n_runs"),
        r4(when(col("n1") > 0 && col("n1") < col("n") && vR > 0,
          (col("runs").cast("double") - eR) / sqrt(vR))).as("z"))
    },

    // Bollinger-band breach census per event type: trailing 24 h mean ±
    // 2σ, breach decided ENTIRELY in integers ((24x − Σx)² >
    // 4·(24Σx² − (Σx)²) — no float band for a boundary hour to
    // straddle), split by direction. The volatility-scaled anomaly
    // count ts_anomaly's fixed MAD bar can't give on a drifting series.
    "ts_bollinger" -> { (s, dir) =>
      val series = graft.ops.TimeSeries.resample(
        Tables.events(s, dir), "event_type", "ts", "value")
        .select(col("event_type").as("k"),
          (unix_timestamp(col("bucket").cast("timestamp")) / 3600L)
            .cast("long").as("h"),
          col("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("k")).orderBy(col("h")).rowsBetween(-23, 0)
      val b = series.select(col("k"), col("n"),
        count(lit(1)).over(w).as("c"),
        sum(col("n")).over(w).as("sx"),
        sum(col("n") * col("n")).over(w).as("sxx"))
        .where(col("c") === 24)
      // widened BEFORE the squares: dev² wraps BIGINT past ~4e8
      // events/hour — the stat_mwu tie-term lesson applied up front
      val dev = d38(lit(24L) * col("n") - col("sx"))
      val band4 = lit(4) * (d38(lit(24L)) * d38(col("sxx")) -
        d38(col("sx")) * d38(col("sx")))
      b.groupBy(col("k"))
        .agg(count(lit(1)).as("n_windows"),
          sum(when(dev > 0 && dev * dev > band4, 1L).otherwise(0L))
            .as("n_breach_up"),
          sum(when(dev < 0 && dev * dev > band4, 1L).otherwise(0L))
            .as("n_breach_down"))
        .select(col("k").as("event_type"), col("n_windows"),
          col("n_breach_up"), col("n_breach_down"),
          r6((col("n_breach_up") + col("n_breach_down")).cast("double") /
            col("n_windows").cast("double")).as("breach_frac"))
    },

    // Time-split KS drift per event type: the value distribution of the
    // first half of the window vs the second (the production form of
    // stat_ks, whose split is the A/B variant) — detects a metric's
    // DISTRIBUTION moving even when its mean holds. Collapsed
    // value-domain cumulatives; the 5% decision (D > 1.36·√((n₁+n₂)/
    // (n₁n₂))) is an exact DECIMAL comparison.
    "drift_ks_time" -> { (s, dir) =>
      val e = Tables.events(s, dir).select(col("event_type"),
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
          .as("day"), centsL(col("value")).as("x"))
      val span = e.agg(((min(col("day")) + max(col("day")) + 1) / 2)
        .cast("long").as("mid"))
      val grp = e.crossJoin(broadcast(span))
        .groupBy(col("event_type"), col("x"))
        .agg(sum(when(col("day") < col("mid"), 1L).otherwise(0L)).as("a"),
          sum(when(col("day") >= col("mid"), 1L).otherwise(0L)).as("b"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("x"))
      val tot = grp.groupBy(col("event_type"))
        .agg(sum(col("a")).as("n1"), sum(col("b")).as("n2"))
      val m = grp
        .withColumn("ca", sum(col("a")).over(w))
        .withColumn("cb", sum(col("b")).over(w))
        .join(broadcast(tot), "event_type")
        .groupBy(col("event_type"))
        .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
          max(abs(col("n2") * col("ca") - col("n1") * col("cb")))
            .as("dnum"))
      m.select(col("event_type"), col("n1").as("n_early"),
        col("n2").as("n_late"),
        r6(when(col("n1") > 0 && col("n2") > 0,
          col("dnum").cast("double") /
            (col("n1") * col("n2")).cast("double"))).as("d"),
        // D² > 1.8496·(n1+n2)/(n1·n2) ⇔ dnum²·10⁴ > 18496·n1·n2·(n1+n2)
        when(col("n1") > 0 && col("n2") > 0,
          d38(col("dnum")) * d38(col("dnum")) * 10000 >
            d38(col("n1")) * d38(col("n2")) *
              d38(col("n1") + col("n2")) * lit(18496L)).as("drifted"))
    },

    // Two-regressor OLS with inference: daily purchase spend on daily
    // clicks + views per (user, day) — the "which lever moves revenue"
    // regression card (stat_ols is the 1-regressor line; stat_cuped
    // uses one covariate for variance only). Everything through the
    // ts_granger discipline: exact DECIMAL(38,0) moments, Cramer 3×3
    // determinants (triple products of moments — width-audited ≤1e28
    // at 625×), then ONE deterministic double chain for coefficients,
    // t statistics (diagonal cofactors), and R². One (user, day)
    // hash-agg then a single 10-number fold.
    "stat_ols2" -> { (s, dir) =>
      val e = Tables.events(s, dir).select(col("user_id"),
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
          .as("day"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("c"),
        when(col("event_type") === "view", 1L).otherwise(0L).as("v"),
        when(col("event_type") === "purchase", centsL(col("value")))
          .otherwise(0L).as("y"))
      val per = e.groupBy(col("user_id"), col("day"))
        .agg(sum(col("c")).as("x1"), sum(col("v")).as("x2"),
          sum(col("y")).as("y"))
      val m = per.agg(count(lit(1)).as("n"),
        sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
        sum(col("y")).as("sy"),
        sum(d38(col("x1")) * d38(col("x1"))).as("s11"),
        sum(d38(col("x2")) * d38(col("x2"))).as("s22"),
        sum(d38(col("x1")) * d38(col("x2"))).as("s12"),
        sum(d38(col("x1")) * d38(col("y"))).as("s1y"),
        sum(d38(col("x2")) * d38(col("y"))).as("s2y"),
        sum(d38(col("y")) * d38(col("y"))).as("syy"))
      def dd(c: org.apache.spark.sql.Column) = c.cast("double")
      val (n, s1, s2, sy) =
        (d38(col("n")), d38(col("s1")), d38(col("s2")), d38(col("sy")))
      // X'X = [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]]; X'y = [sy,s1y,s2y]
      val det = n * (col("s11") * col("s22") - col("s12") * col("s12")) -
        s1 * (s1 * col("s22") - s2 * col("s12")) +
        s2 * (s1 * col("s12") - col("s11") * s2)
      val d0 = sy * (col("s11") * col("s22") - col("s12") * col("s12")) -
        s1 * (col("s1y") * col("s22") - col("s2y") * col("s12")) +
        s2 * (col("s1y") * col("s12") - col("s11") * col("s2y"))
      val d1 = n * (col("s1y") * col("s22") - col("s2y") * col("s12")) -
        sy * (s1 * col("s22") - s2 * col("s12")) +
        s2 * (s1 * col("s2y") - col("s1y") * s2)
      val d2 = n * (col("s11") * col("s2y") - col("s12") * col("s1y")) -
        s1 * (s1 * col("s2y") - s2 * col("s1y")) +
        sy * (s1 * col("s12") - col("s11") * s2)
      // diagonal cofactors for Var(b1), Var(b2)
      val cof11 = n * col("s22") - s2 * s2
      val cof22 = n * col("s11") - s1 * s1
      val sse = dd(col("syy")) -
        (dd(d0) * dd(col("sy")) + dd(d1) * dd(col("s1y")) +
          dd(d2) * dd(col("s2y"))) / dd(det)
      val nD = col("n").cast("double")
      val sst = dd(col("syy")) - dd(col("sy")) * dd(col("sy")) / nD
      val s2e = sse / (nD - lit(3.0))
      val ok = col("n") > 3 && det > 0 && sse > 0 && sst > 0
      m.select(col("n").as("n_units"),
        r6(when(ok, dd(d1) / dd(det) * lit(0.01))).as("b_clicks"),
        r6(when(ok, dd(d2) / dd(det) * lit(0.01))).as("b_views"),
        r4(when(ok, (dd(d1) / dd(det)) /
          sqrt(s2e * dd(cof11) / dd(det)))).as("t_clicks"),
        r4(when(ok, (dd(d2) / dd(det)) /
          sqrt(s2e * dd(cof22) / dd(det)))).as("t_views"),
        r6(when(ok, lit(1.0) - sse / sst)).as("r2"))
    },

    // Lo–MacKinlay variance ratio VR(4) per event type: the variance of
    // 4-hour changes against 4× the variance of 1-hour changes — ≈1
    // for a random walk, <1 mean-reverting, >1 trending (the
    // random-walk diagnostic that complements the DF/KPSS pair with a
    // DIRECTION of departure). Both diff series fold to exact integer
    // moments on the grid; one double division. Overlapping 4-step
    // windows (the standard estimator), simple form documented — no
    // heteroskedasticity correction.
    "ts_var_ratio" -> { (s, dir) =>
      val series = graft.ops.TimeSeries.resample(
        Tables.events(s, dir), "event_type", "ts", "value")
        .select(col("event_type").as("k"),
          (unix_timestamp(col("bucket").cast("timestamp")) / 3600L)
            .cast("long").as("h"),
          col("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("k")).orderBy(col("h"))
      val diffs = series
        .withColumn("l1", lag(col("n"), 1).over(w))
        .withColumn("l4", lag(col("n"), 4).over(w))
        .select(col("k"), (col("n") - col("l1")).as("d1"),
          (col("n") - col("l4")).as("d4"))
      val m = diffs.groupBy(col("k")).agg(
        count(col("d1")).as("n1"), sum(col("d1")).as("sd1"),
        sum(d38(col("d1")) * d38(col("d1"))).as("s1q"),
        count(col("d4")).as("n4"), sum(col("d4")).as("sd4"),
        sum(d38(col("d4")) * d38(col("d4"))).as("s4q"))
      val v1 = d38(col("n1")) * col("s1q") - d38(col("sd1")) * d38(col("sd1"))
      val v4 = d38(col("n4")) * col("s4q") - d38(col("sd4")) * d38(col("sd4"))
      // VR = (Var4/n4-ish)/(4·Var1/n1-ish) with the n(n) scalers kept
      // exact: VR = (n1²·V4)/(4·n4²·V1) up to the shared n-1 factors —
      // use the population-variance form on both sides (documented)
      val vr = (d38(col("n1")) * d38(col("n1")) * v4).cast("double") /
        (lit(4.0) * (d38(col("n4")) * d38(col("n4")) * v1).cast("double"))
      m.select(col("k").as("event_type"), col("n1").as("n_diffs"),
        r6(when(col("n1") > 1 && col("n4") > 1 && v1 > 0, vr)).as("vr4"))
    },

    // Mixture KL card: how far is the corpus's ACTUAL token-mass
    // distribution over sources from the declared mixing target (the
    // same MixTargets literal mix_weights plans toward)? Both
    // directions — KL(p‖q) punishes mass the target lacks, KL(q‖p)
    // punishes missing coverage. Per-source libm terms quantized to
    // the 1e-9 grid and summed exactly (|sources| terms).
    "mix_kl" -> { (s, dir) =>
      val targets = TrainingQueries.MixTargets.toSeq.sortBy(_._1)
      val tl = typedlit(targets.map { case (k, v) =>
        (k, math.round(v * 1e9)) })
      val toks = Tables.documents(s, dir)
        .select(col("source"),
          size(filter(split(col("text"), " "), t => length(t) > lit(0)))
            .cast("long").as("nt"))
        .groupBy(col("source")).agg(sum(col("nt")).as("nt"))
      val tot = toks.agg(sum(col("nt")).as("n"))
      val j = toks.crossJoin(broadcast(tot))
        .select(col("source"), col("nt"), col("n"),
          (element_at(map_from_entries(tl), col("source")).cast("double") /
            lit(1.0e9)).as("q"))
      val pq = col("nt").cast("double") / col("n").cast("double")
      // A source absent from MixTargets has q = NULL: its KL terms
      // would silently drop from the sums while count(*) still counted
      // the row. Surface the divergence instead — n_sources counts only
      // MAPPED sources (matching the oracle's join) and n_unmapped is a
      // loud sentinel (>0 = the generator grew a source; infinite-KL
      // mass is being ignored and MixTargets needs the new entry).
      val m = j.select(col("source"), col("q"),
        round(pq * log2(pq / col("q")) * lit(1.0e9), 0).cast("long")
          .as("qpq"),
        round(col("q") * log2(col("q") / pq) * lit(1.0e9), 0).cast("long")
          .as("qqp"))
        .agg(count(col("q")).as("n_sources"),
          sum(when(col("q").isNull, 1L).otherwise(0L)).as("n_unmapped"),
          sum(d38(col("qpq"))).as("spq"), sum(d38(col("qqp"))).as("sqp"))
      m.select(col("n_sources"), col("n_unmapped"),
        r6(col("spq").cast("double") / lit(1.0e9)).as("kl_pq"),
        r6(col("sqp").cast("double") / lit(1.0e9)).as("kl_qp"))
    },

    // ---- text / eval additions ----

    // Hapax statistics per source: vocabulary size, hapax legomena
    // (once-words) count and ratio, and Guiraud's R = V/√N — the
    // lexical-richness panel (template spam has few hapax; OCR garbage
    // has nothing BUT hapax). One (source, word) hash-agg.
    "text_hapax" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .where(length(col("w")) > 0)
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("vocab"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"))
        .select(col("source"), col("n_tokens"), col("vocab"), col("hapax"),
          r6(col("hapax").cast("double") / col("vocab").cast("double"))
            .as("hapax_ratio"),
          r6(col("vocab").cast("double") /
            sqrt(col("n_tokens").cast("double"))).as("guiraud_r"))
    },

    // Word burstiness (Fano factor var/mean of per-doc counts,
    // zero-docs included) for each source's top-20 words — burstiness
    // >> 1 means a word clumps in few docs (topical), ≈ 1 means
    // Poisson scatter (function words); the signal behind content-word
    // weighting and template detection. Exact integer moments over the
    // (source, doc, word) agg; the top-20 rank prunes map-side
    // (WindowGroupLimit).
    "text_burstiness" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val nd = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val perDoc = docs
        .select(col("source"), col("doc_id"),
          explode(split(col("text"), " ")).as("w"))
        .where(length(col("w")) > 0)
        .groupBy(col("source"), col("doc_id"), col("w"))
        .agg(count(lit(1)).as("c"))
      val perWord = perDoc.groupBy(col("source"), col("w"))
        .agg(count(lit(1)).as("df"), sum(col("c")).as("n_w"),
          sum(col("c") * col("c")).as("s2"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("n_w").desc, col("w"))
      val top = perWord.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 20)
        .join(broadcast(nd), "source")
      val dD = col("n_docs").cast("double")
      val mean = col("n_w").cast("double") / dD
      val fano = (col("s2").cast("double") / dD - mean * mean) / mean
      top.select(col("source"), col("w").as("word"), col("n_w"), col("df"),
        r6(mean).as("mean_per_doc"), r6(fano).as("burstiness"))
    },

    // Jensen–Shannon divergence of each source's unigram distribution
    // vs the REST of the corpus — the bounded-symmetric drift score
    // (0 = same language, log2(2)=1 = disjoint vocabularies) behind
    // "which source changed" triage; drift_tokens' distribution-level
    // summary. Present-cell p·log2 terms quantize to the 1e-12 grid
    // (the text_entropy discipline); the mass of words ABSENT from the
    // source folds in closed form (each contributes q/2·log2(2) — an
    // exact rational correction, no per-word work for the long tail).
    "text_js_divergence" -> { (s, dir) =>
      val words = Tables.documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .where(length(col("w")) > 0)
      val cells = words.groupBy(col("source"), col("w"))
        .agg(count(lit(1)).as("c"))
      val wtot = cells.groupBy(col("w")).agg(sum(col("c")).as("cw"))
      val stot = cells.groupBy(col("source")).agg(sum(col("c")).as("ns"))
      val all = words.agg(sum(lit(1L)).as("n"))
      val j = cells.join(wtot, "w").join(broadcast(stot), "source")
        .crossJoin(broadcast(all))
      val p = col("c").cast("double") / col("ns").cast("double")
      val q = (col("cw") - col("c")).cast("double") /
        (col("n") - col("ns")).cast("double")
      val term =
        when(col("cw") > col("c"),
          p * log2(lit(2.0) * p / (p + q)) + q * log2(lit(2.0) * q / (p + q)))
          .otherwise(p * log2(lit(2.0))) // q = 0: only the p·log2(2p/p) arm
      val m = j
        .select(col("source"), col("ns"), col("n"),
          round(term * lit(1.0e12), 0).cast("long").as("qt"),
          (col("cw") - col("c")).as("rest_c"))
        .groupBy(col("source"))
        .agg(max(col("ns")).as("ns"), max(col("n")).as("n"),
          sum(d38(col("qt"))).as("st"), sum(col("rest_c")).as("rest_pres"))
      // absent-mass correction: Σ_absent q/2·log2(2) = (1 − Q_present)/2,
      // Q_present = rest_pres/(n − ns) exactly
      val qAbs = lit(1.0) - col("rest_pres").cast("double") /
        (col("n") - col("ns")).cast("double")
      m.select(col("source"), col("ns").as("n_tokens"),
        r6((col("st").cast("double") / lit(1.0e12) + qAbs) / lit(2.0))
          .as("jsd"))
    },

    // Head coverage of the corpus word-trigram distribution: how many
    // distinct trigrams cover half the volume (k50), and what fraction
    // the top-1000 cover — the repetitiveness dial behind dedup window
    // sizing and n-gram-LM memory budgets. Computed ENTIRELY in the
    // count-of-counts domain (|distinct frequency| rows — never a
    // global rank over the gram table): within the band where the
    // running volume crosses the threshold, the crossing rank is exact
    // integer arithmetic.
    "text_ngram_coverage" -> { (s, dir) =>
      val grams = Tables.documents(s, dir)
        .where(size(split(col("text"), " ")) >= 3)
        .select(explode(expr(
          "transform(sequence(1, size(split(text, ' ')) - 2)," +
            " i -> concat_ws(' ', slice(split(text, ' '), i, 3)))")).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("c"))
      val coc = grams.groupBy(col("c")).agg(count(lit(1)).as("m"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("c").desc)
      val bands = coc
        .withColumn("cumg", sum(col("m")).over(w))
        .withColumn("cumv", sum(col("c") * col("m")).over(w))
      val tot = coc.agg(sum(col("m")).as("g_distinct"),
        sum(col("c") * col("m")).as("v_total"))
      val b = bands.crossJoin(broadcast(tot))
        .withColumn("thr", expr("(v_total + 1) DIV 2"))
      val k50 = (col("cumg") - col("m")) +
        expr("(thr - (cumv - c * m) + c - 1) DIV c")
      val v1000 = (col("cumv") - col("c") * col("m")) +
        (lit(1000L) - (col("cumg") - col("m"))) * col("c")
      b.agg(
        max(col("g_distinct")).as("g_distinct"),
        max(col("v_total")).as("v_total"),
        max(when(col("cumv") >= col("thr") &&
          col("cumv") - col("c") * col("m") < col("thr"), k50)).as("k50"),
        max(when(col("cumg") >= 1000 && col("cumg") - col("m") < 1000,
          v1000)).as("v1000"))
        .select(col("g_distinct"), col("v_total"), col("k50"),
          r6(col("k50").cast("double") / col("g_distinct").cast("double"))
            .as("k50_frac"),
          r6(when(col("g_distinct") <= 1000, lit(1.0))
            .otherwise(col("v1000").cast("double") /
              col("v_total").cast("double"))).as("top1000_frac"))
    },

    // Character-class profile per source: punctuation / digit /
    // uppercase / whitespace fractions — the cheap OCR-garbage and
    // code-vs-prose discriminator every curation stack runs first.
    // Row-local length arithmetic (count = len − len(class removed)),
    // one tiny hash-agg.
    "text_punct_profile" -> { (s, dir) =>
      def cnt(pat: String) =
        (length(col("text")) -
          length(regexp_replace(col("text"), pat, ""))).cast("long")
      Tables.documents(s, dir)
        .select(col("source"), length(col("text")).cast("long").as("nc"),
          cnt("[.,;:!?'\"()]").as("p"), cnt("[0-9]").as("d"),
          cnt("[A-Z]").as("u"), cnt(" ").as("sp"))
        .groupBy(col("source"))
        .agg(sum(col("nc")).as("n_chars"), sum(col("p")).as("np"),
          sum(col("d")).as("nd"), sum(col("u")).as("nu"),
          sum(col("sp")).as("nsp"))
        .select(col("source"), col("n_chars"),
          r6(col("np").cast("double") / col("n_chars").cast("double"))
            .as("punct_frac"),
          r6(col("nd").cast("double") / col("n_chars").cast("double"))
            .as("digit_frac"),
          r6(col("nu").cast("double") / col("n_chars").cast("double"))
            .as("upper_frac"),
          r6(col("nsp").cast("double") / col("n_chars").cast("double"))
            .as("space_frac"))
    },

    // Mean cross-entropy (log loss) of the quality classifier against
    // the lang='en' label — the threshold-free companion to eval_auc /
    // eval_brier on the same scored table. Per-row −ln terms quantize
    // to the 1e-9 grid and sum exactly (the jackknife libm rule);
    // scores clamp to [1e-4, 1−1e-4] so a saturated sigmoid can't emit
    // ±Inf.
    "eval_logloss" -> { (s, dir) =>
      val sc = graft.ops.TextAnalysis.classifierScoreCol(col("text"))
      val scc = least(greatest(sc, lit(0.0001)), lit(0.9999))
      val y = (col("lang") === "en")
      val term = -(when(y, log(scc)).otherwise(log(lit(1.0) - scc)))
      Tables.documents(s, dir)
        .select(round(term * lit(1.0e9), 0).cast("long").as("q"))
        .agg(count(lit(1)).as("n_docs"), sum(d38(col("q"))).as("sq"))
        .select(col("n_docs"),
          r6(col("sq").cast("double") / lit(1.0e9) /
            col("n_docs").cast("double")).as("logloss"))
    },

    // Matthews correlation coefficient of the classifier's 0.5 cut vs
    // the lang='en' label — the single-number confusion summary that
    // stays honest under class imbalance (accuracy and F1 don't).
    // Exact integer cells; DECIMAL products before the one sqrt.
    "eval_mcc" -> { (s, dir) =>
      val pred = graft.ops.TextAnalysis.classifierScoreCol(col("text")) >=
        lit(0.5)
      val y = col("lang") === "en"
      val m = Tables.documents(s, dir).agg(
        sum(when(pred && y, 1L).otherwise(0L)).as("tp"),
        sum(when(pred && !y, 1L).otherwise(0L)).as("fp"),
        sum(when(!pred && y, 1L).otherwise(0L)).as("fn"),
        sum(when(!pred && !y, 1L).otherwise(0L)).as("tn"))
      val num = (d38(col("tp")) * d38(col("tn")) -
        d38(col("fp")) * d38(col("fn"))).cast("double")
      val den = (d38(col("tp") + col("fp")) * d38(col("tp") + col("fn")))
        .cast("double") *
        (d38(col("tn") + col("fp")) * d38(col("tn") + col("fn")))
          .cast("double")
      m.select(col("tp"), col("fp"), col("fn"), col("tn"),
        r6(when(den > 0, num / sqrt(den))).as("mcc"))
    },

    // Sentence GLEU (min of n-gram precision and recall over 1–2
    // grams) per generation pair — the BLEU variant that behaves on
    // single sentences (no brevity-penalty cliff); one extra projection
    // on the shared clipped-overlap kernel, zero new shuffles.
    "eval_gleu" -> { (s, dir) =>
      val ov = TrainingQueries.genEvalOverlap(s, dir)
      val clip = col("clip1") + col("clip2")
      val cd = col("c1") + col("c2")
      val rd = col("r1") + col("r2")
      ov.select(col("doc_id"), clip.as("clip"),
        r4(when(cd > 0 && rd > 0,
          least(clip.cast("double") / cd.cast("double"),
            clip.cast("double") / rd.cast("double")))).as("gleu"))
    },

    // Engle–Granger cointegration test on the click/purchase hourly
    // pair: OLS y on x (exact moments), residuals quantized to the
    // 1e-2 cents-grid (BIGINT-safe: the DF moment products then peak
    // ~1e36), then the Dickey–Fuller t on the residual series — two
    // wandering series whose SPREAD is stationary move together (the
    // pairs-trading / common-trend read ts_xcorr's level correlation
    // can't give: two independent random walks correlate spuriously).
    // Grid-bounded end to end; the 5% decision (t < −3.34) is an
    // integer comparison.
    "ts_cointegration" -> { (s, dir) =>
      val series = graft.ops.TimeSeries.resample(
        Tables.events(s, dir), "event_type", "ts", "value")
        .select(col("event_type").as("k"),
          (unix_timestamp(col("bucket").cast("timestamp")) / 3600L)
            .cast("long").as("h"),
          col("n"))
      val a = series.where(col("k") === "click")
        .select(col("h"), col("n").as("x"))
      val b = series.where(col("k") === "purchase")
        .select(col("h"), col("n").as("y"))
      val j = a.join(b, "h")
      val mom = j.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(d38(col("x")) * d38(col("x"))).as("sxx"),
        sum(d38(col("x")) * d38(col("y"))).as("sxy"))
      val sXX = d38(col("n")) * col("sxx") - d38(col("sx")) * d38(col("sx"))
      val sXY = d38(col("n")) * col("sxy") - d38(col("sx")) * d38(col("sy"))
      val beta = sXY.cast("double") / sXX.cast("double")
      val alpha = (col("sy").cast("double") -
        beta * col("sx").cast("double")) / col("n").cast("double")
      val resid = j.crossJoin(broadcast(
          mom.select(col("n"), beta.as("beta"), alpha.as("alpha"))))
        .select(col("h"), col("n"), col("beta"), col("alpha"),
          round((col("y").cast("double") - col("alpha") -
            col("beta") * col("x").cast("double")) * lit(100.0), 0)
            .cast("long").as("e"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("h"))
      val d = resid
        .withColumn("ep", lag(col("e"), 1).over(w))
        .where(col("ep").isNotNull)
        .select(col("n"), col("beta"), col("ep").as("ea"),
          (col("e") - col("ep")).as("ez"))
      val m = d.groupBy(col("n"), col("beta"))
        .agg(count(lit(1)).as("n2"), sum(col("ea")).as("sa"),
          sum(col("ez")).as("sz"),
          sum(d38(col("ea")) * d38(col("ea"))).as("saa"),
          sum(d38(col("ea")) * d38(col("ez"))).as("saz"),
          sum(d38(col("ez")) * d38(col("ez"))).as("szz"))
      val rXX = d38(col("n2")) * col("saa") - d38(col("sa")) * d38(col("sa"))
      val rXZ = d38(col("n2")) * col("saz") - d38(col("sa")) * d38(col("sz"))
      val rZZ = d38(col("n2")) * col("szz") - d38(col("sz")) * d38(col("sz"))
      val den = rXX * rZZ - rXZ * rXZ
      val ok = col("n2") > 2 && rXX > 0 && den > 0
      val t = rXZ.cast("double") *
        sqrt((col("n2") - 2).cast("double") / den.cast("double"))
      m.select(col("n").as("n_hours"), col("n2").as("n_obs"),
        r6(col("beta")).as("beta"),
        r4(when(ok, t)).as("t_eg"),
        // the decision compares t (a sqrt-terminated IEEE chain —
        // bit-identical across engines, no libm) against the literal:
        // the DF-style integer form would need rXZ²·(n−2)·10⁴, which
        // overflows DECIMAL(38,0) under the ×100 residual grid
        when(ok, t < lit(-3.34)).as("cointegrated"))
    },

    // k-occurrence hubness of the embedding space: how often each
    // vector lands in the 50-probe top-10 — high-dimensional hubs
    // (vectors that are "everyone's neighbor") silently dominate ANN
    // results and dedup clusters; the skewed tail of this table is the
    // diagnostic. Same broadcast-probe economics as eval_ndcg: the
    // corpus is scanned once, 50 probes ride in a broadcast.
    "emb_hubness" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val occ = graft.ops.Similarity.bruteForceTopK(
          e, e.where(col("vec_id") < 50), "vec_id", "embedding", k = 10)
        .groupBy(col("neighbor_id")).agg(count(lit(1)).as("k_occ"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("k_occ").desc, col("neighbor_id"))
      occ.withColumn("rn", row_number().over(w)).where(col("rn") <= 20)
        .select(col("neighbor_id").as("vec_id"), col("k_occ"))
    },

    // ---- change-data-capture over the event log ----

    // CDC apply (last-writer-wins snapshot): events are upserts of a
    // per-user register keyed by (ts, event_id), 'error' rows are
    // tombstones — the materialized CURRENT STATE a downstream feature
    // store serves. ONE hash-agg: max over the (ts, event_id, …) struct
    // is the last writer (event_id is unique, so the prefix never
    // ties), and the change count rides the same buffer — map-side
    // partials absorb the log, no window at all (a rank window with a
    // sibling count-window would defeat the WindowGroupLimit prune —
    // the r12 stat_tail_index lesson, applied at design time).
    "cdc_apply" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_changes"),
          max(struct(col("ts"), col("event_id"), col("event_type"),
            centsL(col("value")).as("cents"))).as("last"))
        .where(col("last.event_type") =!= "error")
        .select(col("user_id"), col("last.ts").as("last_ts"),
          col("last.cents").as("state_cents"), col("n_changes"))
    },

    // SCD Type-2 history build: each change becomes a validity interval
    // [ts, next_ts) with the open current row flagged — the
    // slowly-changing-dimension table a point-in-time join
    // (ev_feature_snapshot) reads. One user_id window shuffle; output
    // is change-log-sized.
    "scd2_intervals" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("valid_from"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts").as("valid_from"),
          col("event_type").as("op"), centsL(col("value")).as("state_cents"))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
        .withColumn("is_current", col("valid_to").isNull)
    }
  )

  /** Hourly-grid series CTE prefix shared by the ts_* oracles here:
    * EventQueries' gap-filled grid plus the (k, h, n) projection. */
  private lazy val srCtes: String =
    EventQueries.hourlyGridCtes + """,
      |sr AS (SELECT event_type AS k,
      |    CAST(epoch(bucket) AS BIGINT) // 3600 AS h, n FROM ff)""".stripMargin

  val oracles: Map[String, String] = Map(

    "ts_dickey_fuller" ->
      s"""WITH $srCtes,
         |lg AS (SELECT k, n,
         |    lag(n) OVER (PARTITION BY k ORDER BY h) AS a FROM sr),
         |d AS (SELECT k, a, n - a AS z FROM lg WHERE a IS NOT NULL),
         |m AS (SELECT k, CAST(count(*) AS BIGINT) AS n2,
         |    CAST(sum(a) AS BIGINT) AS sa, CAST(sum(z) AS BIGINT) AS sz,
         |    sum(CAST(a AS HUGEINT) * CAST(a AS HUGEINT)) AS saa,
         |    sum(CAST(a AS HUGEINT) * CAST(z AS HUGEINT)) AS saz,
         |    sum(CAST(z AS HUGEINT) * CAST(z AS HUGEINT)) AS szz
         |  FROM d GROUP BY 1),
         |v AS (SELECT k, n2,
         |    CAST(n2 AS HUGEINT) * saa - CAST(sa AS HUGEINT) * sa AS sxx,
         |    CAST(n2 AS HUGEINT) * saz - CAST(sa AS HUGEINT) * sz AS sxz,
         |    CAST(n2 AS HUGEINT) * szz - CAST(sz AS HUGEINT) * sz AS szz2
         |  FROM m),
         |w AS (SELECT k, n2, sxx, sxz,
         |    sxx * szz2 - sxz * sxz AS den,
         |    n2 > 2 AND sxx > 0 AND sxx * szz2 - sxz * sxz > 0 AS ok
         |  FROM v)
         |SELECT k AS event_type, n2 AS n_obs,
         |  round(CASE WHEN ok THEN
         |      CAST(sxz AS DOUBLE) / CAST(sxx AS DOUBLE) END
         |    * 1000000) / 1000000 AS phi,
         |  round(CASE WHEN ok THEN CAST(sxz AS DOUBLE)
         |      * sqrt(CAST(n2 - 2 AS DOUBLE) / CAST(den AS DOUBLE)) END
         |    * 10000) / 10000 AS t_df,
         |  CASE WHEN ok THEN sxz < 0
         |    AND sxz * sxz * (CAST(n2 AS HUGEINT) - 2) * 10000
         |        > den * 81796 END AS stationary
         |FROM w""".stripMargin,

    "ts_kpss" ->
      s"""WITH $srCtes,
         |tot AS (SELECT k, CAST(count(*) AS BIGINT) AS t,
         |    CAST(sum(n) AS BIGINT) AS s FROM sr GROUP BY 1),
         |pw AS (SELECT sr.k, t, s, n,
         |    CAST(sum(n) OVER (PARTITION BY sr.k ORDER BY h
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS c,
         |    CAST(row_number() OVER (PARTITION BY sr.k ORDER BY h)
         |      AS BIGINT) AS i
         |  FROM sr JOIN tot ON tot.k = sr.k),
         |p AS (SELECT k, t, t * c - i * s AS p, t * n - s AS e FROM pw),
         |m AS (SELECT k, CAST(max(t) AS BIGINT) AS t,
         |    sum(CAST(p AS HUGEINT) * CAST(p AS HUGEINT)) AS sp2,
         |    sum(CAST(e AS HUGEINT) * CAST(e AS HUGEINT)) AS n2
         |  FROM p GROUP BY 1)
         |SELECT k AS event_type, t AS n_hours,
         |  round(CASE WHEN n2 > 0 THEN CAST(sp2 AS DOUBLE)
         |      / (CAST(t AS DOUBLE) * CAST(n2 AS DOUBLE)) END
         |    * 1000000) / 1000000 AS eta,
         |  CASE WHEN n2 > 0 THEN
         |    sp2 * 1000 > n2 * CAST(t AS HUGEINT) * 463 END
         |    AS nonstationary
         |FROM m""".stripMargin,

    "ts_spectral_entropy" -> {
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
      val qCols = periods.map { p =>
        s"""    CAST(round(2.0
           |      * (CAST(CAST(nh AS HUGEINT) * snc$p - s * sc$p AS DOUBLE)
           |           * CAST(CAST(nh AS HUGEINT) * snc$p - s * sc$p AS DOUBLE)
           |         + CAST(CAST(nh AS HUGEINT) * sns$p - s * ss$p AS DOUBLE)
           |           * CAST(CAST(nh AS HUGEINT) * sns$p - s * ss$p AS DOUBLE))
           |      / (den * den) / vard * 1000000000.0) AS BIGINT)""".stripMargin
      }.mkString(",\n")
      s"""WITH $srCtes,
         |m AS (SELECT k, CAST(count(*) AS BIGINT) AS nh,
         |    CAST(sum(n) AS HUGEINT) AS s,
         |    sum(CAST(n AS HUGEINT) * CAST(n AS HUGEINT)) AS snn,
         |$sumCols
         |  FROM sr GROUP BY 1),
         |v AS (SELECT *, CAST(nh AS DOUBLE) AS nd,
         |    CAST(nh AS DOUBLE) * CAST(nh AS DOUBLE) * 1000000.0 AS den,
         |    CAST(CAST(nh AS HUGEINT) * snn - s * s AS DOUBLE)
         |      / (CAST(nh AS DOUBLE) * CAST(nh AS DOUBLE)) AS vard
         |  FROM m),
         |rows AS (SELECT k, nh, unnest([
         |$qCols
         |  ]) AS q FROM v WHERE vard > 0),
         |tot AS (SELECT k, CAST(sum(q) AS BIGINT) AS sq
         |  FROM rows GROUP BY 1),
         |terms AS (SELECT rows.k, nh,
         |    CAST(round(CAST(q AS DOUBLE) / CAST(sq AS DOUBLE)
         |      * log2(CAST(q AS DOUBLE) / CAST(sq AS DOUBLE))
         |      * 1000000000.0) AS BIGINT) AS qt
         |  FROM rows JOIN tot ON tot.k = rows.k
         |  WHERE q > 0 AND sq > 0),
         |h AS (SELECT k, max(nh) AS n_hours,
         |    CAST(sum(CAST(qt AS HUGEINT)) AS HUGEINT) AS st
         |  FROM terms GROUP BY 1)
         |SELECT k AS event_type, n_hours,
         |  round(-(CAST(st AS DOUBLE) / 1000000000.0) / 2.584962500722
         |    * 1000000) / 1000000 AS spec_entropy
         |FROM h""".stripMargin
    },

    "ts_rolling_corr" ->
      s"""WITH $srCtes,
         |a AS (SELECT h, n AS x FROM sr WHERE k = 'click'),
         |b AS (SELECT h, n AS y FROM sr WHERE k = 'purchase'),
         |j AS (SELECT a.h, x, y FROM a JOIN b USING (h)),
         |wd AS (SELECT h,
         |    CAST(count(*) OVER w AS BIGINT) AS c,
         |    CAST(sum(x) OVER w AS BIGINT) AS sx,
         |    CAST(sum(y) OVER w AS BIGINT) AS sy,
         |    CAST(sum(x * y) OVER w AS BIGINT) AS sxy,
         |    CAST(sum(x * x) OVER w AS BIGINT) AS sxx,
         |    CAST(sum(y * y) OVER w AS BIGINT) AS syy
         |  FROM j
         |  WINDOW w AS (ORDER BY h
         |    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
         |d AS (SELECT h,
         |    CAST(24 * CAST(sxx AS HUGEINT) - CAST(sx AS HUGEINT) * sx
         |      AS DOUBLE)
         |    * CAST(24 * CAST(syy AS HUGEINT) - CAST(sy AS HUGEINT) * sy
         |      AS DOUBLE) AS den2,
         |    CAST(24 * CAST(sxy AS HUGEINT) - CAST(sx AS HUGEINT) * sy
         |      AS DOUBLE) AS num
         |  FROM wd WHERE c = 24)
         |SELECT h AS hour,
         |  round(CASE WHEN den2 > 0 THEN num / sqrt(den2) END
         |    * 1000000) / 1000000 AS r
         |FROM d""".stripMargin,

    "ts_sax" ->
      s"""WITH $srCtes,
         |tot AS (SELECT k, CAST(count(*) AS BIGINT) AS t,
         |    CAST(sum(n) AS BIGINT) AS s,
         |    sum(CAST(n AS HUGEINT) * CAST(n AS HUGEINT)) AS snn
         |  FROM sr GROUP BY 1),
         |idx AS (SELECT k, n,
         |    CAST(row_number() OVER (PARTITION BY k ORDER BY h) - 1
         |      AS BIGINT) AS i
         |  FROM sr),
         |seg AS (SELECT idx.k, CAST(i * 8 // t AS BIGINT) AS seg,
         |    CAST(count(*) AS BIGINT) AS cs, CAST(sum(n) AS BIGINT) AS ss,
         |    CAST(max(t) AS BIGINT) AS t, CAST(max(s) AS BIGINT) AS s,
         |    max(snn) AS snn
         |  FROM idx JOIN tot ON tot.k = idx.k GROUP BY 1, 2),
         |z AS (SELECT k, seg, t,
         |    CAST(CAST(t AS HUGEINT) * snn - CAST(s AS HUGEINT) * s
         |      AS DOUBLE) / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE)) AS m2,
         |    round((CAST(ss AS DOUBLE) / CAST(cs AS DOUBLE)
         |      - CAST(s AS DOUBLE) / CAST(t AS DOUBLE))
         |      / sqrt(CAST(CAST(t AS HUGEINT) * snn
         |          - CAST(s AS HUGEINT) * s AS DOUBLE)
         |        / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE)))
         |      * 1000000) / 1000000 AS zq
         |  FROM seg),
         |lt AS (SELECT k, seg, t,
         |    CASE WHEN m2 <= 0 THEN 'b'
         |      WHEN zq < -0.6745 THEN 'a'
         |      WHEN zq < 0.0 THEN 'b'
         |      WHEN zq < 0.6745 THEN 'c'
         |      ELSE 'd' END AS l
         |  FROM z)
         |SELECT k AS event_type, CAST(max(t) AS BIGINT) AS n_hours,
         |  string_agg(l, '' ORDER BY seg) AS sax
         |FROM lt GROUP BY k""".stripMargin,

    "stat_kruskal" ->
      """WITH per AS (SELECT event_type AS k,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM events),
        |vals AS (SELECT x, CAST(count(*) AS BIGINT) AS c
        |  FROM per GROUP BY x),
        |rk AS (SELECT x,
        |    2 * (CAST(sum(c) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      - c) + c + 1 AS ar2
        |  FROM vals),
        |cells AS (SELECT x, k, CAST(count(*) AS BIGINT) AS ck
        |  FROM per GROUP BY 1, 2),
        |bt AS (SELECT k, CAST(sum(ck) AS BIGINT) AS nk,
        |    CAST(sum(ck * ar2) AS BIGINT) AS r2k
        |  FROM cells JOIN rk USING (x) GROUP BY k),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS nn,
        |    sum(CAST(c AS HUGEINT) * c * c - c) AS tsum FROM vals),
        |q AS (SELECT nn, tsum,
        |    CAST(round(CAST(r2k AS DOUBLE) * CAST(r2k AS DOUBLE)
        |      / (4.0 * CAST(nk AS DOUBLE) * CAST(nn AS DOUBLE)
        |         * CAST(nn AS DOUBLE)) * 1000000.0) AS BIGINT) AS q
        |  FROM bt, tot),
        |m AS (SELECT nn, tsum, CAST(count(*) AS BIGINT) AS k_groups,
        |    CAST(sum(CAST(q AS HUGEINT)) AS HUGEINT) AS sq
        |  FROM q GROUP BY 1, 2),
        |h AS (SELECT nn, tsum, k_groups,
        |    12.0 * (CAST(sq AS DOUBLE) / 1000000.0) * CAST(nn AS DOUBLE)
        |      / (CAST(nn AS DOUBLE) + 1.0)
        |      - 3.0 * (CAST(nn AS DOUBLE) + 1.0) AS h_raw
        |  FROM m)
        |SELECT nn AS n, k_groups,
        |  round(h_raw * 10000) / 10000 AS h_raw,
        |  round(CASE WHEN tsum
        |      < CAST(nn AS HUGEINT) * nn * nn - nn THEN
        |      h_raw / (1.0 - CAST(tsum AS DOUBLE)
        |        / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
        |           * CAST(nn AS DOUBLE) - CAST(nn AS DOUBLE))) END
        |    * 10000) / 10000 AS h
        |FROM h""".stripMargin,

    "stat_cmh" ->
      """WITH e AS (SELECT
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS day,
        |    ((user_id % 2) + 2) % 2 AS variant,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |cells AS (SELECT day, CAST(count(*) AS BIGINT) AS nk,
        |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1k,
        |    CAST(sum(y) AS BIGINT) AS m1k,
        |    CAST(sum(CASE WHEN variant = 0 THEN y ELSE 0 END) AS BIGINT)
        |      AS ak
        |  FROM e GROUP BY day),
        |q AS (SELECT
        |    CAST(round((CAST(ak AS DOUBLE)
        |      - CAST(n1k AS DOUBLE) * CAST(m1k AS DOUBLE)
        |        / CAST(nk AS DOUBLE)) * 1000000000.0) AS BIGINT) AS qd,
        |    CAST(round(CAST(n1k AS DOUBLE) * CAST(nk - n1k AS DOUBLE)
        |      * CAST(m1k AS DOUBLE) * CAST(nk - m1k AS DOUBLE)
        |      / (CAST(nk AS DOUBLE) * CAST(nk AS DOUBLE)
        |         * (CAST(nk AS DOUBLE) - 1.0)) * 1000000000.0)
        |      AS BIGINT) AS qv
        |  FROM cells WHERE nk > 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n_strata,
        |    CAST(sum(CAST(qd AS HUGEINT)) AS HUGEINT) AS sd,
        |    CAST(sum(CAST(qv AS HUGEINT)) AS HUGEINT) AS sv
        |  FROM q)
        |SELECT n_strata,
        |  round(CASE WHEN sv > 0 THEN
        |      (CAST(sd AS DOUBLE) / 1000000000.0)
        |      * (CAST(sd AS DOUBLE) / 1000000000.0)
        |      / (CAST(sv AS DOUBLE) / 1000000000.0) END
        |    * 10000) / 10000 AS cmh
        |FROM m""".stripMargin,

    "stat_jarque_bera" ->
      """WITH per AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM events),
        |mom AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS s1,
        |    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS s2
        |  FROM per GROUP BY 1),
        |cent AS (SELECT per.event_type,
        |    CAST(per.x AS DOUBLE)
        |      - CAST(mom.s1 AS DOUBLE) / CAST(mom.n AS DOUBLE) AS d
        |  FROM per JOIN mom USING (event_type)),
        |qs AS (SELECT event_type,
        |    sum(CAST(CAST(round(d * d * d * 100.0) AS BIGINT) AS HUGEINT))
        |      AS sq3,
        |    sum(CAST(CAST(round(d * d * d * d) AS BIGINT) AS HUGEINT))
        |      AS sq4
        |  FROM cent GROUP BY 1),
        |j AS (SELECT mom.event_type, mom.n,
        |    CAST(CAST(mom.n AS HUGEINT) * mom.s2
        |      - CAST(mom.s1 AS HUGEINT) * mom.s1 AS DOUBLE)
        |      / (CAST(mom.n AS DOUBLE) * CAST(mom.n AS DOUBLE)) AS m2,
        |    CAST(qs.sq3 AS DOUBLE) / 100.0 / CAST(mom.n AS DOUBLE) AS m3,
        |    CAST(qs.sq4 AS DOUBLE) / CAST(mom.n AS DOUBLE) AS m4
        |  FROM mom JOIN qs USING (event_type)),
        |sk AS (SELECT event_type, n, m2,
        |    m3 / (m2 * sqrt(m2)) AS skew,
        |    m4 / (m2 * m2) - 3.0 AS kurt
        |  FROM j)
        |SELECT event_type, n,
        |  round(CASE WHEN m2 > 0 THEN skew END * 1000000) / 1000000 AS skew,
        |  round(CASE WHEN m2 > 0 THEN kurt END * 1000000) / 1000000 AS kurt,
        |  round(CASE WHEN m2 > 0 THEN CAST(n AS DOUBLE) / 6.0
        |      * (skew * skew + kurt * kurt / 4.0) END * 10000) / 10000
        |    AS jb
        |FROM sk""".stripMargin,

    "stat_mcnemar" ->
      """WITH e AS (SELECT user_id,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS day,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |span AS (SELECT CAST((min(day) + max(day) + 1) // 2 AS BIGINT)
        |    AS mid FROM e),
        |per AS (SELECT user_id,
        |    CAST(max(CASE WHEN day < mid THEN y ELSE 0 END) AS BIGINT)
        |      AS early,
        |    CAST(max(CASE WHEN day >= mid THEN y ELSE 0 END) AS BIGINT)
        |      AS late
        |  FROM e, span GROUP BY user_id),
        |m AS (SELECT
        |    CAST(sum(CASE WHEN early = 1 AND late = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN early = 0 AND late = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c
        |  FROM per)
        |SELECT b, c,
        |  round(CASE WHEN b + c > 0 THEN
        |      CAST((b - c) * (b - c) AS DOUBLE) / CAST(b + c AS DOUBLE)
        |    END * 10000) / 10000 AS chi2,
        |  round(CASE WHEN b + c > 0 THEN
        |      CAST((abs(b - c) - 1) * (abs(b - c) - 1) AS DOUBLE)
        |      / CAST(b + c AS DOUBLE) END * 10000) / 10000 AS chi2_cc,
        |  CASE WHEN b + c > 0 THEN
        |    (abs(b - c) - 1) * (abs(b - c) - 1) * 10000
        |      > 38415 * (b + c) END AS changed
        |FROM m""".stripMargin,

    "stat_cramers_v" ->
      """WITH cells AS (SELECT event_type,
        |    ((user_id % 2) + 2) % 2 AS variant,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r
        |       FROM cells GROUP BY 1),
        |ct AS (SELECT variant, CAST(sum(o) AS BIGINT) AS c
        |       FROM cells GROUP BY 1),
        |tt AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |    CAST(count(DISTINCT event_type) AS BIGINT) AS nr,
        |    CAST(count(DISTINCT variant) AS BIGINT) AS nc FROM cells),
        |terms AS (SELECT n, nr, nc,
        |    CAST(CAST(n AS HUGEINT) * o - CAST(r AS HUGEINT) * c AS DOUBLE)
        |      * CAST(CAST(n AS HUGEINT) * o - CAST(r AS HUGEINT) * c
        |          AS DOUBLE)
        |      / CAST(CAST(n AS HUGEINT) * r * c AS DOUBLE) AS term
        |  FROM cells JOIN rt USING (event_type) JOIN ct USING (variant), tt),
        |m AS (SELECT n, nr, nc, sum(term) AS chi2
        |  FROM terms GROUP BY 1, 2, 3)
        |SELECT n, round(chi2 * 10000) / 10000 AS chi2,
        |  round(CASE WHEN least(nr, nc) > 1 THEN
        |      sqrt(chi2 / CAST(n * (least(nr, nc) - 1) AS DOUBLE)) END
        |    * 1000000) / 1000000 AS v
        |FROM m""".stripMargin,

    "stat_cohens_d" ->
      """WITH per AS (SELECT event_type,
        |    ((user_id % 2) + 2) % 2 AS variant,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM events),
        |m AS (SELECT event_type,
        |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n0,
        |    CAST(sum(CASE WHEN variant = 0 THEN x END) AS BIGINT) AS sx0,
        |    sum(CASE WHEN variant = 0
        |        THEN CAST(x AS HUGEINT) * CAST(x AS HUGEINT) END) AS sxx0,
        |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1,
        |    CAST(sum(CASE WHEN variant = 1 THEN x END) AS BIGINT) AS sx1,
        |    sum(CASE WHEN variant = 1
        |        THEN CAST(x AS HUGEINT) * CAST(x AS HUGEINT) END) AS sxx1
        |  FROM per GROUP BY 1),
        |v AS (SELECT event_type, n0, n1,
        |    (CAST(CAST(n0 AS HUGEINT) * sxx0
        |        - CAST(sx0 AS HUGEINT) * sx0 AS DOUBLE)
        |       / CAST(n0 AS DOUBLE)
        |     + CAST(CAST(n1 AS HUGEINT) * sxx1
        |        - CAST(sx1 AS HUGEINT) * sx1 AS DOUBLE)
        |       / CAST(n1 AS DOUBLE))
        |      / (CAST(n0 + n1 AS DOUBLE) - 2.0) AS var_p,
        |    CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |      - CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS diff
        |  FROM m)
        |SELECT event_type, n0, n1,
        |  round(CASE WHEN n0 > 1 AND n1 > 1 AND var_p > 0 THEN
        |      diff / sqrt(var_p) END * 1000000) / 1000000 AS d,
        |  round(CASE WHEN n0 > 1 AND n1 > 1 AND var_p > 0 THEN
        |      diff / sqrt(var_p)
        |      * (1.0 - 3.0 / (4.0 * CAST(n0 + n1 AS DOUBLE) - 9.0)) END
        |    * 1000000) / 1000000 AS g
        |FROM v""".stripMargin,

    "stat_friedman" ->
      """WITH e AS (SELECT
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS day, event_type
        |  FROM events),
        |counts AS (SELECT day, event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM e GROUP BY 1, 2),
        |days AS (SELECT DISTINCT day FROM counts),
        |types AS (SELECT DISTINCT event_type FROM counts),
        |grid AS (SELECT g.day, g.event_type, coalesce(counts.n, 0) AS n
        |  FROM (SELECT days.day, types.event_type FROM days, types) g
        |  LEFT JOIN counts ON counts.day = g.day
        |    AND counts.event_type = g.event_type),
        |vals AS (SELECT day, n, CAST(count(*) AS BIGINT) AS c
        |  FROM grid GROUP BY 1, 2),
        |rk AS (SELECT day, n,
        |    2 * (CAST(sum(c) OVER (PARTITION BY day ORDER BY n
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      - c) + c + 1 AS ar2
        |  FROM vals),
        |bt AS (SELECT event_type, CAST(sum(ar2) AS BIGINT) AS r2j,
        |    CAST(count(*) AS BIGINT) AS b
        |  FROM grid JOIN rk USING (day, n) GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(max(b) AS BIGINT) AS b,
        |    sum(CAST(r2j AS HUGEINT) * CAST(r2j AS HUGEINT)) AS sr2
        |  FROM bt)
        |SELECT b AS b_days, k AS k_types,
        |  round((3.0 * CAST(sr2 AS DOUBLE)
        |      / (CAST(b AS DOUBLE) * CAST(k AS DOUBLE)
        |         * (CAST(k AS DOUBLE) + 1.0))
        |    - 3.0 * CAST(b AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0))
        |    * 10000) / 10000 AS chi2_f
        |FROM m""".stripMargin,

    "stat_runs_test" ->
      s"""WITH $srCtes,
         |tot AS (SELECT k, CAST(count(*) AS BIGINT) AS t,
         |    CAST(sum(n) AS BIGINT) AS s FROM sr GROUP BY 1),
         |sg AS (SELECT sr.k, h,
         |    CASE WHEN t * n - s > 0 THEN 1 ELSE 0 END AS sg
         |  FROM sr JOIN tot ON tot.k = sr.k),
         |lg AS (SELECT k, sg,
         |    lag(sg) OVER (PARTITION BY k ORDER BY h) AS prev FROM sg),
         |m AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(sg) AS BIGINT) AS n1,
         |    CAST(sum(CASE WHEN prev IS NOT NULL AND prev <> sg
         |      THEN 1 ELSE 0 END) + 1 AS BIGINT) AS runs
         |  FROM lg GROUP BY 1),
         |v AS (SELECT k, n, n1, runs,
         |    1.0 + 2.0 * CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE)
         |      / CAST(n AS DOUBLE) AS er,
         |    2.0 * CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE)
         |      * (2.0 * CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE)
         |         - CAST(n AS DOUBLE))
         |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
         |         * (CAST(n AS DOUBLE) - 1.0)) AS vr
         |  FROM m)
         |SELECT k AS event_type, n AS n_hours, n1 AS n_above,
         |  runs AS n_runs,
         |  round(CASE WHEN n1 > 0 AND n1 < n AND vr > 0 THEN
         |      (CAST(runs AS DOUBLE) - er) / sqrt(vr) END
         |    * 10000) / 10000 AS z
         |FROM v""".stripMargin,

    "ts_bollinger" ->
      s"""WITH $srCtes,
         |wd AS (SELECT k, n,
         |    CAST(count(*) OVER w AS BIGINT) AS c,
         |    CAST(sum(n) OVER w AS BIGINT) AS sx,
         |    CAST(sum(n * n) OVER w AS BIGINT) AS sxx
         |  FROM sr
         |  WINDOW w AS (PARTITION BY k ORDER BY h
         |    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
         |f AS (SELECT k,
         |    CAST(24 * n - sx AS HUGEINT) AS dev,
         |    4 * (CAST(24 AS HUGEINT) * sxx
         |         - CAST(sx AS HUGEINT) * sx) AS band4
         |  FROM wd WHERE c = 24),
         |m AS (SELECT k, CAST(count(*) AS BIGINT) AS n_windows,
         |    CAST(sum(CASE WHEN dev > 0 AND dev * dev > band4
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_breach_up,
         |    CAST(sum(CASE WHEN dev < 0 AND dev * dev > band4
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_breach_down
         |  FROM f GROUP BY 1)
         |SELECT k AS event_type, n_windows, n_breach_up, n_breach_down,
         |  round(CAST(n_breach_up + n_breach_down AS DOUBLE)
         |    / CAST(n_windows AS DOUBLE) * 1000000) / 1000000
         |    AS breach_frac
         |FROM m""".stripMargin,

    "drift_ks_time" ->
      """WITH e AS (SELECT event_type,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS day,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM events),
        |span AS (SELECT CAST((min(day) + max(day) + 1) // 2 AS BIGINT)
        |    AS mid FROM e),
        |grp AS (SELECT event_type, x,
        |    CAST(sum(CASE WHEN day < mid THEN 1 ELSE 0 END) AS BIGINT)
        |      AS a,
        |    CAST(sum(CASE WHEN day >= mid THEN 1 ELSE 0 END) AS BIGINT)
        |      AS b
        |  FROM e, span GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(a) AS BIGINT) AS n1,
        |    CAST(sum(b) AS BIGINT) AS n2 FROM grp GROUP BY 1),
        |cum AS (SELECT event_type, x,
        |    CAST(sum(a) OVER w AS BIGINT) AS ca,
        |    CAST(sum(b) OVER w AS BIGINT) AS cb
        |  FROM grp
        |  WINDOW w AS (PARTITION BY event_type ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |m AS (SELECT cum.event_type,
        |    CAST(max(n1) AS BIGINT) AS n1, CAST(max(n2) AS BIGINT) AS n2,
        |    CAST(max(abs(n2 * ca - n1 * cb)) AS BIGINT) AS dnum
        |  FROM cum JOIN tot ON tot.event_type = cum.event_type
        |  GROUP BY 1)
        |SELECT event_type, n1 AS n_early, n2 AS n_late,
        |  round(CASE WHEN n1 > 0 AND n2 > 0 THEN
        |      CAST(dnum AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) END
        |    * 1000000) / 1000000 AS d,
        |  CASE WHEN n1 > 0 AND n2 > 0 THEN
        |    CAST(dnum AS HUGEINT) * dnum * 10000
        |      > CAST(n1 AS HUGEINT) * n2 * (n1 + n2) * 18496 END
        |    AS drifted
        |FROM m""".stripMargin,

    "stat_ols2" ->
      """WITH e AS (SELECT user_id,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS day,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS c,
        |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS v,
        |    CASE WHEN event_type = 'purchase'
        |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      ELSE 0 END AS y
        |  FROM events),
        |per AS (SELECT user_id, day, CAST(sum(c) AS BIGINT) AS x1,
        |    CAST(sum(v) AS BIGINT) AS x2, CAST(sum(y) AS BIGINT) AS y
        |  FROM e GROUP BY 1, 2),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x1) AS HUGEINT) AS s1, CAST(sum(x2) AS HUGEINT) AS s2,
        |    CAST(sum(y) AS HUGEINT) AS sy,
        |    sum(CAST(x1 AS HUGEINT) * x1) AS s11,
        |    sum(CAST(x2 AS HUGEINT) * x2) AS s22,
        |    sum(CAST(x1 AS HUGEINT) * x2) AS s12,
        |    sum(CAST(x1 AS HUGEINT) * y) AS s1y,
        |    sum(CAST(x2 AS HUGEINT) * y) AS s2y,
        |    sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM per),
        |d AS (SELECT n, sy, s1y, s2y, syy,
        |    CAST(n AS HUGEINT) * (s11 * s22 - s12 * s12)
        |      - s1 * (s1 * s22 - s2 * s12)
        |      + s2 * (s1 * s12 - s11 * s2) AS det,
        |    sy * (s11 * s22 - s12 * s12)
        |      - s1 * (s1y * s22 - s2y * s12)
        |      + s2 * (s1y * s12 - s11 * s2y) AS d0,
        |    CAST(n AS HUGEINT) * (s1y * s22 - s2y * s12)
        |      - sy * (s1 * s22 - s2 * s12)
        |      + s2 * (s1 * s2y - s1y * s2) AS d1,
        |    CAST(n AS HUGEINT) * (s11 * s2y - s12 * s1y)
        |      - s1 * (s1 * s2y - s2 * s1y)
        |      + sy * (s1 * s12 - s11 * s2) AS d2,
        |    CAST(n AS HUGEINT) * s22 - s2 * s2 AS cof11,
        |    CAST(n AS HUGEINT) * s11 - s1 * s1 AS cof22
        |  FROM m),
        |v AS (SELECT n, det, d1, d2, cof11, cof22,
        |    CAST(syy AS DOUBLE)
        |      - (CAST(d0 AS DOUBLE) * CAST(sy AS DOUBLE)
        |         + CAST(d1 AS DOUBLE) * CAST(s1y AS DOUBLE)
        |         + CAST(d2 AS DOUBLE) * CAST(s2y AS DOUBLE))
        |        / CAST(det AS DOUBLE) AS sse,
        |    CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
        |        / CAST(n AS DOUBLE) AS sst
        |  FROM d),
        |w AS (SELECT *, sse / (CAST(n AS DOUBLE) - 3.0) AS s2e,
        |    n > 3 AND det > 0 AND sse > 0 AND sst > 0 AS ok
        |  FROM v)
        |SELECT n AS n_units,
        |  round(CASE WHEN ok THEN CAST(d1 AS DOUBLE) / CAST(det AS DOUBLE)
        |      * 0.01 END * 1000000) / 1000000 AS b_clicks,
        |  round(CASE WHEN ok THEN CAST(d2 AS DOUBLE) / CAST(det AS DOUBLE)
        |      * 0.01 END * 1000000) / 1000000 AS b_views,
        |  round(CASE WHEN ok THEN
        |      (CAST(d1 AS DOUBLE) / CAST(det AS DOUBLE))
        |      / sqrt(s2e * CAST(cof11 AS DOUBLE) / CAST(det AS DOUBLE))
        |    END * 10000) / 10000 AS t_clicks,
        |  round(CASE WHEN ok THEN
        |      (CAST(d2 AS DOUBLE) / CAST(det AS DOUBLE))
        |      / sqrt(s2e * CAST(cof22 AS DOUBLE) / CAST(det AS DOUBLE))
        |    END * 10000) / 10000 AS t_views,
        |  round(CASE WHEN ok THEN 1.0 - sse / sst END * 1000000)
        |    / 1000000 AS r2
        |FROM w""".stripMargin,

    "ts_var_ratio" ->
      s"""WITH $srCtes,
         |lg AS (SELECT k, n,
         |    lag(n, 1) OVER (PARTITION BY k ORDER BY h) AS l1,
         |    lag(n, 4) OVER (PARTITION BY k ORDER BY h) AS l4
         |  FROM sr),
         |m AS (SELECT k,
         |    CAST(count(n - l1) AS BIGINT) AS n1,
         |    CAST(sum(n - l1) AS BIGINT) AS sd1,
         |    sum(CAST(n - l1 AS HUGEINT) * (n - l1)) AS s1q,
         |    CAST(count(n - l4) AS BIGINT) AS n4,
         |    CAST(sum(n - l4) AS BIGINT) AS sd4,
         |    sum(CAST(n - l4 AS HUGEINT) * (n - l4)) AS s4q
         |  FROM lg GROUP BY 1),
         |v AS (SELECT k, n1, n4,
         |    CAST(n1 AS HUGEINT) * s1q - CAST(sd1 AS HUGEINT) * sd1 AS v1,
         |    CAST(n4 AS HUGEINT) * s4q - CAST(sd4 AS HUGEINT) * sd4 AS v4
         |  FROM m)
         |SELECT k AS event_type, n1 AS n_diffs,
         |  round(CASE WHEN n1 > 1 AND n4 > 1 AND v1 > 0 THEN
         |      CAST(CAST(n1 AS HUGEINT) * n1 * v4 AS DOUBLE)
         |      / (4.0 * CAST(CAST(n4 AS HUGEINT) * n4 * v1 AS DOUBLE))
         |    END * 1000000) / 1000000 AS vr4
         |FROM v""".stripMargin,

    "mix_kl" -> {
      val targets = TrainingQueries.MixTargets.toSeq.sortBy(_._1)
      val tbl = targets.map { case (k, v) =>
        s"('$k', ${math.round(v * 1e9)})" }.mkString(", ")
      s"""WITH tgt AS (SELECT * FROM (VALUES $tbl) t(source, qn)),
         |toks AS (SELECT source,
         |    CAST(sum(len(list_filter(string_split(text, ' '),
         |      w -> len(w) > 0))) AS BIGINT) AS nt
         |  FROM documents GROUP BY 1),
         |tot AS (SELECT CAST(sum(nt) AS BIGINT) AS n FROM toks),
         |j AS (SELECT toks.source, nt, n,
         |    CAST(qn AS DOUBLE) / 1000000000.0 AS q
         |  FROM toks LEFT JOIN tgt ON tgt.source = toks.source, tot),
         |q AS (SELECT source, q,
         |    CAST(round(CAST(nt AS DOUBLE) / CAST(n AS DOUBLE)
         |      * log2(CAST(nt AS DOUBLE) / CAST(n AS DOUBLE) / q)
         |      * 1000000000.0) AS BIGINT) AS qpq,
         |    CAST(round(q * log2(q / (CAST(nt AS DOUBLE)
         |        / CAST(n AS DOUBLE)))
         |      * 1000000000.0) AS BIGINT) AS qqp
         |  FROM j),
         |m AS (SELECT CAST(count(q) AS BIGINT) AS n_sources,
         |    CAST(sum(CASE WHEN q IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_unmapped,
         |    CAST(sum(CAST(qpq AS HUGEINT)) AS HUGEINT) AS spq,
         |    CAST(sum(CAST(qqp AS HUGEINT)) AS HUGEINT) AS sqp
         |  FROM q)
         |SELECT n_sources, n_unmapped,
         |  round(CAST(spq AS DOUBLE) / 1000000000.0 * 1000000) / 1000000
         |    AS kl_pq,
         |  round(CAST(sqp AS DOUBLE) / 1000000000.0 * 1000000) / 1000000
         |    AS kl_qp
         |FROM m""".stripMargin
    },

    "text_hapax" ->
      """WITH w AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  WHERE len(w) > 0 GROUP BY 1, 2),
        |m AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS vocab,
        |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
        |  FROM w GROUP BY 1)
        |SELECT source, n_tokens, vocab, hapax,
        |  round(CAST(hapax AS DOUBLE) / CAST(vocab AS DOUBLE) * 1000000)
        |    / 1000000 AS hapax_ratio,
        |  round(CAST(vocab AS DOUBLE) / sqrt(CAST(n_tokens AS DOUBLE))
        |    * 1000000) / 1000000 AS guiraud_r
        |FROM m""".stripMargin,

    "text_burstiness" ->
      """WITH nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY 1),
        |pd AS (SELECT source, doc_id, w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT source, doc_id, unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  WHERE len(w) > 0 GROUP BY 1, 2, 3),
        |pw AS (SELECT source, w, CAST(count(*) AS BIGINT) AS df,
        |    CAST(sum(c) AS BIGINT) AS n_w,
        |    CAST(sum(c * c) AS BIGINT) AS s2
        |  FROM pd GROUP BY 1, 2),
        |top AS (SELECT * FROM (SELECT pw.*, row_number() OVER (
        |      PARTITION BY source ORDER BY n_w DESC, w) AS rn FROM pw)
        |  WHERE rn <= 20),
        |j AS (SELECT top.source, w, n_w, df, n_docs,
        |    CAST(n_w AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_pd,
        |    CAST(s2 AS DOUBLE) / CAST(n_docs AS DOUBLE) AS es2
        |  FROM top JOIN nd ON nd.source = top.source)
        |SELECT source, w AS word, n_w, df,
        |  round(mean_pd * 1000000) / 1000000 AS mean_per_doc,
        |  round((es2 - mean_pd * mean_pd) / mean_pd * 1000000) / 1000000
        |    AS burstiness
        |FROM j""".stripMargin,

    "text_js_divergence" ->
      """WITH words AS (SELECT source, w
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  WHERE len(w) > 0),
        |cells AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
        |  FROM words GROUP BY 1, 2),
        |wtot AS (SELECT w, CAST(sum(c) AS BIGINT) AS cw
        |  FROM cells GROUP BY 1),
        |stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns
        |  FROM cells GROUP BY 1),
        |tt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM words),
        |terms AS (SELECT cells.source, ns, n, cw - c AS rest_c,
        |    CAST(round(CASE WHEN cw > c THEN
        |        CAST(c AS DOUBLE) / CAST(ns AS DOUBLE)
        |          * log2(2.0 * (CAST(c AS DOUBLE) / CAST(ns AS DOUBLE))
        |            / (CAST(c AS DOUBLE) / CAST(ns AS DOUBLE)
        |               + CAST(cw - c AS DOUBLE) / CAST(n - ns AS DOUBLE)))
        |        + CAST(cw - c AS DOUBLE) / CAST(n - ns AS DOUBLE)
        |          * log2(2.0 * (CAST(cw - c AS DOUBLE)
        |              / CAST(n - ns AS DOUBLE))
        |            / (CAST(c AS DOUBLE) / CAST(ns AS DOUBLE)
        |               + CAST(cw - c AS DOUBLE) / CAST(n - ns AS DOUBLE)))
        |      ELSE CAST(c AS DOUBLE) / CAST(ns AS DOUBLE) * log2(2.0) END
        |      * 1000000000000.0) AS BIGINT) AS qt
        |  FROM cells JOIN wtot USING (w)
        |    JOIN stot ON stot.source = cells.source, tt),
        |m AS (SELECT source, CAST(max(ns) AS BIGINT) AS ns,
        |    CAST(max(n) AS BIGINT) AS n,
        |    CAST(sum(CAST(qt AS HUGEINT)) AS HUGEINT) AS st,
        |    CAST(sum(rest_c) AS BIGINT) AS rest_pres
        |  FROM terms GROUP BY 1)
        |SELECT source, ns AS n_tokens,
        |  round((CAST(st AS DOUBLE) / 1000000000000.0
        |      + (1.0 - CAST(rest_pres AS DOUBLE) / CAST(n - ns AS DOUBLE)))
        |    / 2.0 * 1000000) / 1000000 AS jsd
        |FROM m""".stripMargin,

    "text_ngram_coverage" ->
      """WITH grams AS (SELECT g, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(list_transform(
        |      range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
        |      i -> string_split(text, ' ')[i] || ' '
        |        || string_split(text, ' ')[i+1] || ' '
        |        || string_split(text, ' ')[i+2])) AS g
        |    FROM documents)
        |  GROUP BY g),
        |coc AS (SELECT c, CAST(count(*) AS BIGINT) AS m
        |  FROM grams GROUP BY c),
        |bands AS (SELECT c, m,
        |    CAST(sum(m) OVER w AS BIGINT) AS cumg,
        |    CAST(sum(c * m) OVER w AS BIGINT) AS cumv
        |  FROM coc
        |  WINDOW w AS (ORDER BY c DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |tot AS (SELECT CAST(sum(m) AS BIGINT) AS g_distinct,
        |    CAST(sum(c * m) AS BIGINT) AS v_total FROM coc),
        |b AS (SELECT bands.*, g_distinct, v_total,
        |    (v_total + 1) // 2 AS thr FROM bands, tot),
        |m AS (SELECT
        |    CAST(max(g_distinct) AS BIGINT) AS g_distinct,
        |    CAST(max(v_total) AS BIGINT) AS v_total,
        |    CAST(max(CASE WHEN cumv >= thr AND cumv - c * m < thr THEN
        |      (cumg - m) + (thr - (cumv - c * m) + c - 1) // c END)
        |      AS BIGINT) AS k50,
        |    CAST(max(CASE WHEN cumg >= 1000 AND cumg - m < 1000 THEN
        |      (cumv - c * m) + (1000 - (cumg - m)) * c END)
        |      AS BIGINT) AS v1000
        |  FROM b)
        |SELECT g_distinct, v_total, k50,
        |  round(CAST(k50 AS DOUBLE) / CAST(g_distinct AS DOUBLE)
        |    * 1000000) / 1000000 AS k50_frac,
        |  round(CASE WHEN g_distinct <= 1000 THEN 1.0
        |    ELSE CAST(v1000 AS DOUBLE) / CAST(v_total AS DOUBLE) END
        |    * 1000000) / 1000000 AS top1000_frac
        |FROM m""".stripMargin,

    "text_punct_profile" ->
      """WITH d AS (SELECT source,
        |    CAST(length(text) AS BIGINT) AS nc,
        |    CAST(length(text) - length(regexp_replace(text,
        |      '[.,;:!?''"()]', '', 'g')) AS BIGINT) AS p,
        |    CAST(length(text) - length(regexp_replace(text,
        |      '[0-9]', '', 'g')) AS BIGINT) AS d,
        |    CAST(length(text) - length(regexp_replace(text,
        |      '[A-Z]', '', 'g')) AS BIGINT) AS u,
        |    CAST(length(text) - length(regexp_replace(text,
        |      ' ', '', 'g')) AS BIGINT) AS sp
        |  FROM documents),
        |m AS (SELECT source, CAST(sum(nc) AS BIGINT) AS n_chars,
        |    CAST(sum(p) AS BIGINT) AS np, CAST(sum(d) AS BIGINT) AS nd,
        |    CAST(sum(u) AS BIGINT) AS nu, CAST(sum(sp) AS BIGINT) AS nsp
        |  FROM d GROUP BY 1)
        |SELECT source, n_chars,
        |  round(CAST(np AS DOUBLE) / CAST(n_chars AS DOUBLE) * 1000000)
        |    / 1000000 AS punct_frac,
        |  round(CAST(nd AS DOUBLE) / CAST(n_chars AS DOUBLE) * 1000000)
        |    / 1000000 AS digit_frac,
        |  round(CAST(nu AS DOUBLE) / CAST(n_chars AS DOUBLE) * 1000000)
        |    / 1000000 AS upper_frac,
        |  round(CAST(nsp AS DOUBLE) / CAST(n_chars AS DOUBLE) * 1000000)
        |    / 1000000 AS space_frac
        |FROM m""".stripMargin,

    "eval_logloss" -> {
      s"""WITH scored AS (SELECT
         |    least(greatest(round(1.0/(1.0 + exp(-z)), 4), 0.0001),
         |      0.9999) AS sc,
         |    lang = 'en' AS pos
         |  FROM (${TrainingQueries.clfZSql(", lang")})),
         |q AS (SELECT CAST(round(-(CASE WHEN pos THEN ln(sc)
         |      ELSE ln(1.0 - sc) END) * 1000000000.0) AS BIGINT) AS q
         |  FROM scored),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CAST(q AS HUGEINT)) AS HUGEINT) AS sq FROM q)
         |SELECT n_docs,
         |  round(CAST(sq AS DOUBLE) / 1000000000.0
         |    / CAST(n_docs AS DOUBLE) * 1000000) / 1000000 AS logloss
         |FROM m""".stripMargin
    },

    "eval_mcc" -> {
      s"""WITH scored AS (SELECT
         |    round(1.0/(1.0 + exp(-z)), 4) >= 0.5 AS pred,
         |    lang = 'en' AS pos
         |  FROM (${TrainingQueries.clfZSql(", lang")})),
         |m AS (SELECT
         |    CAST(sum(CASE WHEN pred AND pos THEN 1 ELSE 0 END) AS BIGINT)
         |      AS tp,
         |    CAST(sum(CASE WHEN pred AND NOT pos THEN 1 ELSE 0 END)
         |      AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN NOT pred AND pos THEN 1 ELSE 0 END)
         |      AS BIGINT) AS fn,
         |    CAST(sum(CASE WHEN NOT pred AND NOT pos THEN 1 ELSE 0 END)
         |      AS BIGINT) AS tn
         |  FROM scored),
         |v AS (SELECT tp, fp, fn, tn,
         |    CAST(CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn
         |      AS DOUBLE) AS num,
         |    CAST(CAST(tp + fp AS HUGEINT) * (tp + fn) AS DOUBLE)
         |      * CAST(CAST(tn + fp AS HUGEINT) * (tn + fn) AS DOUBLE)
         |      AS den
         |  FROM m)
         |SELECT tp, fp, fn, tn,
         |  round(CASE WHEN den > 0 THEN num / sqrt(den) END * 1000000)
         |    / 1000000 AS mcc
         |FROM v""".stripMargin
    },

    "eval_gleu" ->
      s"""WITH ${TrainingQueries.genPairCtes}
         |SELECT doc_id, clip1 + clip2 AS clip,
         |  round(CASE WHEN c1 + c2 > 0 AND r1 + r2 > 0 THEN
         |      least(CAST(clip1 + clip2 AS DOUBLE) / CAST(c1 + c2 AS DOUBLE),
         |        CAST(clip1 + clip2 AS DOUBLE) / CAST(r1 + r2 AS DOUBLE))
         |    END * 10000) / 10000 AS gleu
         |FROM ov""".stripMargin,

    "ts_cointegration" ->
      s"""WITH $srCtes,
         |a AS (SELECT h, n AS x FROM sr WHERE k = 'click'),
         |b AS (SELECT h, n AS y FROM sr WHERE k = 'purchase'),
         |j AS (SELECT a.h, x, y FROM a JOIN b USING (h)),
         |mom AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
         |    sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
         |  FROM j),
         |fit AS (SELECT n,
         |    CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
         |        AS DOUBLE)
         |      / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
         |        AS DOUBLE) AS beta,
         |    (CAST(sy AS DOUBLE)
         |      - CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
         |          AS DOUBLE)
         |        / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
         |          AS DOUBLE)
         |        * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS alpha
         |  FROM mom),
         |resid AS (SELECT h,
         |    CAST(round((CAST(y AS DOUBLE) - alpha
         |      - beta * CAST(x AS DOUBLE)) * 100.0) AS BIGINT) AS e,
         |    n, beta
         |  FROM j, fit),
         |lg AS (SELECT n, beta, e,
         |    lag(e) OVER (ORDER BY h) AS ep FROM resid),
         |d AS (SELECT n, beta, ep AS ea, e - ep AS ez
         |  FROM lg WHERE ep IS NOT NULL),
         |m AS (SELECT n, beta, CAST(count(*) AS BIGINT) AS n2,
         |    CAST(sum(ea) AS BIGINT) AS sa, CAST(sum(ez) AS BIGINT) AS sz,
         |    sum(CAST(ea AS HUGEINT) * CAST(ea AS HUGEINT)) AS saa,
         |    sum(CAST(ea AS HUGEINT) * CAST(ez AS HUGEINT)) AS saz,
         |    sum(CAST(ez AS HUGEINT) * CAST(ez AS HUGEINT)) AS szz
         |  FROM d GROUP BY 1, 2),
         |v AS (SELECT n, beta, n2,
         |    CAST(n2 AS HUGEINT) * saa - CAST(sa AS HUGEINT) * sa AS rxx,
         |    CAST(n2 AS HUGEINT) * saz - CAST(sa AS HUGEINT) * sz AS rxz,
         |    CAST(n2 AS HUGEINT) * szz - CAST(sz AS HUGEINT) * sz AS rzz
         |  FROM m),
         |w AS (SELECT n, beta, n2, rxx, rxz,
         |    rxx * rzz - rxz * rxz AS den,
         |    n2 > 2 AND rxx > 0 AND rxx * rzz - rxz * rxz > 0 AS ok
         |  FROM v)
         |SELECT n AS n_hours, n2 AS n_obs,
         |  round(beta * 1000000) / 1000000 AS beta,
         |  round(CASE WHEN ok THEN CAST(rxz AS DOUBLE)
         |      * sqrt(CAST(n2 - 2 AS DOUBLE) / CAST(den AS DOUBLE)) END
         |    * 10000) / 10000 AS t_eg,
         |  CASE WHEN ok THEN CAST(rxz AS DOUBLE)
         |    * sqrt(CAST(n2 - 2 AS DOUBLE) / CAST(den AS DOUBLE))
         |    < -3.34 END AS cointegrated
         |FROM w""".stripMargin,

    "emb_hubness" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
        |  FROM embeddings WHERE vec_id < 50),
        |p AS (SELECT qid, c.vec_id AS nid,
        |    list_cosine_similarity(qe, c.embedding::DOUBLE[]) AS sim
        |  FROM q, embeddings c WHERE c.vec_id <> qid),
        |r AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid
        |    ORDER BY sim DESC, nid ASC) AS rk FROM p),
        |o AS (SELECT nid, CAST(count(*) AS BIGINT) AS k_occ
        |  FROM r WHERE rk <= 10 GROUP BY nid),
        |t AS (SELECT nid, k_occ, row_number() OVER (
        |    ORDER BY k_occ DESC, nid ASC) AS rn FROM o)
        |SELECT nid AS vec_id, k_occ FROM t WHERE rn <= 20""".stripMargin,

    "cdc_apply" ->
      """WITH r AS (SELECT user_id, ts, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn,
        |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
        |      AS n_changes
        |  FROM events)
        |SELECT user_id, ts AS last_ts,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS state_cents,
        |  n_changes
        |FROM r WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    "scd2_intervals" ->
      """SELECT user_id, event_id, ts AS valid_from, event_type AS op,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS state_cents,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS valid_to,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    IS NULL AS is_current
        |FROM events""".stripMargin,

    "stat_sign_test" ->
      """WITH e AS (SELECT user_id,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS day,
        |    CASE WHEN event_type = 'purchase'
        |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      ELSE 0 END AS v
        |  FROM events),
        |span AS (SELECT CAST((min(day) + max(day) + 1) // 2 AS BIGINT)
        |    AS mid FROM e),
        |per AS (SELECT user_id,
        |    CAST(sum(CASE WHEN day < mid THEN v ELSE 0 END) AS BIGINT)
        |      AS e,
        |    CAST(sum(CASE WHEN day >= mid THEN v ELSE 0 END) AS BIGINT)
        |      AS l
        |  FROM e, span GROUP BY user_id),
        |m AS (SELECT
        |    CAST(sum(CASE WHEN l > e THEN 1 ELSE 0 END) AS BIGINT) AS pos,
        |    CAST(sum(CASE WHEN e > l THEN 1 ELSE 0 END) AS BIGINT) AS neg
        |  FROM per)
        |SELECT pos, neg,
        |  round(CASE WHEN pos + neg > 0 THEN
        |      CAST((pos - neg) * (pos - neg) AS DOUBLE)
        |      / CAST(pos + neg AS DOUBLE) END * 10000) / 10000 AS z2
        |FROM m""".stripMargin
  )
}
