package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared exact-moment statistics kernels (the stat_* family's common
  * core, reused by the streaming twins so stream ≡ batch is equality of
  * one implementation, not of two transcriptions). */
object Stats {

  private val d38 = org.apache.spark.sql.types.DecimalType(38, 0)

  /** Cents-exact value column (the engine-wide money convention). */
  def cents(valueCol: Column): Column =
    (valueCol.cast("decimal(18,2)") * 100).cast("long")

  // NOTE (r16, measured no-op): rewriting `sum(dec(a)*dec(b))` money
  // sums to long cents² products (exact, same values) showed NO
  // measurable win at sf0.1 (q1_agg 0.60 vs 0.56, join_broadcast 0.87
  // vs 0.94, min-of-7 back-to-back) — Spark's BigDecimal multiply on
  // compact (18,2) operands is not the bottleneck of these stages;
  // reverted to keep the simpler decimal form.

  /** EXACT floor division of non-negative integer columns — the one
    * shared definition (it had grown five local copies). The remainder
    * is subtracted first so the quotient is integral; the division is
    * SQL `div` (IntegralDivide), which truncates — exact here because
    * the numerator is a multiple of b by construction, for LONG and
    * DECIMAL inputs alike. r16: was a DECIMAL(38,0) `/` + cast, which
    * forced a BigDecimal division per row even for long inputs (a
    * double quotient would be exact only under 2⁵³, and the
    * waterfilling / budget products cross that on a 10T-token corpus —
    * `div` keeps the exactness without the decimal widening; pagerank's
    * per-iteration fdiv was the hottest caller). */
  def fdiv(a: Column, b: Column): Column =
    call_function("div", a - pmod(a, b), b)

  /** Standard normal quantile Φ⁻¹(p) — Acklam's rational approximation
    * (public-domain algorithm, |rel err| < 1.15e-9), evaluated ONCE at
    * plan-build time so both engines consume the same double literals
    * (the sprtMicroNats discipline: never make two engines call their
    * own special-function libm). */
  def invNormCdf(p: Double): Double = {
    require(p > 0.0 && p < 1.0, s"p in (0,1), got $p")
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01, -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
    val d = Array(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    val pl = 0.02425
    if (p < pl) {
      val q = math.sqrt(-2 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    } else if (p <= 1 - pl) {
      val q = p - 0.5; val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
    } else -invNormCdf(1 - p)
  }

  /** Benjamini–Hochberg z² threshold matrix: `bhT2(m-1)(r-1)` is the
    * two-sided z² a rank-r (by descending statistic) test must clear
    * when m hypotheses are tested at FDR level `alpha` — i.e.
    * Φ⁻¹(1 − α·r/(2m))². Literals for BOTH engines. */
  def bhT2Matrix(alpha: Double, mMax: Int): Seq[Seq[Double]] =
    (1 to mMax).map(m => (1 to m).map { r =>
      val z = invNormCdf(1.0 - alpha * r / (2.0 * m)); z * z
    })

  /** One chi-squared contingency term, (n·O − r·c)² / (n·r·c), with the
    * FULL decimal discipline — every count is cast to DECIMAL(38,0)
    * BEFORE any product (a BIGINT pairwise product of counts wraps at
    * ~9.2e18, i.e. total × per-cell at ~1e11 × 1e8 — real at embedding-
    * corpus scale; the triple product in the denominator wraps first).
    * The exact decimal difference is cast to double and squared IN
    * double: an exact-decimal square of a ~1e19+ difference overflows
    * both DECIMAL(38,0) and the oracle's HUGEINT, while the double
    * square is the same IEEE value in both engines (one rounding on the
    * exact integer difference, then exact-by-construction operations).
    * Oracle mirror: CAST(n AS HUGEINT) products inside the difference,
    * CAST(diff AS DOUBLE) * CAST(diff AS DOUBLE), and
    * CAST(CAST(n AS HUGEINT) * r * c AS DOUBLE) in the denominator —
    * [[graft.queries]] stat_chi2 / drift_cells carry the SQL halves. */
  def chi2Term(n: Column, o: Column, r: Column, c: Column): Column = {
    val num = (n.cast(d38) * o.cast(d38) - r.cast(d38) * c.cast(d38))
      .cast("double")
    num * num / (n.cast(d38) * r.cast(d38) * c.cast(d38)).cast("double")
  }

  /** The derived columns of a Welch TOST equivalence test. `equiv` is
    * 1/0 (int) and NULL when se2 = 0 — the dead-metric rule. */
  final case class Tost(mean0c: Column, mean1c: Column, se2: Column,
                        tLow: Column, tUp: Column, equiv: Column)

  /** Welch TOST (two one-sided tests) from exact per-arm moments — the
    * shared kernel of the batch `stat_tost` query and [[graft.streaming
    * .TostStream]]'s windowed guardrail monitor (stream ≡ batch is
    * equality of this one expression tree). Inputs: per-arm BIGINT
    * counts and DECIMAL(38,0) cents sums / sums of squares. The margin
    * is `marginFrac` of the pooled mean; equivalence iff
    * tLow > zCrit AND tUp < −zCrit. Only +,−,×,÷,sqrt touch doubles —
    * no libm — so the decision flag is engine-portable to the bit
    * (consumers still 6dp-round the t statistics for display). */
  def tost(n0: Column, sx0: Column, sxx0: Column,
           n1: Column, sx1: Column, sxx1: Column,
           marginFrac: Double = 0.05, zCrit: Double = 1.644854): Tost = {
    def mean(sx: Column, n: Column) = sx.cast("double") / n.cast("double")
    def svar(n: Column, sx: Column, sxx: Column) =
      (n.cast(d38) * sxx - sx * sx).cast("double") /
        (n.cast(d38) * (n.cast(d38) - 1)).cast("double")
    val diff = mean(sx0, n0) - mean(sx1, n1)
    val se2 = svar(n0, sx0, sxx0) / n0.cast("double") +
      svar(n1, sx1, sxx1) / n1.cast("double")
    val se = sqrt(se2)
    // |pooled mean|: a signed margin would make t_low < t_up structurally
    // for a negative-mean metric (refunds, losses) — equivalence could
    // then NEVER certify, even for identical arms. TOST's band is a
    // magnitude. (A zero-mean metric gets a zero band and cannot
    // certify — the standard contract: pick an absolute margin then.)
    val margin = abs((sx0 + sx1).cast("double") / (n0 + n1).cast("double")) *
      lit(marginFrac)
    val tLow = (diff + margin) / se
    val tUp = (diff - margin) / se
    Tost(mean(sx0, n0), mean(sx1, n1), se2, tLow, tUp,
      when(se2 > 0, (tLow > lit(zCrit) && tUp < -lit(zCrit)).cast("int")))
  }

  final case class DeltaRatio(r: Column, se: Column)

  /** Delta-method point estimate and SE of the ratio metric R = Σx/Σy
    * over randomization UNITS (users) — the shared kernel of the batch
    * `stat_delta_ratio` query and [[graft.streaming.DeltaRatioStream]]'s
    * windowed monitor (stream ≡ batch is equality of this one
    * expression tree). Inputs: BIGINT unit count and x/y sums,
    * DECIMAL(38,0) sums of squares / cross products. Var(R̂) ≈
    * (σx² − 2Rσxy + R²σy²)/(n·ȳ²), the first-order Taylor expansion;
    * only +,−,×,÷,sqrt touch doubles. Outputs are UNROUNDED and in
    * input units (cents-per-event if x is cents) — consumers scale and
    * 6dp-round. */
  def deltaRatio(n: Column, sx: Column, sy: Column,
                 sxx: Column, syy: Column, sxy: Column): DeltaRatio = {
    val nd = n.cast("double")
    val nD = n.cast(d38)
    val r = sx.cast("double") / sy.cast("double")
    def sv(ss: Column, a: Column, b: Column) =
      (nD * ss - a.cast(d38) * b.cast(d38)).cast("double") /
        (nd * (nd - lit(1.0)))
    val vx = sv(sxx, sx, sx)
    val vy = sv(syy, sy, sy)
    val cxy = sv(sxy, sx, sy)
    val ybar = sy.cast("double") / nd
    val se = sqrt((vx - lit(2.0) * r * cxy + r * r * vy) / nd) / ybar
    // Degenerate guard (stat_jackknife's convention): n=1 makes every
    // sample variance 0/0 and sy=0 makes ȳ=0 — a one-user or zero-event
    // window must emit portable NULLs, not NaN/Inf (DeltaRatioStream can
    // hit both live; DuckDB would error where Spark yields NaN).
    val ok = n > lit(1) && sy > lit(0)
    DeltaRatio(when(ok, r), when(ok, se))
  }

  /** Standard normal CDF Φ(z) as a COLUMN expression — Abramowitz &
    * Stegun 26.2.17 (public-domain polynomial, |ε| < 7.5e-8): the same
    * five literal coefficients and the same operation order as the SQL
    * half [[normCdfSql]] emits, so both engines evaluate an identical
    * IEEE expression tree. The one libm call is exp(−z²/2) (DuckDB and
    * the JVM may differ in the last ulp — consumers 6dp-round the
    * result, the eval_calibration sigmoid precedent). */
  def normCdf(z: Column): Column = {
    val az = abs(z)
    val t = lit(1.0) / (lit(1.0) + lit(0.2316419) * az)
    val poly = t * (lit(0.319381530) + t * (lit(-0.356563782) +
      t * (lit(1.781477937) + t * (lit(-1.821255978) +
        t * lit(1.330274429)))))
    val tail = exp(-(az * az) / 2) * lit(0.3989422804014327) * poly
    when(z >= 0, lit(1.0) - tail).otherwise(tail)
  }

  /** The DuckDB half of [[normCdf]]: same coefficients, same order.
    * `z` must be a self-contained SQL expression (it is spliced in
    * several times — pass a column reference, not a subquery). */
  def normCdfSql(z: String): String = {
    val t = s"(1.0 / (1.0 + 0.2316419 * abs($z)))"
    val poly = s"($t * (0.319381530 + $t * (-0.356563782 + " +
      s"$t * (1.781477937 + $t * (-1.821255978 + $t * 1.330274429)))))"
    s"(CASE WHEN $z >= 0 THEN 1.0 - exp(-(abs($z) * abs($z)) / 2) " +
      s"* 0.3989422804014327 * $poly " +
      s"ELSE exp(-(abs($z) * abs($z)) / 2) * 0.3989422804014327 * $poly END)"
  }

  /** Per-group exact moments (grp, ni, si, qi): BIGINT count/sum,
    * DECIMAL(38,0) sum of squares. `extraKeys` prepends additional
    * grouping expressions (e.g. a streaming event-time window), so the
    * streaming twin aggregates through THIS definition, not a copy. */
  def groupMoments(df: DataFrame, groupCol: String, valueCol: String,
                   extraKeys: Seq[Column] = Nil): DataFrame = {
    val x = cents(col(valueCol))
    df.groupBy(extraKeys :+ col(groupCol).as("grp"): _*)
      .agg(count(lit(1)).as("ni"), sum(x).as("si"),
        sum(x.cast(d38) * x.cast(d38)).as("qi"))
  }

  /** Kendall tau-b concordance between two integral columns. The pair
    * census collapses to the JOINT VALUE-DOMAIN table first, so the
    * O(n²) pair space becomes one |domain|²-cell broadcast cross join
    * of cell COUNTS — concordant/discordant mass is Σ cᵢ·cⱼ over cells
    * with x_i<x_j, split by the y order. Only safe when both domains
    * are dictionary-bounded (quantities, grades, bucketed scores); a
    * continuous column must be binned first. Tie terms Σt(t−1) and
    * n(n−1) stay exact DECIMAL(38,0); the two variance factors cross
    * to double BEFORE their product (the product is ~n⁴ and would
    * overflow any fixed width — the spearman den2 discipline). */
  def kendallTauB(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val cells = df
      .select(col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("c"))
      .localCheckpoint() // domain-bounded; pair join + tie tables reuse it
    val pairs = cells.select(col("x").as("x1"), col("y").as("y1"),
        col("c").cast(d38).as("c1"))
      .join(broadcast(cells.select(col("x").as("x2"), col("y").as("y2"),
        col("c").cast(d38).as("c2"))), col("x1") < col("x2"))
      .agg(
        // coalesce: an all-tied axis has ZERO x1<x2 pairs and the sums
        // go null — the census says 0, and the oracle says the same
        coalesce(sum(when(col("y1") < col("y2"), col("c1") * col("c2"))
          .otherwise(lit(0).cast(d38))), lit(0).cast(d38)).as("conc"),
        coalesce(sum(when(col("y1") > col("y2"), col("c1") * col("c2"))
          .otherwise(lit(0).cast(d38))), lit(0).cast(d38)).as("disc"))
    def tieHalf(k: String) = cells
      .groupBy(col(k)).agg(sum(col("c")).as("t"))
      .agg(sum(col("t").cast(d38) * (col("t") - 1).cast(d38)).as("th"))
    val m = cells.agg(sum(col("c")).as("n"))
      .crossJoin(tieHalf("x").select(col("th").as("tx2")))
      .crossJoin(tieHalf("y").select(col("th").as("ty2")))
      .crossJoin(pairs)
    // doubled halves (n(n−1), Σt(t−1)) avoid fractional intermediates;
    // the /2 factors cancel inside the sqrt ratio
    val n2 = col("n").cast(d38) * (col("n") - 1).cast(d38)
    m.select(col("n").as("n_rows"),
      col("conc").cast("double").as("conc"),
      col("disc").cast("double").as("disc"),
      when(((n2 - col("tx2")) > 0) && ((n2 - col("ty2")) > 0),
        TimeSeries.portableRound4(
          (col("conc") - col("disc")).cast("double") * 2.0 /
            sqrt((n2 - col("tx2")).cast("double") *
              (n2 - col("ty2")).cast("double")))).as("tau_b"))
  }

  /** Kaplan–Meier survival from per-subject (lifetime, observed-death)
    * rows. Everything collapses to the lifetime-domain table (calendar-
    * bounded, never row-bounded): at-risk n_t = total − Σ_{L<t} m_L via
    * one domain window, and the survival product folds over the sorted
    * death-time array — prefix slices replay the same left-to-right
    * double sequence a recursive-CTE oracle computes, so S(t) is
    * bit-identical. Censored subjects stay at risk through their
    * lifetime and contribute no drop (the standard KM convention). */
  def kaplanMeier(subjects: DataFrame, tCol: String,
                  deadCol: String): DataFrame = {
    val lif = subjects
      .select(col(tCol).cast("long").as("t"), col(deadCol).as("dead"))
      .groupBy(col("t")).agg(count(lit(1)).as("m"),
        sum(when(col("dead"), 1L).otherwise(0L)).as("d"))
      .localCheckpoint() // domain-bounded; total + window reuse it
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("t"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    lif
      .crossJoin(broadcast(lif.agg(sum(col("m")).as("n"))))
      .withColumn("n_risk", col("n") - coalesce(sum(col("m")).over(w), lit(0L)))
      .where(col("d") > 0)
      .agg(sort_array(collect_list(
        struct(col("t"), col("d"), col("n_risk")))).as("steps"))
      .select(posexplode(col("steps")).as(Seq("i", "st")), col("steps"))
      .select(col("st.t").as("t_day"), col("st.d").as("d"),
        col("st.n_risk").as("n_risk"),
        TimeSeries.portableRound4(
          aggregate(slice(col("steps"), lit(1), col("i") + 1), lit(1.0),
            (acc, x) => acc * (lit(1.0) -
              x.getField("d").cast("double") /
                x.getField("n_risk").cast("double")))).as("survival"))
  }

  /** One-way ANOVA F from per-group moments, optionally per extra key
    * columns (e.g. a streaming window). All moments exact; the one
    * non-rational term A = Σᵢ Sᵢ²/nᵢ folds over the k-bounded group
    * array in sorted grp order, so every engine (and the streaming
    * twin) adds the same doubles in the same sequence. Output keeps
    * `keyCols` plus n, k, f (f null when ssw = 0 or the dfs are
    * degenerate). */
  def fFromGroupMoments(g: DataFrame, keyCols: Seq[String]): DataFrame = {
    val grouped =
      if (keyCols.isEmpty) g.groupBy()
      else g.groupBy(keyCols.map(col): _*)
    val t = grouped.agg(
      sum(col("ni")).as("n"), sum(col("si")).cast(d38).as("s"),
      sum(col("qi")).as("q"), count(lit(1)).as("k"),
      sort_array(collect_list(struct(col("grp"), col("si"), col("ni"))))
        .as("terms"))
    val aFold = aggregate(col("terms"), lit(0.0), (acc, e) =>
      acc + e.getField("si").cast("double") * e.getField("si").cast("double") /
        e.getField("ni").cast("double"))
    val sd = col("s").cast("double")
    t.withColumn("a", aFold)
      .withColumn("ssb", col("a") - sd * sd / col("n").cast("double"))
      .withColumn("ssw", col("q").cast("double") - col("a"))
      .withColumn("f",
        when(col("ssw") > 0 && col("k") > 1 && col("n") > col("k"),
          TimeSeries.portableRound4(
            col("ssb") * (col("n") - col("k")).cast("double") /
              (col("ssw") * (col("k") - 1).cast("double")))))
      .drop("terms", "a", "s", "q", "ssb", "ssw")
  }

  /** Poisson(1) cumulative distribution through k = 6 — the literal
    * table both engines replay for the bootstrap weight draw (computed
    * ONCE here; injecting the values keeps every libm exp/factorial out
    * of the per-row path and out of cross-engine drift). P(w > 6) ≈
    * 8·10⁻⁵ per draw; the CASE tail assigns those the weight 7. */
  val PoissonCum: Array[Double] = {
    val probs = (0 to 6).map(k => math.exp(-1.0) / (1 to k).product)
    probs.scanLeft(0.0)(_ + _).tail.toArray
  }

  /** Poisson bootstrap CI for each group's mean — THE distributed
    * bootstrap (each row enters replicate i with multiplicity
    * Poisson(1), so no replicate ever needs a global resample pass):
    * every row draws `b` weights from its OWN hash (deterministic,
    * layout-blind, reproducible on any engine), replicate means fold as
    * exact cents sums, and the CI is read off the ranked replicate
    * means at the ceil(α·m) indexes. Identically-keyed duplicate rows
    * share their draws — the one documented bias, negligible unless the
    * corpus is mostly verbatim repeats (which dedup handles first).
    *
    * Scale: the ×b fan-out happens map-side and collapses immediately
    * into the (group, i) hash-agg with map-side partials — the shuffle
    * carries |groups|·b partial rows, never b copies of the data. The
    * ranking runs on |groups|·b replicate means. */
  def poissonBootstrapCI(df: DataFrame, groupCol: String, valueCol: String,
                         rowKey: Column, b: Int = 40): DataFrame = {
    val x = cents(col(valueCol))
    // one md5 = 128 bits = FOUR independent 32-bit draws: replicate i
    // reads hex slot i%4 of md5(rk|i/4) — 4× fewer digests than a
    // per-replicate hash, same determinism, same oracle replay. The
    // whole per-row draw vector comes from ONE native call
    // ([[graft.functions.PoissonDrawWeights]] — bit-identical to the
    // md5/conv/substr expression chain it replaced, which re-evaluated
    // a digest per 4-draw block plus a parse chain per draw through two
    // explode fan-outs; 2.5 → 1.3 s at sf0.1).
    // ONE scan serves the replicate pass and the point estimate: the
    // two branches used to prune different columns below the scan,
    // re-running the serial single-file scan twice (822 ms of the
    // query's warm time at sf0.1 was the duplicate scan+exchange). The
    // checkpoint materializes the shared projection once, draws
    // included, so the draw kernel runs in the read's own plan (where
    // the scan fan-out rule spreads it); both aggregates read its blocks.
    val base = df
      .select(col(groupCol).as("grp"), x.as("x"),
        graft.functions.PoissonDrawWeights(rowKey.cast("string"), b).as("ws"))
      .localCheckpoint()
    val reps = base
      .select(col("grp"), col("x"), posexplode(col("ws")).as(Seq("i", "w")))
      .groupBy(col("grp"), col("i"))
      .agg(sum(col("w").cast("long") * col("x")).as("swx"),
        sum(col("w").cast("long")).as("sw"))
      .where(col("sw") > 0)
      .withColumn("mean_c", col("swx").cast("double") / col("sw").cast("double"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("mean_c").asc, col("i").asc)
    val ranked = reps
      .withColumn("rk", row_number().over(wOrd))
      .withColumn("m", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))))
      .withColumn("lo_idx", ceil(col("m") * 0.025).cast("int"))
      .withColumn("hi_idx", ceil(col("m") * 0.975).cast("int"))
      .groupBy(col("grp"))
      .agg(max(when(col("rk") === greatest(col("lo_idx"), lit(1)),
          col("mean_c"))).as("lo_c"),
        max(when(col("rk") === col("hi_idx"), col("mean_c"))).as("hi_c"))
    val point = base.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    point.join(ranked, "grp")
      .select(col("grp").as(groupCol), col("n"),
        TimeSeries.portableRound6(
          col("sx").cast("double") / col("n").cast("double") / 100.0).as("mean"),
        TimeSeries.portableRound6(col("lo_c") / 100.0).as("lo"),
        TimeSeries.portableRound6(col("hi_c") / 100.0).as("hi"))
  }

  /** CUPED variance-reduced A/B means (Deng et al., WSDM'13): each
    * user's post-period metric Y is adjusted by their own PRE-period
    * metric X — Y' = Y − θ(X − X̄) with θ = cov(X,Y)/var(X) pooled
    * across arms — which removes the between-user variance the
    * experiment can't control and leaves the treatment effect intact
    * (E[Y'] = E[Y] because X predates assignment). Reported per
    * variant: raw and adjusted means, plus the pooled θ and the
    * variance-reduction fraction ρ² = cov²/(var(X)·var(Y)).
    *
    * Exactness: per-user X/Y are cents sums; pooled n/Σx/Σy and the
    * DECIMAL(38,0) cross-moments are exact, so θ's numerator and
    * denominator are exact integers — floats appear only in the final
    * divisions/products, in the same order in both engines.
    *
    * Scale: ONE user_id shuffle builds the per-user table, and ONE
    * hash-agg over it produces per-variant moments; the POOLED moments
    * are the sum of the |variants| rows (exact integer arithmetic —
    * identical to aggregating users directly), so the per-user table
    * is consumed once and the raw corpus scanned once (plan-guarded).
    * The (variant × 1-row moments) join is a broadcast crossJoin.
    * Variant = pmod(user_id, 2) — the deterministic assignment
    * stat_ttest uses. */
  def cupedMeans(df: DataFrame, userCol: String, valueCol: String,
                 tsCol: String, cutoff: String): DataFrame = {
    val x = cents(col(valueCol))
    val cut = lit(cutoff).cast("timestamp")
    val per = df
      .groupBy(col(userCol).as("u"))
      .agg(sum(when(col(tsCol) < cut, x).otherwise(0L)).as("xu"),
        sum(when(col(tsCol) >= cut, x).otherwise(0L)).as("yu"))
      .withColumn("variant", pmod(col("u"), lit(2)).cast("int"))
    val xd = col("xu").cast(d38); val yd = col("yu").cast(d38)
    val vm = per.groupBy(col("variant"))
      .agg(count(lit(1)).as("nv"),
        sum(col("xu")).as("sxv"), sum(col("yu")).as("syv"),
        sum(xd * xd).as("sxxv"), sum(xd * yd).as("sxyv"),
        sum(yd * yd).as("syyv"))
      .localCheckpoint() // |variants| rows; pooled + per-variant reuse it
    val m = vm.agg(sum(col("nv")).as("n"),
      sum(col("sxv")).as("sx"), sum(col("syv")).as("sy"),
      sum(col("sxxv")).as("sxx"), sum(col("sxyv")).as("sxy"),
      sum(col("syyv")).as("syy"))
    val nD = col("n").cast(d38)
    val num = (nD * col("sxy") - col("sx").cast(d38) * col("sy").cast(d38))
      .cast("double")
    val denX = (nD * col("sxx") - col("sx").cast(d38) * col("sx").cast(d38))
      .cast("double")
    val denY = (nD * col("syy") - col("sy").cast(d38) * col("sy").cast(d38))
      .cast("double")
    val v = vm.select(col("variant"), col("nv"), col("sxv"), col("syv"))
    val theta = num / denX
    val meanX = col("sx").cast("double") / col("n").cast("double")
    v.crossJoin(broadcast(m))
      .select(col("variant"), col("nv").as("n_users"),
        cupedRawMean(col("syv"), col("nv")).as("mean_raw"),
        cupedAdjustedMean(col("syv"), col("sxv"), col("nv"), theta, meanX)
          .as("mean_cuped"),
        TimeSeries.portableRound6(theta).as("theta"),
        TimeSeries.portableRound6(num / denX * num / denY)
          .as("var_reduction"))
  }

  /** (z₀.₀₂₅ + z₀.₂₀)² for the standard two-sided α=0.05 / power-0.8
    * sizing formula, quantized to picos so both engines can rebuild the
    * IDENTICAL double from an integer literal (a bare double literal
    * parses through a decimal intermediate in some engines — one ulp
    * off; integer ÷ 10¹² is one IEEE division, bit-exact everywhere). */
  val PowerZsum2Pico: Long = {
    val z = 1.9599639845400545 + 0.8416212335729143
    math.round(z * z * 1e12)
  }
  val PowerZsum2: Double = PowerZsum2Pico / 1.0e12

  /** Quantile treatment effect: exact type-1 quantiles (p25/p50/p75) of
    * `valueCol` per arm, differenced — the distributional effect read.
    * Quantile = the value at rank ⌈q·n⌉ of the COLLAPSED value-domain
    * table (the agg_median_exact discipline: a (variant, value) count
    * table bounds the window work by the value domain, never the row
    * count; ranks in exact integer arithmetic, so no engine
    * interpolation rule is ever consulted). Output: one row per
    * quantile with both arms' values and the difference, in currency. */
  def quantileTreatmentEffect(df: DataFrame, variantCol: Column,
                              valueCol: String): DataFrame = {
    val x = cents(col(valueCol))
    val grp = df.select(variantCol.as("v"), x.as("x"))
      .groupBy(col("v"), col("x")).agg(count(lit(1)).as("c"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("v")).orderBy(col("x"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("v"))
    val cum = grp.withColumn("cum", sum(col("c")).over(wOrd))
      .withColumn("n", sum(col("c")).over(wAll))
    // ⌈q·n⌉ in exact integers: ⌈n/4⌉=(n+3)/4, ⌈n/2⌉=(n+1)/2, ⌈3n/4⌉=(3n+3)/4
    def pick(rank: Column) =
      min(when(col("cum") >= rank && col("cum") - col("c") < rank, col("x")))
    val perArm = cum.groupBy(col("v"))
      .agg(pick(floor((col("n") + 3) / 4)).as("q25c"),
        pick(floor((col("n") + 1) / 2)).as("q50c"),
        pick(floor((col("n") * 3 + 3) / 4)).as("q75c"))
      .localCheckpoint() // |arms| rows; both single-arm selects reuse it
    val a0 = perArm.where(col("v") === 0)
      .select(col("q25c").as("q25_0"), col("q50c").as("q50_0"),
        col("q75c").as("q75_0"))
    val a1 = perArm.where(col("v") === 1)
      .select(col("q25c").as("q25_1"), col("q50c").as("q50_1"),
        col("q75c").as("q75_1"))
    def cur(c: Column) = c.cast("double") / 100.0
    a0.crossJoin(broadcast(a1))
      .select(explode(array(
        struct(lit("p25").as("quantile"), cur(col("q25_0")).as("arm0"),
          cur(col("q25_1")).as("arm1"),
          cur(col("q25_1") - col("q25_0")).as("qte")),
        struct(lit("p50").as("quantile"), cur(col("q50_0")).as("arm0"),
          cur(col("q50_1")).as("arm1"),
          cur(col("q50_1") - col("q50_0")).as("qte")),
        struct(lit("p75").as("quantile"), cur(col("q75_0")).as("arm0"),
          cur(col("q75_1")).as("arm1"),
          cur(col("q75_1") - col("q75_0")).as("qte")))).as("r"))
      .select(col("r.quantile"), col("r.arm0"), col("r.arm1"), col("r.qte"))
  }

  /** The CUPED report expressions, shared by [[cupedMeans]] and the
    * streaming twin (stream ≡ batch is one formula, not two): cents
    * sums → currency means, with the adjustment θ(X̄ᵥ − X̄) applied
    * before the 100× descale. */
  def cupedRawMean(syv: Column, nv: Column): Column =
    TimeSeries.portableRound6(
      syv.cast("double") / nv.cast("double") / 100.0)

  def cupedAdjustedMean(syv: Column, sxv: Column, nv: Column,
                        theta: Column, meanXCents: Column): Column =
    TimeSeries.portableRound6(
      (syv.cast("double") / nv.cast("double") -
        theta * (sxv.cast("double") / nv.cast("double") - meanXCents))
        / 100.0)

  /** Wald SPRT over a Bernoulli trial stream (the sequential A/B
    * decision): trials arrive in (orderCol) order, LLRₙ = s·ln(p1/p0) +
    * (n−s)·ln((1−p1)/(1−p0)), and the test stops at the FIRST n where
    * LLR ≥ ln((1−β)/α) (accept H1) or ≤ ln(β/(1−α)) (accept H0). The
    * four log constants are quantized to integer µ-nats by
    * [[sprtMicroNats]] and injected into both engines, so the running
    * LLR and the boundary compares are exact BIGINT arithmetic; the
    * only float is the final µ-nat → nat report division.
    *
    * Scale: a sequential test is a per-ARM ordered fold by definition,
    * and arms are bounded by experiment design (2 here) — but the SCAN
    * is bounded by `horizon`, not the corpus: only the first `horizon`
    * trials per arm (by order) enter the cumulative window, because a
    * test still undecided at its design horizon reports `continue`
    * rather than reading on. Output per variant: decision,
    * n/s/LLR at the stopping (or horizon) row. */
  /** The four log constants, quantized ONCE to integer µ-nats
    * (round(ln·10⁶)) so LLR is an exact BIGINT linear map of (n, s) and
    * the boundary compares are integer — no float exists anywhere a
    * last-ulp literal-parse difference could flip a decision. The
    * quantization shifts each threshold by < 10⁻⁶ nat (documented,
    * immaterial at any real α/β). */
  def sprtMicroNats(p0: Double, p1: Double, alpha: Double,
                    beta: Double): (Long, Long, Long, Long) = (
    math.round(math.log(p1 / p0) * 1e6),
    math.round(math.log((1 - p1) / (1 - p0)) * 1e6),
    math.round(math.log((1 - beta) / alpha) * 1e6),
    math.round(math.log(beta / (1 - alpha)) * 1e6))

  def sprtDecision(trials: DataFrame, variantCol: Column,
                   successCol: Column, orderCol: Seq[Column],
                   p0: Double, p1: Double,
                   alpha: Double = 0.05, beta: Double = 0.20,
                   horizon: Int = 100000): DataFrame = {
    require(p0 > 0 && p1 > 0 && p0 < 1 && p1 < 1 && p0 != p1)
    val (l1, l0, upper, lower) = sprtMicroNats(p0, p1, alpha, beta)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("variant")).orderBy(orderCol: _*)
    val cum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("variant")).orderBy(orderCol: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val base = trials
      .select(variantCol.as("variant") +:
        successCol.cast("int").cast("long").as("succ") +: orderCol: _*)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= horizon)
      .withColumn("s", sum(col("succ")).over(cum))
      .withColumn("llr_u", col("s") * lit(l1) + (col("rn") - col("s")) * lit(l0))
      .withColumn("hit",
        when(col("llr_u") >= lit(upper), "accept_h1")
          .when(col("llr_u") <= lit(lower), "accept_h0"))
    val firstHit = base.where(col("hit").isNotNull)
      .groupBy(col("variant")).agg(min(col("rn")).as("stop_rn"))
    val last = base.groupBy(col("variant")).agg(max(col("rn")).as("last_rn"))
    base
      .join(last, Seq("variant"))
      .join(firstHit, Seq("variant"), "left")
      .where(col("rn") === coalesce(col("stop_rn"), col("last_rn")))
      .select(col("variant"), col("rn").as("n_trials"), col("s").as("n_succ"),
        (col("llr_u").cast("double") / 1000000.0).as("llr"),
        coalesce(col("hit"), lit("continue")).as("decision"))
  }
}
