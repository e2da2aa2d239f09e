package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.ops.Tables

/** Aggregate-function surface (SURVEY §2.5 "canonical aggregate functions"
  * + §2.9 rollup/cube/approx-distinct). The reference ships no built-in
  * aggregates (all UDF-provided); our engine exposes Spark's aggregate
  * library, partial+final hash aggregation included. */
object AggQueries extends QueryPack {

  private def dec(c: String) = col(c).cast(DecimalType(18, 2))

  val queries: Map[String, Q] = Map(

    // per-key skew diagnostics: the 20 hottest supplier keys with count,
    // share, cumulative share — the report that decides whether a join
    // needs salting before it runs at 100 TB. One map-side-partial agg +
    // TakeOrdered topN; the ranking window is bounded by topN.
    "diag_skew" -> { (s, dir) =>
      graft.ops.Scale.skewReport(Tables.lineitem(s, dir),
        Seq("l_suppkey"), topN = 20)
    },

    // count/min/max/sum/count-distinct in one pass.
    "agg_stats" -> { (s, dir) =>
      Tables.lineitem(s, dir).groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"),
          sum(col("l_quantity")).as("sum_qty"),
          countDistinct(col("l_partkey")).as("n_parts"))
    },

    // avg computed as exact decimal sum / count (bit-stable, see pack doc).
    "agg_avg" -> { (s, dir) =>
      Tables.lineitem(s, dir).groupBy(col("l_linestatus"))
        .agg((sum(dec("l_extendedprice")).cast("double") / count(lit(1)))
          .as("avg_price"))
    },

    // hierarchical rollup (nation would be the real axis; flags stand in).
    "agg_rollup" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(dec("l_extendedprice")).cast("double").as("sum_price"))
    },

    // full cube over the two flags.
    "agg_cube" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
    },

    // min_by/max_by (deterministic first/last analog).
    "agg_minby" -> { (s, dir) =>
      Tables.events(s, dir).groupBy(col("user_id"))
        .agg(
          min_by(col("event_type"), col("ts")).as("first_type"),
          max_by(col("event_type"), col("ts")).as("last_type"))
    },

    // deterministic per-group mode (most frequent value, ties to the
    // SMALLEST value — engine mode() tie behavior is unspecified, so
    // the argmax is spelled out): two hash-aggs, the second over the
    // value-domain table; the tie rule rides a (count, −value) struct
    // max whose partial agg collapses map-side — never a rank window.
    "agg_mode" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_quantity").cast("long").as("q"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("l_returnflag"))
        .agg(max(struct(col("c"), (-col("q")).as("nq"))).as("m"))
        .select(col("l_returnflag"), (-col("m.nq")).as("mode_qty"),
          col("m.c").as("n_mode"))
    },

    // collect_set, canonicalized by sorting then serialized to a csv
    // scalar (the driver's compare cannot sort/hash array columns).
    "agg_collect" -> { (s, dir) =>
      Tables.events(s, dir).groupBy(col("user_id"))
        .agg(concat_ws(",", sort_array(collect_set(col("event_type")))).as("types"))
    },

    // exact interpolated percentiles (rounded: the linear interpolation
    // arithmetic differs from DuckDB's in the last ulp). One percentile()
    // call with an ARRAY of quantiles: exact percentile is a
    // TypedImperativeAggregate holding every (value, count) in its buffer
    // — two separate calls would build and serialize that buffer twice
    // (measured ~1.9x slower at sf0.1).
    "agg_percentile" -> { (s, dir) =>
      Tables.lineitem(s, dir).groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, array(0.5D, 0.9D))").as("ps"))
        .select(col("l_returnflag"),
          round(element_at(col("ps"), 1), 4).as("p50"),
          round(element_at(col("ps"), 2), 4).as("p90"))
    },

    // EXACT distributed median (both middles, no interpolation rule to
    // disagree on): collapse to the per-group VALUE-DOMAIN table first
    // (cents × flag is dictionary-bounded at any corpus size — the
    // stat_mwu discipline), then one domain-bounded cumulative window
    // picks the middle ranks. Beside agg_percentile's engine buffer:
    // this is the hash-exact form, and the window never sees raw rows.
    "agg_median_exact" -> { (s, dir) =>
      val cents = (col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
      val grp = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("g"), cents.as("x"))
        .groupBy(col("g"), col("x")).agg(count(lit(1)).as("c"))
      val wOrd = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("x"))
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
      val cum = grp.withColumn("cum", sum(col("c")).over(wOrd))
        .withColumn("n", sum(col("c")).over(wAll))
      val lo = floor((col("n") + 1) / 2)
      val hi = floor(col("n") / 2) + 1
      cum.groupBy(col("g").as("l_returnflag"))
        .agg(max(col("n")).as("n"),
          min(when(col("cum") >= lo && col("cum") - col("c") < lo, col("x")))
            .as("med_lo_cents"),
          min(when(col("cum") >= hi && col("cum") - col("c") < hi, col("x")))
            .as("med_hi_cents"))
        .withColumn("median_cents",
          (col("med_lo_cents") + col("med_hi_cents")).cast("double") / 2.0)
    },

    // pivot (wide aggregation): Catalyst rewrites the explicit-value
    // pivot into ONE grouped pass with filtered partial aggregates — no
    // per-column scans; revenue stays decimal until the final cast.
    "agg_pivot" -> { (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(year(col("o_orderdate")).cast("long").as("yr"))
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(sum(dec("o_totalprice")))
        .select(col("yr"),
          col("O").cast("double").as("rev_o"),
          col("F").cast("double").as("rev_f"),
          col("P").cast("double").as("rev_p"))
    },

    // explicit GROUPING SETS through the engine's SQL surface (rollup and
    // cube are the derived forms; this is the general one).
    "agg_gsets" -> { (s, dir) =>
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_gs")
      s.sql("""SELECT l_returnflag, l_linestatus,
               |  count(*) AS n, sum(l_quantity) AS sum_qty
               |FROM lineitem_gs
               |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
               |""".stripMargin)
    },

    // NOTE: the native approx_count_distinct (HLL++) query lives in
    // AggSketchSpec as a spec-only error-bound test — its sketch constants
    // are Spark-internal, so no engine-portable oracle exists, and keeping
    // it in `queries` would forever pin CORRECTNESS below 100%. Its two
    // portable twins below (agg_kmv, agg_hll_md5) hash-check their
    // approximate estimates end to end.

    // KMV distinct sketch (custom TypedImperativeAggregate): md5-hashed,
    // so — unlike HLL — the approximate estimate itself is engine-
    // portable and fully hash-checked against the oracle.
    "agg_kmv" -> { (s, dir) =>
      Tables.events(s, dir).groupBy(col("event_type"))
        .agg(graft.functions.KmvDistinct.onMd5(col("user_id"), 128)
            .as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
    },

    // MERGEABILITY certificate for the KMV sketch — the pattern that
    // makes 100 TB distinct counting incremental: daily bottom-128
    // sketches (what a sketch table would store) merge per type and the
    // merged estimate EQUALS the direct single-pass estimate, because
    // bottom-k of a union of bottom-ks is the union's bottom-k. Both
    // columns hash-check; their equality is the theorem, certified on
    // real data.
    "agg_kmv_rollup" -> { (s, dir) =>
      import graft.ops.Sketches
      val ev = Tables.events(s, dir)
        .select(col("event_type"), to_date(col("ts")).as("day"),
          Sketches.kmvHash(col("user_id")).as("hv"))
      val daily = Sketches.kmvSketchTable(ev,
        Seq("event_type", "day"), "hv", 128)
      val merged = Sketches.kmvSketchTable(
          daily.select(col("event_type"), explode(col("sketch")).as("hv")),
          Seq("event_type"), "hv", 128)
        .select(col("event_type"),
          Sketches.kmvEstimate(col("sketch"), 128).as("est_merged"))
      val direct = Sketches.kmvSketchTable(ev.select("event_type", "hv"),
          Seq("event_type"), "hv", 128)
        .select(col("event_type"),
          Sketches.kmvEstimate(col("sketch"), 128).as("est_direct"))
      merged.join(direct, "event_type")
    },

    // bounded-state quantiles: per-type p50/p95/p99 of the value column
    // from a 5-dollar equi-width histogram — error is one bin width,
    // aggregation state is |bins| per group where percentile() holds the
    // full value map (the agg_kmv_rollup tradeoff, for quantiles — and
    // the deterministic alternative to t-digest, whose merge order makes
    // results run-dependent). The (type, bin) histogram is the mergeable
    // sketch table; the quantile inversion compares cum·10⁶ ≥ n·q₆ in
    // exact integers, so no float rank exists in either engine.
    "agg_quantile_binned" -> { (s, dir) =>
      import graft.ops.Sketches
      val ev = Tables.events(s, dir).select(col("event_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      Sketches.binnedQuantiles(ev, Seq("event_type"), col("cents"),
        binWidth = 500L, qs = Seq(0.5, 0.95, 0.99))
    },

    // MERGEABILITY certificate for the binned-quantile sketch — the
    // agg_kmv_rollup pattern for percentiles: daily (type, bin) count
    // tables (what a sketch table stores) merge by ADDITION per type,
    // and the quantiles inverted from the merged histogram EQUAL the
    // direct single-pass answer — exactly because the histogram is a
    // counts vector and addition is associative, which is the property
    // t-digest/KLL trade away. Both columns hash-check; their equality
    // is the theorem, certified on real data.
    "agg_quantile_rollup" -> { (s, dir) =>
      import graft.ops.Sketches
      val ev = Tables.events(s, dir).select(col("event_type"),
        to_date(col("ts")).as("day"),
        floor((col("value").cast("decimal(18,2)") * 100).cast("long") / 500)
          .cast("long").as("bin"))
      val daily = ev.groupBy("event_type", "day", "bin")
        .agg(count(lit(1)).as("c"))
      val merged = daily.groupBy("event_type", "bin")
        .agg(sum(col("c")).as("c"))
        .groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("bin"), col("c"))))
          .as("hist"))
        .withColumn("n",
          aggregate(col("hist"), lit(0L), (a, h) => a + h.getField("c")))
        .select(col("event_type"),
          Sketches.histQuantile(col("hist"), col("n"), 500L, 0.95)
            .as("q95_merged"))
      val direct = Sketches.binnedQuantiles(
          Tables.events(s, dir).select(col("event_type"),
            (col("value").cast("decimal(18,2)") * 100).cast("long")
              .as("cents")),
          Seq("event_type"), col("cents"), binWidth = 500L, qs = Seq(0.95))
        .select(col("event_type"), col("q95").as("q95_direct"))
      merged.join(direct, "event_type")
    },

    // exact Pearson correlation (items per order vs order value in
    // integer cents): all five moments accumulate as DECIMAL(38,0)
    // exact integers — order-free, engine-portable — and the only float
    // ops are the final casts, two correctly-rounded sqrts, and one
    // division. The covariance/correlation primitive done the
    // hash-checkable way.
    "stat_corr" -> { (s, dir) =>
      val per = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("x"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"),
          (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("decimal(38,0)").as("y")),
          col("l_orderkey") === col("o_orderkey"))
      val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val m = per.agg(count(lit(1)).as("n"),
        sum(d38(col("x"))).as("sx"), sum(col("y")).as("sy"),
        sum(d38(col("x")) * col("y")).as("sxy"),
        sum(d38(col("x")) * d38(col("x"))).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      val n = d38(col("n"))
      m.select(col("n"),
        graft.ops.TimeSeries.portableRound6(
          (n * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt((n * col("sxx") - col("sx") * col("sx")).cast("double")) *
              sqrt((n * col("syy") - col("sy") * col("sy")).cast("double"))))
          .as("corr"))
    },

    // OLS fit from the same exact moments: slope/intercept of order
    // value (cents) on items per order — the regression primitive,
    // integer-exact until three float ops.
    "stat_ols" -> { (s, dir) =>
      val per = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("x"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"),
          (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("decimal(38,0)").as("y")),
          col("l_orderkey") === col("o_orderkey"))
      val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val m = per.agg(count(lit(1)).as("n"),
        sum(d38(col("x"))).as("sx"), sum(col("y")).as("sy"),
        sum(d38(col("x")) * col("y")).as("sxy"),
        sum(d38(col("x")) * d38(col("x"))).as("sxx"))
      val n = d38(col("n"))
      val r6 = graft.ops.TimeSeries.portableRound6 _
      val slope = (n * col("sxy") - col("sx") * col("sy")).cast("double") /
        (n * col("sxx") - col("sx") * col("sx")).cast("double")
      m.select(col("n"), r6(slope).as("slope_cents_per_item"),
        r6((col("sy").cast("double") - slope * col("sx").cast("double")) /
          col("n").cast("double")).as("intercept_cents"))
    },

    // third mergeability certificate: CMS sketches merge by CELL-WISE
    // SUM (counts are additive), so a fixed probe set estimated from
    // the day-merged sketch equals the direct sketch's estimates.
    "agg_cms_rollup" -> { (s, dir) =>
      import graft.ops.Sketches
      val ev = Tables.events(s, dir)
        .select(to_date(col("ts")).as("day"), col("user_id"))
      val dailySketch = ev
        .select(col("day"), posexplode(array((0 until Sketches.CmsDepth)
          .map(r => Sketches.cmsCell(r, col("user_id"))): _*)).as(Seq("r", "c")))
        .groupBy("day", "r", "c").agg(count(lit(1)).as("cnt"))
      val merged = dailySketch.groupBy("r", "c").agg(sum("cnt").as("cnt"))
      val direct = Sketches.cmsSketch(ev, col("user_id"))
      val items = Tables.events(s, dir).select(col("user_id").as("item"))
        .where(col("item") < 20).distinct()
      Sketches.cmsEstimate(items, merged)
        .withColumnRenamed("est", "est_merged")
        .join(Sketches.cmsEstimate(items, direct)
          .withColumnRenamed("est", "est_direct"), "item")
    },

    // HLL twin of the KMV rollup certificate: daily REGISTER tables
    // merge by element-wise max (associative), so the merged estimate
    // EQUALS the direct one — the register-table rollup every
    // pre-aggregated distinct-count dashboard runs on.
    "agg_hll_rollup" -> { (s, dir) =>
      import graft.ops.Sketches
      val ev = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
      val daily = Sketches.hllRegisters(ev, Seq("event_type", "day"),
        col("user_id"))
      val merged = Sketches.hllEstimateFromRegisters(
          daily.groupBy(col("event_type"), col("bucket"))
            .agg(max(col("mj")).as("mj")),
          Seq("event_type"), "est_merged")
        .select("event_type", "est_merged")
      val direct = Sketches.hllMd5(Tables.events(s, dir), Seq("event_type"),
          col("user_id"), "est_direct")
        .select("event_type", "est_direct")
      merged.join(direct, "event_type")
    },

    // Engine-portable HyperLogLog (graft.ops.Sketches.hllMd5),
    // hash-checked end to end — the deterministic twin of agg_hll's
    // native sketch: the DuckDB oracle replays the identical injected
    // constants (Sketches.HllNumerator / HllLnTable), so the approximate
    // estimate itself hashes equal.
    "agg_hll_md5" -> { (s, dir) =>
      graft.ops.Sketches.hllMd5(Tables.events(s, dir),
        Seq("event_type"), col("user_id"))
    },

    // Count–Min heavy hitters over the corpus vocabulary, the canonical
    // two-pass shape: a 4×1024-cell sketch (one hash-agg, map-side
    // combined, broadcast back) bounds pass-1 memory no matter the
    // vocabulary size; candidates whose ESTIMATE clears 0.2% of total
    // tokens get an exact verify. One-sided error ⇒ no true heavy
    // hitter is pruned, and est ≥ exact on every output row.
    "agg_cms_hh" -> { (s, dir) =>
      import graft.ops.Sketches
      // total derived from the exact counts (Σ exact == count of all
      // tokens) instead of a third explode pass over the corpus.
      val toks = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("item"))
      val sketch = Sketches.cmsSketch(toks, col("item"))
      val exact = toks.groupBy("item").agg(count(lit(1)).as("exact"))
      val est = Sketches.cmsEstimate(exact.select("item"), sketch)
      val tot = exact.agg(sum(col("exact")).as("total"))
      est.join(exact, "item").crossJoin(broadcast(tot))
        .filter(col("est") * 500 >= col("total"))
        .select(col("item"), col("est"), col("exact"))
    },

    // Incremental view maintenance: the per-customer order aggregate is
    // maintained from a CDC delta (inserts %10==0∧%7≠0, deletes
    // %10≠0∧%7==0 — i.e. old snapshot keyed %10, new keyed %7) and must
    // equal a from-scratch recompute over the new snapshot, which is
    // exactly what the oracle computes. The base view is never shuffled:
    // untouched keys pass through a broadcast anti join.
    "view_ivm" -> { (s, dir) =>
      import graft.ops.Materialize
      val orders = Tables.orders(s, dir)
      val meas = Seq("sum_price" -> col("o_totalprice").cast("decimal(18,2)"))
      val old = orders.where(col("o_orderkey") % 10 =!= 0)
      val base = Materialize.aggTable(old, Seq("o_custkey"), meas)
      val delta = orders
        .where(col("o_orderkey") % 10 === 0 && col("o_orderkey") % 7 =!= 0)
        .withColumn("op", lit("I"))
        .unionByName(orders
          .where(col("o_orderkey") % 10 =!= 0 && col("o_orderkey") % 7 === 0)
          .withColumn("op", lit("D")))
      Materialize.applyDelta(base, delta, Seq("o_custkey"), "op", meas)
        .select(col("o_custkey"), col("n"),
          col("sum_price").cast("double").as("sum_price"))
    },

    // audience overlap from bottom-k signatures alone: viewers ∩
    // purchasers estimated from two 128-hash KMV sketches (the union's
    // bottom-k is a uniform union sample) — the sketches travel, the
    // distinct sets never join. Exact count alongside.
    "agg_kmv_overlap" -> { (s, dir) =>
      import graft.ops.Sketches
      val ev = Tables.events(s, dir)
      def users(t: String) =
        ev.where(col("event_type") === t).select(col("user_id"))
      val a = Sketches.kmvSig(users("view"), col("user_id"), 128)
      val b = Sketches.kmvSig(users("purchase"), col("user_id"), 128)
      val exact = users("view").distinct()
        .join(users("purchase").distinct(), "user_id")
        .agg(count(lit(1)).as("exact_intersection"))
      Sketches.kmvOverlap(a, b, 128).crossJoin(exact)
    },

    // join-size estimation from sketches alone (the planner's
    // cardinality question): CMS inner product upper-bounds
    // |orders ⋈ customer| without re-scanning either table; the exact
    // count sits alongside so the one-sided bound is visible.
    "agg_cms_joinsize" -> { (s, dir) =>
      import graft.ops.Sketches
      val o = Sketches.cmsSketch(Tables.orders(s, dir), col("o_custkey"))
      val c = Sketches.cmsSketch(Tables.customer(s, dir), col("c_custkey"))
      val exact = Tables.orders(s, dir)
        .join(Tables.customer(s, dir),
          col("o_custkey") === col("c_custkey"))
        .agg(count(lit(1)).as("exact_join_size"))
      Sketches.cmsJoinSize(o, c).crossJoin(exact)
    }
  )

  val oracles: Map[String, String] = Map(
    "diag_skew" ->
      """WITH c AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n
        |           FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM lineitem),
        |top AS (SELECT * FROM c ORDER BY n DESC, l_suppkey LIMIT 20)
        |SELECT l_suppkey,
        |  CAST(row_number() OVER w AS INT) AS rank, n,
        |  round(CAST(n AS DOUBLE) / total * 1000000) / 1000000 AS share,
        |  round(CAST(sum(n) OVER w AS DOUBLE) / total * 1000000) / 1000000
        |    AS cum_share
        |FROM top, t
        |WINDOW w AS (ORDER BY n DESC, l_suppkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,
    "agg_stats" ->
      """SELECT l_returnflag, count(*) AS n,
        |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
        |  sum(l_quantity) AS sum_qty,
        |  count(DISTINCT l_partkey) AS n_parts
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "agg_avg" ->
      """SELECT l_linestatus,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price
        |FROM lineitem GROUP BY l_linestatus""".stripMargin,
    // value-domain collapse then explicit middle ranks — never an
    // engine median() whose interpolation rule could differ.
    "agg_median_exact" ->
      """WITH grp AS (SELECT l_returnflag AS g,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |cum AS (SELECT g, x, c,
        |    sum(c) OVER (PARTITION BY g ORDER BY x) AS cum,
        |    sum(c) OVER (PARTITION BY g) AS n
        |  FROM grp)
        |SELECT g AS l_returnflag, CAST(max(n) AS BIGINT) AS n,
        |  min(CASE WHEN cum >= (n + 1) // 2 AND cum - c < (n + 1) // 2
        |      THEN x END) AS med_lo_cents,
        |  min(CASE WHEN cum >= n // 2 + 1 AND cum - c < n // 2 + 1
        |      THEN x END) AS med_hi_cents,
        |  CAST(min(CASE WHEN cum >= (n + 1) // 2 AND cum - c < (n + 1) // 2
        |        THEN x END)
        |     + min(CASE WHEN cum >= n // 2 + 1 AND cum - c < n // 2 + 1
        |        THEN x END) AS DOUBLE) / 2.0 AS median_cents
        |FROM cum GROUP BY g""".stripMargin,
    "agg_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "agg_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    "agg_minby" ->
      """SELECT user_id,
        |  arg_min(event_type, ts) AS first_type,
        |  arg_max(event_type, ts) AS last_type
        |FROM events GROUP BY user_id""".stripMargin,
    "agg_mode" ->
      """SELECT l_returnflag, mode_qty, n_mode FROM (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS mode_qty,
        |    CAST(count(*) AS BIGINT) AS n_mode,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY count(*) DESC, CAST(l_quantity AS BIGINT)) AS rn
        |  FROM lineitem GROUP BY 1, 2) WHERE rn = 1""".stripMargin,
    "agg_collect" ->
      """SELECT user_id, array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types
        |FROM events GROUP BY user_id""".stripMargin,
    "agg_percentile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "agg_gsets" ->
      """SELECT l_returnflag, l_linestatus,
        |  count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin,
    "agg_pivot" ->
      """SELECT year(o_orderdate) AS yr,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_o,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_f,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_p
        |FROM orders GROUP BY 1""".stripMargin,
    // the merged path re-derives from daily partials, the direct path
    // from one pass; both invert with the same exact-integer rank rule.
    "agg_quantile_rollup" ->
      """WITH b AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(floor(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      / 500) AS BIGINT) AS bin
        |  FROM events),
        |daily AS (SELECT event_type, day, bin, CAST(count(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2, 3),
        |m AS (SELECT event_type, bin, CAST(sum(c) AS BIGINT) AS c
        |  FROM daily GROUP BY 1, 2),
        |cw AS (SELECT event_type, bin, c,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY event_type) AS n
        |  FROM m),
        |mq AS (SELECT event_type,
        |    CAST(min(CASE WHEN cum * 1000000 >= n * 950000
        |      THEN bin * 500 END) AS BIGINT) AS q95_merged
        |  FROM cw GROUP BY 1),
        |cd AS (SELECT event_type, bin, CAST(count(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2),
        |cw2 AS (SELECT event_type, bin, c,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY event_type) AS n
        |  FROM cd),
        |dq AS (SELECT event_type,
        |    CAST(min(CASE WHEN cum * 1000000 >= n * 950000
        |      THEN bin * 500 END) AS BIGINT) AS q95_direct
        |  FROM cw2 GROUP BY 1)
        |SELECT event_type, q95_merged, q95_direct
        |FROM mq JOIN dq USING (event_type)""".stripMargin,
    "agg_quantile_binned" ->
      """WITH h AS (SELECT event_type,
        |    CAST(floor(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      / 500) AS BIGINT) AS bin,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |cw AS (SELECT event_type, bin, c,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY event_type) AS n
        |  FROM h)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |  CAST(min(CASE WHEN cum * 1000000 >= n * 500000
        |    THEN bin * 500 END) AS BIGINT) AS q50,
        |  CAST(min(CASE WHEN cum * 1000000 >= n * 950000
        |    THEN bin * 500 END) AS BIGINT) AS q95,
        |  CAST(min(CASE WHEN cum * 1000000 >= n * 990000
        |    THEN bin * 500 END) AS BIGINT) AS q99
        |FROM cw GROUP BY 1""".stripMargin,
    // KMV estimator over DISTINCT 32-bit md5 hashes: kth-smallest hash
    // (rank by hv, not user_id — a 32-bit collision merges in BOTH
    // engines), est = (k-1)/(kth/2^32), exact below k distinct.
    "agg_kmv_rollup" ->
      """WITH h AS (SELECT DISTINCT event_type, CAST(ts AS DATE) AS day,
        |    CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,8)) AS BIGINT) AS hv
        |  FROM events),
        |d AS (SELECT event_type, day, hv,
        |    row_number() OVER (PARTITION BY event_type, day ORDER BY hv) AS rn
        |  FROM h),
        |u AS (SELECT DISTINCT event_type, hv FROM d WHERE rn <= 128),
        |r AS (SELECT event_type, hv,
        |    row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS nd
        |  FROM u),
        |m AS (SELECT event_type,
        |    CAST(CASE WHEN max(nd) < 128 THEN max(nd)
        |      ELSE round(127.0 / (max(CASE WHEN rn = 128 THEN hv END)
        |        / 4294967296.0)) END AS BIGINT) AS est_merged
        |  FROM r GROUP BY event_type),
        |hall AS (SELECT DISTINCT event_type, hv FROM h),
        |r2 AS (SELECT event_type, hv,
        |    row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS nd
        |  FROM hall),
        |dd AS (SELECT event_type,
        |    CAST(CASE WHEN max(nd) < 128 THEN max(nd)
        |      ELSE round(127.0 / (max(CASE WHEN rn = 128 THEN hv END)
        |        / 4294967296.0)) END AS BIGINT) AS est_direct
        |  FROM r2 GROUP BY event_type)
        |SELECT m.event_type, m.est_merged, dd.est_direct
        |FROM m JOIN dd USING (event_type)""".stripMargin,
    "agg_kmv" ->
      """WITH h AS (SELECT DISTINCT event_type,
        |    CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,8)) AS BIGINT) AS hv
        |  FROM events),
        |r AS (SELECT event_type, hv,
        |    row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS nd
        |  FROM h),
        |ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_users
        |  FROM events GROUP BY event_type)
        |SELECT r.event_type,
        |  CAST(CASE WHEN max(nd) < 128 THEN max(nd)
        |    ELSE round(127.0 / (max(CASE WHEN rn = 128 THEN hv END) / 4294967296.0))
        |    END AS BIGINT) AS approx_users,
        |  CAST(max(ex.exact_users) AS BIGINT) AS exact_users
        |FROM r JOIN ex ON ex.event_type = r.event_type
        |GROUP BY r.event_type""".stripMargin,
    // HLL replay with the SAME injected constants as the Spark plan:
    // identical md5 registers, identical scaled-integer harmonic sum,
    // identical literal numerator and ln-table — estimate hashes equal.
    "stat_ols" ->
      """WITH per AS (SELECT l.x, o.y FROM
        |    (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS x
        |     FROM lineitem GROUP BY 1) l
        |  JOIN (SELECT o_orderkey,
        |      CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        |    FROM orders) o ON l.l_orderkey = o.o_orderkey),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM per)
        |SELECT n,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000) / 1000000
        |    AS slope_cents_per_item,
        |  round((CAST(sy AS DOUBLE)
        |      - (CAST(n * sxy - sx * sy AS DOUBLE)
        |         / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
        |    / CAST(n AS DOUBLE) * 1000000) / 1000000 AS intercept_cents
        |FROM m""".stripMargin,
    "agg_cms_rollup" ->
      """WITH cells AS (
        |  SELECT CAST(ts AS DATE) AS day, rr.r,
        |    CAST(('0x'||substr(md5(CAST(rr.r AS VARCHAR)||':'||CAST(user_id AS VARCHAR)),1,5)) AS BIGINT) % 1024 AS c
        |  FROM events CROSS JOIN (SELECT unnest(range(4)) AS r) rr),
        |daily AS (SELECT day, r, c, count(*) AS cnt FROM cells GROUP BY 1, 2, 3),
        |merged AS (SELECT r, c, CAST(sum(cnt) AS BIGINT) AS cnt
        |           FROM daily GROUP BY r, c),
        |direct AS (SELECT r, c, CAST(count(*) AS BIGINT) AS cnt
        |           FROM cells GROUP BY r, c),
        |items AS (SELECT DISTINCT user_id AS item FROM events WHERE user_id < 20),
        |ic AS (SELECT item, rr.r,
        |    CAST(('0x'||substr(md5(CAST(rr.r AS VARCHAR)||':'||CAST(item AS VARCHAR)),1,5)) AS BIGINT) % 1024 AS c
        |  FROM items CROSS JOIN (SELECT unnest(range(4)) AS r) rr)
        |SELECT ic.item,
        |  CAST(min(m.cnt) AS BIGINT) AS est_merged,
        |  CAST(min(d.cnt) AS BIGINT) AS est_direct
        |FROM ic JOIN merged m ON ic.r = m.r AND ic.c = m.c
        |        JOIN direct d ON ic.r = d.r AND ic.c = d.c
        |GROUP BY ic.item""".stripMargin,
    // HUGEINT sums are the engine's exact-integer twin of DECIMAL(38,0).
    "stat_corr" ->
      """WITH per AS (SELECT l.x, o.y FROM
        |    (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS x
        |     FROM lineitem GROUP BY 1) l
        |  JOIN (SELECT o_orderkey,
        |      CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        |    FROM orders) o ON l.l_orderkey = o.o_orderkey),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM per)
        |SELECT n,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |       * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
        |    * 1000000) / 1000000 AS corr
        |FROM m""".stripMargin,
    "agg_hll_rollup" -> {
      val num = graft.ops.Sketches.HllNumerator
      val tbl = graft.ops.Sketches.HllLnTableSql
      def est(src: String, alias: String) =
        s"""SELECT event_type,
           |  CASE WHEN n_empty > 0 AND $num / CAST(vscaled AS DOUBLE) <= 640.0
           |       THEN ([$tbl])[n_empty]
           |       ELSE $num / CAST(vscaled AS DOUBLE) END AS $alias
           |FROM (SELECT event_type,
           |    sum((1::BIGINT) << (52 - mj))
           |      + (256 - count(*)) * ((1::BIGINT) << 52) AS vscaled,
           |    CAST(256 - count(*) AS INT) AS n_empty
           |  FROM $src GROUP BY event_type)""".stripMargin
      s"""WITH h AS (SELECT event_type, CAST(ts AS DATE) AS day,
         |    CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,2)) AS INT) AS bucket,
         |    53 - length(bin(CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)),3,13)) AS BIGINT))) AS rank
         |  FROM events),
         |dregs AS (SELECT event_type, day, bucket, max(rank) AS mj
         |          FROM h GROUP BY 1, 2, 3),
         |mregs AS (SELECT event_type, bucket, max(mj) AS mj
         |          FROM dregs GROUP BY 1, 2),
         |diregs AS (SELECT event_type, bucket, max(rank) AS mj
         |           FROM h GROUP BY 1, 2),
         |m AS (${est("mregs", "est_merged")}),
         |d AS (${est("diregs", "est_direct")})
         |SELECT m.event_type, m.est_merged, d.est_direct
         |FROM m JOIN d USING (event_type)""".stripMargin
    },
    "agg_hll_md5" ->
      s"""WITH h AS (SELECT event_type,
         |    CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,2)) AS INT) AS bucket,
         |    53 - length(bin(CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)),3,13)) AS BIGINT))) AS rank
         |  FROM events),
         |regs AS (SELECT event_type, bucket, max(rank) AS mj FROM h GROUP BY 1, 2),
         |agg AS (SELECT event_type,
         |    sum((1::BIGINT) << (52 - mj)) + (256 - count(*)) * ((1::BIGINT) << 52) AS vscaled,
         |    CAST(256 - count(*) AS INT) AS n_empty
         |  FROM regs GROUP BY event_type)
         |SELECT event_type,
         |  CASE WHEN n_empty > 0 AND ${graft.ops.Sketches.HllNumerator} / CAST(vscaled AS DOUBLE) <= 640.0
         |       THEN ([${graft.ops.Sketches.HllLnTableSql}])[n_empty]
         |       ELSE ${graft.ops.Sketches.HllNumerator} / CAST(vscaled AS DOUBLE) END AS approx_users,
         |  n_empty
         |FROM agg""".stripMargin,
    // Literal replay of the CMS: identical md5 cell derivation (row index
    // salted into the hash input as a string), min-over-rows estimate,
    // same 1/500 threshold.
    "agg_cms_hh" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS item FROM documents),
        |cells AS (
        |  SELECT rr.r, CAST(('0x'||substr(md5(CAST(rr.r AS VARCHAR)||':'||item),1,5)) AS BIGINT) % 1024 AS c
        |  FROM toks CROSS JOIN (SELECT unnest(range(4)) AS r) rr),
        |sketch AS (SELECT r, c, count(*) AS cnt FROM cells GROUP BY r, c),
        |exact AS (SELECT item, count(*) AS exact FROM toks GROUP BY item),
        |est AS (
        |  SELECT t.item, min(s.cnt) AS est
        |  FROM (SELECT e.item, rr.r,
        |          CAST(('0x'||substr(md5(CAST(rr.r AS VARCHAR)||':'||e.item),1,5)) AS BIGINT) % 1024 AS c
        |        FROM exact e CROSS JOIN (SELECT unnest(range(4)) AS r) rr) t
        |  JOIN sketch s ON s.r = t.r AND s.c = t.c
        |  GROUP BY t.item),
        |tot AS (SELECT count(*) AS total FROM toks)
        |SELECT e.item, e.est, x.exact
        |FROM est e JOIN exact x USING (item) CROSS JOIN tot
        |WHERE e.est * 500 >= tot.total""".stripMargin,
    // The maintained view must equal the direct aggregate over the NEW
    // snapshot (old = keys %10≠0, delta moves it to %7≠0).
    "view_ivm" ->
      """SELECT o_custkey, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey % 7 <> 0
        |GROUP BY o_custkey""".stripMargin,
    // identical signature derivation; the union's bottom-128 drives
    // jaccard, its k-th smallest hash the union size.
    "agg_kmv_overlap" ->
      """WITH av AS (SELECT DISTINCT CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,8)) AS BIGINT) AS hv
        |  FROM events WHERE event_type = 'view'),
        |a AS (SELECT hv FROM av ORDER BY hv LIMIT 128),
        |bv AS (SELECT DISTINCT CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,8)) AS BIGINT) AS hv
        |  FROM events WHERE event_type = 'purchase'),
        |b AS (SELECT hv FROM bv ORDER BY hv LIMIT 128),
        |u AS (SELECT hv FROM (SELECT hv FROM a UNION SELECT hv FROM b) ORDER BY hv LIMIT 128),
        |kk AS (SELECT max(hv) AS kth, count(*) AS ku FROM u),
        |nb AS (SELECT count(*) AS n_both FROM u JOIN a USING (hv) JOIN b USING (hv)),
        |ex AS (SELECT count(*) AS exact_intersection FROM
        |  (SELECT DISTINCT user_id FROM events WHERE event_type = 'view') v
        |  JOIN (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase') p USING (user_id))
        |SELECT CAST(n_both AS DOUBLE) / ku AS est_jaccard,
        |  CAST(ku - 1 AS DOUBLE) * 4294967296.0 / kth AS est_union,
        |  CAST(n_both AS DOUBLE) / ku *
        |    (CAST(ku - 1 AS DOUBLE) * 4294967296.0 / kth) AS est_intersection,
        |  CAST(exact_intersection AS BIGINT) AS exact_intersection
        |FROM nb, kk, ex""".stripMargin,
    // identical cell derivation for both sketches; est = min over rows
    // of the cell-count inner product.
    "agg_cms_joinsize" ->
      """WITH oc AS (
        |  SELECT rr.r, CAST(('0x'||substr(md5(CAST(rr.r AS VARCHAR)||':'||CAST(o_custkey AS VARCHAR)),1,5)) AS BIGINT) % 1024 AS c
        |  FROM orders CROSS JOIN (SELECT unnest(range(4)) AS r) rr),
        |os AS (SELECT r, c, count(*) AS cnt FROM oc GROUP BY r, c),
        |cc AS (
        |  SELECT rr.r, CAST(('0x'||substr(md5(CAST(rr.r AS VARCHAR)||':'||CAST(c_custkey AS VARCHAR)),1,5)) AS BIGINT) % 1024 AS c
        |  FROM customer CROSS JOIN (SELECT unnest(range(4)) AS r) rr),
        |cs AS (SELECT r, c, count(*) AS cnt FROM cc GROUP BY r, c),
        |ip AS (SELECT os.r, sum(os.cnt * cs.cnt) AS ip
        |       FROM os JOIN cs ON os.r = cs.r AND os.c = cs.c GROUP BY os.r),
        |ex AS (SELECT count(*) AS exact_join_size
        |       FROM orders JOIN customer ON o_custkey = c_custkey)
        |SELECT CAST(min(ip) AS BIGINT) AS est_join_size, ex.exact_join_size
        |FROM ip CROSS JOIN ex GROUP BY ex.exact_join_size""".stripMargin
  )
}
