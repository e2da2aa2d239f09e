package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.ops.{Relational, Tables}

/** SURVEY §2.9: joins, analytic window functions, sort/limit/top-k,
  * distinct — the relational surface declared for engine parity.
  *
  * Scale notes baked into the plans: dimension joins broadcast (nation/
  * region/supplier are tiny at any SF); fact-fact joins shuffle on the
  * join key; the range join pre-filters both sides before the shuffle;
  * top-k never globally sorts (TakeOrderedAndProject). */
object JoinQueries extends QueryPack {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))

  val queries: Map[String, Q] = Map(

    // TPC-H Q3 shape (shipping priority): segment-filtered customer ⋈
    // orders ⋈ lineitem, revenue per urgent order, top 10. The optimizer
    // showcase — customer filters THEN broadcasts onto orders, lineitem's
    // date filter pushes to the scan, and the top-10 never global-sorts
    // (TakeOrderedAndProject). Revenue stays DECIMAL until the final
    // cast (order-independent sums).
    "q3_shipping" -> { (s, dir) =>
      val c = Tables.customer(s, dir).where(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir)
        .where(col("o_orderdate") < lit("1998-06-15").cast("timestamp"))
      val l = Tables.lineitem(s, dir)
        .where(col("l_shipdate") > lit("1998-06-15").cast("timestamp"))
      broadcast(c).join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount")))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    },

    // TPC-H Q5 shape (local supplier volume): 6-table join where the
    // customer and the supplier must share the nation — revenue per
    // nation inside one region-year slice. nation/region broadcast; the
    // local-supplier predicate rides the join condition, not a
    // post-filter.
    // TPC-H Q9 shape (product-line profit by nation and year): the
    // LIKE-filtered part list and the supplier→nation chain broadcast;
    // lineitem joins them map-side and meets orders on the orderkey —
    // profit stays DECIMAL until the final cast.
    // TPC-H Q12 shape (late shipments by order priority; adapted to this
    // schema's late = shipped > 60 days after order date): one fact join
    // and a conditional-count aggregation per ship month.
    "q12_late_priority" -> { (s, dir) =>
      val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS")
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .where(late)
        .groupBy(date_trunc("month", col("l_shipdate")).cast("date")
          .as("ship_month"))
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(!high, 1L).otherwise(0L)).as("low_line_count"))
    },

    // TPC-H Q14 shape (promotion revenue share of one ship month):
    // part broadcast to the date-pruned lineitem slice, DECIMAL sums,
    // one double division at the end (portable round).
    "q14_promo" -> { (s, dir) =>
      val l = Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= lit("1998-03-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-04-01").cast("timestamp"))
      val disc = dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount"))
      l.join(broadcast(Tables.part(s, dir)),
          col("l_partkey") === col("p_partkey"))
        .agg(sum(when(col("p_type") === "PROMO", disc)).as("promo"),
          sum(disc).as("total"))
        .select(graft.ops.TimeSeries.portableRound6(
          (lit(100.0) * coalesce(col("promo"), lit(0).cast("decimal(18,2)"))
            .cast("double")) / col("total").cast("double"))
          .as("promo_revenue_pct"))
    },

    // TPC-H Q7 shape (volume shipping between two nations): the
    // two-nation filter lands on supplier and customer BEFORE the fact
    // joins (a ~2/25 prune each — the disjunction reduces to
    // s_nation ≠ c_nation once both sides are restricted), so lineitem
    // meets an already-filtered broadcast supplier map-side and orders
    // meets the filtered customers; revenue stays DECIMAL until the
    // final cast, grouped by (supp_nation, cust_nation, ship year).
    "q7_volume" -> { (s, dir) =>
      val nk = Seq(1, 2)
      val sup = Tables.supplier(s, dir).where(col("s_nationkey").isin(nk: _*))
      val cust = Tables.customer(s, dir).where(col("c_nationkey").isin(nk: _*))
      val n1 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))
      Tables.lineitem(s, dir)
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .where(col("s_nationkey") =!= col("c_nationkey"))
        .join(broadcast(n1), col("s_nationkey") === col("snk"))
        .join(broadcast(n2), col("c_nationkey") === col("cnk"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum(dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount")))
          .cast("double").as("revenue"))
    },

    // TPC-H Q21 shape (suppliers who kept orders waiting): per order,
    // the number of distinct suppliers, the number of LATE ones (ship >
    // 60 days past order date — the schema's receipt/commit analog), and
    // the sole late supplier when unique — ALL from ONE lineitem⋈orders
    // pass (n_late=1 makes min(late supplier) the culprit; no EXISTS /
    // NOT EXISTS rejoin of the fact table, which is how the classic
    // formulation goes quadratic). Supplier names broadcast; top-20 via
    // TakeOrderedAndProject.
    "q21_waiting" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS")
      // two PLAIN hash-aggs instead of multi-countDistinct: Spark plans
      // several distinct aggregates via Expand (3× the joined rows
      // through the shuffle); collapsing to per-(order, supplier) first
      // gets map-side partial combine and measured 2.6 → 1.4 s at sf0.1
      val per = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(when(late, 1L).otherwise(0L)).as("is_late"))
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_supp"), sum(col("is_late")).as("n_late"),
          min(when(col("is_late") === 1, col("l_suppkey"))).as("the_late"))
        .where(col("n_supp") > 1 && col("n_late") === 1)
      per.join(broadcast(Tables.supplier(s, dir)),
          col("s_suppkey") === col("the_late"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name").asc)
        .limit(20)
    },

    // TPC-H Q18 shape (large-volume customers): the HAVING subquery is
    // ONE aggregate over lineitem whose small survivor set then joins
    // orders and customer — sum_qty rides that same aggregate, so
    // lineitem is scanned once and never rejoined; AQE broadcasts the
    // survivors. Quantities are integral doubles, so the sum is exact
    // and order-free. Top-100 is TakeOrderedAndProject, never a global
    // sort; (totalprice, orderdate, orderkey) is a total order.
    "q18_large_orders" -> { (s, dir) =>
      val big = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("sum_qty"))
        .where(col("sum_qty") > 250)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      o.join(big, o("o_orderkey") === big("l_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderdate").asc,
          col("o_orderkey").asc)
        .limit(100)
    },

    "q9_profit" -> { (s, dir) =>
      val p = Tables.part(s, dir).where(col("p_name").contains("red"))
      val l = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val sup = Tables.supplier(s, dir)
      val n = Tables.nation(s, dir)
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).as("o_year"))
        .agg(sum(dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount")))
          .cast("double").as("sum_profit"))
    },

    "q5_region" -> { (s, dir) =>
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
        .where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val l = Tables.lineitem(s, dir)
      val sup = Tables.supplier(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir).where(col("r_name") === "ASIA")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .join(broadcast(sup), l("l_suppkey") === sup("s_suppkey") &&
          c("c_nationkey") === sup("s_nationkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount")))
          .cast("double").as("revenue"))
    },

    // shuffle (sort-merge/hash) fact-fact equi-join + aggregation.
    // Revenue products stay DECIMAL end to end: a decimal×DOUBLE product
    // demotes the sum to floats, whose value depends on accumulation
    // order — caught as a last-ulp mismatch at sf0.1 (invisible at
    // sf0.01). Decimal sums are exact and order-independent.
    "join_inner" -> { (s, dir) =>
      val o = Tables.orders(s, dir)
      val l = Tables.lineitem(s, dir)
      o.join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_lines"),
          sum(dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount")))
            .cast("double").as("revenue"))
    },

    // broadcast dim chain: lineitem ⋈ supplier ⋈ nation ⋈ region.
    "join_broadcast" -> { (s, dir) =>
      val l = Tables.lineitem(s, dir)
      val sup = Tables.supplier(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      l.join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount")))
          .cast("double").as("revenue"))
    },

    // left outer: every customer, order count (0 for orderless customers).
    "join_left" -> { (s, dir) =>
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
    },

    // RIGHT OUTER — the mirrored preserve-side form (§2.9 declares all
    // four equi-join shapes; Catalyst plans it as the flipped left).
    "join_right" -> { (s, dir) =>
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      o.join(c, o("o_custkey") === c("c_custkey"), "right")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
    },

    // FULL OUTER — the reconciliation join (which customers have no
    // orders, which orders have no surviving customer row): unmatched
    // sides surface as NULL keys with zero counts. Completes the §2.9
    // equi-join family (inner/left/semi/anti/full). The restricted
    // order subset guarantees unmatched rows on BOTH sides.
    "join_full" -> { (s, dir) =>
      val c = Tables.customer(s, dir)
        .where(col("c_custkey") % 3 === 0)
      val o = Tables.orders(s, dir)
        .where(col("o_custkey") % 3 === 1)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      c.join(o, c("c_custkey") === o("o_custkey"), "full")
        .select(col("c_custkey"), col("o_custkey"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
    },

    // left-semi / left-anti (EXISTS / NOT EXISTS).
    "join_semi" -> { (s, dir) =>
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).where(col("o_totalprice") > 100000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    },
    "join_anti" -> { (s, dir) =>
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    },

    // theta join (broadcast nested loop on a tiny side): nation pairs
    // within a region.
    "join_theta" -> { (s, dir) =>
      val n1 = Tables.nation(s, dir).select(col("n_name").as("a"), col("n_regionkey").as("rk1"))
      val n2 = Tables.nation(s, dir).select(col("n_name").as("b"), col("n_regionkey").as("rk2"))
      n1.join(n2, col("rk1") === col("rk2") && col("a") < col("b"))
        .select(col("a"), col("b"))
    },

    // time-bounded range join (the batch analog of a stream-stream
    // interval join): clicks within 1h after a purchase by the same user.
    "join_range" -> { (s, dir) =>
      val e = Tables.events(s, dir)
      val p = e.where(col("event_type") === "purchase")
        .select(col("user_id").as("u"), col("ts").as("p_ts"))
      val c = e.where(col("event_type") === "click")
        .select(col("user_id").as("u2"), col("ts").as("c_ts"))
      p.join(c, col("u") === col("u2") &&
          col("c_ts") >= col("p_ts") && col("c_ts") < col("p_ts") + expr("INTERVAL 1 HOUR"))
        .groupBy(col("u").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
    },

    // interval-overlap join (the concurrency report): user sessions
    // (10-min session windows) that overlap ACROSS users, counted per
    // overlap-start day with the total overlapped time in exact integer
    // micros. The non-equi interval predicate runs as a banded EQUI
    // join — intervals meet in one shuffle on their covered hour
    // buckets, the canonical-bucket rule dedupes — so the plan never
    // sees a cartesian or a per-row subquery (the IEJoin shape an
    // engine without banding falls back to).
    "join_interval" -> { (s, dir) =>
      val sess = Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"),
          col("session_window.start").as("s"),
          col("session_window.end").as("e"))
      Relational.intervalOverlapPairs(sess, "user_id", "s", "e")
        .groupBy(col("o_start").cast("date").as("day"))
        .agg(count(lit(1)).as("n_pairs"),
          // NTZ→TZ cast is identity under the engine-wide UTC session
          sum(unix_micros(col("o_end").cast("timestamp")) -
            unix_micros(col("o_start").cast("timestamp"))).as("overlap_us"))
    },

    // as-of join: each click gets the most recent prior purchase value.
    "join_asof" -> { (s, dir) =>
      val e = Tables.events(s, dir)
      val clicks = e.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = e.where(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      Relational.asOfJoin(clicks, purchases, Seq("user_id"), "ts",
        "value", "last_purchase")
        .select("event_id", "user_id", "last_purchase")
    },

    // staleness-bounded as-of (the feature-store freshness contract):
    // the most recent prior purchase counts only within 24 h — an older
    // match trains the model on a feature serving would never produce.
    "join_asof_tol" -> { (s, dir) =>
      val e = Tables.events(s, dir)
      val clicks = e.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = e.where(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      Relational.asOfJoinTolerance(clicks, purchases, Seq("user_id"), "ts",
        "value", "fresh_purchase", maxStalenessUs = 86400000000L)
        .select("event_id", "user_id", "fresh_purchase")
    },

    // NEAREST as-of: each click takes its user's purchase value closest
    // in time in either direction (ties backward) — completes the as-of
    // family (backward / forward / multi / nearest).
    "join_asof_near" -> { (s, dir) =>
      val e = Tables.events(s, dir)
      val clicks = e.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = e.where(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      Relational.asOfJoinNearest(clicks, purchases, Seq("user_id"), "ts",
        "value", "near_purchase")
        .select("event_id", "user_id", "near_purchase")
    },

    // FORWARD as-of: each click gets its user's first purchase time at
    // or after the click — the time-to-conversion label join. Same
    // single user_id shuffle as the backward probe, mirrored frame.
    "join_asof_fwd" -> { (s, dir) =>
      val e = Tables.events(s, dir)
      val clicks = e.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("ts").as("pts"))
      Relational.asOfJoinForward(clicks, purchases, Seq("user_id"), "ts",
        "pts", "next_purchase_ts")
    },

    // bloom-prefiltered join: the selective order set publishes a Bloom
    // of its keys, lineitem is pruned MAP-SIDE (native codegen probe,
    // below any exchange) before the exact join — runtime-filter
    // engineering surfaced as an operator; result exact (FPs die in the
    // join).
    "join_bloom" -> { (s, dir) =>
      import graft.ops.Scale
      val hot = Tables.orders(s, dir)
        .where(col("o_totalprice") > 300000.0)
        .select("o_orderkey", "o_orderpriority")
      Scale.bloomJoin(Tables.lineitem(s, dir), hot, "l_orderkey", "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum(dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount")))
            .cast("double").as("revenue"))
    },

    // multi-column as-of: the WHOLE latest purchase row (value + id)
    // rides one struct through the same single-shuffle machinery.
    "join_asof_multi" -> { (s, dir) =>
      val e = Tables.events(s, dir)
      val clicks = e.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"),
          col("event_id").as("purchase_id"))
      Relational.asOfJoinMulti(clicks, purchases, Seq("user_id"), "ts",
        Seq("value", "purchase_id"), "last")
        .select("event_id", "user_id", "last_value", "last_purchase_id")
    },

    // ranking window functions (deterministic via event_id tiebreak).
    "wf_rank" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id").asc)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"))
        .withColumn("rn", row_number().over(w))
        .withColumn("rk", rank().over(w))
        .where(col("rn") <= 3)
    },

    // relative-position analytics: percent_rank / cume_dist / ntile on a
    // deterministic (cents, event_id) total order per USER — exact
    // rationals in both engines (ties impossible on the composite key),
    // 6dp-rounded; ntile cast to BIGINT (DuckDB's width). Partitioned on
    // the high-cardinality key so the sort parallelizes (a per-TYPE
    // version would serialize into |types| giant tasks at corpus scale —
    // the stat_trimmed lesson).
    "wf_pct" -> { (s, dir) =>
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("x"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), cents.as("x"))
        .select(col("user_id"), col("event_id"),
          graft.ops.TimeSeries.portableRound6(percent_rank().over(w))
            .as("pct_rank"),
          graft.ops.TimeSeries.portableRound6(cume_dist().over(w))
            .as("cume"),
          ntile(4).over(w).cast("long").as("quartile"))
    },

    // lag/lead over event time.
    "wf_lag" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .withColumn("next_type", lead(col("event_id"), 1).over(w))
        .drop("ts")
    },

    // running (cumulative) sum — exact via decimal, ROWS frame.
    "wf_running" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .withColumn("running", sum(dec(col("value"))).over(w).cast("double"))
        .drop("ts")
    },

    // distribution window functions: ntile/percent_rank/cume_dist.
    "wf_dist" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").asc, col("event_id").asc)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"))
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
    },

    // frame-bounded first/last over a sliding ROWS frame.
    "wf_frame" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(-2, Window.currentRow)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .withColumn("win_min", min(col("value")).over(w))
        .withColumn("win_max", max(col("value")).over(w))
        .drop("ts")
    },

    // sessionization: assign session sequence numbers by inactivity gap
    // (> 30 min) — the analytic-batch twin of the W3 session window, and
    // the standard event-log preprocessing step. One shuffle on user_id;
    // the gap flag and running sum share the same window sort.
    "wf_sessionize" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val gap = unix_timestamp(col("ts")) -
        unix_timestamp(lag(col("ts"), 1).over(w)) > 1800
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"))
        .withColumn("session_seq",
          sum(when(coalesce(gap, lit(false)), 1L).otherwise(0L)).over(w))
        .drop("ts")
    },

    // top-k without a global sort (TakeOrderedAndProject).
    "topk_orders" -> { (s, dir) =>
      Relational.topK(Tables.orders(s, dir), 10,
        col("o_totalprice").desc, col("o_orderkey").asc)
        .select("o_orderkey", "o_totalprice")
    },

    // distinct (dropDuplicates = groupBy all cols).
    "distinct_pairs" -> { (s, dir) =>
      Tables.events(s, dir).select("user_id", "event_type").dropDuplicates()
    }
  )

  val oracles: Map[String, String] = Map(
    "q3_shipping" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-06-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-06-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,
    "q12_late_priority" ->
      """SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |           THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY 1""".stripMargin,
    "q14_promo" ->
      """SELECT round(
        |    (100.0 * CAST(coalesce(sum(CASE WHEN p_type = 'PROMO'
        |        THEN CAST(l_extendedprice AS DECIMAL(18,2))
        |          * CAST(1.0 - l_discount AS DECIMAL(18,2)) END),
        |        CAST(0 AS DECIMAL(18,2))) AS DOUBLE))
        |    / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |        * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
        |    * 1000000) / 1000000 AS promo_revenue_pct
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE l_shipdate >= TIMESTAMP '1998-03-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-04-01 00:00:00'""".stripMargin,
    "q7_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  EXTRACT(year FROM l_shipdate) AS l_year,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON n1.n_nationkey = s_nationkey
        |  JOIN nation n2 ON n2.n_nationkey = c_nationkey
        |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        |GROUP BY 1, 2, 3""".stripMargin,
    "q21_waiting" ->
      """WITH per AS (SELECT l_orderkey,
        |    count(DISTINCT l_suppkey) AS n_supp,
        |    count(DISTINCT CASE WHEN l_shipdate > o_orderdate
        |        + INTERVAL 60 DAY THEN l_suppkey END) AS n_late,
        |    min(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
        |        THEN l_suppkey END) AS the_late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1)
        |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM per JOIN supplier ON s_suppkey = the_late
        |WHERE n_supp > 1 AND n_late = 1
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (SELECT l_orderkey, sum(l_quantity) AS sum_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 250)
        |SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
        |  o.o_totalprice, b.sum_qty
        |FROM orders o
        |  JOIN big b ON o.o_orderkey = b.l_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o.o_totalprice DESC, o.o_orderdate, o.o_orderkey
        |LIMIT 100""".stripMargin,
    "q9_profit" ->
      """SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |  JOIN part ON p_partkey = l_partkey AND p_name LIKE '%red%'
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation ON n_nationkey = s_nationkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |GROUP BY 1, 2""".stripMargin,
    "q5_region" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin,
    "join_inner" ->
      """SELECT o_orderkey, count(*) AS n_lines,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey""".stripMargin,
    "join_broadcast" ->
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "join_left" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin,
    "join_right" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey""".stripMargin,
    "join_full" ->
      """SELECT c_custkey, o_custkey,
        |  coalesce(n_orders, 0) AS n_orders
        |FROM (SELECT c_custkey FROM customer WHERE c_custkey % 3 = 0) c
        |FULL OUTER JOIN (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders WHERE o_custkey % 3 = 1 GROUP BY o_custkey) o
        |ON c.c_custkey = o.o_custkey""".stripMargin,
    "join_interval" ->
      """WITH g AS (SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w >= INTERVAL '10 minutes'
        |    THEN 1 ELSE 0 END AS news
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sg AS (SELECT user_id, ts, sum(news) OVER (
        |    PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING)
        |    AS sid FROM g),
        |sess AS (SELECT user_id, min(ts) AS s,
        |    max(ts) + INTERVAL '10 minutes' AS e
        |  FROM sg GROUP BY user_id, sid),
        |p AS (SELECT greatest(a.s, b.s) AS os, least(a.e, b.e) AS oe
        |  FROM sess a JOIN sess b
        |  ON a.user_id < b.user_id AND a.s < b.e AND b.s < a.e)
        |SELECT CAST(os AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(date_diff('microsecond', os, oe)) AS BIGINT)
        |    AS overlap_us
        |FROM p GROUP BY 1""".stripMargin,
    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)""".stripMargin,
    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "join_theta" ->
      """SELECT n1.n_name AS a, n2.n_name AS b
        |FROM nation n1 JOIN nation n2
        |  ON n1.n_regionkey = n2.n_regionkey AND n1.n_name < n2.n_name""".stripMargin,
    "join_range" ->
      """SELECT p.user_id, count(*) AS n_pairs FROM
        |  (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
        |JOIN
        |  (SELECT user_id, ts FROM events WHERE event_type = 'click') c
        |ON p.user_id = c.user_id
        |  AND c.ts >= p.ts AND c.ts < p.ts + INTERVAL 1 HOUR
        |GROUP BY p.user_id""".stripMargin,
    "join_asof" ->
      """SELECT c.event_id, c.user_id, p.value AS last_purchase
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin,
    // the same backward probe with the 24 h staleness bound applied to
    // the matched row (ASOF picks the latest prior row; the CASE nulls
    // it when stale — exactly the engine's semantics, in exact micros)
    "join_asof_tol" ->
      """SELECT c.event_id, c.user_id,
        |  CASE WHEN p.ts IS NOT NULL
        |        AND epoch_us(c.ts) - epoch_us(p.ts) <= 86400000000
        |       THEN p.value END AS fresh_purchase
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin,
    "join_asof_fwd" ->
      """SELECT c.event_id, c.user_id, c.ts,
        |  (SELECT min(p.ts) FROM events p
        |   WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
        |     AND p.ts >= c.ts) AS next_purchase_ts
        |FROM events c WHERE c.event_type = 'click'""".stripMargin,
    // nearest = backward/forward argmin-by-|Δt| in exact epoch micros,
    // equidistant ties to the backward row
    "join_asof_near" ->
      """WITH c AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'click'),
        |n AS (SELECT c.event_id, c.user_id, c.ts,
        |  (SELECT p.ts FROM events p WHERE p.event_type = 'purchase'
        |     AND p.user_id = c.user_id AND p.ts <= c.ts
        |   ORDER BY p.ts DESC LIMIT 1) AS bt,
        |  (SELECT p.value FROM events p WHERE p.event_type = 'purchase'
        |     AND p.user_id = c.user_id AND p.ts <= c.ts
        |   ORDER BY p.ts DESC LIMIT 1) AS bv,
        |  (SELECT p.ts FROM events p WHERE p.event_type = 'purchase'
        |     AND p.user_id = c.user_id AND p.ts > c.ts
        |   ORDER BY p.ts ASC LIMIT 1) AS ft,
        |  (SELECT p.value FROM events p WHERE p.event_type = 'purchase'
        |     AND p.user_id = c.user_id AND p.ts > c.ts
        |   ORDER BY p.ts ASC LIMIT 1) AS fv
        |  FROM c)
        |SELECT event_id, user_id,
        |  CASE WHEN bt IS NULL THEN fv
        |       WHEN ft IS NULL THEN bv
        |       WHEN epoch_us(ts) - epoch_us(bt)
        |            <= epoch_us(ft) - epoch_us(ts) THEN bv
        |       ELSE fv END AS near_purchase
        |FROM n""".stripMargin,
    "join_bloom" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |WHERE o_totalprice > 300000.0
        |GROUP BY o_orderpriority""".stripMargin,
    "join_asof_multi" ->
      """SELECT c.event_id, c.user_id, p.value AS last_value,
        |  p.purchase_id AS last_purchase_id
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT user_id, ts, value, event_id AS purchase_id
        |                FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin,
    "wf_rank" ->
      """SELECT * FROM (
        |  SELECT event_id, user_id, value,
        |    row_number() OVER w AS rn, rank() OVER w AS rk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id ASC))
        |WHERE rn <= 3""".stripMargin,
    "wf_pct" ->
      """SELECT user_id, event_id,
        |  round(percent_rank() OVER w * 1000000) / 1000000 AS pct_rank,
        |  round(cume_dist() OVER w * 1000000) / 1000000 AS cume,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM (SELECT user_id, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY x, event_id)""".stripMargin,
    "wf_lag" ->
      """SELECT event_id, user_id, value,
        |  lag(value, 1) OVER w AS prev_value,
        |  lead(event_id, 1) OVER w AS next_type
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)""".stripMargin,
    "wf_running" ->
      """SELECT event_id, user_id, value,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
        |    PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
        |FROM events""".stripMargin,
    "wf_dist" ->
      """SELECT event_id, user_id, value,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY value ASC, event_id ASC)""".stripMargin,
    "wf_frame" ->
      """SELECT event_id, user_id, value,
        |  min(value) OVER w AS win_min, max(value) OVER w AS win_max
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin,
    "wf_sessionize" ->
      """SELECT event_id, user_id,
        |  CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |       AS BIGINT) AS session_seq
        |FROM (SELECT event_id, user_id, ts,
        |    CASE WHEN epoch(ts) - epoch(lag(ts, 1) OVER
        |           (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)) > 1800
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events)""".stripMargin,
    "topk_orders" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "distinct_pairs" ->
      "SELECT DISTINCT user_id, event_type FROM events"
  )
}
