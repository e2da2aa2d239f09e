package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.ops.Tables

/** SURVEY §2.9 completion: the remaining TPC-H shapes, so all 22 are
  * covered. No commit/receipt dates in this schema — late uses the
  * repo-wide ship > order + 60 days convention; Q2/Q11/Q16/Q20's
  * partsupp semantics are adapted to lineitem-OBSERVED supply (best
  * observed unit price, traded value, suppliers seen per descriptor,
  * quantities actually moved).
  *
  * Each query is here for a DISTINCT optimizer pattern:
  *  - Q2  two-level argmin (struct-min aggregate, never a rank window)
  *  - Q4  correlated EXISTS → left-semi with a join-condition predicate
  *  - Q6  pure scan aggregate — every filter pushed to parquet
  *  - Q8  two-level conditional share with a dimension-role split
  *  - Q10 selective fact-fact join + top-k, no global sort
  *  - Q11 share-of-global-total HAVING (1-row broadcast, exact compare)
  *  - Q13 count-of-counts (left join preserving zero groups)
  *  - Q15 aggregate-derived view + exact max-equality (DECIMAL, not float)
  *  - Q16 distinct-pair collapse + broadcast-anti exclusion
  *  - Q17 correlated scalar AVG → per-key aggregate join, compared as an
  *        exact integer cross-multiplication (never avg() floats)
  *  - Q19 disjunctive mixed-table predicate (OR of AND-blocks)
  *  - Q20 aggregate-derived survivor semi-chain
  *  - Q22 scalar-subquery threshold + anti join, threshold compared
  *        exactly via sum/count cross-multiplication
  *
  * Float discipline (repo-wide): money sums stay DECIMAL(18,2) until one
  * final cast; thresholds against averages are cross-multiplied into
  * integer/decimal space so no engine ever computes a float average that
  * a borderline row could straddle. */
object TpchQueries extends QueryPack {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))
  private def rev = dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount"))

  val queries: Map[String, Q] = Map(

    // TPC-H Q4 (order priority checking): orders in one quarter with at
    // least one late line. The EXISTS lands as a left-semi join whose
    // condition carries the correlated o_orderdate predicate — orders is
    // date-pruned BEFORE the join, and no lineitem column survives, so
    // the semi join never rejoins or dedups the fact table.
    "q4_priority" -> { (s, dir) =>
      val o = Tables.orders(s, dir)
        .where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
      val l = Tables.lineitem(s, dir)
      o.join(l, o("o_orderkey") === l("l_orderkey") &&
          l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    },

    // TPC-H Q6 (forecasting revenue change): the pure-scan aggregate —
    // every predicate pushes to the parquet scan, zero joins, one
    // map-side-combined agg. The simplest shape and the one where scan
    // bandwidth is the entire cost at 100 TB.
    "q6_forecast" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
          .cast("double").as("revenue"))
    },

    // TPC-H Q8 (national market share): the share of one supplier
    // nation's revenue among one region's customer orders, per year.
    // nation plays two roles (supplier side vs customer side) — the
    // customer side restricts through region ASIA, the supplier side
    // only labels; both broadcast. One conditional sum over the joined
    // slice, one final division (portable-rounded).
    "q8_mktshare" -> { (s, dir) =>
      val r = Tables.region(s, dir).where(col("r_name") === "ASIA")
      val nCust = Tables.nation(s, dir)
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cnk"))
      val nSupp = Tables.nation(s, dir)
        .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
      val o = Tables.orders(s, dir)
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val vol = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir).where(col("p_type") === "STANDARD")),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, dir)),
          col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nCust), col("c_nationkey") === col("cnk"))
        .join(broadcast(nSupp), col("s_nationkey") === col("snk"))
      vol.groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(sum(when(col("supp_nation") === "NATION_2", rev)).as("nat"),
          sum(rev).as("total"))
        .select(col("o_year"),
          graft.ops.TimeSeries.portableRound6(
            coalesce(col("nat"), lit(0).cast("decimal(18,2)")).cast("double") /
              col("total").cast("double")).as("mkt_share"))
    },

    // TPC-H Q10 (returned items): revenue lost to returns per customer in
    // one quarter — date-pruned orders join the R-flagged lineitem slice,
    // customer + nation broadcast onto the small survivor aggregate,
    // top-20 via TakeOrderedAndProject (never a global sort).
    "q10_returned" -> { (s, dir) =>
      val o = Tables.orders(s, dir)
        .where(col("o_orderdate") >= lit("1997-07-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-10-01").cast("timestamp"))
      val l = Tables.lineitem(s, dir).where(col("l_returnflag") === "R")
      val n = Tables.nation(s, dir)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(sum(rev).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    },

    // TPC-H Q13 (customer distribution): how many customers placed k
    // orders — the count-of-counts histogram. The LEFT join keeps
    // zero-order groups alive through the first aggregate (count of a
    // right-side column, not count(*)); the second aggregate is
    // |distinct k|-sized.
    "q13_custdist" -> { (s, dir) =>
      val o = Tables.orders(s, dir)
        .where(col("o_orderpriority") =!= "1-URGENT")
      Tables.customer(s, dir)
        .join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    },

    // TPC-H Q15 (top supplier): quarterly revenue per supplier, keep the
    // max. The max-equality filter runs on the EXACT DECIMAL sum — a
    // float total_revenue would make "= max" an ulp lottery. The 1-row
    // max broadcasts; supplier names broadcast onto the tiny survivor
    // set. The per-supplier aggregate localCheckpoints: it feeds BOTH
    // the max subquery and the equality probe, and without the lineage
    // cut each consumer re-runs the whole lineitem scan+agg (plan showed
    // two scans; |suppliers| rows is the cheap thing to materialize).
    "q15_top_supplier" -> { (s, dir) =>
      val revPerSupp = Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(rev).as("total_rev"))
        .localCheckpoint()
      val top = revPerSupp.agg(max(col("total_rev")).as("max_rev"))
      revPerSupp.join(broadcast(top), col("total_rev") === col("max_rev"))
        .join(broadcast(Tables.supplier(s, dir)),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("total_rev").cast("double").as("total_revenue"))
        .orderBy(col("s_suppkey"))
    },

    // TPC-H Q17 (small-quantity-order revenue): lines whose quantity is
    // below 20% of their part's average quantity, for one brand. The
    // correlated scalar AVG becomes a per-part (sum, count) aggregate
    // joined back; the threshold compares as 5·q·cnt < sum_qty — an
    // exact integer cross-multiplication, so no engine ever materializes
    // a float average a borderline row could straddle. Both passes run
    // over the brand-pruned slice (part broadcasts into the scans).
    "q17_small_qty" -> { (s, dir) =>
      val brandParts = Tables.part(s, dir)
        .where(col("p_brand") === "Brand#1").select("p_partkey")
      val l = Tables.lineitem(s, dir)
        .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
      val perPart = l.groupBy(col("l_partkey").as("pk"))
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
          count(lit(1)).as("cnt"))
      l.join(perPart, col("l_partkey") === col("pk"))
        .where(col("l_quantity").cast("long") * 5 * col("cnt") < col("sum_qty"))
        .agg((sum(dec(col("l_extendedprice"))).cast("double") / 7.0)
          .as("avg_yearly"))
    },

    // TPC-H Q19 (discounted revenue): an OR of three AND-blocks mixing
    // part and lineitem predicates — the disjunction-pushdown shape. The
    // part-only disjunction (brand+size) prunes the broadcast build side;
    // the mixed residual evaluates post-join in codegen.
    "q19_disjunct" -> { (s, dir) =>
      val p = Tables.part(s, dir)
      val l = Tables.lineitem(s, dir)
      val c1 = col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)
      val c2 = col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)
      val c3 = col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 30)
      l.join(broadcast(p.where(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))),
          col("l_partkey") === col("p_partkey"))
        .where(c1 || c2 || c3)
        .agg(sum(rev).cast("double").as("revenue"))
    },

    // TPC-H Q2 shape (min-cost supplier — partsupp-free analog: best
    // OBSERVED unit price): per part, the ASIA-region supplier with the
    // lowest observed l_extendedprice/l_quantity, ties to the smallest
    // suppkey — the two-level argmin pattern. The unit price is ONE
    // IEEE division per line (both engines divide the same stored
    // doubles, so min/argmin agree bit-for-bit); the argmin rides a
    // (price, suppkey) struct-min aggregate — partial-agg collapses
    // map-side, never a rank window. Region restriction broadcasts into
    // the scan side; output bounded to large parts.
    "q2_mincost" -> { (s, dir) =>
      val asiaSupp = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
            .join(broadcast(Tables.region(s, dir)
              .where(col("r_name") === "ASIA")),
              col("n_regionkey") === col("r_regionkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey").as("sk"), col("s_name"))
      val best = Tables.lineitem(s, dir)
        .join(broadcast(asiaSupp), col("l_suppkey") === col("sk"))
        .groupBy(col("l_partkey"))
        .agg(min(struct(
          (col("l_extendedprice") / col("l_quantity")).as("unit"),
          col("l_suppkey").as("supp"))).as("m"))
        .select(col("l_partkey"), col("m.supp").as("s_suppkey"),
          col("m.unit").as("unit_price"))
      best.join(broadcast(Tables.part(s, dir).where(col("p_size") >= 40)),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_partkey"), col("p_brand"), col("s_suppkey"),
          graft.ops.TimeSeries.portableRound6(col("unit_price"))
            .as("unit_price"))
    },

    // TPC-H Q11 shape (important stock — partsupp-free analog: traded
    // value per part): parts whose total lineitem value exceeds 1.5× the
    // per-part mean — the share-of-global-total HAVING pattern. The
    // threshold scales with sf (a fixed fraction of the total, such as
    // 1/1500, selects no part at sf0.1). One per-part aggregate; the
    // 1-row global total and part count broadcast, and the HAVING
    // compares value·2·n_parts > 3·total in exact DECIMAL — no float
    // fraction for a borderline part to straddle.
    "q11_important" -> { (s, dir) =>
      val perPart = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"))
        .agg(sum(dec(col("l_extendedprice"))).as("value"))
        .localCheckpoint()
      val total = perPart.agg(sum(col("value")).as("total"),
        count(lit(1)).as("n_parts"))
      perPart.join(broadcast(total))
        .where(col("value") * 2 * col("n_parts") > col("total") * 3)
        .select(col("l_partkey"), col("value").cast("double").as("value"))
    },

    // TPC-H Q16 shape (supplier count by part descriptor): distinct
    // suppliers per (brand, type, size-class) seen in lineitem, minus an
    // excluded supplier set (the complaints stand-in: names ending in
    // '7') — distinct (part, supp) pairs collapse BEFORE the descriptor
    // rollup, the exclusion is a broadcast anti join, part broadcasts.
    "q16_supplier_cnt" -> { (s, dir) =>
      val excluded = Tables.supplier(s, dir)
        .where(col("s_name").endsWith("7")).select("s_suppkey")
      val pairs = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)
            .where(col("p_brand") =!= "Brand#1" && col("p_size") <= 25)),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(excluded),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
        .select("p_brand", "p_type", "p_size", "l_suppkey").distinct()
      pairs.groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(count(lit(1)).as("supplier_cnt"))
    },

    // TPC-H Q20 shape (excess-supply suppliers): suppliers who moved
    // more than 100 units of PROMO parts in 1997 — the aggregate-derived
    // survivor set joins supplier/nation broadcast. Quantities are
    // integral doubles; the sum is exact.
    "q20_excess" -> { (s, dir) =>
      val hot = Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(broadcast(Tables.part(s, dir).where(col("p_type") === "PROMO")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_quantity").cast("long")).as("promo_qty"))
        .where(col("promo_qty") > 100)
      hot.join(broadcast(Tables.supplier(s, dir)),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_name"), col("n_name"), col("promo_qty"))
    },

    // TPC-H Q22 (global sales opportunity): customers with above-average
    // positive balance and no RECENT orders (no customer is entirely
    // orderless in this data, so the anti join keys on orders since
    // 1999 — same anti-join + scalar-threshold machinery). The average
    // threshold compares exactly: bal·cnt > sum over DECIMAL(18,2), so
    // the float average never exists in either engine.
    "q22_opportunity" -> { (s, dir) =>
      val c = Tables.customer(s, dir)
      val stats = c.where(col("c_acctbal") > 0.0)
        .agg(sum(dec(col("c_acctbal"))).as("sum_bal"),
          count(lit(1)).as("n_bal"))
      val recent = Tables.orders(s, dir)
        .where(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
      c.join(broadcast(stats))
        .where(dec(col("c_acctbal")) * col("n_bal") > col("sum_bal"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").as("cntry"))
        .agg(count(lit(1)).as("numcust"),
          sum(dec(col("c_acctbal"))).cast("double").as("totacctbal"))
    }
  )

  val oracles: Map[String, String] = Map(
    "q4_priority" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority""".stripMargin,
    "q6_forecast" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q8_mktshare" ->
      """SELECT EXTRACT(year FROM o_orderdate) AS o_year,
        |  round(CAST(coalesce(sum(CASE WHEN n2.n_name = 'NATION_2'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2))
        |        * CAST(1.0 - l_discount AS DECIMAL(18,2)) END),
        |      CAST(0 AS DECIMAL(18,2))) AS DOUBLE)
        |    / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |        * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
        |    * 1000000) / 1000000 AS mkt_share
        |FROM lineitem
        |  JOIN part ON p_partkey = l_partkey AND p_type = 'STANDARD'
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON n1.n_nationkey = c_nationkey
        |  JOIN region ON r_regionkey = n1.n_regionkey AND r_name = 'ASIA'
        |  JOIN nation n2 ON n2.n_nationkey = s_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1""".stripMargin,
    "q10_returned" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation ON n_nationkey = c_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
        |  AND l_returnflag = 'R'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin,
    "q13_custdist" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
        |FROM rev JOIN supplier ON s_suppkey = l_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "q17_small_qty" ->
      """WITH l AS (SELECT l_partkey, l_quantity, l_extendedprice
        |    FROM lineitem JOIN part ON p_partkey = l_partkey
        |    WHERE p_brand = 'Brand#1'),
        |  per AS (SELECT l_partkey AS pk,
        |      sum(CAST(l_quantity AS BIGINT)) AS sum_qty,
        |      count(*) AS cnt
        |    FROM l GROUP BY 1)
        |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    / 7.0 AS avg_yearly
        |FROM l JOIN per ON l_partkey = pk
        |WHERE CAST(l_quantity AS BIGINT) * 5 * cnt < sum_qty""".stripMargin,
    "q19_disjunct" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q2_mincost" ->
      """WITH asia AS (SELECT s_suppkey FROM supplier
        |    JOIN nation ON n_nationkey = s_nationkey
        |    JOIN region ON r_regionkey = n_regionkey
        |  WHERE r_name = 'ASIA'),
        |best AS (SELECT l_partkey, l_suppkey,
        |    l_extendedprice / l_quantity AS unit,
        |    row_number() OVER (PARTITION BY l_partkey
        |      ORDER BY l_extendedprice / l_quantity, l_suppkey) AS rn
        |  FROM lineitem JOIN asia ON s_suppkey = l_suppkey)
        |SELECT p_partkey, p_brand, l_suppkey AS s_suppkey,
        |  round(unit * 1000000) / 1000000 AS unit_price
        |FROM (SELECT * FROM best WHERE rn = 1) b
        |  JOIN part ON p_partkey = l_partkey
        |WHERE p_size >= 40""".stripMargin,
    "q11_important" ->
      """WITH pv AS (SELECT l_partkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS v
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT sum(v) AS total, count(*) AS n_parts FROM pv)
        |SELECT l_partkey, CAST(v AS DOUBLE) AS value
        |FROM pv, t WHERE v * 2 * n_parts > 3 * total""".stripMargin,
    "q16_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem
        |  JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size <= 25
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |    WHERE s_name LIKE '%7')
        |GROUP BY 1, 2, 3""".stripMargin,
    "q20_excess" ->
      """WITH hot AS (SELECT l_suppkey,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS promo_qty
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_type = 'PROMO'
        |    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY 1 HAVING sum(CAST(l_quantity AS BIGINT)) > 100)
        |SELECT s_name, n_name, promo_qty
        |FROM hot JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation ON n_nationkey = s_nationkey""".stripMargin,
    "q22_opportunity" ->
      """WITH stats AS (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS sum_bal,
        |    count(*) AS n_bal
        |  FROM customer WHERE c_acctbal > 0.0)
        |SELECT c_nationkey AS cntry, CAST(count(*) AS BIGINT) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM customer, stats
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n_bal > sum_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey
        |      AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
        |GROUP BY 1""".stripMargin
  )
}
