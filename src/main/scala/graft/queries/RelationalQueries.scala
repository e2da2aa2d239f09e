package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.ops.Tables

/** SURVEY §2.5 aggregation + §2.9 relational surface, batch-checkable.
  *
  * Money columns are summed as DECIMAL(18,2) and emitted as DOUBLE: decimal
  * aggregation is exact and order-independent, so the result is bit-stable
  * across Spark task orderings and matches DuckDB exactly — a plain
  * double-sum would differ in the last ulp between engines/runs.
  */
object RelationalQueries extends QueryPack {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))

  val queries: Map[String, Q] = Map(
    // W1-analog keyed reduce over the whole table: pricing summary.
    // Partial (map-side) aggregation + final hash agg — scales linearly;
    // the groupBy key cardinality is tiny so the shuffle is negligible.
    "q1_agg" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount")))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    },

    // Grouped top-k via the bounded aggregator (map-side partial top-k:
    // shuffle volume k×keys, not the row count — unlike window+rank).
    "topk_per_cust" -> { (s, dir) =>
      graft.ops.Relational.topKPerKey(
        Tables.orders(s, dir), Seq("o_custkey"), "o_totalprice", "o_orderkey", k = 3)
    },

    // data-quality profiling with the portable KMV distinct estimate —
    // engine-exact, so even the approximation hash-matches the oracle.
    "profile_lineitem" -> { (s, dir) =>
      graft.ops.Relational.profile(Tables.lineitem(s, dir), ProfileCols)
    },

    // the corpus- and event-table siblings of profile_lineitem — the
    // same KMV-exact profiler (count/nulls/distinct-estimate/min/max)
    // every ingest audit runs on a new drop before anything else reads
    // it. Columns restricted to engine-portable string casts.
    "profile_documents" -> { (s, dir) =>
      graft.ops.Relational.profile(Tables.documents(s, dir), DocProfileCols)
    },
    "profile_events" -> { (s, dir) =>
      graft.ops.Relational.profile(Tables.events(s, dir), EventProfileCols)
    },

    // contract gate before publishing a snapshot: null/range/domain
    // filters + FK orphans as a left-anti join, one violation count per
    // rule. quantity_le_45 deliberately fires (TPC-H quantities reach
    // 50) to prove the counting path.
    "validate_lineitem" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      graft.ops.Relational.validateRules(Seq(
        "quantity_positive" -> li.where(col("l_quantity") <= 0),
        "discount_range" -> li.where(col("l_discount") < 0 || col("l_discount") > 1),
        "shipdate_not_null" -> li.where(col("l_shipdate").isNull),
        "returnflag_domain" -> li.where(!col("l_returnflag").isin("A", "N", "R")),
        "orderkey_fk" -> li.join(Tables.orders(s, dir),
          li("l_orderkey") === col("o_orderkey"), "left_anti"),
        "quantity_le_45" -> li.where(col("l_quantity") > 45)))
    },

    // the documents-table data contract — the corpus-side twin of
    // validate_lineitem (every ingest gate a training pipeline runs
    // before touching a new drop): non-empty text, metadata consistency,
    // language domain, id uniqueness. Each rule is one violation scan;
    // counts union into the audit row set.
    "validate_documents" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
      graft.ops.Relational.validateRules(Seq(
        "text_not_empty" -> d.where(col("text").isNull ||
          length(col("text")) === 0),
        "n_chars_consistent" -> d.where(col("n_chars") =!=
          length(col("text"))),
        "lang_domain" -> d.where(!col("lang").isin("de", "en", "es", "fr", "zh")),
        "source_not_null" -> d.where(col("source").isNull),
        "doc_id_unique" -> d.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("c")).where(col("c") > 1)))
    },

    // the events-table data contract — completes the validation triad
    // (lineitem, documents, events): id uniqueness, event-time inside
    // the collection window (future timestamps = clock-skewed clients),
    // type domain, non-negative value, ts not null.
    "validate_events" -> { (s, dir) =>
      val e = Tables.events(s, dir)
      graft.ops.Relational.validateRules(Seq(
        "event_id_unique" -> e.groupBy(col("event_id"))
          .agg(count(lit(1)).as("c")).where(col("c") > 1),
        "ts_not_null" -> e.where(col("ts").isNull),
        "ts_not_future" -> e.where(
          col("ts") > lit("2025-01-01").cast("timestamp")),
        // NULL-safe: `NOT x IN (...)` is NULL for NULL x in both engines
        // and would silently PASS a null-typed row — nulls violate too
        "type_domain" -> e.where(col("event_type").isNull ||
          !col("event_type").isin(
            "view", "click", "cart", "purchase", "signup", "error")),
        "value_non_negative" -> e.where(col("value").isNull ||
          col("value") < 0),
        "user_not_null" -> e.where(col("user_id").isNull)))
    },

    // the embeddings-table data contract — completes the validation
    // quartet (lineitem, documents, events, embeddings): id uniqueness,
    // vector presence, uniform dimensionality (a ragged drop breaks
    // every downstream dot product), no NaN components, no zero-norm
    // vectors (cosine is undefined; they poison ANN cells). Each rule
    // is one violation scan, same shape as the other validators.
    "validate_embeddings" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val minDim = e.agg(min(size(col("embedding"))).as("d0"))
      graft.ops.Relational.validateRules(Seq(
        "vec_id_unique" -> e.groupBy(col("vec_id"))
          .agg(count(lit(1)).as("c")).where(col("c") > 1),
        "embedding_not_null" -> e.where(col("embedding").isNull),
        "dim_uniform" -> e.crossJoin(broadcast(minDim))
          .where(size(col("embedding")) =!= col("d0")),
        "no_nan_component" -> e.where(
          exists(col("embedding"), x => isnan(x.cast("double")))),
        "no_zero_norm" -> e.where(
          size(filter(col("embedding"), x => x =!= lit(0.0f))) === 0)))
    },

    // Morton (Z-order) clustering value — the multi-dim file-skipping
    // layout key (see Scale.writeZOrdered); pure bit arithmetic, codegen.
    "layout_zvalue" -> { (s, dir) =>
      Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_linenumber"),
        graft.ops.Scale.zValue(pmod(col("l_partkey"), lit(256L)),
          pmod(col("l_suppkey"), lit(256L)), 8).as("zval"))
    },

    // Range-layout prune simulator — the MEASUREMENT behind the layout
    // family: layout_zvalue/hilbert produce clustering keys, this
    // quantifies what a candidate sort key actually buys a ship-date
    // predicate in row-group skipping. Each candidate key is range-
    // bucketed into ~1000-row groups (equal-WIDTH value buckets — a
    // sorted parquet table IS a range partitioning; no global
    // row_number, so no single-task window at any scale) and each
    // bucket keeps its ship-date min/max: avg_span_days is the
    // clustering factor, prune_frac the fraction of row groups a
    // March-1998 window skips via min/max stats. On the driver tables
    // sorting by l_shipdate prunes ~97% while l_orderkey/l_partkey
    // prune NOTHING (this generator draws dates independently of keys
    // — unlike classic TPC-H, and exactly the fact an advisor must
    // measure, not assume). Shape history: the r13 one-scan explode
    // variants measured 2× worse than three per-candidate pipelines —
    // but that predated the long-fast-path bucket arithmetic, which
    // moved the bottleneck off the per-row kernel; re-measured in r16
    // the explode single pass WINS (see the in-query comment).
    "layout_prune_sim" -> { (s, dir) =>
      val epoch = java.time.LocalDate.of(1992, 1, 1)
      val predLo = java.time.temporal.ChronoUnit.DAYS.between(
        epoch, java.time.LocalDate.of(1998, 3, 1))
      val predHi = java.time.temporal.ChronoUnit.DAYS.between(
        epoch, java.time.LocalDate.of(1998, 3, 31))
      val li = Tables.lineitem(s, dir)
      // SINGLE grouped pass over all three candidates (r16 second half,
      // the VERDICT-#5 A/B finally run): each row posexplodes into its
      // three (slot, key) legs and ONE (slot, bucket) hash-agg replaces
      // the three per-candidate passes. Interleaved 4-way A/B at sf0.1:
      // the r15/r16 repartition+checkpoint branch was itself the regression
      // (3-pass checkpointed 2.0–2.4 s vs 0.84 s for the same 3 passes
      // straight off column-pruned scans), and the single pass lands at
      // 0.93–1.01 s while halving the scan count — 2 narrow scans
      // (stats + explode) vs 4 — which is the better 100 TB shape on
      // any scan-bound cluster. The r13 "explode 2× worse" measurement
      // predated the long-fast-path bucket arithmetic; post-fix the
      // Generate overhead is far below two extra scans. Bucket ids via
      // exact DECIMAL floor-div with the row-independent long fast path
      // (the fdiv width rule, unchanged).
      val keyed = li.select(
        datediff(col("l_shipdate").cast("date"),
          lit("1992-01-01").cast("date")).cast("long").as("k1"),
        col("l_orderkey").cast("long").as("k2"),
        col("l_partkey").cast("long").as("k3"))
      val stats = broadcast(keyed.agg(
        min(col("k1")).as("mn1"), max(col("k1")).as("mx1"),
        min(col("k2")).as("mn2"), max(col("k2")).as("mx2"),
        min(col("k3")).as("mn3"), max(col("k3")).as("mx3"),
        count(lit(1)).as("n")))
      val expl = keyed.select(col("k1").as("d"),
        posexplode(array(col("k1"), col("k2"), col("k3")))
          .as(Seq("slot", "k")))
      val perBucket = expl.crossJoin(stats)
        .withColumn("mn", element_at(
          array(col("mn1"), col("mn2"), col("mn3")), col("slot") + 1))
        .withColumn("mx", element_at(
          array(col("mx1"), col("mx2"), col("mx3")), col("slot") + 1))
        .withColumn("nb", greatest(lit(1L), expr("n DIV 1000")))
        // (k−mn)·nb needs DECIMAL only when it can exceed a long — a
        // row-INDEPENDENT condition of the broadcast stats (mx−mn and
        // nb are per-candidate constants), so the common case is pure
        // long multiply + integral divide instead of three BigDecimal
        // ops per row (r16: the decimal kernel was 42 µs/row and the
        // whole query's bottleneck; values are identical on both
        // branches wherever the guard admits the long path).
        .withColumn("bucket", when(
          col("mx") - col("mn") <=
            call_function("div", lit(Long.MaxValue), col("nb")),
          graft.ops.Stats.fdiv((col("k") - col("mn")) * col("nb"),
            col("mx") - col("mn") + 1))
          .otherwise(graft.ops.Stats.fdiv(
            (col("k") - col("mn")).cast("decimal(38,0)") *
              col("nb").cast("decimal(38,0)"),
            (col("mx") - col("mn") + 1).cast("decimal(38,0)"))))
        .groupBy(col("slot"), col("bucket"))
        .agg(min(col("d")).as("dmn"), max(col("d")).as("dmx"),
          count(lit(1)).as("cnt_rows"))
      val perSlot = perBucket.groupBy(col("slot"))
        .agg(count(lit(1)).as("n_buckets"),
          sum(col("cnt_rows")).as("n_rows"),
          sum(col("dmx") - col("dmn")).as("span_sum"),
          sum(when(col("dmn") <= lit(predHi) && col("dmx") >= lit(predLo),
            1L).otherwise(0L)).as("n_overlap"))
        .select(col("slot"), col("n_buckets"), col("n_rows"),
          graft.ops.TimeSeries.portableRound4(
            col("span_sum").cast("double") /
              col("n_buckets").cast("double")).as("avg_span_days"),
          graft.ops.TimeSeries.portableRound4(
            lit(1.0) - col("n_overlap").cast("double") /
              col("n_buckets").cast("double")).as("prune_frac"))
      // Backfill the 3-slot frame (the sim_nprobe_sweep rule): on an
      // empty lineitem no slot survives the groupBy, while the oracle's
      // ungrouped per-candidate aggregate still emits one row each —
      // n_buckets 0, every other figure NULL. One split, so the plan
      // does not vary with the session's default parallelism.
      s.range(0, 3, 1, 1).select(col("id").cast("int").as("slot"))
        .join(broadcast(perSlot), Seq("slot"), "left")
        .select(
          element_at(array(lit("l_shipdate"), lit("l_orderkey"),
            lit("l_partkey")), col("slot") + 1).as("sort_key"),
          coalesce(col("n_buckets"), lit(0L)).as("n_buckets"),
          col("n_rows"), col("avg_span_days"), col("prune_frac"))
    },

    // Hilbert clustering value — Z-order's better-locality sibling
    // (consecutive indices are ALWAYS grid-adjacent; Z jumps 2^k cells
    // at quadrant seams, so Hilbert-range files bound each file's
    // two-column extent tighter and range scans skip more files). One
    // static JVM loop per row inside whole-stage codegen
    // (functions.HilbertIndex); the oracle replays the same public
    // xy2d algorithm as 8 chained CTE stages.
    "layout_hilbert" -> { (s, dir) =>
      Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_linenumber"),
        graft.functions.HilbertIndex(pmod(col("l_partkey"), lit(256L)),
          pmod(col("l_suppkey"), lit(256L)), 8).as("hval"))
    }
  )

  private val ProfileCols =
    Seq("l_orderkey", "l_partkey", "l_returnflag", "l_linestatus")
  // integer/string columns only: double/timestamp renderings are not
  // engine-portable through the VARCHAR cast the profiler hashes
  private val DocProfileCols = Seq("doc_id", "lang", "source", "n_chars")
  private val EventProfileCols = Seq("event_id", "user_id", "event_type")

  /** One UNION ALL block per profiled column, replaying the KMV recipe
    * (`agg_kmv` oracle) plus count/nulls/min/max with string casts.
    * Profiled columns must string-cast IDENTICALLY in both engines
    * (integers/strings — not doubles or timestamps, whose renderings
    * can differ). */
  private def profileOracle(table: String, cols: Seq[String], k: Int): String =
    cols.map { c =>
      s"""SELECT '$c' AS col_name,
         |  (SELECT count(*) FROM $table) AS n,
         |  (SELECT count(*) FROM $table WHERE $c IS NULL) AS n_null,
         |  (SELECT CAST(CASE WHEN max(nd) < $k THEN max(nd)
         |     ELSE round(${k - 1}.0 / (max(CASE WHEN rn = $k THEN hv END) / 4294967296.0))
         |     END AS BIGINT)
         |   FROM (SELECT hv, row_number() OVER (ORDER BY hv) AS rn,
         |           count(*) OVER () AS nd
         |         FROM (SELECT DISTINCT
         |             CAST(('0x'||substr(md5(CAST($c AS VARCHAR)),1,8)) AS BIGINT) AS hv
         |           FROM $table
         |           WHERE $c IS NOT NULL))) AS distinct_est,
         |  (SELECT CAST(min($c) AS VARCHAR) FROM $table) AS min_s,
         |  (SELECT CAST(max($c) AS VARCHAR) FROM $table) AS max_s""".stripMargin
    }.mkString("\nUNION ALL\n")

  val oracles: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "topk_per_cust" ->
      """SELECT o_custkey, CAST(rank AS INT) AS rank, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
        |  FROM orders)
        |WHERE rank <= 3""".stripMargin,
    "profile_lineitem" -> profileOracle("lineitem", ProfileCols, 128),
    "profile_documents" ->
      profileOracle("documents", DocProfileCols, 128),
    "profile_events" -> profileOracle("events", EventProfileCols, 128),
    "layout_prune_sim" -> {
      val epoch = java.time.LocalDate.of(1992, 1, 1)
      val lo = java.time.temporal.ChronoUnit.DAYS.between(
        epoch, java.time.LocalDate.of(1998, 3, 1))
      val hi = java.time.temporal.ChronoUnit.DAYS.between(
        epoch, java.time.LocalDate.of(1998, 3, 31))
      def cand(name: String, keyExpr: String): String =
        s"""SELECT '$name' AS sort_key, n_buckets, n_rows,
           |  round(CAST(span_sum AS DOUBLE) / CAST(n_buckets AS DOUBLE)
           |    * 10000) / 10000 AS avg_span_days,
           |  round((1.0 - CAST(n_overlap AS DOUBLE)
           |    / CAST(n_buckets AS DOUBLE)) * 10000) / 10000 AS prune_frac
           |FROM (
           |  SELECT CAST(count(*) AS BIGINT) AS n_buckets,
           |    CAST(sum(cnt_rows) AS BIGINT) AS n_rows,
           |    CAST(sum(dmx - dmn) AS BIGINT) AS span_sum,
           |    CAST(sum(CASE WHEN dmn <= $hi AND dmx >= $lo THEN 1
           |      ELSE 0 END) AS BIGINT) AS n_overlap
           |  FROM (
           |    SELECT CAST(CAST(base.k - b.mn AS HUGEINT)
           |        * greatest(1, b.n // 1000)
           |        // CAST(b.mx - b.mn + 1 AS HUGEINT) AS BIGINT) AS bucket,
           |      min(d) AS dmn, max(d) AS dmx,
           |      CAST(count(*) AS BIGINT) AS cnt_rows
           |    FROM (SELECT $keyExpr AS k,
           |        CAST(date_diff('day', DATE '1992-01-01',
           |          CAST(l_shipdate AS DATE)) AS BIGINT) AS d
           |      FROM lineitem) base,
           |      (SELECT min(k) AS mn, max(k) AS mx,
           |          CAST(count(*) AS BIGINT) AS n
           |       FROM (SELECT $keyExpr AS k FROM lineitem)) b
           |    GROUP BY 1))""".stripMargin
      val sd = "CAST(date_diff('day', DATE '1992-01-01', " +
        "CAST(l_shipdate AS DATE)) AS BIGINT)"
      Seq(cand("l_shipdate", sd), cand("l_orderkey", "l_orderkey"),
        cand("l_partkey", "l_partkey")).mkString("\nUNION ALL\n")
    },
    "validate_lineitem" ->
      """SELECT 'quantity_positive' AS rule,
        |  (SELECT count(*) FROM lineitem WHERE l_quantity <= 0) AS n_violations
        |UNION ALL SELECT 'discount_range',
        |  (SELECT count(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 1)
        |UNION ALL SELECT 'shipdate_not_null',
        |  (SELECT count(*) FROM lineitem WHERE l_shipdate IS NULL)
        |UNION ALL SELECT 'returnflag_domain',
        |  (SELECT count(*) FROM lineitem WHERE l_returnflag NOT IN ('A','N','R'))
        |UNION ALL SELECT 'orderkey_fk',
        |  (SELECT count(*) FROM lineitem l
        |   WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |UNION ALL SELECT 'quantity_le_45',
        |  (SELECT count(*) FROM lineitem WHERE l_quantity > 45)""".stripMargin,
    "validate_documents" ->
      """SELECT 'text_not_empty' AS rule,
        |  (SELECT count(*) FROM documents
        |   WHERE text IS NULL OR length(text) = 0) AS n_violations
        |UNION ALL SELECT 'n_chars_consistent',
        |  (SELECT count(*) FROM documents WHERE n_chars <> length(text))
        |UNION ALL SELECT 'lang_domain',
        |  (SELECT count(*) FROM documents
        |   WHERE lang NOT IN ('de','en','es','fr','zh'))
        |UNION ALL SELECT 'source_not_null',
        |  (SELECT count(*) FROM documents WHERE source IS NULL)
        |UNION ALL SELECT 'doc_id_unique',
        |  (SELECT count(*) FROM (SELECT doc_id FROM documents
        |   GROUP BY doc_id HAVING count(*) > 1))""".stripMargin,
    "validate_events" ->
      """SELECT 'event_id_unique' AS rule,
        |  (SELECT count(*) FROM (SELECT event_id FROM events
        |   GROUP BY event_id HAVING count(*) > 1)) AS n_violations
        |UNION ALL SELECT 'ts_not_null',
        |  (SELECT count(*) FROM events WHERE ts IS NULL)
        |UNION ALL SELECT 'ts_not_future',
        |  (SELECT count(*) FROM events
        |   WHERE ts > TIMESTAMP '2025-01-01 00:00:00')
        |UNION ALL SELECT 'type_domain',
        |  (SELECT count(*) FROM events WHERE event_type IS NULL
        |   OR event_type NOT IN
        |   ('view','click','cart','purchase','signup','error'))
        |UNION ALL SELECT 'value_non_negative',
        |  (SELECT count(*) FROM events WHERE value IS NULL OR value < 0)
        |UNION ALL SELECT 'user_not_null',
        |  (SELECT count(*) FROM events WHERE user_id IS NULL)""".stripMargin,
    "validate_embeddings" ->
      """SELECT 'vec_id_unique' AS rule,
        |  (SELECT count(*) FROM (SELECT vec_id FROM embeddings
        |   GROUP BY vec_id HAVING count(*) > 1)) AS n_violations
        |UNION ALL SELECT 'embedding_not_null',
        |  (SELECT count(*) FROM embeddings WHERE embedding IS NULL)
        |UNION ALL SELECT 'dim_uniform',
        |  (SELECT count(*) FROM embeddings
        |   WHERE len(embedding) <> (SELECT min(len(embedding))
        |                            FROM embeddings))
        |UNION ALL SELECT 'no_nan_component',
        |  (SELECT count(*) FROM embeddings
        |   WHERE len(list_filter(embedding,
        |     x -> isnan(CAST(x AS DOUBLE)))) > 0)
        |UNION ALL SELECT 'no_zero_norm',
        |  (SELECT count(*) FROM embeddings
        |   WHERE len(list_filter(embedding, x -> x <> 0)) = 0)""".stripMargin,

    "layout_zvalue" -> {
      val z = (0 until 8).flatMap(i => Seq(
        s"(((l_partkey % 256) >> $i & 1) << ${2 * i})",
        s"(((l_suppkey % 256) >> $i & 1) << ${2 * i + 1})")).mkString(" | ")
      s"SELECT l_orderkey, l_linenumber, CAST($z AS BIGINT) AS zval FROM lineitem"
    },
    // the same xy2d bit algorithm, threaded through 8 CTE stages
    "layout_hilbert" -> {
      val keep = Seq("l_orderkey", "l_linenumber")
      s"""WITH h0 AS (SELECT l_orderkey, l_linenumber,
         |    CAST(0 AS BIGINT) AS hd,
         |    l_partkey % 256 AS hx, l_suppkey % 256 AS hy
         |  FROM lineitem),
         |${graft.functions.HilbertIndex.sqlCtes(8, "h0", keep)}
         |SELECT l_orderkey, l_linenumber, CAST(hd AS BIGINT) AS hval
         |FROM h8""".stripMargin
    }
  )
}
