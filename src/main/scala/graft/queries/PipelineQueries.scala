package graft.queries

import org.apache.spark.sql.functions._
import graft.model.Tags
import graft.ops.{MapOps, Routing, Tables, Transform}

/** Row shape for the typed batch-map example (top-level so the generated
  * deserializer can access it — nested private classes break codegen). */
final case class Doc(doc_id: Long, text: String)

/** Batch-checkable analogs of the reference's transformer / map / routing
  * operators (SURVEY §2.2-2.4), each driving the graft.ops library. */
object PipelineQueries extends QueryPack {

  val queries: Map[String, Q] = Map(

    // T1a: source-side filter (transformer emits 0 results = filter).
    "t1_filter" -> { (s, dir) =>
      Transform.filterAtSource(
        Tables.events(s, dir).select("event_id", "user_id", "event_type", "value"),
        col("event_type") === "click")
    },

    // T1b: event-time re-assignment (the event-time extractor role).
    "t1_eventtime" -> { (s, dir) =>
      Transform.assignEventTime(
        Tables.events(s, dir).select("event_id", "ts"),
        "ts", col("ts") + expr("INTERVAL 5 SECONDS"))
        .withColumnRenamed("ts", "ts_adj")
    },

    // M1: projection + per-row scalar math (unary map as a Catalyst plan).
    "m1_project" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
    },

    // M1 flat-map: 1→N expansion (explode stays inside codegen).
    "m1_flatmap" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    },

    // M2: batch map via mapPartitions (per-partition amortized UDF call).
    "m2_batchmap" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir).select("doc_id", "text").as[Doc]
      MapOps.batch(docs) { it =>
        it.map(d => (d.doc_id, d.text.split(" ").length.toLong))
      }.toDF("doc_id", "n_tokens")
    },

    // M4: DROP-tag discard through the tag router.
    "m4_drop" -> { (s, dir) =>
      val tagged = Tables.events(s, dir)
        .select("event_id", "user_id", "event_type", "value")
        .withColumn("tags",
          array(when(col("event_type") === "error", lit(Tags.Drop)).otherwise(lit("keep"))))
      Routing.dropTagged(tagged).drop("tags")
    },

    // R1: conditional forwarding — even/odd router (mirrors the reference's
    // examples/2-even-odd-pipeline.yaml). Both children of one tagged parent.
    "r1_router_even" -> { (s, dir) => routed(s, dir)("even") },
    "r1_router_odd" -> { (s, dir) => routed(s, dir)("odd") },

    // R3: fan-in of the two branches (UNION ALL back together).
    "r3_union" -> { (s, dir) =>
      val branches = routed(s, dir)
      Routing.fanIn(Seq(branches("even"), branches("odd")))
    },

    // X2: effectively-once by message id — batch twin of
    // dropDuplicatesWithinWatermark (duplicates injected by self-union,
    // mirroring an ISB redelivery).
    "x2_dedup" -> { (s, dir) =>
      val e = Tables.events(s, dir).select("event_id", "user_id", "event_type")
      graft.ops.Dedup.byId(e.unionAll(e), Seq("event_id"))
    },

    // W4 batch twin: the accumulator vertex compiled with streaming=false
    // degenerates to per-key event-time ordering (end-of-input watermark
    // releases everything) — rows pass through unchanged, which is what
    // the oracle checks; ordering itself is asserted in
    // AccumulatorWindowSpec (the driver's compare is order-insensitive).
    "w4_accumulator" -> { (s, dir) =>
      import graft.model.Pipeline._
      val src = Tables.events(s, dir).select("event_id", "user_id", "ts")
      val spec = PipelineSpec(
        vertices = Seq(
          SourceV("in", src, "ts"),
          ReduceV("sorter", GroupBySpec(Accumulator("1 minute"), Seq("user_id"), Seq.empty)),
          SinkV("out")),
        edges = Seq(Edge("in", "sorter"), Edge("sorter", "out")))
      graft.streaming.Compiler.compile(spec, streaming = false)("out")
    },

    // R6: set ops declared for engine parity (absent in the reference).
    "r6_intersect" -> { (s, dir) =>
      val e = Tables.events(s, dir)
      e.where(col("event_type") === "click").select(col("user_id"))
        .intersect(e.where(col("event_type") === "purchase").select(col("user_id")))
    },
    "r6_except" -> { (s, dir) =>
      val e = Tables.events(s, dir)
      e.where(col("event_type") === "view").select(col("user_id"))
        .except(e.where(col("event_type") === "signup").select(col("user_id")))
    },
    // UNION DISTINCT — completes the set-op surface (ALL ≡ r3_union).
    "r6_union_distinct" -> { (s, dir) =>
      val e = Tables.events(s, dir)
      e.where(col("event_type") === "click").select(col("user_id"))
        .union(e.where(col("event_type") === "signup").select(col("user_id")))
        .distinct()
    }
  )

  /** One tagged parent, two conditional out-edges (Routing.route). */
  private def routed(s: org.apache.spark.sql.SparkSession, dir: String)
      : Map[String, org.apache.spark.sql.DataFrame] = {
    val tagged = Tables.events(s, dir)
      .select("event_id", "event_type", "value")
      .withColumn("tags",
        array(when(col("event_id") % 2 === 0, "even").otherwise("odd")))
    Routing.route(tagged, Map(
      "even" -> Some(Routing.TagCondition(Seq("even"))),
      "odd"  -> Some(Routing.TagCondition(Seq("odd")))
    )).map { case (k, df) => k -> df.drop("tags") }
  }

  val oracles: Map[String, String] = Map(
    "t1_filter" ->
      "SELECT event_id, user_id, event_type, value FROM events WHERE event_type = 'click'",
    "t1_eventtime" ->
      "SELECT event_id, ts + INTERVAL 5 SECOND AS ts_adj FROM events",
    "m1_project" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1.0 - l_discount) AS revenue
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'""".stripMargin,
    "m1_flatmap" ->
      "SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents",
    "m2_batchmap" ->
      "SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents",
    "m4_drop" ->
      "SELECT event_id, user_id, event_type, value FROM events WHERE event_type <> 'error'",
    "r1_router_even" ->
      "SELECT event_id, event_type, value FROM events WHERE event_id % 2 = 0",
    "r1_router_odd" ->
      "SELECT event_id, event_type, value FROM events WHERE event_id % 2 <> 0",
    "r3_union" ->
      """SELECT event_id, event_type, value FROM events WHERE event_id % 2 = 0
        |UNION ALL
        |SELECT event_id, event_type, value FROM events WHERE event_id % 2 <> 0""".stripMargin,
    "x2_dedup" ->
      """SELECT DISTINCT event_id, user_id, event_type FROM (
        |  SELECT event_id, user_id, event_type FROM events
        |  UNION ALL SELECT event_id, user_id, event_type FROM events)""".stripMargin,
    "w4_accumulator" ->
      "SELECT event_id, user_id, ts FROM events",
    "r6_intersect" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'purchase'""".stripMargin,
    "r6_except" ->
      """SELECT user_id FROM events WHERE event_type = 'view'
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'signup'""".stripMargin,
    "r6_union_distinct" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        |UNION
        |SELECT user_id FROM events WHERE event_type = 'signup'""".stripMargin
  )
}
