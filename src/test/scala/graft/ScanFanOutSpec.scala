package graft

import java.io.RandomAccessFile
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, RepartitionByExpression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.ops.{ScanFanOut, Tables}

/** The scan fan-out rule: where it repartitions a small fact-table scan on
  * the table's stable id, where it leaves the plan alone, and that its
  * plans do not depend on the session's history. */
class ScanFanOutSpec extends SparkSpec {

  /** A fresh child session with fan-out on (or off). */
  private def session(on: Boolean = true): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.graft.scan.fanout", on.toString)
    s
  }

  /** Stable-id columns the plan repartitions on, sorted. */
  private def fanned(plan: LogicalPlan): Seq[String] =
    plan.collect {
      case RepartitionByExpression(Seq(a: Attribute), _, Some(_), _) => a.name
    }.sorted

  private def fanned(df: DataFrame): Seq[String] = fanned(df.queryExecution.optimizedPlan)

  private def query(s: SparkSession, name: String): DataFrame =
    SparkEntry.queries(name)(s, sf())

  test("fires where a per-row kernel sits above the scan: Generate, native expression, UDF") {
    val s = session()
    val docs = Tables.documents(s, sf())
    assert(fanned(docs.select(explode(split(col("text"), " ")))) === Seq("doc_id"))
    assert(fanned(docs.select(col("doc_id"),
      graft.functions.WordShingles(col("text"), 3).as("sh"))) === Seq("doc_id"))
    val len = udf((t: String) => t.length)
    assert(fanned(docs.groupBy(col("lang")).agg(sum(len(col("text"))))) === Seq("doc_id"))
    assert(fanned(docs.select(regexp_replace(col("text"), "[0-9]", "#"))) === Seq("doc_id"))
    // the plain read, and the same read with built-in per-row columns only
    assert(fanned(docs) === Nil)
    assert(fanned(docs.select(col("doc_id"), length(col("text")))) === Nil)
  }

  test("does not fire on a kernel over fixed-width values (the layout_hilbert shape)") {
    assert(fanned(query(session(), "layout_hilbert")) === Nil)
    val len = udf((n: Long) => n + 1)
    assert(fanned(Tables.documents(session(), sf()).select(len(col("n_chars")))) === Nil)
  }

  test("fires on q21_waiting: a stable-id join whose group-bys reuse its key") {
    assert(fanned(query(session(), "q21_waiting")) === Seq("l_orderkey", "o_orderkey"))
  }

  test("does not fire on q1_agg, join_interval, layout_prune_sim, or a light second read") {
    val s = session()
    assert(fanned(query(s, "q1_agg")) === Nil)
    assert(fanned(query(s, "join_interval")) === Nil)
    assert(fanned(query(s, "layout_prune_sim")) === Nil)
    val docs = Tables.documents(s, sf())
    val words = docs.select(explode(split(col("text"), " ")).as("w"))
    assert(fanned(words) === Seq("doc_id"))
    // a table read twice is fanned only where the work pays for it
    assert(fanned(words.union(docs.select(col("text").as("w")))) === Seq("doc_id"))
    assert(fanned(words.union(docs.select(explode(split(col("source"), "_")))))
      === Seq("doc_id", "doc_id"))
  }

  test("is the identity when spark.graft.scan.fanout is off") {
    val on = session()
    val off = session(on = false)
    for (q <- Seq("q21_waiting", "text_langid", "text_winnow")) {
      val df = query(off, q)
      val plan = df.queryExecution.optimizedPlan
      assert(fanned(plan) === Nil, q)
      assert(ScanFanOut(plan) eq plan, q)
      assert(fanned(query(on, q)).nonEmpty, q)
    }
  }

  test("is the identity at or above 128 MiB (sparse files, nothing written)") {
    val tmp = Files.createTempDirectory("fanoutgate")
    try {
      val schema = new StructType().add("doc_id", LongType).add("text", StringType)
      def plan(bytes: Long): Seq[String] = {
        val dir = Files.createDirectories(tmp.resolve(bytes.toString))
        val f = new RandomAccessFile(dir.resolve("documents.parquet").toFile, "rw")
        try f.setLength(bytes) finally f.close()
        val s = session()
        ScanFanOut.install(s)
        fanned(s.read.schema(schema).parquet(dir.resolve("documents.parquet").toString)
          .select(explode(split(col("text"), " "))))
      }
      val gate = 128L * 1024 * 1024
      assert(plan(gate - 1) === Seq("doc_id"))
      assert(plan(gate) === Nil)
      assert(plan(4 * gate) === Nil)
    } finally rmdirAll(tmp.toFile)
  }

  test("does not stack a second repartition when the optimizer re-runs") {
    val s = session()
    for (q <- Seq("q21_waiting", "text_langid")) {
      val plan = query(s, q).queryExecution.optimizedPlan
      val n = fanned(plan)
      assert(n.nonEmpty, q)
      assert(ScanFanOut(plan) === plan, q)
      assert(fanned(s.sessionState.optimizer.execute(plan)) === n, q)
    }
  }

  test("the same query gets the same plan first in a fresh session or after others") {
    def normalized(s: SparkSession, q: String): String =
      PlanAudit.normalize(query(s, q).queryExecution.optimizedPlan.toString)
    val first = session()
    val q21 = normalized(first, "q21_waiting")
    val langid = normalized(session(), "text_langid")
    val busy = session()
    Seq("q1_agg", "text_tfidf", "join_interval", "q5_region")
      .foreach(q => query(busy, q).queryExecution.optimizedPlan)
    assert(normalized(busy, "q21_waiting") === q21)
    assert(normalized(busy, "text_langid") === langid)
  }
}
