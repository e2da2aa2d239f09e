package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.Tags

/** Tag-based conditional routing, fan-in and key shuffling (SURVEY §2.4).
  *
  * Mirrors the reference's per-edge forwarding semantics
  * (numaflow `rust/numaflow-core/src/shared/forward.rs:9-71`,
  * `pkg/apis/numaflow/v1alpha1/edge_types.go:76-114`): each out-edge has an
  * optional condition over the message's tags with operator `and|or|not`
  * (default `or`); a message with no matching condition is forwarded to all
  * unconditional edges; DROP-tagged messages are discarded.
  *
  * In Spark each out-edge becomes a filtered child plan of one parent. In
  * batch, Catalyst collapses the filters into the scan of a shared cached
  * parent; in streaming, `foreachBatch` evaluates all edges once per
  * micro-batch (see graft.streaming.Router) so the source is read once.
  */
object Routing {

  /** Per-edge forwarding condition (edge_types.go:76-114). */
  final case class TagCondition(values: Seq[String], operator: String = "or") {
    require(Seq("and", "or", "not").contains(operator), s"bad operator $operator")
  }

  /** Column predicate equivalent of forward.rs:9-28 `should_forward`. */
  def matches(tags: Column, cond: TagCondition): Column = cond.operator match {
    case "or"  => cond.values.map(v => array_contains(tags, v)).reduce(_ || _)
    case "and" => cond.values.map(v => array_contains(tags, v)).reduce(_ && _)
    case "not" => !cond.values.map(v => array_contains(tags, v)).reduce(_ || _)
  }

  /** Drop messages tagged with the DROP sentinel (message.rs:93,411-415). */
  def dropTagged(df: DataFrame, tagsCol: String = "tags"): DataFrame =
    df.where(!array_contains(col(tagsCol), Tags.Drop))

  /** Fan-out: one filtered child per conditional edge. Edges with no
    * condition receive everything (forward.rs: no conditions => forward). */
  def route(df: DataFrame, edges: Map[String, Option[TagCondition]],
            tagsCol: String = "tags"): Map[String, DataFrame] =
    edges.map { case (name, cond) =>
      name -> cond.fold(df)(c => df.where(matches(col(tagsCol), c)))
    }

  /** Fan-in (join vertex, R3): plain UNION ALL; streaming watermark becomes
    * the min across inputs, matching wm_fetcher.rs min-over-upstreams. */
  def fanIn(dfs: Seq[DataFrame]): DataFrame = dfs.reduce(_ unionByName _)
}
