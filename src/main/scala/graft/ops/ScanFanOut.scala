package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Crc32, Expression, HigherOrderFunction, Md5, RegExpExtractBase, RegExpReplace, Sha1, Sha2, UserDefinedExpression, aggregate}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight, JoinSelectionHelper}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, MapType, StringType}

/** Scale-adaptive scan fan-out as one optimizer rule (guide §2.5 "input
  * skew": one huge unsplittable file → repartition immediately after the
  * read).
  *
  * A parquet scan charges each file openCostInBytes (4 MiB) when packing
  * splits, and a file never splits below a row group — so when a fact
  * table's bytes are under slots × 4 MiB the scan runs on a handful of
  * tasks (one, for a single-row-group file) while the other slots idle.
  * Fan-out hash-partitions such a scan on the table's stable id
  * ([[FanOutKeys]]: deterministic under retry, unlike round-robin, so
  * results are bit-identical), right above its column pruning and pushed
  * filters. The exchange pays only when the work between the scan and the
  * first shuffle above it is worth spreading, so the rule fires on a small
  * fact-table scan when:
  *  - a per-row kernel whose work grows with the row's values runs before
  *    that first shuffle: a `Generate` over a variable-length column or a
  *    kernel, a typed lambda, a higher-order function, a regex
  *    replace/extract, a cryptographic hash, an exact percentile, or a
  *    `graft.functions` native expression or UDF over a variable-length
  *    value (string, binary, array, map) — shingling, char/gram explodes, image decode, md5
  *    sketches, DP kernels: measured 1.1–2.5 s single-task stages at sf0.1
  *    (OPTIMIZATION_r15.md). Over fixed-width values a kernel does
  *    constant work per row, no more than the exchange's own
  *    (layout_hilbert: 0.22 → 0.43 s with fan-out); or
  *  - the scan feeds an equi-join keyed on the stable ids of both sides,
  *    and the first shuffle above the join is an aggregate grouped by that
  *    key, which the fan-out partitioning already satisfies: the join and
  *    both aggregates then run at the fan-out width with no exchange of
  *    their own (q21_waiting: 1.42–1.65 s warm without, 0.93–1.02 s with).
  * It decides per scan: a table the plan reads more than once is fanned
  * only at the scans that feed such work, and its other scans read the
  * file directly instead of paying an exchange each (layout_prune_sim,
  * every scan fanned: 3.0 → 5.2 s). It never fires on a
  * broadcast side, or where the first shuffle is keyed differently and
  * nothing heavy runs before it (join_interval: 2.4 → 3.7 s; q1_agg's
  * partial aggregate gains nothing).
  *
  * Inert unless `spark.graft.scan.fanout` is `true` (the timed mains and
  * Verify set it; library sessions and specs leave it off), and at or
  * above [[FanOutMaxBytes]]: past it the scan fills the cluster by itself,
  * so at 100 TB no shuffle of table bytes is ever introduced.
  * [[Tables.table]] installs the rule into each session it reads with. */
object ScanFanOut extends Rule[LogicalPlan] with JoinSelectionHelper {

  /** The fact tables' stable ids — the deterministic hash fan-out keys. */
  private val FanOutKeys = Map(
    "lineitem" -> "l_orderkey", "orders" -> "o_orderkey",
    "customer" -> "c_custkey", "documents" -> "doc_id",
    "embeddings" -> "vec_id", "events" -> "event_id")

  /** Fan-out is inert at or above this table size (≥ 32 scan tasks at the
    * default 4 MiB openCostInBytes charge). A parallelism-INDEPENDENT
    * constant, so the oracle gate (Verify) takes the same per-table
    * decision as the timed bench at any core count. */
  private val FanOutMaxBytes = 128L * 1024 * 1024

  /** Bytes per fan-out task (compressed parquet): the width fills cores in
    * proportion to the table's bytes and converges to the default
    * parallelism as data grows. At 32 slots a 0.6 MB table fanned 32 ways
    * is ~19 KB/task and scheduling overhead beats the parallelism (r15
    * scaling block); 64 KiB of parquet is enough work per task for the
    * kernels fan-out exists for (OPTIMIZATION_r16.md). */
  private val FanOutTaskBytes = 64L * 1024

  /** Adds this rule to the session's optimizer once; safe to call on
    * every read. */
  def install(spark: SparkSession): Unit = spark.experimental.synchronized {
    val x = spark.experimental
    if (!x.extraOptimizations.contains(this)) x.extraOptimizations :+= this
  }

  /** What sits above a plan node up to the first shuffle over it: whether
    * a per-row kernel runs in between, the grouping keys of that shuffle
    * when it is an aggregate, and the key of a stable-id join that this
    * node feeds, when that join's output feeds such an aggregate. */
  private final case class Above(kernel: Boolean = false,
      keys: Seq[Expression] = Nil, stableJoin: Option[Expression] = None)

  def apply(plan: LogicalPlan): LogicalPlan =
    if (conf.getConfString("spark.graft.scan.fanout", "false") != "true" ||
        plan.isInstanceOf[Subquery]) plan
    else fan(plan, Above())

  private def fan(p: LogicalPlan, up: Above): LogicalPlan = p match {
    case RepartitionByExpression(Seq(k: Attribute), FactScan(key, _), _, _)
      if k.semanticEquals(key) => p
    case FactScan(key, w) if (up.kernel ||
        up.stableJoin.exists(_.semanticEquals(key)) ||
        p.exists(_.expressions.exists(hasKernel))) =>
      def fanned(c: LogicalPlan) =
        if (c.outputSet.contains(key)) RepartitionByExpression(Seq(key), c, Some(w), None) else c
      // the read, its pushed filters and its column pruning go below the
      // exchange; computed columns run above it
      def pure(n: LogicalPlan) = n.collectFirst {
        case Project(list, _) if !list.forall(_.isInstanceOf[Attribute]) => }.isEmpty
      def read(keep: AttributeSet, n: LogicalPlan) = {
        val c = n match { case Project(_, c) => c case _ => n }
        if (c.outputSet.subsetOf(keep)) c else Project(c.output.filter(keep.contains), c)
      }
      def place(n: LogicalPlan): LogicalPlan = n match {
        case _ if pure(n) && n.outputSet.contains(key) => fanned(n)
        case _ if pure(n) => Project(n.output, fanned(read(n.outputSet + key, n)))
        case u: UnaryNode if pure(u.child) => u.withNewChildren(Seq(fanned(read(u.references + key, u.child))))
        case u: UnaryNode => u.withNewChildren(Seq(place(u.child)))
      }
      place(p)
    case j @ ExtractEquiJoinKeys(_, lk, rk, _, _, l, r, _) =>
      // a stable-id join fans both sides, broadcast or not, so the
      // decision does not flip with the statistics
      val stable = lk.size == 1 && (lk ++ rk).forall {
        case a: Attribute => FanOutKeys.values.exists(_ == a.name) case _ => false
      } && up.keys.exists(g => (lk ++ rk).exists(_.semanticEquals(g)))
      val build = getBroadcastBuildSide(j, hintOnly = true, conf)
        .orElse(getBroadcastBuildSide(j, hintOnly = false, conf))
      def side(keys: Seq[Expression], isBuild: Boolean) =
        if (stable) Above(stableJoin = keys.headOption)
        else if (build.isDefined && !isBuild) up
        else Above()
      j.withNewChildren(Seq(fan(l, side(lk, build.contains(BuildLeft))),
        fan(r, side(rk, build.contains(BuildRight)))))
    case a: Aggregate => a.mapChildren(fan(_, Above(keys = a.groupingExpressions,
      kernel = a.aggregateExpressions.exists(hasKernel))))
    case g: Generate => p.mapChildren(fan(_, up.copy(kernel = up.kernel ||
      g.generator.references.exists(a => varLength(a.dataType)) || hasKernel(g.generator))))
    case _: MapElements | _: MapPartitions | _: AppendColumns | _: TypedFilter =>
      p.mapChildren(fan(_, up.copy(kernel = true)))
    case _: Project | _: Filter =>
      p.mapChildren(fan(_, up.copy(kernel = up.kernel || p.expressions.exists(hasKernel))))
    case _: Union | _: SubqueryAlias | _: LocalLimit | _: Sample | _: Expand |
         _: SerializeFromObject | _: DeserializeToObject | _: ResolvedHint |
         _: WindowGroupLimit => p.mapChildren(fan(_, up))
    case _ => p.mapChildren(fan(_, Above()))
  }

  /** A fact-table read under [[FanOutMaxBytes]], with the Project/Filter
    * chain the planner folds into its parquet scan: the table's path, its
    * stable id and its fan-out width (its bytes at [[FanOutTaskBytes]] a
    * task, at most the default parallelism). */
  private object FactScan {
    def unapply(p: LogicalPlan): Option[(Attribute, Int)] = p match {
      case _: Project | _: Filter => unapply(p.children.head)
      case r @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
          if fs.location.rootPaths.size == 1 =>
        val path = fs.location.rootPaths.head
        for {
          k <- FanOutKeys.get(path.getName.stripSuffix(".parquet"))
          key <- r.output.find(_.name == k)
          bytes = fs.location.sizeInBytes if bytes < FanOutMaxBytes
        } yield (key, math.min(fs.sparkSession.sparkContext.defaultParallelism,
          math.max(2L, (bytes + FanOutTaskBytes - 1) / FanOutTaskBytes)).toInt)
      case _ => None
    }
  }

  /** A per-row kernel whose work grows with the row's values: a
    * higher-order function (a lambda per array element), a regex
    * replace/extract, a cryptographic hash, an exact percentile (its
    * buffer holds every value), or a UDF or `graft.functions` native
    * expression over a variable-length value. */
  private def hasKernel(e: Expression): Boolean = e.exists {
    case _: HigherOrderFunction | _: RegExpReplace | _: RegExpExtractBase |
         _: Md5 | _: Sha1 | _: Sha2 | _: Crc32 | _: aggregate.Percentile => true
    case x: UserDefinedExpression => x.children.exists(c => varLength(c.dataType))
    case x => x.getClass.getName.startsWith("graft.functions.") &&
      x.children.exists(c => varLength(c.dataType))
  }

  private def varLength(t: DataType): Boolean = t match {
    case _: StringType | _: BinaryType | _: ArrayType | _: MapType => true case _ => false }
}
