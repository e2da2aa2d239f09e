package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import graft.ops.Routing.TagCondition

/** Pipeline DSL — the engine's "query language".
  *
  * Mirrors the reference's CRD shape (numaflow
  * `pkg/apis/numaflow/v1alpha1/pipeline_types.go:495-532`: vertices +
  * edges + watermark; vertex types Source/Map/Reduce/Sink from
  * `vertex_types.go:51-54`; per-edge conditions `edge_types.go:21-34`;
  * GroupBy window spec `udf.go:96-167`) — but compiles to Structured
  * Streaming plans instead of pods+JetStream: vertex = plan stage, edge =
  * dataflow lineage, fan-in = union, fan-out = filtered children or a
  * foreachBatch router, ISB = shuffle/state store.
  */
object Pipeline {

  /** Window specs (udf.go:96-167). `streaming=true` = early firing
    * (update mode), the reference's fixed.streaming/sliding.streaming. */
  sealed trait WindowSpec
  final case class Fixed(length: String, streaming: Boolean = false) extends WindowSpec
  final case class Sliding(length: String, slide: String, streaming: Boolean = false) extends WindowSpec
  final case class Session(timeout: String) extends WindowSpec
  /** Per-key global window with idle-timeout close (udf.go:150-154);
    * compiled to flatMapGroupsWithState (see streaming.AccumulatorWindow). */
  final case class Accumulator(timeout: String) extends WindowSpec

  /** GroupBy spec: window + keyed + allowedLateness (udf.go:96-105).
    * Spark folds allowedLateness into the watermark delay (SURVEY W6). */
  final case class GroupBySpec(
      window: WindowSpec,
      keys: Seq[String],
      aggs: Seq[Column],
      allowedLateness: String = "0 seconds")

  sealed trait Vertex { def name: String }
  /** Source vertex: provides the input DataFrame (batch or streaming) plus
    * the event-time column and an optional transformer (T1: event-time
    * assignment/filter/flat-map BEFORE the watermark). */
  final case class SourceV(name: String, input: DataFrame, tsCol: String,
      transformer: Option[DataFrame => DataFrame] = None) extends Vertex
  /** Map vertex: arbitrary DataFrame transformation (M1-M3 family). */
  final case class MapV(name: String, fn: DataFrame => DataFrame) extends Vertex
  /** Reduce vertex: windowed aggregation over event time (W1-W5). */
  final case class ReduceV(name: String, groupBy: GroupBySpec) extends Vertex
  /** Sink vertex: terminal; the compiler returns its input DataFrame keyed
    * by sink name — callers attach writers (console/memory/parquet/custom
    * foreachBatch with retry/fallback, see streaming.Sinks). */
  final case class SinkV(name: String) extends Vertex

  /** Edge with optional tag condition (edge_types.go:21-34). */
  final case class Edge(from: String, to: String,
      condition: Option[TagCondition] = None)

  /** Watermark settings (pipeline_types.go:604-624): maxDelay is the
    * out-of-orderness bound. */
  final case class WatermarkSpec(maxDelay: String = "0 seconds")

  /** Per-pipeline ISB payload compression (reference
    * `pipeline/isb/compression.rs:11-113`: a pipeline-level field that
    * compresses every message payload crossing the ISB). Spark's ISB
    * analog is shuffle blocks + the streaming state store, so the field
    * maps onto the engine codecs that cover exactly those payloads:
    *
    *  - `spark.io.compression.codec` — shuffle/broadcast blocks. A core
    *    SparkConf: it binds at session BUILD, which matches the
    *    reference's granularity (one pipeline = one deployed app; the
    *    field is part of the pipeline's deployment, not mutable
    *    mid-stream).
    *  - `spark.sql.streaming.stateStore.compression.codec` — state rows;
    *    a runtime SQL conf, applied by `Compiler.applyCompression`.
    *
    * `Default` leaves both at engine defaults (the reference's `none`
    * means no EXTRA payload compression there too — Spark's own defaults
    * already compress shuffle). */
  sealed abstract class Compression(val codec: Option[String]) {
    /** The conf map for a session builder (full coverage). */
    def conf: Map[String, String] = codec.fold(Map.empty[String, String])(c => Map(
      "spark.io.compression.codec" -> c,
      "spark.sql.streaming.stateStore.compression.codec" -> c))
  }
  case object Default extends Compression(None)
  case object Lz4 extends Compression(Some("lz4"))
  case object Snappy extends Compression(Some("snappy"))
  case object Zstd extends Compression(Some("zstd"))

  final case class PipelineSpec(
      vertices: Seq[Vertex],
      edges: Seq[Edge],
      watermark: WatermarkSpec = WatermarkSpec(),
      compression: Compression = Default) {
    require(vertices.map(_.name).distinct.size == vertices.size, "duplicate vertex names")
    val byName: Map[String, Vertex] = vertices.map(v => v.name -> v).toMap
    def incoming(name: String): Seq[Edge] = edges.filter(_.to == name)
    def outgoing(name: String): Seq[Edge] = edges.filter(_.from == name)
  }
}
