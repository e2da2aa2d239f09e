package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Source transformer (SURVEY §2.2, T1/T2).
  *
  * The reference runs a transformer only at the source, before the ISB
  * write, so it can (a) re-assign event time — it is the event-time
  * extractor — (b) filter, (c) flat-map (numaflow
  * `rust/numaflow-core/src/transformer.rs:25-60`). The Spark translation of
  * "before the ISB write" is "before `withWatermark`": event-time rewrites
  * must happen upstream of the watermark column or late-data accounting is
  * wrong. These helpers exist to make that ordering explicit in pipelines.
  */
object Transform {

  /** (a) event-time assignment: replace/derive the event-time column. */
  def assignEventTime(df: DataFrame, tsCol: String, expr: Column): DataFrame =
    df.withColumn(tsCol, expr)

  /** (b) filter at source; dropping before the shuffle/ISB is the cheapest
    * place to shed data — Catalyst pushes this into the parquet scan. */
  def filterAtSource(df: DataFrame, pred: Column): DataFrame = df.where(pred)

  /** T2 late-data marking: the reference sets `is_late=true` at the source
    * when a message's event time is below the CURRENT source watermark =
    * max observed event time − maxDelay (numaflow `source.rs:726-729`); the
    * message still flows, the reducer decides. Spark has no in-plan
    * "current watermark" expression, so the marker runs per micro-batch in
    * foreachBatch: the watermark is carried across batches driver-side (the
    * same place the reference's source tracks it).
    *
    * The batch's max event time rides along as a `Dataset.observe` metric
    * on the caller's OWN write pass — no separate agg().collect() job, so
    * marking adds zero extra scans. Protocol per batch: `mark(batch)` →
    * run the terminal action on the returned frame → `commit()`. */
  final class LateMarker(tsCol: String, maxDelayMs: Long,
                         commitTimeoutMs: Long = 30000L) extends Serializable {
    @volatile private var maxSeenMs: Long = Long.MinValue
    private var pending: Option[org.apache.spark.sql.Observation] = None
    private var seq = 0L

    /** Flag `batch` against the watermark of PRIOR batches and attach the
      * batch-max observation. Call [[commit]] after the action. */
    def mark(batch: DataFrame): DataFrame = {
      val wm = if (maxSeenMs == Long.MinValue) Long.MinValue else maxSeenMs - maxDelayMs
      seq += 1
      val obs = org.apache.spark.sql.Observation(s"late-marker-$seq")
      pending = Some(obs)
      batch.observe(obs, max(unix_millis(col(tsCol))).as("max_ts"))
        .withColumn("is_late", unix_millis(col(tsCol)) < lit(wm))
    }

    /** Fold the batch max observed during the caller's action into the
      * cross-batch watermark state. Call it right after the write, exactly
      * once per mark. Waits at most `commitTimeoutMs` for the metric: if the
      * action on the marked frame never ran (an `if (!batch.isEmpty)` guard
      * skipped the write, or an exception was swallowed before it), the
      * observation never fires — an unbounded `Observation.get` here would
      * hang the streaming driver thread forever. On timeout the watermark is
      * left unchanged (conservative: subsequent rows mark no MORE late than
      * they should) and `commit()` returns false. */
    def commit(): Boolean = {
      val done = pending.forall { obs =>
        val deadline = System.nanoTime() + commitTimeoutMs * 1000000L
        // Non-blocking probe via the compiled graftcompat accessor
        // (None = not fired yet; Some(row) = fired, max_ts NULL for an
        // empty batch). The only public alternative, Observation.get,
        // blocks with no timeout — exactly the hang this commit path
        // avoids — and a compiled shim fails loudly at build time if a
        // Spark upgrade renames the internal, unlike reflection.
        def probe(): Option[org.apache.spark.sql.Row] =
          org.apache.spark.sql.graftcompat.ObservationCompat.rowOption(obs)
        var m = probe()
        while (m.isEmpty && System.nanoTime() < deadline) {
          Thread.sleep(50)
          m = probe()
        }
        m match {
          case Some(r) =>
            val i = r.schema.fieldIndex("max_ts")
            if (!r.isNullAt(i)) maxSeenMs = math.max(maxSeenMs, r.getLong(i))
            true
          case None => false // action never executed: leave maxSeenMs as-is
        }
      }
      pending = None
      done
    }
  }

  /** X3 ordered processing: FIFO per partition in ARRIVAL order (not event
    * time) — numaflow `docs/user-guide/reference/ordered-processing.md:
    * 10-47`: fixed partition count, keys pinned to partitions. Spark rows
    * are ordered within a partition already; this makes the contract
    * explicit: hash-pin keys to `n` partitions, then sort by the arrival
    * index (e.g. the source offset). One shuffle, then in-partition sort —
    * no global sort, so it scales like any keyed exchange. */
  def ordered(df: DataFrame, keyCols: Seq[Column], arrivalCol: Column,
              numPartitions: Int): DataFrame =
    df.repartition(numPartitions, keyCols: _*).sortWithinPartitions(arrivalCol)
}
