package graft.streaming

import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.UdSource.{GraftSource, SourceRecord}

/** Pipeline lifecycle: pause-with-drain (reference
  * `pkg/apis/numaflow/v1alpha1/pipeline_types.go:444-493`). Pausing
  * there is NOT a hard stop: the controller first scales the SOURCE
  * vertices to zero (intake stops), lets in-flight messages drain through
  * the DAG to the sinks within a grace deadline, then scales everything
  * down; resume brings the phase back to Running. The Spark analog:
  * close an intake gate in front of the source (new arrivals buffer but
  * are not exposed as offsets), keep the streaming query running until
  * every EXPOSED offset is acked (= its micro-batch committed to the
  * sinks), then `query.stop()` — the checkpoint is the paused state.
  * Resume reopens the gate and restarts from the checkpoint; nothing
  * replays, nothing is lost (ConnectorsSpec X7 covers the
  * checkpoint half; LifecycleSpec covers the drain half). */
object Lifecycle {

  /** Intake gate over any [[GraftSource]]: open = passthrough; closed =
    * `latestOffset` freezes at its close-time value, so the engine sees
    * no new data while producers keep appending to the inner source's
    * buffer (the reference's scaled-to-zero source: the broker still
    * accumulates). Tracks the per-partition ack floor to answer the
    * drain question "has everything exposed reached the sinks?". */
  final class GatedSource(inner: GraftSource) extends GraftSource {
    @volatile private var frozen: Option[Map[Int, Long]] = None
    private val ackFloor = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

    def closeGate(): Unit =
      frozen = Some(inner.partitions.map(p => p -> inner.latestOffset(p)).toMap)
    def openGate(): Unit = frozen = None

    /** Closed-gate BROKER-visible drain: every offset exposed before the
      * gate closed has been ACKED back to the inner source. NOTE the
      * engine acks a micro-batch when it constructs the NEXT batch
      * (DSv2 `commit` timing), so after a pause this floor lags the
      * final batch until resume — [[Lifecycle.pauseWithDrain]] therefore
      * decides drain on the ENGINE side (sink + commit log, via
      * `processAllAvailable`), which is the recoverable guarantee; the
      * ack floor catches up on the resumed query's first planning pass. */
    def drained: Boolean = frozen.exists(_.forall { case (p, o) =>
      Option(ackFloor.get(p)).map(_.longValue).getOrElse(0L) >= o
    })

    def partitions: Seq[Int] = inner.partitions
    def latestOffset(p: Int): Long = frozen match {
      case Some(f) => f.getOrElse(p, 0L)
      case None => inner.latestOffset(p)
    }
    def read(p: Int, from: Long, until: Long): Iterator[SourceRecord] =
      inner.read(p, from, until)
    def ack(p: Int, upTo: Long): Unit = {
      ackFloor.merge(p, Long.box(upTo),
        (a, b) => Long.box(math.max(a.longValue, b.longValue)))
      inner.ack(p, upTo)
    }
    /** While the gate is closed, pending reports the UNDRAINED exposed
      * backlog (the number the drain loop and ops watch); post-gate
      * arrivals are the inner source's concern until resume. */
    def pending: Long = frozen match {
      case Some(f) => f.map { case (p, o) =>
        math.max(o - Option(ackFloor.get(p)).map(_.longValue).getOrElse(0L), 0L)
      }.sum
      case None => inner.pending
    }
    override def capacity: Long = inner.capacity
  }

  /** Pause `query` with drain semantics: close the gate, wait (up to
    * `drainTimeoutMs`, the reference's pause grace period) for every
    * exposed offset to commit, then stop the query. Returns true when
    * the pause is CLEAN (fully drained before the stop); false when the
    * deadline forced an undrained stop — same as the reference's
    * timed-out pause, which scales down anyway; the checkpoint still
    * guarantees the undrained remainder replays on resume. */
  def pauseWithDrain(query: StreamingQuery, gate: GatedSource,
                     drainTimeoutMs: Long = 120000L): Boolean = {
    gate.closeGate()
    // Engine-side drain: processAllAvailable returns once everything the
    // (now frozen) source exposes is processed AND committed — the
    // checkpointed guarantee a pause needs. Bounded by the grace period
    // on a helper thread because a stalled sink blocks it indefinitely.
    val done = new java.util.concurrent.CountDownLatch(1)
    val waiter = new Thread(() => {
      try query.processAllAvailable()
      catch { case _: Throwable => () } // stop()/failure below decides
      finally done.countDown()
    }, "graft-drain-waiter")
    waiter.setDaemon(true)
    waiter.start()
    val clean = done.await(drainTimeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS) &&
      query.exception.isEmpty
    query.stop()
    clean
  }

  /** Reopen the intake; the caller restarts the query from its
    * checkpoint (phase back to Running). */
  def resume(gate: GatedSource): Unit = gate.openGate()
}
