package graft.streaming

import java.net.InetSocketAddress
import java.sql.Timestamp
import java.util.UUID
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, TimeUnit, TimeoutException}
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import org.apache.spark.sql.functions.col
import graft.streaming.UdSource.MemoryGraftSource

/** ServingPipeline (SURVEY §2.10): request/response query mode — the
  * reference's HTTP `/sync` + `/async` endpoints feed a serving source,
  * the DAG processes, and a serve sink stores the result for the
  * originating request id (numaflow `rust/serving/src/lib.rs:1-60`,
  * `serving_pipeline_types.go:58-109`, serve sink `sinker/sink/serve.rs`).
  *
  * Spark mapping: requests append to a [[MemoryGraftSource]] (the serving
  * source, S8) with the request id as the message key; the user's compiled
  * streaming DAG consumes it via [[UdSource.readStream]]; the terminal
  * foreachBatch uses [[serveSink]] (K10) to complete the per-request
  * future the HTTP layer awaits. The result store is driver-local, the
  * same locality as the reference's serving store; at-least-once delivery
  * means a replayed batch simply completes an already-completed future
  * (idempotent).
  *
  * Endpoints: `POST /v1/process/sync` (blocks until the DAG answers, 504
  * on timeout), `POST /v1/process/async` (returns the id immediately),
  * `GET /v1/fetch?id=` (poll an async result), `POST /v1/process/sse`
  * (server-sent events: every result row for the request streams out as
  * a `data:` event as the DAG produces it — a 1→N request sees N events).
  *
  * SSE close: the reference closes a stream when its callback tracker
  * proves the request has drained every DAG path (`MessageGraph`,
  * `rust/serving/src/app/tracker.rs`). The analog here is `paths`: the
  * names of the DAG's terminal serving branches. Branch sinks report per
  * request via [[completePath]] (result produced) / [[coverPath]] (branch
  * processed the request's batch without a result — the reference's
  * "dropped on this path" callback); the stream closes only when EVERY
  * declared path has reported (or `syncTimeoutMs` elapses) — a slow
  * branch's result is never cut off by a fast branch going idle. With no
  * `paths` declared there is nothing to track and the stream falls back
  * to closing after `sseIdleMs` without results, time-bounded as before.
  */
final class ServingEndpoint(port: Int, syncTimeoutMs: Long = 30000,
                            sseIdleMs: Long = 2000,
                            declaredPaths: Set[String] = Set.empty,
                            maxInFlight: Int = 1024,
                            resultTtlMs: Long = 0) extends AutoCloseable {

  /** Admission control (the reference's buffer-full backpressure at the
    * serving edge — `edge_types.go:127-133` onFull semantics): at most
    * `maxInFlight` requests may be between enqueue and completion at
    * once. Over-limit requests are shed with 429 BEFORE touching the
    * source, so the driver-side result collects in [[serveSink]] /
    * [[pathServeSink]] are bounded by configuration, not by client
    * behavior.
    *
    * Slots are tracked PER EXCHANGE, not per result future: each admitted
    * request gets its own release token, released exactly once —
    * sync/SSE in a `finally` when their exchange finishes (an SSE slot
    * spans the whole stream, not just the first event), async when the
    * DAG answers its (fresh, per-request) future or when the 2×
    * syncTimeoutMs backstop fires for a request the DAG dropped. The
    * backstop is a separate scheduled release — it does NOT complete the
    * result future exceptionally, so a late DAG answer still lands.
    * Replaying an id that is in flight or already answered cannot free
    * someone else's slot: duplicate LIVE ids are rejected with 409 at
    * admission, atomically (`putIfAbsent` — concurrent same-id requests
    * cannot both slip through). Per-id state is EVICTED when its
    * lifecycle ends — sync at exchange end (a retry after 504 is a fresh
    * request), SSE at stream close (reconnects re-admit), async at the
    * result TTL — so uniqueness is scoped to live requests and the
    * result map cannot grow without bound under TTL.
    *
    * `resultTtlMs > 0` expires async results after the TTL: the entry is
    * evicted (the id becomes admissible again) and `/v1/fetch` answers
    * 404 "expired" via a bounded LRU record of expired ids. Independent
    * of the slot backstop: the default 0 keeps results until `close()`,
    * so async batches may legitimately take longer than any sync
    * timeout. */
  private val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)

  private val timer = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
    (r: Runnable) => { val t = new Thread(r, "serving-slot-timer"); t.setDaemon(true); t })

  /** Current in-flight request count (ops/spec introspection). */
  def inFlightCount: Int = inFlight.get()

  /** One admitted exchange's slot; release() is idempotent. */
  private final class Slot {
    private val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    def release(): Unit =
      if (released.compareAndSet(false, true)) { inFlight.decrementAndGet(); () }
  }

  /** Take an in-flight slot for a FRESH id. Returns the slot, or null →
    * the caller already responded (429 shed / 409 duplicate).
    *
    * Registration IS the admission gate: `putIfAbsent` makes the
    * duplicate check atomic (two concurrent requests with the same fresh
    * id cannot both pass a check-then-act window), and the entry exists
    * BEFORE enqueue so a DAG answer can never race past an unregistered
    * future. An id is unique among LIVE entries — sync/SSE entries live
    * for their exchange/stream (evicted in their `finally`, so a retry
    * after 504 or an SSE reconnect is admitted as a fresh request), async
    * entries until the result TTL (if configured) or `close()`. A shed
    * (429) deregisters: the request never entered the DAG, so its id
    * stays free. */
  private def admit(ex: HttpExchange, id: String): Slot = {
    val fresh = new CompletableFuture[Array[Byte]]()
    if (results.putIfAbsent(id, fresh) != null) {
      respond(ex, 409, s"""{"error":"duplicate request id","id":"$id"}""".getBytes)
      null
    } else if (inFlight.incrementAndGet() > maxInFlight) {
      inFlight.decrementAndGet()
      results.remove(id, fresh)
      shed(ex, id)
      null
    } else {
      expiredIds.synchronized { expiredIds.remove(id); () }
      new Slot
    }
  }

  /** Tracked DAG paths. Caller-declared via the constructor, or — the
    * reference's MessageGraph shape — DERIVED from the pipeline spec via
    * [[track]]. Volatile: set once at wiring time, read by HTTP threads. */
  @volatile private var paths: Set[String] = declaredPaths

  /** Derive the tracked path set from the pipeline spec (tracker.rs
    * analog): every sink vertex reachable from `sourceVertex`, excluding
    * branches only reachable through DROP-only edge conditions. Call
    * after building the spec, before serving traffic. */
  def track(spec: graft.model.Pipeline.PipelineSpec, sourceVertex: String): this.type = {
    paths = Compiler.servingPaths(spec, sourceVertex)
    this
  }

  /** The tracked path set (for assertions/ops introspection). */
  def trackedPaths: Set[String] = paths

  /** The serving source: requests enter the DAG here (keys = [requestId]). */
  val source = new MemoryGraftSource(1)
  val sourceName: String = s"serving-${UUID.randomUUID()}"
  UdSource.register(sourceName, source)

  private val results = new ConcurrentHashMap[String, CompletableFuture[Array[Byte]]]()
  // SSE subscriptions: every result row for the id is offered as an event.
  private val streams =
    new ConcurrentHashMap[String, java.util.concurrent.BlockingQueue[Array[Byte]]]()

  // Ids whose async result aged out of `resultTtlMs` — kept (bounded, LRU)
  // only so /v1/fetch can answer "expired" instead of "unknown"; the live
  // entry itself is evicted at expiry so re-submission is admitted.
  private val expiredIds = new java.util.LinkedHashMap[String, java.lang.Boolean](64, 0.75f, false) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, java.lang.Boolean]): Boolean =
      size() > 4096
  }

  /** Drop all per-id state; the id becomes admissible again. */
  private def evict(id: String): Unit = {
    results.remove(id)
    coveredPaths.remove(id)
    ()
  }

  private def futureFor(id: String): CompletableFuture[Array[Byte]] =
    results.computeIfAbsent(id, _ => new CompletableFuture[Array[Byte]]())

  // Per-request path coverage (the MessageGraph analog): which declared
  // branches have reported for the id. An SSE stream closes when
  // coverage reaches `paths`.
  private val coveredPaths =
    new ConcurrentHashMap[String, java.util.concurrent.ConcurrentHashMap.KeySetView[String, java.lang.Boolean]]()

  private def coverageFor(id: String) =
    coveredPaths.computeIfAbsent(id, _ => ConcurrentHashMap.newKeySet[String]())

  /** All declared DAG paths have reported for this request. */
  def pathsDone(id: String): Boolean =
    paths.nonEmpty && paths.forall(coverageFor(id).contains)

  /** Called by the serve sink when the DAG produces a response row. Only
    * LIVE ids complete: admission registered the future before enqueue,
    * so a null here means the exchange already ended (sync 504 + evict,
    * SSE closed, TTL expiry) — the answer is dropped rather than
    * resurrecting per-id state that nothing would ever clean up. */
  def complete(id: String, payload: Array[Byte]): Unit = {
    val f = results.get(id)
    if (f != null) { f.complete(payload); () } // sync/async see the FIRST result
    val q = streams.get(id)
    if (q != null) { q.offer(payload); () } // SSE sees every result
  }

  /** Branch `path` produced a response row for the request. */
  def completePath(id: String, path: String, payload: Array[Byte]): Unit = {
    complete(id, payload)
    coverPath(id, path)
  }

  /** Branch `path` fully processed the micro-batch containing the request
    * without producing a row for it — the reference's dropped-on-this-path
    * callback. Idempotent; at-least-once redelivery just re-covers. */
  def coverPath(id: String, path: String): Unit = {
    if (!results.containsKey(id)) return // exchange already over: don't
    coverageFor(id).add(path)            // resurrect evicted per-id state
    if (!results.containsKey(id)) { coveredPaths.remove(id); return }
    if (pathsDone(id)) {
      val q = streams.get(id)
      if (q != null) { q.offer(SseEnd); () } // wake the SSE loop to close
    }
  }

  /** Sentinel waking the SSE poll loop on coverage completion. */
  private val SseEnd = Array.empty[Byte]

  /** K10 serve sink for one DAG branch: completes request futures AND
    * reports path coverage for EVERY request id in the incoming batch —
    * ids the branch filtered out are thereby proven dropped on this path
    * (tracker.rs semantics), so SSE close never waits on a request this
    * branch will never answer. `branch` maps the full batch (NumaMessage
    * columns, keys(0) = request id) to this branch's response rows. */
  def pathServeSink(path: String, branch: org.apache.spark.sql.DataFrame =>
      org.apache.spark.sql.DataFrame, idCol: String, resultCol: String): Sinks.Writer =
    (batch, _) => {
      val cached = batch.persist()
      try {
        val ids = cached.select(org.apache.spark.sql.functions
          .element_at(col("keys"), 1).cast("string"))
          .collect().map(_.getString(0)) // bounded: in-flight HTTP requests
        branch(cached)
          .select(col(idCol).cast("string"), col(resultCol).cast("binary"))
          .collect()
          .foreach(r => completePath(r.getString(0), path, r.getAs[Array[Byte]](1)))
        ids.foreach(id => coverPath(id, path))
      } finally cached.unpersist()
    }

  /** K10 serve sink: batch rows (idCol: string, resultCol: binary or
    * string) complete their request futures. Driver-side by design — the
    * result set per micro-batch is bounded by in-flight HTTP requests. */
  def serveSink(idCol: String, resultCol: String): Sinks.Writer = (batch, _) =>
    batch.select(col(idCol).cast("string"), col(resultCol).cast("binary"))
      .collect()
      .foreach(r => complete(r.getString(0), r.getAs[Array[Byte]](1)))

  private def enqueue(id: String, body: Array[Byte]): Unit =
    source.append(Seq(id), body, new Timestamp(System.currentTimeMillis()))

  private val server: HttpServer = {
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    s.createContext("/v1/process/sync", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val id = reqId(ex)
        val slot = admit(ex, id)
        if (slot == null) return
        // Release and evict BEFORE responding: a client that retries as
        // soon as it reads the 504 must find the id free and the slot back.
        val (code, body) =
          try {
            val fut = futureFor(id)
            enqueue(id, ex.getRequestBody.readAllBytes())
            try (200, fut.get(syncTimeoutMs, TimeUnit.MILLISECONDS))
            catch { case _: TimeoutException => (504, s"timeout for $id".getBytes) }
          } finally {
            slot.release() // per-exchange: the sync request is done serving
            evict(id)      // sync ids live one exchange: a 504 retry re-admits
          }
        respond(ex, code, body)
      }
    })
    s.createContext("/v1/process/async", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val id = reqId(ex)
        val slot = admit(ex, id)
        if (slot == null) return
        val fut = futureFor(id)
        // Fresh id (409 otherwise) → this future settles at most once,
        // by the DAG; the backstop release is a separate timer, so a
        // late answer is stored, not poisoned.
        fut.whenComplete((_, _) => slot.release())
        timer.schedule(new Runnable { def run(): Unit = slot.release() },
          syncTimeoutMs * 2, TimeUnit.MILLISECONDS)
        if (resultTtlMs > 0)
          timer.schedule(new Runnable { def run(): Unit = {
            // Expiry EVICTS — answered or not (the map stays bounded and
            // the id becomes admissible again). Waiters blocked on the
            // future see the exception; later fetches see "expired" via
            // the bounded LRU record instead of a leaked entry.
            fut.completeExceptionally(new TimeoutException(s"result TTL for $id"))
            results.remove(id, fut)
            coveredPaths.remove(id)
            expiredIds.synchronized { expiredIds.put(id, java.lang.Boolean.TRUE); () }
          } }, resultTtlMs, TimeUnit.MILLISECONDS)
        enqueue(id, ex.getRequestBody.readAllBytes())
        respond(ex, 200, s"""{"id":"$id"}""".getBytes)
      }
    })
    s.createContext("/v1/process/sse", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val id = reqId(ex)
        val slot = admit(ex, id)
        if (slot == null) return
        val q = new java.util.concurrent.LinkedBlockingQueue[Array[Byte]]()
        streams.put(id, q)
        try {
          enqueue(id, ex.getRequestBody.readAllBytes())
          ex.getResponseHeaders.set("Content-Type", "text/event-stream")
          ex.sendResponseHeaders(200, 0) // chunked
          val out = ex.getResponseBody
          def emit(row: Array[Byte]): Unit = {
            out.write(s"data: ${new String(row)}\n\n".getBytes)
            out.flush()
          }
          val deadline = System.currentTimeMillis() + syncTimeoutMs
          var first = true
          var open = true
          while (open) {
            val waitMs =
              if (paths.nonEmpty)
                math.max(1L, math.min(deadline - System.currentTimeMillis(), sseIdleMs))
              else if (first) syncTimeoutMs
              else sseIdleMs
            val row = q.poll(waitMs, TimeUnit.MILLISECONDS)
            if (row == null)
              // tracked: a quiet queue is NOT completion — keep waiting for
              // the slow path until coverage or the deadline. Untracked:
              // the legacy idle close.
              open = paths.nonEmpty && !pathsDone(id) &&
                System.currentTimeMillis() < deadline
            else if (row eq SseEnd) {
              // coverage complete: drain results already queued, then close.
              var r = q.poll()
              while (r != null) { if (!(r eq SseEnd)) emit(r); r = q.poll() }
              open = false
            } else {
              emit(row); first = false
              if (paths.nonEmpty && pathsDone(id) && q.peek() == null) open = false
            }
          }
        } finally {
          streams.remove(id)
          slot.release() // per-exchange: spans the WHOLE stream, not event #1
          evict(id)      // stream over: an SSE reconnect re-admits the id
          ex.close()     // last, so a reconnect never sees the old stream's id
        }
      }
    })
    s.createContext("/v1/fetch", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val id = Option(ex.getRequestURI.getQuery).collect {
          case q if q.startsWith("id=") => q.stripPrefix("id=")
        }.orNull
        val fut = if (id == null) null else results.get(id)
        if (fut == null) {
          val wasExpired = id != null &&
            expiredIds.synchronized(expiredIds.containsKey(id))
          if (wasExpired) respond(ex, 404, "expired (no result within TTL)".getBytes)
          else respond(ex, 404, "unknown id".getBytes)
        }
        else if (!fut.isDone) respond(ex, 404, "in progress".getBytes)
        else if (fut.isCompletedExceptionally)
          respond(ex, 404, "expired (no result within TTL)".getBytes)
        else respond(ex, 200, fut.get())
      }
    })
    s.start()
    s
  }

  private def shed(ex: HttpExchange, id: String): Unit =
    respond(ex, 429, s"""{"error":"in-flight limit $maxInFlight reached","id":"$id"}""".getBytes)

  private def reqId(ex: HttpExchange): String =
    Option(ex.getRequestHeaders.getFirst("X-Numaflow-Id"))
      .getOrElse(UUID.randomUUID().toString)

  private def respond(ex: HttpExchange, code: Int, body: Array[Byte]): Unit = {
    ex.sendResponseHeaders(code, body.length)
    ex.getResponseBody.write(body)
    ex.close()
  }

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  override def close(): Unit = {
    server.stop(0)
    timer.shutdownNow()
    UdSource.unregister(sourceName)
  }
}
