package graft.streaming

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

import graft.streaming.Connectors.JetStreamConsumer

/** Socket-level JETSTREAM consumer — the engine's own implementation of
  * the JetStream consumer-protocol SUBSET the reference's ISB uses
  * (`rust/extns/numaflow-nats/src/jetstream.rs`: durable consumer,
  * integer stream sequences as offsets, cumulative AckAll): the JS API
  * is plain JSON request-reply over core NATS subjects, so this rides
  * the same wire framing as [[NatsWire]] and implements the
  * [[Connectors.JetStreamConsumer]] seam with no `io.nats:jnats` jar —
  * giving S5 a live-TCP path (JetStreamWireSpec drives create → next →
  * ack against an in-process stub).
  *
  * Protocol subset (client side):
  *  - `$JS.API.STREAM.INFO.<stream>` → `{"state":{"last_seq":N}}`.
  *  - `$JS.API.CONSUMER.CREATE.<stream>` with
  *    `deliver_policy:"by_start_sequence"` — the transient replay
  *    consumer [[fetch]] reads a sequence range through.
  *  - `$JS.API.DURABLE.CREATE.<stream>.<durable>` with
  *    `ack_policy:"all"` — the broker-side ack floor [[ackUpTo]]
  *    advances cumulatively (AckAll: acking one message acks its whole
  *    prefix).
  *  - `$JS.API.CONSUMER.MSG.NEXT.<stream>.<consumer>` with
  *    `{"batch":N,"no_wait":true}`, replies delivered to a per-request
  *    inbox; each delivered message's REPLY subject is its ack subject
  *    (`$JS.ACK.<stream>.<consumer>.<delivered>.<sseq>.<cseq>.<ts>.
  *    <pending>` — the stream sequence is token 6), `+ACK`/`-NAK`
  *    published back to it.
  *  - `$JS.API.CONSUMER.INFO.<stream>.<durable>` →
  *    `{"ack_floor":{"stream_seq":N}}` — where a restarted consumer
  *    resumes (the jetstream.rs restart contract).
  *
  * Two deliberate simplifications vs a full client, both documented
  * protocol-legal: the end-of-batch status that real servers send as an
  * HMSG (`409`/`404` header) is recognized here as a zero-payload
  * reply-less inbox message (stream deliveries ALWAYS carry an ack
  * reply, so the discriminator is unambiguous), and request JSON is
  * parsed with anchored field extraction rather than a JSON tree (the
  * fields are flat integers/strings in a protocol this client also
  * authors). These two simplifications make it a dependency-free
  * loopback transport and wire-path proof, not a full client for a
  * production nats-server.
  *
  * Single-threaded by design: every call performs its own blocking
  * request-reply on the one socket (no reader thread, no shared state),
  * matching the synchronous [[Connectors.JetStreamConsumer]] contract.
  * Server PINGs are answered inline between frames. */
final class JetStreamWire(host: String, port: Int, stream: String,
                          subject: String, durable: String,
                          ioTimeoutMs: Int = 5000,
                          reconnectDelayMs: Long = 50L,
                          maxReconnects: Int = 100,
                          auth: Option[NatsWire.Auth] = None,
                          socketFactory: (String, Int) => Socket = Tls.plain)
    extends JetStreamConsumer with AutoCloseable {

  @volatile private var socket: Socket = _
  @volatile private var in: BufferedInputStream = _
  @volatile private var out: BufferedOutputStream = _
  @volatile private var closed = false
  private val inboxBase = "_INBOX.gw" + java.lang.Long.toHexString(
    java.util.concurrent.ThreadLocalRandom.current().nextLong() & Long.MaxValue)
  private var inboxSeq = 0L

  private def send(s: String): Unit = { out.write(s.getBytes(ISO_8859_1)); out.flush() }

  /** (Re)dial + handshake + inbox wildcard subscription (sid 1), flushed
    * by PING/PONG. Used at construction AND for broker-death recovery:
    * all durable state (consumer cursor, ack floor) lives server-side,
    * so a reconnect needs nothing but the same durable name. */
  private def connect(): Unit = {
    // a close() racing a reconnect must not leak a fresh socket
    if (closed) throw new java.io.IOException("JetStreamWire closed")
    socket = socketFactory(host, port)
    try {
      socket.setSoTimeout(ioTimeoutMs)
      in = new BufferedInputStream(socket.getInputStream)
      out = new BufferedOutputStream(socket.getOutputStream)
      val info = NatsWire.readLine(in)
      require(info.startsWith("INFO"), s"expected INFO, got: $info")
      send("CONNECT {\"verbose\":false,\"pedantic\":false," +
        "\"name\":\"graft-js-wire\"" + auth.fold("")(_.connectFields) +
        "}\r\nSUB " + inboxBase + ".* 1\r\nPING\r\n")
      var line = NatsWire.readLine(in)
      while (line != "PONG") {
        require(!line.startsWith("-ERR"), s"broker rejected handshake: $line")
        if (line == "PING") send("PONG\r\n")
        line = NatsWire.readLine(in)
      }
    } catch {
      // a rejected handshake at construction throws with no close()
      // ever coming: don't leak the connected socket
      case t: Throwable =>
        try socket.close() catch { case _: java.io.IOException => () }
        throw t
    }
  }
  connect()

  /** One delivered inbox frame: (subject, reply-or-null, payload). */
  private def readMsg(): (String, String, Array[Byte]) = {
    var line = NatsWire.readLine(in)
    while (line == "PING" || line == "+OK" || line.startsWith("INFO")) {
      if (line == "PING") send("PONG\r\n")
      line = NatsWire.readLine(in)
    }
    require(line.startsWith("MSG "), s"expected MSG, got: $line")
    val p = line.split(" ")
    val (reply, n) =
      if (p.length == 5) (p(3), p(4).toInt) else (null: String, p(3).toInt)
    (p(1), reply, NatsWire.readPayload(in, n))
  }

  /** JSON request-reply on a fresh inbox suffix; returns the reply body.
    * Broker death mid-call redials and replays the request ONCE: every
    * JS API call here is a read or an idempotent cursor move (an ack
    * replay past a server restart at worst redelivers — the documented
    * at-least-once window), and the durable consumer's state survives
    * on the server, so recovery is just the same request again. */
  private def request(subj: String, body: String): String = synchronized {
    inboxSeq += 1
    val inbox = s"$inboxBase.$inboxSeq"
    val bytes = body.getBytes(UTF_8)
    def once(): String = {
      send(s"PUB $subj $inbox ${bytes.length}\r\n")
      out.write(bytes); send("\r\n")
      val (msgSubj, _, payload) = readMsg()
      require(msgSubj == inbox, s"out-of-order reply: $msgSubj != $inbox")
      new String(payload, UTF_8)
    }
    try once()
    catch {
      case _: java.io.IOException if !closed =>
        try socket.close() catch { case _: java.io.IOException => () }
        connect()
        once()
    }
  }

  /** Anchored flat-field integer extraction ("...\"last_seq\":N..."). */
  private def jsonLong(json: String, field: String): Long = {
    val i = json.indexOf("\"" + field + "\":")
    require(i >= 0, s"field $field absent in: $json")
    var j = i + field.length + 3
    while (j < json.length && !json.charAt(j).isDigit) j += 1
    var k = j
    while (k < json.length && json.charAt(k).isDigit) k += 1
    json.substring(j, k).toLong
  }

  private def errCode(json: String): Long =
    if (json.contains("\"err_code\"")) jsonLong(json, "err_code")
    else if (json.contains("\"error\"")) jsonLong(json, "code")
    else 0L

  def lastSequence: Long =
    jsonLong(request(s"$$JS.API.STREAM.INFO.$stream", "{}"), "last_seq")

  /** The durable's broker-side ack floor — where a restart resumes.
    * Anchored on the `"ack_floor"` OBJECT before extracting its
    * `stream_seq`: a spec-shaped CONSUMER.INFO reply lists
    * `"delivered":{...,"stream_seq":D}` FIRST, and D ≥ floor — taking
    * the first `stream_seq` in the document would resume past
    * delivered-but-unacked messages (silent loss on restart). */
  def ackFloor: Long = {
    ensureDurable()
    val r = request(s"$$JS.API.CONSUMER.INFO.$stream.$durable", "{}")
    val i = r.indexOf("\"ack_floor\"")
    require(i >= 0, s"no ack_floor in CONSUMER.INFO reply: $r")
    jsonLong(r.substring(i), "stream_seq")
  }

  @volatile private var durableCreated = false
  private def ensureDurable(): Unit = if (!durableCreated) synchronized {
    if (!durableCreated) {
      val r = request(s"$$JS.API.DURABLE.CREATE.$stream.$durable",
        s"""{"stream_name":"$stream","config":{"durable_name":"$durable",
           |"ack_policy":"all","deliver_policy":"all",
           |"filter_subject":"$subject"}}""".stripMargin.replace("\n", ""))
      require(errCode(r) == 0, s"DURABLE.CREATE failed: $r")
      durableCreated = true
    }
  }

  /** Stream-sequence token of a `$JS.ACK.<stream>.<consumer>.
    * <delivered>.<sseq>.<cseq>.<ts>.<pending>` ack subject. */
  private def ackSseq(ackSubject: String): Long = ackSubject.split("\\.")(5).toLong

  /** Pull up to `batch` messages for `consumer` into a fresh inbox;
    * a zero-payload reply-less message marks end-of-available. Returns
    * (ackSubject, payload) pairs. */
  /** One no_wait pull. `retryOnDeath` gates the redial-and-re-pull:
    * TRUE is only correct for the DURABLE consumer, whose state lives
    * server-side and whose unacked deliveries redeliver after ack_wait
    * (at-least-once). For an ack_policy:none TRANSIENT replay consumer
    * a re-pull would be a silent GAP — messages written into the dying
    * socket are counted delivered and never come back — so [[fetch]]
    * passes FALSE and rebuilds the whole consumer at its own cursor. */
  private def next(consumer: String, batch: Int,
                   retryOnDeath: Boolean): Seq[(String, Array[Byte])] =
    synchronized {
      def once(): Seq[(String, Array[Byte])] = {
        inboxSeq += 1
        val inbox = s"$inboxBase.$inboxSeq"
        val req = s"""{"batch":$batch,"no_wait":true}""".getBytes(UTF_8)
        send(s"PUB $$JS.API.CONSUMER.MSG.NEXT.$stream.$consumer $inbox ${req.length}\r\n")
        out.write(req); send("\r\n")
        val got = Seq.newBuilder[(String, Array[Byte])]
        var received = 0
        var open = true
        while (open && received < batch) {
          val (msgSubj, reply, payload) = readMsg()
          require(msgSubj.startsWith(inboxBase),
            s"unexpected subject mid-pull: $msgSubj")
          if (reply == null) open = false // status marker: nothing pending
          else { got += ((reply, payload)); received += 1 }
        }
        got.result()
      }
      try once()
      catch {
        case _: java.io.IOException if retryOnDeath && !closed =>
          try socket.close() catch { case _: java.io.IOException => () }
          connect()
          once()
      }
    }

  def fetch(from: Long, until: Long): Seq[(Long, Array[Byte])] = {
    if (until <= from) return Seq.empty
    val outB = Seq.newBuilder[(Long, Array[Byte])]
    // resume cursor: on broker death the transient consumer (and any
    // in-flight deliveries) die with the socket — the loop rebuilds a
    // FRESH consumer from the first sequence not yet received, so the
    // replay range stays gap-free across restarts (a next()-level
    // re-pull would silently skip the in-flight suffix, and after a
    // real server restart the vanished ephemeral's 404 would read as a
    // clean end-of-batch).
    var cur = math.max(from, 1L)
    var done = false
    var attempts = 0
    var progressMark = cur - 1 // last cursor that reset the budget
    while (!done) {
      // transient replay consumer from `cur` — the stream serves the
      // range, nothing is buffered client-side (ack_policy none: replay
      // reads must not disturb the durable's ack floor)
      try {
        val r = request(s"$$JS.API.CONSUMER.CREATE.$stream",
          s"""{"stream_name":"$stream","config":{"ack_policy":"none",
             |"deliver_policy":"by_start_sequence",
             |"opt_start_seq":$cur,
             |"filter_subject":"$subject"}}""".stripMargin.replace("\n", ""))
        require(errCode(r) == 0, s"CONSUMER.CREATE failed: $r")
        val name = {
          val i = r.indexOf("\"name\":\"")
          require(i >= 0, s"no consumer name in: $r")
          r.substring(i + 8, r.indexOf('"', i + 8))
        }
        var exhausted = false
        while (!exhausted) {
          val batch = next(name, 256, retryOnDeath = false)
          if (batch.isEmpty) exhausted = true
          else batch.foreach { case (ack, payload) =>
            val seq = ackSseq(ack)
            if (seq >= until) exhausted = true
            else if (seq >= cur) { outB += ((seq, payload)); cur = seq + 1 }
          }
        }
        // delete the transient consumer: servers garbage-collect idle
        // ephemerals eventually, but a replay-heavy restart loop should
        // not lean on the inactivity threshold to bound broker state
        val del = request(s"$$JS.API.CONSUMER.DELETE.$stream.$name", "{}")
        require(errCode(del) == 0, s"CONSUMER.DELETE failed: $del")
        done = true
      } catch {
        case io: java.io.IOException if !closed =>
          // redial, then loop: a fresh consumer resumes at `cur`.
          // Bounded + exponentially backed off (the PulsarWire budget):
          // a broker that accepts dials but fails every request must
          // not spin this loop hot forever. The budget resets ONLY on
          // cursor PROGRESS — a broker that answers CONSUMER.CREATE but
          // fails every pull would otherwise reset it each iteration
          // and spin past the documented bound (review catch, r15).
          // 50ms doubling to a 5s cap gives the default budget
          // >8 minutes of downtime tolerance.
          if (cur > progressMark) { attempts = 0; progressMark = cur }
          attempts += 1
          if (attempts > maxReconnects)
            throw new java.io.IOException(
              s"jetstream wire: gave up after $maxReconnects reconnect attempts", io)
          Thread.sleep(math.min(
            reconnectDelayMs << math.min(attempts - 1, 30),
            reconnectDelayMs * 100))
          // the swap runs under the object monitor so a concurrent
          // request()/ackUpTo caller never sees a half-initialized
          // socket/in/out trio; a failed dial leaves the dead streams
          // in place — the next request() throws and we land back here
          synchronized {
            try { socket.close(); connect() }
            catch { case _: java.io.IOException => () }
          }
      }
    }
    outB.result()
  }

  def ackUpTo(seq: Long): Unit = {
    ensureDurable()
    // AckAll through the durable: remember the last delivered ack
    // subject with sseq <= seq, NAK anything past it (so the broker
    // redelivers immediately instead of waiting out ack_wait), ack once.
    var lastAck: String = null
    var exhausted = false
    while (!exhausted) {
      val batch = next(durable, 256, retryOnDeath = true)
      if (batch.isEmpty) exhausted = true
      else batch.foreach { case (ack, _) =>
        if (ackSseq(ack) <= seq) lastAck = ack
        else {
          exhausted = true
          val b = "-NAK".getBytes(ISO_8859_1)
          synchronized { send(s"PUB $ack ${b.length}\r\n"); out.write(b); send("\r\n") }
        }
      }
    }
    if (lastAck != null) synchronized {
      val b = "+ACK".getBytes(ISO_8859_1)
      send(s"PUB $lastAck ${b.length}\r\n"); out.write(b)
      // flush confirmation: the PING/PONG proves the broker processed
      // the ack before this returns (the NatsWire.publish idiom)
      send("\r\nPING\r\n")
      var line = NatsWire.readLine(in)
      while (line != "PONG") {
        require(!line.startsWith("-ERR"), s"broker error: $line")
        if (line == "PING") send("PONG\r\n")
        line = NatsWire.readLine(in)
      }
    }
  }

  def close(): Unit = { closed = true; socket.close() }
}
