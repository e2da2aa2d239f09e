package graft

import java.io.{BufferedInputStream, BufferedOutputStream, InputStream, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.concurrent.CopyOnWriteArrayList

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{Connectors, JetStreamWire, NatsWire}

/** The JETSTREAM consumer-protocol subset, end-to-end over a real
  * loopback TCP socket: an in-process stub broker speaks core NATS plus
  * the `$JS.API.*` request-reply surface (STREAM.INFO, CONSUMER.CREATE
  * by-start-sequence, DURABLE.CREATE AckAll, CONSUMER.MSG.NEXT, +ACK /
  * -NAK on `$JS.ACK.*` subjects, CONSUMER.INFO ack floor), and
  * [[JetStreamWire]] drives create → next → ack against it — S5's
  * reference semantics (`rust/extns/numaflow-nats/src/jetstream.rs`:
  * durable consumer, integer stream sequences as offsets, cumulative
  * AckAll, restart-resumes-from-ack-floor) proven over a live socket,
  * the proof S4 got from NatsWireSpec. */
class JetStreamWireSpec extends AnyFunSuite {


  /** Loopback NATS + single-stream JetStream façade. Token-wildcard
    * subject routing ('*' matches one token — inbox subscriptions are
    * `_INBOX.<id>.*`); one thread per connection; JS state (messages,
    * durables, ack floor) shared across connections. */
  private final class JsStubBroker(stream: String, streamSubject: String)
      extends AutoCloseable {
    @volatile private var server = new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
    val port: Int = server.getLocalPort
    private val subs = new CopyOnWriteArrayList[(String, OutputStream, String)]()
    private val liveSocks = new CopyOnWriteArrayList[Socket]()
    private val messages = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    // consumer name -> next stream seq to deliver
    private val cursors = scala.collection.mutable.Map.empty[String, Long]
    private val durables = scala.collection.mutable.Set.empty[String]
    private var ackFloors = Map.empty[String, Long]
    private var ephemeralN = 0
    @volatile private var closed = false
    /** Chaos knob: kill every connection on each MSG.NEXT (listener
      * comes right back) — a broker that serves everything EXCEPT
      * pulls. */
    @volatile var killOnNext = false

    /** The listener is bound: false between a chaos kill and its restart. */
    def listening: Boolean = !server.isClosed

    def ackFloor(durable: String): Long = synchronized(ackFloors.getOrElse(durable, 0L))

    private def readLine(in: InputStream): String = {
      val sb = new java.lang.StringBuilder(64)
      var c = in.read()
      while (c != -1 && c != '\r') { sb.append(c.toChar); c = in.read() }
      if (c == -1) throw new java.io.EOFException()
      in.read()
      sb.toString
    }

    private def tokenMatch(pattern: String, subject: String): Boolean = {
      val p = pattern.split("\\."); val s = subject.split("\\.")
      p.length == s.length &&
        p.zip(s).forall { case (a, b) => a == "*" || a == b }
    }

    private def deliver(subject: String, reply: String, body: Array[Byte]): Unit =
      subs.forEach { e =>
        val (pat, o, sid) = e
        if (tokenMatch(pat, subject)) o.synchronized {
          try {
            val r = if (reply == null) "" else s" $reply"
            o.write(s"MSG $subject $sid$r ${body.length}\r\n".getBytes(ISO_8859_1))
            o.write(body)
            o.write("\r\n".getBytes(ISO_8859_1))
            o.flush()
          } catch {
            // a killed connection's subscription: drop it so deliveries
            // to live (post-restart) subscribers are never aborted
            case _: java.io.IOException => subs.remove(e)
          }
        }
      }

    private def jsonLong(json: String, field: String, dflt: Long): Long = {
      val i = json.indexOf("\"" + field + "\":")
      if (i < 0) return dflt
      var j = i + field.length + 3
      while (j < json.length && !json.charAt(j).isDigit) j += 1
      var k = j
      while (k < json.length && json.charAt(k).isDigit) k += 1
      if (k == j) dflt else json.substring(j, k).toLong
    }

    /** All `$JS.API.*` / `$JS.ACK.*` handling — synchronized: the JS
      * state is one broker-side structure whatever connection writes. */
    private def handleJs(subject: String, reply: String, body: Array[Byte]): Unit =
      synchronized {
        val json = new String(body, UTF_8)
        val t = subject.split("\\.")
        subject match {
          case s if s == s"$$JS.API.STREAM.INFO.$stream" =>
            deliver(reply, null,
              s"""{"state":{"last_seq":${messages.length}}}""".getBytes(UTF_8))
          case s if s.startsWith(s"$$JS.API.CONSUMER.CREATE.$stream") =>
            ephemeralN += 1
            val name = s"eph$ephemeralN"
            cursors(name) = math.max(jsonLong(json, "opt_start_seq", 1L), 1L)
            deliver(reply, null, s"""{"name":"$name"}""".getBytes(UTF_8))
          case s if s.startsWith(s"$$JS.API.DURABLE.CREATE.$stream.") =>
            val name = t.last
            if (!durables.contains(name)) {
              durables += name
              cursors(name) = ackFloors.getOrElse(name, 0L) + 1
            }
            deliver(reply, null, s"""{"name":"$name"}""".getBytes(UTF_8))
          case s if s.startsWith(s"$$JS.API.CONSUMER.INFO.$stream.") =>
            val name = t.last
            // spec-shaped reply: "delivered" (cursor, >= floor) comes
            // BEFORE "ack_floor" — a client that grabs the document's
            // first stream_seq reads the wrong object (regression pin)
            val delivered = math.max(cursors.getOrElse(name, 1L) - 1, 0L)
            deliver(reply, null,
              (s"""{"name":"$name","delivered":{"consumer_seq":$delivered,""" +
                s""""stream_seq":$delivered},""" +
                s""""ack_floor":{"consumer_seq":${ackFloors.getOrElse(name, 0L)},""" +
                s""""stream_seq":${ackFloors.getOrElse(name, 0L)}}}""").getBytes(UTF_8))
          case s if s.startsWith(s"$$JS.API.CONSUMER.DELETE.$stream.") =>
            cursors.remove(t.last)
            deliver(reply, null, s"""{"success":true}""".getBytes(UTF_8))
          case s if s.startsWith(s"$$JS.API.CONSUMER.MSG.NEXT.$stream.") =>
            if (killOnNext) {
              // the half-alive broker: dials and CONSUMER.CREATE work,
              // every pull dies — the shape that must EXHAUST fetch()'s
              // reconnect budget (progress-gated reset) instead of
              // resetting it on each successful CREATE
              kill(); restart()
              return
            }
            val name = t.last
            val batch = jsonLong(json, "batch", 1L).toInt
            var cur = cursors.getOrElse(name, 1L)
            var sent = 0
            while (sent < batch && cur <= messages.length) {
              // $JS.ACK.<stream>.<consumer>.<delivered>.<sseq>.<cseq>.<ts>.<pending>
              deliver(reply, s"$$JS.ACK.$stream.$name.1.$cur.$cur.0.0",
                messages((cur - 1).toInt))
              cur += 1; sent += 1
            }
            cursors(name) = cur
            if (sent < batch) deliver(reply, null, Array.empty[Byte]) // 404 marker
          case s if s.startsWith(s"$$JS.ACK.$stream.") =>
            val name = t(3); val sseq = t(5).toLong
            new String(body, UTF_8) match {
              case "+ACK" => // AckAll: the whole prefix
                if (durables.contains(name))
                  ackFloors += (name -> math.max(ackFloors.getOrElse(name, 0L), sseq))
              case "-NAK" => // immediate redelivery: cursor back to sseq
                cursors(name) = math.min(cursors.getOrElse(name, sseq), sseq)
              case _ => ()
            }
          case _ => ()
        }
      }

    private def serve(sock: Socket): Unit = {
      val in = new BufferedInputStream(sock.getInputStream)
      val out = new BufferedOutputStream(sock.getOutputStream)
      out.write("INFO {\"server_id\":\"graft-js-stub\",\"proto\":1,\"jetstream\":true}\r\n"
        .getBytes(ISO_8859_1)); out.flush()
      try while (!closed) {
        val line = readLine(in)
        val parts = line.split(" ")
        parts(0) match {
          case "CONNECT" => ()
          case "PING" =>
            out.synchronized { out.write("PONG\r\n".getBytes(ISO_8859_1)); out.flush() }
          case "SUB" => subs.add((parts(1), out, parts(2)))
          case "PUB" =>
            val subject = parts(1)
            val reply = if (parts.length == 4) parts(2) else null
            val n = parts.last.toInt
            val body = new Array[Byte](n)
            var off = 0
            while (off < n) {
              val r = in.read(body, off, n - off)
              require(r >= 0); off += r
            }
            in.read(); in.read() // CRLF
            if (subject.startsWith("$JS.")) handleJs(subject, reply, body)
            else if (subject == streamSubject)
              synchronized { messages += body } // stream ingest
            else deliver(subject, reply, body)
          case _ => ()
        }
      } catch { case _: java.io.IOException => () }
    }

    private def startAcceptor(): Unit = {
      val srv = server
      val acceptor = new Thread(() => {
        try while (!closed) {
          val sock = srv.accept()
          liveSocks.add(sock)
          val t = new Thread(() => serve(sock), "js-stub-conn")
          t.setDaemon(true); t.start()
        } catch { case _: java.io.IOException => () }
      }, "js-stub-acceptor")
      acceptor.setDaemon(true)
      acceptor.start()
    }
    startAcceptor()

    /** Chaos hook: drop the listener and every live connection; the
      * JetStream state (stream messages, durables, ack floors, cursors)
      * survives — the restarted server's recovered store. */
    def kill(): Unit = {
      server.close()
      liveSocks.forEach(s => try s.close() catch { case _: java.io.IOException => () })
      liveSocks.clear()
    }

    /** Rebind the SAME port for redialing clients. */
    def restart(): Unit = {
      server = WireTestUtil.rebind(port)
      startAcceptor()
    }

    def close(): Unit = { closed = true; kill() }
  }

  private def body(i: Int): Array[Byte] = s"payload-$i".getBytes(ISO_8859_1)

  test("STREAM.INFO / CONSUMER.CREATE / MSG.NEXT: sequence-ranged replay over a live socket") {
    val broker = new JsStubBroker("ORDERS", "orders.new")
    try {
      NatsWire.publish("127.0.0.1", broker.port, "orders.new", (1 to 5).map(body))
      val js = new JetStreamWire("127.0.0.1", broker.port, "ORDERS",
        "orders.new", durable = "graft-d1")
      try {
        assert(js.lastSequence == 5L)
        val all = js.fetch(1L, 6L)
        assert(all.map(_._1) == Seq(1L, 2L, 3L, 4L, 5L))
        all.foreach { case (seq, b) =>
          assert(java.util.Arrays.equals(b, body(seq.toInt)))
        }
        // replay is served by the STREAM: any window, any time, again
        assert(js.fetch(2L, 4L).map(_._1) == Seq(2L, 3L))
        assert(js.fetch(4L, 99L).map(_._1) == Seq(4L, 5L))
        assert(js.fetch(3L, 3L).isEmpty)
      } finally js.close()
    } finally broker.close()
  }

  test("AckAll durable: cumulative floor, NAK'd overrun redelivered, restart resumes from the floor") {
    val broker = new JsStubBroker("EVENTS", "ev.all")
    try {
      NatsWire.publish("127.0.0.1", broker.port, "ev.all", (1 to 5).map(body))
      val js = new JetStreamWire("127.0.0.1", broker.port, "EVENTS",
        "ev.all", durable = "graft-d2")
      try {
        js.ackUpTo(2L) // durable delivers 1..5; 3,4,5 overrun -> NAK'd
        assert(broker.ackFloor("graft-d2") == 2L)
        assert(js.ackFloor == 2L)
        js.ackUpTo(5L) // NAK'd messages redeliver immediately
        assert(broker.ackFloor("graft-d2") == 5L)
      } finally js.close()
      // a RESTARTED consumer (new socket, same durable) sees the broker-
      // held floor — the jetstream.rs restart contract
      val js2 = new JetStreamWire("127.0.0.1", broker.port, "EVENTS",
        "ev.all", durable = "graft-d2")
      try {
        assert(js2.ackFloor == 5L)
        NatsWire.publish("127.0.0.1", broker.port, "ev.all", Seq(body(6)))
        assert(js2.lastSequence == 6L)
        js2.ackUpTo(6L)
        assert(js2.ackFloor == 6L)
      } finally js2.close()
    } finally broker.close()
  }

  test("JetStreamSource adapter runs its offsets/ack/pending over the live wire") {
    val broker = new JsStubBroker("LOGS", "logs.app")
    try {
      NatsWire.publish("127.0.0.1", broker.port, "logs.app", (1 to 4).map(body))
      val js = new JetStreamWire("127.0.0.1", broker.port, "LOGS",
        "logs.app", durable = "graft-d3")
      try {
        val src = new Connectors.JetStreamSource(js, "logs.app")
        assert(src.latestOffset(0) == 4L)
        val rows = src.read(0, 1L, 5L).toSeq
        assert(rows.map(_.offset) == Seq(1L, 2L, 3L, 4L))
        assert(rows.forall(_.keys == Seq("logs.app")))
        src.ack(0, 4L)
        assert(src.pending == 0L)
        assert(broker.ackFloor("graft-d3") == 4L)
        NatsWire.publish("127.0.0.1", broker.port, "logs.app", Seq(body(5)))
        assert(src.pending == 1L)
        assert(new String(src.read(0, 5L, 6L).next().value, ISO_8859_1) == "payload-5")
      } finally js.close()
    } finally broker.close()
  }

  test("chaos: server dies mid-session, restarts, and the SAME client redials — " +
      "unacked messages redeliver, the durable floor survives") {
    val broker = new JsStubBroker("ORDERS", "orders.new")
    try {
      NatsWire.publish("127.0.0.1", broker.port, "orders.new", (1 to 6).map(body))
      val js = new JetStreamWire("127.0.0.1", broker.port, "ORDERS",
        "orders.new", durable = "graft-dx")
      try {
        js.ackUpTo(3L) // durable floor at 3; 4..6 delivered-but-NAK'd
        assert(broker.ackFloor("graft-dx") == 3L)
        broker.kill()
        broker.restart()
        // the SAME instance: first call hits the dead socket, redials,
        // replays — the durable's server-side state is all it needs
        assert(js.lastSequence == 6L)
        assert(js.ackFloor == 3L) // the missed acks stayed missed: floor intact
        // the unacked suffix redelivers in full (no loss across the crash)
        val redelivered = js.fetch(4L, 7L)
        assert(redelivered.map(_._1) == Seq(4L, 5L, 6L))
        redelivered.foreach { case (seq, b) =>
          assert(java.util.Arrays.equals(b, body(seq.toInt)))
        }
        // and the recovered session can complete the ack it never sent
        js.ackUpTo(6L)
        assert(broker.ackFloor("graft-dx") == 6L)
        assert(js.ackFloor == 6L)
      } finally js.close()
    } finally broker.close()
  }

  test("chaos: a broker that serves CONSUMER.CREATE but kills every pull " +
      "EXHAUSTS fetch()'s reconnect budget (r15 review catch: the reset is " +
      "progress-gated, not CREATE-gated)") {
    val broker = new JsStubBroker("S", "s.subj")
    try {
      val js = new JetStreamWire("127.0.0.1", broker.port, "S", "s.subj",
        durable = "graft-bx", reconnectDelayMs = 1L, maxReconnects = 4)
      try {
        NatsWire.publish("127.0.0.1", broker.port, "s.subj",
          (1 to 3).map(body))
        broker.killOnNext = true
        val e = intercept[java.io.IOException](js.fetch(1L, 4L))
        assert(e.getMessage.contains("gave up after 4 reconnect attempts"))
        // ...and a recovered broker serves the SAME client again: the
        // budget bounds one outage, it does not poison the instance
        broker.killOnNext = false
        // the last pull's kill may still be rebinding the port
        val deadline = System.currentTimeMillis() + 5000
        while (!broker.listening && System.currentTimeMillis() < deadline)
          Thread.sleep(5)
        assert(js.fetch(1L, 4L).map(_._1) == Seq(1L, 2L, 3L))
      } finally js.close()
    } finally broker.close()
  }
}
