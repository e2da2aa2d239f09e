package graft

import java.io.{BufferedInputStream, BufferedOutputStream, InputStream, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.concurrent.CopyOnWriteArrayList

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{Connectors, NatsWire}

/** The core-NATS WIRE path, end-to-end over a real loopback TCP socket:
  * an in-process stub broker speaks the public text protocol
  * (INFO/CONNECT/SUB/PUB/MSG/PING/PONG), [[NatsWire.Subscription]]
  * handshakes, subscribes, and drains binary-safe payloads, and the
  * engine's [[Connectors.NatsSource]] adapter runs its at-most-once
  * buffer/ack semantics over that live socket — the whole S4 stack
  * with no jnats jar. */
class NatsWireSpec extends AnyFunSuite {

  /** Minimal loopback NATS broker: exact-subject routing, one thread per
    * connection. Supports CONNECT (ignored), SUB, PUB, PING. With
    * `requireAuth` set (a list of CONNECT JSON fields that must appear,
    * e.g. user/pass or auth_token), a CONNECT missing any of them gets
    * the real broker's `-ERR 'Authorization Violation'` and the
    * connection is cut. */
  private final class StubBroker(
      requireAuth: Seq[(String, String)] = Seq.empty) extends AutoCloseable {
    private val server = new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
    val port: Int = server.getLocalPort
    // (subject, per-connection locked output, sid)
    private val subs = new CopyOnWriteArrayList[(String, OutputStream, String)]()
    @volatile private var closed = false

    private def readLine(in: InputStream): String = {
      val sb = new java.lang.StringBuilder(64)
      var c = in.read()
      while (c != -1 && c != '\r') { sb.append(c.toChar); c = in.read() }
      if (c == -1) throw new java.io.EOFException()
      in.read()
      sb.toString
    }

    private def serve(sock: Socket): Unit = {
      val in = new BufferedInputStream(sock.getInputStream)
      val out = new BufferedOutputStream(sock.getOutputStream)
      out.write("INFO {\"server_id\":\"graft-stub\",\"proto\":1}\r\n"
        .getBytes(ISO_8859_1)); out.flush()
      try while (!closed) {
        val line = readLine(in)
        val parts = line.split(" ")
        parts(0) match {
          case "CONNECT" => // verbose:false — no +OK on success
            val ok = requireAuth.forall { case (k, v) =>
              line.contains(s""""$k":"$v"""") }
            if (!ok) {
              out.synchronized {
                out.write("-ERR 'Authorization Violation'\r\n".getBytes(ISO_8859_1))
                out.flush()
              }
              sock.close()
            }
          case "PING" =>
            out.synchronized { out.write("PONG\r\n".getBytes(ISO_8859_1)); out.flush() }
          case "SUB" => subs.add((parts(1), out, parts(2)))
          case "PUB" =>
            val (subject, n) = (parts(1), parts.last.toInt)
            val body = new Array[Byte](n)
            var off = 0
            while (off < n) {
              val r = in.read(body, off, n - off)
              require(r >= 0); off += r
            }
            in.read(); in.read() // CRLF
            subs.forEach { case (s, o, sid) =>
              if (s == subject) o.synchronized {
                o.write(s"MSG $subject $sid $n\r\n".getBytes(ISO_8859_1))
                o.write(body)
                o.write("\r\n".getBytes(ISO_8859_1))
                o.flush()
              }
            }
          case _ => ()
        }
      } catch { case _: java.io.IOException => () }
    }

    private val acceptor = new Thread(() => {
      try while (!closed) {
        val sock = server.accept()
        val t = new Thread(() => serve(sock), "stub-conn")
        t.setDaemon(true); t.start()
      } catch { case _: java.io.IOException => () }
    }, "stub-acceptor")
    acceptor.setDaemon(true)
    acceptor.start()

    def close(): Unit = { closed = true; server.close() }
  }

  private def eventually[A](deadlineMs: Long = 5000)(f: => A): A = {
    val end = System.currentTimeMillis() + deadlineMs
    var last: Throwable = null
    while (System.currentTimeMillis() < end) {
      try return f
      catch { case t: org.scalatest.exceptions.TestFailedException =>
        last = t; Thread.sleep(25) }
    }
    throw last
  }

  test("connect -> SUB -> PUB -> MSG loop over a real socket, binary-safe, in order") {
    val broker = new StubBroker
    try {
      val sub = new NatsWire.Subscription("127.0.0.1", broker.port, "orders.eu")
      try {
        val payloads = Seq(
          "hello".getBytes(ISO_8859_1),
          Array[Byte](0, 1, -1, 13, 10, 0, 127, -128), // CRLF + NULs inside
          Array.empty[Byte],
          ("x" * 4096).getBytes(ISO_8859_1)) // larger than one TCP segment? still exact
        NatsWire.publish("127.0.0.1", broker.port, "orders.eu", payloads)
        // publish returns after its PING/PONG, but subscriber delivery is
        // a separate connection's write — poll the drain briefly
        val got = eventually() {
          val g = sub.drain()
          assert(g.length >= payloads.length)
          g
        }
        assert(got.length == payloads.length)
        got.zip(payloads).foreach { case (a, b) =>
          assert(java.util.Arrays.equals(a, b))
        }
        // a subject we never subscribed to routes nowhere
        NatsWire.publish("127.0.0.1", broker.port, "other.subject",
          Seq("nope".getBytes(ISO_8859_1)))
        Thread.sleep(100)
        assert(sub.drain().isEmpty)
      } finally sub.close()
    } finally broker.close()
  }

  test("NatsSource adapter semantics run over the live wire: buffer, ack-trim, pending") {
    val broker = new StubBroker
    try {
      val sub = new NatsWire.Subscription("127.0.0.1", broker.port, "events")
      try {
        val src = new Connectors.NatsSource(sub, "events")
        NatsWire.publish("127.0.0.1", broker.port, "events",
          (1 to 5).map(i => s"m$i".getBytes(ISO_8859_1)))
        val upTo = eventually() {
          val o = src.latestOffset(0)
          assert(o == 5L); o
        }
        val rows = src.read(0, 0L, upTo).toSeq
        assert(rows.map(r => new String(r.value, ISO_8859_1)) ==
          (1 to 5).map(i => s"m$i"))
        assert(rows.forall(_.keys == Seq("events")))
        src.ack(0, 3L)
        assert(src.pending == 2L)
        // at-most-once: a publish while subscribed lands; offsets continue
        NatsWire.publish("127.0.0.1", broker.port, "events",
          Seq("m6".getBytes(ISO_8859_1)))
        val upTo2 = eventually() {
          val o = src.latestOffset(0)
          assert(o == 6L); o
        }
        assert(new String(src.read(0, 5L, upTo2).next().value, ISO_8859_1) == "m6")
      } finally sub.close()
    } finally broker.close()
  }

  test("auth: user/pass CONNECT fields satisfy an auth-required broker; " +
      "a credential-less CONNECT is rejected with -ERR") {
    val broker = new StubBroker(requireAuth = Seq("user" -> "svc", "pass" -> "pw"))
    try {
      val sub = new NatsWire.Subscription("127.0.0.1", broker.port, "authd",
        auth = Some(NatsWire.Auth.UserPass("svc", "pw")))
      try {
        NatsWire.publish("127.0.0.1", broker.port, "authd",
          Seq("hello".getBytes(ISO_8859_1)),
          auth = Some(NatsWire.Auth.UserPass("svc", "pw")))
        eventually() {
          assert(sub.drain().map(new String(_, ISO_8859_1)) == Seq("hello"))
        }
      } finally sub.close()
      val e = intercept[IllegalArgumentException](
        new NatsWire.Subscription("127.0.0.1", broker.port, "authd"))
      assert(e.getMessage.contains("Authorization Violation"))
    } finally broker.close()
  }

  test("auth: token mode rides the auth_token CONNECT field (publish path)") {
    val broker = new StubBroker(requireAuth = Seq("auth_token" -> "tok-123"))
    try {
      val sub = new NatsWire.Subscription("127.0.0.1", broker.port, "tokend",
        auth = Some(NatsWire.Auth.Token("tok-123")))
      try {
        NatsWire.publish("127.0.0.1", broker.port, "tokend",
          Seq("t".getBytes(ISO_8859_1)), auth = Some(NatsWire.Auth.Token("tok-123")))
        eventually() {
          assert(sub.drain().map(new String(_, ISO_8859_1)) == Seq("t"))
        }
      } finally sub.close()
      // a wrong token is rejected at publish time: the client reads the
      // -ERR (IllegalArgumentException) or, if the stub's close wins
      // the race, the cut socket (IOException) — never a silent PONG
      val e = intercept[Exception](
        NatsWire.publish("127.0.0.1", broker.port, "tokend",
          Seq("x".getBytes(ISO_8859_1)), auth = Some(NatsWire.Auth.Token("bad"))))
      assert(e.isInstanceOf[java.io.IOException] ||
        e.getMessage.contains("rejected publish"))
    } finally broker.close()
  }
}
