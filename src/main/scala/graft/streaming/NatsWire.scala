package graft.streaming

import java.io.{BufferedInputStream, BufferedOutputStream, InputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.concurrent.ConcurrentLinkedQueue

/** Socket-level CORE NATS transport — the engine's own implementation of
  * the (public, line-based) NATS client protocol: `INFO` → `CONNECT` →
  * `SUB`/`PUB` → `MSG`, `PING`/`PONG` keepalive. Implements the
  * injected [[Connectors.NatsSubscription]] transport with zero
  * dependencies beyond the JDK, so the at-most-once core-NATS source
  * (S4, `rust/extns/numaflow-nats/src/nats.rs`) needs no `io.nats:jnats`
  * jar. It is exercised end-to-end over a real loopback socket
  * (NatsWireSpec, against an in-process stub broker).
  *
  * Protocol notes (client side): one `INFO {...}` line arrives on
  * connect; `CONNECT {...}` is sent with `verbose:false` so no `+OK`
  * chatter; `MSG <subject> <sid> [reply-to] <#bytes>\r\n<payload>\r\n`
  * frames carry binary-safe payloads (byte-exact reads, never a string
  * round-trip); server `PING` is answered `PONG` inline by the reader.
  * Subjects are used verbatim (no wildcard expansion client-side —
  * wildcard routing is the broker's job).
  *
  * Delivery semantics match core NATS: at-most-once, no broker ack —
  * a message published while no subscription is connected is GONE.
  * That is the reference's documented core-NATS contract, and exactly
  * what [[Connectors.NatsSource]] layers its replay buffer over.
  */
object NatsWire {

  /** Optional CONNECT-time client authentication — the two documented
    * core-NATS credential modes (user/password and token). The fields
    * ride INSIDE the CONNECT JSON, so one option serves
    * [[Subscription]], [[publish]], and [[JetStreamWire]] alike. As
    * with any password auth over a plaintext socket, pair with TLS in
    * production (out of scope here — conformance matrix). */
  sealed trait Auth { private[streaming] def connectFields: String }
  object Auth {
    final case class UserPass(user: String, pass: String) extends Auth {
      private[streaming] def connectFields =
        s""","user":${jsonStr(user)},"pass":${jsonStr(pass)}"""
    }
    final case class Token(token: String) extends Auth {
      private[streaming] def connectFields = s""","auth_token":${jsonStr(token)}"""
    }
  }

  /** Minimal JSON string literal (quote/backslash/control escapes). */
  private def jsonStr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** One protocol line: bytes until CRLF, decoded ISO-8859-1 (the
    * protocol line itself is ASCII; payloads never pass through here).
    * Shared with [[JetStreamWire]] — same framing, same broker. */
  private[streaming] def readLine(in: InputStream): String = {
    val sb = new java.lang.StringBuilder(64)
    var c = in.read()
    while (c != -1 && c != '\r') { sb.append(c.toChar); c = in.read() }
    if (c == -1) throw new java.io.EOFException("NATS peer closed")
    in.read() // the \n of CRLF
    sb.toString
  }

  private[streaming] def readPayload(in: InputStream, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(buf, off, n - off)
      if (r < 0) throw new java.io.EOFException("NATS peer closed mid-payload")
      off += r
    }
    in.read(); in.read() // trailing CRLF
    buf
  }

  /** A live core-NATS subscription over a raw socket. A daemon reader
    * thread parses frames and enqueues payloads; [[drain]] empties the
    * queue without blocking (the [[Connectors.NatsSource]] contract). */
  final class Subscription(host: String, port: Int, subject: String,
                           auth: Option[Auth] = None,
                           socketFactory: (String, Int) => Socket = Tls.plain)
      extends Connectors.NatsSubscription with AutoCloseable {
    private val socket = socketFactory(host, port)
    private val in = new BufferedInputStream(socket.getInputStream)
    private val out = new BufferedOutputStream(socket.getOutputStream)
    private val queue = new ConcurrentLinkedQueue[Array[Byte]]()
    @volatile private var closed = false

    private def send(s: String): Unit =
      synchronized { out.write(s.getBytes(ISO_8859_1)); out.flush() }

    private def handleFrame(line: String): Unit =
      if (line.startsWith("MSG ")) {
        val n = line.substring(line.lastIndexOf(' ') + 1).toInt
        queue.add(readPayload(in, n))
      } else if (line == "PING") send("PONG\r\n")
      // +OK / -ERR / repeated INFO: nothing to do at this layer

    // handshake on the constructing thread: INFO, then CONNECT+SUB+PING
    // and wait for the PONG — once it arrives the broker has processed
    // the SUB, so a publish that follows this constructor is routable
    locally {
      try {
        val info = readLine(in)
        require(info.startsWith("INFO"), s"expected INFO, got: $info")
        send("CONNECT {\"verbose\":false,\"pedantic\":false," +
          "\"name\":\"graft-wire\"" + auth.fold("")(_.connectFields) +
          "}\r\nSUB " + subject + " 1\r\nPING\r\n")
        var line = readLine(in)
        while (line != "PONG") {
          require(!line.startsWith("-ERR"), s"broker rejected handshake: $line")
          handleFrame(line); line = readLine(in)
        }
      } catch {
        // a failed handshake must not leak the connected socket: the
        // constructor throws and no close() will ever be called
        case t: Throwable =>
          try socket.close() catch { case _: java.io.IOException => () }
          throw t
      }
    }

    private val reader = new Thread(() => {
      try while (!closed) handleFrame(readLine(in))
      catch { case _: java.io.IOException => () } // closed socket
    }, s"nats-wire-reader-$subject")
    reader.setDaemon(true)
    reader.start()

    def drain(): Seq[Array[Byte]] = {
      val out = Seq.newBuilder[Array[Byte]]
      var m = queue.poll()
      while (m != null) { out += m; m = queue.poll() }
      out.result()
    }

    def close(): Unit = { closed = true; socket.close() }
  }

  /** Publish payloads to a subject and CONFIRM delivery to the broker:
    * the trailing PING/PONG round-trip proves every preceding PUB was
    * processed before this returns (the standard flush idiom — NATS has
    * no per-publish ack in core mode). */
  def publish(host: String, port: Int, subject: String,
              payloads: Seq[Array[Byte]],
              auth: Option[Auth] = None,
              socketFactory: (String, Int) => Socket = Tls.plain): Unit = {
    val socket = socketFactory(host, port)
    try {
      val in = new BufferedInputStream(socket.getInputStream)
      val out = new BufferedOutputStream(socket.getOutputStream)
      require(readLine(in).startsWith("INFO"), "expected INFO")
      out.write(("CONNECT {\"verbose\":false,\"pedantic\":false," +
        "\"name\":\"graft-pub\"" + auth.fold("")(_.connectFields) +
        "}\r\n").getBytes(ISO_8859_1))
      payloads.foreach { p =>
        out.write(s"PUB $subject ${p.length}\r\n".getBytes(ISO_8859_1))
        out.write(p)
        out.write("\r\n".getBytes(ISO_8859_1))
      }
      out.write("PING\r\n".getBytes(ISO_8859_1))
      out.flush()
      var line = readLine(in)
      while (line != "PONG") {
        require(!line.startsWith("-ERR"), s"broker rejected publish: $line")
        line = readLine(in)
      }
    } finally socket.close()
  }
}
