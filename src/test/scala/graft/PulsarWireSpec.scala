package graft

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.CopyOnWriteArrayList
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{Connectors, PulsarWire}
import graft.streaming.PulsarWire.{Frame, Pb, T, baseCmd}

/** The Pulsar binary protocol subset, end-to-end over a real loopback TCP
  * socket: an in-process stub broker speaks CONNECT/CONNECTED,
  * PRODUCER/SEND/SEND_RECEIPT (CRC32C-verified payload frames),
  * SUBSCRIBE/FLOW/MESSAGE, cumulative ACK with a persistent mark-delete
  * cursor, and PING/PONG — and [[PulsarWire]] drives produce → subscribe →
  * consume → ack → re-subscribe redelivery against it. S6/K4's reference
  * semantics (`rust/extns/numaflow-pulsar/src/source.rs`: cumulative ack,
  * redelivery of the unacked suffix, keyed produce) proven over a live
  * socket, the proof S4/S5/S7 got from their wire specs.
  *
  * Two layout pins keep the shared-codec round-trip honest (client and
  * stub reuse [[PulsarWire.Frame]], so a layout bug could cancel out):
  * golden-byte tests assert the exact frame bytes of a known command and
  * a known payload frame, with the CRC32C recomputed by an INDEPENDENT
  * bit-level implementation of the Castagnoli polynomial. */
class PulsarWireSpec extends AnyFunSuite {


  // ---- independent CRC32C (reflected 0x1EDC6F41), bit-by-bit ----
  private def crc32cRef(bytes: Array[Byte]): Long = {
    var crc = 0xffffffffL
    bytes.foreach { b =>
      crc ^= (b & 0xffL)
      var k = 0
      while (k < 8) {
        crc = if ((crc & 1L) != 0) (crc >>> 1) ^ 0x82f63b78L else crc >>> 1
        k += 1
      }
    }
    (crc ^ 0xffffffffL) & 0xffffffffL
  }

  /** Loopback stub broker: one topic namespace, persistent per-subscription
    * mark-delete cursors (survive reconnects — the redelivery contract),
    * additive FLOW permits, checksum-verified SENDs. One thread per
    * connection; shared state synchronized on the broker. */
  /** With `requireToken` set, CONNECT must carry auth_method_name
    * "token" (field 5) + matching auth_data (field 3) — otherwise the
    * stub answers CommandError(AuthenticationError) and cuts the
    * connection, the real broker's token-listener behavior. */
  private final class PulsarStubBroker(requireToken: Option[String] = None)
      extends AutoCloseable {
    @volatile private var server = new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
    val port: Int = server.getLocalPort
    // topic -> ordered (entryId implied by index, key, payload,
    // num_messages_in_batch: 0 = plain single-message entry)
    private val topics = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[(String, Array[Byte], Long)]]
    // subscription -> mark-delete entry (last acked; -1 = nothing acked)
    private val markDelete = scala.collection.mutable.Map.empty[String, Long]
    private final class Live(val out: DataOutputStream, val topic: String,
                             val subscription: String) {
      var permits = 0L
      var cursor = 0L // next entry to deliver
    }
    private val consumers = new CopyOnWriteArrayList[Live]()
    val pongs = new AtomicInteger(0)
    val checksummedSends = new AtomicInteger(0)
    /** Test knob: stamp this CompressionType on delivered MESSAGE
      * metadata (field 8) — models a broker whose producers negotiated
      * a codec this client does not ship. */
    @volatile var injectCompression: Long = 0L
    @volatile private var closed = false

    def markDeleteOf(sub: String): Long = synchronized(markDelete.getOrElse(sub, -1L))
    def messagesOf(topic: String): Seq[(String, Array[Byte])] =
      synchronized(topics.getOrElse(topic,
        scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte], Long)])
        .toList.map(m => (m._1, m._2)))

    private def msgsOf(topic: String) =
      topics.getOrElseUpdate(topic, scala.collection.mutable.ArrayBuffer.empty)

    /** Push deliverable messages to a consumer within its permit window. */
    private def pump(c: Live): Unit = {
      val msgs = msgsOf(c.topic)
      while (c.permits > 0 && c.cursor < msgs.length) {
        val (key, body, nb) = msgs(c.cursor.toInt)
        val meta = new Pb.Writer().str(1, "stub").int(2, c.cursor).int(3, 1L)
        if (key != null) meta.str(6, key)
        if (injectCompression > 0) meta.int(8, injectCompression)
        if (nb > 0) meta.int(11, nb)
        Frame.writePayload(c.out,
          baseCmd(T.Message, new Pb.Writer().int(1, 1L)
            .msg(2, new Pb.Writer().int(1, 1L).int(2, c.cursor))),
          meta.result, body)
        c.cursor += 1
        c.permits -= 1
      }
    }

    private def handle(conn: Socket, f: Frame.In, out: DataOutputStream): Unit =
      synchronized {
        f.tpe match {
          case T.Connect =>
            val c = f.cmd.msg(T.Connect)
            val ok = requireToken.forall(t =>
              c.strOpt(5).contains("token") && c.strOpt(3).contains(t))
            if (ok)
              Frame.write(out, baseCmd(T.Connected,
                new Pb.Writer().str(1, "pulsar-stub").int(2, 21L)))
            else {
              Frame.write(out, baseCmd(T.Error, new Pb.Writer()
                .int(1, 0L).int(2, 2L).str(3, "AuthenticationError")))
              conn.close()
            }
          case T.Producer =>
            val p = f.cmd.msg(T.Producer)
            Frame.write(out, baseCmd(T.ProducerSuccess,
              new Pb.Writer().int(1, p.long(3)).str(2, p.strOpt(4).getOrElse("gen-1"))))
          case T.Send =>
            // Frame.read already verified the CRC32C; count it as proof
            checksummedSends.incrementAndGet()
            val s = f.cmd.msg(T.Send)
            val meta = f.meta.get
            val key = meta.strOpt(6).orNull
            val nb = meta.longOpt(11, 0L)
            // producer registration tracked per connection via topic map:
            // the stub keys messages by the producer's declared topic,
            // carried on the connection attachment below
            val topic = conn.getAttachment
            val msgs = msgsOf(topic)
            msgs += ((key, f.payload.get, nb))
            val entry = msgs.length - 1L
            Frame.write(out, baseCmd(T.SendReceipt, new Pb.Writer()
              .int(1, s.long(1)).int(2, s.long(2))
              .msg(3, new Pb.Writer().int(1, 1L).int(2, entry))))
            consumers.forEach(c => if (c.topic == topic) pump(c))
          case T.Subscribe =>
            val sub = f.cmd.msg(T.Subscribe)
            val live = new Live(out, sub.str(1), sub.str(2))
            live.cursor = markDelete.getOrElse(live.subscription, -1L) + 1
            consumers.add(live)
            conn.setLive(live)
            Frame.write(out, baseCmd(T.Success, new Pb.Writer().int(1, sub.long(5))))
            Frame.write(out, PulsarWire.emptyCmd(T.Ping)) // prove client PONGs
          case T.Flow =>
            consumers.forEach { c =>
              if (c.out eq out) { c.permits += f.cmd.msg(T.Flow).long(2); pump(c) }
            }
          case T.Ack =>
            val a = f.cmd.msg(T.Ack)
            require(a.long(2) == 1L, "stub only models cumulative acks")
            val entry = a.msg(3).long(2)
            consumers.forEach { c =>
              if (c.out eq out)
                markDelete(c.subscription) =
                  math.max(markDelete.getOrElse(c.subscription, -1L), entry)
            }
          case T.Pong => pongs.incrementAndGet()
          case T.Ping => Frame.write(out, PulsarWire.emptyCmd(T.Pong))
          case other => throw new IllegalStateException(s"stub: unexpected type $other")
        }
      }

    /** Tiny per-connection attachment (declared topic + live consumer). */
    private final class Conn(val socket: Socket) {
      @volatile var topic: String = _
      @volatile var live: Live = _
    }
    private implicit final class SocketOps(s: Socket) {
      def getAttachment: String = attachments.get(s).topic
      def setLive(l: Live): Unit = attachments.get(s).live = l
    }
    private val attachments = new java.util.concurrent.ConcurrentHashMap[Socket, Conn]()

    private def startAcceptor(): Unit = {
      val srv = server
      val acceptor = new Thread(() => {
        try while (!closed) {
          val s = srv.accept()
          attachments.put(s, new Conn(s))
          val t = new Thread(() => {
            val in = new DataInputStream(new BufferedInputStream(s.getInputStream))
            val out = new DataOutputStream(new BufferedOutputStream(s.getOutputStream))
            try while (!closed) {
              val f = Frame.read(in)
              // remember the producer's topic for subsequent SENDs
              if (f.tpe == T.Producer) attachments.get(s).topic = f.cmd.msg(T.Producer).str(1)
              handle(s, f, out)
            } catch { case _: java.io.IOException => () }
            finally {
              val c = attachments.remove(s)
              if (c != null && c.live != null) consumers.remove(c.live)
            }
          }, "pulsar-stub-conn")
          t.setDaemon(true)
          t.start()
        } catch { case _: java.io.IOException => () }
      }, "pulsar-stub-acceptor")
      acceptor.setDaemon(true)
      acceptor.start()
    }
    startAcceptor()

    /** Chaos hook: drop the listener and every live connection; the
      * bookie state (topics) and the subscription cursors (markDelete)
      * survive — a crashed broker's persisted state. */
    def kill(): Unit = {
      server.close()
      attachments.keySet.forEach(s =>
        try s.close() catch { case _: java.io.IOException => () })
    }

    /** Rebind the SAME port; reconnecting consumers re-SUBSCRIBE and the
      * cursor resumes from mark-delete + 1 (the redelivery contract). */
    def restart(): Unit = {
      server = WireTestUtil.rebind(port)
      startAcceptor()
    }

    def close(): Unit = { closed = true; kill() }
  }

  private def eventually[A](what: String, timeoutMs: Long = 5000L)(f: => Option[A]): A = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var r = f
    while (r.isEmpty && System.nanoTime() < deadline) { Thread.sleep(10); r = f }
    r.getOrElse(fail(s"timed out waiting for $what"))
  }

  test("golden bytes: CONNECT frame layout is pinned (independent of the codec)") {
    // BaseCommand{type=CONNECT(2), connect=CommandConnect{client_version="x",
    // protocol_version=21}} — protobuf bytes computed by hand:
    //   08 02                  field 1 varint 2
    //   12 05                  field 2 len 5
    //     0a 01 78             connect.field 1 "x"
    //     20 15                connect.field 4 varint 21
    val cmd = baseCmd(T.Connect, new Pb.Writer().str(1, "x").int(4, 21L))
    assert(cmd.map(b => f"$b%02x").mkString(" ") === "08 02 12 05 0a 01 78 20 15")
    val bos = new ByteArrayOutputStream()
    Frame.write(new DataOutputStream(bos), cmd)
    // totalSize = 4 + 9 = 13, commandSize = 9
    assert(bos.toByteArray.take(8).map(b => f"$b%02x").mkString(" ") ===
      "00 00 00 0d 00 00 00 09")
  }

  test("golden bytes: payload frame magic + CRC32C match an independent implementation") {
    val cmd = baseCmd(T.Send, new Pb.Writer().int(1, 1L).int(2, 0L))
    val meta = new Pb.Writer().str(1, "p").int(2, 0L).int(3, 1L).result
    val payload = "hello".getBytes("UTF-8")
    val bos = new ByteArrayOutputStream()
    Frame.writePayload(new DataOutputStream(bos), cmd, meta, payload)
    val frame = bos.toByteArray
    val cmdSize = cmd.length
    // [0,4) total, [4,8) cmdSize, [8,8+cmd) cmd, magic 2, crc 4, tail
    val magicOff = 8 + cmdSize
    assert(((frame(magicOff) & 0xff) << 8 | (frame(magicOff + 1) & 0xff)) === 0x0e01)
    val crcStored = java.nio.ByteBuffer.wrap(frame, magicOff + 2, 4).getInt & 0xffffffffL
    val tail = java.util.Arrays.copyOfRange(frame, magicOff + 6, frame.length)
    assert(crcStored === crc32cRef(tail), "stored CRC32C != independent bit-level CRC32C")
    // and the tail starts with the 4-byte metadataSize
    val metaSize = java.nio.ByteBuffer.wrap(tail, 0, 4).getInt
    assert(metaSize === meta.length)
  }

  test("a corrupted payload frame is rejected by the checksum on read") {
    val cmd = baseCmd(T.Send, new Pb.Writer().int(1, 1L).int(2, 0L))
    val meta = new Pb.Writer().str(1, "p").int(2, 0L).int(3, 1L).result
    val bos = new ByteArrayOutputStream()
    Frame.writePayload(new DataOutputStream(bos), cmd, meta, Array[Byte](1, 2, 3))
    val frame = bos.toByteArray
    frame(frame.length - 1) = (frame(frame.length - 1) ^ 0x40).toByte // flip payload bit
    val e = intercept[IllegalArgumentException] {
      Frame.read(new DataInputStream(new ByteArrayInputStream(frame)))
    }
    assert(e.getMessage.contains("CRC32C"))
  }

  test("produce → consume → cumulative ack → re-subscribe redelivers only the unacked suffix") {
    val broker = new PulsarStubBroker
    try {
      val binary = Array.tabulate(256)(i => i.toByte)
      val ids = PulsarWire.produce("127.0.0.1", broker.port, "t/docs",
        Seq(("k0", "a".getBytes), ("k1", "b".getBytes), (null, binary),
            ("k3", "d".getBytes), ("k4", "e".getBytes)))
      assert(ids.map(_._2) === Seq(0L, 1L, 2L, 3L, 4L)) // receipt-confirmed entry ids

      val c1 = new PulsarWire.Consumer("127.0.0.1", broker.port, "t/docs", "s1")
      val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Array[Byte])]
      eventually("5 messages") {
        got ++= c1.poll(); if (got.length >= 5) Some(()) else None
      }
      assert(got.map(_._2) === Seq("k0", "k1", null, "k3", "k4")) // keys survive the wire
      assert(got(2)._3.toSeq === binary.toSeq)                    // binary-safe payloads
      c1.ackCumulative(got(2)._1) // ack through the 3rd message
      eventually("mark-delete at entry 2") {
        if (broker.markDeleteOf("s1") == 2L) Some(()) else None
      }
      c1.close()

      // reconnect on the same subscription: cursor resumes AFTER the ack
      val c2 = new PulsarWire.Consumer("127.0.0.1", broker.port, "t/docs", "s1")
      val redelivered = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Array[Byte])]
      eventually("2 redelivered") {
        redelivered ++= c2.poll(); if (redelivered.length >= 2) Some(()) else None
      }
      assert(redelivered.map(_._2) === Seq("k3", "k4"))
      assert(broker.checksummedSends.get() === 5)
      eventually("both consumers answering the broker PING") {
        if (broker.pongs.get() >= 2) Some(()) else None
      }
      c2.close()
    } finally broker.close()
  }

  test("FLOW permits are additive: a 2-permit window still drains 7 messages") {
    val broker = new PulsarStubBroker
    try {
      PulsarWire.produce("127.0.0.1", broker.port, "t/flow",
        (0 until 7).map(i => (s"k$i", Array(i.toByte))))
      val c = new PulsarWire.Consumer("127.0.0.1", broker.port, "t/flow", "s", permits = 2)
      val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Array[Byte])]
      eventually("7 messages through a 2-permit window") {
        got ++= c.poll(); if (got.length >= 7) Some(()) else None
      }
      assert(got.map(_._3.head.toInt) === (0 until 7))
      c.close()
    } finally broker.close()
  }

  test("the Connectors.PulsarSource adapter runs end-to-end over the wire client") {
    val broker = new PulsarStubBroker
    try {
      PulsarWire.produce("127.0.0.1", broker.port, "t/src",
        Seq(("a", "1".getBytes), ("b", "2".getBytes), ("c", "3".getBytes)))
      val consumer = new PulsarWire.Consumer("127.0.0.1", broker.port, "t/src", "adapter")
      val source = new Connectors.PulsarSource(consumer, "t/src")
      val hi = eventually("offsets visible") {
        val o = source.latestOffset(0); if (o >= 3) Some(o) else None
      }
      val recs = source.read(0, 0L, hi).toList
      assert(recs.map(r => new String(r.value)) === Seq("1", "2", "3"))
      source.ack(0, 2L) // first two offsets → cumulative ack of entry 1
      eventually("mark-delete at entry 1") {
        if (broker.markDeleteOf("adapter") == 1L) Some(()) else None
      }
      assert(source.pending === 1L)
      consumer.close()
    } finally broker.close()
  }

  test("batched SEND: one entry, n sub-messages, per-message keys, entry-granular ack") {
    val broker = new PulsarStubBroker
    val producer = new PulsarWire.Producer("127.0.0.1", broker.port, "t.batch")
    try {
      val (l1, e1) = producer.sendBatch(Seq(
        ("ka", "alpha".getBytes("UTF-8")),
        (null, "beta".getBytes("UTF-8")),
        ("kc", "gamma".getBytes("UTF-8"))))
      val (_, e2) = producer.send("kd", "delta".getBytes("UTF-8"))
      assert(e1 === 0L && e2 === 1L, "a batch is ONE broker entry")
      val consumer = new PulsarWire.Consumer("127.0.0.1", broker.port,
        "t.batch", "sub-batch")
      try {
        val acc =
          scala.collection.mutable.ArrayBuffer.empty[(Long, String, Array[Byte])]
        val got = eventually("4 sub-messages") {
          acc ++= consumer.poll() // poll() drains — accumulate across tries
          if (acc.size >= 4) Some(acc.toList) else None
        }
        assert(got.map(m => new String(m._3, "UTF-8")) ===
          Seq("alpha", "beta", "gamma", "delta"))
        assert(got.map(_._2) === Seq("ka", null, "kc", "kd"))
        // acking through the batch's LAST sub-message moves the cursor
        // past the whole entry; a re-subscribe redelivers only delta's
        // successor set (nothing here)
        consumer.ackCumulative(got(2)._1)
        eventually("mark-delete at entry 0") {
          if (broker.markDeleteOf("sub-batch") == 0L) Some(()) else None
        }
      } finally consumer.close()
    } finally { producer.close(); broker.close() }
  }

  test("chaos: broker dies mid-consume, restarts, and the SAME consumer " +
      "reconnects — cursor redelivers exactly the unacked suffix") {
    val broker = new PulsarStubBroker
    try {
      PulsarWire.produce("127.0.0.1", broker.port, "t/chaos",
        (0 until 5).map(i => (s"k$i", s"v$i".getBytes(UTF_8))))
      val c = new PulsarWire.Consumer("127.0.0.1", broker.port, "t/chaos", "schaos")
      try {
        val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Array[Byte])]
        eventually("5 messages") {
          got ++= c.poll(); if (got.length >= 5) Some(()) else None
        }
        c.ackCumulative(got(2)._1) // mark-delete at entry 2
        eventually("mark-delete at entry 2") {
          if (broker.markDeleteOf("schaos") == 2L) Some(()) else None
        }
        broker.kill()
        broker.restart()
        // the reader thread redials + re-SUBSCRIBEs on its own; the
        // broker cursor redelivers ONLY entries 3..4 (acked prefix gone,
        // unacked suffix back — duplicates bounded by the unacked window)
        val redelivered = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Array[Byte])]
        eventually("2 redelivered after restart") {
          redelivered ++= c.poll(); if (redelivered.length >= 2) Some(()) else None
        }
        assert(redelivered.map(_._2) === Seq("k3", "k4"))
        assert(redelivered.map(m => new String(m._3, UTF_8)) === Seq("v3", "v4"))
        // the recovered session is fully live: ack + fresh publishes flow
        c.ackCumulative(redelivered.last._1)
        eventually("mark-delete at entry 4") {
          if (broker.markDeleteOf("schaos") == 4L) Some(()) else None
        }
        PulsarWire.produce("127.0.0.1", broker.port, "t/chaos", Seq(("k5", "v5".getBytes(UTF_8))))
        val fresh = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Array[Byte])]
        eventually("post-restart publish delivered") {
          fresh ++= c.poll(); if (fresh.nonEmpty) Some(()) else None
        }
        assert(fresh.map(_._2) === Seq("k5"))
      } finally c.close()
    } finally broker.close()
  }

  test("an unimplemented compression codec fails LOUDLY at the consumer seam, " +
      "never passes compressed bytes through as payload") {
    val broker = new PulsarStubBroker
    try {
      broker.injectCompression = 4L // SNAPPY — no codec jar in this build
      PulsarWire.produce("127.0.0.1", broker.port, "t/zip",
        Seq(("k0", "not-really-snappy".getBytes(UTF_8))))
      val c = new PulsarWire.Consumer("127.0.0.1", broker.port, "t/zip", "szip")
      try {
        val e = eventually("the reader surfacing the codec failure") {
          try { c.poll(); None }
          catch { case e: IllegalStateException => Some(e) }
        }
        assert(e.getCause.getMessage.contains("compression type 4"))
      } finally c.close()
    } finally broker.close()
  }

  test("token auth: CONNECT carries auth_method_name token + auth_data; " +
      "produce/consume work; a token-less client is refused") {
    val broker = new PulsarStubBroker(requireToken = Some("jwt-abc"))
    try {
      val consumer = new PulsarWire.Consumer("127.0.0.1", broker.port,
        "persistent://t/auth", "sub-auth", authToken = Some("jwt-abc"))
      val producer = new PulsarWire.Producer("127.0.0.1", broker.port,
        "persistent://t/auth", authToken = Some("jwt-abc"))
      try {
        producer.send("k", "authed".getBytes(UTF_8))
        val got = eventually("the authed message") {
          val polled = consumer.poll()
          if (polled.nonEmpty) Some(polled) else None
        }
        assert(got.map(m => new String(m._3, UTF_8)) == Seq("authed"))
      } finally { producer.close(); consumer.close() }
      // no token → CommandError instead of CONNECTED: the handshake
      // require fires (never a silent unauthenticated session)
      val e = intercept[IllegalArgumentException](
        new PulsarWire.Producer("127.0.0.1", broker.port, "persistent://t/auth"))
      assert(e.getMessage.contains("expected CONNECTED"))
    } finally broker.close()
  }
}
