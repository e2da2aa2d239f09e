package graft.streaming

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.zip.CRC32C

/** Socket-level PULSAR transport — the engine's own implementation of the
  * (public, documented) Pulsar binary protocol subset the S6 source / K4
  * sink need: `CONNECT`/`CONNECTED`, `PRODUCER`/`PRODUCER_SUCCESS`,
  * `SEND`/`SEND_RECEIPT` (payload frames with the 0x0e01 magic + CRC32C
  * checksum), `SUBSCRIBE`/`SUCCESS`, additive `FLOW` permits, pushed
  * `MESSAGE` frames, cumulative `ACK`, and `PING`/`PONG` keepalive.
  * Implements the injected [[Connectors.PulsarConsumer]] seam with zero
  * dependencies beyond the JDK (no pulsar-client jar), so the Pulsar
  * source/sink path (reference `rust/extns/numaflow-pulsar/src/source.rs`,
  * `sink.rs`) has live-TCP evidence: PulsarWireSpec drives an in-process
  * stub broker over a real loopback socket.
  *
  * Protocol notes (all public — pulsar.apache.org "binary protocol"):
  *  - Simple frame: `[totalSize i32][commandSize i32][BaseCommand pb]`.
  *  - Payload frame (SEND/MESSAGE): the command is followed by
  *    `[magic 0x0e01][checksum u32][metadataSize i32][MessageMetadata pb]
  *    [payload]`; the CRC32C covers everything AFTER the checksum field.
  *  - `BaseCommand` carries `type` (field 1) plus one optional sub-message
  *    whose field number equals the type enum value (CONNECT=2 ...
  *    PONG=19) — the tiny hand-rolled protobuf codec below encodes exactly
  *    the required/optional fields this subset touches.
  *  - FLOW permits are ADDITIVE: the consumer grants an initial window and
  *    re-grants as messages are consumed (half-window replenishment, the
  *    standard client shape).
  *  - Cumulative ACK carries the highest (ledgerId, entryId) — the broker
  *    moves the subscription's mark-delete cursor; a re-subscribe resumes
  *    AFTER it, redelivering unacked messages (at-least-once).
  *
  * Adapter-id bookkeeping: the engine seam speaks monotone local Longs;
  * this client keeps the local-id → (ledgerId, entryId) map until the
  * cumulative ack releases the prefix.
  */
object PulsarWire {

  // ---- minimal protobuf codec (proto2 subset: varint + len-delimited) ----

  private[graft] object Pb {
    /** Append-only writer; nested messages compose via [[msg]]. */
    final class Writer {
      private val out = new java.io.ByteArrayOutputStream(64)
      def varint(v: Long): this.type = {
        var x = v
        while ((x & ~0x7fL) != 0) { out.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
        out.write(x.toInt); this
      }
      private def tag(field: Int, wt: Int): this.type = varint((field.toLong << 3) | wt)
      def int(field: Int, v: Long): this.type = { tag(field, 0); varint(v) }
      def bytes(field: Int, b: Array[Byte]): this.type = {
        tag(field, 2); varint(b.length.toLong); out.write(b); this
      }
      def str(field: Int, s: String): this.type = bytes(field, s.getBytes(UTF_8))
      def msg(field: Int, m: Writer): this.type = bytes(field, m.result)
      def result: Array[Byte] = out.toByteArray
    }

    /** Parsed message: field → values in arrival order (Long for varint,
      * Array[Byte] for length-delimited; fixed32/64 kept raw). */
    final case class Msg(fields: Map[Int, Vector[Any]]) {
      def long(f: Int): Long = fields(f).head.asInstanceOf[Long]
      def longOpt(f: Int, dflt: Long): Long =
        fields.get(f).map(_.head.asInstanceOf[Long]).getOrElse(dflt)
      def raw(f: Int): Array[Byte] = fields(f).head.asInstanceOf[Array[Byte]]
      def str(f: Int): String = new String(raw(f), UTF_8)
      def strOpt(f: Int): Option[String] =
        fields.get(f).map(v => new String(v.head.asInstanceOf[Array[Byte]], UTF_8))
      def msg(f: Int): Msg = parse(raw(f))
      def has(f: Int): Boolean = fields.contains(f)
    }

    def parse(b: Array[Byte]): Msg = {
      var i = 0
      def varint(): Long = {
        var shift = 0; var r = 0L; var more = true
        while (more) {
          val c = b(i) & 0xff; i += 1
          r |= (c & 0x7fL) << shift; shift += 7; more = (c & 0x80) != 0
        }
        r
      }
      val m = scala.collection.mutable.Map.empty[Int, Vector[Any]]
      while (i < b.length) {
        val t = varint(); val f = (t >>> 3).toInt
        val v: Any = (t & 7).toInt match {
          case 0 => varint()
          case 2 =>
            val n = varint().toInt
            val r = java.util.Arrays.copyOfRange(b, i, i + n); i += n; r
          case 5 => val r = java.util.Arrays.copyOfRange(b, i, i + 4); i += 4; r
          case 1 => val r = java.util.Arrays.copyOfRange(b, i, i + 8); i += 8; r
          case wt => throw new IllegalArgumentException(s"unsupported wire type $wt")
        }
        m(f) = m.getOrElse(f, Vector.empty) :+ v
      }
      Msg(m.toMap)
    }
  }

  // ---- BaseCommand type enum values == sub-message field numbers ----
  private[graft] object T {
    val Connect = 2; val Connected = 3; val Subscribe = 4; val Producer = 5
    val Send = 6; val SendReceipt = 7; val Message = 9; val Ack = 10
    val Flow = 11; val Success = 13; val Error = 14; val ProducerSuccess = 17
    val Ping = 18; val Pong = 19
  }

  private[graft] def baseCmd(tpe: Int, sub: Pb.Writer): Array[Byte] =
    new Pb.Writer().int(1, tpe.toLong).msg(tpe, sub).result
  private[graft] def emptyCmd(tpe: Int): Array[Byte] =
    new Pb.Writer().int(1, tpe.toLong).result

  // ---- framing ----

  private[graft] object Frame {
    /** One decoded frame: the BaseCommand, plus metadata/payload when the
      * 0x0e01 magic follows (checksum ALWAYS verified on read). */
    final case class In(cmd: Pb.Msg, meta: Option[Pb.Msg], payload: Option[Array[Byte]]) {
      def tpe: Int = cmd.long(1).toInt
    }

    def write(out: DataOutputStream, cmd: Array[Byte]): Unit = out.synchronized {
      out.writeInt(4 + cmd.length); out.writeInt(cmd.length); out.write(cmd); out.flush()
    }

    def writePayload(out: DataOutputStream, cmd: Array[Byte],
                     meta: Array[Byte], payload: Array[Byte]): Unit = {
      val tail = new Array[Byte](4 + meta.length + payload.length)
      tail(0) = (meta.length >>> 24).toByte; tail(1) = (meta.length >>> 16).toByte
      tail(2) = (meta.length >>> 8).toByte; tail(3) = meta.length.toByte
      System.arraycopy(meta, 0, tail, 4, meta.length)
      System.arraycopy(payload, 0, tail, 4 + meta.length, payload.length)
      val crc = new CRC32C(); crc.update(tail)
      out.synchronized {
        out.writeInt(4 + cmd.length + 2 + 4 + tail.length)
        out.writeInt(cmd.length); out.write(cmd)
        out.writeShort(0x0e01)
        out.writeInt(crc.getValue.toInt)
        out.write(tail)
        out.flush()
      }
    }

    def read(in: DataInputStream): In = {
      val total = in.readInt()
      val cmdSize = in.readInt()
      require(cmdSize >= 0 && cmdSize <= total - 4, s"bad commandSize $cmdSize/$total")
      val cmdB = new Array[Byte](cmdSize); in.readFully(cmdB)
      val rest = total - 4 - cmdSize
      if (rest == 0) In(Pb.parse(cmdB), None, None)
      else {
        val magic = in.readUnsignedShort()
        require(magic == 0x0e01, f"bad payload magic 0x$magic%04x")
        val checksum = in.readInt()
        val tail = new Array[Byte](rest - 2 - 4); in.readFully(tail)
        val crc = new CRC32C(); crc.update(tail)
        require(crc.getValue.toInt == checksum,
          "CRC32C checksum mismatch: payload frame corrupted in transit")
        val metaSize = ((tail(0) & 0xff) << 24) | ((tail(1) & 0xff) << 16) |
          ((tail(2) & 0xff) << 8) | (tail(3) & 0xff)
        val meta = Pb.parse(java.util.Arrays.copyOfRange(tail, 4, 4 + metaSize))
        val payload = java.util.Arrays.copyOfRange(tail, 4 + metaSize, tail.length)
        In(Pb.parse(cmdB), Some(meta), Some(payload))
      }
    }
  }

  /** CONNECT/CONNECTED exchange. `authToken` rides the documented
    * token-auth fields of CommandConnect: auth_method_name (field 5) =
    * "token", auth_data (field 3) = the raw token bytes — the same wire
    * shape the official clients produce for JWT/token auth. Plaintext
    * socket ⇒ pair with TLS in production (conformance matrix). */
  private def handshake(in: DataInputStream, out: DataOutputStream, name: String,
                        authToken: Option[String] = None): Unit = {
    val cmd = new Pb.Writer().str(1, name).int(4, 21) // client_version, protocol_version
    authToken.foreach { t =>
      cmd.str(5, "token").bytes(3, t.getBytes(UTF_8))
    }
    Frame.write(out, baseCmd(T.Connect, cmd))
    val connected = Frame.read(in)
    require(connected.tpe == T.Connected, s"expected CONNECTED, got type ${connected.tpe}")
  }

  // ---- consumer ----

  /** A live Pulsar subscription over a raw socket, implementing the
    * [[Connectors.PulsarConsumer]] seam: a daemon reader thread parses
    * MESSAGE frames (verifying each CRC32C) and enqueues
    * (localId, partition_key, payload); cumulative ack maps the local id
    * back to its (ledgerId, entryId). Exclusive subType, Earliest initial
    * position (the reference source reads the backlog), half-window FLOW
    * replenishment. */
  final class Consumer(host: String, port: Int, topic: String, subscription: String,
                       permits: Int = 1000, reconnectDelayMs: Long = 50L,
                       maxReconnects: Int = 100, handshakeTimeoutMs: Int = 10000,
                       authToken: Option[String] = None,
                       socketFactory: (String, Int) => Socket = Tls.plain)
      extends Connectors.PulsarConsumer with AutoCloseable {
    private val queue = new ConcurrentLinkedQueue[(Long, String, Array[Byte])]()
    private val idMap = new ConcurrentHashMap[Long, (Long, Long)]()
    private val nextId = new AtomicLong(0L)
    private val sinceFlow = new AtomicInteger(0)
    @volatile private var closed = false
    /** A reader-side decode failure (bad CRC, unsupported compression,
      * reconnect budget exhausted): surfaced loudly at the next
      * [[poll]]/[[ackCumulative]] instead of dying silently on the
      * daemon thread. */
    @volatile private var readerFailure: Throwable = null

    // The live socket trio. Swapped by [[connect]] on broker-death
    // recovery; every WRITE goes through [[sendFrame]] (same monitor),
    // so acks/permits never interleave bytes with a mid-swap socket.
    // READS stay unsynchronized — only the reader thread touches `in`.
    @volatile private var socket: Socket = _
    @volatile private var in: DataInputStream = _
    @volatile private var out: DataOutputStream = _

    private def sendFrame(bytes: Array[Byte]): Unit =
      synchronized { Frame.write(out, bytes) }

    /** (Re)connect + handshake + SUBSCRIBE + full FLOW window. On a
      * RE-subscribe the broker's cursor redelivers everything after the
      * subscription's mark-delete position — exactly the unacked suffix,
      * the documented at-least-once window. */
    private def connect(): Unit = synchronized {
      // a close() racing a reconnect must not leak a fresh socket
      if (closed) throw new java.io.IOException("consumer closed")
      socket = socketFactory(host, port)
      // handshake/SUBSCRIBE reads run UNDER the instance monitor: a
      // broker that wedges mid-handshake during a reader-thread
      // reconnect would otherwise block ackCumulative/FLOW senders on
      // the monitor indefinitely. Bound the exchange with a read
      // timeout (a SocketTimeoutException IS an IOException, so the
      // reader loop's reconnect budget absorbs it), then clear it —
      // steady-state reads on an idle topic block legitimately.
      socket.setSoTimeout(handshakeTimeoutMs)
      try {
        in = new DataInputStream(new BufferedInputStream(socket.getInputStream))
        out = new DataOutputStream(new BufferedOutputStream(socket.getOutputStream))
        handshake(in, out, "graft-wire-consumer", authToken)
        Frame.write(out, baseCmd(T.Subscribe, new Pb.Writer()
          .str(1, topic).str(2, subscription)
          .int(3, 0L)   // SubType Exclusive
          .int(4, 1L)   // consumer_id
          .int(5, 1L)   // request_id
          .str(6, s"graft-$subscription")
          .int(13, 1L))) // initialPosition Earliest
        val success = Frame.read(in)
        require(success.tpe == T.Success && success.cmd.msg(T.Success).long(1) == 1L,
          s"expected SUCCESS(request_id=1), got type ${success.tpe}")
        Frame.write(out, baseCmd(T.Flow, new Pb.Writer().int(1, 1L).int(2, permits.toLong)))
        sinceFlow.set(0)
        socket.setSoTimeout(0)
      } catch {
        // refused CONNECT/SUBSCRIBE at construction (or a non-IO decode
        // failure during a reader reconnect): close, don't leak
        case t: Throwable =>
          try socket.close() catch { case _: java.io.IOException => () }
          throw t
      }
    }
    connect()

    private def handle(f: Frame.In): Unit = f.tpe match {
      case T.Message =>
        val mid = f.cmd.msg(T.Message).msg(2)
        val ledger = mid.long(1); val entry = mid.long(2)
        val meta = f.meta.get
        // compression (MessageMetadata field 8, CompressionType enum:
        // NONE=0/LZ4/ZLIB/ZSTD/SNAPPY): no codec jar exists in this
        // build, so a compressed entry MUST fail loudly here — passing
        // the compressed bytes through as the payload would hand the
        // engine garbage that only fails (or worse, doesn't) downstream.
        val compression = meta.longOpt(8, 0L)
        require(compression == 0L,
          s"unsupported Pulsar compression type $compression (NONE only: " +
            "no lz4/zlib/zstd/snappy codec is available in this build)")
        // num_messages_in_batch (MessageMetadata field 11, PulsarApi
        // .proto): present ⇒ the payload packs n sub-messages as
        // repeated [i32 size][SingleMessageMetadata][body] — the shape
        // every official client produces by default. Each sub-message
        // gets its own local id but shares the (ledger, entry)
        // position: the cumulative ack is entry-granular, so acking
        // through the LAST sub-message releases the batch (acking
        // mid-batch holds the whole entry — at-least-once, documented).
        val n = meta.longOpt(11, 0L)
        if (n <= 0L) {
          val key = meta.strOpt(6).orNull // partition_key (field 6)
          val id = nextId.getAndIncrement()
          idMap.put(id, (ledger, entry))
          queue.add((id, key, f.payload.get))
        } else {
          val bb = java.nio.ByteBuffer.wrap(f.payload.get)
          var i = 0L
          while (i < n) {
            val sz = bb.getInt()
            val smmB = new Array[Byte](sz); bb.get(smmB)
            val smm = Pb.parse(smmB)
            val body = new Array[Byte](smm.long(3).toInt) // payload_size
            bb.get(body)
            val id = nextId.getAndIncrement()
            idMap.put(id, (ledger, entry))
            queue.add((id, smm.strOpt(2).orNull, body)) // per-msg key
            i += 1
          }
          require(!bb.hasRemaining,
            s"batched payload has ${bb.remaining()} trailing bytes")
        }
        // additive permit replenishment at the half-window mark
        // (permits are ENTRY-granular, like the protocol's)
        if (sinceFlow.incrementAndGet() >= math.max(permits / 2, 1)) {
          val used = sinceFlow.getAndSet(0)
          sendFrame(baseCmd(T.Flow, new Pb.Writer().int(1, 1L).int(2, used.toLong)))
        }
      case T.Ping => sendFrame(emptyCmd(T.Pong))
      case _ => () // PONG / SUCCESS echoes: nothing at this layer
    }

    /** Reader loop with broker-death recovery: an IOException while the
      * consumer is still open means the socket died under us — reconnect
      * (re-handshake + re-SUBSCRIBE) and let the broker's cursor
      * redeliver the unacked suffix. Non-IO failures (decode/CRC/codec
      * requires) are terminal and surface at the next [[poll]]. */
    private val reader = new Thread(() => {
      var attempts = 0
      while (!closed && readerFailure == null) {
        try { handle(Frame.read(in)); attempts = 0 }
        catch {
          case _: java.io.IOException if closed => () // deliberate close
          case io: java.io.IOException =>
            attempts += 1
            if (attempts > maxReconnects)
              readerFailure = new java.io.IOException(
                s"pulsar wire consumer: gave up after $maxReconnects reconnect attempts", io)
            else {
              // EXPONENTIAL backoff capped at 100× the base: a refused
              // dial fails instantly, so a fixed 50ms delay would burn
              // the whole budget in ~5s — far less than a routine
              // broker restart. 50ms doubling to a 5s cap gives the
              // default budget >8 minutes of downtime tolerance while
              // still reconnecting within one base delay of a quick
              // stub restart.
              Thread.sleep(math.min(
                reconnectDelayMs << math.min(attempts - 1, 30),
                reconnectDelayMs * 100))
              // a failed dial leaves `in` on the dead stream: the next
              // read throws immediately and we land back here to retry
              try connect()
              catch { case _: java.io.IOException => () }
            }
          case t: Throwable => readerFailure = t
        }
      }
    }, s"pulsar-wire-reader-$subscription")
    reader.setDaemon(true)
    reader.start()

    private def checkAlive(): Unit =
      if (readerFailure != null)
        throw new IllegalStateException(
          "pulsar wire consumer reader died", readerFailure)

    def poll(): Seq[(Long, String, Array[Byte])] = {
      checkAlive()
      val b = Seq.newBuilder[(Long, String, Array[Byte])]
      var m = queue.poll()
      while (m != null) { b += m; m = queue.poll() }
      b.result()
    }

    def ackCumulative(messageId: Long): Unit = {
      checkAlive()
      val pos = idMap.get(messageId)
      require(pos != null, s"unknown local message id $messageId (already acked?)")
      sendFrame(baseCmd(T.Ack, new Pb.Writer()
        .int(1, 1L)  // consumer_id
        .int(2, 1L)  // AckType Cumulative
        .msg(3, new Pb.Writer().int(1, pos._1).int(2, pos._2))))
      // the cumulative ack releases the whole prefix
      idMap.keySet.forEach(k => if (k <= messageId) idMap.remove(k))
    }

    // Unsynchronized on purpose: taking the monitor here could deadlock
    // against a reconnect blocked in connect()'s handshake reads. Worst
    // case the close races a swap and the fresh socket leaks to its
    // daemon reader — `closed` still stops the loop at the next frame.
    def close(): Unit = { closed = true; val s = socket; if (s != null) s.close() }
  }

  // ---- producer ----

  /** A live Pulsar producer over a raw socket: PRODUCER handshake, then
    * per-message SEND payload frames; [[send]] blocks until the broker's
    * SEND_RECEIPT for that sequence id arrives (publish is CONFIRMED, the
    * at-least-once half the K4 sink needs). Single socket, synchronous —
    * the reader loop only ever sees receipts and pings. */
  final class Producer(host: String, port: Int, topic: String,
                       name: String = "graft-wire-producer",
                       authToken: Option[String] = None,
                       socketFactory: (String, Int) => Socket = Tls.plain)
      extends AutoCloseable {
    private val socket = socketFactory(host, port)
    private val in = new DataInputStream(new BufferedInputStream(socket.getInputStream))
    private val out = new DataOutputStream(new BufferedOutputStream(socket.getOutputStream))
    private var seq = 0L
    val producerName: String = try {
      handshake(in, out, "graft-wire-producer", authToken)
      Frame.write(out, baseCmd(T.Producer,
        new Pb.Writer().str(1, topic).int(2, 1L).int(3, 1L).str(4, name)))
      val ok = awaitType(T.ProducerSuccess)
      require(ok.cmd.msg(T.ProducerSuccess).long(1) == 1L, "PRODUCER_SUCCESS request_id mismatch")
      ok.cmd.msg(T.ProducerSuccess).str(2)
    } catch {
      // a refused CONNECT (auth) or PRODUCER throws out of the
      // constructor: close rather than leak the connected socket
      case t: Throwable =>
        try socket.close() catch { case _: java.io.IOException => () }
        throw t
    }

    private def awaitType(tpe: Int): Frame.In = {
      var f = Frame.read(in)
      while (f.tpe != tpe) {
        if (f.tpe == T.Ping) Frame.write(out, emptyCmd(T.Pong))
        else require(f.tpe != T.Error, s"broker ERROR: ${f.cmd.msg(T.Error).strOpt(3).getOrElse("")}")
        f = Frame.read(in)
      }
      f
    }

    /** Returns the broker-assigned (ledgerId, entryId). */
    def send(key: String, body: Array[Byte]): (Long, Long) = synchronized {
      val s = seq; seq += 1
      val meta = new Pb.Writer()
        .str(1, producerName).int(2, s)
        .int(3, System.currentTimeMillis()) // publish_time
      if (key != null) meta.str(6, key)     // partition_key (field 6)
      Frame.writePayload(out, baseCmd(T.Send, new Pb.Writer().int(1, 1L).int(2, s)),
        meta.result, body)
      val receipt = awaitType(T.SendReceipt).cmd.msg(T.SendReceipt)
      require(receipt.long(2) == s, s"SEND_RECEIPT out of order: ${receipt.long(2)} != $s")
      val mid = receipt.msg(3)
      (mid.long(1), mid.long(2))
    }

    /** Batched publish: ONE entry carrying every message (the official
      * clients' default shape — broker-side dedup, bookie IO, and the
      * cumulative-ack cursor all work at entry granularity).
      * MessageMetadata carries num_messages_in_batch (field 11); the
      * payload packs repeated [i32 size][SingleMessageMetadata
      * {partition_key=2, payload_size=3}][body]. Receipt-confirmed like
      * [[send]]; returns the single (ledgerId, entryId). */
    def sendBatch(msgs: Seq[(String, Array[Byte])]): (Long, Long) = synchronized {
      require(msgs.nonEmpty, "empty batch")
      val s = seq; seq += 1
      val meta = new Pb.Writer()
        .str(1, producerName).int(2, s)
        .int(3, System.currentTimeMillis())
        .int(11, msgs.length.toLong) // num_messages_in_batch
      val buf = new java.io.ByteArrayOutputStream(256)
      val dos = new DataOutputStream(buf)
      msgs.foreach { case (k, v) =>
        val smm = new Pb.Writer()
        if (k != null) smm.str(2, k)
        smm.int(3, v.length.toLong)
        val sb = smm.result
        dos.writeInt(sb.length); dos.write(sb); dos.write(v)
      }
      dos.flush()
      Frame.writePayload(out, baseCmd(T.Send, new Pb.Writer().int(1, 1L).int(2, s)),
        meta.result, buf.toByteArray)
      val receipt = awaitType(T.SendReceipt).cmd.msg(T.SendReceipt)
      require(receipt.long(2) == s, s"SEND_RECEIPT out of order: ${receipt.long(2)} != $s")
      val mid = receipt.msg(3)
      (mid.long(1), mid.long(2))
    }

    def close(): Unit = socket.close()
  }

  /** One-shot convenience publish (mirrors [[NatsWire.publish]]): every
    * message individually receipt-confirmed before this returns. */
  def produce(host: String, port: Int, topic: String,
              msgs: Seq[(String, Array[Byte])]): Seq[(Long, Long)] = {
    val p = new Producer(host, port, topic)
    try msgs.map { case (k, v) => p.send(k, v) } finally p.close()
  }
}
