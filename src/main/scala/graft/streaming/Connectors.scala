package graft.streaming

import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer

import graft.streaming.UdSource.{GraftSource, SourceRecord}

/** Messaging connectors (SURVEY S4-S7 sources, K4-K5 sinks) as thin
  * adapters over the UD-source SPI, exactly the economics the SPI was
  * built for: each adapter encodes its broker's DELIVERY SEMANTICS —
  * offsets, ack shape, replay behavior — while the network client is an
  * injected interface (no broker client libraries ship in this engine;
  * the JDK-only `*Wire` clients bind it over real sockets, tests may
  * bind a fake, and the semantics under test are identical).
  *
  * Semantics per the reference:
  *  - SQS (`rust/extns/numaflow-sqs/src/source.rs`): receive → in-flight
  *    by receipt handle → DELETE on ack; un-deleted messages reappear
  *    after the visibility timeout (redelivery).
  *  - NATS core (`rust/extns/numaflow-nats/src/nats.rs`): plain subject
  *    subscription, at-most-once — no ack, no replay.
  *  - NATS JetStream (`jetstream.rs`): durable consumer, integer stream
  *    sequences as offsets, replayable from the last acked floor.
  *  - Pulsar (`rust/extns/numaflow-pulsar/src/source.rs`): subscription
  *    with CUMULATIVE ack up to a message id.
  */
object Connectors {

  private def now() = new Timestamp(System.currentTimeMillis())

  /** Per-executor-JVM client registry for PRODUCE paths. Broker clients
    * are sockets — they cannot ride a serialized closure to an executor —
    * so a sink closure captures only its registry NAME and each executor
    * JVM binds its own client instance (the standard per-JVM connection
    * pattern; on a cluster the binding runs in executor startup, in
    * local[n] and tests the driver's register call covers everything).
    * This keeps produce work on executors: the driver never collects a
    * micro-batch to fan it out itself. */
  object SinkClients {
    private val reg = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
    def register(name: String, client: AnyRef): String = { reg.put(name, client); name }
    def get[T](name: String): T = {
      val c = reg.get(name)
      require(c != null, s"sink client '$name' is not bound in this executor JVM")
      c.asInstanceOf[T]
    }
    def unregister(name: String): Unit = reg.remove(name)
  }

  // ---- SQS (S7 source, K5 sink) -----------------------------------------

  /** Injected transport: the SQS calls the adapter needs. */
  trait SqsClient {
    /** (receiptHandle, messageId, body, attributes). */
    def receive(max: Int): Seq[(String, String, Array[Byte], Map[String, String])]
    def delete(receiptHandles: Seq[String]): Unit
    def send(bodies: Seq[Array[Byte]]): Unit
  }

  /** SQS source: local monotonically-increasing offsets over received
    * messages; receipt handles held until the offset is acked, then
    * DELETED — the queue's at-least-once contract (unacked messages
    * reappear via visibility timeout on the queue side). */
  final class SqsSource(client: SqsClient, pollBatch: Int = 10) extends GraftSource {
    private val buf = ArrayBuffer.empty[(SourceRecord, String)] // record + receipt
    private var deleted = 0L

    def partitions: Seq[Int] = Seq(0)
    def latestOffset(p: Int): Long = synchronized {
      client.receive(pollBatch).foreach { case (receipt, msgId, body, attrs) =>
        buf += ((SourceRecord(deleted + buf.length, 0, Seq(msgId), body, now(),
          attrs + ("sqs-message-id" -> msgId)), receipt))
      }
      deleted + buf.length
    }
    def read(p: Int, from: Long, until: Long): Iterator[SourceRecord] =
      synchronized(buf.map(_._1).filter(r => r.offset >= from && r.offset < until).toList).iterator
    def ack(p: Int, upTo: Long): Unit = synchronized {
      val (done, keep) = buf.partition(_._1.offset < upTo)
      if (done.nonEmpty) {
        client.delete(done.map(_._2).toSeq) // delete-on-ack
        deleted += done.length
        buf.clear(); buf ++= keep
      }
    }
    def pending: Long = synchronized(buf.length.toLong)
  }

  /** SQS sink (K5): SendMessageBatch caps at 10 entries per call.
    * Produce runs on EXECUTORS via foreachPartition — each partition
    * batches its own rows up to the cap (parallel producers each hold the
    * 10-entry contract; the cap is per API call, not per micro-batch) —
    * so the driver never materializes the batch. */
  def sqsSink(client: SqsClient, valueCol: String): Sinks.Writer = {
    val name = SinkClients.register(
      s"sqs-sink-${java.util.UUID.randomUUID()}", client)
    (batch, _) =>
      batch.select(org.apache.spark.sql.functions.col(valueCol).cast("binary"))
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          val c = SinkClients.get[SqsClient](name)
          it.map(_.getAs[Array[Byte]](0)).grouped(10).foreach(g => c.send(g.toSeq))
        }
  }

  // ---- NATS core (S4) ----------------------------------------------------

  /** Injected transport: a subscription the adapter drains. */
  trait NatsSubscription {
    def drain(): Seq[Array[Byte]]
  }

  /** NATS core source: at-most-once — messages buffer as they arrive,
    * there is no BROKER ack (core NATS has none), nothing replays after
    * restart. The checkpoint still makes delivery into the DAG
    * exactly-once from what the adapter buffered.
    *
    * The ENGINE-side ack still matters: it releases the adapter buffer
    * (else memory grows with everything ever received) and anchors the
    * pending metric — `pending` must be un-acked depth, not total intake,
    * or Autoscale sees a monotonically growing backlog and scales up
    * forever. */
  final class NatsSource(sub: NatsSubscription, subject: String) extends GraftSource {
    private val buf = ArrayBuffer.empty[SourceRecord]
    private var base = 0L // offsets below `base` are acked and trimmed
    def partitions: Seq[Int] = Seq(0)
    def latestOffset(p: Int): Long = synchronized {
      sub.drain().foreach { body =>
        buf += SourceRecord(base + buf.length, 0, Seq(subject), body, now())
      }
      base + buf.length
    }
    def read(p: Int, from: Long, until: Long): Iterator[SourceRecord] =
      synchronized(buf.filter(r => r.offset >= from && r.offset < until).toList).iterator
    def ack(p: Int, upTo: Long): Unit = synchronized {
      // nothing to tell the broker — trim the local buffer only
      val keep = buf.dropWhile(_.offset < upTo) // buffer is offset-ordered
      base = math.max(base, math.min(upTo, base + buf.length))
      buf.clear(); buf ++= keep
    }
    def pending: Long = synchronized(buf.length.toLong) // un-acked depth
  }

  // ---- NATS JetStream (S5) ----------------------------------------------

  /** Injected transport: a durable consumer addressed by stream sequence. */
  trait JetStreamConsumer {
    /** Messages with `from <= seq < until` (server-side replayable). */
    def fetch(from: Long, until: Long): Seq[(Long, Array[Byte])]
    def lastSequence: Long
    def ackUpTo(seq: Long): Unit
  }

  /** JetStream source: the broker's integer sequences ARE the offsets —
    * no adapter-side buffering at all; replay after restart is served by
    * the stream itself, which is why the reference builds its ISB on it. */
  final class JetStreamSource(consumer: JetStreamConsumer, subject: String) extends GraftSource {
    @volatile private var ackedTo = 0L
    def partitions: Seq[Int] = Seq(0)
    def latestOffset(p: Int): Long = consumer.lastSequence
    def read(p: Int, from: Long, until: Long): Iterator[SourceRecord] =
      consumer.fetch(from, until).map { case (seq, body) =>
        SourceRecord(seq, 0, Seq(subject), body, now())
      }.iterator
    def ack(p: Int, upTo: Long): Unit = { ackedTo = upTo; consumer.ackUpTo(upTo) }
    def pending: Long = math.max(consumer.lastSequence - ackedTo, 0L)
  }

  // ---- Pulsar (S6 source, K4 sink) --------------------------------------

  /** Injected transport: subscription with cumulative ack. */
  trait PulsarConsumer {
    /** (messageId, key, body) newly arrived since the last poll. */
    def poll(): Seq[(Long, String, Array[Byte])]
    def ackCumulative(messageId: Long): Unit
  }

  /** Pulsar source: adapter assigns local offsets in arrival order and
    * maps commit-acks onto CUMULATIVE ack of the highest contained
    * message id (Pulsar's contract: everything ≤ id is acked). */
  final class PulsarSource(consumer: PulsarConsumer, topic: String) extends GraftSource {
    private val buf = ArrayBuffer.empty[(SourceRecord, Long)] // record + pulsar id
    private var ackedOffset = 0L
    def partitions: Seq[Int] = Seq(0)
    def latestOffset(p: Int): Long = synchronized {
      consumer.poll().foreach { case (mid, key, body) =>
        buf += ((SourceRecord(buf.length.toLong, 0,
          if (key == null) Seq.empty else Seq(key), body, now(),
          Map("pulsar-message-id" -> mid.toString)), mid))
      }
      buf.length.toLong
    }
    def read(p: Int, from: Long, until: Long): Iterator[SourceRecord] =
      synchronized(buf.map(_._1).slice(from.toInt, until.toInt).toList).iterator
    def ack(p: Int, upTo: Long): Unit = synchronized {
      val covered = buf.filter(_._1.offset < upTo)
      if (covered.nonEmpty) consumer.ackCumulative(covered.map(_._2).max)
      ackedOffset = math.max(ackedOffset, upTo)
    }
    def pending: Long = synchronized(buf.length - ackedOffset)
  }

  /** Pulsar sink (K4): keyed produce via an injected producer. Same
    * executor-side shape as [[sqsSink]]: the closure carries only the
    * registry name; each partition produces its own rows. */
  def pulsarSink(produce: (String, Array[Byte]) => Unit,
                 keyCol: String, valueCol: String): Sinks.Writer = {
    val name = SinkClients.register(
      s"pulsar-sink-${java.util.UUID.randomUUID()}", produce)
    (batch, _) => {
      import org.apache.spark.sql.functions.col
      batch.select(col(keyCol).cast("string"), col(valueCol).cast("binary"))
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          val p = SinkClients.get[(String, Array[Byte]) => Unit](name)
          it.foreach(r => p(r.getString(0), r.getAs[Array[Byte]](1)))
        }
    }
  }
}
