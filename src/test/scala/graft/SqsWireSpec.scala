package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Connectors, SqsWire}

/** The SQS wire path, end-to-end over real loopback HTTP: an in-process
  * stub queue speaks the AWS query protocol (ReceiveMessage /
  * DeleteMessageBatch / SendMessageBatch, XML responses) with REAL
  * visibility-timeout semantics — received-but-undeleted messages
  * reappear — and [[SqsWire]] drives receive → delete-on-ack against
  * it, plus the [[Connectors.SqsSource]] adapter's offset/ack/pending
  * contract over the live socket (S7/K5's proof, the NatsWireSpec
  * pattern, with no AWS SDK jar). */
class SqsWireSpec extends AnyFunSuite {

  /** In-memory SQS-compatible queue over JDK HttpServer. Messages get
    * monotonically increasing ids; a receive hides its messages for
    * `visibilityMs` and mints a fresh receipt per delivery (re-deliveries
    * get NEW receipts — deleting with a stale one fails, like SQS). */
  private final class StubQueue(visibilityMs: Long) extends AutoCloseable {
    private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 16)
    val port: Int = server.getAddress.getPort
    def url = s"http://127.0.0.1:$port/queue/test"

    private case class Msg(id: Int, body: String, var invisibleUntil: Long,
                           var receipt: String, var receiveCount: Int)
    private val msgs = scala.collection.mutable.ArrayBuffer.empty[Msg]
    private var nextId = 0
    private var nextReceipt = 0
    def size: Int = synchronized(msgs.length)

    private def handle(ex: HttpExchange): Unit = {
      val params = SqsWire.formDecode(new String(ex.getRequestBody.readAllBytes(), UTF_8))
      val resp = synchronized {
        params("Action") match {
          case "SendMessageBatch" =>
            val results = Iterator.from(1)
              .map(i => params.get(s"SendMessageBatchRequestEntry.$i.MessageBody"))
              .takeWhile(_.isDefined).map(_.get).zipWithIndex.map { case (b, i) =>
                nextId += 1
                msgs += Msg(nextId, b, 0L, null, 0)
                s"<SendMessageBatchResultEntry><Id>$i</Id><MessageId>m$nextId</MessageId></SendMessageBatchResultEntry>"
              }.mkString
            s"<SendMessageBatchResponse><SendMessageBatchResult>$results</SendMessageBatchResult></SendMessageBatchResponse>"
          case "ReceiveMessage" =>
            val now = System.currentTimeMillis()
            val max = params.getOrElse("MaxNumberOfMessages", "1").toInt
            val vis = params.getOrElse("VisibilityTimeout",
              (visibilityMs / 1000).toString).toLong * 1000 max visibilityMs
            val got = msgs.filter(_.invisibleUntil <= now).take(max)
            got.foreach { m =>
              nextReceipt += 1
              m.receipt = s"r$nextReceipt"
              m.invisibleUntil = now + vis
              m.receiveCount += 1
            }
            val xml = got.map { m =>
              s"""<Message><MessageId>m${m.id}</MessageId>
                 |<ReceiptHandle>${m.receipt}</ReceiptHandle>
                 |<Body>${SqsWire.xmlEscape(m.body)}</Body>
                 |<Attribute><Name>ApproximateReceiveCount</Name><Value>${m.receiveCount}</Value></Attribute>
                 |</Message>""".stripMargin.replace("\n", "")
            }.mkString
            s"<ReceiveMessageResponse><ReceiveMessageResult>$xml</ReceiveMessageResult></ReceiveMessageResponse>"
          case "DeleteMessageBatch" =>
            val receipts = Iterator.from(1)
              .map(i => params.get(s"DeleteMessageBatchRequestEntry.$i.ReceiptHandle"))
              .takeWhile(_.isDefined).map(_.get).toSeq
            val (ok, bad) = receipts.zipWithIndex.partition { case (r, _) =>
              msgs.exists(_.receipt == r) }
            ok.foreach { case (r, _) =>
              msgs.remove(msgs.indexWhere(_.receipt == r)); () }
            val okXml = ok.map { case (_, i) =>
              s"<DeleteMessageBatchResultEntry><Id>$i</Id></DeleteMessageBatchResultEntry>" }.mkString
            val badXml = bad.map { case (_, i) =>
              s"<BatchResultErrorEntry><Id>$i</Id><Code>ReceiptHandleIsInvalid</Code></BatchResultErrorEntry>" }.mkString
            s"<DeleteMessageBatchResponse><DeleteMessageBatchResult>$okXml$badXml</DeleteMessageBatchResult></DeleteMessageBatchResponse>"
          case a =>
            s"<ErrorResponse><Error><Code>InvalidAction</Code><Message>$a</Message></Error></ErrorResponse>"
        }
      }
      val bytes = resp.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "text/xml")
      ex.sendResponseHeaders(200, bytes.length)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }

    server.createContext("/", (ex: HttpExchange) => handle(ex))
    server.start()

    /** Chaos hooks: stop serving (in-flight visibility clocks and the
      * message store survive — the crashed service's durable queue),
      * then rebind the SAME port. HTTP is connectionless per request,
      * so the client needs no reconnect logic — the next POST redials. */
    @volatile private var restarted: HttpServer = null
    def kill(): Unit = (if (restarted != null) restarted else server).stop(0)
    def restart(): Unit = {
      restarted = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 16)
      restarted.createContext("/", (ex: HttpExchange) => handle(ex))
      restarted.start()
    }

    def close(): Unit = kill()
  }

  test("send -> receive -> delete over live HTTP; stale receipts rejected") {
    val q = new StubQueue(visibilityMs = 60000)
    try {
      val c = new graft.streaming.SqsWire(q.url, visibilityTimeoutSec = 60)
      c.send(Seq("alpha", "beta <&> gamma", "third").map(_.getBytes(UTF_8)))
      assert(q.size == 3)
      val got = c.receive(10)
      assert(got.map(m => new String(m._3, UTF_8)) ==
        Seq("alpha", "beta <&> gamma", "third")) // XML escaping round-trips
      assert(got.map(_._4("ApproximateReceiveCount")) == Seq("1", "1", "1"))
      // in-flight: a second receive inside the visibility window sees nothing
      assert(c.receive(10).isEmpty)
      c.delete(got.map(_._1))
      assert(q.size == 0)
      // deleting an already-consumed receipt fails loudly
      val e = intercept[IllegalArgumentException](c.delete(Seq(got.head._1)))
      assert(e.getMessage.contains("failed"))
    } finally q.close()
  }

  test("visibility timeout: received-but-undeleted messages REAPPEAR (at-least-once)") {
    val q = new StubQueue(visibilityMs = 300)
    try {
      val c = new graft.streaming.SqsWire(q.url, visibilityTimeoutSec = 0)
      c.send(Seq("retry-me".getBytes(UTF_8)))
      val first = c.receive(10)
      assert(first.size == 1)
      Thread.sleep(600) // crash-before-delete simulation: just don't delete
      val again = c.receive(10)
      assert(again.size == 1, "undeleted message must redeliver")
      assert(new String(again.head._3, UTF_8) == "retry-me")
      assert(again.head._4("ApproximateReceiveCount") == "2")
      assert(again.head._1 != first.head._1, "redelivery mints a new receipt")
      c.delete(Seq(again.head._1))
      assert(q.size == 0)
    } finally q.close()
  }

  test("SqsSource adapter: offsets, ack deletes exactly the covered prefix, pending") {
    val q = new StubQueue(visibilityMs = 60000)
    try {
      val c = new graft.streaming.SqsWire(q.url, visibilityTimeoutSec = 60)
      c.send((1 to 5).map(i => s"m$i".getBytes(UTF_8)))
      val src = new Connectors.SqsSource(c, pollBatch = 10)
      val upTo = src.latestOffset(0)
      assert(upTo == 5L)
      val rows = src.read(0, 0L, upTo).toSeq
      assert(rows.map(r => new String(r.value, UTF_8)) == (1 to 5).map(i => s"m$i"))
      assert(rows.forall(_.headers.contains("sqs-message-id")))
      src.ack(0, 3L) // deletes the first three on the queue
      assert(q.size == 2)
      assert(src.pending == 2L)
      src.ack(0, 5L)
      assert(q.size == 0)
      assert(src.pending == 0L)
    } finally q.close()
  }

  test("chaos: service dies with messages in flight, restarts — visibility " +
      "expiry redelivers them to the SAME client, nothing lost") {
    val q = new StubQueue(visibilityMs = 300)
    try {
      val c = new graft.streaming.SqsWire(q.url, visibilityTimeoutSec = 0)
      c.send(Seq("a", "b", "c").map(_.getBytes(UTF_8)))
      val got = c.receive(10) // all three now in flight
      assert(got.size == 3)
      c.delete(Seq(got.head._1)) // only "a" consumed before the crash
      q.kill()
      // while the service is down, the client fails loudly (no silent drop)
      intercept[java.io.IOException](c.receive(10))
      q.restart()
      Thread.sleep(600) // in-flight visibility for b/c expires across the restart
      // the SAME client object resumes: HTTP redials per request. The
      // undeleted pair redelivers with fresh receipts; receive counts
      // prove these are the SAME messages on their second delivery
      val again = c.receive(10)
      assert(again.map(m => new String(m._3, UTF_8)).sorted == Seq("b", "c"))
      assert(again.map(_._4("ApproximateReceiveCount")) == Seq("2", "2"))
      assert(!again.map(_._1).toSet.exists(got.map(_._1).toSet), "fresh receipts")
      c.delete(again.map(_._1))
      assert(q.size == 0)
    } finally q.close()
  }
}
