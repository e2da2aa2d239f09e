package graft.streaming

import java.net.{HttpURLConnection, URI, URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

import graft.streaming.Connectors.SqsClient

/** HTTP-level SQS transport — the engine's own implementation of the
  * (public) AWS SQS QUERY protocol: form-encoded `Action=` POSTs to the
  * queue URL, XML responses — `ReceiveMessage`, `DeleteMessageBatch`,
  * `SendMessageBatch` (the three calls the S7 source / K5 sink adapters
  * need, reference `rust/extns/numaflow-sqs/src/source.rs`). Implements
  * the injected [[Connectors.SqsClient]] seam with zero dependencies
  * beyond the JDK (no `software.amazon.awssdk:sqs` jar), so the SQS path
  * has a live-socket proof: SqsWireSpec drives receive → delete-on-ack
  * and the visibility-timeout redelivery contract against an in-process
  * HTTP stub.
  *
  * SigV4 (r14 verdict #5): pass `credentials` (+ `region`) and every
  * POST carries x-amz-date + an Authorization header computed by
  * [[SigV4]] over the exact form body and signed headers — the same
  * public algorithm the official SDK applies, pinned externally by
  * SigV4Spec's published test vectors. With `credentials = None`
  * (default) requests go unsigned, for SQS-compatible endpoints that
  * accept them (elasticmq, localstack's default mode, the spec's stub).
  * `clock` is injectable so a spec can pin the signing timestamp.
  *
  * Bodies are UTF-8 strings on the wire (the SQS data model); the
  * engine's byte contract round-trips UTF-8. */
final class SqsWire(queueUrl: String, visibilityTimeoutSec: Int = 30,
                    ioTimeoutMs: Int = 5000,
                    credentials: Option[SigV4.Credentials] = None,
                    region: String = "us-east-1",
                    clock: () => java.time.Instant =
                      () => java.time.Instant.now(),
                    sslSocketFactory: Option[javax.net.ssl.SSLSocketFactory] =
                      None) extends SqsClient {

  private val ContentType = "application/x-www-form-urlencoded; charset=utf-8"

  private def post(params: Seq[(String, String)]): String = {
    val conn = new URI(queueUrl).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    // https queue URLs with a self-managed CA (localstack behind TLS,
    // private SQS-compatible endpoints): inject the trust rather than
    // mutating the JVM-default factory
    (conn, sslSocketFactory) match {
      case (h: javax.net.ssl.HttpsURLConnection, Some(f)) => h.setSSLSocketFactory(f)
      case _ => ()
    }
    conn.setConnectTimeout(ioTimeoutMs); conn.setReadTimeout(ioTimeoutMs)
    conn.setRequestMethod("POST"); conn.setDoOutput(true)
    conn.setRequestProperty("Content-Type", ContentType)
    val body = (params :+ ("Version" -> "2012-11-05"))
      .map { case (k, v) =>
        URLEncoder.encode(k, UTF_8) + "=" + URLEncoder.encode(v, UTF_8) }
      .mkString("&").getBytes(UTF_8)
    credentials.foreach { creds =>
      SigV4.signRequest("POST", queueUrl, query = Seq.empty,
        extraHeaders = Map("content-type" -> ContentType),
        payload = body, creds, region, service = "sqs", at = clock())
        .foreach { case (k, v) => conn.setRequestProperty(k, v) }
    }
    val os = conn.getOutputStream
    try { os.write(body); os.flush() } finally os.close()
    val code = conn.getResponseCode
    // getErrorStream is NULL when an error response has no body — the
    // require below must still report the action + status, not NPE
    val is = if (code < 400) conn.getInputStream
      else Option(conn.getErrorStream)
        .getOrElse(java.io.InputStream.nullInputStream())
    val resp = try new String(is.readAllBytes(), UTF_8) finally is.close()
    require(code == 200, s"SQS ${params.head._2} failed HTTP $code: $resp")
    resp
  }

  /** Namespace-free DOM extraction (the query-protocol XML is flat). */
  private def parse(xml: String): org.w3c.dom.Document = {
    val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    f.setNamespaceAware(false)
    f.newDocumentBuilder().parse(
      new java.io.ByteArrayInputStream(xml.getBytes(UTF_8)))
  }

  private def text(e: org.w3c.dom.Element, tag: String): String = {
    val n = e.getElementsByTagName(tag)
    if (n.getLength == 0) null else n.item(0).getTextContent
  }

  def receive(max: Int): Seq[(String, String, Array[Byte], Map[String, String])] = {
    val doc = parse(post(Seq(
      "Action" -> "ReceiveMessage",
      "MaxNumberOfMessages" -> math.min(max, 10).toString, // API cap
      "VisibilityTimeout" -> visibilityTimeoutSec.toString,
      "AttributeName.1" -> "All",
      "WaitTimeSeconds" -> "0")))
    val msgs = doc.getElementsByTagName("Message")
    (0 until msgs.getLength).map { i =>
      val m = msgs.item(i).asInstanceOf[org.w3c.dom.Element]
      val attrs = {
        val as = m.getElementsByTagName("Attribute")
        (0 until as.getLength).map { j =>
          val a = as.item(j).asInstanceOf[org.w3c.dom.Element]
          text(a, "Name") -> text(a, "Value")
        }.toMap
      }
      // a conforming response always carries Body/ReceiptHandle, but a
      // missing tag must surface as a protocol error, not an NPE deep
      // in getBytes
      val body = text(m, "Body")
      val handle = text(m, "ReceiptHandle")
      require(body != null && handle != null,
        s"ReceiveMessage entry missing Body/ReceiptHandle")
      (handle, text(m, "MessageId"), body.getBytes(UTF_8), attrs)
    }
  }

  def delete(receiptHandles: Seq[String]): Unit =
    receiptHandles.grouped(10).foreach { g => // 10-entry batch API cap
      val entries = g.zipWithIndex.flatMap { case (r, i) => Seq(
        s"DeleteMessageBatchRequestEntry.${i + 1}.Id" -> i.toString,
        s"DeleteMessageBatchRequestEntry.${i + 1}.ReceiptHandle" -> r)
      }
      val doc = parse(post(("Action" -> "DeleteMessageBatch") +: entries))
      val failed = doc.getElementsByTagName("BatchResultErrorEntry")
      require(failed.getLength == 0,
        s"DeleteMessageBatch: ${failed.getLength} entries failed")
    }

  def send(bodies: Seq[Array[Byte]]): Unit =
    bodies.grouped(10).foreach { g =>
      val entries = g.zipWithIndex.flatMap { case (b, i) => Seq(
        s"SendMessageBatchRequestEntry.${i + 1}.Id" -> i.toString,
        s"SendMessageBatchRequestEntry.${i + 1}.MessageBody" -> new String(b, UTF_8))
      }
      val doc = parse(post(("Action" -> "SendMessageBatch") +: entries))
      val failed = doc.getElementsByTagName("BatchResultErrorEntry")
      require(failed.getLength == 0,
        s"SendMessageBatch: ${failed.getLength} entries failed")
    }
}

object SqsWire {
  /** Decode an application/x-www-form-urlencoded body — shared with the
    * spec's stub server (the other end of the same wire format). */
  def formDecode(body: String): Map[String, String] =
    body.split("&").filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      if (i < 0) URLDecoder.decode(kv, UTF_8) -> ""
      else URLDecoder.decode(kv.substring(0, i), UTF_8) ->
        URLDecoder.decode(kv.substring(i + 1), UTF_8)
    }.toMap

  /** XML-escape a text node (the stub authors responses by hand). */
  def xmlEscape(s: String): String = s
    .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
}
