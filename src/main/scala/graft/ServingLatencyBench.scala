package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Serving-mode latency slice (r14 verdict #6): request→response wall
  * time through the FULL ServingPipeline loop — HTTP POST → serving
  * source → micro-batch DAG → serve sink → HTTP response — the
  * reference serving mode's headline number and the one benched surface
  * the repo lacked. Two paths, the reference's two entry points:
  *
  *  - `/v1/process/sync`: POST blocks until the DAG answers (one
  *    number = the whole loop).
  *  - `/v1/process/async` + fetch: POST returns the id immediately;
  *    latency here = submit → result FETCHABLE (polled at 2 ms), the
  *    callback-availability lag a pollling client observes.
  *
  * Protocol: the StreamBench convention — 5 warm requests (JIT + first
  * micro-batch costs), 30 timed sequential reps per path, pooled list +
  * median recorded as `serving_latency` lines merged into
  * STREAMBENCH.json. The DAG is the ConnectorsSpec e2e shape (map +
  * uppercase), so the number measures the serving LOOP (micro-batch
  * scheduling dominates), not query compute. */
object ServingLatencyBench {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()

    val serving = new graft.streaming.ServingEndpoint(port = 0, syncTimeoutMs = 30000)
    val stream = graft.streaming.UdSource.readStream(spark, serving.sourceName)
      .select(col("keys")(0).as("rid"),
        concat(upper(col("value").cast("string")), lit("!")).as("resp"))
    val q = stream.writeStream
      .option("checkpointLocation", Files.createTempDirectory("servlat").toString)
      .foreachBatch((b: org.apache.spark.sql.Dataset[Row], id: Long) =>
        serving.serveSink("rid", "resp")(b.toDF(), id))
      .start()

    val client = HttpClient.newHttpClient()
    def post(path: String, body: String, id: String): HttpResponse[String] =
      client.send(
        HttpRequest.newBuilder(URI.create(s"${serving.url}$path"))
          .header("X-Numaflow-Id", id)
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
    def fetch(id: String): HttpResponse[String] =
      client.send(
        HttpRequest.newBuilder(URI.create(s"${serving.url}/v1/fetch?id=$id"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString())

    def syncOnce(i: Int): Double = {
      val t0 = System.nanoTime()
      val r = post("/v1/process/sync", s"payload-$i", s"sync-$i")
      require(r.statusCode() == 200 && r.body() == s"PAYLOAD-$i!",
        s"sync rep $i: HTTP ${r.statusCode()} body ${r.body()}")
      (System.nanoTime() - t0) / 1e6
    }

    def asyncOnce(i: Int): Double = {
      val id = s"async-$i"
      val t0 = System.nanoTime()
      val r = post("/v1/process/async", s"payload-$i", id)
      require(r.statusCode() == 200, s"async rep $i: HTTP ${r.statusCode()}")
      // bounded poll: a dropped request (the endpoint's documented
      // backstop path) must fail the bench loudly, not hang it
      val deadline = t0 + 30L * 1000 * 1000 * 1000
      var f = fetch(id)
      while (f.statusCode() != 200) {
        require(System.nanoTime() < deadline,
          s"async rep $i: no result within 30s (last: ${f.statusCode()} ${f.body()})")
        Thread.sleep(2); f = fetch(id)
      }
      require(f.body() == s"PAYLOAD-$i!", s"async rep $i: body ${f.body()}")
      (System.nanoTime() - t0) / 1e6
    }

    val reps = 30
    try {
      (1 to 5).foreach(i => syncOnce(-i))   // warm: JIT + codegen + first batches
      val sync = (1 to reps).map(syncOnce)
      (1 to 5).foreach(i => asyncOnce(-i))
      val async = (1 to reps).map(asyncOnce)

      def line(path: String, ms: Seq[Double]): String = {
        val sorted = ms.sorted
        val med = sorted(sorted.length / 2)
        println(f"  $path median ${med}%.1f ms (p10 ${sorted(reps / 10)}%.1f, " +
          f"p90 ${sorted(reps * 9 / 10)}%.1f)")
        s"""{"metric":"serving_latency","path":"$path","reps":$reps,""" +
          f""""median_ms":$med%.1f,""" +
          s""""pooled_ms":[${sorted.map(v => f"$v%.1f").mkString(",")}]}"""
      }
      val lines = Seq(line("sync", sync), line("async_fetch", async))
      val p = java.nio.file.Paths.get("STREAMBENCH.json")
      val existing =
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.readString(p).linesIterator
            .filterNot(_.contains("\"serving_latency\"")).toSeq
        else Seq.empty
      java.nio.file.Files.writeString(p,
        (existing ++ lines).mkString("\n") + "\n")
      lines.foreach(println)
    } finally { q.stop(); serving.close(); spark.stop() }
  }
}
