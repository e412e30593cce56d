package graft.serve

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

/** The HTTP layer over [[UsageApi]] — the reference's Sinatra server
  * surface (`server/app.rb:32-157`) on the JDK's built-in
  * `com.sun.net.httpserver` (zero extra dependencies):
  *
  *  - `GET  /api/clusters`         → `["east", …]`
  *  - `GET  /api/users?cluster=c`  → `["alice", …]`
  *  - `POST /api/usage`  (UsageRequest JSON)  → UsageResponse JSON
  *    (`app.rb:44-106`)
  *  - `POST /api/table`  (UsageRequest JSON)  → `text/csv`
  *    (`app.rb:110-157`)
  *
  * JSON via json4s-jackson (ships with Spark). Scale posture: this
  * process is a query coordinator in front of the cached fact —
  * exactly the reference's JRuby-over-HSQLDB role; all heavy lifting
  * runs distributed in [[UsageQueries]], and [[UsageApi]]'s memo makes
  * repeat dashboards driver-local.
  */
final class UsageServer(api: UsageApi, port: Int = 0) {

  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
  import org.json4s.jackson.Serialization

  // TCP_NODELAY: the JDK server writes headers and body as separate
  // small segments, and Nagle + the peer's delayed ACK turns every
  // response into a flat ~40 ms stall (measured: memoized P50 44 ms
  // while the in-process byte-memo hit is 0.00 ms and the median
  // response is 1 KB — pure transport artifact, not rendering). The
  // property must be set before the first HttpServer is created.
  UsageServer.enableNoDelay()

  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  server.createContext("/api/clusters", handle { _ =>
    (200, "application/json", utf8(Serialization.write(api.clusters())))
  })
  server.createContext("/api/users", handle { ex =>
    val params = queryParams(ex)
    val cluster = params.getOrElse("cluster",
      throw new IllegalArgumentException("missing ?cluster="))
    (200, "application/json", utf8(Serialization.write(api.users(cluster))))
  })
  // the two hot routes serve the API's RENDERED-BYTE memo: a repeat
  // dashboard request costs a TrieMap hit, not a fresh json4s
  // serialization of thousands of (tick, value) points (measured ~44
  // ms/hit at 10⁷ fact rows before the byte memo — STRESS r11)
  server.createContext("/api/usage", handle { ex =>
    val req = Serialization.read[UsageRequest](body(ex))
    (200, "application/json", api.usageJson(req))
  })
  server.createContext("/api/table", handle { ex =>
    val req = Serialization.read[UsageRequest](body(ex))
    (200, "text/csv", api.tableCsv(req))
  })

  def start(): Int = { server.start(); server.getAddress.getPort }
  def stop(): Unit = server.stop(0)

  // ------------------------------------------------------------------ //

  private def utf8(s: String): Array[Byte] = s.getBytes(UTF_8)

  private def handle(
      f: HttpExchange => (Int, String, Array[Byte])): com.sun.net.httpserver.HttpHandler = { ex =>
    val (status, ctype, bytes) =
      try f(ex)
      catch {
        case e: IllegalArgumentException =>
          (400, "application/json",
            utf8(Serialization.write(Map("error" -> String.valueOf(e.getMessage)))))
        case e: Exception =>
          (500, "application/json",
            utf8(Serialization.write(Map("error" -> String.valueOf(e.getMessage)))))
      }
    ex.getResponseHeaders.set("Content-Type", s"$ctype; charset=utf-8")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val out = ex.getResponseBody
    try out.write(bytes) finally out.close()
  }

  private def body(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), UTF_8)

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).fold(Map.empty[String, String]) { q =>
      q.split('&').toSeq.flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) =>
            Some(java.net.URLDecoder.decode(k, UTF_8) ->
              java.net.URLDecoder.decode(v, UTF_8))
          case _ => None
        }
      }.toMap
    }
}

object UsageServer {

  /** See the instance-side note: disable Nagle on the built-in
    * HttpServer's sockets (read once at server-socket setup, so it
    * must be set before `HttpServer.create`). Idempotent. */
  def enableNoDelay(): Unit =
    System.setProperty("sun.net.httpserver.nodelay", "true")

  /** Build the SparkSession a DEDICATED serving process should run —
    * the profile the round-10 serving-latency campaign measured
    * (STRESS.md), applied as wiring instead of a scaladoc note:
    *
    *  - `spark.sql.codegen.wholeStage=false`: every request embeds
    *    fresh literals, so whole-stage codegen compiles a new class
    *    per request; at interactive row counts the compile latency
    *    (~0.3 s on the P95 tail) outweighs the interpreted path's
    *    per-row cost (measured cold P95 658 → 343 ms at 10⁷ rows).
    *    A serving fact ≫10⁸ rows flips the trade.
    *  - shuffle partitions = cores ([[graft.GraftSession.builder]]):
    *    request aggregations are over the cached clustered fact; 200
    *    partitions is pure task-launch overhead at interactive scale.
    *
    * The fact layout itself (range-clustered cache) lives in
    * [[UsageApi]] and applies regardless of session. */
  def servingSession(appName: String = "graft-usage-server"): org.apache.spark.sql.SparkSession =
    graft.GraftSession.builder(appName, graft.GraftSession.cores)
      .config("spark.sql.codegen.wholeStage", "false")
      .getOrCreate()

  /** `runMain graft.serve.UsageServer <factParquetDir> [port]` — serve
    * the four routes over a parquet usage fact (the `UsageEtl` output
    * layout). Warms the clustered cache before binding, so the first
    * real request never pays the materialization. */
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: UsageServer <factParquetDir> [port]")
    val port = if (args.length > 1) args(1).toInt else 8080
    implicit val spark: org.apache.spark.sql.SparkSession = servingSession()
    spark.sparkContext.setLogLevel("WARN")
    val api = new UsageApi(spark.read.parquet(args(0)))
    val rows = api.warm()
    val server = new UsageServer(api, port)
    val bound = server.start()
    println(s"[usage-server] serving $rows fact rows on 127.0.0.1:$bound")
    Thread.currentThread().join() // serve until killed
  }
}
