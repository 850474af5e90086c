package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{ExactAgg, GrafanaMacros}
import graft.operators.RpcRegistry
import graft.serving.RestServer

/** Closed loop, one client thread, one keep-alive connection: HTTP
  * requests over loopback to serving.RestServer, each sent only after
  * the previous reply arrived. */
final class Dashboard(plan: JsonNode) extends Workload {
  private val data = plan.get("data").asText
  private val requests = Json.elems(plan.get("requests"))
  private val warm = Json.elems(plan.get("warmup"))
  private var server: RestServer = _
  private var port = 0
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()

  def prime(spark: SparkSession): Unit =
    Seq("events", "orders").foreach { t =>
      Tables.load(spark, data, t).write.format("noop").mode("overwrite").save()
    }

  private def start(spark: SparkSession): Unit = {
    RpcRegistry.register(plan.get("rpc_name").asText, (sp, args) => {
      val minTotal = args.getOrElse("min_total", "0").toDouble
      Tables.load(sp, data, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("yr"),
          col("o_orderstatus").as("status"),
          col("o_orderpriority").as("priority"))
        .agg(ExactAgg.dsum(col("o_totalprice")).as("total_production"))
        .filter(col("total_production") >= minTotal)
    })
    server = new RestServer(spark, Map("bench" -> data), "bench")
    port = server.start(0)
  }

  private def send(r: JsonNode): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${r.get("path").asText}"))
    val req =
      if (r.get("method").asText == "POST")
        b.POST(HttpRequest.BodyPublishers.ofString(r.get("body").asText)).build()
      else b.GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode, resp.body)
  }

  /** The macro expansion RestServer performs for a panel request,
    * replayed here so its cost can be timed from outside the server. */
  private def expandMs(r: JsonNode): Double = {
    if (r.get("method").asText != "POST") return 0.0
    val q = new URI(r.get("path").asText).getRawQuery.split("&").map { kv =>
      val i = kv.indexOf('=')
      java.net.URLDecoder.decode(kv.substring(0, i), "UTF-8") ->
        java.net.URLDecoder.decode(kv.substring(i + 1), "UTF-8")
    }.toMap
    val vars = q.collect { case (k, v) if k.startsWith("var_") => k.drop(4) -> v }
    val t0 = System.nanoTime()
    GrafanaMacros.expand(GrafanaMacros.substituteVars(r.get("body").asText, vars),
      q("from"), q("to"), q("interval"))
    (System.nanoTime() - t0) / 1e6
  }

  def warmup(spark: SparkSession, rec: Recorder): Unit = {
    start(spark)
    warm.foreach(r => rec.op("warmup", timed = false)(send(r))())
  }

  def run(spark: SparkSession, rec: Recorder, deadlineNs: Long): Map[String, Any] = {
    var i = 0
    try {
      while (System.nanoTime() < deadlineNs && i < requests.size) {
        val r = requests(i)
        val macroMs = if (rec.tracer.enabled) expandMs(r) else 0.0
        val idx = i
        rec.op("request") {
          val (code, body) = send(r)
          if (code != 200) throw new IllegalStateException(s"HTTP $code: ${body.take(200)}")
          body
        } { body => Map("index" -> idx, "body" -> body) }
        if (rec.tracer.enabled) {
          val o = rec.ops.last
          rec.ops(rec.ops.size - 1) = o.copy(trace = o.trace ++ Map(
            "functions.macro_expand_ms" -> macroMs,
            "serving.requests" -> 1.0,
            "serving.response_kb" ->
              o.check.get("body").map(_.toString.length / 1024.0).getOrElse(0.0)))
        }
        i += 1
      }
    } finally server.stop()
    Map("sent" -> i)
  }

  override def traceExtra(spark: SparkSession): Map[String, Double] =
    Kernels.throughput(spark, data)
}
