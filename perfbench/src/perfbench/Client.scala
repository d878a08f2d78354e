package perfbench

import graft.wire.{MsgPack, NumpyCodec}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import java.net.{HttpURLConnection, URL}

/** One decoded NumpyMultiDataset: schema plus rows per TBK. */
final case class Frame(schema: StructType, groups: Seq[(String, Seq[Row])]) {
  def col(name: String): Int = schema.fieldIndex(name)
}

/** msgpack JSON-RPC client over loopback HTTP (keep-alive), the way a
  * pymarketstore client talks to the server.
  */
final class RpcClient(port: Int) {
  private val rpcUrl = new URL(s"http://127.0.0.1:$port/rpc")
  private val metricsUrl = new URL(s"http://127.0.0.1:$port/metrics")

  /** Returns the `result` map and the response size in bytes. */
  def call(method: String, params: Map[String, Any]): (Map[Any, Any], Int) = {
    val body = Tracer.span("wire.client_encode")(MsgPack.encode(
      Map("jsonrpc" -> "2.0", "method" -> method, "params" -> Seq(params), "id" -> 1L)))
    val bytes = Tracer.span("wire.http") {
      val conn = rpcUrl.openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setRequestProperty("Content-Type", "application/x-msgpack")
      conn.setDoOutput(true)
      val os = conn.getOutputStream
      os.write(body); os.close()
      val in = conn.getInputStream
      try in.readAllBytes() finally in.close()
    }
    val resp = Tracer.span("wire.client_decode")(MsgPack.decode(bytes)).asInstanceOf[Map[Any, Any]]
    resp.get("error").foreach(e => throw new IllegalStateException(s"rpc error: $e"))
    (resp("result").asInstanceOf[Map[Any, Any]], bytes.length)
  }

  /** DataService.Query with one request; returns the decoded frame. */
  def query(request: Map[String, Any]): (Frame, Int) = {
    val (res, n) = call("DataService.Query", Map("requests" -> Seq(request)))
    val ds = res("responses").asInstanceOf[Seq[Any]].head.asInstanceOf[Map[Any, Any]]("result")
      .asInstanceOf[Map[Any, Any]]
    val (schema, groups) = Tracer.span("wire.client_decode")(NumpyCodec.decode(ds))
    (Frame(schema, groups), n)
  }

  /** The server's Prometheus scrape as series → value. */
  def scrape(): Map[String, Double] = {
    val conn = metricsUrl.openConnection().asInstanceOf[HttpURLConnection]
    val in = conn.getInputStream
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    text.linesIterator.filterNot(_.startsWith("#")).flatMap { l =>
      val i = l.lastIndexOf(' ')
      if (i <= 0) None else scala.util.Try(l.substring(0, i) -> l.substring(i + 1).toDouble).toOption
    }.toMap
  }
}

object RpcClient {
  private val Ns = graft.wire.Metrics.Ns
  /** (sum, count) of a method's successful-request histogram. */
  def methodSeconds(m: Map[String, Double], method: String): (Double, Double) = {
    val k = s"""${Ns}_rpc_successful_request_duration_seconds_%s{method="$method"}"""
    (m.getOrElse(k.format("sum"), 0.0), m.getOrElse(k.format("count"), 0.0))
  }
  def writeCsmSeconds(m: Map[String, Double]): (Double, Double) =
    (m.getOrElse(s"${Ns}_write_csm_duration_seconds_sum", 0.0),
      m.getOrElse(s"${Ns}_write_csm_duration_seconds_count", 0.0))
}
