package graft.service

import java.io.StringWriter
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.core.{JsonFactory, JsonGenerator}
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.operators.Provenance

/** Lineage API service layer: the reference's five FastAPI endpoints
  * (reference: api/app.py:63-152) served over the JDK's built-in HTTP
  * server — zero extra dependencies, same routes, same JSON row shapes:
  *
  *   GET /provenance/batch/{batch_id}      → one batch object | 404
  *   GET /provenance/steps/{batch_id}      → step list (time asc)
  *   GET /provenance/rules/{batch_id}      → applied-rule list
  *   GET /provenance/source/{name}?limit=N → latest N batches desc
  *   GET /provenance/search?status=&source=&limit=N → filtered batches
  *     desc, capped at N (default 20; the reference's search is
  *     unbounded, the cap is the robust choice for a collect-and-serve)
  *
  * Each route delegates to the corresponding [[Provenance]] query
  * (batchById / batchTimeline / batchRules / latestBatches / search),
  * which folds driver-local control rows in plain Scala, and serializes
  * the rows with Jackson exactly as Spark's `Dataset.toJSON` would
  * (schema field order, null fields omitted) — so a request launches no
  * Spark job. Control-plane result sets are small by construction
  * (per-batch rows, top-N). A negative `?limit=` or a query string
  * that does not decode is a client error: 400 with a `detail`. One
  * client error never reaches a handler: the JDK server refuses a
  * request line holding a raw malformed percent-escape
  * (`/provenance/search?status=%zz`) with its own 400, whose body is
  * HTML (`<h1>400 Bad Request</h1>…`), not `{"detail":…}`. A client
  * that parses every 4xx body as JSON must allow for it.
  */
final class LineageService(provenance: Provenance, bindPort: Int = 0) {
  import LineageService.{jsonArray, jsonObject}

  private var server: HttpServer = _

  /** Start listening; returns the bound port (ephemeral when 0). */
  def start(): Int = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", bindPort), 0)
    server.createContext("/provenance/", handler)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = if (server != null) server.stop(0)

  private def route(path: String, params: Map[String, String]): (Int, String) = {
    // ?limit= caps the rows served (default 20); the reference's search
    // is unbounded (api/app.py:136-152), but an unfiltered search over a
    // large control plane must not serialize every batch row
    def limit: Int = {
      val n = params.get("limit").flatMap(_.toIntOption).getOrElse(20)
      if (n < 0) throw new IllegalArgumentException(s"limit must be non-negative, got $n")
      n
    }
    path.split("/").filter(_.nonEmpty).toList match {
      case "provenance" :: "batch" :: id :: Nil =>
        provenance.batchById(id).headOption
          .map(r => (200, jsonObject(r, Provenance.BatchSchema)))
          .getOrElse((404, """{"detail":"Batch ID not found"}"""))
      case "provenance" :: "steps" :: id :: Nil =>
        (200, jsonArray(provenance.batchTimeline(id), Provenance.tableSchemas("provenance_steps")))
      case "provenance" :: "rules" :: id :: Nil =>
        (200, jsonArray(provenance.batchRules(id), Provenance.tableSchemas("provenance_rules_applied")))
      case "provenance" :: "source" :: name :: Nil =>
        (200, jsonArray(provenance.latestBatches(Some(name), limit), Provenance.BatchSchema))
      case "provenance" :: "search" :: Nil =>
        (200, jsonArray(provenance.search(params.get("status"), params.get("source")).take(limit),
          Provenance.BatchSchema))
      case _ => (404, """{"detail":"Not Found"}""")
    }
  }

  private def handler: HttpHandler = (ex: HttpExchange) => {
    val (code, body) =
      try route(ex.getRequestURI.getPath, parseQuery(ex.getRequestURI.getRawQuery))
      catch {
        case e: IllegalArgumentException => (400, detail(e))
        case e: Throwable => (500, detail(e))
      }
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** Form-decodes the raw (still percent-encoded) query once; a
    * malformed escape throws IllegalArgumentException.
    */
  private def parseQuery(q: String): Map[String, String] =
    Option(q).getOrElse("").split("&").filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      URLDecoder.decode(k, StandardCharsets.UTF_8) -> URLDecoder.decode(v, StandardCharsets.UTF_8)
    }.toMap

  private def detail(e: Throwable): String =
    s"""{"detail":${Provenance.jsonEscape(Option(e.getMessage).getOrElse("error"))}}"""
}

object LineageService {
  private val jsonFactory = new JsonFactory()

  /** `rows` as a JSON array, byte for byte what Spark's `Dataset.toJSON`
    * writes for them joined into one: Spark's JSON writer is Jackson
    * too, so fields follow `schema` order, null fields are omitted,
    * longs are numbers and strings take Jackson's default escapes.
    */
  def jsonArray(rows: Seq[Row], schema: StructType): String = write { g =>
    g.writeStartArray()
    rows.foreach(writeRow(g, _, schema))
    g.writeEndArray()
  }

  /** One row as a JSON object, as [[jsonArray]] writes it. */
  def jsonObject(row: Row, schema: StructType): String = write(writeRow(_, row, schema))

  private def write(body: JsonGenerator => Unit): String = {
    val out = new StringWriter
    val g = jsonFactory.createGenerator(out)
    body(g)
    g.close()
    out.toString
  }

  private def writeRow(g: JsonGenerator, r: Row, schema: StructType): Unit = {
    g.writeStartObject()
    schema.fields.indices.filterNot(r.isNullAt).foreach { i =>
      g.writeFieldName(schema(i).name)
      r.get(i) match {
        case n: Long => g.writeNumber(n)
        case v => g.writeString(v.toString)
      }
    }
    g.writeEndObject()
  }
}
