package graft.battle

import graft.Json
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import org.apache.spark.sql.DataFrame

/** Minimal HTTP serving layer — the engine-side twin of the reference's
  * `server.py:1-8` (LangGraph dev server exposing the analytics graphs
  * on a port). Pure JDK `com.sun.net.httpserver`: the engine links no
  * web framework, and the demo can serve the notebook's tables offline.
  *
  * The crucial structural difference from the reference: the graph
  * there RECOMPUTES analytics per request; here the engine's product
  * IS the computed tables, so the server pre-renders every table's
  * bounded final aggregate to JSON ONCE at construction and the
  * request path never touches Spark — O(1) string assembly per hit,
  * no driver contention, safe to put behind any concurrency. A
  * refresh is a new AnalyticsServer over refreshed frames (the frozen-
  * model rule every streaming component here follows).
  *
  * Routes (GET, JSON):
  *   /health          → {"status":"ok","tables":N,"games":G}
  *   /tables          → ["user_summary", ...]
  *   /table/<name>    → rows of one table (≤ maxRows)
  *   /qna?q=<question> → Phase-2 routing: {category, needs, context,
  *                       warning?} — same classify/buildContext/health
  *                       semantics as [[QnaRouter]], served over HTTP
  */
final class AnalyticsServer(
    tables: Map[String, DataFrame],
    gamesPlayed: Long,
    classifier: QuestionClassifier = QnaRouter,
    maxRows: Int = 100) {

  // all serving state is precomputed from ONE render per table: its
  // first maxRows rows for /table, the top-N prefix for /qna context
  // assembly (QnaRouter.buildContext's topN) — both bounded aggregates
  // by construction
  private val renderedAll: Map[String, IndexedSeq[String]] =
    tables.map { case (n, df) => n -> QnaRouter.renderRows(df, math.max(maxRows, QnaRouter.TopN)) }
  private val rendered: Map[String, IndexedSeq[String]] =
    renderedAll.map { case (n, rows) => n -> rows.take(maxRows) }
  private val renderedTop: Map[String, IndexedSeq[String]] =
    renderedAll.map { case (n, rows) => n -> rows.take(QnaRouter.TopN) }

  private var server: HttpServer = _

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def queryParam(ex: HttpExchange, key: String): Option[String] =
    Option(ex.getRequestURI.getRawQuery).toSeq
      .flatMap(_.split("&").toSeq)
      .map(_.split("=", 2))
      .collectFirst { case Array(k, v) if k == key =>
        java.net.URLDecoder.decode(v, "UTF-8") }

  /** Bind 127.0.0.1:port (0 = ephemeral) and serve. Returns the bound
    * port. */
  def start(port: Int = 0): Int = {
    require(server == null, "already started")
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = try {
        val path = ex.getRequestURI.getPath
        path match {
          case "/health" =>
            respond(ex, 200,
              s"""{"status":"ok","tables":${rendered.size},"games":$gamesPlayed}""")
          case "/tables" =>
            respond(ex, 200,
              rendered.keys.toSeq.sorted.map(Json.str).mkString("[", ",", "]"))
          case p if p.startsWith("/table/") =>
            val name = p.stripPrefix("/table/")
            rendered.get(name) match {
              case Some(rows) => respond(ex, 200, rows.mkString("[", ",", "]"))
              case None => respond(ex, 404,
                s"""{"error":"unknown table","table":${Json.str(name)}}""")
            }
          case "/qna" =>
            queryParam(ex, "q") match {
              case None => respond(ex, 400, """{"error":"missing q parameter"}""")
              case Some(q) =>
                val (category, needs) = classifier.classify(q)
                val warning = QnaRouter.dataHealthWarning(category, gamesPlayed)
                  .map(w => s""","warning":${Json.str(w)}""").getOrElse("")
                respond(ex, 200,
                  s"""{"category":${Json.str(category)},"needs":${
                    needs.map(Json.str).mkString("[", ",", "]")},"context":${
                    Json.str(QnaRouter.assemble(needs, renderedTop))}$warning}""")
            }
          case _ => respond(ex, 404, """{"error":"not found"}""")
        }
      } catch {
        case e: Exception => respond(ex, 500,
          s"""{"error":${Json.str(String.valueOf(e.getMessage))}}""")
      }
    })
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = if (server != null) { server.stop(0); server = null }
}
