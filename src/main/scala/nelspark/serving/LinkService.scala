package nelspark.serving

import org.apache.spark.sql.DataFrame
import nelspark.expr.Kernels
import nelspark.pipeline.Linker

/**
 * SNK3: the serving surface (the reference exposes a flask endpoint —
 * doc in → linked doc out — via its service harness, nel/harness.py;
 * reference absent at survey time, SURVEY.md §0/§2.1).
 *
 * Spark-native shape: serving does NOT run Spark jobs per request.
 * The model tables are exactly the small derived statistics a serving
 * tier would broadcast (the same tables `Linker.link` joins against),
 * so the service collects them ONCE into driver-resident hash maps and
 * answers each request with the same kernels the batch path uses
 * (`Kernels.normalizeName`, prior/name-prob/context-cosine features,
 * the same weighted combine and NIL threshold). The HTTP layer is the
 * JDK's built-in `com.sun.net.httpserver` — zero added dependencies.
 */
object LinkService {

  /** One linking decision (the per-chain fields of nel's linked Doc). */
  final case class Resolution(name: String, nameNorm: String,
      entityId: Option[Long], score: Double, isNil: Boolean)

  /**
   * Driver-resident serving model. Collect guards: serving models are
   * the SMALL derived tables (aliases/priors are O(|entities|), context
   * vectors top-K-truncated); `maxRows` fails loud rather than OOM the
   * driver if someone points this at a corpus-scale table.
   */
  final class LinkModel(
      nameProb: Map[String, Array[(Long, Double)]],
      prior: Map[Long, Double],
      tfidf: Map[Long, Map[String, Double]],
      termDf: Map[String, Long],
      nDocs: Long,
      w: Linker.Weights) {

    // same weighting the batch page vectors use: tf·(log((N+1)/(df+1))+1)
    // when a term_df table was provided, raw tf otherwise
    private def termWeight(t: String, tf: Double): Double =
      if (termDf.isEmpty) tf
      else tf * (math.log((nDocs + 1.0) / (termDf.getOrElse(t, 0L) + 1.0)) + 1.0)

    /** Same feature/score shape as Linker.link, one mention at a time:
      * the top `w.topN` candidates by P(e|name) from the alias store
      * (the batch cutoff, same tie order), prior + P(e|name) + context
      * cosine features, weighted combine, argmax with min-id tie-break,
      * NIL below tauNil. */
    def link(name: String, contextText: String): Resolution = {
      val nameNorm = Kernels.normalizeName(name)
      val cands = nameProb.getOrElse(nameNorm, Array.empty[(Long, Double)]).take(w.topN)
      if (cands.isEmpty) return Resolution(name, nameNorm, None, 0.0, isNil = true)
      // L2-normalized context vector of the request doc (tf-idf when a
      // term_df table is loaded — the batch page-vector weighting)
      val tf = contextText.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
        .groupBy(identity).map { case (t, xs) =>
          t -> termWeight(t, xs.length.toDouble) }
      val nrm = math.sqrt(tf.values.map(x => x * x).sum)
      val best = cands
        .map { case (ent, pName) =>
          val pPrior = prior.getOrElse(ent, 0.0)
          val ev = tfidf.getOrElse(ent, Map.empty)
          val ctx = if (nrm == 0.0) 0.0
            else tf.iterator.map { case (t, x) => x / nrm * ev.getOrElse(t, 0.0) }.sum
          val score = w.prior * pPrior + w.nameProb * pName + w.ctx * ctx
          (ent, score)
        }
        // deterministic: max score, ties toward the smaller entity id
        .maxBy { case (ent, score) => (score, -ent) }
      val (ent, score) = best
      if (score < w.tauNil) Resolution(name, nameNorm, None, score, isNil = true)
      else Resolution(name, nameNorm, Some(ent), score, isNil = false)
    }
  }

  /** Collect the model tables into a serving model. The size guard and
    * the fetch are ONE job per table (limit(max+1) + length check — a
    * count()-then-collect would execute every upstream plan twice).
    * Pass `termDf` (+ `nDocs`) to score request contexts with the same
    * tf-idf weighting the batch page vectors use; without it the
    * context vector is raw normalized tf (idf then lives only in the
    * entity vectors). */
  def buildModel(nameProb: DataFrame, entityPrior: DataFrame,
      entityTfidf: DataFrame, w: Linker.Weights = Linker.Weights(),
      termDf: Option[DataFrame] = None, nDocs: Long = 0L,
      maxRows: Long = 5000000L): LinkModel = {
    // the guard below does limit(maxRows + 1).toInt — a maxRows at or
    // above Int.MaxValue would overflow into a wrong/negative limit and
    // silently defeat the size guard it implements
    require(maxRows > 0 && maxRows < Int.MaxValue,
      s"maxRows must be in (0, Int.MaxValue): $maxRows")
    def fetch(df: DataFrame, what: String): Array[org.apache.spark.sql.Row] = {
      val rows = df.limit((maxRows + 1).toInt).collect()
      require(rows.length <= maxRows,
        s"$what exceeds maxRows=$maxRows — not a serving-size table")
      rows
    }
    val np = fetch(nameProb, "name_prob")
      .map(r => (r.getAs[String]("name_norm"), r.getAs[Long]("entity_id"),
        r.getAs[Double]("p")))
      .groupBy(_._1).map { case (k, xs) =>
        k -> xs.map(x => (x._2, x._3)).sortBy(x => (-x._2, x._1)) }
    val pr = fetch(entityPrior, "entity_prior")
      .map(r => r.getAs[Long]("entity_id") -> r.getAs[Double]("p")).toMap
    val tf = fetch(entityTfidf, "entity_tfidf")
      .map(r => (r.getAs[Long]("entity_id"), r.getAs[String]("term"),
        r.getAs[Double]("w")))
      .groupBy(_._1).map { case (k, xs) =>
        k -> xs.map(x => (x._2, x._3)).toMap }
    val dfMap = termDf.map(fetch(_, "term_df")
      .map(r => r.getAs[String]("term") -> r.getAs[Long]("df")).toMap)
      .getOrElse(Map.empty[String, Long])
    new LinkModel(np, pr, tf, dfMap, nDocs, w)
  }

  private def jstr(s: String): String = nelspark.util.Json.str(s)

  /**
   * Start the HTTP service on `port` (0 = ephemeral; read the bound
   * port from the returned server). Endpoints:
   *   GET /health                  → {"status":"ok"}
   *   GET /link?name=..&text=..    → one Resolution as JSON
   * Query params are URL-decoded; responses are UTF-8 JSON.
   */
  def serve(model: LinkModel, port: Int = 0): com.sun.net.httpserver.HttpServer = {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", port), 0)
    def respond(ex: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes("UTF-8")
      ex.getResponseHeaders.set("Content-Type", "application/json; charset=utf-8")
      ex.sendResponseHeaders(code, bytes.length.toLong)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
    // None = undecodable query string (malformed percent-escapes) → 400,
    // not an exception escaping the handler (which would drop the
    // connection with no response at all)
    def params(ex: HttpExchange): Option[Map[String, String]] = try {
      val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      Some(q.split("&").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap)
    } catch { case _: IllegalArgumentException => None }
    server.createContext("/health", new HttpHandler {
      override def handle(ex: HttpExchange): Unit =
        respond(ex, 200, """{"status":"ok"}""")
    })
    server.createContext("/link", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = params(ex) match {
        case None =>
          respond(ex, 400, """{"error":"malformed query string"}""")
        case Some(p) => p.get("name") match {
          case None => respond(ex, 400, """{"error":"missing name param"}""")
          case Some(name) =>
            val r = model.link(name, p.getOrElse("text", ""))
            val ent = r.entityId.map(_.toString).getOrElse("null")
            respond(ex, 200,
              s"""{"name":${jstr(r.name)},"name_norm":${jstr(r.nameNorm)},""" +
                s""""entity_id":$ent,"score":${nelspark.util.Json.num(r.score)},"is_nil":${r.isNil}}""")
        }
      }
    })
    server.setExecutor(null) // single-threaded: deterministic, demo-scale
    server.start()
    server
  }
}
