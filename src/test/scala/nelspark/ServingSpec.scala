package nelspark

import nelspark.pipeline.Linker
import nelspark.serving.LinkService
import org.apache.spark.sql.functions._

/** SNK3 serving surface: driver-resident model maps + JDK HTTP server;
  * same kernels and score shape as the batch linker, no Spark job per
  * request. */
class ServingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val model = {
    val nameProb = Seq(
      ("acme corp", 1L, 0.9), ("acme corp", 2L, 0.1),
      ("zenith labs", 3L, 1.0)
    ).toDF("name_norm", "entity_id", "p")
    val prior = Seq((1L, 0.5), (2L, 0.3), (3L, 0.2)).toDF("entity_id", "p")
    val tfidf = Seq(
      (1L, "rockets", 0.8), (1L, "anvils", 0.6),
      (2L, "insurance", 1.0), (3L, "pharma", 1.0)
    ).toDF("entity_id", "term", "w")
    LinkService.buildModel(nameProb, prior, tfidf,
      Linker.Weights(prior = 0.2, nameProb = 0.4, ctx = 0.4, tauNil = 0.15))
  }

  test("model resolves by name prob + context, NILs unknown names") {
    val r1 = model.link("Acme Corp", "they sell anvils and rockets")
    assert(r1.entityId.contains(1L) && !r1.isNil)
    // context flips the candidate when it overcomes the name prior:
    // c1 = 0.2*0.5 + 0.4*0.9 + 0 = 0.46 < c2 = 0.2*0.3 + 0.4*0.1 + 0.4*1.0 = 0.50
    val r2 = model.link("Acme Corp", "insurance insurance insurance")
    assert(r2.entityId.contains(2L), r2.toString)
    val nil = model.link("Totally Unknown", "whatever text")
    assert(nil.isNil && nil.entityId.isEmpty)
  }

  test("HTTP endpoint serves link requests end-to-end") {
    val server = LinkService.serve(model, port = 0)
    try {
      val port = server.getAddress.getPort
      val client = java.net.http.HttpClient.newHttpClient()
      def get(path: String): String = client.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).body()

      assert(get("/health").contains("ok"))
      val enc = java.net.URLEncoder.encode("Zenith Labs", "UTF-8")
      val resp = get(s"/link?name=$enc&text=pharma+trials")
      assert(resp.contains("\"entity_id\":3"), resp)
      assert(resp.contains("\"is_nil\":false"), resp)
      val nilResp = get("/link?name=Nobody+Knows&text=x")
      assert(nilResp.contains("\"is_nil\":true"), nilResp)
      assert(get("/link").contains("error"))
      // malformed percent-encoding -> 400 JSON, not a dropped connection.
      // HttpClient refuses to even build the URI, so speak raw HTTP
      val sock = new java.net.Socket("127.0.0.1", port)
      try {
        val out = sock.getOutputStream
        out.write(("GET /link?name=%zz HTTP/1.1\r\nHost: h\r\n" +
          "Connection: close\r\n\r\n").getBytes("UTF-8"))
        out.flush()
        val raw = new String(sock.getInputStream.readAllBytes(), "UTF-8")
        // the JDK server pre-validates the URI and 400s it before the
        // handler runs; the handler's own decode guard covers anything
        // that gets past that. Either way: a 400 RESPONSE, not a drop.
        assert(raw.startsWith("HTTP/1.1 400"), raw.take(120))
      } finally sock.close()
    } finally server.stop(0)
  }

  test("termDf-weighted context matches the batch tf-idf page weighting") {
    val nameProb = Seq(("x", 1L, 0.5), ("x", 2L, 0.5)).toDF("name_norm", "entity_id", "p")
    val prior = Seq((1L, 0.5), (2L, 0.5)).toDF("entity_id", "p")
    val tfidf = Seq((1L, "rare", 1.0), (2L, "common", 1.0)).toDF("entity_id", "term", "w")
    val termDf = Seq(("rare", 1L), ("common", 90L)).toDF("term", "df")
    val m = LinkService.buildModel(nameProb, prior, tfidf,
      Linker.Weights(prior = 0.0, nameProb = 0.0, ctx = 1.0, tauNil = 0.0),
      termDf = Some(termDf), nDocs = 100L)
    // both terms appear once; idf makes "rare" dominate the context
    // vector, so entity 1 wins despite equal name prob and prior
    val r = m.link("X", "rare common")
    assert(r.entityId.contains(1L), r.toString)
  }

  test("serving links like batch Linker.link: top-N candidates, Locale.ROOT context") {
    // ten candidates for one name; the one whose context matches ranks
    // last by P(e|name), outside the default top 8
    val nameProb = (1L to 10L).map(e => ("x", e, (11 - e) / 55.0))
      .toDF("name_norm", "entity_id", "p")
    val prior = (1L to 10L).map(e => (e, 0.1)).toDF("entity_id", "p")
    val tfidf = Seq((10L, "iran", 1.0)).toDF("entity_id", "term", "w")
    val w = Linker.Weights(prior = 0.0, nameProb = 0.1, ctx = 1.0, tauNil = 0.0)
    val batch = Linker.link(Seq((1L, "u1", "x")).toDF("mention_id", "url", "name_norm"),
      Seq(("u1", "iran", 1.0)).toDF("url", "term", "w"),
      nameProb.select(col("name_norm"), col("entity_id"), lit(1L).as("cnt")),
      prior, nameProb, tfidf, w).select("entity_id").as[Long].head()
    val served = LinkService.buildModel(nameProb, prior, tfidf, w).link("X", "iran")
    assert(batch == 1L && served.entityId.contains(batch), s"batch $batch, serving $served")

    // with every candidate scored, the context decides, whatever the
    // JVM's default locale ("IRAN" lowercases to "ıran" under Turkish)
    val all = LinkService.buildModel(nameProb, prior, tfidf, w.copy(topN = 10))
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
    val r = try all.link("X", "IRAN") finally java.util.Locale.setDefault(saved)
    assert(r.entityId.contains(10L), r.toString)
  }

  test("buildModel refuses corpus-scale tables") {
    val big = spark.range(0, 100L).selectExpr(
      "concat('n', id) AS name_norm", "id AS entity_id", "0.5 AS p")
    val prior = Seq((1L, 1.0)).toDF("entity_id", "p")
    val tfidf = Seq((1L, "t", 1.0)).toDF("entity_id", "term", "w")
    intercept[IllegalArgumentException] {
      LinkService.buildModel(big, prior, tfidf, maxRows = 10L)
    }
  }
}
