package graft

import graft.kg.Sparql
import graft.serve.KgHttp
import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** The KG HTTP endpoint: socket responses must equal the in-process
  * [[KgHttp.runQuery]] JSON for the same store and query, with the
  * engine-extension error mapping (400 parse/JSON, 404 path, row cap). */
class KgHttpSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val trip = Seq(
    ("ent:1", "category", "PER"),
    ("ent:2", "category", "ORG"),
    ("ent:3", "category", "PER"),
    ("ent:1", "sameAs", "ent:9"),
    ("ent:1", "label", "alpha beta")
  ).toDF("subj", "pred", "obj")

  test("socket round trip equals runQuery; errors map to 400/404; cap truncates") {
    val server = KgHttp.start(0, trip, maxRows = 2)
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val client = HttpClient.newHttpClient()
      def post(path: String, body: String) = client.send(
        HttpRequest.newBuilder(URI.create(base + path))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      def get(path: String) = client.send(
        HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
        HttpResponse.BodyHandlers.ofString())

      // GET / — endpoint description
      assert(get("/").statusCode() === 200)
      assert(get("/").body().contains("\"endpoint\":\"/kg\""))

      // happy path == in-process JSON (OPTIONAL produces a null binding)
      val q = "SELECT DISTINCT ?e ?al WHERE { ?e category PER OPTIONAL { ?e sameAs ?al } }"
      val wire = post("/kg", s"""{"query": ${jstr(q)}}""")
      assert(wire.statusCode() === 200)
      assert(wire.body() === KgHttp.runQuery(trip, q, maxRows = 2))
      assert(wire.body().contains("null")) // ent:3 has no alias
      // and the JSON content matches the DataFrame the Sparql API returns
      val rows = Sparql.query(trip, q).collect()
      assert(wire.body().contains(s""""n":${rows.length}"""))

      // ASK rides the same endpoint, long-typed
      val ask = post("/kg", """{"query": "ASK { ?e category PER }"}""")
      assert(ask.statusCode() === 200 && ask.body().contains("\"rows\":[[1]]"))

      // cap: 3 triples project to 3 rows > maxRows=2 → truncated
      val capped = post("/kg", """{"query": "SELECT ?s WHERE { ?s ?p ?o }"}""")
      assert(capped.statusCode() === 200)
      assert(capped.body().contains("\"truncated\":true") &&
        capped.body().contains("\"n\":2"))

      // parser error → 400 with the parser's own message
      val bad = post("/kg", """{"query": "SELECT ?z WHERE { ?a b ?c }"}""")
      assert(bad.statusCode() === 400 && bad.body().contains("not bound"))
      // malformed JSON → 400; missing field → 400; unknown path → 404
      assert(post("/kg", "{nope").statusCode() === 400)
      assert(post("/kg", """{"q": "x"}""").statusCode() === 400)
      assert(post("/nope", "{}").statusCode() === 404)
    } finally KgHttp.stop(server)
  }

  test("startFromStore serves the saved store with manifest stats wired in") {
    import graft.io.TableFormat
    val store = java.nio.file.Files.createTempDirectory("graft-kghttp").toString + "/triples"
    TableFormat.savePartitioned(
      trip.withColumn("doc_id", org.apache.spark.sql.functions.lit("d1")),
      store, partCol = "pred", keyCol = "subj", buckets = 2, stage = "triples")
    val server = KgHttp.startFromStore(0, spark, store)
    try {
      val client = HttpClient.newHttpClient()
      // adversarial text order: stats-ordered fold must still bind correctly
      val q = "SELECT DISTINCT ?al ?e WHERE { ?e sameAs ?al . ?e category PER }"
      val wire = client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${server.getAddress.getPort}/kg"))
          .POST(HttpRequest.BodyPublishers.ofString(s"""{"query": ${jstr(q)}}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(wire.statusCode() === 200)
      assert(wire.body().contains("ent:9") && wire.body().contains("\"n\":1"))
      // the stats the server loaded are the manifest's, which match a count
      assert(graft.kg.Pattern.predStatsFromManifest(store) ===
        Map("category" -> 3L, "sameAs" -> 1L, "label" -> 1L))
    } finally KgHttp.stop(server)
  }

  test("update endpoint: HTTP script commits to the store; queries and stats see it; dry-run; read-only guard") {
    import graft.io.TableFormat
    val store = java.nio.file.Files.createTempDirectory("graft-kghttp-upd").toString + "/triples"
    TableFormat.savePartitioned(
      trip.withColumn("doc_id", org.apache.spark.sql.functions.lit("d1")),
      store, partCol = "pred", keyCol = "subj", buckets = 2, stage = "triples")
    val server = KgHttp.startFromStore(0, spark, store)
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val client = HttpClient.newHttpClient()
      def post(path: String, body: String) = client.send(
        HttpRequest.newBuilder(URI.create(base + path))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())

      // dry-run: parses, reports op count, store untouched
      val dry = post("/kg/update",
        """{"update": "INSERT DATA { ent:7 category LOC } ; DELETE WHERE { ?s sameAs ?o }", "dry_run": true}""")
      assert(dry.statusCode() === 200 && dry.body() === """{"ops":2,"dry_run":true}""")
      assert(post("/kg", """{"query": "ASK { ?s sameAs ?o }"}""").body().contains("[[1]]"))

      // applied: both ops commit; the next query sees the new state
      val upd = post("/kg/update",
        """{"update": "INSERT DATA { ent:7 category LOC } ; DELETE WHERE { ?s sameAs ?o }", "update_id": "http-1"}""")
      assert(upd.statusCode() === 200)
      assert(upd.body().contains(""""ops":2,"applied":2,"skipped":0"""))
      assert(post("/kg", """{"query": "ASK { ?s sameAs ?o }"}""").body().contains("[[0]]"))
      assert(post("/kg", """{"query": "ASK { ent:7 category LOC }"}""").body().contains("[[1]]"))
      // the served stats refreshed from the MERGED manifest: the metadata-only
      // COUNT fast path answers the post-update number
      val cnt = post("/kg", """{"query": "SELECT (COUNT(*) AS ?n) WHERE { ?s category ?o }"}""")
      assert(cnt.body().contains("[[4]]"), cnt.body())

      // replay with the same update_id: all ops skip, state unchanged
      val replay = post("/kg/update",
        """{"update": "INSERT DATA { ent:7 category LOC } ; DELETE WHERE { ?s sameAs ?o }", "update_id": "http-1"}""")
      assert(replay.body().contains(""""applied":0,"skipped":2"""))

      // parse error → 400 with the parser's message; missing field → 400
      assert(post("/kg/update", """{"update": "INSERT DATA { ?v bad form }"}""").statusCode() === 400)
      assert(post("/kg/update", """{"query": "x"}""").statusCode() === 400)
    } finally KgHttp.stop(server)

    // a frame-backed (pathless) listener refuses real updates but dry-runs
    val ro = KgHttp.start(0, trip)
    try {
      val client = HttpClient.newHttpClient()
      def post(body: String) = client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${ro.getAddress.getPort}/kg/update"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      val refused = post("""{"update": "INSERT DATA { a b c }"}""")
      assert(refused.statusCode() === 400 && refused.body().contains("read-only") ||
        refused.body().contains("store-backed"))
      assert(post("""{"update": "INSERT DATA { a b c }", "dry_run": true}""").statusCode() === 200)
    } finally KgHttp.stop(ro)
  }

  test("stale-read self-heal: a query racing an out-of-band store update retries against the committed state") {
    import graft.io.TableFormat
    val store = java.nio.file.Files.createTempDirectory("graft-kghttp-stale").toString + "/triples"
    TableFormat.savePartitioned(
      trip.withColumn("doc_id", org.apache.spark.sql.functions.lit("d1")),
      store, partCol = "pred", keyCol = "subj", buckets = 2, stage = "triples")
    val server = KgHttp.startFromStore(0, spark, store)
    try {
      val client = HttpClient.newHttpClient()
      def post(body: String) = client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${server.getAddress.getPort}/kg"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      // mutate the store BEHIND the listener (the in-flight-overwrite race,
      // made deterministic): the served frame still lists the pre-update
      // leaf files, which this update rewrites/deletes
      spark.catalog.refreshByPath(store) // isolate: listener frame keeps OLD listing
      Sparql.update(spark, store,
        "DELETE WHERE { ?s category ?o } ; INSERT DATA { ent:8 category LOC }")
      // the stale frame's scan would 500 (FileNotFound / REFRESH TABLE);
      // the store-backed listener must self-heal and answer from the
      // committed post-update state
      val r = post("""{"query": "SELECT DISTINCT ?s WHERE { ?s category LOC }"}""")
      assert(r.statusCode() === 200, r.body())
      assert(r.body().contains("ent:8"), r.body())
      assert(post("""{"query": "ASK { ?s category PER }"}""").body().contains("[[0]]"))
    } finally KgHttp.stop(server)
  }

  test("isStaleRead ends on a cause cycle and finds a FileNotFoundException three causes deep") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val a = new RuntimeException("a")
    val b = new RuntimeException("b")
    a.initCause(b); b.initCause(a)
    val deep = new RuntimeException("1", new RuntimeException("2",
      new RuntimeException("3", new java.io.FileNotFoundException("leaf"))))
    assert(!Await.result(Future(KgHttp.isStaleRead(a)), 10.seconds))
    assert(Await.result(Future(KgHttp.isStaleRead(deep)), 10.seconds))
  }

  private def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}
