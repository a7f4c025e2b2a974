package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** One HTTP exchange as the client saw it: sent at `startNs`, answered at
  * `endNs`. `status` is -1 when the client timed out or the connection
  * failed. `body` keys [[Load.bodies]]. */
final case class Obs(phase: String, qid: Int, startNs: Long, endNs: Long, status: Int, body: String) {
  def latencyMs: Double = (endNs - startNs) / 1e6
}

/** Load generator for the KG endpoint. Concurrent reads run on a fixed
  * pool of `clients` threads, each with its own connection, for the
  * generator's life. Response bodies are kept once per distinct text, keyed
  * by digest, for the answer check after the run. */
final class Load(port: Int, clients: Int) {
  val bodies = new ConcurrentHashMap[String, String]()
  private val timeout = Duration.ofSeconds(60)
  private val client = new ThreadLocal[HttpClient] {
    override def initialValue(): HttpClient =
      HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
        .connectTimeout(timeout).build()
  }
  private val pool = Executors.newFixedThreadPool(clients, r => {
    val t = new Thread(r, "perfbench-reader"); t.setDaemon(true); t
  })

  private def digest(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }

  /** POST `json` to `path`; returns (status, body key). */
  def post(path: String, json: String): (Int, String) =
    try {
      val rsp = client.get().send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).timeout(timeout)
          .POST(HttpRequest.BodyPublishers.ofString(json)).build(),
        HttpResponse.BodyHandlers.ofString())
      val key = digest(rsp.body())
      bodies.putIfAbsent(key, rsp.body())
      (rsp.statusCode(), key)
    } catch { case _: java.io.IOException | _: InterruptedException => (-1, "") }

  def query(q: String): (Int, String) = post("/kg", s"""{"query": ${Load.jstr(q)}}""")

  /** Closed loop: `clients` clients (at most the generator's) each send
    * the next read of `qids` as soon as their previous one has answered;
    * returns when every read has answered. One client sends from the
    * calling thread. */
  def closedLoop(phase: String, qids: IndexedSeq[Int], queries: IndexedSeq[String],
                 clients: Int): Seq[Obs] = {
    val out = new ConcurrentLinkedQueue[Obs]()
    val next = new AtomicInteger(0)
    def client(): Unit = {
      var i = next.getAndIncrement()
      while (i < qids.size) {
        val t0 = System.nanoTime()
        val (status, body) = query(queries(qids(i)))
        out.add(Obs(phase, qids(i), t0, System.nanoTime(), status, body))
        i = next.getAndIncrement()
      }
    }
    if (clients == 1) client()
    else (1 to clients).map(_ => pool.submit((() => client()): Runnable)).foreach(_.get())
    out.asScala.toSeq.sortBy(_.startNs)
  }

  /** Stops the client threads and waits for them to end. */
  def close(): Unit = { pool.shutdownNow(); pool.awaitTermination(5, TimeUnit.MINUTES) }
}

object Load {
  def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}
