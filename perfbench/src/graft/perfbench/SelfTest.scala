package graft.perfbench

import java.net.InetSocketAddress

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.functions._

/** The benchmark's own tests (`run.py --selftest`):
  *
  *  - open-loop generator: against a stub endpoint that holds every
  *    request arriving during a fixed stall, each request due during the
  *    stall must carry the rest of the stall in its latency, and the
  *    generator must not fall behind its schedule (coordinated omission);
  *  - full-plan guard: a bare `count()` over a query loses operators of
  *    the query's optimized plan, and the guard must say so; the
  *    all-column digest the batch workloads time must lose none. */
object SelfTest {
  def run(): Unit = {
    val checks = Seq(openLoopStall(), planGuard())
    checks.foreach { case (n, ok, d) =>
      System.err.println(s"[perfbench] selftest ${if (ok) "ok  " else "FAIL"} $n ($d)")
    }
    println(Json.obj(Seq("selftest" -> checks.map { case (n, ok, d) =>
      Map("check" -> n, "ok" -> ok, "detail" -> d) })))
    require(checks.forall(_._2), "selftest failed")
  }

  def openLoopStall(): (String, Boolean, String) = {
    val rate = 100.0
    val n = 200
    val start = System.nanoTime() + 1000000000L
    val stallFrom = start + 500000000L
    val stallTo = start + 1000000000L
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val pool = java.util.concurrent.Executors.newCachedThreadPool()
    server.setExecutor(pool)
    server.createContext("/", x => {
      val now = System.nanoTime()
      if (now >= stallFrom && now < stallTo) Thread.sleep((stallTo - now) / 1000000L, ((stallTo - now) % 1000000L).toInt)
      x.getRequestBody.readAllBytes()
      x.sendResponseHeaders(200, 2)
      x.getResponseBody.write("ok".getBytes("UTF-8"))
      x.close()
    })
    server.start()
    val loop = new OpenLoop(Runtime.getRuntime.availableProcessors())
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/"
      // one request first: the client's first send loads and starts its
      // machinery, which is not the generator falling behind
      loop.run(System.nanoTime(), Seq(0L), Seq(loop.post(url, "{}")))
      val res = loop.run(start, (0 until n).map(i => (i * 1e9 / rate).toLong),
        (0 until n).map(_ => loop.post(url, "{}")))
      // requests due inside the stall (minus one request interval of slack
      // for the one that arrives as the stall ends)
      val inStall = res.filter(r => r.dueNs >= stallFrom && r.dueNs < stallTo - 10000000L)
      val short = inStall.filter(r => r.latencyMs < (stallTo - r.dueNs) / 1e6 - 1.0)
      val lateMax = res.map(_.lateMs).max
      val ok = res.forall(_.status == 200) && inStall.length >= 40 && short.isEmpty && lateMax < 50.0
      ("open-loop generator carries a server stall into every due request", ok,
        f"${inStall.length} due in stall, ${short.length} too short, gen.late_ms_max $lateMax%.2f " +
          s"(request ${res.maxBy(_.lateMs).i})")
    } finally {
      loop.close(); server.stop(0); pool.shutdownNow()
    }
  }

  def planGuard(): (String, Boolean, String) = {
    val spark = graft.core.Sessions.local("2", "perfbench-selftest")
    try {
      val a = spark.range(1000).select(col("id"), (col("id") % 7).as("k"),
        md5(col("id").cast("string")).as("h"))
      val b = spark.range(100).select((col("id") % 7).as("k"), col("id").as("v"))
      val q = a.join(b, "k").groupBy(col("k"), col("h")).agg(max(col("v")).as("v"))
        .orderBy(col("h"))
      val viaCount = FullPlan.lost(q, q.groupBy().count())
      val viaDigest = FullPlan.lost(q, FullPlan.digestFrame(q, "k"))
      ("full-plan guard flags count() and passes the digest",
        viaCount.nonEmpty && viaDigest.isEmpty, s"count() lost $viaCount, digest lost $viaDigest")
    } finally spark.stop()
  }
}
