package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Robots, TextExtraction}
import graft.io.Warc
import graft.operators.{CrawlFrontier, WebGraph}
import graft.pipeline.CurationPipeline

/** crawl_cycle — one crawl cycle over a seeded synthetic web (hosts,
  * linked pages, robots rules), its fetched pages written as gzip WARC
  * shards during set-up:
  *
  *   Warc.fromShards → CrawlFrontier.gateRobots → text extraction and
  *   curation gates → WebGraph.outlinks → hostGraph → pageRank →
  *   CrawlFrontier.rescorePriorities → selectBatch → recrawlUpdates and
  *   admit (discovered links, robots-gated).
  *
  * Exercises io.Warc, WebGraph's iterative loops and CrawlFrontier,
  * which no other workload reaches. One pass = one cycle; the run
  * repeats cycles for the measured seconds. */
object CrawlCycle {
  val Hosts = 30
  val PagesPerHost = 40
  val ShareFetched = 0.8
  val SharePrivate = 0.1      // pages under /private/
  val RobotsHostsEvery = 3    // every 3rd host disallows /private/
  val OutlinksPerPage = 8
  val ShareCrossHost = 0.4
  val ShareNewLinks = 0.1     // links to pages not yet in the frontier
  val BatchSize = 400
  val PerHostCap = 12
  val RankIters = 3
  val Now = 1754000000L
  val Agent = "graftbot"

  def host(h: Int): String = s"h$h.site${h % 7}.com"
  def page(h: Int, i: Int, priv: Boolean): String =
    s"https://${host(h)}/${if (priv) "private" else "p"}/$i"
  def isPrivate(h: Int, i: Int): Boolean = i < (PagesPerHost * SharePrivate).toInt
  def disallows(h: Int): Boolean = h % RobotsHostsEvery == 0
}

final class CrawlCycle(ctx: Ctx) extends Workload {
  import CrawlCycle._
  private val spark = ctx.spark
  import spark.implicits._

  override def inputs: Map[String, Any] = Map(
    "hosts" -> Hosts, "pages" -> Hosts * PagesPerHost, "share_fetched" -> ShareFetched,
    "share_private_pages" -> SharePrivate, "hosts_with_robots_disallow" -> s"1 in $RobotsHostsEvery",
    "outlinks_per_page" -> OutlinksPerPage, "share_cross_host_links" -> ShareCrossHost,
    "share_links_to_new_pages" -> ShareNewLinks, "batch_size" -> BatchSize,
    "per_host_cap" -> PerHostCap, "pagerank_iters" -> RankIters)

  override def prepare(): Prepared = new Cycle

  private final class Cycle extends Prepared {
    private val g = new Gen(ctx.seed * 17L + 29)
    private val all = for { h <- 0 until Hosts; i <- 0 until PagesPerHost } yield (h, i)
    private def url(hi: (Int, Int)) = page(hi._1, hi._2, isPrivate(hi._1, hi._2))
    private def html(h: Int, i: Int): String = {
      val links = (0 until OutlinksPerPage).map { _ =>
        val x = g.double()
        val th = if (x < ShareCrossHost) g.int(Hosts) else h
        if (g.double() < ShareNewLinks) s"https://${host(th)}/new/${g.int(1000)}"
        else url((th, g.int(PagesPerHost)))
      }
      s"<html><head><title>${g.words(4)}</title></head><body>" +
        (0 until 4).map(_ => s"<p>${g.text(300)}</p>").mkString +
        links.map(l => s"""<a href="$l">${g.words(2)}</a> """).mkString + "</body></html>"
    }
    // the fetched pages (some under /private/: fetched before the host's
    // robots.txt disallowed them, so the gate must drop them now)
    val fetchedPages: Seq[(String, String)] = all.filter(_ => g.double() < ShareFetched)
      .map { case (h, i) => (page(h, i, isPrivate(h, i)), html(h, i)) }
    private val dir = ctx.dir("crawl")
    val shardBytes: Long = {
      val shards = Warc.toShards(fetchedPages.toDF("url", "text").repartition(ctx.cores),
        maxShardBytes = 1L << 20)
      shards.write.parquet(s"$dir/shards")
      spark.read.parquet(s"$dir/shards").select(sum(length(col("shard")))).as[Long].head()
    }
    // the frontier knows every allowed page of the web, fetched or not
    CrawlFrontier.seed(all.filterNot { case (h, i) => isPrivate(h, i) && disallows(h) }.map(url).toDF("url"),
      now = Now - 86400L).write.parquet(s"$dir/frontier")
    (0 until Hosts).map(h => (host(h),
      if (disallows(h)) s"User-agent: *\nDisallow: /private/\n" else "User-agent: *\nAllow: /\n"))
      .toDF("domain", "robots_txt").write.parquet(s"$dir/robots")

    private def digest(df: DataFrame, key: String) = FullPlan.digest(df, key)

    /** One cycle. `staged` (traced run) materializes each stage first. */
    private def cycle(staged: Boolean): Map[String, (Long, String, Seq[String])] = {
      def stage(name: String, df: => DataFrame): DataFrame =
        if (!staged) df else Trace.span(name)(df.localCheckpoint(eager = true))
      val rules = Robots.rulesByDomain(Robots.parseRules(spark.read.parquet(s"$dir/robots")), Agent)
      // ingest once: every later step reads the gated pages
      val pages = Trace.span("warc.ingest") {
        CrawlFrontier.gateRobots(Warc.fromShards(spark.read.parquet(s"$dir/shards"))
          .select(col("target_uri").as("url"), col("http_status").as("status"),
            col("body_text").as("html")), rules)
          .localCheckpoint(eager = true)
      }
      val docs = pages.select(col("url"), TextExtraction.stripHtml(col("html")).as("text"))
        .withColumn("verdict", CurationPipeline.verdict(col("text")))
        .filter(col("verdict") === "keep")
      val edges = stage("webgraph.links", pages.select(col("url").as("src"),
        explode(WebGraph.outlinks(col("html"), col("url"))).as("dst")))
      val hosts = stage("webgraph.hostgraph", WebGraph.hostGraph(edges))
      val nodes = hosts.select(col("src").as("id")).union(hosts.select(col("dst").as("id"))).distinct()
      val j0 = jobsNow()
      val ranks = Trace.span("webgraph.rank.construct")(WebGraph.pageRank(nodes, hosts, iters = RankIters))
      rankJobs += jobsNow() - j0
      val frontier = spark.read.parquet(s"$dir/frontier")
      val rescored = Trace.span("frontier.rescore.construct")(CrawlFrontier.rescorePriorities(
        frontier, ranks.select(col("id").as("host"), col("pagerank").as("score"))))
      val batch = CrawlFrontier.selectBatch(rescored, Now, BatchSize, PerHostCap)
      val fetched = pages.select(col("url"), lit(Now + 60L).as("fetch_ts"), col("status"),
        md5(col("html")).as("content_hash"))
      val updates = CrawlFrontier.recrawlUpdates(fetched, frontier)
      val discovered = CrawlFrontier.gateRobots(
        edges.select(col("dst").as("url"), lit(1).as("depth")), rules)
      val admitted = CrawlFrontier.admit(frontier, discovered, Now + 60L)
      Map(
        "docs" -> Trace.span("curate.gates")(digest(docs, "url")),
        "ranks" -> Trace.span("webgraph.rank")(digest(ranks.select(col("id"),
          round(col("pagerank"), 12).cast("string").as("pr")).select(concat_ws("=", col("id"), col("pr")).as("k"),
          col("id"), col("pr")), "k")),
        "batch" -> Trace.span("frontier.select")(digest(batch, "url")),
        "updates" -> Trace.span("frontier.updates")(digest(updates, "url")),
        "admitted" -> Trace.span("frontier.admit")(digest(admitted, "url")))
    }

    private var jobsNow: () => Long = () => 0L
    private var rankJobs = 0L
    /** No warm-up: a crawl cycle is a batch job run once per process,
      * so its users pay the cold pass every time. */
    override def warmUp(): Unit = ()

    override def measure(seconds: Int): Outcome = {
      val counts = if (ctx.trace) Some(new SparkCounts(spark)) else None
      val passes = scala.collection.mutable.ArrayBuffer.empty[(Double, Map[String, (Long, String, Seq[String])])]
      counts.foreach(c => jobsNow = () => c.jobs.sum())
      rankJobs = 0L
      val t0 = System.nanoTime()
      while (passes.isEmpty || System.nanoTime() - t0 < seconds * 1000000000L) {
        FullPlan.clear()
        val p0 = System.nanoTime()
        val d = Trace.span("frontier.cycle")(cycle(staged = ctx.trace))
        passes += (((System.nanoTime() - p0) / 1e6, d))
      }
      counts.foreach(_.close())
      val lost = FullPlan.violations()

      val last = passes.last._2
      val bad = (s: Seq[String]) => s.count(u => u.contains("/private/") &&
        disallows(u.stripPrefix("https://h").takeWhile(_.isDigit).toInt))
      val ranks = last("ranks")._3.map(k => k.substring(k.indexOf('=') + 1).toDouble)
      val mass = ranks.sum
      val perHost = last("batch")._3.groupBy(u => u.stripPrefix("https://").takeWhile(_ != '/'))
        .values.map(_.length)
      val fetchedAllowed = fetchedPages.map(_._1).filterNot(u => bad(Seq(u)) > 0).toSet
      val updated = last("updates")._3.toSet
      val digests = passes.map(_._2.map { case (k, v) => k -> v._2 }).distinct
      val checks = Seq(
        ("timed actions keep every operator of their query plan", lost.isEmpty, lost.toString),
        ("robots-disallowed pages are absent",
          fetchedPages.length > fetchedAllowed.size &&
            bad(last("docs")._3) + bad(last("batch")._3) + bad(last("admitted")._3) == 0,
          s"${last("docs")._1} docs of ${fetchedPages.length} fetched pages, ${fetchedAllowed.size} allowed"),
        ("PageRank mass sums to 1", math.abs(mass - 1.0) <= 1e-6 && ranks.nonEmpty, f"$mass%.9f"),
        ("the per-host cap holds", perHost.nonEmpty && perHost.max <= PerHostCap,
          s"max ${if (perHost.isEmpty) 0 else perHost.max} per host"),
        ("updates cover exactly the fetched URLs", updated == fetchedAllowed,
          s"${updated.size} updated, ${fetchedAllowed.size} fetched"),
        ("new links are admitted", last("admitted")._1 > 0, s"${last("admitted")._1} admitted"),
        ("every cycle gives the same digests", digests.length == 1, s"${digests.length} digests"))

      val ms = passes.map(_._1).toSeq
      val records = fetchedPages.length.toDouble
      val e2e = Map(
        "latency_p50_ms" -> Stats.median(ms),
        "latency_p75_ms" -> Stats.pct(ms, 0.75),
        "items_per_s" -> records * passes.length / (ms.sum / 1000.0))
      val info = Map[String, Any]("cycles" -> passes.length, "cycle_ms" -> ms,
        "digests" -> digests.map(_.toSeq.sorted.mkString(",")),
        "warc_records" -> fetchedPages.length, "warc_bytes" -> shardBytes,
        "crawl_pages_per_s" -> records * passes.length / (ms.sum / 1000.0),
        "pagerank_mass" -> mass)
      val layer = if (!ctx.trace) Map.empty[String, Double] else {
        val n = passes.length.toDouble
        def perPass(spans: String*) = spans.map(Trace.totalMs(_, t0)).sum / 1000.0 / n
        Main.sparkLayer(counts.get) ++ Map(
          "crawl.ingest_s" -> perPass("warc.ingest"),
          "io.warc_mb_per_s" -> shardBytes / 1e6 / math.max(1e-9, perPass("warc.ingest")),
          "curate.gates_s" -> perPass("curate.gates"),
          "crawl.links_s" -> perPass("webgraph.links", "webgraph.hostgraph"),
          "crawl.rank_s" -> perPass("webgraph.rank.construct", "webgraph.rank"),
          "crawl.rank_jobs" -> rankJobs / n,
          "crawl.frontier_s" -> perPass("frontier.rescore.construct", "frontier.select",
            "frontier.updates", "frontier.admit"),
          "crawl.selected_rows" -> last("batch")._1.toDouble,
          "crawl.admitted_rows" -> last("admitted")._1.toDouble)
      }
      Outcome(attempted = passes.length, failed = if (checks.forall(_._2)) 0 else passes.length,
        checks, e2e, layer, info)
    }

    override def close(): Unit = ()
  }
}
