package graft.perfbench

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.io.CsvCache
import graft.pipeline.CoachingPipeline
import graft.providers.ModelRegistry
import graft.serve.{CoachingBroadcaster, CoachingServer, CsvCacheBackend}
import graft.store.BroadcastBruteForceStore
import graft.streaming.StreamingOps

/** coach_live — the paper's live path, open loop:
  * POST /api/send-message → ingress → StreamingOps.dedupWithTtl →
  * fused CoachingPipeline.coach → CoachingServer.pushSink → SSE /events.
  *
  * Inputs: a 27-document knowledge base of the reference's size
  * (~154 KB, split into 200-char chunks with 20 overlap, embedded at
  * 1536 dims, held in a BroadcastBruteForceStore) and a fixed schedule
  * of messages at a low rate: unique prospect questions (a share of
  * them quote a KB chunk verbatim), cached questions answered inline,
  * and re-sent duplicates the dedup drops. A trigger carries only a few
  * messages, so the per-trigger fixed cost and the serve layer dominate.
  *
  * Latency runs from a message's scheduled send time to its SSE event.
  * The schedule, not the path, sets those events' rate; so after it a
  * burst of [[Burst]] unique messages is posted at once, [[Bursts]]
  * times in a row, and throughput is the drain rate of the bursts
  * together: their events / the sum of (last burst event − burst start).
  * A burst drains in a handful of triggers of ~0.3 s fixed cost each,
  * so a burst's drain time moves by about one trigger with the phase at
  * which it starts; bursts of hundreds of messages keep that a small
  * share of the drain time. */
object CoachLive {
  val Rate = 12.0
  val KbDocs = 27
  val KbDocChars = 5700
  val Dim = 1536
  val ShareCached = 0.15
  val ShareDup = 0.15
  val SharePlanted = 0.2
  val CacheRows = 20
  val EventTimeoutMs = 10000L
  val Burst = 512
  val Bursts = 2
  /** How long a burst may take to drain before its missing events count
    * as failed. */
  val BurstTimeoutMs = 30000L
  /** Concurrent POSTs of a burst, under the server's accept backlog.
    * With 2 in flight a burst drained at 41 msg/s against 160 with 32:
    * the POSTs, not the stream, set the rate. */
  val BurstInFlight = 32
  /** Seconds of the live schedule sent in the warm-up. */
  val WarmUpS = 4
  val Categories = Seq("pricing", "competitors", "implementation", "security", "roi")

  /** The reference-sized knowledge base for `seed`. */
  def kbRows(seed: Long): Seq[(String, String, String, String)] = {
    val g = new Gen(seed * 7919L + 1)
    (0 until KbDocs).map { i =>
      val cat = Categories(i % Categories.length)
      (s"kb/$cat/doc$i.md", s"Doc $i", cat, g.text(KbDocChars))
    }
  }

  /** Coaching-response contract of one SSE event: (suggested_response,
    * source document ids, source texts, reasoning). The generated JSON
    * is fenced and may carry a trailing comma, as LLM output does. */
  def parseContract(coachingResponse: String): (String, Seq[String], Seq[String], String) = {
    val body = coachingResponse.replaceAll("(?s)^\\s*```(json)?", "")
      .replaceAll("(?s)```\\s*$", "").replaceAll(",(\\s*[}\\]])", "$1")
    val n = Json.parse(body)
    val src = (0 until n.path("sources").size()).map(n.path("sources").get)
    (n.path("suggested_response").asText(""), src.map(_.path("document_id").asText("")),
      src.map(_.path("full_text").asText("")), n.path("reasoning").asText(""))
  }
}

final class CoachLive(ctx: Ctx) extends Workload {
  import CoachLive._
  private val spark = ctx.spark
  import spark.implicits._

  override def inputs: Map[String, Any] = Map(
    "mode" -> "open loop", "rate_msg_per_s" -> Rate,
    "kb_docs" -> KbDocs, "kb_doc_chars" -> KbDocChars, "embed_dim" -> Dim,
    "chunk_size" -> 200, "chunk_overlap" -> 20,
    "share_cached" -> ShareCached, "share_duplicate" -> ShareDup,
    "share_unique" -> (1 - ShareCached - ShareDup),
    "share_unique_quoting_kb" -> SharePlanted,
    "cache_rows" -> CacheRows, "store" -> "BroadcastBruteForceStore",
    "burst_size" -> Burst, "bursts" -> Bursts, "burst_in_flight" -> BurstInFlight)

  override def prepare(): Prepared = new Live

  private final class Live extends Prepared {
    ModelRegistry.registerReferenceModels()
    private val kb = kbRows(ctx.seed).toDF("document_id", "document_name",
      "document_category", "document_text")
    private val embedder = Providers.embedder(ctx.trace, Dim)
    private val chat = Providers.chat(ctx.trace)
    private val boot = new CoachingPipeline(embedder, chat,
      new BroadcastBruteForceStore(Array.empty))
    private val t0Chunk = System.nanoTime()
    val chunks: Array[(String, String)] = Trace.span("functions.chunk") {
      boot.chunkKnowledge(kb).as[(String, String)].collect()
    }
    val chunkMs: Double = (System.nanoTime() - t0Chunk) / 1e6
    private val store = Providers.store(ctx.trace, Trace.span("store.build") {
      BroadcastBruteForceStore.fromDataFrame(boot.indexKnowledge(kb))
    })

    private val g = new Gen(ctx.seed * 31L + 5)
    val cacheRows: Seq[(String, String)] = (0 until CacheRows).map(i =>
      (s"Cached question $i about the ${g.words(3)}?", s"Cached answer $i: ${g.words(8)}."))
    private val cacheDir = ctx.dir("coach-cache")
    CsvCache.append(cacheRows.map { case (q, a) => (q, a, "cached reasoning", "", "") }
      .toDF(CsvCache.columns: _*), cacheDir)
    private val cache = new CsvCacheBackend(spark, cacheDir)
    cache.list() // load the in-memory image now, not on the first request

    private implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    private val input = MemoryStream[(String, String, Timestamp)]
    private val pipeline = new CoachingPipeline(embedder, chat, store)
    private val coached = pipeline.coach(StreamingOps.dedupWithTtl(
      input.toDF().toDF("message", "speaker", "ts"), "message", "ts"))
    val broadcaster = new CoachingBroadcaster()
    val query = CoachingServer.pushSink(coached, broadcaster)
      .queryName("perfbench-coach")
      .option("checkpointLocation", ctx.dir("coach-ckpt")).start()
    private val server = new CoachingServer(broadcaster,
      // the server calls the hook from concurrent request threads, and
      // MemoryStream.addData encodes rows with one shared serializer
      // outside its lock: unserialized, a burst of concurrent POSTs
      // corrupted rows (one message's row overwritten by another's, and
      // the copy then dropped by the dedup)
      ingress = Some((m: String) => Trace.span("stream.ingress", m) {
        input.synchronized(input.addData((m, "prospect", new Timestamp(System.currentTimeMillis()))))
      }: Unit),
      cache = Some(cache))
    private val port = server.start()
    private val url = s"http://127.0.0.1:$port/api/send-message"
    private val sse = new SseClient(port)
    private val loop = new OpenLoop(ctx.cores)
    // in-process subscriber: push time = its receipt → the SSE receipt
    private val inproc = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    @volatile private var inprocOn = true
    private val inprocThread: Option[Thread] = if (!ctx.trace) None else {
      val (_, q) = broadcaster.subscribe()
      val t = new Thread(() => {
        while (inprocOn) {
          val e = q.poll(50, java.util.concurrent.TimeUnit.MILLISECONDS)
          if (e != null) inproc.putIfAbsent(Json.parse(e).path("message").asText(""), System.nanoTime())
        }
      }, "perfbench-inproc")
      t.setDaemon(true); t.start(); Some(t)
    }

    private def body(m: String) = Json.write(Map("message" -> m))

    override def warmUp(): Unit = {
      val deadline = System.nanoTime() + 60e9.toLong
      while (!sse.connected || broadcaster.clientCount < (if (ctx.trace) 2 else 1)) {
        require(System.nanoTime() < deadline, "SSE client never connected")
        Thread.sleep(10)
      }
      // one message alone first: when the query's first micro-batch holds
      // two distinct messages, dropDuplicatesWithinWatermark has been seen
      // to drop one of them as a duplicate (numDroppedDuplicateRows = 1)
      def send(ms: Seq[String]): Unit = {
        val res = loop.run(System.nanoTime(), ms.indices.map(i => (i * 1e9 / Rate).toLong),
          ms.map(m => loop.post(url, body(m))))
        require(res.forall(_.status == 200), s"warm-up POST failed: ${res.filter(_.status != 200)}")
        while (ms.exists(m => m.startsWith("Warm-up") && sse.count(m) == 0)) {
          require(System.nanoTime() < deadline, s"warm-up events missing for " +
            s"${ms.filter(m => m.startsWith("Warm-up") && sse.count(m) == 0)}")
          Thread.sleep(5)
        }
      }
      // then the live schedule for a few seconds, so the JIT sees the steady path
      val warm = (0 until (WarmUpS * Rate).toInt).map(i =>
        if (i % 5 == 4) cacheRows(i % cacheRows.length)._1
        else s"Warm-up question $i about the ${g.words(4)}?")
      send(warm.take(1))
      send(warm.drop(1))
    }

    private sealed trait Kind
    private case object Unique extends Kind
    private case object Cached extends Kind
    private case object Dup extends Kind

    override def measure(seconds: Int): Outcome = {
      val gs = new Gen(ctx.seed * 131L + 11)
      val n = math.max(10, (Rate * seconds).round.toInt)
      val nCached = (n * ShareCached).round.toInt
      val nDup = (n * ShareDup).round.toInt
      val kinds0 = gs.shuffle(Seq.fill(n - nCached - nDup)(Unique: Kind) ++
        Seq.fill(nCached)(Cached: Kind) ++ Seq.fill(nDup)(Dup: Kind))
      // a duplicate re-sends an earlier unique message: lead with one
      val kinds = (Unique: Kind) +: kinds0.diff(Seq(Unique))
      val plantPool = gs.shuffle(chunks.toSeq).iterator
      val sent = scala.collection.mutable.ArrayBuffer.empty[String]
      // (text, kind, expected rank-1 chunk for a KB quote, cached answer)
      val plan = kinds.zipWithIndex.map { case (k, i) => k match {
        case Unique =>
          val (text, planted) =
            if (gs.double() < SharePlanted && plantPool.hasNext) {
              val c = plantPool.next(); (c._2, Some(c))
            } else (s"Q$i of seed ${ctx.seed}: how is the ${gs.words(2)} of the ${gs.words(2)} and the ${gs.word()}?", None)
          sent += text
          (text, k, planted, None)
        case Cached =>
          val (q, a) = cacheRows(gs.int(cacheRows.length))
          (q, k, None, Some(a))
        case Dup => (sent(gs.int(sent.length)), k, None, None)
      }}
      val uniques = plan.filter(_._2 == Unique).map(_._1)
      val offsets = plan.indices.map(i => (i * 1e9 / Rate).toLong)
      val progress0 = query.recentProgress.length
      val counts = if (ctx.trace) Some(new SparkCounts(spark)) else None
      val msgIds = plan.map(_ => Trace.newId())
      val start = System.nanoTime() + 50000000L
      val res = loop.run(start, offsets, plan.map(p => loop.post(url, body(p._1))))
      // wait for every unique message's event, up to the event timeout
      val deadline = start + offsets.last + EventTimeoutMs * 1000000L
      while (uniques.exists(sse.count(_) == 0) && System.nanoTime() < deadline) Thread.sleep(5)
      val progressB = query.recentProgress.length
      // then bursts of unique messages posted at once, one after another:
      // the schedule above sets its events' rate, a burst's drain rate is
      // the path's own
      val bursts = (0 until Bursts).map(b => (0 until Burst).map(i =>
        s"Burst $b.$i of seed ${ctx.seed}: why does the ${gs.words(2)} need the ${gs.word()}?"))
      val drained = bursts.map { ms =>
        val bStart = System.nanoTime()
        // all due at once, at most BurstInFlight unanswered: one
        // connection per request (512) overflowed the server's accept
        // backlog (50) and its idle-connection cap, and a run lost a
        // message that way
        val bRes = loop.run(bStart, ms.map(_ => 0L), ms.map(m => loop.post(url, body(m))),
          inFlight = BurstInFlight)
        val bDeadline = bStart + BurstTimeoutMs * 1000000L
        while (ms.exists(sse.count(_) == 0) && System.nanoTime() < bDeadline) Thread.sleep(5)
        val got = ms.flatMap(sse.first(_).map(_._1))
        (bRes, got.length, if (got.isEmpty) Double.NaN else (got.max - bStart) / 1e9)
      }
      val burst = bursts.flatten
      query.processAllAvailable() // any duplicate that slipped through is published now
      Thread.sleep(200)
      counts.foreach(_.close())

      // ---- outcome
      val dueOf = plan.indices.filter(plan(_)._2 == Unique).map(i => plan(i)._1 -> (start + offsets(i))).toMap
      val latMs = uniques.map(m => sse.first(m).map(e => (e._1 - dueOf(m)) / 1e6)
        .getOrElse(EventTimeoutMs.toDouble))
      val missing = (uniques ++ burst).count(sse.count(_) == 0)
      val badPost = (res ++ drained.flatMap(_._1)).count(_.status != 200)
      val recv = uniques.flatMap(sse.first(_).map(_._1))
      val burstRates = drained.map(d => d._2 / d._3)

      val contract = (uniques ++ burst).flatMap(sse.first(_)).map { case (_, json) =>
        val (sr, ids, _, reason) = parseContract(Json.parse(json).path("coaching_response").asText(""))
        sr.nonEmpty && ids.length == 3 && ids.forall(_.nonEmpty) && reason.nonEmpty
      }
      val planted = plan.collect { case (m, _, Some((doc, chunk)), _) => (m, doc, chunk) }
      val plantedOk = planted.count { case (m, doc, chunk) =>
        sse.first(m).exists { case (_, json) =>
          val (_, ids, texts, _) = parseContract(Json.parse(json).path("coaching_response").asText(""))
          ids.headOption.contains(doc) && texts.headOption.contains(chunk)
        }
      }
      val cachedOk = plan.indices.filter(plan(_)._2 == Cached).count { i =>
        val n = scala.util.Try(Json.parse(res(i).body)).toOption
        res(i).status == 200 && n.exists(j => j.path("status").asText() == "cached" &&
          j.path("coaching_response").asText() == plan(i)._4.get)
      }
      val nCachedSent = plan.count(_._2 == Cached)
      val repeated = (uniques ++ burst).filter(sse.count(_) > 1)
      val strays = sse.events.keySet().asScala
        .filterNot(m => dueOf.contains(m) || burst.contains(m) || m.startsWith("Warm-up question"))
      val checks = Seq(
        ("every event meets the coaching contract", contract.forall(identity) && contract.nonEmpty,
          s"${contract.count(identity)}/${contract.length}"),
        ("KB quotes retrieve their chunk at rank 1", plantedOk == planted.length && planted.nonEmpty,
          s"$plantedOk/${planted.length}"),
        ("cached questions answered inline with the cached text", cachedOk == nCachedSent,
          s"$cachedOk/$nCachedSent"),
        ("duplicates produce no second event", repeated.isEmpty, s"${repeated.length} repeated"),
        ("no event for a message that was not sent", strays.isEmpty, s"${strays.size} strays"))

      val e2e = Map(
        "latency_p50_ms" -> Stats.median(latMs),
        "latency_p75_ms" -> Stats.pct(latMs, 0.75),
        "items_per_s" -> drained.map(_._2).sum / drained.map(_._3).sum)
      val info = Map[String, Any](
        "messages" -> n, "unique" -> uniques.length, "cached" -> nCachedSent,
        "duplicates" -> plan.count(_._2 == Dup), "kb_quotes" -> planted.length,
        "kb_chunks" -> chunks.length, "missing_events" -> missing, "bad_posts" -> badPost,
        "missing_first" -> (uniques ++ burst).filter(sse.count(_) == 0).take(5),
        "bad_post_first" -> (res ++ drained.flatMap(_._1)).filter(_.status != 200).take(3)
          .map(r => s"${r.status}: ${r.body.take(200)}"),
        "coach_p50_ms" -> Stats.median(latMs), "coach_p95_ms" -> Stats.pct(latMs, 0.95),
        "latency_samples" -> latMs.length, "gen_late_ms_max" -> res.map(_.lateMs).max,
        "burst" -> Burst, "burst_rates" -> burstRates,
        "burst_triggers" -> Progress.of(query, progressB).count(_.numInputRows > 0))

      val layer = if (!ctx.trace) Map.empty[String, Double] else {
        plan.indices.foreach { i =>
          val m = plan(i)._1
          val due = start + offsets(i)
          Trace.record("serve.post", res(i).dispatchNs, res(i).doneNs, m, parent = msgIds(i))
          if (plan(i)._2 == Unique) sse.first(m).foreach { case (t, _) =>
            Option(inproc.get(m)).foreach(p => Trace.record("serve.push", p, t, m, parent = msgIds(i)))
            Trace.record("coach.message", due, t, m, id0 = msgIds(i))
          }
        }
        // the open-loop phase's triggers; the burst's follow them
        val ps = Progress.of(query, progress0).take(progressB - progress0)
        val busy = ps.filter(_.numInputRows > 0)
        busy.foreach { p =>
          val s = Progress.startMs(p)
          // progress timestamps are wall-clock; map them onto nanoTime
          val off = System.nanoTime() - System.currentTimeMillis() * 1000000L
          Trace.record("stream.trigger", s * 1000000L + off,
            (s + Progress.dur(p, "triggerExecution").toLong) * 1000000L + off)
        }
        val push = uniques.flatMap(m => for { p <- Option(inproc.get(m)); e <- sse.first(m) } yield (e._1 - p) / 1e6)
        val post = res.map(r => (r.doneNs - r.dispatchNs) / 1e6)
        val trig = busy.map(Progress.dur(_, "triggerExecution"))
        val rowsIn = busy.map(_.numInputRows.toDouble).sum
        val state = busy.flatMap(_.stateOperators.toSeq)
        val c = counts.get
        Providers.layerMetrics ++ Map(
          "serve.post_ms_p50" -> Stats.median(post),
          "serve.post_ms_p95" -> Stats.pct(post, 0.95),
          "serve.push_ms_p50" -> Stats.median(push),
          "serve.cache_hit_ratio" -> nCachedSent.toDouble / n,
          "serve.dropped_events" -> broadcaster.dropped.toDouble,
          "stream.trigger_ms_p50" -> Stats.median(trig),
          "stream.trigger_ms_p95" -> Stats.pct(trig, 0.95),
          "stream.planning_ms_p50" -> Stats.median(busy.map(Progress.dur(_, "queryPlanning"))),
          "stream.addbatch_ms_p50" -> Stats.median(busy.map(Progress.dur(_, "addBatch"))),
          "stream.commit_ms_p50" -> Stats.median(busy.map(Progress.dur(_, "commitOffsets"))),
          "stream.wait_ms_p50" -> Stats.median(Progress.waits(ps)),
          "stream.rows_per_batch" -> rowsIn / math.max(1, busy.length),
          "stream.state_rows" -> state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
          "stream.state_commit_ms_p50" -> Stats.median(state.map(_.commitTimeMs.toDouble)),
          "stream.dedup_drop_ratio" -> (1.0 - recv.length / math.max(1.0, (n - nCachedSent).toDouble)),
          "kb.chunks" -> chunks.length.toDouble,
          "kb.chunk_ms" -> chunkMs,
          "gen.late_ms_max" -> res.map(_.lateMs).max) ++ Main.sparkLayer(c)
      }
      Outcome(attempted = n + burst.length, failed = badPost + missing, checks, e2e, layer, info)
    }

    override def close(): Unit = {
      inprocOn = false
      inprocThread.foreach(_.join(1000))
      query.stop()
      sse.close()
      server.stop()
      loop.close()
    }
  }
}
