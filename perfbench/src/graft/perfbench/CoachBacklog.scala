package graft.perfbench

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.core.Tables
import graft.io.{AvroCodec, LocalTopicStore}
import graft.pipeline.{CoachingPipeline, TopicParityPipeline}
import graft.providers.ModelRegistry
import graft.store.{BroadcastBruteForceStore, IvfFlatIndexStore, VectorStores}
import graft.streaming.StreamingOps

/** coach_backlog — the reference's real topology: the four standing
  * queries of TopicParityPipeline.streamStagesIndexed (filter → embed →
  * retrieve → generate, Avro records on LocalTopicStore topics between
  * them) drain a conversation backlog, about a quarter of it
  * salesperson lines. Retrieval goes through an UNPINNED
  * IvfFlatIndexStore (the KB is forced past the broadcast budget), and
  * meanwhile a knowledge stream (chunk → embed →
  * StreamingOps.indexUpsertSink) appends document waves to the same
  * index on a fixed schedule — the store is read and written at once.
  *
  * Throughput is unique prospect messages on the response topic over
  * (last tail append − first publish); a message's latency runs from the
  * first publish to its tail append. A knowledge wave's freshness (its
  * publish → its upsert batch's commit) is a per-layer figure: with a
  * handful of waves per run its median moved by ±15% between seeds. */
object CoachBacklog {
  val MsgsPerRunSecond = 150
  /** The backlog is published as this many files, one per trigger. */
  val Files = 2
  val ShareSalesperson = 0.25
  val WaveDocs = 1
  val WaveEveryMs = 3200L
  val Dim = 1536
  val TriggerFiles = "1"
  val Planted = 4
  val PlantAfter = 2
}

final class CoachBacklog(ctx: Ctx) extends Workload {
  import CoachBacklog._
  private val spark = ctx.spark
  import spark.implicits._

  override def inputs: Map[String, Any] = Map(
    "mode" -> "backlog drain", "backlog_msgs_per_run_second" -> MsgsPerRunSecond,
    "backlog_files" -> Files, "max_files_per_trigger" -> TriggerFiles.toInt,
    "share_salesperson" -> ShareSalesperson, "kb_docs" -> CoachLive.KbDocs,
    "kb_doc_chars" -> CoachLive.KbDocChars, "embed_dim" -> Dim,
    "kb_vs_broadcast_budget" -> "forced past (budget 1 byte)",
    "store" -> "IvfFlatIndexStore (unpinned, 4 cells)",
    "knowledge_wave_docs" -> WaveDocs, "knowledge_wave_every_ms" -> WaveEveryMs,
    "planted_messages" -> Planted, "planted_after_waves" -> PlantAfter)

  override def prepare(): Prepared = new Backlog

  private val kbSchema = "document_id STRING, document_name STRING, document_category STRING, document_text STRING"

  private final class Backlog extends Prepared {
    ModelRegistry.registerReferenceModels()
    private val embedder = Providers.embedder(ctx.trace, Dim)
    private val chat = Providers.chat(ctx.trace)
    private val pipeline = new CoachingPipeline(embedder, chat,
      new BroadcastBruteForceStore(Array.empty))
    private val kb = CoachLive.kbRows(ctx.seed).toDF("document_id", "document_name",
      "document_category", "document_text")
    private val idxPath = ctx.dir("backlog-index")
    private val topicDir = ctx.dir("backlog-topics")
    private val knowDir = ctx.dir("backlog-knowledge")
    private val ckpt = ctx.dir("backlog-ckpt")
    private val t0Chunk = System.nanoTime()
    val kbChunks: Long = Trace.span("functions.chunk")(pipeline.chunkKnowledge(kb).count())
    val chunkMs: Double = (System.nanoTime() - t0Chunk) / 1e6
    val index: IvfFlatIndexStore = Trace.span("store.build") {
      VectorStores.adaptive(pipeline.indexKnowledge(kb), idxPath, broadcastBytes = 1L)
        .asInstanceOf[IvfFlatIndexStore]
    }
    private val topics = new LocalTopicStore(topicDir)
    val parity = new TopicParityPipeline(pipeline, topics)
    val stages: Seq[StreamingQuery] = parity.streamStagesIndexed(spark, s"$ckpt/chain", index,
      Map("maxFilesPerTrigger" -> TriggerFiles))
    val knowledge: StreamingQuery = StreamingOps.indexUpsertSink(
        pipeline.indexKnowledge(spark.readStream.schema(kbSchema)
          .option("maxFilesPerTrigger", "1").parquet(knowDir)), idxPath)
      .queryName("perfbench-knowledge")
      .option("checkpointLocation", s"$ckpt/knowledge").start()
    private val g = new Gen(ctx.seed * 37L + 3)

    private def publishWave(docs: Seq[(String, String, String, String)]): Unit =
      docs.toDF("document_id", "document_name", "document_category", "document_text")
        .coalesce(1).write.mode("append").parquet(knowDir)

    private def drain(): Unit = stages.foreach(_.processAllAvailable())

    override def warmUp(): Unit = {
      parity.publishConversation((0 until 8).map(i =>
        (s"Warm-up message $i about the ${g.words(3)}?",
          if (i % 4 == 0) "salesperson" else "prospect")).toDF("message", "speaker").coalesce(1))
      // The chain drains before the first upsert. The index store loads
      // its cell statistics on its first search, and an upsert rewrites
      // them in place (SimilaritySearch.bumpCellstats overwrites the
      // cellstats directory), so a first search racing an upsert fails
      // with FILE_NOT_EXIST. Later searches reuse the loaded statistics.
      drain()
      publishWave(Seq(("kb/warm/doc.md", "Warm", "warm", g.text(CoachLive.KbDocChars))))
      knowledge.processAllAvailable()
    }

    override def measure(seconds: Int): Outcome = {
      val gm = new Gen(ctx.seed * 101L + 7)
      val m = MsgsPerRunSecond * seconds
      val backlog = (0 until m).map { i =>
        (s"B$i of seed ${ctx.seed}: how does the ${gm.words(2)} of the ${gm.words(2)} help the ${gm.word()}?",
          if (gm.double() < ShareSalesperson) "salesperson" else "prospect")
      }
      val prospects = backlog.filter(_._2 == "prospect").map(_._1)
      val nWaves = math.max(2, (seconds * 1000L / WaveEveryMs).toInt)
      val waves = (0 until nWaves).map(w => (0 until WaveDocs).map(d =>
        (s"kb/wave$w/doc$d.md", s"Wave $w doc $d", "wave", gm.text(CoachLive.KbDocChars))))
      val progress0 = stages.map(_.recentProgress.length)
      val kProgress0 = knowledge.recentProgress.length
      val counts = if (ctx.trace) Some(new SparkCounts(spark)) else None
      val backlogDf = backlog.toDF("message", "speaker").repartition(Files)

      // planted: messages quoting chunks of the first PlantAfter waves,
      // published once those waves have committed, must retrieve that
      // chunk at rank 1 from the index the stream appended to
      val waveChunks = pipeline.chunkKnowledge(waves.take(PlantAfter).flatten.toDF("document_id",
        "document_name", "document_category", "document_text")).as[(String, String)].collect()
      val planted = gm.shuffle(waveChunks.toSeq).take(Planted)
      val plantedDf = planted.map(c => (c._2, "prospect")).toDF("message", "speaker").coalesce(1)

      val t0Ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      // knowledge waves on a fixed schedule, concurrently with the drain
      val pubMs = new Array[Long](nWaves)
      val lateMs = new Array[Double](nWaves)
      def committedWaves = knowledge.recentProgress.drop(kProgress0).count(_.numInputRows > 0)
      val waver = new Thread(() => waves.indices.foreach { w =>
        val due = t0 + w * WaveEveryMs * 1000000L
        var now = System.nanoTime()
        while (now < due) { java.util.concurrent.locks.LockSupport.parkNanos(due - now); now = System.nanoTime() }
        lateMs(w) = (now - due) / 1e6
        publishWave(waves(w))
        pubMs(w) = System.currentTimeMillis()
      }, "perfbench-knowledge-waves")
      val planter = new Thread(() => {
        while (committedWaves < PlantAfter) Thread.sleep(20)
        parity.publishConversation(plantedDf)
      }, "perfbench-planted")
      waver.start()
      planter.start()
      Trace.span("stage.publish")(parity.publishConversation(backlogDf))
      drain()
      val drainedNs = System.nanoTime()
      waver.join()
      knowledge.processAllAvailable()
      planter.join(60000)
      drain() // the planted messages, if the backlog drained before they landed
      counts.foreach(_.close())

      val genPs = Progress.of(stages.last, progress0.last).filter(_.numInputRows > 0)
      val lastAppendMs = genPs.map(p => Progress.startMs(p) + Progress.dur(p, "triggerExecution").toLong)
        .foldLeft(t0Ms)(math.max)
      val kPs = Progress.of(knowledge, kProgress0).filter(_.numInputRows > 0)
      val commitMs = kPs.map(p => Progress.startMs(p) + Progress.dur(p, "triggerExecution").toLong)
      val freshMs = waves.indices.flatMap(w => commitMs.lift(w).map(c => (c - pubMs(w)).toDouble))
      val wavesMissing = nWaves - freshMs.length

      // the tail topic with each record's append time (the broker-assigned
      // rowtime): a message's latency is its append minus the first publish
      val dec = AvroCodec.decodeUdf(Tables.responseSchema, s"${TopicParityPipeline.TopicResponse}-value")
      val tail = topics.read(spark, TopicParityPipeline.TopicResponse)
        .select(col("rowtime"), dec(col("value")).as("r"))
        .select(col("r.message"), col("r.rag_results_string"), col("rowtime"))
        .as[(String, String, java.sql.Timestamp)].collect()
      val seen = tail.groupBy(_._1).map { case (k, v) => k -> v.length }
      val appendMs = tail.map(t => t._1 -> t._3.getTime).toMap
      val latMs = prospects.flatMap(appendMs.get).map(a => (a - t0Ms).toDouble)
      // Messages reach the tail a micro-batch at a time, so a plain
      // percentile jumps between batch boundaries from run to run. Read it
      // off the piecewise-linear arrival curve instead: (t0, 0) joined to
      // each append time with the count of messages appended by then.
      def arrivalPct(p: Double): Double = {
        val steps = latMs.groupBy(identity).toSeq.sortBy(_._1)
          .scanLeft((0.0, 0)) { case ((_, n), (t, ms)) => (t, n + ms.length) }
        val target = p * latMs.length
        steps.sliding(2).collectFirst { case Seq((t1, n1), (t2, n2)) if n2 >= target =>
          t1 + (t2 - t1) * (target - n1) / (n2 - n1)
        }.getOrElse(Double.NaN)
      }
      val missing = prospects.count(p => !seen.contains(p))
      val replays = prospects.map(p => seen.getOrElse(p, 0)).map(c => math.max(0, c - 1)).sum
      val salesOnTail = backlog.count(b => b._2 == "salesperson" && seen.contains(b._1))
      val top1 = tail.map { case (msg, rag, _) =>
        val n = Json.parse(rag)
        msg -> (n.path(0).path("document_id").asText(""), n.path(0).path("chunks").asText(""))
      }.toMap
      val plantedOk = planted.count { case (doc, chunk) => top1.get(chunk).contains((doc, chunk)) }
      val checks = Seq(
        ("each unique prospect message reaches the tail exactly once",
          missing == 0 && replays == 0, s"$missing missing, $replays replays of ${prospects.length}"),
        ("no salesperson line reaches the tail", salesOnTail == 0, s"$salesOnTail on the tail"),
        ("every knowledge wave commits to the index", wavesMissing == 0,
          s"${freshMs.length}/$nWaves committed"),
        ("messages quoting an ingested wave retrieve its chunk at rank 1",
          plantedOk == planted.length && planted.nonEmpty, s"$plantedOk/${planted.length}"))

      val drainS = math.max(1L, lastAppendMs - t0Ms) / 1000.0
      val e2e = Map(
        "latency_p50_ms" -> arrivalPct(0.5),
        "latency_p75_ms" -> arrivalPct(0.75),
        "items_per_s" -> prospects.length / drainS)
      val info = Map[String, Any](
        "backlog_msgs" -> m, "prospect_msgs" -> prospects.length, "waves" -> nWaves,
        "backlog_msgs_per_s" -> prospects.length / drainS, "drain_s" -> drainS,
        "kb_fresh_p50_ms" -> Stats.median(freshMs), "kb_fresh_ms" -> freshMs,
        "msg_latency_p50_ms" -> Stats.median(latMs),
        "replays" -> replays, "kb_chunks" -> kbChunks,
        "gen_late_ms_max" -> lateMs.max)
      val layer = if (!ctx.trace) Map.empty[String, Double] else {
        Trace.record("coach.backlog", t0, drainedNs)
        layerMetrics(progress0, kProgress0, lateMs.max) ++ Main.sparkLayer(counts.get) ++
          Map("kb.chunks" -> kbChunks.toDouble, "kb.chunk_ms" -> chunkMs,
            "store.kb_fresh_ms_p50" -> Stats.median(freshMs))
      }
      Outcome(attempted = prospects.length + nWaves, failed = missing + wavesMissing,
        checks, e2e, layer, info)
    }

    /** Per-stage batch figures and input lag, from the progress logs and
      * the topics' files (traced run only). */
    private def layerMetrics(progress0: Seq[Int], kProgress0: Int, lateMax: Double): Map[String, Double] = {
      val wall2nano = System.nanoTime() - System.currentTimeMillis() * 1000000L
      def spanOf(name: String, p: StreamingQueryProgress): Unit = {
        val s = Progress.startMs(p)
        Trace.record(name, s * 1000000L + wall2nano,
          (s + Progress.dur(p, "triggerExecution").toLong) * 1000000L + wall2nano)
      }
      val inTopics = Seq(TopicParityPipeline.TopicConversation, TopicParityPipeline.TopicProspect,
        TopicParityPipeline.TopicEmbeddings, TopicParityPipeline.TopicRagResults)
      val perStage = stages.zip(progress0).zip(inTopics).flatMap { case ((q, from), topic) =>
        val name = q.name.stripPrefix("graft-stage-")
        val busy = Progress.of(q, from).filter(_.numInputRows > 0)
        busy.foreach(spanOf(s"stage.$name", _))
        // lag at each batch start: rows already on the input topic minus
        // rows this stage had consumed
        val files = spark.read.parquet(s"$topicDir/$topic")
          .groupBy(input_file_name().as("f")).count().as[(String, Long)].collect()
          .map { case (f, n) => (new java.io.File(new java.net.URI(f)).lastModified(), n) }
        var consumed = 0L
        val lags = busy.map { p =>
          val t = Progress.startMs(p)
          val lag = files.filter(_._1 <= t).map(_._2).sum - consumed
          consumed += p.numInputRows
          lag.toDouble
        }
        Seq(s"stage.$name.batch_ms_p50" -> Stats.median(busy.map(Progress.dur(_, "triggerExecution"))),
          s"stage.$name.rows_per_batch" -> busy.map(_.numInputRows.toDouble).sum / math.max(1, busy.length),
          // the batch's own work against the trigger's planning, offset
          // and commit bookkeeping
          s"stage.$name.addbatch_share" -> busy.map(Progress.dur(_, "addBatch")).sum /
            math.max(1.0, busy.map(Progress.dur(_, "triggerExecution")).sum),
          s"stage.$name.lag_rows_max" -> (if (lags.isEmpty) 0.0 else lags.max))
      }.toMap
      val kBusy = Progress.of(knowledge, kProgress0).filter(_.numInputRows > 0)
      kBusy.foreach(spanOf("store.upsert", _))
      val retrieveBusy = Progress.of(stages(2), progress0(2)).filter(_.numInputRows > 0)
      perStage ++ Providers.layerMetrics ++ Map(
        "io.topic_files" -> Io.dataFiles(topicDir).toDouble,
        "store.retrieve_batch_ms_p50" -> Stats.median(retrieveBusy.map(Progress.dur(_, "addBatch"))),
        "store.upsert_batch_ms_p50" -> Stats.median(kBusy.map(Progress.dur(_, "addBatch"))),
        "store.index_files" -> Io.dataFiles(s"$idxPath/payload").toDouble,
        "store.index_rows" -> spark.read.parquet(s"$idxPath/payload").count().toDouble,
        "gen.late_ms_max" -> lateMax)
    }

    override def close(): Unit = {
      (stages :+ knowledge).foreach(q => scala.util.Try(q.stop()))
    }
  }
}
