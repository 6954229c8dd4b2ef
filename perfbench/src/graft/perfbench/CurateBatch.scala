package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.pipeline.CurationPipeline

/** curate_batch — training-data curation on a seeded corpus with planted
  * exact-duplicate families, truncated near-duplicates, benchmark leaks
  * and gate failures:
  *
  *   CurationPipeline.annotate (exact dedup + language/quality/token
  *   gates) → Dedup.minhashLshVerified (hot buckets capped) →
  *   Dedup.connectedComponentsAltStar (keep the smallest id per cluster)
  *   → CurationPipeline.decontaminate against a held-out set →
  *   CurationPipeline.qualityLrTrain → packSequences → the packed
  *   manifest with its quality score, run to an all-column digest.
  *
  * Shuffles, text hashing, localCheckpoint loops and the eager jobs some
  * calls run while the frame is built dominate; serve, streaming and the
  * providers do no work here. One pass = build the plan + run it; the
  * run repeats passes for the measured seconds. */
object CurateBatch {
  val Docs = 1000
  val ShareFamilies = 0.05   // base docs with exact copies
  val CopiesPerFamily = 2
  val ShareTruncated = 0.05  // base docs with a truncated near-duplicate
  val ShareLeaks = 0.03
  val SharePlantsEach = 0.01 // per gate: lang, quality, tokens
  val BenchPassages = 50
  val PackCapacity = 2048
  val MaxBucket = 64
  val LrSteps = 2
  val Cfg = CurationPipeline.Config()
  val Sources = Seq("web", "wiki", "books")

  /** Planted ground truth of one corpus. */
  final case class Truth(families: Seq[Seq[Long]], truncated: Seq[(Long, Long)],
                         leaks: Seq[Long], plants: Seq[(Long, String)], clean: Long)

  def corpus(seed: Long): (Seq[(Long, String, String)], Seq[(Long, String)], Truth) = {
    val g = new Gen(seed * 7L + 13)
    val bench = (0 until BenchPassages).map(i => (100000L + i, g.text(220)))
    val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
    var id = 0L
    def add(src: String, text: String): Long = { id += 1; docs += ((id, src, text)); id }
    def src(): String = Sources(g.int(Sources.length))
    val fams = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    val truncs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val leaks = scala.collection.mutable.ArrayBuffer.empty[Long]
    val plants = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    var clean = 0L
    val nFam = (Docs * ShareFamilies).toInt
    val nTrunc = (Docs * ShareTruncated).toInt
    val nLeak = (Docs * ShareLeaks).toInt
    val nPlant = (Docs * SharePlantsEach).toInt
    val nClean = Docs - nFam * (1 + CopiesPerFamily) - nTrunc * 2 - nLeak - 3 * nPlant
    (0 until nClean).foreach { _ => add(src(), g.text(300 + g.int(1200))); clean += 1 }
    (0 until nFam).foreach { _ =>
      val s = src(); val t = g.text(300 + g.int(1200))
      fams += (0 to CopiesPerFamily).map(_ => add(s, t))
    }
    (0 until nTrunc).foreach { _ =>
      val s = src(); val t = g.text(600 + g.int(900))
      val words = t.split(' ')
      val a = add(s, t)
      truncs += ((a, add(s, words.take(words.length - math.max(2, words.length / 25)).mkString(" "))))
    }
    (0 until nLeak).foreach { _ =>
      val b = bench(g.int(bench.length))._2.split(' ')
      val at = g.int(b.length - 25)
      leaks += add(src(), g.text(300) + " " + b.slice(at, at + 25).mkString(" ") + " " + g.text(300))
    }
    (0 until nPlant).foreach { _ =>
      plants += (add(src(), Seq.fill(40)(s"le ${g.word()} la ${g.word()} et les ${g.word()}.").mkString(" ")) -> "lang")
      plants += (add(src(), "the " + Seq.fill(30)(s"${g.word()}!!,;").mkString(" ")) -> "quality")
      plants += (add(src(), s"The ${g.word()} of the ${g.word()} is ${g.word()}.") -> "tokens")
    }
    // interleave so that plants do not cluster by id
    val order = g.shuffle(docs.indices)
    val rows = order.map(docs)
    (rows.toSeq, bench, Truth(fams.toSeq, truncs.toSeq, leaks.toSeq, plants.toSeq, clean))
  }
}

final class CurateBatch(ctx: Ctx) extends Workload {
  import CurateBatch._
  private val spark = ctx.spark
  import spark.implicits._

  override def inputs: Map[String, Any] = Map(
    "docs" -> Docs, "share_exact_family_bases" -> ShareFamilies,
    "copies_per_family" -> CopiesPerFamily, "share_truncated_near_dups" -> ShareTruncated,
    "share_benchmark_leaks" -> ShareLeaks, "share_gate_plants_each" -> SharePlantsEach,
    "benchmark_passages" -> BenchPassages, "pack_capacity" -> PackCapacity,
    "lsh_max_bucket" -> MaxBucket, "quality_lr_steps" -> LrSteps, "doc_chars" -> "300-1500")

  override def prepare(): Prepared = new Batch

  private final class Batch extends Prepared {
    private val (rows, benchRows, truth) = corpus(ctx.seed)
    private val docsPath = ctx.dir("curate") + "/docs"
    private val benchPath = ctx.dir("curate") + "/bench"
    rows.toDF("doc_id", "source", "text").repartition(ctx.cores).write.parquet(docsPath)
    benchRows.toDF("doc_id", "text").coalesce(1).write.parquet(benchPath)

    /** One pass, built stage by stage. `staged` (traced run) materializes
      * each stage before the next so its time is its own. */
    private def build(staged: Boolean): (DataFrame, Map[String, DataFrame]) = {
      def stage(name: String, df: => DataFrame, always: Boolean = false): DataFrame =
        if (!staged && !always) df else Trace.span(name)(df.localCheckpoint(eager = true))
      val docs = spark.read.parquet(docsPath)
      val bench = spark.read.parquet(benchPath)
      // the gated corpus and the clean set feed several calls each (LSH,
      // the components join, decontamination; LR training, packing), so
      // they are materialized once, as a curation job would
      val annotated = stage("curate.gates", CurationPipeline.annotate(docs, Cfg), always = true)
      val gated = annotated.filter(col("verdict") === "keep").drop("verdict")
      val pairs = stage("dedup.neardup", Dedup.minhashLshVerified(gated, "text", "doc_id",
        shingleN = 3, bands = 8, rowsPerBand = 3, threshold = 0.6, maxBucketSize = MaxBucket))
      val comps = Trace.span("dedup.components.construct")(Dedup.connectedComponentsAltStar(pairs))
      val kept = gated.join(comps, gated("doc_id") === comps("id"), "left")
        .filter(col("comp").isNull || col("doc_id") === col("comp")).drop("id", "comp")
      val flagged = stage("curate.decontam", CurationPipeline.decontaminate(kept, bench, "text", "doc_id", 8))
      val clean = stage("curate.clean", kept.join(flagged, Seq("doc_id"), "left_anti"), always = true)
      val scored = Trace.span("curate.quality_lr.construct")(
        CurationPipeline.qualityLrTrain(clean, "doc_id", "text", col("source") === "wiki", steps = LrSteps)._2)
      val packed = stage("curate.pack", CurationPipeline.packSequences(clean, PackCapacity, "source", "text", "doc_id"))
      (packed.join(scored, Seq("doc_id")), Map("pairs" -> pairs, "gated" -> gated, "annotated" -> annotated))
    }

    /** No warm-up: a batch job runs once per process, so its users pay
      * the cold pass (class loading, JIT, code generation) every time. */
    override def warmUp(): Unit = ()

    override def measure(seconds: Int): Outcome = {
      val counts = if (ctx.trace) Some(new SparkCounts(spark)) else None
      val passes = scala.collection.mutable.ArrayBuffer.empty[(Double, (Long, String, Seq[String]))]
      var extra: Map[String, DataFrame] = Map.empty
      val t0 = System.nanoTime()
      while (passes.isEmpty || System.nanoTime() - t0 < seconds * 1000000000L) {
        FullPlan.clear()
        val p0 = System.nanoTime()
        val d = Trace.span("curate.pass") {
          val (out, ex) = build(staged = ctx.trace)
          extra = ex
          Trace.span("curate.digest")(FullPlan.digest(out, "doc_id"))
        }
        passes += (((System.nanoTime() - p0) / 1e6, d))
      }
      counts.foreach(_.close())
      val lost = FullPlan.violations()

      val (_, (rowsOut, _, keyStrs)) = passes.last
      val keys = keyStrs.map(_.toLong).toSet
      val plantIds = truth.plants.map(_._1)
      val verdicts = extra("annotated").filter(col("doc_id").isin(plantIds: _*))
        .select(col("doc_id"), col("verdict")).as[(Long, String)].collect().toMap
      val famOk = truth.families.count(f => f.count(keys) == 1 && keys(f.min))
      val truncOk = truth.truncated.count { case (a, b) => keys(a) && !keys(b) }
      val leaksOut = truth.leaks.count(keys)
      val plantOk = truth.plants.count { case (id, why) => !keys(id) && verdicts.get(id).contains(why) }
      val expected = truth.clean + truth.families.length + truth.truncated.length
      val digests = passes.map(_._2._2).distinct
      val checks = Seq(
        ("the timed action keeps every operator of the query plan", lost.isEmpty, lost.toString),
        ("each exact family keeps one member", famOk == truth.families.length,
          s"$famOk/${truth.families.length}"),
        ("truncated near-duplicates are dropped, originals kept", truncOk == truth.truncated.length,
          s"$truncOk/${truth.truncated.length}"),
        ("benchmark leaks are dropped", leaksOut == 0, s"$leaksOut of ${truth.leaks.length} kept"),
        ("gate plants are dropped with their reason", plantOk == truth.plants.length,
          s"$plantOk/${truth.plants.length}"),
        ("output is non-empty and at least 95% of the clean docs", rowsOut >= 0.95 * expected,
          s"$rowsOut rows, $expected expected"),
        ("every pass gives the same digest", digests.length == 1, s"${digests.length} digests"))

      val ms = passes.map(_._1).toSeq
      val e2e = Map(
        "latency_p50_ms" -> Stats.median(ms),
        "latency_p75_ms" -> Stats.pct(ms, 0.75),
        "items_per_s" -> Docs * passes.length / (ms.sum / 1000.0))
      val info = Map[String, Any]("passes" -> passes.length, "pass_ms" -> ms, "rows_out" -> rowsOut,
        "digests" -> digests,
        "curate_docs_per_s" -> Docs * passes.length / (ms.sum / 1000.0))
      val layer = if (!ctx.trace) Map.empty[String, Double] else {
        val n = passes.length.toDouble
        def perPass(span: String) = Trace.totalMs(span, t0) / 1000.0 / n
        val cand = Dedup.minhashLshPairs(extra("gated"), "text", "doc_id", 3, 8, 3, MaxBucket).count()
        val verified = extra("pairs").count()
        Main.sparkLayer(counts.get) ++ Map(
          "curate.gates_s" -> perPass("curate.gates"),
          "curate.neardup_s" -> perPass("dedup.neardup"),
          "curate.components_s" -> perPass("dedup.components.construct"),
          "curate.decontam_s" -> (perPass("curate.decontam") + perPass("curate.clean")),
          "curate.quality_lr_s" -> perPass("curate.quality_lr.construct"),
          "curate.pack_s" -> perPass("curate.pack"),
          "dedup.candidate_pairs" -> cand.toDouble,
          "dedup.verified_pairs" -> verified.toDouble,
          "dedup.verify_yield" -> verified.toDouble / math.max(1L, cand))
      }
      Outcome(attempted = passes.length, failed = if (checks.forall(_._2)) 0 else passes.length,
        checks, e2e, layer, info)
    }

    override def close(): Unit = ()
  }
}
