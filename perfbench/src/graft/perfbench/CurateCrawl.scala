package graft.perfbench

/** curate_crawl — both batch pipelines in one run: each pass is a full
  * curation pass over [[CurateBatch]]'s corpus followed by one crawl
  * cycle over [[CrawlCycle]]'s web, each on its own seeded inputs and
  * with its own output checks.
  *
  * Run as two workloads, each paid a process start and a session for a
  * single cold pass of 12-15 s; one run of both halves the set-up paid
  * per pass and times twice the work, which keeps a run's figure steadier
  * on a machine whose speed wanders over tens of seconds.
  *
  * latency_p50_ms / latency_p75_ms are the pass wall times (curation +
  * crawl cycle); items_per_s is (corpus docs + WARC response records)
  * per pass over the pass wall time. The per-layer figures are those of
  * the two halves: span totals per pass, Spark counts over the run. */
final class CurateCrawl(ctx: Ctx) extends Workload {
  private val curate = new CurateBatch(ctx)
  private val crawl = new CrawlCycle(ctx)

  override def inputs: Map[String, Any] = Map("curate" -> curate.inputs, "crawl" -> crawl.inputs)

  override def prepare(): Prepared = new Prepared {
    private val c = curate.prepare()
    private val w = crawl.prepare()

    /** No warm-up, as for each half: a batch job pays its cold pass. */
    override def warmUp(): Unit = { c.warmUp(); w.warmUp() }

    override def measure(seconds: Int): Outcome = {
      val passes = scala.collection.mutable.ArrayBuffer.empty[(Double, Outcome, Outcome)]
      val t0 = System.nanoTime()
      while (passes.isEmpty || System.nanoTime() - t0 < seconds * 1000000000L) {
        val p0 = System.nanoTime()
        val oc = c.measure(0) // a measure of 0 s is exactly one pass
        val ow = w.measure(0)
        passes += (((System.nanoTime() - p0) / 1e6, oc, ow))
      }
      val outs = passes.toSeq.flatMap(p => Seq(p._2, p._3))
      def digests(o: Outcome) = o.info("digests").asInstanceOf[scala.collection.Seq[String]].toList
      val distinct = passes.map(p => (digests(p._2), digests(p._3))).distinct
      // a check holds when it held in every pass
      val names = (passes.head._2.checks ++ passes.head._3.checks).map(_._1).distinct
      val checks = names.map { name =>
        val all = outs.flatMap(_.checks.filter(_._1 == name))
        (name, all.forall(_._2), all.last._3)
      } :+ (("every pass gives the same digests", distinct.length == 1, s"${distinct.length} digests"))

      val ms = passes.map(_._1).toSeq
      val items = CurateBatch.Docs + passes.head._3.info("warc_records").asInstanceOf[Int]
      val e2e = Map(
        "latency_p50_ms" -> Stats.median(ms),
        "latency_p75_ms" -> Stats.pct(ms, 0.75),
        "items_per_s" -> items * passes.length / (ms.sum / 1000.0))
      val info = Map[String, Any]("passes" -> passes.length, "pass_ms" -> ms,
        "items_per_pass" -> items, "curate" -> passes.last._2.info, "crawl" -> passes.last._3.info,
        "curate_docs_per_s" -> Stats.median(passes.map(_._2.info("curate_docs_per_s").asInstanceOf[Double]).toSeq),
        "crawl_pages_per_s" -> Stats.median(passes.map(_._3.info("crawl_pages_per_s").asInstanceOf[Double]).toSeq))
      val layer = if (!ctx.trace) Map.empty[String, Double] else {
        // Spark counts add up over the run (the peak is the largest);
        // the other figures are per pass: a pass's two halves add up,
        // and the passes are averaged
        val counted = (k: String) => k.startsWith("spark.") || k.startsWith("phase.")
        val perPass = passes.toSeq.map { case (_, oc, ow) =>
          (oc.layer.keySet ++ ow.layer.keySet).map { k =>
            val (a, b) = (oc.layer.getOrElse(k, 0.0), ow.layer.getOrElse(k, 0.0))
            k -> (if (k == "spark.peak_exec_mem_bytes") math.max(a, b) else a + b)
          }.toMap
        }
        perPass.head.keySet.map { k =>
          val vs = perPass.map(_.getOrElse(k, 0.0))
          k -> (if (k == "spark.peak_exec_mem_bytes") vs.max else if (counted(k)) vs.sum else vs.sum / vs.length)
        }.toMap
      }
      Outcome(attempted = outs.map(_.attempted).sum, failed = outs.map(_.failed).sum,
        checks, e2e, layer, info)
    }

    override def close(): Unit = { c.close(); w.close() }
  }
}
