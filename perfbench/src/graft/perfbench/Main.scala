package graft.perfbench

import java.nio.file.{Files, Paths}

import graft.core.Sessions

/** Benchmark entry point (launched by perfbench/run.py):
  *
  *   --workload W --seed N --seconds S --trace 0|1 --work DIR
  *   --launch-ms T --load-before L
  *   --selftest                 the benchmark's own tests ([[SelfTest]])
  *
  * Creates the session, prepares the workload once, warms it up,
  * measures for S seconds, runs the output checks and prints one JSON
  * line: {correct, attempted, failed, e2e, layer, record}. run.py turns
  * it into the result line. Set-up time runs from the process launch
  * (T, wall-clock ms, taken by run.py just before it starts the JVM) to
  * the first timed operation. */
object Main {
  /** Layers whose self time the traced run reports (span-name prefixes). */
  val SelfLayers = Seq("coach", "serve", "stream", "stage", "providers", "store",
    "functions", "curate", "dedup", "warc", "webgraph", "frontier")

  def sparkLayer(c: SparkCounts): Map[String, Double] = Map(
    "spark.jobs" -> c.jobs.sum().toDouble,
    "spark.tasks" -> c.tasks.sum().toDouble,
    "spark.shuffle_write_bytes" -> c.shuffleWrite.sum().toDouble,
    "spark.spill_bytes" -> c.spill.sum().toDouble,
    "spark.peak_exec_mem_bytes" -> c.peakExecMem.get().toDouble,
    "phase.plan_s" -> c.planNs.sum() / 1e9,
    "phase.execute_s" -> c.execNs.sum() / 1e9)

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(args: Array[String]): Unit = {
    // threads of the HTTP server and client must never keep a failed
    // run's JVM alive: every exit is explicit
    val rc = try {
      if (args.contains("--selftest")) SelfTest.run() else run(args)
      0
    }
    catch { case t: Throwable => t.printStackTrace(); 1 }
    System.out.flush()
    sys.exit(rc)
  }

  private def run(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toInt).getOrElse(10)
    val trace = arg(args, "--trace").contains("1")
    val workRoot = Paths.get(arg(args, "--work").getOrElse(".perfbench-work")).toAbsolutePath
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val launchMs = arg(args, "--launch-ms").map(_.toLong).getOrElse(jvmStartMs)
    val jvmS = (jvmStartMs - launchMs) / 1000.0
    Memory.start()
    val nproc = Runtime.getRuntime.availableProcessors()
    // Spark gets half the cores: the other half runs the driver's own
    // threads, the JIT and GC threads, the HTTP server and the load
    // generator. On a 4-vCPU VM with local[nproc] they competed for the
    // cores, and coach_live's latency spread 0.25-0.28 (IQR/median over
    // five seeds); with local[nproc/2] it spread 0.04-0.10
    val cores = math.max(1, nproc / 2)

    val spark = Sessions.local(cores.toString, "perfbench")
    // the progress ring buffer holds 100 triggers by default; the
    // per-stage figures need every trigger of the run
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    if (trace) Trace.enable()
    val work = workRoot.resolve(s"run-${ProcessHandle.current().pid()}")
    Files.createDirectories(work)
    val ctx = Ctx(spark, seed, trace, work, cores)
    val wl: Workload = workload match {
      case "coach_live" => new CoachLive(ctx)
      case "coach_backlog" => new CoachBacklog(ctx)
      case "curate_batch" => new CurateBatch(ctx)
      case "crawl_cycle" => new CrawlCycle(ctx)
      case "curate_crawl" => new CurateCrawl(ctx)
      case w => sys.error(s"unknown workload $w")
    }

    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    var jitSetupMs, jitMeasureMs = 0L
    val t0 = System.nanoTime()
    val prepared = wl.prepare()
    val prepS = (System.nanoTime() - t0) / 1e9
    val out =
      try {
        val tw = System.nanoTime()
        prepared.warmUp()
        val warmS = (System.nanoTime() - tw) / 1e9
        val setupS = (System.currentTimeMillis() - launchMs) / 1000.0
        // set-up and warm-up are not part of the per-layer figures
        Trace.reset()
        jitSetupMs = jit.getTotalCompilationTime
        val o = prepared.measure(seconds)
        jitMeasureMs = jit.getTotalCompilationTime - jitSetupMs
        (o, setupS, warmS)
      } finally prepared.close()
    val (o, setupS, warmS) = out
    System.err.println(f"[perfbench] set-up $setupS%.2f s (JVM start ${jvmS}%.2f, " +
      f"session $sessionS%.2f, prepare $prepS%.2f, warm-up $warmS%.2f)")

    val e2e = o.e2e + ("setup_s" -> setupS) + ("peak_mem_mb" -> Memory.peakMb)
    val self = Trace.selfMsByLayer
    val layer = if (!trace) Map.empty[String, Double] else
      o.layer ++ SelfLayers.map(l => s"self.${l}_ms" -> self.getOrElse(l, 0.0)) ++ Map(
        "trace.spans" -> Trace.allSpans.length.toDouble,
        "phase.construct_s" -> Trace.allSpans.filter(_.name.endsWith(".construct"))
          .map(s => (s.endNs - s.startNs) / 1e9).sum)

    val records = workRoot.resolve("records")
    Files.createDirectories(records)
    if (trace) Trace.writeSpans(records.resolve(s"$workload-seed$seed.spans.jsonl"))
    // tracing overhead: this traced run's end-to-end figures minus those
    // of the untraced run of the same workload and seed, when one exists
    val untraced = records.resolve(s"$workload-seed$seed-trace0.json")
    val overhead: Map[String, Double] =
      if (!trace || !Files.exists(untraced)) Map.empty
      else {
        val u = Json.parse(new String(Files.readAllBytes(untraced), "UTF-8")).path("e2e")
        e2e.collect { case (k, v) if u.has(k) => k -> (v - u.path(k).asDouble()) }
      }
    val checksOk = o.checks.forall(_._2)
    val recPath = records.resolve(s"$workload-seed$seed-trace${if (trace) 1 else 0}.json")
    val record = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> nproc, "spark_cores" -> spark.sparkContext.defaultParallelism,
      "spark_master" -> spark.sparkContext.master,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "jvm_flags" -> sys.props.getOrElse("perfbench.jvmFlags", ""),
      "java_version" -> sys.props.getOrElse("java.version", ""),
      "spark_version" -> spark.version,
      "load_avg_before" -> arg(args, "--load-before").map(_.toDouble).getOrElse(-1.0),
      "setup" -> Map("setup_s" -> setupS, "jvm_start_s" -> jvmS, "session_s" -> sessionS,
        "prepare_s" -> prepS, "warmup_s" -> warmS),
      "memory" -> Memory.figures,
      // JIT compiler time (summed over the compiler threads) in set-up and
      // while measuring: compiler threads compete with the workload for
      // the cores, and a short-lived JVM is still compiling when it measures
      "jit_ms_setup" -> jitSetupMs, "jit_ms_measure" -> jitMeasureMs,
      "inputs" -> wl.inputs,
      "attempted" -> o.attempted, "failed" -> o.failed,
      "failed_ratio" -> o.failed.toDouble / math.max(1L, o.attempted),
      "checks" -> o.checks.map { case (n, ok, d) => Map("check" -> n, "ok" -> ok, "detail" -> d) },
      "e2e" -> e2e, "layer" -> layer, "info" -> o.info,
      "tracing_overhead" -> overhead)
    Files.write(recPath, Json.write(record).getBytes("UTF-8"))
    o.checks.foreach { case (n, ok, d) =>
      System.err.println(s"[perfbench] check ${if (ok) "ok  " else "FAIL"} $n ($d)")
    }
    if (overhead.nonEmpty) System.err.println(s"[perfbench] tracing overhead: $overhead")
    System.err.println(s"[perfbench] record: $recPath")

    spark.stop()
    Io.deleteRecursively(work)
    println(Json.obj(Seq(
      "correct" -> checksOk, "attempted" -> o.attempted, "failed" -> o.failed,
      "e2e" -> e2e.map { case (k, v) => k -> Stats.orZero(v) },
      "layer" -> layer.map { case (k, v) => k -> Stats.orZero(v) },
      "record" -> recPath.toString)))
  }
}
