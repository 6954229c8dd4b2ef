package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.providers.{ChatProvider, EmbeddingProvider}
import graft.store.{SearchHit, VectorStore}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def toJava(v: Any): Object = v match {
    case m: Map[_, _] =>
      val o = new java.util.LinkedHashMap[String, Object]()
      m.foreach { case (k, x) => o.put(k.toString, toJava(x)) }
      o
    case s: Seq[_] => s.map(toJava).asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case Some(x) => toJava(x)
    case None => null
    case other => other.asInstanceOf[Object]
  }

  def write(v: Any): String = mapper.writeValueAsString(toJava(v))
  def obj(fields: Seq[(String, Any)]): String =
    write(scala.collection.immutable.ListMap(fields: _*))
  def parse(s: String): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(s)
}

object Stats {
  /** Nearest-rank percentile of `xs` (p in [0,1]); NaN when empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def orZero(x: Double): Double = if (x.isNaN || x.isInfinite) 0.0 else x
}

/** What one run of a workload hands back to [[Main]]. `e2e` holds the
  * end-to-end metrics except set-up time and memory; `layer` the per-layer
  * metrics the workload measures (unset ones report 0); `checks` every
  * output check with its verdict; `info` goes to the run record. */
final case class Outcome(attempted: Long, failed: Long,
                         checks: Seq[(String, Boolean, String)],
                         e2e: Map[String, Double],
                         layer: Map[String, Double],
                         info: Map[String, Any])

/** One prepared instance of a workload: inputs generated, indexes built,
  * standing queries started. */
trait Prepared {
  /** Untimed warm-up, the last part of set-up. */
  def warmUp(): Unit
  def measure(seconds: Int): Outcome
  def close(): Unit
}

trait Workload {
  def prepare(): Prepared
  /** Input properties recorded in the run record. */
  def inputs: Map[String, Any]
}

final case class Ctx(spark: SparkSession, seed: Long, trace: Boolean,
                     work: java.nio.file.Path, cores: Int) {
  def dir(name: String): String = {
    val p = work.resolve(name)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }
}

object Io {
  def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val walked = java.nio.file.Files.walk(p)
      try walked.iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
      finally walked.close()
    }

  /** Number of data files (parquet/csv) under a directory tree. */
  def dataFiles(p: String): Long = {
    val root = java.nio.file.Paths.get(p)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val walked = java.nio.file.Files.walk(root)
      try walked.iterator().asScala.count { f =>
        val n = f.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_") &&
          java.nio.file.Files.isRegularFile(f)
      }.toLong
      finally walked.close()
    }
  }
}

/** Delegating provider wrappers that time each call into the providers
  * layer (traced run only). Counters live in [[Trace]], a JVM-wide
  * object, so the copies Spark deserializes into tasks share them. */
final class TracedEmbedder(inner: EmbeddingProvider) extends EmbeddingProvider {
  override def dim: Int = inner.dim
  override def embedBatch(texts: Seq[String]): Seq[Array[Float]] = {
    val t0 = System.nanoTime()
    val out = Trace.span("providers.embed")(inner.embedBatch(texts))
    Trace.count("providers.embed_calls")
    Trace.count("providers.embed_rows", texts.length.toLong)
    Trace.count("providers.embed_ns", System.nanoTime() - t0)
    out
  }
}

final class TracedChat(inner: ChatProvider) extends ChatProvider {
  override def completeBatch(prompts: Seq[String], systemPrompt: String): Seq[String] = {
    val t0 = System.nanoTime()
    val out = Trace.span("providers.chat")(inner.completeBatch(prompts, systemPrompt))
    Trace.count("providers.chat_calls")
    Trace.count("providers.chat_ns", System.nanoTime() - t0)
    out
  }
}

/** Delegating store wrapper timing every per-row search (traced run). */
final class TracedStore(inner: VectorStore) extends VectorStore {
  override def size: Int = inner.size
  override def defaultNumCandidates: Int = inner.defaultNumCandidates
  override def search(query: Array[Float], k: Int, numCandidates: Int): Seq[SearchHit] = {
    val t0 = System.nanoTime()
    val out = Trace.span("store.search")(inner.search(query, k, numCandidates))
    Trace.count("store.search_calls")
    Trace.count("store.search_ns", System.nanoTime() - t0)
    out
  }
  override def searchDiverse(query: Array[Float], k: Int, lambda: Double,
                             numCandidates: Int): Seq[SearchHit] =
    inner.searchDiverse(query, k, lambda, numCandidates)
}

object Providers {
  def embedder(trace: Boolean, dim: Int): EmbeddingProvider = {
    val m = new graft.providers.MockEmbedder(dim)
    if (trace) new TracedEmbedder(m) else m
  }
  def chat(trace: Boolean): ChatProvider = {
    val m = new graft.providers.MockChat
    if (trace) new TracedChat(m) else m
  }
  def store(trace: Boolean, s: VectorStore): VectorStore =
    if (trace) new TracedStore(s) else s

  /** Layer metrics common to every workload that calls the providers. */
  def layerMetrics: Map[String, Double] = Map(
    "providers.embed_calls" -> Trace.counter("providers.embed_calls").toDouble,
    "providers.embed_rows" -> Trace.counter("providers.embed_rows").toDouble,
    "providers.embed_ms" -> Trace.counter("providers.embed_ns") / 1e6,
    "providers.chat_calls" -> Trace.counter("providers.chat_calls").toDouble,
    "providers.chat_ms" -> Trace.counter("providers.chat_ns") / 1e6,
    "store.search_calls" -> Trace.counter("store.search_calls").toDouble,
    "store.search_ms" -> Trace.counter("store.search_ns") / 1e6)
}

/** Streaming progress, read from each query's own progress log (the
  * ring buffer is widened in [[Main]] so no trigger is dropped). */
object Progress {
  import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

  def of(q: StreamingQuery, from: Int = 0): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.drop(from)

  def dur(p: StreamingQueryProgress, key: String): Double =
    Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)

  def startMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli

  /** Idle gap before each trigger: its start minus the previous
    * trigger's end. */
  def waits(ps: Seq[StreamingQueryProgress]): Seq[Double] =
    ps.sliding(2).collect { case Seq(a, b) =>
      math.max(0.0, (startMs(b) - startMs(a)) - dur(a, "triggerExecution"))
    }.toSeq
}

/** Full-plan timing guard: a timed batch action must run every operator
  * of the query's own optimized plan. Catalyst prunes whatever a bare
  * `count()` does not need; an action that consumes every column (the
  * all-column digest below, or the noop sink) keeps them. Compares the
  * multiset of logical operator names, ignoring projections (the digest's
  * own projection may merge with the query's last one). */
object FullPlan {
  private def ops(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Map[String, Int] =
    p.collect { case n if n.nodeName != "Project" => n.nodeName }
      .groupBy(identity).map { case (k, v) => k -> v.size }

  /** Operators of `query`'s optimized plan that `action`'s lost. */
  def lost(query: DataFrame, action: DataFrame): Map[String, Int] = {
    val q = ops(query.queryExecution.optimizedPlan)
    val a = ops(action.queryExecution.optimizedPlan)
    q.flatMap { case (k, n) =>
      val m = a.getOrElse(k, 0)
      if (m < n) Some(k -> (n - m)) else None
    }
  }

  /** All-column digest: one row (rows, sum of a 64-bit hash over every
    * column, and the list of `key` values for the output checks). Every
    * column feeds the hash, so no column (and no operator producing
    * one) can be pruned; equal outputs give equal digests. */
  def digestFrame(df: DataFrame, key: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // doubles are rounded first: unordered float sums may differ in the
    // last bit between two runs of the same plan
    val cols = df.schema.fields.toSeq.map { f =>
      if (f.dataType == org.apache.spark.sql.types.DoubleType) round(df(f.name), 9) else df(f.name)
    }
    df.agg(count(lit(1)).as("rows"),
      sum(xxhash64(cols: _*).cast("decimal(38,0)")).as("h"),
      collect_list(df(key).cast("string")).as("keys"))
  }

  /** Every digest run since the last [[clear]], kept so the guard can
    * check the plans after the timed passes (the check costs an extra
    * optimizer run per frame, which must not land in a timed pass). */
  private val recent = new java.util.concurrent.ConcurrentLinkedQueue[(String, DataFrame)]()
  def clear(): Unit = recent.clear()

  /** Operators lost by the digests since [[clear]], per digested frame. */
  def violations(): Seq[String] =
    recent.asScala.toSeq.flatMap { case (key, df) =>
      val l = lost(df, digestFrame(df, key))
      if (l.isEmpty) None else Some(s"$key: $l")
    }

  /** Run the digest: (rows, hash, keys). */
  def digest(df: DataFrame, key: String): (Long, String, Seq[String]) = {
    recent.add((key, df))
    val d = digestFrame(df, key)
    val r = d.collect().head
    (r.getLong(0), String.valueOf(r.get(1)), r.getSeq[String](2))
  }
}

/** The JVM's own view of its memory. [[peakMb]] is the end-to-end
  * figure: the peak of the heap in use right after a collection (what
  * the program held, short of the garbage not yet collected) plus the
  * non-heap in use (metaspace, code cache). The run record also gets
  * the pools' peaks, the committed heap and GC totals. Peaks are kept from [[start]] on. */
object Memory {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  private val peakAfterGc = new java.util.concurrent.atomic.AtomicLong(0L)
  private def pools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
  private lazy val heapPools = pools.filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  def start(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(new NotificationListener {
      override def handleNotification(n: Notification, handback: Object): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peakAfterGc.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
        }
    }, null, null)
    case _ =>
  }

  def peakMb: Double = (peakAfterGc.get() +
    ManagementFactory.getMemoryMXBean.getNonHeapMemoryUsage.getUsed) / (1024.0 * 1024.0)

  def figures: Map[String, Any] = {
    val mb = 1024.0 * 1024.0
    val mem = ManagementFactory.getMemoryMXBean
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Map(
      "heap_after_gc_peak_mb" -> peakAfterGc.get() / mb,
      "heap_pool_peak_mb" -> pools.filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / mb,
      "heap_committed_mb" -> mem.getHeapMemoryUsage.getCommitted / mb,
      "nonheap_used_mb" -> mem.getNonHeapMemoryUsage.getUsed / mb,
      "gc_count" -> gcs.map(_.getCollectionCount).sum,
      "gc_ms" -> gcs.map(_.getCollectionTime).sum)
  }
}
