package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a layer call timed from the benchmark side. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long,
                      endNs: Long, msg: String, thread: String) {
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span and counter recorder for the traced run. Disabled
  * (every call a pass-through) unless [[enable]] ran, so the timed
  * runs carry no tracing cost. Spans nest per thread: a span opened
  * while another is open on the same thread records it as its parent.
  * Executor tasks run in this JVM (local mode), so wrappers that run
  * inside tasks record into the same recorder. */
object Trace {
  @volatile private var on = false
  private val nextId = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def enable(): Unit = on = true
  def enabled: Boolean = on

  /** An id for a span recorded later with [[record]], so that spans
    * recorded before it can name it as their parent. */
  def newId(): Long = if (on) nextId.incrementAndGet() else 0L

  /** Drop the spans and counters recorded so far (start of the timed
    * phase: set-up and warm-up are not part of the per-layer figures). */
  def reset(): Unit = { spans.clear(); counters.clear() }

  def span[T](name: String, msg: String = "")(f: => T): T =
    if (!on) f
    else {
      val id = nextId.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        spans.add(Span(id, parent, name, t0, t1, msg, Thread.currentThread().getName))
      }
    }

  /** A span whose bounds were observed elsewhere (e.g. a request's
    * scheduled time → its SSE receipt). */
  def record(name: String, startNs: Long, endNs: Long, msg: String = "",
             parent: Long = 0L, id0: Long = 0L): Long =
    if (!on) 0L
    else {
      val id = if (id0 != 0L) id0 else nextId.incrementAndGet()
      spans.add(Span(id, parent, name, startNs, endNs, msg, Thread.currentThread().getName))
      id
    }

  def count(name: String, n: Long = 1L): Unit =
    if (on) counters.computeIfAbsent(name, _ => new LongAdder).add(n)

  def counter(name: String): Long =
    Option(counters.get(name)).map(_.sum()).getOrElse(0L)

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Total ms of spans with this exact name that started at `fromNs` or later. */
  def totalMs(name: String, fromNs: Long = Long.MinValue): Double =
    allSpans.filter(s => s.name == name && s.startNs >= fromNs).map(s => (s.endNs - s.startNs) / 1e6).sum

  /** Self time per layer: each span's duration minus the part of its
    * interval that its child spans cover. */
  def selfMsByLayer: Map[String, Double] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter(iv => iv._2 > iv._1))
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  private def union(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    ivs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try allSpans.sortBy(_.startNs).foreach { s =>
      w.write(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "msg" -> s.msg,
        "thread" -> s.thread)))
      w.newLine()
    } finally w.close()
  }
}

/** Spark-wide counts from the public listeners, attached for the traced
  * run only: jobs and tasks (SparkListener), shuffle/spill/peak-memory
  * task metrics, and per-action plan vs execute time
  * (QueryExecutionListener over the planning tracker's phases). */
final class SparkCounts(spark: SparkSession) {
  val jobs = new LongAdder
  val tasks = new LongAdder
  val shuffleWrite = new LongAdder
  val spill = new LongAdder
  val peakExecMem = new AtomicLong(0L)
  val planNs = new LongAdder
  val execNs = new LongAdder

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      val m = e.taskMetrics
      if (m != null) {
        shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        peakExecMem.accumulateAndGet(m.peakExecutionMemory, math.max)
      }
    }
  }
  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      planNs.add(qe.tracker.phases.values.map(_.durationMs).sum * 1000000L)
      execNs.add(durationNs)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qel)

  /** Stop counting and wait for queued listener events to arrive. */
  def close(): Unit = {
    Thread.sleep(300)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qel)
  }
}
