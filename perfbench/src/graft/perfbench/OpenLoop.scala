package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.locks.LockSupport

/** One request of an open-loop schedule and what happened to it.
  * `dueNs` is when it was scheduled, `dispatchNs` when the generator
  * handed it to the client (late = dispatch − due), `doneNs` when the
  * response arrived. */
final case class Sent(i: Int, dueNs: Long, dispatchNs: Long, doneNs: Long,
                      status: Int, body: String) {
  def lateMs: Double = (dispatchNs - dueNs) / 1e6
  def latencyMs: Double = (doneNs - dueNs) / 1e6
}

/** Open-loop HTTP load generator: every request is sent at its
  * scheduled time whether or not earlier ones have been answered, so a
  * stall in the server shows in the latency of every request due during
  * it (no coordinated omission). Sends are asynchronous; the client's
  * callbacks run on `threads` threads. */
final class OpenLoop(threads: Int) extends AutoCloseable {
  private val pool = Executors.newFixedThreadPool(threads)
  val client: HttpClient = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .executor(pool).build()

  def post(url: String, json: String): HttpRequest =
    HttpRequest.newBuilder(URI.create(url))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(json)).build()

  /** Send `reqs(i)` at `startNs + offsetsNs(i)`; wait up to `waitS` for
    * the last response. Requests without a response report status -1.
    * With `inFlight`, a request past that many unanswered ones waits for
    * one to finish (a client with that many connections); its latency
    * still runs from when it was due. */
  def run(startNs: Long, offsetsNs: Seq[Long], reqs: Seq[HttpRequest],
          waitS: Int = 30, inFlight: Int = Int.MaxValue): Seq[Sent] = {
    val n = reqs.length
    val out = new Array[Sent](n)
    val done = new CountDownLatch(n)
    val slots = new java.util.concurrent.Semaphore(inFlight)
    var i = 0
    while (i < n) {
      val due = startNs + offsetsNs(i)
      var now = System.nanoTime()
      while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      val idx = i
      slots.acquire()
      val dispatch = System.nanoTime()
      client.sendAsync(reqs(i), HttpResponse.BodyHandlers.ofString())
        .whenComplete { (resp: HttpResponse[String], err: Throwable) =>
          val t = System.nanoTime()
          slots.release()
          out(idx) =
            if (err != null) Sent(idx, due, dispatch, t, -1, String.valueOf(err))
            else Sent(idx, due, dispatch, t, resp.statusCode(), resp.body())
          done.countDown()
        }
      i += 1
    }
    done.await(waitS.toLong, TimeUnit.SECONDS)
    (0 until n).map(k => Option(out(k)).getOrElse(
      Sent(k, startNs + offsetsNs(k), startNs + offsetsNs(k), Long.MaxValue, -1, "")))
  }

  override def close(): Unit = {
    pool.shutdownNow()
    pool.awaitTermination(5, TimeUnit.SECONDS): Unit
  }
}

/** SSE reader on `/events`: records every `data:` frame with its
  * receipt time, keyed by the event's `message` field. A plain socket
  * with its own chunked-transfer decoding, so that close() ends the
  * blocked read at once and a frame split across chunks still parses. */
final class SseClient(port: Int) extends AutoCloseable {
  val events = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]]()
  private val socket = new java.net.Socket("127.0.0.1", port)
  @volatile var connected = false
  private val thread = new Thread(() => {
    try {
      val out = socket.getOutputStream
      out.write(s"GET /events HTTP/1.1\r\nHost: 127.0.0.1:$port\r\nAccept: text/event-stream\r\n\r\n"
        .getBytes("UTF-8"))
      out.flush()
      val in = new java.io.DataInputStream(new java.io.BufferedInputStream(socket.getInputStream))
      def line(): String = {
        val sb = new StringBuilder
        var c = in.read()
        while (c != '\n' && c != -1) { if (c != '\r') sb.append(c.toChar); c = in.read() }
        if (c == -1) throw new java.io.EOFException() else sb.toString
      }
      require(line().startsWith("HTTP/1.1 200"), "SSE stream refused")
      while (line().nonEmpty) () // headers
      connected = true
      val pending = new java.io.ByteArrayOutputStream()
      while (true) {
        val size = Integer.parseInt(line().trim, 16)
        if (size == 0) throw new java.io.EOFException()
        val chunk = new Array[Byte](size)
        in.readFully(chunk)
        line() // CRLF after the chunk
        pending.write(chunk)
        val bytes = pending.toByteArray
        // frames end with a blank line; cut at the last one, in bytes, so
        // that a multi-byte character split across chunks stays whole
        var end = bytes.length - 2
        while (end >= 0 && !(bytes(end) == '\n' && bytes(end + 1) == '\n')) end -= 1
        if (end >= 0) {
          val t = System.nanoTime()
          new String(bytes, 0, end, "UTF-8").split("\n\n").foreach { frame =>
            if (frame.startsWith("data: ")) {
              val json = frame.substring(6)
              val msg = Json.parse(json).path("message").asText("")
              events.computeIfAbsent(msg, _ => new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]())
                .add((t, json))
            }
          }
          pending.reset()
          pending.write(bytes, end + 2, bytes.length - end - 2)
        }
      }
    } catch { case _: java.io.IOException => () }
  }, "perfbench-sse")
  thread.setDaemon(true)
  thread.start()

  def first(msg: String): Option[(Long, String)] =
    Option(events.get(msg)).flatMap(q => Option(q.peek()))
  def count(msg: String): Int = Option(events.get(msg)).map(_.size).getOrElse(0)

  override def close(): Unit = {
    socket.close()
    thread.join(2000)
  }
}
