package servebench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

/** One completed request: its index in the request list, class, latency,
  * and whether it failed (an unexpected status, an exception or timeout, or
  * a model mismatch).
  */
final case class Sample(idx: Int, cls: String, latencyNs: Long, failed: Boolean)

final case class Phase(samples: Seq[Sample], elapsedS: Double) {
  def attempted: Int = samples.size
  def failed: Int = samples.count(_.failed)
  def latenciesMs(cls: String): Seq[Double] =
    samples.filter(s => s.cls == cls && !s.failed).map(_.latencyNs / 1e6)
}

/** Closed-loop HTTP clients over loopback: one thread and one connection per
  * client, each sending its next request only after the previous answer.
  * Clients draw requests in order from one shared list.
  */
final class ClosedLoop(port: Int, checker: Checker) {
  private val base = s"http://127.0.0.1:$port"
  private val next = new AtomicInteger(0)
  @volatile private var reported = 0

  /** Requests consumed so far from the list. */
  def consumed: Int = next.get

  /** Runs `clients` closed loops for `seconds`. On the client thread,
    * `before` runs ahead of request i and `after` once its response is
    * checked, with the latency and whether it was right.
    */
  def run(reqs: Vector[Req], clients: Int, seconds: Double,
          before: Int => Unit = _ => (),
          after: (Int, Req, Long, Boolean) => Unit = (_, _, _, _) => ()): Phase = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = mutable.ArrayBuffer.empty[Sample]
    val t0 = System.nanoTime()
    @volatile var crash: Option[Throwable] = None
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => try {
        val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
          .connectTimeout(Duration.ofSeconds(10)).build()
        var go = true
        while (go && System.nanoTime() < deadline) {
          val i = next.getAndIncrement()
          if (i >= reqs.size) go = false
          else {
            val r = reqs(i)
            val b = HttpRequest.newBuilder(URI.create(base + r.target))
              .timeout(Duration.ofSeconds(120))
              .header("Authorization", s"bearer ${r.op.user.token}")
            r.body.foreach(_ => b.header("Content-Type", "application/json"))
            b.method(r.method, r.body.fold(HttpRequest.BodyPublishers.noBody())(
              HttpRequest.BodyPublishers.ofString))
            Trace.request = i.toLong
            before(i)
            val s = System.nanoTime()
            val (problem, latNs) =
              try {
                val resp = http.send(b.build(), HttpResponse.BodyHandlers.ofString())
                val lat = System.nanoTime() - s
                (checker.check(r, resp.statusCode, resp.body), lat)
              } catch { case e: Exception => (Some(s"request error: $e"), System.nanoTime() - s) }
            problem.foreach(report(r, _))
            out.synchronized { out += Sample(i, r.cls, latNs, problem.isDefined) }
            after(i, r, latNs, problem.isEmpty)
          }
        }
      } catch { case e: Throwable => crash = Some(e) }, s"servebench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    crash.foreach(e => throw e)
    Phase(out.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  private def report(r: Req, problem: String): Unit = synchronized {
    reported += 1
    if (reported <= 20) System.err.println(s"[servebench] FAILED ${r.method} ${r.target}: $problem")
  }
}

