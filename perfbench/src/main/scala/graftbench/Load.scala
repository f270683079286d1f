package graftbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Outcome of one request: latency from its scheduled send time, HTTP
  * status (0 when no response came back), failure reason if any, and
  * the response body when the caller keeps it.
  */
final case class Outcome(req: Req, latencyMs: Double, status: Int,
    failure: Option[String], lateMs: Double, body: String = "")

/** Load generator against one API server: one process, at most
  * `clients` threads, each holding one blocking connection at a time.
  */
final class Load(port: Int, clients: Int) {

  def send(r: Req): (Int, String) = {
    val c = URI.create(s"http://127.0.0.1:$port/api/${r.route}").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setConnectTimeout(10000)
    c.setReadTimeout(120000)
    c.setRequestProperty("Content-Type", "application/json")
    val out = c.getOutputStream
    try out.write(r.body.getBytes(UTF_8)) finally out.close()
    val status = c.getResponseCode
    val in = if (status >= 400) c.getErrorStream else c.getInputStream
    val body = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
    (status, body)
  }

  private def timed(r: Req, scheduledNs: Long, lateMs: Double, keep: Boolean): Outcome =
    try {
      val (status, body) = send(r)
      val ms = (System.nanoTime() - scheduledNs) / 1e6
      val fail = if (status / 100 == 2) None else Some(s"HTTP $status")
      Outcome(r, ms, status, fail, lateMs, if (keep) body else "")
    } catch {
      case e: Exception =>
        Outcome(r, (System.nanoTime() - scheduledNs) / 1e6, 0,
          Some(e.getClass.getSimpleName), lateMs)
    }

  /** Open loop: each request is handed to the client pool at its
    * scheduled time whether or not earlier ones have finished, and its
    * latency counts from that scheduled time, so queueing behind slow
    * requests is measured rather than hidden. `until` stops scheduling
    * early (the ingest reader ends with the ingest).
    */
  def openLoop(reqs: Seq[Req], until: () => Boolean = () => false): Seq[Outcome] = {
    val pool = Executors.newFixedThreadPool(clients)
    val done = new ConcurrentLinkedQueue[Outcome]()
    val t0 = System.nanoTime()
    try {
      val it = reqs.iterator
      var stop = false
      while (it.hasNext && !stop) {
        val r = it.next()
        val at = t0 + (r.atMs * 1e6).toLong
        var now = System.nanoTime()
        while (now < at && !until()) {
          val waitMs = (at - now) / 1000000L
          if (waitMs > 2) Thread.sleep(math.min(waitMs - 1, 50)) else Thread.onSpinWait()
          now = System.nanoTime()
        }
        if (until()) stop = true
        else {
          val late = (now - at) / 1e6
          pool.execute(() => done.add(timed(r, at, late, keep = false)))
        }
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.MINUTES)
    }
    done.asScala.toSeq.sortBy(_.req.id)
  }

  /** Closed loop: `clients` threads each send the next of `reqs` as
    * soon as their previous one answers, until all are answered.
    * Returns the outcomes and the elapsed seconds.
    */
  def closedLoop(reqs: IndexedSeq[Req]): (Seq[Outcome], Double) = {
    val next = new AtomicInteger(0)
    val done = new ConcurrentLinkedQueue[Outcome]()
    val t0 = System.nanoTime()
    val threads = (0 until clients).map { _ =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < reqs.size) {
          done.add(timed(reqs(i), System.nanoTime(), 0.0, keep = false))
          i = next.getAndIncrement()
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    (done.asScala.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  /** Sequential replay keeping response bodies (for output checks). */
  def replay(reqs: Seq[Req]): Seq[Outcome] =
    reqs.map(r => timed(r, System.nanoTime(), 0.0, keep = true))
}

object Stats {
  /** Nearest-rank percentile; failures count as slower than any sample. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) Double.NaN
    else s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }

  /** The highest of the standard percentiles that still has at least 10
    * samples beyond it: (percentile, samples beyond, value).
    */
  def tail(xs: Seq[Double]): (Double, Int, Double) = {
    val n = xs.size
    val p = Seq(99.9, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0, 50.0)
      .find(p => n - math.ceil(p / 100.0 * n).toInt >= 10).getOrElse(50.0)
    (p, n - math.ceil(p / 100.0 * n).toInt, pct(xs, p))
  }

  def latencies(os: Seq[Outcome]): Seq[Double] =
    os.map(o => if (o.failure.isDefined) Double.PositiveInfinity else o.latencyMs)

  /** Middle value, or the mean of the two middle values. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
