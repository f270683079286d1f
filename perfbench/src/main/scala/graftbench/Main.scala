package graftbench

import graft.Pipeline
import graft.api.{LinkDbFilter, LinkDbRequest, PageDbRequest}
import java.io.File
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods
import scala.collection.mutable

/** graft benchmark: seeded workloads driven through graft's public API.
  *
  *   Main --workload ingest|serve --seed N --seconds S --trace 0|1 --work DIR
  *
  * Prints progress lines, then one JSON result as the last stdout line:
  * end-to-end metrics when untraced, per-layer metrics when traced.
  * Exits 1 when any output check fails. See perfbench/README.md.
  */
object Main {

  /** Crawl shape: 4 files per segment, so one import runs 4 tasks. */
  val Shape = CrawlGen.Shape(linkDomains = 2000, hosts = 150, pathsPerDomain = 40,
    filesPerSegment = 4, pagesPerFile = 60, anchorsPerPage = 20)
  val BaseSegments = 1
  /** Open-loop read rate, req/s: about half the saturated throughput
    * of the serve store (~1 req/s on 4 cores, see README).
    */
  val OpenRate = 0.5

  final class Run(val spark: SparkSession, val work: File, val seed: Long,
      val seconds: Int, val traced: Boolean) {
    val probe = new Probe(spark)
    val trace = new Trace(traced)
    val cpus: Int = Runtime.getRuntime.availableProcessors
    var attempted = 0L
    /** Rank iterations of the timed folds. */
    var rankIters = 0
    /** HTTP requests the API served in this run (spark.read.* divide by it). */
    val httpRequests = new java.util.concurrent.atomic.AtomicLong
    val failures = mutable.LinkedHashMap.empty[String, Int].withDefaultValue(0)
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
    val layer = mutable.LinkedHashMap.empty[String, (Double, String)]

    def op[T](what: String)(f: => T): Option[T] = {
      attempted += 1
      try Some(f)
      catch {
        case e: Exception =>
          failures(s"$what: ${e.getClass.getName}") += 1
          println(s"[bench] $what failed: $e")
          None
      }
    }
    def outcomes(os: Seq[Outcome]): Unit = {
      attempted += os.size
      os.foreach(o => o.failure.foreach(f => failures(s"${o.req.route}: $f") += 1))
    }
    def check(name: String, ok: Boolean, detail: String): Unit = {
      checks += ((name, ok, detail))
      println(s"[bench] check ${if (ok) "ok  " else "FAIL"} $name: $detail")
    }
    def info(msg: String): Unit = println(s"[bench] $msg")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work")).getAbsoluteFile
    require(Set("ingest", "serve")(workload), s"unknown workload $workload")

    val t0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = graft.GraftConf.local(cpus)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    val run = new Run(spark, work, seed, seconds, traced)
    if (traced) run.probe.register()
    run.info(f"session ready in ${(System.nanoTime() - t0) / 1e9}%.2f s on local[$cpus]")
    val code =
      try {
        workload match {
          case "ingest" => Workloads.ingest(run)
          case "serve" => Workloads.serve(run)
        }
        report(run)
      } finally spark.stop()
    sys.exit(code)
  }

  private def report(run: Run): Int = {
    val correct = run.checks.nonEmpty && run.checks.forall(_._2) && run.failures.isEmpty
    run.failures.foreach { case (k, n) => run.info(s"failure x$n: $k") }
    val metrics = if (run.traced) run.layer else run.e2e
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    val body = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${run.attempted}, "failed": ${run.failures.values.sum}, "metrics": {$body}}""")
    if (correct) 0 else 1
  }

  // ---- helpers shared by the workloads ------------------------------------

  def linkReq(r: Req): LinkDbRequest =
    LinkDbRequest(r.domain,
      r.filter.map { case (n, k, v) => LinkDbFilter(n, k, v) }.toSeq,
      r.sort, r.order, r.limit, r.page)

  def pageReq(r: Req): PageDbRequest = PageDbRequest(r.host, limit = r.limit, page = r.page)

  /** Compares an HTTP response body with a direct call on the same store. */
  def sameAnswer(spark: SparkSession, store: String, r: Req, body: String): Either[String, Unit] = {
    val json = JsonMethods.parse(body)
    def s(j: JValue, k: String): String = (j \ k) match {
      case JString(v) => v
      case JInt(v) => v.toString
      case JDouble(v) => v.toString
      case JArray(vs) => vs.map { case JString(x) => x; case x => x.toString }.mkString(",")
      case other => other.toString
    }
    r.route match {
      case "links" =>
        val direct = Pipeline.linkDb(spark, store, r.domain).query(linkReq(r))
        val got = json.children
        if (got.size != direct.size) Left(s"${got.size} rows over HTTP, ${direct.size} direct")
        else got.zip(direct).collectFirst {
          case (j, d) if s(j, "link_url") != d.linkUrl || s(j, "page_url") != d.pageUrl ||
              s(j, "link_text") != d.linkText || s(j, "no_follow") != d.noFollow.toString ||
              s(j, "no_index") != d.noIndex.toString || s(j, "date_from") != d.dateFrom ||
              s(j, "date_to") != d.dateTo || s(j, "ip") != d.ips.mkString(",") ||
              s(j, "qty") != d.qty.toString =>
            s"row differs: ${JsonMethods.compact(j)} vs $d"
        }.toLeft(())
      case "pages" =>
        val direct = Pipeline.pageDb(spark, store, r.host).query(pageReq(r))
        val got = json.children
        if (got.size != direct.size) Left(s"${got.size} rows over HTTP, ${direct.size} direct")
        else got.zip(direct).collectFirst {
          case (j, d) if s(j, "page_url") != d.pageUrl || s(j, "title") != d.title ||
              s(j, "ip") != d.ip || s(j, "crawl_date") != d.crawlDate ||
              s(j, "no_index") != d.noIndex.toString ||
              s(j, "page_no_follow") != d.pageNoFollow.toString =>
            s"row differs: ${JsonMethods.compact(j)} vs $d"
        }.toLeft(())
      case "ranks" =>
        val direct = Pipeline.hostRankOf(spark, store, r.host)
        val got = (json \ "rank") match {
          case JDouble(v) => Some(v)
          case JDecimal(v) => Some(v.toDouble)
          case JInt(v) => Some(v.toDouble)
          case _ => None
        }
        if (got == direct) Right(()) else Left(s"rank $got over HTTP, $direct direct")
    }
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  def localDir(path: String): File =
    new File(new java.net.URI(
      if (path.contains(":")) path else "file:" + new File(path).getAbsolutePath))
}
