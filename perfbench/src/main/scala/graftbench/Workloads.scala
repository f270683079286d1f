package graftbench

import graft.Pipeline
import graft.api.LinkApiServer
import java.io.File
import java.lang.management.ManagementFactory
import javax.management.{NotificationEmitter, NotificationListener}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The two timed workloads and the checks and metrics they share. */
object Workloads {
  import Main._

  /** A store built by the public pipeline, with the API serving it. */
  final class Built(val store: String, val crawl: CrawlGen, val manifest: String,
      val baseQty: Long, val hosts: Seq[String], val server: LinkApiServer,
      val digest: String)

  /** Generates the crawl: [[BaseSegments]] segments for the base store
    * plus `timed` more listed in a manifest for the ingest phase. The base
    * store is written by one `Pipeline.importSegments` call, and the API
    * starts on it with a warm-up request per route. `setup_s` is the wall
    * time of all of it.
    */
  private def setup(run: Run, timed: Int): Built = {
    val t0 = System.nanoTime()
    val dir = new File(run.work, "setup")
    val crawlDir = new File(dir, "crawl")
    val crawl = new CrawlGen(run.seed, Shape)
    val base = (0 until BaseSegments).map(crawl.writeSegment(crawlDir, _))
    val baseQty = crawl.truth.sumQty
    val hosts = crawl.servedHosts
    val rest = (BaseSegments until BaseSegments + timed).map(crawl.writeSegment(crawlDir, _))
    val manifest = new File(crawlDir, "wat.paths")
    CrawlGen.writeManifest(manifest, rest)
    val reqDigest = new RequestGen(run.seed, crawl, hosts).openLoop(200, OpenRate).map(_.body).mkString
    // the manifest is left out: it lists the same files by absolute path
    val digest = Digest.of((base ++ rest).flatten, reqDigest)
    val store = new File(dir, "store").getAbsolutePath
    val t1 = System.nanoTime()
    run.trace("setup.importSegments", "base")(run.probe.inGroup("setup.import") {
      Pipeline.importSegments(run.spark, base.flatten.map(_.getAbsolutePath), store, stats = false)
    })
    val t2 = System.nanoTime()
    // jobs the server submits are filed under `read` by their call site
    // (its dispatcher thread does not inherit the job group)
    val server = Pipeline.serveLinkApi(run.spark, store, port = 0, rateLimitMax = Int.MaxValue)
    val load = new Load(server.boundPort, 1)
    val warm = new RequestGen(run.seed + 1, crawl, hosts)
    val byRoute = Iterator.from(0).map(i => warm.next(i, 0)).take(200).toSeq
      .groupBy(_.route).values.map(_.head).toSeq.sortBy(_.route)
    byRoute.foreach { r =>
      val (status, body) = load.send(r)
      require(status == 200, s"warm-up ${r.route} answered $status: $body")
    }
    run.httpRequests.addAndGet(byRoute.size)
    val secs = (System.nanoTime() - t0) / 1e9
    run.info(f"setup $secs%.2f s: inputs ${(t1 - t0) / 1e9}%.2f s (digest $digest), " +
      f"import ${(t2 - t1) / 1e9}%.2f s, serve+warm-up ${(System.nanoTime() - t2) / 1e9}%.2f s")
    run.e2e("setup_s") = (secs, "s")
    new Built(store, crawl, manifest.getAbsolutePath, baseQty, hosts, server, digest)
  }

  // ---- ingest ---------------------------------------------------------------

  /** Import+fold cycles in the timed phase: one segment imported and
    * folded with ranks per cycle, ~15 s each on 4 cores.
    */
  def ingestCycles(seconds: Int): Int = math.max(1, (seconds / 15.0).round.toInt)

  /** The ingest reader's rate, req/s: half the serve rate, since every
    * read briefly takes all cores and the fold shares them.
    */
  val IngestReadRate = 0.25

  def ingest(run: Run): Unit = {
    val cycles = ingestCycles(run.seconds)
    val b = setup(run, cycles)
    val reqs = new RequestGen(run.seed, b.crawl, b.hosts).openLoop(1000, IngestReadRate)
    val load = new Load(b.server.boundPort, run.cpus)
    val heap = HeapWatch.start()
    @volatile var ingesting = true
    var reads = Seq.empty[Outcome]
    val reader = new Thread(() => reads = load.openLoop(reqs, until = () => !ingesting))
    val t0 = System.nanoTime()
    reader.start()
    val segs = (0 until cycles).map { k =>
      val seg = CrawlGen.segmentId(BaseSegments + k)
      run.op("importManifest") {
        run.trace("Pipeline.importManifest", seg)(run.probe.inGroup("import") {
          val st = Pipeline.importManifest(run.spark, b.manifest, b.store, maxSegments = 1)
          require(st.imported == Seq(seg), s"imported ${st.imported}, expected $seg")
        })
      }
      run.op("foldSegments") {
        run.trace("Pipeline.foldSegments", seg)(run.probe.inGroup("fold") {
          val st = Pipeline.foldSegments(run.spark, b.store, maintainRanks = true)
          run.rankIters += st.rankIters.getOrElse(0)
        })
      }
      seg
    }
    val ingestS = (System.nanoTime() - t0) / 1e9
    ingesting = false
    reader.join()
    heap.stop()
    run.httpRequests.addAndGet(reads.size)
    run.outcomes(reads)
    val linksIn = b.crawl.truth.sumQty - b.baseQty
    run.info(f"ingest: $cycles import+fold cycles, $linksIn links in $ingestS%.2f s " +
      s"(${run.rankIters} rank iterations); ${reads.size} reads beside it")
    run.e2e("throughput") = (linksIn / ingestS, "1/s")
    readMetrics(run, reads)
    run.layer("jvm.heap_peak_mb") = (heap.peakMb, "MB")
    finish(run, b, segs, ranks = true)
  }

  // ---- serve ----------------------------------------------------------------

  /** Requests per client in the closed loop that follows the open loop:
    * a fixed amount of work, so throughput is requests over a continuous
    * elapsed time rather than a count of completions in a window.
    */
  val ClosedPerClient = 2

  def serve(run: Run): Unit = {
    val b = setup(run, 0)
    val gen = new RequestGen(run.seed, b.crawl, b.hosts)
    val reqs = gen.openLoop(math.max(1, (OpenRate * run.seconds).round.toInt), OpenRate)
    val closedReqs = (0 until run.cpus * ClosedPerClient).map(i => gen.next(100000 + i, 0))
    val load = new Load(b.server.boundPort, run.cpus)
    val heap = HeapWatch.start()
    val reads = load.openLoop(reqs)
    val (closed, closedS) = load.closedLoop(closedReqs)
    heap.stop()
    run.httpRequests.addAndGet(reads.size + closed.size)
    run.outcomes(reads)
    run.outcomes(closed)
    run.info(f"serve: ${reads.size} open-loop reads; closed loop of ${closed.size} in $closedS%.2f s")
    run.e2e("throughput") = (closed.size / closedS, "1/s")
    readMetrics(run, reads)
    run.layer("jvm.heap_peak_mb") = (heap.peakMb, "MB")
    finish(run, b, Nil, ranks = false)
  }

  // ---- shared ---------------------------------------------------------------

  private def readMetrics(run: Run, reads: Seq[Outcome]): Unit = {
    val lat = Stats.latencies(reads)
    val (p, beyond, tail) = Stats.tail(lat)
    run.info(f"reads: n=${lat.size} p50=${Stats.median(lat)}%.1f ms tail=p$p%.1f ($beyond samples beyond) $tail%.1f ms" +
      f", max generator lateness ${reads.map(_.lateMs).maxOption.getOrElse(0.0)}%.2f ms")
    run.e2e("read_p50_ms") = (Stats.median(lat), "ms")
    run.layer("load.open_loop_lateness_ms") = (reads.map(_.lateMs).maxOption.getOrElse(0.0), "ms")
    run.layer("trace.read_p50_ms") = (Stats.median(lat), "ms")
    run.layer("trace.read_tail_ms") = (tail, "ms")
  }

  /** Output checks on the final store and a sample of reads, then the
    * per-layer figures (computed in every run, printed when traced).
    */
  private def finish(run: Run, b: Built, timedSegments: Seq[String], ranks: Boolean): Unit = {
    val spark = run.spark
    val truth = b.crawl.truth
    // reads over HTTP, field by field against a direct call on the same
    // (now quiescent) store: serve checks /api/links and /api/pages;
    // ingest checks the ranks its fold published (and keeps its run short)
    val gen = new RequestGen(run.seed + 2, b.crawl, b.hosts)
    val sample =
      if (ranks) Seq(RequestGen.rank(0, b.hosts.head))
      else Seq(gen.next(0, 0), gen.next(7, 0))
    val load = new Load(b.server.boundPort, 1)
    val http = load.replay(sample)
    run.httpRequests.addAndGet(http.size)
    run.outcomes(http)
    val same = http.filter(_.failure.isEmpty).map { o =>
      val r = o.req
      run.op(s"direct ${r.route}")(run.probe.inGroup(s"direct.${r.route}") {
        Main.sameAnswer(spark, b.store, r, o.body)
      }) match {
        case Some(Left(why)) => run.check(s"read ${r.id} ${r.route}", ok = false, why); false
        case other => other.isDefined
      }
    }
    run.check("reads", http.forall(_.failure.isEmpty) && same.forall(identity),
      s"${sample.size} sampled requests answered over HTTP match direct LinkDb/PageDb/hostRankOf calls")
    b.server.stop()

    val (rows, qty, nofollow) = run.probe.inGroup("check") {
      val r = Pipeline.links(spark, b.store)
        .agg(count(lit(1)), sum(col("qty")), sum(col("nofollow"))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val pages = run.probe.inGroup("check")(graft.sinks.PageStore.read(spark, s"${b.store}/pages").count())
    run.check("store", rows == truth.storeRows && qty == truth.sumQty && nofollow == truth.nofollowRows &&
      pages == truth.pages,
      s"rows $rows/${truth.storeRows} sum(qty) $qty/${truth.sumQty} nofollow $nofollow/${truth.nofollowRows} " +
        s"pages $pages/${truth.pages} (store/generator)")
    val ledger = Pipeline.foldedSegments(spark, s"${b.store}/links")
    val pageLedger = Pipeline.foldedSegments(spark, s"${b.store}/pages")
    run.check("ledger", timedSegments.forall(ledger) && timedSegments.forall(pageLedger),
      s"${timedSegments.size} segments, links ledger ${ledger.size}, pages ledger ${pageLedger.size}")

    if (run.traced) layers(run, b, qty, rows, truth, ranks)
  }

  private def layers(run: Run, b: Built, qty: Long, rows: Long, truth: CrawlGen.Truth,
      ranks: Boolean): Unit = {
    run.probe.drain()
    val p = run.probe
    val L = run.layer
    val imp = p.of("import")
    val fold = p.of("fold")
    L("sources.wat_bytes") = (imp.inBytes.get.toDouble, "bytes")
    L("sources.records_read") = (imp.inRecords.get.toDouble, "count")
    run.info(f"keep ratio (links stored / anchors seen) ${qty.toDouble / truth.anchorsSeen}%.4f, " +
      f"compaction ratio (store rows / raw links) ${rows.toDouble / qty}%.4f")
    val linksGen = Main.localDir(graft.sinks.StoreGen.resolve(run.spark, s"${b.store}/links"))
    val pagesGen = Main.localDir(graft.sinks.StoreGen.resolve(run.spark, s"${b.store}/pages"))
    val storeBytes = Main.dirBytes(linksGen) + Main.dirBytes(pagesGen)
    val written = imp.outBytes.get + fold.outBytes.get
    L("sinks.bytes_written") = (written.toDouble, "bytes")
    L("sinks.write_amp") = (written.toDouble / storeBytes, "ratio")
    L("sinks.store_bytes_per_link") = (Main.dirBytes(linksGen).toDouble / qty, "bytes")
    val spans = run.trace.summary.map(s => s._1 -> s).toMap
    def busy(name: String) = spans.get(name).map(_._3 / 1000.0).getOrElse(0.0)
    L("Pipeline.importManifest.busy_s") = (busy("Pipeline.importManifest"), "s")
    L("Pipeline.foldSegments.busy_s") = (busy("Pipeline.foldSegments"), "s")
    L("Pipeline.foldSegments.rank_iters") = (run.rankIters.toDouble, "count")

    val d = directApi(run, b, ranks)
    L("api.LinkDb.query_ms") = (d("links.query"), "ms")
    L("api.PageDb.query_ms") = (d("pages.query"), "ms")
    L("api.hostRankOf_ms") = (d("ranks.query"), "ms")
    L("api.bind_ms") = (d("links.bind"), "ms")
    L("api.http_overhead_ms") = (d("links.http_overhead"), "ms")
    L("api.rows_scanned_per_row") = (d("links.scanned_per_row"), "ratio")

    val gf = p.family("GraphOps")
    L("operators.GraphOps.busy_s") = (gf.busyMs.get / 1000.0, "s")
    L("operators.GraphOps.jobs") = (gf.jobs.get.toDouble, "count")
    L("operators.GraphOps.tasks") = (gf.tasks.get.toDouble, "count")
    L("operators.GraphOps.cpu_s") = (gf.cpuNs.get / 1e9, "s")

    val perRead = math.max(1L, run.httpRequests.get).toDouble
    Seq("import" -> 1.0, "fold" -> 1.0, "read" -> perRead).foreach { case (g, div) =>
      val c = p.of(g)
      L(s"spark.$g.jobs") = (c.jobs.get / div, "count")
      L(s"spark.$g.stages") = (c.stages.get / div, "count")
      L(s"spark.$g.tasks") = (c.tasks.get / div, "count")
      L(s"spark.$g.sched_delay_s") = (c.schedDelayMs.get / 1000.0 / div, "s")
      L(s"spark.$g.run_s") = (c.runMs.get / 1000.0 / div, "s")
      L(s"spark.$g.cpu_s") = (c.cpuNs.get / 1e9 / div, "s")
      L(s"spark.$g.gc_s") = (c.gcMs.get / 1000.0 / div, "s")
      L(s"spark.$g.shuffle_write_bytes") = (c.shuffleWrite.get / div, "bytes")
      L(s"spark.$g.shuffle_read_bytes") = (c.shuffleRead.get / div, "bytes")
      L(s"spark.$g.fetch_wait_s") = (c.fetchWaitMs.get / 1000.0 / div, "s")
      L(s"spark.$g.spill_bytes") = (c.spill.get / div, "bytes")
      L(s"spark.$g.catalyst_s") = (c.catalystMs.get / 1000.0 / div, "s")
    }
    run.info(s"${run.httpRequests.get} HTTP requests in all")
    (p.groupNames.map(g => s"group $g" -> p.of(g)) ++ p.familyNames.map(f => s"family $f" -> p.family(f)))
      .foreach { case (n, c) =>
        run.info(f"$n%-22s jobs=${c.jobs.get}%5d stages=${c.stages.get}%5d tasks=${c.tasks.get}%6d " +
          f"run=${c.runMs.get / 1000.0}%8.2f s cpu=${c.cpuNs.get / 1e9}%8.2f s sched=${c.schedDelayMs.get / 1000.0}%7.2f s " +
          f"catalyst=${c.catalystMs.get / 1000.0}%6.2f s")
      }
    run.info(s"catalyst time with no group: ${p.unattributedCatalystMs} ms; spans recorded: ${run.trace.count}")
    run.trace.summary.foreach { case (n, k, total, self) =>
      run.info(f"span $n%-28s n=$k%5d total=$total%10.1f ms self=$self%10.1f ms")
    }
  }

  /** Replays a sample of the request mix directly against the store
    * (bind + query, no HTTP) and over HTTP, sequentially; p50s in ms.
    */
  private def directApi(run: Run, b: Built, ranks: Boolean): Map[String, Double] = {
    val spark = run.spark
    val gen = new RequestGen(run.seed + 7, b.crawl, b.hosts)
    val sample = Iterator.from(0).map(i => gen.next(i, 0)).take(200).toSeq
    val links = sample.filter(_.route == "links").take(6)
    val pages = sample.filter(_.route == "pages").take(3)
    val hosts = if (ranks) b.hosts.take(3) else Nil
    def ms[T](f: => T): (T, Double) = { val t = System.nanoTime(); val v = f; (v, (System.nanoTime() - t) / 1e6) }
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    var rowsOut = 0L
    // each request over HTTP (fresh server) and then directly, so both
    // paths see the same warm-up
    val server = Pipeline.serveLinkApi(spark, b.store, port = 0, rateLimitMax = Int.MaxValue)
    val http = new Load(server.boundPort, 1)
    val lt = try links.map { r =>
      val h = http.replay(Seq(r)).head
      run.outcomes(Seq(h))
      val (db, bind) = ms(run.trace("Pipeline.linkDb", s"req${r.id}")(
        run.probe.inGroup("direct.bind")(Pipeline.linkDb(spark, b.store, r.domain))))
      val (out, q) = ms(run.trace("LinkDb.query", s"req${r.id}")(
        run.probe.inGroup("direct.query")(db.query(Main.linkReq(r)))))
      rowsOut += out.size
      (bind, q, h.latencyMs)
    } finally server.stop()
    run.httpRequests.addAndGet(links.size)
    val pt = pages.map { r =>
      ms(run.trace("PageDb.query", s"req${r.id}")(run.probe.inGroup("direct.pages")(
        Pipeline.pageDb(spark, b.store, r.host).query(Main.pageReq(r)))))._2
    }
    val rt = hosts.map(h => ms(run.trace("Pipeline.hostRankOf", h)(run.probe.inGroup("direct.ranks")(
      require(Pipeline.hostRankOf(spark, b.store, h).isDefined, s"no rank for $h"))))._2)
    run.attempted += links.size + pages.size + hosts.size
    run.probe.drain()
    Map(
      "links.bind" -> p50(lt.map(_._1)),
      "links.query" -> p50(lt.map(_._2)),
      // per request: HTTP latency minus the same request's direct bind+query
      "links.http_overhead" -> p50(lt.map { case (bind, q, h) => h - bind - q }),
      "pages.query" -> p50(pt),
      "ranks.query" -> p50(rt),
      "links.scanned_per_row" -> run.probe.of("direct.query").inRecords.get.toDouble / math.max(1L, rowsOut))
  }
}

object HeapWatch {
  /** Collects setup's garbage first, so the peak reflects the timed phase. */
  def start(): HeapWatch = { System.gc(); new HeapWatch }
}

/** Largest heap occupancy right after a GC while it runs, in MB. */
final class HeapWatch {
  @volatile private var peak = 0L
  @volatile private var on = true
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val listener: NotificationListener = (n, _) => {
    if (on && n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = com.sun.management.GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      if (used > peak) peak = used
    }
  }
  beans.foreach(_.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

  def stop(): Unit = {
    on = false
    beans.foreach(b => try b.asInstanceOf[NotificationEmitter].removeNotificationListener(listener)
      catch { case _: Exception => () })
  }

  /** Falls back to current occupancy if no GC ran during the window. */
  def peakMb: Double = {
    val p = if (peak > 0) peak else {
      val m = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      m.getUsed
    }
    p / (1024.0 * 1024.0)
  }
}
