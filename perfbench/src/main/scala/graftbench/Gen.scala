package graftbench

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.zip.GZIPOutputStream
import scala.collection.mutable

/** Seeded synthetic Common Crawl: WAT files laid out as
  * `segments/<id>/part-<n>.warc.wat.gz` plus a `wat.paths` manifest.
  *
  * Link domains are Zipf-popular, so a few domains hold most backlinks
  * and most hold a handful. Fixed shares of anchors are planted for
  * every import gate (internal links, ignored extensions, pipes in the
  * path, robots-noindex pages, off-host canonical pages) and for
  * nofollow flagging, and a fixed share of anchors repeats a
  * (link, source host) key the same host already emitted, so compaction
  * merges a known fraction. The generator keeps the ground truth the
  * benchmark checks the stores against.
  */
final class CrawlGen(seed: Long, val shape: CrawlGen.Shape) {
  import CrawlGen._

  private val rnd = new java.util.SplittableRandom(seed)
  private val zipf = new Zipf(shape.linkDomains, 1.1)

  /** Link domain `i` (0 = most popular). */
  def domain(i: Int): String = f"dom$i%04d.com"
  /** Source page host `i`. */
  def host(i: Int): String = f"www.site$i%03d.org"

  // ground truth, accumulated as segments are generated
  private val keys = mutable.HashSet.empty[String]
  private var keptAnchors = 0L
  private var seenAnchors = 0L
  private var nofollowKept = 0L
  private val keptPages = mutable.HashSet.empty[String]
  private val hostsWithLinks = mutable.LinkedHashSet.empty[String]
  private val lastLinkOf = mutable.HashMap.empty[Int, String]
  private var pageSerial = 0L

  /** Truth after all generated segments: distinct compaction keys,
    * kept anchors (= sum(qty) of the store), nofollow-flagged store
    * rows, kept pages, and every anchor seen in the WAT records.
    */
  def truth: Truth = Truth(keys.size.toLong, keptAnchors, nofollowKept,
    keptPages.size.toLong, seenAnchors)
  def servedHosts: Seq[String] = hostsWithLinks.toSeq

  /** Write segment `seg` under `root/segments/<id>/`; returns its files. */
  def writeSegment(root: File, seg: Int): Seq[File] = {
    val id = segmentId(seg)
    val dir = new File(root, s"segments/$id")
    dir.mkdirs()
    (0 until shape.filesPerSegment).map { f =>
      val file = new File(dir, f"part-$f%03d.warc.wat.gz")
      val out = new GZIPOutputStream(new FileOutputStream(file), 1 << 16)
      try {
        out.write("WARC/1.0\nWARC-Type: metadata\n\n".getBytes(UTF_8))
        (0 until shape.pagesPerFile).foreach(_ => out.write(page(seg).getBytes(UTF_8)))
      } finally out.close()
      file
    }
  }

  private def page(seg: Int): String = {
    pageSerial += 1
    val h = rnd.nextInt(shape.hosts)
    val pageHost = host(h)
    val path = s"/s$seg/p$pageSerial.html"
    // planted drops sit at fixed positions, so every segment keeps the
    // same number of links whatever the seed
    val noindex = pageSerial % PageCycle == 0
    val offCanonical = pageSerial % PageCycle == PageCycle / 2
    val dropped = noindex || offCanonical
    if (!dropped) keptPages += s"$pageHost$path"
    val anchors = (0 until shape.anchorsPerPage).map { k =>
      seenAnchors += 1
      ((k + pageSerial) % AnchorCycle).toInt match {
        case Internal => anchor(s"https://$pageHost/about$k", "")
        case Extension => anchor(s"https://${domain(zipf.sample(rnd))}/img/p$k.jpg", "")
        case Pipe => anchor(s"https://${domain(zipf.sample(rnd))}/a|b$k", "")
        case slot =>
          val nofollow = slot == Nofollow
          val repeat = !nofollow && rnd.nextDouble() < DuplicateShare
          val url = lastLinkOf.get(h).filter(_ => repeat).getOrElse {
            val sub = Subdomains(rnd.nextInt(Subdomains.length))
            // nofollow anchors get a path of their own, so each is one
            // store row and the flag count is exact
            val p = if (nofollow) s"/nf/$pageSerial/$k" else s"/a${rnd.nextInt(shape.pathsPerDomain)}"
            val q = if (rnd.nextInt(4) == 0) s"?id=${rnd.nextInt(8)}" else ""
            s"https://$sub${domain(zipf.sample(rnd))}$p$q"
          }
          if (!nofollow) lastLinkOf(h) = url
          if (!dropped) {
            keptAnchors += 1
            if (nofollow) nofollowKept += 1
            keys += s"${url.stripPrefix("https://")}|$pageHost"
            hostsWithLinks += pageHost
          }
          anchor(url, if (nofollow) "nofollow" else "")
      }
    }
    val metas =
      if (noindex) """[{"name":"robots","content":"noindex,follow"}]"""
      else """[{"name":"viewport","content":"width=device-width"}]"""
    val headLinks =
      if (offCanonical) s"""[{"path":"LINK@/href","url":"https://www.mirror${h % 7}.net$path","rel":"canonical"}]"""
      else "[]"
    val date = f"2024-07-${1 + rnd.nextInt(28)}%02dT10:00:00Z"
    val ip = s"10.${h % 200}.${seg % 200}.${1 + rnd.nextInt(250)}"
    s"""{"Envelope":{"WARC-Header-Metadata":{"WARC-Target-URI":"https://$pageHost$path","WARC-IP-Address":"$ip","WARC-Date":"$date"},""" +
      s""""Payload-Metadata":{"HTTP-Response-Metadata":{"HTML-Metadata":{"Head":{"Title":"Page $pageSerial of site $h","Metas":$metas,"Link":$headLinks},"Links":${anchors.mkString("[", ",", "]")}}}}}}""" +
      "\n"
  }

  private def anchor(url: String, rel: String): String =
    s"""{"path":"A@/href","url":"$url","text":"anchor ${url.length % 13}","rel":"$rel"}"""

}

object CrawlGen {
  final case class Shape(linkDomains: Int, hosts: Int, pathsPerDomain: Int,
      filesPerSegment: Int, pagesPerFile: Int, anchorsPerPage: Int)
  final case class Truth(storeRows: Long, sumQty: Long, nofollowRows: Long,
      pages: Long, anchorsSeen: Long)

  // Planted shares. Anchor k of page n takes slot (k + n) mod 20: one
  // slot each (5%) is an internal link, an ignored extension, a pipe in
  // the path, and a nofollow anchor (kept, flagged). One page in 33 is
  // robots-noindex and one in 33 has an off-host canonical (all their
  // anchors drop). 15% of the other followed anchors repeat the host's
  // previous link, a (link, source host) key compaction must merge.
  private val AnchorCycle = 20L
  private val Internal = 0
  private val Extension = 1
  private val Pipe = 2
  private val Nofollow = 3
  private val PageCycle = 33L
  val DuplicateShare = 0.15
  private val Subdomains = Array("", "www.", "www.", "blog.")

  def segmentId(seg: Int): String = f"CC-BENCH.$seg%03d"

  /** Manifest listing every file of every segment, in segment order. */
  def writeManifest(file: File, segments: Seq[Seq[File]]): Unit =
    java.nio.file.Files.writeString(file.toPath,
      segments.flatten.map(_.getAbsolutePath).mkString("# graft benchmark crawl\n", "\n", "\n"))
}

/** Zipf(n, s) sampler by inverse CDF over a precomputed table. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  def sample(rnd: java.util.SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** One generated API request: the route, its JSON body, and when the
  * open loop sends it (ms after the loop starts).
  */
final case class Req(id: Int, route: String, body: String, atMs: Double,
    domain: String, host: String, sort: Option[String], order: String,
    filter: Option[(String, String, String)], page: Int, limit: Int)

/** Seeded request mix: 7 in 8 requests go to /api/links, every 8th to
  * /api/pages (a fixed composition, so runs at different seeds weigh
  * the routes alike). Domains are Zipf-picked (hot domains hold thousands of
  * backlinks, cold ones a handful); requests vary sort key, order,
  * exact/any filters and page 1-3.
  */
final class RequestGen(seed: Long, crawl: CrawlGen, hosts: Seq[String]) {
  private val rnd = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
  private val zipf = new Zipf(crawl.shape.linkDomains, 1.1)
  private val sorts = Array[Option[String]](None, Some("linkUrl"), Some("pageUrl"),
    Some("linkText"), Some("dateFrom"), Some("dateTo"))

  private def q(s: String) = "\"" + s + "\""

  def next(id: Int, atMs: Double): Req = {
    if (id % 8 != 7) {
      val d = crawl.domain(zipf.sample(rnd))
      val domain = if (rnd.nextInt(5) == 0) s"www.$d" else d
      val sort = sorts(rnd.nextInt(sorts.length))
      val order = if (rnd.nextBoolean()) "asc" else "desc"
      val filter = rnd.nextInt(10) match {
        case 0 => Some(("No Follow", "exact", "0"))
        case 1 => Some(("Anchor", "any", s"anchor ${rnd.nextInt(13)}"))
        case 2 => Some(("Source Host", "exact", hosts(rnd.nextInt(hosts.size))))
        case 3 => Some(("Link Path", "any", s"a${rnd.nextInt(10)}"))
        case _ => None
      }
      val page = 1 + rnd.nextInt(3)
      val limit = Array(10, 50, 100)(rnd.nextInt(3))
      val fields = Seq(s""""domain":${q(domain)}""", s""""order":${q(order)}""",
        s""""page":$page""", s""""limit":$limit""") ++
        sort.map(s => s""""sort":${q(s)}""") ++
        filter.map { case (n, k, v) => s""""filters":[{"name":${q(n)},"kind":${q(k)},"val":${q(v)}}]""" }
      Req(id, "links", fields.mkString("{", ",", "}"), atMs, domain, "", sort, order,
        filter, page, limit)
    } else {
      val host = hosts(rnd.nextInt(hosts.size))
      val page = 1 + rnd.nextInt(2)
      Req(id, "pages", s"""{"host":${q(host)},"limit":50,"page":$page}""", atMs, "", host,
        None, "asc", None, page, 50)
    }
  }

  /** `n` requests at a fixed rate: send times are evenly spaced. */
  def openLoop(n: Int, ratePerS: Double): IndexedSeq[Req] =
    (0 until n).map(i => next(i, i * 1000.0 / ratePerS))
}

object RequestGen {
  /** A /api/ranks request for one host. */
  def rank(id: Int, host: String): Req =
    Req(id, "ranks", s"""{"host":"$host"}""", 0, "", host, None, "asc", None, 1, 1)
}

object Digest {
  def of(files: Seq[File], extra: String): String = {
    val md = MessageDigest.getInstance("SHA-256")
    files.foreach(f => md.update(java.nio.file.Files.readAllBytes(f.toPath)))
    md.update(extra.getBytes(UTF_8))
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}
