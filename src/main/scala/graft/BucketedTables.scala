package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Orderkey-bucketed layout for the two recurring fact tables — the
  * ingest-time decision that makes every later join and aggregation on
  * the order key SHUFFLE-FREE (the `BucketedJoinSpec` claim, landed as
  * a production path).
  *
  * At 100 TB the store's fact tables are joined and re-aggregated on
  * the same keys every generation; a warehouse that re-shuffles the
  * widest stream for each query is paying the layout cost per-query
  * that it could pay once at ingest. `lineitem`/`orders` bucketed by
  * orderkey into the same bucket count co-locate: `groupBy(l_orderkey)`
  * needs no exchange, and `perOrder ⋈ orders` matches bucket files
  * pairwise (q02's first two exchanges — the |lineitem|-wide ones —
  * disappear; q03's whole pre-top-k pipeline becomes exchange-free).
  *
  * Mechanics: bucketing in Spark lives in the catalog, not the parquet
  * footer, and the default session catalog is in-memory — so the files
  * are written ONCE to a dir-keyed location, and later sessions
  * re-attach them with a metadata-only `CREATE TABLE … CLUSTERED BY`
  * over the existing files. The build is crash- and race-safe by
  * CONSTRUCTION, not by convention: all ingest passes write into a
  * process-private `.tmp-<pid>` sibling under a throwaway catalog name,
  * the `_GRAFT_DONE` marker lands inside the temp dir after the LAST
  * pass, and only then does one atomic `rename` publish the layout —
  * so the real catalog name and the final path can never name a
  * partial layout (a failed build leaves only a temp dir, deleted in
  * the failure path and swept by GC as a backstop). Across JVMs two
  * concurrent builders each complete a private build; the rename loser
  * detects the winner's sealed layout, discards its own bytes, and
  * attaches the winner's files — interleaved multi-pass writes into a
  * shared dir (duplicate rows, multi-file buckets that the
  * sorted-single-file scan trust would silently misread) are
  * impossible because no two processes ever write the same dir.
  *
  * Bucket count: fixed per LAYOUT, not per session (a bucketed table's
  * file count is part of its on-disk identity). 32 here sizes sf10's
  * 60M-row lineitem at ~2M rows/bucket; a cluster ingest picks
  * `size / 256 MB` at write time the same way `LinkStore` does.
  */
object BucketedTables {

  val Buckets = 32
  // bump when the layout (schema, sort, bucket count) changes: the
  // on-disk dirs outlive sessions, so a layout change must not silently
  // re-attach stale files. Staleness vs the SOURCE data is handled
  // structurally, not by versioning: every layout path embeds a
  // fingerprint of the source parquet files (name/length/mtime), so a
  // regenerated testdata dir can never silently re-attach a layout
  // built from the old bytes — the fresh fingerprint just builds a
  // fresh layout and the stale one is orphaned.
  private[graft] val Root = "/tmp/graft_bucketed/v2"

  /** Fingerprint of a source table's on-disk parquet (file or dir)
    * PLUS the layout's derivation recipe: 48 bits of an MD5 over sorted
    * (name, length, mtime) triples and the `derivation` token — cheap
    * (metadata only), and any rewrite of the source OR change to the
    * derivation expression produces a different layout key (previously
    * a derivation change relied on a manual `Root` version bump; now
    * the token carries the constants, so forgetting the bump can't
    * re-attach stale bytes). A content-identical rewrite with a new
    * mtime costs one redundant ingest, never a wrong read. A missing
    * source path fails HERE with its name instead of hashing to a
    * stable 'empty' fingerprint and deferring to an opaque read.
    */
  private[graft] def fingerprint(dir: String, table: String, derivation: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) {
        val kids = f.listFiles()
        require(kids != null, s"BucketedTables: cannot list ${f.getAbsolutePath}")
        kids.sortBy(_.getName).toSeq.flatMap(walk)
      } else Seq(f)
    val src = new java.io.File(dir, table + ".parquet")
    require(src.exists(), s"BucketedTables: source parquet missing: ${src.getAbsolutePath}")
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(derivation.getBytes("UTF-8"))
    walk(src).foreach { f =>
      md.update(s"${f.getName}:${f.length}:${f.lastModified}".getBytes("UTF-8"))
    }
    md.digest().take(6).map(b => f"$b%02x").mkString
  }

  /** Total on-disk bytes of a source table's parquet — sizes the
    * ingest pass split (metadata only, same walk as [[fingerprint]]).
    */
  private def sourceBytes(dir: String, table: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
      else f.length
    walk(new java.io.File(dir, table + ".parquet"))
  }

  /** Bucketed lineitem plus `rev_part = cast(l_extendedprice *
    * (1 - l_discount) as decimal(18,10))` materialized at ingest:
    * Spark's double→decimal cast goes through `Double.toString` (a
    * string parse per row — ~1.2s over sf10's 60M rows), while parquet
    * DECIMAL(18,10) decodes straight to a compact long. Every revenue
    * aggregate sums the stored column instead of re-casting; the values
    * are bit-identical to the inline cast (same HALF_UP round to 10
    * fractional digits, and |rev| < 10^8 so precision 18 never
    * overflows).
    */
  // materialized-column recipe; part of the fingerprint so changing it
  // can never silently re-attach a layout built from the old expression
  private val RevPartExpr =
    "cast(l_extendedprice * (1 - l_discount) as decimal(18,10))"

  def lineitem(spark: SparkSession, dir: String): DataFrame =
    fact(spark, dir, "lineitem", "l_orderkey",
      _.withColumn("rev_part",
        org.apache.spark.sql.functions.expr(RevPartExpr)),
      derivation = s"rev_part=$RevPartExpr")

  def orders(spark: SparkSession, dir: String): DataFrame =
    fact(spark, dir, "orders", "o_orderkey")

  /** The fuzzy-dedup corpus ([[Tables.docsWithNearDups]], near-dup
    * variants included) bucketed AND sorted by doc_id — the r16 layout
    * for the recurring dedup runs: every family member's text-side
    * joins key on doc_id (the verify stage's participant semi-join and
    * both pair joins, q30's sketch-screen joins), so the corpus-wide
    * text exchange those paths re-paid per run disappears — only the
    * compact pair frames shuffle. The bucketed read also replaces the
    * round-robin `spread` exchange: 32 single-file buckets arrive as
    * 32 parallel splits. Row set is IDENTICAL to the derived frame
    * (the write materializes it once, dir-keyed and idempotent); at
    * crawl scale this is the ingest-time decision — near-dup variants
    * are just corpus rows there.
    */
  def docsNearDups(spark: SparkSession, dir: String): DataFrame =
    derived(spark, dir, "docs_nd", "doc_id",
      Tables.docsWithNearDups(spark, dir, spread = false),
      fingerprint(dir, "documents",
        // the injected-near-dup recipe (Z-variant every DupEvery-th id
        // at +NearDupOffset) is part of the layout's identity
        derivation = s"nd:Z2:${Tables.DupEvery}:${Tables.NearDupOffset}"),
      sourceBytes(dir, "documents"))

  /** The host link-graph edge list ([[graft.operators.GraphOps.edgesOf]]
    * over the links derivation) bucketed AND sorted by `src` — plus its
    * dual bucketed by `dst` — the r20 ingest-time layout for the
    * iterative graph family (q51/q78/q79/q82/q52 and their verify
    * companions). Two r19 findings drive it (guide §2.4/§6):
    *   - a `localCheckpoint` edge pin reports UnknownPartitioning under
    *     AQE (OPTIMIZATION_r19.md), so at any scale where the edge side is not
    *     broadcast the per-iteration contribs join RE-SHUFFLES it —
    *     ×10 iterations for PageRank, ×8 for HITS. Bucketed by the join
    *     key, the edge side arrives exchange-free AND pre-sorted in
    *     every iteration.
    *   - the edge DERIVATION (orders ⨝ customer + distinct over the
    *     full fact stream) was re-paid per graph query per run, while
    *     the distinct edge set itself changes only with the source
    *     data — exactly the once-per-generation ingest decision the
    *     lineitem/orders/docs_nd layouts already encode. The dual
    *     layout serves the dst-keyed consumers (q78's hub step, q52's
    *     in-degree aggregate) the same way.
    * Row set is IDENTICAL to the derived frame; the fingerprint covers
    * both source tables and the edge recipe, so a regenerated testdata
    * dir can never re-attach stale edges.
    */
  def hostEdgesBySrc(spark: SparkSession, dir: String): DataFrame =
    hostEdges(spark, dir, "src")

  def hostEdgesByDst(spark: SparkSession, dir: String): DataFrame =
    hostEdges(spark, dir, "dst")

  private def hostEdges(spark: SparkSession, dir: String, key: String): DataFrame = {
    val fp = fingerprint(dir, "orders",
      s"hostedges:$key:v1:" + fingerprint(dir, "customer", ""))
    derived(spark, dir, s"host_edges_$key", key,
      graft.operators.GraphOps.edgesOf(Tables.links(spark, dir)),
      fp, sourceBytes(dir, "orders") + sourceBytes(dir, "customer"))
  }

  /** Transient-disk budget per ingest pass. The layout build's PEAK
    * footprint is not the output (≈ source size): the repartition
    * shuffle plus the per-task sortBy spill each hold a decoded copy
    * of the stream in flight — r17 measured the single-pass sf100
    * lineitem build (11 GB source) ENOSPC-ing a disk with ~55 GB
    * free. Splitting the build into bucket-RANGE passes bounds the
    * transient copy to ~budget bytes per pass while keeping the
    * single-file-per-bucket invariant (each bucket is written by
    * exactly one pass, and within a pass each task owns exactly one
    * bucket). The trade is P source scans; an ingest is once per
    * generation, and on a real cluster (distributed shuffle disk) the
    * budget is simply set high enough that P = 1.
    */
  private def passBudgetBytes: Long =
    sys.props.get("graft.layout.passBudgetBytes").map(_.toLong)
      .getOrElse(3L * 1024 * 1024 * 1024)

  /** Like [[fact]] but for a DERIVED frame (no base table to re-read):
    * same dir-keyed location, completion-marker-guarded idempotent
    * write, metadata-only re-attach in later sessions. `srcBytes`
    * (source parquet size) sizes the pass split.
    *
    * Completion is marked by OUR `_GRAFT_DONE` file, not Hadoop's
    * `_SUCCESS`: a multi-pass build leaves a `_SUCCESS` after its
    * FIRST pass, so trusting it would re-attach a partial layout
    * after a mid-build crash. `_GRAFT_DONE` is written only after
    * every pass committed.
    */
  private def derived(spark: SparkSession, dir: String, name: String,
      bucketKey: String, source: => DataFrame, fp: String,
      srcBytes: Long): DataFrame = synchronized {
    // identifier charset is stricter than the PATH charset (dirKey
    // keeps '.'/'-' for readable layout dirs; unquoted SQL identifiers
    // allow neither)
    val tbl = s"graft_b_${name}_${dirKey(dir)}_$fp".replaceAll("[^A-Za-z0-9_]", "_")
    val path = s"$Root/${dirKey(dir)}/$name-$fp"
    val done = new java.io.File(path, "_GRAFT_DONE")
    if (spark.catalog.tableExists(tbl)) {
      // the catalog only ever names SEALED layouts (the temp-build
      // scheme below), but the files outlive the catalog entry in the
      // other direction too: another process's GC or a manual wipe can
      // delete a layout behind a live entry. Verify the seal before
      // trusting the fast path; on a miss, drop and rebuild.
      if (done.isFile) { touch(done); return spark.table(tbl) }
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
    gcStaleSiblings(s"$Root/${dirKey(dir)}", name, fp)
    val src = source
    if (!done.isFile) {
      // build in a process-private temp dir under a throwaway catalog
      // name; publish with one atomic rename AFTER the seal marker is
      // inside — a partial build can never be attached (any failure
      // below leaves the final path untouched)
      val tmpPath = s"$path.tmp-${ProcessHandle.current().pid()}"
      val tmpTbl = s"${tbl}_build"
      try {
        deleteRecursively(new java.io.File(tmpPath))
        spark.sql(s"DROP TABLE IF EXISTS $tmpTbl")
        val passes = math.min(Buckets,
          math.max(1, math.ceil(srcBytes.toDouble / passBudgetBytes).toInt))
        (0 until passes).foreach { p =>
          val lo = p * Buckets / passes
          val hi = (p + 1) * Buckets / passes - 1
          // the pass filter uses the exact bucket-id function
          // (pmod(murmur3, n) — the same mapping `repartition(n, col)`
          // and the bucketBy writer use), so each bucket's rows appear
          // in exactly one pass. Within the pass, repartition on the
          // bucket key makes each task own exactly one bucket and
          // write ONE file — the layout scans only trust `sortBy`
          // ordering for single-file buckets, and the in-order buckets
          // are what lets sort-merge joins on the key run with no Sort
          // at read time.
          val part = if (passes == 1) src
            else src.filter(org.apache.spark.sql.functions
              .expr(s"pmod(hash($bucketKey), $Buckets)").between(lo, hi))
          part
            .repartition(Buckets, org.apache.spark.sql.functions.col(bucketKey))
            .write
            .bucketBy(Buckets, bucketKey)
            .sortBy(bucketKey)
            .option("path", tmpPath)
            .mode(if (p == 0) "overwrite" else "append")
            .saveAsTable(tmpTbl)
        }
        val tmpDone = new java.io.File(tmpPath, "_GRAFT_DONE")
        val out = new java.io.FileOutputStream(tmpDone)
        try out.write('1') finally out.close()
        val dest = new java.io.File(path)
        if (!new java.io.File(tmpPath).renameTo(dest)) {
          // rename loser: EITHER a concurrent builder published first —
          // its layout is sealed and byte-equivalent (same fp ⇒ same
          // source bytes + recipe ⇒ same deterministic build), discard
          // ours — OR the destination is an UNSEALED leftover (a
          // pre-publish-protocol crash left `name-<fp>` without its
          // marker). gcStaleSiblings deliberately skips the current fp,
          // so without recovery here every retry re-fails against the
          // same wedge forever. The seal distinguishes the two: no
          // seal ⇒ nothing can ever attach the dir, remove it and
          // retry the rename once.
          if (!done.isFile) {
            deleteRecursively(dest)
            if (!new java.io.File(tmpPath).renameTo(dest))
              require(done.isFile,
                s"BucketedTables: rename $tmpPath -> $path failed twice with no sealed winner")
          }
        }
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS $tmpTbl") // external: files unaffected
        deleteRecursively(new java.io.File(tmpPath))
      }
    }
    // metadata-only attach over the sealed files
    spark.sql(
      s"""CREATE TABLE $tbl (${src.schema.toDDL}) USING PARQUET
         |CLUSTERED BY ($bucketKey) SORTED BY ($bucketKey) INTO $Buckets BUCKETS
         |LOCATION '$path'""".stripMargin)
    touch(done)
    spark.table(tbl)
  }

  /** Attach-time liveness signal for the GC grace window: bump the seal
    * marker's mtime so a layout some session is actively reading is
    * visibly "in use" to any concurrent process's [[gcStaleSiblings]].
    */
  private def touch(done: java.io.File): Unit = {
    done.setLastModified(System.currentTimeMillis()): Unit
  }

  /** GC grace window: a stale sibling is deleted only once its seal
    * marker's mtime (bumped at every ATTACH REQUEST — see `touch`;
    * every [[derived]] call touches, including the tableExists fast
    * path, so within a session the clock effectively resets per query
    * construction) is older than this. A layout another LIVE session
    * is reading was attached recently, so its marker is fresh and the
    * GC skips it; without the window, a bench run overlapping a
    * testdata regeneration would get its parquet deleted mid-scan.
    * PRECISELY: the window runs from the last attach request, NOT the
    * last scan — a single QUERY that keeps scanning a superseded
    * layout for longer than the window after its attach is still
    * exposed to a concurrent process's GC, which is why the default
    * is sized well above the longest single-query wall observed at
    * sf100 (~2.5 min) rather than above a whole bench run. The price
    * is a superseded layout lingering up to one window after its last
    * attach — bounded, unlike the unbounded orphan leak the GC exists
    * to stop.
    */
  private def gcGraceMs: Long =
    sys.props.get("graft.layout.gcGraceMs").map(_.toLong)
      .getOrElse(2L * 60 * 60 * 1000)

  /** Delete superseded layouts for `name` under the dir key: any
    * sibling named `name` (pre-fingerprint era) or `name-<otherfp>` is
    * stale BY CONSTRUCTION — the fingerprint covers the source bytes
    * and the derivation recipe, so a different fp means the source was
    * rewritten or the recipe changed, and nothing can ever re-attach
    * that dir again. Without this, every testdata regeneration orphans
    * a full-size layout forever (a sf100 lineitem layout is ~15 GB,
    * and this disk has hit ENOSPC twice). Deletion honors the
    * [[gcGraceMs]] attach-recency window; crashed builders' orphan
    * `.tmp-<pid>` dirs are swept on the same schedule (by dir mtime —
    * they never have a seal marker).
    */
  private[graft] def gcStaleSiblings(parent: String, name: String, fp: String): Unit = {
    val kids = Option(new java.io.File(parent).listFiles()).getOrElse(Array.empty)
    val q = java.util.regex.Pattern.quote(name)
    val stale = s"^$q(-[0-9a-f]{12})?$$".r
    val tmp = s"^$q-[0-9a-f]{12}\\.tmp-[0-9]+$$".r
    val cutoff = System.currentTimeMillis() - gcGraceMs
    kids.foreach { f =>
      val isStale = f.getName != s"$name-$fp" && stale.findFirstIn(f.getName).isDefined
      val isOrphanTmp = tmp.findFirstIn(f.getName).isDefined
      if (isStale || isOrphanTmp) {
        val marker = new java.io.File(f, "_GRAFT_DONE")
        val lastUse = math.max(f.lastModified,
          if (marker.isFile) marker.lastModified else 0L)
        if (lastUse < cutoff) deleteRecursively(f)
      }
    }
  }

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }

  private[graft] def dirKey(dir: String): String =
    dir.replaceAll("/+$", "").replaceAll("[^A-Za-z0-9._-]", "_")

  private def fact(spark: SparkSession, dir: String, name: String,
      bucketKey: String,
      derive: DataFrame => DataFrame = identity,
      derivation: String = ""): DataFrame =
    derived(spark, dir, name, bucketKey,
      derive(Tables.table(spark, dir, name)), fingerprint(dir, name, derivation),
      sourceBytes(dir, name))
}
