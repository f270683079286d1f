package graft.tools

import org.apache.spark.sql.functions._

/** Generate a CLUSTERED synthetic embeddings table (dev tool) — the
  * counterpart to the isotropic testdata, for measuring how the
  * two-level IVF serves clustered real-world-shaped data (its
  * recall/fraction curve, SURVEY.md R18g, backs the R18b scaladoc claim).
  * 10k cluster centers (hash noise), 100 members each (center + 5%
  * member noise), round-robin cluster ids so the id-ordered kmeans
  * sample covers all clusters.
  *
  * An optional third arg concentrates mass: `hotPermille` vectors per
  * 1000 land in cluster 0 (same tight 5% noise), the rest spread
  * round-robin — the DEGENERATE corpus for the fine fit's hot-cell
  * guard rehearsal (a near-duplicate-heavy crawl concentrates
  * embedding mass exactly like this; the unguarded r18 fit was
  * quadratic in one cell's mass share inside one task). The hot mass
  * starts only PAST the id-ordered kmeans sample window (ids ≥ 4096):
  * a concentration the coarse fit can SEE attracts ~proportionally
  * many centroids and dilutes itself — the hazard is late-arriving
  * mass the fit never sampled, which argmaxes wholesale into one
  * cell (measured: a visible 50% cluster spread over ~128 cells,
  * max cell share 1.6%; the invisible variant pins ~50% in one).
  *
  * {{{ tools/run_main.sh graft.tools.MakeClustered /tmp/graft_clustered 1000000 }}}
  * {{{ tools/run_main.sh graft.tools.MakeClustered /tmp/graft_hot 1000000 500 }}}
  */
object MakeClustered {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft_clustered")
    val n = if (args.length > 1) args(1).toLong else 1000000L
    val hotPermille = if (args.length > 2) args(2).toInt else 0
    val clusters = 10000L
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = graft.GraftConf.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dim = graft.Tables.EmbeddingDim
    // hot mass only past the 2048-row id-ordered fit sample (see the
    // scaladoc); the spread population interleaves throughout
    val cid = s"(CASE WHEN id >= 4096 AND id % 1000 < $hotPermille" +
      s" THEN 0 ELSE id % $clusters END)"
    spark.range(n).select(col("id").as("vec_id"),
        expr(s"transform(sequence(0, ${dim - 1}), j -> cast(" +
          s"sin(($cid * 131 + j * 17) * 12.9898d) * 43758.5453d % 1.0d" +
          s" + 0.05d * (sin((id * 7919 + j) * 78.233d) * 12543.21d % 1.0d)" +
          " as float))").as("embedding"),
        concat(lit("c"), expr(cid).cast("string")).as("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"[make-clustered] wrote $n vectors, $clusters clusters, " +
      s"hot=$hotPermille/1000 -> $out")
    spark.stop()
  }
}
