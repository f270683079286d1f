package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic testdata scale-up: replicate an sf dir N× with
  * key-space offsets so Bench/BASELINE get a second, 10×-bigger scale
  * factor (r9 verdict: at sf0.1 Spark's fixed per-job overhead
  * dominates 60 of 77 queries and single-run noise can move the
  * aggregate 50% — the 2× bar needs a scale where data work is the
  * signal). The output is BENCH data, not a correctness fixture: the
  * driver's oracle gate stays at sf0.01 on the driver's own parquet.
  *
  * Replication rules (copy i of N):
  *   - dims (region, nation) copy verbatim; every fact/dim key offsets
  *     by `i × stride` with stride = max(key)+1 rounded up to a
  *     multiple of 100, so foreign keys keep their 1:1 mapping onto the
  *     replicated dimension (orders→customer, lineitem→orders/part/
  *     supplier) and the fixture moduli (doc_id % 25 planting,
  *     % 20 source derivation) keep the same per-copy fractions.
  *   - `documents.text` passes through a per-copy Caesar rotation of
  *     [a-z]: copies are textually DISTINCT (shingle overlap ≈ 0), so
  *     dedup/LSH work scales like an organic corpus instead of a
  *     45×-denser duplicate swamp, while lengths, whitespace, token
  *     counts and n_chars are preserved exactly.
  *   - `embeddings.embedding` circularly shifts by (i·7) mod 64:
  *     copies are new isotropic vectors (cosine vs original ≈ random),
  *     norms and dim preserved, so ANN/semdedup candidate density
  *     scales linearly like a real corpus.
  *   - `events` keeps its timestamp distribution (10× events per
  *     window — a denser stream, the realistic scale-up) with
  *     event_id/user_id offset; `ts` is normalized to TIMESTAMP micros
  *     via [[Tables.table]] so the written parquet reads identically
  *     in Spark 4 and DuckDB regardless of the source generation's
  *     nanos/micros encoding.
  *
  * Usage: runMain graft.MakeScale [srcDir dstDir copies [textMode [layer]]]
  * (defaults /root/testdata/sf0.1 → /tmp/graft_sf1 × 10, textMode
  * `rot`). textMode `perm` swaps the Caesar rotation for a SEEDED
  * alphabet permutation (and coordinate permutation for embeddings):
  * required when STACKING scale-ups (sf1 → sf10), because a second
  * rotation layer composes into rot(i+j) and copies with i+j ≡ i'+j'
  * (mod 26) would collapse into exact duplicates. `layer` salts the
  * perm seed stream per stacking level — two perm layers drawing from
  * the SAME family collide through copy 0's identity (see
  * [[seededPerm]]); sf10 → sf100 passes layer=1.
  */
object MakeScale {

  private def stride(df: DataFrame, key: String): Long = {
    val m = df.agg(max(col(key))).head().getLong(0)
    ((m + 1 + 99) / 100) * 100
  }

  /** The replicated id range must stay below the planted-fixture
    * offsets (Tables.ExactDupOffset / EmbDupOffset = 100M;
    * NearDupOffset = 200M rides on the same bound, since both planted
    * ranges are `offset + organic_id` and stay disjoint iff organic
    * ids stay under 100M). The r13 offset raise (1M → 100M) bought
    * two more 10× stackings: sf100 doc_id tops out ~5.1M ≪ 100M.
    * Whenever a further stacking would cross the bound, fail loudly
    * instead of silently colliding organic ids with injected-duplicate
    * ids (which would corrupt the docsWith*Dups / embWithNearDups
    * fixtures and the Bench recall probe).
    */
  private def requireFixtureHeadroom(df: DataFrame, key: String, copies: Int,
      strideV: Long, limit: Long): Unit = {
    val m = df.agg(max(col(key))).head().getLong(0)
    val top = (copies - 1) * strideV + m
    require(top < limit,
      s"replicated $key range tops out at $top >= $limit — organic ids would " +
        "collide with the planted-duplicate offsets in graft.Tables " +
        "(ExactDupOffset/NearDupOffset/EmbDupOffset); lower copies or raise the offsets")
  }

  /** Deterministic Fisher-Yates permutation of 0 until n, seeded per
    * copy via the shared splitmix mixer; copy 0 is the IDENTITY (the
    * original data must pass through unchanged).
    *
    * `layer` salts the seed stream so STACKED perm layers draw from
    * DISJOINT permutation families. Without it, copy 0's identity
    * composes symmetrically: stacking copies (j=0, k=m) and
    * (j=m, k=0) both apply perm_m to the same base text, so every
    * doc in those copies becomes a cross-copy EXACT duplicate —
    * measured at the first sf100 build: 455,840 duplicate groups
    * (18% of the corpus) vs sf10's 800 organic ones. sf1 → sf10 was
    * immune only because its two layers used disjoint transform
    * families (Caesar rotations, then perms). layer=0 reproduces the
    * historical sf1/sf10 data bit-identically.
    */
  private def seededPerm(n: Int, copy: Int, layer: Long): Array[Int] = {
    val p = Array.tabulate(n)(identity)
    if (copy == 0) return p
    var state = graft.plans.Signatures.splitmix(
      copy * 2654435761L + layer * 0x9e3779b97f4a7c15L)
    for (i <- (n - 1) to 1 by -1) {
      state = graft.plans.Signatures.splitmix(state)
      val j = ((state & Long.MaxValue) % (i + 1)).toInt
      val t = p(i); p(i) = p(j); p(j) = t
    }
    p
  }

  private def replicate(df: DataFrame, copies: Int)(f: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until copies).map(i => f(df, i)).reduce(_ unionAll _)

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val textMode = if (args.length > 3) args(3) else "rot"
    // perm-layer salt: every stacking level above the first MUST pass
    // a distinct value (sf1→sf10 predates the arg = layer 0; sf10→
    // sf100 passes 1) or copy-0's identity composes the same
    // permutation on two different copy paths (see seededPerm)
    val layer = if (args.length > 4) args(4).toLong else 0L
    require(textMode == "rot" || textMode == "perm", s"bad textMode $textMode")
    require(textMode == "perm" || copies <= 26,
      "rot mode collides past 26 copies — use perm")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString).toInt
    val spark = GraftConf.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def t(name: String): DataFrame = Tables.table(spark, src, name)
    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[make-scale] $name -> $dst/$name.parquet")
    }

    // dims: verbatim
    write("region", t("region"))
    write("nation", t("nation"))

    val cStr = stride(t("customer"), "c_custkey")
    val sStr = stride(t("supplier"), "s_suppkey")
    val pStr = stride(t("part"), "p_partkey")
    val oStr = stride(t("orders"), "o_orderkey")
    val eStr = stride(t("events"), "event_id")
    val uStr = stride(t("events"), "user_id")
    val dStr = stride(t("documents"), "doc_id")
    val vStr = stride(t("embeddings"), "vec_id")
    requireFixtureHeadroom(t("documents"), "doc_id", copies, dStr, Tables.ExactDupOffset)
    requireFixtureHeadroom(t("embeddings"), "vec_id", copies, vStr, Tables.EmbDupOffset)

    write("customer", replicate(t("customer"), copies)((df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * cStr))))
    write("supplier", replicate(t("supplier"), copies)((df, i) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(i * sStr))))
    write("part", replicate(t("part"), copies)((df, i) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(i * pStr))))
    write("orders", replicate(t("orders"), copies)((df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * oStr))
        .withColumn("o_custkey", col("o_custkey") + lit(i * cStr))))
    write("lineitem", replicate(t("lineitem"), copies)((df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * oStr))
        .withColumn("l_partkey", col("l_partkey") + lit(i * pStr))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * sStr))))
    write("events", replicate(t("events"), copies)((df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * eStr))
        .withColumn("user_id", col("user_id") + lit(i * uStr))))

    val az = "abcdefghijklmnopqrstuvwxyz"
    write("documents", replicate(t("documents"), copies)((df, i) => {
      val mapped =
        if (textMode == "rot") az.substring(i % 26) + az.substring(0, i % 26)
        else seededPerm(26, i, layer).map(az.charAt).mkString
      df.withColumn("doc_id", col("doc_id") + lit(i * dStr))
        .withColumn("text", translate(col("text"), az, mapped))
    }))
    write("embeddings", replicate(t("embeddings"), copies)((df, i) => {
      val dim = Tables.EmbeddingDim
      val perturbed =
        if (textMode == "rot") {
          val s = (i * 7) % dim
          if (s == 0) col("embedding")
          else expr(s"concat(slice(embedding, ${s + 1}, ${dim - s}), " +
            s"slice(embedding, 1, $s))")
        } else {
          // coordinate permutation: norm-preserving, cosine vs the
          // original ≈ random for isotropic data, collision-free when
          // stacked on a rotated layer
          val p = seededPerm(dim, i, layer)
          if (i == 0) col("embedding")
          else expr(p.map(j => s"embedding[$j]").mkString("array(", ", ", ")"))
        }
      df.withColumn("vec_id", col("vec_id") + lit(i * vStr))
        .withColumn("embedding", perturbed)
    }))

    println(s"[make-scale] done: $copies x $src -> $dst")
    spark.stop()
  }
}
