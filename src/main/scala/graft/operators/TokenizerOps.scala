package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** §2C (continued) — tokenizer TRAINING: byte-pair-encoding vocabulary
  * learning (Sennrich et al. 2016) as a distributed pipeline. The
  * reference has no tokenizer at all; a training-data engine needs the
  * vocab-fit step, not just token counting (q26) and packing (q55).
  *
  * Scale design — the whole point of the distributed formulation:
  *   - The corpus is scanned ONCE, into the word-frequency frame
  *     (`groupBy(word).count()`, map-side combined). By Heaps' law the
  *     vocab frame is orders of magnitude smaller than the corpus —
  *     at 100 TB the corpus scan is the only corpus-wide job; every
  *     merge iteration reads the (checkpointed) vocab frame only.
  *   - Each merge = one pair-explode + map-side-combined sum + a
  *     1-row `head` (the argmax), then a ROW-LOCAL left-to-right fold
  *     that applies the merge to each word's symbol array. No
  *     iteration shuffles anything wider than (pair, count).
  *   - Lineage is truncated per iteration (localCheckpoint, like q51's
  *     power method) so the plan stays flat across K merges.
  *
  * Ties break deterministically (count desc, then pair lexicographic)
  * so the merge sequence is engine-stable; TokenizerSpec pins it
  * against an independent driver-side reference BPE.
  */
object TokenizerOps {

  val BpeMerges = 30

  /** (word, cnt) corpus word-frequency frame — the one corpus-wide
    * aggregate of the fit.
    */
  private def wordFreq(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " +")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w"))
      .agg(count(lit(1)).as("cnt"))

  /** Left-to-right single-pass merge of adjacent (l, r) into l+r over a
    * symbol array — built with Column lambdas (no SQL-string splicing:
    * corpus symbols may contain any character).
    */
  private def applyMerge(syms: Column, l: String, r: String): Column = {
    val merged = lit(l + r)
    aggregate(
      syms,
      array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(l) && x === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(merged)))
          .otherwise(concat(acc, array(x))))
  }

  /** [[applyMerge]] behind a containment pre-check: the fold is an
    * `aggregate` higher-order function (CodegenFallback — interpreted,
    * O(len²) array rebuilding per word) while `array_contains` is a
    * cheap scan, and a word lacking either symbol can't match the
    * adjacent pair — the fold is the identity on it, so the guard is
    * result-transparent (r19; TokenizerSpec pins the merge sequence).
    *
    * ONLY safe when `syms` is a plain attribute: the guard references
    * the child THREE extra times, and interpreted eval has no common-
    * subexpression elimination — guarding the 30-deep [[applyMerges]]
    * encode chain (child = the previous merge's expression tree) would
    * re-evaluate the prefix per reference, exponentially. [[bpeFit]]
    * re-projects from a materialized column every step, so it qualifies.
    */
  private def applyMergeGuarded(syms: Column, l: String, r: String): Column =
    when(array_contains(syms, lit(l)) && array_contains(syms, lit(r)),
      applyMerge(syms, l, r))
      .otherwise(syms)

  /** The learned merge table: (step, left, right, merged, pair_count).
    * Runs the driver loop over the vocab frame; `k` bounds the vocab
    * size like any BPE fit.
    *
    * r20 (VERDICT item 4; guide §2.3/§2.4): the per-merge argmax RIDES
    * the action that materializes the vocab iterate. The old spelling
    * paid, per merge, a dedicated explode → groupBy(pair) → TakeOrdered
    * action — one (pair, count) SHUFFLE plus ~2 AQE stage-jobs — while
    * the merged vocab materialized as that action's side effect. Now
    * the merge projection is checkpointed EAGERLY (one narrow job over
    * the previous in-memory iterate, no shuffle at all) and
    * [[graft.plans.BpePairArgmax]] computes the next argmax as an
    * `observe()` metric of that same job. Merge selection is
    * bit-identical by construction (exact integer counts, same
    * count-desc/l/r UTF8-binary tie-break — TokenizerSpec pins the
    * sequence, q71_verify hash-gates it cross-engine).
    */
  private def bpeFit(docs: DataFrame, k: Int): Seq[(Int, String, String, Long)] = {
    import org.apache.spark.sql.Observation
    def fused(df: DataFrame): (DataFrame, Option[(String, String, Long)]) = {
      val obs = Observation()
      // eager checkpoint = the ONE job per merge round; the argmax of
      // the just-materialized iterate arrives as its observed metric
      val pinned = df
        .observe(obs, graft.plans.BpePairArgmax.of(col("syms"), col("cnt")).as("top"))
        .localCheckpoint()
      val top = Option(obs.get("top").asInstanceOf[org.apache.spark.sql.Row])
        .map(t => (t.getString(0), t.getString(1), t.getLong(2)))
      (pinned, top)
    }
    var (vocab, top) = fused(wordFreq(docs)
      .withColumn("syms", split(col("w"), ""))
      .select(col("syms"), col("cnt")))
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var step = 0
    // a None argmax means every word is fully merged — stop early
    while (step < k && top.isDefined) {
      val (l, r, c) = top.get
      step += 1
      merges += ((step, l, r, c))
      if (step < k) {
        // apply the merge and observe the NEXT round's argmax on the
        // same materializing job
        val next = fused(vocab
          .select(applyMergeGuarded(col("syms"), l, r).as("syms"), col("cnt")))
        vocab = next._1
        top = next._2
      } else top = None // k-th merge chosen: the k-th iterate is never needed
    }
    merges.result()
  }

  /** Fit memo, keyed by corpus dir: a production pipeline trains the
    * tokenizer ONCE and tokenizes forever after, so the encode path
    * (q75) consumes a stored merge table instead of re-fitting. q71
    * (the fit benchmark) always recomputes — and write-throughs here,
    * keeping fit cost attributed to the fit query. The table is
    * deterministic for a given corpus, so the memo is semantically
    * transparent.
    */
  private val fitCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Int, String, String, Long)]]()

  /** BPE vocabulary training over the documents corpus. Rows-only:
    * the merge loop's argmax-per-iteration has no SQL expression;
    * TokenizerSpec proves the merge sequence equals a driver-side
    * reference BPE and that the learned symbols reconstruct the vocab.
    */
  val q71_bpe_train: GraftQuery = GraftQuery(
    "q71_bpe_train",
    (s, dir) => {
      import s.implicits._
      val merges = bpeFit(Tables.table(s, dir, "documents"), BpeMerges)
      fitCache.put(s"$dir#$BpeMerges", merges)
      merges
        .map { case (step, l, r, c) => (step, l, r, l + r, c) }
        .toDF("step", "left", "right", "merged", "pair_count")
        .orderBy(col("step"))
    },
    None // iterative argmax loop — no single-statement oracle; see TokenizerSpec
  )

  private val VerifyMerges = 5

  /** One unrolled BPE iteration as DuckDB CTEs (the q51_verify
    * unrolled-iteration pattern): count adjacent pairs from v{k-1},
    * pick the argmax (count desc, then pair lexicographic — the same
    * tie-break as [[bpeFit]]), then apply the merge greedily
    * left-to-right. The greedy scan is spelled relationally: positions
    * matching (l, r) form runs of consecutive indices; within a run the
    * 1st, 3rd, 5th… merge and the position after each merged one is
    * consumed — exactly the left-to-right fold [[applyMerge]] runs
    * (a merged symbol l||r can never re-trigger the same (l, r) match,
    * since that would need r = '').
    */
  private def bpeIterSql(k: Int): String = {
    val prev = if (k == 1) "v0" else s"v${k - 1}"
    s""", p$k AS (
       |  SELECT syms[i] AS l, syms[i + 1] AS r, SUM(cnt) AS c
       |  FROM (SELECT cnt, syms, unnest(range(1, len(syms))) AS i FROM $prev) t
       |  GROUP BY 1, 2
       |), t$k AS (
       |  SELECT l, r, c FROM p$k ORDER BY c DESC, l, r LIMIT 1
       |), x$k AS (
       |  SELECT e.wid, e.cnt, e.i, e.sym, t.l, t.r,
       |    CASE WHEN e.sym = t.l
       |          AND lead(e.sym) OVER (PARTITION BY e.wid ORDER BY e.i) = t.r
       |         THEN 1 ELSE 0 END AS mt
       |  FROM (SELECT wid, cnt, unnest(syms) AS sym, generate_subscripts(syms, 1) AS i
       |        FROM $prev) e
       |  CROSS JOIN t$k t
       |), g$k AS (
       |  SELECT *, i - row_number() OVER (PARTITION BY wid, mt ORDER BY i) AS grp
       |  FROM x$k
       |), f$k AS (
       |  SELECT wid, cnt, i, sym, l, r, mt,
       |    CASE WHEN mt = 1
       |          AND row_number() OVER (PARTITION BY wid, mt, grp ORDER BY i) % 2 = 1
       |         THEN 1 ELSE 0 END AS dm
       |  FROM g$k
       |), o$k AS (
       |  SELECT wid, cnt, i,
       |    CASE WHEN dm = 1 THEN l || r ELSE sym END AS osym,
       |    COALESCE(lag(dm) OVER (PARTITION BY wid ORDER BY i), 0) AS consumed
       |  FROM f$k
       |), v$k AS (
       |  SELECT wid, ANY_VALUE(cnt) AS cnt, list(osym ORDER BY i) AS syms
       |  FROM o$k WHERE consumed = 0 GROUP BY wid
       |)""".stripMargin
  }

  /** The shared CTE chain: word frequencies → char-split v0 → k
    * unrolled merge iterations (v0 keeps the word so the encode
    * verify can map v{k}'s wid-keyed symbol arrays back to words).
    */
  private def bpeChainSql(k: Int): String =
    """WITH wf AS (
      |  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM (SELECT unnest(string_split_regex(text, ' +')) AS w FROM documents) t
      |  WHERE length(w) > 0
      |  GROUP BY w
      |), v0 AS (
      |  SELECT row_number() OVER (ORDER BY w) AS wid, w, cnt,
      |    string_split(w, '') AS syms
      |  FROM wf
      |)""".stripMargin +
      (1 to k).map(bpeIterSql).mkString

  private def bpeVerifySql(k: Int): String =
    bpeChainSql(k) +
      "\nSELECT * FROM (\n" +
      (1 to k).map(i =>
        s"SELECT $i AS step, l AS lsym, r AS rsym, l || r AS merged, " +
          s"CAST(c AS BIGINT) AS pair_count FROM t$i").mkString("\n UNION ALL ") +
      "\n) ORDER BY step"

  /** q75_verify's oracle: run the same k-merge chain, then ENCODE —
    * v{k}'s symbol arrays ARE the encoded lexicon (len = subword count
    * per distinct word; wid maps back to the word through v0), joined
    * onto the exploded corpus for the per-doc rollup q75 emits.
    */
  private def bpeEncodeVerifySql(k: Int): String =
    bpeChainSql(k) +
      s""", lex AS (
         |  SELECT v0.w, len(v$k.syms) AS n_tok
         |  FROM v$k JOIN v0 USING (wid)
         |), wt AS (
         |  SELECT doc_id, source, w FROM (
         |    SELECT doc_id, source,
         |      unnest(string_split_regex(text, ' +')) AS w
         |    FROM documents) t
         |  WHERE length(w) > 0
         |)
         |SELECT doc_id, source, COUNT(*) AS n_words,
         |  CAST(SUM(n_tok) AS BIGINT) AS n_bpe_tokens,
         |  CAST(MAX(n_tok) AS INT) AS max_word_tokens
         |FROM wt JOIN lex USING (w)
         |GROUP BY doc_id, source""".stripMargin

  /** q71's DRIVER-GATED companion: the SAME [[bpeFit]] loop truncated
    * to [[VerifyMerges]] fixed iterations, with BIGINT pair counts and
    * the lexicographic tie-break — fully SQL-expressible by unrolling
    * (q51_verify's pattern), so the merge-selection + merge-application
    * core carries a rows+schema+hash DuckDB oracle while the full
    * 30-merge q71 stays rows-only.
    */
  val q71_verify: GraftQuery = GraftQuery(
    "q71_verify",
    (s, dir) => {
      import s.implicits._
      bpeFit(Tables.table(s, dir, "documents"), VerifyMerges)
        .map { case (step, l, r, c) => (step, l, r, l + r, c) }
        .toDF("step", "lsym", "rsym", "merged", "pair_count")
        .orderBy(col("step"))
    },
    Some(bpeVerifySql(VerifyMerges))
  )

  /** The fit's merge chain applied to a symbol-array column, in
    * training order — BPE ENCODE. Legal because a merge only ever
    * creates pairs involving its own output symbol: by the time merge
    * i applies, merges 1..i-1 can never newly apply again, so the
    * sequential fold reproduces the iterate-until-fixpoint reference
    * segmentation exactly (TokenizerSpec proves it word-for-word).
    */
  private def applyMerges(syms: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(syms) { case (c, (l, r)) => applyMerge(c, l, r) }

  /** q75: distributed BPE ENCODE — the other half of q71's fit, giving
    * the engine a full train→tokenize loop (real subword counts for
    * packing/budgeting, not q26's whitespace proxy).
    *
    * Scale design: the merge fold is paid ONCE PER DISTINCT WORD, not
    * per occurrence — by Heaps' law the lexicon frame is sublinear in
    * corpus size, so the expensive row-local encode runs on a frame
    * orders of magnitude smaller than the token stream. The encoded
    * lexicon then joins back onto the exploded corpus keyed on the
    * word (Spark broadcasts it while the vocab fits — the common case;
    * AQE falls back to a shuffle join on the word key beyond that),
    * and the per-doc rollup is one map-side-combinable aggregate.
    */
  /** The q75 encode pipeline over an explicit merge table: merge fold
    * paid once per DISTINCT word (Heaps'-law lexicon), joined back onto
    * the exploded corpus, per-doc rollup map-side combined. Shared by
    * q75 (full 30-merge fit) and q75_verify (fixed 5-merge fit).
    */
  private def encodeRollup(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val wtoks = docs.select(col("doc_id"), col("source"),
      explode(split(col("text"), " +")).as("w"))
      .filter(length(col("w")) > 0)
    val lexicon = wtoks.select(col("w")).distinct()
      .withColumn("n_tok", size(applyMerges(split(col("w"), ""), merges)))
    wtoks.join(lexicon, "w")
      .groupBy(col("doc_id"), col("source"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("n_tok")).cast("bigint").as("n_bpe_tokens"),
        max(col("n_tok")).as("max_word_tokens"))
  }

  val q75_bpe_encode: GraftQuery = GraftQuery(
    "q75_bpe_encode",
    (s, dir) => {
      val docs = Tables.table(s, dir, "documents")
      val merges = fitCache
        .computeIfAbsent(s"$dir#$BpeMerges", _ => bpeFit(docs, BpeMerges))
        .map { case (_, l, r, _) => (l, r) }
      encodeRollup(docs, merges)
    },
    None // merge table is data-dependent (q71's iterative fit); encode
    //      pinned word-for-word against a reference BPE in TokenizerSpec
  )

  /** q75's DRIVER-GATED companion: the SAME encode pipeline under the
    * fixed 5-merge fit q71_verify pins, so merge APPLICATION at encode
    * time (the sequential fold) carries a full hash oracle — the
    * oracle reruns the unrolled merge chain and reads each word's
    * subword count straight off the final vocab iterate's symbol
    * arrays. The 30-merge q75 stays rows-only (data-dependent table).
    */
  val q75_verify: GraftQuery = GraftQuery(
    "q75_verify",
    (s, dir) => {
      val docs = Tables.table(s, dir, "documents")
      encodeRollup(docs,
        bpeFit(docs, VerifyMerges).map { case (_, l, r, _) => (l, r) })
    },
    Some(bpeEncodeVerifySql(VerifyMerges))
  )

  val all: Seq[GraftQuery] =
    Seq(q71_bpe_train, q71_verify, q75_bpe_encode, q75_verify)
}
