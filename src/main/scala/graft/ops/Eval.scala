package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classifier-evaluation metrics over scored corpora — the feedback loop of
  * every learned quality/toxicity/language filter in a curation pipeline:
  * score a sample, join the labels, measure, THEN decide the threshold.
  */
object Eval {

  /** Exact ROC AUC via the Mann–Whitney U statistic, ties handled by the
    * standard 1/2 credit — computed entirely in integers: with the score
    * histogram `(score, pos, neg)` sorted ascending and `nb` = negatives
    * strictly below, `U2 = Σ pos·(2·nb + neg)` counts 2·(pos above neg) +
    * (pos tied with neg), so `AUC = U2 / (2·n_pos·n_neg)` — emitted as the
    * one FP division of two exact longs (cross-engine stable). Requires an
    * integer score column (quantize upstream if needed; AUC only reads the
    * order, so any order-preserving quantization is AUC-lossless up to tie
    * granularity).
    *
    * Scale shape: the corpus-sized step is the `groupBy(score)` partial
    * aggregate — one shuffle DOWN to the score histogram. The prefix sum
    * then runs over the HISTOGRAM frame (rows = distinct scores: the score
    * resolution, e.g. ≤ a few thousand for any bucketed quality score —
    * NOT the corpus), which is why its unpartitioned window is safe and
    * carries a catalog allowlist justification. Overflow dial: longs hold
    * `2·n_pos·n_neg` up to corpora of ~3e9 rows; beyond that route U2
    * through DECIMAL(38,0).
    *
    * Returns one row: `(u2, n_pos, n_neg, auc)`.
    */
  /** The full ROC curve as exact integer confusion counts, one row per
    * distinct score: thresholding at `score >= s` gives
    * `(threshold, tp, fp, fn, tn)` — TPR/FPR are one division away, and
    * picking the operating threshold is a filter on this frame. Same scale
    * shape as [[aucExact]]: corpus → score histogram in one partial-agg
    * shuffle, then prefix sums over distinct scores only (the allowlisted
    * tiny-frame window).
    */
  def rocPoints(df: DataFrame, scoreCol: Column, labelCol: Column): DataFrame = {
    val d = df.select(scoreCol.cast("long").as("score"),
      labelCol.cast("long").as("lab"))
    val g = d.groupBy(col("score"))
      .agg(sum(col("lab")).as("pos"), sum(lit(1L) - col("lab")).as("neg"))
    // cumulative from the TOP of the score order = counts at `score >= s`
    val above = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    g.select(col("score").as("threshold"),
        sum(col("pos")).over(above).as("tp"),
        sum(col("neg")).over(above).as("fp"),
        (sum(col("pos")).over(total) - sum(col("pos")).over(above)).as("fn"),
        (sum(col("neg")).over(total) - sum(col("neg")).over(above)).as("tn"))
      .orderBy(col("threshold"))
  }

  def aucExact(df: DataFrame, scoreCol: Column, labelCol: Column): DataFrame = {
    val d = df.select(scoreCol.cast("long").as("score"),
      labelCol.cast("long").as("lab"))
    val g = d.groupBy(col("score"))
      .agg(sum(col("lab")).as("pos"), sum(lit(1L) - col("lab")).as("neg"))
    val w = Window.orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("nb", coalesce(sum(col("neg")).over(w), lit(0L)))
      .agg(
        sum(col("pos") * (lit(2L) * col("nb") + col("neg"))).as("u2"),
        sum(col("pos")).as("n_pos"),
        sum(col("neg")).as("n_neg"))
      .select(col("u2"), col("n_pos"), col("n_neg"),
        (col("u2").cast("double") /
          (lit(2L) * col("n_pos") * col("n_neg")).cast("double")).as("auc"))
  }

  /** PER-CLASS CONFUSION STATISTICS — the multi-class completion of
    * [[rocPoints]]/[[aucExact]]: for every gold class, exact integer
    * (tp, fp, fn, n_gold, n_pred) plus precision / recall / F1. The
    * router-audit for any categorical filter (language ID, domain
    * classifier, quality-tier router): which classes leak into which.
    *
    * Exactness: every count is an integer from one partial-combined
    * groupBy; each metric is ONE IEEE division of exact longs — F1 uses
    * the algebraic form 2·tp / (n_pred + n_gold), identical to
    * 2PR/(P+R) but a single division instead of an FP chain, so both
    * engines agree bitwise. Classes present only in gold (never
    * predicted) or only in pred (never gold) still get a row — their
    * undefined metric (0/0) is NULL in both engines.
    *
    * Scale shape: the corpus pays one shuffle DOWN to the C×C cell table
    * (C = class count — tens); the per-class marginals and the final
    * full-outer assembly run on C-sized frames.
    */
  def confusionStats(df: DataFrame, predCol: Column, goldCol: Column): DataFrame =
    confusionFromCells(confusionCells(df, predCol, goldCol))

  /** The confusion matrix's MERGEABLE STATE: (pred, gold, n) cells — the
    * corpus-sized shuffle happens here, once; integer counts sum across
    * any partition of the corpus (batches, days, streams), so
    * `mergeConfusionCells(a, b)` == one-shot cells over the concatenation.
    * The streaming monitor ([[graft.streaming.EvalMonitorJob]]) folds
    * per-trigger cells into this state and re-assembles stats per batch.
    */
  def confusionCells(df: DataFrame, predCol: Column, goldCol: Column): DataFrame =
    // NULL classes become a visible "(null)" category up front: the class
    // marginals in the assembly are equi-joins, where a null key never
    // matches itself — a null class would otherwise split into two
    // half-filled rows instead of one
    df.select(coalesce(predCol.cast("string"), lit("(null)")).as("pred"),
        coalesce(goldCol.cast("string"), lit("(null)")).as("gold"))
      .groupBy(col("pred"), col("gold")).agg(count(lit(1)).as("n"))

  /** Fold a new batch's cells into existing state (both (pred, gold, n)).
    * Exact by integer-sum mergeability.
    */
  def mergeConfusionCells(state: DataFrame, batchCells: DataFrame): DataFrame =
    state.unionByName(batchCells)
      .groupBy(col("pred"), col("gold")).agg(sum(col("n")).as("n"))

  /** Per-class stats from a (pred, gold, n) cell table — C²-sized work. */
  def confusionFromCells(cells: DataFrame): DataFrame = {
    val byGold = cells.groupBy(col("gold").as("cls"))
      .agg(sum(col("n")).as("n_gold"),
        sum(when(col("pred") === col("gold"), col("n")).otherwise(0L)).as("tp"))
    val byPred = cells.groupBy(col("pred").as("cls"))
      .agg(sum(col("n")).as("n_pred"))
    byGold.join(byPred, Seq("cls"), "full_outer")
      .na.fill(0L, Seq("n_gold", "tp", "n_pred"))
      .select(col("cls"), col("tp"),
        (col("n_pred") - col("tp")).as("fp"),
        (col("n_gold") - col("tp")).as("fn"),
        col("n_gold"), col("n_pred"),
        when(col("n_pred") > 0,
          col("tp").cast("double") / col("n_pred").cast("double")).as("precision"),
        when(col("n_gold") > 0,
          col("tp").cast("double") / col("n_gold").cast("double")).as("recall"),
        when(col("n_pred") + col("n_gold") > 0,
          (lit(2L) * col("tp")).cast("double") /
            (col("n_pred") + col("n_gold")).cast("double")).as("f1"))
  }

  /** COHEN'S KAPPA — chance-corrected agreement between two categorical
    * raters (Cohen 1960): the inter-annotator-reliability gate before any
    * human-labeled quality/preference set is trusted for training. With
    * exact integer N (items), A (agreements) and E = Σ_k row_k·col_k (the
    * chance-agreement numerator over the raters' marginals),
    *
    *   κ = (p_o − p_e) / (1 − p_e) = (N·A − E) / (N² − E)
    *
    * — the right-hand form keeps BOTH numerator and denominator exact
    * Longs, so the emitted κ is one IEEE division (cross-engine bitwise,
    * the [[aucExact]] rule). Overflow dial: N² needs N < ~3e9 items
    * (per-slice kappas at corpus scale stay far under); beyond that route
    * the products through DECIMAL(38,0).
    *
    * Scale shape: one corpus shuffle down to the C×C cell table; marginals
    * and the final scalar fold run on C-sized frames. Returns one row
    * `(n, agree, chance_num, kappa)`.
    */
  def cohenKappa(df: DataFrame, raterA: Column, raterB: Column): DataFrame = {
    // same "(null)" normalization as confusionStats: the marginal inner
    // join below must see null votes as a real matching category
    val cells = df
      .select(coalesce(raterA.cast("string"), lit("(null)")).as("ra"),
        coalesce(raterB.cast("string"), lit("(null)")).as("rb"))
      .groupBy(col("ra"), col("rb")).agg(count(lit(1)).as("n"))
    val rowM = cells.groupBy(col("ra").as("cls")).agg(sum(col("n")).as("row_n"))
    val colM = cells.groupBy(col("rb").as("cls")).agg(sum(col("n")).as("col_n"))
    val chance = rowM.join(colM, Seq("cls")) // inner: absent side ⇒ product 0
      .agg(sum(col("row_n") * col("col_n")).as("chance_num"))
    val totals = cells.agg(sum(col("n")).as("n"),
      sum(when(col("ra") === col("rb"), col("n")).otherwise(0L)).as("agree"))
    totals.crossJoin(chance) // two single-row frames
      .select(col("n"), col("agree"), col("chance_num"),
        ((col("n") * col("agree") - col("chance_num")).cast("double") /
          (col("n") * col("n") - col("chance_num")).cast("double")).as("kappa"))
  }

  /** BRADLEY–TERRY PREFERENCE STRENGTHS — fit item scores from pairwise
    * win counts by Hunter (2004)'s MM iteration, the standard model behind
    * preference-data quality audits (and the Elo-adjacent ranking used on
    * LLM comparison data): P(i beats j) = s_i / (s_i + s_j),
    *
    *   s_i ← W_i / Σ_{j≠i} n_ij / (s_i + s_j),   then normalize Σ s = 1.
    *
    * Input `pairs`: (item_a, item_b, wins_a, wins_b) — one row per
    * unordered pair. Runs a FIXED `iters` MM steps from the uniform start
    * (deterministic, replayable; convergence is geometric, a handful of
    * steps ranks stably).
    *
    * Cross-engine determinism: every FP sum in the loop (the per-item
    * denominator over opponents, the normalizing Σ s over items) is an
    * ORDERED SEQUENTIAL LEFT FOLD — Spark folds a key-sorted collect_list
    * with `aggregate(...)`, DuckDB folds `list(t ORDER BY key)` with
    * `list_reduce` — so both engines execute the identical IEEE addition
    * dag and match bitwise. (The q148 DECIMAL-cast trick is NOT enough
    * here: a term landing near a rounding tie at the 12th decimal rounds
    * HALF_UP in Spark and differently in DuckDB, and the MM loop amplifies
    * the ulp — measured 14 ulps after 3 iterations on sf0.01.) The fold is
    * safe because these frames are ITEM-sized by construction — the
    * mergeable partial-agg scale story lives in the pair aggregation the
    * caller already did, not here.
    *
    * Scale shape: the corpus was already reduced to the pair table by the
    * caller (items = event types / sources / model ids — tens to
    * thousands); every MM step is two item-keyed equi-joins + one
    * partial-combined agg on an ITEM-sized frame. Items that lose every
    * comparison collapse to the 1e-12 score floor below (which keeps the
    * update total even on degenerate comparison graphs); on connected
    * graphs — every item wins at least once — the floor never binds.
    *
    * Returns (item, wins, n_comparisons, bt_score), one row per item.
    */
  /** FLEISS' KAPPA — chance-corrected agreement for a FIXED number of
    * raters per item (Fleiss 1971), the multi-annotator generalization of
    * [[cohenKappa]]: the reliability gate when ≥ 3 labelers rate each
    * document. Input is LONG format — one row per (item, rater vote) with
    * the assigned category; `nRaters` raters per item is the Fleiss
    * contract (the emitted n_min/n_max expose violations instead of
    * silently mis-weighting).
    *
    * Exactness: with A = Σ_ik r_ik², S = Σ_k (Σ_i r_ik)², N items, n
    * raters, the textbook P̄ = (A − Nn)/(Nn(n−1)) and P̄_e = S/(Nn)²
    * reduce to
    *
    *   κ = ((A − Nn)·Nn − S·(n−1)) / ((n−1)·((Nn)² − S))
    *
    * — numerator and denominator exact Longs, ONE IEEE division (the
    * [[cohenKappa]] rule). Overflow dial: (Nn)² needs Nn < ~3e9 votes;
    * beyond that route the two products through DECIMAL(38,0).
    *
    * Scale shape: one corpus shuffle down to the (item, category) vote
    * cells; the item marginal (which also audits the per-item rater
    * count) and category marginal are partial-combined aggregates over
    * cells; the final fold is three single-row frames. Returns one row
    * `(n_items, n_raters, n_min, n_max, a_sum, s_sum, kappa)`.
    */
  def fleissKappa(votes: DataFrame, item: Column, category: Column,
                  nRaters: Int): DataFrame = {
    require(nRaters >= 2)
    val cells = votes
      .select(item.cast("string").as("it"), category.cast("string").as("cat"))
      .groupBy(col("it"), col("cat")).agg(count(lit(1)).as("r"))
    val perItem = cells.groupBy(col("it")).agg(sum(col("r")).as("n_i"))
      .agg(count(lit(1)).as("n_items"),
        min(col("n_i")).as("n_min"), max(col("n_i")).as("n_max"))
    val aSum = cells.agg(sum(col("r") * col("r")).as("a_sum"))
    val sSum = cells.groupBy(col("cat")).agg(sum(col("r")).as("t"))
      .agg(sum(col("t") * col("t")).as("s_sum"))
    val n = lit(nRaters.toLong)
    perItem.crossJoin(aSum).crossJoin(sSum) // three single-row frames
      .select(col("n_items"), n.as("n_raters"), col("n_min"), col("n_max"),
        col("a_sum"), col("s_sum"),
        (((col("a_sum") - col("n_items") * n) * col("n_items") * n -
            col("s_sum") * (n - 1L)).cast("double") /
          ((n - 1L) * (col("n_items") * n * col("n_items") * n -
            col("s_sum"))).cast("double")).as("kappa"))
  }

  /** PAIRWISE WIN RATES WITH WILSON INTERVALS — per unordered pair, item
    * A's observed win rate and its Wilson score interval (Wilson 1927; the
    * standard small-n-honest binomial CI — never leaves [0,1], sane at
    * w = 0 or w = n). The "is this preference signal real or 6 coin
    * flips?" audit that should precede fitting [[bradleyTerry]] strengths.
    *
    * Cross-engine determinism: p̂ and every interval endpoint are FIXED
    * dags of IEEE ops (division, multiply, one sqrt — all correctly
    * rounded) over exact Long w and n; the oracle states the SAME dag
    * textually, so values match bitwise. Ties (w_a = w_b) are the
    * caller's pair-construction concern, not re-judged here.
    *
    * Scale shape: purely per-row arithmetic on the (already aggregated,
    * P²-bounded) pair table — narrow, codegen'd, no shuffle.
    */
  def winRateCI(pairs: DataFrame, z: Double = 1.96): DataFrame = {
    require(z > 0)
    val n = (col("wins_a") + col("wins_b")).cast("long")
    val p = col("wins_a").cast("double") / n.cast("double")
    val zz = lit(z) * lit(z)
    val nn = n.cast("double")
    val denom = lit(1.0) + zz / nn
    val center = p + zz / (lit(2.0) * nn)
    val margin = lit(z) * sqrt(p * (lit(1.0) - p) / nn +
      zz / (lit(4.0) * nn * nn))
    // clamp to [0,1]: the true Wilson interval lies inside by
    // construction; the clamp only clips FP overshoot (measured 1 ulp at
    // p = 1, n = 5) so downstream range checks can rely on the bounds
    pairs.select(col("item_a"), col("item_b"),
      col("wins_a").cast("long").as("wins_a"),
      col("wins_b").cast("long").as("wins_b"),
      n.as("n"), p.as("win_rate_a"),
      greatest((center - margin) / denom, lit(0.0)).as("wilson_lo_a"),
      least((center + margin) / denom, lit(1.0)).as("wilson_hi_a"))
  }

  /** RETRIEVAL METRICS at k (MRR, recall@k, NDCG@k with binary gains) —
    * the eval loop of every retrieval/ANN/dedup-mining component: given a
    * RANKED results table `(query_id, rank, item_id)` (rank 1-based, the
    * producer's tie rule already applied) and a ground-truth relevance
    * table `(query_id, item_id)`, score each query:
    *
    *   rr        = 1/first_rel_rank (0 when nothing relevant in the top k)
    *   recall@k  = |relevant ∩ top-k| / |relevant|
    *   ndcg@k    = Σ_{rel hits} 1/log2(rank+1)  /  Σ_{i≤min(k,|rel|)} 1/log2(i+1)
    *
    * Cross-engine determinism: counts and first_rel_rank are exact ints;
    * each discount 1/log2(i+1) = ln2/ln(i+1) is a fixed double dag
    * truncated to DECIMAL(28,12) (the q83 recipe), so DCG and the ideal
    * DCG are order-independent exact decimal sums; rr/recall/ndcg are one
    * FP division each of exact values.
    *
    * Scale shape: results are ≤ k rows per query by construction, truth is
    * the relevance table — both query-keyed; every join and aggregate here
    * shuffles on query_id with partial combine, and the k-row discount
    * table broadcasts. Nothing corpus-sized enters: the expensive part of
    * retrieval eval is PRODUCING results, not scoring them.
    */
  def retrievalMetrics(results: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(k >= 1 && k <= 10000, "discount table bound: k <= 10000")
    val spark = results.sparkSession
    val dec = DecimalType(28, 12)
    // rank -> truncated 1/log2(rank+1), shared by DCG and ideal-DCG
    val disc = spark.range(1, k + 1L)
      .select(col("id").as("rank"),
        (log(lit(2.0)) / log((col("id") + 1).cast("double"))).cast(dec).as("disc"))
    // dedup the relevance pairs: a duplicated (query, item) truth row would
    // otherwise fan out result rows through the left join, silently
    // double-counting hits in every metric (the labelPropagation-seeds
    // lesson) — and inflating n_rel_total
    val rel = truth.select(col("query_id"), col("item_id")).distinct()
    val marked = results.where(col("rank") <= k)
      .join(rel.withColumn("is_rel", lit(1L)),
        Seq("query_id", "item_id"), "left")
      .join(broadcast(disc), Seq("rank"))
    val perQ = marked.groupBy(col("query_id"))
      .agg(
        sum(coalesce(col("is_rel"), lit(0L))).as("n_rel_at_k"),
        coalesce(min(when(col("is_rel") === 1L, col("rank"))), lit(0L))
          .as("first_rel_rank"),
        sum(when(col("is_rel") === 1L, col("disc"))
          .otherwise(lit(0).cast(dec))).as("dcg"))
    val totals = rel.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_rel_total"))
    // ideal DCG: the first min(k, |relevant|) discount rows per query —
    // a broadcast theta-join against the k-row discount table
    val idcg = totals.join(broadcast(disc),
        col("rank") <= least(lit(k.toLong), col("n_rel_total")))
      .groupBy(col("query_id")).agg(sum(col("disc")).as("idcg"))
    perQ.join(totals, Seq("query_id"), "left")
      .join(idcg, Seq("query_id"), "left")
      .na.fill(0L, Seq("n_rel_total"))
      .select(col("query_id"), col("n_rel_total"), col("n_rel_at_k"),
        col("first_rel_rank"),
        when(col("first_rel_rank") > 0,
          lit(1.0) / col("first_rel_rank").cast("double"))
          .otherwise(lit(0.0)).as("rr"),
        when(col("n_rel_total") > 0,
          col("n_rel_at_k").cast("double") / col("n_rel_total").cast("double"))
          .otherwise(lit(0.0)).as("recall_at_k"),
        when(col("idcg").isNotNull && col("dcg").isNotNull,
          col("dcg").cast("double") / col("idcg").cast("double"))
          .otherwise(lit(0.0)).as("ndcg_at_k"))
  }

  /** SENTENCE-LEVEL BLEU + ROUGE-N (Papineni et al. 2002; Lin 2004;
    * smoothing per Chen & Cherry 2014 method 1 on every order): per
    * (candidate, reference) pair, clipped n-gram precisions up to order 2
    * plus the brevity penalty in LOG domain, and the same clipped counts
    * re-normalized by the REFERENCE side as ROUGE-1/2 recall — the
    * generation-overlap eval that grades distillation outputs, round-trip
    * augmentation, and paraphrase-mined pairs before they enter a corpus.
    *
    *   match_n = Σ_g min(count_cand(g), count_ref(g))   (clipped)
    *   p_n     = (match_n + 1) / (tot_n + 1)            (add-1 smoothing,
    *             so log never hits −∞ on zero-overlap or short pairs)
    *   log_bp  = min(0, 1 − ref_len/cand_len)
    *   log_bleu = log_bp + (ln p_1 + ln p_2) / 2
    *
    * Kept in log domain deliberately: exp is the one libm op whose final
    * ulp is NOT pinned cross-engine, while each ln here is truncated
    * through DECIMAL(18,12) (the importanceWeights recipe) before the
    * fixed-order FP dag — so the oracle replays bitwise. All counts are
    * exact Longs; p_n is one IEEE division of exact integers.
    *
    * Scale shape: tokenization and gram construction are narrow; the one
    * corpus-sized exchange is the (pair, n, gram) count shuffle, and the
    * per-pair reduction is a partial-combined groupBy — no windows, no
    * driver state. Pairs whose candidate tokenizes to zero tokens drop
    * (cand_len = 0 has no defined brevity penalty).
    */
  def bleuPairs(pairs: DataFrame, pairId: Column, cand: Column,
                ref: Column): DataFrame = {
    def toks(c: Column): Column =
      filter(split(lower(trim(c)), "\\s+"), w => length(w) > 0)
    // exact n-grams only (none when the side has < n tokens): Spark's
    // sequence(1, 0) counts DOWN, so the empty case needs the guard
    def grams(tc: Column, n: Int): Column =
      if (n == 1) tc
      else when(size(tc) >= n,
        transform(sequence(lit(1), size(tc) - (n - 1)),
          i => array_join(slice(tc, i, lit(n)), " ")))
        .otherwise(array().cast("array<string>"))
    val base = pairs.select(pairId.cast("long").as("pair_id"),
      toks(cand).as("ct"), toks(ref).as("rt"))
    // grams are HASHED before the explode: the count shuffle then carries
    // (pair, n, 8-byte key) instead of bigram strings — measured 4x on the
    // 10x rehearsal corpus, where the string shuffle dominated wall time.
    // Collision-safe for clipped counting (two grams colliding within one
    // (pair, n) group at 64 bits — the q44/q48 negligible-mass argument),
    // and no output column carries the gram text.
    val ex = (1 to 2).map { n =>
      base.select(col("pair_id"), lit(n).as("n"),
        explode(concat(
          transform(grams(col("ct"), n),
            g => struct(xxhash64(g).as("g"), lit(1L).as("c"), lit(0L).as("r"))),
          transform(grams(col("rt"), n),
            g => struct(xxhash64(g).as("g"), lit(0L).as("c"), lit(1L).as("r"))))).as("x"))
    }.reduce(_ unionByName _)
    val perN = ex
      .groupBy(col("pair_id"), col("n"), col("x.g"))
      .agg(sum(col("x.c")).as("cc"), sum(col("x.r")).as("rc"))
      .groupBy(col("pair_id"), col("n"))
      .agg(sum(least(col("cc"), col("rc"))).as("m"),
        sum(col("cc")).as("ct"), sum(col("rc")).as("rt"))
    val wide = perN.groupBy(col("pair_id")).agg(
      sum(when(col("n") === 1, col("m")).otherwise(lit(0L))).as("match_1"),
      sum(when(col("n") === 1, col("ct")).otherwise(lit(0L))).as("cand_len"),
      sum(when(col("n") === 1, col("rt")).otherwise(lit(0L))).as("ref_len"),
      sum(when(col("n") === 2, col("m")).otherwise(lit(0L))).as("match_2"),
      sum(when(col("n") === 2, col("ct")).otherwise(lit(0L))).as("tot_2"),
      sum(when(col("n") === 2, col("rt")).otherwise(lit(0L))).as("rtot_2"))
    def ln12(x: Column): Column = log(x).cast(Dec1812)
    val p1 = (col("match_1") + 1).cast("double") / (col("cand_len") + 1).cast("double")
    val p2 = (col("match_2") + 1).cast("double") / (col("tot_2") + 1).cast("double")
    wide.where(col("cand_len") > 0)
      .select(col("pair_id"), col("cand_len"), col("ref_len"),
        col("match_1"), col("match_2"), col("tot_2"),
        p1.as("p1"), p2.as("p2"),
        least(lit(0.0), lit(1.0) -
          col("ref_len").cast("double") / col("cand_len").cast("double"))
          .as("log_bp"),
        // ROUGE-N recall (Lin 2004): same clipped co-occurrence counts,
        // reference-side denominator, unsmoothed (null when no ref grams)
        when(col("ref_len") > 0,
          col("match_1").cast("double") / col("ref_len").cast("double"))
          .as("rouge_1"),
        when(col("rtot_2") > 0,
          col("match_2").cast("double") / col("rtot_2").cast("double"))
          .as("rouge_2"))
      .withColumn("log_bleu",
        col("log_bp") +
          (ln12(col("p1")) + ln12(col("p2"))).cast("double") / 2.0)
  }

  /** chrF (Popović 2015): character n-gram F-score per (candidate,
    * reference) pair — the tokenization-free generation metric that
    * catches morphology-level agreement BLEU's word grams miss. Both
    * sides are lowercased and whitespace-REMOVED (the sacrebleu default),
    * then clipped char n-gram matches for n = 1..`maxN` give per-order
    *   P_n = match_n / cand_n,  R_n = match_n / ref_n,
    *   F_n = (1+β²)·P_n·R_n / (β²·P_n + R_n)   (0 when the denominator is 0)
    * and chrf = mean of F_n over orders where either side has grams.
    * β = 2 (recall-weighted, the standard). Every count is an exact Long;
    * each F_n is a fixed double dag and the final mean a fixed-order sum —
    * deterministic cross-engine, no libm beyond division.
    *
    * Scale shape: ZERO shuffle — both sides of a pair live on one row, so
    * the clipped gram counting is a single codegen'd kernel call per pair
    * (`TextKernel.clippedGrams`, one ref-side HashMap per order) and the
    * per-order F's fold narrowly over the resulting array. The previous
    * (pair, n, gram) explode-and-count shape shuffled/spilled the whole
    * gram stream for a computation that never crosses rows — this is the
    * round-10 fix for the official-bench q186 blowup. Value-exact with the
    * old plan: same counts, same fixed ascending-n IEEE summation dag.
    */
  def chrF(pairs: DataFrame, pairId: Column, cand: Column, ref: Column,
           maxN: Int = 3, beta: Double = 2.0): DataFrame = {
    require(maxN >= 1 && maxN <= 6, s"maxN must be in 1..6, got $maxN")
    def strip(c: Column): Column =
      regexp_replace(lower(trim(c)), "\\s+", "")
    val b2 = beta * beta
    def fN(x: Column): Column = {
      val p = x.getField("m").cast("double") / x.getField("ct").cast("double")
      val r = x.getField("m").cast("double") / x.getField("rt").cast("double")
      when(x.getField("ct") > 0 && x.getField("rt") > 0 && x.getField("m") > 0,
        lit(1.0 + b2) * p * r / (lit(b2) * p + r)).otherwise(lit(0.0))
    }
    pairs
      .select(pairId.cast("long").as("pair_id"),
        strip(cand).as("cs"), strip(ref).as("rs"))
      .select(col("pair_id"),
        graft.functions.gfn.clipped_grams(col("cs"), col("rs"), maxN).as("cg"))
      // both-sides-empty pairs have no gram order at all and drop (the
      // original explode shape emitted no rows for them)
      .where(size(col("cg")) > 0)
      .select(col("pair_id"),
        element_at(col("cg"), 1).getField("ct").as("cand_chars"),
        element_at(col("cg"), 1).getField("rt").as("ref_chars"),
        size(col("cg")).cast("long").as("n_orders"),
        // fixed summation order (ascending n) so the double sum is one
        // IEEE dag — the kernel's array is already n-ordered
        (aggregate(col("cg"), lit(0.0), (acc, x) => acc + fN(x))
          / size(col("cg")).cast("double")).as("chrf"))
  }

  /** RECIPROCAL RANK FUSION (Cormack, Clarke & Buettcher SIGIR 2009):
    * fuse K rankings of the same items into one —
    *   rrf(item) = Σ_runs 1 / (κ + rank_run(item))
    * — the standard scale-free way to combine heterogeneous quality
    * signals or retrieval runs (each run's scores are incomparable; only
    * ranks matter). κ = 60 is the paper's constant. Items missing from a
    * run simply contribute no term (the conventional treatment).
    *
    * Determinism: each reciprocal is one IEEE division of exact integers
    * and the cross-run sum is a run_id-ORDERED fold (the chrF recipe), so
    * the fused score is a fixed dag — bitwise cross-engine.
    *
    * Scale shape: ranking inside a run is a per-run window — a run-sized
    * funnel, fine for eval suites and signal fusion over sampled corpora
    * (the intended inputs). For corpus-sized runs, feed PRE-RANKED rows
    * (rank already a column, e.g. from a distributed top-k or the
    * pplBucketsByThreshold pattern) to [[rrfFuseRanked]], which skips the
    * window entirely and pays only the item-keyed fuse shuffle.
    */
  def rrfFuse(runs: DataFrame, runId: Column, itemId: Column, score: Column,
              kappa: Int = 60): DataFrame = {
    require(kappa >= 1, s"kappa must be >= 1, got $kappa")
    val base = runs.select(runId.cast("string").as("run_id"),
      itemId.cast("long").as("item_id"), score.cast("double").as("score"))
    val w = Window.partitionBy(col("run_id"))
      .orderBy(col("score").desc, col("item_id"))
    rrfFuseRanked(base.withColumn("rank", row_number().over(w).cast("long")),
      col("run_id"), col("item_id"), col("rank"), kappa)
  }

  /** [[rrfFuse]] over pre-ranked rows — no window, ONE item-keyed
    * partial-agg shuffle; the corpus-scale face.
    */
  def rrfFuseRanked(runs: DataFrame, runId: Column, itemId: Column,
                    rank: Column, kappa: Int = 60): DataFrame = {
    require(kappa >= 1, s"kappa must be >= 1, got $kappa")
    runs.select(runId.cast("string").as("run_id"),
        itemId.cast("long").as("item_id"), rank.cast("long").as("rank"))
      .groupBy(col("item_id"))
      .agg(count(lit(1)).as("n_runs"),
        aggregate(
          array_sort(collect_list(struct(col("run_id"), col("rank")))),
          lit(0.0),
          (acc, x) => acc + lit(1.0) /
            (x.getField("rank") + kappa).cast("double")).as("rrf"))
  }

  /** CLASS-BALANCE REPORT with EFFECTIVE NUMBER OF CLASSES: per group,
    * the label-distribution health a stratified trainer checks before
    * weighting anything — class count, majority share, and the inverse
    * Simpson index ENS = N² / Σ n_i² (the "effective number of equally
    * likely classes"; ENS ≪ class count means the tail is decorative).
    * All sums exact (Σn² as DECIMAL(38,0) — n² overflows a long at real
    * corpus scale); two fixed divisions at the end. Ties on the majority
    * label break by max label string.
    *
    * Scale shape: one partial-combined (group, label) count shuffle, then
    * a per-group rollup on the same clustering.
    */
  def classBalance(df: DataFrame, group: Column, label: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    df.select(group.as("grp"), label.cast("string").as("lab"))
      .groupBy(col("grp"), col("lab"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("grp"))
      .agg(
        sum(col("n")).as("n_rows"),
        count(lit(1)).as("n_classes"),
        max(struct(col("n"), col("lab"))).as("top"),
        sum((col("n").cast(DecimalType(19, 0))
          * col("n").cast(DecimalType(19, 0))).cast(DecimalType(38, 0)))
          .as("sum_n2"))
      .select(col("grp"), col("n_rows"), col("n_classes"),
        col("top.lab").as("major_label"), col("top.n").as("major_count"),
        col("sum_n2"))
      .withColumn("major_share",
        col("major_count").cast("double") / col("n_rows").cast("double"))
      .withColumn("ens", {
        val nD = col("n_rows").cast("double")
        nD * nD / col("sum_n2").cast("double")
      })
      .drop("sum_n2")
  }

  /** TWO-SAMPLE KOLMOGOROV–SMIRNOV per group: D = max |F_a(v) − F_b(v)|
    * between the A- and B-side empirical CDFs — the drift lens that is
    * bucket-free (PSI, q204) and unit-free (Wasserstein-1, q206) at
    * once: one number, no edge choice, sensitive anywhere on the axis.
    * A/B membership is the caller's predicate (snapshot flag, split
    * gate, time half).
    *
    * Exactness: per (group, value) the side counts are exact; the CDFs
    * are running count sums over the value-ordered spine (ties
    * collapse: one row per distinct value, so the sup is evaluated at
    * step points exactly); the two divisions and |·| are fixed dags and
    * MAX is order-free. Groups missing a side report D = null.
    *
    * Scale shape: one (group, value) partial-agg, then a GROUP-
    * partitioned window over the group's distinct-value spine and a
    * per-group max.
    */
  def ksDrift(df: DataFrame, group: Column, value: Column,
              isA: Column): DataFrame = {
    val counts = df.select(group.as("grp"), value.cast("double").as("v"),
        isA.cast("boolean").as("a"))
      // nulls carry no CDF mass — and Spark orders nulls first while
      // DuckDB orders them last, which would skew the running sums
      .where(col("v").isNotNull)
      .groupBy(col("grp"), col("v"))
      .agg(sum(col("a").cast("long")).as("ca"),
        sum((!col("a")).cast("long")).as("cb"))
    val wRun = Window.partitionBy(col("grp")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wG = Window.partitionBy(col("grp"))
    counts
      .withColumn("cum_a", sum(col("ca")).over(wRun))
      .withColumn("cum_b", sum(col("cb")).over(wRun))
      .withColumn("n_a", sum(col("ca")).over(wG))
      .withColumn("n_b", sum(col("cb")).over(wG))
      .withColumn("d",
        when(col("n_a") > 0 && col("n_b") > 0,
          abs(col("cum_a").cast("double") / col("n_a").cast("double")
            - col("cum_b").cast("double") / col("n_b").cast("double"))))
      .groupBy(col("grp"))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        count(lit(1)).as("n_values"), max(col("d")).as("ks_d"))
  }

  /** GINI CONCENTRATION of a non-negative integer quantity per group —
    * the inequality lens [[classBalance]]'s ENS summarizes away: how
    * concentrated is activity/volume across entities (0 = perfectly
    * even, → 1 = one entity owns everything)? The standard "is this
    * source three power users in a trench coat" audit. Closed form on
    * the ascending-sorted values:
    *
    *   G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx),  i 1-based ascending.
    *
    * Exact: counts are longs, Σ i·xᵢ accumulates as DECIMAL(38,0) (i·x
    * overflows a long at corpus scale), ties in x are order-proof
    * (equal values swap indices without changing the sum), and the
    * final dag is two fixed divisions.
    *
    * Scale shape: one (group) collect of the group's VALUES — bounded
    * by entities-per-group (the contingency-style contract); the input
    * is usually already a per-entity aggregate.
    */
  def gini(df: DataFrame, group: Column, value: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // operands cast to decimal BEFORE multiplying so i·x itself
    // accumulates as decimal (a long product can overflow silently at
    // corpus scale), matching the q237 oracle's cast order
    val weighted = transform(sort_array(col("xs")), (x, i) =>
      (i + 1).cast(DecimalType(38, 0)) * x.cast(DecimalType(38, 0)))
    df.select(group.as("grp"), value.cast("long").as("x"))
      .groupBy(col("grp"))
      .agg(collect_list(col("x")).as("xs"), count(lit(1)).as("n"),
        sum(col("x")).as("s"))
      .withColumn("si", aggregate(weighted,
        lit(java.math.BigDecimal.ZERO).cast(DecimalType(38, 0)),
        (a, e) => a + e))
      .select(col("grp"), col("n"), col("s"),
        when(col("s") > 0,
          (lit(2.0) * col("si").cast("double")
            - (col("n") + 1).cast("double") * col("s").cast("double"))
            / (col("n").cast("double") * col("s").cast("double")))
          .otherwise(lit(0.0)).as("gini"))
  }

  /** POPULATION STABILITY INDEX (the standard production drift metric
    * between two corpus snapshots — Karakoulas 2004 credit-scoring
    * lineage, now the default "did my feature distribution move" alarm):
    *
    *   PSI = Σ_buckets (p_i − q_i) · ln(p_i / q_i)
    *
    * over the caller's explicit bucket edges (bucket = #{edges ≤ v};
    * data-derived edges: feed `percentile` output), with add-one
    * smoothing on both sides so empty buckets stay finite:
    * p_i = (cA_i + 1)/(nA + E + 1). Rule-of-thumb thresholds: < 0.1
    * stable, 0.1–0.25 drifting, > 0.25 shifted.
    *
    * Determinism: counts are exact Longs, each p/q one division, each ln
    * truncated through DECIMAL(28,12) (the q135 recipe), each bucket term
    * a fixed dag, and the cross-bucket sum a bucket-ORDERED fold — the
    * oracle replays the value bit-for-bit.
    *
    * Scale shape: one narrow bucket dag + ONE partial-agg shuffle per
    * side to (edges+1)-row frames; everything after runs on the bucket
    * spine (≤ 1001 rows). Output: one row
    * (n_a, n_b, n_buckets, psi).
    */
  def psi(a: DataFrame, b: DataFrame, value: Column,
          edges: Seq[Double]): DataFrame = {
    require(edges.nonEmpty && edges.size <= 1000, "1..1000 edges")
    require(edges == edges.sorted && edges.distinct == edges,
      "edges must be strictly increasing")
    import org.apache.spark.sql.types.DecimalType
    val nB = edges.size + 1
    def bucketed(df: DataFrame, cnt: String) = df
      .select(value.cast("double").as("v"))
      .groupBy(aggregate(typedLit(edges), lit(0L),
        (acc, e) => acc + when(col("v") >= e, 1L).otherwise(0L))
        .as("bucket"))
      .agg(count(lit(1)).as(cnt))
    val spark = a.sparkSession
    val spine = spark.createDataFrame((0L until nB.toLong).map(Tuple1(_)))
      .toDF("bucket")
    val joined = spine
      .join(bucketed(a, "ca"), Seq("bucket"), "left")
      .join(bucketed(b, "cb"), Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val totals = joined.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    // Laplace add-one per bucket: denominator = n + #buckets
    val p = (col("ca") + 1L).cast("double") /
      (col("na") + lit(nB.toLong)).cast("double")
    val q = (col("cb") + 1L).cast("double") /
      (col("nb") + lit(nB.toLong)).cast("double")
    joined.crossJoin(broadcast(totals))
      .select(col("bucket"), col("na"), col("nb"),
        ((p - q) * log(p / q).cast(DecimalType(28, 12)).cast("double"))
          .as("term"))
      .groupBy(col("na"), col("nb"))
      .agg(count(lit(1)).as("n_buckets"),
        aggregate(array_sort(collect_list(struct(col("bucket"),
            col("term").as("t")))),
          lit(0.0), (acc, x) => acc + x.getField("t")).as("psi"))
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        col("n_buckets"), col("psi"))
  }

  /** WASSERSTEIN-1 DISTANCE between two score distributions over an
    * explicit bucket grid — the drift metric that, unlike [[psi]] or KL,
    * is scale-aware: it weighs HOW FAR mass moved, not just that bucket
    * probabilities changed (a one-bucket shift and a ten-bucket shift
    * give the same KL on disjoint support, but 10× the W1). The pair of
    * (psi, w1) distinguishes "noisy rebalance" from "systematic drift".
    *
    * Convention (documented, exact): values are clamped to the grid and
    * each bucket's mass sits at its LEFT edge, so
    *   W1 = Σ_{j=1..k-1} |F_a(e_j) − F_b(e_j)| · (e_j − e_{j−1})
    * with F(e_j) = (# values in buckets 0..j−1)/n — the exact discrete
    * transport cost on those support points. `w1_buckets` is the same sum
    * with unit spacing (drift measured in buckets — grid-scale-free).
    * Every count is an exact Long; each term is one fixed IEEE dag and
    * the sum a bucket-ORDERED fold (the psi recipe) — bitwise
    * cross-engine, no libm at all.
    *
    * Scale shape = [[psi]]: one narrow bucket dag + ONE partial-agg
    * shuffle per side to (edges+1)-row frames; cumulative sums and the
    * fold run on the ≤1001-row spine (the q107 allowlisted-window
    * pattern). Output: 1 row (n_a, n_b, n_buckets, w1, w1_buckets).
    */
  def wasserstein1(a: DataFrame, b: DataFrame, value: Column,
                   edges: Seq[Double]): DataFrame = {
    require(edges.size >= 2 && edges.size <= 1000, "2..1000 edges")
    require(edges == edges.sorted && edges.distinct == edges,
      "edges must be strictly increasing")
    import org.apache.spark.sql.expressions.Window
    val nB = edges.size + 1
    def bucketed(df: DataFrame, cnt: String) = df
      .select(value.cast("double").as("v"))
      .groupBy(aggregate(typedLit(edges), lit(0L),
        (acc, e) => acc + when(col("v") >= e, 1L).otherwise(0L))
        .as("bucket"))
      .agg(count(lit(1)).as(cnt))
    val spark = a.sparkSession
    val spine = spark.createDataFrame((0L until nB.toLong).map(Tuple1(_)))
      .toDF("bucket")
    val widths = edges.sliding(2).map(p => p(1) - p(0)).toSeq
    val joined = spine
      .join(bucketed(a, "ca"), Seq("bucket"), "left")
      .join(bucketed(b, "cb"), Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val totals = joined.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    // ≤1001-row spine: the unpartitioned window is bounded by construction
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val terms = joined
      .withColumn("cca", sum(col("ca")).over(w))
      .withColumn("ccb", sum(col("cb")).over(w))
      .where(col("bucket") >= 1 && col("bucket") <= nB - 2)
      .crossJoin(broadcast(totals))
      .select(col("bucket"),
        col("na"), col("nb"),
        abs(col("cca").cast("double") / col("na").cast("double")
          - col("ccb").cast("double") / col("nb").cast("double")).as("gap"),
        element_at(typedLit(widths), col("bucket").cast("int")).as("width"))
    terms
      .groupBy(col("na"), col("nb"))
      .agg(
        aggregate(array_sort(collect_list(struct(col("bucket"),
            (col("gap") * col("width")).as("t")))),
          lit(0.0), (acc, x) => acc + x.getField("t")).as("w1"),
        aggregate(array_sort(collect_list(struct(col("bucket"),
            col("gap").as("t")))),
          lit(0.0), (acc, x) => acc + x.getField("t")).as("w1_buckets"))
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        lit(nB.toLong).as("n_buckets"), col("w1"), col("w1_buckets"))
  }

  /** Sparse bucket counts of `value` over the explicit edge grid — the
    * MERGEABLE state behind [[psi]]/[[wasserstein1]]: exact Longs summed
    * per bucket, so folding per-batch counts ([[mergeBucketCounts]]) is
    * bit-identical to one pass over the concatenation. ≤ edges+1 rows.
    */
  def bucketCounts(df: DataFrame, value: Column,
                   edges: Seq[Double]): DataFrame = {
    require(edges.nonEmpty && edges.size <= 1000, "1..1000 edges")
    df.select(value.cast("double").as("v"))
      .groupBy(aggregate(typedLit(edges), lit(0L),
        (acc, e) => acc + when(col("v") >= e, 1L).otherwise(0L))
        .as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Fold a batch's bucket counts into state (both the [[bucketCounts]]
    * schema). Exact by integer-sum mergeability.
    */
  def mergeBucketCounts(state: DataFrame, batch: DataFrame): DataFrame =
    state.unionByName(batch).groupBy(col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Both drift metrics ([[psi]] + [[wasserstein1]]) off two COUNT frames
    * — the face a streaming monitor calls per trigger on its mergeable
    * state instead of rescanning raw values. Identical dags to the raw
    * faces (add-one-smoothed PSI terms, left-edge-mass W1 transport,
    * bucket-ORDERED folds), so StreamingSpec can pin stream == batch
    * bitwise. One output row: (n_a, n_b, n_buckets, psi, w1, w1_buckets).
    */
  def driftFromCounts(aCnt: DataFrame, bCnt: DataFrame,
                      edges: Seq[Double]): DataFrame = {
    require(edges.size >= 2 && edges.size <= 1000, "2..1000 edges")
    require(edges == edges.sorted && edges.distinct == edges,
      "edges must be strictly increasing")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val nB = edges.size + 1
    val spark = aCnt.sparkSession
    val spine = spark.createDataFrame((0L until nB.toLong).map(Tuple1(_)))
      .toDF("bucket")
    val widths = edges.sliding(2).map(p => p(1) - p(0)).toSeq
    val joined = spine
      .join(aCnt.withColumnRenamed("cnt", "ca"), Seq("bucket"), "left")
      .join(bCnt.withColumnRenamed("cnt", "cb"), Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val totals = joined.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    val p = (col("ca") + 1L).cast("double") /
      (col("na") + lit(nB.toLong)).cast("double")
    val q = (col("cb") + 1L).cast("double") /
      (col("nb") + lit(nB.toLong)).cast("double")
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val terms = joined
      .withColumn("cca", sum(col("ca")).over(w))
      .withColumn("ccb", sum(col("cb")).over(w))
      .crossJoin(broadcast(totals))
      .select(col("bucket"), col("na"), col("nb"),
        ((p - q) * log(p / q).cast(DecimalType(28, 12)).cast("double"))
          .as("psi_term"),
        when(col("bucket") >= 1 && col("bucket") <= nB - 2,
          abs(col("cca").cast("double") / col("na").cast("double")
            - col("ccb").cast("double") / col("nb").cast("double")))
          .otherwise(lit(0.0)).as("gap"),
        // index clamped into the widths array even on the when-false rows:
        // ANSI element_at throws on out-of-range, and codegen may evaluate
        // the branch speculatively
        when(col("bucket") >= 1 && col("bucket") <= nB - 2,
          element_at(typedLit(widths),
            least(greatest(col("bucket"), lit(1L)), lit((nB - 2).toLong))
              .cast("int")))
          .otherwise(lit(0.0)).as("width"))
    terms
      .groupBy(col("na"), col("nb"))
      .agg(count(lit(1)).as("n_buckets"),
        aggregate(array_sort(collect_list(struct(col("bucket"),
            col("psi_term").as("t")))),
          lit(0.0), (acc, x) => acc + x.getField("t")).as("psi"),
        aggregate(array_sort(collect_list(struct(col("bucket"),
            (col("gap") * col("width")).as("t")))),
          lit(0.0), (acc, x) => acc + x.getField("t")).as("w1"),
        aggregate(array_sort(collect_list(struct(col("bucket"),
            col("gap").as("t")))),
          lit(0.0), (acc, x) => acc + x.getField("t")).as("w1_buckets"))
      .select(col("na").as("n_a"), col("nb").as("n_b"), col("n_buckets"),
        col("psi"), col("w1"), col("w1_buckets"))
  }

  /** SPLIT-CONFORMAL THRESHOLD (Vovk et al. 2005; Angelopoulos & Bates
    * 2023 tutorial): per group, the finite-sample calibrated cutoff
    *   q̂ = the ⌈(n+1)(1−α)⌉-th smallest nonconformity score
    * — future scores fall ≤ q̂ with probability ≥ 1−α, distribution-free.
    * The quality-gate calibration step: pick α, read the threshold off
    * held-out scores, cut the corpus with a narrow comparison. Groups
    * with n < ⌈(n+1)(1−α)⌉ (too few calibration rows — the guarantee
    * needs rank ≤ n) emit a NULL threshold. α is the rational aNum/aDen
    * so the rank arithmetic is EXACT integer (⌈(n+1)·(aDen−aNum)/aDen⌉
    * via integer division) — no FP rank, bitwise cross-engine.
    *
    * Scale shape: one per-group sort window for the order statistic (the
    * q41 exact-quantile funnel — calibration sets are sampled/bounded by
    * construction; a corpus-sized group swaps in approx_percentile, the
    * q115 GK contract) + a group-row reduce. Output: (group, n_cal,
    * rank, threshold).
    */
  def conformalThreshold(cal: DataFrame, group: Column, score: Column,
                         aNum: Int = 1, aDen: Int = 10): DataFrame = {
    require(aNum > 0 && aNum < aDen && aDen <= 1000,
      "alpha = aNum/aDen must sit in (0, 1)")
    import org.apache.spark.sql.expressions.Window
    val wRank = Window.partitionBy(col("grp")).orderBy(col("s"), col("doc"))
    val wAll = Window.partitionBy(col("grp"))
    // ⌈(n+1)·(aDen−aNum)/aDen⌉: the numerator stays far under 2^53 for any
    // real calibration set (aDen ≤ 1000), so the double division is exact
    // and floor(...) is true integer ceiling division
    val target = floor(((col("n_cal") + 1L) * (aDen - aNum) + (aDen - 1))
      / lit(aDen.toLong)).cast("long")
    cal
      .select(group.as("grp"), score.cast("double").as("s"),
        monotonically_increasing_id().as("doc"))
      .withColumn("rnk", row_number().over(wRank).cast("long"))
      .withColumn("n_cal", count(lit(1)).over(wAll))
      .withColumn("rank", target)
      .groupBy(col("grp"))
      .agg(max(col("n_cal")).as("n_cal"), max(col("rank")).as("rank"),
        // the unique row whose rank hits the target, null when rank > n
        max(when(col("rnk") === col("rank"), col("s"))).as("threshold"))
      .select(col("grp").as("group"), col("n_cal"), col("rank"),
        col("threshold"))
  }

  /** TRAINING-DYNAMICS CARTOGRAPHY (Swayamdipta et al. EMNLP 2020,
    * "Dataset Cartography"): per training example, the mean model
    * confidence and its variability across epochs/checkpoints, plus the
    * map region — `easy` (high, stable confidence: learnable, candidates
    * for downsampling), `hard` (low, stable: mislabeled or genuinely
    * hard — the label-noise audit queue), `ambiguous` (high variability:
    * the examples that most improve generalization when kept). The data
    * selection signal that needs only logged per-epoch confidences, no
    * gradients.
    *
    * Determinism: confidences sum through DECIMAL(28,12) (order-free),
    * mean/variance are fixed IEEE dags over those exact sums, variance
    * clamps at 0 before the correctly-rounded sqrt, and the region
    * thresholds are plain double literals — the SQL oracle replays
    * value-exact.
    *
    * Scale shape: ONE partial-combined groupBy on example — per-task
    * state is three numbers per example, the shuffle carries examples
    * (not observations). Output: (example, n_obs, mean_conf, variability,
    * region).
    */
  def cartography(runs: DataFrame, example: Column, conf: Column,
                  loThr: Double = 0.34, hiThr: Double = 0.66,
                  varThr: Double = 0.2): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(loThr < hiThr, "loThr must be < hiThr")
    val c = conf.cast("double")
    val a = runs
      .select(example.as("example"), c.as("c"))
      .groupBy(col("example"))
      .agg(count(lit(1)).as("n_obs"),
        sum(col("c").cast(DecimalType(28, 12))).cast("double").as("s1"),
        sum((col("c") * col("c")).cast(DecimalType(28, 12))).cast("double")
          .as("s2"))
    val mean = col("s1") / col("n_obs").cast("double")
    val variability = sqrt(greatest(
      col("s2") / col("n_obs").cast("double") - mean * mean, lit(0.0)))
    a.select(col("example"), col("n_obs"),
        mean.as("mean_conf"), variability.as("variability"))
      .withColumn("region",
        when(col("mean_conf") >= hiThr && col("variability") <= varThr,
          lit("easy"))
        .when(col("mean_conf") <= loThr && col("variability") <= varThr,
          lit("hard"))
        .otherwise(lit("ambiguous")))
  }

  private val Dec1812 = org.apache.spark.sql.types.DecimalType(18, 12)

  /** ROUGE-L (Lin 2004): longest-common-subsequence precision/recall/F per
    * (candidate, reference) pair — the order-sensitive complement to
    * [[bleuPairs]]' bag-of-grams metrics (a shuffled candidate keeps its
    * ROUGE-1 but loses its ROUGE-L). The LCS runs in the codegen'd
    * [[graft.functions.TextKernel.lcsLen]] kernel — one tight two-row-DP JVM loop
    * per pair, O(cap²) time / O(cap) space bounded by `maxTokens`
    * (truncation is the documented scale contract; standard ROUGE operates
    * on summary-length sides). Everything downstream of the integer LCS
    * length is a single IEEE division (F1 = 2·lcs/(n+m) — the exact
    * harmonic-mean identity, no intermediate P·R product), so results are
    * deterministic; there is no SQL oracle because no SQL engine exposes
    * LCS — OpsSpec pins a plain-Scala DP replay instead (rows-only).
    *
    * Scale shape: purely narrow per pair — tokenize, one kernel call,
    * three divisions; no shuffle beyond whatever join built the pairs.
    * Pairs where either side tokenizes empty emit 0-length LCS with null
    * ratios for the empty side.
    */
  def rougeL(pairs: DataFrame, pairId: Column, cand: Column, ref: Column,
             maxTokens: Int = 512): DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be positive, got $maxTokens")
    def toks(c: Column): Column =
      filter(split(lower(trim(c)), "\\s+"), w => length(w) > 0)
    pairs
      .select(pairId.cast("long").as("pair_id"),
        toks(cand).as("ct"), toks(ref).as("rt"))
      .select(col("pair_id"),
        least(size(col("ct")), lit(maxTokens)).cast("long").as("cand_tokens"),
        least(size(col("rt")), lit(maxTokens)).cast("long").as("ref_tokens"),
        graft.functions.gfn.lcs_tokens(col("ct"), col("rt"), maxTokens)
          .as("lcs_len"))
      .select(col("pair_id"), col("cand_tokens"), col("ref_tokens"),
        col("lcs_len"),
        when(col("cand_tokens") > 0,
          col("lcs_len").cast("double") / col("cand_tokens").cast("double"))
          .as("rouge_l_p"),
        when(col("ref_tokens") > 0,
          col("lcs_len").cast("double") / col("ref_tokens").cast("double"))
          .as("rouge_l_r"),
        when(col("cand_tokens") + col("ref_tokens") > 0,
          lit(2.0) * col("lcs_len").cast("double") /
            (col("cand_tokens") + col("ref_tokens")).cast("double"))
          .as("rouge_l_f"))
  }

  /** WORD ERROR RATE: token-level Levenshtein distance / reference
    * length — the standard ASR/generation edit metric (and the
    * no-shifts simplification of TER). Both sides are lowercased,
    * whitespace-tokenized and truncated at `maxTokens` (the rougeL
    * truncation contract — it bounds the O(cap²) DP, and truncation IS
    * the 100 TB answer to adversarially long rows). One codegen'd kernel
    * call per pair (`TextKernel.editDist`, two-row DP) plus one IEEE
    * division; empty-reference rows emit a NULL wer (edits still
    * reported). No SQL engine exposes token-level edit distance, so the
    * catalog face is rows-only — OpsSpec replays the DP in plain Scala.
    *
    * Scale shape: purely narrow — tokenize + kernel + divide per pair; no
    * shuffle beyond the caller's pairing join.
    */
  def wer(pairs: DataFrame, pairId: Column, hyp: Column, ref: Column,
          maxTokens: Int = 512): DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be positive, got $maxTokens")
    def toks(c: Column): Column =
      filter(split(lower(trim(c)), "\\s+"), w => length(w) > 0)
    pairs
      .select(pairId.cast("long").as("pair_id"),
        toks(hyp).as("ht"), toks(ref).as("rt"))
      .select(col("pair_id"),
        least(size(col("ht")), lit(maxTokens)).cast("long").as("hyp_tokens"),
        least(size(col("rt")), lit(maxTokens)).cast("long").as("ref_tokens"),
        graft.functions.gfn.edit_tokens(col("ht"), col("rt"), maxTokens)
          .as("edits"))
      .withColumn("wer",
        when(col("ref_tokens") > 0,
          col("edits").cast("double") / col("ref_tokens").cast("double")))
  }

  def bradleyTerry(pairs: DataFrame, iters: Int = 5): DataFrame = {
    require(iters >= 1 && iters <= 50, "fixed small iteration count")
    // both directions: (i, j, n_ij, w_ij = wins of i against j)
    val e = pairs.select(
        col("item_a").cast("string").as("i"), col("item_b").cast("string").as("j"),
        (col("wins_a") + col("wins_b")).cast("long").as("n"),
        col("wins_a").cast("long").as("w"))
      .unionByName(pairs.select(
        col("item_b").cast("string").as("i"), col("item_a").cast("string").as("j"),
        (col("wins_a") + col("wins_b")).cast("long").as("n"),
        col("wins_b").cast("long").as("w")))
    // Materialize the edge and item frames ONCE (both are item/pair-sized
    // — tiny by the caller's aggregation) and lineage-cut each round's
    // score frame: the MM loop references s twice (s_i, s_j) per step, so
    // a fully-lazy plan re-derives the upstream pair aggregation ~2^iters
    // times (measured: 12 s for 3 iters over 5 items at sf0.1 — the
    // corpus groupBy replayed in every branch). The pageRankLoop pattern:
    // round N's blocks released the moment N+1 is stored.
    val eCp = Caches.checkpoint(e)
    val eM = eCp.df
    val itemsCp = Caches.checkpoint(eM.groupBy(col("i").as("item"))
      .agg(sum(col("w")).as("wins"), sum(col("n")).as("n_comparisons")))
    val items = itemsCp.df
    var s = items.select(col("item"),
      lit(1.0).as("score")) // uniform start; normalized scale is irrelevant
    var prev: Caches.Checkpointed = null
    for (_ <- 1 to iters) {
      val si = s.select(col("item").as("i"), col("score").as("s_i"))
      val sj = s.select(col("item").as("j"), col("score").as("s_j"))
      val denom = eM.join(si, "i").join(sj, "j")
        .select(col("i"), col("j"),
          (col("n").cast("double") / (col("s_i") + col("s_j"))).as("t"))
        .groupBy(col("i"))
        .agg(expr("aggregate(sort_array(collect_list(struct(j, t))), " +
          "cast(0.0 as double), (a, x) -> a + x.t)").as("d"))
      val raw = items.join(denom, items("item") === denom("i"))
        .select(col("item"), (col("wins").cast("double") / col("d")).as("r"))
      val z = raw.agg(expr("aggregate(sort_array(collect_list(struct(item, r))), " +
        "cast(0.0 as double), (a, x) -> a + x.r)").as("z"))
      // floor at 1e-12: an item that lost EVERY comparison hits r = 0, and
      // if two such items share a pair the next step's s_i+s_j would be 0
      // (division blow-up). The floor keeps the MM map total on degenerate
      // comparison graphs; on connected graphs (every item wins once) it
      // never binds. The oracle replays the same greatest().
      val cp = Caches.checkpoint(raw.crossJoin(z)
        .select(col("item"),
          greatest(col("r") / col("z"), lit(1e-12)).as("score")))
      if (prev != null) prev.release()
      prev = cp
      s = cp.df
    }
    val out = Caches.checkpoint(items.join(s, "item")
      .select(col("item"), col("wins"), col("n_comparisons"),
        col("score").as("bt_score")))
    if (prev != null) prev.release()
    eCp.release(); itemsCp.release()
    Caches.trackRdd(out.rdd)
    out.df
  }
}
