package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distributed text classification for corpus curation — the "train a
  * quality/language classifier on the corpus itself" step of an LLM data
  * pipeline (cf. fastText filtering in CCNet/GPT-3 data work), built the
  * only way that is one-pass at 100 TB: MULTINOMIAL NAIVE BAYES, whose
  * "training" is nothing but counting.
  *
  *   train:  one tokenize+count pass over the gated training split →
  *           per-(class, bucket) token counts + per-class doc counts.
  *           The model is a (classes × buckets)-row frame — KBs, broadcast.
  *   score:  argmax_c [ ln P(c) + Σ_b c_b · ln P(b|c) ]  (Laplace-smoothed)
  *           via a broadcast join of the model onto the per-doc bucket
  *           counts — no second corpus shuffle beyond the count pass.
  *
  * Exactness recipe (the q68/q132 DECIMAL ln convention): every ln is
  * snapped to DECIMAL(18,12) and scaled to Long 1e-12-nat units, so scores
  * are integer sums, ties break on the class string, and an oracle can
  * replay training AND inference bit-exactly. |lik12| < 2^45; a doc's
  * score sums n_tokens·|lik12| — safe under ANSI to ~2^17 tokens/doc.
  */
object Classify {

  private val Dec1812 = DecimalType(18, 12)
  private val Dec130 = DecimalType(13, 0)
  private def ln12(x: Column): Column =
    (log(x).cast(Dec1812) * lit(1000000000000L).cast(Dec130)).cast("long")

  /** One row `n`: Σ ndocs over [[naiveBayes]]'s per-class doc counts, the
    * train-row count — 0, not the null of an empty sum, when nothing trains.
    */
  private[graft] def trainCount(classDocs: DataFrame): DataFrame =
    classDocs.agg(coalesce(sum(col("ndocs")), lit(0L)).as("n"))

  /** Train on `trainGate` rows, score EVERY row. Output: (id, label,
    * is_train, pred, score12) — `pred` the argmax class (ties to the
    * lexicographically greatest, the max-struct order), `score12` its
    * integer log-posterior numerator. `bucketOf` as in
    * [[Mix.importanceWeights]]: token → bucket in [0, buckets).
    */
  def naiveBayes(df: DataFrame, text: Column, id: Column, label: Column,
                 trainGate: Column, buckets: Int = 64,
                 bucketOf: Option[Column => Column] = None): DataFrame = {
    require(buckets > 0)
    val bucket: Column => Column =
      bucketOf.getOrElse(w => pmod(xxhash64(w), lit(buckets.toLong)))
    val base = df.select(id.as("id"), label.as("label"),
      trainGate.cast("boolean").as("is_train"), text.as("text"))
    // ONE tokenize pass; the (id, bucket) count frame feeds training and
    // scoring both — persist or the corpus tokenizes twice (Caches-tracked:
    // feeds the lazy result, released by the session owner)
    val perDoc = Caches.track(base
      .select(col("id"), col("label"), col("is_train"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .where(length(col("w")) > 0)
      .select(col("id"), col("label"), col("is_train"),
        bucket(col("w")).as("b"))
      .groupBy(col("id"), col("label"), col("is_train"), col("b"))
      .agg(count(lit(1)).as("c")))
    // class stats: token count per (class, bucket) and per class; doc
    // counts for the prior — all tiny aggregates off the persisted frame
    val classBucket = perDoc.where(col("is_train"))
      .groupBy(col("label"), col("b")).agg(sum(col("c")).as("cb"))
    val classTok = classBucket.groupBy(col("label"))
      .agg(sum(col("cb")).as("ctok"))
    val classDocs = base.where(col("is_train"))
      .groupBy(col("label")).agg(count(lit(1)).as("ndocs"))
    // r12: Σ ndocs == the train-row count (every train row lands in
    // exactly one label group, null included) — derived from the tiny
    // per-class frame instead of a THIRD corpus scan + spread shuffle
    val nTrain = trainCount(classDocs)
    // per-class frame with prior12 and the unseen-bucket likelihood zl12
    // (ln of the Laplace floor 1/(ctok+B)) — the COALESCE default for
    // buckets the class never saw in training
    val classes = classDocs.join(classTok, "label")
      .crossJoin(broadcast(nTrain))
      .select(col("label").as("cls"),
        ln12(col("ndocs").cast("double") / col("n")).as("prior12"),
        ln12(lit(1.0) / (col("ctok") + buckets)).as("zl12"),
        col("ctok"))
    val lik = classBucket.join(classes, col("label") === col("cls"))
      .select(col("cls"), col("b"),
        ln12((col("cb") + 1).cast("double") / (col("ctok") + buckets))
          .as("lik12"))
    // score: cross every doc-bucket row with the (tiny) class list, fill
    // unseen (class, bucket) cells with the class floor, sum per (id, cls)
    val scored = perDoc
      .join(broadcast(classes.select(col("cls"), col("prior12"), col("zl12"))),
        lit(true))
      .join(broadcast(lik), Seq("cls", "b"), "left")
      .groupBy(col("id"), col("label"), col("is_train"), col("cls"),
        col("prior12"))
      .agg(sum(col("c") * coalesce(col("lik12"), col("zl12"))).as("ll12"))
      .select(col("id"), col("label"), col("is_train"), col("cls"),
        (col("prior12") + col("ll12")).as("score12"))
    // argmax per doc as a groupBy-max(struct), never a per-doc window at
    // corpus scale (the q122 lesson); ties resolve to the greater class
    scored.groupBy(col("id"), col("label"), col("is_train"))
      .agg(max(struct(col("score12"), col("cls"))).as("m"))
      .select(col("id"), col("label"), col("is_train"),
        col("m.cls").as("pred"), col("m.score12").as("score12"))
  }

  /** DISTRIBUTED LOGISTIC REGRESSION — the discriminative counterpart to
    * [[naiveBayes]] (the fastText-style trained quality filter of the GPT-3
    * /CCNet data recipes): full-batch gradient descent where each iteration
    * is ONE partial-combined aggregate over the training split. Per task,
    * the shuffle carries k+1 decimal sums — the canonical
    * distributed-ML-on-Spark shape (statistics move, rows don't); `iters`
    * scans of a (id, y, x₁..x_k) feature frame the caller can keep cached.
    * The per-iteration weight step is a bounded one-row driver collect —
    * same contract as the k-means seed/update collects.
    *
    * Exact-replay arithmetic (every step either exact or a single
    * correctly-rounded IEEE op, so any engine replays it bit-for-bit):
    *   - features enter as INTEGER columns with a power-of-two scale
    *     (x = int · 2^-shift): exact in double AND in decimal;
    *   - z = w₀ + Σ wⱼ·xⱼ in double, fixed association order;
    *   - σ(z) = 1/(1+e^-z) is the ONE libm op; it is snapped to
    *     DECIMAL(8,6) (`p6`). Quantizing at 1e-6 — not the 1e-12 the
    *     one-shot q83 sums use — is deliberate: GD FEEDS BACK, so a last-ulp
    *     cross-engine exp() disagreement would otherwise amplify across
    *     iterations; at 1e-6 a flip needs the true σ within ~1e-16 of a grid
    *     boundary (~1e-10/row/iter — never);
    *   - gradient Σ (p6−y)·xⱼ_dec is an EXACT decimal sum
    *     (order-independent across partitions);
    *   - w ← w − lr·(grad/n) with lr a power of two, each op one IEEE
    *     rounding, in the association order written here.
    *
    * `features` are (intColumn, shift) pairs ⇒ xⱼ = intColumn·2^-shift;
    * shift ≤ 20. Returns (id, y, is_train, p, pred) for EVERY row — p the
    * final-model σ as double (exact decimal→double), pred = p ≥ 0.5 as
    * long — plus the learned weights in every row's `w` array column (the
    * model is part of the result, like the k-means centroid output).
    */
  def logisticRegression(df: DataFrame, id: Column, label: Column,
                         features: Seq[(Column, Int)], trainGate: Column,
                         iters: Int = 3, lr: Double = 0.125): DataFrame = {
    require(features.nonEmpty && features.forall(f => f._2 >= 0 && f._2 <= 20),
      "features are (intColumn, shift) with 0 <= shift <= 20")
    require(iters >= 1 && (lr > 0) && (java.lang.Double.doubleToRawLongBits(lr)
      & 0x000fffffffffffffL) == 0L, "lr must be a positive power of two")
    // p ∈ [0,1] fits DECIMAL(8,6); features fit DECIMAL(10,0) — the widths
    // are chosen so diff·x is precision 31 ≤ 38: EXACT decimal products and
    // sums in BOTH engines (a wider type would hit Spark's 38-digit cap and
    // round under its own rules, which an oracle cannot replay)
    val Dec86 = DecimalType(8, 6)
    val k = features.size
    val xd = features.map { case (c, sh) => // exact double: int * 2^-shift
      c.cast("double") * lit(math.pow(2.0, -sh)) }
    // 2^-shift as an exact decimal literal (2^-s = 5^s · 10^-s)
    def pow2Dec(sh: Int): java.math.BigDecimal =
      new java.math.BigDecimal(java.math.BigInteger.valueOf(5L).pow(sh), sh)
    val xdecs = features.map { case (c, sh) =>
      c.cast(DecimalType(10, 0)) * lit(pow2Dec(sh)) }
    val base = Caches.track(df.select(
      (id.as("id") +: label.cast("long").as("y") +:
        trainGate.cast("boolean").as("is_train") +:
        xd.zipWithIndex.map { case (x, i) => x.as(s"xd$i") } ++:
        xdecs.zipWithIndex.map { case (x, i) => x.as(s"xc$i") }): _*))
    val train = base.where(col("is_train"))
    val n = train.count()
    require(n > 0, "empty training split")
    val w = Array.fill(k + 1)(0.0) // bias + k weights
    def zCol: Column =
      (0 until k).foldLeft(lit(w(0))) { (acc, j) => acc + lit(w(j + 1)) * col(s"xd$j") }
    def p6: Column =
      (lit(1.0) / (lit(1.0) + exp(-zCol))).cast(Dec86)
    for (_ <- 1 to iters) {
      val diff = p6 - col("y").cast(Dec86)
      val sums = train.agg(
        sum(diff).as("g0"),
        (0 until k).map(j => sum(diff * col(s"xc$j")).as(s"g${j + 1}")): _*)
        .collect()(0)
      for (j <- 0 to k) {
        val g = sums.getDecimal(j).doubleValue() // exact-sum -> 1 rounding
        w(j) = w(j) - lr * (g / n)               // 3 IEEE ops, fixed order
      }
    }
    base.select(col("id"), col("y"), col("is_train"),
      p6.cast("double").as("p"),
      (p6 >= lit(new java.math.BigDecimal("0.5"))).cast("long").as("pred"),
      array(w.map(lit(_)): _*).as("w"))
  }

  /** CALIBRATION BINS (reliability diagram): bucket predicted
    * probabilities into `bins` equal-width bins, emit per bin the count,
    * positive count, mean predicted p, and observed positive fraction —
    * mean_p ≈ frac_pos per bin is what "calibrated" MEANS; the gap per
    * bin is the reliability curve a curation threshold is read off.
    *
    * Exactness: p is re-snapped to DECIMAL(8,6) (a lossless round-trip of
    * [[logisticRegression]]'s already-snapped p) so the per-bin sum is an
    * exact decimal — order-independent, oracle-replayable; the bin index
    * `least(floor(p·bins), bins−1)` and both ratios are fixed dags of
    * correctly-rounded IEEE ops. One partial-combined aggregate over the
    * scored frame; output is `bins` rows.
    */
  def calibrationBins(scored: DataFrame, p: Column, y: Column,
                      bins: Int = 10): DataFrame =
    calibrationBinsRaw(scored, p, y, bins)
      .withColumn("mean_p", col("sp").cast("double") / col("n"))
      .withColumn("frac_pos", col("n_pos").cast("double") / col("n"))
      .drop("sp")

  /** EXPECTED CALIBRATION ERROR — the one-number summary of
    * [[calibrationBins]]: ECE = Σ_b (n_b/N)·|frac_pos_b − mean_p_b|, the
    * standard "is this classifier's confidence honest" scalar (reported
    * next to AUC for every learned quality/toxicity filter).
    *
    * Exactness trick: the per-bin weighted deviation n_b·|frac_pos −
    * mean_p| equals |n_pos_b − Σp6_b| EXACTLY, where Σp6 is the bin's
    * DECIMAL(8,6) probability sum — so the sum over bins is exact decimal
    * addition (order-independent, partial-agg mergeable) and the emitted
    * ECE is ONE IEEE division of an exact decimal by an exact long. No
    * double accumulation anywhere.
    *
    * Scale shape: identical to [[calibrationBins]] — one partial-combined
    * corpus aggregate down to ≤ `bins` rows, then a bins-row fold.
    * Returns one row `(n, ece)`.
    */
  def ece(scored: DataFrame, p: Column, y: Column, bins: Int = 10): DataFrame =
    calibrationBinsRaw(scored, p, y, bins)
      .agg(sum(col("n")).as("n"),
        sum(abs(col("n_pos").cast(DecimalType(18, 6)) - col("sp"))).as("dev"))
      .select(col("n"),
        (col("dev").cast("double") / col("n").cast("double")).as("ece"))

  /** [[calibrationBins]] before the per-bin divisions — keeps the exact
    * DECIMAL p-sum visible for [[ece]]'s exact fold.
    */
  private def calibrationBinsRaw(scored: DataFrame, p: Column, y: Column,
                                 bins: Int): DataFrame = {
    require(bins >= 2 && bins <= 1000)
    scored.select(
        least(floor(p * bins).cast("long"), lit(bins - 1L)).as("bin"),
        p.cast(DecimalType(8, 6)).as("p6"), y.cast("long").as("yy"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("yy")).as("n_pos"),
        sum(col("p6")).as("sp"))
  }
}
