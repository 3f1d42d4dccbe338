package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, over `documents`.
  *
  * Scale design (the part that matters at 100 TB):
  *   - exact dedup is a hash-groupBy on a 128-bit content hash — one shuffle
  *     keyed by the hash, no wide rows moved (we aggregate doc_ids, not text);
  *   - near-dup (MinHash) is BANDED LSH: candidates come from an equi-join on
  *     (band, band_signature) — a hash-partitioned join whose key cardinality
  *     grows with the corpus, never an all-pairs/cartesian product. Verify
  *     (exact Jaccard) runs only on bucket-collision candidates.
  *   - SimHash gives a 64-bit signature whose hamming distance approximates
  *     cosine-on-token-sets; banding its 4 × 16-bit chunks yields the same
  *     equi-join shape (hamming ≤ 3 ⇒ at least one identical chunk).
  */
object Dedup {

  /** QUALITY-AWARE CANONICAL SELECTION: given near-dup pair edges and a
    * per-doc quality score, keep the BEST copy of every duplicate cluster
    * (quality desc, doc_id tiebreak) instead of the lowest id — the dedup
    * variant that retains the cleanest rendering of each duplicated page
    * (boilerplate-stripped > raw, longer > truncated). Docs in no pair
    * are their own singleton cluster and always keep. Output keeps
    * (cluster_id, cluster_size, rank_in_cluster, is_keeper) so drop lists
    * AND audit tables read off the same frame.
    *
    * Scale shape: connected components is the audited large-star /
    * small-star loop ([[Components.connectedComponents]]); after it,
    * everything is two windows over the SAME cluster key (one exchange,
    * two sorts) on the doc-sized labeled frame. Pair generation is the
    * caller's (exact posting-list join, MinHash-LSH, SimHash… — any
    * (a_id, b_id) frame).
    */
  def qualityKeepers(pairs: DataFrame, docs: DataFrame, id: Column,
                     quality: Column,
                     pairsDistinct: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labeled = Components.connectedComponents(
      pairs.select(col("a_id"), col("b_id")), edgesDistinct = pairsDistinct)
      .withColumnRenamed("id", "doc_id")
    val base = docs.select(id.cast("long").as("doc_id"),
      quality.cast("double").as("quality"))
    val withC = base.join(labeled, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    val wRank = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col("doc_id"))
    val wSize = Window.partitionBy(col("cluster_id"))
    withC
      .withColumn("cluster_size", count(lit(1)).over(wSize))
      .withColumn("rank_in_cluster", row_number().over(wRank).cast("long"))
      .withColumn("is_keeper", (col("rank_in_cluster") === 1L).cast("int"))
  }

  /** Exact dedup: keep the lowest doc_id per identical text. */
  def exactGroups(docs: DataFrame): DataFrame = docs
    .groupBy(md5(to_binary(col("text"), lit("utf-8"))).as("h"))
    .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** DEDUP SAVINGS REPORT — the payoff estimate run BEFORE committing to
    * an exact-dedup pass: per group (source/snapshot), document count,
    * distinct-content count, duplicate count, char mass before/after
    * keeping one copy per content, the savings fraction, and the largest
    * duplicate cluster. Exact longs + one IEEE division.
    *
    * Scale shape: one partial-combined groupBy on (grp, content) — the
    * map-side combine collapses repeats before the shuffle — then a tiny
    * per-group agg. The catalog face groups by the content string; at
    * 100 TB the key is `xxhash64(text)` (the [[scoreBigramLm]] narrowing;
    * counts are hash-invariant, the content never reaches the output).
    */
  def dedupSavings(docs: DataFrame, group: Column, text: Column): DataFrame =
    docs.select(group.as("grp"), text.as("t"))
      .groupBy(col("grp"), col("t"))
      .agg(count(lit(1)).as("m"))
      .select(col("grp"), col("m"), length(col("t")).cast("long").as("b"))
      .groupBy(col("grp"))
      .agg(
        sum(col("m")).as("n_docs"),
        count(lit(1)).as("n_distinct"),
        max(col("m")).as("max_cluster"),
        sum(col("m") * col("b")).as("total_chars"),
        sum(col("b")).as("distinct_chars"))
      .withColumn("dup_docs", col("n_docs") - col("n_distinct"))
      .withColumn("savings_frac",
        when(col("total_chars") > 0,
          (col("total_chars") - col("distinct_chars")).cast("double")
            / col("total_chars").cast("double")).otherwise(lit(0.0)))

  /** CORPUS CONTENT CHECKSUM — the dataset-versioning fingerprint: per
    * group, an ORDER-FREE content checksum (Σ of a per-doc 31-bit roll
    * hash of the md5 hex — md5 renders identically across engines, the
    * roll hash is the SQL-replayable q132/q142 recipe) plus doc and
    * distinct-content counts. Two corpus snapshots with equal
    * (n_docs, n_distinct, checksum) per group are content-identical up
    * to the hash; any ingest dup/drop/mutation moves at least one
    * number. Exact long sum (each term < 2³¹).
    *
    * Scale shape: one narrow md5+roll dag at the scan, one partial-agg
    * groupBy; the distinct count keys the same shuffle.
    */
  def corpusChecksum(docs: DataFrame, group: Column, text: Column): DataFrame =
    docs.select(group.as("grp"),
        md5(to_binary(text, lit("utf-8"))).as("h"))
      .withColumn("rh", TextOps.rollHash(col("h")))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_distinct"),
        sum(col("rh")).as("checksum"))

  /** SOFT DEDUPLICATION WEIGHTS (the SoftDeDup idea — He et al. 2024:
    * reweight common text down instead of deleting it): per document, the
    * mean corpus frequency of its k-token grams ("commonness") and the
    * sampling weight 1/commonness. A unique document scores commonness 1
    * → weight 1; a document whose content appears m times corpus-wide
    * scores ≈ m → weight ≈ 1/m, so the EXPECTED sampled copies of any
    * duplicated content is ~1 without the hard keep/drop cliff (partial
    * overlaps degrade smoothly — the case where cluster-based dedup must
    * pick a side). Formula, exact in 64-bit integers up to one final IEEE
    * division:
    *
    *   commonness(d) = Σ_g m_{d,g}·c_g / Σ_g m_{d,g},  weight = 1/commonness
    *
    * with m_{d,g} the gram's multiplicity in d and c_g its corpus
    * instance count. Docs shorter than k tokens have no grams and weight
    * 1 (nothing sharable).
    *
    * Scale shape: one gram pass partial-agged TWICE — corpus (gram →
    * count) type table AND per-doc (doc, gram) → m type rows (the r10 LM
    * lesson: the equi-join shuffles doc-gram TYPES, never instances) —
    * then one (gram) equi-join and a per-doc sum. Work is linear in
    * corpus tokens; the join keys are uniform hashes (AQE territory).
    */
  def softDedupWeights(docs: DataFrame, id: Column, text: Column,
                       k: Int = 8): DataFrame = {
    require(k >= 1 && k <= 64, s"k in 1..64, got $k")
    // native multiset gram pass (r11): one primitive loop per doc instead
    // of an interpreted slice+concat_ws+xxhash64 per window. Hash VALUES
    // differ from the old dag but are join-internal (both consumers derive
    // from this frame); multiplicities — the only thing that reaches the
    // output — are hash-invariant. OpsSpec pins (doc, m)-multiset parity
    // against the string-gram dag on the corpus.
    val grams = docs
      .select(id.cast("long").as("doc_id"),
        explode(graft.functions.gfn.gram_hash_multiset(text, k))
          .as("gram_hash"))
    val docGrams = Caches.track(
      grams.groupBy(col("doc_id"), col("gram_hash"))
        .agg(count(lit(1)).as("m")))
    val corpus = docGrams.groupBy(col("gram_hash"))
      .agg(sum(col("m")).as("c"))
    val perDoc = docGrams
      .join(corpus, Seq("gram_hash"))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_grams"),
        sum(col("m") * col("c")).as("mass"))
    docs.select(id.cast("long").as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        when(col("n_grams").isNull, lit(1.0))
          .otherwise(col("mass").cast("double") / col("n_grams").cast("double"))
          .as("mean_gram_freq"),
        when(col("n_grams").isNull, lit(1.0))
          .otherwise(col("n_grams").cast("double") / col("mass").cast("double"))
          .as("weight"))
  }

  // ---- MinHash LSH ----

  /** Deterministic permutation constants (fixed seed — reproducible runs).
    * a, b < 2^31 and the hash is folded to 31 bits before the affine map, so
    * a*h+b < 2^62 — no overflow under ANSI mode.
    */
  private val P = 2305843009213693951L // 2^61 - 1
  private val M31 = 1L << 31
  private def perms(k: Int): Seq[(Long, Long)] = {
    val rnd = new java.util.Random(42)
    Seq.fill(k)((rnd.nextInt(Int.MaxValue - 1).toLong + 1, rnd.nextInt(Int.MaxValue).toLong))
  }

  /** Word w-shingles of the lowercased text, distinct. */
  def shingles(text: Column, w: Int = 3): Column =
    // r12: native kernel — the dag form
    //   array_distinct(transform(sequence(0, greatest(size(toks)-w, 0)),
    //     i -> concat_ws(" ", slice(toks, i+1, w))))
    // over toks = split(lower(trim(text)), "\\s+") ran transform's lambda
    // interpreted per gram and rebuilt each gram through three expression
    // layers. Bit-identical output incl. the leading-empty-token and
    // empty-doc edges (OpsSpec pin); one byte pass per doc.
    graft.functions.gfn.shingle_strings(text, w)

  /** doc_id + 31-bit hashed w-shingles, via the native shingle_hashes
    * expression (one primitive loop per doc; no shingle strings, no
    * interpreted higher-order functions on the hot path).
    */
  def shingled(docs: DataFrame, w: Int = 3): DataFrame = docs
    .select(col("doc_id"), graft.functions.gfn.shingle_hashes(col("text"), w).as("hashes"))

  /** MinHash signature from a staged hash-array column: k minima of
    * (a_j * h + b_j) mod P — native kernel loop (MinHashKernel.signature).
    */
  def minhashSignature(hashesCol: Column, k: Int = 32): Column = {
    val ps = perms(k)
    graft.functions.gfn.minhash_sig(hashesCol,
      ps.map(_._1).toArray, ps.map(_._2).toArray)
  }

  /** (doc_id, band, band_key) — banded LSH keys (bands × rowsPerBand = k).
    * Narrow: the explode fans each doc to `bands` small rows; no text or
    * arrays are carried, so the downstream bucket join shuffles only ids.
    */
  def lshBands(staged: DataFrame, k: Int = 32, bands: Int = 8): DataFrame = {
    val rows = k / bands
    val withSig = staged.withColumn("sig", minhashSignature(col("hashes"), k))
    val bandKeys = array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        hash(lit(b) +: (0 until rows).map(r => col("sig")(b * rows + r)): _*).as("band_key"))
    }: _*)
    withSig.select(col("doc_id"), explode(bandKeys).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.band_key"))
  }

  /** Near-duplicate pairs: banded-LSH candidates verified by exact Jaccard
    * over word shingles. No cartesian product anywhere — candidates come
    * from an equi-join on (band, band_key) carrying only doc_ids; shingle
    * sets are joined back just for the (small) candidate set.
    */
  def minhashNearDups(docs: DataFrame, threshold: Double = 0.5,
                      k: Int = 32, bands: Int = 8,
                      maxBucketSize: Option[Int] = None): DataFrame = {
    // spread before the CPU-heavy shingle/signature pass
    val text = Spread(docs.select(col("doc_id"), col("text")), "doc_id")
    // The staged (doc_id, hashes) frame feeds three consumers — the
    // signature/band pass and BOTH sides of the candidate verify join.
    // Without persistence each consumer re-runs the shingle kernel over the
    // full corpus (ReuseExchange only dedupes the repartition shuffle, not
    // the post-shuffle compute). MEMORY_AND_DISK: hash arrays are ~100×
    // smaller than the text and spill rather than OOM at scale. Tracked
    // (not bare-persisted): it feeds the LAZY result, so the session owner
    // releases it via Caches once the pairs are consumed.
    val staged = Caches.track(shingled(text))
    val b = lshBands(staged, k, bands)
    val cand = pairsFromBuckets(b, Seq("band", "band_key"),
      maxBucketSize = maxBucketSize, capMetric = "minhash_lsh_cap")
    // Verify only the candidate set: equi-join the pair list against the
    // staged hash frame on doc_id — never back to the raw text. NO broadcast
    // hint — the candidate set scales with corpus size × duplicate rate, so
    // a forced broadcast is a driver OOM on a near-dup-heavy 100 TB corpus;
    // AQE picks broadcast at runtime when the pairs genuinely fit, and a
    // shuffled join otherwise. Jaccard over hashed shingles equals Jaccard
    // over string shingles up to negligible 31-bit collision mass.
    val withSh = staged.join(cand, col("doc_id") === col("a_id"))
      .select(col("a_id"), col("b_id"), col("hashes").as("a_sh"))
      .join(staged, col("doc_id") === col("b_id"))
      .select(col("a_id"), col("b_id"), col("a_sh"), col("hashes").as("b_sh"))
    withSh
      .withColumn("jaccard",
        size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          size(array_union(col("a_sh"), col("b_sh"))))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** A reusable MinHash-LSH index over a corpus: the staged per-doc hash
    * frame plus its banded keys, built ONCE and probed by every increment —
    * see [[minhashProbe]]. `staged` is persisted (MEMORY_AND_DISK): the
    * index is the thing a daily-ingest pipeline keeps hot between runs.
    * The index OWNS its persisted components (`retained` — the base frame
    * plus one increment per merge, since unpersisting a union does not
    * cascade): when the pipeline retires it, `release()` frees every block
    * it ever pinned — without this a long-lived ingest service leaks one
    * corpus cache per index generation.
    */
  final case class MinHashIndex(staged: DataFrame, bands: DataFrame,
                                k: Int, nBands: Int,
                                retained: Seq[Dataset[_]] = Nil) {
    def release(): Unit = retained.foreach(_.unpersist(blocking = false))
  }

  def minhashIndex(corpus: DataFrame, k: Int = 32, bands: Int = 8): MinHashIndex = {
    val staged = shingled(Spread(corpus.select(col("doc_id"), col("text")), "doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    MinHashIndex(staged, lshBands(staged, k, bands), k, bands, Seq(staged))
  }

  /** Fold a batch of NEW documents into an existing index — the daily-ingest
    * companion to [[minhashProbe]]: probe the increment first, then merge it
    * so tomorrow's increment sees today's docs. Only the increment is
    * shingled/banded (and persisted); the corpus frames are reused as-is —
    * union is a metadata-only plan node, so an index that has absorbed N
    * daily batches has paid exactly N+1 shingle passes, never N passes over
    * a growing corpus. The permutations are deterministic (fixed seed), so
    * increment band keys live in the same key space as the corpus keys, and
    * a merged index is plan-equivalent to one rebuilt from the concatenated
    * corpus. New doc_ids must be disjoint from corpus ids (the
    * [[minhashProbe]] contract, enforced by the caller's id scheme).
    */
  def minhashIndexMerge(index: MinHashIndex, newDocs: DataFrame): MinHashIndex = {
    val newStaged = shingled(Spread(newDocs.select(col("doc_id"), col("text")), "doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // EAGER: the increment's shingle pass runs now, while `newDocs` is still
    // valid — a foreachBatch frame dies with its trigger, and the merged
    // index must outlive it. This is also where "N batches = N shingle
    // passes" is actually paid, so eager changes cost shape not cost.
    newStaged.count()
    MinHashIndex(index.staged.unionByName(newStaged),
      index.bands.unionByName(lshBands(newStaged, index.k, index.nBands)),
      index.k, index.nBands, index.retained :+ newStaged)
  }

  /** Persist an index across pipeline RUNS (the in-memory `persist` only
    * lives for one application): staged hashes and banded keys land as two
    * parquet tables under `path`. A daily job then does
    * load -> probe -> merge -> save, paying one shingle pass per day while
    * the corpus-sized frames move as columnar bytes, never re-derived from
    * text. k/bands ride along in a tiny JSON sidecar so a loaded index
    * can't silently probe with mismatched banding.
    */
  def saveIndex(index: MinHashIndex, path: String): Unit = {
    index.staged.write.mode("overwrite").parquet(s"$path/staged.parquet")
    index.bands.write.mode("overwrite").parquet(s"$path/bands.parquet")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$path/meta.json"),
      s"""{"k":${index.k},"bands":${index.nBands}}""")
  }

  def loadIndex(spark: org.apache.spark.sql.SparkSession, path: String): MinHashIndex = {
    val meta = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$path/meta.json"))
    def field(name: String): Int =
      s""""$name":(\\d+)""".r.findFirstMatchIn(meta)
        .getOrElse(sys.error(s"bad index meta at $path: $meta")).group(1).toInt
    val staged = spark.read.parquet(s"$path/staged.parquet")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    MinHashIndex(staged, spark.read.parquet(s"$path/bands.parquet"),
      field("k"), field("bands"), Seq(staged))
  }

  /** INCREMENTAL near-dup detection — probe NEW documents against an
    * existing corpus index without touching the corpus text again: the
    * daily-ingest shape at 100 TB, where the corpus index amortizes across
    * arrivals and each increment pays only for itself. Bands of the
    * increment equi-join the index's bands (same key space — the
    * permutations are deterministic), candidates verify by exact Jaccard
    * over the two staged hash frames. Returns (new_id, dup_of, jaccard)
    * with jaccard ≥ threshold; `new_id` ids must be disjoint from corpus
    * ids (enforced by the caller's id scheme).
    */
  def minhashProbe(index: MinHashIndex, incoming: DataFrame,
                   threshold: Double = 0.5): DataFrame = {
    val incStaged = shingled(Spread(incoming.select(col("doc_id"), col("text")), "doc_id"))
    val incBands = lshBands(incStaged, index.k, index.nBands)
    val cand = incBands.select(col("doc_id").as("new_id"), col("band"), col("band_key"))
      .join(index.bands.select(col("doc_id").as("dup_of"), col("band"), col("band_key")),
        Seq("band", "band_key"))
      .select(col("new_id"), col("dup_of"))
      .dropDuplicates("new_id", "dup_of")
    cand
      .join(incStaged.select(col("doc_id"), col("hashes").as("a_sh")),
        col("doc_id") === col("new_id"))
      .drop("doc_id")
      .join(index.staged.select(col("doc_id"), col("hashes").as("b_sh")),
        col("doc_id") === col("dup_of"))
      .withColumn("jaccard",
        size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          size(array_union(col("a_sh"), col("b_sh"))))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("dup_of"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** EXACT near-duplicate pairs — the ground truth the LSH paths' recall is
    * measured against, formulated as an inverted-index similarity join (the
    * classic exact set-similarity-join shape), NOT a cartesian product:
    * any pair with Jaccard ≥ t > 0 shares at least one shingle, so every
    * qualifying pair co-occurs in some shingle-hash posting list
    * (equi-group shape). Three strategies, same result set:
    *
    *  - `"count"` (default): |A∩B| is COUNTED straight off the posting
    *    lists — in-bucket pair expansion, one groupBy(a,b) count — and
    *    Jaccard = c/(|A|+|B|−c) from a broadcast-size per-doc |S| frame.
    *    NO per-pair text work at all. Shingles are hashed at 64 bits
    *    (`shingle_hashes64`): within-doc collision mass ~|S|²/2^64 per doc
    *    (≈4e-15 at |S|=400) is certifiably negligible, so counts equal the
    *    string-set values. Work scales with Σ_h C(df_h, 2) — the right
    *    choice when document frequency is bounded (i.e. after exact dedup
    *    has removed identical content).
    *  - `"prefix"`: index only each doc's ⌊(1−t)·|S|⌋+1 shingles that come
    *    FIRST in a global rarest-first order (ascending DF, hash tiebreak),
    *    then string-exact kernel verify on candidates. LOSSLESS for
    *    Jaccard ≥ t: |A\B| ≤ (1−t)·|A|, so the globally-smallest element of
    *    A∩B sits within the first ⌊(1−t)·|A|⌋+1 elements of A — and
    *    symmetrically of B. The high-DF boilerplate shingles that make
    *    `"count"` quadratic are exactly the ones the ordering pushes out of
    *    the prefix — the PPJoin-family trade for heavy-tailed corpora.
    *  - `"full"`: unfiltered posting join + string-exact verify (the naive
    *    baseline the other two are tested equivalent to).
    *
    * `maxDf` (the `"count"` strategy's giant-bucket guard, mirroring
    * `pairsFromBuckets(maxBucketSize)`): a boilerplate shingle shared by n
    * docs is an unbounded `collect_list` and an O(n²) pair fan-out — the one
    * quadratic a heavy-tailed corpus can hit. With the cap set, posting
    * lists longer than `maxDf` are dropped and OBSERVED (`exact_count_df_cap`:
    * dropped_buckets / dropped_ids / max_bucket_size). Dropping a list
    * removes its +1 from every co-occurring pair's intersection count, so
    * capped results are a certified LOWER bound on Jaccard (pairs connected
    * only through boilerplate may be missed) — same contract as the LSH cap;
    * `"prefix"` is the lossless alternative for such corpora. Uncapped (the
    * default), the plan is unchanged.
    */
  def exactNearDups(docs: DataFrame, threshold: Double = 0.5, w: Int = 3,
                    strategy: String = "count",
                    maxDf: Option[Int] = None): DataFrame = {
    val src = docs.select(col("doc_id"), col("text"))

    if (strategy == "count") {
      return postingPairCounts(src, w, maxDf, "exact_count_df_cap")
        .withColumn("jac",
          col("c").cast("double") / (col("a_sz") + col("b_sz") - col("c")))
        .filter(col("jac") >= threshold)
        .select(col("a_id"), col("b_id"), col("jac"))
    }

    val stagedV = shingled(Spread(src, "doc_id"), w)
    val posting =
      if (strategy == "full") stagedV.select(col("doc_id"), explode(col("hashes")).as("h"))
      else {
        val full = stagedV
          .select(col("doc_id"), size(col("hashes")).as("sz"), explode(col("hashes")).as("h"))
        val dfreq = full.groupBy(col("h")).agg(count(lit(1)).as("df"))
        val w_ = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
        full.join(dfreq, "h")
          .withColumn("rk", row_number().over(w_))
          .filter(col("rk") <= floor(col("sz") * lit(1.0 - threshold)) + 1)
          .select(col("doc_id"), col("h"))
      }
    val cand = pairsFromBuckets(posting, Seq("h"))
    val withText = src.join(cand, col("doc_id") === col("a_id"))
      .select(col("a_id"), col("b_id"), col("text").as("a_text"))
      .join(src, col("doc_id") === col("b_id"))
      .select(col("a_id"), col("b_id"), col("a_text"), col("text").as("b_text"))
    withText
      .withColumn("jac", ngramJaccard(col("a_text"), col("b_text"), w))
      .filter(col("jac") >= threshold)
      .select(col("a_id"), col("b_id"), col("jac"))
  }

  /** The posting-list pair-counting core shared by [[exactNearDups]]
    * (`"count"`) and [[exactContainment]]: stage per-doc 64-bit shingle hash
    * SETS once (Caches-tracked — the frame feeds the posting explode AND both
    * per-doc size joins; ReuseExchange only dedupes the repartition shuffle,
    * not the post-shuffle hashing), group postings by shingle, expand
    * in-bucket pairs (a<b by id sort), and count co-occurrences — giving
    * EXACT |A∩B| with no per-pair text work. Returns
    * (a_id, b_id, c=|A∩B|, a_sz=|A|, b_sz=|B|); callers derive their metric.
    * `maxDf` drops posting lists longer than the cap (observed under
    * `observeName`), making counts a certified LOWER bound — the giant-bucket
    * guard for boilerplate-shingle corpora, same contract as the LSH
    * `maxBucketSize` cap.
    */
  private def postingPairCounts(src: DataFrame, w: Int, maxDf: Option[Int],
                                observeName: String): DataFrame = {
    val staged = Caches.track(Spread(src, "doc_id")
      .select(col("doc_id"), graft.functions.gfn.shingle_hashes64(col("text"), w).as("hashes")))
    val sizes = staged.select(col("doc_id"), size(col("hashes")).as("sz"))
    val posting = staged.select(col("doc_id"), explode(col("hashes")).as("h"))
    val ids = array_sort(col("ids"))
    val grouped = posting.groupBy(col("h"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
    val capped = maxDf.fold(grouped) { cap =>
      grouped
        .observe(observeName,
          sum(when(size(col("ids")) > cap, 1L).otherwise(0L)).as("dropped_buckets"),
          sum(when(size(col("ids")) > cap, size(col("ids"))).otherwise(0L)).as("dropped_ids"),
          max(size(col("ids"))).as("max_bucket_size"))
        .filter(size(col("ids")) <= cap)
    }
    capped
      // r12: native pair kernel — the nested transform pair expansion ran
      // interpreted per PAIR (OpsSpec order-exact pin)
      .select(explode(graft.functions.gfn.long_pairs(ids)).as("p"))
      .groupBy(col("p.a_id"), col("p.b_id")).agg(count(lit(1)).as("c"))
      .join(sizes, col("doc_id") === col("a_id")).withColumnRenamed("sz", "a_sz")
      .drop("doc_id")
      .join(sizes, col("doc_id") === col("b_id")).withColumnRenamed("sz", "b_sz")
      .drop("doc_id")
  }

  /** EXACT shingle-set CONTAINMENT join — the ASYMMETRIC near-dup relation
    * Jaccard cannot see: C(A→B) = |A∩B|/|A| is ~1 when A is a quote,
    * excerpt, or scrape-subset of a much larger B even though
    * Jaccard = |A∩B|/|A∪B| ≈ |A|/|B| ≈ 0. For training corpora this is the
    * "document swallowed by an aggregator page" / "chapter inside the whole
    * book" duplication mode (the containment variant of the set-similarity
    * join literature, e.g. Agrawal et al.'s containment joins; the symmetric
    * exact join is [[exactNearDups]]).
    *
    * Same posting-list core, same scale shape: one shuffle to group postings,
    * one groupBy to count pairs, broadcast-size per-doc |S| joins — work is
    * Σ_h C(df_h, 2), NOT |docs|². Emits (a_id, b_id, cont_a, cont_b, jac)
    * where cont_a = |A∩B|/|A| (how much of A lives inside B), for every pair
    * with max(cont_a, cont_b) ≥ `threshold`; a<b by id. The Jaccard column
    * rides along free (same three numbers) so downstream keeper policies can
    * distinguish "true twin" (both high) from "subset" (one high).
    * `maxDf` as in [[exactNearDups]]: capped runs are a certified lower
    * bound, observed under `containment_df_cap`.
    */
  def exactContainment(docs: DataFrame, threshold: Double = 0.8, w: Int = 3,
                       maxDf: Option[Int] = None): DataFrame = {
    val src = docs.select(col("doc_id"), col("text"))
    postingPairCounts(src, w, maxDf, "containment_df_cap")
      .withColumn("cont_a", col("c").cast("double") / col("a_sz"))
      .withColumn("cont_b", col("c").cast("double") / col("b_sz"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .withColumn("jac",
        col("c").cast("double") / (col("a_sz") + col("b_sz") - col("c")))
      .select(col("a_id"), col("b_id"), col("cont_a"), col("cont_b"), col("jac"))
  }

  /** Candidate pairs from LSH buckets: ONE shuffle (groupBy bucket key) and
    * in-array pair expansion — not a self-join, so upstream signature passes
    * run exactly once and nothing resembling a cartesian appears. A bucket
    * of n colliding ids yields n·(n−1)/2 pairs (the LSH contract); pairs are
    * deduped across buckets. Shared by MinHash, SimHash, and embedding-LSH
    * near-dup paths.
    *
    * Giant-bucket guard (`maxBucketSize`): a degenerate key — empty docs, a
    * boilerplate shingle, a zero embedding — collects a bucket of n ids whose
    * n²/2 pair fan-out can dominate the whole job at 100 TB while
    * contributing near-zero real near-dups. With the cap set, buckets larger
    * than `maxBucketSize` are dropped (their members are overwhelmingly
    * mutual near-dups of the same degenerate content; exemplar-level dedup
    * of those belongs to exact dedup, not pairwise LSH) and the drops are
    * OBSERVED: an `observe(capMetric, ...)` node records dropped_buckets /
    * dropped_ids / max_bucket_size on every execution, surfaced through
    * `PipelineMetrics.attachCapLogger`. Uncapped (the default) nothing
    * changes — same plan as before.
    */
  def pairsFromBuckets(bucketed: DataFrame, keyCols: Seq[String],
                       idCol: String = "doc_id",
                       maxBucketSize: Option[Int] = None,
                       capMetric: String = "lsh_bucket_cap"): DataFrame = {
    val ids = array_sort(col("ids"))
    val grouped = bucketed.groupBy(keyCols.map(col): _*)
      .agg(collect_list(col(idCol)).as("ids"))
      .filter(size(col("ids")) > 1)
    val capped = maxBucketSize.fold(grouped) { cap =>
      grouped
        .observe(capMetric,
          sum(when(size(col("ids")) > cap, 1L).otherwise(0L)).as("dropped_buckets"),
          sum(when(size(col("ids")) > cap, size(col("ids"))).otherwise(0L)).as("dropped_ids"),
          max(size(col("ids"))).as("max_bucket_size"))
        .filter(size(col("ids")) <= cap)
    }
    capped
      // r12: native pair kernel (see above)
      .select(explode(graft.functions.gfn.long_pairs(ids)).as("p"))
      .select(col("p.a_id"), col("p.b_id"))
      .dropDuplicates("a_id", "b_id")
  }

  // ---- SimHash ----

  /** 64-bit SimHash over whitespace tokens: per bit, sign of the summed ±1
    * contributions from each token's hash — native kernel expression
    * (VecKernel.simhash64), one pass over the text bytes.
    */
  def simhash(text: Column): Column = graft.functions.gfn.simhash64(text)

  /** SimHash near-dup pairs: band the 64-bit signature into four 16-bit
    * chunks — hamming distance ≤ 3 guarantees at least one identical chunk,
    * so candidates come from the same bucket equi-group shape as MinHash;
    * exact hamming verifies candidates only.
    */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 3,
                      maxBucketSize: Option[Int] = None): DataFrame = {
    val text = Spread(docs.select(col("doc_id"), col("text")), "doc_id")
    hammingNearDupsFromSigs(
      text.select(col("doc_id").as("id"), simhash(col("text")).as("sig")),
      maxHamming, maxBucketSize, capMetric = "simhash_lsh_cap")
  }

  /** [[simhashNearDups]] with the banding auto-sized from the corpus (one
    * cheap count() before signatures are computed): past corpus ≈ 65,536 x
    * occupancy the fixed 4x16-bit scheme's buckets densify and the
    * candidate set grows quadratically — [[autoHammingBlocks]] widens the
    * keys (more tables, constant occupancy) instead, exactly the q35
    * cosine-LSH lesson. Identical output set to any other lossless
    * banding: banding only selects candidates, the exact hamming verify
    * decides membership.
    */
  def simhashNearDupsAuto(docs: DataFrame, maxHamming: Int = 3,
                          targetBucketSize: Int = 64,
                          maxBucketSize: Option[Int] = None): DataFrame = {
    val text = Spread(docs.select(col("doc_id"), col("text")), "doc_id")
    hammingNearDupsFromSigs(
      text.select(col("doc_id").as("id"), simhash(col("text")).as("sig")),
      maxHamming, maxBucketSize, capMetric = "simhash_lsh_cap",
      nBlocks = autoHammingBlocks(docs.count(), maxHamming, targetBucketSize))
  }

  /** Banded hamming near-dup over ANY 64-bit signature frame `(id, sig)` —
    * the generic core of [[simhashNearDups]], also driving image aHash
    * dedup ([[Multimodal.imageAHash]]) and any other fingerprint the
    * pipeline produces.
    *
    * Generalized block-combination banding (Manku et al., WWW'07 — the
    * Google simhash-dedup table scheme): the 64-bit signature is split
    * into `nBlocks` blocks; a pair at hamming <= h differs in at most h
    * blocks, so at least `nBlocks - h` blocks are IDENTICAL — band on
    * every (nBlocks - h)-subset of blocks (C(nBlocks, h) tables, key =
    * the subset's concatenated bits) and the bucket equi-join is a
    * LOSSLESS candidate filter; the exact popcount verify then removes
    * false positives. nBlocks = 4 with h <= 3 is the classic 4x16-bit
    * chunk scheme (4 tables, 16-bit keys); nBlocks = 6 gives 20 tables
    * with ~31-bit keys — 2^15 x more buckets for 5x the explode — the
    * dial [[hammingNearDupsFromSigsAuto]] turns as the corpus grows.
    *
    * The signature frame is persisted: the block explode and BOTH verify
    * sides consume it, and re-deriving signatures post-join would hash
    * ~|candidates|x2 payloads (measured 2x the whole query at sf0.1 for
    * simhash) where the cached frame is 8 bytes + id per row. No broadcast
    * hint on the verify joins — AQE decides, see minhashNearDups.
    */
  def hammingNearDupsFromSigs(sigs0: DataFrame, maxHamming: Int = 3,
                              maxBucketSize: Option[Int] = None,
                              capMetric: String = "hamming_lsh_cap",
                              nBlocks: Int = 4): DataFrame = {
    require(maxHamming >= 0 && maxHamming < nBlocks,
      s"need nBlocks > maxHamming for lossless banding (got $nBlocks <= $maxHamming)")
    require(nBlocks >= 2 && nBlocks <= 10,
      "nBlocks in 2..10: C(nBlocks, maxHamming) tables must stay bounded")
    // block layout: first (nBlocks - r) blocks get floor(64/nBlocks) bits,
    // the last r get one more — widths/offsets fixed by nBlocks alone
    val floorW = 64 / nBlocks
    val r = 64 % nBlocks
    val widths = Array.tabulate(nBlocks)(i => if (i < nBlocks - r) floorW else floorW + 1)
    val offsets = widths.scanLeft(0)(_ + _)
    def blockVal(j: Int): Column =
      shiftrightunsigned(col("sig"), offsets(j))
        .bitwiseAND(lit((1L << widths(j)) - 1L))
    val combos = (0 until nBlocks).combinations(nBlocks - maxHamming).toSeq
    val tables = combos.zipWithIndex.map { case (js, t) =>
      // concatenate the selected blocks' bits into one long key
      val (key, _) = js.foldLeft((lit(0L), 0)) { case ((acc, shift), j) =>
        (acc.bitwiseOR(shiftleft(blockVal(j), shift)), shift + widths(j))
      }
      struct(lit(t).as("tbl"), key.as("key"))
    }
    val sigs = Caches.track(sigs0.select(col("id").as("doc_id"), col("sig")))
    val banded = sigs.select(col("doc_id"), explode(array(tables: _*)).as("tk"))
      .select(col("doc_id"), col("tk.tbl"), col("tk.key"))
    val cand = pairsFromBuckets(banded, Seq("tbl", "key"),
      maxBucketSize = maxBucketSize, capMetric = capMetric)
    val withSig = sigs.join(cand, col("doc_id") === col("a_id"))
      .select(col("a_id"), col("b_id"), col("sig").as("a_sig"))
      .join(sigs, col("doc_id") === col("b_id"))
      .select(col("a_id"), col("b_id"), col("a_sig"), col("sig").as("b_sig"))
    withSig
      .withColumn("hamming", bit_count(col("a_sig").bitwiseXOR(col("b_sig"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming").cast("int").as("hamming"))
  }

  /** Key width (bits) of the block-combination banding at `nBlocks`: the
    * conservative minimum over combos — the sum of the (nBlocks - h)
    * SMALLEST block widths.
    */
  def hammingKeyBits(nBlocks: Int, maxHamming: Int): Int = {
    val floorW = 64 / nBlocks
    val r = 64 % nBlocks
    val numFloor = nBlocks - r
    val take = nBlocks - maxHamming
    math.min(take, numFloor) * floorW + math.max(0, take - numFloor) * (floorW + 1)
  }

  /** Smallest nBlocks in (h+1)..8 whose key width keeps expected bucket
    * occupancy n / 2^keyBits at or below `targetBucketSize` — the q35
    * lesson applied to hamming banding: at FIXED nBlocks = 4 the 16-bit
    * keys give 65,536 buckets per table, so bucket density (and the
    * in-bucket pair expansion) grows linearly with the corpus and the
    * candidate set quadratically; the knee sits at corpus ≈ 65,536 x
    * occupancy. Growing key bits ~log(corpus) — paid as C(nBlocks, h)
    * tables instead of 4 — keeps occupancy constant. 8 blocks / 40-bit
    * keys / 56 tables covers corpora to ~10^13 docs at occupancy 64.
    */
  def autoHammingBlocks(n: Long, maxHamming: Int = 3,
                        targetBucketSize: Int = 64): Int =
    (maxHamming + 1 to 8).find { b =>
      n.toDouble / math.pow(2.0, hammingKeyBits(b, maxHamming).toDouble) <=
        targetBucketSize
    }.getOrElse(8)

  /** [[hammingNearDupsFromSigs]] with nBlocks sized FROM THE CORPUS (one
    * cheap count), mirroring [[Similarity.cosineNearDupsAuto]].
    */
  def hammingNearDupsFromSigsAuto(sigs0: DataFrame, maxHamming: Int = 3,
                                  targetBucketSize: Int = 64,
                                  maxBucketSize: Option[Int] = None,
                                  capMetric: String = "hamming_lsh_cap"): DataFrame =
    hammingNearDupsFromSigs(sigs0, maxHamming, maxBucketSize, capMetric,
      nBlocks = autoHammingBlocks(sigs0.count(), maxHamming, targetBucketSize))

  /** n-gram Jaccard similarity between two text columns (exact string-set
    * semantics, for candidate verification or small-side joins). Native
    * kernel — the HOF composition (split→transform→concat_ws→intersect)
    * evaluates interpreted per element, ~20× slower per pair.
    */
  def ngramJaccard(a: Column, b: Column, w: Int = 3): Column =
    graft.functions.gfn.ngram_jaccard(a, b, w)

  /** Exact substring-duplication coverage (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better" metric at
    * k-TOKEN granularity): for each document, how many of its tokens sit
    * inside some k-token window whose content already occurred EARLIER in
    * the corpus (first occurrence in (doc_id, pos) order wins — the
    * suffix-array pass's keep-first policy). Catches the copied SPANS that
    * whole-doc (q20), sentence (q104), and set-similarity (q25/q44) dedup
    * all miss. Returns (doc_id, n_tokens, n_copied, copy_ratio) per doc —
    * the filter/strip decision is the caller's threshold.
    *
    * Shape: one k-gram pass (narrow transform over the token array), one
    * gram-keyed window for first-occurrence (grams travel as strings here
    * for oracle 1:1; hash them 64-bit at 100 TB — the q104/Decontam
    * recipe), then a per-doc ordered sweep that unions the repeated-window
    * intervals ([pos, pos+k) minus whatever the running max end already
    * covered) — the textbook O(n log n) interval-union as two partitioned
    * windows, no self-join, nothing quadratic anywhere. Docs shorter than
    * k tokens surface with n_copied = 0 via the left join.
    */
  def substringCopyStats(docs: DataFrame, k: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
    val nTok = d.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
    val grams = d.where(size(col("toks")) >= k)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(toks) - $k), " +
          s"i -> concat_ws(' ', slice(toks, i + 1, $k)))")).as(Seq("pos", "gram")))
    val repeated = grams
      // global first-occurrence order as a struct min — lexicographic
      // (doc_id, pos), exact for ANY doc length (the earlier packed-long
      // doc_id*1e6+pos silently collided past 1e6 tokens per doc)
      .withColumn("ord", struct(col("doc_id"), col("pos")))
      .withColumn("first_ord", min(col("ord")).over(Window.partitionBy(col("gram"))))
      .where(col("ord") =!= col("first_ord"))
      .select(col("doc_id"), col("pos"))
    spanStats(repeated, nTok, k)
  }

  /** Per-doc interval-union of the repeated k-windows [pos, pos+k): the
    * ordered running-max sweep shared by [[substringCopyStats]] and
    * [[substringProbe]]. `repeated` = (doc_id, pos) of repeat windows,
    * `nTok` = (doc_id, n_tokens) for EVERY doc (short/clean docs surface
    * with n_copied = 0 via the left join).
    */
  private def spanStats(repeated: DataFrame, nTok: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val covered = repeated
      .withColumn("prev_end", max(col("pos") + k).over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("doc_id"),
        greatest(lit(0L),
          col("pos") + k - greatest(coalesce(col("prev_end"), lit(-1L)), col("pos")))
          .cast("long").as("cover"))
      .groupBy(col("doc_id")).agg(sum(col("cover")).as("n_copied"))
    nTok.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_copied"), lit(0L)).as("n_copied"),
        (coalesce(col("n_copied"), lit(0L)).cast("double") / col("n_tokens"))
          .as("copy_ratio"))
  }

  /** 64-bit-hashed k-gram windows of a doc frame — the scale-path gram
    * representation (the q104/Decontam recipe: grams never travel as
    * strings). (doc_id, pos, gram_hash, ord). */
  private def gramFrame(docs: DataFrame, k: Int): DataFrame = {
    Spread(docs.select(col("doc_id"), split(col("text"), " ").as("toks")), "doc_id")
      .where(size(col("toks")) >= k)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(toks) - $k), " +
          s"i -> xxhash64(concat_ws(' ', slice(toks, i + 1, $k))))"))
        .as(Seq("pos", "gram_hash")))
      // struct min = lexicographic (doc_id, pos): exact for any doc length
      .withColumn("ord", struct(col("doc_id"), col("pos")))
  }

  /** A reusable substring-dedup index: the DISTINCT hashed k-gram set of
    * the corpus — what "already seen" means for every future increment.
    * Persisted like [[MinHashIndex]]: the daily pipeline keeps it hot and
    * grows it by [[substringIndexMerge]], paying one gram pass per batch,
    * never a rescan of history.
    */
  final case class GramIndex(grams: DataFrame, k: Int,
                             retained: Seq[Dataset[_]] = Nil) {
    /** Free every block this index pinned (base + one per merged batch) —
      * the retirement hook for long-lived ingest, as [[MinHashIndex]]. */
    def release(): Unit = retained.foreach(_.unpersist(blocking = false))
  }

  def substringIndex(corpus: DataFrame, k: Int = 8): GramIndex = {
    val g = gramFrame(corpus, k).select(col("gram_hash")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    GramIndex(g, k, Seq(g))
  }

  /** INCREMENTAL substring-copy detection — the [[substringCopyStats]]
    * metric for NEW documents against an indexed corpus, without touching
    * corpus text again. A window of an incoming doc is "copied" when its
    * gram is in the index OR occurred earlier within the same batch (so
    * batch-internal duplication is caught exactly as the full-batch path
    * catches it). Same output schema as [[substringCopyStats]]. Contract:
    * incoming doc_ids are greater than indexed ones (the daily-ingest
    * monotonic-id scheme, as for [[minhashProbe]]) — then
    * probe(index(A), B) == copyStats(A ∪ B) restricted to B, modulo the
    * 64-bit gram hashing (collision odds ~n²/2^64).
    *
    * Shape: one gram pass over the increment, one gram_hash-keyed window
    * (in-batch firsts), one equi-join against the index (shuffle sized by
    * the INCREMENT on the probe side — the corpus side is the persisted
    * hash set, no text), then the per-doc sweep.
    */
  def substringProbe(index: GramIndex, incoming: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = index.k
    val d = incoming.select(col("doc_id"), split(col("text"), " ").as("toks"))
    val nTok = d.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
    val repeated = gramFrame(incoming, k)
      .withColumn("first_ord",
        min(col("ord")).over(Window.partitionBy(col("gram_hash"))))
      .join(index.grams.withColumn("seen", lit(true)), Seq("gram_hash"), "left")
      .where(col("seen").isNotNull || col("ord") =!= col("first_ord"))
      .select(col("doc_id"), col("pos"))
    spanStats(repeated, nTok, k)
  }

  /** Fold a probed batch into the index so tomorrow's increment sees
    * today's docs: only the increment's NOVEL grams append (anti-join keeps
    * the seen-set minimal and the probe's left join key-unique); union is
    * metadata-only, so N merged batches cost N gram passes, never a rescan.
    */
  def substringIndexMerge(index: GramIndex, newDocs: DataFrame): GramIndex = {
    val novel = gramFrame(newDocs, index.k).select(col("gram_hash")).distinct()
      .join(index.grams, Seq("gram_hash"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // EAGER (see minhashIndexMerge): materialize while `newDocs` is valid —
    // foreachBatch callers release their batch snapshot right after merging
    novel.count()
    GramIndex(index.grams.unionByName(novel), index.k, index.retained :+ novel)
  }

  /** Persist the gram index across RUNS (the [[saveIndex]] contract for
    * substrings): the hash set lands as one parquet table, k in a JSON
    * sidecar so a loaded index can't probe with a mismatched window. */
  def saveGramIndex(index: GramIndex, path: String): Unit = {
    index.grams.write.mode("overwrite").parquet(s"$path/grams.parquet")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$path/meta.json"),
      s"""{"k":${index.k}}""")
  }

  def loadGramIndex(spark: org.apache.spark.sql.SparkSession, path: String): GramIndex = {
    val meta = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$path/meta.json"))
    val k = """"k":(\d+)""".r.findFirstMatchIn(meta)
      .getOrElse(sys.error(s"bad gram-index meta at $path: $meta")).group(1).toInt
    val grams = spark.read.parquet(s"$path/grams.parquet")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    GramIndex(grams, k, Seq(grams))
  }

  // ---- Cross-source overlap ----

  /** EXACT PAIRWISE SOURCE OVERLAP — the corpus-composition audit: n-gram
    * Jaccard between every pair of `group` values (sources, snapshots,
    * dumps). High overlap between two web dumps ⇒ dedup them against each
    * other before mixing; near-zero ⇒ they contribute independent tokens.
    *
    * Shape (the part that matters at 100 TB): NOT a gram self-join — a hot
    * gram present in all G groups would fan out G² rows per gram. Instead:
    *   1. distinct (group, gram)        — one shuffle keyed by (group, gram);
    *   2. gram → sorted set of groups   — one shuffle keyed by gram; the
    *      aggregated set is bounded by G (tens), not by corpus size;
    *   3. explode the ≤ G·(G−1)/2 ordered pairs per gram, count per pair —
    *      partial-combined hash agg on a G²-bounded key space;
    *   4. the full pair matrix comes from a broadcast self-cross of the
    *      G-row size frame, left-joined with the intersection counts (so
    *      disjoint pairs appear with n_common = 0).
    * Jaccard = |A∩B| / (|A|+|B|−|A∩B|) — one IEEE division of exact Longs.
    *
    * The distinct in step 1 is the scale cost (corpus-sized shuffle); the
    * sketch variant [[sourceOverlapSketch]] removes it entirely.
    */
  def sourceOverlap(docs: DataFrame, group: Column, text: Column,
                    w: Int = 3): DataFrame = {
    // two consumers (sizes + intersection) — Caches-tracked so the corpus
    // shingle+distinct pass runs once; released by the session owner.
    // group is cast to string UP FRONT: the empty-pair branch below is
    // typed struct<src_a:string,src_b:string>, so a non-string group (an
    // int snapshot id, a date) would otherwise fail analysis with a
    // branch-type mismatch.
    // grams travel as 64-bit hashes from the native shingle_hashes64 kernel
    // (one primitive loop per doc), never as strings: the corpus-sized
    // distinct + the per-gram collect_set then carry (string, long) rows
    // ~5x narrower and skip the per-window concat_ws allocation — the
    // q44/q48 negligible-collision-mass budget (sizes and intersections
    // are hash-invariant; no output column carries a gram)
    val grams = Caches.track(docs
      .select(group.cast("string").as("src"),
        explode(graft.functions.gfn.shingle_hashes64(text, w)).as("g"))
      .distinct())
    val sizes = grams.groupBy(col("src")).agg(count(lit(1)).as("n_set"))
    // r12: native pair kernel (string mirror of long_pairs) — the nested
    // transform expansion ran interpreted per pair per gram bucket; pair
    // SET identical (downstream aggregates), empty/singleton buckets
    // yield no rows exactly like the old empty-array branch
    val inter = grams
      .groupBy(col("g")).agg(sort_array(collect_set(col("src"))).as("ss"))
      .select(explode(graft.functions.gfn.string_pairs(col("ss"))).as("p"))
      .groupBy(col("p.a").as("src_a"), col("p.b").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
    val a = broadcast(sizes).select(col("src").as("src_a"), col("n_set").as("n_a"))
    val b = broadcast(sizes).select(col("src").as("src_b"), col("n_set").as("n_b"))
    a.crossJoin(b).where(col("src_a") < col("src_b")) // G×G broadcast matrix
      .join(inter, Seq("src_a", "src_b"), "left")
      .na.fill(0L, Seq("n_common"))
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("n_a") + col("n_b") - col("n_common")).cast("double"))
  }

  /** MINHASH-SKETCH SOURCE OVERLAP — the one-pass scale face of
    * [[sourceOverlap]]. The k-perm min over a group's gram MULTISET equals
    * the min over its gram SET, so the corpus-sized distinct disappears:
    * per-doc signatures are a narrow kernel pass, the per-group signature
    * is an elementwise-min aggregate (mergeable — partial combine does all
    * the work; G×k cells of state), and the estimate
    * ĵ(A,B) = |{j : sig_A[j] = sig_B[j]}| / k comes from a G²×k-sized
    * comparison of the tiny signature table against itself. Standard error
    * 1/√k; OpsSpec pins the estimate against the exact op.
    */
  def sourceOverlapSketch(docs: DataFrame, group: Column, text: Column,
                          w: Int = 3, k: Int = 64): DataFrame =
    overlapFromCells(sourceSignatureCells(docs, group, text, w, k), k)

  /** The sketch's MERGEABLE STATE: (src, j, v) — component j of group
    * `src`'s union-set minhash signature. Elementwise min = the union
    * set's signature, and min is associative/commutative, so cells from
    * any partition of the corpus (batches, days, streams) fold into the
    * same state: `unionByName` + groupBy-min == one-shot build. The
    * posexplode fans k small rows per doc but partial combine collapses
    * them to G×k cells per map task before the shuffle.
    */
  def sourceSignatureCells(docs: DataFrame, group: Column, text: Column,
                           w: Int = 3, k: Int = 64): DataFrame = docs
    // string-cast the group key so sketch output lines up with the exact
    // op's string src_a/src_b for any input group type
    .select(group.cast("string").as("src"),
      graft.functions.gfn.shingle_hashes(text, w).as("hashes"))
    .withColumn("sig", minhashSignature(col("hashes"), k))
    .select(col("src"), posexplode(col("sig")).as(Seq("j", "v")))
    .groupBy(col("src"), col("j")).agg(min(col("v")).as("v"))

  /** Pairwise Jaccard estimates from a (src, j, v) cell table:
    * ĵ = matching-component fraction, from a G²×k-sized self-comparison of
    * the tiny signature table.
    */
  def overlapFromCells(cells: DataFrame, k: Int): DataFrame = {
    val a = cells.select(col("src").as("src_a"), col("j"), col("v").as("va"))
    val b = cells.select(col("src").as("src_b"), col("j"), col("v").as("vb"))
    a.join(b, Seq("j")).where(col("src_a") < col("src_b")) // G²×k, tiny
      .groupBy(col("src_a"), col("src_b"))
      .agg((sum(when(col("va") === col("vb"), 1L).otherwise(0L)).cast("double")
        / lit(k.toDouble)).as("jaccard_est"))
  }

  /** Fold a new batch's cells into existing sketch state (both (src,j,v)).
    * Exact by the min-mergeability argument on [[sourceSignatureCells]].
    */
  def mergeSignatureCells(state: DataFrame, batchCells: DataFrame): DataFrame =
    state.unionByName(batchCells)
      .groupBy(col("src"), col("j")).agg(min(col("v")).as("v"))
}
