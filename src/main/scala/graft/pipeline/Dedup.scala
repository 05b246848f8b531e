package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.
  *
  * Scale design: everything is explode → hash-aggregate → equi-join on a
  * blocking key. No windows over the whole corpus, no driver-side state.
  * The exact Jaccard self-join is the correctness baseline (oracle-
  * checkable); MinHash-LSH and SimHash are the 100 TB paths — candidate
  * generation touches only same-bucket pairs.
  */
object Dedup {

  /** Exact dedup over normalized text: one keeper (min id) and the
    * duplicate count per distinct normalized document.
    *
    * The shuffle key is a (xxhash64, md5) digest PAIR of the normalized
    * text, not the text itself: at 100 TB grouping by the body would ship
    * every document through the exchange, while the digest pair is 24
    * fixed-width bytes per row (~100× less payload on prose-sized docs).
    * Two independent digests make a false merge need a simultaneous
    * 64-bit AND 128-bit collision on the same pair of documents —
    * far below the corruption rates of the storage layer itself.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = TextAnalysis.normalize(col(textCol))
    TextAnalysis.widen(df)
      .groupBy(xxhash64(norm).as("__h64"), unhex(md5(norm)).as("__h128"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
      .select(col("keep_id"), col("n_dups"))
  }

  /** Distinct character n-grams (shingles) of `text`. */
  def shingles(text: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
      i => substr(text, i, lit(n))))

  /** Exact n-gram Jaccard near-dup pairs: (a_id < b_id, jaccard >= threshold).
    *
    * A naive shingle self-join generates sum-over-shingles(freq²) pair rows
    * — quadratic in practice because common shingles appear in most docs.
    * This uses prefix filtering (Chaudhuri et al. SSJoin / Xiao et al.
    * PPJoin): under a global canonical shingle order (rarest first), any
    * pair with J >= t must collide within each doc's first
    * |X| - ceil(t*|X|) + 1 shingles, so only those are indexed — and being
    * the RAREST shingles, their join fan-out is small. Candidates are then
    * verified exactly on the full shingle sets. All stages are
    * explode → hash-aggregate → equi-join; nothing is quadratic in the
    * corpus, so the plan survives a 1000× scale-up (candidate count scales
    * with true near-dup density, not with corpus²).
    */
  /** Benchmark decontamination (the n-gram overlap check run before
    * training: any document sharing a word n-gram with the eval/benchmark
    * set is flagged — the GPT-3 appendix-C / Dolma practice, usually with
    * n in 8..13). Returns (idCol, n_hits) for CONTAMINATED corpus docs
    * only, n_hits = number of distinct shared n-grams.
    *
    * Scale shape: the benchmark side (eval suites — MBs, not TBs) is
    * reduced to a distinct 8-byte gram-hash set and broadcast, so the
    * 100 TB corpus side is a pure map-side explode + hash-join probe —
    * ZERO corpus shuffle until the matched rows (contamination hits, tiny
    * by construction) reach the per-doc count. Gram equality is checked on
    * xxhash64 hashes; a 64-bit collision could flag one extra gram, the
    * same correctness budget every hashed dedup path here assumes.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, n: Int = 8): DataFrame = {
    def gramHash(c: Column) = xxhash64(c)
    val cg = TextAnalysis.widen(corpus).select(col(idCol),
        explode(TextAnalysis.wordNGrams(lower(col(textCol)), n)).as("__gs"))
      .select(col(idCol), gramHash(col("__gs")).as("__g"))
    val bg = TextAnalysis.widen(benchmark)
      .select(explode(TextAnalysis.wordNGrams(lower(col(textCol)), n)).as("__gs"))
      .select(gramHash(col("__gs")).as("__g")).distinct()
    cg.join(broadcast(bg), Seq("__g"))
      .groupBy(col(idCol))
      .agg(countDistinct(col("__g")).as("n_hits"))
  }

  /** [[decontaminate]] over PRE-BUILT per-doc-DISTINCT gram-hash tables
    * (the [[docNGramHashes]] shape both splits can filter from): with
    * per-doc distinct grams, the distinct-hit count is a plain count —
    * identical n_hits, one shared explode pass with [[dupNGramStats]].
    */
  def decontaminateFromGrams(cg: DataFrame, bg: DataFrame,
      idCol: String): DataFrame =
    cg.join(broadcast(bg.select(col("__g")).distinct()), Seq("__g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))

  /** (id, __g): per-document DISTINCT lowercased word-n-gram xxhash64
    * hashes — the shared first stage of [[dupNGramStats]] and
    * [[decontaminateFromGrams]].
    */
  def docNGramHashes(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    TextAnalysis.widen(df)
      .select(col(idCol), explode(array_distinct(
        TextAnalysis.wordNGrams(lower(col(textCol)), n))).as("__gs"))
      .select(col(idCol), xxhash64(col("__gs")).as("__g"))

  /** Cross-document duplicated-n-gram stats: per document, how many of its
    * distinct word n-grams also occur in at least one OTHER document —
    * the corpus-level companion to the within-doc repetition score
    * ([[TextAnalysis.repetitionScore]]); high dup_frac means boilerplate /
    * template / near-duplicate content even when no single pair crosses a
    * Jaccard threshold.
    *
    * Shape at scale: explode per-doc distinct grams once (materialized —
    * the frequency count and the join-back both read it), count docs per
    * gram, join back, per-doc aggregate — the [[TextAnalysis.tokenRarity]]
    * pattern, all map-side-combined equi-joins on 8-byte hashes.
    */
  def dupNGramStats(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame =
    dupNGramStatsFromGrams(
      docNGramHashes(df, idCol, textCol, n).localCheckpoint(), idCol)

  /** Same, over a PRE-BUILT (and materialized) [[docNGramHashes]] table —
    * shared with the decontamination probe's corpus side.
    */
  def dupNGramStatsFromGrams(dg: DataFrame, idCol: String): DataFrame = {
    // per-doc-distinct input, so count(*) per gram == doc frequency
    val freq = dg.groupBy(col("__g")).agg(count(lit(1)).as("__df"))
    dg.join(freq, Seq("__g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__df") >= 2, 1L).otherwise(0L)).as("n_dup_grams"))
      .withColumn("dup_frac",
        col("n_dup_grams").cast("double") / col("n_grams").cast("double"))
  }

  /** Cross-document duplicated-SPAN removal — the removal counterpart of
    * [[dupNGramStats]] (the "dedup training data" transform of Lee et al.,
    * Deduplicating Training Data Makes Language Models Better, ACL 2022,
    * approximated at word-n-gram granularity): a token is dropped when it
    * lies inside any word n-gram that also occurs in at least one OTHER
    * document, so shared boilerplate (headers, license blocks, templates)
    * disappears while each document's unique prose survives. Gram
    * identity is lowercased; emitted tokens keep their original case, and
    * `clean_text` is the kept tokens joined by single spaces
    * (whitespace-normalized, same as every tokenizing op here).
    * Within-doc repetition alone (df = 1) is NOT removed — that is
    * [[TextAnalysis.repetitionScore]]'s domain.
    *
    * Shape at scale: gram positions explode once (8-byte hashes),
    * doc-frequency count + semi-join back are map-side-combined equi
    * joins — the [[dupNGramStats]] pipeline plus one per-doc rebuild.
    * The rebuild is per-row lambda work bounded by doc length × dup-span
    * count; documents in a training pipeline are chunk-bounded, so the
    * worst case is capped by construction.
    */
  def removeDupSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    val toks = TextAnalysis.widen(df)
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .localCheckpoint() // gram side and rebuild side both read it
    // (start, gramHash) per position; starts are 1-based
    // sequence(1, x) is DESCENDING for x < 1 (Spark semantics), so gate
    // short docs to an explicit empty start list
    val startIdx = when(size(col("__toks")) >= n,
      sequence(lit(1), size(col("__toks")) - (n - 1)))
      .otherwise(array().cast("array<int>"))
    val g = toks.select(col(idCol), posexplode(transform(startIdx,
        i => xxhash64(lower(concat_ws(" ", slice(col("__toks"), i, lit(n))))))))
      .select(col(idCol), (col("pos") + 1).as("__start"), col("col").as("__g"))
    // cross-doc frequency over per-doc DISTINCT grams (dupNGramStats rule)
    val dupG = g.select(col(idCol), col("__g")).distinct()
      .groupBy(col("__g")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2).select(col("__g"))
    val starts = g.join(dupG, Seq("__g"), "left_semi")
      .groupBy(col(idCol)).agg(sort_array(collect_set(col("__start"))).as("__starts"))
    val rebuilt = toks.join(starts, Seq(idCol), "left")
    val st = coalesce(col("__starts"), array().cast("array<int>"))
    val kept = transform(
      filter(
        transform(col("__toks"), (t, i) => struct((i + 1).as("p"), t.as("t"))),
        x => !exists(st, s => x("p") >= s && x("p") <= s + (n - 1))),
      x => x("t"))
    rebuilt.select(col(idCol),
      size(col("__toks")).cast("long").as("n_tokens"),
      (size(col("__toks")) - size(kept)).cast("long").as("n_removed"),
      concat_ws(" ", kept).as("clean_text"))
  }

  /** doc -> (id, gs: sorted distinct xxhash64 shingle hashes, sz).
    * The shared first stage of the exact-Jaccard AND MinHash paths:
    * hashing to long means shuffles move 8 bytes per shingle, sorting
    * lets verification merge-walk (SortedIntersectCount). Shingle
    * generation is the most expensive scalar work in either job, so
    * pipelines computing both should build this once and persist it.
    */
  def hashedShingleDocs(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val wide = TextAnalysis.widen(df)
    // one-pass native kernel (see [[graft.functions.ShingleHashes]]):
    // hash-then-distinct on longs equals distinct-then-hash on strings up
    // to 64-bit hash collisions, which the whole hashed pipeline already
    // assumes away
    wide.select(col(idCol).as("id"),
      graft.functions.VectorExprs.shingleHashes(col(textCol), n).as("gs"))
      .withColumn("sz", size(col("gs")))
  }

  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame =
    ngramJaccardPairsFromDocs(
      hashedShingleDocs(df, idCol, textCol, n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      threshold)

  /** Same, over a pre-built (and ideally persisted) [[hashedShingleDocs]]
    * table — the index build and both verify sides read it.
    */
  def ngramJaccardPairsFromDocs(docs: DataFrame, threshold: Double): DataFrame = {
    val sh = docs.select(col("id"), col("sz"), explode(col("gs")).as("g"))
    // canonical order = (global frequency asc, hash): rarest first
    val freq = sh.groupBy(col("g")).agg(count(lit(1)).as("f"))
    // All-Pairs (Bayardo et al., WWW'07) asymmetric prefixes, +2 slack
    // against float wobble in ceil():
    //  - probing prefix |X| - ceil(t·|X|) + 1 on the larger-record side
    //  - indexing prefix |X| - ceil(2t/(1+t)·|X|) + 1 on the smaller side
    // Every pair with J >= t shares a token within (probe ∩ index) when
    // records are ordered by (sz, id) — the index prefix being ~half the
    // probing prefix roughly halves the candidate join's output.
    // The prefix table is persisted: without it, the probe and index sides
    // of the candidate join would EACH re-run the freq join + per-doc
    // ranking over every shingle occurrence (the widest stage of the whole
    // job) — materializing only the surviving ~(1-t)·|X| prefix rows makes
    // the second side a cache read, and shrinks it ~5× at t = 0.8.
    val prefix = sh.join(freq, Seq("g")).withColumn("rk",
        row_number().over(Window.partitionBy(col("id")).orderBy(col("f"), col("g"))))
      .filter(col("rk") <= col("sz") - ceil(lit(threshold) * col("sz")) + 2)
      .withColumn("in_index", col("rk") <=
        col("sz") - ceil(lit(2 * threshold / (1 + threshold)) * col("sz")) + 2)
      .select(col("g"), col("id"), col("sz"), col("rk"), col("in_index"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probe = prefix
    val index = prefix.filter(col("in_index"))
    // candidate filters (each with a 1-element slack for float rounding):
    //  - orientation: index side strictly before probe side in (sz, id)
    //  - length: J >= t forces min(|A|,|B|) >= t*max(|A|,|B|)
    //  - positional (PPJoin): a shared prefix token at ranks (ra, rb) caps
    //    the overlap at 1 + min(|A|-ra, |B|-rb), which must reach the
    //    required overlap alpha = t/(1+t) * (|A|+|B|)
    val cand = probe.select(col("g"), col("id").as("p_id"),
        col("sz").as("pp"), col("rk").as("rp"))
      .join(index.select(col("g"), col("id").as("i_id"),
        col("sz").as("pi"), col("rk").as("ri")), Seq("g"))
      .filter((col("pi") < col("pp") ||
          (col("pi") === col("pp") && col("i_id") < col("p_id"))) &&
        col("pi") >= lit(threshold) * col("pp") - 1 &&
        lit(1) + least(col("pp") - col("rp"), col("pi") - col("ri")) >=
          lit(threshold / (1 + threshold)) * (col("pp") + col("pi")) - 1)
      .select(least(col("p_id"), col("i_id")).as("a_id"),
        greatest(col("p_id"), col("i_id")).as("b_id")).distinct()
      // candidates are tiny (scale with true near-dup density); an EAGER
      // localCheckpoint materializes them now — so the wide prefix table
      // can be released immediately — and truncates lineage WITHOUT
      // registering a CacheManager entry (a persist here would be held
      // until session end with no handle for the caller to release;
      // checkpoint blocks are GC-reclaimed with the DataFrame)
      .localCheckpoint()
    prefix.unpersist()
    verifyJaccard(cand, docs, threshold)
  }

  /** Exact-Jaccard verification of candidate (a_id, b_id) pairs against the
    * full shingle sets in a [[hashedShingleDocs]] table. Shared by the
    * prefix-filter path (candidates are provably complete) and the
    * MinHash-LSH path (candidates are complete up to the banding miss
    * probability). Output: (a_id, b_id, jaccard) with jaccard >= threshold.
    */
  def verifyJaccard(cand: DataFrame, docs: DataFrame,
      threshold: Double): DataFrame =
    verifyJaccardAcross(cand, docs, docs, threshold)

  /** Two-table variant: the a-side ids resolve in `docsA`, the b-side in
    * `docsB` (identical when verifying within one corpus; distinct for
    * cross-split checks like [[fuzzyDecontaminate]]). One implementation
    * so the jaccard expression can never drift between paths — it must
    * stay in lockstep with the DuckDB oracles.
    */
  private[pipeline] def verifyJaccardAcross(cand: DataFrame, docsA: DataFrame,
      docsB: DataFrame, threshold: Double): DataFrame = {
    // ONE kernel call computes the coefficient (sa/sb are the array
    // lengths — the hashedShingleDocs contract, sz = size(gs)). The
    // previous two-step form (sortedIntersectCount, then a jaccard
    // expression referencing it twice) was inlined by filter pushdown
    // into the verify JOIN CONDITION, where no subexpression elimination
    // exists — every candidate pair paid the O(sa+sb) merge walk TWICE
    // (measured on d10: 2 × 1.6M walks). The kernel also early-exits
    // below the threshold (admissible bound — exact for every kept row),
    // trimming the walks of the below-threshold candidate majority.
    val da = docsA.select(col("id").as("a_id"), col("gs").as("a_gs"))
    val db = docsB.select(col("id").as("b_id"), col("gs").as("b_gs"))
    cand.join(da, Seq("a_id")).join(db, Seq("b_id"))
      .withColumn("jaccard", graft.functions.VectorExprs
        .jaccardGe(col("a_gs"), col("b_gs"), threshold))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** Default signature-prescreen slack below the exact threshold —
    * shared by every LSH path (batch pairs, fuzzy decontamination,
    * ingest dedup) so their candidate-miss budgets cannot drift apart.
    */
  val DefaultEstMargin: Double = 0.25

  /** Fraction of agreeing minhash positions — the unbiased signature
    * Jaccard estimator every LSH path prescreens with.
    */
  private[pipeline] def sigAgreement(a: Column, b: Column, numHashes: Int): Column =
    // native counting kernel: the zip_with/filter/size form materialized a
    // boolean array plus a filtered copy per candidate pair — identical
    // count, same cast/division, zero allocation (VectorExprsSpec pins
    // the equivalence)
    graft.functions.VectorExprs.sigAgreeCount(a, b).cast("double") /
      lit(numHashes.toDouble)

  /** MinHash signatures: `numHashes` permutations approximated by
    * `(a_i * h + b_i) mod p` over xxhash64 shingle hashes (the standard
    * universal-hash construction). Deterministic seed.
    *
    * Returns (id, sig array<long>[numHashes]), over a pre-built
    * [[hashedShingleDocs]] table (the xxhash64 shingle hash doubles as
    * the universal-hash input).
    *
    * One codegen'd pass per document ([[graft.functions.MinHashSig]]):
    * the explode → k-column min-aggregate formulation walks every
    * (occurrence, hash) pair through aggregation buffers and shuffles the
    * exploded rows; the native expression computes the identical k mins
    * in a tight loop, keeping signature building a shuffle-free map stage.
    */
  def minhashSignaturesFromDocs(docs: DataFrame, numHashes: Int,
      seed: Long = 42L): DataFrame = {
    // 2^31 minhash space (p = 2^31-1) is ample for banding
    val (a, b) = graft.functions.MinHashSig.params(numHashes, seed)
    // drop signature-less docs BEFORE the projection: the previous
    // post-filter `sig IS NOT NULL` was alias-substituted below the
    // projection, so the minhash kernel ran TWICE per doc (Filter +
    // Project — round-17 plan audit). Under the [[hashedShingleDocs]]
    // contract (gs = sorted distinct non-null hashes) the predicates are
    // equivalent: the kernel returns null iff gs is null or empty.
    docs.filter(col("gs").isNotNull && size(col("gs")) > 0)
      .select(col("id"),
        graft.functions.VectorExprs.minhashSig(col("gs"), a, b,
          graft.functions.MinHashSig.P).as("sig"))
  }

  /** MinHash + LSH banding: signature split into `bands` bands; docs
    * sharing any band bucket become candidate pairs; candidates are then
    * exactly verified against the true signature similarity estimate.
    *
    * Output: (a_id, b_id, est_jaccard) with est >= threshold.
    * est_jaccard = fraction of matching minhashes (unbiased Jaccard
    * estimator).
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7, seed: Long = 42L): DataFrame =
    minhashLshPairsFromDocs(hashedShingleDocs(df, idCol, textCol, n),
      numHashes, bands, threshold, seed)

  /** Same, over a pre-built [[hashedShingleDocs]] table. */
  def minhashLshPairsFromDocs(docs: DataFrame,
      numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7, seed: Long = 42L): DataFrame = {
    // eager localCheckpoint: signatures are computed once and read by the
    // banding and both join probes; unlike persist, the blocks are
    // GC-reclaimed with the DataFrame instead of pinned in CacheManager
    val sigs = minhashSignaturesFromDocs(docs, numHashes, seed)
      .localCheckpoint()
    minhashLshCandidates(sigs, numHashes, bands)
      .join(sigs.select(col("id").as("a_id"), col("sig").as("a_sig")), Seq("a_id"))
      .join(sigs.select(col("id").as("b_id"), col("sig").as("b_sig")), Seq("b_id"))
      .withColumn("est_jaccard",
        sigAgreement(col("a_sig"), col("b_sig"), numHashes))
      .filter(col("est_jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("est_jaccard"))
  }

  /** One row per (doc, band): bucket key = hash of the band's signature
    * slice. Only (band, bucket, id) flows through the banding join —
    * 24-byte rows, NOT the ~1 KB signature arrays; the signatures rejoin
    * only for the surviving candidate pairs. At scale the banding shuffle
    * is the widest stage, so row width there is what the plan lives or
    * dies on.
    */
  private[pipeline] def bandBuckets(sigs: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    sigs.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * rows + 1, lit(rows)), b))))
      .select(col("id"), col("pos").as("band"), col("col").as("bucket"))
  }

  /** LSH banding over pre-built minhash signatures → candidate (a_id, b_id)
    * pairs (a_id < b_id), deduplicated.
    */
  private def minhashLshCandidates(sigs: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    val banded = bandBuckets(sigs, numHashes, bands)
    banded.select(col("band"), col("bucket"), col("id").as("a_id"))
      .join(banded.select(col("band"), col("bucket"), col("id").as("b_id")),
        Seq("band", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
  }

  /** MinHash-LSH candidates verified by EXACT Jaccard — the production
    * shape of near-dup detection at scale: banding bounds the candidate
    * set, a signature-level prescreen discards the bulk of spurious
    * band collisions cheaply, and exact verification on the survivors
    * makes the answer exact.
    *
    * Miss probability per true pair at t = 0.8 (defaults r = 3, b = 20):
    * banding (1 - 0.8³)^20 ≈ 5.7e-7, plus the prescreen P(Binom(60, 0.8)
    * < 0.55·60) ≈ 8e-7 — the output equals the all-pairs exact answer
    * with near-certainty. The prescreen matters because band collisions
    * scale with the corpus's MODERATE-similarity mass (a J = 0.4 pair
    * collides with p = 0.73 at r = 3): comparing two 60-long signatures
    * costs ~500 B per pair, while exact verification drags the full
    * shingle arrays (~1.6 KB avg per doc) through a shuffle — the
    * prescreen cuts that candidate stream by orders of magnitude before
    * the heavy join. Signatures are a small per-doc table, so Catalyst
    * broadcast-joins it under the default threshold; at billions of docs
    * it becomes an ordinary shuffle join with no code change.
    */
  def minhashLshVerifiedPairs(docs: DataFrame, threshold: Double,
      numHashes: Int = 60, bands: Int = 20, seed: Long = 42L,
      estMargin: Double = DefaultEstMargin): DataFrame =
    // eager localCheckpoint: signatures are computed once and read by the
    // banding and both join probes; unlike persist, the blocks are
    // GC-reclaimed with the DataFrame instead of pinned in CacheManager
    minhashLshVerifiedPairsFromSigs(docs,
      minhashSignaturesFromDocs(docs, numHashes, seed).localCheckpoint(),
      threshold, numHashes, bands, estMargin)

  /** Same, over a PRE-BUILT (and materialized) signature table — a
    * pipeline that also runs fuzzy decontamination signs the corpus once
    * and feeds both (the [[hashedShingleDocs]] sharing pattern one stage
    * up).
    */
  def minhashLshVerifiedPairsFromSigs(docs: DataFrame, sigs: DataFrame,
      threshold: Double, numHashes: Int = 60, bands: Int = 20,
      estMargin: Double = DefaultEstMargin): DataFrame = {
    val cand = minhashLshCandidates(sigs, numHashes, bands)
    val screened = cand
      .join(sigs.select(col("id").as("a_id"), col("sig").as("a_sig")), Seq("a_id"))
      .join(sigs.select(col("id").as("b_id"), col("sig").as("b_sig")), Seq("b_id"))
      .withColumn("est", sigAgreement(col("a_sig"), col("b_sig"), numHashes))
      .filter(col("est") >= threshold - estMargin)
      .select(col("a_id"), col("b_id"))
    verifyJaccard(screened, docs, threshold)
  }

  /** Fuzzy benchmark decontamination — the near-dup companion of
    * [[decontaminate]]: corpus documents whose character-n-gram-shingle
    * Jaccard against ANY benchmark document reaches `threshold`, catching
    * paraphrased / lightly-reformatted contamination that an exact
    * word-n-gram probe misses (the same resemblance model the dedup
    * family uses, pointed across the corpus × benchmark split).
    *
    * Scale shape: minhash signatures on BOTH sides, banding joined only
    * ACROSS the split (never corpus × corpus — at 100 TB that wasted
    * self-join dwarfs the real work), signature prescreen, exact-Jaccard
    * verification of the survivors. The benchmark side (eval suites) is
    * tiny, so its band table and signatures broadcast; the corpus side
    * never self-shuffles. Same miss budget as
    * [[minhashLshVerifiedPairs]] (~1e-6 per true pair at t = 0.8), so the
    * output equals the exact cross-split answer with near-certainty.
    *
    * Output: (idCol, n_contaminated, max_jaccard) for flagged corpus docs.
    */
  def fuzzyDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 5, threshold: Double = 0.8,
      numHashes: Int = 60, bands: Int = 20, seed: Long = 42L,
      estMargin: Double = DefaultEstMargin): DataFrame =
    fuzzyDecontaminateFromDocs(
      hashedShingleDocs(corpus, idCol, textCol, n).localCheckpoint(),
      hashedShingleDocs(benchmark, idCol, textCol, n).localCheckpoint(),
      idCol, threshold, numHashes, bands, seed, estMargin)

  /** Same, over pre-built (ideally shared/persisted) [[hashedShingleDocs]]
    * tables — a pipeline that also runs the dedup family shingles the
    * corpus ONCE and feeds both.
    */
  def fuzzyDecontaminateFromDocs(cd: DataFrame, bd: DataFrame,
      idCol: String, threshold: Double,
      numHashes: Int = 60, bands: Int = 20, seed: Long = 42L,
      estMargin: Double = DefaultEstMargin): DataFrame =
    fuzzyDecontaminateFromSigs(cd, bd,
      minhashSignaturesFromDocs(cd, numHashes, seed).localCheckpoint(),
      minhashSignaturesFromDocs(bd, numHashes, seed).localCheckpoint(),
      idCol, threshold, numHashes, bands, estMargin)

  /** Same, over PRE-BUILT signature tables for both splits — when the
    * corpus signatures already exist (the d3 LSH table), the splits are
    * filters of it, not two fresh signing passes.
    */
  def fuzzyDecontaminateFromSigs(cd: DataFrame, bd: DataFrame,
      cs: DataFrame, bs: DataFrame, idCol: String, threshold: Double,
      numHashes: Int = 60, bands: Int = 20,
      estMargin: Double = DefaultEstMargin): DataFrame = {
    // explicit broadcast on every benchmark-side join (the decontaminate
    // posture): checkpointed plans report conservative size stats, so
    // without the hint a pre-AQE planner would shuffle the corpus band
    // table against a benchmark that fits in one broadcast
    val cand = bandBuckets(cs, numHashes, bands)
      .select(col("band"), col("bucket"), col("id").as("a_id"))
      .join(broadcast(bandBuckets(bs, numHashes, bands)
        .select(col("band"), col("bucket"), col("id").as("b_id"))),
        Seq("band", "bucket"))
      .select(col("a_id"), col("b_id")).distinct()
    val screened = cand
      .join(cs.select(col("id").as("a_id"), col("sig").as("a_sig")), Seq("a_id"))
      .join(broadcast(bs.select(col("id").as("b_id"), col("sig").as("b_sig"))),
        Seq("b_id"))
      .withColumn("est", sigAgreement(col("a_sig"), col("b_sig"), numHashes))
      .filter(col("est") >= threshold - estMargin)
      .select(col("a_id"), col("b_id"))
    verifyJaccardAcross(screened, cd, broadcast(bd), threshold)
      .groupBy(col("a_id").as(idCol))
      .agg(count(lit(1)).as("n_contaminated"),
        max(col("jaccard")).as("max_jaccard"))
  }

  /** Token hash with an exact cross-engine twin: the top 60 bits of
    * md5(token) (15 hex chars, so the value stays positive in a signed
    * 64-bit long). DuckDB computes the identical value as
    * `('0x' || substr(md5(t), 1, 15))::BIGINT`, which is what lets the
    * whole SimHash pipeline be oracle-checked end to end.
    */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** SimHash over whitespace tokens: per-bit majority vote of token
    * hashes, computed in one codegen'd pass per document
    * ([[graft.functions.SimHashSig]] — no explode, no nBits-column
    * aggregate, no shuffle). `md560 = true` hashes tokens to the top 60
    * bits of md5 (exact DuckDB twin, see [[md5Hash60]]); false uses
    * xxhash64 (fastest).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String,
      nBits: Int = 64, md560: Boolean = false): DataFrame =
    TextAnalysis.widen(df).select(col(idCol).as("id"),
      graft.functions.VectorExprs.simhashSig(
        TextAnalysis.tokens(col(textCol)), nBits, md560).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** SimHash near-dup candidate pairs with Hamming distance <= maxHamming.
    * Blocking: pigeonhole on nBits/4-bit chunks — any pair within distance
    * `maxHamming` (< 4) agrees on at least one of the 4 chunks, so the
    * join only compares same-chunk buckets. Verified with bit_count(xor).
    *
    * Eager: calling this RUNS a Spark job — the (id, simhash) table is
    * `localCheckpoint`ed while the plan is built, so the kernel pass over
    * `df` happens here, not at the returned frame's first action.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, nBits: Int = 64,
      md560: Boolean = false): DataFrame = {
    require(maxHamming < 4, "4-chunk pigeonhole supports maxHamming <= 3")
    require(nBits % 4 == 0, "4-chunk pigeonhole needs nBits % 4 == 0")
    val chunkBits = nBits / 4
    // materialize the (id, simhash) table ONCE (16 B/row — trivially
    // checkpointable at any scale). Without it the plan evaluated the
    // simhash kernel (tokenize + md5 per token) FOUR times per document:
    // simhash()'s isNotNull filter is alias-substituted below the
    // projection (Filter + Project = 2×), and the banding self-join then
    // recomputes that subtree on each side (round-17 plan audit).
    val sig = simhash(df, idCol, textCol, nBits, md560).localCheckpoint()
    val chunked = sig.select(col("id"), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("simhash"), c * chunkBits)
          .bitwiseAND((1L << chunkBits) - 1)): _*)))
      .select(col("id"), col("simhash"), col("pos").as("chunk"), col("col").as("bucket"))
    val a = chunked.select(col("chunk"), col("bucket"),
      col("id").as("a_id"), col("simhash").as("a_sh"))
    val b = chunked.select(col("chunk"), col("bucket"),
      col("id").as("b_id"), col("simhash").as("b_sh"))
    a.join(b, Seq("chunk", "bucket")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("a_sh"), col("b_sh")).distinct()
      .withColumn("hamming", bit_count(col("a_sh").bitwiseXOR(col("b_sh"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** Winnowing fingerprints (Schleimer et al., "Winnowing: Local
    * Algorithms for Document Fingerprinting", SIGMOD'03 — the MOSS
    * algorithm): hash every character k-gram POSITIONALLY, then keep the
    * minimum hash of each w-hash sliding window. Guarantee: any shared
    * substring of length >= w + k - 1 contributes at least one shared
    * fingerprint, with only ~2/(w+1) of the k-gram hashes retained.
    *
    * Distinct from the set-similarity family (d2/d3: global resemblance)
    * — winnowing finds LOCAL overlap (a copied paragraph inside an
    * otherwise different document). Uses the md5-top-60-bit hash so the
    * whole pipeline has an exact DuckDB twin.
    *
    * Returns (id, fps: array of distinct selected fingerprint hashes).
    * Per-row array ops only — no shuffle.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame =
    TextAnalysis.widen(df).select(col(idCol).as("id"),
      graft.functions.VectorExprs.winnowHashes(col(textCol), k, w).as("fps"))

  /** Winnowing near-dup pairs: documents sharing >= minShared selected
    * fingerprints (after dropping "stop fingerprints" that appear in more
    * than maxDocFreq documents — the blocking-key cap that keeps the
    * self-join linear in true overlap, same role as the prefix filter in
    * the Jaccard join).
    */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 12, w: Int = 5, minShared: Long = 10,
      maxDocFreq: Long = 20): DataFrame = {
    // materialize the fingerprint table once: the rare-fp aggregate and
    // the join probe are different subtrees, so without this the winnow
    // kernel (an md5 per k-gram over every document) would run twice.
    // Checkpoint the per-doc ARRAY table (one row per doc), not the
    // exploded rows (~2·chars/(w+1) per doc): the kernel still runs once,
    // and each consumer re-runs only the cheap explode over cached arrays
    // instead of materializing the wide row table to executor storage
    val fp = winnowFingerprints(df, idCol, textCol, k, w)
      .localCheckpoint()
      .select(col("id"), explode(col("fps")).as("fp"))
    val rare = fp.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq)
    val pruned = fp.join(rare.select(col("fp")), Seq("fp"))
    pruned.select(col("fp"), col("id").as("a_id"))
      .join(pruned.select(col("fp"), col("id").as("b_id")), Seq("fp"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Embedding cosine near-dup pairs >= threshold.
    * exact=true: full self-join (correctness baseline / oracle).
    * exact=false: random-hyperplane LSH blocking (the scale path) — only
    * same-bucket pairs are compared; recall controlled by `planes`.
    */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, exact: Boolean = true, planes: Int = 12,
      seed: Long = 42L): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", Similarity.l2norm(col("v")))
    val pairs =
      if (exact) {
        // all-pairs baseline: broadcast nested-loop so the O(n²) work
        // parallelizes over the left side's partitions (a join on a
        // constant key would funnel every pair into one task)
        val a = base.select(col("id").as("a_id"), col("v").as("a_v"), col("nrm").as("a_n"))
        val b = base.select(col("id").as("b_id"), col("v").as("b_v"), col("nrm").as("b_n"))
        a.crossJoin(broadcast(b)).filter(col("a_id") < col("b_id"))
      } else {
        val withKey = base.withColumn("bucket",
          Similarity.hyperplaneSig(col("v"), planes, seed))
        val a = withKey.select(col("bucket"), col("id").as("a_id"),
          col("v").as("a_v"), col("nrm").as("a_n"))
        val b = withKey.select(col("bucket"), col("id").as("b_id"),
          col("v").as("b_v"), col("nrm").as("b_n"))
        a.join(b, Seq("bucket")).filter(col("a_id") < col("b_id"))
      }
    pairs
      .withColumn("cos", Similarity.dot(col("a_v"), col("b_v")) / (col("a_n") * col("b_n")))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), col("cos"))
  }

  /** Keeper selection from near-dup pairs: connected-component-lite — keep
    * a doc unless it pairs with a smaller id (min-id wins). One anti-join.
    */
  def keepers(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    df.join(pairs.select(col("b_id").as(idCol)).distinct(), Seq(idCol), "left_anti")

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540):
    * cluster the embedding space coarsely, then within each cluster mark
    * cosine near-duplicates and keep one representative per duplicate
    * group — greedy by id, i.e. a vector is dropped iff a smaller-id
    * vector in its cluster is within the threshold (the same min-id-wins
    * rule as [[keepers]]).
    *
    * Scale shape: clustering bounds the pairwise work — candidates are
    * same-cluster only, so comparisons cost sum(|c_i|²) ≈ n²/nlist with
    * balanced clusters, and nlist grows with the corpus (the paper runs
    * 50k clusters at web scale). The cluster id is also the natural
    * storage partition key, making each cluster's self-join co-located —
    * no corpus-wide shuffle. `kmeansClusters=true` uses the production
    * quantizer ([[Similarity.ivfAssignKMeans]]); false uses the
    * deterministic first-nlist assignment ([[Similarity.ivfAssign]]),
    * exactly reproducible in SQL — the oracle path.
    *
    * Returns every input id with its cluster and kept flag.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int, threshold: Double,
      spark: org.apache.spark.sql.SparkSession,
      kmeansClusters: Boolean = false): DataFrame = {
    val (assigned, _) =
      if (kmeansClusters)
        Similarity.ivfAssignKMeans(df, idCol, vecCol, nlist)
      else Similarity.ivfAssign(df, idCol, vecCol, nlist, spark)
    // materialize the assignment once: the nlist-way argmax would
    // otherwise run three times (both join sides + final output)
    val base = assigned.select(col("__list").as("cluster"),
        col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", Similarity.l2norm(col("v")))
      .localCheckpoint()
    val a = base.select(col("cluster"), col("id").as("a_id"),
      col("v").as("a_v"), col("nrm").as("a_n"))
    val b = base.select(col("cluster"), col("id").as("b_id"),
      col("v").as("b_v"), col("nrm").as("b_n"))
    val removed = a.join(b, Seq("cluster"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos",
        Similarity.dot(col("a_v"), col("b_v")) / (col("a_n") * col("b_n")))
      .filter(col("cos") >= threshold)
      .select(col("b_id").as("id")).distinct()
    base.select(col("id"), col("cluster"))
      .join(removed.withColumn("__rm", lit(1)), Seq("id"), "left")
      .select(col("id"), col("cluster"), col("__rm").isNull.as("kept"))
  }

  /** Connected components over a near-dup pair graph — the step that turns
    * pairwise candidates into dedup CLUSTERS (pairs alone under-merge: if
    * A~B and B~C but A!~C, min-id-per-pair keeps both A and C).
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — each round
    * is groupBy(min) + equi-join, converging in O(log n) rounds even on
    * path-shaped graphs, vs O(diameter) for naive min-propagation. Edges
    * stay canonically oriented (u > v) throughout; at the fixpoint every
    * edge points a node at its component's minimum id. Each round
    * localCheckpoints so lineage doesn't grow unboundedly (the standard
    * iterative-algorithm hazard at scale).
    *
    * Input: a pair DataFrame with two id columns. Output: (id, component)
    * for every node that appears in a pair; component = min id of the
    * component (representatives map to themselves). Nodes with no pairs
    * are their own component — callers coalesce(component, id).
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 25): DataFrame = {
    // ids must be integral: a silent cast of e.g. string ids to long
    // would null every edge and "converge" on all-singleton components
    Seq(aCol, bCol).foreach { c =>
      val dt = pairs.schema(c).dataType
      require(Seq(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType).contains(dt),
        s"connectedComponents needs integral ids; $c is $dt " +
          "(hash or dense-rank non-numeric ids first)")
    }
    val spark = pairs.sparkSession
    var e = pairs
      .select(col(aCol).cast("long").as("x"), col(bCol).cast("long").as("y"))
      .filter(col("x") =!= col("y"))
      .select(greatest(col("x"), col("y")).as("u"), least(col("x"), col("y")).as("v"))
      .distinct().localCheckpoint()
    // The edge set is the NEAR-DUP GRAPH — orders of magnitude smaller
    // than the corpus that produced it. Each star round is ~5 exchanges
    // over it; inheriting the session's scan-sized shuffle width makes
    // every round pay (tasks × stages) scheduling overhead for near-empty
    // partitions. Size the loop's shuffle to the measured edge count
    // (~64k edges/partition, 16-byte rows ≈ 1 MB), capped at the session
    // setting so a genuinely large graph keeps full parallelism —
    // scale-adaptive, not a local-mode constant. The sizing is scoped to
    // the loop's OWN DataFrames via explicit repartition(n, key) calls
    // whose partitioning the downstream groupBy/join/distinct reuse (no
    // added exchanges) — a previous version mutated the session-global
    // spark.sql.shuffle.partitions for the loop's duration, which was
    // safe in the sequential Bench but wrong for any concurrent query
    // planned on the same session (round-16 advice).
    val sessionShuffle = spark.conf.get("spark.sql.shuffle.partitions").toLong
    def loopPartitions(edges: Long): Int =
      math.min(math.max(1L, (edges + 65535L) / 65536L), sessionShuffle).toInt

    // large-star: each node u links every LARGER neighbor to the minimum
    // of its closed neighborhood; small-star: links every smaller neighbor
    // (and u itself) to that minimum. Both preserve connectivity and the
    // u > v orientation.
    def largeStar(e: DataFrame, n: Int): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
        .repartition(n, col("u"))
      val m = sym.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      sym.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .repartition(n, col("u"), col("v")).distinct()
    }
    def smallStar(e: DataFrame, n: Int): DataFrame = {
      val keyed = e.repartition(n, col("u"))
      val m = keyed.groupBy("u").agg(min(col("v")).as("m")) // all v < u, so min(N∪{u}) = min(v)
      val linked = keyed.join(m, "u").filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      val self = m.select(col("u"), col("m").as("v"))
      linked.union(self).filter(col("u") =!= col("v"))
        .repartition(n, col("u"), col("v")).distinct()
    }

    var converged = false
    var round = 0
    var sig = e.agg(count(lit(1)), coalesce(sum(hash(col("u"), col("v")).cast("long")), lit(0L)))
      .head.toSeq
    val n = loopPartitions(sig.head.asInstanceOf[Long])
    while (!converged && round < maxRounds) {
      val next = smallStar(largeStar(e, n), n).localCheckpoint()
      val nextSig = next.agg(count(lit(1)),
        coalesce(sum(hash(col("u"), col("v")).cast("long")), lit(0L))).head.toSeq
      // the (count, hash-sum) signature is a cheap screen; an exact
      // set-difference confirms the fixpoint (guards the 2^-32 hash-sum
      // collision that would otherwise stop the loop on a wrong answer —
      // it runs once, at the suspected fixpoint)
      converged = nextSig == sig && next.exceptAll(e).isEmpty
      sig = nextSig
      e = next
      round += 1
    }
    require(converged,
      s"connected components did not converge in $maxRounds rounds")
    // fixpoint edges are (node -> component min); representatives self-map
    e.select(col("u").as("id"), col("v").as("component"))
      .union(e.select(col("v").as("id"), col("v").as("component")).distinct())
      .distinct()
  }

  /** Dedup cluster assignment: every doc gets a canonical id = the minimum
    * doc id of its near-dup connected component (itself when unpaired).
    */
  def clusters(df: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String = "a_id", bCol: String = "b_id"): DataFrame = {
    val cc = connectedComponents(pairs, aCol, bCol)
      .withColumnRenamed("id", idCol)
    df.join(cc, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("component"), col(idCol)).as("canonical_id"))
  }

  /** The retained corpus after near-dup clustering: ONE document per
    * cluster — the best by (`scoreCol` max, then smallest id), the usual
    * "keep the longest/highest-quality copy" rule that turns a cluster
    * map into a deduplicated training set. Singleton docs keep
    * themselves. One keyed shuffle on the cluster id; the per-cluster
    * argmax is a map-side-combinable pick ([[graft.functions.LatestRow]]
    * — hash-plannable, no per-partition sort) over a (score, −id)
    * struct, never a window, so a pathological million-copy cluster
    * costs one combine tree, not one task.
    */
  def canonicalDocs(df: DataFrame, idCol: String, pairs: DataFrame,
      scoreCol: String, aCol: String = "a_id",
      bCol: String = "b_id"): DataFrame =
    canonicalDocsFromClusters(df, idCol,
      clusters(df, idCol, pairs, aCol, bCol), scoreCol)

  /** [[canonicalDocs]] over a PRE-BUILT (id, canonical_id) cluster map —
    * pipelines that already ran [[clusters]] (the d6 shape) pick the
    * keepers without a second connected-components fixpoint loop.
    */
  def canonicalDocsFromClusters(df: DataFrame, idCol: String,
      cl: DataFrame, scoreCol: String): DataFrame = {
    graft.functions.LatestRow.ensureHashFallbackThreshold(df.sparkSession)
    // min_by over (-score, id): max score with ties to the SMALLEST id,
    // without ever negating the id — ids may be strings (URLs, hashes),
    // which the rest of the dedup family supports; only the numeric
    // score is negated
    df.join(cl, Seq(idCol))
      .groupBy(col("canonical_id"))
      .agg(graft.functions.LatestRow.earliestBy(
        struct(col(idCol), col(scoreCol)),
        struct((-col(scoreCol)).as("__ns"), col(idCol).as("__id"))).as("__best"))
      .select(col("canonical_id"),
        col(s"__best.$idCol").as(idCol),
        col(s"__best.$scoreCol").as(scoreCol))
  }
}
