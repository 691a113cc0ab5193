package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.TextOps

/** Deduplication operators for training-data pipelines (BASELINE.json
  * north star). Four families, in increasing fuzziness:
  *
  *  1. exact        — content-hash group-by (one shuffle of 32-byte keys)
  *  2. minhash LSH  — shingle → minhash signature → banded bucket join
  *  3. simhash      — 64-bit bitwise sketch → chunk-banded hamming join
  *  4. n-gram Jaccard — inverted-index pair join with exact similarity
  *
  * Scale design: nothing here ever shuffles full document text except the
  * inverted-index verify stage (which shuffles shingles, the standard
  * trade); candidate generation always goes through fixed-width sketches,
  * so the shuffle volume per 100 TB of text is GBs, not TBs. All logic is
  * built-in expressions (higher-order array functions + xxhash64/sha2) —
  * fully codegen'd, no UDFs, no driver-side state.
  *
  * CACHING CONTRACT (applies to [[minhashDedup]], [[simhashDedup]],
  * [[ngramJaccard]], and the similarity/pipeline operators in
  * `graft.similarity.Ann` / `graft.pipeline.Curation`): self-join-shaped
  * operators persist their shared intermediate (MEMORY_AND_DISK) because
  * both join sides reference it — the result is lazy, so the operator
  * itself cannot know when it is safe to unpersist. After consuming the
  * returned DataFrame (collect/write), the caller releases the cache —
  * structurally with [[graft.Caching.withCaches]] (unpersists
  * on scope exit), or by hand with `spark.catalog.clearCache()` (what
  * Bench/Verify do between queries). In a long-lived session, skipping
  * this accumulates cached blocks until executor storage evicts them
  * under pressure — safe but wasteful.
  */
object Dedup {

  /** Exact dedup by SHA-256 of the text: one row per distinct content with
    * the surviving (minimum) doc_id and the copy count. Grouping on the
    * 64-hex-char digest rather than the text keeps the shuffle narrow at
    * scale; SHA-256 collisions are not a practical concern.
    */
  def exactDedup(documents: DataFrame): DataFrame =
    documents
      .groupBy(sha2(col("text"), 256).as("text_sha"))
      .agg(min(col("doc_id")).as("doc_id"),
        count(lit(1)).as("n_copies"))

  // ---------------------------------------------------------------- minhash

  private val MersennePrime31 = 2147483647L // 2^31 - 1

  /** Deterministic (a, b) hash-family seeds, fixed RNG seed. */
  private def seeds(n: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(n)((rnd.nextInt(Int.MaxValue - 2).toLong + 1,
                 rnd.nextInt(Int.MaxValue - 1).toLong))
  }

  /** (perm index, a, b) triples of the hash family — exposed so the DuckDB
    * oracle can embed the exact same permutation table as SQL literals.
    */
  private[graft] def seedTriples(n: Int): Seq[(Int, Long, Long)] =
    seeds(n).zipWithIndex.map { case ((a, b), i) => (i, a, b) }

  /** 60-bit integer digest of a string: the first 15 hex chars of its md5,
    * parsed base-16. md5 is bit-identical across engines (unlike xxhash64,
    * Spark-specific), so every sketch built on this digest can be replayed
    * exactly by the DuckDB oracle (`('0x' || substring(md5(x),1,15))::BIGINT`).
    */
  private[graft] def md5Base60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Distinct word n-gram shingles of a token array (short docs collapse to
    * one whole-document shingle).
    *
    * IMPORTANT: pass a *materialized attribute* (a column projected in a
    * previous select), not the raw `split(...)` expression — Spark does no
    * common-subexpression elimination inside higher-order-function lambdas,
    * so an inline split would re-tokenize the document for every
    * `element_at` call (measured ~20s vs ~1s at sf0.1).
    */
  def wordShingles(toks: Column, n: Int): Column = {
    val grams = when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + lit(j))): _*)))
    array_distinct(grams)
  }

  /** (doc_id, signature): minhash signature of `numHashes` mins over the
    * universal-hash family g_i(x) = (a_i·x + b_i) mod (2^31-1),
    * x = md5Base60(shingle) folded into [0, 2^31-1) — md5-based so the
    * DuckDB oracle reproduces identical signatures. Products stay < 2^62,
    * so the arithmetic never overflows a long.
    *
    * Staged as three explicit projections (shingles → folded hashes →
    * signature) so each stage is a bound attribute: a single nested
    * expression would re-derive the shingle/concat/hash subtree once per
    * seed (32×) per row — measured at >10× slower at sf0.1.
    */
  def minhashSignatures(documents: DataFrame, shingleN: Int, numHashes: Int,
                        carry: Seq[String] = Nil): DataFrame = {
    val keep = carry.map(col)
    val staged = documents
      .select(col("doc_id") +: TextOps.tokens(col("text")).as("toks") +: keep: _*)
      .select(col("doc_id") +: wordShingles(col("toks"), shingleN).as("shingles") +: keep: _*)
      .select(col("doc_id") +:
        transform(col("shingles"), s => pmod(md5Base60(s), lit(MersennePrime31)))
          .as("folded") +: keep: _*)
    val sig = array(seeds(numHashes).map { case (a, b) =>
      array_min(transform(col("folded"), h => pmod(h * a + b, lit(MersennePrime31))))
    }: _*)
    staged.select(col("doc_id") +: sig.as("signature") +: keep: _*)
  }

  /** MinHash+LSH near-duplicate pairs: signatures are sliced into `bands`
    * bands of numHashes/bands rows; docs sharing any band-hash become
    * candidates (bucket self-join on the 8-byte band hash); candidate
    * similarity is the minhash estimate — the fraction of agreeing
    * signature positions, an unbiased Jaccard estimator (σ ≈ 1/√numHashes)
    * — so verification never touches the shingle sets again and the only
    * shuffled payload is the fixed-width signature. Returns
    * (doc_a, doc_b, est_jaccard) with est_jaccard ≥ threshold, doc_a < doc_b.
    * For exact similarities on the survivors, compose with [[ngramJaccard]].
    */
  /** LSH band rows (doc_id, signature, band, bh) for a signature
    * relation — the SHAPE of a stored minhash index: [[minhashDedup]]
    * self-joins it, [[incrementalNearDup]] probes a batch's bands
    * against a corpus's.
    */
  private def bandRows(sigs: DataFrame, numHashes: Int, bands: Int,
                       carry: Seq[String] = Nil): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val keep = carry.map(col)
    sigs.select(col("doc_id") +: col("signature") +:
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"), xxhash64(slice(col("signature"), b * r + 1, r)).as("bh"))
      }: _*)).as("bb") +: keep: _*)
      .select(col("doc_id") +: col("signature") +:
        col("bb.band").as("band") +: col("bb.bh").as("bh") +: keep: _*)
  }

  /** Fraction of agreeing signature positions — the unbiased minhash
    * Jaccard estimate both LSH variants verify candidates with.
    */
  private[graft] def sigAgreement(sigA: Column, sigB: Column, numHashes: Int): Column =
    aggregate(zip_with(sigA, sigB,
      (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, m) => acc + m)
      .cast("double") / numHashes

  /** `sigsPre` (round-14 optimization): a prebuilt [[minhashSignatures]]
    * relation for EXACTLY this (documents, shingleN, numHashes) — the
    * threshold/band-independent prefix a session running several dedup
    * analyses over ONE corpus builds once (six chunk-co-resident queries
    * each re-hashed the full corpus per execution). The caller owns the
    * relation's params and lifetime; everything from the band explode on
    * (self-join, pair dedup, estimate, threshold) still runs per
    * invocation, so no query RESULT is memoized.
    */
  def minhashDedup(documents: DataFrame, shingleN: Int = 3, numHashes: Int = 32,
                   bands: Int = 8, threshold: Double = 0.5,
                   sigsPre: Option[DataFrame] = None): DataFrame = {
    val sigs = sigsPre.getOrElse(minhashSignatures(documents, shingleN, numHashes))

    // persisted, NOT eagerly materialized: both sides of the band
    // self-join are the SAME projection of this relation, so Spark's
    // ReuseExchange computes the map stage once — an extra materialize
    // pass here measured ~0.6s SLOWER at sf0.1 (the fat signature arrays
    // pay serialization twice). Contrast graft.Caching's doc: eager
    // materialization pays off only when the concurrent consumers are
    // DIFFERENT subtrees (Triangles' degree-union vs orientation join).
    val banded = bandRows(sigs, numHashes, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.signature").as("sig_a"), col("b.signature").as("sig_b"))
      .dropDuplicates("doc_a", "doc_b")
      .select(col("doc_a"), col("doc_b"),
        sigAgreement(col("sig_a"), col("sig_b"), numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Incremental near-dup: dedup a NEW batch against an EXISTING corpus
    * without ever pairing the corpus with itself — the production shape
    * of dedup at 100 TB, where the corpus's banded minhash index is built
    * once (in practice: persisted as a table and appended per batch) and
    * each day's crawl only probes it. Cost scales with
    * |batch| × bucket collisions, NOT with |corpus|²; the corpus index
    * side is read once, shuffled once on the 8-byte band hash.
    *
    * Returns (batch_doc, corpus_doc, est_jaccard ≥ threshold): which
    * incoming documents are near-dups of something already ingested (the
    * keep/drop decision is the caller's — typically drop batch_doc).
    * Batch-internal duplicates are [[minhashDedup]] on the batch alone.
    */
  /** The stored-index shape: banded minhash rows (doc_id, signature,
    * band, bh) for a corpus — build once, persist as a table, append per
    * ingested batch; [[incrementalNearDup]] and the streaming
    * `DocStreams.nearDupGate` probe it. Works on static AND streaming
    * inputs (every step is a stateless per-row projection).
    */
  def minhashIndex(documents: DataFrame, shingleN: Int = 3,
                   numHashes: Int = 32, bands: Int = 8,
                   carry: Seq[String] = Nil): DataFrame =
    bandRows(minhashSignatures(documents, shingleN, numHashes, carry),
      numHashes, bands, carry)

  def incrementalNearDup(corpus: DataFrame, batch: DataFrame,
                         shingleN: Int = 3, numHashes: Int = 32,
                         bands: Int = 8, threshold: Double = 0.5): DataFrame = {
    val idx = minhashIndex(corpus, shingleN, numHashes, bands)
    val probe = minhashIndex(batch, shingleN, numHashes, bands)
    probe.as("n")
      .join(idx.as("c"),
        col("n.band") === col("c.band") && col("n.bh") === col("c.bh"))
      .select(col("n.doc_id").as("batch_doc"), col("c.doc_id").as("corpus_doc"),
        col("n.signature").as("sig_n"), col("c.signature").as("sig_c"))
      .dropDuplicates("batch_doc", "corpus_doc")
      .select(col("batch_doc"), col("corpus_doc"),
        sigAgreement(col("sig_n"), col("sig_c"), numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  // ---------------------------------------------------------------- simhash

  /** Bit width of the SimHash sketch: 60 = the md5Base60 digest width, so
    * every bit is derived from a digest both engines compute identically.
    */
  private[graft] val SimhashBits = 60

  /** 60-bit SimHash per document: tokens are hashed (md5Base60 — oracle
    * replayable), each hash votes ±1 on every bit position, sign of the
    * vote sum sets the bit. Implemented as explode → 60-buffer hash
    * aggregation (distributed, partial-agg friendly) rather than per-row
    * array loops.
    */
  def simhashSketch(documents: DataFrame): DataFrame = {
    val tok = documents.select(col("doc_id"),
      explode(TextOps.tokens(col("text"))).as("token"))
      .select(col("doc_id"), md5Base60(col("token")).as("h"))
    val bitSums = tok.groupBy("doc_id").agg(
      count(lit(1)).as("n_tokens"),
      (0 until SimhashBits).map { j =>
        sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1))
          .as(s"b$j")
      }: _*)
    val sim = (0 until SimhashBits).map { j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)): Column
    }.reduce(_ bitwiseOR _)
    bitSums.select(col("doc_id"), sim.as("simhash"), col("n_tokens"))
  }

  /** SimHash near-duplicate pairs with hamming distance ≤ maxHamming.
    * Pigeonhole blocking: the 60-bit sketch splits into 4 15-bit chunks —
    * any pair within hamming ≤ 3 shares at least one exact chunk, so the
    * candidate join is an equi-join on (chunk index, chunk value), never a
    * cross join.
    */
  def simhashDedup(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-chunk blocking guarantees recall only to hamming 3")
    // eagerly materialized: both sides of the chunk self-join are
    // concurrent stages and would otherwise each re-run the explode +
    // 60-buffer sketch aggregation (see graft.Caching)
    val sk = graft.Caching.materialize(
      simhashSketch(documents).select(col("doc_id"), col("simhash")))
    val chunked = sk.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map { c =>
        struct(lit(c).as("chunk"),
          shiftright(col("simhash"), c * 15).bitwiseAND(0x7FFFL).as("cv"))
      }: _*)).as("cc"))
      .select(col("doc_id"), col("simhash"),
        col("cc.chunk").as("chunk"), col("cc.cv").as("cv"))
    chunked.as("a")
      .join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.cv") === col("b.cv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ------------------------------------------------------- n-gram Jaccard

  /** Exact n-gram Jaccard similarity join with PPJoin-style prefix
    * filtering (Xiao et al., "Efficient Similarity Joins for Near-Duplicate
    * Detection", WWW'08): order each doc's grams by ascending global
    * document frequency and index only the first |g| − ⌈t·|g|⌉ + 1 grams.
    * For J(a,b) ≥ t, |a∩b| ≥ ⌈t·max(|a|,|b|)⌉, so matching pairs must
    * share a gram inside both prefixes — the candidate join is exact (no
    * false negatives) but orders of magnitude smaller than the naive
    * all-grams join on repetitive corpora. A size-ratio bound
    * (|b| ≥ t·|a|, implied by J ≥ t) prunes further at the join.
    * Candidates are then verified with exact array_intersect/array_union.
    *
    * `maxDocsPerGram` is a last-resort skew cap for adversarial corpora
    * (df-ascending prefixes already avoid hot grams); grams above the cap
    * are excluded from indexing, a documented recall trade at the default
    * effectively-off setting.
    */
  def ngramJaccard(documents: DataFrame, n: Int = 3, threshold: Double = 0.3,
                   maxDocsPerGram: Int = 1000000): DataFrame = {
    require(n >= 1, "n-gram size must be >= 1")
    require(threshold > 0 && threshold <= 1,
      "threshold must be in (0, 1] — prefix filtering is undefined at 0")
    // grams are folded to 8-byte xxhash64 ids up front: every downstream
    // join/array op then moves and compares longs, not ~25-char strings
    // (injective up to 2^-64 collisions, so Jaccard values are unchanged)
    // The candidate self-join and the two verify joins reference this
    // relation from 6+ plan branches; persisted (MEMORY_AND_DISK) so the
    // tokenize→shingle→hash derivation runs once, not per branch —
    // set-similarity joins materialize their index in every published
    // implementation. Measured 23s → ~6s at sf0.1.
    val grams = documents
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), wordShingles(col("toks"), n).as("sgrams"))
      .select(col("doc_id"),
        array_distinct(transform(col("sgrams"), g => xxhash64(g))).as("grams"))
      .select(col("doc_id"), col("grams"), size(col("grams")).as("n_grams"))
    val gramsM = graft.Caching.materialize(grams)
    val inv = gramsM.select(col("doc_id"), col("n_grams"), explode(col("grams")).as("gram"))
    val dfs = inv.groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocsPerGram)
    val prefixLen = col("n_grams") - ceil(col("n_grams") * threshold) + 1
    val prefixes = inv.join(dfs, "gram")
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(asc("df"), asc("gram"))))
      .filter(col("rn") <= prefixLen)
      .select("doc_id", "gram", "n_grams", "rn")
    // PPJoin positional bound: at a shared prefix gram at positions
    // (rn_a, rn_b), the overlap can't exceed 1 + min(remaining suffixes);
    // J ≥ t needs overlap ≥ ⌈t/(1+t)·(|a|+|b|)⌉ — prune pairs that can't
    // reach it.
    val alpha = ceil(lit(threshold / (1 + threshold)) *
      (col("a.n_grams") + col("b.n_grams")))
    val ubound = lit(1) + least(
      col("a.n_grams") - col("a.rn"), col("b.n_grams") - col("b.rn"))
    val prefixesM = graft.Caching.materialize(prefixes)
    val cand = prefixesM.as("a")
      .join(prefixesM.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id") &&
          col("b.n_grams") >= col("a.n_grams") * threshold &&
          col("a.n_grams") >= col("b.n_grams") * threshold &&
          ubound >= alpha)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(gramsM.select(col("doc_id").as("doc_a"), col("grams").as("ga")), "doc_a")
      .join(gramsM.select(col("doc_id").as("doc_b"), col("grams").as("gb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("ga"), col("gb"))).cast("double") /
          size(array_union(col("ga"), col("gb")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Winnowing-fingerprint candidate pairs: documents sharing at least
    * `minShared` SELECTED fingerprints (see [[graft.text.TextOps.winnow]]
    * — window-min selection with the SIGMOD'03 guarantee that any common
    * run ≥ w+k−1 chars contributes a shared fingerprint). This is the
    * MOSS-style reuse detector: position-free, guaranteed-coverage, and
    * the index is already 2/(w+1)-thinned by the selection itself.
    *
    * `maxDocsPerFp` caps fingerprint document frequency BEFORE pairing —
    * a fingerprint present in many documents is boilerplate, not reuse
    * (the IDF cut every published winnowing deployment applies); the
    * default 5 is tuned to the heavily-templated synthetic corpus where
    * common template grams otherwise connect everything (the
    * embed_neardup threshold convention). The pair relation is the
    * standard inverted-index equi-join on fp, so candidate volume is
    * Σ_fp df² over CAPPED dfs — bounded by maxDocsPerFp · |index|.
    */
  def winnowPairs(documents: DataFrame, k: Int = 8, w: Int = 4,
                  minShared: Int = 3, maxDocsPerFp: Int = 5): DataFrame = {
    require(minShared >= 1 && maxDocsPerFp >= 2,
      "need minShared >= 1 and a pairable df cap >= 2")
    // distinct (doc, fp) — the same fingerprint selected at two positions
    // counts once; materialized: the df aggregation and both self-join
    // sides read it
    val fps = graft.Caching.materialize(
      graft.text.TextOps.winnow(documents, k, w)
        .select(col("doc_id"), col("fp")).distinct())
    val kept = fps.join(
      fps.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDocsPerFp), "fp")
    kept.as("a")
      .join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** DuckDB twin of [[winnowPairs]]: the winnow replay as a scoped
    * subquery, then the identical df-cap + self-join + HAVING. */
  def winnowPairsOracleSql(k: Int = 8, w: Int = 4, minShared: Int = 3,
                           maxDocsPerFp: Int = 5): String =
    s"""WITH wfp AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, fp
       |  FROM (${graft.text.TextOps.winnowOracleSql(k, w)}) win),
       |dfs AS (SELECT fp, COUNT(*) AS df FROM wfp GROUP BY fp),
       |kept AS MATERIALIZED (
       |  SELECT w.doc_id, w.fp FROM wfp w JOIN dfs USING (fp)
       |  WHERE df <= $maxDocsPerFp)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_fps
       |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2
       |HAVING COUNT(*) >= $minShared""".stripMargin

  /** Asymmetric n-gram CONTAINMENT join: pairs (a, b) with
    * |grams(a) ∩ grams(b)| / |grams(a)| ≥ threshold — the "is this doc
    * mostly a sub-document of that one" relation Jaccard misses when
    * sizes differ wildly (a paragraph quoted inside a long page has
    * tiny Jaccard but containment ≈ 1). This is the quote/excerpt
    * detector corpus pipelines run alongside symmetric near-dup.
    *
    * Exact, with the asymmetric prefix filter (Chaudhuri, Ganti &
    * Kaushik, "A primitive operator for similarity joins in data
    * cleaning", ICDE'06): C(a,b) ≥ t needs overlap ≥ ⌈t·|a|⌉, so a
    * matching pair must share a gram among a's first
    * |a| − ⌈t·|a|⌉ + 1 grams in global df-ascending order — the PROBE
    * side indexes only prefixes while the build side keeps all grams
    * (asymmetric joins get no prefix on the contained-in side), plus
    * the size prune |b| ≥ ⌈t·|a|⌉. Candidates are verified with exact
    * array_intersect on the full hashed-gram arrays.
    *
    * Scale: candidate volume is Σ_prefix df(gram) with df-ascending
    * prefixes biasing toward rare grams; `maxDocsPerGram` is the same
    * last-resort hot-gram cap as [[ngramJaccard]] (effectively off by
    * default). When the cap binds, the operator computes containment
    * over the CAPPED gram universe end-to-end: hot grams are excluded
    * from candidate generation AND from the verify intersection (they
    * match everything, so counting them would only inflate scores),
    * while the denominator stays the full |grams(a)| — the conservative
    * reading, and exactly what the DuckDB oracle replays, so parity
    * holds whether or not the cap triggers. The prefix length is
    * computed from the full |a| (≥ the capped count), so the Chaudhuri
    * prefix filter stays exact within the capped universe.
    *
    * Output: (doc_a, doc_b, containment) — doc_a is the CONTAINED side;
    * mutual near-copies appear in both directions.
    */
  def containmentPairs(documents: DataFrame, n: Int = 3, threshold: Double = 0.7,
                       maxDocsPerGram: Int = 1000000): DataFrame = {
    require(n >= 1, "n-gram size must be >= 1")
    require(threshold > 0 && threshold <= 1,
      "threshold must be in (0, 1] — prefix filtering is undefined at 0")
    // same hashed distinct-gram relation as ngramJaccard: one derivation,
    // three consumers (probe prefixes, build index, verify arrays)
    val grams = documents
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), wordShingles(col("toks"), n).as("sgrams"))
      .select(col("doc_id"),
        array_distinct(transform(col("sgrams"), g => xxhash64(g))).as("grams"))
      .select(col("doc_id"), col("grams"), size(col("grams")).as("n_grams"))
    val gramsM = graft.Caching.materialize(grams)
    val inv = gramsM.select(col("doc_id"), col("n_grams"),
      explode(col("grams")).as("gram"))
    val dfs = inv.groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocsPerGram)
    val capped = graft.Caching.materialize(inv.join(dfs, "gram")
      .select(col("doc_id"), col("n_grams"), col("gram"), col("df")))
    val prefixLen = col("n_grams") - ceil(col("n_grams") * threshold) + 1
    val prefixes = capped
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(asc("df"), asc("gram"))))
      .filter(col("rn") <= prefixLen)
    val cand = prefixes.as("a")
      .join(capped.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") =!= col("b.doc_id") &&
          col("b.n_grams") >= ceil(col("a.n_grams") * threshold))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // verify over the CAPPED gram arrays (hot grams excluded from the
    // intersection count, full |a| in the denominator) so engine and
    // oracle agree when the cap binds; with the cap off these arrays are
    // set-equal to gramsM's. n_grams rides along from `capped` (it is the
    // FULL per-doc count, computed before the df filter).
    val rareArrays = capped.groupBy("doc_id")
      .agg(collect_list(col("gram")).as("grams"),
        first(col("n_grams")).as("n_grams"))
    cand
      .join(rareArrays.select(col("doc_id").as("doc_a"), col("grams").as("ga"),
        col("n_grams").as("na")), "doc_a")
      .join(rareArrays.select(col("doc_id").as("doc_b"), col("grams").as("gb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("ga"), col("gb"))).cast("double") /
          col("na")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  // ------------------------------------------------------ decontamination

  /** Train/eval contamination scan — the decontamination pass LLM data
    * pipelines run before training (GPT-3/Pile style): every train doc
    * that shares at least `minShared` word-n-gram shingles with any eval
    * doc, with the shared-shingle count as evidence.
    *
    * Both sides reduce to (id, shingle-hash) relations — per-doc distinct
    * shingles folded to 60-bit md5 ids ([[md5Base60]], oracle-replayable)
    * — joined on the hash. The shuffle carries 16 B/shingle, never text.
    * At scale the eval side is tiny (benchmarks, not corpora): Spark's
    * size estimate usually broadcasts it on its own; force
    * `broadcast(...)` on the eval relation if feeding this a pre-built
    * DataFrame where statistics are absent. Stop-gram skew (a shingle in
    * every doc) is bounded by the per-doc `array_distinct` and, if
    * needed, the same stop-gram cap as [[ngramJaccard]].
    */
  def contamination(train: DataFrame, eval: DataFrame, shingleN: Int = 3,
                    minShared: Long = 1L): DataFrame = {
    // The gram-array projection is persisted BEFORE the explode: fusing
    // array construction into the Generate stage measured 3–4× slower
    // than materializing the arrays and exploding from the cache
    // (10.9 s vs 3.2 s at sf0.1) — same family as the lambda-CSE rule.
    // Cache release follows the library-wide contract (README): caller
    // clears after consuming the result.
    def gramHashes(df: DataFrame, idAs: String) = {
      val grams = df
        .select(col("doc_id").as(idAs), TextOps.tokens(col("text")).as("toks"))
        .select(col(idAs), wordShingles(col("toks"), shingleN).as("grams"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      grams
        .select(col(idAs), explode(col("grams")).as("gram"))
        .select(col(idAs), md5Base60(col("gram")).as("hv"))
    }
    gramHashes(train, "doc_id")
      .join(gramHashes(eval, "eval_id"), "hv")
      .groupBy("doc_id", "eval_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  // ------------------------------------------------ repeated-span dedup

  /** Per-document duplicated-substring statistics — the distributed
    * approximation of exact-substring dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL'22: duplicated
    * ≥ k-token spans are memorization fuel even when whole-doc dedup
    * passes). Their suffix array is inherently single-machine; the
    * shuffle-native equivalent slides a k-word window over every doc,
    * folds each span to a 60-bit md5 id, and marks spans whose id occurs
    * in ≥ 2 distinct documents. Per doc: how many distinct spans it has,
    * how many of those are cross-document duplicates, and the fraction —
    * the signal used to drop or trim boilerplate-heavy documents.
    *
    * Detection is exact for spans of exactly k tokens (any duplicated
    * run ≥ k tokens necessarily duplicates every k-window inside it, so
    * long shared runs light up many spans; runs < k are invisible — the
    * deliberate precision/recall knob of the windowed formulation).
    *
    * Scale shape is [[contamination]]'s: per-doc distinct spans explode
    * to (doc_id, 8-byte hash) rows, one hash agg computes span document
    * frequency, one join back marks duplicates — 16 B/span shuffles,
    * text never moves. Short docs (< k tokens) collapse to one
    * whole-document span, so they participate as exact-dup candidates
    * rather than vanishing.
    */
  def duplicatedSpans(documents: DataFrame, spanTokens: Int = 15): DataFrame = {
    require(spanTokens >= 1, "span length must be >= 1 token")
    // the span-array projection is persisted BEFORE the explode — select
    // staging alone does NOT survive CollapseProject, which inlines the
    // tokenization into every element_at inside the shingle lambda once
    // the projections fuse into the Generate (same measured pitfall as
    // contamination: 33 s fused vs 0.3 s from cache at sf0.1)
    val spanArrays = documents
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), wordShingles(col("toks"), spanTokens).as("spans"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialized: span-df aggregation and the join-back are concurrent
    // consumer stages of this relation (see graft.Caching)
    val spans = graft.Caching.materialize(spanArrays
      .select(col("doc_id"), explode(col("spans")).as("span"))
      .select(col("doc_id"), md5Base60(col("span")).as("hv")))
    // span document frequency; (doc_id, hv) is already distinct per doc
    // (wordShingles dedups), so count(*) IS the distinct-doc count
    val spanDf = spans.groupBy("hv").agg(count(lit(1)).as("span_df"))
    spans.join(spanDf, "hv")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("span_df") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        (col("n_dup_spans").cast("double") / col("n_spans")).as("dup_span_frac"))
  }

  // ------------------------------------------------------ boilerplate

  /** Cross-document duplicated text SEGMENTS — the boilerplate detector
    * behind RefinedWeb/C4-style cleaning (navigation chrome, cookie
    * banners, footers repeat VERBATIM across pages while body text does
    * not; cf. Penedo et al., "The RefinedWeb Dataset for Falcon LLM",
    * NeurIPS 2023 §3). Documents are cut into NON-overlapping
    * `segTokens`-word segments (paragraph-granularity units — the
    * line-level variant is this with a newline splitter); the result is
    * the top-`k` segments appearing in at least `minDocs` distinct
    * documents — the candidate strip-list a cleaning pass would apply.
    * Complements [[duplicatedSpans]]: that one slides a window to score
    * EACH DOC's duplicated fraction; this one aggregates the repeated
    * UNITS themselves across the corpus.
    *
    * Determinism: counts are exact; the top-k order is fully keyed
    * (n_docs desc, n_total desc, segment asc) so LIMIT is stable.
    *
    * 100 TB shape: explode to (doc_id, segment) — non-overlapping, so
    * the exploded relation is ≤ corpus-token-count/segTokens rows, a
    * FRACTION of the corpus (the sliding variant multiplies by window
    * size) — then two partial-agg pipelines over one cached explode
    * (count, and distinct-doc count via the pre-distinct projection —
    * no countDistinct expand); the final top-k is a
    * TakeOrderedAndProject, never a global sort. A mega-viral segment
    * costs one wide aggregation group, not executor memory.
    */
  def boilerplateSegments(documents: DataFrame, segTokens: Int = 8,
                          minDocs: Long = 2L, k: Int = 50): DataFrame = {
    require(segTokens >= 1 && minDocs >= 1 && k >= 1,
      "need segTokens, minDocs, k >= 1")
    // tokenization staged as a bound attribute BEFORE the slicing
    // lambda (lambda bodies get no CSE — inlined, the split would rerun
    // per segment)
    val segs = documents
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      // size guard: sequence(0, -1) would DESCEND on sub-segment docs
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(t) >= $segTokens THEN
           |  transform(sequence(0, size(t) div $segTokens - 1),
           |    i -> array_join(slice(t, i * $segTokens + 1, $segTokens), ' '))
           |ELSE CAST(array() AS array<string>) END""".stripMargin))
        .as("seg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = segs.groupBy("seg").agg(count(lit(1)).as("n_total"))
    val docFreq = segs.distinct().groupBy("seg")
      .agg(count(lit(1)).as("n_docs"))
    docFreq.filter(col("n_docs") >= minDocs)
      .join(totals, "seg")
      .orderBy(col("n_docs").desc, col("n_total").desc, col("seg").asc)
      .limit(k)
      .select("seg", "n_docs", "n_total")
  }

  // ------------------------------------------------------ source overlap

  /** EXACT pairwise shingle-set Jaccard between corpus sources — the
    * corpus diagnostic behind "which crawls duplicate each other" (and
    * whether a new source is worth ingesting). Each source reduces to its
    * distinct word-n-gram shingle-hash set; the pair intersection is one
    * equi-join on the hash. The shuffle carries 16 B/shingle and the join
    * fan-out per shingle is bounded by the number of sources containing
    * it (≤ |sources|, typically tens) — so the whole statistic costs
    * about one dedup pass regardless of corpus size, and is exact where
    * per-source MinHash union-sketches would estimate.
    *
    * Output: (src_a, src_b, n_a, n_b, n_common, jaccard), src_a < src_b.
    */
  def sourceOverlap(documents: DataFrame, sourceCol: String = "source",
                    shingleN: Int = 3): DataFrame = {
    // (source, shingle-hash) distinct relation: feeds the per-source size
    // aggregation AND the pair join — different subtrees (see graft.Caching)
    val sh = graft.Caching.materialize(documents
      .select(col(sourceCol).as("src"), TextOps.tokens(col("text")).as("toks"))
      .select(col("src"), explode(wordShingles(col("toks"), shingleN)).as("gram"))
      .select(col("src"), md5Base60(col("gram")).as("hv"))
      .distinct())
    val sizes = sh.groupBy("src").agg(count(lit(1)).as("n"))
    sh.as("a")
      .join(sh.as("b"),
        col("a.hv") === col("b.hv") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("src").as("src_a"), col("n").as("n_a")), "src_a")
      .join(sizes.select(col("src").as("src_b"), col("n").as("n_b")), "src_b")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_common"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double")).as("jaccard"))
  }

  // --------------------------------------------------- duplicate clusters

  /** Connected components over a near-dup pair relation: every document
    * labelled with the MINIMUM doc_id reachable through pairs — the
    * exact transitive closure the pairwise drop-the-larger heuristic
    * approximates.
    *
    * Hybrid execution, keyed on the EDGE count (which after near-dup
    * pairing is orders of magnitude smaller than the corpus):
    *
    *  - ≤ `driverThreshold` edges (default 2²⁰ ≈ 16 MB of longs): the
    *    edge list is collected and solved with union-find in one pass —
    *    microseconds of CPU instead of a multi-round shuffle loop. This
    *    is the same small-graph escape hatch GraphFrames' connected
    *    components takes; collecting the PAIR relation (not the corpus)
    *    is bounded and deliberate.
    *  - above it: iterative min-label propagation — each round every
    *    node adopts the smallest label among itself and its neighbours;
    *    rounds ≤ component diameter (near-dup clusters are shallow).
    *    Each round is two keyed shuffles of the edge relation — nothing
    *    data-sized ever sits on the driver. For pathological diameters
    *    use [[dupClustersStar]] (O(log n) rounds, same join shape).
    *
    * Both paths return identical (doc_id, cluster_id) labellings (ids
    * widened to long); only documents appearing in `pairs` are returned
    * (isolated docs are their own cluster trivially).
    */
  def dupClusters(pairs: DataFrame, maxIter: Int = 25,
                  driverThreshold: Long = 1L << 20): DataFrame = {
    require(pairs.columns.contains("doc_a") && pairs.columns.contains("doc_b"),
      "pairs must carry doc_a/doc_b")
    val edges = pairs.select(col("doc_a").cast("long").as("src"),
        col("doc_b").cast("long").as("dst"))
      .union(pairs.select(col("doc_b").cast("long").as("src"),
        col("doc_a").cast("long").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (edges.count() <= driverThreshold) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val es = edges.as[(Long, Long)].collect()
      edges.unpersist()
      return unionFind(es).toSeq.sortBy(_._1).toDF("doc_id", "cluster_id")
    }
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the persisted relation backing `labels` (labels itself may be a
    // projection over it — unpersist must hit the cached plan)
    var cached = labels
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // smallest neighbour label per node
      val nbr = edges
        .join(labels.select(col("doc_id").as("src"), col("cluster_id").as("l")), "src")
        .groupBy(col("dst").as("doc_id")).agg(min("l").as("nbr_min"))
      // old and new label side by side: convergence detection is a filter
      // on this same persisted relation, not a second join against the
      // previous labels
      val step = labels.join(nbr, Seq("doc_id"), "left")
        .select(col("doc_id"), col("cluster_id").as("prev"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
            .as("cluster_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val improved = step.filter(col("cluster_id") < col("prev")).limit(1).count() > 0
      cached.unpersist()
      cached = step
      labels = step.select("doc_id", "cluster_id")
      converged = !improved
      iter += 1
    }
    edges.unpersist()
    // partially-propagated labels are silently WRONG (downstream keeps
    // wrong survivors) — fail loudly instead. Min-label propagation needs
    // ~component-diameter rounds; the star-contraction variant
    // (dupClustersStar) converges in O(log n) rounds for chain-shaped
    // components that blow past maxIter here.
    if (!converged) {
      cached.unpersist()
      throw new IllegalStateException(
        s"dupClusters did not converge in $maxIter rounds — a component has " +
          s"diameter > $maxIter; raise maxIter or use dupClustersStar " +
          "(O(log n) rounds)")
    }
    labels
  }

  /** Min-root union-find over a symmetric edge list: roots are always
    * the smaller id, so each node's final root IS the minimum member of
    * its component — the same labelling the distributed path converges
    * to. Path-compressed, effectively O(E α(E)).
    */
  private def unionFind(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // compress the walked path (iterative — no stack depth)
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
    nodes.iterator.map(x => x -> find(x)).toMap
  }

  /** One representative per duplicate cluster: the cluster id IS the
    * minimum member, so survivors are rows whose doc_id equals their
    * cluster label.
    */
  def clusterSurvivors(clusters: DataFrame): DataFrame =
    clusters.filter(col("doc_id") === col("cluster_id")).select("doc_id")

  /** Quality-aware cluster survivor selection: instead of the min-id
    * representative ([[clusterSurvivors]]), keep each duplicate cluster's
    * highest-scoring member (ties broken by smallest doc_id — fully
    * deterministic). This is what curation pipelines actually want: when
    * near-identical documents differ in boilerplate or truncation, keep
    * the best copy, not the accidentally-smallest id.
    *
    * `scores` is any (doc_id, scoreCol) relation, e.g.
    * `TextOps.quality(docs)`. The window partitions by cluster_id —
    * cluster sizes are small by construction (near-dup groups), so the
    * per-partition sort is trivial and the shuffle is one pass over the
    * cluster relation, which is pairs-sized, not corpus-sized.
    */
  def clusterSurvivorsBy(clusters: DataFrame, scores: DataFrame,
                         scoreCol: String): DataFrame =
    clusters.join(scores, "doc_id")
      .withColumn("__rn", row_number().over(
        Window.partitionBy("cluster_id").orderBy(desc(scoreCol), asc("doc_id"))))
      .filter(col("__rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("best_doc_id"), col(scoreCol))

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014): the diameter-proof alternative to
    * [[dupClusters]]' min-label propagation. Label propagation needs one
    * round per hop of component diameter; star contraction halves
    * component height every round and converges in O(log n) rounds on ANY
    * topology — the path to take when near-dup graphs chain (A≈B≈C≈…),
    * which real corpora with templated text do produce.
    *
    * Each round is two groupBy-min shuffles and two joins of the EDGE
    * relation only (8-byte node ids — never text, never collect_list, so
    * a hub node costs a wide join group, not an executor-OOM array).
    * Convergence is an order-independent checksum (count + sum + xor of
    * edge hashes) compared across rounds — one tiny agg per round, no
    * driver-side edge materialization at any point.
    *
    * Returns the same (doc_id, cluster_id = min reachable id) labelling
    * as [[dupClusters]] — the two are differential-tested equal; only
    * nodes appearing in `pairs` are returned.
    */
  def dupClustersStar(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    require(pairs.columns.contains("doc_a") && pairs.columns.contains("doc_b"),
      "pairs must carry doc_a/doc_b")
    // canonical undirected edge set: (u, v) with u > v, no loops, distinct
    def canon(df: DataFrame): DataFrame =
      df.filter(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .distinct()
    // large-star: every neighbour LARGER than u attaches to the minimum of
    // u's closed neighbourhood; output edges are (larger, min) — canonical
    def largeStar(edges: DataFrame): DataFrame = {
      val und = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val m = und.groupBy("u").agg(least(min(col("v")), first(col("u"))).as("m"))
      und.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    // small-star: all smaller neighbours (and u itself) attach to the
    // smallest neighbour; input already oriented u > v, so min(v) is it
    def smallStar(edges: DataFrame): DataFrame = {
      val m = edges.groupBy("u").agg(min(col("v")).as("m"))
      edges.join(m, "u").filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(m.select(col("u"), col("m").as("v")))
        .distinct()
    }
    def sig(df: DataFrame): (Long, String, Long) = {
      // hash sum in decimal(38,0): a long sum of 64-bit hashes would
      // overflow under ANSI mode after a handful of edges
      val r = df.agg(
        count(lit(1)),
        coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
      (r.getLong(0), r.getDecimal(1).toPlainString, r.getLong(2))
    }
    // Lineage MUST be truncated every round: `edges` is referenced 4+
    // times per round (union + self-grouping joins), so the logical plan
    // grows exponentially with iterations — persist alone caches data but
    // still analyzes/optimizes the full nested plan (OOMs the driver near
    // ~10 rounds). localCheckpoint materializes the round eagerly and
    // re-roots the plan at the cached blocks, the same pattern GraphFrames
    // uses for its iterative CC.
    var edges = canon(pairs.select(col("doc_a").cast("long").as("u"),
      col("doc_b").cast("long").as("v"))).localCheckpoint(true)
    var prev = sig(edges)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val cur = sig(next)
      edges.unpersist()
      edges = next
      converged = cur == prev
      prev = cur
      iter += 1
    }
    // same loud-failure contract as dupClusters: a non-converged edge set
    // yields partially-contracted (wrong) labels downstream
    if (!converged) {
      edges.unpersist()
      throw new IllegalStateException(
        s"dupClustersStar did not converge in $maxIter rounds (star " +
          "contraction is O(log n) — this indicates maxIter set far too " +
          "low for the component sizes); raise maxIter")
    }
    // fixed point: every edge is (member, component-min); minima label
    // themselves. Self-loop pairs (a, a) — which canon dropped — still
    // name their node, labelled as its own singleton unless the node also
    // belongs to a real component (the group-min keeps the component
    // label, matching dupClusters' treatment exactly).
    val loops = pairs.filter(col("doc_a") === col("doc_b"))
      .select(col("doc_a").cast("long").as("doc_id"),
        col("doc_a").cast("long").as("cluster_id"))
    edges.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .union(edges.select(col("v").as("doc_id"), col("v").as("cluster_id")))
      .union(loops)
      .groupBy("doc_id").agg(min(col("cluster_id")).as("cluster_id"))
  }

  /** LSH candidate-quality audit: precision/recall of the banded-MinHash
    * near-dup pairs ([[minhashDedup]], est_jaccard ≥ t) against the
    * EXACT n-gram Jaccard ground truth ([[ngramJaccard]], true
    * jaccard ≥ t over the same 3-gram shingle sets). The dedup analog of
    * `ann_recall`: before trusting a banded index at corpus scale you
    * measure what its band/row config actually catches — precision <1
    * counts estimator false-positives (32-hash agreement overshooting a
    * sub-threshold pair), recall <1 counts banding misses plus estimator
    * undershoot. Both are properties of the LSH S-curve, not bugs; this
    * query puts a number on them per corpus.
    *
    * Output (one row): n_pred, n_truth, n_hit, precision_micro,
    * recall_micro (exact integer divisions — the hash-compared columns),
    * precision, recall (one IEEE division each, rounded 1e-6).
    *
    * Scale: runs the two existing bucketed pipelines (nothing all-pairs)
    * plus one pair-keyed semi-join and three 1-row broadcast aggregates.
    */
  def lshEval(documents: DataFrame, threshold: Double = 0.5,
              sigsPre: Option[DataFrame] = None): DataFrame = {
    val pred = graft.Caching.materialize(
      minhashDedup(documents, threshold = threshold, sigsPre = sigsPre)
        .select("doc_a", "doc_b"))
    val truth = graft.Caching.materialize(
      ngramJaccard(documents, threshold = threshold).select("doc_a", "doc_b"))
    val np = pred.agg(count(lit(1)).as("n_pred"))
    val nt = truth.agg(count(lit(1)).as("n_truth"))
    val nh = pred.join(truth, Seq("doc_a", "doc_b"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    np.crossJoin(broadcast(nt)).crossJoin(broadcast(nh))
      .select(col("n_pred"), col("n_truth"), col("n_hit"),
        when(col("n_pred") === 0, 0L)
          .otherwise(expr("(1000000 * n_hit) div n_pred")).as("precision_micro"),
        when(col("n_truth") === 0, 0L)
          .otherwise(expr("(1000000 * n_hit) div n_truth")).as("recall_micro"),
        round(when(col("n_pred") === 0, 0.0)
          .otherwise(col("n_hit").cast("double") / col("n_pred")), 6).as("precision"),
        round(when(col("n_truth") === 0, 0.0)
          .otherwise(col("n_hit").cast("double") / col("n_truth")), 6).as("recall"))
  }

  /** DuckDB twin of [[lshEval]]: the dedup_minhash and
    * dedup_ngram_jaccard oracle pipelines as CTEs, intersected.
    */
  def lshEvalOracleSql(threshold: Double = 0.5): String = {
    val perms = seedTriples(32)
      .map { case (i, a, b) => s"($i, $a, $b)" }.mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
       |grams AS (
       |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
       |    ELSE list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS g
       |  FROM toks),
       |bases AS (
       |  SELECT doc_id, ('0x' || substring(md5(gram), 1, 15))::BIGINT % 2147483647 AS h
       |  FROM (SELECT doc_id, unnest(g) AS gram FROM grams)),
       |perms(perm, a, b) AS (VALUES $perms),
       |sig AS (
       |  SELECT doc_id, perm, MIN((a * h + b) % 2147483647) AS s
       |  FROM bases CROSS JOIN perms GROUP BY 1, 2),
       |bands AS (
       |  SELECT doc_id, perm // 4 AS band,
       |         string_agg(CAST(s AS VARCHAR), ',' ORDER BY perm) AS bh
       |  FROM sig GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |pred AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT doc_a, doc_b,
       |           SUM(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END) / 32.0 AS est_jaccard
       |    FROM cand JOIN sig sa ON sa.doc_id = doc_a
       |              JOIN sig sb ON sb.doc_id = doc_b AND sa.perm = sb.perm
       |    GROUP BY 1, 2) t
       |  WHERE est_jaccard >= $threshold),
       |sizes AS (SELECT doc_id, len(g) AS n_grams FROM grams),
       |inv AS (SELECT doc_id, unnest(g) AS gram FROM grams),
       |rare AS (SELECT gram FROM inv GROUP BY 1 HAVING COUNT(*) <= 1000000),
       |f AS (SELECT inv.doc_id, inv.gram FROM inv JOIN rare USING (gram)),
       |shared AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
       |  FROM f a JOIN f b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT doc_a, doc_b
       |  FROM shared
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE CAST(shared AS DOUBLE) / (sa.n_grams + sb.n_grams - shared) >= $threshold),
       |hit AS (SELECT p.doc_a FROM pred p JOIN truth t
       |        ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b),
       |c AS (
       |  SELECT (SELECT COUNT(*) FROM pred) AS n_pred,
       |         (SELECT COUNT(*) FROM truth) AS n_truth,
       |         (SELECT COUNT(*) FROM hit) AS n_hit)
       |SELECT CAST(n_pred AS BIGINT) AS n_pred,
       |       CAST(n_truth AS BIGINT) AS n_truth,
       |       CAST(n_hit AS BIGINT) AS n_hit,
       |       CAST(CASE WHEN n_pred = 0 THEN 0
       |            ELSE (1000000 * n_hit) // n_pred END AS BIGINT) AS precision_micro,
       |       CAST(CASE WHEN n_truth = 0 THEN 0
       |            ELSE (1000000 * n_hit) // n_truth END AS BIGINT) AS recall_micro,
       |       ROUND(CASE WHEN n_pred = 0 THEN 0.0
       |             ELSE CAST(n_hit AS DOUBLE) / n_pred END, 6) AS precision,
       |       ROUND(CASE WHEN n_truth = 0 THEN 0.0
       |             ELSE CAST(n_hit AS DOUBLE) / n_truth END, 6) AS recall
       |FROM c""".stripMargin
  }
}
