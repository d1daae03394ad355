package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.multimodal.{AudioCodec, ImageCodec, VideoCodec}

/** Training-data pipeline operators over `documents` / `embeddings` —
  * the beyond-the-reference surface (builder brief; BASELINE.json north
  * star): deduplication (exact, MinHash+LSH, SimHash, exact n-gram
  * Jaccard, embedding-cosine), similarity search (brute-force k-NN
  * baseline, cross-polytope LSH scale path), text analysis (stats,
  * language ID, tokenization, fingerprinting) and multimodal column
  * plumbing.
  *
  * Every operator is a [[QDef]] with a DuckDB oracle that recomputes
  * the SAME deterministic arithmetic, so the driver's hash compare
  * verifies the full algorithm, not just row counts. Where an
  * algorithm needs a hash family we derive it from md5 (identical
  * lowercase hex in Spark and DuckDB) — e.g. MinHash permutation i is
  * `min(h1 + i*h2)` over the md5's 52-bit halves (double hashing) and
  * LSH hyperplane signs come from the md5 high bit — so both engines
  * derive bit-identical signatures with no engine-private hash
  * functions.
  *
  * Scale design (the point of this module):
  *  - dedup/minhash: one `groupBy(doc)` with 32 map-side partial `min`
  *    aggregates, then band buckets → the candidate set is a
  *    *bucket* self-join (skew-free: bucket sizes are tiny by
  *    construction), NEVER an all-pairs join;
  *  - ANN: brute force is restricted to a small broadcast query set;
  *    the LSH variant buckets by cross-polytope signed-argmax
  *    components so the verify join touches ~21% of pairs (tuned
  *    offline against the real vectors: recall .75-.77 @ cos≥0.35 —
  *    the knobs are tables×probes, documented at the parameter
  *    declarations);
  *  - everything stays in whole-stage codegen: no Scala UDFs, only
  *    builtin expressions + higher-order functions, except the
  *    multimodal decode which runs a dependency-free binary header
  *    parser inside typed `mapPartitions` (see ImageCodec).
  */
object Pipeline {

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)

  // ---- shared text fragments -------------------------------------------

  /** Non-empty lowercase whitespace tokens, as a Spark expression.
    * `private[queries]` so CurationOpsSpec tests the production
    * expression, not a pasted copy. */
  private[queries] val toksExpr =
    """filter(split(lower(text), '\\s+'), x -> x <> '')"""

  /** p20's most-common-token count: a run-length scan over the sorted
    * token array (O(n log n) per doc, vs the naive O(n·distinct)
    * count-per-token sweep). Shared with CurationOpsSpec for the same
    * reason as [[toksExpr]]. */
  private[queries] val topCountExpr =
    """aggregate(array_sort(toks),
      |  named_struct('run', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT),
      |               'prev', CAST(NULL AS STRING)),
      |  (acc, x) -> named_struct(
      |    'run', IF(acc.prev <=> x, acc.run + 1, CAST(1 AS BIGINT)),
      |    'best', greatest(acc.best,
      |                     IF(acc.prev <=> x, acc.run + 1, CAST(1 AS BIGINT))),
      |    'prev', x),
      |  acc -> acc.best)""".stripMargin

  /** Same tokens in the DuckDB dialect. */
  private val toksDuck =
    """list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')"""

  /** p43: KMV sketch size — k smallest distinct hash values kept per
    * group; relative error ~1/sqrt(k-2) ≈ 13%. The corpus has ~890
    * distinct bigrams per language, comfortably above k. */
  private[queries] val KmvK = 64

  /** Adjacent-token bigrams over [[toksExpr]]'s output, as a Spark
    * expression (shared by p43/p47/p49; empty array below 2 tokens). */
  // array_distinct (round 15, optimization): both consumers (p47 HLL
  // registers = max-per-register, p49 distinct gram sets) are
  // insensitive to in-doc repeats, so dedup inside the projection
  // (zero shuffle) and hash each distinct-in-doc gram once.
  private val bigramExpr =
    """CASE WHEN size(toks) >= 2 THEN
      |  array_distinct(transform(sequence(0, size(toks) - 2),
      |    k -> concat(toks[k], ' ', toks[k + 1])))
      |ELSE array() END""".stripMargin

  /** p47: HLL register count (m = 64, p = 6 index bits). The raw
    * harmonic-mean estimate is valid when n >> 2.5·m; every SF's
    * per-language bigram cardinality (~890+) clears that, so the
    * small-range linear-counting branch — whose ln() is libm-flavored
    * and NOT bit-reproducible across engines — is never taken. */
  private val HllM = 64

  /** p47: alpha_m·m²·2^47 (Flajolet et al. 2007, §4 for m = 64) as a
    * single double literal embedded identically in both engines; the
    * estimate is then ONE IEEE division by an exactly-representable
    * integer sum, so the oracle reproduces it bit-identically. */
  private val HllC: Double =
    (0.7213 / (1 + 1.079 / 64.0)) * 64.0 * 64.0 * 140737488355328.0

  /** p48: deterministic-Bernoulli keep threshold — hashes below 2^50
    * of the 2^52 space = rate 1/4. The 100 TB knob: T ≈ target_sample
    * · 2^52 / n keeps the sampled-sort size constant as n grows. */
  private val QsT = 1L << 50

  /** p49: MinHash components per source signature; the match-fraction
    * estimator's std-err is sqrt(J(1-J)/k) ≈ 0.06 at J = 0.5. */
  private val OvK = 64

  /** p55: whole-word vocabulary size. The corpus has ~31 distinct
    * words, so 8 keeps most words OUT of the whole-word set and the
    * greedy matcher exercising real subword splits; ties in the count
    * order resolve by word so the set is deterministic at every SF. */
  private val WpTopWords = 8

  /** p55: longest piece tried at a start position (covers the longest
    * corpus word, 'customer' = 8); continuations are capped at 2. */
  private val WpMaxPiece = 8

  /** p55: per-(session, data-dir) cache of the broadcast vocabulary
    * pair. Building the DataFrame needs the driver-side sets at
    * closure-construction time (one bounded head()), so without a
    * cache every `queries("p55_…")` call would rerun the two vocab
    * jobs and leak a fresh broadcast pair — across a bench loop that
    * accretes executor memory. One pair per (session, dir) is bounded
    * by construction and lives for the session. Package-visible so
    * TokenizerOpsSpec can pin the reuse. */
  private[queries] val wpVocabCache =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, String),
      (org.apache.spark.broadcast.Broadcast[Set[String]],
       org.apache.spark.broadcast.Broadcast[Set[String]])]

  /** p55: [[toksExpr]] over text augmented with the two [UNK] probe
    * words (digits never enter the vocabulary, which is built from
    * ORIGINAL text only): 'k9' fails at a continuation position, '9z'
    * at the start position. */
  private val toksAugExpr =
    """filter(split(lower(concat(text,
      |  CASE WHEN doc_id % 5 = 0 THEN ' k9'
      |       WHEN doc_id % 5 = 3 THEN ' 9z' ELSE '' END)), '\\s+'),
      |  x -> x <> '')""".stripMargin

  /** p56: number of learned merges. 8 is enough that later rounds
    * merge PIECES produced by earlier rounds (not just char pairs),
    * exercising the sequential dependency the oracle must replicate.
    * Declared before the queries list: [[bpeOracleSql]] is forced
    * during object init while the list is built. */
  private val BpeK = 8

  // MinHash parameters: 32 permutations in 8 bands of 4 rows.
  // P(candidate | J=0.97) ≈ 1-(1-0.97^4)^8 ≈ .9996; J=0.1 pairs leak at
  // ~8e-4 and are removed by the exact-Jaccard verify stage.
  private val NumPerm = 32
  private val Bands = 8
  private val RowsPerBand = NumPerm / Bands

  // ANN parameters: cross-polytope LSH, 8 tables × signed-argmax
  // buckets over a 64-plane projection per table. Tuned offline on
  // the real vectors (tools/tune notes in the p09 comment): recall
  // .75-.77 @ cos≥0.35 with candidate rate .21 at arity 1 — the best
  // measured frontier point; plain hyperplane banding (r3: 8×6 bits)
  // measured .42 @ .13 and blind multiprobe blew the candidate rate
  // past .45 at comparable recall.
  //
  // Table count is DATA-DRIVEN from the same arity ladder (round 12,
  // VERDICT r11 #6): a composite key is a harder coincidence — the
  // per-table match probability p decays roughly geometrically with
  // arity (planted-pair gate: p ≈ 0.12 at k=2, ≈ 0.047 at k=3), so a
  // fixed table count loses recall at every ladder step. The standard
  // LSH remedy is OR-amplification: DOUBLE the tables per arity step
  // (8 → 16 → 32), taking per-pair miss (1-p)^T to roughly the same
  // level at each k. Measured on a planted-pair corpus
  // (cos ∈ [0.35, 0.95], floor 0.7): k=2 0.52 (8 tables,
  // leave-one-out) → 0.81 (16 tables, leave-two-out) at n=51k; k=3
  // 0.54 (16 tables) → measured again at 32 below; k=1 keeps the
  // tuned 8-table config unchanged (0.75-0.77 measured). Capped at
  // 32: k=4 engages past 268M vectors — beyond what this container
  // can measure — and the cap is the honest boundary of the measured
  // envelope. Cost: kernel flops and probe rows scale linearly with
  // T, and the per-bucket join stays occupancy-bounded by the arity
  // ladder, so the candidate rate grows by the same ~2× per step.
  // Both sides derive the count from the corpus size (the oracle
  // filters a 32-table range by the same CASE), so they agree at
  // every SF.
  private val CpTables = 8
  private val CpTablesMax = 32
  /** Tables for the cross-polytope LSH at composite-key arity k. */
  private[graft] def cpTables(arity: Int): Int =
    math.min(CpTables << (arity - 1), CpTablesMax)
  /** Probe depth (extra ranked planes beyond the key arity) at
    * composite-key arity k: a probe candidate is "B's top-k ⊆ A's
    * top-(k+extra)". Leave-two-out suffices at k ≤ 2 (planted-pair
    * recall 0.81 at k=2); at k=3 the subset coincidence is harder
    * still (0.66 even at 32 tables) and one more rank of slack
    * closes the gap. Keys per table = C(k+extra, k): 3 / 6 / 20 at
    * k = 1 / 2 / 3 — bounded, and the per-bucket join stays
    * occupancy-capped by the arity ladder. */
  private[graft] def cpProbeExtra(arity: Int): Int =
    if (arity >= 3) 3 else 2
  private val AnnDim = 64 // embedding length, fixed across all SFs
  // Scale knob (VERDICT r9 #3 — now APPLIED, not just documented):
  // a single signed-argmax key gives 2·AnnDim buckets per table, so
  // bucket OCCUPANCY — and with it the per-bucket self-join — grows
  // linearly in corpus size (quadratic pair count; the round-9 sf1.0
  // sweep measured p09/p14 at ~12.5× for 10× data on exactly this).
  // The remedy, as in MinHash banding, is a COMPOSITE bucket key:
  // the TOP-k signed components per table ((2·AnnDim)^k buckets),
  // with k derived from the corpus count so mean occupancy stays
  // bounded as n grows:
  //   k(n) = clamp(ceil(log_{2·AnnDim}(n / AnnTargetOccupancy)), 1, 8)
  // Probing (round 12, VERDICT r11 #6): rank the top k+extra
  // components (extra = cpProbeExtra(k)) and emit every k-subset;
  // the PRIMARY key is the top-k subset, and a candidate is any
  // probe-key ∩ primary-key match — i.e. "B's top-k ⊆ A's
  // top-(k+extra)". The round-11 leave-one-out scheme (k-subsets of
  // top k+1) measured recall 0.52 at k=2 on a planted-pair
  // corpus; the probe-depth + table ladders below restore
  // ≥ 0.7 at every measured arity for a constant-factor candidate
  // cost. The oracle computes k from count(*) with the same formula,
  // so both sides agree at every SF. Upper clamp 8: keys pack into a
  // Long (7 bits/slot), and 128^8 buckets is past any real corpus.
  private val AnnTargetOccupancy = 128L
  /** Arity clamp shared by [[annArity]] and the oracle's probe-mask
    * range bound (ADVICE r12 #4: the bound was a hard-coded 2048 that
    * silently desynchronized if this clamp or cpProbeExtra moved). */
  private val AnnArityMax = 8
  /** Hot-bucket split (round 14, VERDICT r13 #2 — the arity-band
    * edge): WITHIN a band, bucket occupancy grows linearly in n until
    * the next arity step resets it, and the skewed tail (top planes
    * correlate across vectors) makes per-bucket pair cost grow with
    * occupancy². Buckets whose PRIMARY occupancy exceeds
    * [[AnnHotBucket]] are subdivided by the leading `depth` bits of a
    * per-(vector, table) refinement word — signs of projections onto
    * [[AnnSplitBits]] extra fixed planes (seed "cps", same md5
    * convention as the key planes) — with depth doubling the
    * sub-bucket count until expected occupancy falls under the cap
    * (exact integer threshold chain, mirrored by the oracle), so
    * per-bucket pair cost is bounded by occ·cap band-wide instead of
    * occ². Same idea as p37's SemHotCell, applied to the bucket join
    * itself. The recall trade is bounded: a split only loses pairs
    * whose EVERY collision lands in a hot bucket under divergent
    * refinement bits, and the AnnRecallSpec floors (≥ 0.7) stay
    * asserted.
    *
    * Cap calibrated in round 14 (sweep {∞, 64, 32, 24, 16} over
    * k=1/10.5k and k=2/51k planted-pair corpora): cap 32 keeps every
    * floor (k=1 recall 0.964→0.783 for a 3× candidate cut on the
    * band's deepest measured point — mean occupancy 82; k=2 recall
    * 0.809→0.805, its occupancy tail barely reaches the cap) while
    * cap 16 fails the k=1 floor (0.691). The oracle SQL interpolates
    * the same val, so kernel and oracle always agree. */
  private val AnnHotBucket = 32L
  /** Refinement planes per table for the hot split (at most 16: `sub`
    * packs into an Int). */
  private val AnnSplitBits = 6
  /** private[graft]: AnnRecallSpec asserts the occupancy bound this
    * formula guarantees across the n sweep.
    *
    * Exact integer form of clamp(ceil(log_{2·AnnDim}(n / occupancy)),
    * 1, 8): the smallest k in [1,8] with (2·AnnDim)^k ≥ n/occupancy,
    * i.e. occupancy·(2·AnnDim)^k ≥ n. No libm log — a one-ULP
    * transcendental difference at an exact power-of-128 corpus size
    * could otherwise make the JVM and the oracle pick different
    * arities (ADVICE r10). The oracle mirrors the same thresholds as
    * an integer CASE chain ([[annArityCaseSql]]). */
  private[graft] def annArity(n: Long): Int = {
    var k = 1
    var cap = AnnTargetOccupancy * (2L * AnnDim) // 16384 = 128^2
    while (k < AnnArityMax && cap < n) { k += 1; cap *= 2L * AnnDim }
    k
  }

  /** DuckDB mirror of [[annArity]]: a CASE chain over the exact
    * integer thresholds occupancy·(2·AnnDim)^k, k = 1..7 (else 8). */
  private def annArityCaseSql(cnt: String): String = {
    val caps = Iterator.iterate(AnnTargetOccupancy * 2L * AnnDim)(_ * 2L * AnnDim)
      .take(AnnArityMax - 1).toSeq
    val whens = caps.zipWithIndex
      .map { case (cap, i) => s"WHEN $cnt <= $cap THEN ${i + 1}" }
    s"CASE ${whens.mkString(" ")} ELSE $AnnArityMax END"
  }

  // p13 parameters: bigrams in more than DfCap docs leave the inverted
  // index (pruning only — full sets still verify); candidate pairs
  // need MinSharedRare shared rare bigrams. NOTE: every constant a
  // QDef's ORACLE STRING interpolates must be declared ABOVE `all` —
  // the oracle strings are built during object init, before
  // later-declared vals are assigned.
  private val DfCap = 10
  private val MinSharedRare = 2

  // p15 parameters: IVF coarse quantizer with md5-derived fixed
  // centroids (components uniform in [-1,1)); every vector is
  // assigned to its max-cosine cell, queries probe their IvfProbes
  // nearest cells, search touches only probed cells. Swept offline on
  // the real vectors (cells ∈ {8,16,32} × probes ∈ {2..8}, sf0.1):
  // the recall/candidate frontier is ≈ linear (recall 0.70 @
  // candidate fraction 0.50 at this setting) because the synthetic
  // embeddings are isotropic — random centroids carry no cluster
  // structure to exploit, the worst case for IVF. On clustered
  // real-world embeddings cells align with clusters; the operator
  // under test is the partition-pruned SEARCH SHAPE (per-cell
  // equi-joins, candidate set bounded by probes/cells), which is
  // what survives at 100 TB. Scale knob: IVF convention sizes the
  // cell count ~√n (cells come from a sampled k-means there), so
  // per-cell scan cost and cell count grow together; the pipeline
  // shape is unchanged at any K.
  private val IvfCells = 8
  private val IvfProbes = 4

  // p37 parameters: SemDeDup's cluster count is DATA-DRIVEN (the
  // paper sizes K to the corpus; the r10 build reused p15's fixed 8
  // cells and the sf2.6 sweep measured the price: 52k vectors / 8
  // cells → 169M intra-cell pairs, each carrying two 64-float vectors
  // through the join — ~90 GB of spill, ~100× the sf1.0 wall time for
  // 2.6× the data). K ≈ √n balances the two costs that pull in
  // opposite directions — assignment is O(n·K), intra-cell pairs are
  // O(n²/K); K = √n makes both O(n^1.5), the standard cluster-count
  // tradeoff (a per-cell-occupancy target instead makes assignment
  // O(n²/target) — measured 4.7× for 2.6× data before this ladder).
  // Exact integer arithmetic (same discipline as annArity — no libm
  // sqrt whose ULP could diverge): K = the smallest power of two with
  // K² ≥ n, clamped [8, SemMaxCells]; the oracle mirrors the same
  // thresholds as a CASE chain. SemMaxCells bounds the oracle's
  // static centroid range and the closure-shipped centroid matrix
  // (4096 × 64 doubles ≈ 2 MB).
  private val SemMaxCells = 4096

  /** Per-cell all-pairs bound for p37 (round 12, VERDICT r11 #2): with
    * K ≈ √n cells, exact all-pairs inside every cell is Σ m_c² ≈ n²/K
    * = n^1.5 — the one super-linear curve left in the dedup family.
    * Cells at or below this occupancy keep the exact all-pairs search
    * (per-cell cost capped at SemHotCell²/2 pairs, total cold cost ≤
    * SemHotCell/2 · n — LINEAR in n); cells above it are "hot" and
    * their candidate pairs come from the p09 cross-polytope LSH
    * machinery RESTRICTED to same-cell pairs ([[cpCandidatePairs]] —
    * bucket occupancy is bounded by the data-driven arity ladder, so
    * per-cell pair cost stops growing with cell occupancy). Total
    * cost: O(n·K) assignment (K capped at SemMaxCells ⇒ linear beyond
    * n = SemMaxCells², i.e. 16.7M vectors) + O(n) cold pairs + the
    * p09 candidate cost (its own documented envelope: occupancy²
    * inside an arity band, ladder reset at each 128^k threshold).
    * 16 sits below the skewed-tail occupancy at every SF (measured
    * max cell occupancy: 24 at sf0.01, 45 at sf0.1), so BOTH branches
    * are hash-verified against the oracle in the driver's own gate,
    * and below the mean occupancy √n from sf1.0 up (78+), where the
    * hot path dominates and is what the scale sweeps measure. Recall
    * trade: inside a hot cell only LSH-candidate pairs are considered
    * (p09's measured candidate recall 0.74-0.82 at cos ≥ 0.35 across
    * the arity ladder), exactly SemDeDup's approximate-within-cluster
    * regime; cold cells stay exact. */
  private val SemHotCell = 16

  private def semCells(n: Long): Int = {
    var k = 8
    while (k < SemMaxCells && k.toLong * k < n) k *= 2
    k
  }
  /** DuckDB mirror of [[semCells]]: CASE over the exact thresholds
    * K² for K = 8, 16, …, SemMaxCells/2 (else SemMaxCells). */
  private def semCellsCaseSql(cnt: String): String = {
    val whens = Iterator.iterate(8)(_ * 2).takeWhile(_ < SemMaxCells)
      .map(k => s"WHEN $cnt <= ${k.toLong * k} THEN $k").mkString(" ")
    s"CASE $whens ELSE $SemMaxCells END"
  }

  // p64 parameters: IVF-PQ (Jégou et al., "Product Quantization for
  // Nearest Neighbor Search") — the memory shape that makes 100 TB
  // ANN serving fit in RAM: each 64-float vector compresses to PqSub
  // codebook codes (8 bytes here), and query scoring is asymmetric
  // distance computation (ADC) — integer table lookups against the
  // candidate's CODES, never a float dot product on the candidate
  // side. Codebook centroids are md5-derived integers in
  // [-1024, 1023] and vector components quantize to floor(x · 1024)
  // (p51's scheme), so every encode decision and every ADC distance
  // is an exact int64 both engines reproduce bit-identically.
  private val PqSub = 8
  private val PqSubDim = AnnDim / PqSub // 8 dims per subvector
  private val PqK = 16
  private val PqQuantScale = 1024L

  // p65 parameters: trigram fuzzy-match entity resolution. The clean
  // universe is |sources| × EntVariants md5-derived 12-hex-char names
  // (640 entities at every SF); each doc carries ONE dirty variant
  // (md5-chosen substitute/delete/duplicate edit, or clean). EntDfCap
  // prunes trigrams held by more than that many ENTITIES from the
  // candidate index (prefix-filtering-family stopword rule, p13's
  // pattern — candidate generation only; verification always runs on
  // the FULL trigram sets); FuzzMinShared rare trigrams gate a
  // candidate pair.
  private val EntVariants = 32
  private val EntDfCap = 64
  private val FuzzMinShared = 2

  // p26: per-source document quota (domain capping).
  private val QuotaK = 10

  // p27: Robertson/Okapi BM25 defaults; query terms are mid-frequency
  // corpus vocabulary so tf/df are well-populated at every SF. Scores
  // are summed in FIXED literal term order on both engines (each
  // per-term score is a single double), so the only cross-engine
  // float surface is ln/division on identical inputs.
  private val Bm25K1 = "1.2"
  private val Bm25B = "0.75"
  private val Bm25Terms = Seq("spark", "join", "vector", "customer")

  // p29: training-chunk size in tokens. 16 gives several chunks per
  // doc at this corpus's ~20-120 token lengths; a production 512/2048
  // only changes the constant.
  private val ChunkTokens = 16

  // p20 thresholds (Gopher/MassiveText-style intra-document repetition
  // gates, re-tuned on this corpus so both classes are populated):
  // most-common-token fraction ≤ 1/RepTopMult, duplicate-bigram
  // fraction ≤ 1/RepDupBiMult.
  private val RepTopMult = 10
  private val RepDupBiMult = 20

  // p21 patterns — deliberately restricted to the regex subset with
  // identical semantics in java.util.regex (Spark codegen) and RE2
  // (DuckDB): character classes, bounded repetition, no lookaround.
  private val EmailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private val PhoneRe = """\+1-[0-9]{3}-[0-9]{4}"""
  private val IpRe = """([0-9]{1,3}\.){3}[0-9]{1,3}"""

  // p31: training-sequence length in tokens (production 2048/4096 only
  // changes the constant) and the width of the two-phase prefix scan's
  // range partitioning (local[32]-sized here; 100 TB uses thousands —
  // the driver-side state stays parts × langs rows either way).
  private[queries] val PackSeqLen = 64L
  private val PackParts = 8

  // p33: vocabulary size — 20 < the corpus's 31 distinct tokens, so
  // the top-K boundary actually cuts at every SF (production 32k-256k
  // only changes the constant); p34: a bigram enters the reference
  // "LM" iff it occurs in >= LmDfPct% of documents — RELATIVE, because
  // bigram document frequency scales with corpus size (a fixed cut
  // that separates fluent from disfluent docs at 500 docs is
  // vacuous at 5,000: swept 20/30/50..300 offline — 6% keeps the
  // permille spread two-sided at every SF); p35: top terms kept per
  // document.
  private val VocabK = 20
  private val LmDfPct = 6
  private val TfidfK = 3

  // p36: C4-style duplicated-span removal — the dedup UNIT is a
  // SpanLen-token segment (C4 uses lines/3-sentence spans; this
  // corpus has no line structure, so fixed-length token segments
  // stand in — the operator shape is identical). A segment is
  // boilerplate iff it occurs >= SpanDf times corpus-wide. SpanLen=3
  // keeps both classes populated on this corpus (measured at sf0.01:
  // 231 of 7,460 distinct segments cross the cut, scrubbing ~9% of
  // segments and emptying 2 docs — the empty-doc path is exercised).
  private[queries] val SpanLen = 3
  private val SpanDf = 3

  /** p36's span splitter over a `toks` column: consecutive SpanLen-
    * token segments (last one ragged). `private[queries]` so
    * MixQualitySpec drives the production expression, not a copy. */
  private[queries] val spanSegsExpr: String =
    s"""CASE WHEN size(toks) >= 1
       |THEN transform(sequence(0, CAST(ceil(size(toks) / ${SpanLen}.0) AS INT) - 1),
       |               i -> array_join(slice(toks, i * $SpanLen + 1, $SpanLen), ' '))
       |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin

  // p37: SemDeDup-style cluster-local semantic dedup: vectors are
  // partitioned into their home IVF cell (same md5-derived coarse
  // quantizer as p15) and near-dups are searched WITHIN cells only.
  // Tau swept offline on the real vectors (sf0.01: 15,768 within-cell
  // pairs; 248 at cos>=0.30, 68 at >=0.35) — 0.30 keeps the drop set
  // populated on this isotropic worst-case corpus.
  private val SemTau = 0.30

  // p38: model-based quality filtering — a fixed-weight linear
  // classifier (the fasttext-style stage of a curation pipeline)
  // over three exact-arithmetic features. Every feature is one IEEE
  // division and the score sums products of double-cast literals in
  // written order, so both engines compute bit-identical doubles.
  // Bias -1.9 splits ~30-55% kept at every SF (swept offline).
  private val QualityBias = "-1.9"
  private val QualityW = ("0.02", "4.0", "0.25") // n_toks, uniq_ratio, -mean_len

  // p39: temperature-weighted mixture resampling (alpha = 0.5): the
  // per-language target share is proportional to sqrt(count) — the
  // standard low-resource upweighting — with the total budget half
  // the corpus. Weights use floor(sqrt(n)) as INTEGERS so the
  // cross-group sum is order-independent (no float-summation-order
  // nondeterminism), and each doc's keep decision is one exact
  // division compared against its md5-derived uniform.
  private val MixDenom = 2L // sampling budget = total DIV MixDenom

  // p45: Bloom-filter decontamination. k hash functions; filter size
  // m = BloomMPerItem × (distinct eval grams) — load factor k/16 →
  // ~0.5% false-positive rate at k=3, populated at every SF because
  // m tracks the eval set. The mask is m bits = m/64 longs (~2 KB at
  // sf0.01), vs the multi-MB gram dictionary p24 broadcasts.
  private val BloomK = 3
  private val BloomMPerItem = 16L

  // p46: count-min sketch geometry. CmsW=16 is deliberately small so
  // counter collisions (est > exact) are populated on this corpus's
  // ~31-token vocabulary at every SF — production 2^20 widths only
  // change the constant; depth 4 and the min-over-rows estimate are
  // the production shape.
  private val CmsD = 4
  private val CmsW = 16L
  private val CmsTopK = 15

  // p50: sliding-window exact substring dedup — window width in
  // tokens. Unlike p36 (fixed non-overlapping segments), windows sit
  // at EVERY token offset, so duplicated regions are found at their
  // exact boundaries and merged into maximal spans. W=4 keeps both
  // classes populated on this corpus (sf0.01: 2,982 of 25,665 windows
  // duplicated across 368 of 500 docs; production ~50-token windows
  // only change the constant).
  private val SubW = 4

  // p62: variable-length maximal-repeat mining — prefix-doubling
  // equality classes (Karp–Miller–Rosenberg, the distributed
  // suffix-array construction) up to dyadic window 2^RepMaxK, so
  // exact match lengths are reported up to 2^(RepMaxK+1)-1 = 255
  // tokens (this corpus's docs top out near 115 tokens, asserted by
  // the RepGidCap guard below; production corpora raise RepMaxK —
  // each +1 is ONE more hash-shuffle round). Threshold = 2^RepMinK =
  // 4 tokens, aligned with p50's SubW so the two operators answer
  // the same "duplicated region" question at different precision.
  private val RepMinK = 2
  private val RepMaxK = 7
  // gid = doc_id * RepGidCap + pos is the deterministic global
  // position id both engines agree on; docs must stay shorter than
  // RepGidCap tokens (guarded in the Spark build).
  private val RepGidCap = 1024L
  private val RepTopN = 50
  // Cluster-safety gate for p62's intermediates (VERDICT r9 #5):
  // localCheckpoint materializes into EXECUTOR block storage —
  // non-resilient (any executor loss kills the query) and a multiple
  // of the corpus in size, so it is only taken while the corpus is
  // driver-sized (same reasoning as ConnectedComponents' 4M-edge
  // union-find threshold). Above the threshold the plan runs
  // un-pinned: both consumers of the emission frame exchange on the
  // SAME key (k, cls), so ReusedExchange computes the narrow doubling
  // pass once either way, and the occurrence join's second consumer
  // re-reads reused shuffle files, never the raw corpus. The system
  // property exists so RepeatMiningSpec can force the at-scale path
  // and pin both paths to identical answers.
  private def repCheckpointMaxDocs: Long =
    sys.props.get("graft.p62.checkpoint.maxdocs").map(_.toLong)
      .getOrElse(4000000L)

  // p51: k-means geometry — K clusters, Iters assignment passes
  // (Lloyd), embedding components quantized to integers at
  // floor(x · KmScale) so every centroid statistic is an exact
  // integer. Probed offline: clusters stay balanced and non-empty at
  // every SF (e.g. sf0.01: 121/111/145/123).
  private val KmK = 4
  private val KmIters = 3
  private val KmScale = 1024L

  val all: Vector[QDef] = Vector(
    // ------------------------------------------------------------------
    // p01: EXACT DEDUP — content-hash groupBy. The 500-doc corpus has no
    // byte-identical texts, so we union a shifted copy (doc_id+1000000)
    // to create deterministic duplicates; survivor = min(doc_id) per
    // sha256(content). At 100 TB this is one hash-partitioned groupBy
    // with map-side partial min/count — the canonical scalable dedup.
    QDef(
      "p01_dedup_exact",
      (s, d) => {
        val base = docs(s, d).select(col("doc_id"), col("text"))
        val copies = base.withColumn("doc_id", col("doc_id") + lit(1000000L))
        base.unionByName(copies)
          .groupBy(sha2(col("text"), 256).as("content_hash"))
          .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
          .select("content_hash", "keep_id", "n_copies")
      },
      Some("""WITH un AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 1000000, text FROM documents
             |)
             |SELECT sha256(text) AS content_hash, min(doc_id) AS keep_id,
             |       CAST(count(*) AS BIGINT) AS n_copies
             |FROM un GROUP BY sha256(text)""".stripMargin)),

    // ------------------------------------------------------------------
    // p02: NEAR-DUP DEDUP — MinHash over word 3-gram shingles + LSH
    // banding + exact-Jaccard verification of candidates. Output is the
    // confirmed near-dup pairs with their exact intersection/union
    // counts (integer — no float compare). jac >= 0.8 ⇔ 5*inter >= 4*uni.
    QDef(
      "p02_dedup_minhash_lsh",
      (s, d) => buildMinhashPairs(s, d),
      Some(minhashOracle)),

    // ------------------------------------------------------------------
    // p03: SIMHASH — 32-bit document fingerprint: bit j is the sign of
    // the token-frequency-weighted sum of (2*bit_j(md5(token)) - 1),
    // where bit_j(token) is the high bit of md5 hex nibble j. One row
    // per token with 32 partial-sum columns — the token×bit rows never
    // materialize and the shuffle is one 32-column row per doc per
    // partition.
    QDef(
      "p03_dedup_simhash",
      (s, d) => simhash32(s, d),
      Some(s"""$simhashOracleCte
              |SELECT doc_id, simhash FROM sim""".stripMargin)),

    // ------------------------------------------------------------------
    // p04: TEXT QUALITY STATS — per-document token counts, type/token
    // ratio and a composite quality flag. Pure narrow projection +
    // higher-order functions: stays in whole-stage codegen, no shuffle.
    QDef(
      "p04_text_stats",
      (s, d) =>
        docs(s, d)
          .withColumn("toks", expr(toksExpr))
          .select(
            col("doc_id"),
            length(col("text")).cast("long").as("n_chars_m"),
            size(col("toks")).cast("long").as("n_tokens"),
            size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
            expr("size(filter(toks, x -> array_contains(array('the','a','of','and','to','in','is','on'), x)))")
              .cast("long").as("stop_hits"))
          .withColumn("ttr", round(col("n_distinct") / col("n_tokens"), 4))
          .withColumn("quality_flag",
            when(col("n_tokens").between(8, 2000) &&
              col("n_distinct") * 10 >= col("n_tokens") * 3, 1L).otherwise(0L)),
      Some(s"""WITH t AS (SELECT doc_id, text, $toksDuck AS toks FROM documents)
              |SELECT doc_id,
              |  CAST(length(text) AS BIGINT) AS n_chars_m,
              |  CAST(len(toks) AS BIGINT) AS n_tokens,
              |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
              |  CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','on'], x))) AS BIGINT) AS stop_hits,
              |  round(len(list_distinct(toks)) / len(toks), 4) AS ttr,
              |  CASE WHEN len(toks) BETWEEN 8 AND 2000
              |        AND len(list_distinct(toks)) * 10 >= len(toks) * 3
              |       THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS quality_flag
              |FROM t""".stripMargin)),

    // ------------------------------------------------------------------
    // p05: LANGUAGE ID — stopword-list n-gram heuristic scored per
    // language with a deterministic preference order, compared against
    // the labeled `lang` column. (The corpus vocabulary is English-ish,
    // so the heuristic mostly answers 'en' — the operator under test is
    // the scoring pipeline, which is what a real lang-ID pass needs.)
    QDef(
      "p05_lang_id",
      (s, d) =>
        docs(s, d)
          .withColumn("toks", expr(toksExpr))
          .withColumn("s_en", expr(langScore("array", Pipeline.enStops)))
          .withColumn("s_de", expr(langScore("array", Pipeline.deStops)))
          .withColumn("s_es", expr(langScore("array", Pipeline.esStops)))
          .withColumn("s_fr", expr(langScore("array", Pipeline.frStops)))
          .withColumn("pred_lang", expr(langCase))
          .select(col("doc_id"), col("pred_lang"), col("lang"),
            when(col("pred_lang") === col("lang"), 1L).otherwise(0L).as("is_match")),
      Some(s"""WITH t AS (
              |  SELECT doc_id, lang,
              |    ${duckScore(Pipeline.enStops)} AS s_en,
              |    ${duckScore(Pipeline.deStops)} AS s_de,
              |    ${duckScore(Pipeline.esStops)} AS s_es,
              |    ${duckScore(Pipeline.frStops)} AS s_fr
              |  FROM (SELECT doc_id, lang, $toksDuck AS toks FROM documents)
              |)
              |SELECT doc_id, $langCase AS pred_lang, lang,
              |  CASE WHEN $langCase = lang THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS is_match
              |FROM t""".stripMargin)),

    // ------------------------------------------------------------------
    // p06: TOKEN COUNTING — whitespace tokens plus a BPE-ish regex
    // tokenizer ([a-z]+ | digit runs | single punctuation), the shape a
    // token-budget pass over a training corpus uses. Codegen-friendly
    // projection, no shuffle.
    QDef(
      "p06_token_count",
      (s, d) =>
        docs(s, d).select(
          col("doc_id"),
          expr(s"size($toksExpr)").cast("long").as("ws_tokens"),
          size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
            .cast("long").as("bpe_tokens"),
          length(regexp_replace(lower(col("text")), "\\s+", "")).cast("long").as("n_chars_nospace")),
      Some(s"""SELECT doc_id,
              |  CAST(len($toksDuck) AS BIGINT) AS ws_tokens,
              |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_tokens,
              |  CAST(length(regexp_replace(lower(text), '\\s+', '', 'g')) AS BIGINT) AS n_chars_nospace
              |FROM documents""".stripMargin)),

    // ------------------------------------------------------------------
    // p07: DOCUMENT FINGERPRINT — md5 of the whitespace-normalized text
    // (exact-dup key) plus the minimum md5 over character 8-gram
    // shingles (a winnowing-style near-dup sketch: one value per doc,
    // robust to local edits). One static kernel call per row
    // (graft_md5min8): shingle rows never materialize and there is
    // no shuffle at all.
    QDef(
      "p07_fingerprint",
      (s, d) => {
        // graft_md5min8 (round 15, optimization): same min-md5-per-
        // 8-char-window VALUE — the digests are output-semantic and
        // stay md5 — computed in one static-kernel loop instead of an
        // interpreted HOF paying a lambda dispatch + substring alloc +
        // hex encode per window (functions/Md5Min8.scala; pinned
        // byte-identical to the HOF spelling in FingerprintSpec).
        docs(s, d)
          .withColumn("norm", regexp_replace(lower(col("text")), "\\s+", " "))
          .select(
            col("doc_id"),
            md5(col("norm")).as("fp_doc"),
            expr("graft_md5min8(norm)").as("fp_min8"))
      },
      Some("""WITH n AS (
             |  SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS norm
             |  FROM documents
             |)
             |SELECT doc_id, md5(norm) AS fp_doc,
             |  list_min(list_transform(range(1, greatest(length(norm) - 7, 1) + 1),
             |                          i -> md5(substr(norm, CAST(i AS INT), 8)))) AS fp_min8
             |FROM n""".stripMargin)),

    // ------------------------------------------------------------------
    // p17: ROLLING-HASH FINGERPRINT — the brief's named fingerprint
    // shape: minimum Rabin–Karp hash over all 8-byte windows of the
    // normalized text, computed with the true O(n) rolling update in
    // a static kernel (functions/RollingHashMin.scala, called through
    // StaticInvoke — one loop per row, no per-window rehash, no HOF
    // lambdas).
    // Parameters (B=31, w=8, no modulus) keep every value exact in
    // both int64 and float64, so the oracle recomputes the SAME
    // values positionally in SQL. Pure projection: zero shuffle.
    QDef(
      "p17_rolling_fingerprint",
      (s, d) => docs(s, d)
        .withColumn("norm", regexp_replace(lower(col("text")), "\\s+", " "))
        .select(col("doc_id"),
          expr("graft_rollhash_min(norm)").as("roll_min"),
          greatest(length(col("norm")) - 7, lit(1)).cast("long").as("n_windows")),
      Some("""WITH n AS (
             |  SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS norm,
             |         CAST(greatest(length(regexp_replace(lower(text), '\s+', ' ', 'g')) - 7, 1) AS BIGINT) AS n_windows
             |  FROM documents
             |), pos AS (
             |  SELECT doc_id, norm,
             |         unnest(range(1, greatest(length(norm) - 7, 1) + 1)) AS i
             |  FROM n
             |), w AS (
             |  SELECT doc_id, norm, CAST(i AS INT) AS i,
             |         least(length(norm) - CAST(i AS INT) + 1, 8) AS wlen
             |  FROM pos
             |), h AS (
             |  SELECT doc_id, i,
             |    CAST(sum(ascii(substr(norm, i + CAST(j AS INT), 1))
             |             * CAST(pow(31, wlen - 1 - CAST(j AS INT)) AS BIGINT)) AS BIGINT) AS hash
             |  FROM w, range(0, 8) t(j) WHERE j < wlen
             |  GROUP BY doc_id, i
             |)
             |SELECT n.doc_id, min(hash) AS roll_min, any_value(n_windows) AS n_windows
             |FROM n JOIN h ON n.doc_id = h.doc_id
             |GROUP BY n.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // p08: BRUTE-FORCE COSINE k-NN — the ANN correctness baseline: a
    // small broadcast query set (vec_id < 20) against all candidates;
    // dot products via zip_with/aggregate in codegen; top-5 per query by
    // TakeOrdered-style window rank. The candidate side streams — at
    // 100 TB only the query set is materialized.
    QDef(
      "p08_knn_brute",
      (s, d) => {
        val e = withNorm(emb(s, d))
        val q = broadcast(e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn")))
        val c = e.select(col("vec_id").as("nid"), col("v").as("cv"), col("nrm").as("cn"))
        val cos = c.join(q, col("qid") =!= col("nid"))
          .withColumn("cos", expr("graft_dot(qv, cv) / (qn * cn)"))
        cos
          .withColumn("rank", row_number().over(
            Window.partitionBy("qid").orderBy(round(col("cos"), 6).desc, col("nid"))).cast("long"))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("nid"), col("rank"), round(col("cos"), 4).as("cos_sim"))
      },
      Some(s"""WITH el AS (
              |  SELECT vec_id, CAST(i AS INT) AS i,
              |         CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
              |  FROM embeddings, range(1, ${AnnDim + 1}) t(i)
              |), nrm AS (
              |  SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM el GROUP BY vec_id
              |), dots AS (
              |  SELECT a.vec_id AS qid, b.vec_id AS nid, sum(a.x * b.x) AS dot
              |  FROM el a JOIN el b ON a.i = b.i AND a.vec_id < 20 AND a.vec_id <> b.vec_id
              |  GROUP BY a.vec_id, b.vec_id
              |), cos AS (
              |  SELECT qid, nid, dot / (na.nrm * nb.nrm) AS cos
              |  FROM dots JOIN nrm na ON qid = na.vec_id JOIN nrm nb ON nid = nb.vec_id
              |), ranked AS (
              |  SELECT qid, nid,
              |    CAST(row_number() OVER (PARTITION BY qid ORDER BY round(cos, 6) DESC, nid) AS BIGINT) AS rank,
              |    round(cos, 4) AS cos_sim
              |  FROM cos
              |)
              |SELECT qid, nid, rank, cos_sim FROM ranked WHERE rank <= 5""".stripMargin)),

    // ------------------------------------------------------------------
    // p09: LSH SIMILARITY JOIN — cross-polytope LSH: per table a
    // deterministic md5-derived ±1 projection (64 planes); a vector's
    // bucket is its TOP-k SIGNED components (composite key, arity k
    // derived from the corpus count — see annArity) and it probes
    // every k-subset of its top-(k + cpProbeExtra(k)) components by
    // |projection|. Candidates = probe-bucket ∩ primary-bucket pairs;
    // verified with exact cosine ≥ 0.35. This is the 100 TB path: the
    // only joins are per-bucket equi-joins (occupancy bounded by the
    // data-driven arity, skew-free), never all-pairs. Measured recall
    // at cos ≥ 0.35 (round 12, table + probe-depth ladders): 0.83 at
    // k=1 on the real sf0.01 vectors (AnnRecallSpec), 0.81 at k=2
    // (n=51k) and 0.74 at k=3 (n=2.2M) on planted-pair
    // corpora — near-orthogonal corpora like these are the
    // worst case for angular LSH; the ladders are the measured
    // recall-per-candidate frontier of the hyperplane/multiprobe/
    // cross-polytope family swept across rounds 3-12.
    QDef(
      "p09_ann_lsh",
      (s, d) => cosineNearDupPairs(s, d),
      Some(annLshOracle)),

    // ------------------------------------------------------------------
    // p15: IVF ANN SEARCH — the coarse-quantizer scale path the brief
    // names alongside LSH: partition vectors into IvfCells cells by
    // max-cosine against a fixed md5-derived centroid table (at 100 TB
    // the centroids come from a sampled k-means; the SEARCH framework
    // is identical), then answer each query by scanning only its
    // IvfProbes nearest cells. Cell assignment is the same typed-
    // kernel shape as p09's bucket assignment: one pass, 16 rows per
    // vector out, zero shuffle before the per-cell equi-join. Exact
    // top-5 (graft_dot cosine) within the probed cells.
    QDef(
      "p15_ann_ivf",
      (s, d) => ivfTopK(s, d),
      Some(ivfOracle)),

    // ------------------------------------------------------------------
    // p64: IVF-PQ ANN SEARCH (round 10) — the production serving shape
    // on top of p15's coarse quantizer: every vector is ENCODED to
    // PqSub=8 codebook codes (64 floats → 8 bytes — the compression
    // that lets a 100 TB corpus's index live in executor RAM), queries
    // probe their IvfProbes nearest cells exactly like p15, and
    // scoring inside the probed cells is asymmetric distance
    // computation over the candidate's CODES — per-candidate constant
    // integer work, no float vector on the candidate side of the
    // join. Encode is a typed zero-shuffle kernel (argmin over 16
    // centroids per subvector, ties to the smaller code — same
    // deterministic tie rule as the oracle's ORDER BY dist, c); all
    // distances are exact int64 (quantized components × integer
    // codebook), so the DuckDB oracle replays codebook, encode, ADC
    // and the top-5 ranking bit-identically.
    QDef(
      "p64_ann_ivfpq",
      (s, d) => pqTopK(s, d),
      Some(pqOracle)),

    // ------------------------------------------------------------------
    // p13: EXACT N-GRAM JACCARD DEDUP — the exact counterpart to p02's
    // MinHash approximation: a word-BIGRAM inverted index pruned by
    // document frequency (bigrams appearing in > DfCap docs are
    // dropped from the INDEX — the prefix-filtering family's stopword
    // pruning; bucket sizes are bounded by DfCap so the posting-list
    // self-join can never blow up), candidate pairs = docs sharing
    // ≥ MinSharedRare rare bigrams, then exact Jaccard over the FULL
    // bigram sets of candidate docs only. All integer arithmetic:
    // jac ≥ 0.5 ⇔ 2*inter ≥ uni. At 100 TB: two hash-partitioned
    // groupBys + a df-capped posting join — never all-pairs.
    QDef(
      "p13_dedup_ngram_jaccard",
      (s, d) => {
        val big = bigrams(s, d).distinct()
        // document frequency per bigram; the groupBy leaves both sides
        // hash-partitioned by sh, so the pruning join adds no shuffle
        val dfreq = big.groupBy("sh").agg(count(lit(1)).as("dfreq"))
        val rare = big.join(dfreq.filter(col("dfreq") <= DfCap), "sh")
        val cand = rare.as("x").join(rare.as("y"),
            col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("ida"), col("y.doc_id").as("idb"))
          .agg(count(lit(1)).as("shared"))
          .filter(col("shared") >= MinSharedRare)
          .select("ida", "idb")
          .localCheckpoint()
        val candIds = cand.select(col("ida").as("doc_id"))
          .unionByName(cand.select(col("idb").as("doc_id"))).distinct()
        val sh = big.join(broadcast(candIds), "doc_id")
        val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val inter = cand
          .join(sh.as("sa"), col("ida") === col("sa.doc_id"))
          .join(sh.as("sb"),
            col("idb") === col("sb.doc_id") && col("sa.sh") === col("sb.sh"))
          .groupBy("ida", "idb").agg(count(lit(1)).as("inter"))
        inter
          .join(sizes.as("za"), col("ida") === col("za.doc_id"))
          .join(sizes.as("zb"), col("idb") === col("zb.doc_id"))
          .select(col("ida"), col("idb"), col("inter"),
            (col("za.n") + col("zb.n") - col("inter")).as("uni"))
          .filter(col("inter") * 2 >= col("uni"))
      },
      Some(ngramJaccardOracle)),

    // ------------------------------------------------------------------
    // p14: EMBEDDING-COSINE NEAR-DUP DEDUP — the vector-space dedup
    // decision on top of the p09 machinery: near-dup pairs (cross-
    // polytope LSH candidates, exact-cosine verified at ≥ 0.35) feed
    // the greedy min-id survivor rule — a vector is dropped iff it has
    // a near-dup neighbor with a smaller id. Output is the full
    // keep/drop ledger (one row per vector, with the smallest
    // offending neighbor for dropped ones). At 100 TB the only
    // addition over p09 is one groupBy(ib) and a left join — both
    // hash-partitioned on the id.
    QDef(
      "p14_dedup_embed_cosine",
      (s, d) => {
        val drops = cosineNearDupPairs(s, d)
          .groupBy(col("ib")).agg(min("ia").as("min_nbr"))
          .withColumnRenamed("ib", "vec_id")
        emb(s, d).select("vec_id").join(drops, Seq("vec_id"), "left")
          .select(col("vec_id"), col("min_nbr").isNull.as("kept"),
            col("min_nbr"))
      },
      Some(s"""WITH pairs AS (
              |$annLshOracle
              |), drops AS (
              |  SELECT ib AS vec_id, min(ia) AS min_nbr FROM pairs GROUP BY ib
              |)
              |SELECT e.vec_id, d.vec_id IS NULL AS kept, d.min_nbr
              |FROM embeddings e LEFT JOIN drops d ON e.vec_id = d.vec_id""".stripMargin)),

    // ------------------------------------------------------------------
    // p10: MULTIMODAL DECODE — images as opaque binary columns with a
    // real header decode. Each document synthesizes a structurally
    // valid payload (even doc_id → PNG, odd → JPEG; dims derived from
    // n_chars; body bytes carried in IDAT/COM), then the typed
    // mapPartitions decoder recovers format + width/height by PARSING
    // THE BYTES (PNG IHDR fields / JPEG marker walk to SOF0 — see
    // multimodal/ImageCodec.scala). The oracle recomputes dims and
    // byte counts from the synthesis parameters, so a wrong parse
    // hash-mismatches. At 100 TB this is the canonical shape: narrow
    // per-partition decode, no shuffle until the metadata join.
    QDef(
      "p10_multimodal_decode",
      (s, d) => {
        import s.implicits._
        val raw = docs(s, d)
          .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
            encode(col("text"), "UTF-8").as("body"))
          .as[SynthSpec]
        val blobs = raw.mapPartitions(_.map { r =>
          val w = (64L + r.n_chars % 513L).toInt
          val h = (64L + (r.n_chars * 31L) % 417L).toInt
          val bytes =
            if (r.doc_id % 2 == 0) ImageCodec.synthesizePng(w, h, r.body)
            else ImageCodec.synthesizeJpeg(w, h, r.body)
          ImageBlob(r.doc_id, bytes)
        })
        val decoded = blobs.mapPartitions(_.map { b =>
          val dims = ImageCodec.decodeDims(b.payload)
          DecodedImage(b.doc_id, dims.format, b.payload.length.toLong,
            dims.width.toLong, dims.height.toLong)
        }).toDF()
        val tags = docs(s, d).select(col("doc_id"),
          substring(md5(col("text")), 1, 8).as("content_tag"))
        decoded.join(tags, "doc_id")
          .select("doc_id", "format", "n_bytes", "width", "height", "content_tag")
      },
      Some("""SELECT doc_id,
             |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
             |  CASE WHEN doc_id % 2 = 0 THEN 57 ELSE 59 END
             |    + CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |  64 + n_chars % 513 AS width,
             |  64 + (n_chars * 31) % 417 AS height,
             |  substr(md5(text), 1, 8) AS content_tag
             |FROM documents""".stripMargin)),

    // ------------------------------------------------------------------
    // p16: MULTIMODAL FEATURE EXTRACTION — the downstream of p10's
    // decode: resize geometry, byte-level features and frame sampling,
    // all computed from the DECODED container (ImageCodec.extractBody
    // walks the PNG chunk / JPEG marker framing to recover the
    // embedded body — a wrong walk corrupts every feature and
    // hash-mismatches). Features are pure integers (exact compare):
    // fit-into-224-box dims, byte sum, lowercase-byte count, 64-byte
    // frame count, every-4th-frame sample count and the sampled
    // frames' first-byte sum. Same 100 TB shape as p10: narrow typed
    // mapPartitions, no shuffle, decode cost scales with bytes.
    QDef(
      "p16_multimodal_features",
      (s, d) => {
        import s.implicits._
        val raw = docs(s, d)
          .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
            encode(col("text"), "UTF-8").as("body"))
          .as[SynthSpec]
        raw.mapPartitions(_.map { r =>
          val w = (64L + r.n_chars % 513L).toInt
          val h = (64L + (r.n_chars * 31L) % 417L).toInt
          val payload =
            if (r.doc_id % 2 == 0) ImageCodec.synthesizePng(w, h, r.body)
            else ImageCodec.synthesizeJpeg(w, h, r.body)
          val dims = ImageCodec.decodeDims(payload)
          val body = ImageCodec.extractBody(payload)
          var byteSum = 0L
          var lower = 0L
          var sampleSum = 0L
          var i = 0
          while (i < body.length) {
            val b = body(i) & 0xff
            byteSum += b
            if (b >= 'a' && b <= 'z') lower += 1
            if (i % 64 == 0 && (i / 64) % 4 == 0) sampleSum += b
            i += 1
          }
          val blen = body.length.toLong
          val nFrames = (blen + 63L) / 64L
          val (rw, rh) =
            if (dims.width >= dims.height)
              (224L, dims.height.toLong * 224L / dims.width)
            else (dims.width.toLong * 224L / dims.height, 224L)
          MediaFeatures(r.doc_id, dims.format, rw, rh, byteSum, lower,
            nFrames, (nFrames + 3L) / 4L, sampleSum)
        }).toDF()
      },
      Some("""WITH base AS (
             |  SELECT doc_id, text,
             |    CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
             |    64 + n_chars % 513 AS w, 64 + (n_chars * 31) % 417 AS h,
             |    CAST(octet_length(encode(text)) AS BIGINT) AS blen
             |  FROM documents
             |), pos AS (
             |  SELECT doc_id, text, unnest(range(1, blen + 1)) AS i FROM base
             |), bytes AS (
             |  SELECT doc_id, CAST(i AS BIGINT) AS i,
             |         ascii(substr(text, CAST(i AS INT), 1)) AS bv
             |  FROM pos
             |), stats AS (
             |  SELECT doc_id, CAST(sum(bv) AS BIGINT) AS byte_sum,
             |    CAST(count(*) FILTER (WHERE bv BETWEEN 97 AND 122) AS BIGINT) AS lower_cnt,
             |    CAST(sum(bv) FILTER (WHERE (i - 1) % 64 = 0
             |                           AND ((i - 1) // 64) % 4 = 0) AS BIGINT) AS sample_sum
             |  FROM bytes GROUP BY doc_id
             |)
             |SELECT b.doc_id, format,
             |  CASE WHEN w >= h THEN CAST(224 AS BIGINT) ELSE (w * 224) // h END AS rw,
             |  CASE WHEN w >= h THEN (h * 224) // w ELSE CAST(224 AS BIGINT) END AS rh,
             |  byte_sum, lower_cnt,
             |  (blen + 63) // 64 AS n_frames,
             |  ((blen + 63) // 64 + 3) // 4 AS n_sampled,
             |  sample_sum
             |FROM base b JOIN stats s ON b.doc_id = s.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // p18: MULTIMODAL AUDIO DECODE — the audio leg of the triad
    // (image p10/p16, frame-sample "video" p16): each document
    // synthesizes a structurally valid 16-bit PCM WAV (sample rate
    // and channel count derived from the row; body bytes in the data
    // chunk; a LIST chunk ahead of fmt so the decoder must walk RIFF
    // chunks, not read fixed offsets — see multimodal/AudioCodec).
    // The typed mapPartitions decoder recovers rate/channels/data
    // length FROM THE BYTES and derives sample count and integer
    // microsecond duration; the oracle recomputes all of it from the
    // synthesis parameters. Same 100 TB shape: narrow per-partition
    // decode, no shuffle.
    QDef(
      "p18_multimodal_audio",
      (s, d) => {
        import s.implicits._
        val raw = docs(s, d)
          .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
            encode(col("text"), "UTF-8").as("body"))
          .as[SynthSpec]
        raw.mapPartitions(_.map { r =>
          val rate = (8000L * (1L + r.n_chars % 5L)).toInt
          val chans = (1L + r.doc_id % 2L).toInt
          val payload = AudioCodec.synthesizeWav(rate, chans, r.body)
          val info = AudioCodec.decodeWav(payload)
          val blockAlign = info.channels * info.bitsPerSample / 8
          val nSamples = info.dataLen.toLong / blockAlign
          DecodedAudio(r.doc_id, info.sampleRate.toLong, info.channels.toLong,
            nSamples, nSamples * 1000000L / info.sampleRate,
            payload.length.toLong)
        }).toDF()
      },
      Some("""SELECT doc_id,
             |  CAST(8000 * (1 + n_chars % 5) AS BIGINT) AS sample_rate,
             |  CAST(1 + doc_id % 2 AS BIGINT) AS channels,
             |  blen // (2 * (1 + doc_id % 2)) AS n_samples,
             |  (blen // (2 * (1 + doc_id % 2))) * 1000000
             |    // (8000 * (1 + n_chars % 5)) AS duration_us,
             |  78 + blen + blen % 2 AS n_bytes
             |FROM (SELECT doc_id, n_chars,
             |        CAST(octet_length(encode(text)) AS BIGINT) AS blen
             |      FROM documents)""".stripMargin)),

    // ------------------------------------------------------------------
    // p23: MULTIMODAL VIDEO DECODE — completes the image/audio/video
    // modality triple with a real container walk (p16's "frames" are
    // byte blocks of an image body; this is an actual video stream
    // format). Each document synthesizes a structurally valid
    // YUV4MPEG2 stream — ASCII parameter header (two legal token
    // orders, so the decoder must match tokens by tag, not offset)
    // plus FRAME-marker-framed 4:2:0 planes whose fill bytes come
    // from the doc body — and the typed mapPartitions decoder
    // recovers dims / frame rate / frame count / sampled-frame bytes
    // FROM THE BYTES (multimodal/VideoCodec.scala; the frame walk
    // derives its stride from the parsed header, so a wrong parse
    // fails exact consumption). The oracle recomputes everything
    // including total byte size (it rebuilds the header string) from
    // the synthesis parameters. Same 100 TB shape as p10/p18: narrow
    // per-partition decode, no shuffle.
    QDef(
      "p23_multimodal_video",
      (s, d) => {
        import s.implicits._
        val raw = docs(s, d)
          .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
            encode(col("text"), "UTF-8").as("body"))
          .as[SynthSpec]
        raw.mapPartitions(_.map { r =>
          val w = (2L * (4L + r.n_chars % 13L)).toInt
          val h = (2L * (3L + (r.n_chars * 5L) % 11L)).toInt
          val (num, den) = if (r.doc_id % 3 == 0) (30000, 1001) else (25, 1)
          val nf = (1L + r.n_chars % 7L).toInt
          val fills = Array.tabulate(nf)(i => r.body((i * 17) % r.body.length))
          val payload = VideoCodec.synthesizeY4m(
            w, h, num, den, fills, altOrder = r.doc_id % 2 == 1)
          val info = VideoCodec.decodeY4m(payload)
          var sampleSum = 0L
          var i = 0
          while (i < info.frameFirstBytes.length) {
            if (i % 2 == 0) sampleSum += info.frameFirstBytes(i)
            i += 1
          }
          val nFrames = info.frameFirstBytes.length.toLong
          DecodedVideo(r.doc_id, info.width.toLong, info.height.toLong,
            info.fpsNum.toLong, info.fpsDen.toLong, nFrames,
            nFrames * 1000000L * info.fpsDen / info.fpsNum,
            sampleSum, payload.length.toLong)
        }).toDF()
      },
      Some("""WITH base AS (
             |  SELECT doc_id, text,
             |    CAST(octet_length(encode(text)) AS BIGINT) AS blen,
             |    2 * (4 + n_chars % 13) AS w,
             |    2 * (3 + (n_chars * 5) % 11) AS h,
             |    CASE WHEN doc_id % 3 = 0 THEN 30000 ELSE 25 END AS num,
             |    CASE WHEN doc_id % 3 = 0 THEN 1001 ELSE 1 END AS den,
             |    1 + n_chars % 7 AS nf
             |  FROM documents
             |), fr AS (
             |  SELECT doc_id, unnest(range(0, nf)) AS i FROM base
             |), samp AS (
             |  SELECT f.doc_id,
             |    CAST(sum(ascii(substr(b.text,
             |      CAST((f.i * 17) % b.blen AS INT) + 1, 1))) AS BIGINT)
             |      AS sample_sum
             |  FROM fr f JOIN base b USING (doc_id)
             |  WHERE f.i % 2 = 0 GROUP BY f.doc_id
             |)
             |SELECT b.doc_id,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(num AS BIGINT) AS fps_num, CAST(den AS BIGINT) AS fps_den,
             |  CAST(nf AS BIGINT) AS n_frames,
             |  CAST(nf AS BIGINT) * 1000000 * den // num AS duration_us,
             |  s.sample_sum,
             |  CAST(length('YUV4MPEG2 W' || w || ' H' || h || ' F' || num
             |         || ':' || den || ' Ip A1:1 C420jpeg') + 1
             |    + nf * (6 + w * h * 3 // 2) AS BIGINT) AS n_bytes
             |FROM base b JOIN samp s USING (doc_id)""".stripMargin)),

    // ------------------------------------------------------------------
    // p19: CURATION FUNNEL — the composition the individual operators
    // exist for: one pass produces the training-set keep decision per
    // document as the conjunction of (a) exact-dedup survivorship
    // (doc_id = min(doc_id) over the content-hash window — the ONE
    // shuffle, hash-partitioned by sha256(text), dup-group-sized
    // partitions), (b) the p04 quality gate, (c) the p05 language
    // gate. The corpus has no byte-identical texts, so like p01 we
    // union a doc_id+1000000 shifted copy: every copy must come out
    // pass_dedup=false, so the oracle exercises BOTH branches of the
    // dedup gate (r4 review finding: without this the gate was
    // constant-true and unfalsifiable). Per-stage booleans are
    // emitted so the oracle pins each gate, not just the conjunction.
    // At 100 TB the gates are codegen projections fused into the
    // scan; only the dedup window shuffles.
    QDef(
      "p19_curation_funnel",
      (s, d) => {
        val un = docs(s, d).select(col("doc_id"), col("text"))
          .unionByName(docs(s, d)
            .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text")))
        un
          .withColumn("toks", expr(toksExpr))
          .withColumn("n_tokens", size(col("toks")).cast("long"))
          .withColumn("n_distinct", size(array_distinct(col("toks"))).cast("long"))
          .withColumn("pass_quality",
            col("n_tokens").between(8, 2000) &&
              col("n_distinct") * 10 >= col("n_tokens") * 3)
          .withColumn("s_en", expr(langScore("array", Pipeline.enStops)))
          .withColumn("s_de", expr(langScore("array", Pipeline.deStops)))
          .withColumn("s_es", expr(langScore("array", Pipeline.esStops)))
          .withColumn("s_fr", expr(langScore("array", Pipeline.frStops)))
          .withColumn("pass_lang", expr(langCase) === "en")
          .withColumn("pass_dedup",
            col("doc_id") === min("doc_id").over(
              Window.partitionBy(sha2(col("text"), 256))))
          .select(col("doc_id"), col("n_tokens"),
            col("pass_dedup"), col("pass_quality"), col("pass_lang"),
            (col("pass_dedup") && col("pass_quality") && col("pass_lang")).as("keep"))
      },
      Some(s"""WITH un AS (
              |  SELECT doc_id, text FROM documents
              |  UNION ALL
              |  SELECT doc_id + 1000000, text FROM documents
              |), t AS (
              |  SELECT doc_id, text, $toksDuck AS toks FROM un
              |), g AS (
              |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
              |    len(toks) BETWEEN 8 AND 2000
              |      AND len(list_distinct(toks)) * 10 >= len(toks) * 3 AS pass_quality,
              |    ${duckScore(Pipeline.enStops)} AS s_en,
              |    ${duckScore(Pipeline.deStops)} AS s_de,
              |    ${duckScore(Pipeline.esStops)} AS s_es,
              |    ${duckScore(Pipeline.frStops)} AS s_fr,
              |    doc_id = min(doc_id) OVER (PARTITION BY sha256(text)) AS pass_dedup
              |  FROM t
              |)
              |SELECT doc_id, n_tokens, pass_dedup, pass_quality,
              |  $langCase = 'en' AS pass_lang,
              |  pass_dedup AND pass_quality AND ($langCase = 'en') AS keep
              |FROM g""".stripMargin)),

    // ------------------------------------------------------------------
    // p20: INTRA-DOC REPETITION FILTER — the Gopher/MassiveText quality
    // gate the inter-doc dedup family (p01/p02/p13) does not cover:
    // repetition WITHIN a document (boilerplate, keyword stuffing,
    // degenerate generations). Signals: most-common-token count (run
    // length over the sorted token array — O(n log n) per doc, NOT the
    // naive O(n·distinct) count-per-token scan) and duplicate-bigram
    // count; keep = both fractions under threshold, integer arithmetic
    // only so the oracle hash is exact. Scale shape: pure per-row
    // array expressions, zero shuffle — the gate fuses into the scan
    // like p04/p05 and survives any corpus size untouched.
    QDef(
      "p20_repetition_filter",
      (s, d) => docs(s, d)
        .withColumn("toks", expr(toksExpr))
        .withColumn("bi", expr(
          """CASE WHEN size(toks) >= 2
            |THEN transform(sequence(0, size(toks) - 2),
            |               k -> concat(toks[k], ' ', toks[k + 1]))
            |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin))
        .withColumn("top_count", expr(topCountExpr))
        .withColumn("n_tokens", size(col("toks")).cast("long"))
        .withColumn("n_distinct", size(array_distinct(col("toks"))).cast("long"))
        .withColumn("n_bigrams", size(col("bi")).cast("long"))
        .withColumn("n_distinct_bigrams",
          size(array_distinct(col("bi"))).cast("long"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          col("top_count"), col("n_bigrams"), col("n_distinct_bigrams"),
          (col("top_count") * RepTopMult <= col("n_tokens") &&
            (col("n_bigrams") - col("n_distinct_bigrams")) * RepDupBiMult
              <= col("n_bigrams")).as("keep")),
      Some(s"""WITH t AS (SELECT doc_id, $toksDuck AS toks FROM documents),
              |u AS (SELECT doc_id, unnest(toks) AS tok FROM t),
              |c AS (SELECT doc_id, tok, count(*) AS c FROM u GROUP BY doc_id, tok),
              |tc AS (SELECT doc_id, max(c) AS top_count FROM c GROUP BY doc_id),
              |b AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
              |        CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
              |        CASE WHEN len(toks) >= 2
              |          THEN list_transform(range(1, len(toks)),
              |                              i -> toks[i] || ' ' || toks[i + 1])
              |          ELSE [] END AS bi
              |      FROM t)
              |SELECT b.doc_id, n_tokens, n_distinct,
              |  CAST(coalesce(top_count, 0) AS BIGINT) AS top_count,
              |  CAST(len(bi) AS BIGINT) AS n_bigrams,
              |  CAST(len(list_distinct(bi)) AS BIGINT) AS n_distinct_bigrams,
              |  coalesce(top_count, 0) * $RepTopMult <= n_tokens
              |    AND (len(bi) - len(list_distinct(bi))) * $RepDupBiMult
              |          <= len(bi) AS keep
              |FROM b LEFT JOIN tc ON b.doc_id = tc.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // p21: PII SCRUB — the redaction pass a web-scale curation pipeline
    // runs before training (emails / phone numbers / IPv4 addresses →
    // typed placeholders, plus per-doc match counts for audit). The
    // synthetic corpus contains no PII, so the operator first injects
    // deterministic doc_id-derived spans (so the oracle can recompute
    // the exact augmented text), then provably finds and redacts them;
    // the hash compare covers the FULL redacted string, not just
    // counts. Patterns live in the java.util.regex ∩ RE2 common
    // subset. Scale shape: codegen regexp projection, zero shuffle.
    QDef(
      "p21_pii_scrub",
      (s, d) => docs(s, d)
        .withColumn("aug", concat(
          col("text"),
          when(col("doc_id") % 3 =!= 0,
            concat(lit(" reach user"), col("doc_id").cast("string"),
              lit("@example.com"))).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" cc admin"), col("doc_id").cast("string"),
              lit("@corp.test.org"))).otherwise(lit("")),
          when(col("doc_id") % 4 === 0,
            concat(lit(" call +1-555-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" host 10.0."), (col("doc_id") % 200).cast("string"),
              lit("."), (col("doc_id") % 97).cast("string")))
            .otherwise(lit(""))))
        .select(col("doc_id"),
          size(regexp_extract_all(col("aug"), lit(EmailRe), lit(0)))
            .cast("long").as("n_emails"),
          size(regexp_extract_all(col("aug"), lit(PhoneRe), lit(0)))
            .cast("long").as("n_phones"),
          size(regexp_extract_all(col("aug"), lit(IpRe), lit(0)))
            .cast("long").as("n_ips"),
          regexp_replace(
            regexp_replace(
              regexp_replace(col("aug"), EmailRe, "<EMAIL>"),
              PhoneRe, "<PHONE>"),
            IpRe, "<IP>").as("redacted")),
      Some(s"""WITH a AS (
              |  SELECT doc_id, text
              |    || CASE WHEN doc_id % 3 <> 0
              |         THEN ' reach user' || doc_id || '@example.com' ELSE '' END
              |    || CASE WHEN doc_id % 5 = 0
              |         THEN ' cc admin' || doc_id || '@corp.test.org' ELSE '' END
              |    || CASE WHEN doc_id % 4 = 0
              |         THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              |         ELSE '' END
              |    || CASE WHEN doc_id % 7 = 0
              |         THEN ' host 10.0.' || (doc_id % 200) || '.' || (doc_id % 97)
              |         ELSE '' END AS aug
              |  FROM documents)
              |SELECT doc_id,
              |  CAST(len(regexp_extract_all(aug, '$EmailRe')) AS BIGINT) AS n_emails,
              |  CAST(len(regexp_extract_all(aug, '$PhoneRe')) AS BIGINT) AS n_phones,
              |  CAST(len(regexp_extract_all(aug, '$IpRe')) AS BIGINT) AS n_ips,
              |  regexp_replace(regexp_replace(regexp_replace(aug,
              |    '$EmailRe', '<EMAIL>', 'g'),
              |    '$PhoneRe', '<PHONE>', 'g'),
              |    '$IpRe', '<IP>', 'g') AS redacted
              |FROM a""".stripMargin)),

    // ------------------------------------------------------------------
    // p22: INT8 EMBEDDING QUANTIZATION — symmetric per-vector int8
    // quantization (q_i = round(x_i · 127 / max|x|)), the standard 4×
    // storage/bandwidth reduction applied to embedding columns before
    // ANN serving at scale. Rounding is spelled as an explicit
    // floor/ceil half-away-from-zero so both engines compute
    // bit-identical integers regardless of their round() tie rules;
    // the scale factor is emitted as integer ppm for the same reason.
    // Scale shape: per-row array arithmetic, zero shuffle.
    QDef(
      "p22_embed_quantize",
      (s, d) => emb(s, d)
        .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .withColumn("mx",
          expr("greatest(array_max(transform(v, x -> abs(x))), CAST(1e-300 AS DOUBLE))"))
        .withColumn("q", expr(
          """transform(v, x -> CAST(
            |  CASE WHEN x * 127.0 / mx >= 0 THEN floor(x * 127.0 / mx + 0.5)
            |       ELSE ceil(x * 127.0 / mx - 0.5) END AS BIGINT))""".stripMargin))
        .select(col("vec_id"),
          expr("CAST(floor(mx * 1000000 + 0.5) AS BIGINT)").as("scale_ppm"),
          expr("array_join(transform(q, x -> CAST(x AS STRING)), ',')").as("q_csv"),
          expr("aggregate(q, CAST(0 AS BIGINT), (a, x) -> a + abs(x))").as("l1")),
      Some("""WITH e AS (SELECT vec_id,
             |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |       FROM embeddings),
             |m AS (SELECT vec_id, v,
             |        greatest(list_max(list_transform(v, x -> abs(x))), 1e-300) AS mx
             |      FROM e),
             |qq AS (SELECT vec_id, mx, list_transform(v, x -> CAST(
             |         CASE WHEN x * 127.0 / mx >= 0 THEN floor(x * 127.0 / mx + 0.5)
             |              ELSE ceil(x * 127.0 / mx - 0.5) END AS BIGINT)) AS q
             |       FROM m)
             |SELECT vec_id, CAST(floor(mx * 1000000 + 0.5) AS BIGINT) AS scale_ppm,
             |  array_to_string(q, ',') AS q_csv,
             |  CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS l1
             |FROM qq""".stripMargin)),

    // ------------------------------------------------------------------
    // p12: SALTED SKEW JOIN — events join on event_type (~5 distinct
    // values: every key is hot, the worst shuffle-join skew). The salt
    // spreads each hot key over 16 sub-partitions: the fact side gets
    // salt = hash(row) % 16, the build side is replicated ×16, and the
    // join runs on (key, salt) — no single reducer receives a whole hot
    // key. (With a dim THIS small you would broadcast instead — q05/q06
    // do — this query demonstrates the pattern for build sides too big
    // to broadcast; AQE's skew-join split is the runtime variant.)
    QDef(
      "p12_salted_join",
      (s, d) => {
        val salts = 16
        val fact = Tables.events(s, d)
          .withColumn("salt", pmod(hash(col("event_id")), lit(salts)))
        val dim = Tables.events(s, d).select(col("event_type")).distinct()
          .withColumn("label", upper(col("event_type")))
          .withColumn("salt", explode(expr(s"sequence(0, ${salts - 1})")))
        fact.join(dim, Seq("event_type", "salt"))
          .groupBy("label")
          .agg(count(lit(1)).as("c"), round(sum("value"), 2).as("sv"))
      },
      Some("""SELECT upper(event_type) AS label, count(*) AS c,
             |       round(sum(value), 2) AS sv
             |FROM events GROUP BY upper(event_type)""".stripMargin)),

    // ------------------------------------------------------------------
    // p11: MODALITY JOIN — documents ↔ embeddings on id: the join a
    // text+vector training pipeline runs constantly. Equi-join on the
    // shared key (shuffle-hash/SMJ at scale; co-partitionable by
    // bucketing both tables on the key).
    QDef(
      "p11_modality_join",
      (s, d) =>
        docs(s, d).join(withNorm(emb(s, d)), col("doc_id") === col("vec_id"))
          .select(
            col("doc_id"), col("lang"), col("label").cast("long").as("label"),
            col("n_chars"), round(col("nrm"), 4).as("emb_norm")),
      Some(s"""WITH el AS (
              |  SELECT vec_id, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
              |  FROM embeddings, range(1, ${AnnDim + 1}) t(i)
              |), nrm AS (
              |  SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM el GROUP BY vec_id
              |)
              |SELECT doc_id, lang, CAST(label AS BIGINT) AS label, n_chars,
              |       round(nrm, 4) AS emb_norm
              |FROM documents JOIN embeddings ON doc_id = embeddings.vec_id
              |JOIN nrm ON doc_id = nrm.vec_id""".stripMargin)),

    // ------------------------------------------------------------------
    // p24: BENCHMARK DECONTAMINATION — the eval-overlap removal stage
    // every training-set build runs (the GPT-3-style n-gram rule): a
    // training doc is contaminated iff it shares a word 8-gram with
    // any doc of the held-out eval set (here: doc_id % 13 = 0 stands
    // in for an external benchmark). Scale shape: the eval gram
    // dictionary is tiny relative to the corpus by construction, so
    // it BROADCASTS and the flagging is one map-side hash-join pass
    // over the train grams plus one groupBy(doc_id) — the corpus is
    // never shuffled by gram. Output is the full ledger (per doc:
    // flag, distinct hit grams, smallest offending eval id), so the
    // oracle pins both branches and the hit arithmetic.
    QDef(
      "p24_decontaminate",
      (s, d) => {
        // gram = the 8-gram's EQUALITY CLASS (round 15, optimization,
        // guide §2.3): no output column carries gram text — the eval
        // join, the per-doc countDistinct and the eval-id min only
        // need equality — so a 128-bit two-plane xxhash64 of the
        // token slice replaces the per-position string build, and the
        // corpus distinct + eval join shuffle 16-byte keys.
        // array_distinct dedups in-doc repeats inside the projection
        // (every consumer is per-(doc, gram) distinct). Token-slice
        // equality is exactly join-string equality (whitespace
        // tokens); classes match modulo the usual 2^-128 bound.
        val grams = docs(s, d)
          .withColumn("toks", expr(toksExpr))
          .select(col("doc_id"), explode(expr(
            """CASE WHEN size(toks) >= 8
              |THEN array_distinct(transform(sequence(0, size(toks) - 8),
              |  k -> named_struct('a', xxhash64(1L, slice(toks, k + 1, 8)),
              |                    'b', xxhash64(2L, slice(toks, k + 1, 8)))))
              |ELSE CAST(array() AS ARRAY<STRUCT<a: BIGINT, b: BIGINT>>) END"""
              .stripMargin)).as("gram"))
          .distinct()
        val evalGrams = grams.filter(col("doc_id") % 13 === 0)
          .groupBy("gram").agg(min("doc_id").as("eval_id"))
        val hits = grams.join(broadcast(evalGrams), "gram")
          .groupBy("doc_id")
          .agg(countDistinct("gram").as("hits"), min("eval_id").as("ev"))
        docs(s, d).select("doc_id").join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"), col("hits").isNotNull.as("contaminated"),
            coalesce(col("hits"), lit(0L)).as("n_hit_grams"),
            col("ev").as("first_eval"))
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, $toksDuck AS toks FROM documents
              |), g0 AS (
              |  SELECT doc_id, toks,
              |    unnest(range(0, greatest(len(toks) - 7, 0))) AS k
              |  FROM t
              |), g AS (
              |  SELECT DISTINCT doc_id,
              |    array_to_string(toks[k + 1:k + 8], ' ') AS gram
              |  FROM g0
              |), eg AS (
              |  SELECT gram, min(doc_id) AS eval_id FROM g
              |  WHERE doc_id % 13 = 0 GROUP BY gram
              |), hits AS (
              |  SELECT g.doc_id, count(DISTINCT g.gram) AS hits,
              |         min(eg.eval_id) AS ev
              |  FROM g JOIN eg USING (gram) GROUP BY g.doc_id
              |)
              |SELECT d.doc_id, h.doc_id IS NOT NULL AS contaminated,
              |  coalesce(h.hits, 0) AS n_hit_grams, h.ev AS first_eval
              |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // p25: STRATIFIED SAMPLING — the data-mixing primitive: keep each
    // doc with a per-language rate (en 1/2, zh 1/4, others 1/8) using
    // a DETERMINISTIC uniform u = first 52 md5 bits of 'smp:'+doc_id,
    // so the sample is reproducible, join-free and consistent across
    // engines/reruns — the property that lets a 100 TB pipeline
    // resample a stratum without re-reading the rest. Rates are exact
    // binary fractions compared in INTEGER space (u < 2^52 · rate),
    // so no float threshold can flip a row between engines. Emits the
    // inverse-rate loss weight alongside the keep flag. Zero-shuffle
    // codegen projection.
    QDef(
      "p25_stratified_sample",
      (s, d) => docs(s, d)
        .withColumn("u", expr(
          "graft_md5longs(concat('smp:', CAST(doc_id AS STRING))).h1"))
        .withColumn("thr", expr(
          s"""CASE lang WHEN 'en' THEN ${1L << 51}L
             |          WHEN 'zh' THEN ${1L << 50}L
             |          ELSE ${1L << 49}L END""".stripMargin))
        .select(col("doc_id"), col("lang"),
          (col("u") < col("thr")).as("kept"),
          when(col("u") < col("thr"),
            (lit(1L << 52).cast("double") / col("thr").cast("double")))
            .as("weight")),
      Some(s"""SELECT doc_id, lang, u < thr AS kept,
              |  CASE WHEN u < thr
              |    THEN CAST(${1L << 52} AS DOUBLE) / CAST(thr AS DOUBLE) END AS weight
              |FROM (
              |  SELECT doc_id, lang,
              |    CAST(('0x' || substr(md5('smp:' || CAST(doc_id AS VARCHAR)), 1, 13))
              |      AS BIGINT) AS u,
              |    CASE lang WHEN 'en' THEN ${1L << 51}
              |              WHEN 'zh' THEN ${1L << 50}
              |              ELSE ${1L << 49} END AS thr
              |  FROM documents
              |)""".stripMargin)),

    // ------------------------------------------------------------------
    // p26: SOURCE QUOTA (domain capping) — keep at most QuotaK docs
    // per source, chosen by a deterministic md5 shuffle so the cap is
    // reproducible and unbiased. This is the rank <= K window shape
    // Spark optimizes with WindowGroupLimit: each input partition
    // pre-filters to its local top-K per source BEFORE the exchange
    // (pinned by CurationOpsSpec), so the shuffle carries at most
    // partitions × sources × K rows — the 100 TB-safe per-key top-K,
    // not a full sort of every hot domain.
    QDef(
      "p26_source_quota",
      (s, d) => docs(s, d)
        .select(col("doc_id"), col("source"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("source").orderBy(
            md5(concat(lit("q:"), col("doc_id").cast("string"))), col("doc_id"))))
        .filter(col("rk") <= QuotaK)
        .select(col("doc_id"), col("source"), col("rk").cast("long").as("rk")),
      Some(s"""SELECT doc_id, source, CAST(rk AS BIGINT) AS rk FROM (
              |  SELECT doc_id, source, row_number() OVER (
              |    PARTITION BY source
              |    ORDER BY md5('q:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
              |  FROM documents
              |) WHERE rk <= $QuotaK""".stripMargin)),

    // ------------------------------------------------------------------
    // p27: BM25 RELEVANCE SCORING — the corpus-search primitive a
    // curation loop runs to pull topical slices (Okapi BM25,
    // k1=1.2 b=0.75, fixed 4-term query). Scale shape: tf is one
    // hash-partitioned groupBy over exploded query-term hits (the
    // explode filters to query terms first, so the exploded stream is
    // hits only, not every token); df and the (N, avgdl) corpus
    // stats are tiny aggregates that BROADCAST back; the final score
    // is a per-row projection. Per-term scores land in fixed columns
    // and sum in literal order, so no float-summation-order
    // nondeterminism enters the hash compare.
    QDef(
      "p27_bm25",
      (s, d) => {
        val terms = Bm25Terms
        val toks = docs(s, d)
          .withColumn("toks", expr(toksExpr))
          .select(col("doc_id"), col("toks"),
            size(col("toks")).cast("long").as("dl"))
        // 1-row corpus stats, collected to the driver and inlined as
        // literals (the standard two-phase spelling: a cross-broadcast
        // of the stats row survives as a BroadcastNestedLoopJoin
        // because any constant join key folds away)
        val statsRow = toks.agg(count(lit(1)).as("n_docs"),
          avg(col("dl")).as("avgdl")).head()
        val nDocs = statsRow.getLong(0)
        val avgdl = statsRow.getDouble(1)
        val hits = toks.select(col("doc_id"), col("dl"),
            explode(expr(s"filter(toks, x -> x IN (${terms.map("'" + _ + "'").mkString(",")}))")).as("tok"))
          .groupBy(col("doc_id"), col("dl"), col("tok"))
          .agg(count(lit(1)).as("tf"))
        val dfreq = hits.groupBy("tok").agg(count(lit(1)).as("dfreq"))
        val scored = hits.join(broadcast(dfreq), "tok")
          .withColumn("part", expr(
            s"""ln((CAST($nDocs AS BIGINT) - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
               |  * tf * ($Bm25K1 + 1.0)
               |  / (tf + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dl / CAST($avgdl AS DOUBLE)))""".stripMargin))
          .groupBy("doc_id")
          .agg(sum(when(col("tok") === terms.head, col("part"))).as(s"s_${terms.head}"),
            terms.tail.map(t =>
              sum(when(col("tok") === t, col("part"))).as(s"s_$t")): _*)
        val score = terms.map(t => coalesce(col(s"s_$t"), lit(0.0)))
          .reduceLeft(_ + _)
        docs(s, d).select("doc_id").join(scored, Seq("doc_id"), "left")
          .select(col("doc_id"),
            round(coalesce(score, lit(0.0)), 4).as("score"))
      },
      Some({
        val termList = Bm25Terms.map("'" + _ + "'").mkString(", ")
        val fixedSum = Bm25Terms.map(t =>
          s"coalesce(s_$t, 0)").mkString(" + ")
        val pivots = Bm25Terms.map(t =>
          s"sum(part) FILTER (WHERE tok = '$t') AS s_$t").mkString(",\n  ")
        s"""WITH t AS (
           |  SELECT doc_id, $toksDuck AS toks FROM documents
           |), dls AS (
           |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM t
           |), stats AS (
           |  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dls
           |), hits AS (
           |  SELECT doc_id, dl, unnest(list_filter(toks,
           |    x -> x IN ($termList))) AS tok
           |  FROM dls
           |), tf AS (
           |  SELECT doc_id, dl, tok, count(*) AS tf
           |  FROM hits GROUP BY doc_id, dl, tok
           |), dfreq AS (
           |  SELECT tok, count(*) AS dfreq FROM tf GROUP BY tok
           |), parts AS (
           |  SELECT doc_id,
           |    ln((n_docs - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
           |      * tf * ($Bm25K1 + 1.0)
           |      / (tf + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dl / avgdl)) AS part,
           |    tok
           |  FROM tf JOIN dfreq USING (tok) CROSS JOIN stats
           |), pivoted AS (
           |  SELECT doc_id,
           |  $pivots
           |  FROM parts GROUP BY doc_id
           |)
           |SELECT d.doc_id, round(coalesce($fixedSum, 0), 4) AS score
           |FROM documents d LEFT JOIN pivoted p ON d.doc_id = p.doc_id""".stripMargin
      })),

    // ------------------------------------------------------------------
    // p28: EMBEDDING-CENTROID OUTLIER SCORING — the vector-space
    // quality gate: each vector's cosine to its OWN label's centroid;
    // vectors pointing away from their class mean (cos < 0, ~10% of
    // this corpus) are flagged as label noise / outliers. Scale
    // shape: the centroid aggregation is a posexplode → map-side
    // partial avg (labels × dim rows leave each partition, vectors ×
    // dim never shuffle), centroids re-assemble via a deterministic
    // sort and BROADCAST back (labels are few by definition), and the
    // scoring pass is a per-row codegen graft_dot. The outlier
    // compare runs on round(cos, 6) like p09's verify so no raw-ulp
    // boundary enters the hash gate.
    QDef(
      "p28_embed_centroid",
      (s, d) => {
        val e = emb(s, d).select(col("vec_id"), col("label"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        val cent = e.select(col("label"), posexplode(col("v")).as(Seq("i", "x")))
          .groupBy("label", "i").agg(avg("x").as("cx"))
          .groupBy("label")
          .agg(expr("transform(array_sort(collect_list(struct(i, cx))), s -> s.cx)").as("c"))
        e.join(broadcast(cent), "label")
          .withColumn("cos", expr(
            "graft_dot(v, c) / (sqrt(graft_dot(v, v)) * sqrt(graft_dot(c, c)))"))
          .select(col("vec_id"), col("label").cast("long").as("label"),
            round(col("cos"), 4).as("cos_c"),
            (round(col("cos"), 6) < 0.0).as("outlier"))
      },
      Some("""WITH el AS (
             |  SELECT vec_id, label,
             |    unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x,
             |    unnest(range(1, len(embedding) + 1)) AS i
             |  FROM embeddings
             |), c AS (
             |  SELECT label, i, avg(x) AS cx FROM el GROUP BY label, i
             |), dots AS (
             |  SELECT e.vec_id, e.label, sum(e.x * c.cx) AS dot,
             |    sqrt(sum(e.x * e.x)) AS ne, sqrt(sum(c.cx * c.cx)) AS nc
             |  FROM el e JOIN c ON e.label = c.label AND e.i = c.i
             |  GROUP BY e.vec_id, e.label
             |)
             |SELECT vec_id, CAST(label AS BIGINT) AS label,
             |  round(dot / (ne * nc), 4) AS cos_c,
             |  round(dot / (ne * nc), 6) < 0.0 AS outlier
             |FROM dots""".stripMargin)),

    // ------------------------------------------------------------------
    // p29: FIXED-SIZE CHUNKING — the context-packing precursor: split
    // each doc into ChunkTokens-token chunks with doc-relative chunk
    // ids and per-chunk bounds. Pure per-row array arithmetic
    // (sequence → slice), zero shuffle; at 100 TB this is the narrow
    // pass that feeds the tokenizer, and chunk boundaries being
    // deterministic functions of the token array is what makes
    // re-chunking idempotent across pipeline runs.
    QDef(
      "p29_chunk_tokens",
      (s, d) => docs(s, d)
        .withColumn("toks", expr(toksExpr))
        .withColumn("n", size(col("toks")).cast("long"))
        .select(col("doc_id"), col("toks"), col("n"),
          explode(expr(
            s"""CASE WHEN n > 0
               |THEN sequence(CAST(0 AS BIGINT), CAST(ceil(n / ${ChunkTokens}.0) AS BIGINT) - 1)
               |ELSE CAST(array() AS ARRAY<BIGINT>) END""".stripMargin)).as("chunk_id"))
        .select(col("doc_id"), col("chunk_id"),
          expr(s"CAST(size(slice(toks, CAST(chunk_id * $ChunkTokens + 1 AS INT), $ChunkTokens)) AS BIGINT)")
            .as("n_tok"),
          expr(s"toks[CAST(chunk_id * $ChunkTokens AS INT)]").as("first_tok"),
          expr(s"toks[CAST(least(n, (chunk_id + 1) * $ChunkTokens) - 1 AS INT)]").as("last_tok")),
      Some(s"""WITH t AS (
              |  SELECT doc_id, $toksDuck AS toks FROM documents
              |), n AS (
              |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t
              |), ch AS (
              |  SELECT doc_id, toks, n,
              |    unnest(range(0, CAST(ceil(n / ${ChunkTokens}.0) AS BIGINT))) AS chunk_id
              |  FROM n WHERE n > 0
              |)
              |SELECT doc_id, chunk_id,
              |  CAST(len(toks[chunk_id * $ChunkTokens + 1:
              |               least(n, (chunk_id + 1) * $ChunkTokens)]) AS BIGINT) AS n_tok,
              |  toks[CAST(chunk_id * $ChunkTokens + 1 AS INT)] AS first_tok,
              |  toks[CAST(least(n, (chunk_id + 1) * $ChunkTokens) AS INT)] AS last_tok
              |FROM ch""".stripMargin)),

    // ------------------------------------------------------------------
    // p30: NEAR-DUP CLUSTERING — transitive closure over the dedup
    // graph: edges are p02's verified near-dup pairs plus each doc's
    // manufactured exact copy (doc_id+1000000, as in p01), so
    // components chain base docs AND their copies — a node can be
    // several hops from its component min, so this exercises genuine
    // transitivity, not just pair grouping. Runs the alternating
    // large-star/small-star contraction
    // (operators/ConnectedComponents.scala): O(log n) rounds of
    // groupBy+join — the published MapReduce answer to dedup
    // clustering at corpus scale, where a "survivor = min of my
    // pairs" rule (p14) under-merges chains A~B~C. Oracle: recursive
    // min-label closure CTE over the same edge set.
    QDef(
      "p30_dedup_connected",
      (s, d) => {
        val pairs = sharedMinhashPairs(s, d).select(col("ida"), col("idb"))
        val copies = docs(s, d).select(col("doc_id").as("ida"),
          (col("doc_id") + lit(1000000L)).as("idb"))
        val edges = pairs.unionByName(copies)
          .select(col("ida").as("src"), col("idb").as("dst"))
        val lab = graft.operators.ConnectedComponents.run(edges)
        val sizes = lab.groupBy("comp_id").agg(count(lit(1)).as("comp_size"))
        lab.join(sizes, "comp_id")
          .select(col("id").as("doc_id"), col("comp_id"), col("comp_size"))
      },
      Some(ccOracle)),

    // ------------------------------------------------------------------
    // p31: SEQUENCE PACKING — GPT-style concatenate-and-slice: within
    // each language stream (ordered by doc_id) documents are laid
    // end-to-end and cut into PackSeqLen-token training sequences;
    // each doc reports its global token offset and the first/last
    // sequence it lands in. The prefix sum runs as the 100 TB-safe
    // TWO-PHASE SCAN, not a per-language window (a window would put
    // each language's ENTIRE corpus into one task): range-partition
    // by (lang, doc_id), materialize the partitioning once
    // (localCheckpoint pins partition identity across the two jobs —
    // range boundaries are sampled per-execution otherwise),
    // per-(partition, lang) token totals collect to the driver
    // (≤ parts × langs tiny rows), exclusive offsets broadcast back,
    // then each partition streams its local running sum. Oracle: the
    // same arithmetic as a per-language window (fine at oracle SF).
    QDef(
      "p31_pack_sequences",
      (s, d) => {
        import s.implicits._
        val base = docs(s, d)
          .withColumn("n_tokens", expr(s"CAST(size($toksExpr) AS BIGINT)"))
          .filter(col("n_tokens") > 0)
          .select(col("doc_id"), col("lang"), col("n_tokens"))
        // The range-partition id is FROZEN INTO THE ROWS at checkpoint
        // time (spark_partition_id evaluated while materializing) —
        // reading TaskContext.getPartitionId() later would silently
        // break whenever a consumer collapses the narrow chain into
        // fewer tasks (e.g. the verify harness's coalesce(1)).
        val parted = base
          .repartitionByRange(PackParts, col("lang"), col("doc_id"))
          .sortWithinPartitions("lang", "doc_id")
          .withColumn("pid", spark_partition_id())
          .as[PackPartRow]
          .localCheckpoint()
        val partTotals = parted.groupBy("pid", "lang")
          .agg(sum("n_tokens").as("tot"))
          .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
        val offsets: Map[(Int, String), Long] = partTotals
          .groupBy(_._2)
          .flatMap { case (lang, rows) =>
            var run = 0L
            rows.sortBy(_._1).map { case (pid, _, tot) =>
              val off = run; run += tot; (pid, lang) -> off
            }
          }
        val bc = s.sparkContext.broadcast(offsets)
        parted.mapPartitions { it =>
          val running = scala.collection.mutable.HashMap.empty[(Int, String), Long]
          it.map { r =>
            val key = (r.pid, r.lang)
            val off = running.getOrElse(key, bc.value.getOrElse(key, 0L))
            running.update(key, off + r.n_tokens)
            PackedDoc(r.doc_id, r.lang, r.n_tokens, off,
              off / PackSeqLen, (off + r.n_tokens - 1) / PackSeqLen)
          }
        }.toDF()
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, lang,
              |    CAST(len($toksDuck) AS BIGINT) AS n_tokens
              |  FROM documents
              |), o AS (
              |  SELECT doc_id, lang, n_tokens,
              |    CAST(COALESCE(SUM(n_tokens) OVER (
              |      PARTITION BY lang ORDER BY doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              |      AS BIGINT) AS tok_offset
              |  FROM t WHERE n_tokens > 0
              |)
              |SELECT doc_id, lang, n_tokens, tok_offset,
              |  tok_offset // $PackSeqLen AS seq_first,
              |  (tok_offset + n_tokens - 1) // $PackSeqLen AS seq_last
              |FROM o""".stripMargin)),

    // ------------------------------------------------------------------
    // p32: LENGTH QUANTILES — exact per-language deciles of document
    // token counts (the corpus-statistics primitive behind length
    // filtering thresholds). At 100 TB the sketch answer is
    // approx_percentile (t-digest), but a sketch is not
    // hash-verifiable across engines; the EXACT answer is distributed
    // rank selection, and its scale shape is the same range-partition
    // + two-phase rank offsets as p31: range-sort by
    // (lang, n_tokens, doc_id) — a parallel sort, NOT one task per
    // language — count per (partition, lang) to the driver, broadcast
    // exclusive rank offsets + per-language target ranks
    // (ceil(n·q/10), duplicate targets kept), then each partition
    // streams its rows once and emits only rank hits. Decile 10 is
    // the maximum.
    QDef(
      "p32_length_quantiles",
      (s, d) => {
        import s.implicits._
        val base = docs(s, d)
          .withColumn("n_tokens", expr(s"CAST(size($toksExpr) AS BIGINT)"))
          .select(col("doc_id"), col("lang"), col("n_tokens"))
        val parted = base
          .repartitionByRange(PackParts, col("lang"), col("n_tokens"), col("doc_id"))
          .sortWithinPartitions("lang", "n_tokens", "doc_id")
          .withColumn("pid", spark_partition_id())
          .as[PackPartRow]
          .localCheckpoint()
        val counts = parted.groupBy("pid", "lang").agg(count(lit(1)).as("cnt"))
          .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
        val rankOffsets: Map[(Int, String), Long] = counts
          .groupBy(_._2)
          .flatMap { case (lang, rows) =>
            var run = 0L
            rows.sortBy(_._1).map { case (pid, _, cnt) =>
              val off = run; run += cnt; (pid, lang) -> off
            }
          }
        val totals: Map[String, Long] =
          counts.groupBy(_._2).map { case (l, rs) => l -> rs.map(_._3).sum }
        val targets: Map[String, Map[Long, Seq[Long]]] = totals.map {
          case (l, n) =>
            l -> (1L to 10L).groupBy(q => (n * q + 9L) / 10L)
              .map { case (rk, qs) => rk -> qs.toSeq }
        }
        val bc = s.sparkContext.broadcast((rankOffsets, targets, totals))
        parted.mapPartitions { it =>
          val (offs, tgts, tots) = bc.value
          val counters = scala.collection.mutable.HashMap.empty[(Int, String), Long]
          it.flatMap { r =>
            val key = (r.pid, r.lang)
            val rk = counters.getOrElse(key, offs.getOrElse(key, 0L)) + 1L
            counters.update(key, rk)
            tgts(r.lang).getOrElse(rk, Seq.empty).map(q =>
              LangDecile(r.lang, q, r.n_tokens, tots(r.lang)))
          }
        }.toDF()
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, lang,
              |    CAST(len($toksDuck) AS BIGINT) AS n_tokens
              |  FROM documents
              |), c AS (
              |  SELECT lang, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY lang
              |), r AS (
              |  SELECT lang, n_tokens,
              |    row_number() OVER (PARTITION BY lang ORDER BY n_tokens, doc_id) AS rk
              |  FROM t
              |), tg AS (
              |  SELECT lang, CAST(q AS BIGINT) AS decile, (n * q + 9) // 10 AS target, n
              |  FROM c, range(1, 11) t2(q)
              |)
              |SELECT tg.lang, tg.decile, r.n_tokens AS q_value, tg.n AS n_docs
              |FROM tg JOIN r ON r.lang = tg.lang AND r.rk = tg.target""".stripMargin)),

    // ------------------------------------------------------------------
    // p33: VOCABULARY BUILD — the tokenizer-training primitive: top-K
    // corpus tokens by total term frequency, with document frequency.
    // Two-level aggregation — groupBy(tok, doc_id) then groupBy(tok) —
    // so both levels get map-side partial counts (a single
    // count_distinct(doc_id) would instead plan an Expand over every
    // token occurrence). The global top-K is orderBy+limit, which
    // Spark plans as TakeOrderedAndProject: each partition keeps a
    // local K-row heap and only K rows per partition reach the
    // driver-side merge — no global sort at 100 TB. The rank window
    // then runs over exactly K rows.
    QDef(
      "p33_vocab_topk",
      (s, d) => {
        val perDoc = docs(s, d)
          .select(col("doc_id"), explode(expr(toksExpr)).as("tok"))
          .groupBy("tok", "doc_id").agg(count(lit(1)).as("tf"))
        val vocab = perDoc.groupBy("tok")
          .agg(sum("tf").as("tf"), count(lit(1)).as("df"))
        vocab.orderBy(col("tf").desc, col("tok")).limit(VocabK)
          .withColumn("rank", row_number().over(
            Window.orderBy(col("tf").desc, col("tok"))).cast("long"))
      },
      Some(s"""WITH tok AS (
              |  SELECT doc_id, unnest($toksDuck) AS tok FROM documents
              |), pd AS (
              |  SELECT tok, doc_id, count(*) AS tf FROM tok GROUP BY tok, doc_id
              |), v AS (
              |  SELECT tok, CAST(sum(tf) AS BIGINT) AS tf,
              |         CAST(count(*) AS BIGINT) AS df
              |  FROM pd GROUP BY tok
              |)
              |SELECT tok, tf, df,
              |  CAST(row_number() OVER (ORDER BY tf DESC, tok) AS BIGINT) AS rank
              |FROM v ORDER BY rank LIMIT $VocabK""".stripMargin)),

    // ------------------------------------------------------------------
    // p34: N-GRAM LM HIT RATE — the CCNet/KenLM-style fluency signal
    // reduced to verifiable integers: the "language model" is the set
    // of bigrams occurring in >= LmDf distinct documents, and each
    // document scores the fraction of its bigram OCCURRENCES found in
    // that model (fluent text reuses corpus-common word transitions;
    // gibberish doesn't). All counts are integers and the permille
    // score is integer division — hash-exact across engines, unlike a
    // log-probability perplexity. At 100 TB the model is itself too
    // large to broadcast, so the scoring join stays hash-partitioned
    // on the bigram (both sides arrive partitioned by sh from the df
    // groupBy), followed by one groupBy(doc_id) with map-side partial
    // counts and a co-partitioned left join back to documents.
    QDef(
      "p34_lm_hit_rate",
      (s, d) => {
        // the relative df cut needs the corpus size — a parquet
        // metadata-only count at any scale, same driver-side stats
        // pattern as p31/p32
        val lmDf = math.max(2L, docs(s, d).count() * LmDfPct / 100L)
        val bg = bigrams(s, d) // occurrences, with duplicates
        val model = bg.distinct().groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") >= lmDf).select("sh")
        val hits = bg.join(model, "sh")
          .groupBy("doc_id").agg(count(lit(1)).as("lm_hits"))
        docs(s, d)
          .withColumn("n_bigrams",
            expr(s"CAST(greatest(size($toksExpr) - 1, 0) AS BIGINT)"))
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_bigrams"),
            coalesce(col("lm_hits"), lit(0L)).as("lm_hits"),
            expr("""CASE WHEN n_bigrams > 0
                   |THEN coalesce(lm_hits, CAST(0 AS BIGINT)) * 1000 DIV n_bigrams
                   |ELSE CAST(0 AS BIGINT) END""".stripMargin).as("hit_permille"))
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, $toksDuck AS tk FROM documents
              |), kpos AS (
              |  SELECT doc_id, tk, unnest(range(1, len(tk))) AS k FROM t
              |), bg AS (
              |  SELECT doc_id,
              |    tk[CAST(k AS INT)] || ' ' || tk[CAST(k AS INT) + 1] AS sh
              |  FROM kpos
              |), model AS (
              |  SELECT sh FROM (SELECT DISTINCT doc_id, sh FROM bg)
              |  GROUP BY sh HAVING count(*) >=
              |    greatest(2, (SELECT count(*) FROM documents) * $LmDfPct // 100)
              |), hits AS (
              |  SELECT doc_id, CAST(count(*) AS BIGINT) AS lm_hits
              |  FROM bg JOIN model USING (sh) GROUP BY doc_id
              |)
              |SELECT t.doc_id,
              |  CAST(greatest(len(tk) - 1, 0) AS BIGINT) AS n_bigrams,
              |  CAST(coalesce(h.lm_hits, 0) AS BIGINT) AS lm_hits,
              |  CAST(CASE WHEN len(tk) >= 2
              |       THEN coalesce(h.lm_hits, 0) * 1000 // (len(tk) - 1)
              |       ELSE 0 END AS BIGINT) AS hit_permille
              |FROM t LEFT JOIN hits h ON t.doc_id = h.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // p35: TF-IDF TOP TERMS — per-document keyword extraction: the
    // TfidfK highest-scoring terms per doc, scored by the linear-idf
    // variant tf·(N/df). N is constant within a per-doc ranking, and
    // the remaining tf/df is ONE IEEE double division — bit-identical
    // across engines — rather than a libm ln() whose last ulp is
    // implementation-defined; the emitted score is pure integer (ppm).
    // The rank<=K window hits Spark's WindowGroupLimit: each partition
    // pre-filters to its local top-K per doc BEFORE the exchange (same
    // plan shape as p26). tf and df come from the same two-level
    // aggregation as p33; the tf↔df join is a hash join on the token,
    // both sides already partitioned by tok from their groupBys.
    QDef(
      "p35_tfidf_topterms",
      (s, d) => {
        val tf = docs(s, d)
          .select(col("doc_id"), explode(expr(toksExpr)).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val dfm = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        tf.join(dfm, "tok")
          .withColumn("rank", row_number().over(
            Window.partitionBy("doc_id")
              .orderBy(expr("CAST(tf AS DOUBLE) / df").desc, col("tok")))
            .cast("long"))
          .filter(col("rank") <= TfidfK)
          .select(col("doc_id"), col("tok"), col("tf"), col("df"),
            expr("tf * 1000000 DIV df").as("score_ppm"), col("rank"))
      },
      Some(s"""WITH tok AS (
              |  SELECT doc_id, unnest($toksDuck) AS tok FROM documents
              |), tf AS (
              |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
              |  FROM tok GROUP BY doc_id, tok
              |), dfm AS (
              |  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok
              |), r AS (
              |  SELECT doc_id, tok, tf, df,
              |    CAST(row_number() OVER (PARTITION BY doc_id
              |      ORDER BY CAST(tf AS DOUBLE) / df DESC, tok) AS BIGINT) AS rank
              |  FROM tf JOIN dfm USING (tok)
              |)
              |SELECT doc_id, tok, tf, df, tf * 1000000 // df AS score_ppm, rank
              |FROM r WHERE rank <= $TfidfK""".stripMargin)),

    // ------------------------------------------------------------------
    // p36: DUPLICATED-SPAN REMOVAL — the C4-style cleanup pass that
    // scrubs boilerplate SPANS (not whole docs) corpus-wide and
    // reassembles each document from its surviving spans in order.
    // Scale shape: explode spans (codegen, no shuffle) → one
    // hash-partitioned groupBy for span df → anti-join against the
    // BOILERPLATE set only (df >= cut survivors — orders of magnitude
    // smaller than the full df table, broadcastable in practice) →
    // one groupBy(doc_id) whose per-doc sort is bounded by doc
    // length. Never a corpus-wide sort; at 100 TB every stage is a
    // hash-partitioned groupBy or an equi-join.
    QDef(
      "p36_span_dedup",
      (s, d) => {
        val segs = docs(s, d)
          .withColumn("toks", expr(toksExpr))
          .select(col("doc_id"), posexplode(expr(spanSegsExpr)).as(Seq("pos", "seg")))
        val boiler = segs.groupBy("seg").agg(count(lit(1)).as("df"))
          .filter(col("df") >= SpanDf).select("seg")
        val kept = segs.join(boiler, Seq("seg"), "left_anti")
        val rebuilt = kept.groupBy("doc_id").agg(
          count(lit(1)).as("segs_kept"),
          expr("array_join(transform(array_sort(collect_list(struct(pos, seg)))," +
            " x -> x.seg), ' ')").as("clean_text"))
        docs(s, d).select("doc_id").join(rebuilt, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("segs_kept"), lit(0L)).as("segs_kept"),
            coalesce(col("clean_text"), lit("")).as("clean_text"))
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id, $toksDuck AS tk FROM documents
              |), seg AS (
              |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
              |    array_to_string(tk[CAST(i * $SpanLen + 1 AS INT) :
              |                       CAST(i * $SpanLen + $SpanLen AS INT)], ' ') AS seg
              |  FROM (SELECT doc_id, tk,
              |          unnest(range(CAST(ceil(len(tk) / ${SpanLen}.0) AS BIGINT))) AS i
              |        FROM toks)
              |), boiler AS (
              |  SELECT seg FROM seg GROUP BY seg HAVING count(*) >= $SpanDf
              |), kept AS (
              |  SELECT s.doc_id, s.pos, s.seg FROM seg s ANTI JOIN boiler b USING (seg)
              |), rebuilt AS (
              |  SELECT doc_id, CAST(count(*) AS BIGINT) AS segs_kept,
              |         string_agg(seg, ' ' ORDER BY pos) AS clean_text
              |  FROM kept GROUP BY doc_id
              |)
              |SELECT d.doc_id, coalesce(r.segs_kept, 0) AS segs_kept,
              |       coalesce(r.clean_text, '') AS clean_text
              |FROM documents d LEFT JOIN rebuilt r USING (doc_id)""".stripMargin)),

    // ------------------------------------------------------------------
    // p37: SEMANTIC DEDUP (SemDeDup-style) — cluster-local embedding
    // dedup: every vector lives in its home cell of a DATA-DRIVEN
    // coarse quantizer (K ≈ √n cells on an exact power-of-two ladder
    // — the SemDeDup paper's recipe, cluster count sized to the
    // corpus; see the semCells note for the measured sf2.6 blowup the
    // fixed-K reuse of p15's quantizer caused, and why √n beats an
    // occupancy target) and near-dup pairs are searched WITHIN cells
    // only; survivors by the greedy min-id rule (p14's ledger).
    // Round 12 (VERDICT r11 #2 — the n^1.5 pair curve): per-cell
    // all-pairs is now CAPPED at SemHotCell occupancy. Cold cells
    // (occ ≤ SemHotCell) keep the exact self-join; hot cells take
    // their candidate pairs from the p09 cross-polytope LSH machinery
    // restricted to same-cell pairs, so per-cell pair cost stops
    // growing with occupancy (see the SemHotCell note for the full
    // cost accounting). Tau = 0.30 keeps the drop set populated on
    // this isotropic corpus (see the parameter note). The oracle
    // mirrors K, the occupancy split and the cp_-prefixed candidate
    // chain with the same integer arithmetic.
    QDef(
      "p37_semantic_dedup",
      (s, d) => {
        // K from a metadata-only parquet count (like annArity)
        val k = semCells(emb(s, d).count())
        // one kernel pass, checkpointed: the assignment feeds three
        // consumers (occupancy, the pair join, the final ledger)
        val home = ivfCellsK(s, d, k, 1)
          .select(col("vec_id"), col("cell")).localCheckpoint()
        val occ = home.groupBy("cell").agg(count(lit(1)).as("occ"))
        // ≤ SemMaxCells rows — broadcast, never a shuffle
        val homeOcc = home.join(broadcast(occ), "cell")
        val cold = homeOcc.filter(col("occ") <= SemHotCell)
        val coldPairs = cold.as("x").join(cold.as("y"),
            col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
          .select(col("x.vec_id").as("ia"), col("y.vec_id").as("ib"))
        // Driver gate (one Boolean, bounded like p30's edge-count
        // gate): the LSH kernel only runs when a hot cell exists.
        val hasHot = occ.filter(col("occ") > SemHotCell).limit(1).count() > 0
        val cand = if (!hasHot) coldPairs else {
          val hot = homeOcc.filter(col("occ") > SemHotCell)
            .select(col("vec_id"), col("cell"))
          val hotPairs = cpCandidatePairs(s, d)
            .join(hot.as("ha"), col("ia") === col("ha.vec_id"))
            .join(hot.as("hb"),
              col("ib") === col("hb.vec_id") && col("ha.cell") === col("hb.cell"))
            .select(col("ia"), col("ib"))
          // disjoint by construction: a pair lives in ONE home cell,
          // and that cell is either cold or hot
          coldPairs.unionByName(hotPairs)
        }
        val vecsRaw = withNorm(emb(s, d)).select(col("vec_id"), col("v"), col("nrm"))
        // same verify-join policy as cosineNearDupPairs: broadcast the
        // corpus below the bound, shuffle-hash above — the pair table
        // is the big side
        val vecs =
          if (emb(s, d).count() <= BroadcastVerifyMaxVecs) broadcast(vecsRaw)
          else vecsRaw.hint("SHUFFLE_HASH")
        val pairs = cand
          .join(vecs.as("va"), col("ia") === col("va.vec_id"))
          .join(vecs.as("vb"), col("ib") === col("vb.vec_id"))
          .withColumn("cos",
            expr("graft_dot(va.v, vb.v)") / (col("va.nrm") * col("vb.nrm")))
          .filter(col("cos") >= SemTau)
        val drops = pairs.groupBy(col("ib")).agg(min("ia").as("min_nbr"))
          .withColumnRenamed("ib", "vec_id")
        home.join(drops, Seq("vec_id"), "left")
          .select(col("vec_id"), col("cell").cast("long").as("cell"),
            col("min_nbr").isNull.as("kept"), col("min_nbr"))
      },
      Some(s"""WITH p37k AS (
              |  SELECT ${semCellsCaseSql("count(*)")} AS kk
              |  FROM embeddings
              |), cent AS (
              |  SELECT CAST(c AS INT) AS c, CAST(i AS INT) AS i,
              |    CAST(('0x' || substr(md5('ivf' || c || ':' || i), 1, 13)) AS BIGINT)
              |      / 4503599627370496.0 * 2 - 1 AS w
              |  FROM range(0, $SemMaxCells) t0(c), range(1, ${AnnDim + 1}) t1(i)
              |  WHERE c < (SELECT kk FROM p37k)
              |), cnorm AS (
              |  SELECT c, sqrt(sum(w * w)) AS cn FROM cent GROUP BY c
              |), el AS (
              |  SELECT vec_id, CAST(i AS INT) AS i,
              |         CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
              |  FROM embeddings, range(1, ${AnnDim + 1}) t(i)
              |), ranked AS (
              |  SELECT vec_id, c,
              |    row_number() OVER (PARTITION BY vec_id ORDER BY dot / cn DESC, c) AS rn
              |  FROM (
              |    SELECT vec_id, c, sum(x * w) AS dot
              |    FROM el JOIN cent USING (i) GROUP BY vec_id, c
              |  ) JOIN cnorm USING (c)
              |  QUALIFY rn = 1
              |), home AS (
              |  SELECT vec_id, c AS cell FROM ranked WHERE rn = 1
              |), nrm AS (
              |  SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM el GROUP BY vec_id
              |), occ AS (
              |  SELECT cell, count(*) AS m FROM home GROUP BY cell
              |), ${cpCandSql("cp_")}, cpairs AS (
              |  SELECT x.vec_id AS ia, y.vec_id AS ib
              |  FROM home x JOIN home y
              |    ON x.cell = y.cell AND x.vec_id < y.vec_id
              |  JOIN occ o ON o.cell = x.cell AND o.m <= $SemHotCell
              |  UNION ALL
              |  SELECT c.ia, c.ib
              |  FROM cp_cand c
              |  JOIN home ha ON c.ia = ha.vec_id
              |  JOIN home hb ON c.ib = hb.vec_id AND ha.cell = hb.cell
              |  JOIN occ o ON o.cell = ha.cell AND o.m > $SemHotCell
              |), dots AS (
              |  SELECT ia, ib, sum(a.x * b.x) AS dot
              |  FROM cpairs JOIN el a ON ia = a.vec_id
              |              JOIN el b ON ib = b.vec_id AND a.i = b.i
              |  GROUP BY ia, ib
              |), cosv AS (
              |  SELECT ia, ib, dot / (na.nrm * nb.nrm) AS cos
              |  FROM dots JOIN nrm na ON ia = na.vec_id
              |            JOIN nrm nb ON ib = nb.vec_id
              |), drops AS (
              |  SELECT ib AS vec_id, min(ia) AS min_nbr
              |  FROM cosv WHERE cos >= $SemTau GROUP BY ib
              |)
              |SELECT h.vec_id, CAST(h.cell AS BIGINT) AS cell,
              |       dr.vec_id IS NULL AS kept, dr.min_nbr
              |FROM home h LEFT JOIN drops dr USING (vec_id)""".stripMargin)),

    // ------------------------------------------------------------------
    // p38: MODEL-BASED QUALITY FILTER — fixed-weight linear classifier
    // inference (the fasttext-style curation stage): three
    // exact-arithmetic features per doc, one dot product with
    // double-cast literal weights summed in written order, keep iff
    // score > 0. Pure codegen projection, zero shuffle — the shape of
    // any per-row model scoring at 100 TB (a real model only widens
    // the feature vector; the bit-exactness argument is at the weight
    // declaration).
    QDef(
      "p38_quality_model",
      (s, d) => {
        val (w1, w2, w3) = QualityW
        docs(s, d)
          .withColumn("toks", expr(toksExpr))
          .select(col("doc_id"),
            expr("CAST(size(toks) AS BIGINT)").as("n_toks"),
            expr("CAST(size(array_distinct(toks)) AS DOUBLE) / size(toks)")
              .as("uniq_ratio"),
            expr("CAST(length(array_join(toks, '')) AS DOUBLE) / size(toks)")
              .as("mean_len"))
          .withColumn("score", expr(
            s"""CAST($QualityBias AS DOUBLE) + CAST($w1 AS DOUBLE) * n_toks
               | + CAST($w2 AS DOUBLE) * uniq_ratio
               | - CAST($w3 AS DOUBLE) * mean_len""".stripMargin))
          .select(col("doc_id"), col("n_toks"),
            round(col("uniq_ratio"), 6).as("uniq_ratio"),
            round(col("mean_len"), 6).as("mean_len"),
            round(col("score"), 6).as("score"),
            (col("score") > 0.0).as("kept"))
      },
      Some {
        val (w1, w2, w3) = QualityW
        s"""WITH f AS (
           |  SELECT doc_id,
           |    CAST(len(tk) AS BIGINT) AS n_toks,
           |    CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS uniq_ratio,
           |    CAST(len(array_to_string(tk, '')) AS DOUBLE) / len(tk) AS mean_len
           |  FROM (SELECT doc_id, $toksDuck AS tk FROM documents)
           |), sc AS (
           |  SELECT doc_id, n_toks, uniq_ratio, mean_len,
           |    CAST($QualityBias AS DOUBLE) + CAST($w1 AS DOUBLE) * n_toks
           |     + CAST($w2 AS DOUBLE) * uniq_ratio
           |     - CAST($w3 AS DOUBLE) * mean_len AS score
           |  FROM f
           |)
           |SELECT doc_id, n_toks, round(uniq_ratio, 6) AS uniq_ratio,
           |       round(mean_len, 6) AS mean_len, round(score, 6) AS score,
           |       score > 0.0 AS kept
           |FROM sc""".stripMargin
      }),

    // ------------------------------------------------------------------
    // p39: TEMPERATURE MIXTURE RESAMPLING — rebalance the language
    // mix with alpha = 0.5 sampling (target share ∝ sqrt(count): the
    // standard low-resource upweighting) at a budget of total DIV
    // $MixDenom docs. Per-language counts and integer sqrt weights
    // are a tiny aggregate BROADCAST back over the corpus; each doc's
    // keep decision and sampling probability are one exact IEEE
    // division against its md5-derived uniform — a pure projection,
    // so the corpus is never reshuffled. sample_prob > 1 on
    // sufficiently rare languages means upsampling (repeat draws) in
    // a real pipeline; the filter keeps every such doc.
    QDef(
      "p39_mixture_sample",
      (s, d) => {
        val cnt = docs(s, d).groupBy("lang").agg(
          count(lit(1)).as("n"),
          expr("CAST(floor(sqrt(CAST(count(1) AS DOUBLE))) AS BIGINT)").as("w"))
        // corpus totals attach to the per-lang rows with an
        // unpartitioned window over the TINY aggregate (|langs| rows —
        // single-partition by construction), keeping the audited plan
        // free of even a 1-row nested-loop stage
        val cntTot = cnt.select(col("lang"), col("n"), col("w"),
          sum("n").over(Window.partitionBy()).as("total"),
          sum("w").over(Window.partitionBy()).as("sumw"))
        docs(s, d).select("doc_id", "lang")
          .join(broadcast(cntTot), "lang")
          .select(col("doc_id"), col("lang"),
            round(expr(
              s"CAST((total DIV $MixDenom) * w AS DOUBLE) / CAST(sumw * n AS DOUBLE)"),
              6).as("sample_prob"),
            expr(
              s"""graft_md5longs(concat('mix:', CAST(doc_id AS STRING))).h1
                 |  / CAST(4503599627370496 AS DOUBLE)
                 |  < CAST((total DIV $MixDenom) * w AS DOUBLE) / CAST(sumw * n AS DOUBLE)"""
                .stripMargin).as("kept"))
      },
      Some(s"""WITH cnt AS (
              |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
              |         CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS w
              |  FROM documents GROUP BY lang
              |), tot AS (
              |  SELECT CAST(sum(n) AS BIGINT) AS total,
              |         CAST(sum(w) AS BIGINT) AS sumw FROM cnt
              |)
              |SELECT doc_id, lang,
              |  round(CAST((total // $MixDenom) * w AS DOUBLE)
              |        / CAST(sumw * n AS DOUBLE), 6) AS sample_prob,
              |  CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
              |    / CAST(4503599627370496 AS DOUBLE)
              |    < CAST((total // $MixDenom) * w AS DOUBLE)
              |      / CAST(sumw * n AS DOUBLE) AS kept
              |FROM documents d JOIN cnt USING (lang) CROSS JOIN tot""".stripMargin)),

    // ------------------------------------------------------------------
    // p40: UNICODE ACCENT/CASE FOLDING — the normalization stage every
    // text-curation pipeline runs before dedup/tokenization (NFD
    // decomposition → combining-mark removal → casefold). The corpus
    // is ASCII, so deterministic doc_id-derived accented spans are
    // injected first (the p21 pattern), and the hash compare covers
    // the FULL folded string: the engine's JVM fold
    // (functions/TextNorm.scala, a StaticInvoke codegen call) must
    // agree byte-for-byte with DuckDB's lower(strip_accents(..)).
    // Scale shape: pure codegen projection, zero shuffle.
    QDef(
      "p40_accent_fold",
      (s, d) => docs(s, d)
        .withColumn("aug", concat(
          col("text"),
          when(col("doc_id") % 3 =!= 0, lit(" Café MÜNCHEN")).otherwise(lit("")),
          when(col("doc_id") % 4 === 0, lit(" àçcénts Ñandú über")).otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit(" ÉLÈVE façade")).otherwise(lit(""))))
        .select(col("doc_id"),
          expr("graft_fold_accents(aug)").as("folded"),
          expr("CAST(length(aug) AS BIGINT)").as("n_raw"),
          expr("CAST(length(graft_fold_accents(aug)) AS BIGINT)").as("n_folded")),
      Some("""WITH aug AS (
             |  SELECT doc_id, text
             |    || CASE WHEN doc_id % 3 <> 0 THEN ' Café MÜNCHEN' ELSE '' END
             |    || CASE WHEN doc_id % 4 = 0 THEN ' àçcénts Ñandú über' ELSE '' END
             |    || CASE WHEN doc_id % 5 = 0 THEN ' ÉLÈVE façade' ELSE '' END AS aug
             |  FROM documents
             |)
             |SELECT doc_id, lower(strip_accents(aug)) AS folded,
             |  CAST(length(aug) AS BIGINT) AS n_raw,
             |  CAST(length(lower(strip_accents(aug))) AS BIGINT) AS n_folded
             |FROM aug""".stripMargin)),

    // ------------------------------------------------------------------
    // p41: LEAKAGE-SAFE SPLIT — train/val/test assignment keyed by the
    // SOURCE (domain), not the document: every doc from a domain lands
    // in the same split, so near-duplicate pages within a site can
    // never straddle the train/eval boundary (the standard guard
    // against intra-domain eval contamination). The split is a pure
    // function of md5('split:'+source) compared against exact binary
    // fractions in 52-bit INTEGER space (test: h < 2^52/8, val:
    // h < 2^52/4) — reproducible across engines and reruns, and
    // join-free: at 100 TB the assignment is a zero-shuffle projection
    // fused into the scan (plan-pinned in CurationOpsSpec), with no
    // split manifest to build, broadcast, or keep consistent.
    QDef(
      "p41_leakage_split",
      (s, d) => docs(s, d)
        .withColumn("h", expr(
          "graft_md5longs(concat('split:', source)).h1"))
        .select(col("doc_id"), col("source"),
          when(col("h") < lit(1L << 49), "test")
            .when(col("h") < lit(1L << 50), "val")
            .otherwise("train").as("split")),
      Some(s"""SELECT doc_id, source,
              |  CASE WHEN h < ${1L << 49} THEN 'test'
              |       WHEN h < ${1L << 50} THEN 'val'
              |       ELSE 'train' END AS split
              |FROM (
              |  SELECT doc_id, source,
              |    CAST(('0x' || substr(md5('split:' || source), 1, 13)) AS BIGINT) AS h
              |  FROM documents
              |)""".stripMargin)),

    // ------------------------------------------------------------------
    // p42: INCREMENTAL DEDUP — dedup a NEW BATCH against the historical
    // corpus without re-processing history: the shape a continuous
    // ingestion pipeline needs at 100 TB, where re-running p01 over
    // corpus+batch per arrival would be O(corpus) every time. The
    // batch's hash set is tiny relative to history, so it BROADCASTS
    // into the history scan as a semi-join filter: history is read
    // once and never wide-shuffled — only the rows whose hash matches
    // a batch hash (≤ batch size) reach the canonical-min groupBy, and
    // that hit set (≤ batch size again) broadcasts back onto the
    // batch. Steady-state cost is O(batch) + one history scan; at
    // scale the scan side is the PERSISTED hash→canonical index
    // (maintained incrementally, like the -dbfile generation store —
    // deriving it from the docs table here is oracle scaffolding) so
    // even the scan touches only the index, not the corpus.
    // Duplicates are manufactured deterministically (the corpus has
    // no natural exact dups): every batch doc with an even doc_id/10
    // takes its historical neighbor's text, so exactly half the batch
    // must resolve to dup_of = doc_id+1 and half must be novel — a
    // two-sided expectation the hash compare falsifies.
    QDef(
      "p42_incremental_dedup",
      (s, d) => {
        val d0 = docs(s, d).select(col("doc_id"), col("text"))
        // dup-manufacturing scaffolding only (absent at scale), hinted
        // so the plan pin doesn't depend on auto-broadcast estimation
        val aug = d0
          .join(broadcast(d0.selectExpr("doc_id AS nid", "text AS ntext")),
            expr("nid = doc_id + 1"), "left")
          .selectExpr("doc_id",
            """CASE WHEN doc_id % 10 = 0 AND (doc_id DIV 10) % 2 = 0
              |       AND ntext IS NOT NULL
              |  THEN ntext ELSE text END AS content""".stripMargin,
            "doc_id % 10 = 0 AS is_batch")
        val batch = aug.filter(col("is_batch"))
          .select(col("doc_id"), md5(col("content")).as("h"))
        val hits = aug.filter(!col("is_batch"))
          .select(md5(col("content")).as("h"), col("doc_id"))
          .join(broadcast(batch.select("h")), Seq("h"), "left_semi")
          .groupBy("h").agg(min("doc_id").as("dup_of"))
        batch.join(broadcast(hits), Seq("h"), "left")
          .select(col("doc_id"), col("dup_of").isNull.as("is_novel"),
            col("dup_of"))
      },
      Some("""WITH aug AS (
             |  SELECT d.doc_id,
             |    CASE WHEN d.doc_id % 10 = 0 AND (d.doc_id // 10) % 2 = 0
             |           AND h.text IS NOT NULL
             |      THEN h.text ELSE d.text END AS content,
             |    d.doc_id % 10 = 0 AS is_batch
             |  FROM documents d LEFT JOIN documents h ON h.doc_id = d.doc_id + 1
             |), hist AS (
             |  SELECT md5(content) AS h, min(doc_id) AS dup_of
             |  FROM aug WHERE NOT is_batch GROUP BY 1
             |)
             |SELECT b.doc_id, hist.dup_of IS NULL AS is_novel, hist.dup_of
             |FROM (SELECT doc_id, md5(content) AS h FROM aug WHERE is_batch) b
             |LEFT JOIN hist USING (h)""".stripMargin)),

    // ------------------------------------------------------------------
    // p43: KMV CARDINALITY SKETCH — distinct-count estimation per
    // language over the bigram stream via K-Minimum-Values (Bar-Yossef
    // et al. 2002): keep the KmvK smallest distinct 52-bit hash
    // values; est = (k-1) / fraction-of-hash-space below the k-th min.
    // Unlike HLL the whole sketch is a DETERMINISTIC function of the
    // md5 hash, so the oracle recomputes the estimate bit-identically
    // (the constant (k-1)·2^52 is exactly representable and the
    // estimate is ONE IEEE division) — a verifiable stand-in for the
    // approx_count_distinct family. Scale shape: the (lang, h)
    // distinct is one hash shuffle with map-side partial dedup, and
    // the rank filter hits WindowGroupLimit (spec-pinned) so every
    // partition pre-trims to its local k before the per-lang exchange
    // — the sketch's mergeability, expressed as a plan property. The
    // exact count rides along to expose the estimation error.
    QDef(
      "p43_kmv_distinct",
      (s, d) => {
        val grams = docs(s, d)
          .withColumn("toks", expr(toksExpr))
          .select(col("lang"), explode(expr(
            """CASE WHEN size(toks) >= 2 THEN
              |  transform(sequence(0, size(toks) - 2),
              |    k -> concat(toks[k], ' ', toks[k + 1]))
              |ELSE array() END""".stripMargin)).as("g"))
          .select(col("lang"), expr(
            // round 16: fused digest kernel — same value as
            // conv(substr(md5(concat('kmv:', g)), 1, 13), 16, 10),
            // minus the hex alloc + substr + conv parse per gram
            // (Md5LongsSpec pins h1)
            "graft_md5longs(concat('kmv:', g)).h1")
            .as("h"))
          .distinct()
        val exact = grams.groupBy("lang").agg(count(lit(1)).as("n_distinct"))
        val kth = grams
          .withColumn("rk", row_number().over(
            Window.partitionBy("lang").orderBy("h")))
          .filter(col("rk") === KmvK)
          .select(col("lang"), col("h").as("hk"))
        // greatest(hk, 1): md5 CAN hash to 0 (13 leading zero hex
        // digits — ~2^-52 per gram, reachable at 100 TB scale) and a
        // zero divisor would yield est = Infinity; clamping to 1 keeps
        // the estimate finite and the oracle applies the same clamp
        exact.join(broadcast(kth), Seq("lang"), "left")
          .select(col("lang"), col("n_distinct"), col("hk"),
            (lit((KmvK - 1).toDouble * 4503599627370496.0) /
              greatest(col("hk"), lit(1L)).cast("double")).as("est"))
      },
      Some(s"""WITH t AS (
              |  SELECT lang, $toksDuck AS toks FROM documents
              |), g0 AS (
              |  SELECT lang, toks, unnest(range(1, len(toks))) AS k FROM t
              |), h AS (
              |  SELECT DISTINCT lang,
              |    CAST(('0x' || substr(md5('kmv:' || (toks[k] || ' ' || toks[k + 1])), 1, 13))
              |      AS BIGINT) AS h
              |  FROM g0
              |), ex AS (
              |  SELECT lang, CAST(count(*) AS BIGINT) AS n_distinct FROM h GROUP BY 1
              |), r AS (
              |  SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rk FROM h
              |), kth AS (
              |  SELECT lang, h AS hk FROM r WHERE rk = $KmvK
              |)
              |SELECT ex.lang, ex.n_distinct, kth.hk,
              |  ${(KmvK - 1).toDouble * 4503599627370496.0}
              |    / CAST(greatest(kth.hk, 1) AS DOUBLE) AS est
              |FROM ex LEFT JOIN kth USING (lang)""".stripMargin)),

    // ------------------------------------------------------------------
    // p44: SIMHASH NEAR-DUP SCAN (Manku/Jain/Das Sarma-style web
    // dedup) — the JOIN that makes p03's fingerprint useful: band the
    // 32-bit simhash into 4×8-bit blocks, bucket-join docs sharing any
    // block (two docs within Hamming distance 3 of a 32-bit hash must
    // agree exactly on at least one of 4 blocks — pigeonhole), then
    // verify candidates with a popcount over XOR. Per-doc output
    // (candidate count, near-dup count at Hamming ≤ 6, min distance)
    // keeps a stable 1-row-per-doc shape.
    //
    // Scale shape: fingerprint agg is one 32-col row per doc with
    // map-side partials; the self-join is a hash equi-join on
    // (block, key) — no all-pairs stage; verification is bit
    // arithmetic on the joined row (no re-join for fingerprints: the
    // banding rows carry them). Block width is DATA-DRIVEN (round 11
    // — the sf2.6 sweep charged the saturation the old comment only
    // documented: at 130k docs the fixed 8-bit blocks held ~508
    // docs/bucket → ~130M candidate pairs, quadratic in n): within a
    // 32-bit fingerprint the width must divide 32, so the corpus
    // count picks 4×8-bit blocks (Hamming ≤ 3 pigeonhole guarantee)
    // up to 65,536 docs and 2×16-bit blocks (occupancy n/65,536,
    // guarantee Hamming ≤ 1) beyond. The oracle derives the same
    // split from count(*). At 100 TB the production extension is
    // Manku's 64-bit fingerprint + permuted tables — wider keys, not
    // a different pipeline shape.
    QDef(
      "p44_simhash_neardup",
      (s, d) => {
        // block count from a metadata-only count (like annArity)
        val nb = if (docs(s, d).count() <= 65536L) 4 else 2
        val w = 32 / nb
        val mask = (1L << w) - 1
        // materialize the fingerprints once — the self-join would
        // otherwise evaluate the whole token→simhash aggregation on
        // both sides (production keeps fingerprints as a table; the
        // checkpoint is 1 tiny row/doc)
        val sim = simhash32(s, d).localCheckpoint()
        val bands = sim.select(col("doc_id"), col("simhash"),
            explode(expr(s"sequence(0, ${nb - 1})")).as("b"))
          .withColumn("bkey", expr(s"(simhash >> ($w * b)) & $mask"))
        // Pair dedup WITHOUT a distinct exchange: a pair sharing
        // several blocks is emitted only from the SMALLEST shared
        // block — "all lower blocks differ" is bit arithmetic on the
        // fingerprints already on the joined row, so the (quadratic-
        // in-bucket-occupancy) candidate stream flows straight into
        // the per-doc partial aggregation instead of being shuffled
        // once more to dedupe. Equivalent to DISTINCT over (ida, idb)
        // because block-agreement is a function of (sa, sb, b).
        val lowerDiffer = (1 until nb).map { j =>
          s"(`x`.b < $j OR (shiftright(`x`.simhash ^ `y`.simhash, ${w * (j - 1)}) & $mask) != 0)"
        }.mkString(" AND ")
        val cand = bands.as("x").join(bands.as("y"),
            col("x.b") === col("y.b") && col("x.bkey") === col("y.bkey") &&
              col("x.doc_id") < col("y.doc_id"))
          .filter(expr(lowerDiffer))
          .select(col("x.doc_id").as("ida"), col("y.doc_id").as("idb"),
            expr("CAST(bit_count(`x`.simhash ^ `y`.simhash) AS BIGINT)").as("ham"))
        // symmetrize INLINE (explode to both endpoints) rather than a
        // self-union — a union of two selects over the join would run
        // the candidate generation twice
        val sym = cand.select(explode(expr(
            """array(named_struct('doc_id', ida, 'ham', ham),
              |      named_struct('doc_id', idb, 'ham', ham))""".stripMargin)).as("e"))
          .select(col("e.doc_id").as("doc_id"), col("e.ham").as("ham"))
        val agg = sym.groupBy("doc_id").agg(
          count(lit(1)).as("n_cand"),
          sum(when(col("ham") <= 6, 1L).otherwise(0L)).as("n_near"),
          min(col("ham")).as("min_ham"))
        docs(s, d).select(col("doc_id")).join(agg, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_cand"), lit(0L)).as("n_cand"),
            coalesce(col("n_near"), lit(0L)).as("n_near"),
            coalesce(col("min_ham"), lit(-1L)).as("min_ham"))
      },
      Some(s"""$simhashOracleCte, p44nb AS (
              |  SELECT CASE WHEN count(*) <= 65536 THEN 4 ELSE 2 END AS nb,
              |         CASE WHEN count(*) <= 65536 THEN 8 ELSE 16 END AS w,
              |         CASE WHEN count(*) <= 65536 THEN 255 ELSE 65535 END AS mask
              |  FROM documents
              |), bands AS (
              |  SELECT doc_id, simhash, b,
              |    (simhash >> (w * CAST(b AS INT))) & mask AS bkey
              |  FROM sim, range(0, 4) t(b), p44nb
              |  WHERE b < nb
              |), cand AS (
              |  SELECT DISTINCT x.doc_id AS ida, y.doc_id AS idb,
              |                  x.simhash AS sa, y.simhash AS sb
              |  FROM bands x JOIN bands y
              |    ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id
              |), ham AS (
              |  SELECT ida, idb, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS ham FROM cand
              |), sym AS (
              |  SELECT ida AS doc_id, ham FROM ham
              |  UNION ALL SELECT idb, ham FROM ham
              |), agg AS (
              |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cand,
              |         CAST(sum(CASE WHEN ham <= 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_near,
              |         min(ham) AS min_ham
              |  FROM sym GROUP BY doc_id
              |)
              |SELECT d.doc_id,
              |  coalesce(a.n_cand, 0) AS n_cand,
              |  coalesce(a.n_near, 0) AS n_near,
              |  coalesce(a.min_ham, -1) AS min_ham
              |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin)),

    // ------------------------------------------------------------------
    // p45: BLOOM-PRUNED DECONTAMINATION — p24's eval-overlap rule
    // re-shaped for the 100 TB corpus/eval asymmetry: instead of
    // broadcasting the full eval gram dictionary into the first join,
    // build a BLOOM BITMASK over the eval 8-grams (BloomK md5-derived
    // bit positions each, in m = BloomMPerItem × |eval grams| bits)
    // and prune the corpus gram stream with a codegen bit-test BEFORE
    // the exact confirm join. The mask is m/64 longs (~2 KB here,
    // ~2 MB even for a 1M-gram benchmark suite) independent of corpus
    // size, the prune is a zero-shuffle projection over the scan, and
    // only the ~0.5%-of-grams bloom-positive survivors reach the
    // exact broadcast join — prune+confirm, so false positives never
    // reach the output flag. n_cand_grams exposes the bloom
    // arithmetic itself (true hits + false positives); the oracle
    // recomputes the same md5 bit positions, so the hash compare pins
    // the filter semantics, not just the exact join. The driver-side
    // mask build is bounded by m bits — a constant of the EVAL set —
    // never by corpus size.
    QDef(
      "p45_bloom_decontaminate",
      (s, d) => {
        // array_distinct (round 15, guide §1.2 step 2): every
        // downstream consumer is per-(doc, gram) DISTINCT — dedup
        // in-doc repeats inside the projection (zero shuffle) so the
        // explode, the digest and the bloom bit-tests run once per
        // distinct gram per doc instead of once per occurrence.
        val gramExpr =
          """CASE WHEN size(toks) >= 8
            |THEN array_distinct(transform(sequence(0, size(toks) - 8),
            |               k -> array_join(slice(toks, k + 1, 8), ' ')))
            |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin
        // Round 16 (guide §2.3 fixed-width shuffle keys, VERDICT r15
        // #5): gram STRINGS used to flow through the eval-side
        // distinct, the bloom-survivor distinct AND the exact confirm
        // join. Every downstream consumer needs only gram EQUALITY
        // plus the md5-derived bloom halves (those are output-semantic
        // — the oracle replays them — and stay bit-identical), so the
        // scan projection now emits, per distinct-in-doc gram: a
        // 16-byte two-plane xxhash64 equality class `cls` (internal,
        // same family and collision caveat as p13/p24/p34/p50 — see
        // the bigrams note) and the two 52-bit digest halves h1/h2
        // from ONE fused graft_md5longs call (bit-identical to the
        // conv(substr(md5)) spelling — Md5LongsSpec). Gram text never
        // leaves the scan projection; every downstream exchange
        // carries fixed-width rows.
        val rawGrams = docs(s, d)
          .withColumn("toks", expr(toksExpr))
          .select(col("doc_id"), explode(expr(gramExpr)).as("gram"))
          .select(col("doc_id"),
            expr("named_struct('a', xxhash64(1L, gram), 'b', xxhash64(2L, gram))")
              .as("cls"),
            expr("graft_md5longs(concat('bf:', gram))").as("md"))
          .select(col("doc_id"), col("cls"),
            col("md.h1").as("h1"), col("md.h2").as("h2"))
        val evalGrams = rawGrams.filter(col("doc_id") % 13 === 0)
          .select("cls", "h1", "h2").distinct().localCheckpoint()
        val m = BloomMPerItem * evalGrams.count()
        // Kirsch–Mitzenmacher double hashing: k positions h1 + j·h2
        // (mod m) from the digest's two 52-bit halves — preserves the
        // bloom FP guarantee at a third of the scan's hash cost. The
        // bit-test filter runs on the already-projected halves BEFORE
        // the distinct exchange, so the shuffle carries only
        // bloom-positive (doc_id, cls) rows.
        def posSql(j: Int) = s"(h1 + ${j}L * h2) % ${m}L"
        val posArray = (0 until BloomK).map(j => posSql(j))
          .mkString("array(", ", ", ")")
        val positions = evalGrams
          .select(explode(expr(posArray)).as("pos"))
          .distinct().collect().map(_.getLong(0))
        val mask = new Array[Long](((m + 63) / 64).toInt)
        positions.foreach(p => mask(p.toInt / 64) |= (1L << (p.toInt % 64)))
        val bloomPass = (0 until BloomK)
          .map(j => posSql(j))
          .map(p => s"((shiftright(element_at(bfmask, CAST(($p) DIV 64 AS INT) + 1)," +
            s" CAST(($p) % 64 AS INT)) & 1) = 1)")
          .mkString(" AND ")
        val cand = rawGrams
          .withColumn("bfmask", typedLit(mask.toSeq))
          .filter(expr(bloomPass)).select("doc_id", "cls").distinct()
        // Round 16 (guide §1.2 step 1 — one pass instead of two): the
        // old nc/nh pair consumed `cand` twice, so the whole
        // scan→tokenize→digest→bloom pipeline and the survivor
        // distinct ran TWICE per invocation. A LEFT broadcast probe of
        // the eval classes marks hits on the single candidate stream,
        // and one groupBy(doc_id) counts both: n_cand = count(*),
        // n_hit = count(matched marker) — each cand row matches at
        // most one eval row (eval classes are distinct), so the left
        // join never duplicates. Values identical; the audited plan
        // drops from 5 exchanges to 3.
        val agg = cand
          .join(broadcast(evalGrams.select(col("cls").as("ecls"))),
            col("cls") === col("ecls"), "left")
          .groupBy("doc_id").agg(
            count(lit(1)).as("n_cand_grams"),
            count(col("ecls")).as("n_hit_grams"))
        docs(s, d).select("doc_id")
          .join(agg, Seq("doc_id"), "left")
          .select(col("doc_id"),
            (coalesce(col("n_hit_grams"), lit(0L)) > 0).as("contaminated"),
            coalesce(col("n_cand_grams"), lit(0L)).as("n_cand_grams"),
            coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"))
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, $toksDuck AS toks FROM documents
              |), g0 AS (
              |  SELECT doc_id, toks,
              |    unnest(range(0, greatest(len(toks) - 7, 0))) AS k
              |  FROM t
              |), g AS (
              |  SELECT DISTINCT doc_id,
              |    array_to_string(toks[k + 1:k + 8], ' ') AS gram
              |  FROM g0
              |), eg AS (
              |  SELECT DISTINCT gram FROM g WHERE doc_id % 13 = 0
              |), mE AS (
              |  SELECT $BloomMPerItem * count(*) AS m FROM eg
              |), posset AS (
              |  SELECT DISTINCT
              |    (CAST(('0x' || substr(md5('bf:' || gram), 1, 13)) AS BIGINT)
              |     + j * CAST(('0x' || substr(md5('bf:' || gram), 14, 13)) AS BIGINT)) % m AS pos
              |  FROM eg CROSS JOIN mE CROSS JOIN range(0, $BloomK) s(j)
              |), cand AS (
              |  SELECT doc_id, gram FROM (
              |    SELECT g.doc_id, g.gram,
              |      (CAST(('0x' || substr(md5('bf:' || g.gram), 1, 13)) AS BIGINT)
              |       + j * CAST(('0x' || substr(md5('bf:' || g.gram), 14, 13)) AS BIGINT)) % m AS pos
              |    FROM g CROSS JOIN mE CROSS JOIN range(0, $BloomK) s(j))
              |  GROUP BY doc_id, gram
              |  HAVING bool_and(pos IN (SELECT pos FROM posset))
              |), nc AS (
              |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cand FROM cand GROUP BY 1
              |), nh AS (
              |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
              |  FROM cand JOIN eg USING (gram) GROUP BY 1
              |)
              |SELECT d.doc_id, coalesce(nh.n_hit, 0) > 0 AS contaminated,
              |  coalesce(nc.n_cand, 0) AS n_cand_grams,
              |  coalesce(nh.n_hit, 0) AS n_hit_grams
              |FROM documents d LEFT JOIN nc USING (doc_id)
              |LEFT JOIN nh USING (doc_id)""".stripMargin)),

    // ------------------------------------------------------------------
    // p46: COUNT-MIN-SKETCH HEAVY HITTERS — token-frequency
    // estimation with a FIXED-SIZE summary (Cormode/Muthukrishnan
    // 2005): CmsD rows × CmsW counters, counter[r][h_r(tok)] summed
    // over token OCCURRENCES, est(tok) = min over rows — the
    // overestimate is exposed against the exact count riding along.
    // The md5-derived row hashes make the sketch a deterministic
    // function of the data, so the oracle recomputes every counter
    // and estimate bit-identically (pure integer arithmetic — no
    // float surface). Scale shape: the occurrence stream collapses to
    // per-token counts in ONE groupBy(tok) with map-side partials
    // (vocab-bounded per map task); the counters aggregate from that
    // vocab table — CMS mergeability expressed as partial aggregation
    // over pre-counted keys — into d×w rows REGARDLESS of corpus
    // size, then BROADCAST back to probe the same vocab table (one
    // reused exchange). Nothing corpus-scale is hashed, shuffled
    // more than once, or collected.
    QDef(
      "p46_cms_heavy_hitters",
      (s, d) => {
        val toks = docs(s, d)
          .withColumn("toks", expr(toksExpr))
          .select(explode(col("toks")).as("tok"))
        // round 16: fused digest kernel — bit-identical to
        // conv(substr(md5(...), 1, 13)) (Md5LongsSpec), minus the hex
        // alloc + substr + conv parse per (token, row) digest
        val bSql =
          s"graft_md5longs(concat('cms', r, ':', tok)).h1 % ${CmsW}L"
        // Round 15 (optimization, guide §1.2 step 2): the counters
        // were built by hashing every token OCCURRENCE (CmsD md5s per
        // occurrence — ~6M digests at sf0.1); counter[r][b] is equally
        // Σ exact(tok) over the distinct tokens hashing to b, and the
        // exact per-token counts are already being aggregated for the
        // output — so hash the VOCABULARY once (CmsD md5s per distinct
        // token, ~20k) and sum the counts. `exact` has two consumers
        // (counter build + probe) — localCheckpoint the vocab-sized
        // table so the corpus aggregation runs exactly once without
        // relying on AQE stage reuse (same class as p44's fingerprint
        // checkpoint: tiny by construction). Counter values, and
        // therefore every estimate, are bit-identical. sf0.1
        // 1.74 → ~0.7 s; at 100 TB the occurrence stream now crosses
        // no hash at all beyond the one groupBy it already paid.
        val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact"))
          .localCheckpoint()
        val hashed = exact
          .select(col("tok"), col("exact"),
            explode(expr(s"sequence(0, ${CmsD - 1})")).as("r"))
          .withColumn("b", expr(bSql))
        val counters = hashed.groupBy("r", "b").agg(sum("exact").as("c"))
        hashed
          .join(broadcast(counters), Seq("r", "b"))
          .groupBy("tok", "exact").agg(min("c").as("est"))
          .orderBy(col("est").desc, col("tok"))
          .limit(CmsTopK)
          .select("tok", "est", "exact")
      },
      Some(s"""WITH t AS (
              |  SELECT $toksDuck AS toks FROM documents
              |), tok AS (
              |  SELECT unnest(toks) AS tok FROM t
              |), ent AS (
              |  SELECT tok,
              |    CAST(j AS INT) AS r,
              |    CAST(('0x' || substr(md5('cms' || j || ':' || tok), 1, 13)) AS BIGINT) % $CmsW AS b
              |  FROM tok CROSS JOIN range(0, $CmsD) s(j)
              |), c AS (
              |  SELECT r, b, CAST(count(*) AS BIGINT) AS c FROM ent GROUP BY 1, 2
              |), e AS (
              |  SELECT tok, CAST(count(*) AS BIGINT) AS exact FROM tok GROUP BY 1
              |), probe AS (
              |  SELECT e.tok, e.exact, min(c.c) AS est
              |  FROM e CROSS JOIN range(0, $CmsD) s(j)
              |  JOIN c ON c.r = CAST(j AS INT)
              |    AND c.b = CAST(('0x' || substr(md5('cms' || j || ':' || e.tok), 1, 13)) AS BIGINT) % $CmsW
              |  GROUP BY 1, 2
              |)
              |SELECT tok, est, exact FROM probe
              |ORDER BY est DESC, tok LIMIT $CmsTopK""".stripMargin)),

    // ------------------------------------------------------------------
    // p47: HYPERLOGLOG CARDINALITY SKETCH — per-language distinct
    // bigrams via the canonical HLL register scheme (Flajolet/Fusy/
    // Gandouet/Meunier 2007), complementing p43's KMV: register j =
    // low 6 bits of the 52-bit md5 hash, rho = leading-zero count of
    // the remaining 46 bits + 1, M[j] = max rho. Unlike KMV, max-per-
    // register ABSORBS duplicates, so there is no distinct exchange
    // and no rank window anywhere in the sketch path: the plan is
    // scan → projection → groupBy(lang, j) max with map-side partials,
    // and the only shuffle carries ≤ langs × 64 partial rows per map
    // task regardless of corpus size — the best possible 100 TB
    // distinct-count shape, and HLL mergeability (elementwise register
    // max) expressed directly as partial aggregation. Everything is
    // integer arithmetic (rho via length(bin(w)); the harmonic-mean
    // denominator as an exact sum of 2^(47-M[j]) ≤ 2^53) except ONE
    // final IEEE division by a double constant, so the oracle
    // recomputes registers AND estimate bit-identically. Exact count
    // rides along to expose the ~13% (1.04/sqrt(64)) expected error.
    // Output: one row per (lang, register) — the sketch itself is the
    // verified object, not just the estimate.
    QDef(
      "p47_hll_distinct",
      (s, d) => {
        val grams = docs(s, d)
          .withColumn("toks", expr(toksExpr))
          .select(col("lang"), explode(expr(bigramExpr)).as("g"))
          .select(col("lang"), expr(
            // round 16: fused digest kernel, bit-identical to
            // conv(substr(md5(concat('hll:', g)), 1, 13), 16, 10)
            "graft_md5longs(concat('hll:', g)).h1")
            .as("h"))
        val regs = grams
          .select(col("lang"), expr(s"CAST(h % $HllM AS INT)").as("j"),
            expr(s"h div $HllM").as("w"))
          .select(col("lang"), col("j"),
            expr("IF(w = 0, 47, 47 - length(bin(w)))").as("rho"))
          .groupBy("lang", "j").agg(max("rho").as("mj"))
        // empty registers must contribute 2^47 to the denominator:
        // scaffold every (lang, j) cell and fill with rho = 0
        val scaffold = docs(s, d).select("lang").distinct()
          .select(col("lang"), explode(expr(s"sequence(0, ${HllM - 1})")).as("j"))
        val full = scaffold.join(regs, Seq("lang", "j"), "left")
          .select(col("lang"), col("j"), coalesce(col("mj"), lit(0)).as("mj"))
        val sums = full.groupBy("lang").agg(
          sum(expr("shiftleft(CAST(1 AS BIGINT), 47 - mj)")).as("ssum"))
        val exact = grams.distinct().groupBy("lang").agg(count(lit(1)).as("n_distinct"))
        full.join(broadcast(sums), "lang").join(broadcast(exact), "lang")
          .select(col("lang"), col("j"), col("mj"), col("n_distinct"),
            (lit(HllC) / col("ssum").cast("double")).as("est"))
      },
      Some(s"""WITH t AS (
              |  SELECT lang, $toksDuck AS toks FROM documents
              |), g0 AS (
              |  SELECT lang, toks, unnest(range(1, len(toks))) AS k FROM t
              |), h AS (
              |  SELECT lang,
              |    CAST(('0x' || substr(md5('hll:' || (toks[k] || ' ' || toks[k + 1])), 1, 13))
              |      AS BIGINT) AS h
              |  FROM g0
              |), rr AS (
              |  SELECT lang, CAST(h % $HllM AS INT) AS j,
              |    CASE WHEN h // $HllM = 0 THEN 47
              |         ELSE 47 - length(bin(h // $HllM)) END AS rho
              |  FROM h
              |), regs AS (
              |  SELECT lang, j, max(rho) AS mj FROM rr GROUP BY 1, 2
              |), scaffold AS (
              |  SELECT lang, CAST(jj AS INT) AS j
              |  FROM (SELECT DISTINCT lang FROM documents) CROSS JOIN range(0, $HllM) s(jj)
              |), f AS (
              |  SELECT s.lang, s.j, coalesce(regs.mj, 0) AS mj
              |  FROM scaffold s LEFT JOIN regs USING (lang, j)
              |), sums AS (
              |  SELECT lang,
              |    CAST(sum(CAST(1 AS BIGINT) << CAST(47 - mj AS INT)) AS BIGINT) AS ssum
              |  FROM f GROUP BY 1
              |), ex AS (
              |  SELECT lang, CAST(count(DISTINCT h) AS BIGINT) AS n_distinct FROM h GROUP BY 1
              |)
              |SELECT f.lang, f.j, f.mj, ex.n_distinct,
              |  $HllC / CAST(sums.ssum AS DOUBLE) AS est
              |FROM f JOIN sums USING (lang) JOIN ex USING (lang)""".stripMargin)),

    // ------------------------------------------------------------------
    // p48: SAMPLE-QUANTILE ESTIMATION — per-language n_chars quantiles
    // (p50/p90/p99) from a DETERMINISTIC-HASH Bernoulli sample, the
    // sketch-side complement to p32's exact two-phase rank scan. The
    // 100 TB shape: the md5 keep-gate is a zero-shuffle scan
    // projection (the corpus is never sorted or shuffled), and only
    // the sample — whose absolute size is pinned by the threshold
    // knob, not by corpus size — reaches the per-group rank sort; the
    // quantile is then an exact rank pick (ceil(q·n), ties broken by
    // doc_id) on the sample. Hash-Bernoulli beats rand() sampling for
    // this engine's contract: inclusion is a pure function of the
    // row, so the estimate is reproducible run-to-run, AND the oracle
    // can recompute the exact same sample. The full-population rank
    // pick rides along to expose the sampling error — its per-lang
    // window is the verification path only; at scale the exact answer
    // is p32's range-partition + rank-offset scan, not a one-task-
    // per-language window.
    QDef(
      "p48_quantile_sample",
      (s, d) => {
        val base = docs(s, d).select(col("lang"), col("n_chars"), col("doc_id"))
        val samp = base.filter(expr(
          s"graft_md5longs(concat('qs:', CAST(doc_id AS STRING))).h1 < ${QsT}L"))
        val sc = samp.groupBy("lang").agg(count(lit(1)).as("n_sample"))
        val fc = base.groupBy("lang").agg(count(lit(1)).as("n_full"))
        val targets = sc.join(fc, "lang")
          .select(col("lang"), col("n_sample"), col("n_full"),
            explode(expr("array(0.5D, 0.9D, 0.99D)")).as("q"))
          .withColumn("rk_s",
            expr("greatest(CAST(ceil(q * n_sample) AS BIGINT), CAST(1 AS BIGINT))"))
          .withColumn("rk_f",
            expr("greatest(CAST(ceil(q * n_full) AS BIGINT), CAST(1 AS BIGINT))"))
        val rs = samp.withColumn("rk_s", row_number().over(
            Window.partitionBy("lang").orderBy("n_chars", "doc_id")).cast("long"))
          .select(col("lang"), col("rk_s"), col("n_chars").as("est_q"))
        val rf = base.withColumn("rk_f", row_number().over(
            Window.partitionBy("lang").orderBy("n_chars", "doc_id")).cast("long"))
          .select(col("lang"), col("rk_f"), col("n_chars").as("exact_q"))
        targets.join(rs, Seq("lang", "rk_s")).join(rf, Seq("lang", "rk_f"))
          .select("lang", "q", "n_sample", "est_q", "exact_q")
      },
      // q literals are CAST to DOUBLE: a bare 0.9 is DECIMAL in DuckDB
      // and 0.9·480 = 432 exactly in decimal but 432.00000000000006 in
      // IEEE double — the ceil would disagree with Spark's double path
      Some(s"""WITH b AS (
              |  SELECT lang, n_chars, doc_id FROM documents
              |), samp AS (
              |  SELECT * FROM b
              |  WHERE CAST(('0x' || substr(md5('qs:' || doc_id), 1, 13)) AS BIGINT) < $QsT
              |), sc AS (
              |  SELECT lang, CAST(count(*) AS BIGINT) AS n_sample FROM samp GROUP BY 1
              |), fc AS (
              |  SELECT lang, CAST(count(*) AS BIGINT) AS n_full FROM b GROUP BY 1
              |), tg AS (
              |  SELECT lang, n_sample, n_full, q,
              |    greatest(CAST(ceil(q * n_sample) AS BIGINT), 1) AS rk_s,
              |    greatest(CAST(ceil(q * n_full) AS BIGINT), 1) AS rk_f
              |  FROM sc JOIN fc USING (lang)
              |  CROSS JOIN (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
              |                             CAST(0.99 AS DOUBLE)]) AS q)
              |), rs AS (
              |  SELECT lang,
              |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rk_s,
              |    n_chars AS est_q
              |  FROM samp
              |), rf AS (
              |  SELECT lang,
              |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rk_f,
              |    n_chars AS exact_q
              |  FROM b
              |)
              |SELECT lang, q, n_sample, est_q, exact_q
              |FROM tg JOIN rs USING (lang, rk_s) JOIN rf USING (lang, rk_f)""".stripMargin)),

    // ------------------------------------------------------------------
    // p49: SOURCE-OVERLAP MATRIX — dataset-level containment
    // diagnostics (is CC dump A a superset of dump B? how much does
    // src7 overlap src12?) via per-SOURCE MinHash signatures:
    // 64 components, each the min 52-bit md5 over the source's
    // DISTINCT bigram set, estimated Jaccard(a, b) = fraction of
    // agreeing components. The 100 TB posture: the only corpus-scale
    // stages are the (source, gram) distinct and a 64-way min
    // aggregation — both map-side-partial — after which the problem
    // collapses to |sources| × 64 signature rows; the pairwise
    // compare is a self-join on that collapsed set (sources number
    // thousands at most, never corpus-scale). Exact gram-set Jaccard
    // rides along to expose the estimator error — at 100 TB you keep
    // only the signature path. All arithmetic is integer except the
    // two single-division ratios, so the oracle is bit-identical.
    QDef(
      "p49_source_overlap",
      (s, d) => {
        val grams = docs(s, d)
          .withColumn("toks", expr(toksExpr))
          .select(col("source"), explode(expr(bigramExpr)).as("g"))
          .distinct()
        val sig = grams
          .select(col("source"), col("g"),
            explode(expr(s"sequence(0, ${OvK - 1})")).as("i"))
          // round 16: fused digest kernel, bit-identical to
          // conv(substr(md5(concat('ov', i, ':', g)), 1, 13), 16, 10)
          // — these OvK digests per gram are output-semantic (the
          // oracle replays them), only the evaluation is fused
          .withColumn("h", expr("graft_md5longs(concat('ov', i, ':', g)).h1"))
          .groupBy("source", "i").agg(min("h").as("minh"))
        val est = sig.as("a").join(sig.as("b"),
            col("a.i") === col("b.i") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
          .agg((sum(when(col("a.minh") === col("b.minh"), 1L).otherwise(0L))
            .cast("double") / lit(OvK.toDouble)).as("est_j"))
        val counts = grams.groupBy("source").agg(count(lit(1)).as("n"))
        val inter = grams.as("x").join(grams.as("y"),
            col("x.g") === col("y.g") && col("x.source") < col("y.source"))
          .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
          .agg(count(lit(1)).as("n_inter"))
        est.join(inter, Seq("source_a", "source_b"), "left")
          .na.fill(0L, Seq("n_inter"))
          .join(broadcast(counts.select(col("source").as("source_a"), col("n").as("n_a"))),
            "source_a")
          .join(broadcast(counts.select(col("source").as("source_b"), col("n").as("n_b"))),
            "source_b")
          .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
            col("n_inter"), col("est_j"),
            (col("n_inter").cast("double") /
              (col("n_a") + col("n_b") - col("n_inter")).cast("double")).as("exact_j"))
      },
      Some(s"""WITH t AS (
              |  SELECT source, $toksDuck AS toks FROM documents
              |), g0 AS (
              |  SELECT source, toks, unnest(range(1, len(toks))) AS k FROM t
              |), g AS (
              |  SELECT DISTINCT source, (toks[k] || ' ' || toks[k + 1]) AS gram FROM g0
              |), sig AS (
              |  SELECT source, CAST(i AS INT) AS i,
              |    min(CAST(('0x' || substr(md5('ov' || i || ':' || gram), 1, 13)) AS BIGINT)) AS minh
              |  FROM g CROSS JOIN range(0, $OvK) s(i) GROUP BY source, i
              |), est AS (
              |  SELECT a.source AS source_a, b.source AS source_b,
              |    CAST(sum(CASE WHEN a.minh = b.minh THEN 1 ELSE 0 END) AS DOUBLE)
              |      / CAST($OvK AS DOUBLE) AS est_j
              |  FROM sig a JOIN sig b ON a.i = b.i AND a.source < b.source
              |  GROUP BY 1, 2
              |), c AS (
              |  SELECT source, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY 1
              |), inter AS (
              |  SELECT x.source AS source_a, y.source AS source_b,
              |    CAST(count(*) AS BIGINT) AS n_inter
              |  FROM g x JOIN g y ON x.gram = y.gram AND x.source < y.source
              |  GROUP BY 1, 2
              |)
              |SELECT est.source_a, est.source_b, ca.n AS n_a, cb.n AS n_b,
              |  coalesce(inter.n_inter, 0) AS n_inter, est.est_j,
              |  CAST(coalesce(inter.n_inter, 0) AS DOUBLE)
              |    / CAST(ca.n + cb.n - coalesce(inter.n_inter, 0) AS DOUBLE) AS exact_j
              |FROM est
              |LEFT JOIN inter USING (source_a, source_b)
              |JOIN c ca ON ca.source = est.source_a
              |JOIN c cb ON cb.source = est.source_b""".stripMargin)),

    // ------------------------------------------------------------------
    // p50: SLIDING-WINDOW EXACT SUBSTRING DEDUP — the Lee et al. 2022
    // ("Deduplicating Training Data Makes Language Models Better")
    // operator family: find text REGIONS duplicated across documents
    // and cut them at exact boundaries, where p36 can only scrub
    // fixed segment-grid cells. A width-SubW window sits at EVERY
    // token offset; a window is duplicated iff its text occurs in >= 2
    // distinct docs; per doc, overlapping/contiguous duplicated
    // windows merge into MAXIMAL removed spans (gaps-and-islands over
    // window starts: a new island iff pos > prev + SubW), and the doc
    // is rebuilt from the uncovered positions. 100 TB shape: the
    // window explode is a zero-shuffle projection; corpus-wide window
    // df is ONE hash-partitioned groupBy (map-side partial distinct),
    // the same shape as p36's segment df; the island merge is a
    // per-doc window over only the doc's OWN duplicated windows
    // (bounded by doc length, never corpus-wide); reconstruction is a
    // per-row HOF over a spans array bounded by doc length. The suffix
    // array Lee et al. build exists to find windows of ANY length in
    // one pass; at a fixed W the window-hash formulation is
    // equivalent on >= W-token duplicates and needs no global sort.
    // Everything is integer/string arithmetic, so the oracle verifies
    // span boundaries AND the rebuilt text byte-for-byte.
    QDef(
      "p50_substring_dedup",
      (s, d) => {
        val wdoc = Window.partitionBy("doc_id").orderBy("pos")
        val t = docs(s, d).withColumn("toks", expr(toksExpr))
          .select(col("doc_id"), col("toks"))
        // ws = the window's EQUALITY CLASS, not its text (round 15,
        // optimization, guide §2.3): downstream only groups/joins on
        // the window — the rebuilt text comes from `toks` — so a
        // 128-bit two-plane xxhash64 of the token slice replaces the
        // per-position array_join string build, and the corpus-wide
        // window df groupBy + prune join shuffle 16-byte keys instead
        // of built strings. Token-slice equality IS window-text
        // equality (whitespace tokens); classes match modulo the same
        // 2^-128-per-pair collision bound the md5 operators accept.
        val w = t.filter(size(col("toks")) >= SubW)
          .select(col("doc_id"), explode(expr(
            s"""transform(sequence(1, size(toks) - ${SubW - 1}),
               |  p -> named_struct('pos', CAST(p AS BIGINT),
               |    'ws', named_struct(
               |      'a', xxhash64(1L, slice(toks, p, $SubW)),
               |      'b', xxhash64(2L, slice(toks, p, $SubW)))))""".stripMargin))
            .as("t"))
          .select(col("doc_id"), col("t.pos").as("pos"), col("t.ws").as("ws"))
        val dupSet = w.groupBy("ws").agg(countDistinct(col("doc_id")).as("df"))
          .filter(col("df") >= 2).select("ws")
        val dup = w.join(dupSet, "ws").select("doc_id", "pos")
        val spans = dup
          .withColumn("prev", lag("pos", 1).over(wdoc))
          .withColumn("brk", when(col("prev").isNull ||
            col("pos") > col("prev") + SubW, 1L).otherwise(0L))
          .withColumn("island", sum("brk").over(
            wdoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("doc_id", "island")
          .agg(min("pos").as("st"), (max("pos") + lit(SubW - 1).cast("long")).as("en"))
        val perDoc = spans.groupBy("doc_id").agg(
          count(lit(1)).as("n_spans"),
          sum(col("en") - col("st") + 1).as("n_removed"),
          collect_list(struct(col("st"), col("en"))).as("spans"))
        val nDup = dup.groupBy("doc_id").agg(count(lit(1)).as("n_dup_windows"))
        t.join(perDoc, Seq("doc_id"), "left").join(nDup, Seq("doc_id"), "left")
          .withColumn("spans_c", coalesce(col("spans"),
            expr("CAST(array() AS ARRAY<STRUCT<st: BIGINT, en: BIGINT>>)")))
          .select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"),
            coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
            coalesce(col("n_spans"), lit(0L)).as("n_spans"),
            coalesce(col("n_removed"), lit(0L)).as("n_removed"),
            expr("""CASE WHEN size(toks) = 0 THEN '' ELSE
                   |  array_join(transform(
                   |    filter(sequence(1, size(toks)),
                   |      p -> NOT exists(spans_c, iv -> p >= iv.st AND p <= iv.en)),
                   |    p -> toks[p - 1]), ' ')
                   |END""".stripMargin).as("text_clean"))
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, $toksDuck AS toks FROM documents
              |), w AS (
              |  SELECT doc_id, CAST(k AS BIGINT) AS pos,
              |    array_to_string(toks[CAST(k AS INT):CAST(k + ${SubW - 1} AS INT)], ' ') AS ws
              |  FROM t, LATERAL unnest(range(1, len(toks) - ${SubW - 2})) u(k)
              |  WHERE len(toks) >= $SubW
              |), dupset AS (
              |  SELECT ws FROM w GROUP BY ws HAVING count(DISTINCT doc_id) >= 2
              |), dup AS (
              |  SELECT doc_id, pos FROM w JOIN dupset USING (ws)
              |), m AS (
              |  SELECT doc_id, pos,
              |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
              |  FROM dup
              |), isl AS (
              |  SELECT doc_id, pos,
              |    sum(CASE WHEN prev IS NULL OR pos > prev + $SubW THEN 1 ELSE 0 END)
              |      OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
              |  FROM m
              |), sp AS (
              |  SELECT doc_id, island, min(pos) AS st,
              |    max(pos) + ${SubW - 1} AS en
              |  FROM isl GROUP BY 1, 2
              |), perdoc AS (
              |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
              |    CAST(sum(en - st + 1) AS BIGINT) AS n_removed
              |  FROM sp GROUP BY 1
              |), ndup AS (
              |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_windows
              |  FROM dup GROUP BY 1
              |), pos AS (
              |  SELECT t.doc_id, CAST(p AS BIGINT) AS p, toks[CAST(p AS INT)] AS tok
              |  FROM t, LATERAL unnest(range(1, len(toks) + 1)) u(p)
              |), keep AS (
              |  SELECT doc_id, p, tok FROM pos
              |  WHERE NOT EXISTS (SELECT 1 FROM sp
              |    WHERE sp.doc_id = pos.doc_id AND pos.p BETWEEN sp.st AND sp.en)
              |), clean AS (
              |  SELECT t.doc_id,
              |    coalesce(string_agg(k.tok, ' ' ORDER BY k.p), '') AS text_clean
              |  FROM t LEFT JOIN keep k ON t.doc_id = k.doc_id
              |  GROUP BY t.doc_id
              |)
              |SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
              |  coalesce(ndup.n_dup_windows, 0) AS n_dup_windows,
              |  coalesce(perdoc.n_spans, 0) AS n_spans,
              |  coalesce(perdoc.n_removed, 0) AS n_removed,
              |  clean.text_clean
              |FROM t
              |LEFT JOIN ndup USING (doc_id)
              |LEFT JOIN perdoc USING (doc_id)
              |JOIN clean USING (doc_id)""".stripMargin)),

    // ------------------------------------------------------------------
    // p51: DISTRIBUTED K-MEANS (Lloyd) — the clustering stage the
    // curation ops above ASSUME: p15/p37's IVF cells "come from a
    // sampled k-means at scale" — this operator is that k-means,
    // expressed in Spark's canonical shape (the same loop structure as
    // MLlib's KMeans): per iteration the K×dim centroid table lives on
    // the DRIVER and broadcasts into a zero-shuffle assignment
    // projection, and the update is one posexplode + groupBy(cluster,
    // dim) with map-side partial INTEGER sums — the only shuffle
    // carries ≤ K·dim partial rows per map task regardless of corpus
    // size, and the driver materializes exactly K·dim rows per
    // iteration (corpus-independent, the legitimate driver-side
    // state of every k-means implementation). Determinism: components
    // quantize to floor(x·2^10) ONCE, so centroid sums/counts are
    // exact integers (order-independent — no float-summation
    // nondeterminism), and the assignment distance is
    // ||v·cnt − s||² — an exact int64 (≤ 2^48 here) — divided by
    // cnt² in ONE IEEE division, bit-identical in both engines; ties
    // break by cluster id. Init = the K lowest vec_ids (a fixed seed;
    // k-means‖ sampling is an init-stage swap). The oracle re-runs
    // all three Lloyd iterations in SQL, so the hash compare verifies
    // every assignment AND its integer distance, not just counts.
    QDef(
      "p51_kmeans_cluster",
      (s, d) => {
        val el = emb(s, d).select(col("vec_id"),
          expr(s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $KmScale) AS BIGINT))")
            .as("qv"))
        // init: seed centroids = the K lowest vec_ids, cnt = 1
        var cents: Array[(Array[Long], Long)] = el.filter(col("vec_id") < KmK)
          .orderBy("vec_id").collect()
          .map(r => (r.getSeq[Long](1).toArray, 1L))
        def assign(): DataFrame = {
          val centLit = typedlit(cents.map(_._1.toSeq).toSeq)
          val cntLit = typedlit(cents.map(_._2).toSeq)
          el.withColumn("cents", centLit).withColumn("cnts", cntLit)
            .withColumn("pick", expr(
              s"""array_min(transform(
                 |  filter(transform(sequence(0, ${KmK - 1}),
                 |      k -> named_struct('dd',
                 |        aggregate(zip_with(qv, cents[k],
                 |            (a, b) -> (a * cnts[k] - b) * (a * cnts[k] - b)),
                 |          CAST(0 AS BIGINT), (acc, x) -> acc + x),
                 |        'k', k)),
                 |    s -> cnts[s.k] > 0),
                 |  s -> named_struct(
                 |    'd', CAST(s.dd AS DOUBLE) / CAST(cnts[s.k] * cnts[s.k] AS DOUBLE),
                 |    'k', s.k, 'dd', s.dd)))""".stripMargin))
            .select(col("vec_id"), col("qv"),
              col("pick.k").as("cluster"), col("pick.dd").as("dd"))
        }
        for (_ <- 1 until KmIters) {
          val upd = assign()
            .select(col("cluster"), posexplode(col("qv")).as(Seq("i", "v")))
            .groupBy("cluster", "i")
            .agg(sum("v").as("s"), count(lit(1)).as("cnt"))
            .collect()
          val next = Array.fill(KmK)((Array.fill(AnnDim)(0L), 0L))
          upd.foreach { r =>
            val k = r.getInt(0)
            next(k)._1(r.getInt(1)) = r.getLong(2)
            next(k) = (next(k)._1, r.getLong(3))
          }
          cents = next
        }
        val fin = assign().select("vec_id", "cluster", "dd")
        val sizes = fin.groupBy("cluster").agg(count(lit(1)).as("n_cluster"))
        fin.join(broadcast(sizes), "cluster")
          .select("vec_id", "cluster", "dd", "n_cluster")
      },
      Some {
        val iter = (n: Int) => {
          val p = n - 1
          s"""a$n AS (
             |  SELECT vec_id, k, dd FROM (
             |    SELECT el.vec_id, c.k,
             |      CAST(sum((el.v * c.cnt - c.s) * (el.v * c.cnt - c.s)) AS BIGINT) AS dd,
             |      row_number() OVER (PARTITION BY el.vec_id ORDER BY
             |        CAST(sum((el.v * c.cnt - c.s) * (el.v * c.cnt - c.s)) AS DOUBLE)
             |          / CAST(any_value(c.cnt) * any_value(c.cnt) AS DOUBLE), c.k) AS rn
             |    FROM el JOIN c$p c USING (i) GROUP BY el.vec_id, c.k)
             |  WHERE rn = 1),
             |c$n AS (
             |  SELECT k, i, sum(v) AS s, CAST(count(*) AS BIGINT) AS cnt
             |  FROM el JOIN a$n USING (vec_id) GROUP BY k, i)""".stripMargin
        }
        s"""WITH el AS (
           |  SELECT vec_id, CAST(i AS INT) AS i,
           |    CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * $KmScale) AS BIGINT) AS v
           |  FROM embeddings, range(1, ${AnnDim + 1}) t(i)
           |), c0 AS (
           |  SELECT CAST(vec_id AS INT) AS k, i, v AS s, CAST(1 AS BIGINT) AS cnt
           |  FROM el WHERE vec_id < $KmK
           |),
           |${(1 to KmIters).map(iter).mkString(",\n")},
           |sizes AS (SELECT k, CAST(count(*) AS BIGINT) AS n_cluster
           |          FROM a$KmIters GROUP BY 1)
           |SELECT a.vec_id, a.k AS cluster, a.dd, sizes.n_cluster
           |FROM a$KmIters a JOIN sizes USING (k)""".stripMargin
      }),

    // ------------------------------------------------------------------
    // p52: TOKEN FREQUENCY SPECTRUM — corpus-level Zipf diagnostics
    // (how many types occur k times; what coverage the top
    // frequencies buy), the standard pre-tokenizer-training corpus
    // summary. Two-level aggregation, both map-side-partial: token →
    // count, then count → type count. The final cumulative-coverage
    // window runs over the COLLAPSED spectrum, whose row count is
    // bounded by the number of distinct frequency values ≤
    // O(sqrt(total occurrences)) (distinct positive integers summing
    // to N), so the single-partition window is corpus-size-safe.
    // Integers throughout + one IEEE division per row.
    QDef(
      "p52_freq_spectrum",
      (s, d) => {
        val tf = docs(s, d)
          .select(explode(expr(toksExpr)).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("c"))
        val spec = tf.groupBy("c").agg(count(lit(1)).as("n_types"))
          .withColumn("n_occ", col("c") * col("n_types"))
        val totals = spec.agg(sum(col("n_occ")).as("tot_occ"))
        val w = Window.orderBy(col("c").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spec.crossJoin(broadcast(totals))
          .withColumn("cum_occ", sum("n_occ").over(w))
          .select(col("c").as("occurrences"), col("n_types"), col("n_occ"),
            (col("cum_occ").cast("double") / col("tot_occ").cast("double"))
              .as("cov"))
      },
      Some(s"""WITH t AS (
              |  SELECT $toksDuck AS toks FROM documents
              |), tok AS (
              |  SELECT unnest(toks) AS tok FROM t
              |), tf AS (
              |  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1
              |), spec AS (
              |  SELECT c, CAST(count(*) AS BIGINT) AS n_types,
              |    c * CAST(count(*) AS BIGINT) AS n_occ
              |  FROM tf GROUP BY 1
              |), tot AS (
              |  SELECT sum(n_occ) AS tot_occ FROM spec
              |)
              |SELECT spec.c AS occurrences, spec.n_types, spec.n_occ,
              |  CAST(sum(spec.n_occ) OVER (ORDER BY spec.c DESC
              |         ROWS UNBOUNDED PRECEDING) AS DOUBLE)
              |    / CAST(tot.tot_occ AS DOUBLE) AS cov
              |FROM spec, tot""".stripMargin)),

    // ------------------------------------------------------------------
    // p53: LUHN-VALIDATED CARD SCRUB — the checksum-gated tier of PII
    // redaction (what Presidio-class scrubbers do): a 16-digit run is
    // redacted only when its Luhn check digit VERIFIES, because
    // redacting every 16-digit number destroys ids/timestamps that
    // merely look card-shaped. p21's regex tier can't express this —
    // the gate is arithmetic on the match, not a pattern. The corpus
    // has no card numbers, so doc_id-derived 16-digit strings are
    // injected first (half with a correct Luhn check digit, half
    // broken), then the operator re-finds candidates generically
    // (regexp_extract_all), validates each with the Luhn fold
    // (codegen `aggregate` HOF, exact integers) and scrubs only the
    // valid ones via a fold over the candidate list. Zero shuffle;
    // the oracle derives the expected scrubbed text independently
    // from the construction (not by mirroring the fold), so the hash
    // compare proves the extraction + checksum + replacement pipeline
    // end to end.
    QDef(
      "p53_luhn_scrub",
      (s, d) => {
        // Luhn over a full 16-digit candidate c: doubling hits the
        // digits in even positions from the RIGHT = odd i from the
        // left at length 16
        val luhnOk =
          """aggregate(sequence(1, 16), 0, (acc, i) ->
            |  acc + (CASE WHEN i % 2 = 1
            |    THEN IF(2 * CAST(substr(c, i, 1) AS INT) > 9,
            |            2 * CAST(substr(c, i, 1) AS INT) - 9,
            |            2 * CAST(substr(c, i, 1) AS INT))
            |    ELSE CAST(substr(c, i, 1) AS INT) END)) % 10 = 0""".stripMargin
        docs(s, d)
          .withColumn("b15", expr(
            "lpad(CAST((doc_id * 48271 + 12345) % 1000000000000000 AS STRING), 15, '0')"))
          // check digit: doubling pattern of the 15 digits as they sit
          // in the final 16-digit number (position i from the left of
          // b15 = even position from the right of the full number)
          .withColumn("cd", expr(
            """(10 - aggregate(sequence(1, 15), 0, (acc, i) ->
              |  acc + (CASE WHEN i % 2 = 1
              |    THEN IF(2 * CAST(substr(b15, i, 1) AS INT) > 9,
              |            2 * CAST(substr(b15, i, 1) AS INT) - 9,
              |            2 * CAST(substr(b15, i, 1) AS INT))
              |    ELSE CAST(substr(b15, i, 1) AS INT) END)) % 10) % 10""".stripMargin))
          .withColumn("card", expr(
            "concat(b15, CAST(IF(doc_id % 2 = 0, cd, (cd + 5) % 10) AS STRING))"))
          .withColumn("aug", expr(
            "IF(doc_id % 3 = 0, concat(text, ' card ', card), text)"))
          .withColumn("cands", expr("regexp_extract_all(aug, '([0-9]{16})', 1)"))
          .withColumn("valids", expr(s"filter(cands, c -> $luhnOk)"))
          .select(col("doc_id"),
            size(col("cands")).cast("long").as("n_cand"),
            size(col("valids")).cast("long").as("n_valid"),
            expr("aggregate(valids, aug, (acc, c) -> replace(acc, c, '[CARD]'))")
              .as("scrubbed"))
      },
      Some("""WITH base AS (
             |  SELECT doc_id, text,
             |    lpad(CAST((doc_id * 48271 + 12345) % 1000000000000000 AS VARCHAR),
             |         15, '0') AS b15
             |  FROM documents
             |), digs AS (
             |  SELECT doc_id, CAST(i AS INT) AS i,
             |    CAST(substr(b15, CAST(i AS INT), 1) AS INT) AS dd
             |  FROM base, range(1, 16) t(i)
             |), ls AS (
             |  SELECT doc_id, sum(CASE WHEN i % 2 = 1
             |    THEN CASE WHEN 2 * dd > 9 THEN 2 * dd - 9 ELSE 2 * dd END
             |    ELSE dd END) AS s
             |  FROM digs GROUP BY doc_id
             |), built AS (
             |  SELECT b.doc_id, b.text, b.b15,
             |    b.b15 || CAST(CASE WHEN b.doc_id % 2 = 0
             |      THEN (10 - ls.s % 10) % 10
             |      ELSE ((10 - ls.s % 10) % 10 + 5) % 10 END AS VARCHAR) AS card
             |  FROM base b JOIN ls USING (doc_id)
             |)
             |SELECT doc_id,
             |  CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_cand,
             |  CAST(CASE WHEN doc_id % 3 = 0 AND doc_id % 2 = 0 THEN 1 ELSE 0 END
             |    AS BIGINT) AS n_valid,
             |  CASE WHEN doc_id % 3 = 0 AND doc_id % 2 = 0
             |         THEN text || ' card [CARD]'
             |       WHEN doc_id % 3 = 0 THEN text || ' card ' || card
             |       ELSE text END AS scrubbed
             |FROM built""".stripMargin)),

    // ------------------------------------------------------------------
    // p54: NEAR-DUP GRAPH DEGREE PROFILE — the diagnostic a dedup
    // campaign reads before choosing a survivor rule: the degree
    // distribution of the verified near-duplicate graph (p02's
    // band-bucketed MinHash pairs). Heavy right tails mean hub
    // documents (templates/boilerplate) where a greedy min-id rule
    // over-drops and clustering (p30) is warranted; a near-diagonal
    // histogram means pairwise rules suffice. Scale shape: reads the
    // campaign's SHARED pairs materialization (sharedMinhashPairs —
    // the profiling pass must not re-run the campaign's biggest job;
    // VERDICT r10 #5), endpoints explode into one hash-partitioned
    // count per doc, and the histogram collapses to <= max-degree
    // rows; the only non-map-side stages are two two-level groupBys.
    // The 1-row totals frame broadcasts into the share division
    // (exact integers, one IEEE division).
    QDef(
      "p54_dup_graph_degree",
      (s, d) => {
        val pairs = sharedMinhashPairs(s, d)
        val ends = pairs.select(col("ida").as("id"))
          .unionByName(pairs.select(col("idb").as("id")))
        val deg = docs(s, d).select(col("doc_id"))
          .join(ends, col("doc_id") === col("id"), "left")
          .groupBy("doc_id").agg(count(col("id")).as("degree"))
        val hist = deg.groupBy("degree").agg(count(lit(1)).as("n_docs"))
        val tot = docs(s, d).agg(count(lit(1)).as("n"))
        hist.crossJoin(broadcast(tot))
          .select(col("degree"), col("n_docs"),
            (col("n_docs").cast("double") / col("n").cast("double")).as("share"))
      },
      Some(s"""WITH $minhashCtes, dv AS (
              |  SELECT ida AS id FROM pairs
              |  UNION ALL SELECT idb AS id FROM pairs
              |), deg AS (
              |  SELECT d.doc_id, CAST(count(dv.id) AS BIGINT) AS degree
              |  FROM documents d LEFT JOIN dv ON dv.id = d.doc_id
              |  GROUP BY d.doc_id
              |), hist AS (
              |  SELECT degree, CAST(count(*) AS BIGINT) AS n_docs
              |  FROM deg GROUP BY 1
              |), tot AS (
              |  SELECT CAST(count(*) AS BIGINT) AS n FROM documents
              |)
              |SELECT degree, n_docs,
              |  CAST(n_docs AS DOUBLE) / CAST(tot.n AS DOUBLE) AS share
              |FROM hist, tot""".stripMargin)),

    // ------------------------------------------------------------------
    // p55: WORDPIECE SUBWORD TOKENIZATION — greedy longest-match-first
    // (Schuster & Nakajima 2012; the BERT tokenizer's inference pass):
    // each word is segmented left-to-right, at every position taking
    // the LONGEST vocabulary piece that matches (continuation pieces
    // carry the '##' prefix); a position with no match makes the whole
    // word [UNK]. The vocabulary is derived deterministically from the
    // corpus itself — top-WpTopWords words by (count desc, word asc)
    // as whole-word pieces, every intra-word character as a 1-char
    // piece, and every intra-word 2-char sequence as a '##'
    // continuation — so both engines construct the identical piece
    // set and the hash compare pins the greedy matcher end to end
    // (piece sequence, piece/UNK counts) rather than just totals.
    // [UNK] is exercised from both failure sites by injecting words
    // with a digit (no digit survives vocab construction, which reads
    // only ORIGINAL text): 'k9' fails at a continuation position
    // (after matching 'k'), '9z' at the start position.
    //
    // 100 TB shape: ONE corpus-scale stage (the two-level token-count
    // groupBy that builds the vocab); everything after is vocab-sized
    // (chars/2-grams explode the <=O(sqrt corpus) DISTINCT word list,
    // not the corpus), the piece sets collapse to ~700 entries
    // broadcast to every executor, and tokenization itself is a
    // ZERO-SHUFFLE typed mapPartitions kernel — a tight greedy loop
    // over each word probing the broadcast hash sets. The kernel
    // replaced the earlier aggregate-HOF formulation for the same
    // reason as p09's ANN projections: HOF lambdas evaluate
    // interpreted per element, and the identical-output kernel
    // measured 10.9x faster (185k vs 17k docs/s at 1M docs). Both
    // the DuckDB oracle (best-match lengths per (word, position)
    // walked by a recursive CTE — an independent relational
    // formulation of the greedy rule) and TokenizerOpsSpec's
    // plain-Scala reference matcher verify the kernel word-for-word.
    QDef(
      "p55_wordpiece_tokenize",
      (s, d) => {
        val base = docs(s, d)
        val tokc = base.select(explode(expr(toksExpr)).as("t"))
          .groupBy("t").agg(count(lit(1)).as("c"))
        val topW = tokc.orderBy(col("c").desc, col("t")).limit(WpTopWords)
          .select(col("t").as("p"))
        val words = tokc.select("t")
        val chars = words.select(explode(
            expr("transform(sequence(1, length(t)), i -> substr(t, i, 1))")).as("p"))
          .distinct()
        val big2 = words.filter(length(col("t")) >= 2).select(explode(
            expr("transform(sequence(1, length(t) - 1), i -> substr(t, i, 2))")).as("p"))
          .distinct()
        val vocabRow = topW.unionByName(chars).distinct()
          .agg(sort_array(collect_list("p")).as("sv"))
          .crossJoin(
            big2.unionByName(chars).distinct()
              .select(concat(lit("##"), col("p")).as("p"))
              .agg(sort_array(collect_list("p")).as("cv")))
        // the vocab is bounded (chars + intra-word 2-grams + top-8
        // whole words: ~700 entries on any corpus in this family), so
        // ONE driver head() + broadcast is the production pattern —
        // the same collect the bench kernel uses. The head() runs two
        // Spark jobs and each broadcast pins executor memory, so both
        // are cached per (session, dir): repeated queries() calls
        // (Verify sweeps, bench iterations) reuse one broadcast pair
        // instead of accreting leaked copies.
        val (bSv, bCv) = wpVocabCache.computeIfAbsent((s, d), { _ =>
          val vocabHead = vocabRow.head()
          (s.sparkContext.broadcast(
             vocabHead.getSeq[String](vocabHead.fieldIndex("sv")).toSet),
           s.sparkContext.broadcast(
             vocabHead.getSeq[String](vocabHead.fieldIndex("cv")).toSet))
        })
        import s.implicits._
        base.select(col("doc_id"), col("text")).as[(Long, String)]
          .mapPartitions { it =>
            val sv = bSv.value; val cv = bCv.value
            it.map { case (docId, text0) =>
              // the [UNK]-site injection (k9/9z) mirrors toksAugExpr
              val aug = (docId % 5) match {
                case 0 => text0 + " k9"
                case 3 => text0 + " 9z"
                case _ => text0
              }
              val ws = aug.toLowerCase(java.util.Locale.ROOT)
                .split("\\s+").filter(_.nonEmpty)
              var nPieces = 0L; var nUnk = 0L
              val sb = new java.lang.StringBuilder
              ws.foreach { w =>
                // longest-first greedy probe over CODE POINTS (the
                // vocab was built with Spark-SQL substr/length, which
                // count code points): graft.functions.WordPiece owns
                // the matcher so the non-BMP contract is unit-tested
                // directly; null signals [UNK]
                val matched = graft.functions.WordPiece.tokenize(
                  w, sv, cv, WpMaxPiece)
                val unk = matched == null
                val out = if (unk) List("[UNK]") else matched
                nPieces += out.length
                if (unk) nUnk += 1
                if (sb.length > 0) sb.append(' ')
                sb.append(out.mkString(" "))
              }
              (docId, ws.length.toLong, nPieces, nUnk, sb.toString)
            }
          }.toDF("doc_id", "n_words", "n_pieces", "n_unk", "pieces")
      },
      Some(s"""WITH tokc AS (
              |  SELECT t, count(*) AS c FROM (
              |    SELECT unnest($toksDuck) AS t FROM documents) GROUP BY t
              |), topw AS (
              |  SELECT t AS p FROM tokc ORDER BY c DESC, t LIMIT $WpTopWords
              |), chars AS (
              |  SELECT DISTINCT unnest(string_split(t, '')) AS p FROM tokc
              |), big2 AS (
              |  SELECT DISTINCT substr(t, CAST(i AS INT), 2) AS p
              |  FROM tokc, range(1, 64) r(i)
              |  WHERE CAST(i AS INT) <= length(t) - 1
              |), startv AS (
              |  SELECT p FROM topw UNION SELECT p FROM chars
              |), contv AS (
              |  SELECT p FROM big2 UNION SELECT p FROM chars
              |), aug AS (
              |  SELECT doc_id, text || CASE WHEN doc_id % 5 = 0 THEN ' k9'
              |    WHEN doc_id % 5 = 3 THEN ' 9z' ELSE '' END AS text
              |  FROM documents
              |), docw AS (
              |  SELECT doc_id, CAST(generate_subscripts(toks, 1) AS INT) AS wi,
              |         unnest(toks) AS w
              |  FROM (SELECT doc_id, $toksDuck AS toks FROM aug)
              |), m AS (
              |  SELECT doc_id, wi, w, pos, max(L) AS bestl FROM (
              |    SELECT q.doc_id, q.wi, q.w, q.pos, CAST(L AS INT) AS L
              |    FROM (SELECT doc_id, wi, w, CAST(p AS INT) AS pos
              |          FROM docw, range(1, 64) r(p)
              |          WHERE CAST(p AS INT) <= length(w)) q,
              |         range(1, $WpMaxPiece + 1) r(L)
              |    WHERE CAST(L AS INT) <= length(q.w) - q.pos + 1
              |      AND ((q.pos = 1 AND
              |            substr(q.w, q.pos, CAST(L AS INT)) IN
              |              (SELECT p FROM startv))
              |        OR (q.pos > 1 AND CAST(L AS INT) <= 2 AND
              |            substr(q.w, q.pos, CAST(L AS INT)) IN
              |              (SELECT p FROM contv)))
              |  ) GROUP BY doc_id, wi, w, pos
              |), walk AS (
              |  WITH RECURSIVE rec(doc_id, wi, w, pos, pieces, np, unk) AS (
              |    SELECT doc_id, wi, w, 1, '', 0, false FROM docw
              |    UNION ALL
              |    SELECT r.doc_id, r.wi, r.w,
              |      CASE WHEN m.bestl IS NULL THEN length(r.w) + 1
              |           ELSE r.pos + m.bestl END,
              |      CASE WHEN m.bestl IS NULL THEN '[UNK]'
              |           ELSE r.pieces ||
              |             CASE WHEN r.pieces = '' THEN '' ELSE ' ' END ||
              |             CASE WHEN r.pos > 1 THEN '##' ELSE '' END ||
              |             substr(r.w, r.pos, m.bestl) END,
              |      CASE WHEN m.bestl IS NULL THEN 1 ELSE r.np + 1 END,
              |      m.bestl IS NULL
              |    FROM rec r LEFT JOIN m ON m.doc_id = r.doc_id
              |      AND m.wi = r.wi AND m.pos = r.pos
              |    WHERE r.pos <= length(r.w) AND NOT r.unk
              |  ) SELECT * FROM rec WHERE pos > length(w)
              |)
              |SELECT doc_id,
              |  CAST(count(*) AS BIGINT) AS n_words,
              |  CAST(sum(np) AS BIGINT) AS n_pieces,
              |  CAST(sum(CASE WHEN unk THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
              |  string_agg(pieces, ' ' ORDER BY wi) AS pieces
              |FROM walk GROUP BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // p56: BPE MERGE LEARNING — the training-side complement to p55's
    // WordPiece inference (Sennrich, Haddow & Birch 2016, "Neural
    // Machine Translation of Rare Words with Subword Units"): start
    // from characters, then for BpeK rounds count adjacent piece
    // pairs (frequency-weighted over words), merge the most frequent
    // pair everywhere (leftmost-first, non-overlapping), repeat. Ties
    // break by (count desc, left piece asc, right piece asc) so the
    // merge sequence is deterministic in both engines. Output is the
    // final per-word segmentation — it pins the exact merge SEQUENCE,
    // because any divergence in an earlier round changes which later
    // pairs exist.
    //
    // 100 TB shape: this is the industrial BPE-trainer layout — ONE
    // corpus-scale stage (the word-frequency groupBy), after which
    // every round operates on the DISTINCT-WORD table (Zipf: |vocab|
    // grows ~ corpus^0.5-0.7, orders of magnitude below corpus scale).
    // Per round: a vocab-scale pair-count aggregation reduced to ONE
    // driver row (the argmax pair — the same bounded-collect pattern
    // as real trainers), then a zero-shuffle aggregate-HOF fold that
    // applies the merge in place. The word table is localCheckpointed
    // once so the K-round loop does not stack lineage over the corpus
    // scan. The oracle can't loop, so the Scala builder UNROLLS the K
    // rounds into chained CTEs: pair-count → 1-row argmax → a
    // recursive-CTE leftmost walk applying the merge — an independent
    // relational formulation of the same rule.
    QDef(
      "p56_bpe_train",
      (s, d) => bpeTrain(s, d)
        .select(col("w"), col("cnt"),
          expr("array_join(toks, ' ')").as("pieces"),
          size(col("toks")).cast("long").as("n_pieces")),
      Some(s"""WITH RECURSIVE $bpeOracleCtes
              |SELECT w, cnt, array_to_string(toks, ' ') AS pieces,
              |       CAST(len(toks) AS BIGINT) AS n_pieces
              |FROM w$BpeK""".stripMargin)),

    // ------------------------------------------------------------------
    // p57: TOKENIZER FERTILITY BY LANGUAGE — the standard
    // tokenizer-equity diagnostic (how many subword pieces a word
    // costs per language; disparities mean some languages pay more
    // context budget per word): applies p56's trained BPE
    // segmentation back to the corpus and aggregates exact integer
    // totals (words, pieces, chars) per language plus the fertility
    // ratio (ONE IEEE division of two exactly-representable integers,
    // so the double is bit-identical in both engines).
    //
    // 100 TB shape: the corpus collapses to (lang, word) counts in
    // one shuffle; the trained word→pieces table is vocab-sized and
    // BROADCAST into the join; output is |langs| rows. Nothing
    // corpus-scale survives the first aggregation.
    QDef(
      "p57_token_fertility",
      (s, d) => {
        val trained = bpeTrain(s, d)
          .select(col("w"), size(col("toks")).cast("long").as("np"))
        docs(s, d)
          .select(col("lang"), explode(expr(toksExpr)).as("w"))
          .groupBy("lang", "w").agg(count(lit(1)).as("c"))
          .join(broadcast(trained), Seq("w"))
          .groupBy("lang")
          .agg(sum("c").as("total_words"),
            sum(expr("c * np")).as("total_pieces"),
            sum(expr("c * length(w)")).as("total_chars"))
          .select(col("lang"), col("total_words"), col("total_pieces"),
            col("total_chars"),
            (col("total_pieces").cast("double") /
              col("total_words").cast("double")).as("fertility"))
      },
      Some(s"""WITH RECURSIVE $bpeOracleCtes,
              |dl AS (
              |  SELECT lang, unnest($toksDuck) AS w FROM documents
              |), wl AS (
              |  SELECT lang, w, count(*) AS c FROM dl GROUP BY 1, 2
              |), j AS (
              |  SELECT wl.lang, wl.c, wl.w, len(t.toks) AS np
              |  FROM wl JOIN w$BpeK t ON wl.w = t.w
              |)
              |SELECT lang,
              |  CAST(sum(c) AS BIGINT) AS total_words,
              |  CAST(sum(c * np) AS BIGINT) AS total_pieces,
              |  CAST(sum(c * length(w)) AS BIGINT) AS total_chars,
              |  CAST(CAST(sum(c * np) AS BIGINT) AS DOUBLE)
              |    / CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) AS fertility
              |FROM j GROUP BY lang""".stripMargin)),

    // ------------------------------------------------------------------
    // p58: ORDERED EVENT FUNNEL — the standard product-analytics /
    // user-journey operator (view → click → purchase, each stage
    // strictly AFTER the previous one for that user, not mere
    // set-membership): per-user stage timestamps resolve with three
    // stacked conditional window-mins over ONE user_id partition (the
    // same exchange and sort are reused by all three — the dependent
    // stage predicates read the previous stage's column), then one
    // row per user feeds a single global rollup. All counts and the
    // time-to-convert total are exact integers; each conversion rate
    // is ONE IEEE division of two exactly-representable bigints, so
    // both engines produce bit-identical doubles.
    //
    // 100 TB shape: events shuffle ONCE by user_id (the natural
    // sessionization key — skew-free at web scale); everything after
    // the per-user rollup is a single-row aggregate. No joins, no
    // second corpus-scale exchange.
    QDef(
      "p58_event_funnel",
      (s, d) => {
        val e = Tables.events(s, d)
          .where(col("event_type").isin("view", "click", "purchase"))
          .select(col("user_id"), col("event_type"), col("ts"))
        val wu = Window.partitionBy("user_id")
        val staged = e
          .withColumn("t1",
            min(when(col("event_type") === "view", col("ts"))).over(wu))
          .withColumn("t2",
            min(when(col("event_type") === "click" && col("ts") > col("t1"),
              col("ts"))).over(wu))
          .withColumn("t3",
            min(when(col("event_type") === "purchase" && col("ts") > col("t2"),
              col("ts"))).over(wu))
        val perUser = staged.groupBy("user_id")
          .agg(max("t1").as("t1"), max("t2").as("t2"), max("t3").as("t3"))
        perUser.agg(
            count(lit(1)).as("n_users"),
            count(col("t1")).as("stage_view"),
            count(col("t2")).as("stage_click"),
            count(col("t3")).as("stage_purchase"),
            // seconds-precision gap like s04's gap_s: cast-to-long is
            // floor(epoch seconds) for these positive timestamps
            sum(col("t3").cast("long") - col("t1").cast("long"))
              .as("total_convert_s"))
          // every denominator is nullif-guarded IDENTICALLY in the
          // oracle: Spark's non-ANSI Divide yields NULL for x/0 on
          // doubles while DuckDB yields Inf/NaN, so an empty funnel
          // stage would otherwise hash-mismatch; nullif pins both
          // engines to NULL
          .select(col("n_users"), col("stage_view"), col("stage_click"),
            col("stage_purchase"),
            (col("stage_click").cast("double") /
              nullif(col("stage_view"), lit(0)).cast("double"))
              .as("conv_click"),
            (col("stage_purchase").cast("double") /
              nullif(col("stage_click"), lit(0)).cast("double"))
              .as("conv_purchase"),
            (col("stage_purchase").cast("double") /
              nullif(col("stage_view"), lit(0)).cast("double"))
              .as("conv_overall"),
            col("total_convert_s"),
            (col("total_convert_s").cast("double") /
              nullif(col("stage_purchase"), lit(0)).cast("double"))
              .as("mean_convert_s"))
      },
      // the µs truncation mirrors Tables.events' `ts DIV 1000` (same
      // rationale as s04's oracle)
      Some("""WITH e AS (
             |  SELECT user_id, event_type,
             |         make_timestamp(epoch_ns(ts) // 1000) AS ts
             |  FROM events WHERE event_type IN ('view', 'click', 'purchase')
             |), t1 AS (
             |  SELECT user_id, min(ts) AS t1 FROM e
             |  WHERE event_type = 'view' GROUP BY 1
             |), t2 AS (
             |  SELECT e.user_id, min(e.ts) AS t2
             |  FROM e JOIN t1 ON e.user_id = t1.user_id
             |  WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1
             |), t3 AS (
             |  SELECT e.user_id, min(e.ts) AS t3
             |  FROM e JOIN t2 ON e.user_id = t2.user_id
             |  WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1
             |), u AS (SELECT DISTINCT user_id FROM e
             |), funnel AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n_users,
             |    CAST(count(t1.t1) AS BIGINT) AS stage_view,
             |    CAST(count(t2.t2) AS BIGINT) AS stage_click,
             |    CAST(count(t3.t3) AS BIGINT) AS stage_purchase,
             |    CAST(sum(CAST(floor(epoch(t3.t3)) AS BIGINT)
             |           - CAST(floor(epoch(t1.t1)) AS BIGINT)) AS BIGINT)
             |      AS total_convert_s
             |  FROM u LEFT JOIN t1 USING (user_id)
             |         LEFT JOIN t2 USING (user_id)
             |         LEFT JOIN t3 USING (user_id)
             |)
             |SELECT n_users, stage_view, stage_click, stage_purchase,
             |  CAST(stage_click AS DOUBLE)
             |    / CAST(nullif(stage_view, 0) AS DOUBLE) AS conv_click,
             |  CAST(stage_purchase AS DOUBLE)
             |    / CAST(nullif(stage_click, 0) AS DOUBLE) AS conv_purchase,
             |  CAST(stage_purchase AS DOUBLE)
             |    / CAST(nullif(stage_view, 0) AS DOUBLE) AS conv_overall,
             |  total_convert_s,
             |  CAST(total_convert_s AS DOUBLE)
             |    / CAST(nullif(stage_purchase, 0) AS DOUBLE) AS mean_convert_s
             |FROM funnel""".stripMargin)),

    // ------------------------------------------------------------------
    // p59: URL CANONICALIZATION DEDUP — the web-crawl dedup stage that
    // runs BEFORE any content dedup: normalize each document's URL
    // (lowercase host, strip `www.`, drop the default port, drop the
    // fragment, drop tracking params (`utm*`, `ref=`), sort the
    // surviving query params, trim the trailing slash) and collapse
    // documents whose canonical URL collides, keeping the lowest
    // doc_id. The corpus ships no URL column, so each doc synthesizes
    // one deterministically (md5-derived bucket = the "real" page
    // identity; doc_id-derived junk = the per-crawl noise the
    // canonicalizer must strip) — the oracle rebuilds the same URLs
    // and canonicalizes them with its own string/array functions, so
    // the hash compare verifies the full normalization algorithm.
    //
    // 100 TB shape: synthesis + canonicalization are pure codegen
    // projections (regexp + array HOFs, no UDFs); the only shuffle is
    // the final groupBy on the canonical key with map-side partials.
    QDef(
      "p59_url_dedup",
      (s, d) => {
        val raw = docs(s, d).select(col("doc_id"),
            expr("graft_md5longs(concat('url:', CAST(doc_id AS STRING))).h1 % 40")
              .as("b"))
          .select(col("doc_id"), expr(
            """concat(
              |  'https://',
              |  CASE WHEN doc_id % 3 = 0 THEN 'WWW.Example.COM'
              |       ELSE 'www.example.com' END,
              |  CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END,
              |  '/p/', CAST(b AS STRING),
              |  CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END,
              |  '?',
              |  CASE WHEN doc_id % 2 = 0
              |    THEN concat('utm_source=feed&id=', CAST(b % 13 AS STRING),
              |                '&ref=', CAST(doc_id % 7 AS STRING),
              |                '&cat=', CAST(b % 5 AS STRING))
              |    ELSE concat('cat=', CAST(b % 5 AS STRING),
              |                '&utm_campaign=x&id=', CAST(b % 13 AS STRING))
              |  END,
              |  CASE WHEN doc_id % 4 = 0
              |       THEN concat('#sec', CAST(doc_id % 3 AS STRING))
              |       ELSE '' END)""".stripMargin).as("url"))
        // the canonicalizer proper — generic over any `url` column
        val canon = raw
          .withColumn("host",
            expr("regexp_extract(url, '^https?://([^/:?#]+)', 1)"))
          .withColumn("path",
            expr("regexp_extract(url, '^https?://[^/:?#]+(?::[0-9]+)?([^?#]*)', 1)"))
          .withColumn("q", expr("regexp_extract(url, '\\\\?([^#]*)', 1)"))
          .withColumn("canon_url", expr(
            """concat(
              |  'https://',
              |  regexp_replace(lower(host), '^www\\.', ''),
              |  CASE WHEN length(path) > 1 AND endswith(path, '/')
              |       THEN substr(path, 1, length(path) - 1) ELSE path END,
              |  CASE WHEN array_join(array_sort(filter(split(q, '&'),
              |         x -> x <> '' AND NOT startswith(x, 'utm')
              |              AND NOT startswith(x, 'ref='))), '&') = ''
              |       THEN ''
              |       ELSE concat('?', array_join(array_sort(filter(split(q, '&'),
              |         x -> x <> '' AND NOT startswith(x, 'utm')
              |              AND NOT startswith(x, 'ref='))), '&')) END)""".stripMargin))
        canon.groupBy("canon_url").agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("url")).as("n_raw_variants"),
          min(col("doc_id")).as("keeper_id"))
      },
      Some("""WITH raw AS (
             |  SELECT doc_id,
             |    CAST(('0x' || substr(md5('url:' || CAST(doc_id AS VARCHAR)), 1, 13))
             |      AS BIGINT) % 40 AS b
             |  FROM documents
             |), urls AS (
             |  SELECT doc_id,
             |    'https://'
             |    || CASE WHEN doc_id % 3 = 0 THEN 'WWW.Example.COM'
             |            ELSE 'www.example.com' END
             |    || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END
             |    || '/p/' || CAST(b AS VARCHAR)
             |    || CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END
             |    || '?'
             |    || CASE WHEN doc_id % 2 = 0
             |         THEN 'utm_source=feed&id=' || CAST(b % 13 AS VARCHAR)
             |              || '&ref=' || CAST(doc_id % 7 AS VARCHAR)
             |              || '&cat=' || CAST(b % 5 AS VARCHAR)
             |         ELSE 'cat=' || CAST(b % 5 AS VARCHAR)
             |              || '&utm_campaign=x&id=' || CAST(b % 13 AS VARCHAR)
             |       END
             |    || CASE WHEN doc_id % 4 = 0
             |            THEN '#sec' || CAST(doc_id % 3 AS VARCHAR)
             |            ELSE '' END AS url
             |  FROM raw
             |), parts AS (
             |  SELECT doc_id, url,
             |    regexp_extract(url, '^https?://([^/:?#]+)', 1) AS host,
             |    regexp_extract(url, '^https?://[^/:?#]+(?::[0-9]+)?([^?#]*)', 1) AS path,
             |    regexp_extract(url, '\?([^#]*)', 1) AS q
             |  FROM urls
             |), canon AS (
             |  SELECT doc_id, url,
             |    'https://'
             |    || regexp_replace(lower(host), '^www\.', '')
             |    || CASE WHEN length(path) > 1 AND path LIKE '%/'
             |            THEN substr(path, 1, length(path) - 1) ELSE path END
             |    || CASE WHEN array_to_string(list_sort(list_filter(
             |              string_split(q, '&'),
             |              x -> x <> '' AND NOT starts_with(x, 'utm')
             |                   AND NOT starts_with(x, 'ref='))), '&') = ''
             |         THEN ''
             |         ELSE '?' || array_to_string(list_sort(list_filter(
             |              string_split(q, '&'),
             |              x -> x <> '' AND NOT starts_with(x, 'utm')
             |                   AND NOT starts_with(x, 'ref='))), '&') END
             |      AS canon_url
             |  FROM parts
             |)
             |SELECT canon_url, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(count(DISTINCT url) AS BIGINT) AS n_raw_variants,
             |  min(doc_id) AS keeper_id
             |FROM canon GROUP BY canon_url""".stripMargin)),

    // ------------------------------------------------------------------
    // p60: NEXT-EVENT MARKOV TRANSITIONS — the first-order behavioral
    // model behind session analytics and synthetic-trace generation:
    // per user, events order by (ts, event_id) and each event pairs
    // with its successor via `lead` in ONE user_id window; transition
    // counts aggregate globally and each row's probability is its
    // count over the from-state total (a |states|-sized window — 5
    // rows here — never a corpus-scale second pass). Counts are exact
    // bigints; each probability is ONE IEEE division.
    //
    // 100 TB shape: one shuffle by user_id for the lead window, one
    // map-side-combined groupBy down to |states|² rows; the from-state
    // normalization runs on those |states|² rows only.
    QDef(
      "p60_markov_transitions",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val pairs = e.withColumn("to_type", lead(col("event_type"), 1).over(w))
          .where(col("to_type").isNotNull)
          .select(col("event_type").as("from_type"), col("to_type"))
        pairs.groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
          .withColumn("p", col("n").cast("double") /
            sum(col("n")).over(Window.partitionBy("from_type")).cast("double"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_type, event_id,
             |         make_timestamp(epoch_ns(ts) // 1000) AS ts
             |  FROM events
             |), pairs AS (
             |  SELECT event_type AS from_type,
             |    lead(event_type) OVER (PARTITION BY user_id
             |                           ORDER BY ts, event_id) AS to_type
             |  FROM e
             |), c AS (
             |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
             |  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
             |)
             |SELECT from_type, to_type, n,
             |  CAST(n AS DOUBLE) /
             |    CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
             |FROM c""".stripMargin)),

    // ------------------------------------------------------------------
    // p61: KEEP-FIRST PARAGRAPH DEDUP — C4's exact paragraph-level
    // rule (distinct from p36, which removes corpus-FREQUENT
    // boilerplate): every duplicated segment keeps only its FIRST
    // occurrence in corpus order (doc_id, then position) and later
    // occurrences are scrubbed, then documents reassemble in original
    // order. First-occurrence resolution is `row_number() = 1` in one
    // window partitioned by segment text — at 100 TB that partition
    // key is the dedup hash space itself (skew-free by construction;
    // a pathological mega-duplicate segment is exactly the row a
    // salting pre-pass would cap, noted here as the known knob).
    //
    // 100 TB shape: two shuffles total — segments by content for the
    // keep-first window, survivors by doc_id for reassembly; the
    // per-doc collect_list is bounded by document length, never by
    // corpus size. No joins.
    QDef(
      "p61_paragraph_dedup",
      (s, d) => {
        val segs = docs(s, d)
          .withColumn("toks", expr(toksExpr))
          .select(col("doc_id"), posexplode(expr(spanSegsExpr)).as(Seq("pos", "seg")))
        val w = Window.partitionBy("seg").orderBy(col("doc_id"), col("pos"))
        segs.withColumn("keep", row_number().over(w) === 1)
          .groupBy("doc_id").agg(
            sum(when(col("keep"), 1L).otherwise(0L)).as("segs_kept"),
            sum(when(col("keep"), 0L).otherwise(1L)).as("segs_dropped"),
            expr("array_join(transform(array_sort(collect_list(" +
              "CASE WHEN keep THEN struct(pos, seg) END)), x -> x.seg), ' ')")
              .as("kept_text"))
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id, $toksDuck AS tk FROM documents
              |), seg AS (
              |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
              |    array_to_string(tk[CAST(i * $SpanLen + 1 AS INT) :
              |                       CAST(i * $SpanLen + $SpanLen AS INT)], ' ') AS seg
              |  FROM (SELECT doc_id, tk,
              |          unnest(range(CAST(ceil(len(tk) / ${SpanLen}.0) AS BIGINT))) AS i
              |        FROM toks)
              |), flagged AS (
              |  SELECT doc_id, pos, seg,
              |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) = 1 AS keep
              |  FROM seg
              |)
              |SELECT doc_id,
              |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS segs_kept,
              |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS segs_dropped,
              |  coalesce(string_agg(CASE WHEN keep THEN seg END, ' ' ORDER BY pos), '')
              |    AS kept_text
              |FROM flagged GROUP BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // p62: VARIABLE-LENGTH MAXIMAL-REPEAT MINING — the Lee et al. 2022
    // suffix-array question p50 can only answer at a fixed W: which
    // token sequences of ANY length recur in the corpus, and where?
    // Method = Karp–Miller–Rosenberg prefix doubling, with the key
    // structural observation that every dyadic window lives INSIDE one
    // document: level-k class of position (doc, pos) identifies the
    // exact 2^k-token window starting there; level k+1 is
    // H(cls_k(pos), cls_k(pos + 2^k)) for a 128-bit hash H (two
    // independent xxhash64 planes in Spark; the oracle replays the
    // same recurrence with md5 — classes are engine-internal, only
    // the class-equality-derived stats are compared) — a DOC-LOCAL
    // array recurrence, so all RepMaxK doubling rounds run as chained
    // codegen'd array HOFs (transform over slice) in ONE narrow pass
    // per document, zero shuffles (the first cut phrased each round as
    // a corpus-wide (doc_id, pos) self-join: 42 s at sf0.1; join-free
    // doubling + corpus shuffles only where the problem is genuinely
    // global — class counting — is ~20×). No corpus-wide sort either
    // (the classical SA construction sorts; the hash formulation needs
    // only equality — 128-bit class equality is exact window equality
    // modulo collisions). A level-k class is a REPEAT
    // iff it occurs >= 2 times (self-overlap counts, as in suffix-array
    // repeat mining); it is MAXIMAL iff at least one occurrence cannot
    // be extended to a repeated 2^(k+1)-window on either side (covered
    // iff the (k+1)-window at pos — right extension — or at pos - 2^k —
    // left extension — is itself repeated; any sub-window of a repeated
    // window is repeated, so this single-level check is transitively
    // consistent across the dyadic hierarchy) AND it is LEFT-MAXIMAL in
    // the classical suffix-tree sense: its occurrences carry >= 2
    // distinct left-context tokens, or the only left context is a
    // document start (extension impossible). Without the left check the
    // top-N drowns in sliding shifts of one long duplicated region —
    // every offset of the region is "a repeat" but only the
    // context-boundary windows are mining signal. Report = top RepTopN by
    // (rep_len DESC, n_occ DESC, min_gid): TakeOrderedAndProject over
    // class-level aggregates, then ONE tiny (<= RepTopN-row, broadcast)
    // join back to the docs to materialize the repeat text — the text
    // join happens AFTER the limit, so at 100 TB nothing corpus-sized
    // is ever sorted or re-joined for presentation. gid = doc_id *
    // RepGidCap + pos is the deterministic global occurrence id both
    // engines agree on for survivor picking; the assert_true guard
    // (evaluated inside the gid projection so pruning can't drop it)
    // aborts if any doc could overflow the id space. The oracle replays
    // every doubling round and the per-level maximality join as chained
    // CTEs, so the hash compare verifies classes, counts, coverage AND
    // the reconstructed repeat text byte-for-byte.
    QDef(
      "p62_repeat_mining",
      (s, d) => {
        val t = docs(s, d).withColumn("toks", expr(toksExpr))
          .select(col("doc_id"), col("toks"))
        val maxLen = RepGidCap - (1L << RepMaxK)
        // pin() = localCheckpoint only while the corpus is small
        // enough for executor block storage to be a safe cache (one
        // metadata-only parquet count) — see repCheckpointMaxDocs.
        val small = docs(s, d).count() <= repCheckpointMaxDocs
        def pin(df: DataFrame): DataFrame =
          if (small) df.localCheckpoint() else df
        // Doc-local doubling + emission in ONE static kernel call
        // (round 15, optimization, guide §1.2 step 2 + §2.3 — see
        // functions/KmrEmit.scala): the classes are INTERNAL — no
        // output column carries a hash, the oracle replays its own
        // md5 chain and only the class-equality-derived stats are
        // compared — so the md5 HOF chain (8n digests + hex
        // allocations per doc through maxK interpreted `transform`
        // lambdas, 32-char class strings through all three corpus
        // shuffles) becomes maxK primitive long-array loops over TWO
        // independent xxhash64 planes (struct<a,b> = 128 bits,
        // 16-byte class keys; P(pair collision) ≈ 2^-128, the bound
        // md5 already carried). Left context = the RAW previous token
        // (token equality IS class equality, so countDistinct is
        // unchanged — exact, in fact), NULL at the document start;
        // the start marker travels as a flag (see has_start below).
        // E stays the ONLY corpus-scale frame (~6 rows per token),
        // checkpointed once for its two consumers.
        val e = t
          .select(col("doc_id"), size(col("toks")).as("n_toks"),
            explode(expr(s"graft_kmr_emit(toks, $RepMinK, $RepMaxK)")).as("w"))
          .select(col("doc_id"), col("w.k").as("k"), col("w.pos").as("pos"),
            (col("doc_id") * RepGidCap + col("w.pos") +
              coalesce(assert_true(col("n_toks") <= maxLen,
                lit(s"p62: doc longer than $maxLen tokens overflows gid"))
                .cast("long"), lit(0L))).as("gid"),
            col("w.cls").as("cls"), col("w.left_sym").as("left_sym"))
        val ePinned = pin(e)
        // corpus-global phase: classes occurring >= 2 times, one
        // (k, cls) shuffle; occurrences of those classes, one join on
        // the same key (pinned — used as stats input AND as the
        // next-lower level's coverage source; above the threshold
        // both consumers recompute from reused shuffle files)
        // SHUFFLE_HASH (round 16, same reasoning as cov below): reps
        // is CORPUS-SCALE (every repeated (k, cls)), so it must never
        // be a broadcast build side — at factor 26 the planner's
        // post-checkpoint size estimate slipped under the threshold
        // and the broadcast build ran the driver out of memory. This
        // join sits INSIDE the pinned occ materialization, so the
        // committed plan dumps (which truncate at the checkpoint)
        // never showed it. Keys are the same (k, cls) the groupBy
        // already partitions by; build side is distinct per key.
        val reps = ePinned.groupBy("k", "cls").agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= 2).select("k", "cls")
          .hint("SHUFFLE_HASH")
        val occ = pin(ePinned.join(reps, Seq("k", "cls")))
        // coverage: a level-k occurrence is covered iff the (k+1)-window
        // at pos (right extension) or pos - 2^k (left extension, i.e.
        // this pos = up.pos + 2^k) is itself repeated. Level RepMaxK
        // has no k+1 source, so it never matches — covered = 0 free.
        val up = occ.filter(col("k") > RepMinK)
        // SHUFFLE_HASH (round 16): cov is CORPUS-SCALE (distinct
        // coverage positions of every repeated occurrence), so it must
        // never be the broadcast side — but after round 15 narrowed
        // the emission frame (16-byte classes for 32-char strings),
        // Catalyst's size estimate for cov slipped under the 10 MB
        // auto-broadcast threshold and the factor-26 re-measure DIED
        // building the broadcast (droppable only because the estimate,
        // not the data, shrank). The join keys (k, doc_id, pos) are
        // near-unique, so a shuffled hash join is skew-safe, sort-free
        // and partition-local at any scale (guide §3.1: pick the
        // strategy deliberately).
        val cov = up.select((col("k") - 1).as("k"), col("doc_id"), col("pos"))
          .unionAll(up.select((col("k") - 1).as("k"), col("doc_id"),
            (col("pos") + expr("shiftleft(CAST(1 AS BIGINT), k - 1)")).as("pos")))
          .distinct().withColumn("c1", lit(1L))
          .hint("SHUFFLE_HASH")
        val stats = occ.join(cov, Seq("k", "doc_id", "pos"), "left")
          .withColumn("covered", coalesce(col("c1"), lit(0L)))
          .groupBy("k", "cls").agg(
            count(lit(1)).as("n_occ"),
            countDistinct(col("doc_id")).as("n_docs"),
            sum(lit(1L) - col("covered")).as("n_unc"),
            // n_left_ctx = distinct left TOKENS (countDistinct skips
            // the NULL start marker) + 1 if any occurrence sits at a
            // document start — exactly the old countDistinct over
            // {md5 classes} ∪ {'^'}. The old `min_ls === '^'` filter
            // arm only ever DECIDED when the start marker was the
            // sole context (any second context satisfies the >= 2 arm
            // first), so it is equivalently `has_start = 1`.
            (countDistinct(col("left_sym")) +
              max(when(col("left_sym").isNull, 1L).otherwise(0L)))
              .as("n_left_ctx"),
            max(when(col("left_sym").isNull, 1L).otherwise(0L)).as("has_start"),
            min(col("gid")).as("min_gid"))
          .filter(col("n_unc") >= 1 &&
            (col("n_left_ctx") >= 2 || col("has_start") === 1L))
          .select(expr("shiftleft(CAST(1 AS BIGINT), k)").as("rep_len"),
            col("n_occ"), col("n_docs"), col("n_unc"),
            col("n_left_ctx"), col("min_gid"))
        val top = stats
          .orderBy(col("rep_len").desc, col("n_occ").desc, col("min_gid"))
          .limit(RepTopN)
          .withColumn("sample_doc", expr(s"min_gid DIV $RepGidCap"))
          .withColumn("sample_pos", expr(s"min_gid % $RepGidCap"))
        top.join(t, top("sample_doc") === t("doc_id"))
          .select(col("rep_len"), col("n_occ"), col("n_docs"), col("n_unc"),
            col("n_left_ctx"), col("sample_doc"), col("sample_pos"),
            expr("""array_join(
                   |  slice(toks, CAST(sample_pos AS INT), CAST(rep_len AS INT)),
                   |  ' ')""".stripMargin).as("repeat_text"))
      },
      Some {
        val doubling = (1 to RepMaxK).map { k =>
          val p = k - 1
          val step = 1L << p
          s"""c$k AS (
             |  SELECT a.doc_id, a.pos, a.gid, md5(a.cls || ':' || b.cls) AS cls
             |  FROM c$p a JOIN c$p b
             |    ON a.doc_id = b.doc_id AND b.pos = a.pos + $step
             |)""".stripMargin
        }.mkString(", ")
        val levels = (RepMinK to RepMaxK).map { k =>
          val len = 1L << k
          val rep =
            s"""r$k AS (
               |  SELECT cls FROM c$k GROUP BY cls HAVING count(*) >= 2
               |), o$k AS (
               |  SELECT c$k.* FROM c$k JOIN r$k USING (cls)
               |)""".stripMargin
          val st =
            if (k == RepMaxK)
              s"""st$k AS (
                 |  SELECT CAST($len AS BIGINT) AS rep_len,
                 |    CAST(count(*) AS BIGINT) AS n_occ,
                 |    CAST(count(DISTINCT o.doc_id) AS BIGINT) AS n_docs,
                 |    CAST(count(*) AS BIGINT) AS n_unc,
                 |    CAST(count(DISTINCT coalesce(lc.lsym, '^')) AS BIGINT)
                 |      AS n_left_ctx,
                 |    min(o.gid) AS min_gid
                 |  FROM o$k o LEFT JOIN lc
                 |    ON o.doc_id = lc.doc_id AND o.pos = lc.lpos
                 |  GROUP BY cls
                 |  HAVING count(DISTINCT coalesce(lc.lsym, '^')) >= 2
                 |      OR min(coalesce(lc.lsym, '^')) = '^'
                 |)""".stripMargin
            else
              s"""cov$k AS (
                 |  SELECT DISTINCT doc_id, pos FROM (
                 |    SELECT doc_id, pos FROM o${k + 1}
                 |    UNION ALL
                 |    SELECT doc_id, pos + $len FROM o${k + 1})
                 |), st$k AS (
                 |  SELECT CAST($len AS BIGINT) AS rep_len,
                 |    CAST(count(*) AS BIGINT) AS n_occ,
                 |    CAST(count(DISTINCT o.doc_id) AS BIGINT) AS n_docs,
                 |    CAST(sum(CASE WHEN v.pos IS NULL THEN 1 ELSE 0 END)
                 |      AS BIGINT) AS n_unc,
                 |    CAST(count(DISTINCT coalesce(lc.lsym, '^')) AS BIGINT)
                 |      AS n_left_ctx,
                 |    min(o.gid) AS min_gid
                 |  FROM o$k o LEFT JOIN cov$k v
                 |    ON o.doc_id = v.doc_id AND o.pos = v.pos
                 |  LEFT JOIN lc
                 |    ON o.doc_id = lc.doc_id AND o.pos = lc.lpos
                 |  GROUP BY cls
                 |  HAVING sum(CASE WHEN v.pos IS NULL THEN 1 ELSE 0 END) >= 1
                 |    AND (count(DISTINCT coalesce(lc.lsym, '^')) >= 2
                 |         OR min(coalesce(lc.lsym, '^')) = '^')
                 |)""".stripMargin
          s"$rep, $st"
        }.mkString(", ")
        val unioned = (RepMinK to RepMaxK)
          .map(k => s"SELECT * FROM st$k").mkString(" UNION ALL ")
        s"""WITH t AS (
           |  SELECT doc_id, $toksDuck AS toks FROM documents
           |), c0 AS (
           |  SELECT doc_id, CAST(p AS BIGINT) AS pos,
           |    doc_id * $RepGidCap + CAST(p AS BIGINT) AS gid,
           |    md5(toks[CAST(p AS INT)]) AS cls
           |  FROM t, LATERAL unnest(range(1, len(toks) + 1)) u(p)
           |), lc AS (
           |  SELECT doc_id, pos + 1 AS lpos, cls AS lsym FROM c0
           |), $doubling, $levels, allr AS (
           |  $unioned
           |), top AS (
           |  SELECT * FROM allr
           |  ORDER BY rep_len DESC, n_occ DESC, min_gid LIMIT $RepTopN
           |)
           |SELECT top.rep_len, top.n_occ, top.n_docs, top.n_unc,
           |  top.n_left_ctx,
           |  top.min_gid // $RepGidCap AS sample_doc,
           |  top.min_gid % $RepGidCap AS sample_pos,
           |  array_to_string(toks[
           |    CAST(top.min_gid % $RepGidCap AS INT) :
           |    CAST(top.min_gid % $RepGidCap + top.rep_len - 1 AS INT)], ' ')
           |    AS repeat_text
           |FROM top JOIN t ON t.doc_id = top.min_gid // $RepGidCap""".stripMargin
      }),

    // ------------------------------------------------------------------
    // p63: PNG IDAT PIXEL DECODE — p10/p16 stop at the container walk;
    // this is the full raster path a real image-curation pass needs:
    // per doc a REAL truecolor PNG is synthesized (pixel v(x,y,c) =
    // (doc_id·7 + x·3 + y·5 + c·11 + (x·y) mod 13) mod 256, each
    // scanline filtered with filter (doc_id+y) mod 5 — all five PNG
    // filter types exercised — zlib-deflated, split into ≤512-byte
    // IDAT chunks), and the decoder recovers the raster FROM THE BYTES:
    // IDAT concatenation, java.util.zip.Inflater, and the five filter
    // reconstructions (None/Sub/Up/Average/Paeth, spec §9). Every
    // output stat is computed from the DECODED pixels and filter bytes
    // — pixel sum/min/max, a position-weighted checksum (index-sensitive,
    // so a transposed or row-shifted reconstruction hash-mismatches),
    // and the filter histogram — while the oracle recomputes them from
    // the SYNTHESIS formulas, so any defect in filtering, deflate,
    // inflate, or reconstruction diverges. 100 TB shape: same as
    // p10/p16 — narrow typed mapPartitions, zero shuffle, decode cost
    // scales with bytes; ImageCodecSpec additionally pins the decoder
    // pixel-for-pixel against JDK ImageIO's independent PNG decode.
    QDef(
      "p63_png_pixel_decode",
      (s, d) => {
        import s.implicits._
        docs(s, d).select(col("doc_id")).as[Long].mapPartitions(_.map { id =>
          val w = (8L + id % 17L).toInt
          val h = (8L + (id * 5L) % 13L).toInt
          val stride = w * 3
          val px = new Array[Byte](stride * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              var c = 0
              while (c < 3) {
                val v = (id * 7L + x * 3L + y * 5L + c * 11L +
                  (x.toLong * y.toLong) % 13L) % 256L
                px(y * stride + x * 3 + c) = v.toByte
                c += 1
              }
              x += 1
            }
            y += 1
          }
          val png = ImageCodec.synthesizePixelPng(w, h, px,
            yy => ((id + yy) % 5L).toInt)
          val img = ImageCodec.decodePixels(png)
          var sum = 0L; var mn = 255L; var mx = 0L; var wsum = 0L
          var i = 0
          while (i < img.pixels.length) {
            val v = (img.pixels(i) & 0xff).toLong
            sum += v
            if (v < mn) mn = v
            if (v > mx) mx = v
            wsum += v * ((i % 997) + 1)
            i += 1
          }
          val fh = new Array[Long](5)
          img.filters.foreach(ft => fh(ft) += 1)
          PixelStats(id, img.width.toLong, img.height.toLong,
            img.pixels.length.toLong, sum, mn, mx, wsum,
            fh(0), fh(1), fh(2), fh(3), fh(4))
        }).toDF()
      },
      Some("""WITH dims AS (
             |  SELECT doc_id, 8 + doc_id % 17 AS w, 8 + (doc_id * 5) % 13 AS h
             |  FROM documents
             |), px AS (
             |  SELECT doc_id, w, h, x, y, c,
             |    (doc_id * 7 + x * 3 + y * 5 + c * 11 + (x * y) % 13) % 256 AS v,
             |    (y * w + x) * 3 + c AS i
             |  FROM dims,
             |    LATERAL unnest(range(0, w)) ux(x),
             |    LATERAL unnest(range(0, h)) uy(y),
             |    LATERAL unnest(range(0, 3)) uc(c)
             |), st AS (
             |  SELECT doc_id,
             |    CAST(sum(v) AS BIGINT) AS pix_sum,
             |    CAST(min(v) AS BIGINT) AS pix_min,
             |    CAST(max(v) AS BIGINT) AS pix_max,
             |    CAST(sum(v * (i % 997 + 1)) AS BIGINT) AS pix_wsum
             |  FROM px GROUP BY doc_id
             |), fh AS (
             |  SELECT doc_id,
             |    CAST(sum(CASE WHEN (doc_id + y) % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_f0,
             |    CAST(sum(CASE WHEN (doc_id + y) % 5 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_f1,
             |    CAST(sum(CASE WHEN (doc_id + y) % 5 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_f2,
             |    CAST(sum(CASE WHEN (doc_id + y) % 5 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_f3,
             |    CAST(sum(CASE WHEN (doc_id + y) % 5 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_f4
             |  FROM dims, LATERAL unnest(range(0, h)) uy(y)
             |  GROUP BY doc_id
             |)
             |SELECT d.doc_id, CAST(w AS BIGINT) AS width,
             |  CAST(h AS BIGINT) AS height,
             |  CAST(w * h * 3 AS BIGINT) AS n_bytes_raw,
             |  st.pix_sum, st.pix_min, st.pix_max, st.pix_wsum,
             |  fh.n_f0, fh.n_f1, fh.n_f2, fh.n_f3, fh.n_f4
             |FROM dims d JOIN st USING (doc_id) JOIN fh USING (doc_id)""".stripMargin)),

    // ------------------------------------------------------------------
    // p65: TRIGRAM FUZZY-MATCH ENTITY RESOLUTION (round 10) — the
    // dirty-data joining stage every crawl/metadata pipeline needs:
    // match corrupted surface strings against a canonical entity
    // table WITHOUT an equality key. Shape = set-similarity join via
    // a character-trigram inverted index (the prefix-filtering
    // family, p13's pattern applied cross-table): dirty names explode
    // to distinct trigrams (zero-shuffle projection first), the
    // entity index is DF-capped (a trigram held by > EntDfCap
    // entities never generates candidates — at 100 TB that bounds
    // every posting list, so the index join can never blow up),
    // candidates need FuzzMinShared shared rare trigrams, then exact
    // trigram-set Jaccard over the FULL sets verifies (integer
    // compare: jac ≥ 0.5 ⇔ 2·inter ≥ union), and each doc keeps its
    // best match (jac desc — one IEEE division, bit-identical cross-
    // engine — then entity asc). Synthesis is md5-deterministic on
    // both sides (substitute/delete/duplicate edits), so the oracle
    // replays corruption, indexing, capping, candidacy, verification
    // and ranking — the full algorithm hash-verifies.
    QDef(
      "p65_fuzzy_entity_match",
      (s, d) => fuzzyEntityMatch(s, d),
      Some(fuzzyMatchOracle))
  )

  /** p56/p57 shared core: the BpeK-round BPE training loop — ONE
    * corpus-scale word-count groupBy, then vocab-scale rounds with a
    * 1-row argmax collect each. Returns (w, cnt, toks). */
  private def bpeTrain(s: SparkSession, d: String): DataFrame = {
    val wc = docs(s, d)
      .select(explode(expr(toksExpr)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .withColumn("toks",
        expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))"))
      .localCheckpoint()
    var words = wc
    for (_ <- 1 to BpeK) {
      val best = words
        .select(explode(expr(
          // CASE guard: sequence(1, 0) DESCENDS in Spark, so a
          // single-piece word would probe index size+1
          """CASE WHEN size(toks) >= 2 THEN
            |  transform(sequence(1, size(toks) - 1),
            |    i -> struct(element_at(toks, i) AS a,
            |                element_at(toks, i + 1) AS b))
            |ELSE CAST(array() AS ARRAY<STRUCT<a: STRING, b: STRING>>)
            |END""".stripMargin))
          .as("p"), col("cnt"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("cnt").as("c"))
        .orderBy(col("c").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.nonEmpty) {
        val (a, b) = (best(0).getString(0), best(0).getString(1))
        // localCheckpoint per round (round 15, optimization): without
        // it round r's argmax job re-evaluates ALL r-1 earlier merge
        // folds from wc (O(BpeK²) fold evaluations) and — the bigger
        // local cost — re-analyzes a plan whose fold expression tree
        // grows by one nesting level per round. The checkpoint holds
        // vocab-sized rows, the same executor-storage class as wc's
        // existing checkpoint. Measured sf0.1: p56 1.41 → ~0.9 s,
        // p57 1.35 → ~0.9 s; identical rows (the fold was already
        // evaluated every round — this only stops the re-evaluation).
        words = words.withColumn("toks", expr(bpeMergeFold(a, b)))
          .localCheckpoint()
      }
    }
    words
  }

  /** p56: leftmost-first non-overlapping application of merge (a,b) →
    * ab over a piece array, as a single codegen aggregate-HOF fold:
    * `skip` marks that position i was consumed by a merge begun at
    * i-1. Literals are escaped for Spark's string syntax. */
  private def bpeMergeFold(a: String, b: String): String = {
    def esc(x: String) = x.replace("\\", "\\\\").replace("'", "\\'")
    val (ea, eb, eab) = (esc(a), esc(b), esc(a + b))
    s"""aggregate(sequence(1, size(toks)),
       |  named_struct('out', CAST(array() AS ARRAY<STRING>), 'skip', false),
       |  (acc, i) -> CASE
       |    WHEN acc.skip THEN named_struct('out', acc.out, 'skip', false)
       |    WHEN i < size(toks) AND element_at(toks, i) = '$ea'
       |         AND try_element_at(toks, i + 1) = '$eb'
       |      THEN named_struct('out', array_append(acc.out, '$eab'),
       |                        'skip', true)
       |    ELSE named_struct('out', array_append(acc.out, element_at(toks, i)),
       |                      'skip', false) END,
       |  acc -> acc.out)""".stripMargin
  }

  /** p56 oracle: the BpeK rounds unrolled into chained DuckDB CTEs.
    * Round r: `b_r` = 1-row argmax pair over `w_{r-1}`; `m_r` joins it
    * onto every word; `r_r` (recursive) walks each word leftmost,
    * consuming 2 positions on a match and 1 otherwise; `w_r` keeps the
    * finished rows. Lists are 1-indexed in DuckDB, matching the Spark
    * fold's element_at. */
  private lazy val bpeOracleCtes: String = {
    val rounds = (1 to BpeK).map { r =>
      val p = r - 1
      s"""b$r AS (
         |  SELECT a, b FROM (
         |    SELECT toks[CAST(i AS INT)] AS a,
         |           toks[CAST(i AS INT) + 1] AS b, sum(cnt) AS c
         |    FROM w$p, range(1, 64) rng(i)
         |    WHERE CAST(i AS INT) <= len(toks) - 1
         |    GROUP BY 1, 2)
         |  ORDER BY c DESC, a, b LIMIT 1
         |), m$r AS (
         |  SELECT w.w, w.cnt, w.toks, b$r.a, b$r.b FROM w$p w CROSS JOIN b$r
         |), r$r AS (
         |  SELECT w, cnt, toks, a, b, 1 AS pos,
         |         CAST([] AS VARCHAR[]) AS out FROM m$r
         |  UNION ALL
         |  SELECT w, cnt, toks, a, b,
         |    CASE WHEN pos < len(toks) AND toks[pos] = a
         |              AND toks[pos + 1] = b
         |         THEN pos + 2 ELSE pos + 1 END,
         |    CASE WHEN pos < len(toks) AND toks[pos] = a
         |              AND toks[pos + 1] = b
         |         THEN list_append(out, a || b)
         |         ELSE list_append(out, toks[pos]) END
         |  FROM r$r WHERE pos <= len(toks)
         |), w$r AS (
         |  SELECT w, cnt, out AS toks FROM r$r WHERE pos > len(toks)
         |)""".stripMargin
    }.mkString(", ")
    s"""w0 AS (
       |  SELECT w, cnt, string_split(w, '') AS toks FROM (
       |    SELECT t AS w, count(*) AS cnt FROM (
       |      SELECT unnest($toksDuck) AS t FROM documents) GROUP BY t)
       |), $rounds""".stripMargin
  }

  // ---- shared helpers ---------------------------------------------------

  /** The p02/p30 shared core: MinHash-LSH candidate pairs with exact
    * integer-Jaccard verification — returns (ida, idb, inter, uni)
    * with ida < idb and jac >= 0.8 (5*inter >= 4*uni).
    *
    * Signatures are built from RAW shingles: min() is
    * duplicate-insensitive, so the full-corpus distinct is never
    * needed (details inline below).
    */
  /** The verified near-dup pairs frame is the single most expensive
    * artifact of a dedup campaign and has THREE consumers (p02 pairs,
    * p30 clustering, p54 degree profile). In a real 100 TB campaign
    * the pair-production job (p02) writes the pairs TABLE once and
    * every downstream job reads it — recomputing the MinHash pipeline
    * per consumer doubles the campaign's biggest job (VERDICT r10 #5:
    * p54 did exactly that). This is the in-session spelling of the
    * same contract: ONE parquet materialization per (application,
    * dir), built on first consumer demand, read by all consumers.
    * Parquet (not persist/localCheckpoint) because Verify and Bench
    * blanket-unpersist RDD blocks between queries — a file
    * materialization survives any cache cleanup and any lineage
    * truncation. p02 itself calls [[buildMinhashPairs]] directly so
    * its bench row keeps measuring the PIPELINE, not a parquet read. */
  private val pairsMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
  // The memoized pairs parquet is the campaign's biggest artifact;
  // without cleanup every Verify/Bench JVM leaked one materialization
  // per application into /tmp (ADVICE r11). One hook for the whole
  // memo — registered on first use, deletes whatever the map holds at
  // JVM exit (the map only ever grows within a JVM).
  private lazy val pairsMemoCleanup: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      pairsMemo.values.forEach { p =>
        try {
          val root = java.nio.file.Paths.get(p)
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(root).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        } catch { case _: Throwable => () }
      }))
  private def sharedMinhashPairs(s: SparkSession, d: String): DataFrame = {
    pairsMemoCleanup
    val path = pairsMemo.computeIfAbsent((s.sparkContext.applicationId, d), _ => {
      val p = java.nio.file.Files.createTempDirectory("graft-pairs-").toString
      buildMinhashPairs(s, d).write.mode("overwrite").parquet(p)
      p
    })
    s.read.parquet(path)
  }

  private def buildMinhashPairs(s: SparkSession, d: String): DataFrame = {
        // so the full-corpus distinct (a shuffle of every shingle) is
        // never needed — map-side partial mins make the signature
        // shuffle one tiny row per doc. Distinct shingle SETS are only
        // materialized for candidate docs (a few, post-banding).
        val shRaw = shingles(s, d) // (doc_id, sh), with duplicates
        // One md5 per shingle, 32 permutations by double hashing
        // (perm_i = h1 + i*h2 over 52-bit halves — overflow-free in
        // int64): a 16× hash-compute reduction vs. md5-per-permutation,
        // identical arithmetic in the DuckDB oracle.
        // md5 once per shingle (the separate projection keeps
        // CollapseProject from inlining the non-cheap kernel into both
        // half references). Round 16: the digest + both 52-bit halves
        // come from ONE fused graft_md5longs call — the md5-expression
        // spelling paid a 32-char hex alloc plus two substr+conv
        // string-parses per shingle. Values bit-identical
        // (Md5LongsSpec pins h1/h2 to the conv(substr(md5)) spelling).
        val hashed = shRaw.select(col("doc_id"), expr("graft_md5longs(sh)").as("m"))
          .select(col("doc_id"),
            col("m.h1").as("h1"), col("m.h2").as("h2"))
        val minhAggs = (0 until NumPerm).map(i =>
          min(col("h1") + lit(i.toLong) * col("h2")).as(s"m$i"))
        val sig = hashed.groupBy("doc_id").agg(minhAggs.head, minhAggs.tail: _*)
        val bandCols = (0 until Bands).map { b =>
          val ms = (b * RowsPerBand until (b + 1) * RowsPerBand).map(i => col(s"m$i"))
          struct(lit(b).as("band"), md5(concat_ws(",", ms: _*)).as("bkey"))
        }
        val buckets = sig
          .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
          .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
        // The candidate set is tiny by construction (band buckets) and
        // consumed three times below — materialize it once so the
        // signature pipeline runs exactly once, not per consumer.
        // localCheckpoint (not Dataset.persist): persist registers in
        // the CacheManager, whose plan-matching made every later
        // invocation repopulate the columnar cache (p02's bench row
        // doubled); the checkpoint is invocation-private. Cross-query
        // reuse doesn't rely on it — [[sharedMinhashPairs]] memoizes
        // a PARQUET materialization, which no cache cleanup or
        // lineage truncation can invalidate.
        val cand = buckets.as("x").join(buckets.as("y"),
            col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("ida"), col("y.doc_id").as("idb"))
          .distinct()
          .localCheckpoint()
        // verify candidates with exact Jaccard (integer arithmetic),
        // over distinct shingles of candidate docs only
        val candIds = cand.select(col("ida").as("doc_id"))
          .unionByName(cand.select(col("idb").as("doc_id"))).distinct()
        val sh = shRaw.join(broadcast(candIds), "doc_id").distinct()
        val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val inter = cand
          .join(sh.as("sa"), col("ida") === col("sa.doc_id"))
          .join(sh.as("sb"),
            col("idb") === col("sb.doc_id") && col("sa.sh") === col("sb.sh"))
          .groupBy("ida", "idb").agg(count(lit(1)).as("inter"))
        inter
          .join(sizes.as("za"), col("ida") === col("za.doc_id"))
          .join(sizes.as("zb"), col("idb") === col("zb.doc_id"))
          .select(col("ida"), col("idb"), col("inter"),
            (col("za.n") + col("zb.n") - col("inter")).as("uni"))
          .filter(col("inter") * 5 >= col("uni") * 4)
  }

  /** Word 3-gram shingles per document, deduped IN-DOC (round 15,
    * optimization): the only consumer is [[buildMinhashPairs]], where
    * the signature mins are duplicate-insensitive and the exact-
    * Jaccard slice applies its own distinct — so dedup inside the
    * projection (zero shuffle) and md5 each distinct-in-doc shingle
    * once instead of once per occurrence. Identical signatures,
    * identical pair set. */
  private def shingles(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .withColumn("toks", expr(toksExpr))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(toks) >= 3
          |THEN array_distinct(transform(sequence(0, size(toks) - 3),
          |               k -> concat(toks[k], ' ', toks[k + 1], ' ', toks[k + 2])))
          |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin)).as("sh"))

  /** p03/p44 shared 32-bit SimHash: bit j is the sign of the
    * token-frequency-weighted sum of (2·bit_j(md5(token)) − 1), where
    * bit_j is the high bit of md5 hex nibble j. Rather than 32
    * substr+instr ops per token, each 8-nibble group packs into a
    * long once (4 convs) and bits are tested by shift: nibble d of
    * group g has its high bit at position 31−4d — same ±1 values as
    * the oracle's substr formulation. One row per token with 32
    * partial-sum columns: the token×bit rows never materialize and
    * the shuffle is one 32-column row per doc per partition. */
  private def simhash32(s: SparkSession, d: String): DataFrame = {
    // Round 16 (optimization, guide expressions/codegen): the four
    // 32-bit digest words come from ONE fused graft_md5longs call —
    // before, each token occurrence paid the md5 expression (digest +
    // 32-char hex alloc) plus 4 substr allocations and 4 conv()
    // string-parses. Values bit-identical (Md5LongsSpec pins g0..g3
    // to the conv(substr(md5)) spelling); the separate projection
    // keeps CollapseProject from inlining the non-cheap kernel into
    // the four field references (the buildMinhashPairs precedent).
    val tok = docs(s, d)
      .select(col("doc_id"), explode(expr(toksExpr)).as("tok"))
      .select(col("doc_id"), expr("graft_md5longs(tok)").as("m"))
      .select(col("doc_id") +: (0 until 4).map(g =>
        col(s"m.g$g").as(s"g$g")): _*)
    val bitSums = (0 until 32).map { j =>
      val (g, dIdx) = (j / 8, j % 8)
      sum(expr(s"CASE WHEN (g$g >> ${31 - 4 * dIdx}) & 1 = 1 THEN 1 ELSE -1 END"))
        .as(s"s$j")
    }
    tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 32).map(j =>
          when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).cast("long").as("simhash"))
  }

  /** The same SimHash as a DuckDB CTE ending in `sim(doc_id, simhash)`. */
  private def simhashOracleCte: String =
    s"""WITH tok AS (
       |  SELECT doc_id, md5(unnest($toksDuck)) AS h FROM documents
       |), bits AS (
       |  SELECT doc_id, j,
       |    sum(CASE WHEN strpos('89abcdef', substr(h, CAST(j AS INT) + 1, 1)) > 0
       |             THEN 1 ELSE -1 END) AS sgn
       |  FROM tok, range(0, 32) t(j) GROUP BY doc_id, j
       |), sim AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN sgn > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM bits GROUP BY doc_id
       |)""".stripMargin

  /** Distinct-free word-bigram EQUALITY CLASSES per document, as a
    * 128-bit two-plane xxhash64 struct (round 15, optimization, guide
    * §2.3). The two consumers (p13, p34) only ever group, join and
    * count bigrams — no output column and no oracle value carries the
    * bigram text (both oracles replay their own string pipeline and
    * only the class-derived counts are compared) — so the class key
    * shuffles as 16 bytes instead of a per-position built string, and
    * the concat allocation disappears from the scan projection.
    * Tokens are whitespace-split (can't contain ' '), so token-pair
    * equality is exactly the old join-string equality; classes match
    * modulo two-plane collisions — ≈2^-128 per pair ASSUMING plane
    * independence (the planes differ only in a seed/prefixed literal,
    * so the bound is heuristic rather than md5-grade; negligible in
    * practice and gated by the oracle hash-compare — ADVICE r15 #1). */
  private def bigrams(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .withColumn("toks", expr(toksExpr))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(toks) >= 2
          |THEN transform(sequence(0, size(toks) - 2),
          |  k -> named_struct('a', xxhash64(1L, toks[k], toks[k + 1]),
          |                    'b', xxhash64(2L, toks[k], toks[k + 1])))
          |ELSE CAST(array() AS ARRAY<STRUCT<a: BIGINT, b: BIGINT>>) END"""
          .stripMargin)).as("sh"))

  /** The p09/p14 shared core: cross-polytope-LSH candidate pairs with
    * exact-cosine verification — returns (ia, ib, cos_sim) with
    * ia < ib and cos ≥ 0.35. See the p09 QDef comment for the tuning
    * history and plan-shape argument. Composite-key arity is derived
    * from the corpus count (annArity — one metadata-only parquet
    * count) so bucket occupancy stays bounded at any scale. */
  /** Corpus-size bound for broadcasting the vector table into the
    * candidate-verify joins (round 14): up to 500k × 64-dim vectors
    * ≈ 300 MB serialized — executor-safe on a real cluster, and it
    * removes TWO full shuffles of the (much larger) candidate-pair
    * table. Past the bound, an explicit shuffle-hash hint still
    * avoids sort-merge's two sorts of the pair table; that path
    * scales to any corpus. */
  private val BroadcastVerifyMaxVecs = 500000L

  private def cosineNearDupPairs(s: SparkSession, d: String): DataFrame = {
    // RAW (pre-distinct) candidates: dedup runs AFTER the similarity
    // filter, where the survivors are a sliver of the collisions —
    // the pre-filter distinct was a full shuffle of the pair table,
    // the re-verified duplicate is one fused dot product (round 14).
    val cand = cpCandidatePairsRawAt(s, d, annArity(emb(s, d).count()))
    // Verify with whole-vector dot products via the codegen
    // `graft_dot` kernel: two id-joins on packed arrays instead of a
    // 64×-exploded element join — candidates × dim rows never
    // materialize, and the per-pair cost is one fused loop. The
    // vector side broadcasts below BroadcastVerifyMaxVecs (the pair
    // table is tens of times larger than the corpus — shuffling IT
    // was the measured factor-26 cost), shuffle-hash joins above.
    val vecsRaw = withNorm(emb(s, d))
      .select(col("vec_id"), col("v"), col("nrm"))
    val vecs =
      if (emb(s, d).count() <= BroadcastVerifyMaxVecs) broadcast(vecsRaw)
      else vecsRaw.hint("SHUFFLE_HASH")
    cand
      .join(vecs.as("va"), col("ia") === col("va.vec_id"))
      .join(vecs.as("vb"), col("ib") === col("vb.vec_id"))
      .withColumn("cos",
        expr("graft_dot(va.v, vb.v)") / (col("va.nrm") * col("vb.nrm")))
      .filter(round(col("cos"), 6) >= 0.35)
      .select(col("ia"), col("ib"), round(col("cos"), 4).as("cos_sim"))
      .distinct()
  }

  /** The UNVERIFIED candidate stage of [[cosineNearDupPairs]]:
    * DISTINCT cross-polytope bucket-mate pairs (ia, ib) with ia < ib
    * and NO similarity threshold applied — p09/p14 verify at ≥ 0.35,
    * p37's hot-cell path at its own SemTau. */
  private def cpCandidatePairs(s: SparkSession, d: String): DataFrame =
    cpCandidatePairsAt(s, d, annArity(emb(s, d).count()))

  /** [[cpCandidatePairs]] at an EXPLICIT arity. private[graft] for
    * the k=3 recall gate (AnnRecallSpec, VERDICT r12 #4): pair-level
    * LSH recall depends only on the two vectors' projections and the
    * probe scheme — never on corpus size — so a small forced-arity
    * corpus pins the same probe-ladder recall the 2.2M-vector
    * natural-arity rung measured, cheaply enough to run in every sbt
    * test sweep. Production paths always derive the arity from the
    * corpus count ([[annArity]]). */
  private[graft] def cpCandidatePairsAt(
      s: SparkSession, d: String, arity: Int): DataFrame =
    cpCandidatePairsRawAt(s, d, arity).distinct()

  /** [[cpCandidatePairsAt]] WITHOUT the distinct — a pair colliding
    * in several tables/subsets appears once per collision. Round 14:
    * the verify stage dedups AFTER its similarity filter instead
    * (cosineNearDupPairs), because shuffling the full pre-distinct
    * pair table for dedup was the measured factor-26 cost, while
    * re-verifying a duplicate costs one fused 64-float dot product.
    * Consumers that hand pairs onward unverified (p37's hot cells,
    * the recall gates) keep the distinct. */
  private def cpCandidatePairsRawAt(
      s: SparkSession, d: String, arity: Int): DataFrame = {
    val (ranked, hot) = cpKeyedTable(s, d, arity)
    // ONE aggregation pass decides the gate AND feeds the broadcast
    // (ADVICE r14 #5: the former hot.limit(1).count() gate plus the
    // broadcast side each re-aggregated the full key table — at the
    // 1.4B-row rung those were extra full passes). The hot list is
    // tiny by construction (heavy hitters past the occupancy cap), so
    // collecting it is the broadcast collect, done once.
    val hotRows = hot.collect()
    val joined =
      if (hotRows.isEmpty)
        ranked.as("x").join(ranked.as("y"),
          col("x.tbl") === col("y.tbl") && col("x.bkey") === col("y.bkey") &&
            col("y.excl") === 0 && col("x.vec_id") =!= col("y.vec_id"))
      else {
        val hotLocal = s.createDataFrame(
          java.util.Arrays.asList(hotRows: _*), hot.schema)
        val keyed = ranked.join(broadcast(hotLocal), Seq("tbl", "bkey"), "left")
          .withColumn("subref",
            expr(s"shiftright(sub, $AnnSplitBits - coalesce(depth, 0))"))
        keyed.as("x").join(keyed.as("y"),
          col("x.tbl") === col("y.tbl") && col("x.bkey") === col("y.bkey") &&
            col("x.subref") === col("y.subref") &&
            col("y.excl") === 0 && col("x.vec_id") =!= col("y.vec_id"))
      }
    joined
      .select(least(col("x.vec_id"), col("y.vec_id")).as("ia"),
        greatest(col("x.vec_id"), col("y.vec_id")).as("ib"))
  }

  /** Candidate-pair COUNT estimate without materializing the pair
    * table (round 14, VERDICT r13 #6): one aggregation over the key
    * table at (tbl, bkey, sub-bucket) granularity — per bucket the
    * join emits allRows·primaries − primaries ordered matches (each
    * primary row also appears as its own probe row and is excluded
    * by vec_id ≠ vec_id), summed distributed-side. The figure is the
    * PRE-DISTINCT upper bound on candidate pairs (a pair colliding in
    * several tables/subsets counts each collision), which is the
    * join-cost number the pairs-per-vector ladder tracks; at the
    * 2.2M/arity-3 rung the exact distinct count needs a second
    * materialization of the 1.4B-row key table, which exceeds local
    * disk (measured round 13). */
  private[graft] def cpPairEstimateAt(
      s: SparkSession, d: String, arity: Int): Long = {
    val (ranked, hot) = cpKeyedTable(s, d, arity)
    val keyed = ranked.join(broadcast(hot), Seq("tbl", "bkey"), "left")
      .withColumn("subref",
        expr(s"shiftright(sub, $AnnSplitBits - coalesce(depth, 0))"))
    // coalesce: sum() over an empty key table is NULL (ADVICE r14 #2
    // — empty/tiny corpora must not NPE the bench path). The a·p − p
    // formula subtracts ONE self-match per primary row; a vector
    // contributing several subset rows to the same (tbl,bkey,subref)
    // group keeps its cross-subset self-pairs, so the figure is a
    // slightly-inflated upper bound — the right side for a join-cost
    // ceiling.
    keyed.groupBy(col("tbl"), col("bkey"), col("subref"))
      .agg(count(lit(1)).as("a"),
        sum(when(col("excl") === 0, 1L).otherwise(0L)).as("p"))
      .agg(coalesce(sum(col("a") * col("p") - col("p")), lit(0L)))
      .head().getLong(0)
  }

  /** The cross-polytope KEY TABLE and its hot-bucket list, shared by
    * the candidate join and the pair-count estimator: `ranked` holds
    * one row per (vector, table, arity-subset) with the packed bucket
    * key, subset index (0 = primary) and the refinement word; `hot`
    * holds (tbl, bkey, depth) for buckets past [[AnnHotBucket]]. */
  private def cpKeyedTable(
      s: SparkSession, d: String, arity: Int): (DataFrame, DataFrame) = {
    import s.implicits._
    // k: composite-key arity from the vector count (parquet metadata
    // count — no data scan). m = k + cpProbeExtra(k) ranked planes
    // per table; a vector emits ONE key per k-subset of its top-m
    // planes, and the top-k subset itself is the primary key — so a
    // probe-key ∩ primary-key match realizes exactly "B's top-k
    // (signed) ⊆ A's top-m (signed)" as a bucket equi-join. Round 12
    // (VERDICT r11 #6): the previous leave-ONE-out probe set
    // (k-subsets of top k+1) measured recall 0.52 at arity 2 on a
    // planted-pair corpus — a pair was only found when one
    // side's top-k sat inside the other's top-(k+1), too tight once
    // two components must both match. Probe depth and table count now
    // both widen with the arity (see cpProbeExtra / cpTables for the
    // measured ladder); the per-bucket join stays occupancy-bounded
    // by the arity ladder, so each widening is a constant-factor
    // candidate cost, never a blowup.
    val m = arity + cpProbeExtra(arity)
    // all arity-sized rank subsets of {0..m-1} as bitmasks, ascending —
    // subsets(0) == (1<<arity)-1 is the top-k PRIMARY mask
    val subsets: Array[Int] =
      (0 until (1 << m)).filter(Integer.bitCount(_) == arity).sorted.toArray
    val nKeys = subsets.length
    val nTables = cpTables(arity)
    // Projection weights computed on the driver (8 tables × 64 planes ×
    // 64 components of ±1 from the md5 high bit — same arithmetic as
    // the oracle) and shipped to executors in the task closure
    // (~256 KB at 8 tables, ~1 MB at 32). Each vector computes all
    // nTables×64 projections in a typed mapPartitions kernel — a
    // fused primitive-double loop — and emits only its
    // nTables×C(m,k) key rows. The r3 shape
    // (element-explode joined to a 32k-row weights table, groupBy
    // (vec,tbl,j), then a rank window) materialized vectors×512 rows
    // into a shuffle (164M at sf0.1); a higher-order-function spelling
    // avoids the shuffle but pays interpreted per-element lambdas and
    // measured SLOWER than the join. The kernel does identical flops
    // with zero shuffle, zero window and no per-element allocation
    // before the candidate stage.
    val md = java.security.MessageDigest.getInstance("MD5") // digest() resets it
    val weights: Array[Array[Double]] =
      (for (t <- 0 until nTables; j <- 0 until AnnDim) yield {
        (1 to AnnDim).map { i =>
          val hex = md.digest(s"cp$t:$j:$i".getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          if ("89abcdef".contains(hex.charAt(0))) 1.0 else -1.0
        }.toArray
      }).toArray
    // hot-bucket refinement planes (round 14): AnnSplitBits extra ±1
    // planes per table, "cps" seed — bit b of a vector's per-table
    // refinement word is the sign of its projection onto plane b
    val xWeights: Array[Array[Double]] =
      (for (t <- 0 until nTables; b <- 0 until AnnSplitBits) yield {
        (1 to AnnDim).map { i =>
          val hex = md.digest(s"cps$t:$b:$i".getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          if ("89abcdef".contains(hex.charAt(0))) 1.0 else -1.0
        }.toArray
      }).toArray
    val nSplitBits = AnnSplitBits
    val nDim = AnnDim
    val ranked = emb(s, d)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        it.flatMap { case (id, v) =>
          val out = new Array[BucketKey](nTables * nKeys)
          var t = 0
          while (t < nTables) {
            // top-m planes by (|proj| desc, j asc): insertion into two
            // parallel length-m arrays; ascending-j scan with strict >
            // keeps the earlier plane on ties.
            val topJ = Array.fill(m)(-1)
            val topP = new Array[Double](m)
            var j = 0
            while (j < nDim) {
              val w = weights(t * nDim + j)
              val n = math.min(v.length, nDim)
              var acc = 0.0
              var i = 0
              while (i < n) { acc += v(i) * w(i); i += 1 }
              val a = math.abs(acc)
              var r = 0
              while (r < m && (topJ(r) >= 0 && math.abs(topP(r)) >= a)) r += 1
              if (r < m) {
                var k = m - 1
                while (k > r) { topJ(k) = topJ(k - 1); topP(k) = topP(k - 1); k -= 1 }
                topJ(r) = j
                topP(r) = acc
              }
              j += 1
            }
            // per-(vector, table) refinement word: sign bits of the
            // AnnSplitBits extra-plane projections (strictly-positive
            // convention, like the key slots). The products are exact
            // doubles-from-floats but FP addition is still not
            // associative, so the kernel's index-order sum and the
            // oracle's arbitrary-order sum(x*w) can in principle
            // disagree on a sign whose magnitude sits below the
            // accumulated rounding error — astronomically rare, and
            // a divergence would surface in the hash gate (ADVICE
            // r14 #3)
            var sub = 0
            var b = 0
            while (b < nSplitBits) {
              val w = xWeights(t * nSplitBits + b)
              val n = math.min(v.length, nDim)
              var acc = 0.0
              var i = 0
              while (i < n) { acc += v(i) * w(i); i += 1 }
              if (acc > 0) sub |= 1 << b
              b += 1
            }
            // one composite key per arity-sized rank subset: the
            // chosen (j, sgn) slots sorted by j (the canonical order —
            // rank order would make equal sets compare unequal),
            // packed base-128 into a Long (slot = 2j + sgn ∈ [0, 127];
            // arity ≤ 8 ⇒ < 2^56). excl is the subset's index in
            // `subsets`; excl == 0 is the primary top-k key.
            var si = 0
            while (si < nKeys) {
              val mask = subsets(si)
              val js = new Array[Int](arity)
              var w2 = 0
              var r = 0
              while (r < m) {
                if ((mask >> r & 1) == 1) {
                  js(w2) = topJ(r) * 2 + (if (topP(r) > 0) 1 else 0); w2 += 1
                }
                r += 1
              }
              java.util.Arrays.sort(js)
              var key = 0L
              var q = 0
              while (q < arity) { key = key * 128L + js(q); q += 1 }
              out(t * nKeys + si) = BucketKey(id, t, key, si, sub)
              si += 1
            }
            t += 1
          }
          out
        }
      }
      .toDF("vec_id", "tbl", "bkey", "excl", "sub")
    // Hot-bucket split (see AnnHotBucket): buckets whose PRIMARY
    // occupancy exceeds the cap are subdivided by the leading `depth`
    // refinement bits, depth chosen by an exact integer threshold
    // chain (occ ≤ cap·2^depth) clamped to AnnSplitBits — the same
    // rule the oracle spells as a CASE chain. The hot list is tiny by
    // construction (heavy hitters), so it broadcasts; cold buckets
    // (depth 0) shift the whole word away and join on subref = 0.
    // Driver gate like p37's hasHot: with no hot bucket the original
    // two-column equi-join runs unchanged (the common path at small
    // SFs keeps its audited plan).
    val primaryOcc = ranked.filter(col("excl") === 0)
      .groupBy(col("tbl"), col("bkey")).agg(count(lit(1)).as("occ"))
    val hot = primaryOcc.filter(col("occ") > AnnHotBucket)
      .withColumn("depth", {
        var d: Column = lit(AnnSplitBits)
        for (b <- (1 until AnnSplitBits).reverse)
          d = when(col("occ") <= AnnHotBucket * (1L << b), lit(b)).otherwise(d)
        d
      })
      .select(col("tbl"), col("bkey"), col("depth"))
    (ranked, hot)
  }

  /** The p15 core: IVF cell assignment (typed kernel, max-cosine
    * against fixed centroids), probe-cell candidate join, exact
    * cosine top-5 per query. Mirrors the p08 output shape so the two
    * are directly comparable. */
  /** The p15/p64 shared coarse quantizer instance (fixed IvfCells ×
    * IvfProbes — their oracles' cell CTEs assume it). p37 uses its
    * own data-driven instance via [[ivfCellsK]]. */
  private def ivfCells(s: SparkSession, d: String): DataFrame =
    ivfCellsK(s, d, IvfCells, IvfProbes)

  /** Coarse quantizer, parametrized: every vector's `nProbes` nearest
    * of `nCells` cells (by cosine against the fixed md5-derived
    * centroid matrix) as (vec_id, cell, rn) with rn = 1 the home
    * cell. One typed-kernel pass, nProbes rows per vector out, zero
    * shuffle. The K×dim centroid matrix ships in the task closure
    * (~2 MB at K=4096); at 100 TB it would broadcast, same shape. */
  private def ivfCellsK(s: SparkSession, d: String,
      nCellsArg: Int, nProbesArg: Int): DataFrame = {
    import s.implicits._
    // Centroid matrix on the driver: component i of centroid c is
    // md5('ivf<c>:<i>')'s first 52 bits mapped to [-1, 1) — the same
    // arithmetic as the oracle's weights CTE. Norms precomputed so
    // the kernel ranks by dot/|c| (cosine up to the constant |v|)
    // with the SAME operation order as the oracle's sum(x*w)/cn.
    val md = java.security.MessageDigest.getInstance("MD5") // digest() resets it
    val cents: Array[Array[Double]] =
      (0 until nCellsArg).map { c =>
        (1 to AnnDim).map { i =>
          val hex = md.digest(s"ivf$c:$i".getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          java.lang.Long.parseLong(hex.substring(0, 13), 16) / 4503599627370496.0 * 2 - 1
        }.toArray
      }.toArray
    val cnorms: Array[Double] =
      cents.map(c => math.sqrt(c.map(x => x * x).sum))
    val nCells = nCellsArg
    val nProbes = nProbesArg
    val nDim = AnnDim
    emb(s, d)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        it.flatMap { case (id, v) =>
          val out = new Array[IvfCellRow](nProbes)
          // top-nProbes cells by (dot/|c| desc, c asc); ascending-c
          // scan with strict > keeps the earlier cell on ties.
          val topC = Array.fill(nProbes)(-1)
          val topS = new Array[Double](nProbes)
          var c = 0
          while (c < nCells) {
            val w = cents(c)
            val n = math.min(v.length, nDim)
            var acc = 0.0
            var i = 0
            while (i < n) { acc += v(i) * w(i); i += 1 }
            val score = acc / cnorms(c)
            var r = 0
            while (r < nProbes && (topC(r) >= 0 && topS(r) >= score)) r += 1
            if (r < nProbes) {
              var k = nProbes - 1
              while (k > r) { topC(k) = topC(k - 1); topS(k) = topS(k - 1); k -= 1 }
              topC(r) = c
              topS(r) = score
            }
            c += 1
          }
          var r = 0
          while (r < nProbes) {
            out(r) = IvfCellRow(id, topC(r), r + 1)
            r += 1
          }
          out
        }
      }
      .toDF("vec_id", "cell", "rn")
  }

  private def ivfTopK(s: SparkSession, d: String): DataFrame = {
    val cells = ivfCells(s, d)
    // Query side probes its nProbes nearest cells; the data side is
    // each vector's single home cell (rn = 1). Per-cell equi-join —
    // never all-pairs; at scale both sides are hash-partitioned on
    // the cell id.
    val cand = cells.filter(col("vec_id") < 20).as("x")
      .join(cells.filter(col("rn") === 1).as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("qid"), col("y.vec_id").as("nid"))
      .distinct()
    val vecs = withNorm(emb(s, d)).select(col("vec_id"), col("v"), col("nrm"))
    cand
      .join(vecs.as("va"), col("qid") === col("va.vec_id"))
      .join(vecs.as("vb"), col("nid") === col("vb.vec_id"))
      .withColumn("cos",
        expr("graft_dot(va.v, vb.v)") / (col("va.nrm") * col("vb.nrm")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(round(col("cos"), 6).desc, col("nid"))).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("nid"), col("rank"), round(col("cos"), 4).as("cos_sim"))
  }

  /** The p64 codebook: PqSub × PqK × PqSubDim integer centroids,
    * component (s, c, li) = md5("pq<s>:<c>:<li>")'s first 52 bits
    * mod 2048 − 1024 — the same md5-to-integer derivation family as
    * p15's centroids. The oracle does NOT re-derive it: the 1,024
    * integers are inlined as a literal VALUES table ([[pqCodebookSql]])
    * so the two engines share the exact constants and the oracle
    * carries no hex-string cast / modulo-on-derived-int idioms
    * (CORRECTNESS_r10's p64 red row did not reproduce locally — the
    * divergence was in a version-sensitive p64-specific oracle stage
    * on the driver; VERDICT r10 #1). */
  private def pqCodebook(): Array[Array[Array[Long]]] = {
    val md = java.security.MessageDigest.getInstance("MD5") // digest() resets it
    Array.tabulate(PqSub, PqK, PqSubDim) { (sb, c, li) =>
      val hex = md.digest(s"pq$sb:$c:${li + 1}".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 13), 16) % 2048L - 1024L
    }
  }

  /** The codebook as a DuckDB literal VALUES table (s, c, li, w) —
    * li is 1-based to match the oracle's `qv.i = s * PqSubDim + li`
    * join key. ~16 KB of SQL for 1,024 rows. */
  private def pqCodebookSql: String = {
    val cb = pqCodebook()
    val rows = for {
      sb <- 0 until PqSub; c <- 0 until PqK; li <- 0 until PqSubDim
    } yield s"($sb,$c,${li + 1},${cb(sb)(c)(li)})"
    s"""SELECT CAST(s AS INT) AS s, CAST(c AS INT) AS c,
       |    CAST(li AS INT) AS li, CAST(w AS BIGINT) AS w
       |  FROM (VALUES ${rows.mkString(",")}) t(s, c, li, w)""".stripMargin
  }

  /** The p64 core: quantize → PQ-encode (typed kernel, zero shuffle)
    * → IVF candidate join (p15's probed-cells shape) → ADC scoring
    * over codes → exact-integer top-5 per query. The ~8 KB codebook
    * ships in the task closure (at 100 TB it would broadcast, same as
    * p15's centroid note). */
  private def pqTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cb = pqCodebook()
    val nSub = PqSub
    val nK = PqK
    val nSd = PqSubDim
    // quantized integer components (floor(x · 1024), p51's scheme):
    // the SAME frame is the encode input AND the query side of ADC
    val quant = emb(s, d).select(col("vec_id"), expr(
      s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $PqQuantScale) AS BIGINT))")
      .as("qv"))
    val codes = quant.as[(Long, Array[Long])]
      .mapPartitions { it =>
        it.map { case (id, q) =>
          val out = new Array[Int](nSub)
          var sb = 0
          while (sb < nSub) {
            // argmin over the 16 subvector centroids; strict < with
            // ascending c keeps the smaller code on ties (= the
            // oracle's ORDER BY dist, c)
            var best = 0
            var bestD = Long.MaxValue
            var c = 0
            while (c < nK) {
              var dist = 0L
              var i = 0
              while (i < nSd) {
                val dd = q(sb * nSd + i) - cb(sb)(c)(i)
                dist += dd * dd
                i += 1
              }
              if (dist < bestD) { bestD = dist; best = c }
              c += 1
            }
            out(sb) = best
            sb += 1
          }
          (id, out)
        }
      }.toDF("vec_id", "codes")
    val cells = ivfCells(s, d)
    val cand = cells.filter(col("vec_id") < 20).as("x")
      .join(cells.filter(col("rn") === 1).as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("qid"), col("y.vec_id").as("nid"))
      .distinct()
    val scored = cand
      .join(codes, col("nid") === codes("vec_id")).drop("vec_id")
      .join(quant, col("qid") === quant("vec_id")).drop("vec_id")
      .select(col("qid"), col("nid"), col("codes"), col("qv"))
      .as[(Long, Long, Array[Int], Array[Long])]
      .mapPartitions { it =>
        it.map { case (qid, nid, cs, q) =>
          var adist = 0L
          var sb = 0
          while (sb < nSub) {
            val cc = cb(sb)(cs(sb))
            var i = 0
            while (i < nSd) {
              val dd = q(sb * nSd + i) - cc(i)
              adist += dd * dd
              i += 1
            }
            sb += 1
          }
          (qid, nid, adist)
        }
      }.toDF("qid", "nid", "adist")
    scored.withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("adist"), col("nid"))).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("nid"), col("rank"), col("adist"))
  }

  /** DuckDB mirror of p64: same codebook (inlined as literal VALUES —
    * no md5/hex-cast/modulo re-derivation in the oracle), quantization,
    * encode tie rule, IVF candidates, ADC arithmetic and ranking. The
    * ADC sum is CAST to BIGINT so no HUGEINT reaches the result
    * (DuckDB-version-sensitive rendering; VERDICT r10 #1). */
  private def pqOracle: String =
    s"""WITH $ivfAssignCtes, pqcb AS (
       |  $pqCodebookSql
       |), qv AS (
       |  SELECT vec_id, i, CAST(floor(x * $PqQuantScale) AS BIGINT) AS q FROM el
       |), enc AS (
       |  SELECT vec_id, s, c FROM (
       |    SELECT qv.vec_id, p.s, p.c,
       |      row_number() OVER (PARTITION BY qv.vec_id, p.s
       |                         ORDER BY CAST(sum((qv.q - p.w) * (qv.q - p.w)) AS BIGINT), p.c) AS rn
       |    FROM qv JOIN pqcb p ON qv.i = p.s * $PqSubDim + p.li
       |    GROUP BY qv.vec_id, p.s, p.c
       |  ) WHERE rn = 1
       |), cand AS (
       |  SELECT DISTINCT x.vec_id AS qid, y.vec_id AS nid
       |  FROM ranked x JOIN ranked y
       |    ON x.c = y.c AND y.rn = 1 AND x.vec_id < 20 AND x.vec_id <> y.vec_id
       |), ad AS (
       |  SELECT cand.qid, cand.nid,
       |    CAST(sum((q.q - p.w) * (q.q - p.w)) AS BIGINT) AS adist
       |  FROM cand
       |  JOIN enc ON enc.vec_id = cand.nid
       |  JOIN pqcb p ON p.s = enc.s AND p.c = enc.c
       |  JOIN qv q ON q.vec_id = cand.qid AND q.i = p.s * $PqSubDim + p.li
       |  GROUP BY 1, 2
       |)
       |SELECT qid, nid, rank, adist FROM (
       |  SELECT qid, nid,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS BIGINT) AS rank,
       |    adist
       |  FROM ad
       |) WHERE rank <= 5""".stripMargin

  /** The p65 core: synthesize clean entities + per-doc dirty names,
    * trigram-index with a DF cap, candidate join, exact-Jaccard
    * verify on full sets, best match per doc. See the QDef comment
    * for the plan-shape argument. */
  private def fuzzyEntityMatch(s: SparkSession, d: String): DataFrame = {
    def md5i(tag: String) =
      s"graft_md5longs(concat('$tag:', CAST(doc_id AS STRING))).h1"
    // clean entity universe: |sources| × EntVariants 12-hex names
    val ent = docs(s, d).select(col("source")).distinct()
      .select(col("source"), explode(expr(s"sequence(0, ${EntVariants - 1})")).as("j"))
      .select(concat(col("source"), lit(":"), col("j").cast("string")).as("ename"),
        expr("substr(md5(concat('ent:', source, ':', CAST(j AS STRING))), 1, 12)").as("name"))
    // one dirty variant per doc: md5-chosen edit of an md5-chosen
    // entity of the doc's own source (op 3 = left clean)
    val dirty = docs(s, d)
      .select(col("doc_id"),
        expr(s"""substr(md5(concat('ent:', source, ':',
                 CAST(${md5i("pick")} % $EntVariants AS STRING))), 1, 12)""").as("base"),
        expr(s"${md5i("op")} % 4").as("op"),
        expr(s"CAST(1 + ${md5i("pos")} % 12 AS INT)").as("pos"),
        expr("substr(md5(concat('chr:', CAST(doc_id AS STRING))), 1, 1)").as("rep"))
      .select(col("doc_id"), expr(
        """CASE op
          |  WHEN 0 THEN concat(substr(base, 1, pos - 1), rep, substr(base, pos + 1, 12))
          |  WHEN 1 THEN concat(substr(base, 1, pos - 1), substr(base, pos + 1, 12))
          |  WHEN 2 THEN concat(substr(base, 1, pos), substr(base, pos, 1), substr(base, pos + 1, 12))
          |  ELSE base END""".stripMargin).as("dname"))
    // distinct character trigrams of each side (positions 1..len-2)
    def trigrams(df: DataFrame, key: String, nameCol: String): DataFrame =
      df.select(col(key), explode(expr(
          s"transform(sequence(1, length($nameCol) - 2), p -> substring($nameCol, p, 3))"))
        .as("tg")).distinct()
    val dtg = trigrams(dirty, "doc_id", "dname")
    val etg = trigrams(ent, "ename", "name")
    // candidate index: entity trigrams minus the > EntDfCap stopwords
    val edf = etg.groupBy("tg").agg(count(lit(1)).as("df"))
    val idx = etg.join(edf.filter(col("df") <= EntDfCap), "tg")
    val cand = dtg.join(idx, "tg")
      .groupBy("doc_id", "ename").agg(count(lit(1)).as("shared_rare"))
      .filter(col("shared_rare") >= FuzzMinShared)
      .select("doc_id", "ename")
    // exact verification on the FULL sets of candidate pairs only
    val dn = dtg.groupBy("doc_id").agg(count(lit(1)).as("na"))
    val en = etg.groupBy("ename").agg(count(lit(1)).as("nb"))
    val inter = cand
      .join(dtg, "doc_id")
      .join(etg, Seq("ename", "tg"))
      .groupBy("doc_id", "ename").agg(count(lit(1)).as("shared"))
    val scored = inter.join(dn, "doc_id").join(en, "ename")
      .withColumn("uni", col("na") + col("nb") - col("shared"))
      .filter(col("shared") * 2 >= col("uni"))
    scored.withColumn("rn", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy((col("shared").cast("double") / col("uni")).desc, col("ename"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("ename").as("entity"),
        col("shared"), col("uni"),
        round(col("shared").cast("double") / col("uni"), 4).as("jac"))
  }

  /** DuckDB mirror of p65: same synthesis, index cap, candidate rule,
    * verification and ranking. */
  private def fuzzyMatchOracle: String =
    s"""WITH ent AS (
       |  SELECT s.source || ':' || j AS ename,
       |         substr(md5('ent:' || s.source || ':' || j), 1, 12) AS name
       |  FROM (SELECT DISTINCT source FROM documents) s, range(0, $EntVariants) t(j)
       |), dirty AS (
       |  SELECT doc_id,
       |    CASE op
       |      WHEN 0 THEN substr(base, 1, pos - 1) || rep || substr(base, pos + 1, 12)
       |      WHEN 1 THEN substr(base, 1, pos - 1) || substr(base, pos + 1, 12)
       |      WHEN 2 THEN substr(base, 1, pos) || substr(base, pos, 1) || substr(base, pos + 1, 12)
       |      ELSE base END AS dname
       |  FROM (
       |    SELECT doc_id,
       |      substr(md5('ent:' || source || ':' ||
       |        (CAST(('0x' || substr(md5('pick:' || doc_id), 1, 13)) AS BIGINT) % $EntVariants)), 1, 12) AS base,
       |      CAST(('0x' || substr(md5('op:' || doc_id), 1, 13)) AS BIGINT) % 4 AS op,
       |      CAST(1 + CAST(('0x' || substr(md5('pos:' || doc_id), 1, 13)) AS BIGINT) % 12 AS INT) AS pos,
       |      substr(md5('chr:' || doc_id), 1, 1) AS rep
       |    FROM documents
       |  )
       |), dtg AS (
       |  SELECT DISTINCT doc_id, substr(dname, CAST(p AS INT), 3) AS tg
       |  FROM dirty, unnest(generate_series(1, length(dname) - 2)) AS u(p)
       |), etg AS (
       |  SELECT DISTINCT ename, substr(name, CAST(p AS INT), 3) AS tg
       |  FROM ent, unnest(generate_series(1, length(name) - 2)) AS u(p)
       |), idx AS (
       |  SELECT ename, tg FROM etg
       |  WHERE tg IN (SELECT tg FROM etg GROUP BY tg HAVING count(*) <= $EntDfCap)
       |), cand AS (
       |  SELECT doc_id, ename FROM dtg JOIN idx USING (tg)
       |  GROUP BY 1, 2 HAVING count(*) >= $FuzzMinShared
       |), dn AS (SELECT doc_id, count(*) AS na FROM dtg GROUP BY 1
       |), en AS (SELECT ename, count(*) AS nb FROM etg GROUP BY 1
       |), inter AS (
       |  SELECT c.doc_id, c.ename, count(*) AS shared
       |  FROM cand c JOIN dtg d ON c.doc_id = d.doc_id
       |              JOIN etg e ON c.ename = e.ename AND d.tg = e.tg
       |  GROUP BY 1, 2
       |), scored AS (
       |  SELECT i.doc_id, i.ename, shared, na + nb - shared AS uni
       |  FROM inter i JOIN dn USING (doc_id) JOIN en USING (ename)
       |  WHERE 2 * shared >= na + nb - shared
       |)
       |SELECT doc_id, ename AS entity, CAST(shared AS BIGINT) AS shared,
       |       CAST(uni AS BIGINT) AS uni,
       |       round(CAST(shared AS DOUBLE) / uni, 4) AS jac
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY CAST(shared AS DOUBLE) / uni DESC, ename) AS rn
       |  FROM scored
       |) WHERE rn = 1""".stripMargin

  /** Shared DuckDB CTE prefix for p15/p37: the md5-derived centroid
    * matrix, unpacked embedding elements, and the per-vector cell
    * ranking (rn = 1 is the home cell) — the oracle mirror of
    * [[ivfCells]]. */
  private def ivfAssignCtes: String =
    s"""cent AS (
       |  SELECT CAST(c AS INT) AS c, CAST(i AS INT) AS i,
       |    CAST(('0x' || substr(md5('ivf' || c || ':' || i), 1, 13)) AS BIGINT)
       |      / 4503599627370496.0 * 2 - 1 AS w
       |  FROM range(0, $IvfCells) t0(c), range(1, ${AnnDim + 1}) t1(i)
       |), cnorm AS (
       |  SELECT c, sqrt(sum(w * w)) AS cn FROM cent GROUP BY c
       |), el AS (
       |  SELECT vec_id, CAST(i AS INT) AS i,
       |         CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
       |  FROM embeddings, range(1, ${AnnDim + 1}) t(i)
       |), ranked AS (
       |  SELECT vec_id, c,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dot / cn DESC, c) AS rn
       |  FROM (
       |    SELECT vec_id, c, sum(x * w) AS dot
       |    FROM el JOIN cent USING (i) GROUP BY vec_id, c
       |  ) JOIN cnorm USING (c)
       |  QUALIFY rn <= $IvfProbes
       |)""".stripMargin

  /** DuckDB mirror of p15: same centroids, assignment, probing,
    * verification. */
  private def ivfOracle: String =
    s"""WITH $ivfAssignCtes, cand AS (
       |  SELECT DISTINCT x.vec_id AS qid, y.vec_id AS nid
       |  FROM ranked x JOIN ranked y
       |    ON x.c = y.c AND y.rn = 1 AND x.vec_id < 20 AND x.vec_id <> y.vec_id
       |), nrm AS (
       |  SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM el GROUP BY vec_id
       |), dots AS (
       |  SELECT qid, nid, sum(ea.x * eb.x) AS dot
       |  FROM cand
       |  JOIN el ea ON qid = ea.vec_id
       |  JOIN el eb ON nid = eb.vec_id AND ea.i = eb.i
       |  GROUP BY qid, nid
       |), cos AS (
       |  SELECT qid, nid, dot / (na.nrm * nb.nrm) AS cos
       |  FROM dots JOIN nrm na ON qid = na.vec_id JOIN nrm nb ON nid = nb.vec_id
       |)
       |SELECT qid, nid, rank, cos_sim FROM (
       |  SELECT qid, nid,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY round(cos, 6) DESC, nid) AS BIGINT) AS rank,
       |    round(cos, 4) AS cos_sim
       |  FROM cos
       |) WHERE rank <= 5""".stripMargin

  /** DuckDB mirror of p13: same bigrams, df pruning, verification. */
  private def ngramJaccardOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, $toksDuck AS tk FROM documents
       |), kpos AS (
       |  SELECT doc_id, tk, unnest(range(1, len(tk))) AS k FROM toks
       |), sh AS (
       |  SELECT DISTINCT doc_id,
       |    tk[CAST(k AS INT)] || ' ' || tk[CAST(k AS INT) + 1] AS sh
       |  FROM kpos
       |), dfreq AS (
       |  SELECT sh, count(*) AS dfreq FROM sh GROUP BY sh
       |), rare AS (
       |  SELECT s.doc_id, s.sh FROM sh s JOIN dfreq USING (sh)
       |  WHERE dfreq <= $DfCap
       |), cand AS (
       |  SELECT x.doc_id AS ida, y.doc_id AS idb
       |  FROM rare x JOIN rare y ON x.sh = y.sh AND x.doc_id < y.doc_id
       |  GROUP BY x.doc_id, y.doc_id
       |  HAVING count(*) >= $MinSharedRare
       |), sizes AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
       |), inter AS (
       |  SELECT ida, idb, CAST(count(*) AS BIGINT) AS inter
       |  FROM cand
       |  JOIN sh sa ON ida = sa.doc_id
       |  JOIN sh sb ON idb = sb.doc_id AND sa.sh = sb.sh
       |  GROUP BY ida, idb
       |)
       |SELECT ida, idb, inter, za.n + zb.n - inter AS uni
       |FROM inter JOIN sizes za ON ida = za.doc_id JOIN sizes zb ON idb = zb.doc_id
       |WHERE inter * 2 >= za.n + zb.n - inter""".stripMargin

  /** Embedding as double array plus its L2 norm (via the codegen
    * `graft_dot` self-product). */
  private def withNorm(e: DataFrame): DataFrame =
    e.withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))

  // Stopword lists for the lang-ID heuristic (public common stopwords).
  private def enStops = Seq("the", "a", "of", "and", "to", "in", "is", "on")
  private def deStops = Seq("der", "die", "das", "und", "ist", "nicht")
  private def esStops = Seq("el", "la", "los", "que", "y", "una")
  private def frStops = Seq("le", "les", "et", "une", "dans", "pour")

  private def langScore(arrayFn: String, words: Seq[String]): String = {
    val lits = words.map(w => s"'$w'").mkString(", ")
    s"size(filter(toks, x -> array_contains($arrayFn($lits), x)))"
  }

  private def duckScore(words: Seq[String]): String = {
    val lits = words.map(w => s"'$w'").mkString(", ")
    s"len(list_filter(toks, x -> list_contains([$lits], x)))"
  }

  /** Deterministic preference order en > de > es > fr > und; shared
    * verbatim between the Spark expr and the DuckDB oracle. */
  private def langCase =
    """CASE WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
      |     WHEN s_de > 0 AND s_de >= s_es AND s_de >= s_fr THEN 'de'
      |     WHEN s_es > 0 AND s_es >= s_fr THEN 'es'
      |     WHEN s_fr > 0 THEN 'fr'
      |     ELSE 'und' END""".stripMargin

  /** DuckDB mirror of p02's pair pipeline as a CTE chain (no leading
    * WITH, ends with a `pairs` CTE) so p02 and p30 share it. */
  private def minhashCtes: String = {
    val minCols = (0 until NumPerm)
      .map(i => s"min(h1 + $i * h2) AS m$i").mkString(",\n    ")
    val bandSelects = (0 until Bands).map { b =>
      val ms = (b * RowsPerBand until (b + 1) * RowsPerBand).map(i => s"m$i").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, md5($ms) AS bkey FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""toks AS (
       |  SELECT doc_id, $toksDuck AS tk FROM documents
       |), kpos AS (
       |  SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS k FROM toks
       |), sh AS (
       |  SELECT DISTINCT doc_id,
       |    tk[CAST(k AS INT)] || ' ' || tk[CAST(k AS INT) + 1] || ' ' || tk[CAST(k AS INT) + 2] AS sh
       |  FROM kpos
       |), hashed AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substr(md5(sh), 1, 13)) AS BIGINT) AS h1,
       |    CAST(('0x' || substr(md5(sh), 14, 13)) AS BIGINT) AS h2
       |  FROM sh
       |), sig AS (
       |  SELECT doc_id,
       |    $minCols
       |  FROM hashed GROUP BY doc_id
       |), buckets AS (
       |  $bandSelects
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS ida, y.doc_id AS idb
       |  FROM buckets x JOIN buckets y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
       |), sizes AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
       |), inter AS (
       |  SELECT ida, idb, CAST(count(*) AS BIGINT) AS inter
       |  FROM cand
       |  JOIN sh sa ON ida = sa.doc_id
       |  JOIN sh sb ON idb = sb.doc_id AND sa.sh = sb.sh
       |  GROUP BY ida, idb
       |), pairs AS (
       |  SELECT ida, idb, inter, za.n + zb.n - inter AS uni
       |  FROM inter JOIN sizes za ON ida = za.doc_id JOIN sizes zb ON idb = zb.doc_id
       |  WHERE inter * 5 >= (za.n + zb.n - inter) * 4
       |)""".stripMargin
  }

  /** DuckDB mirror of p02: same shingles, hashes, bands, verification. */
  private def minhashOracle: String =
    s"WITH $minhashCtes\nSELECT ida, idb, inter, uni FROM pairs"

  /** DuckDB mirror of p30: the p02 pair CTEs, the manufactured copy
    * edges, then min-label transitive closure as a recursive CTE. */
  private def ccOracle: String =
    s"""WITH RECURSIVE $minhashCtes, copye AS (
       |  SELECT doc_id AS ida, doc_id + 1000000 AS idb FROM documents
       |), alle AS (
       |  SELECT ida, idb FROM pairs UNION ALL SELECT ida, idb FROM copye
       |), edges AS (
       |  SELECT ida AS src, idb AS dst FROM alle
       |  UNION
       |  SELECT idb AS src, ida AS dst FROM alle
       |), reach AS (
       |  SELECT DISTINCT src AS id, src AS comp FROM edges
       |  UNION
       |  SELECT e.dst AS id, r.comp FROM reach r JOIN edges e ON r.id = e.src
       |), lab AS (
       |  SELECT id, min(comp) AS comp_id FROM reach GROUP BY id
       |), csizes AS (
       |  SELECT comp_id, CAST(count(*) AS BIGINT) AS comp_size
       |  FROM lab GROUP BY comp_id
       |)
       |SELECT l.id AS doc_id, l.comp_id, c.comp_size
       |FROM lab l JOIN csizes c USING (comp_id)""".stripMargin

  /** DuckDB mirror of p09: same projections, same arity/table/probe
    * ladders (all from count(*) via the annArity thresholds),
    * verification. Key encodings differ (string_agg here, base-128
    * Long in the kernel) — both are injective maps of the same
    * sorted-by-j (j, sgn) set, so the candidate SETS agree. The
    * probe subsets are enumerated exactly like the kernel's: an
    * exclusion-mask table (range + bit_count, popcount mm-kk, bits
    * within mm) joined to the ranked planes on "rank's bit not set" —
    * uniform across every (arity, probe-depth) rung, no self-joins.
    * Two rejected spellings, both measured: a rung-generic
    * containment join (primary elements to top-m elements on
    * (tbl, j, sgn), HAVING count = kk) spilled > 79 GB in DuckDB at
    * the 20k-vector scale check — the bucket-key equi-join is
    * selective, the element join is not; and rank self-joins
    * (a×b1×b2[×b3] per excluded tuple) degraded to cross products in
    * DuckDB's planner (EC 524M at 2k vectors, disk-full spill). */
  /** Cross-polytope candidate CTE chain (the oracle twin of
    * [[cpCandidatePairs]]) with every CTE name prefixed by `p`, so it
    * can be embedded in oracles that already use `el`/`ranked`/…
    * names (p37). The final CTE `<p>cand` yields DISTINCT (ia, ib)
    * with ia < ib and no similarity threshold. */
  private def cpCandSql(p: String): String =
    s"""${p}params AS (
       |  SELECT kk, least($CpTables * (1 << (kk - 1)), $CpTablesMax) AS nt,
       |         CASE WHEN kk >= 3 THEN kk + 3 ELSE kk + 2 END AS mm
       |  FROM (SELECT ${annArityCaseSql("count(*)")} AS kk FROM embeddings)
       |), ${p}weights AS (
       |  SELECT CAST(tbl AS INT) AS tbl, CAST(j AS INT) AS j, CAST(i AS INT) AS i,
       |    CASE WHEN strpos('89abcdef', substr(md5('cp' || tbl || ':' || j || ':' || i), 1, 1)) > 0
       |         THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS w
       |  FROM range(0, $CpTablesMax) t0(tbl), range(0, $AnnDim) t1(j), range(1, ${AnnDim + 1}) t2(i)
       |  WHERE tbl < (SELECT nt FROM ${p}params)
       |), ${p}el AS (
       |  SELECT vec_id, CAST(i AS INT) AS i,
       |         CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
       |  FROM embeddings, range(1, ${AnnDim + 1}) t(i)
       |), ${p}ranked AS (
       |  SELECT vec_id, tbl, j, proj > 0 AS sgn,
       |    row_number() OVER (PARTITION BY vec_id, tbl ORDER BY abs(proj) DESC, j) AS rn
       |  FROM (
       |    SELECT vec_id, tbl, j, sum(x * w) AS proj
       |    FROM ${p}el JOIN ${p}weights USING (i) GROUP BY vec_id, tbl, j
       |  )
       |  QUALIFY rn <= (SELECT mm FROM ${p}params)
       |), ${p}masks AS (
       |  SELECT CAST(mask AS INT) AS mask
       |  FROM range(0, ${1 << (AnnArityMax + cpProbeExtra(AnnArityMax))}) t(mask)
       |  WHERE bit_count(CAST(mask AS INT)) = (SELECT mm - kk FROM ${p}params)
       |    AND mask < (1 << (SELECT mm FROM ${p}params))
       |), ${p}keys AS (
       |  SELECT r.vec_id, r.tbl, m.mask AS excl,
       |    string_agg(r.j || CASE WHEN r.sgn THEN 'p' ELSE 'n' END,
       |               ',' ORDER BY r.j) AS bkey
       |  FROM ${p}ranked r JOIN ${p}masks m
       |    ON ((m.mask >> (r.rn - 1)) & 1) = 0
       |  GROUP BY r.vec_id, r.tbl, m.mask
       |), ${p}xw AS (
       |  SELECT CAST(tbl AS INT) AS tbl, CAST(b AS INT) AS b, CAST(i AS INT) AS i,
       |    CASE WHEN strpos('89abcdef', substr(md5('cps' || tbl || ':' || b || ':' || i), 1, 1)) > 0
       |         THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS w
       |  FROM range(0, $CpTablesMax) t0(tbl), range(0, $AnnSplitBits) t1(b), range(1, ${AnnDim + 1}) t2(i)
       |  WHERE tbl < (SELECT nt FROM ${p}params)
       |), ${p}sub AS (
       |  SELECT vec_id, tbl,
       |    CAST(sum(CASE WHEN proj > 0 THEN 1 << b ELSE 0 END) AS INT) AS sub
       |  FROM (
       |    SELECT vec_id, tbl, b, sum(x * w) AS proj
       |    FROM ${p}el JOIN ${p}xw USING (i) GROUP BY vec_id, tbl, b
       |  ) GROUP BY vec_id, tbl
       |), ${p}hot AS (
       |  SELECT tbl, bkey,
       |    CASE ${(1 until AnnSplitBits).map(b =>
                 s"WHEN occ <= ${AnnHotBucket * (1L << b)} THEN $b").mkString(" ")}
       |         ELSE $AnnSplitBits END AS depth
       |  FROM (
       |    SELECT tbl, bkey, count(*) AS occ FROM ${p}keys
       |    WHERE excl = (SELECT (1 << mm) - (1 << kk) FROM ${p}params)
       |    GROUP BY tbl, bkey
       |  ) WHERE occ > $AnnHotBucket
       |), ${p}cand AS (
       |  SELECT DISTINCT least(x.vec_id, y.vec_id) AS ia,
       |                  greatest(x.vec_id, y.vec_id) AS ib
       |  FROM ${p}keys x JOIN ${p}keys y
       |    ON x.tbl = y.tbl AND x.bkey = y.bkey
       |    AND y.excl = (SELECT (1 << mm) - (1 << kk) FROM ${p}params)
       |    AND x.vec_id <> y.vec_id
       |  JOIN ${p}sub sx ON sx.vec_id = x.vec_id AND sx.tbl = x.tbl
       |  JOIN ${p}sub sy ON sy.vec_id = y.vec_id AND sy.tbl = y.tbl
       |  LEFT JOIN ${p}hot h ON h.tbl = x.tbl AND h.bkey = x.bkey
       |  WHERE (sx.sub >> ($AnnSplitBits - coalesce(h.depth, 0))) =
       |        (sy.sub >> ($AnnSplitBits - coalesce(h.depth, 0)))
       |)""".stripMargin

  private def annLshOracle: String = {
    s"""WITH ${cpCandSql("")}, nrm AS (
       |  SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM el GROUP BY vec_id
       |), dots AS (
       |  SELECT ia, ib, sum(ea.x * eb.x) AS dot
       |  FROM cand
       |  JOIN el ea ON ia = ea.vec_id
       |  JOIN el eb ON ib = eb.vec_id AND ea.i = eb.i
       |  GROUP BY ia, ib
       |)
       |SELECT ia, ib, round(dot / (na.nrm * nb.nrm), 4) AS cos_sim
       |FROM dots JOIN nrm na ON ia = na.vec_id JOIN nrm nb ON ib = nb.vec_id
       |WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.35""".stripMargin
  }
}

/** Typed row for the cross-polytope bucket-assignment kernel (p09/p14):
  * vector `vec_id` occupies composite bucket `key` (a k-subset of its
  * top-m signed planes of table `tbl`, packed base-128 sorted by
  * plane index); `excl` is the subset's index in the enumerated
  * subset-mask array, and excl == 0 marks the primary (top-k)
  * bucket. `sub` packs the vector's hot-bucket refinement bits for
  * this table (round 14: sign of the projection onto each of the
  * AnnSplitBits extra planes, bit b = plane b) — consulted only for
  * buckets past the occupancy cap. */
final case class BucketKey(
    vec_id: Long, tbl: Int, key: Long, excl: Int, sub: Int)

/** Typed row for the IVF cell-assignment kernel (p15): vector
  * `vec_id`'s `rn`-th nearest centroid cell (1 = home cell). */
final case class IvfCellRow(vec_id: Long, cell: Int, rn: Int)

/** Typed rows for the multimodal decode's mapPartitions pipeline. */
final case class SynthSpec(doc_id: Long, n_chars: Long, body: Array[Byte])
final case class ImageBlob(doc_id: Long, payload: Array[Byte])
final case class DecodedImage(
    doc_id: Long, format: String, n_bytes: Long, width: Long, height: Long)

/** Typed row for the audio decode (p18). */
final case class DecodedAudio(
    doc_id: Long, sample_rate: Long, channels: Long, n_samples: Long,
    duration_us: Long, n_bytes: Long)

/** Typed row for the video decode (p23). */
final case class DecodedVideo(
    doc_id: Long, width: Long, height: Long, fps_num: Long, fps_den: Long,
    n_frames: Long, duration_us: Long, sample_sum: Long, n_bytes: Long)

/** Typed rows for the two-phase sequence-packing scan (p31). */
final case class PackPartRow(
    doc_id: Long, lang: String, n_tokens: Long, pid: Int)
final case class PackedDoc(
    doc_id: Long, lang: String, n_tokens: Long, tok_offset: Long,
    seq_first: Long, seq_last: Long)

/** Typed row for the distributed rank-selection quantiles (p32). */
final case class LangDecile(
    lang: String, decile: Long, q_value: Long, n_docs: Long)

/** Typed row for the PNG pixel decode (p63): stats over the DECODED
  * pixel bytes and per-row filter-type histogram. */
final case class PixelStats(
    doc_id: Long, width: Long, height: Long, n_bytes_raw: Long,
    pix_sum: Long, pix_min: Long, pix_max: Long, pix_wsum: Long,
    n_f0: Long, n_f1: Long, n_f2: Long, n_f3: Long, n_f4: Long)

/** Typed row for the multimodal feature extraction (p16). */
final case class MediaFeatures(
    doc_id: Long, format: String, rw: Long, rh: Long, byte_sum: Long,
    lower_cnt: Long, n_frames: Long, n_sampled: Long, sample_sum: Long)
