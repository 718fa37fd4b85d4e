package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim

/** Public library facade — the operator surface a user of the
  * reference system programs against, parameterized over arbitrary
  * DataFrames/columns (not tied to the test star schema).
  *
  * Everything returns lazy DataFrames/Columns built from codegen'd
  * built-ins or the engine's native Catalyst expressions
  * (graft.functions), so callers keep full Catalyst optimization:
  * predicate pushdown through these transformations, column pruning,
  * broadcast planning.
  */
object Graft {

  /** The native expressions resolve through the session's function
    * registry; register them idempotently against the active session
    * whenever a facade method builds a Column that needs them — a
    * caller should never have to know about registration order. */
  private def ensureRegistered(): Unit =
    org.apache.spark.sql.SparkSession.getActiveSession
      // getActiveSession is thread-local; a column built on a pool
      // thread still needs registration — fall back to the default
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .foreach(graft.functions.VectorFunctions.register)

  // ---------- reference dataflow (object-notification filtering) ----------

  /** The reference's accept predicate (/root/reference/main.py:12):
    * non-null, non-empty name with the given prefix and suffix —
    * case-sensitive, like Python's startswith/endswith. */
  def objectNameAccept(name: Column, prefix: String, suffix: String): Column =
    name.isNotNull && name =!= "" && name.startsWith(prefix) && name.endsWith(suffix)

  /** `gs://bucket/name` object uri (main.py:16). */
  def objectUri(bucket: Column, name: Column): Column =
    concat(lit("gs://"), bucket, lit("/"), name)

  // ---------- text primitives ----------

  /** Whitespace tokenization (single-space split — the documented
    * default for this corpus, where text is single-space normalized;
    * oracle parity: DuckDB string_split(text, ' ')). */
  def tokens(text: Column): Column = split(text, " ")

  /** Regex tokenization — the real-corpus upgrade of [[tokens]]
    * (SURVEY §2.10's `split(lower(text), '\\s+')` sketch): splits on
    * `pattern` and drops empty tokens, so leading/trailing/repeated
    * separators don't manufacture phantom tokens. Still one codegen'd
    * per-row expression. DuckDB parity:
    * `list_filter(regexp_split_to_array(text, pattern), t -> t <> '')`. */
  def tokens(text: Column, pattern: String): Column =
    filter(split(text, pattern), t => t =!= "")

  /** BPE-style subword token count (greedy longest-match against
    * [[graft.functions.BpeVocab]]) — use where "tokens" must mean
    * model tokens rather than whitespace words (packing, chunking,
    * token budgets). One native single-pass expression per row;
    * map-only at any scale. The no-vocab overloads run the built-in
    * demo vocabulary; pass a [[graft.functions.BpeVocab]] (e.g.
    * `BpeVocab.fromFile(path)` — the model tokenizer's vocab, one
    * piece per line) to count REAL model tokens. */
  def bpeTokenCount(text: Column): Column = {
    ensureRegistered()
    call_function("graft_bpe_count", text)
  }

  def bpeTokenCount(text: Column, vocab: graft.functions.BpeVocab): Column = {
    ensureRegistered()
    call_function("graft_bpe_count", text, lit(vocab.spec))
  }

  /** Full BPE segmentation as array<string> — for chunking/packing
    * stages that need the pieces, not just the count. */
  def bpeTokens(text: Column): Column = {
    ensureRegistered()
    call_function("graft_bpe_pieces", text)
  }

  def bpeTokens(text: Column, vocab: graft.functions.BpeVocab): Column = {
    ensureRegistered()
    call_function("graft_bpe_pieces", text, lit(vocab.spec))
  }

  /** Content digest for exact dedup (md5 — engine-portable). */
  def contentDigest(text: Column): Column = md5(text.cast("binary"))

  /** k-gram word shingles; texts shorter than k shingle to the whole
    * text. The token array is bound as a lambda variable (via a
    * 1-element array wrap + outer transform) so the split evaluates
    * ONCE per row: a plain subexpression referenced inside the shingle
    * lambda is re-evaluated per shingle by the interpreted HOF path,
    * turning a linear map into O(tokens²) per document — measured 3×
    * on the sf0.1 corpus.
    *
    * Construction: shingle i is built by zipping the token array
    * against its own 1..k-1-shifted slices (a zip_with fold) instead
    * of an index lambda (`transform(sequence(…), i -> slice…)`) —
    * the per-index lambda re-slices per shingle on the interpreted
    * HOF path, and the zip form measured 4–5× faster on the bigram-LM
    * query at sf0.1 before being hoisted here. */
  def shingles(text: Column, k: Int): Column =
    element_at(
      transform(array(tokens(text)), w => {
        val cnt = greatest(size(w) - (k - 1), lit(0))
        val sh = (1 until k).foldLeft(slice(w, lit(1), cnt)) { (acc, j) =>
          zip_with(acc, slice(w, lit(1 + j), cnt),
            (a, b) => concat(a, lit(" "), b))
        }
        when(size(w) >= k, sh).otherwise(array(text))
      }), 1)

  /** MinHash LSH signature: each shingle hashed once, the digest split
    * into `bands` chunks (independent 32-bit minhashes), per-band
    * minimum concatenated. Equal signatures ⇒ near-dup candidates.
    * Backed by the one-pass native expression (graft_minhash_sig,
    * k=3/bands=4 — requires [[register]]); the declarative
    * formulation below is the differential-test reference. */
  def minhashSignature(text: Column, k: Int = 3, bands: Int = 4): Column =
    if (k == 3 && bands == 4) { ensureRegistered(); call_function("graft_minhash_sig", text) }
    else minhashSignatureHof(text, k, bands)

  /** Declarative (built-ins only) minhash signature — reference
    * implementation for differential testing and arbitrary k/bands. */
  def minhashSignatureHof(text: Column, k: Int = 3, bands: Int = 4): Column = {
    val mh = transform(shingles(text, k), s => md5(s.cast("binary")))
    concat_ws(":", (0 until bands).map { b =>
      array_min(transform(mh, h => substring(h, 8 * b + 1, 8)))
    }: _*)
  }

  /** Per-token 16-bit hashes (md5-derived — integer-exact across
    * engines) over the distinct tokens of a text. */
  private def tokenHashes16(text: Column): Column =
    transform(array_distinct(tokens(text)),
      w => conv(substring(md5(w.cast("binary")), 29, 4), 16, 10).cast("long"))

  /** 16-bit SimHash fingerprint over distinct tokens: native one-pass
    * vote fold (graft_simhash_fold — requires [[register]]). */
  def simhash16(text: Column): Column = {
    ensureRegistered()
    call_function("graft_simhash_fold", tokenHashes16(text))
  }

  /** HOF reference formulation of simhash16 (16 per-bit folds);
    * kept for differential testing against the native expression. */
  def simhash16Hof(text: Column): Column = {
    val tokhash = tokenHashes16(text)
    (0 until 16).map { bit =>
      val votes = aggregate(tokhash, lit(0L),
        (acc, h) => acc + when(shiftright(h, bit) % 2 === 1, lit(1L)).otherwise(lit(-1L)))
      when(votes > 0, lit(1L)).otherwise(lit(0L)) * lit(1L << bit)
    }.reduce(_ + _)
  }

  /** BM25 lexical ranking of any (id, text) DataFrame for a
    * multi-term query: top-k docs by Okapi BM25 (Lucene idf form),
    * per-term contributions micro-unit-quantized before the per-doc
    * sum. The query-term filter runs below the tf aggregate, so the
    * shuffle carries only matching rows — lexical search over
    * parquet without an inverted index. Delegates to
    * [[graft.operators.TextAnalysis.bm25]] (the oracle-checked
    * `text_bm25_topk` path). */
  def bm25Rank(df: DataFrame, textCol: String, idCol: String, terms: Seq[String],
               topK: Int = 15, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    graft.operators.TextAnalysis.bm25(df, textCol, idCol, terms, topK, k1, b)

  /** Jaccard similarity of the distinct-token sets of two texts. */
  def tokenJaccard(a: Column, b: Column): Column = {
    val ta = array_distinct(tokens(a))
    val tb = array_distinct(tokens(b))
    val inter = size(array_intersect(ta, tb)).cast("double")
    inter / (size(ta) + size(tb) - inter)
  }

  /** Order-sensitive positional fingerprint (rolling-hash flavor,
    * integer-exact). */
  def positionalFingerprint(text: Column): Column = {
    val w = tokens(text)
    aggregate(
      sequence(lit(1), size(w)), lit(0L),
      (acc, i) => acc + i.cast("long") *
        (length(element_at(w, i)).cast("long") * 17L + ascii(element_at(w, i)).cast("long"))
    ) % 1000000007L
  }

  // ---------- vector primitives (native codegen'd expressions) ----------

  /** Registers graft_dot / graft_l2norm / graft_lsh_sig in the session
    * (idempotent); required before using the vector primitives. */
  def register(spark: SparkSession): Unit =
    graft.functions.VectorFunctions.register(spark)

  /** Dot product of two array<double> columns (native expression). */
  def dot(a: Column, b: Column): Column = {
    ensureRegistered(); call_function("graft_dot", a, b)
  }

  /** L2 norm of an array<double> column (native expression). */
  def l2norm(v: Column): Column = {
    ensureRegistered(); call_function("graft_l2norm", v)
  }

  /** Cosine similarity through the native expressions. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  /** Random-hyperplane LSH bucket signature (8 sign bits, native
    * expression; deterministic planes). */
  def lshBucket(v: Column): Column = {
    ensureRegistered(); call_function("graft_lsh_sig", v)
  }

  /** Morton (Z-order) interleave of two non-negative integer columns
    * (`bits` bits each) into one 2·`bits`-bit locality key: bit i of
    * `a` lands at position 2i+1, bit i of `b` at 2i. Rows close in
    * z-value are close in BOTH dimensions, so range-partitioning and
    * sorting by the z-value clusters the data for min/max file
    * skipping on either column — the multi-column layout remedy next
    * to single-key bucketing (a bucketBy layout serves one join key;
    * a z-order layout serves range predicates on several columns at
    * once). Pure integer shift/mod arithmetic: engine-portable and
    * codegen-friendly, no UDF.
    *
    * Domain: each input is reduced `pmod 2^bits` FIRST, so negatives
    * and values wider than `bits` bits fold into the ring
    * deterministically instead of producing negative z-values
    * (Spark's `%` keeps the dividend's sign, so an un-reduced -1
    * would emit sign bits at every position and collide unrelated
    * rows into one z-tile). Callers wanting an error instead of
    * wraparound should range-check upstream — a layout key must be
    * total, so the function itself never throws. */
  def mortonInterleave(a: Column, b: Column, bits: Int = 8): Column = {
    require(bits >= 1 && bits <= 31, s"mortonInterleave: bits $bits")
    val ring = lit(1L << bits)
    val (ar, br) = (pmod(a.cast("long"), ring), pmod(b.cast("long"), ring))
    (0 until bits).map { i =>
      (shiftright(ar, i) % 2) * lit(1L << (2 * i + 1)) +
        (shiftright(br, i) % 2) * lit(1L << (2 * i))
    }.reduce(_ + _)
  }

  // ---------- DataFrame-level operators ----------

  /** Exact dedup: keep one row per distinct value of `textCol` (the
    * row with the minimum `idCol`). One shuffle on a 16-byte digest. */
  def dedupExact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = df
      .groupBy(contentDigest(col(textCol)).as("__digest"))
      .agg(min(col(idCol)).as(idCol))
      .drop("__digest")
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Near-dup candidate groups by MinHash signature: rows sharing a
    * signature are candidates; downstream verification (e.g.
    * tokenJaccard) confirms. Linear shuffle, no pairwise blow-up. */
  def nearDupCandidates(df: DataFrame, textCol: String, idCol: String,
                        k: Int = 3, bands: Int = 4): DataFrame =
    df.withColumn("__sig", minhashSignature(col(textCol), k, bands))
      .groupBy(col("__sig").as("signature"))
      .agg(count(lit(1)).as("n_rows"), min(col(idCol)).as("keeper_id"))

  /** Near-dup candidate pairs over an arbitrary DataFrame: docs
    * sharing ≥1 minhash band minimum, id-only, deduped. An equi
    * self-join on (band_idx, band_min) — one O(N) shuffle, never
    * all-pairs. The single definition of the band-candidate stage
    * (operators and the scale probe delegate here). */
  def bandCandidates(df: DataFrame, textCol: String, idCol: String,
                     k: Int = 3, bands: Int = 4,
                     maxBucketSize: Int = Int.MaxValue): DataFrame = {
    // candidate-pair CAP: a band bucket of n docs contributes
    // n(n-1)/2 pairs, so one replica-heavy bucket can turn the
    // linear plan superlinear. Buckets over `maxBucketSize` are
    // EXCLUDED from pair generation (their docs still pair through
    // any other, smaller band). Never silent: callers surface the
    // dropped buckets via [[oversizedBandBuckets]] — same census,
    // same threshold. The size count is a window over the exact
    // (band_idx, band_min) key the self-join shuffles on (no extra
    // exchange), and it is attached ONLY when the cap can bind —
    // uncapped callers keep the plain explode → self-join plan with
    // no window sort at all.
    val bandRows =
      if (maxBucketSize == Int.MaxValue) bandRows0(df, textCol, idCol, k, bands)
      else bandRowsSized(df, textCol, idCol, k, bands)
        .filter(col("__bn") <= maxBucketSize).drop("__bn")
    bandRows.alias("x")
      .join(bandRows.alias("y"),
        col("x.__band_idx") === col("y.__band_idx") &&
          col("x.__band_min") === col("y.__band_min") &&
          col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"))
      .distinct()
  }

  private def bandRows0(df: DataFrame, textCol: String, idCol: String,
                        k: Int, bands: Int): DataFrame =
    df.select(col(idCol).as("__id"),
        posexplode(split(minhashSignature(col(textCol), k, bands), ":")))
      .toDF("__id", "__band_idx", "__band_min")

  /** Band rows with their bucket size attached (shared by the capped
    * [[bandCandidates]] path and [[oversizedBandBuckets]] so the cap
    * and the census can never disagree). */
  private def bandRowsSized(df: DataFrame, textCol: String, idCol: String,
                            k: Int, bands: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__band_idx"), col("__band_min"))
    bandRows0(df, textCol, idCol, k, bands)
      .withColumn("__bn", count(lit(1)).over(w))
  }

  /** The band buckets a `maxBucketSize` cap would drop from
    * [[bandCandidates]] — the NO-SILENT-TRUNCATION companion: a capped
    * dedup run reports these (band_idx, band_min, n_docs) rows so the
    * skipped pair mass is visible and auditable. Empty when the cap
    * doesn't bind. */
  def oversizedBandBuckets(df: DataFrame, textCol: String, idCol: String,
                           k: Int = 3, bands: Int = 4,
                           maxBucketSize: Int = Int.MaxValue): DataFrame =
    bandRowsSized(df, textCol, idCol, k, bands)
      .filter(col("__bn") > maxBucketSize)
      .groupBy(col("__band_idx").as("band_idx"), col("__band_min").as("band_min"))
      .agg(count(lit(1)).as("n_docs"))

  /** Default band-bucket cap for the near-dup ENDPOINTS (round-4
    * verdict #2: the cap existed but shipped unbuckled —
    * `Int.MaxValue` — so a replica-heavy bucket could quietly turn
    * the linear plan quadratic unless the caller knew to opt in).
    * 64 is the probe-proven value: SCALE.md's cap64 row bounds the
    * replica corpus's candidate blow-up while leaving every bucket of
    * the real corpora untouched (max observed band bucket: 5 at
    * sf0.01, 21 at sf0.1 — the cap binds only on pathological
    * duplication, which [[dedupExact]] should have removed first).
    * NEVER silent: run [[oversizedBandBuckets]] with the same
    * threshold for the audited drop census (the `dedup_band_drops`
    * query is that census as a first-class, oracle-checked output). */
  val defaultBandBucketCap: Int = 64

  /** Verified near-duplicate pairs over an arbitrary DataFrame:
    * [[bandCandidates]] followed by exact token-set Jaccard scoring
    * of candidates only. Returns (id_a, id_b, jaccard) for pairs at
    * or above `threshold`. A size-ratio prune skips the intersection
    * for pairs that cannot reach the threshold (jac ≥ t needs
    * (1+t)·min(|A|,|B|) ≥ t·(|A|+|B|); an epsilon of slack keeps
    * exact-boundary pairs when t is not binary-representable — pure
    * optimization, same output). Run [[dedupExact]] first on corpora
    * with heavy exact duplication (exact dups share every band).
    * Band buckets over `maxBucketSize` (default
    * [[defaultBandBucketCap]]) are excluded from pair generation;
    * audit the exclusions via [[oversizedBandBuckets]]. */
  def nearDupPairs(df: DataFrame, textCol: String, idCol: String,
                   threshold: Double = 0.5, k: Int = 3, bands: Int = 4,
                   maxBucketSize: Int = defaultBandBucketCap): DataFrame = {
    // verify on HASHED token sets (60-bit md5 prefixes as longs, the
    // ppjoin trick): the verify stage ships one token array per
    // candidate side — on a replica-heavy corpus that is the dominant
    // per-pair cost (candidates grow with the TRUE pair mass), and
    // long arrays shuffle ~2.5× smaller and intersect on primitives.
    // Jaccard VALUES are unchanged: hashing is injective on any real
    // vocabulary (60 bits ⇒ ~v²/2⁶¹ collision odds), so set sizes and
    // intersections — hence jac — are identical to the string form
    // the differential oracle computes. r14: sets are SORTED once per
    // doc so the per-PAIR intersection is the native two-pointer
    // count (graft_sorted_inter_count) — array_intersect built a hash
    // set and materialized the intersection array per pair when only
    // its size is consumed.
    graft.functions.VectorFunctions.register(df.sparkSession)
    val docs = df.select(col(idCol).as("__id"),
      sort_array(array_distinct(transform(tokens(col(textCol)),
        w => conv(substring(md5(w.cast("binary")), 1, 15), 16, 10).cast("long"))))
        .as("__toks"))
      .withColumn("__n", size(col("__toks")))
    val a = docs.select(col("__id").as("id_a"), col("__toks").as("__ta"), col("__n").as("__na"))
    val b = docs.select(col("__id").as("id_b"), col("__toks").as("__tb"), col("__n").as("__nb"))
    bandCandidates(df, textCol, idCol, k, bands, maxBucketSize)
      .join(a, "id_a").join(b, "id_b")
      .filter(lit(1.0 + threshold) * least(col("__na"), col("__nb")) >=
        lit(threshold) * (col("__na") + col("__nb")) - lit(1e-9))
      .withColumn("__inter",
        call_function("graft_sorted_inter_count", col("__ta"), col("__tb"))
          .cast("double"))
      .withColumn("jaccard", col("__inter") / (col("__na") + col("__nb") - col("__inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Connected components over an undirected pair graph — the dedup
    * CLUSTERING stage: verified near-dup pairs ([[nearDupPairs]]) form
    * a graph whose components are duplicate clusters; keep the minimum
    * id per component as the canonical representative. Returns
    * (id, component) for every node appearing in ≥1 edge.
    *
    * Algorithm: min-label propagation WITH pointer jumping — labels
    * start at the node id; each round every node takes the minimum
    * label over its closed neighborhood, then labels are path-
    * compressed (label := label(label)), which doubles the effective
    * propagation distance per round, so the fixpoint arrives in
    * O(log diameter) rounds instead of O(diameter) (exact,
    * data-independent result: the per-component min id). Each round is
    * a constant number of shuffles on the node id (O(V+E) volume);
    * round count matters because every round pays fixed job-submission
    * latency on top of the shuffles — log-diameter is what makes the
    * operator cheap on short-diameter near-dup graphs AND safe on
    * pathological chains. `localCheckpoint` truncates lineage each
    * round so the plan doesn't grow with iterations (a 100 TB
    * deployment would point `sparkContext.setCheckpointDir` at durable
    * storage and use `checkpoint()` instead — same structure). The
    * driver-side loop only ever collects a one-row scalar, never
    * data: labels are monotonically non-increasing, so
    * `sum(component)` is strictly decreasing until the fixpoint — a
    * scalar convergence probe that costs one aggregate per round
    * instead of a join against the previous round's labels. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxRounds: Int = 50,
                          preCollapse: Boolean = true): DataFrame =
    ccImpl(edges, srcCol, dstCol, maxRounds, preCollapse,
      parentSymEdges = -1L, level = 0)

  private def ccImpl(edges: DataFrame, srcCol: String, dstCol: String,
                     maxRounds: Int, preCollapse: Boolean,
                     parentSymEdges: Long, level: Int): DataFrame = {
    // materialize the symmetric edge list ONCE, hash-partitioned on the
    // key every downstream pass groups/joins on. Upstream edge pipelines
    // are expensive (LSH candidate gen + Jaccard verification for the
    // dedup callers); before r12 the pre-collapse branch re-evaluated
    // that pipeline for BOTH the l0 pass and the contraction joins —
    // the hidden 2× that made the r11 pre-collapse measurements
    // contradict each other (Graft vs SCALE.md vs driver bench). The
    // plain fixpoint needs exactly this partitioning anyway.
    // MAP-SIDE symmetrize (explode of the 2-struct array), not a
    // self-union: the union's two branches each re-ran the caller's
    // edge pipeline inside this one materializing job — for the dedup
    // callers that is the LSH candidate join + Jaccard verify twice
    // (ReuseExchange only dedups subtrees rooted at an Exchange, and
    // the verify tail is a filter). The explode streams the pipeline
    // ONCE and emits both directions from the map stage (r15).
    val (symRaw, nSym) = materialize(edges
      .select(explode(array(
        struct(col(srcCol).as("__src"), col(dstCol).as("__dst")),
        struct(col(dstCol).as("__src"), col(srcCol).as("__dst")))).as("__e"))
      .select(col("__e.__src").as("__src"), col("__e.__dst").as("__dst"))
      .repartition(col("__src")))
    // RECURSIVE STAR PRE-COLLAPSE with a shrink gate (r12, replacing
    // the r10/r11 single-level version): one closed-neighborhood min
    // pass labels every node min(id, neighbors), then the SAME
    // procedure recurses on the contracted label graph. Exact: star
    // contraction preserves components, and the global min id m is its
    // own star min (every neighbor of m exceeds m), so the
    // per-component min-id label survives every level. Why recursive:
    // cliquey near-dup graphs collapse in one level, but PATH-shaped
    // graphs (the dbscan lattice clusters, the chain probe) only
    // shrink ~2–3× per level — a single level left the pointer-jumped
    // fixpoint shuffling the still-large remainder log(d) times
    // (geo_dbscan measured 5.0× at 10× data in r11). Recursion makes
    // total contraction work GEOMETRIC (E·(1+1/s+1/s²+…) for shrink
    // factor s) while the fixpoint runs only on the tiny residue.
    // Gates, each on the edge count measured by the checkpoint's own job:
    //  - floor 1024 sym edges: below it the fixpoint is already cheap
    //    and a contraction level is pure job overhead (the 80-edge
    //    er-resolve graph ties instead of paying);
    //  - shrink < 0.7×parent: a level that stalls (bipartite-ish
    //    residue) stops the recursion instead of paying dead levels;
    //  - maxContractLevels = 1: deeper recursion was MEASURED
    //    (r12, docs/SCALE.md) to never win — clique graphs collapse in
    //    one level and the zigzag residues stall immediately (level 2
    //    shrank 10740 → 10624 on the dbscan core graph), so extra
    //    levels only paid job overhead; the adaptive hook below is
    //    what rescues crawl-prone residues, not more contraction.
    val maxContractLevels = 1
    val contract = preCollapse && level < maxContractLevels && nSym > 1024 &&
      (parentSymEdges < 0L || nSym * 10L < parentSymEdges * 7L)
    // MEASURED-TINY MODE (r16): with AQE on, every Exchange of every
    // driver-side step (contraction joins, fixpoint rounds, convergence
    // probes) ran as its own driver job (geo_dbscan measured 132 jobs;
    // construct=7.2 s vs exec=1.0 s). Disabling AQE globally was
    // measured 4.3× WORSE (its coalescing is load-bearing for
    // data-sized plans), so only a graph that MEASURES tiny runs the
    // rest of this level in a [[tiny]] scope.
    val spark = edges.sparkSession
    val tag = s"cc:$nSym level=$level contract=$contract"
    scoped(spark, tag, tiny(spark, nSym)) { s =>
      val sym = on(s, symRaw)
      if (!contract) ccFixpoint(sym, maxRounds, tag)
      else {
        val l0 = sym.groupBy(col("__src")).agg(min(col("__dst")).as("__m"))
          .select(col("__src").as("id"), least(col("__src"), col("__m")).as("l0"))
          .localCheckpoint()
        val la = l0.select(col("id").as("__src"), col("l0").as("__la"))
        val lb = l0.select(col("id").as("__dst"), col("l0").as("__lb"))
        val contracted = sym.join(la, "__src").join(lb, "__dst")
          .filter(col("__la") =!= col("__lb"))
          .select(col("__la").as(srcCol), col("__lb").as(dstCol))
          .distinct()
        val inner = ccImpl(contracted, srcCol, dstCol, maxRounds,
            preCollapse = true, parentSymEdges = nSym, level = level + 1)
          .select(col("id").as("l0"), col("component").as("__c"))
        // fully-collapsed clusters have no contracted edge: their label
        // IS the component
        l0.join(inner, Seq("l0"), "left")
          .select(col("id"), coalesce(col("__c"), col("l0")).as("component"))
      }
    }
  }

  /** The min-label fixpoint of [[connectedComponents]]; each round's
    * jobs carry `tag` and the round number in [[ScopeTag]]. */
  private def ccFixpoint(sym: DataFrame, maxRounds: Int, tag: String): DataFrame = {
    // sym is already hash-partitioned + checkpointed, so no round
    // re-shuffles the O(E) side (the dominant per-round volume on dense
    // graphs); only the O(V) label side moves each round
    var labels = sym.select(col("__src").as("id")).distinct()
      .withColumn("component", col("id")).localCheckpoint()
    // Convergence probe, by id type. INTEGRAL ids: labels only ever
    // decrease, so sum(component) is strictly decreasing until the
    // fixpoint — one scalar aggregate per round (decimal(38,0) keeps
    // it exact; a Long sum could wrap and fake a fixpoint). Every
    // other id type uses the join-based changed-row count — correct
    // for any type, one extra join per round. That includes
    // FRACTIONAL numerics (Double/Float/Decimal with scale>0): the
    // probe casts to decimal(38,0), which ROUNDS, so two distinct
    // fractional labels that change between rounds but round to the
    // same integer would leave the sum unchanged and declare
    // convergence before the fixpoint. Strings (legal — min-label
    // propagation only needs an ordering) cast to null and would
    // fake convergence after round 1.
    val scalarProbeSafe = {
      import org.apache.spark.sql.types._
      sym.schema("__src").dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case d: DecimalType                                => d.scale == 0
        case _                                             => false
      }
    }
    def labelSum(df: DataFrame): Option[java.math.BigDecimal] =
      Option(df.agg(sum(col("component").cast("decimal(38,0)"))).first().getDecimal(0))
    var prev: Option[java.math.BigDecimal] = None
    var round = 0
    var done = false
    // ADAPTIVE HOOKING (Shiloach–Vishkin, added r12). A node v that is
    // a local (but not global) minimum is a FIXED POINT of the pointer
    // jump (label(v) = v), and the true min then creeps past such
    // nodes one hop per round: the ~sf1 dbscan lattice, whose
    // cross-replica eps-edges interleave id ranges into alternating
    // local minima, measured a LINEAR round count and hit the
    // maxRounds cap UNCONVERGED (the sum probe was still decreasing by
    // exactly one replica-offset per round at round 50 — i.e. the r11
    // sf1 cluster census was silently wrong). The hook step collapses
    // a stuck star the moment ANY member sees a smaller label —
    // min(p) grouped by the current label — restoring a genuinely
    // logarithmic round count independent of how ids correlate with
    // graph position. It costs ~2 extra shuffles per round, and the
    // overwhelmingly common graphs (near-dup cliques, post-contraction
    // residues) converge in ≤6 cheap rounds without it — so hooking
    // arms only when the fixpoint is still running at round 6, the
    // crawl signature it exists to fix. Monotone (h ≤ p ≤ old label),
    // and h is always itself a node id, so the jump stays total.
    // MEASURED AND KEPT AT 6 (r13 revisit, dbscan-probe min-of-3):
    // arming at round 0 for contraction levels ≥1 did NOT cut rounds
    // on the dbscan lattice residue (8/10 rounds either way — the
    // plain propagate+jump rounds do the bulk of the label descent and
    // the count is already ~log(diameter)-optimal); it only added the
    // hook's 2 shuffles to every round, regressing end-to-end
    // 5.9 → 6.3 s (sf0.1) and 17.1 → 22.4 s (~sf1). The hook is
    // convergence INSURANCE for crawl-prone id layouts, not a
    // round-count accelerator on graphs the jump already handles.
    val hookFromRound = 6
    def oneRound(labels: DataFrame, round: Int): DataFrame =
      if (round < hookFromRound) {
        val prop = labels.join(sym, col("id") === col("__src"))
          .select(col("__dst").as("id"), col("component"))
          .union(labels)
          .groupBy("id").agg(min("component").as("component"))
        // pointer jumping: component := component(component). Every
        // label value is itself a node id (a min over member ids), so
        // the self-join is total.
        val l2 = prop.select(col("id").as("__lid"), col("component").as("__lcomp"))
        prop.join(l2, col("component") === col("__lid"))
          .select(col("id"), col("__lcomp").as("component"))
      } else {
        // one pass computes BOTH the closed-neighborhood min (p) and
        // the node's old label (__lab): the union's label rows are
        // flagged __own, and max(when(__own)) recovers the single old
        // label — saving a labels-join that a naive hook would pay
        val prop = labels.join(sym, col("id") === col("__src"))
          .select(col("__dst").as("id"), col("component"),
            lit(false).as("__own"))
          .union(labels.withColumn("__own", lit(true)))
          .groupBy("id").agg(min("component").as("p"),
            max(when(col("__own"), col("component"))).as("__lab"))
        val hook = prop.groupBy(col("__lab")).agg(min(col("p")).as("__h"))
        val hooked = prop.join(hook, "__lab")
          .select(col("id"), col("__h").as("component"))
        val l2 = hooked.select(col("id").as("__lid"), col("component").as("__lcomp"))
        hooked.join(l2, col("component") === col("__lid"))
          .select(col("id"), col("__lcomp").as("component"))
      }
    // NOTE on round batching (r13, measured and REJECTED): running two
    // propagate+jump rounds unmaterialized inside one job — to amortize
    // fixed job latency — regressed dbscan 5.9 → 8.9 s (sf0.1) and
    // 17.1 → 36.0 s (~sf1): the pointer jump is a SELF-JOIN on the
    // freshly-propagated labels, so each unmaterialized round
    // re-evaluates its predecessor's plan twice (geometric blow-up per
    // batched round). The per-round checkpoint is load-bearing, not
    // bookkeeping.
    while (!done && round < maxRounds) {
      sym.sparkSession.sparkContext.setLocalProperty(ScopeTag, s"$tag round=$round")
      val comp = oneRound(labels, round)
        // lazy checkpoint: the convergence action below is what
        // materializes it — one Spark job per round
        .localCheckpoint(false)
      if (scalarProbeSafe) {
        val cur = labelSum(comp)
        done = prev == cur
        prev = cur
      } else {
        done = comp.join(labels.withColumnRenamed("component", "__old"), "id")
          .filter(col("component") =!= col("__old")).isEmpty
      }
      labels = comp
      round += 1
    }
    if (!done)
      // HARD FAILURE, not a warning (r12 verdict #1): truncated labels
      // are NOT components, and every downstream endpoint (dedupCorpus,
      // erResolve, dbscan, semanticDedup) would consume them as truth —
      // the r11 ~sf1 DBSCAN census was silently wrong for exactly this
      // reason, and the DuckDB oracle (sf0.01/sf0.1) can never see it.
      // With hooking the round count is ~log(component size), so
      // hitting a 50-round cap means something is structurally wrong;
      // failing loudly is the only safe contract.
      throw new IllegalStateException(
        s"connectedComponents hit maxRounds=$maxRounds without " +
          "converging - labels would be incomplete; raise maxRounds " +
          "or investigate the graph structure")
    labels
  }

  /** End-to-end corpus deduplication — the user-facing endpoint
    * composing the pipeline stages: [[nearDupPairs]] (LSH-bucketed
    * candidates + Jaccard verification; exact duplicates share every
    * band, so they are caught too) → [[connectedComponents]]
    * (transitive closure over verified pairs) → drop every cluster
    * member except the minimum-id canonical row. Returns the kept
    * rows with their original columns. Beyond the clustering itself
    * the only extra work is one anti-join on the id — the drop set is
    * cluster-members-only, far smaller than the corpus. */
  def dedupCorpus(df: DataFrame, textCol: String, idCol: String,
                  threshold: Double = 0.5, k: Int = 3, bands: Int = 4,
                  maxBucketSize: Int = defaultBandBucketCap): DataFrame = {
    val pairs = nearDupPairs(df, textCol, idCol, threshold, k, bands, maxBucketSize)
    val drops = connectedComponents(pairs, "id_a", "id_b")
      .filter(col("id") =!= col("component"))
      .select(col("id").as("__drop_id"))
    df.join(drops, df(idCol) === col("__drop_id"), "left_anti")
  }

  /** [[dedupCorpus]] with a KEEPER POLICY: instead of the min-id
    * canonical, keep the first row of each duplicate cluster under
    * `keepBy` (e.g. longest text, highest quality score, preferred
    * source — ties should end in a unique column for determinism).
    * Unclustered rows form singleton clusters and always survive.
    * Costs one row_number window over the cluster id on top of the
    * clustering itself — the window partitions by cluster, so skew is
    * bounded by the largest duplicate cluster. */
  def dedupCorpusBy(df: DataFrame, textCol: String, idCol: String,
                    keepBy: Seq[Column], threshold: Double = 0.5,
                    k: Int = 3, bands: Int = 4,
                    maxBucketSize: Int = defaultBandBucketCap): DataFrame = {
    val pairs = nearDupPairs(df, textCol, idCol, threshold, k, bands, maxBucketSize)
    // collision-proof internal names (__graft_ prefix, like
    // AsofJoin's shadows): a caller DataFrame legitimately owning a
    // column named "component" or "__cluster" must survive unchanged
    val comp = connectedComponents(pairs, "id_a", "id_b")
      .select(col("id").as("__graft_cid"), col("component").as("__graft_component"))
    val labeled = df.join(comp, df(idCol) === col("__graft_cid"), "left")
      .withColumn("__graft_cluster", coalesce(col("__graft_component"), df(idCol)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__graft_cluster")).orderBy(keepBy: _*)
    labeled.withColumn("__graft_rk", row_number().over(w))
      .filter(col("__graft_rk") === 1)
      .drop("__graft_cid", "__graft_component", "__graft_cluster", "__graft_rk")
  }

  /** Decontamination: flag training rows whose text shares at least
    * one k-gram shingle with an evaluation/benchmark set — the
    * standard guard against test-set leakage into a training corpus.
    * Returns (id, n_overlap) for contaminated rows only, n_overlap
    * counting the DISTINCT shared shingles.
    *
    * The eval shingle set is broadcast BY CONSTRUCTION, not by
    * measurement: an eval suite is bounded (thousands of documents)
    * independent of corpus size, so unlike a corpus-derived table
    * this broadcast cannot grow with the data — the 100 TB train side
    * streams past it map-side, and the only shuffle is the final
    * groupBy on the rows that SURVIVED the broadcast join (a tiny
    * fraction of the corpus). Ordering matters: filter-by-join first,
    * dedupe shingles after — a distinct before the join would shuffle
    * every shingle of the whole corpus. */
  def decontaminate(train: DataFrame, evalSet: DataFrame,
                    textCol: String, idCol: String, k: Int = 4): DataFrame = {
    val evalNg = evalSet
      .select(explode(shingles(col(textCol), k)).as("__ng")).distinct()
    train
      .select(col(idCol).as("id"), explode(shingles(col(textCol), k)).as("__ng"))
      .join(broadcast(evalNg), "__ng")
      .groupBy("id").agg(count_distinct(col("__ng")).as("n_overlap"))
  }

  /** PII patterns for [[redactPii]] — deliberately written in the
    * regex subset Java (Spark) and RE2 (DuckDB oracle) interpret
    * identically: no backreferences, no lookaround, no \b. */
  val emailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern: String = "\\+\\d{1,2}-\\d{3}-\\d{4}"
  val ipv4Pattern: String = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"

  /** PII redaction: replace emails, phone numbers, and IPv4 addresses
    * with typed placeholder tags. Order matters — emails first (their
    * local/domain parts could otherwise be partially eaten by the IP
    * rule), then phones, then bare IPs. A map-only expression: at
    * 100 TB this is a single codegen'd pass with no shuffle. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "<EMAIL>"),
        phonePattern, "<PHONE>"),
      ipv4Pattern, "<IP>")

  /** The engine's custom as-of join operator (AsofJoinExec, O(n+m)
    * streaming merge per key — see graft.plans.AsofJoin for the
    * plan machinery). `direction` "backward" (default) matches the
    * latest right row at-or-before each left time (ties → largest
    * `tiebreakCol`); "forward" the earliest at-or-after (ties →
    * smallest). `tolerance` (normalized time units — epoch micros
    * for timestamps) bounds the match distance. `joinType` "inner"
    * (default) drops unmatched lefts; "left" keeps them with null
    * payload — full pandas merge_asof parity. */
  def asofJoin(spark: SparkSession, left: DataFrame, right: DataFrame,
               leftKeyCol: String, leftTimeCol: String,
               rightKeyCol: String, rightTimeCol: String,
               tiebreakCol: String, payloadCols: Seq[String],
               direction: String = "backward",
               tolerance: Option[Long] = None,
               joinType: String = "inner"): DataFrame =
    graft.plans.AsofJoin.asofJoin(spark, left, right, leftKeyCol, leftTimeCol,
      rightKeyCol, rightTimeCol, tiebreakCol, payloadCols,
      direction, tolerance, joinType)

  /** Exact cosine top-k: for each row of `queries`, the k most similar
    * rows of `candidates` by cosine. Queries are broadcast; candidates
    * stream — the right plan when |queries| ≪ |candidates|. */
  def cosineTopK(spark: SparkSession, queries: DataFrame, candidates: DataFrame,
                 idCol: String, vecCol: String, kTop: Int): DataFrame = {
    register(spark)
    import org.apache.spark.sql.expressions.Window
    // norms computed once per row pre-join; only the dot is per-pair
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("__qv"))
      .withColumn("__qn", l2norm(col("__qv")))
    val c = candidates.select(col(idCol).as("neighbor_id"), col(vecCol).cast("array<double>").as("__cv"))
      .withColumn("__cn", l2norm(col("__cv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("__cos").desc, col("neighbor_id"))
    broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("__cos", dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= kTop)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("__cos").as("cosine"))
  }

  // ---------- warehouse sink seam (SURVEY §2.1 S5) ----------

  /** The warehouse-load seam: the reference's terminal step pushes
    * accepted rows to an analytics warehouse (the stubbed load intent,
    * /root/reference/main.py:17). In production on Spark that is
    * `df.write.format("bigquery").option("table", …)` (or any DSv2
    * warehouse connector); offline it's parquet. This seam makes the
    * format string + options the ONLY difference between the two — the
    * dataflow code is identical, which is what lets the same pipeline
    * run against the test harness and a production warehouse.
    *
    * Scale note: the write parallelism is the upstream partitioning —
    * this seam adds no coalesce/repartition of its own, so a 1000-file
    * partitioned layout streams from 1000 tasks. */
  def writeWarehouse(df: DataFrame, format: String, path: String,
                     partitionBy: Seq[String] = Nil,
                     mode: String = "overwrite",
                     options: Map[String, String] = Map.empty): Unit = {
    val w = df.write.format(format).mode(mode).options(options)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).save(path)
  }

  /** Small-file COMPACTION — the table-maintenance pass every
    * streaming/incremental sink eventually needs: micro-batches leave
    * thousands of KB-sized part files whose per-file open/footer cost
    * dominates scans at 100 TB. Rewrites `path` into
    * `ceil(bytes / targetBytes)` files (size-derived, never a
    * hardcoded count) via a sibling-directory write + swap, so a
    * failure mid-compact leaves the original intact. Returns
    * (filesBefore, filesAfter). Row content is untouched — the spec
    * pins count and content parity.
    *
    * The swap is two renames on a local FS — NOT atomic as a pair:
    * readers racing the swap can observe `path` absent for the
    * instant between them. A failed publish (second rename) rolls
    * the staged original back into place, so no failure mode
    * strands the data; only the rollback's own rename failing —
    * a filesystem-level fault — would, and that raises with both
    * paths named. On an object store the production form is a table
    * format's commit (same rewrite plan, different pointer swing —
    * cf. the CDC sink's `_LATEST`), which closes the visibility gap
    * too. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def partFiles(d: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
      val it = fs.listFiles(d, true)
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.startsWith("part-")) out += f
      }
      out.toSeq
    }
    val before = partFiles(p)
    val totalBytes = before.map(_.getLen).sum
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val tmp = new org.apache.hadoop.fs.Path(path + "__compacting")
    fs.delete(tmp, true)
    spark.read.parquet(path).repartition(n)
      .write.mode("overwrite").parquet(tmp.toString)
    val old = new org.apache.hadoop.fs.Path(path + "__precompact")
    fs.delete(old, true)
    require(fs.rename(p, old), s"compact: could not stage $path aside")
    if (!fs.rename(tmp, p)) {
      // publish failed with the original staged aside — restore it so
      // the dataset is never stranded under __precompact
      val restored = fs.rename(old, p)
      require(restored,
        s"compact: publish failed AND restore failed — data is at $old")
      // best-effort: drop the orphaned compacted copy so a failed
      // publish doesn't leak a full duplicate of the dataset on disk
      try fs.delete(tmp, true) catch { case _: java.io.IOException => () }
      throw new IllegalStateException(
        s"compact: could not publish compacted $path (original restored)")
    }
    fs.delete(old, true)
    (before.size, partFiles(p).size)
  }

  /** BigQuery sink configuration — the production shape of the
    * reference's warehouse load (/root/reference/main.py:17). Field
    * names mirror the public spark-bigquery-connector option surface
    * (https://github.com/GoogleCloudDataproc/spark-bigquery-connector):
    * the connector reads the target as `project.dataset.table`, takes
    * write disposition from the Spark SaveMode (WRITE_TRUNCATE ↔
    * overwrite, WRITE_APPEND ↔ append), and stages indirect loads
    * through `temporaryGcsBucket`. Everything here is pure option
    * plumbing — [[writeBigQuery]] funnels it into [[writeWarehouse]]
    * unchanged, so offline (no connector jar, zero egress) the exact
    * same map is assertable through a mock format
    * (`BigQuerySinkSpec`), and in production the only change is the
    * jar on the classpath. */
  final case class BigQuerySink(
      project: String,
      dataset: String,
      table: String,
      temporaryGcsBucket: Option[String] = None,
      writeDisposition: String = "WRITE_TRUNCATE",
      createDisposition: String = "CREATE_IF_NEEDED",
      writeMethod: String = "indirect",
      partitionField: Option[String] = None,
      clusteredFields: Seq[String] = Nil,
      extraOptions: Map[String, String] = Map.empty) {
    require(Set("WRITE_TRUNCATE", "WRITE_APPEND", "WRITE_EMPTY")(writeDisposition),
      s"writeDisposition must be WRITE_TRUNCATE|WRITE_APPEND|WRITE_EMPTY, got $writeDisposition")
    require(Set("CREATE_IF_NEEDED", "CREATE_NEVER")(createDisposition),
      s"createDisposition must be CREATE_IF_NEEDED|CREATE_NEVER, got $createDisposition")
    require(Set("direct", "indirect")(writeMethod),
      s"writeMethod must be direct|indirect, got $writeMethod")
    require(writeMethod == "direct" || temporaryGcsBucket.nonEmpty,
      "indirect writeMethod stages through GCS: temporaryGcsBucket is required")

    /** Fully-qualified table reference the connector resolves. */
    def tableRef: String = s"$project.$dataset.$table"

    /** SaveMode string the connector maps back to the disposition. */
    def saveMode: String = writeDisposition match {
      case "WRITE_TRUNCATE" => "overwrite"
      case "WRITE_APPEND"   => "append"
      case "WRITE_EMPTY"    => "errorifexists"
    }

    /** The connector option map, exactly as handed to the
      * DataFrameWriter. Keys are the connector's public names. */
    def options: Map[String, String] =
      Map(
        "project"           -> project,
        "dataset"           -> dataset,
        "writeMethod"       -> writeMethod,
        "createDisposition" -> createDisposition) ++
        temporaryGcsBucket.map("temporaryGcsBucket" -> _) ++
        partitionField.map("partitionField" -> _) ++
        (if (clusteredFields.nonEmpty)
           Map("clusteredFields" -> clusteredFields.mkString(","))
         else Map.empty) ++
        extraOptions
  }

  /** Write to BigQuery through the warehouse seam. `format` defaults
    * to the real connector name and is overridable ONLY so the offline
    * spec can substitute a recording mock — production callers never
    * pass it. */
  def writeBigQuery(df: DataFrame, sink: BigQuerySink,
                    format: String = "bigquery"): Unit =
    writeWarehouse(df, format, sink.tableRef, partitionBy = Nil,
      mode = sink.saveMode, options = sink.options)

  // ---------- scoped execution ----------

  /** Measured row count at or below which [[tiny]] fires. */
  private[graft] val TinyRows: Long = 1L << 20

  /** Job property naming the scope whose body launched a job:
    * `<gate>:<measured rows>`, plus any state the body adds. */
  private[graft] val ScopeTag = "graft.scope"

  /** MEASURED-TINY settings (r16) for driver-side construction that
    * materializes BOUNDED intermediates (seeded BFS frontiers, beam
    * steps, fixpoint rounds, bounded-model collects): AQE off, codegen
    * off and a width derived from `rows`, never from the core count.
    * Under AQE every Exchange of every step ran as its own driver job
    * (graph_betweenness: 53 jobs of 1-2 tasks × 10-70 ms), and each
    * fresh step recompiled whole-stage codegen. `rows` is a MEASURED
    * count, from an already-checkpointed input; above [[TinyRows]] —
    * any real deployment scale — the settings are empty. */
  private[graft] def tiny(spark: SparkSession, rows: Long): Map[String, String] =
    if (rows > TinyRows) Map.empty
    else Map(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> math.max(1L, math.min(
        spark.conf.get("spark.sql.shuffle.partitions").toLong,
        rows / 65536L + 1L)).toString,
      "spark.sql.codegen.wholeStage" -> "false")

  /** `df` bound to session `s`: a frame plans and executes under its
    * own session's conf. */
  private[graft] def on(s: SparkSession, df: DataFrame): DataFrame =
    if (df.sparkSession eq s) df
    else GraftShim.ofRows(s, df.queryExecution.analyzed)

  /** Run `body` against a session that has `spark`'s SQL conf plus
    * `settings`, and return its frame bound to `spark`. Library code
    * never writes the caller's session conf, so a query planned
    * concurrently on `spark` never sees `settings`. The body gets the
    * scope session and must bind every caller frame it reads to it
    * with [[on]]. While the body runs, the thread's [[ScopeTag]] job
    * property is `tag`, so each job it launches names the decision and
    * the measured size it keyed on. With empty `settings`, or when
    * `spark` is already a scope session (a gate inside a scoped body,
    * e.g. ccImpl's recursion), the body runs on `spark` itself. */
  private[graft] def scoped(spark: SparkSession, tag: String,
                            settings: Map[String, String])
                           (body: SparkSession => DataFrame): DataFrame =
    tagged(spark, tag) {
      val held = Scope.held.get
      if (settings.isEmpty || (held != null && (held._2 eq spark))) body(spark)
      else {
        val base = spark.conf.getAll
        val snapshot = (spark, base, GraftShim.extraPlanning(spark))
        if (held == null || held._1 != snapshot)
          Scope.held.set((snapshot, GraftShim.cloneSession(spark)))
        val s = Scope.held.get._2
        settings.foreach { case (k, v) => s.conf.set(k, v) }
        try on(spark, body(s))
        finally settings.keys.foreach(k => base.get(k).fold(s.conf.unset(k))(s.conf.set(k, _)))
      }
    }

  /** `body` with this thread's [[ScopeTag]] job property set to `tag`;
    * the caller's tag is back once it returns or throws. */
  private[graft] def tagged[A](spark: SparkSession, tag: String)(body: => A): A = {
    val sc = spark.sparkContext
    val priorTag = sc.getLocalProperty(ScopeTag)
    sc.setLocalProperty(ScopeTag, tag)
    try body finally sc.setLocalProperty(ScopeTag, priorTag)
  }

  /** `df` checkpointed, and its row count, from ONE job: an observed
    * row count rides the eager checkpoint's own job and is read from
    * its executed plan, where `localCheckpoint()` plus `count()` runs
    * the checkpoint job and then a count over the checkpoint (two more
    * jobs under AQE). Shuffle stages upstream of the checkpoint still
    * run as their own jobs. A lazy checkpoint filled by a count of
    * its RDD also runs one job, but measured slower in fresh JVMs:
    * `graph_ppr` at sf0.1 on 4 cores (`OptBench time`, three
    * alternating pairs) took 1.07–1.35 s median that way and
    * 0.95–1.10 s this way. */
  private[graft] def materialize(df: DataFrame): (DataFrame, Long) = {
    // a metric name must be unique within a plan
    val name = s"graft_rows_${observations.incrementAndGet()}"
    val observed = df.observe(name, count(lit(1)))
    val cp = observed.localCheckpoint()
    (cp, observed.queryExecution.observedMetrics(name).getLong(0))
  }
  private val observations = new java.util.concurrent.atomic.AtomicLong

  /** The thread's scope session and the snapshot (caller, its conf,
    * its planner extensions) it was cloned from. Reused while the
    * snapshot holds: a fresh clone gets its own artifact classloader,
    * and a checkpoint on one ran ~3× slower than on a reused clone. */
  private object Scope { val held = new ThreadLocal[(Any, SparkSession)] }

  /** Key-hashed explicit-N repartition applied ONLY when the frame's
    * measured parallelism (its scan split count — a planning-time
    * query, no job) is below half the configured shuffle width (r16,
    * VERDICT item 6): the explicit-N exists to parallelize
    * compute-dense fan-outs above a one-split local scan, but at real
    * scale the scan has thousands of splits and an unconditional
    * repartition keyed on a downstream-unused column is a pure extra
    * shuffle — and explicit N could even CAP map parallelism below
    * the natural split count. */
  private[graft] def spreadIfNarrow(df: DataFrame, key: Column): DataFrame = {
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions * 2 < target) df.repartition(target, key)
    else df
  }

  /** localCheckpoint with AQE partition COALESCING disabled for just
    * this materialization (r16, guide §2.5 — the AQE coalesce trap):
    * AQE sizes post-shuffle partitions by OUTPUT BYTES, so a compact
    * aggregate that feeds a compute-dense fan-out (a pair explode, a
    * per-row heavy transform) gets cached in very few partitions and
    * caps every downstream stage's parallelism at that count. Use
    * when the caller KNOWS the bytes-per-row downstream cost is much
    * higher than the cached bytes suggest. Scale-safe: at real scale
    * the materialized side is large and coalescing would not have
    * fired anyway — this only forfeits an optimization that is wrong
    * exactly here. AQE itself stays ON (skew splitting, join
    * planning). */
  private[graft] def checkpointWide(df: DataFrame): DataFrame =
    scoped(df.sparkSession, "checkpointWide",
      Map("spark.sql.adaptive.coalescePartitions.enabled" -> "false")) { s =>
      on(s, df).localCheckpoint()
    }

  // ---------- corpus-preparation operators ----------

  /** First 8 md5 hex chars of an id as a positive long — the
    * deterministic "random" driver for splits and sampling
    * (engine-portable, reproducible from the id alone). */
  def idHash(id: Column): Column =
    conv(substring(md5(id.cast("string").cast("binary")), 1, 8), 16, 10).cast("long")

  /** Deterministic split label over an id column: buckets md5(id) mod
    * 100 into named fractions, e.g. Seq("train" -> 80, "val" -> 10,
    * "test" -> 10). Fractions must sum to 100. */
  def splitLabel(id: Column, fractions: Seq[(String, Int)]): Column = {
    require(fractions.map(_._2).sum == 100, "split fractions must sum to 100")
    val bucket = idHash(id) % 100
    val cumulative = fractions.scanLeft(0)(_ + _._2).tail
    fractions.zip(cumulative).init
      .foldRight(lit(fractions.last._1): Column) { case (((name, _), cum), rest) =>
        when(bucket < cum, name).otherwise(rest)
      }
  }

  /** Sliding token-window chunks with overlap — the
    * document→training-example fan-out stage (window W, stride S ≤ W
    * overlaps consecutive chunks by W−S tokens). Chunk i covers
    * tokens [i·S+1, i·S+W]; the last chunk index is
    * ceil((n−W)/S) (0 for short docs), so every token lands in ≥1
    * chunk, the tail chunk may be short, and no chunk is a pure
    * subset of its predecessor (a start past the previous chunk's
    * end-of-coverage would only re-emit already-covered tokens,
    * over-representing the tail in training data). The token array is
    * bound as a lambda variable (one split per row — the [[shingles]]
    * lesson); a map-only fan-out at any scale. */
  def chunkOverlap(text: Column, window: Int, stride: Int): Column = {
    require(stride > 0 && window >= stride, "need 0 < stride <= window")
    element_at(
      transform(array(tokens(text)), w => {
        // ceil((n - W)/S) in exact integer arithmetic, clamped at 0
        val lastIdx = greatest(lit(0),
          floor((size(w) - lit(window) + lit(stride) - 1).cast("double") / lit(stride))
            .cast("int"))
        transform(sequence(lit(0), lastIdx),
          i => concat_ws(" ", slice(w, i * lit(stride) + 1, lit(window))))
      }), 1)
  }

  /** Deterministic fractional keep at an arbitrary (possibly
    * data-derived, non-integer) fraction: idHash/2³² < frac — the
    * md5 analog of Bernoulli sampling, reproducible from the id
    * alone. [[sampledBy]] is the integer-percent special case. */
  def keepByFraction(id: Column, frac: Column): Column =
    idHash(id).cast("double") / lit(4294967296.0) < frac

  /** Integer-exact variant of [[keepByFraction]] for data-derived
    * fractions in MICRO-units (fracE6 = fraction·10⁶):
    * idHash·10⁶ < fracE6·2³² — an all-integer comparison (both sides
    * < 2⁶³), so no double rounding exists for two engines to
    * disagree on at a boundary. */
  def keepByMicroFraction(id: Column, fracE6: Column): Column =
    idHash(id) * lit(1000000L) < fracE6 * lit(4294967296L)

  /** Deterministic sampling predicate: keep rows whose id-hash falls
    * under `percent` (0–100). Same id → same verdict, forever. */
  def sampledBy(id: Column, percent: Int): Column =
    (idHash(id) % 100) < percent

  /** Duplicate-token ratio (1 − distinct/total) — the Gopher-style
    * repetition signal; pure per-row expression. */
  def dupTokenRatio(text: Column): Column = {
    val t = tokens(text)
    lit(1.0) - size(array_distinct(t)).cast("double") / size(t)
  }

  /** Stop-word list for the few-stopwords Gopher rule (the corpus
    * vocabulary only carries "the"/"a", but the rule takes the standard
    * short list). */
  val stopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in")

  /** Quality verdict for a document: "ok" or the FIRST failing rule —
    * the Gopher-style accept/reject-with-reason gate of a
    * corpus-cleaning stage as ONE per-row expression (map-only at any
    * scale). Rules in order: word-count bounds ("too-short" /
    * "too-long"), line-shape ratios ("bullet-heavy" lines starting
    * with •, "ellipsis-heavy" lines ending with …), symbol-to-word
    * ratio over [#…] ("symbol-heavy"), mean word length
    * ("word-salad"), distinct stop-word presence ("few-stopwords"),
    * duplicate-token ratio ("repetitive"). Line rules come before the
    * symbol rule because … is both a line marker and a symbol.
    * Tokenization is the regex-whitespace variant ([[tokens(text,
    * pattern)]]), so messy multi-line text counts correctly. The new
    * rules default to disabled (ratio thresholds ≥ 1e9, minStopwords
    * 0), and "repetitive" moved from third to LAST — specific shape
    * reasons must outrank the generic duplicate-token catch-all
    * (bullet-heavy text is also massively token-duplicated, and would
    * otherwise never surface its real reason). Callers of the
    * original four-rule signature can therefore see "word-salad"
    * where they previously saw "repetitive" when a document violates
    * both — a deliberate taxonomy change, not an accident. */
  def qualityVerdict(text: Column, minTokens: Int, maxTokens: Int,
                     maxDupRatio: Double, maxMeanWordLen: Double,
                     maxBulletRatio: Double = 1e9, maxEllipsisRatio: Double = 1e9,
                     maxSymbolRatio: Double = 1e9, minStopwords: Int = 0): Column = {
    val w = tokens(text, "\\s+")
    val n = size(w)
    val nd = n.cast("double")
    val meanLen = length(array_join(w, "")).cast("double") / nd
    val lines = split(text, "\n")
    val nLines = size(lines).cast("double")
    val bulletRatio = size(filter(lines, l => l.startsWith("•"))).cast("double") / nLines
    val ellipsisRatio = size(filter(lines, l => l.endsWith("…"))).cast("double") / nLines
    val symbolRatio = (length(text) - length(regexp_replace(text, "[#…]", ""))).cast("double") / nd
    val stopHits = size(array_intersect(array_distinct(w), array(stopwords.map(lit): _*)))
    val dupRatio = lit(1.0) - size(array_distinct(w)).cast("double") / nd
    when(n < minTokens, "too-short")
      .when(n > maxTokens, "too-long")
      .when(bulletRatio > maxBulletRatio, "bullet-heavy")
      .when(ellipsisRatio > maxEllipsisRatio, "ellipsis-heavy")
      .when(symbolRatio > maxSymbolRatio, "symbol-heavy")
      .when(meanLen > maxMeanWordLen, "word-salad")
      .when(stopHits < minStopwords, "few-stopwords")
      .when(dupRatio > maxDupRatio, "repetitive")
      .otherwise("ok")
  }

  /** Concat-and-chunk packing bin: documents are concatenated in
    * `order` within each `partition` value and cut into
    * `tokensPerBin`-token windows; a row's bin is where its first
    * token lands. One window cumsum — no pairwise work. */
  def packBin(df: DataFrame, partitionCol: String, orderCol: String,
              nTokensCol: String, tokensPerBin: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(partitionCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__cum", sum(col(nTokensCol)).over(w))
      // integer DIV, not `/`: long `/` is double division, which
      // rounds above 2^53 — exactly the corpus-scale token counts
      // this operator exists for
      .withColumn("bin_id",
        expr(s"CAST((`__cum` - `$nTokensCol`) DIV $tokensPerBin AS BIGINT)"))
      .drop("__cum")
  }

  /** LSH-bucketed approximate cosine top-k — the scale path: an equi
    * join on the bucket signature bounds pairwise work per bucket. */
  def cosineTopKAnn(spark: SparkSession, queries: DataFrame, candidates: DataFrame,
                    idCol: String, vecCol: String, kTop: Int): DataFrame = {
    register(spark)
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("__qv"))
      .withColumn("__qb", lshBucket(col("__qv")))
      .withColumn("__qn", l2norm(col("__qv")))
    val c = candidates.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("__cv"))
      .withColumn("__cb", lshBucket(col("__cv")))
      .withColumn("__cn", l2norm(col("__cv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("__cos").desc, col("neighbor_id"))
    q.join(c, col("__qb") === col("__cb") && col("query_id") =!= col("neighbor_id"))
      .withColumn("__cos", dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= kTop)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("__cos").as("cosine"))
  }

  /** Build an IVF-PQ ANN index over ANY (id, vector) DataFrame — the
    * generic form of the `sim_ivfpq_topk` machinery: k-means coarse
    * cells with k = clamp(⌈N / cellTarget⌉) (the fixed-cell-population
    * policy that keeps every downstream pairwise stage linear in N),
    * then product codes over the COARSE RESIDUALS (nSub subspaces ×
    * ksub codewords; at ksub=256 each code is one byte). Returns
    * `(idCol, cell, codes)` — the compressed, cell-partitionable index
    * table a serving layer scans; at 100 TB, write it partitioned by
    * `cell`. Training is deterministic (md5-seeded init, exact
    * integer-quantized means), so rebuilding over the same corpus
    * yields the same index. The vector width must equal
    * nSub × subDim for every row (subDim is taken from the first
    * vector). */
  def ivfPqIndex(spark: SparkSession, df: DataFrame, idCol: String, vecCol: String,
                 cellTarget: Int = 64, nSub: Int = 8, ksub: Int = 16): DataFrame = {
    register(spark)
    val ops = graft.operators.Similarity
    // the id keeps ITS OWN type — the trainers only hash (md5 over a
    // string cast) and order it, both type-agnostic; a long cast here
    // would silently null string ids
    val vecs = df.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("vn", l2norm(col("v")))
    val n = vecs.count()
    require(n > 0, "ivfPqIndex: empty input")
    val dims = vecs.select(size(col("v"))).head().getInt(0)
    require(dims % nSub == 0, s"vector width $dims not divisible into $nSub subspaces")
    val k = math.max(1L, math.min(4096L, math.ceil(n / cellTarget.toDouble).toLong)).toInt
    val cents = ops.centsLiteral(ops.trainIvfCentroids(vecs, k))
    val assigned = ops.assignCells(vecs, cents)
    val residuals = assigned.select(col("vec_id"),
      call_function("graft_cell_residual", col("v"), col("cell"), cents).as("v"))
    val cb = ops.pqCbLiteral(
      ops.trainPqCodebooks(residuals, nSub, ksub, dims / nSub))
    assigned
      .withColumn("rv", call_function("graft_cell_residual", col("v"), col("cell"), cents))
      .select(col("vec_id").as(idCol), col("cell"),
        call_function("graft_pq_encode", col("rv"), cb).as("codes"))
  }

  /** PERSIST an IVF index: the durable half of the serving lifecycle
    * ([[ivfPqIndex]] trains in-JVM and the `CorpusMemo` cache only
    * outlives a query, not a process). Writes two parquet tables
    * under `path`:
    *
    *   - `centroids/` — (cent_id, cv): the bounded model artifact
    *     (k rows, k ≤ 4096 — always broadcast-class);
    *   - `index/` — (id, cell), PARTITIONED BY cell: the layout a
    *     serving scan wants, because a probe of p cells prunes to p
    *     partitions at the FILE level (partition pruning, no scan).
    *
    * Training is the same deterministic seeded-Lloyd as
    * [[ivfPqIndex]], so re-saving over the same corpus produces the
    * same artifacts. Returns (k, indexed row count). */
  def saveAnnIndex(spark: SparkSession, df: DataFrame, idCol: String, vecCol: String,
                   path: String, cellTarget: Int = 64): (Int, Long) = {
    register(spark)
    val ops = graft.operators.Similarity
    val vecs = df.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("vn", l2norm(col("v")))
    val n = vecs.count()
    require(n > 0, "saveAnnIndex: empty input")
    val k = math.max(1L, math.min(4096L, math.ceil(n / cellTarget.toDouble).toLong)).toInt
    val rows = ops.trainIvfCentroids(vecs, k)
    import spark.implicits._
    rows.toDF("cent_id", "cv")
      .write.mode("overwrite").parquet(s"$path/centroids")
    ops.assignCells(vecs, ops.centsLiteral(rows))
      .select(col("vec_id").as(idCol), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/index")
    (k, n)
  }

  /** Reload a saved index's centroid model as the literal Column the
    * assignment/probe expressions take — the load half of
    * [[saveAnnIndex]]: `assignCells(newVecs, loadAnnCentroids(...))`
    * routes NEW vectors into the SAVED partitioning (the incremental-
    * indexing path), and probing reads only the probed cells' files
    * thanks to the partition layout. */
  def loadAnnCentroids(spark: SparkSession, path: String): Column = {
    val rows = spark.read.parquet(s"$path/centroids")
      .orderBy(col("cent_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
    graft.operators.Similarity.centsLiteral(rows)
  }

  /** kNN-graph construction over ANY (id, vector) DataFrame: every
    * vector's top-`kNeighbors` in-cell neighbors by exact cosine,
    * with candidates bounded by the same corpus-proportional coarse
    * quantizer as [[ivfPqIndex]] (cells hold ~cellTarget vectors, so
    * pair work is ~N·cellTarget — linear). Isolated vectors (alone in
    * their cell) contribute no rows. Returns
    * (src, rank, neighbor_id, cosine). */
  def knnGraph(spark: SparkSession, df: DataFrame, idCol: String, vecCol: String,
               kNeighbors: Int, cellTarget: Int = 64): DataFrame = {
    register(spark)
    import org.apache.spark.sql.expressions.Window
    val ops = graft.operators.Similarity
    val vecs = df.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("vn", l2norm(col("v")))
    val n = vecs.count()
    require(n > 0, "knnGraph: empty input")
    val k = math.max(1L, math.min(4096L, math.ceil(n / cellTarget.toDouble).toLong)).toInt
    val cents = ops.centsLiteral(ops.trainIvfCentroids(vecs, k))
    val assigned = ops.assignCells(vecs, cents)
    val a = assigned.select(col("vec_id").as("src"), col("v").as("__va"),
      col("vn").as("__na"), col("cell"))
    val b = assigned.select(col("vec_id").as("neighbor_id"), col("v").as("__vb"),
      col("vn").as("__nb"), col("cell").as("__cb"))
    val w = Window.partitionBy(col("src")).orderBy(col("__cos").desc, col("neighbor_id"))
    a.join(b, col("cell") === col("__cb") && col("src") =!= col("neighbor_id"))
      .withColumn("__cos", dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= kNeighbors)
      .select(col("src"), col("rank"), col("neighbor_id"), col("__cos").as("cosine"))
  }
}
