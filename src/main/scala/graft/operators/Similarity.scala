package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embeddings table (SURVEY.md §2.10).
  *
  * Two paths, same semantics:
  *  - `sim_topk_bruteforce`: exact cosine top-k, query-side broadcast ×
  *    full scan. O(Q·N) — the correctness baseline, and still the right
  *    plan at scale when Q is small (queries broadcast; the big side
  *    never shuffles).
  *  - `sim_ann_lsh`: random-hyperplane LSH. Vectors are bucketed by the
  *    sign pattern of dot products with P deterministic ±1 hyperplanes;
  *    candidates are same-bucket only, then scored exactly. The bucket
  *    join is an equi shuffle on the signature — O(N) shuffle, pairwise
  *    work bounded per bucket. This is the 100 TB path (cf. LSH / IVF
  *    coarse quantization in the ANN literature, PAPERS.md).
  *
  * The hyperplanes are integer-deterministic (a Weyl-style mixing of
  * the dimension index and plane id), so the oracle reproduces them
  * exactly — no RNG, no libm divergence. All vector math is in double.
  */
object Similarity {

  private val dim = 64
  private val nPlanes = 8
  private val nQueries = 10
  private val topK = 5

  private def vecAsDouble(c: Column): Column = c.cast("array<double>")

  /** dot(a, b) with a fixed left-to-right fold, mirrored in the oracle
    * so float summation order is identical. */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  private def norm(c: Column): Column =
    sqrt(aggregate(c, lit(0.0), (acc, x) => acc + x * x))

  private val dotSql = // a, b already DOUBLE[]
    (a: String, b: String) => s"list_sum(list_transform(range($dim), i -> $a[i+1] * $b[i+1]))"
  private val normSql =
    (a: String) => s"sqrt(list_sum(list_transform($a, x -> x * x)))"

  /** Exact brute-force cosine top-k for the first `nQueries` vectors.
    * Norms are computed once per ROW before the join (identical
    * left-to-right fold → identical doubles) — per pair only the dot
    * product remains, a 3× arithmetic cut on the O(Q·N) hot path. */
  def bruteForceTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).withColumn("v", vecAsDouble(col("embedding")))
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), norm(col("v")).as("qn"))
    val cand = emb.select(col("vec_id"), col("v"), norm(col("v")).as("cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
    broadcast(q).join(cand, col("query_id") =!= col("vec_id"))
      .withColumn("cos_raw", dot(col("qv"), col("v")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cos_raw"), 6).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  // ---------------------------------------------------------------
  // Hybrid retrieval: dense + lexical lists fused by reciprocal rank
  // ---------------------------------------------------------------

  /** HYBRID SEARCH via RECIPROCAL RANK FUSION (Cormack et al.'s RRF,
    * k = 60) — the standard RAG retrieval pattern: a DENSE ranking
    * (embedding cosine, the brute scan the ANN family accelerates)
    * and a LEXICAL ranking (distinct-token Jaccard against the query
    * document, computed through an inverted-index join driven by the
    * QUERY tokens only — never all-pairs text similarity) each
    * produce a top-10 list per query; fusion scores
    * Σ 1/(60 + rank) over the UNION of candidates, each reciprocal
    * quantized once to integer micro so the fused sum is exact and
    * order-free, absent-list ranks contribute 0 (the standard RRF
    * convention). Queries are the first 5 documents (doc_id ≡ vec_id
    * in this corpus — the multimodal-row layout). Scale shape: the
    * dense scan is |Q|-broadcast × corpus (the documented baseline
    * the IVF/PQ ops replace); the lexical join fans out only through
    * the 5 query docs' token lists; fusion itself runs on ≤ 2·|Q|·10
    * rows. */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val nQ = 5
    val emb = Tables.embeddings(spark, dir).withColumn("v", vecAsDouble(col("embedding")))
    val q = emb.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("qid"), col("v").as("qv"), norm(col("v")).as("qn"))
    val wD = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    val dense = broadcast(q).join(emb.select(col("vec_id"), col("v"), norm(col("v")).as("cn")),
        col("qid") =!= col("vec_id"))
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("cn")))
      .withColumn("drank", row_number().over(wD).cast("long"))
      .filter(col("drank") <= 10L)
      .select(col("qid"), col("vec_id").as("cand"), col("drank"))
    val docToks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("t"))
      .filter(col("t") =!= "")
    val dSize = docToks.groupBy(col("doc_id")).agg(count(lit(1)).as("dsz"))
    val qToks = docToks.filter(col("doc_id") < nQ)
      .select(col("doc_id").as("qid"), col("t"))
    val shared = docToks.join(broadcast(qToks), Seq("t"))
      .filter(col("doc_id") =!= col("qid"))
      .groupBy(col("qid"), col("doc_id")).agg(count(lit(1)).as("shared"))
      .join(dSize, Seq("doc_id"))
      // query-bounded broadcast: only the |Q| query docs' token counts
      // ride the hint (the r10 advisory — broadcasting the full
      // corpus-sized dSize here was the one non-query-bounded
      // broadcast in this op)
      .join(broadcast(dSize.filter(col("doc_id") < nQ)
        .select(col("doc_id").as("qid"), col("dsz").as("qsz"))), Seq("qid"))
      .withColumn("jac", col("shared").cast("double") /
        (col("dsz") + col("qsz") - col("shared")).cast("double"))
    val wL = Window.partitionBy(col("qid")).orderBy(col("jac").desc, col("doc_id"))
    val lex = shared.withColumn("lrank", row_number().over(wL).cast("long"))
      .filter(col("lrank") <= 10L)
      .select(col("qid"), col("doc_id").as("cand"), col("lrank"))
    def rr(rank: Column) = round(lit(1e6) / (lit(60.0d) + rank.cast("double"))).cast("long")
    val fused = dense.join(lex, Seq("qid", "cand"), "full_outer")
      .select(col("qid"), col("cand"),
        coalesce(col("drank"), lit(0L)).as("dense_rank"),
        coalesce(col("lrank"), lit(0L)).as("lex_rank"),
        (when(col("drank").isNotNull, rr(col("drank"))).otherwise(0L) +
          when(col("lrank").isNotNull, rr(col("lrank"))).otherwise(0L)).as("fused_micro"))
    val wF = Window.partitionBy(col("qid")).orderBy(col("fused_micro").desc, col("cand"))
    fused.withColumn("rank", row_number().over(wF).cast("long"))
      .filter(col("rank") <= 5L)
      .select(col("qid").as("query_id"), col("rank"), col("cand").as("doc_id"),
        col("fused_micro"), col("dense_rank"), col("lex_rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  val hybridRrfSql: String =
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS qid, v AS qv FROM emb WHERE vec_id < 5),
       |dense AS (
       |  SELECT qid, cand, drank FROM (
       |    SELECT q.qid, c.vec_id AS cand,
       |           CAST(row_number() OVER (PARTITION BY q.qid ORDER BY
       |             ${dotSql("q.qv", "c.v")} / (${normSql("q.qv")} * ${normSql("c.v")}) DESC,
       |             c.vec_id) AS BIGINT) AS drank
       |    FROM q JOIN emb c ON q.qid <> c.vec_id)
       |  WHERE drank <= 10),
       |doctoks AS (
       |  SELECT doc_id, t
       |  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
       |        FROM documents)
       |  WHERE t <> ''),
       |dsize AS (SELECT doc_id, count(*) AS dsz FROM doctoks GROUP BY 1),
       |shared AS (
       |  SELECT qt.doc_id AS qid, dt.doc_id, count(*) AS shared
       |  FROM doctoks dt
       |  JOIN (SELECT doc_id, t FROM doctoks WHERE doc_id < 5) qt
       |    ON dt.t = qt.t AND dt.doc_id <> qt.doc_id
       |  GROUP BY 1, 2),
       |lex AS (
       |  SELECT qid, cand, lrank FROM (
       |    SELECT s.qid, s.doc_id AS cand,
       |           CAST(row_number() OVER (PARTITION BY s.qid ORDER BY
       |             CAST(s.shared AS DOUBLE) / (d.dsz + qd.dsz - s.shared) DESC,
       |             s.doc_id) AS BIGINT) AS lrank
       |    FROM shared s
       |    JOIN dsize d ON d.doc_id = s.doc_id
       |    JOIN dsize qd ON qd.doc_id = s.qid)
       |  WHERE lrank <= 10),
       |fused AS (
       |  SELECT coalesce(d.qid, l.qid) AS qid, coalesce(d.cand, l.cand) AS cand,
       |         coalesce(d.drank, 0) AS dense_rank, coalesce(l.lrank, 0) AS lex_rank,
       |         (CASE WHEN d.drank IS NOT NULL
       |               THEN CAST(round(1e6 / (60.0 + d.drank)) AS BIGINT) ELSE 0 END
       |        + CASE WHEN l.lrank IS NOT NULL
       |               THEN CAST(round(1e6 / (60.0 + l.lrank)) AS BIGINT) ELSE 0 END)
       |           AS fused_micro
       |  FROM dense d FULL OUTER JOIN lex l ON d.qid = l.qid AND d.cand = l.cand)
       |SELECT qid AS query_id, rank, cand AS doc_id, fused_micro,
       |       CAST(dense_rank AS BIGINT) AS dense_rank,
       |       CAST(lex_rank AS BIGINT) AS lex_rank
       |FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY qid
       |            ORDER BY fused_micro DESC, cand) AS BIGINT) AS rank
       |  FROM fused)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  val bruteForceTopKSql: String =
    s"""SELECT query_id, rank, neighbor_id, cosine
       |FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         round(${dotSql("q.v", "c.v")} / (${normSql("q.v")} * ${normSql("c.v")}), 6) AS cosine,
       |         CAST(row_number() OVER (
       |           PARTITION BY q.vec_id
       |           ORDER BY ${dotSql("q.v", "c.v")} / (${normSql("q.v")} * ${normSql("c.v")}) DESC,
       |                    c.vec_id) AS BIGINT) AS rank
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < $nQueries) q
       |  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) c
       |    ON q.vec_id <> c.vec_id)
       |WHERE rank <= $topK
       |ORDER BY query_id, rank""".stripMargin

  /** VECTOR ARITHMETIC retrieval — the analogy probe ("a − b + c")
    * every embedding-space sanity check runs (word2vec's
    * king−man+woman, public since Mikolov 2013): compose the query
    * vector elementwise from three corpus vectors (ids 0, 1, 2), then
    * exact cosine top-5 over the corpus excluding the three sources.
    * The composition is a 1-row broadcast (three scalar lookups —
    * never a corpus shuffle); the scan is the bruteforce cosine path
    * with the same left-to-right fold contract, so at 100 TB this is
    * one map-side pass over the embedding table + a top-k. Elementwise
    * a−b+c evaluates left-to-right in BOTH engines (zip then add vs
    * indexed lambda) — IEEE order fixed, doubles identical. */
  def vectorArith(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).withColumn("v", vecAsDouble(col("embedding")))
    def vecOf(id: Int, name: String) =
      emb.filter(col("vec_id") === id).select(col("v").as(name))
    val q = vecOf(0, "va").crossJoin(vecOf(1, "vb")).crossJoin(vecOf(2, "vc"))
      .select(zip_with(zip_with(col("va"), col("vb"), (x, y) => x - y), col("vc"),
        (x, y) => x + y).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val cand = emb.filter(!col("vec_id").isin(0, 1, 2))
      .select(col("vec_id"), col("v"), norm(col("v")).as("cn"))
    val w = Window.orderBy(col("cos_raw").desc, col("vec_id"))
    cand.crossJoin(broadcast(q))
      .withColumn("cos_raw", dot(col("qv"), col("v")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cos_raw"), 6).as("cosine"))
      .orderBy(col("rank"))
  }

  val vectorArithSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (
       |  SELECT list_transform(range($dim),
       |           i -> a.v[i+1] - b.v[i+1] + c.v[i+1]) AS qv
       |  FROM (SELECT v FROM e WHERE vec_id = 0) a,
       |       (SELECT v FROM e WHERE vec_id = 1) b,
       |       (SELECT v FROM e WHERE vec_id = 2) c)
       |SELECT rank, neighbor_id, cosine
       |FROM (
       |  SELECT c.vec_id AS neighbor_id,
       |         round(${dotSql("q.qv", "c.v")} / (${normSql("q.qv")} * ${normSql("c.v")}), 6)
       |           AS cosine,
       |         CAST(row_number() OVER (
       |           ORDER BY ${dotSql("q.qv", "c.v")} / (${normSql("q.qv")} * ${normSql("c.v")}) DESC,
       |                    c.vec_id) AS BIGINT) AS rank
       |  FROM e c, q
       |  WHERE c.vec_id NOT IN (0, 1, 2))
       |WHERE rank <= $topK
       |ORDER BY rank""".stripMargin

  /** Exact brute-force top-k through the native codegen'd expressions
    * (graft.functions.DotProduct / L2Norm) instead of higher-order-
    * function folds — same semantics and oracle as sim_topk_bruteforce,
    * but the inner loop compiles into whole-stage codegen as a
    * primitive double loop (the §4.3 100 TB hot path). */
  def bruteForceTopKNative(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val emb = Tables.embeddings(spark, dir).withColumn("v", vecAsDouble(col("embedding")))
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        call_function("graft_l2norm", col("v")).as("qn"))
    val cand = emb.select(col("vec_id"), col("v"),
      call_function("graft_l2norm", col("v")).as("cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
    broadcast(q).join(cand, col("query_id") =!= col("vec_id"))
      .withColumn("cos_raw",
        call_function("graft_dot", col("qv"), col("v")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cos_raw"), 6).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Deterministic ±1 hyperplane component for (plane p, dim i):
    * sign(((i+1) * 2654435761 + p * 40503) mod 97 < 48). Integer-only →
    * exact in both engines. */
  private def planeSign(p: Int, i: Column): Column =
    when(((i + 1) * lit(2654435761L) + lit(p * 40503L)) % 97 < 48, lit(1.0))
      .otherwise(lit(-1.0))

  private def planeSignSql(p: Int): String =
    s"CASE WHEN ((i+1) * 2654435761 + $p * 40503) % 97 < 48 THEN 1.0 ELSE -1.0 END"

  /** LSH bucket signature: one sign bit per hyperplane. Computed by
    * the native codegen'd LshSignature expression (a P×N primitive
    * loop); `lshSigHof` keeps the pure-DataFrame formulation as the
    * reference implementation (tested equal in SimilaritySpec). */
  private def lshSig(v: Column): Column =
    call_function("graft_lsh_sig", v)

  private[graft] def lshSigHof(v: Column): Column =
    concat((0 until nPlanes).map { p =>
      val d = aggregate(sequence(lit(0), lit(dim - 1)), lit(0.0),
        (acc, i) => acc + element_at(v, i + 1) * planeSign(p, i))
      when(d >= 0, lit("1")).otherwise(lit("0"))
    }: _*)

  private def lshSigSql(v: String): String =
    (0 until nPlanes).map { p =>
      s"(CASE WHEN list_sum(list_transform(range($dim), i -> $v[i+1] * ${planeSignSql(p)})) >= 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")

  /** Bucket census — the partition-balance view an operator would watch
    * for skew at scale. */
  def lshBuckets(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    Tables.embeddings(spark, dir)
      .withColumn("v", vecAsDouble(col("embedding")))
      .withColumn("bucket", lshSig(col("v")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vectors"), min(col("vec_id")).as("min_vec_id"))
      .orderBy(col("bucket"))
  }

  val lshBucketsSql: String =
    s"""SELECT ${lshSigSql("v")} AS bucket,
       |       count(*) AS n_vectors, min(vec_id) AS min_vec_id
       |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** ANN top-k: same-bucket candidates only, scored with exact cosine.
    * Recall is bounded by bucketing (as with any LSH); results are
    * deterministic so the oracle reproduces them exactly. */
  def annTopK(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val emb = Tables.embeddings(spark, dir)
      .withColumn("v", vecAsDouble(col("embedding")))
      .withColumn("bucket", lshSig(col("v")))
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("bucket"),
        call_function("graft_l2norm", col("v")).as("qn"))
    val cand = emb.select(col("vec_id"), col("v"), col("bucket").as("cb"),
      call_function("graft_l2norm", col("v")).as("cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
    broadcast(q)
      .join(cand, col("bucket") === col("cb") && col("query_id") =!= col("vec_id"))
      .withColumn("cos_raw",
        call_function("graft_dot", col("qv"), col("v")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cos_raw"), 6).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  val annTopKSql: String =
    s"""SELECT query_id, rank, neighbor_id, cosine
       |FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         round(${dotSql("q.v", "c.v")} / (${normSql("q.v")} * ${normSql("c.v")}), 6) AS cosine,
       |         CAST(row_number() OVER (
       |           PARTITION BY q.vec_id
       |           ORDER BY ${dotSql("q.v", "c.v")} / (${normSql("q.v")} * ${normSql("c.v")}) DESC,
       |                    c.vec_id) AS BIGINT) AS rank
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, ${lshSigSql("CAST(embedding AS DOUBLE[])")} AS bucket
       |        FROM embeddings WHERE vec_id < $nQueries) q
       |  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, ${lshSigSql("CAST(embedding AS DOUBLE[])")} AS cb
       |        FROM embeddings) c
       |    ON q.bucket = c.cb AND q.vec_id <> c.vec_id)
       |WHERE rank <= $topK
       |ORDER BY query_id, rank""".stripMargin

  /** Embedding-cosine near-duplicate pairs: bucket-blocked pairs above a
    * high cosine threshold — the embedding analog of minhash dedup. */
  def cosineNearDup(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val emb = Tables.embeddings(spark, dir)
      .withColumn("v", vecAsDouble(col("embedding")))
      .withColumn("bucket", lshSig(col("v")))
    val a = emb.select(col("vec_id").as("vec_a"), col("v").as("va"), col("bucket"),
      call_function("graft_l2norm", col("v")).as("na"))
    val b = emb.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("bucket").as("bb"),
      call_function("graft_l2norm", col("v")).as("nb"))
    a.join(b, col("bucket") === col("bb") && col("vec_a") < col("vec_b"))
      .withColumn("cos_raw",
        call_function("graft_dot", col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos_raw") >= 0.3)
      .select(col("vec_a"), col("vec_b"), round(col("cos_raw"), 6).as("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  val cosineNearDupSql: String =
    s"""SELECT vec_a, vec_b, round(cos_raw, 6) AS cosine
       |FROM (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |         ${dotSql("a.v", "b.v")} / (${normSql("a.v")} * ${normSql("b.v")}) AS cos_raw
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, ${lshSigSql("CAST(embedding AS DOUBLE[])")} AS bucket
       |        FROM embeddings) a
       |  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, ${lshSigSql("CAST(embedding AS DOUBLE[])")} AS bucket
       |        FROM embeddings) b
       |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
       |WHERE cos_raw >= 0.3
       |ORDER BY vec_a, vec_b""".stripMargin

  /** IVF sizing (round-4 verdict #1): k tracks CORPUS SIZE at a fixed
    * target cell population — the SemDeDup invariant. A fixed k makes
    * cells hold ~N/k vectors, so the in-cell pairwise stage grows
    * ~N²/k (the r4 probe measured 165× pairs for 10× rows at k=16);
    * k = ⌈N/m⌉ holds cells at ~m and makes pair mass ~N·m/2 — LINEAR
    * in the corpus. k is floored (tiny corpora still get a real
    * quantizer) and capped: beyond ivfMaxK the centroid literal/
    * broadcast and the O(N·k) assignment fold stop being the right
    * mechanism — a 100 TB deployment shards the quantizer
    * hierarchically (coarse-of-coarse assignment), which changes the
    * plan shape, not this sizing policy. Derived deterministically
    * from count(embeddings), so the DuckDB oracle computes the SAME k
    * from the same table via a scalar subquery (ivfParamsSqlCte). */
  private[graft] val ivfCellTarget = 64
  private[graft] val ivfMinK = 4
  private[graft] val ivfMaxK = 4096

  private[graft] def ivfKFor(n: Long): Int =
    math.max(ivfMinK.toLong,
      math.min(ivfMaxK.toLong, math.ceil(n / ivfCellTarget.toDouble).toLong)).toInt

  /** nprobe as a FIXED FRACTION of k (half), floored at 1 — the knob
    * generalizes across corpus sizes instead of being an sf0.1
    * artifact (round-4 verdict #4). Half is deliberately high for the
    * near-uniform synthetic corpus (the worst case for coarse
    * quantization — little cluster structure); a real embedding
    * corpus reaches the same recall probing a far smaller fraction. */
  private[graft] def ivfNprobeFor(k: Int): Int = math.max(1, k / 2)

  /** Lloyd iterations for the IVF coarse quantizer. Fixed (not
    * convergence-driven) so the oracle can replay the exact same
    * computation as a finite CTE chain. */
  private val ivfIters = 2

  /** REAL k-means centroids for the IVF coarse quantizer,
    * deterministic end-to-end so DuckDB reproduces them bit-exactly:
    *  - init: the k vectors minimal in md5(vec_id) order (a seeded
    *    pseudo-random draw reproducible from ids alone — the
    *    "sample" is the whole corpus ordered by hash, so the seeds
    *    are uniform, not the first-k-by-id cluster bias this
    *    replaced);
    *  - `ivfIters` Lloyd rounds: assign every vector to its
    *    max-cosine centroid (ties → smaller cent_id), then recompute
    *    each non-empty cell's mean with components quantized to
    *    integer micro-units BEFORE summing — the sum is an exact
    *    integer in any summation order, which is what makes the new
    *    centroids identical across Spark's parallel partials and
    *    DuckDB's serial fold. Cells that lose all members drop out
    *    (both engines agree); k is an upper bound.
    *
    * Scale shape per round: a MAP-ONLY argmax assignment (per-row
    * fold over the ≤k centroids inlined as a literal — no N·k rows,
    * no shuffle) + one posexplode groupBy on the compact
    * (cent_id, dim) key with map-side partial aggregation — O(N·dim)
    * shuffle volume, no pairwise work. Between rounds only the ≤k
    * centroid rows ever reach the driver (the same boundedness
    * contract as a broadcast). At 100 TB you would run these rounds
    * on a hash-sample of the corpus (swap `emb` for
    * `emb.filter(idHash % s == 0)`); the per-round plan is unchanged. */
  /** The quantizer is a deterministic artifact of the corpus (seeded
    * init, fixed rounds, exact arithmetic), so it is trained ONCE per
    * corpus and reused — exactly what a production IVF deployment
    * does. The memo holds ≤k centroid rows per data dir, keyed by the
    * embeddings files' (name, length, mtime) signature so an
    * in-process regeneration of the corpus invalidates the entry
    * instead of silently serving stale centroids. */
  // memo + Hadoop-FS signature contract: see graft.operators.CorpusMemo
  private val centroidCache = new CorpusMemo[Seq[(Long, Seq[Double])]]
  private val countCache = new CorpusMemo[Long]

  private def corpusSig(spark: SparkSession, dir: String): String =
    CorpusArtifact.parquetSig(spark, dir, "embeddings")

  /** count(embeddings), memoized per corpus — the single scalar the
    * k-sizing policy needs (one count() job per corpus, not per
    * query). */
  private[graft] def corpusCount(spark: SparkSession, dir: String): Long =
    countCache.get(dir, "count", corpusSig(spark, dir)) {
      Tables.embeddings(spark, dir).count()
    }

  /** The corpus-derived (k, nprobe) the production queries run with. */
  private[graft] def ivfParams(spark: SparkSession, dir: String): (Int, Int) = {
    val k = ivfKFor(corpusCount(spark, dir))
    (k, ivfNprobeFor(k))
  }

  private[graft] def centroidRows(spark: SparkSession, dir: String,
                                  k: Int): Seq[(Long, Seq[Double])] =
    centroidCache.get(dir, s"k=$k", corpusSig(spark, dir)) {
      computeCentroidRows(spark, dir, k)
    }

  private[graft] def computeCentroidRows(spark: SparkSession, dir: String,
                                         k: Int): Seq[(Long, Seq[Double])] =
    trainIvfCentroids(embWithNorm(spark, dir), k)

  /** The seeded-Lloyd coarse-quantizer trainer over an arbitrary
    * (vec_id, v, vn) corpus — shared by the embeddings-table queries
    * and the generic [[graft.api.Graft.ivfPqIndex]] facade. */
  private[graft] def trainIvfCentroids(emb: DataFrame, k: Int): Seq[(Long, Seq[Double])] = {
    graft.functions.VectorFunctions.register(emb.sparkSession)
    // init: distributed top-k by hash order (TakeOrderedAndProject);
    // collect() of an ordered limit preserves the order, so the index
    // mints the stable cent_ids
    var cents: Seq[(Long, Seq[Double])] = emb
      .withColumn("h", md5(col("vec_id").cast("string").cast("binary")))
      .orderBy(col("h"), col("vec_id")).limit(k)
      .select(col("v")).collect().toSeq.zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Double](0)) }
    for (_ <- 1 to ivfIters) {
      cents = assignCells(emb, centsLiteral(cents))
        .select(col("cell").as("cent_id"), posexplode(col("v")).as(Seq("pos0", "x")))
        .select(col("cent_id"), col("pos0"),
          round(col("x").cast("double") * 1000000d).cast("long").as("xq"))
        .groupBy(col("cent_id"), col("pos0"))
        .agg((round(sum(col("xq")) / count(lit(1))) / 1000000d).as("cx"))
        .groupBy(col("cent_id"))
        .agg(transform(array_sort(collect_list(struct(col("pos0"), col("cx")))),
          s => s("cx")).as("cv"))
        .collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
        .sortBy(_._1)
    }
    cents
  }

  /** [[centroidRows]] as a DataFrame (cent_id, cv) — the user-facing
    * view and the determinism-spec surface. */
  private[graft] def ivfCentroids(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    centroidRows(spark, dir, ivfParams(spark, dir)._1).toDF("cent_id", "cv")
  }

  /** The k-sizing policy in DuckDB SQL — a `params(k, np)` relation
    * computed from count(embeddings) with EXACTLY the formula
    * [[ivfKFor]]/[[ivfNprobeFor]] apply Spark-side (ceil over a
    * double division of a count ≪ 2⁵³ is exact in both engines), so
    * the oracle derives the same quantizer size from the same corpus
    * instead of inlining a constant the Scala side might drift from. */
  private def ivfParamsSqlCte: String =
    s"""params AS (
       |  SELECT k, greatest(1, k // 2) AS np FROM (
       |    SELECT greatest($ivfMinK, least($ivfMaxK,
       |             CAST(ceil(count(*) / $ivfCellTarget.0) AS BIGINT))) AS k
       |    FROM embeddings))""".stripMargin

  /** The k-means CTE chain of [[ivfCentroids]] in DuckDB SQL —
    * produces a `cents(cent_id, cv, cn)` relation for the main query
    * (plus the `params` sizing relation its seed reads). */
  private def ivfCentroidsSqlCtes: String = {
    def assign(from: String): String =
      s"""SELECT vec_id, v, cent_id FROM (
         |  SELECT e.vec_id, e.v, c.cent_id,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY ${dotSql("e.v", "c.cv")} / (e.vn * ${normSql("c.cv")}) DESC, c.cent_id) AS arn
         |  FROM emb e CROSS JOIN $from c) WHERE arn = 1""".stripMargin
    def means(from: String): String =
      s"""SELECT cent_id, list(cx ORDER BY pos) AS cv FROM (
         |  SELECT cent_id, pos, round(sum(xq) / count(*)) / 1000000 AS cx FROM (
         |    SELECT cent_id, CAST(round(unnest(v) * 1000000) AS BIGINT) AS xq,
         |           generate_subscripts(v, 1) AS pos
         |    FROM $from) GROUP BY 1, 2) GROUP BY 1""".stripMargin
    val rounds = (1 to ivfIters).map { i =>
      s"a$i AS (${assign(s"c${i - 1}")}),\nc$i AS (${means(s"a$i")})"
    }.mkString(",\n")
    s"""$ivfParamsSqlCte,
       |seed AS (
       |  SELECT v, rn - 1 AS cent_id
       |  FROM (SELECT v, row_number() OVER (ORDER BY h, vec_id) AS rn
       |        FROM (SELECT vec_id, v, md5(CAST(vec_id AS VARCHAR)) AS h FROM emb))
       |  WHERE rn <= (SELECT k FROM params)),
       |c0 AS (SELECT cent_id, v AS cv FROM seed),
       |$rounds,
       |cents AS (
       |  SELECT cent_id, cv, ${normSql("cv")} AS cn FROM c$ivfIters)""".stripMargin
  }

  /** IVF (inverted-file) ANN — the coarse-quantization scale path
    * alongside LSH: k REAL k-means centroids from [[ivfCentroids]]
    * (k does not grow with N); every vector computes its nearest cell
    * MAP-SIDE by folding over the centroids inlined as a literal;
    * queries probe their nprobe nearest cells the same way. The only
    * shuffle in the whole operator is the final cell equi join —
    * O(N) — with pairwise work bounded per cell.
    *
    * Why a literal, not a broadcast join: the former crossJoin +
    * row_number(PARTITION BY vec_id) shape materialized N·k rows and
    * SHUFFLED them through the rank window's exchange — 16× the
    * corpus through the wire for what is logically a per-row argmax.
    * Collecting ≤k centroid rows to the driver is the same
    * boundedness contract a broadcast relies on, and turns
    * assignment into a pure projection. */

  /** Centroids as a literal array<struct<cent_id, cv, cn>>, sorted by
    * cent_id so a strict-greater fold reproduces the SQL tie-break
    * (cos DESC, cent_id ASC). The norm is computed driver-side with
    * the same left-to-right fold as graft_l2norm/the oracle. */
  private[graft] def centsLiteral(cents: Seq[(Long, Seq[Double])]): Column =
    array(cents.sortBy(_._1).map { case (id, cv) =>
      var s = 0.0
      cv.foreach(x => s += x * x)
      struct(lit(id).as("cent_id"), typedLit(cv).as("cv"),
        lit(math.sqrt(s)).as("cn"))
    }: _*)

  private def centroidLiteral(spark: SparkSession, dir: String, k: Int): Column =
    centsLiteral(centroidRows(spark, dir, k))

  private def embWithNorm(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    Tables.embeddings(spark, dir)
      .withColumn("v", vecAsDouble(col("embedding")))
      .withColumn("vn", call_function("graft_l2norm", col("v")))
  }

  /** Cosine to a centroid, TOTALIZED over degenerate inputs (ADVICE
    * r4). Division by zero (a zero-norm vector, or a zero centroid
    * from an emptied cell) is NULL in DuckDB, and the ranked CTE's
    * `ORDER BY cos DESC, cent_id` puts NULLs LAST — a degenerate
    * cosine ranks WORST. -Inf reproduces exactly that rank here
    * (Spark's ANSI mode would otherwise throw DIVIDE_BY_ZERO,
    * measured in LlmOpsSpec). Genuine NaN (NaN vector data) needs no
    * guard: Spark's NaN-is-largest ordering already matches DuckDB's
    * NaN-sorts-first-DESC. */
  private def cosTo(c: Column): Column = {
    val denom = col("vn") * c.getField("cn")
    when(denom === 0.0, lit(Double.NegativeInfinity))
      .otherwise(call_function("graft_dot", col("v"), c.getField("cv")) / denom)
  }

  /** Map-only argmax assignment: (vec_id, v, vn, cell), through the
    * native codegen'd [[graft.functions.CentroidArgmax]] — the O(N·k)
    * quantizer hot loop as one primitive scan (with corpus-
    * proportional k this is the dominant assignment term, and the
    * interpreted HOF fold cost ~4 s/pass at 20k rows × 313 centroids
    * where the native loop is milliseconds). Semantics are pinned to
    * [[assignCellsHof]] by a differential spec. */
  private[graft] def assignCells(emb: DataFrame, cents: Column): DataFrame = {
    graft.functions.VectorFunctions.register(emb.sparkSession)
    emb.select(col("vec_id"), col("v"), col("vn"),
      call_function("graft_argmax_cell", col("v"), col("vn"), cents).as("cell"))
  }

  /** The declarative (built-ins only) twin of [[assignCells]] — the
    * differential-test reference, like lshSigHof for the LSH
    * signature. The cosine is computed ONCE per centroid (transform),
    * then the fold argmaxes over the precomputed (cos, cent_id)
    * structs — HOF lambdas get no common-subexpression elimination,
    * so folding over cosTo directly would run every dot product
    * twice. */
  private[graft] def assignCellsHof(emb: DataFrame, cents: Column): DataFrame =
    emb.withColumn("best",
        aggregate(
          transform(cents, c => struct(cosTo(c).as("bc"),
            c.getField("cent_id").as("cell"))),
          struct(lit(Double.NegativeInfinity).as("bc"), lit(-1L).as("cell")),
          // the sentinel NEVER survives: the first centroid (smallest
          // cent_id — cents is sorted) replaces it unconditionally,
          // so a fully-degenerate vector (every cosine -Inf, which
          // strict '>' could not adopt over the -Inf sentinel) still
          // lands in cell 0 — DuckDB's all-NULL tie-break by cent_id
          (acc, s) => when(acc.getField("cell") === -1L ||
            s.getField("bc") > acc.getField("bc"), s).otherwise(acc)))
      .select(col("vec_id"), col("v"), col("vn"),
        col("best").getField("cell").as("cell"))

  /** Map-only probe generation: one row per (vector, probed cell) —
    * the nprobe max-cosine cells via an in-row sort of the k
    * (cos, cent_id) pairs. */
  private def probeCells(emb: DataFrame, cents: Column, nprobe: Int): DataFrame =
    emb.withColumn("probes", slice(
        array_sort(
          transform(cents, c => struct(cosTo(c).as("pc"),
            c.getField("cent_id").as("cell"))),
          (l, r) => when(l.getField("pc") > r.getField("pc"), -1)
            .when(l.getField("pc") < r.getField("pc"), 1)
            .when(l.getField("cell") < r.getField("cell"), -1)
            .when(l.getField("cell") > r.getField("cell"), 1)
            .otherwise(0)),
        1, nprobe))
      .select(col("vec_id"), col("v"), col("vn"),
        explode(col("probes").getField("cell")).as("cell"))

  /** The production assignment stage (used by [[ivfTopK]],
    * [[semanticPairs]], and the scale probe — one definition).
    * k defaults to the corpus-derived sizing ([[ivfParams]]). */
  private[graft] def ivfAssigned(spark: SparkSession, dir: String,
                                 kOverride: Option[Int] = None): DataFrame = {
    val k = kOverride.getOrElse(ivfParams(spark, dir)._1)
    assignCells(embWithNorm(spark, dir), centroidLiteral(spark, dir, k))
  }

  def ivfTopK(spark: SparkSession, dir: String): DataFrame =
    ivfTopK(spark, dir, None, None)

  /** [[ivfTopK]] with explicit (k, nprobe) — the recall-spec surface
    * proving the constants generalize; production callers take the
    * corpus-derived defaults. */
  private[graft] def ivfTopK(spark: SparkSession, dir: String,
                             kOverride: Option[Int],
                             nprobeOverride: Option[Int]): DataFrame = {
    val k = kOverride.getOrElse(ivfParams(spark, dir)._1)
    val nprobe = nprobeOverride.getOrElse(ivfNprobeFor(k))
    val emb = embWithNorm(spark, dir)
    val cents = centroidLiteral(spark, dir, k) // one Lloyd computation, shared
    val assigned = assignCells(emb, cents)
    val q = probeCells(emb.filter(col("vec_id") < nQueries), cents, nprobe)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("vn").as("qn"),
        col("cell"))
    val cand = assigned.select(col("vec_id"), col("v"), col("vn"), col("cell").as("ccell"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
    broadcast(q)
      .join(cand, col("cell") === col("ccell") && col("query_id") =!= col("vec_id"))
      .withColumn("cos_raw",
        call_function("graft_dot", col("qv"), col("v")) / (col("qn") * col("vn")))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cos_raw"), 6).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  val ivfTopKSql: String =
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         ${normSql("CAST(embedding AS DOUBLE[])")} AS vn
       |  FROM embeddings),
       |$ivfCentroidsSqlCtes,
       |ranked AS (
       |  SELECT e.vec_id, e.v, e.vn, c.cent_id AS cell,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${dotSql("e.v", "c.cv")} / (e.vn * c.cn) DESC, c.cent_id) AS arn
       |  FROM emb e CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id, v, vn, cell FROM ranked WHERE arn = 1),
       |qprobes AS (
       |  SELECT vec_id AS query_id, v AS qv, vn AS qn, cell
       |  FROM ranked WHERE vec_id < $nQueries AND arn <= (SELECT np FROM params))
       |SELECT query_id, rank, neighbor_id, cosine
       |FROM (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |         round(${dotSql("q.qv", "c.v")} / (q.qn * c.vn), 6) AS cosine,
       |         CAST(row_number() OVER (PARTITION BY q.query_id
       |           ORDER BY ${dotSql("q.qv", "c.v")} / (q.qn * c.vn) DESC, c.vec_id) AS BIGINT) AS rank
       |  FROM qprobes q
       |  JOIN assigned c ON q.cell = c.cell AND q.query_id <> c.vec_id)
       |WHERE rank <= $topK
       |ORDER BY query_id, rank""".stripMargin

  /** Cosine threshold for semantic duplicates. 0.3 is deliberately low
    * for the near-uniform synthetic vectors (real embedding corpora
    * use ~0.95+); the plan is threshold-independent. */
  private val semanticTau = 0.3

  /** Within-cell candidate pairs for [[semanticDedup]] — the stage the
    * scale probe measures: pairwise work exists ONLY inside a k-means
    * cell (the SemDeDup trick), and with the corpus-proportional k
    * ([[ivfKFor]]: k = ⌈N/m⌉ at target cell size m) the candidate
    * mass Σ|cell|² ≈ N·m stays LINEAR in the corpus — fixed k would
    * let cells grow with N and the pair stage go ~N²/k (the round-4
    * scale flaw; SCALE.md's semantic_cell_pairs row now shows ~rows
    * growth at 10× rows). */
  private[graft] def semanticPairs(spark: SparkSession, dir: String): DataFrame = {
    val assigned = ivfAssigned(spark, dir)
    val a = assigned.select(col("vec_id").as("vec_a"), col("v").as("va"),
      col("vn").as("na"), col("cell"))
    val b = assigned.select(col("vec_id").as("vec_b"), col("v").as("vb"),
      col("vn").as("nb"), col("cell").as("cb"))
    a.join(b, col("cell") === col("cb") && col("vec_a") < col("vec_b"))
      .withColumn("cos_raw",
        call_function("graft_dot", col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos_raw") >= semanticTau)
      .select(col("vec_a"), col("vec_b"))
  }

  /** Per-cell population census of the semantic-dedup quantizer — the
    * balance/skew diagnostic an operator watches before the pair
    * stage: in-cell pair work is n(n-1)/2, so one overgrown cell
    * dominates however good the average is. With the corpus-derived k
    * the EXPECTED population is [[ivfCellTarget]]; this view shows the
    * realized spread (k-means on near-uniform data is imbalanced —
    * that is data, not a plan property). Same assignment stage as
    * production ([[ivfAssigned]]), one groupBy on the compact cell id. */
  def semanticCells(spark: SparkSession, dir: String): DataFrame =
    ivfAssigned(spark, dir)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vectors"), min(col("vec_id")).as("min_vec_id"))
      .orderBy(col("cell"))

  val semanticCellsSql: String =
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         ${normSql("CAST(embedding AS DOUBLE[])")} AS vn
       |  FROM embeddings),
       |$ivfCentroidsSqlCtes,
       |ranked AS (
       |  SELECT e.vec_id, c.cent_id AS cell,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${dotSql("e.v", "c.cv")} / (e.vn * c.cn) DESC, c.cent_id) AS arn
       |  FROM emb e CROSS JOIN cents c)
       |SELECT cell, count(*) AS n_vectors, min(vec_id) AS min_vec_id
       |FROM ranked WHERE arn = 1
       |GROUP BY cell ORDER BY cell""".stripMargin

  /** CLUSTER-BALANCED DIVERSITY SAMPLING — the selection step a
    * training-data pipeline runs AFTER semantic dedup: instead of
    * sampling the corpus uniformly (which reproduces the cluster
    * imbalance — the dominant topic keeps dominating), take a
    * per-cell √-CAP: at most ⌈√n_c⌉ documents from a cell of n_c,
    * so a 10 000-doc topic contributes 100 while a 10-doc tail
    * topic keeps 4 — the heavy clusters are downweighted ~√n and
    * the tail survives (the SemDeDup-diversify / cluster-balanced
    * selection idea). The quota is a LOCAL per-cell rule on
    * purpose: a proportional-to-√n share of a global target needs
    * Σ√n_c, an order-sensitive float sum that could flip a rounding
    * boundary between engines — the local cap is IEEE-sqrt + ceil
    * per cell, bit-deterministic. In-cell selection ranks by
    * md5(vec_id) (the engine-portable draw discipline), so the
    * SAME documents are chosen everywhere; the census proves it
    * with exact-integer selection checksums (Σ id, min id), not
    * just counts. Scale: one assignment pass (the standing IVF
    * stage), one cell-partitioned rank window (cell size bounded
    * by the quantizer's target), one compact census — nothing
    * data-sized crosses a single partition. */
  def diversitySample(spark: SparkSession, dir: String): DataFrame = {
    val assigned = ivfAssigned(spark, dir).select(col("vec_id"), col("cell"))
    val census = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vectors"))
      .withColumn("quota", ceil(sqrt(col("n_vectors"))).cast("long"))
    val wCell = Window.partitionBy(col("cell")).orderBy(
      conv(substring(md5(col("vec_id").cast("string").cast("binary")), 1, 8), 16, 10)
        .cast("long"), col("vec_id"))
    val sel = assigned.withColumn("rn", row_number().over(wCell).cast("long"))
    sel.join(census, "cell")
      .filter(col("rn") <= col("quota"))
      .groupBy(col("cell"), col("n_vectors"), col("quota"))
      .agg(count(lit(1)).as("n_taken"), sum(col("vec_id")).as("taken_id_sum"),
        min(col("vec_id")).as("taken_min_id"))
      .orderBy(col("cell"))
  }

  val diversitySampleSql: String =
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         ${normSql("CAST(embedding AS DOUBLE[])")} AS vn
       |  FROM embeddings),
       |$ivfCentroidsSqlCtes,
       |ranked AS (
       |  SELECT e.vec_id, c.cent_id AS cell,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${dotSql("e.v", "c.cv")} / (e.vn * c.cn) DESC, c.cent_id) AS arn
       |  FROM emb e CROSS JOIN cents c),
       |assigned AS (SELECT vec_id, cell FROM ranked WHERE arn = 1),
       |census AS (
       |  SELECT cell, count(*) AS n_vectors,
       |         CAST(ceil(sqrt(count(*))) AS BIGINT) AS quota
       |  FROM assigned GROUP BY cell),
       |sel AS (
       |  SELECT vec_id, cell,
       |         row_number() OVER (PARTITION BY cell
       |           ORDER BY ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT,
       |                    vec_id) AS rn
       |  FROM assigned)
       |SELECT c.cell, CAST(c.n_vectors AS BIGINT) AS n_vectors, c.quota,
       |       CAST(count(*) AS BIGINT) AS n_taken,
       |       CAST(sum(s.vec_id) AS BIGINT) AS taken_id_sum,
       |       CAST(min(s.vec_id) AS BIGINT) AS taken_min_id
       |FROM census c JOIN sel s ON s.cell = c.cell AND s.rn <= c.quota
       |GROUP BY c.cell, c.n_vectors, c.quota
       |ORDER BY c.cell""".stripMargin

  /** Semantic deduplication (SemDeDup-style) — the fourth dedup
    * modality beside exact / MinHash / SimHash: embeddings are
    * clustered by the IVF k-means quantizer, near-duplicate pairs are
    * found by cosine threshold WITHIN cells only, transitive closure
    * via [[graft.api.Graft.connectedComponents]] groups them, and the
    * min-id member of each group is kept. Reported per source label:
    * total / kept / dropped counts (integer-exact output).
    *
    * Scale shape: cell assignment is the O(N·k) broadcast cross join;
    * the pair join is an equi join on the cell id (O(N) shuffle,
    * pairwise work cell-bounded); CC is the pointer-jumped fixpoint.
    * Nothing is all-pairs at any stage. */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val drops = graft.api.Graft.connectedComponents(
        semanticPairs(spark, dir), "vec_a", "vec_b")
      .filter(col("id") =!= col("component"))
      .select(col("id").as("drop_id"))
    Tables.embeddings(spark, dir)
      .join(drops, col("vec_id") === col("drop_id"), "left")
      .groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n_vectors"),
        count(when(col("drop_id").isNull, 1)).as("n_kept"),
        count(col("drop_id")).as("n_dropped"))
      .orderBy(col("label"))
  }

  val semanticDedupSql: String =
    s"""WITH RECURSIVE emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         ${normSql("CAST(embedding AS DOUBLE[])")} AS vn
       |  FROM embeddings),
       |$ivfCentroidsSqlCtes,
       |ranked AS (
       |  SELECT e.vec_id, e.v, e.vn, c.cent_id AS cell,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${dotSql("e.v", "c.cv")} / (e.vn * c.cn) DESC, c.cent_id) AS arn
       |  FROM emb e CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id, v, vn, cell FROM ranked WHERE arn = 1),
       |pairs AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb
       |  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE ${dotSql("a.v", "b.v")} / (a.vn * b.vn) >= $semanticTau),
       |sedges AS (
       |  SELECT va AS src, vb AS dst FROM pairs
       |  UNION ALL
       |  SELECT vb AS src, va AS dst FROM pairs),
       |sreach AS (
       |  SELECT src AS id, src AS slabel FROM sedges
       |  UNION
       |  SELECT e.dst AS id, r.slabel
       |  FROM sreach r JOIN sedges e ON e.src = r.id),
       |slabels AS (SELECT id, min(slabel) AS comp FROM sreach GROUP BY 1),
       |sdrops AS (SELECT id FROM slabels WHERE id <> comp)
       |SELECT CAST(label AS BIGINT) AS label, count(*) AS n_vectors,
       |       count(*) FILTER (WHERE vec_id NOT IN (SELECT id FROM sdrops)) AS n_kept,
       |       count(*) FILTER (WHERE vec_id IN (SELECT id FROM sdrops)) AS n_dropped
       |FROM embeddings GROUP BY 1 ORDER BY 1""".stripMargin

  /** Per-label embedding centroid (first 8 dims shown): posexplode the
    * vector, aggregate per (label, dim). The shuffle key is the
    * compact (label, dim) pair with map-side partial aggregation —
    * rows fan out ×|dims| but never pairwise, and the result is
    * |labels| × 8. The full-width centroid (all 64 dims, kept as an
    * array) would use the same plan minus the dim filter.
    *
    * Oracle-parity: each component is quantized to integer
    * micro-units BEFORE aggregation, so the sum is an exact
    * order-independent integer in both engines (double summation
    * order differs between Spark's parallel partials and DuckDB and
    * lands averages on rounding half-boundaries); `+ 0.0`
    * canonicalizes IEEE −0.0. */
  def labelCentroid(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("pos0", "v")))
      .filter(col("pos0") < 8)
      .select(col("label"), (col("pos0") + 1).cast("long").as("pos"),
        round(col("v").cast("double") * 1000000d).cast("long").as("vq"))
      .groupBy(col("label"), col("pos"))
      .agg((round(sum(col("vq")).cast("double") / count(lit(1)) / lit(1000d)) / 1000d + 0.0)
        .as("mean_val"))
      .orderBy(col("label"), col("pos"))

  val labelCentroidSql: String =
    """SELECT label, pos,
      |       round(CAST(sum(vq) AS DOUBLE) / count(*) / 1000) / 1000 + 0.0 AS mean_val
      |FROM (SELECT CAST(label AS BIGINT) AS label,
      |             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS vq,
      |             CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos
      |      FROM embeddings)
      |WHERE pos <= 8 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------------
  // Product quantization (PQ) — the ANN COMPRESSION path
  // --------------------------------------------------------------------

  /** PQ geometry: the vector splits into [[pqM]] contiguous subspaces,
    * each quantized independently against its own [[pqKsub]]-codeword
    * codebook (trained per subspace by the same md5-seeded,
    * micro-unit-quantized Lloyd rounds as the IVF coarse quantizer).
    * A vector's stored form is M codes — with the production
    * ksub=256, ONE BYTE each: a 64-dim float vector (256 B) scans as
    * 8 B, 32× less I/O — while the codebook (M·ksub·subDim doubles)
    * is a bounded model artifact shipped like a broadcast. ksub=16
    * here keeps the oracle's training CTE chain tractable; the plan
    * shape is ksub-independent. Unlike the IVF cell count, the
    * codebook does NOT scale with the corpus — PQ is compression, not
    * partitioning: no stage is pairwise in N (scan O(Q·N) over codes,
    * re-rank O(Q·R) exact), so there is no cell-population flaw to
    * re-introduce. At 100 TB the two COMPOSE (FAISS-style IVF-PQ):
    * IVF's probed cells bound the candidate set, PQ's codes bound the
    * bytes each candidate costs. */
  private[graft] val pqM = 8
  private[graft] val pqKsub = 16
  private val pqSubDim = dim / pqM

  /** Lloyd rounds for each subspace codebook — same oracle-replay
    * contract as [[ivfIters]]. */
  private val pqIters = 2

  /** ADC shortlist size before exact re-rank. The standard PQ recipe:
    * rank ALL candidates by approximate (reconstructed) cosine —
    * cheap, code-only — keep the top `pqShortlist`, then score those
    * few exactly. Quantization error only costs recall when a true
    * top-k neighbor's approx rank falls below R; R a few × topK
    * absorbs that at 64× compression. */
  private[graft] val pqShortlist = 32

  private val pqCodebookCache = new CorpusMemo[Seq[(Int, Long, Seq[Double])]]

  /** Trained once per corpus (deterministic artifact, like the IVF
    * centroids) and memoized under the same signature contract. */
  private[graft] def pqCodebookRows(spark: SparkSession, dir: String): Seq[(Int, Long, Seq[Double])] =
    pqCodebookCache.get(dir, "pq", corpusSig(spark, dir)) {
      computePqCodebookRows(spark, dir)
    }

  /** Per-subspace k-means, all subspaces trained in ONE job per
    * round: assignment is the native [[graft.functions.PqEncode]]
    * (map-only, no shuffle), means are one groupBy on the compact
    * (m, code, pos) key with micro-unit-quantized components — the
    * exact-integer-sum trick that makes Spark's parallel partials
    * equal DuckDB's serial fold. Seeds are the first ksub vectors in
    * md5(vec_id) order; subspace m inits from their m-th slice (one
    * seed draw shared by every subspace). Codewords that lose all
    * members drop out; both engines agree. */
  private[graft] def computePqCodebookRows(spark: SparkSession, dir: String): Seq[(Int, Long, Seq[Double])] =
    trainPqCodebooks(embWithNorm(spark, dir).select(col("vec_id"), col("v")))

  /** The subspace-Lloyd trainer over an arbitrary (vec_id, v) corpus —
    * shared by flat PQ (raw vectors), IVF-PQ (coarse residuals), and
    * the generic facade. The geometry (nSub subspaces × ksub codes
    * over subDim-wide slices) is a parameter; the embeddings-table
    * queries pass the documented defaults. */
  private[graft] def trainPqCodebooks(vecs: DataFrame, nSub: Int = pqM,
                                      ksub: Int = pqKsub,
                                      subDim: Int = pqSubDim): Seq[(Int, Long, Seq[Double])] = {
    graft.functions.VectorFunctions.register(vecs.sparkSession)
    val seedVecs: Seq[Seq[Double]] = vecs
      .withColumn("h", md5(col("vec_id").cast("string").cast("binary")))
      .orderBy(col("h"), col("vec_id")).limit(ksub)
      .select(col("v")).collect().toSeq.map(_.getSeq[Double](0))
    var cb: Seq[(Int, Long, Seq[Double])] =
      (0 until nSub).flatMap { m =>
        seedVecs.zipWithIndex.map { case (v, i) =>
          (m, i.toLong, v.slice(m * subDim, (m + 1) * subDim)) } }
    for (_ <- 1 to pqIters) {
      cb = vecs
        .select(col("v"),
          call_function("graft_pq_encode", col("v"), pqCbLiteral(cb)).as("codes"))
        .select(col("v"), posexplode(col("codes")).as(Seq("m", "code")))
        .select(col("m"), col("code"),
          posexplode(slice(col("v"), col("m") * subDim + 1, lit(subDim)))
            .as(Seq("pos0", "x")))
        .select(col("m"), col("code"), col("pos0"),
          round(col("x").cast("double") * 1000000d).cast("long").as("xq"))
        .groupBy(col("m"), col("code"), col("pos0"))
        .agg((round(sum(col("xq")) / count(lit(1))) / 1000000d).as("cx"))
        .groupBy(col("m"), col("code"))
        .agg(transform(array_sort(collect_list(struct(col("pos0"), col("cx")))),
          s => s("cx")).as("cv"))
        .collect().toSeq
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
        .sortBy(t => (t._1, t._2))
    }
    cb
  }

  /** Codebook as a foldable literal array<struct<m, code, cv>> sorted
    * by (m, code) — the form [[graft.functions.PqCodebookTable]]
    * decodes once per expression instance. */
  private[graft] def pqCbLiteral(cb: Seq[(Int, Long, Seq[Double])]): Column =
    array(cb.sortBy(t => (t._1, t._2)).map { case (m, code, cv) =>
      struct(lit(m).as("m"), lit(code).as("code"), typedLit(cv).as("cv"))
    }: _*)

  /** Map-only PQ encoding: (vec_id, v, vn, codes). */
  private[graft] def assignPqCodes(emb: DataFrame, cb: Column): DataFrame = {
    graft.functions.VectorFunctions.register(emb.sparkSession)
    emb.select(col("vec_id"), col("v"), col("vn"),
      call_function("graft_pq_encode", col("v"), cb).as("codes"))
  }

  /** PQ ANN top-k: encode the corpus (map-only native expression),
    * rank every candidate by APPROXIMATE cosine against its
    * reconstruction — computed from the codes + codebook only, the
    * compressed-scan stage — keep the top [[pqShortlist]] per query
    * (WindowGroupLimit prunes per partition before the shuffle), then
    * re-rank the shortlist EXACTLY via an equi join back to the full
    * vectors. Both windows tie-break on vec_id; degenerate
    * (zero-norm) reconstructions score -Inf, matching the oracle's
    * NULL-sorts-last under DESC. */
  def pqTopK(spark: SparkSession, dir: String): DataFrame = {
    val cbLit = pqCbLiteral(pqCodebookRows(spark, dir))
    val emb = embWithNorm(spark, dir)
    // the stored form — at production ksub=256, 8 bytes per vector
    val stored = assignPqCodes(emb, cbLit).select(col("vec_id"), col("codes"))
    val cand = stored
      .withColumn("dec", call_function("graft_pq_decode", col("codes"), cbLit))
      .withColumn("dn", call_function("graft_l2norm", col("dec")))
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("vn").as("qn"))
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc, col("vec_id"))
    val denom = col("qn") * col("dn")
    val short = broadcast(q).join(cand, col("query_id") =!= col("vec_id"))
      .withColumn("approx",
        when(denom === 0.0, lit(Double.NegativeInfinity))
          .otherwise(call_function("graft_dot", col("qv"), col("dec")) / denom))
      .withColumn("srn", row_number().over(wApprox))
      .filter(col("srn") <= pqShortlist)
      .select(col("query_id"), col("qv"), col("qn"), col("vec_id"))
    val exact = emb.select(col("vec_id").as("nid"), col("v").as("nv"), col("vn").as("nn"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("nid"))
    broadcast(short).join(exact, col("vec_id") === col("nid"))
      .withColumn("cos_raw",
        call_function("graft_dot", col("qv"), col("nv")) / (col("qn") * col("nn")))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("nid").as("neighbor_id"),
        round(col("cos_raw"), 6).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Codebook-utilization census: population per (subspace, code) —
    * the balance diagnostic for the quantizer (a dead or overloaded
    * codeword wastes its compression budget). One posexplode +
    * groupBy on the compact (m, code) key. */
  def pqCodeCensus(spark: SparkSession, dir: String): DataFrame = {
    val cbLit = pqCbLiteral(pqCodebookRows(spark, dir))
    assignPqCodes(embWithNorm(spark, dir), cbLit)
      .select(posexplode(col("codes")).as(Seq("m", "code")))
      .groupBy(col("m").cast("integer").as("m"), col("code"))
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy(col("m"), col("code"))
  }

  /** Residual codebooks for IVF-PQ: trained on `v - centroid(cell)`
    * AFTER coarse assignment — the FAISS construction. The residual's
    * magnitude is a fraction of the raw vector's, so the same
    * M × ksub budget buys far less quantization error than flat PQ.
    * Keyed by k too (the residuals depend on the coarse quantizer). */
  private[graft] def ivfPqCodebookRows(spark: SparkSession, dir: String): Seq[(Int, Long, Seq[Double])] = {
    val (k, _) = ivfParams(spark, dir)
    pqCodebookCache.get(dir, s"ivfpq_k=$k", corpusSig(spark, dir)) {
      val cents = centroidLiteral(spark, dir, k)
      val res = assignCells(embWithNorm(spark, dir), cents)
        .select(col("vec_id"),
          call_function("graft_cell_residual", col("v"), col("cell"), cents).as("v"))
      trainPqCodebooks(res)
    }
  }

  /** IVF-PQ — the two indexes COMPOSED, the FAISS production
    * architecture at 100 TB: the IVF coarse quantizer restricts each
    * query to its nprobe cells (candidate COUNT bound), candidates
    * within those cells are ranked by approximate cosine against
    * their reconstruction (candidate BYTES bound — the scan touches
    * cell + codes only), and the per-query shortlist is re-ranked
    * exactly. PQ encodes the RESIDUAL `v - centroid(cell)`
    * ([[ivfPqCodebookRows]]); reconstruction is
    * `centroid(cell) + decode(codes)` — never `v - (v - μ)`, which
    * would not be IEEE-exact. Every stage reuses the single-index
    * machinery: [[ivfAssigned]]'s argmax cells, [[trainPqCodebooks]],
    * [[pqTopK]]'s shortlist + re-rank tail. The only shuffle is the
    * cell equi join (cells are disjoint, so a candidate meets each
    * query at most once — no dedup stage). */
  def ivfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val (k, nprobe) = ivfParams(spark, dir)
    val emb = embWithNorm(spark, dir)
    val cents = centroidLiteral(spark, dir, k)
    val cbLit = pqCbLiteral(ivfPqCodebookRows(spark, dir))
    // the stored form: (cell, codes) — both index artifacts in one
    // map-only pass over the corpus
    val stored = assignCells(emb, cents)
      .withColumn("rv",
        call_function("graft_cell_residual", col("v"), col("cell"), cents))
      .select(col("vec_id"), col("cell"),
        call_function("graft_pq_encode", col("rv"), cbLit).as("codes"))
    // reconstruction reads ONLY (cell, codes) + the two bounded
    // model artifacts (centroid table, codebook)
    val cand = stored
      .withColumn("recon", call_function("graft_cell_add",
        call_function("graft_pq_decode", col("codes"), cbLit), col("cell"), cents))
      .select(col("vec_id"), col("cell").as("ccell"), col("recon").as("dec"),
        call_function("graft_l2norm", col("recon")).as("dn"))
    val q = probeCells(emb.filter(col("vec_id") < nQueries), cents, nprobe)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("vn").as("qn"),
        col("cell"))
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc, col("vec_id"))
    val denom = col("qn") * col("dn")
    val short = broadcast(q)
      .join(cand, col("cell") === col("ccell") && col("query_id") =!= col("vec_id"))
      .withColumn("approx",
        when(denom === 0.0, lit(Double.NegativeInfinity))
          .otherwise(call_function("graft_dot", col("qv"), col("dec")) / denom))
      .withColumn("srn", row_number().over(wApprox))
      .filter(col("srn") <= pqShortlist)
      .select(col("query_id"), col("qv"), col("qn"), col("vec_id"))
    val exact = emb.select(col("vec_id").as("nid"), col("v").as("nv"), col("vn").as("nn"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("nid"))
    broadcast(short).join(exact, col("vec_id") === col("nid"))
      .withColumn("cos_raw",
        call_function("graft_dot", col("qv"), col("nv")) / (col("qn") * col("nn")))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("nid").as("neighbor_id"),
        round(col("cos_raw"), 6).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  val ivfPqTopKSql: String =
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         ${normSql("CAST(embedding AS DOUBLE[])")} AS vn
       |  FROM embeddings),
       |$ivfCentroidsSqlCtes,
       |ranked AS (
       |  SELECT e.vec_id, e.v, e.vn, c.cent_id AS cell,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${dotSql("e.v", "c.cv")} / (e.vn * c.cn) DESC, c.cent_id) AS arn
       |  FROM emb e CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id, v, cell FROM ranked WHERE arn = 1),
       |res AS (
       |  SELECT a.vec_id,
       |         list_transform(range($dim), i -> a.v[i+1] - c.cv[i+1]) AS v
       |  FROM assigned a JOIN cents c ON a.cell = c.cent_id),
       |${pqSqlCtes("res")},
       |qprobes AS (
       |  SELECT vec_id AS query_id, v AS qv, vn AS qn, cell
       |  FROM ranked WHERE vec_id < $nQueries AND arn <= (SELECT np FROM params)),
       |decoded AS (
       |  SELECT c.vec_id, flatten(list(b.cv ORDER BY c.m)) AS dec
       |  FROM codes c JOIN cb b ON c.m = b.m AND c.code = b.code
       |  GROUP BY c.vec_id),
       |recon AS (
       |  SELECT d.vec_id, a.cell,
       |         list_transform(range($dim), i -> ct.cv[i+1] + d.dec[i+1]) AS dec
       |  FROM decoded d
       |  JOIN assigned a ON d.vec_id = a.vec_id
       |  JOIN cents ct ON a.cell = ct.cent_id),
       |cand AS (
       |  SELECT vec_id, cell, dec, ${normSql("dec")} AS dn FROM recon),
       |short AS (
       |  SELECT query_id, qv, qn, vec_id FROM (
       |    SELECT q.query_id, q.qv, q.qn, c.vec_id,
       |           row_number() OVER (PARTITION BY q.query_id
       |             ORDER BY ${dotSql("q.qv", "c.dec")} / (q.qn * c.dn) DESC, c.vec_id) AS srn
       |    FROM qprobes q JOIN cand c ON q.cell = c.cell AND q.query_id <> c.vec_id)
       |  WHERE srn <= $pqShortlist)
       |SELECT query_id, rank, neighbor_id, cosine
       |FROM (
       |  SELECT s.query_id, e.vec_id AS neighbor_id,
       |         round(${dotSql("s.qv", "e.v")} / (s.qn * e.vn), 6) AS cosine,
       |         CAST(row_number() OVER (PARTITION BY s.query_id
       |           ORDER BY ${dotSql("s.qv", "e.v")} / (s.qn * e.vn) DESC, e.vec_id) AS BIGINT) AS rank
       |  FROM short s JOIN emb e ON s.vec_id = e.vec_id)
       |WHERE rank <= $topK
       |ORDER BY query_id, rank""".stripMargin

  /** kNN-graph construction — every vector's top-`knnK` in-cell
    * neighbors, the curation primitive behind graph-based clustering
    * / diversity sampling / advanced dedup (a SemDeDup variant walks
    * exactly this graph). Same IVF-bounded candidate generation as
    * [[semanticPairs]] (cell equi join, never all-pairs), with a
    * per-source rank window that WindowGroupLimit prunes to k rows
    * per partition before the shuffle. Isolated vectors (alone in
    * their cell) have no rows — the graph is sparse by construction. */
  private val knnK = 3

  def knnGraph(spark: SparkSession, dir: String): DataFrame = {
    val assigned = ivfAssigned(spark, dir)
    val a = assigned.select(col("vec_id").as("src"), col("v").as("va"),
      col("vn").as("na"), col("cell"))
    val b = assigned.select(col("vec_id").as("dst"), col("v").as("vb"),
      col("vn").as("nb"), col("cell").as("cb"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cos_raw").desc, col("dst"))
    a.join(b, col("cell") === col("cb") && col("src") =!= col("dst"))
      .withColumn("cos_raw",
        call_function("graft_dot", col("va"), col("vb")) / (col("na") * col("nb")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= knnK)
      .select(col("src"), col("rank"), col("dst").as("neighbor_id"),
        round(col("cos_raw"), 6).as("cosine"))
      .orderBy(col("src"), col("rank"))
  }

  val knnGraphSql: String =
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         ${normSql("CAST(embedding AS DOUBLE[])")} AS vn
       |  FROM embeddings),
       |$ivfCentroidsSqlCtes,
       |ranked AS (
       |  SELECT e.vec_id, e.v, e.vn, c.cent_id AS cell,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${dotSql("e.v", "c.cv")} / (e.vn * c.cn) DESC, c.cent_id) AS arn
       |  FROM emb e CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id, v, vn, cell FROM ranked WHERE arn = 1)
       |SELECT src, rank, neighbor_id, cosine
       |FROM (
       |  SELECT a.vec_id AS src, b.vec_id AS neighbor_id,
       |         round(${dotSql("a.v", "b.v")} / (a.vn * b.vn), 6) AS cosine,
       |         CAST(row_number() OVER (PARTITION BY a.vec_id
       |           ORDER BY ${dotSql("a.v", "b.v")} / (a.vn * b.vn) DESC, b.vec_id) AS BIGINT) AS rank
       |  FROM assigned a
       |  JOIN assigned b ON a.cell = b.cell AND a.vec_id <> b.vec_id)
       |WHERE rank <= $knnK
       |ORDER BY src, rank""".stripMargin

  /** Hard-negative mining for embedding/contrastive training: for
    * each anchor, the most-similar vector of a DIFFERENT label (the
    * hard negative) alongside its most-similar SAME-label vector (the
    * positive), and the triplet margin between them — anchors with a
    * small or negative margin are the confusable examples a trainer
    * should oversample. Candidates are IVF-cell-bounded exactly like
    * [[knnGraph]] (the pair mass is in-cell only, never all-pairs).
    * Both the positive and the negative are top-1 picks, so they do
    * not need rank windows at all: ONE groupBy(anchor) with two
    * conditional struct-MAX aggregates (ordering key = (cos, −cand),
    * replicating the windows' cos DESC, cand ASC tiebreak) reduces
    * the pair stream map-side — the r13 3.5× probe ratio was this
    * stage evaluated TWICE (the un-cached pair join re-ran per rank
    * branch) plus two window exchanges plus a rejoin; the rewrite
    * pays the cell join once and one combinable agg shuffle
    * (measured in docs/SCALE.md `hard_negative_triplets`). Anchors
    * whose probed cell lacks either a positive or a negative drop
    * out (both-non-null filter ≡ the old inner join) — the audit
    * view of mineable triplets. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val (k, _) = ivfParams(spark, dir)
    val cents = centroidLiteral(spark, dir, k)
    graft.functions.VectorFunctions.register(spark)
    val assigned = Tables.embeddings(spark, dir)
      .withColumn("v", vecAsDouble(col("embedding")))
      .withColumn("vn", call_function("graft_l2norm", col("v")))
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("v"), col("vn"),
        call_function("graft_argmax_cell", col("v"), col("vn"), cents).as("cell"))
    val a = assigned.select(col("vec_id").as("anchor"), col("label").as("al"),
      col("v").as("va"), col("vn").as("na"), col("cell"))
    val b = assigned.select(col("vec_id").as("cand"), col("label").as("cl"),
      col("v").as("vb"), col("vn").as("nb"), col("cell").as("cb"))
    val pairs = a.join(b, col("cell") === col("cb") && col("anchor") =!= col("cand"))
      .withColumn("cos_raw",
        call_function("graft_dot", col("va"), col("vb")) / (col("na") * col("nb")))
      .select(col("anchor"), col("al"), col("cand"), col("cl"), col("cos_raw"))
    // top-1 per side via conditional struct-max: struct comparison is
    // lexicographic, so (cos_raw, -cand) MAX == the windows' ORDER BY
    // cos_raw DESC, cand ASC pick (vec_id is a non-negative long)
    def top1(cond: Column, extra: Column*) =
      max(when(cond,
        struct(Seq(col("cos_raw").as("c"), (-col("cand")).as("nc"),
          col("cand").as("cand")) ++ extra: _*)))
    pairs.groupBy(col("anchor"), col("al"))
      .agg(top1(col("al") === col("cl")).as("p"),
        top1(col("al") =!= col("cl"), col("cl").as("cl")).as("n"))
      .filter(col("p").isNotNull && col("n").isNotNull)
      .select(col("anchor"), col("al").as("label"),
        col("p.cand").as("pos_id"), col("n.cand").as("neg_id"),
        col("n.cl").as("neg_label"),
        round(col("p.c"), 6).as("pos_cosine"),
        round(col("n.c"), 6).as("neg_cosine"),
        round(col("p.c") - col("n.c"), 6).as("margin"))
      .orderBy(col("anchor"))
  }

  val hardNegativesSql: String =
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS label,
       |         CAST(embedding AS DOUBLE[]) AS v,
       |         ${normSql("CAST(embedding AS DOUBLE[])")} AS vn
       |  FROM embeddings),
       |$ivfCentroidsSqlCtes,
       |ranked AS (
       |  SELECT e.vec_id, e.label, e.v, e.vn, c.cent_id AS cell,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${dotSql("e.v", "c.cv")} / (e.vn * c.cn) DESC, c.cent_id) AS arn
       |  FROM emb e CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id, label, v, vn, cell FROM ranked WHERE arn = 1),
       |pairs AS (
       |  SELECT a.vec_id AS anchor, a.label AS al, b.vec_id AS cand, b.label AS cl,
       |         ${dotSql("a.v", "b.v")} / (a.vn * b.vn) AS cos_raw
       |  FROM assigned a
       |  JOIN assigned b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
       |pos AS (
       |  SELECT anchor, al, cand, cos_raw FROM (
       |    SELECT *, row_number() OVER (PARTITION BY anchor
       |      ORDER BY cos_raw DESC, cand) AS rn
       |    FROM pairs WHERE al = cl) WHERE rn = 1),
       |neg AS (
       |  SELECT anchor, cand, cl, cos_raw FROM (
       |    SELECT *, row_number() OVER (PARTITION BY anchor
       |      ORDER BY cos_raw DESC, cand) AS rn
       |    FROM pairs WHERE al <> cl) WHERE rn = 1)
       |SELECT p.anchor, p.al AS label, p.cand AS pos_id, n.cand AS neg_id,
       |       n.cl AS neg_label,
       |       round(p.cos_raw, 6) AS pos_cosine,
       |       round(n.cos_raw, 6) AS neg_cosine,
       |       round(p.cos_raw - n.cos_raw, 6) AS margin
       |FROM pos p JOIN neg n USING (anchor) ORDER BY anchor""".stripMargin

  /** Semantic decontamination — the embedding-space analog of the
    * n-gram [[graft.api.Graft.decontaminate]]: training vectors that
    * are near-duplicates (cosine ≥ τ) of ANY held-out/eval vector are
    * dropped, so paraphrased leakage the shingle overlap misses still
    * goes. Label 0 plays the eval suite here; candidates are
    * IVF-cell-bounded like every pairwise stage in this family, and
    * the drop test is a left-semi join (no fan-out, one boolean per
    * training vector). Reported per training label, integer-exact. */
  def semanticDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val (k, _) = ivfParams(spark, dir)
    val cents = centroidLiteral(spark, dir, k)
    graft.functions.VectorFunctions.register(spark)
    val assigned = Tables.embeddings(spark, dir)
      .withColumn("v", vecAsDouble(col("embedding")))
      .withColumn("vn", call_function("graft_l2norm", col("v")))
      .select(col("vec_id"), col("label").cast("long").as("label"), col("v"), col("vn"),
        call_function("graft_argmax_cell", col("v"), col("vn"), cents).as("cell"))
    val eval_ = assigned.filter(col("label") === 0)
      .select(col("v").as("ev"), col("vn").as("en"), col("cell").as("ecell"))
    val train = assigned.filter(col("label") =!= 0)
    val contaminated = train.join(eval_,
        col("cell") === col("ecell") &&
          call_function("graft_dot", col("v"), col("ev")) / (col("vn") * col("en")) >= semanticTau,
        "left_semi")
      .select(col("vec_id").as("bad_id"))
    train.join(contaminated, col("vec_id") === col("bad_id"), "left")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        count(when(col("bad_id").isNull, 1)).as("n_kept"),
        count(col("bad_id")).as("n_dropped"))
      .orderBy(col("label"))
  }

  val semanticDecontaminateSql: String =
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         ${normSql("CAST(embedding AS DOUBLE[])")} AS vn
       |  FROM embeddings),
       |$ivfCentroidsSqlCtes,
       |ranked AS (
       |  SELECT e.vec_id, e.v, e.vn, c.cent_id AS cell,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${dotSql("e.v", "c.cv")} / (e.vn * c.cn) DESC, c.cent_id) AS arn
       |  FROM emb e CROSS JOIN cents c),
       |assigned AS (
       |  SELECT r.vec_id, CAST(x.label AS BIGINT) AS label, r.v, r.vn, r.cell
       |  FROM ranked r JOIN embeddings x ON r.vec_id = x.vec_id
       |  WHERE r.arn = 1),
       |bad AS (
       |  SELECT DISTINCT t.vec_id
       |  FROM assigned t JOIN assigned e
       |    ON t.cell = e.cell AND e.label = 0 AND t.label <> 0
       |   AND ${dotSql("t.v", "e.v")} / (t.vn * e.vn) >= $semanticTau)
       |SELECT label, count(*) AS n_vectors,
       |       count(*) FILTER (WHERE vec_id NOT IN (SELECT vec_id FROM bad)) AS n_kept,
       |       count(*) FILTER (WHERE vec_id IN (SELECT vec_id FROM bad)) AS n_dropped
       |FROM assigned WHERE label <> 0
       |GROUP BY label ORDER BY label""".stripMargin

  private def pqL2Sql(a: String, b: String, subDim: Int = pqSubDim): String =
    s"list_sum(list_transform(range($subDim), i -> ($a[i+1] - $b[i+1]) * ($a[i+1] - $b[i+1])))"

  /** The per-subspace training chain + encode in DuckDB SQL: produces
    * `cb(m, code, cv)` and `codes(vec_id, m, code)` relations over the
    * `src(vec_id, v)` relation (raw vectors for flat PQ, coarse
    * residuals for IVF-PQ). */
  private def pqSqlCtes(src: String = "emb", nSub: Int = pqM, ksub: Int = pqKsub,
                        subDim: Int = pqSubDim): String = {
    def assign(from: String): String =
      s"""SELECT vec_id, m, sv, code FROM (
         |  SELECT s.vec_id, s.m, s.sv, c.code,
         |         row_number() OVER (PARTITION BY s.vec_id, s.m
         |           ORDER BY ${pqL2Sql("s.sv", "c.cv", subDim)} ASC, c.code ASC) AS arn
         |  FROM subv s JOIN $from c ON s.m = c.m) WHERE arn = 1""".stripMargin
    def means(from: String): String =
      s"""SELECT m, code, list(cx ORDER BY pos) AS cv FROM (
         |  SELECT m, code, pos, round(sum(xq) / count(*)) / 1000000 AS cx FROM (
         |    SELECT m, code, CAST(round(unnest(sv) * 1000000) AS BIGINT) AS xq,
         |           generate_subscripts(sv, 1) AS pos
         |    FROM $from) GROUP BY 1, 2, 3) GROUP BY 1, 2""".stripMargin
    val rounds = (1 to pqIters).map { i =>
      s"pa$i AS (${assign(s"pc${i - 1}")}),\npc$i AS (${means(s"pa$i")})"
    }.mkString(",\n")
    s"""subm AS (SELECT CAST(unnest(range($nSub)) AS INTEGER) AS m),
       |subv AS (
       |  SELECT vec_id, m,
       |         list_transform(range($subDim), i -> v[m * $subDim + i + 1]) AS sv
       |  FROM $src CROSS JOIN subm),
       |seeds AS (
       |  SELECT vec_id, row_number() OVER (
       |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM $src),
       |pc0 AS (
       |  SELECT s.m, CAST(x.rn - 1 AS BIGINT) AS code, s.sv AS cv
       |  FROM subv s JOIN seeds x ON s.vec_id = x.vec_id WHERE x.rn <= $ksub),
       |$rounds,
       |cb AS (SELECT m, code, cv FROM pc$pqIters),
       |codes AS (SELECT vec_id, m, code FROM (
       |  SELECT s.vec_id, s.m, c.code,
       |         row_number() OVER (PARTITION BY s.vec_id, s.m
       |           ORDER BY ${pqL2Sql("s.sv", "c.cv", subDim)} ASC, c.code ASC) AS arn
       |  FROM subv s JOIN cb c ON s.m = c.m) WHERE arn = 1)""".stripMargin
  }

  val pqTopKSql: String =
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         ${normSql("CAST(embedding AS DOUBLE[])")} AS vn
       |  FROM embeddings),
       |${pqSqlCtes()},
       |decoded AS (
       |  SELECT c.vec_id, flatten(list(b.cv ORDER BY c.m)) AS dec
       |  FROM codes c JOIN cb b ON c.m = b.m AND c.code = b.code
       |  GROUP BY c.vec_id),
       |cand AS (SELECT vec_id, dec, ${normSql("dec")} AS dn FROM decoded),
       |q AS (SELECT vec_id AS query_id, v AS qv, vn AS qn
       |      FROM emb WHERE vec_id < $nQueries),
       |short AS (
       |  SELECT query_id, qv, qn, vec_id FROM (
       |    SELECT q.query_id, q.qv, q.qn, c.vec_id,
       |           row_number() OVER (PARTITION BY q.query_id
       |             ORDER BY ${dotSql("q.qv", "c.dec")} / (q.qn * c.dn) DESC, c.vec_id) AS srn
       |    FROM q JOIN cand c ON q.query_id <> c.vec_id) WHERE srn <= $pqShortlist)
       |SELECT query_id, rank, neighbor_id, cosine
       |FROM (
       |  SELECT s.query_id, e.vec_id AS neighbor_id,
       |         round(${dotSql("s.qv", "e.v")} / (s.qn * e.vn), 6) AS cosine,
       |         CAST(row_number() OVER (PARTITION BY s.query_id
       |           ORDER BY ${dotSql("s.qv", "e.v")} / (s.qn * e.vn) DESC, e.vec_id) AS BIGINT) AS rank
       |  FROM short s JOIN emb e ON s.vec_id = e.vec_id)
       |WHERE rank <= $topK
       |ORDER BY query_id, rank""".stripMargin

  /** Inverted multi-index (IMI) — the SCALE-OUT path for the coarse
    * quantizer itself. The flat IVF policy k = ⌈N/m⌉ stops at
    * [[ivfMaxK]] because training and the O(N·k) assignment fold grow
    * with k; past that point FAISS-style systems switch to a PRODUCT
    * of two half-space quantizers: each vector's composite cell is
    * (c₁, c₂) — its nearest codeword in each 32-dim half — giving
    * k₁ × k₂ effective cells (up to [[imiKsub]]² = 1024 here;
    * 256² = 65 536 in a production byte-code deployment) while
    * training and assigning only k₁ + k₂ centroids at O(N·(k₁+k₂)).
    * This IS the PQ machinery with nSub = 2 repurposed as a
    * partitioner — same trainer, same native encode — so the two-
    * level quantizer costs no new plan shape: the census below runs
    * one map-only encode + one groupBy on the compact code pair.
    * Realized (non-empty) composite cells are data-dependent; the
    * census is the balance diagnostic, exactly as
    * [[semanticCells]] is for flat IVF. */
  private[graft] val imiKsub = 32

  def imiCells(spark: SparkSession, dir: String): DataFrame = {
    val cb = pqCbLiteral(imiCodebookRows(spark, dir))
    assignPqCodes(embWithNorm(spark, dir), cb)
      .select(element_at(col("codes"), 1).as("cell1"),
        element_at(col("codes"), 2).as("cell2"))
      .groupBy(col("cell1"), col("cell2"))
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy(col("cell1"), col("cell2"))
  }

  private[graft] def imiCodebookRows(spark: SparkSession, dir: String): Seq[(Int, Long, Seq[Double])] =
    pqCodebookCache.get(dir, "imi", corpusSig(spark, dir)) {
      trainPqCodebooks(embWithNorm(spark, dir).select(col("vec_id"), col("v")),
        nSub = 2, ksub = imiKsub, subDim = dim / 2)
    }

  /** Probes per HALF for [[imiTopK]] — the IMI recall knob: a query
    * scans the cartesian of its np nearest codewords per half
    * (np² composite cells out of k₁·k₂). FAISS's multi-sequence
    * algorithm enumerates that neighborhood best-first to stop
    * early; a batch engine scans the whole (tiny) probe set, so
    * plain per-half top-np is the same candidate set without the
    * priority queue. */
  private[graft] val imiNprobe = 4

  /** IMI serving: candidates live in the probed composite cells
    * (equi join on BOTH half-codes), scored exactly, top-k per
    * query. Map-only probe generation (an in-row sort over each
    * half's ≤[[imiKsub]] codewords), one equi shuffle, rank window
    * with WindowGroupLimit pruning — the same plan family as
    * [[ivfTopK]], with the quantizer swapped for its scale-out
    * form. */
  def imiTopK(spark: SparkSession, dir: String): DataFrame = {
    val cb = pqCbLiteral(imiCodebookRows(spark, dir))
    val emb = embWithNorm(spark, dir)
    val half = dim / 2
    val stored = assignPqCodes(emb, cb)
      .select(col("vec_id"), col("v"), col("vn"),
        element_at(col("codes"), 1).as("c1"),
        element_at(col("codes"), 2).as("c2"))
    def l2d(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (s, x) => s + x)
    def probeCodes(m: Int, sub: Column): Column = slice(
      array_sort(
        transform(filter(cb, e => e.getField("m") === m),
          e => struct(nanvl(l2d(sub, e.getField("cv")), lit(Double.PositiveInfinity)).as("d"),
            e.getField("code").as("code"))),
        (l, r) => when(l.getField("d") < r.getField("d"), -1)
          .when(l.getField("d") > r.getField("d"), 1)
          .when(l.getField("code") < r.getField("code"), -1)
          .when(l.getField("code") > r.getField("code"), 1)
          .otherwise(0)),
      1, imiNprobe)
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("vn").as("qn"),
        probeCodes(0, slice(col("v"), 1, half)).getField("code").as("ps1"),
        probeCodes(1, slice(col("v"), half + 1, half)).getField("code").as("ps2"))
      .select(col("query_id"), col("qv"), col("qn"),
        explode(col("ps1")).as("pc1"), col("ps2"))
      .select(col("query_id"), col("qv"), col("qn"), col("pc1"),
        explode(col("ps2")).as("pc2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
    broadcast(q)
      .join(stored, col("pc1") === col("c1") && col("pc2") === col("c2") &&
        col("query_id") =!= col("vec_id"))
      .withColumn("cos_raw",
        call_function("graft_dot", col("qv"), col("v")) / (col("qn") * col("vn")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cos_raw"), 6).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  val imiTopKSql: String =
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         ${normSql("CAST(embedding AS DOUBLE[])")} AS vn
       |  FROM embeddings),
       |${pqSqlCtes("emb", 2, imiKsub, dim / 2)},
       |qprobes AS (
       |  SELECT vec_id, m, code FROM (
       |    SELECT s.vec_id, s.m, c.code,
       |           row_number() OVER (PARTITION BY s.vec_id, s.m
       |             ORDER BY ${pqL2Sql("s.sv", "c.cv", dim / 2)} ASC, c.code ASC) AS prn
       |    FROM subv s JOIN cb c ON s.m = c.m
       |    WHERE s.vec_id < $nQueries) WHERE prn <= $imiNprobe),
       |cand AS (
       |  SELECT p1.vec_id AS query_id, s1.vec_id AS cand_id
       |  FROM (SELECT vec_id, code FROM qprobes WHERE m = 0) p1
       |  JOIN (SELECT vec_id, code FROM qprobes WHERE m = 1) p2
       |    ON p1.vec_id = p2.vec_id
       |  JOIN (SELECT vec_id, code FROM codes WHERE m = 0) s1 ON s1.code = p1.code
       |  JOIN (SELECT vec_id, code FROM codes WHERE m = 1) s2
       |    ON s2.vec_id = s1.vec_id AND s2.code = p2.code
       |  WHERE s1.vec_id <> p1.vec_id)
       |SELECT query_id, rank, neighbor_id, cosine
       |FROM (
       |  SELECT c.query_id, e.vec_id AS neighbor_id,
       |         round(${dotSql("q.v", "e.v")} / (q.vn * e.vn), 6) AS cosine,
       |         CAST(row_number() OVER (PARTITION BY c.query_id
       |           ORDER BY ${dotSql("q.v", "e.v")} / (q.vn * e.vn) DESC, e.vec_id) AS BIGINT) AS rank
       |  FROM cand c
       |  JOIN emb e ON c.cand_id = e.vec_id
       |  JOIN emb q ON c.query_id = q.vec_id)
       |WHERE rank <= $topK
       |ORDER BY query_id, rank""".stripMargin

  val imiCellsSql: String =
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |${pqSqlCtes("emb", 2, imiKsub, dim / 2)}
       |SELECT c1.code AS cell1, c2.code AS cell2, count(*) AS n_vectors
       |FROM (SELECT vec_id, code FROM codes WHERE m = 0) c1
       |JOIN (SELECT vec_id, code FROM codes WHERE m = 1) c2
       |  ON c1.vec_id = c2.vec_id
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val pqCodeCensusSql: String =
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         ${normSql("CAST(embedding AS DOUBLE[])")} AS vn
       |  FROM embeddings),
       |${pqSqlCtes()}
       |SELECT m, code, count(*) AS n_vectors
       |FROM codes GROUP BY m, code ORDER BY m, code""".stripMargin

  // --------------------------------------------------------------------
  // Feature preparation — standardization / quantization / kNN voting
  // --------------------------------------------------------------------

  /** Per-dimension z-score standardization — the feature-scaling pass
    * before clustering/training. ONE posexplode aggregation produces a
    * dim-row stats table (micro-unit-quantized integer sums → exact in
    * both engines), which collapses to a single row of (means, stds)
    * arrays and broadcasts onto a map-only transform of every vector —
    * the corpus is scanned twice and shuffled never (the stats shuffle
    * moves dim×partitions rows, not data). At 100 TB the stats side is
    * 64 rows; the rewrite pass is pure whole-stage codegen. */
  def embedStandardize(spark: SparkSession, dir: String): DataFrame = {
    val q = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        transform(vecAsDouble(col("embedding")),
          x => round(x * 1000000d).cast("long")).as("vq"))
    val st = q.select(posexplode(col("vq")).as(Seq("pos0", "x")))
      .groupBy(col("pos0"))
      .agg(sum(col("x")).as("s"), sum(col("x") * col("x")).as("ss"),
        count(lit(1)).as("n"))
      .select(col("pos0"),
        (col("s").cast("double") / col("n")).as("m"),
        sqrt(col("ss").cast("double") / col("n") -
          (col("s").cast("double") / col("n")) * (col("s").cast("double") / col("n"))).as("sd"))
    val statsRow = st
      .agg(array_sort(collect_list(struct(col("pos0"), col("m"), col("sd")))).as("st"))
      .select(transform(col("st"), e => e.getField("m")).as("marr"),
        transform(col("st"), e => e.getField("sd")).as("sdarr"))
    q.crossJoin(broadcast(statsRow))
      .select(col("vec_id"),
        transform(col("vq"), (x, i) =>
          when(get(col("sdarr"), i) === 0d, lit(0.0d))
            .otherwise(round((x.cast("double") - get(col("marr"), i)) / get(col("sdarr"), i), 6) + 0.0d))
          .as("zvec"))
      // Harness contract: no top-level ArrayType — the oracle driver
      // sorts/hashes scalar columns only, so the vector leaves the
      // engine in long form (vec_id, pos, zval). Generate is a narrow
      // (map-side) op: the plan stays shuffle-free on the corpus.
      .select(col("vec_id"), posexplode(col("zvec")).as(Seq("pos0", "zval")))
      .select(col("vec_id"), (col("pos0") + 1).cast("long").as("pos"), col("zval"))
      .orderBy(col("vec_id"), col("pos"))
  }

  val embedStandardizeSql: String =
    s"""WITH q AS (
       |  SELECT vec_id,
       |         list_transform(CAST(embedding AS DOUBLE[]),
       |           x -> CAST(round(x * 1000000) AS BIGINT)) AS vq
       |  FROM embeddings),
       |st AS (
       |  SELECT pos,
       |         CAST(sum(x) AS DOUBLE) / count(*) AS m,
       |         sqrt(CAST(sum(x * x) AS DOUBLE) / count(*) -
       |              (CAST(sum(x) AS DOUBLE) / count(*)) * (CAST(sum(x) AS DOUBLE) / count(*))) AS sd
       |  FROM (SELECT unnest(vq) AS x, generate_subscripts(vq, 1) AS pos FROM q)
       |  GROUP BY pos),
       |sarr AS (
       |  SELECT list(m ORDER BY pos) AS marr, list(sd ORDER BY pos) AS sdarr FROM st)
       |SELECT vec_id, CAST(i AS BIGINT) AS pos,
       |       CASE WHEN sdarr[i] = 0 THEN 0.0
       |            ELSE round((vq[i] - marr[i]) / sdarr[i], 6) + 0.0 END AS zval
       |FROM q, sarr, (SELECT unnest(range(1, $dim + 1)) AS i)
       |ORDER BY vec_id, pos""".stripMargin

  /** Symmetric int8 quantization of the embedding column — the 4×
    * storage/bandwidth cut an embedding store serves from (each double
    * component becomes one signed byte, scale = max|x|/127 per vector).
    * Map-only: no shuffle, no state — at 100 TB this fuses into the
    * scan. Emits the per-vector scale and mean absolute reconstruction
    * error so the quality loss is audited, not assumed. */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecAsDouble(col("embedding")).as("v"))
      .withColumn("sc", array_max(transform(col("v"), x => abs(x))) / 127d)
    val qvec = when(col("sc") === 0d,
      transform(col("v"), _ => lit(0).cast("int")))
      .otherwise(transform(col("v"),
        x => greatest(lit(-127d), least(lit(127d), round(x / col("sc")))).cast("int")))
    base.withColumn("qvec", qvec)
      .select(col("vec_id"),
        round(col("sc"), 9).as("scale"),
        col("qvec"),
        round(
          when(col("sc") === 0d, lit(0.0d)).otherwise(
            aggregate(zip_with(col("v"), col("qvec"),
              (x, q) => abs(x - q.cast("double") * col("sc"))),
              lit(0.0d), (acc, e) => acc + e) / size(col("v")).cast("double")),
          9).as("mae"))
      // Harness contract: no top-level ArrayType. The codes leave in
      // long form (vec_id, pos, qval) with the per-vector scale and
      // audited reconstruction error repeated on each row — still a
      // map-only plan (Generate is narrow), still shuffle-free.
      .select(col("vec_id"), col("scale"), col("mae"),
        posexplode(col("qvec")).as(Seq("pos0", "qval0")))
      .select(col("vec_id"), (col("pos0") + 1).cast("long").as("pos"),
        col("qval0").cast("long").as("qval"), col("scale"), col("mae"))
      .orderBy(col("vec_id"), col("pos"))
  }

  val embedQuantizeSql: String =
    s"""WITH s AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127 AS sc
       |  FROM embeddings),
       |qq AS (
       |  SELECT vec_id, v, sc,
       |         CASE WHEN sc = 0 THEN list_transform(v, x -> CAST(0 AS INT))
       |              ELSE list_transform(v, x -> CAST(greatest(-127, least(127, round(x / sc))) AS INT))
       |         END AS qvec
       |  FROM s),
       |out AS (
       |  SELECT vec_id, qvec, round(sc, 9) AS scale,
       |         round(CASE WHEN sc = 0 THEN 0.0
       |                    ELSE list_sum(list_transform(range(1, $dim + 1),
       |                           i -> abs(v[i] - CAST(qvec[i] AS DOUBLE) * sc))) /
       |                         CAST(len(v) AS DOUBLE) END, 9) AS mae
       |  FROM qq)
       |SELECT vec_id, CAST(i AS BIGINT) AS pos, CAST(qvec[i] AS BIGINT) AS qval,
       |       scale, mae
       |FROM out, (SELECT unnest(range(1, $dim + 1)) AS i)
       |ORDER BY vec_id, pos""".stripMargin

  /** Embedding NORM AUDIT — the serving-prerequisite sanity report:
    * per label, vector count, zero-vector count (cosine-undefined
    * rows every ANN stage must special-case), and exact micro-unit
    * min/max/mean of the squared L2 norm. Norm moments come from the
    * same quantized integer arithmetic as the drift monitor — ONE
    * conditional agg on the compact label key, engine-exact. */
  def normAudit(spark: SparkSession, dir: String): DataFrame = {
    val nq = aggregate(
      transform(vecAsDouble(col("embedding")), x => round(x * 10000d).cast("long")),
      lit(0L), (acc, x) => acc + x * x)
    Tables.embeddings(spark, dir)
      .select(col("label").cast("long").as("label"), nq.as("nq"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        count_if(col("nq") === 0L).as("n_zero"),
        round(min(col("nq")).cast("double") / 1e8, 6).as("min_sq_norm"),
        round(max(col("nq")).cast("double") / 1e8, 6).as("max_sq_norm"),
        round(sum(col("nq")).cast("double") / count(lit(1)) / 1e8, 6).as("mean_sq_norm"))
      .orderBy(col("label"))
  }

  val normAuditSql: String =
    """SELECT CAST(label AS BIGINT) AS label, count(*) AS n_vectors,
      |       CAST(count(*) FILTER (WHERE nq = 0) AS BIGINT) AS n_zero,
      |       round(CAST(min(nq) AS DOUBLE) / 1e8, 6) AS min_sq_norm,
      |       round(CAST(max(nq) AS DOUBLE) / 1e8, 6) AS max_sq_norm,
      |       round(CAST(sum(nq) AS DOUBLE) / count(*) / 1e8, 6) AS mean_sq_norm
      |FROM (
      |  SELECT label,
      |         list_sum(list_transform(CAST(embedding AS DOUBLE[]),
      |           x -> CAST(round(x * 10000) AS BIGINT) * CAST(round(x * 10000) AS BIGINT))) AS nq
      |  FROM embeddings)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** MaxSim (group-max) retrieval — the multi-vector scoring shape
    * (ColBERT/entity-level search): each LABEL is an entity whose
    * member vectors all represent it, and a query's score for the
    * entity is the MAX cosine over its members — one strong member
    * suffices. Plan: broadcast-Q × corpus scan (the exact-serving
    * shape [[mipsTopK]] uses), then a (query, label) max — the
    * compact-key aggregation absorbs the per-member fan-in BEFORE the
    * rank window, so the shuffle carries |Q|·|labels| rows, not
    * |Q|·N. Max over an identical double set is order-independent —
    * engine/oracle-exact without quantization. */
  def maxSimTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .withColumn("v", vecAsDouble(col("embedding")))
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), norm(col("v")).as("qn"))
    val cand = emb.select(col("vec_id"), col("label").cast("long").as("label"),
      col("v"), norm(col("v")).as("cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("maxcos").desc, col("label"))
    broadcast(q).join(cand, col("query_id") =!= col("vec_id"))
      .withColumn("cos_raw", dot(col("qv"), col("v")) / (col("qn") * col("cn")))
      .groupBy(col("query_id"), col("label"))
      .agg(max(col("cos_raw")).as("maxcos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("label"),
        round(col("maxcos"), 6).as("max_cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  val maxSimTopKSql: String =
    s"""SELECT query_id, rank, label, max_cosine
       |FROM (
       |  SELECT query_id, label, round(maxcos, 6) AS max_cosine,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY maxcos DESC, label) AS BIGINT) AS rank
       |  FROM (
       |    SELECT q.vec_id AS query_id, CAST(c.label AS BIGINT) AS label,
       |           max(${dotSql("q.v", "c.v")} / (${normSql("q.v")} * ${normSql("c.v")})) AS maxcos
       |    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |          FROM embeddings WHERE vec_id < $nQueries) q
       |    JOIN (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) c
       |      ON q.vec_id <> c.vec_id
       |    GROUP BY 1, 2))
       |WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin

  /** Retrieval-quality AUDIT (MRR / nDCG@k) — the ranking metrics a
    * serving stack is actually graded on, computed in-engine over the
    * exact top-k with label-match relevance (same-label = relevant,
    * the convention the kNN-classify probe uses). Determinism: the
    * 1/log2(rank+1) discount weights are INTEGER MICRO-UNIT LITERALS
    * generated once in Scala and inlined into BOTH the engine plan
    * and the oracle SQL — no libm call happens in either engine, so
    * DCG sums are exact integers and nDCG is one final division.
    * Per-query-bounded state: k weights, one row out per query. */
  private val dcgWeightMicro: IndexedSeq[Long] =
    (1 to topK).map(r => Math.round(1e6 * Math.log(2) / Math.log(r + 1.0)))

  def retrievalMetrics(spark: SparkSession, dir: String): DataFrame = {
    val labels = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val wcol = (2 to topK).foldLeft(
      when(col("rank") === 1, lit(dcgWeightMicro(0)))) { (acc, r) =>
      acc.when(col("rank") === r, lit(dcgWeightMicro(r - 1)))
    }
    val idcgCum = dcgWeightMicro.scanLeft(0L)(_ + _) // idcgCum(n) = Σ first n weights
    val idcgCol = (1 to topK).foldLeft(when(col("n_rel") === 0, lit(0L))) { (acc, n) =>
      acc.when(col("n_rel") === n, lit(idcgCum(n)))
    }
    bruteForceTopK(spark, dir)
      .join(broadcast(labels.select(col("vec_id").as("query_id"),
        col("label").as("qlab"))), "query_id")
      .join(broadcast(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("nlab"))), "neighbor_id")
      .withColumn("rel", (col("qlab") === col("nlab")).cast("long"))
      .withColumn("wq", wcol)
      .groupBy(col("query_id"))
      .agg(sum(col("rel")).as("n_rel"),
        min(when(col("rel") === 1, col("rank"))).as("first_rel"),
        sum(col("rel") * col("wq")).as("dcg_micro"))
      .withColumn("idcg_micro", idcgCol)
      .select(col("query_id"), col("n_rel"),
        coalesce(col("first_rel"), lit(0L)).as("first_rel_rank"),
        round(when(col("first_rel").isNull, lit(0.0d))
          .otherwise(lit(1.0d) / col("first_rel")), 6).as("mrr"),
        round(when(col("n_rel") === 0, lit(0.0d))
          .otherwise(col("dcg_micro").cast("double") / col("idcg_micro")), 6).as("ndcg"))
      .orderBy(col("query_id"))
  }

  val retrievalMetricsSql: String = {
    val wRows = (1 to topK).map(r => s"($r, ${dcgWeightMicro(r - 1)})").mkString(", ")
    val idcgCum = dcgWeightMicro.scanLeft(0L)(_ + _)
    val iRows = (0 to topK).map(n => s"($n, ${idcgCum(n)})").mkString(", ")
    s"""WITH tk AS ($bruteForceTopKSql),
       |wt(rank, wq) AS (VALUES $wRows),
       |idcg(n_rel, idcg_micro) AS (VALUES $iRows),
       |rel AS (
       |  SELECT t.query_id, t.rank, w.wq,
       |         CASE WHEN ql.label = nl.label THEN 1 ELSE 0 END AS rel
       |  FROM tk t
       |  JOIN wt w ON w.rank = t.rank
       |  JOIN embeddings ql ON ql.vec_id = t.query_id
       |  JOIN embeddings nl ON nl.vec_id = t.neighbor_id),
       |agg AS (
       |  SELECT query_id, CAST(sum(rel) AS BIGINT) AS n_rel,
       |         min(CASE WHEN rel = 1 THEN rank END) AS first_rel,
       |         CAST(coalesce(sum(rel * wq), 0) AS BIGINT) AS dcg_micro
       |  FROM rel GROUP BY 1)
       |SELECT a.query_id, a.n_rel,
       |       CAST(coalesce(a.first_rel, 0) AS BIGINT) AS first_rel_rank,
       |       round(CASE WHEN a.first_rel IS NULL THEN 0.0
       |                  ELSE 1.0 / a.first_rel END, 6) AS mrr,
       |       round(CASE WHEN a.n_rel = 0 THEN 0.0
       |                  ELSE CAST(a.dcg_micro AS DOUBLE) / i.idcg_micro END, 6) AS ndcg
       |FROM agg a JOIN idcg i ON i.n_rel = a.n_rel
       |ORDER BY a.query_id""".stripMargin
  }

  /** Johnson–Lindenstrauss RANDOM PROJECTION to [[rpK]] dims — the
    * cheap dimensionality cut that preserves pairwise distances in
    * expectation (the pre-pass before clustering / ANN when 64 dims
    * is already too many bytes at 100 TB). The projection matrix is a
    * ±1 sign matrix derived from md5(i:j) — a DETERMINISTIC model
    * artifact both engines can re-derive, inlined as a literal on the
    * engine side (512 longs) and rebuilt as a CTE by the oracle.
    * Arithmetic is exact integer micro-units end to end (quantized
    * input × ±1 signs summed as longs — order-independent), so the
    * map-only pass is bit-identical in both engines. Output follows
    * the long-form contract (vec_id, pos, yval). */
  private val rpK = 8

  private def rpSign(i: Int, j: Int): Long = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$i:$j".getBytes("UTF-8"))
    if (((h(0) >> 4) & 0xf) % 2 == 0) 1L else -1L
  }

  def randomProjection(spark: SparkSession, dir: String): DataFrame = {
    val q = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        transform(vecAsDouble(col("embedding")),
          x => round(x * 10000d).cast("long")).as("xq"))
    // y_j through the native dot expression (r16, guide §4.1 / codegen):
    // the unrolled 64-term × 8-projection sum was a 512-node expression
    // tree whose generated method exceeded Janino's limit — every run
    // fell back to INTERPRETED projection (42 codegen failures logged
    // per execution). dot(xq, sign_j) folds the same products in one
    // native call. Exact: xq entries are |·| ≤ 1e4 integers, so every
    // product and partial sum is an integer-valued double far below
    // 2^53 — bit-identical to the integer sum (oracle-checked).
    val xqd = transform(col("xq"), x => x.cast("double"))
    val ys = array((1 to rpK).map { j =>
      graft.api.Graft.dot(xqd,
        array((1 to dim).map(i => lit(rpSign(i, j).toDouble)): _*))
        .cast("long")
    }: _*)
    q.select(col("vec_id"), posexplode(ys).as(Seq("pos0", "y")))
      .select(col("vec_id"), (col("pos0") + 1).cast("long").as("pos"),
        round(col("y").cast("double") / 10000d, 4).as("yval"))
      .orderBy(col("vec_id"), col("pos"))
  }

  val randomProjectionSql: String =
    s"""WITH q AS (
       |  SELECT vec_id,
       |         list_transform(CAST(embedding AS DOUBLE[]),
       |           x -> CAST(round(x * 10000) AS BIGINT)) AS xq
       |  FROM embeddings),
       |ex AS (
       |  SELECT vec_id, unnest(xq) AS x, generate_subscripts(xq, 1) AS i FROM q),
       |sgn AS (
       |  SELECT i, j,
       |         CASE WHEN substr(md5(CAST(i AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 1)
       |                IN ('0','2','4','6','8','a','c','e')
       |              THEN 1 ELSE -1 END AS s
       |  FROM (SELECT unnest(range(1, $dim + 1)) AS i),
       |       (SELECT unnest(range(1, $rpK + 1)) AS j))
       |SELECT e.vec_id, CAST(g.j AS BIGINT) AS pos,
       |       round(CAST(sum(e.x * g.s) AS DOUBLE) / 10000, 4) AS yval
       |FROM ex e JOIN sgn g ON e.i = g.i
       |GROUP BY 1, 2 ORDER BY vec_id, pos""".stripMargin

  /** Leave-one-out kNN majority-vote classification over the
    * [[knnGraph]] edges — the standard embedding-quality probe (how
    * well do labels cluster in the space?). Inherits the graph's
    * IVF-cell-bounded candidate generation, so the voting stage adds
    * one broadcastable label join + one compact-key aggregation on top
    * — nothing pairwise beyond what the graph already bounded. */
  def knnClassify(spark: SparkSession, dir: String): DataFrame = {
    val labels = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val votes = knnGraph(spark, dir)
      .join(broadcast(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("nlabel"))), "neighbor_id")
      .groupBy(col("src"), col("nlabel"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("votes").desc, col("nlabel"))
    votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(labels.select(col("vec_id").as("src"), col("label")), "src")
      .select(col("src").as("vec_id"), col("label"),
        col("nlabel").as("predicted_label"), col("votes"),
        (col("nlabel") === col("label")).as("correct"))
      .orderBy(col("vec_id"))
  }

  val knnClassifySql: String =
    s"""WITH knn AS ($knnGraphSql),
       |labels AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
       |votes AS (
       |  SELECT k.src, l.label AS nlabel, CAST(count(*) AS BIGINT) AS votes
       |  FROM knn k JOIN labels l ON k.neighbor_id = l.vec_id
       |  GROUP BY 1, 2),
       |top AS (
       |  SELECT src, nlabel, votes FROM (
       |    SELECT src, nlabel, votes,
       |           row_number() OVER (PARTITION BY src ORDER BY votes DESC, nlabel) AS rn
       |    FROM votes) WHERE rn = 1)
       |SELECT t.src AS vec_id, l.label, t.nlabel AS predicted_label, t.votes,
       |       t.nlabel = l.label AS correct
       |FROM top t JOIN labels l ON t.src = l.vec_id
       |ORDER BY vec_id""".stripMargin

  /** ANN QUALITY AUDIT — recall@k of the IVF route against the exact
    * brute-force ground truth, per query. The number every ANN
    * deployment watches: probes/cells trade recall for scan cost, and
    * this op makes the trade measurable in-engine (same pattern as the
    * band-cap drop census: bounds are audited, never assumed). Ground
    * truth costs O(Q·N) with Q bounded — the audit runs on a query
    * SAMPLE at 100 TB, never the full corpus. */
  def recallAtK(spark: SparkSession, dir: String): DataFrame = {
    val truth = bruteForceTopK(spark, dir)
      .select(col("query_id"), col("neighbor_id"))
    val approx = ivfTopK(spark, dir)
      .select(col("query_id").as("aq"), col("neighbor_id").as("approx_id"))
    truth.join(approx,
      col("query_id") === col("aq") &&
        col("neighbor_id") === col("approx_id"), "left_outer")
      .groupBy(col("query_id"))
      .agg(count(col("approx_id")).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        round(col("n_hits").cast("double") / topK, 4).as("recall"))
      .orderBy(col("query_id"))
  }

  val recallAtKSql: String =
    s"""WITH truth AS ($bruteForceTopKSql),
       |approx AS ($ivfTopKSql)
       |SELECT t.query_id, count(a.neighbor_id) AS n_hits,
       |       round(CAST(count(a.neighbor_id) AS DOUBLE) / $topK, 4) AS recall
       |FROM truth t LEFT JOIN approx a
       |  ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
       |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin

  /** RANK-BIASED OVERLAP audit — the rank-AWARE sibling of
    * [[recallAtK]]: recall@k treats the top-k as a SET, so an ANN
    * route that returns the right five neighbors in scrambled order
    * scores perfectly; RBO (Webber et al.'s top-weighted list
    * overlap) scores prefix agreement at every depth, RBO =
    * (1−p)·Σ_d p^(d−1)·|A_d ∩ B_d|/d, so rank-1 disagreements are
    * penalized hardest — the metric a serving system watches when
    * the DOWNSTREAM consumer (rerankers, MMR) is prefix-sensitive.
    * Truncated at the served depth k=5 (stated; no extrapolation
    * term), p=0.9, the per-depth weights (1−p)p^(d−1)/d
    * micro-quantized ONCE in Scala and inlined as identical integer
    * literals in both engines — overlaps are integers, so rbo_micro
    * is an exact integer dot product; the normalized ppm divides by
    * the exact perfect score Σ w_d·d. Scale: both rankings are the
    * standing audit queries (Q bounded); the overlap fold is 5
    * intersects of ≤5-element arrays per query row. */
  private val rboP = 0.9
  private[graft] val rboW: IndexedSeq[Long] = (1 to topK)
    .map(d => math.round(1e6 * (1 - rboP) * math.pow(rboP, d - 1) / d))
  private[graft] val rboPerfect: Long = rboW.zipWithIndex.map { case (w, i) => w * (i + 1) }.sum

  def rboAudit(spark: SparkSession, dir: String): DataFrame = {
    def ranked(df: DataFrame, out: String): DataFrame = df
      .groupBy(col("query_id"))
      .agg(sort_array(collect_list(struct(col("rank"), col("neighbor_id")))).as("tl"))
      .select(col("query_id"),
        transform(col("tl"), s => s.getField("neighbor_id")).as(out))
    val t = ranked(bruteForceTopK(spark, dir), "ta")
    val a = ranked(ivfTopK(spark, dir), "aa").withColumnRenamed("query_id", "aq")
    val rbo = (1 to topK).map(d =>
      lit(rboW(d - 1)) *
        size(array_intersect(slice(col("ta"), 1, d), slice(col("aa"), 1, d)))).reduce(_ + _)
    t.join(a, col("query_id") === col("aq"))
      .select(col("query_id"), size(col("ta")).as("n_exact"),
        size(col("aa")).as("n_approx"), rbo.as("rbo_micro"),
        round(lit(1e6) * rbo.cast("double") / rboPerfect).cast("long").as("rbo_ppm"))
      .orderBy(col("query_id"))
  }

  val rboAuditSql: String = {
    val ov = (1 to topK).map(d =>
      s"(${rboW(d - 1)}) * len(list_intersect(ta[1:$d], aa[1:$d]))").mkString(" + ")
    s"""WITH truth AS ($bruteForceTopKSql),
       |approx AS ($ivfTopKSql),
       |tl AS (SELECT query_id, list(neighbor_id ORDER BY rank) AS ta
       |       FROM truth GROUP BY 1),
       |al AS (SELECT query_id, list(neighbor_id ORDER BY rank) AS aa
       |       FROM approx GROUP BY 1),
       |j AS (SELECT t.query_id, ta, aa FROM tl t JOIN al a ON t.query_id = a.query_id),
       |s AS (SELECT query_id, CAST(len(ta) AS INT) AS n_exact,
       |             CAST(len(aa) AS INT) AS n_approx,
       |             CAST($ov AS BIGINT) AS rbo_micro
       |      FROM j)
       |SELECT query_id, n_exact, n_approx, rbo_micro,
       |       CAST(round(1e6 * CAST(rbo_micro AS DOUBLE) / $rboPerfect) AS BIGINT) AS rbo_ppm
       |FROM s ORDER BY query_id""".stripMargin
  }

  /** Embedding DRIFT monitor — the production-ML check that a new
    * embedding batch still lives in the old batch's distribution:
    * per-dimension Welch z between two cohorts (even/odd vec_id
    * stands in for old/new batch), drifted = |z| > 3. ONE conditional
    * aggregation computes both cohorts' exact integer moment sums
    * (the DSIR one-pass pattern); output is dim-sized (64 rows) no
    * matter the corpus — at 100 TB this is a single partial+final
    * agg over the posexplode stream. */
  def driftMonitor(spark: SparkSession, dir: String): DataFrame = {
    val q = Tables.embeddings(spark, dir)
      .select((pmod(col("vec_id"), lit(2)) === 0).as("a"),
        posexplode(vecAsDouble(col("embedding"))).as(Seq("pos0", "x")))
      .select(col("a"), (col("pos0") + 1).cast("long").as("pos"),
        round(col("x") * 1000000d).cast("long").as("xq"))
    def s(cond: Column, e: Column) = sum(when(cond, e).otherwise(lit(0L)))
    val m = q.groupBy(col("pos")).agg(
      s(col("a"), col("xq")).as("sa"), s(col("a"), col("xq") * col("xq")).as("qa"),
      sum(col("a").cast("long")).as("na"),
      s(!col("a"), col("xq")).as("sb"), s(!col("a"), col("xq") * col("xq")).as("qb"),
      sum((!col("a")).cast("long")).as("nb"))
    def mean(sc: String, n: String) = col(sc).cast("double") / col(n)
    def va(qc: String, sc: String, n: String) =
      col(qc).cast("double") / col(n) - mean(sc, n) * mean(sc, n)
    val z = abs(mean("sa", "na") - mean("sb", "nb")) /
      sqrt(va("qa", "sa", "na") / col("na") + va("qb", "sb", "nb") / col("nb"))
    m.select(col("pos"),
      round(mean("sa", "na") / 1e6, 6).as("mean_a"),
      round(mean("sb", "nb") / 1e6, 6).as("mean_b"),
      round(z, 4).as("welch_z"),
      (z > 3d).as("drifted"))
      .orderBy(col("pos"))
  }

  val driftMonitorSql: String =
    """WITH q AS (
      |  SELECT vec_id % 2 = 0 AS a,
      |         CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
      |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS xq
      |  FROM embeddings),
      |m AS (
      |  SELECT pos,
      |         CAST(coalesce(sum(xq) FILTER (WHERE a), 0) AS BIGINT) AS sa,
      |         CAST(coalesce(sum(xq * xq) FILTER (WHERE a), 0) AS BIGINT) AS qa,
      |         CAST(count(*) FILTER (WHERE a) AS BIGINT) AS na,
      |         CAST(coalesce(sum(xq) FILTER (WHERE NOT a), 0) AS BIGINT) AS sb,
      |         CAST(coalesce(sum(xq * xq) FILTER (WHERE NOT a), 0) AS BIGINT) AS qb,
      |         CAST(count(*) FILTER (WHERE NOT a) AS BIGINT) AS nb
      |  FROM q GROUP BY 1)
      |SELECT pos,
      |       round(CAST(sa AS DOUBLE) / na / 1e6, 6) AS mean_a,
      |       round(CAST(sb AS DOUBLE) / nb / 1e6, 6) AS mean_b,
      |       round(abs(CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb) /
      |             sqrt((CAST(qa AS DOUBLE) / na - (CAST(sa AS DOUBLE) / na) * (CAST(sa AS DOUBLE) / na)) / na +
      |                  (CAST(qb AS DOUBLE) / nb - (CAST(sb AS DOUBLE) / nb) * (CAST(sb AS DOUBLE) / nb)) / nb), 4) AS welch_z,
      |       abs(CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb) /
      |       sqrt((CAST(qa AS DOUBLE) / na - (CAST(sa AS DOUBLE) / na) * (CAST(sa AS DOUBLE) / na)) / na +
      |            (CAST(qb AS DOUBLE) / nb - (CAST(sb AS DOUBLE) / nb) * (CAST(sb AS DOUBLE) / nb)) / nb) > 3
      |         AS drifted
      |FROM m ORDER BY pos""".stripMargin

  /** INCREMENTAL INDEX MAINTENANCE (r13 verdict #7) — the missing
    * half of the ANN serving lifecycle: at 100 TB an IVF index is
    * NEVER rebuilt from scratch; a new embedding batch is assigned to
    * the SAVED centroids (map-only argmax over the frozen literal —
    * no retrain, no shuffle), appended cell-partitioned, and the
    * census decides when a cell has outgrown its target and must
    * split. This query runs exactly that batch-append against the
    * production quantizer ([[ivfAssigned]]'s memoized centroids play
    * the saved artifact — [[graft.api.Graft.saveAnnIndex]] /
    * [[graft.api.Graft.loadAnnCentroids]] are the durable round-trip,
    * proven equivalent in the persistence spec): the "new batch" is a
    * deterministic drifted derivation of the corpus (ids offset,
    * every component +0.002 — the ScaleProbe replica recipe, so the
    * oracle can derive the identical batch), both slices are
    * assigned with the SAME frozen centroids, and the output is the
    * post-append per-cell census with the rebalance trigger
    * (n_total > 2× the 64-vector cell target).
    *
    * The equivalence claim "batch-assign ≡ full recompute on the
    * union" is what the DIFFERENTIAL CHECK proves: the engine
    * assigns the two slices separately and unions the censuses; the
    * oracle assigns the UNION in one pass — identical output because
    * assignment against frozen centroids is per-row. */
  def indexAppend(spark: SparkSession, dir: String): DataFrame = {
    val (k, _) = ivfParams(spark, dir)
    val cents = centroidLiteral(spark, dir, k)
    graft.functions.VectorFunctions.register(spark)
    val base = ivfAssigned(spark, dir)
      .select(col("cell"), lit(0L).as("is_new"))
    val fresh = Tables.embeddings(spark, dir)
      .select(transform(vecAsDouble(col("embedding")),
        x => x + lit(0.002d)).as("v"))
      .withColumn("vn", call_function("graft_l2norm", col("v")))
      .select(call_function("graft_argmax_cell", col("v"), col("vn"), cents)
        .as("cell"), lit(1L).as("is_new"))
    base.unionByName(fresh)
      .groupBy(col("cell"))
      .agg(sum(lit(1L) - col("is_new")).as("n_base"),
        sum(col("is_new")).as("n_new"),
        count(lit(1)).as("n_total"))
      .withColumn("new_share_ppm",
        round(lit(1e6) * col("n_new").cast("double") /
          col("n_total").cast("double")).cast("long"))
      .withColumn("needs_split", col("n_total") > lit(2L * ivfCellTarget))
      .orderBy(col("cell"))
  }

  val indexAppendSql: String =
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         ${normSql("CAST(embedding AS DOUBLE[])")} AS vn
       |  FROM embeddings),
       |$ivfCentroidsSqlCtes,
       |newv AS (
       |  SELECT vec_id, list_transform(v, x -> x + CAST(0.002 AS DOUBLE)) AS nv
       |  FROM emb),
       |allv AS (
       |  SELECT vec_id, v, vn, 0 AS is_new FROM emb
       |  UNION ALL
       |  SELECT vec_id, nv AS v, ${normSql("nv")} AS vn, 1 AS is_new FROM newv),
       |ranked AS (
       |  SELECT a.vec_id, a.is_new, c.cent_id AS cell,
       |         row_number() OVER (PARTITION BY a.vec_id, a.is_new
       |           ORDER BY ${dotSql("a.v", "c.cv")} / (a.vn * c.cn) DESC, c.cent_id) AS arn
       |  FROM allv a CROSS JOIN cents c),
       |asg AS (SELECT is_new, cell FROM ranked WHERE arn = 1)
       |SELECT CAST(cell AS BIGINT) AS cell,
       |       CAST(sum(1 - is_new) AS BIGINT) AS n_base,
       |       CAST(sum(is_new) AS BIGINT) AS n_new,
       |       count(*) AS n_total,
       |       CAST(round(1e6 * CAST(sum(is_new) AS DOUBLE) / count(*)) AS BIGINT)
       |         AS new_share_ppm,
       |       count(*) > ${2 * ivfCellTarget} AS needs_split
       |FROM asg GROUP BY 1 ORDER BY 1""".stripMargin

  /** CELL SPLIT — the operation [[indexAppend]]'s `needs_split`
    * trigger requests: when a cell outgrows its target the serving
    * layer splits IT ALONE (never retraining the global quantizer —
    * at 100 TB a global retrain invalidates every stored code, a
    * local split touches one cell's files). The 5 most-populated
    * cells (deterministic: count DESC, cell ASC) each get one
    * seeded 2-means round: seeds are the 2 members minimal in
    * md5(vec_id) order (the trainer's own seeding recipe), members
    * go to the nearer seed by cosine, and the output census prices
    * the split — sub-cell sizes, share, and cohesion (mean cosine to
    * the assigned seed, nano-quantized then exactly averaged).
    * Single-member cells degenerate to one sub-cell (seed 2 IS NULL
    * → side 0), same rule both engines.
    *
    * Scale shape: one cell census agg, a 5-row broadcast, seed
    * selection as a window over ONLY the 5 cells' members, one
    * map-side cosine pair per member — no pairwise stage at all. */
  def cellSplit(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val assigned = ivfAssigned(spark, dir)
    val top5 = assigned.groupBy(col("cell")).agg(count(lit(1)).as("nc"))
      .orderBy(col("nc").desc, col("cell")).limit(5)
    // materialize the 5 cells' members ONCE (a bounded slice — ~5×
    // cell-target rows): seeds, scoring, and the census each consume
    // this set, and without the checkpoint every consumer re-runs the
    // O(N·k) argmax assignment (measured 6.5× at 10× before; the two
    // remaining assignment passes — census + member filter — are the
    // floor, since `cell` only exists post-argmax)
    val members = assigned.join(broadcast(top5.select(col("cell"))), Seq("cell"))
      .localCheckpoint()
    val bySeedOrder = Window.partitionBy(col("cell"))
      .orderBy(md5(col("vec_id").cast("string").cast("binary")), col("vec_id"))
    val seeds = members
      .withColumn("srn", row_number().over(bySeedOrder))
      .filter(col("srn") <= 2)
      .groupBy(col("cell"))
      .agg(
        max(when(col("srn") === 1, struct(col("v"), col("vn")))).as("s1"),
        max(when(col("srn") === 2, struct(col("v"), col("vn")))).as("s2"))
    val scored = members.join(broadcast(seeds), Seq("cell"))
      .withColumn("cos1",
        call_function("graft_dot", col("v"), col("s1.v")) / (col("vn") * col("s1.vn")))
      .withColumn("cos2",
        when(col("s2").isNotNull,
          call_function("graft_dot", col("v"), col("s2.v")) / (col("vn") * col("s2.vn"))))
      .withColumn("sub",
        when(col("cos2").isNull || col("cos1") >= col("cos2"), 0L).otherwise(1L))
      .withColumn("own_nano",
        round(lit(1e9) * when(col("sub") === 0L, col("cos1")).otherwise(col("cos2")))
          .cast("long"))
    scored.groupBy(col("cell"), col("sub"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("own_nano").cast("decimal(38,0)")).as("s_nano"))
      .withColumn("cohesion_micro",
        round(col("s_nano").cast("double") / (col("n_vectors").cast("double") * 1e3))
          .cast("long"))
      .drop("s_nano")
      .orderBy(col("cell"), col("sub"))
  }

  val cellSplitSql: String =
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         ${normSql("CAST(embedding AS DOUBLE[])")} AS vn
       |  FROM embeddings),
       |$ivfCentroidsSqlCtes,
       |ranked AS (
       |  SELECT e.vec_id, e.v, e.vn, c.cent_id AS cell,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${dotSql("e.v", "c.cv")} / (e.vn * c.cn) DESC, c.cent_id) AS arn
       |  FROM emb e CROSS JOIN cents c),
       |asg AS (SELECT vec_id, v, vn, cell FROM ranked WHERE arn = 1),
       |top5 AS (
       |  SELECT cell FROM (SELECT cell, count(*) AS nc FROM asg GROUP BY 1)
       |  ORDER BY nc DESC, cell LIMIT 5),
       |mem AS (SELECT a.* FROM asg a JOIN top5 USING (cell)),
       |sr AS (
       |  SELECT *, row_number() OVER (PARTITION BY cell
       |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS srn
       |  FROM mem),
       |seeds AS (
       |  SELECT cell,
       |         max(CASE WHEN srn = 1 THEN v END) AS v1,
       |         max(CASE WHEN srn = 1 THEN vn END) AS n1,
       |         max(CASE WHEN srn = 2 THEN v END) AS v2,
       |         max(CASE WHEN srn = 2 THEN vn END) AS n2
       |  FROM sr WHERE srn <= 2 GROUP BY 1),
       |scored AS (
       |  SELECT m.cell,
       |         CASE WHEN s.v2 IS NULL
       |                OR ${dotSql("m.v", "s.v1")} / (m.vn * s.n1)
       |                   >= ${dotSql("m.v", "s.v2")} / (m.vn * s.n2)
       |           THEN 0 ELSE 1 END AS sub,
       |         CASE WHEN s.v2 IS NULL
       |                OR ${dotSql("m.v", "s.v1")} / (m.vn * s.n1)
       |                   >= ${dotSql("m.v", "s.v2")} / (m.vn * s.n2)
       |           THEN CAST(round(1e9 * (${dotSql("m.v", "s.v1")} / (m.vn * s.n1))) AS BIGINT)
       |           ELSE CAST(round(1e9 * (${dotSql("m.v", "s.v2")} / (m.vn * s.n2))) AS BIGINT)
       |           END AS own_nano
       |  FROM mem m JOIN seeds s USING (cell))
       |SELECT CAST(cell AS BIGINT) AS cell, CAST(sub AS BIGINT) AS sub,
       |       count(*) AS n_vectors,
       |       CAST(round(CAST(sum(own_nano) AS DOUBLE) / (count(*) * 1e3)) AS BIGINT)
       |         AS cohesion_micro
       |FROM scored GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Maximum-inner-product top-k (MIPS) — the recommender-serving
    * score (user·item, UNnormalized: popular items legitimately win
    * on magnitude, which cosine deliberately erases). Exact
    * broadcast-Q × scan via the native codegen dot product. The ANN
    * path at scale is the classic norm-augmentation reduction —
    * append √(M²−‖x‖²) to items and 0 to queries and MIPS becomes
    * cosine over d+1 dims, servable by this engine's IVF/PQ/IMI stack
    * unchanged — which is why MIPS earns no parallel index family of
    * its own. */
  def mipsTopK(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val emb = Tables.embeddings(spark, dir).withColumn("v", vecAsDouble(col("embedding")))
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot_raw").desc, col("vec_id"))
    broadcast(q).join(emb, col("query_id") =!= col("vec_id"))
      .withColumn("dot_raw", call_function("graft_dot", col("qv"), col("v")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("dot_raw"), 6).as("dot"))
      .orderBy(col("query_id"), col("rank"))
  }

  val mipsTopKSql: String =
    s"""SELECT query_id, rank, neighbor_id, dot
       |FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         round(${dotSql("q.v", "c.v")}, 6) AS dot,
       |         CAST(row_number() OVER (
       |           PARTITION BY q.vec_id
       |           ORDER BY ${dotSql("q.v", "c.v")} DESC, c.vec_id) AS BIGINT) AS rank
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < $nQueries) q
       |  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) c
       |    ON q.vec_id <> c.vec_id)
       |WHERE rank <= $topK
       |ORDER BY query_id, rank""".stripMargin

  /** PCA TOP COMPONENT via integer-exact power iteration — the
    * dimensionality diagnostic (how much variance one direction
    * carries, which dims load it) behind whitening/compression
    * decisions.
    *
    * The whole computation is arranged so NO floating-point SUM ever
    * happens — the classic reproducibility trap of distributed PCA:
    *  - moments: ONE pass over the corpus accumulates exact integer
    *    Σxᵢ and Σxᵢxⱼ (embeddings quantized to 1e4 units; the 64×64
    *    outer product is generated per-row by a HOF expression, so
    *    the d² accumulators get map-side combine — at 100 TB this is
    *    one scan, like every sufficient-statistic op here);
    *  - covariance numerator N = n·Σxxᵀ − (Σx)(Σx)ᵀ in exact BigInt
    *    (the 64×64 matrix is a bounded model artifact, collected like
    *    the k-means codebooks);
    *  - power iteration: w = N·v with v in integer micro-units —
    *    integer sums are ORDER-INDEPENDENT, so engine and oracle agree
    *    bit-for-bit; each step renormalizes by max|wᵢ| through one
    *    correctly-rounded double division and re-quantizes;
    *  - λ/trace(N) (explained-variance ratio) divides exact integers
    *    at the very end.
    * The oracle unrolls the same [[pcaIters]] matvecs over a
    * covariance CTE in HUGEINT — a differentially-verified PCA. */
  private val pcaIters = 10

  /** The trained PCA model — (per-pos loadings, explained-variance
    * ratio) — memoized per (dir, parquetSig) like the IVF/PQ
    * codebooks, so SERVING ([[pcaProject]]) never pays training
    * twice: projection is pure map-only on a cached bounded
    * artifact (dim+1 doubles). */
  private val pcaModelCache = new CorpusMemo[(Seq[(Long, Double)], Double)]

  private[graft] def pcaModel(spark: SparkSession,
                              dir: String): (Seq[(Long, Double)], Double) =
    pcaModelCache.get(dir, "pca", corpusSig(spark, dir)) {
      computePcaModel(spark, dir)
    }

  private def computePcaModel(spark: SparkSession,
                              dir: String): (Seq[(Long, Double)], Double) = {
    val q = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        transform(vecAsDouble(col("embedding")),
          x => round(x * 10000d).cast("long")).as("xq"))
    val n = q.count()
    val sums = q.select(posexplode(col("xq")).as(Seq("pos0", "x")))
      .groupBy(col("pos0")).agg(sum(col("x")).as("s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // UPPER-TRIANGLE moments only (the matrix is symmetric): per row a
    // flat array of the 2080 products xᵢxⱼ (j ≥ i) in a fixed offset
    // order the driver replays — plain longs, no structs, half the
    // exploded rows of the naive d² formulation
    val tri = flatten(transform(col("xq"), (xi, i) =>
      transform(slice(col("xq"), i + 1, lit(dim) - i), xj => xi * xj)))
    val flatSums = q.select(posexplode(tri).as(Seq("off", "p")))
      .groupBy(col("off")).agg(sum(col("p")).as("s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val pairSums = {
      val m = Array.ofDim[Long](dim, dim)
      var off = 0
      for (i <- 0 until dim; j <- i until dim) {
        m(i)(j) = flatSums(off); m(j)(i) = flatSums(off); off += 1
      }
      m
    }
    val nB = BigInt(n)
    val nMat = Array.tabulate(dim, dim)((i, j) =>
      nB * BigInt(pairSums(i)(j)) - BigInt(sums(i)) * BigInt(sums(j)))
    var v = Array.fill(dim)(BigInt(1000000L))
    var w = Array.fill(dim)(BigInt(0))
    for (_ <- 1 to pcaIters) {
      w = Array.tabulate(dim)(i =>
        (0 until dim).map(j => nMat(i)(j) * v(j)).sum)
      val m = w.map(_.abs).max
      // HALF_UP (away from zero) to match DuckDB round() — Math.round
      // is floor(x+0.5) (toward +inf), which diverges on a negative
      // value landing exactly on .5
      v = w.map(x => BigInt(BigDecimal(1e6 * (x.toDouble / m.toDouble))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong))
    }
    val num = (0 until dim).map(i => w(i) * v(i)).sum
    val den = (0 until dim).map(i => v(i) * v(i)).sum
    val trace = (0 until dim).map(i => nMat(i)(i)).sum
    val explained = BigDecimal(
      (num.toDouble / den.toDouble) / trace.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val loadings = (0 until dim).map(i => (i + 1).toLong ->
      BigDecimal(v(i).toDouble / 1e6).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    (loadings, explained)
  }

  def pcaTopComponent(spark: SparkSession, dir: String): DataFrame = {
    val (loadings, explained) = pcaModel(spark, dir)
    import spark.implicits._
    loadings.map { case (pos, l) => (pos, l, explained) }
      .toDF("pos", "loading", "explained_ratio")
      .orderBy(col("pos"))
  }

  val pcaTopComponentSql: String = {
    val iters = (1 to pcaIters).map { k =>
      s"""w$k AS MATERIALIZED (
         |  SELECT c.i AS pos, CAST(sum(c.c * v.val) AS HUGEINT) AS w
         |  FROM cov c JOIN v${k - 1} v ON c.j = v.pos GROUP BY 1),
         |m$k AS (SELECT max(abs(w)) AS m FROM w$k),
         |v$k AS MATERIALIZED (
         |  SELECT pos, CAST(round(1e6 * (CAST(w AS DOUBLE) / CAST(m AS DOUBLE))) AS HUGEINT) AS val
         |  FROM w$k, m$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS MATERIALIZED (
       |  SELECT vec_id,
       |         list_transform(CAST(embedding AS DOUBLE[]),
       |           x -> CAST(round(x * 10000) AS BIGINT)) AS xq
       |  FROM embeddings),
       |nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM q),
       |ex AS MATERIALIZED (SELECT vec_id, unnest(xq) AS x,
       |              generate_subscripts(xq, 1) AS pos FROM q),
       |s AS (SELECT pos, CAST(sum(x) AS HUGEINT) AS si FROM ex GROUP BY 1),
       |p AS (
       |  SELECT a.pos AS i, b.pos AS j, CAST(sum(a.x * b.x) AS HUGEINT) AS sij
       |  FROM ex a JOIN ex b USING (vec_id) GROUP BY 1, 2),
       |cov AS MATERIALIZED (
       |  SELECT p.i, p.j, nn.n * p.sij - s1.si * s2.si AS c
       |  FROM p JOIN s s1 ON p.i = s1.pos JOIN s s2 ON p.j = s2.pos CROSS JOIN nn),
       |v0 AS (SELECT unnest(range(1, $dim + 1)) AS pos, CAST(1000000 AS HUGEINT) AS val),
       |$iters,
       |fin AS (
       |  SELECT CAST(sum(w.w * v.val) AS HUGEINT) AS num,
       |         CAST(sum(v.val * v.val) AS HUGEINT) AS den
       |  FROM w$pcaIters w JOIN v$pcaIters v USING (pos)),
       |tr AS (SELECT CAST(sum(c) AS HUGEINT) AS trace FROM cov WHERE i = j)
       |SELECT CAST(v.pos AS BIGINT) AS pos,
       |       round(CAST(v.val AS DOUBLE) / 1e6, 4) AS loading,
       |       round((CAST(f.num AS DOUBLE) / CAST(f.den AS DOUBLE)) / CAST(t.trace AS DOUBLE), 6)
       |         AS explained_ratio
       |FROM v$pcaIters v CROSS JOIN fin f CROSS JOIN tr t
       |ORDER BY pos""".stripMargin
  }

  /** PC1 PROJECTION — the learned component applied back to the
    * corpus: each vector's score along the top principal axis (the
    * whitening/outlier-score primitive). The component is a bounded
    * model artifact served from the [[pcaModel]] memo (trained once
    * per corpus, like the IVF/PQ codebooks) and inlined as a literal;
    * the projection is one map-only pass of EXACT integer dot
    * products (quantized vector × quantized loadings), so engine and
    * oracle agree without any float-sum hazard. */
  def pcaProject(spark: SparkSession, dir: String): DataFrame = {
    val loadings = pcaModel(spark, dir)._1.sortBy(_._1)
    val lcol = array(loadings.map(t => lit(Math.round(t._2 * 10000))): _*)
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        transform(vecAsDouble(col("embedding")),
          x => round(x * 10000d).cast("long")).as("xq"))
      .select(col("vec_id"),
        round(aggregate(zip_with(col("xq"), lcol, (x, l) => x * l),
          lit(0L), (acc, e) => acc + e).cast("double") / 1e8, 4).as("pc1_score"))
      .orderBy(col("vec_id"))
  }

  val pcaProjectSql: String =
    s"""WITH pc AS MATERIALIZED ($pcaTopComponentSql),
       |pcl AS (SELECT pos, CAST(round(loading * 10000) AS BIGINT) AS lq FROM pc),
       |exq AS (
       |  SELECT vec_id, unnest(xq) AS x, generate_subscripts(xq, 1) AS pos
       |  FROM (SELECT vec_id,
       |               list_transform(CAST(embedding AS DOUBLE[]),
       |                 x -> CAST(round(x * 10000) AS BIGINT)) AS xq
       |        FROM embeddings))
       |SELECT e.vec_id,
       |       round(CAST(sum(e.x * l.lq) AS DOUBLE) / 1e8, 4) AS pc1_score
       |FROM exq e JOIN pcl l ON e.pos = l.pos
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** MMR (Maximal Marginal Relevance) diversity re-rank — the
    * standard fix for a retrieval page of near-duplicates: greedily
    * pick k=3 results maximizing λ·relevance − (1−λ)·max-similarity-
    * to-already-picked (λ=0.7). The greedy loop is inherently
    * sequential, but over the BOUNDED candidate set (top-10 from the
    * exact serving path), so each of the 3 steps is one per-query
    * argmax window — per-query cost O(k·c²) independent of corpus
    * size, and the c² pairwise-similarity table is |Q|·c² rows, not
    * |Q|·N. Parity by integers: relevance and pair similarities
    * quantize to micro-units ONCE, then every MMR score is the exact
    * BIGINT 7·rel − 3·maxsim (λ in tenths — no float in the argmax
    * key), tie-broken by candidate id. Step 1 is pure relevance
    * (empty picked-set ⇒ similarity term 0), so its score is 7·rel. */
  private val mmrCandidates = 10

  def mmrRerank(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).withColumn("v", vecAsDouble(col("embedding")))
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), norm(col("v")).as("qn"))
    val c = emb.select(col("vec_id").as("cand_id"), col("v").as("cv"), norm(col("v")).as("cn"))
    val byRel = Window.partitionBy(col("query_id"))
      .orderBy(col("rel_micro").desc, col("cand_id"))
    val cand = broadcast(q).join(c, col("query_id") =!= col("cand_id"))
      .withColumn("rel_micro",
        round(lit(1e6) * dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).cast("long"))
      .withColumn("rn", row_number().over(byRel))
      .filter(col("rn") <= mmrCandidates)
      .select(col("query_id"), col("cand_id"), col("rel_micro"), col("cv"), col("cn"))
      .localCheckpoint() // reused 4× below; candidates are |Q|·c rows
    val sims = cand.select(col("query_id"), col("cand_id").as("a_id"),
        col("cv").as("av"), col("cn").as("an"))
      .join(cand.select(col("query_id"), col("cand_id").as("b_id"),
        col("cv").as("bv"), col("cn").as("bn")), Seq("query_id"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("query_id"), col("a_id"), col("b_id"),
        round(lit(1e6) * dot(col("av"), col("bv")) / (col("an") * col("bn")))
          .cast("long").as("sim_micro"))
    val slim = cand.select(col("query_id"), col("cand_id"), col("rel_micro"))
    def argmax(scored: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("cand_id"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("query_id"), col("cand_id"), col("score"))
    }
    val p1 = argmax(slim.select(col("query_id"), col("cand_id"),
      (col("rel_micro") * 7).as("score")))
    val s2cand = slim.join(p1.select(col("query_id"), col("cand_id").as("s1")), "query_id")
      .filter(col("cand_id") =!= col("s1"))
      .join(sims.select(col("query_id"), col("a_id").as("cand_id"),
        col("b_id").as("s1"), col("sim_micro").as("sim1")), Seq("query_id", "cand_id", "s1"))
      .select(col("query_id"), col("cand_id"), col("s1"),
        (col("rel_micro") * 7 - col("sim1") * 3).as("score"))
    val p2 = argmax(s2cand)
    val s3cand = slim
      .join(p1.select(col("query_id"), col("cand_id").as("s1")), "query_id")
      .join(p2.select(col("query_id"), col("cand_id").as("s2")), "query_id")
      .filter(col("cand_id") =!= col("s1") && col("cand_id") =!= col("s2"))
      .join(sims.select(col("query_id"), col("a_id").as("cand_id"),
        col("b_id").as("s1"), col("sim_micro").as("sim1")), Seq("query_id", "cand_id", "s1"))
      .join(sims.select(col("query_id"), col("a_id").as("cand_id"),
        col("b_id").as("s2"), col("sim_micro").as("sim2")), Seq("query_id", "cand_id", "s2"))
      .select(col("query_id"), col("cand_id"),
        (col("rel_micro") * 7 - greatest(col("sim1"), col("sim2")) * 3).as("score"))
    val p3 = argmax(s3cand)
    p1.withColumn("position", lit(1L))
      .union(p2.withColumn("position", lit(2L)))
      .union(p3.withColumn("position", lit(3L)))
      .select(col("query_id"), col("position"), col("cand_id").as("vec_id"),
        col("score").as("mmr_score"))
      .orderBy(col("query_id"), col("position"))
  }

  val mmrRerankSql: String =
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cand AS (
       |  SELECT * FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |           CAST(round(1e6 * ${dotSql("q.v", "c.v")} /
       |                      (${normSql("q.v")} * ${normSql("c.v")})) AS BIGINT) AS rel_micro,
       |           row_number() OVER (
       |             PARTITION BY q.vec_id
       |             ORDER BY CAST(round(1e6 * ${dotSql("q.v", "c.v")} /
       |                           (${normSql("q.v")} * ${normSql("c.v")})) AS BIGINT) DESC,
       |                      c.vec_id) AS rn
       |    FROM (SELECT * FROM emb WHERE vec_id < $nQueries) q
       |    JOIN emb c ON q.vec_id <> c.vec_id)
       |  WHERE rn <= $mmrCandidates),
       |sims AS (
       |  SELECT a.query_id, a.cand_id AS a_id, b.cand_id AS b_id,
       |         CAST(round(1e6 * ${dotSql("va.v", "vb.v")} /
       |                    (${normSql("va.v")} * ${normSql("vb.v")})) AS BIGINT) AS sim_micro
       |  FROM cand a JOIN cand b ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
       |  JOIN emb va ON va.vec_id = a.cand_id
       |  JOIN emb vb ON vb.vec_id = b.cand_id),
       |p1 AS (
       |  SELECT query_id, cand_id, score FROM (
       |    SELECT query_id, cand_id, rel_micro * 7 AS score,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY rel_micro * 7 DESC, cand_id) AS rn
       |    FROM cand) WHERE rn = 1),
       |p2 AS (
       |  SELECT query_id, cand_id, score FROM (
       |    SELECT c.query_id, c.cand_id,
       |           c.rel_micro * 7 - s.sim_micro * 3 AS score,
       |           row_number() OVER (PARTITION BY c.query_id
       |                              ORDER BY c.rel_micro * 7 - s.sim_micro * 3 DESC,
       |                                       c.cand_id) AS rn
       |    FROM cand c
       |    JOIN p1 ON p1.query_id = c.query_id AND c.cand_id <> p1.cand_id
       |    JOIN sims s ON s.query_id = c.query_id AND s.a_id = c.cand_id
       |               AND s.b_id = p1.cand_id) WHERE rn = 1),
       |p3 AS (
       |  SELECT query_id, cand_id, score FROM (
       |    SELECT c.query_id, c.cand_id,
       |           c.rel_micro * 7 - greatest(s1.sim_micro, s2.sim_micro) * 3 AS score,
       |           row_number() OVER (PARTITION BY c.query_id
       |                              ORDER BY c.rel_micro * 7
       |                                       - greatest(s1.sim_micro, s2.sim_micro) * 3 DESC,
       |                                       c.cand_id) AS rn
       |    FROM cand c
       |    JOIN p1 ON p1.query_id = c.query_id AND c.cand_id <> p1.cand_id
       |    JOIN p2 ON p2.query_id = c.query_id AND c.cand_id <> p2.cand_id
       |    JOIN sims s1 ON s1.query_id = c.query_id AND s1.a_id = c.cand_id
       |                AND s1.b_id = p1.cand_id
       |    JOIN sims s2 ON s2.query_id = c.query_id AND s2.a_id = c.cand_id
       |                AND s2.b_id = p2.cand_id) WHERE rn = 1)
       |SELECT query_id, CAST(1 AS BIGINT) AS position, cand_id AS vec_id, score AS mmr_score FROM p1
       |UNION ALL
       |SELECT query_id, CAST(2 AS BIGINT), cand_id, score FROM p2
       |UNION ALL
       |SELECT query_id, CAST(3 AS BIGINT), cand_id, score FROM p3
       |ORDER BY query_id, position""".stripMargin

  /** BINARY-SKETCH Hamming search — the sign-bit compression serving
    * path (SimHash-for-embeddings / ITQ-zero): each 64-dim float
    * vector packs to its SIGN BITS, two 32-bit halves in two longs
    * (avoiding the 2⁶³ sign-bit hazard of one 64-bit pack), and
    * distance is popcount(xor) — 16 bytes and a handful of ALU ops
    * per comparison vs 256 bytes and 64 FMAs for the float scan. At
    * 100 TB this is THE first-stage filter: the sketch table fits in
    * memory where floats cannot (16×  compression), the scan is
    * codegen integer ops, and survivors re-rank exact (the
    * [[ivfTopK]] re-rank contract). Exactness: packing, xor, and
    * popcount are all integer — engine-identical, no quantization
    * step needed anywhere. Tie-break (hamming, vec_id) makes top-k
    * deterministic. */
  def hammingTopK(spark: SparkSession, dir: String): DataFrame = {
    val v = vecAsDouble(col("embedding"))
    def packHalf(lo: Int): org.apache.spark.sql.Column =
      (0 until 32).map(i =>
        when(element_at(v, lo + i + 1) > 0d, lit(1L << i)).otherwise(lit(0L)))
        .reduce(_ + _)
    val sk = Tables.embeddings(spark, dir)
      .select(col("vec_id"), packHalf(0).as("lo"), packHalf(32).as("hi"))
    val q = sk.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("lo").as("qlo"), col("hi").as("qhi"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("vec_id"))
    broadcast(q).join(sk, col("query_id") =!= col("vec_id"))
      .withColumn("hamming",
        bit_count(col("qlo").bitwiseXOR(col("lo"))).cast("long") +
          bit_count(col("qhi").bitwiseXOR(col("hi"))).cast("long"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("hamming"))
      .orderBy(col("query_id"), col("rank"))
  }

  val hammingTopKSql: String = {
    def packHalf(lo: Int) = (0 until 32)
      .map(i => s"CASE WHEN v[${lo + i + 1}] > 0 THEN ${1L << i} ELSE 0 END")
      .mkString(" + ")
    s"""WITH sk AS (
       |  SELECT vec_id,
       |         CAST(${packHalf(0)} AS BIGINT) AS lo,
       |         CAST(${packHalf(32)} AS BIGINT) AS hi
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings))
       |SELECT query_id, rank, neighbor_id, hamming FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         CAST(bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi)) AS BIGINT)
       |           AS hamming,
       |         CAST(row_number() OVER (
       |           PARTITION BY q.vec_id
       |           ORDER BY bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi)),
       |                    c.vec_id) AS BIGINT) AS rank
       |  FROM (SELECT * FROM sk WHERE vec_id < $nQueries) q
       |  JOIN sk c ON q.vec_id <> c.vec_id)
       |WHERE rank <= $topK
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Similarity THRESHOLD SWEEP — the τ-tuning table for semantic
    * dedup: how many in-cell pairs clear each candidate threshold.
    * Operators pick τ by looking at exactly this curve (too low ⇒
    * dedup collapses distinct content, too high ⇒ misses paraphrases)
    * — shipping the sweep makes the [[semanticDedup]] τ choice an
    * audited decision instead of a magic constant. ONE pass over the
    * SAME cell-bounded pair stage production runs (no per-τ rescan:
    * five conditional counts in a single agg, then stack to rows).
    * The quantizer bounds candidate mass exactly as in
    * [[semanticCells]]; the oracle replays the inlined-centroid
    * assignment and the same conditional counts. */
  private val sweepTaus = Seq(50, 60, 70, 80, 90)

  def thresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val assigned = ivfAssigned(spark, dir)
    val a = assigned.select(col("vec_id").as("vec_a"), col("v").as("va"),
      col("vn").as("na"), col("cell"))
    val b = assigned.select(col("vec_id").as("vec_b"), col("v").as("vb"),
      col("vn").as("nb"), col("cell").as("cb"))
    val pairs = a.join(b, col("cell") === col("cb") && col("vec_a") < col("vec_b"))
      .withColumn("cos_raw",
        call_function("graft_dot", col("va"), col("vb")) / (col("na") * col("nb")))
    val aggCols = count(lit(1)).as("n_candidates") +:
      sweepTaus.map(t => count_if(col("cos_raw") >= t / 100.0).as(s"n_$t"))
    val counts = pairs.agg(aggCols.head, aggCols.tail: _*)
    counts.select(expr(
      "stack(" + sweepTaus.size + ", " +
        sweepTaus.map(t => s"${t}L, n_$t").mkString(", ") +
        ") AS (tau_pct, n_pairs)"), col("n_candidates"))
      .select(col("tau_pct"), col("n_pairs"), col("n_candidates"),
        round(lit(1e6) * col("n_pairs") / col("n_candidates")).cast("long")
          .as("pass_ppm"))
      .orderBy(col("tau_pct"))
  }

  val thresholdSweepSql: String = {
    val conds = sweepTaus
      .map(t => s"count(*) FILTER (WHERE cos >= ${t / 100.0}) AS n_$t")
      .mkString(",\n       ")
    val rows = sweepTaus.map(t =>
      s"SELECT CAST($t AS BIGINT) AS tau_pct, n_$t AS n_pairs, n_candidates FROM counts")
      .mkString("\n  UNION ALL ")
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         ${normSql("CAST(embedding AS DOUBLE[])")} AS vn
       |  FROM embeddings),
       |$ivfCentroidsSqlCtes,
       |ranked AS (
       |  SELECT e.vec_id, e.v, e.vn, c.cent_id AS cell,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${dotSql("e.v", "c.cv")} / (e.vn * c.cn) DESC, c.cent_id) AS arn
       |  FROM emb e CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id, v, vn, cell FROM ranked WHERE arn = 1),
       |cand AS (
       |  SELECT ${dotSql("a.v", "b.v")} / (a.vn * b.vn) AS cos
       |  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id),
       |counts AS (
       |  SELECT count(*) AS n_candidates,
       |       $conds
       |  FROM cand)
       |SELECT tau_pct, CAST(n_pairs AS BIGINT) AS n_pairs,
       |       CAST(n_candidates AS BIGINT) AS n_candidates,
       |       CAST(round(1e6 * n_pairs / n_candidates) AS BIGINT) AS pass_ppm
       |FROM ($rows)
       |ORDER BY tau_pct""".stripMargin
  }

  /** Quantizer CELL QUALITY census — per-cell cohesion (mean and
    * worst member-to-own-centroid cosine): the report that says
    * whether the IVF/semantic-dedup cells are TIGHT (members genuinely
    * similar — in-cell pair comparisons meaningful) or a forced
    * partition of uniform data. Complements [[semanticCells]]'s
    * population balance with geometric quality — the two numbers an
    * operator reads before trusting cell-bounded dedup. Per-member
    * cosine quantizes to micro-units, then mean = round(Σ/n) of exact
    * integers (order-immune); the member→centroid lookup is an
    * element_at into the same bounded centroid literal the assignment
    * broadcast — no join. */
  def cellQuality(spark: SparkSession, dir: String): DataFrame = {
    val k = ivfParams(spark, dir)._1
    val cents = centroidLiteral(spark, dir, k)
    val own = element_at(cents, (col("cell") + 1).cast("int"))
    ivfAssigned(spark, dir)
      .withColumn("cos_micro",
        round(lit(1e6) * call_function("graft_dot", col("v"), own.getField("cv")) /
          (col("vn") * own.getField("cn"))).cast("long"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vectors"),
        round(sum(col("cos_micro")).cast("double") / count(lit(1))).cast("long")
          .as("mean_cohesion_micro"),
        min(col("cos_micro")).as("min_cohesion_micro"))
      .orderBy(col("cell"))
  }

  val cellQualitySql: String =
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         ${normSql("CAST(embedding AS DOUBLE[])")} AS vn
       |  FROM embeddings),
       |$ivfCentroidsSqlCtes,
       |ranked AS (
       |  SELECT e.vec_id, e.v, e.vn, c.cent_id AS cell,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${dotSql("e.v", "c.cv")} / (e.vn * c.cn) DESC, c.cent_id) AS arn
       |  FROM emb e CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id, v, vn, cell FROM ranked WHERE arn = 1),
       |scored AS (
       |  SELECT a.cell,
       |         CAST(round(1e6 * ${dotSql("a.v", "c.cv")} / (a.vn * c.cn)) AS BIGINT)
       |           AS cos_micro
       |  FROM assigned a JOIN cents c ON c.cent_id = a.cell)
       |SELECT cell, count(*) AS n_vectors,
       |       CAST(round(CAST(sum(cos_micro) AS DOUBLE) / count(*)) AS BIGINT)
       |         AS mean_cohesion_micro,
       |       CAST(min(cos_micro) AS BIGINT) AS min_cohesion_micro
       |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin

  /** MATRYOSHKA (MRL) truncation recall — the modern serving trade
    * where embeddings are trained so PREFIXES of the vector are
    * usable representations: search with only the first 16 of 64
    * dims (4× less memory/compute per comparison) and measure
    * recall@k against the full-dimension exact truth. The same
    * audit-the-approximation contract as [[recallAtK]] and
    * `dedup_band_recall` — an approximation ships WITH its measured
    * recall, never on faith. Both rankings use the established
    * fold-order cosine contract; ranks tie-break on vec_id; recall
    * is an exact integer intersection over the two top-k sets (a
    * self-join on (query, neighbor) — k² per query, constant).
    * These synthetic embeddings are NOT MRL-trained, so measured
    * recall is the honest baseline a raw model gives (the spec pins
    * the mechanics, not a quality number). */
  private val mrlDims = 16

  def mrlRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).withColumn("v", vecAsDouble(col("embedding")))
      .withColumn("t", slice(col("v"), 1, mrlDims))
    val qFull = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), norm(col("v")).as("qn"))
    val cFull = emb.select(col("vec_id"), col("v").as("cv"), norm(col("v")).as("cn"))
    val wFull = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val truth = broadcast(qFull).join(cFull, col("query_id") =!= col("vec_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(wFull))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("vec_id").as("hit"))
    val qT = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("t").as("qv"), norm(col("t")).as("qn"))
    val cT = emb.select(col("vec_id"), col("t").as("cv"), norm(col("t")).as("cn"))
    val approx = broadcast(qT).join(cT, col("query_id") =!= col("vec_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(wFull))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("vec_id").as("ahit"))
    truth.join(approx,
        truth("query_id") === approx("query_id") && col("hit") === col("ahit"), "left")
      .groupBy(truth("query_id").as("query_id"))
      .agg(count(col("ahit")).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        round(lit(1e6) * col("n_hits") / topK).cast("long").as("recall_ppm"))
      .orderBy(col("query_id"))
  }

  val mrlRecallSql: String = {
    def dotT(a: String, b: String) =
      s"list_sum(list_transform(range($mrlDims), i -> $a[i+1] * $b[i+1]))"
    def normT(a: String) =
      s"sqrt(list_sum(list_transform($a[1:$mrlDims], x -> x * x)))"
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |truth AS (
       |  SELECT query_id, vec_id AS hit FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY ${dotSql("q.v", "c.v")} / (${normSql("q.v")} * ${normSql("c.v")}) DESC,
       |                      c.vec_id) AS rank
       |    FROM (SELECT * FROM emb WHERE vec_id < $nQueries) q
       |    JOIN emb c ON q.vec_id <> c.vec_id)
       |  WHERE rank <= $topK),
       |approx AS (
       |  SELECT query_id, vec_id AS ahit FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY ${dotT("q.v", "c.v")} / (${normT("q.v")} * ${normT("c.v")}) DESC,
       |                      c.vec_id) AS rank
       |    FROM (SELECT * FROM emb WHERE vec_id < $nQueries) q
       |    JOIN emb c ON q.vec_id <> c.vec_id)
       |  WHERE rank <= $topK)
       |SELECT t.query_id, count(a.ahit) AS n_hits,
       |       CAST(round(1e6 * count(a.ahit) / $topK) AS BIGINT) AS recall_ppm
       |FROM truth t LEFT JOIN approx a
       |  ON a.query_id = t.query_id AND a.ahit = t.hit
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** COSINE RADIUS SEARCH (range query) — the threshold sibling of
    * the top-k family: every corpus vector with cos ≥ 0.3 of each
    * query, censused per query. Top-k answers "the best k whatever
    * their quality"; range search answers "everything above the
    * quality bar" — the semantics dedup-by-similarity and
    * retrieval-with-floor actually want (0.3 sits at ~p99 of this
    * corpus's pair-cosine distribution — a selective floor). Exact
    * broadcast-Q × corpus
    * map-only scan (the documented baseline the IVF/LSH ops
    * accelerate); the threshold compares on ppm-QUANTIZED cosine so
    * the boundary is an integer decision on both engines, never a
    * last-ulp float flip. */
  def radiusSearch(spark: SparkSession, dir: String): DataFrame = {
    val nQ = 5
    val thrPpm = 300000L
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecAsDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val q = emb.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    broadcast(q).join(emb, col("qid") =!= col("vec_id"))
      .withColumn("cos_ppm",
        round(lit(1e6) * dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
          .cast("long"))
      .filter(col("cos_ppm") >= thrPpm)
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_matches"),
        max(col("cos_ppm")).as("best_ppm"),
        min(col("cos_ppm")).as("worst_ppm"))
      .select(col("qid").as("query_id"), col("n_matches"),
        col("best_ppm"), col("worst_ppm"))
      .orderBy(col("query_id"))
  }

  val radiusSearchSql: String =
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         ${normSql("CAST(embedding AS DOUBLE[])")} AS nrm
       |  FROM embeddings),
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM emb WHERE vec_id < 5),
       |hits AS (
       |  SELECT q.qid,
       |         CAST(round(1e6 * ${dotSql("q.qv", "e.v")} / (q.qn * e.nrm)) AS BIGINT)
       |           AS cos_ppm
       |  FROM q JOIN emb e ON q.qid <> e.vec_id)
       |SELECT qid AS query_id, count(*) AS n_matches,
       |       CAST(max(cos_ppm) AS BIGINT) AS best_ppm,
       |       CAST(min(cos_ppm) AS BIGINT) AS worst_ppm
       |FROM hits WHERE cos_ppm >= 300000
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** GREEDY GRAPH-ROUTED ANN (beam search over the kNN graph) — the
    * HNSW-layer-0 family member beside the quantization routes
    * (IVF/PQ/IMI bound the CANDIDATE SET; graph routing bounds the
    * PATH): the coarse quantizer assigns each query to its cell
    * exactly as [[ivfTopK]] does, then instead of scanning the cell
    * exhaustively, a width-8 beam walks the in-cell serving graph
    * (per-node top-[[beamEdgeK]]=8 cosine edges — denser than the
    * analytics [[knnGraph]], edge degree >= beam width so the beam
    * can expand) from the cell's MEDOID for 3 steps — per step, candidates
    * = beam ∪ beam's graph neighbors, scored by query cosine, top-8
    * kept. r15 (verdict #1) production-serving surface:
    *  - the entry is the cell's medoid (max cosine to the cell's OWN
    *    centroid, ties → min vec_id) — an index-time per-cell
    *    artifact like HNSW's entry point, not the arbitrary
    *    min(vec_id); the runner-up is kept so a query that IS the
    *    medoid routes from second-best;
    *  - serves top-`topK` (k=5, same k as [[ivfTopK]] so recall
    *    numbers are directly comparable), not top-1;
    *  - emits `candidates_touched` — the count of DISTINCT vectors
    *    whose query distance was computed across all steps — making
    *    beam cost auditable exactly like IVF's nprobe×cell budget
    *    (head-to-head at equal budget: docs/TUNING.md).
    * Output per query: routed top-1 + top-5 overlap against the
    * in-cell EXACT top-5 (the routing stage's own recall denominator
    * — cell selection is [[recallAtK]]'s job).
    *
    * Exactness: scoring recomputes the left-to-right dot fold fresh
    * each step in both engines (the beam carries only (query, node)
    * ids); ties break (cos DESC, node). Scale: the per-query beam is
    * ≤8 rows — every step is a BROADCAST join against the
    * checkpointed edge list (never a shuffle of the graph; the edges
    * are scanned, not moved), and steps are a constant, not a
    * fixpoint. At 100 TB the edge list + per-cell medoid are the
    * stored index; routing cost is steps × beam × k lookups per
    * query — independent of cell size, which is the point of graph
    * ANN (at THIS corpus's 64-vector cells the exhaustive cell scan
    * is already cheap — the measured budget/recall trade vs IVF is
    * published in docs/TUNING.md). */
  /** The walk itself, factored so [[beamSearch]] (in-cell-truth audit)
    * and [[annServingHeadToHead]] (global-truth budget comparison)
    * share one definition: returns (assigned, q, routed top-k,
    * touched census). */
  /** Serving-graph degree: denser than the analytics [[knnGraph]]
    * (k=3) — edgeK >= beam width so the beam can actually expand;
    * measured in the head-to-head (edgeK=3 stagnates at in-cell
    * recall 0.36, edgeK=8 reaches 0.86 at sub-cell budget). */
  private[graft] val beamEdgeK = 8

  private[graft] def beamWalk(spark: SparkSession, dir: String,
                              edgeK: Int = beamEdgeK,
                              kCells: Option[Int] = None)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val beamW = 8
    val serveK = topK
    // checkpointed once: consumed by edges, queries, entries, every
    // step's scoring join, and the truth scan
    val assigned = ivfAssigned(spark, dir, kCells).localCheckpoint()
    val edges = {
      val a = assigned.select(col("vec_id").as("src"), col("v").as("va"),
        col("vn").as("na"), col("cell"))
      val b = assigned.select(col("vec_id").as("dst"), col("v").as("vb"),
        col("vn").as("nb"), col("cell").as("cb"))
      val w = Window.partitionBy(col("src"))
        .orderBy(col("cos_raw").desc, col("dst"))
      a.join(b, col("cell") === col("cb") && col("src") =!= col("dst"))
        // NARROW before the rank window: the exchange otherwise ships
        // both sides' embedding arrays per candidate pair (~10× the
        // bytes) just to sort by a double
        .select(col("src"), col("dst"),
          (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos_raw"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= edgeK)
        .select(col("src"), col("dst"))
        .localCheckpoint()
    }
    val q = assigned.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("vn").as("qn"), col("cell").as("qcell"))
    // per-cell medoid: max cosine to the cell's OWN centroid (map-side
    // literal lookup — no join), rn ≤ 2 kept as the entry + runner-up
    val cents = centroidLiteral(spark, dir,
      kCells.getOrElse(ivfParams(spark, dir)._1))
    val ownCent = element_at(
      filter(cents, c => c.getField("cent_id") === col("cell")), 1)
    val wMed = Window.partitionBy(col("cell"))
      .orderBy(col("cos_cent").desc, col("vec_id"))
    val medoid = assigned
      // narrow projection before the per-cell window (vectors dropped)
      .select(col("cell"), col("vec_id"), cosTo(ownCent).as("cos_cent"))
      .withColumn("mrn", row_number().over(wMed))
      .filter(col("mrn") <= 2)
      .select(col("cell"), col("vec_id"), col("mrn"))
    val wEntry = Window.partitionBy(col("query_id")).orderBy(col("mrn"))
    val entry = q.select(col("query_id"), col("qcell"))
      .join(medoid, col("cell") === col("qcell") && col("vec_id") =!= col("query_id"))
      .withColumn("ern", row_number().over(wEntry))
      .filter(col("ern") === 1)
      .select(col("query_id"), col("vec_id").as("node"))
    // one beam step: candidates = beam ∪ neighbors, rescored fresh
    def ranked(beam: DataFrame, edges: DataFrame, assigned: DataFrame,
               q: DataFrame): DataFrame = {
      val nbr = beam.join(edges, col("node") === col("src"))
        .select(col("query_id"), col("dst").as("node"))
      val cand = beam.select(col("query_id"), col("node"))
        .unionByName(nbr).distinct()
        // the walk can route back to the query itself (cos = 1);
        // exclude it like the truth scan does
        .filter(col("node") =!= col("query_id"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_raw").desc, col("node"))
      broadcast(cand)
        .join(assigned.select(col("vec_id").as("node"), col("v"), col("vn")),
          Seq("node"))
        .join(broadcast(q.select(col("query_id"), col("qv"), col("qn"))),
          Seq("query_id"))
        .withColumn("cos_raw", dot(col("qv"), col("v")) / (col("qn") * col("vn")))
        .withColumn("rn", row_number().over(w))
    }
    def top(beamRanked: DataFrame): DataFrame =
      beamRanked.filter(col("rn") <= beamW)
        .select(col("query_id"), col("node"))
    // each step's scored set is a BOUNDED artifact (≤ queries ×
    // beam·(1+edgeK) rows) with MULTIPLE consumers (the next step,
    // the touched census, the routed top-k) — without the checkpoint
    // every consumer re-executes the whole walk prefix (measured
    // 2.4 → 24 s at ~sf1 when the r15 touched/top-k consumers landed
    // on the un-checkpointed DAG)
    // measured-tiny construction (r16): the three step checkpoints ran
    // as ~46 driver jobs of 1-3 tasks under AQE (query-stage
    // materialization per Exchange) — fixed overhead, not compute; the
    // beam itself is ≤ queries × beam·(1+edgeK) rows. The count reads
    // the just-checkpointed assignment blocks, stops one row past
    // TinyRows (exact below it) and gates the mode off at real scale
    // (see Graft.tiny).
    val nAssigned = assigned.limit(graft.api.Graft.TinyRows.toInt + 1).count()
    val tiny = graft.api.Graft.tiny(spark, nAssigned)
    def step(beam: DataFrame): DataFrame =
      graft.api.Graft.scoped(spark, s"beam_search:$nAssigned", tiny) { s =>
        def on(df: DataFrame) = graft.api.Graft.on(s, df)
        ranked(on(beam), on(edges), on(assigned), on(q)).localCheckpoint()
      }
    val s1 = step(entry)
    val s2 = step(top(s1))
    val s3 = step(top(s2))
    // candidates-touched audit: distinct vectors whose query distance
    // was computed across the walk (each step's scored set, deduped)
    val touched = s1.select(col("query_id"), col("node"))
      .unionByName(s2.select(col("query_id"), col("node")))
      .unionByName(s3.select(col("query_id"), col("node")))
      .distinct()
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("candidates_touched"))
    val routed = s3.filter(col("rn") <= serveK)
      .select(col("query_id"), col("node"), col("cos_raw"), col("rn"))
    (assigned, q, routed, touched)
  }

  def beamSearch(spark: SparkSession, dir: String): DataFrame = {
    val serveK = topK
    val (assigned, q, routed, touched) = beamWalk(spark, dir)
    val found1 = routed.filter(col("rn") === 1)
      .select(col("query_id"), col("node").as("routed_top1"),
        round(col("cos_raw"), 6).as("routed_cosine"))
    val wt = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
    val truthAll = q.join(assigned.select(col("vec_id"), col("v"), col("vn"),
        col("cell")),
        col("cell") === col("qcell") && col("vec_id") =!= col("query_id"))
      .withColumn("cos_raw", dot(col("qv"), col("v")) / (col("qn") * col("vn")))
      .withColumn("rn", row_number().over(wt))
      .filter(col("rn") <= serveK)
      .select(col("query_id"), col("vec_id"), col("rn"), col("cos_raw"))
      .localCheckpoint() // ≤ queries×k rows, TWO consumers below
    // top-1 row and truth count in ONE aggregation (stage economy —
    // every extra tiny stage here is a fixed job latency)
    val truthStats = truthAll.groupBy(col("query_id"))
      .agg(max(when(col("rn") === 1,
          struct(col("vec_id"), col("cos_raw")))).as("t1"),
        count(lit(1)).as("n_truth"))
      .select(col("query_id"), col("t1.vec_id").as("exact_top1"),
        round(col("t1.cos_raw"), 6).as("exact_cosine"), col("n_truth"))
    val hits = routed.select(col("query_id"), col("node"))
      .join(truthAll.select(col("query_id"), col("vec_id").as("node")),
        Seq("query_id", "node"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits_at_k"))
    found1.join(truthStats, Seq("query_id"))
      .join(touched, Seq("query_id"))
      .join(hits, Seq("query_id"), "left")
      .withColumn("hits_at_k", coalesce(col("hits_at_k"), lit(0L)))
      .withColumn("recall_k_milli",
        round(lit(1e3) * col("hits_at_k") / col("n_truth")).cast("long"))
      .withColumn("routed_hit", col("routed_top1") === col("exact_top1"))
      .select(col("query_id"), col("routed_top1"), col("routed_cosine"),
        col("exact_top1"), col("exact_cosine"), col("candidates_touched"),
        col("n_truth"), col("hits_at_k"), col("recall_k_milli"),
        col("routed_hit"))
      .orderBy(col("query_id"))
  }

  val beamSearchSql: String =
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         ${normSql("CAST(embedding AS DOUBLE[])")} AS vn
       |  FROM embeddings),
       |$ivfCentroidsSqlCtes,
       |arnk AS (
       |  SELECT e.vec_id, e.v, e.vn, c.cent_id AS cell,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${dotSql("e.v", "c.cv")} / (e.vn * c.cn) DESC, c.cent_id) AS arn
       |  FROM emb e CROSS JOIN cents c),
       |assigned AS MATERIALIZED (
       |  SELECT vec_id, v, vn, cell FROM arnk WHERE arn = 1),
       |edges AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT a.vec_id AS src, b.vec_id AS dst,
       |           row_number() OVER (PARTITION BY a.vec_id
       |             ORDER BY ${dotSql("a.v", "b.v")} / (a.vn * b.vn) DESC, b.vec_id) AS rnk
       |    FROM assigned a JOIN assigned b
       |      ON a.cell = b.cell AND a.vec_id <> b.vec_id)
       |  WHERE rnk <= $beamEdgeK),
       |q AS (
       |  SELECT vec_id AS query_id, v AS qv, vn AS qn, cell AS qcell
       |  FROM assigned WHERE vec_id < $nQueries),
       |medoid AS (
       |  SELECT cell, vec_id, mrn FROM (
       |    SELECT a.cell, a.vec_id,
       |           row_number() OVER (PARTITION BY a.cell
       |             ORDER BY ${dotSql("a.v", "c.cv")} / (a.vn * c.cn) DESC, a.vec_id) AS mrn
       |    FROM assigned a JOIN cents c ON a.cell = c.cent_id)
       |  WHERE mrn <= 2),
       |entry_ AS (
       |  SELECT query_id, node FROM (
       |    SELECT q.query_id, m.vec_id AS node,
       |           row_number() OVER (PARTITION BY q.query_id ORDER BY m.mrn) AS ern
       |    FROM q JOIN medoid m ON m.cell = q.qcell AND m.vec_id <> q.query_id)
       |  WHERE ern = 1),
       |r1 AS (
       |  SELECT query_id, node,
       |         ${dotSql("qv", "v")} / (qn * vn) AS cos_raw,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY ${dotSql("qv", "v")} / (qn * vn) DESC, node) AS rn
       |  FROM (SELECT DISTINCT c.query_id, c.node FROM (
       |          SELECT query_id, node FROM entry_
       |          UNION ALL
       |          SELECT b.query_id, e.dst FROM entry_ b JOIN edges e ON b.node = e.src) c
       |        WHERE c.node <> c.query_id)
       |       JOIN assigned a ON node = a.vec_id
       |       JOIN q USING (query_id)),
       |b1 AS (SELECT query_id, node FROM r1 WHERE rn <= 8),
       |r2 AS (
       |  SELECT query_id, node,
       |         ${dotSql("qv", "v")} / (qn * vn) AS cos_raw,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY ${dotSql("qv", "v")} / (qn * vn) DESC, node) AS rn
       |  FROM (SELECT DISTINCT c.query_id, c.node FROM (
       |          SELECT query_id, node FROM b1
       |          UNION ALL
       |          SELECT b.query_id, e.dst FROM b1 b JOIN edges e ON b.node = e.src) c
       |        WHERE c.node <> c.query_id)
       |       JOIN assigned a ON node = a.vec_id
       |       JOIN q USING (query_id)),
       |b2 AS (SELECT query_id, node FROM r2 WHERE rn <= 8),
       |r3 AS (
       |  SELECT query_id, node,
       |         ${dotSql("qv", "v")} / (qn * vn) AS cos_raw,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY ${dotSql("qv", "v")} / (qn * vn) DESC, node) AS rn
       |  FROM (SELECT DISTINCT c.query_id, c.node FROM (
       |          SELECT query_id, node FROM b2
       |          UNION ALL
       |          SELECT b.query_id, e.dst FROM b2 b JOIN edges e ON b.node = e.src) c
       |        WHERE c.node <> c.query_id)
       |       JOIN assigned a ON node = a.vec_id
       |       JOIN q USING (query_id)),
       |touched AS (
       |  SELECT query_id, count(*) AS candidates_touched FROM (
       |    SELECT DISTINCT query_id, node FROM (
       |      SELECT query_id, node FROM r1
       |      UNION ALL SELECT query_id, node FROM r2
       |      UNION ALL SELECT query_id, node FROM r3))
       |  GROUP BY 1),
       |routed AS (SELECT query_id, node, cos_raw, rn FROM r3 WHERE rn <= $topK),
       |found AS (
       |  SELECT query_id, node AS routed_top1, round(cos_raw, 6) AS routed_cosine
       |  FROM routed WHERE rn = 1),
       |truthall AS (
       |  SELECT query_id, vec_id, rn, cos_raw FROM (
       |    SELECT q.query_id, a.vec_id,
       |           ${dotSql("q.qv", "a.v")} / (q.qn * a.vn) AS cos_raw,
       |           row_number() OVER (PARTITION BY q.query_id
       |             ORDER BY ${dotSql("q.qv", "a.v")} / (q.qn * a.vn) DESC, a.vec_id) AS rn
       |    FROM q JOIN assigned a ON a.cell = q.qcell AND a.vec_id <> q.query_id)
       |  WHERE rn <= $topK),
       |truth AS (
       |  SELECT query_id, vec_id AS exact_top1, round(cos_raw, 6) AS exact_cosine
       |  FROM truthall WHERE rn = 1),
       |ntruth AS (SELECT query_id, count(*) AS n_truth FROM truthall GROUP BY 1),
       |hits AS (
       |  SELECT r.query_id, count(*) AS hits_at_k
       |  FROM routed r JOIN truthall t ON r.query_id = t.query_id AND r.node = t.vec_id
       |  GROUP BY 1)
       |SELECT f.query_id, f.routed_top1, f.routed_cosine, t.exact_top1,
       |       t.exact_cosine, c.candidates_touched, n.n_truth,
       |       CAST(coalesce(h.hits_at_k, 0) AS BIGINT) AS hits_at_k,
       |       CAST(round(1e3 * coalesce(h.hits_at_k, 0) / n.n_truth) AS BIGINT)
       |         AS recall_k_milli,
       |       f.routed_top1 = t.exact_top1 AS routed_hit
       |FROM found f JOIN truth t USING (query_id)
       |  JOIN touched c USING (query_id)
       |  JOIN ntruth n USING (query_id)
       |  LEFT JOIN hits h ON f.query_id = h.query_id
       |ORDER BY f.query_id""".stripMargin

  /** FILTERED ANN (metadata predicate + vector search) — the serving
    * feature every vector store grew in the RAG era: top-k "among
    * documents WHERE label is odd", not top-k then filter (post-
    * filtering starves the result set when the predicate is
    * selective — with selectivity s, post-filter expects only s·k
    * survivors). The production route applies the predicate INSIDE
    * the cell scan (pre-filter: the candidate stream shrinks by s
    * before ranking), with the same nprobe cell-probing as
    * [[ivfTopK]]; the output joins each query's filtered-exact top-k
    * so every row carries its recall denominator — the selectivity ×
    * probe interaction IS what this operator audits.
    *
    * Scale: identical shape to [[ivfTopK]] (broadcast queries, cell
    * equi join) with one extra pushed predicate — the filter reaches
    * the candidate scan, never a post-pass. */
  def filteredAnn(spark: SparkSession, dir: String): DataFrame = {
    val k = ivfParams(spark, dir)._1
    val nprobe = ivfNprobeFor(k)
    val emb = embWithNorm(spark, dir)
    val cents = centroidLiteral(spark, dir, k)
    val keep = col("label") % 2 === 1
    // predicate pushed BEFORE assignment (per-vector independent, so
    // filter-then-assign ≡ assign-then-filter — the oracle does the
    // latter; the engine never scores a filtered-out candidate)
    val assigned = assignCells(emb.filter(keep), cents)
    val q = probeCells(emb.filter(col("vec_id") < nQueries), cents, nprobe)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("vn").as("qn"), col("cell"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
    val approx = broadcast(q)
      .join(assigned.select(col("vec_id"), col("v"), col("vn"),
        col("cell").as("ccell")),
        col("cell") === col("ccell") && col("query_id") =!= col("vec_id"))
      .withColumn("cos_raw",
        call_function("graft_dot", col("qv"), col("v")) / (col("qn") * col("vn")))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id").as("aq"), col("vec_id").as("approx_id"))
    val truth = broadcast(emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("vn").as("qn")))
      .join(emb.filter(keep).select(col("vec_id"), col("v"), col("vn")),
        col("query_id") =!= col("vec_id"))
      .withColumn("cos_raw",
        call_function("graft_dot", col("qv"), col("v")) / (col("qn") * col("vn")))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    truth.join(approx,
        col("query_id") === col("aq") &&
          col("neighbor_id") === col("approx_id"), "left_outer")
      .groupBy(col("query_id"))
      .agg(count(col("approx_id")).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        round(col("n_hits").cast("double") / topK, 4).as("recall"))
      .orderBy(col("query_id"))
  }

  val filteredAnnSql: String =
    s"""WITH emb AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
       |         ${normSql("CAST(embedding AS DOUBLE[])")} AS vn
       |  FROM embeddings),
       |$ivfCentroidsSqlCtes,
       |ranked AS (
       |  SELECT e.vec_id, e.label, e.v, e.vn, c.cent_id AS cell,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${dotSql("e.v", "c.cv")} / (e.vn * c.cn) DESC, c.cent_id) AS arn
       |  FROM emb e CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id, v, vn, cell FROM ranked
       |  WHERE arn = 1 AND label % 2 = 1),
       |qprobes AS (
       |  SELECT vec_id AS query_id, v AS qv, vn AS qn, cell
       |  FROM ranked WHERE vec_id < $nQueries AND arn <= (SELECT np FROM params)),
       |approx AS (
       |  SELECT query_id, vec_id AS approx_id
       |  FROM (
       |    SELECT q.query_id, c.vec_id,
       |           row_number() OVER (PARTITION BY q.query_id
       |             ORDER BY ${dotSql("q.qv", "c.v")} / (q.qn * c.vn) DESC, c.vec_id) AS rank
       |    FROM qprobes q
       |    JOIN assigned c ON q.cell = c.cell AND q.query_id <> c.vec_id)
       |  WHERE rank <= $topK),
       |truth AS (
       |  SELECT query_id, vec_id AS neighbor_id
       |  FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY ${dotSql("q.v", "c.v")} / (q.vn * c.vn) DESC, c.vec_id) AS rank
       |    FROM (SELECT * FROM emb WHERE vec_id < $nQueries) q
       |    JOIN (SELECT * FROM emb WHERE label % 2 = 1) c
       |      ON q.vec_id <> c.vec_id)
       |  WHERE rank <= $topK)
       |SELECT t.query_id, count(a.approx_id) AS n_hits,
       |       round(CAST(count(a.approx_id) AS DOUBLE) / $topK, 4) AS recall
       |FROM truth t LEFT JOIN approx a
       |  ON t.query_id = a.query_id AND t.neighbor_id = a.approx_id
       |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_filtered_ann" -> (filteredAnn _),
    "sim_beam_search" -> (beamSearch _),
    "sim_radius_search" -> (radiusSearch _),
    "sim_mrl_recall" -> (mrlRecall _),
    "sim_cell_quality" -> (cellQuality _),
    "sim_threshold_sweep" -> (thresholdSweep _),
    "sim_hamming_topk" -> (hammingTopK _),
    "sim_mmr_rerank" -> (mmrRerank _),
    "sim_pca_project" -> (pcaProject _),
    "sim_pca_top_component" -> (pcaTopComponent _),
    "sim_mips_topk" -> (mipsTopK _),
    "sim_drift_monitor" -> (driftMonitor _),
    "sim_index_append" -> (indexAppend _),
    "sim_cell_split" -> (cellSplit _),
    "sim_recall_at_k" -> (recallAtK _),
    "sim_embed_standardize" -> (embedStandardize _),
    "sim_embed_quantize" -> (embedQuantize _),
    "sim_random_projection" -> (randomProjection _),
    "sim_maxsim_topk" -> (maxSimTopK _),
    "sim_norm_audit" -> (normAudit _),
    "sim_retrieval_metrics" -> (retrievalMetrics _),
    "sim_knn_classify" -> (knnClassify _),
    "sim_label_centroid" -> (labelCentroid _),
    "sim_pq_topk" -> (pqTopK _),
    "sim_pq_census" -> (pqCodeCensus _),
    "sim_ivfpq_topk" -> (ivfPqTopK _),
    "sim_knn_graph" -> (knnGraph _),
    "sim_hard_negatives" -> (hardNegatives _),
    "sim_imi_cells" -> (imiCells _),
    "sim_imi_topk" -> (imiTopK _),
    "corpus_decontaminate_semantic" -> (semanticDecontaminate _),
    "sim_ivf_topk" -> (ivfTopK _),
    "sim_hybrid_rrf" -> (hybridRrf _),
    "sim_topk_bruteforce" -> (bruteForceTopK _),
    "sim_topk_native" -> (bruteForceTopKNative _),
    "sim_vector_arith" -> (vectorArith _),
    "sim_lsh_buckets" -> (lshBuckets _),
    "sim_ann_topk" -> (annTopK _),
    "sim_cosine_neardup" -> (cosineNearDup _),
    "dedup_semantic" -> (semanticDedup _),
    "dedup_semantic_cells" -> (semanticCells _),
    "corpus_diversity_sample" -> (diversitySample _),
    "sim_rbo_audit" -> (rboAudit _)
  )

  def oracle: Map[String, String] = Map(
    "sim_filtered_ann" -> filteredAnnSql,
    "sim_beam_search" -> beamSearchSql,
    "sim_radius_search" -> radiusSearchSql,
    "sim_pca_project" -> pcaProjectSql,
    "sim_pca_top_component" -> pcaTopComponentSql,
    "sim_mips_topk" -> mipsTopKSql,
    "sim_drift_monitor" -> driftMonitorSql,
    "sim_index_append" -> indexAppendSql,
    "sim_cell_split" -> cellSplitSql,
    "sim_recall_at_k" -> recallAtKSql,
    "sim_embed_standardize" -> embedStandardizeSql,
    "sim_embed_quantize" -> embedQuantizeSql,
    "sim_random_projection" -> randomProjectionSql,
    "sim_maxsim_topk" -> maxSimTopKSql,
    "sim_mrl_recall" -> mrlRecallSql,
    "sim_cell_quality" -> cellQualitySql,
    "sim_threshold_sweep" -> thresholdSweepSql,
    "sim_hamming_topk" -> hammingTopKSql,
    "sim_mmr_rerank" -> mmrRerankSql,
    "sim_norm_audit" -> normAuditSql,
    "sim_retrieval_metrics" -> retrievalMetricsSql,
    "sim_knn_classify" -> knnClassifySql,
    "sim_label_centroid" -> labelCentroidSql,
    "sim_pq_topk" -> pqTopKSql,
    "sim_pq_census" -> pqCodeCensusSql,
    "sim_ivfpq_topk" -> ivfPqTopKSql,
    "sim_knn_graph" -> knnGraphSql,
    "sim_hard_negatives" -> hardNegativesSql,
    "sim_imi_cells" -> imiCellsSql,
    "sim_imi_topk" -> imiTopKSql,
    "corpus_decontaminate_semantic" -> semanticDecontaminateSql,
    "sim_ivf_topk" -> ivfTopKSql,
    "sim_hybrid_rrf" -> hybridRrfSql,
    "sim_topk_bruteforce" -> bruteForceTopKSql,
    "sim_topk_native" -> bruteForceTopKSql,
    "sim_vector_arith" -> vectorArithSql,
    "sim_lsh_buckets" -> lshBucketsSql,
    "sim_ann_topk" -> annTopKSql,
    "sim_cosine_neardup" -> cosineNearDupSql,
    "dedup_semantic" -> semanticDedupSql,
    "dedup_semantic_cells" -> semanticCellsSql,
    "corpus_diversity_sample" -> diversitySampleSql,
    "sim_rbo_audit" -> rboAuditSql
  )

  /** r15 verdict #1: the published recall-vs-cost head-to-head —
    * routed beam vs IVF at their MEASURED candidates-touched budgets,
    * both scored against the GLOBAL exact top-k truth (brute force
    * over the corpus for the nQueries probe queries — a bounded audit
    * artifact, |Q|·N scored once for the audit, never in serving).
    * IVF's budget is the probed cells' total population minus self —
    * the nprobe knob's literal cost; beam's budget is the walk's own
    * `candidates_touched`. Driven by `ScaleProbe ann-headtohead`;
    * table published in docs/TUNING.md. */
  private[graft] def annServingHeadToHead(spark: SparkSession,
                                          dir: String): Seq[String] = {
    val emb = embWithNorm(spark, dir).localCheckpoint()
    val n = emb.count()
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("vn").as("qn"))
    val wt = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
    val truth = broadcast(q)
      .join(emb.select(col("vec_id"), col("v"), col("vn")),
        col("vec_id") =!= col("query_id"))
      .withColumn("cos_raw",
        call_function("graft_dot", col("qv"), col("v")) / (col("qn") * col("vn")))
      .withColumn("rn", row_number().over(wt))
      .filter(col("rn") <= topK)
      .select(col("query_id").as("tqid"), col("vec_id").as("tnid"))
      .localCheckpoint()
    val truthN = truth.count().toDouble
    def recallOf(cand: DataFrame): Double =
      cand.join(truth, cand("query_id") === col("tqid") &&
        cand("node") === col("tnid")).count() / truthN
    def beamRow(edgeK: Int, kCells: Option[Int] = None): (DataFrame, String) = {
      val (assignedW, qW, routed, touched) = beamWalk(spark, dir, edgeK, kCells)
      val budget = touched.agg(avg(col("candidates_touched")))
        .head().getDouble(0)
      val rec = recallOf(routed.select(col("query_id"), col("node")))
      // the walk's OWN stage recall: routed@k vs the in-cell exact@k
      // (cell selection excluded — the ceiling a perfect walk reaches)
      val wt2 = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_raw").desc, col("vec_id"))
      val cellTruth = qW.join(assignedW.select(col("vec_id"), col("v"),
          col("vn"), col("cell")),
          col("cell") === col("qcell") && col("vec_id") =!= col("query_id"))
        .withColumn("cos_raw",
          call_function("graft_dot", col("qv"), col("v")) / (col("qn") * col("vn")))
        .withColumn("rn", row_number().over(wt2))
        .filter(col("rn") <= topK)
        .select(col("query_id").as("cqid"), col("vec_id").as("cnid"))
      val inCell = routed.join(cellTruth,
        routed("query_id") === col("cqid") && routed("node") === col("cnid"))
        .count().toDouble / cellTruth.count()
      (assignedW,
        f"beam w=8 steps=3 edgeK=$edgeK%-2d touched=$budget%8.1f recall@$topK=$rec%.3f in-cell-recall@$topK=$inCell%.3f")
    }
    val (assigned, beamLine) = beamRow(knnK)
    val (_, beamDenseLine) = beamRow(8)
    val k = ivfParams(spark, dir)._1
    val cents = centroidLiteral(spark, dir, k)
    val cellSizes = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("csz")).localCheckpoint()
    val nps = Seq(1, 2, math.max(1, k / 8), ivfNprobeFor(k)).distinct.sorted
    val ivfRows = nps.map { np =>
      val probes = probeCells(emb.filter(col("vec_id") < nQueries), cents, np)
        .select(col("vec_id").as("query_id"), col("cell"))
      val budget = probes.join(cellSizes, Seq("cell"))
        .groupBy(col("query_id")).agg(sum(col("csz")).as("b"))
        .agg(avg(col("b"))).head().getDouble(0) - 1.0 // minus self
      val res = ivfTopK(spark, dir, None, Some(np))
        .select(col("query_id"), col("neighbor_id").as("node"))
      f"ivf  nprobe=$np%-4d touched=$budget%8.1f recall@$topK=${recallOf(res)}%.3f"
    }
    // BIG-CELL regime — the route-choice law's other side: force a
    // tiny quantizer (k=4 cells, ~n/4 vectors each, the "quantizer
    // refresh lagged the corpus" scenario). The beam budget is
    // cell-size-INdependent; IVF's cheapest probe now scans ~n/4.
    // hold big cells at ~500 vectors regardless of corpus size so the
    // probe's index-build stays bounded (in-cell pair mass ~ n*500)
    val kBig = math.max(4, math.ceil(n / 500.0).toInt)
    val (assignedBig, bigBeamLine) = beamRow(beamEdgeK, Some(kBig))
    val bigCells = assignedBig.groupBy(col("cell"))
      .agg(count(lit(1)).as("csz")).localCheckpoint()
    val centsBig = centroidLiteral(spark, dir, kBig)
    val bigProbes = probeCells(emb.filter(col("vec_id") < nQueries), centsBig, 1)
      .select(col("vec_id").as("query_id"), col("cell"))
    val bigBudget = bigProbes.join(bigCells, Seq("cell"))
      .groupBy(col("query_id")).agg(sum(col("csz")).as("b"))
      .agg(avg(col("b"))).head().getDouble(0) - 1.0
    val bigRes = ivfTopK(spark, dir, Some(kBig), Some(1))
      .select(col("query_id"), col("neighbor_id").as("node"))
    val bigIvfLine =
      f"BIGCELL(k=$kBig) ivf nprobe=1 touched=$bigBudget%8.1f recall@$topK=${recallOf(bigRes)}%.3f"
    (s"$beamLine (corpus n=$n, cells k=$k)" +: beamDenseLine +: ivfRows) ++
      Seq(s"BIGCELL(k=$kBig) $bigBeamLine", bigIvfLine)
  }
}
