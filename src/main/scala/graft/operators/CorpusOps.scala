package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-preparation operators for LLM training-data pipelines —
  * the steps between "deduplicated documents" and "training batches"
  * (driver-mandated EXT alongside SURVEY.md §2.10's dedup/similarity
  * families).
  *
  * All per-document metrics are single-pass expressions over the text
  * column (no shuffle); the aggregating ops shuffle once on compact
  * keys. Determinism rules: md5-based hashing only (engine-portable),
  * integer arithmetic for bucket/bin math, rounding at the output
  * edge — the whole family stays DuckDB-oracle-checkable.
  */
object CorpusOps {

  private def toks(c: Column): Column = graft.api.Graft.tokens(c)

  private def nToks(c: Column): Column = size(toks(c)).cast("long")

  private def idHashSql(c: String): String =
    s"('0x' || substring(md5(CAST($c AS VARCHAR)), 1, 8))::BIGINT"

  /** Repetition metrics (the Gopher-rule family): duplicate-token and
    * duplicate-bigram ratios per document, plus the repetitive flag a
    * quality-filter stage would drop on. Pure per-row expressions —
    * at 100 TB this is a map-only pass. */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val t = toks(col("text"))
    val n = size(t)
    // facade reuse: dupTokenRatio and 2-gram shingles are the single
    // definitions of these constructs (shingles' short-text fallback
    // is irrelevant under the n >= 2 guard)
    val dupTok = graft.api.Graft.dupTokenRatio(col("text"))
    val bigrams = graft.api.Graft.shingles(col("text"), 2)
    val dupBi = when(n >= 2,
      lit(1.0) - size(array_distinct(bigrams)).cast("double") / (n - 1))
      .otherwise(lit(0.0))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        round(dupTok, 4).as("dup_tok_ratio"),
        round(dupBi, 4).as("dup_bigram_ratio"),
        (dupTok > 0.4 || dupBi > 0.25).as("repetitive"))
      .orderBy(col("doc_id"))
  }

  val repetitionSql: String =
    """SELECT doc_id,
      |       round(1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 4) AS dup_tok_ratio,
      |       round(CASE WHEN len(t) >= 2
      |                  THEN 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / (len(t) - 1)
      |                  ELSE 0.0 END, 4) AS dup_bigram_ratio,
      |       ((1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t)) > 0.4 OR
      |        (CASE WHEN len(t) >= 2
      |              THEN 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / (len(t) - 1)
      |              ELSE 0.0 END) > 0.25) AS repetitive
      |FROM (
      |  SELECT doc_id, t,
      |         CASE WHEN len(t) >= 2
      |              THEN list_transform(range(len(t) - 1), i -> t[i+1] || ' ' || t[i+2])
      |              ELSE [] END AS bg
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
      |ORDER BY doc_id""".stripMargin

  /** Deterministic train/val/test split: md5(doc_id) mod 100 →
    * 80/10/10. Hash-based splits are how 100 TB corpora are split in
    * practice — no global sort, no sampling state, reproducible from
    * the id alone. */
  def splitHash(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      // delegate to the public facade — one definition of the
      // id-hash/bucketing contract, shared with what users call
      .withColumn("split", graft.api.Graft.splitLabel(col("doc_id"),
        Seq("train" -> 80, "val" -> 10, "test" -> 10)))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(nToks(col("text"))).as("n_tokens"))
      .orderBy(col("split"))

  val splitHashSql: String =
    s"""SELECT split, count(*) AS n_docs,
       |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |FROM (
       |  SELECT text,
       |         CASE WHEN ${idHashSql("doc_id")} % 100 < 80 THEN 'train'
       |              WHEN ${idHashSql("doc_id")} % 100 < 90 THEN 'val'
       |              ELSE 'test' END AS split
       |  FROM documents)
       |GROUP BY split ORDER BY split""".stripMargin

  /** Stratified deterministic sampling: within each source, keep docs
    * whose id-hash falls under p=25%. The per-stratum sampled count
    * and realized fraction — the audit view of a corpus downsampling
    * stage. */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val sampled = graft.api.Graft.sampledBy(col("doc_id"), 25)
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(sampled, 1)).as("n_sampled"))
      .withColumn("frac", round(col("n_sampled").cast("double") / col("n_docs"), 4))
      .orderBy(col("source"))
  }

  val sampleStratifiedSql: String =
    s"""SELECT source, count(*) AS n_docs,
       |       count(*) FILTER (WHERE ${idHashSql("doc_id")} % 100 < 25) AS n_sampled,
       |       round(CAST(count(*) FILTER (WHERE ${idHashSql("doc_id")} % 100 < 25) AS DOUBLE)
       |             / count(*), 4) AS frac
       |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** Token-length histogram in 25-token buckets — the distribution a
    * packing/truncation stage is tuned against. `nTokens` picks the
    * tokenizer (default whitespace; pass Graft.bpeTokenCount for
    * model-token bucketing). */
  def tokenBuckets(spark: SparkSession, dir: String,
                   nTokens: Column => Column = nToks): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("n", nTokens(col("text")))
      .withColumn("bucket_lo", expr("n DIV 25 * 25"))
      .groupBy(col("bucket_lo"))
      .agg(count(lit(1)).as("n_docs"), round(avg(col("n_chars")), 2).as("avg_chars"))
      .orderBy(col("bucket_lo"))

  val tokenBucketsSql: String =
    """SELECT CAST(len(string_split(text, ' ')) // 25 * 25 AS BIGINT) AS bucket_lo,
      |       count(*) AS n_docs, round(avg(n_chars), 2) AS avg_chars
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** Concat-and-chunk sequence packing (the GPT-style pretraining
    * layout): per language, documents are concatenated in doc_id
    * order and cut into 512-token windows; a document's bin is where
    * its first token lands. One window cumsum per language partition
    * — no pairwise work, scales as a single sort-based window.
    * `nTokens` picks the tokenizer (default whitespace; see
    * [[packBpe]] for the model-token instantiation). */
  def packGreedy(spark: SparkSession, dir: String,
                 nTokens: Column => Column = nToks): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), nTokens(col("text")).as("n"))
      .withColumn("cum", sum(col("n")).over(w))
      .withColumn("bin_id", expr("(cum - n) DIV 512"))
      .groupBy(col("lang"), col("bin_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("bin_tokens"))
      .orderBy(col("lang"), col("bin_id"))
  }

  val packGreedySql: String =
    """SELECT lang, CAST((cum - n) // 512 AS BIGINT) AS bin_id,
      |       count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS bin_tokens
      |FROM (
      |  SELECT lang, n,
      |         sum(n) OVER (PARTITION BY lang ORDER BY doc_id
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM (SELECT doc_id, lang,
      |               CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      |        FROM documents))
      |GROUP BY lang, bin_id ORDER BY lang, bin_id""".stripMargin

  private def bpeToks(c: Column): Column = graft.api.Graft.bpeTokenCount(c)

  /** The default vocabulary the no-vocab entry points run — the
    * oracle SQL inlines the same pieces, so the differential check
    * covers exactly what the queries compute. Production callers pass
    * their model tokenizer's vocabulary (round-4 verdict #3),
    * typically `BpeVocab.fromFile(path)`. */
  private def defaultVocab = graft.functions.BpeVocab.default

  /** Shared oracle CTEs replaying the greedy longest-match scan of
    * graft_bpe_count as a finite recursion: one row per (doc, word)
    * explodes into one row per matching STEP; the terminal row
    * (pos > len) carries the word's token count. `bpe(doc_id, n)` is
    * the per-document total. The vocabulary is inlined from the same
    * [[graft.functions.BpeVocab.pieces]] the native expression uses,
    * so the two engines cannot drift. */
  private def bpeCtesFrom(docsRel: String): String =
    s"""words AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
       |         generate_subscripts(string_split(text, ' '), 1) AS widx
       |  FROM $docsRel),
       |seg AS (
       |  SELECT doc_id, widx, word, 1 AS pos, 0 AS ntok FROM words
       |  UNION ALL
       |  SELECT doc_id, widx, word,
       |         pos + ${graft.functions.BpeVocab.stepSql("word", "pos")},
       |         ntok + 1
       |  FROM seg WHERE pos <= len(word)),
       |bpe AS (
       |  SELECT doc_id, CAST(sum(ntok) AS BIGINT) AS n
       |  FROM seg WHERE pos > len(word) GROUP BY doc_id)""".stripMargin

  private val bpeCtes: String = bpeCtesFrom("documents")

  /** Per-document BPE subword counts next to whitespace counts — the
    * view that makes "token budget" mean model tokens. Map-only: one
    * native expression per row, no shuffle below the output sort. */
  def bpeTokens(spark: SparkSession, dir: String): DataFrame =
    bpeTokens(spark, dir, defaultVocab)

  /** [[bpeTokens]] over an EXPLICIT vocabulary — the production path
    * (file-loaded model vocab); same plan, different piece set. */
  def bpeTokens(spark: SparkSession, dir: String,
                vocab: graft.functions.BpeVocab): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        col("n_chars").cast("long").as("n_chars"),
        nToks(col("text")).as("n_tokens_ws"),
        graft.api.Graft.bpeTokenCount(col("text"), vocab).as("n_tokens_bpe"))
      .orderBy(col("doc_id"))

  val bpeTokensSql: String =
    s"""WITH RECURSIVE
       |$bpeCtes
       |SELECT d.doc_id, CAST(d.n_chars AS BIGINT) AS n_chars,
       |       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens_ws,
       |       b.n AS n_tokens_bpe
       |FROM documents d JOIN bpe b ON d.doc_id = b.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** The FULL segmentation, piece by piece — every subword token in
    * text order. Verifies the tokenizer beyond counts: the oracle's
    * recursion emits the exact substring each greedy step consumed,
    * so a single mis-matched piece anywhere in the corpus breaks the
    * hash. Map-only fan-out (posexplode), like any generator. */
  def bpePieces(spark: SparkSession, dir: String): DataFrame =
    bpePieces(spark, dir, defaultVocab)

  def bpePieces(spark: SparkSession, dir: String,
                vocab: graft.functions.BpeVocab): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(graft.api.Graft.bpeTokens(col("text"), vocab)).as(Seq("piece_idx", "piece")))
      .select(col("doc_id"), col("piece_idx").cast("long").as("piece_idx"), col("piece"))
      .orderBy(col("doc_id"), col("piece_idx"))

  val bpePiecesSql: String = {
    val step = graft.functions.BpeVocab.stepSql("word", "pos")
    s"""WITH RECURSIVE words AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
       |         generate_subscripts(string_split(text, ' '), 1) AS widx
       |  FROM documents),
       |seg AS (
       |  SELECT doc_id, widx, word, 1 AS pos, 0 AS idx, CAST(NULL AS VARCHAR) AS piece
       |  FROM words
       |  UNION ALL
       |  SELECT doc_id, widx, word, pos + $step, idx + 1, substr(word, pos, $step)
       |  FROM seg WHERE pos <= len(word))
       |SELECT doc_id,
       |       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY widx, idx) - 1 AS BIGINT) AS piece_idx,
       |       piece
       |FROM seg WHERE piece IS NOT NULL
       |ORDER BY doc_id, piece_idx""".stripMargin
  }

  /** Sliding-window chunking over MODEL tokens — [[chunkOverlap]]'s
    * 50/30 window/stride applied to the BPE segmentation instead of
    * whitespace words, so chunk boundaries respect the token budget a
    * model actually sees. Each chunk row carries its piece count and
    * content digest (computed from the slice itself — no re-split, so
    * zero-piece documents still chunk consistently in both engines).
    * Map-only fan-out like the word variant. */
  def chunkBpe(spark: SparkSession, dir: String): DataFrame =
    chunkBpe(spark, dir, defaultVocab)

  def chunkBpe(spark: SparkSession, dir: String,
               vocab: graft.functions.BpeVocab): DataFrame = {
    val (window, stride) = (50, 30)
    val chunks = element_at(
      transform(array(graft.api.Graft.bpeTokens(col("text"), vocab)), wa => {
        val lastIdx = greatest(lit(0),
          floor((size(wa) - lit(window) + lit(stride) - 1).cast("double") / lit(stride))
            .cast("int"))
        transform(sequence(lit(0), lastIdx), i => struct(
          size(slice(wa, i * lit(stride) + 1, lit(window))).cast("long").as("n"),
          md5(concat_ws(" ", slice(wa, i * lit(stride) + 1, lit(window))).cast("binary")).as("h")))
      }), 1)
    Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(chunks).as(Seq("chunk_idx", "c")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("c.n").as("n_chunk_tokens"), col("c.h").as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  val chunkBpeSql: String = {
    val step = graft.functions.BpeVocab.stepSql("word", "pos")
    s"""WITH RECURSIVE words AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
       |         generate_subscripts(string_split(text, ' '), 1) AS widx
       |  FROM documents),
       |seg AS (
       |  SELECT doc_id, widx, word, 1 AS pos, 0 AS idx, CAST(NULL AS VARCHAR) AS piece
       |  FROM words
       |  UNION ALL
       |  SELECT doc_id, widx, word, pos + $step, idx + 1, substr(word, pos, $step)
       |  FROM seg WHERE pos <= len(word)),
       |pl AS (
       |  SELECT doc_id, list(piece ORDER BY widx, idx) AS pieces
       |  FROM seg WHERE piece IS NOT NULL GROUP BY doc_id),
       |pl2 AS (
       |  SELECT d.doc_id, coalesce(p.pieces, CAST([] AS VARCHAR[])) AS pieces
       |  FROM documents d LEFT JOIN pl p ON d.doc_id = p.doc_id),
       |c AS (
       |  SELECT doc_id,
       |         unnest(range(greatest(0, (len(pieces) - 50 + 29) // 30) + 1)) AS chunk_idx,
       |         pieces
       |  FROM pl2)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |       CAST(len(pieces[chunk_idx*30 + 1 : chunk_idx*30 + 50]) AS BIGINT) AS n_chunk_tokens,
       |       md5(array_to_string(pieces[chunk_idx*30 + 1 : chunk_idx*30 + 50], ' ')) AS chunk_md5
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin
  }

  /** [[packGreedy]] instantiated over the BPE tokenizer — bins are
    * 512 MODEL tokens, the number that actually fits a context
    * window. Identical plan shape (map-side counts + one window
    * cumsum per language). */
  def packBpe(spark: SparkSession, dir: String): DataFrame =
    packBpe(spark, dir, defaultVocab)

  def packBpe(spark: SparkSession, dir: String,
              vocab: graft.functions.BpeVocab): DataFrame =
    packGreedy(spark, dir, graft.api.Graft.bpeTokenCount(_, vocab))

  val packBpeSql: String =
    s"""WITH RECURSIVE
       |$bpeCtes
       |SELECT lang, CAST((cum - n) // 512 AS BIGINT) AS bin_id,
       |       count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS bin_tokens
       |FROM (
       |  SELECT d.lang, b.n,
       |         sum(b.n) OVER (PARTITION BY d.lang ORDER BY d.doc_id
       |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM documents d JOIN bpe b ON d.doc_id = b.doc_id)
       |GROUP BY lang, bin_id ORDER BY lang, bin_id""".stripMargin

  /** The WHOLE corpus-preparation pipeline as ONE lazy plan — the
    * Gopher/Dolma-style sequence a training-data team actually runs,
    * composed from the individually-verified stages:
    *   1. quality gate (map-only verdict, keep 'ok'),
    *   2. decontamination vs a held-out eval split (bounded eval
    *      shingle set, broadcast; anti join the contaminated ids),
    *   3. exact dedup (min-id keeper per content digest),
    *   4. deterministic train/val/test split + per-split BPE token
    *      budget.
    * Output: (split, lang) → kept docs + model-token mass, all
    * integer-exact. One Catalyst plan end-to-end: the gate pushes to
    * the scan, the eval side broadcasts, and the only wide shuffles
    * are the digest groupBy and the final rollup. */
  def e2ePrep(spark: SparkSession, dir: String): DataFrame = {
    // doc-keyed explicit repartition (r15): the quality-gate verdict
    // (regex-heavy) and the decontamination shingles are the
    // pipeline's map-side compute, and the one-split documents scan
    // plus AQE byte-coalescing ran them single-task. Compact doc rows
    // shuffle once; explicit N so AQE cannot fold it back.
    val docs = Tables.documents(spark, dir)
      .repartition(spark.sessionState.conf.numShufflePartitions, col("doc_id"))
    val qual = docs.filter(graft.api.Graft.qualityVerdict(col("text"),
      minTokens = 20, maxTokens = 90, maxDupRatio = 0.6, maxMeanWordLen = 5.0,
      maxBulletRatio = 0.5, maxEllipsisRatio = 0.5, maxSymbolRatio = 0.02,
      minStopwords = 1) === "ok")
    val train = qual.filter(col("doc_id") % 20 =!= 0)
    val evalSet = docs.filter(col("doc_id") % 20 === 0) // held out RAW
    val contaminated = graft.api.Graft.decontaminate(train, evalSet, "text", "doc_id", k = 4)
      .select(col("id").as("__contaminated_id"))
    val clean = train.join(contaminated,
      col("doc_id") === col("__contaminated_id"), "left_anti")
    // exact-dedup keeper via a digest-keyed WINDOW min instead of
    // groupBy + semi join-back (r15): the old shape referenced `clean`
    // twice, and because its top operator is an anti join (not an
    // Exchange), the whole quality gate + decontamination chain ran
    // twice per invocation. One digest exchange now serves both the
    // keeper min and the row stream; keeper semantics (min doc_id per
    // content digest) are unchanged.
    clean
      .withColumn("__digest", graft.api.Graft.contentDigest(col("text")))
      .withColumn("__keep_id", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__digest"))))
      .filter(col("doc_id") === col("__keep_id"))
      .drop("__digest", "__keep_id")
      .withColumn("split", graft.api.Graft.splitLabel(col("doc_id"),
        Seq("train" -> 80, "val" -> 10, "test" -> 10)))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(bpeToks(col("text"))).as("n_tokens_bpe"))
      .orderBy(col("split"), col("lang"))
  }

  val e2ePrepSql: String =
    s"""WITH RECURSIVE
       |feat AS (
       |  SELECT doc_id, lang, text,
       |         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS w,
       |         string_split(text, chr(10)) AS lines,
       |         length(text) - length(regexp_replace(text, '[#…]', '', 'g')) AS symbols
       |  FROM documents),
       |qual AS (
       |  SELECT doc_id, lang, text FROM (
       |    SELECT doc_id, lang, text,
       |           CASE WHEN len(w) < 20 THEN 'too-short'
       |                WHEN len(w) > 90 THEN 'too-long'
       |                WHEN CAST(len(list_filter(lines, l -> l LIKE '•%')) AS DOUBLE) / len(lines) > 0.5 THEN 'bullet-heavy'
       |                WHEN CAST(len(list_filter(lines, l -> l LIKE '%…')) AS DOUBLE) / len(lines) > 0.5 THEN 'ellipsis-heavy'
       |                WHEN CAST(symbols AS DOUBLE) / len(w) > 0.02 THEN 'symbol-heavy'
       |                WHEN CAST(length(array_to_string(w, '')) AS DOUBLE) / len(w) > 5.0 THEN 'word-salad'
       |                WHEN len(list_intersect(list_distinct(w), ['the','a','and','of','to','in'])) < 1 THEN 'few-stopwords'
       |                WHEN 1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) > 0.6 THEN 'repetitive'
       |                ELSE 'ok' END AS reason
       |    FROM feat)
       |  WHERE reason = 'ok'),
       |shq AS (
       |  SELECT doc_id, CASE WHEN len(words) >= 4
       |       THEN list_transform(range(len(words) - 3), i -> array_to_string(words[i+1:i+4], ' '))
       |       ELSE [text] END AS ngs
       |  FROM (SELECT doc_id, text, string_split(text, ' ') AS words
       |        FROM qual WHERE doc_id % 20 <> 0)),
       |she AS (
       |  SELECT doc_id, CASE WHEN len(words) >= 4
       |       THEN list_transform(range(len(words) - 3), i -> array_to_string(words[i+1:i+4], ' '))
       |       ELSE [text] END AS ngs
       |  FROM (SELECT doc_id, text, string_split(text, ' ') AS words
       |        FROM documents WHERE doc_id % 20 = 0)),
       |ev AS (SELECT DISTINCT unnest(ngs) AS ng FROM she),
       |contaminated AS (
       |  SELECT DISTINCT t.doc_id
       |  FROM (SELECT doc_id, unnest(ngs) AS ng FROM shq) t JOIN ev ON t.ng = ev.ng),
       |kept AS (
       |  SELECT q.doc_id, q.lang, q.text
       |  FROM qual q
       |  WHERE q.doc_id % 20 <> 0
       |    AND q.doc_id NOT IN (SELECT doc_id FROM contaminated)
       |    AND q.doc_id IN (
       |      SELECT min(doc_id) FROM qual
       |      WHERE doc_id % 20 <> 0
       |        AND doc_id NOT IN (SELECT doc_id FROM contaminated)
       |      GROUP BY md5(text))),
       |${bpeCtesFrom("kept")}
       |SELECT CASE WHEN ${idHashSql("k.doc_id")} % 100 < 80 THEN 'train'
       |            WHEN ${idHashSql("k.doc_id")} % 100 < 90 THEN 'val'
       |            ELSE 'test' END AS split,
       |       k.lang, count(*) AS n_docs, CAST(sum(b.n) AS BIGINT) AS n_tokens_bpe
       |FROM kept k JOIN bpe b ON k.doc_id = b.doc_id
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Unigram log-probability score per document — the simplest LM
    * quality signal (docs with very low average token log-prob under
    * the corpus unigram model are boilerplate/noise candidates).
    * Two compact-key shuffles: corpus term frequencies equi-joined
    * back on the term (the vocabulary grows with the corpus, so the
    * freq table must NOT be forced broadcast — the optimizer
    * broadcasts it only while it fits), then a per-doc aggregate;
    * the corpus total IS a scalar broadcast. Logs are averaged per
    * doc, rounded at the output edge. */
  def unigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val terms = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
    val freqs = terms.groupBy(col("term")).agg(count(lit(1)).as("tf"))
    val total = freqs.agg(sum(col("tf")).as("corpus_tokens"))
    terms.join(freqs, "term")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        round(avg(log(col("tf").cast("double") / col("corpus_tokens"))), 4)
          .as("avg_logprob"))
      .orderBy(col("doc_id"))
  }

  val unigramLogprobSql: String =
    """WITH terms AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |freqs AS (SELECT term, count(*) AS tf FROM terms GROUP BY 1),
      |total AS (SELECT CAST(sum(tf) AS BIGINT) AS corpus_tokens FROM freqs)
      |SELECT doc_id, count(*) AS n_tokens,
      |       round(avg(ln(CAST(tf AS DOUBLE) / corpus_tokens)), 4) AS avg_logprob
      |FROM terms JOIN freqs USING (term) CROSS JOIN total
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Bigram conditional-LM document scoring — the CCNet-style LM
    * quality filter one order up from [[unigramLogprob]]: each
    * document's mean ln P(wᵢ | wᵢ₋₁) under the corpus's own bigram
    * model, where P(w₂|w₁) = count(w₁ w₂) / count(w₁ ·) with both
    * counts taken over the corpus bigram table (self-consistent
    * denominators — no off-by-one from document-final tokens).
    * Low-probability documents are word salad; suspiciously-high ones
    * are boilerplate — both tails get cut in a real pipeline. Plan
    * shape: the bigram stream is built with `zip_with` over the token
    * array zipped against its own 1-shifted slice — measured 4–5×
    * faster than the index-lambda form
    * (`transform(sequence(…), element_at)`), which dominated this
    * query's runtime, and degenerates to an empty array for 0/1-token
    * docs with no conditional. c2 is one count agg over the stream;
    * c1 (context count) re-aggregates the compact c2 model table by
    * its first word — model-table-sized shuffles, never a second pass
    * over the corpus — and the stream is joined exactly once, on the
    * model key. avg is rounded to 4 decimals so libm ulp differences
    * can't break the oracle (the [[unigramLogprob]] lesson). */
  def bigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val t = toks(col("text"))
    val bgArr = zip_with(
      slice(t, lit(1), greatest(size(t) - 1, lit(0))),
      slice(t, lit(2), greatest(size(t) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    val bg = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(bgArr).as("bigram"))
    val bgc = bg.groupBy(col("bigram")).agg(count(lit(1)).as("c2"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
    val ctx = bgc.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val model = bgc.join(ctx, "w1").select(col("bigram"), col("c2"), col("c1"))
    bg.join(model, "bigram")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(avg(log(col("c2").cast("double") / col("c1"))), 4).as("avg_logprob"))
      .orderBy(col("doc_id"))
  }

  val bigramLogprobSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |bg AS (
      |  SELECT doc_id,
      |         unnest(CASE WHEN len(w) >= 2
      |                     THEN list_transform(range(len(w) - 1), i -> w[i+1] || ' ' || w[i+2])
      |                     ELSE [] END) AS bigram
      |  FROM t),
      |bgc AS (SELECT bigram, count(*) AS c2 FROM bg GROUP BY 1),
      |ctx AS (SELECT split_part(bigram, ' ', 1) AS w1, count(*) AS c1 FROM bg GROUP BY 1)
      |SELECT doc_id, count(*) AS n_bigrams,
      |       round(avg(ln(CAST(c2 AS DOUBLE) / c1)), 4) AS avg_logprob
      |FROM bg JOIN bgc USING (bigram)
      |        JOIN ctx ON split_part(bg.bigram, ' ', 1) = ctx.w1
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** HEAPS' LAW fit — type growth V(N) ≈ k·N^β over 8 cumulative
    * doc_id-prefix checkpoints: β stable is healthy growth; β
    * drifting low means the crawl is recycling content
    * (template/boilerplate regression), high means OCR noise or
    * tokenizer breakage minting junk types — the corpus-growth
    * companion to the Zipf fit, tracked per ingest batch. TYPES here
    * are 3-token shingles, not unigrams: the synthetic corpus draws
    * from a FIXED word list (unigram V saturates inside the first
    * checkpoint — measured, and exactly the template-heavy shape
    * real boilerplate produces), while shingle types keep minting
    * combinatorially — the standard Heaps witness for such corpora.
    *
    * Scale shape: the naive formulation re-scans the corpus once per
    * checkpoint; this one exploits FIRST OCCURRENCE — V(t) = #{types
    * with min(doc_id) ≤ t} — so ONE (type → min doc_id) agg + one
    * per-doc token count serve all 8 checkpoints via a bounded ×8
    * conditional fold. ln's micro-quantized once per checkpoint,
    * regression moments exact decimal (the zipfFit discipline); the
    * degenerate zero-variance corpus (V or N constant across
    * checkpoints) yields NULL fit fields on BOTH engines rather than
    * a division error. */
  def heapsLaw(spark: SparkSession, dir: String): DataFrame = {
    val nCk = 8
    val docs = Tables.documents(spark, dir)
    val mx = docs.agg(max(col("doc_id")).as("mx"))
    val ks = explode(array((1 to nCk).map(lit(_)): _*)).as("k")
    // N(t_k): token mass of the doc_id-prefix at checkpoint k
    val nTok = docs.select(col("doc_id"), nToks(col("text")).as("nt"))
      .crossJoin(broadcast(mx))
      .select(ks, col("doc_id"), col("nt"), col("mx"))
      .filter(col("doc_id") * nCk < (col("mx") + 1) * col("k"))
      .groupBy(col("k")).agg(sum(col("nt")).as("n_tokens"))
    // V(t_k): 3-token shingle types first seen inside the prefix
    val t = toks(col("text"))
    val sh3 = zip_with(
      zip_with(
        slice(t, lit(1), greatest(size(t) - 2, lit(0))),
        slice(t, lit(2), greatest(size(t) - 2, lit(0))),
        (a, b) => concat(a, lit(" "), b)),
      slice(t, lit(3), greatest(size(t) - 2, lit(0))),
      (ab, c) => concat(ab, lit(" "), c))
    val vTerm = docs
      .select(col("doc_id"), explode(sh3).as("term"))
      .groupBy(col("term")).agg(min(col("doc_id")).as("fs"))
      .crossJoin(broadcast(mx))
      .select(ks, col("fs"), col("mx"))
      .filter(col("fs") * nCk < (col("mx") + 1) * col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("v_terms"))
    val pts = nTok.join(vTerm, "k")
      .select(round(log(col("n_tokens").cast("double")) * 1e6).cast("long").as("xq"),
        round(log(col("v_terms").cast("double")) * 1e6).cast("long").as("yq"),
        col("k"), col("n_tokens"), col("v_terms"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val m = pts.agg(count(lit(1)).as("n"),
      sum(dec(col("xq"))).as("sx"), sum(dec(col("yq"))).as("sy"),
      sum(dec(col("xq")) * col("yq")).as("sxy"),
      sum(dec(col("xq")) * col("xq")).as("sxx"),
      sum(dec(col("yq")) * col("yq")).as("syy"),
      max(when(col("k") === nCk, col("n_tokens"))).as("n_tokens_full"),
      max(when(col("k") === nCk, col("v_terms"))).as("v_terms_full"))
    val cov = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val varX = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val varY = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    val ok = varX > 0.0d && varY > 0.0d
    m.select(col("n").as("n_checkpoints"),
      col("n_tokens_full"), col("v_terms_full"),
      when(ok, round(cov / varX, 6)).as("beta"),
      when(ok, round(exp((col("sy").cast("double") -
        cov / varX * col("sx").cast("double")) / col("n") / 1e6), 4))
        .as("k_coeff"),
      when(ok, round(cov / sqrt(varX * varY), 6)).as("fit_r"))
  }

  val heapsLawSql: String =
    """WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
      |ck AS (SELECT unnest(range(1, 9)) AS k),
      |nt AS (
      |  SELECT k, sum(len(string_split(text, ' '))) AS n_tokens
      |  FROM documents CROSS JOIN mx CROSS JOIN ck
      |  WHERE doc_id * 8 < (mx + 1) * k
      |  GROUP BY 1),
      |fs AS (
      |  SELECT term, min(doc_id) AS fs
      |  FROM (SELECT doc_id,
      |               unnest(CASE WHEN len(w) >= 3
      |                 THEN list_transform(range(len(w) - 2),
      |                        i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
      |                 ELSE [] END) AS term
      |        FROM (SELECT doc_id, string_split(text, ' ') AS w
      |              FROM documents))
      |  GROUP BY 1),
      |vt AS (
      |  SELECT k, count(*) AS v_terms
      |  FROM fs CROSS JOIN mx CROSS JOIN ck
      |  WHERE fs.fs * 8 < (mx + 1) * k
      |  GROUP BY 1),
      |pts AS (
      |  SELECT CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT) AS xq,
      |         CAST(round(ln(CAST(v_terms AS DOUBLE)) * 1e6) AS BIGINT) AS yq,
      |         k, n_tokens, v_terms
      |  FROM nt JOIN vt USING (k)),
      |m AS (
      |  SELECT count(*) AS n,
      |         sum(CAST(xq AS HUGEINT)) AS sx, sum(CAST(yq AS HUGEINT)) AS sy,
      |         sum(CAST(xq AS HUGEINT) * yq) AS sxy,
      |         sum(CAST(xq AS HUGEINT) * xq) AS sxx,
      |         sum(CAST(yq AS HUGEINT) * yq) AS syy,
      |         max(CASE WHEN k = 8 THEN n_tokens END) AS n_tokens_full,
      |         max(CASE WHEN k = 8 THEN v_terms END) AS v_terms_full
      |  FROM pts)
      |SELECT CAST(n AS BIGINT) AS n_checkpoints,
      |       CAST(n_tokens_full AS BIGINT) AS n_tokens_full,
      |       CAST(v_terms_full AS BIGINT) AS v_terms_full,
      |       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
      |         round(CAST(n * sxy - sx * sy AS DOUBLE)
      |               / CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS beta,
      |       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
      |         round(exp((CAST(sy AS DOUBLE)
      |                - CAST(n * sxy - sx * sy AS DOUBLE)
      |                  / CAST(n * sxx - sx * sx AS DOUBLE)
      |                  * CAST(sx AS DOUBLE)) / n / 1e6), 4) END AS k_coeff,
      |       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
      |         round(CAST(n * sxy - sx * sy AS DOUBLE)
      |               / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
      |                      * CAST(n * syy - sy * sy AS DOUBLE)), 6) END AS fit_r
      |FROM m""".stripMargin

  /** ENTROPY RATE of the corpus token stream — H(next | prev) =
    * H(bigram) − H(unigram), the information-theoretic compressibility
    * census an LM-data pipeline tracks across corpus versions (a
    * dedup/quality pass that removes boilerplate RAISES the rate; a
    * crawl regression that injects templated text DROPS it). Plug-in
    * estimator from the n-gram count tables: H = ln N − (Σ c·ln c)/N.
    *
    * Scale shape: two compact-key n-gram aggs (the same tables the LM
    * operators build — Zipf-bounded) and one scalar fold; no joins
    * back to the data. Parity: each distinct count's ln c is
    * quantized ONCE to nano-units, weighted by the exact integer c,
    * summed exactly — order-free; the single trailing ln N is one
    * double op on one exact integer. */
  def entropyRate(spark: SparkSession, dir: String): DataFrame = {
    val t = toks(col("text"))
    val bgArr = zip_with(
      slice(t, lit(1), greatest(size(t) - 1, lit(0))),
      slice(t, lit(2), greatest(size(t) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    def h(counts: DataFrame): DataFrame =
      counts
        .select(col("c"),
          // dec(38,0)-FIRST: multiplying in long would wrap silently
          // for c >~ 5e8 (c * ~2e10 exceeds Long.MaxValue) while the
          // DuckDB oracle multiplies in HUGEINT — the same discipline
          // as andersonDarling/hurst/heapsLaw
          (col("c").cast("decimal(38,0)") *
            round(lit(1e9) * log(col("c").cast("double"))).cast("long"))
            .cast("decimal(38,0)").as("clc_nano"))
        .agg(sum(col("c").cast("decimal(38,0)")).as("n"), sum(col("clc_nano")).as("s"))
        .select(col("n").cast("long").as("n"),
          round(lit(1e6) * (log(col("n").cast("double")) -
            col("s").cast("double") / (col("n").cast("double") * lit(1e9))))
            .cast("long").as("h_micro"))
    val uni = h(Tables.documents(spark, dir)
      .select(explode(t).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c")))
    val bi = h(Tables.documents(spark, dir)
      .select(explode(bgArr).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c")))
    uni.select(col("n").as("n_tokens"), col("h_micro").as("h_unigram_micro"))
      .crossJoin(bi.select(col("n").as("n_bigrams"),
        col("h_micro").as("h_bigram_micro")))
      .withColumn("entropy_rate_micro",
        col("h_bigram_micro") - col("h_unigram_micro"))
  }

  val entropyRateSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |uc AS (SELECT tok, count(*) AS c
      |       FROM (SELECT unnest(w) AS tok FROM t) GROUP BY 1),
      |bc AS (SELECT bg, count(*) AS c
      |       FROM (SELECT unnest(CASE WHEN len(w) >= 2
      |                     THEN list_transform(range(len(w) - 1),
      |                                         i -> w[i+1] || ' ' || w[i+2])
      |                     ELSE [] END) AS bg FROM t) GROUP BY 1),
      |hu AS (
      |  SELECT CAST(sum(c) AS BIGINT) AS n,
      |         CAST(round(1e6 * (ln(CAST(sum(c) AS DOUBLE))
      |           - CAST(sum(CAST(c AS HUGEINT)
      |                      * CAST(round(1e9 * ln(CAST(c AS DOUBLE))) AS BIGINT))
      |                  AS DOUBLE)
      |             / (CAST(sum(c) AS DOUBLE) * 1e9))) AS BIGINT) AS h_micro
      |  FROM uc),
      |hb AS (
      |  SELECT CAST(sum(c) AS BIGINT) AS n,
      |         CAST(round(1e6 * (ln(CAST(sum(c) AS DOUBLE))
      |           - CAST(sum(CAST(c AS HUGEINT)
      |                      * CAST(round(1e9 * ln(CAST(c AS DOUBLE))) AS BIGINT))
      |                  AS DOUBLE)
      |             / (CAST(sum(c) AS DOUBLE) * 1e9))) AS BIGINT) AS h_micro
      |  FROM bc)
      |SELECT hu.n AS n_tokens, hu.h_micro AS h_unigram_micro,
      |       hb.n AS n_bigrams, hb.h_micro AS h_bigram_micro,
      |       hb.h_micro - hu.h_micro AS entropy_rate_micro
      |FROM hu CROSS JOIN hb""".stripMargin

  /** Quality gate with reject reasons — the reference's accept/reject
    * side-output pattern (main.py:12–14) applied at corpus scale:
    * every document gets a verdict and the FIRST failing rule as its
    * reason. The COMPLETE Gopher rule set: word-count bounds, bullet /
    * ellipsis line-shape ratios, symbol-to-word ratio, mean word
    * length, stop-word presence, token repetition. The corpus text is
    * single-space normalized, so the query deterministically
    * manufactures each messy shape a real crawl has (doc_id%5 buckets:
    * symbol runs, bullet lines, ellipsis line-ends, stop-word-free
    * text) before gating — thresholds sized so EVERY reason fires at
    * sf0.01. Still pure per-row expressions (map-only at any scale);
    * delegates to the facade's qualityVerdict (one definition of the
    * rule order). */
  def qualityGate(spark: SparkSession, dir: String): DataFrame = {
    val b = col("doc_id") % 5
    val messy =
      when(b === 1, concat(col("text"), lit(" # # #")))
        .when(b === 2, regexp_replace(col("text"), " ", "\n• "))
        .when(b === 3, regexp_replace(col("text"), " ", "…\n"))
        .when(b === 4, array_join(
          filter(split(col("text"), " "), w => !w.isin("the", "a")), " "))
        .otherwise(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.api.Graft.qualityVerdict(messy,
          minTokens = 20, maxTokens = 90,
          maxDupRatio = 0.6, maxMeanWordLen = 5.0,
          maxBulletRatio = 0.5, maxEllipsisRatio = 0.5,
          maxSymbolRatio = 0.02, minStopwords = 1).as("reason"))
      .groupBy(col("reason"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("example_doc"))
      .orderBy(col("reason"))
  }

  val qualityGateSql: String =
    """WITH messy AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 5 = 1 THEN text || ' # # #'
      |              WHEN doc_id % 5 = 2 THEN replace(text, ' ', chr(10) || '• ')
      |              WHEN doc_id % 5 = 3 THEN replace(text, ' ', '…' || chr(10))
      |              WHEN doc_id % 5 = 4 THEN array_to_string(list_filter(string_split(text, ' '), w -> w NOT IN ('the','a')), ' ')
      |              ELSE text END AS text
      |  FROM documents),
      |feat AS (
      |  SELECT doc_id,
      |         list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS w,
      |         string_split(text, chr(10)) AS lines,
      |         length(text) - length(regexp_replace(text, '[#…]', '', 'g')) AS symbols
      |  FROM messy)
      |SELECT reason, count(*) AS n_docs, min(doc_id) AS example_doc
      |FROM (
      |  SELECT doc_id,
      |         CASE WHEN len(w) < 20 THEN 'too-short'
      |              WHEN len(w) > 90 THEN 'too-long'
      |              WHEN CAST(len(list_filter(lines, l -> l LIKE '•%')) AS DOUBLE) / len(lines) > 0.5 THEN 'bullet-heavy'
      |              WHEN CAST(len(list_filter(lines, l -> l LIKE '%…')) AS DOUBLE) / len(lines) > 0.5 THEN 'ellipsis-heavy'
      |              WHEN CAST(symbols AS DOUBLE) / len(w) > 0.02 THEN 'symbol-heavy'
      |              WHEN CAST(length(array_to_string(w, '')) AS DOUBLE) / len(w) > 5.0 THEN 'word-salad'
      |              WHEN len(list_intersect(list_distinct(w), ['the','a','and','of','to','in'])) < 1 THEN 'few-stopwords'
      |              WHEN 1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) > 0.6 THEN 'repetitive'
      |              ELSE 'ok' END AS reason
      |  FROM feat)
      |GROUP BY reason ORDER BY reason""".stripMargin

  /** Decontamination against a benchmark split: docs with
    * doc_id % 20 == 0 stand in for the eval suite; every other doc is
    * the training corpus. A train doc is contaminated if it shares at
    * least one 4-gram shingle with any eval doc (4 chosen so the
    * sf0.01 corpus yields a meaningful contaminated set — the real
    * knob is per-benchmark). Scale shape: the eval shingle set is
    * bounded by the benchmark, so the corpus side never shuffles —
    * see [[graft.api.Graft.decontaminate]]. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.api.Graft.decontaminate(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0),
      "text", "doc_id", k = 4)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  }

  val decontaminateSql: String =
    """WITH sh AS (
      |  SELECT doc_id, CASE WHEN len(words) >= 4
      |       THEN list_transform(range(len(words) - 3), i -> array_to_string(words[i+1:i+4], ' '))
      |       ELSE [text] END AS ngs
      |  FROM (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents)),
      |ev AS (SELECT DISTINCT unnest(ngs) AS ng FROM sh WHERE doc_id % 20 = 0),
      |tr AS (SELECT doc_id, unnest(ngs) AS ng FROM sh WHERE doc_id % 20 <> 0)
      |SELECT tr.doc_id, count(DISTINCT tr.ng) AS n_overlap
      |FROM tr JOIN ev ON tr.ng = ev.ng
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** N-GRAM NOVELTY score — per document, the share of its distinct
    * shingles that NO earlier document (doc_id = ingestion order)
    * contains: ~1 means genuinely new text, ~0 means the corpus
    * already said all of it (the complement of the near-dup signal —
    * it catches gradual content exhaustion that pairwise dedup
    * can't see). First occurrence = min(doc_id) per shingle key:
    * one shuffle on the (hashed long) shingle, one doc-keyed
    * reassembly — the same two-exchange shape as the line dedup.
    * Exact integer counts → exact ratio. */
  def novelty(spark: SparkSession, dir: String): DataFrame = {
    // doc-keyed explicit repartition below the shingle explode (r15):
    // parallelizes the md5-shingle map work the one-split documents
    // scan serialized into a single task (stage-measured 0.83 s); the
    // shuffled rows are compact pre-explode doc rows. Explicit N
    // because AQE's byte-based coalescing would fold the small
    // exchange back to one partition.
    val sh = Tables.documents(spark, dir)
      .repartition(spark.sessionState.conf.numShufflePartitions, col("doc_id"))
      .select(col("doc_id"), explode(array_distinct(
        transform(graft.api.Graft.shingles(col("text"), 3),
          s => conv(substring(md5(s.cast("binary")), 1, 8), 16, 10).cast("long"))))
        .as("sh"))
    // first-occurrence via a shingle-keyed WINDOW min instead of
    // groupBy + join-back (r15): the old shape referenced `sh` twice,
    // and because its top operator is an explode (not an Exchange),
    // ReuseExchange could not dedup it — the whole md5-shingle pass
    // over the corpus ran twice per invocation. One exchange on the
    // shingle key now serves both the min and the row stream; skew
    // profile is identical (a hot shingle landed in one reducer under
    // groupBy too).
    sh.withColumn("first_doc", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        count_if(col("first_doc") === col("doc_id")).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_shingles"), 4).as("novelty"))
      .orderBy(col("doc_id"))
  }

  val noveltySql: String =
    s"""WITH sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(s,
       |           x -> ('0x' || substring(md5(x), 1, 8))::BIGINT))) AS sh
       |  FROM (SELECT doc_id, CASE WHEN len(words) >= 3
       |          THEN list_transform(range(len(words) - 2), i -> array_to_string(words[i+1:i+3], ' '))
       |          ELSE [text] END AS s
       |        FROM (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents))),
       |fst AS (SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY 1)
       |SELECT s.doc_id, count(*) AS n_shingles,
       |       CAST(count(*) FILTER (WHERE f.first_doc = s.doc_id) AS BIGINT) AS n_novel,
       |       round(CAST(count(*) FILTER (WHERE f.first_doc = s.doc_id) AS DOUBLE)
       |             / count(*), 4) AS novelty
       |FROM sh s JOIN fst f ON s.sh = f.sh
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** QUANTILE NORMALIZATION across sources — the curation report that
    * makes heterogeneous sources comparable: each source's own score
    * deciles (within-source ntile over the (score, id) total order —
    * deterministic) are mapped onto the GLOBAL score deciles, so "this
    * source's decile 9 spans what the whole corpus calls decile 5" is
    * read straight off the table. The per-source quality drift this
    * exposes is why mixture rebalancing can't threshold raw scores.
    * Integer scores (n_chars), exact bounds; the global decile table
    * is 10 rows — a broadcast join onto the compact (source, decile)
    * census. Both tilings run on the [[HistQuantile]] histogram path
    * (r11 — no data-sized single-partition exchange; the census is
    * invariant to intra-score tie order, so the oracle's literal
    * ntile still hash-matches). */
  def qualityQnorm(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, dir)
      .select(col("source"), col("n_chars").cast("long").as("score"))
    // r11: both decile assignments via the HistQuantile discipline —
    // the global ntile funneled every document through one task; the
    // per-(source, decile) census (count/min/max) is tie-invariant,
    // so it folds over the per-source SCORE histogram (score = length
    // in chars: a compact, domain-bounded key), and the global decile
    // bounds are ntileBuckets over the same scores
    val glob = HistQuantile.ntileBuckets(d.select(col("score")), col("score"), 10)
      .select(col("bucket").as("decile"), col("lo").as("global_min"),
        col("hi").as("global_max"))
    val wCum = Window.partitionBy(col("source")).orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cells = d.groupBy(col("source"), col("score")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("source"))))
    cells
      .withColumn("d1", expr(HistQuantile.ntileSqlExpr("cum - c + 1", "n", 10)))
      .withColumn("d2", expr(HistQuantile.ntileSqlExpr("cum", "n", 10)))
      .select(col("source"), col("score"), col("n"),
        explode(sequence(col("d1"), col("d2"))).as("decile"))
      .groupBy(col("source"), col("decile"))
      .agg(min(col("score")).as("raw_min"), max(col("score")).as("raw_max"),
        max(col("n")).as("n"))
      .withColumn("n_docs",
        expr("n div 10 + (CASE WHEN decile <= n % 10 THEN 1L ELSE 0L END)"))
      .join(broadcast(glob), "decile")
      .select(col("source"), col("decile"), col("n_docs"),
        col("raw_min"), col("raw_max"), col("global_min"), col("global_max"))
      .orderBy(col("source"), col("decile"))
  }

  val qualityQnormSql: String =
    """WITH d AS (
      |  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS score,
      |         CAST(ntile(10) OVER (PARTITION BY source
      |           ORDER BY n_chars, doc_id) AS BIGINT) AS decile,
      |         CAST(ntile(10) OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS gdecile
      |  FROM documents),
      |gdec AS (
      |  SELECT gdecile AS decile, min(score) AS global_min, max(score) AS global_max
      |  FROM d GROUP BY 1)
      |SELECT s.source, s.decile, s.n_docs, s.raw_min, s.raw_max,
      |       g.global_min, g.global_max
      |FROM (SELECT source, decile, count(*) AS n_docs,
      |             min(score) AS raw_min, max(score) AS raw_max
      |      FROM d GROUP BY 1, 2) s
      |JOIN gdec g ON s.decile = g.decile
      |ORDER BY s.source, s.decile""".stripMargin

  /** CURRICULUM ORDERING — the data-scheduling pass that feeds a
    * training run clean text first: documents rank by a deterministic
    * quality proxy (stopword density — exact integer counts, no model
    * in the loop), split into three curriculum phases by ntile over
    * the (quality, doc_id) total order (ties broken by id so the
    * tiling is engine-exact), and each phase reports its mass so the
    * schedule is auditable. Composes with [[shuffleBlocks]]: phase
    * picks WHEN a doc trains, the epoch hash picks its order within
    * the phase.
    *
    * Executed on the [[HistQuantile]] cell-histogram path (r11 — the
    * ntile window funneled every document through one task): with the
    * tie-break refined to (q_micro DESC, n_tokens, doc_id) — applied
    * identically in the oracle — documents inside one
    * (q_micro, n_tokens) cell are interchangeable, so each cell's
    * contribution to each phase is the integer overlap of its global
    * rank interval with the phase's ntile rank range, and the phase
    * sums of n_tokens/q_micro are exact cell-weighted products. Only
    * the compact cell table ever sorts. */
  def curriculum(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = toks(col("text"))
    val stop = array(Seq("the", "a", "and", "of", "to", "in").map(lit): _*)
    val qMicro = round(
      size(filter(t, w => array_contains(stop, w))).cast("double") * 1000000d
        / size(t)).cast("long")
    val wCum = Window.orderBy(col("q_micro").desc, col("n_tokens"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(nToks(col("text")).as("n_tokens"), qMicro.as("q_micro"))
      .groupBy(col("q_micro"), col("n_tokens")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(Window.partitionBy()))
      .withColumn("d1", expr(HistQuantile.ntileSqlExpr("cum - c + 1", "n", 3)))
      .withColumn("d2", expr(HistQuantile.ntileSqlExpr("cum", "n", 3)))
      .select(col("q_micro"), col("n_tokens"), col("c"), col("cum"), col("n"),
        explode(sequence(col("d1"), col("d2"))).as("phase"))
      // ntile(3) phase p covers ranks [(p−1)q + min(p−1,m) + 1, pq + min(p,m)]
      .withColumn("s_d",
        expr("(phase - 1) * (n div 3) + least(phase - 1, n % 3) + 1"))
      .withColumn("e_d", expr("phase * (n div 3) + least(phase, n % 3)"))
      .withColumn("k", least(col("cum"), col("e_d")) -
        greatest(col("cum") - col("c") + 1L, col("s_d")) + 1L)
      .groupBy(col("phase"))
      .agg(sum(col("k")).as("n_docs"),
        sum(col("k") * col("n_tokens")).as("n_tokens"),
        round(sum(col("k") * col("q_micro")).cast("double") / sum(col("k")) / 1e6, 6)
          .as("mean_quality"))
      .orderBy(col("phase"))
  }

  val curriculumSql: String =
    """WITH q AS (
      |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
      |         CAST(round(CAST(len(list_filter(w,
      |             x -> list_contains(['the','a','and','of','to','in'], x))) AS DOUBLE)
      |           * 1000000 / len(w)) AS BIGINT) AS q_micro
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
      |SELECT phase, count(*) AS n_docs,
      |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
      |       round(CAST(sum(q_micro) AS DOUBLE) / count(*) / 1e6, 6) AS mean_quality
      |FROM (SELECT doc_id, n_tokens, q_micro,
      |             CAST(ntile(3) OVER (ORDER BY q_micro DESC, n_tokens, doc_id) AS BIGINT) AS phase
      |      FROM q)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** BLOOM-SKETCHED decontamination — the scale path for when the
    * eval suite outgrows an exact broadcast set (a full benchmark
    * battery can reach GBs of shingles): the eval shingles compress
    * into a ~1% -FPR Bloom filter (bounded KB–MB sketch shipped
    * inside the predicate literal, same contract as
    * [[graft.operators.Joins.bloomPrunedJoin]]), the 100 TB train
    * side is pruned MAP-SIDE at the scan by Spark's codegen'd
    * BloomFilterMightContain, and only sketch-positive shingles reach
    * the exact join — where false positives die. The result is
    * therefore byte-identical to [[decontaminate]], which is exactly
    * why the same oracle checks both: the sketch changes the plan,
    * never the answer. */
  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val docs = Tables.documents(spark, dir)
    val evalNg = docs.filter(col("doc_id") % 20 === 0)
      .select(explode(graft.api.Graft.shingles(col("text"), 4)).as("__ng")).distinct()
    val bloom = evalNg.select(xxhash64(col("__ng")).as("h"))
      .stat.bloomFilter("h", 200000L, 0.01)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    docs.filter(col("doc_id") % 20 =!= 0)
      .select(col("doc_id"), explode(graft.api.Graft.shingles(col("text"), 4)).as("__ng"))
      .filter(call_function("graft_bloom_might_contain",
        lit(bytes), xxhash64(col("__ng"))))
      .join(broadcast(evalNg), "__ng")
      .groupBy("doc_id").agg(count_distinct(col("__ng")).as("n_overlap"))
      .orderBy(col("doc_id"))
  }

  /** PII scrub: redact emails / phone numbers / IPv4 addresses and
    * count each type. The corpus text has no PII, so the query
    * deterministically plants one of each per doc (derived from
    * doc_id, identically in the oracle) and verifies the redaction by
    * md5 of the scrubbed text — the counts prove detection, the
    * digest proves the rewrite. Map-only at any scale; delegates to
    * [[graft.api.Graft.redactPii]]. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val aug = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com or +1-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" from 10."), (col("doc_id") % 256).cast("string"),
      lit(".0."), ((col("doc_id") * 7) % 256).cast("string"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), aug.as("__aug"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("__aug"), lit(graft.api.Graft.emailPattern), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("__aug"), lit(graft.api.Graft.phonePattern), lit(0)))
          .cast("long").as("n_phones"),
        size(regexp_extract_all(col("__aug"), lit(graft.api.Graft.ipv4Pattern), lit(0)))
          .cast("long").as("n_ips"),
        md5(graft.api.Graft.redactPii(col("__aug")).cast("binary")).as("scrubbed_md5"))
      .orderBy(col("doc_id"))
  }

  val piiScrubSql: String =
    """WITH aug AS (
      |  SELECT doc_id,
      |         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-' ||
      |         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' from 10.' ||
      |         CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS t
      |  FROM documents)
      |SELECT doc_id,
      |       CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
      |       CAST(len(regexp_extract_all(t, '\+\d{1,2}-\d{3}-\d{4}')) AS BIGINT) AS n_phones,
      |       CAST(len(regexp_extract_all(t, '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')) AS BIGINT) AS n_ips,
      |       md5(regexp_replace(regexp_replace(regexp_replace(t,
      |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |           '\+\d{1,2}-\d{3}-\d{4}', '<PHONE>', 'g'),
      |           '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g')) AS scrubbed_md5
      |FROM aug ORDER BY doc_id""".stripMargin

  /** Sliding-window chunking (window 50 tokens, stride 30 → 20-token
    * overlap): the document→training-example fan-out, one row per
    * chunk with token count and content digest. Pure map-side explode
    * — no shuffle below the output sort. Delegates to
    * [[graft.api.Graft.chunkOverlap]]. */
  def chunkOverlap(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(graft.api.Graft.chunkOverlap(col("text"), window = 50, stride = 30))
          .as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        nToks(col("chunk")).as("n_chunk_tokens"),
        md5(col("chunk").cast("binary")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  val chunkOverlapSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      |c AS (SELECT doc_id,
      |             unnest(range(greatest(0, (len(words) - 50 + 29) // 30) + 1)) AS chunk_idx,
      |             words
      |      FROM t)
      |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
      |       CAST(len(words[chunk_idx*30 + 1 : chunk_idx*30 + 50]) AS BIGINT) AS n_chunk_tokens,
      |       md5(array_to_string(words[chunk_idx*30 + 1 : chunk_idx*30 + 50], ' ')) AS chunk_md5
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  /** Language-mix rebalancing: deterministically downsample each
    * language toward an equal target share (total/n_langs docs),
    * keeping low-resource languages whole (keep fraction capped at
    * 1). The per-lang fraction table is |langs| rows — the optimizer
    * broadcasts it; the corpus side is a map-side filter plus one
    * summary aggregation. The keep decision is
    * [[graft.api.Graft.keepByFraction]] — md5-deterministic, so the
    * same doc set is kept on any re-run over any subset. */
  def mixRebalance(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // materialized ONCE: every downstream branch (target, fracs, kept,
    // final join) reuses the |langs|-row table — without the
    // checkpoint each branch would re-scan and re-aggregate the corpus
    // (Spark does not CSE across DataFrame reuse)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .localCheckpoint()
    val target = counts.agg(
      sum(col("n_docs")).as("__total"), count(lit(1)).as("__nlangs"))
    // keep fraction in exact integer MICRO-units: no doubles anywhere,
    // so there is no rounding tie for two engines to disagree on
    // (the resampleInterp lesson)
    val fracs = counts.crossJoin(broadcast(target))
      .select(col("lang"), col("n_docs"),
        least(lit(1000000L),
          expr("(__total * 1000000) DIV (__nlangs * n_docs)")).as("keep_frac_e6"))
    val kept = docs.join(fracs.select(col("lang"), col("keep_frac_e6")), "lang")
      .filter(graft.api.Graft.keepByMicroFraction(col("doc_id"), col("keep_frac_e6")))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
    fracs.join(kept, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        col("keep_frac_e6"))
      .orderBy(col("lang"))
  }

  val mixRebalanceSql: String =
    s"""WITH counts AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
       |tgt AS (SELECT sum(n_docs) AS total, count(*) AS nlangs FROM counts),
       |fracs AS (SELECT lang, n_docs,
       |                 least(1000000, ((SELECT total FROM tgt) * 1000000)
       |                                // ((SELECT nlangs FROM tgt) * n_docs)) AS keep_frac_e6
       |          FROM counts),
       |kept AS (
       |  SELECT d.lang, count(*) AS n_kept
       |  FROM documents d JOIN fracs f ON d.lang = f.lang
       |  WHERE ${idHashSql("d.doc_id")} * 1000000 < f.keep_frac_e6 * 4294967296
       |  GROUP BY 1)
       |SELECT f.lang, f.n_docs, coalesce(k.n_kept, 0) AS n_kept,
       |       CAST(f.keep_frac_e6 AS BIGINT) AS keep_frac_e6
       |FROM fracs f LEFT JOIN kept k ON f.lang = k.lang
       |ORDER BY 1""".stripMargin

  /** Corpus-global duplicate-span removal — the C4/RefinedWeb "line
    * dedup" pass: any fixed-width span of text that occurs ANYWHERE
    * else in the corpus keeps only its first occurrence (ordered by
    * (doc_id, position)); every later occurrence is cut and the
    * documents are reassembled from what survives. This is distinct
    * from document-level dedup (exact/MinHash/semantic): boilerplate
    * — headers, license blocks, navigation chrome — repeats across
    * otherwise-unique pages and survives document-level passes.
    *
    * The synthetic corpus has no newlines, so W-word NON-overlapping
    * segments stand in for lines (a real deployment splits on '\n' or
    * sentence bounds — only the segmenting expression changes).
    *
    * Scale shape: one map-side fan-out (×n/W rows, each a short
    * string), ONE shuffle keyed by the segment text (the window;
    * at 100 TB the key would be md5(segment) — same cardinality,
    * fixed width), with the rank<=1 filter pruned per-partition by
    * WindowGroupLimit, then one groupBy(doc_id) to reassemble.
    * Everything is linear in corpus tokens; nothing is pairwise. */
  def lineDedup(spark: SparkSession, dir: String): DataFrame = {
    val w = 10
    val t = toks(col("text"))
    val nSeg = ceil(size(t).cast("double") / w).cast("int")
    val segs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), nSeg - 1),
          i => array_join(slice(t, i * w + 1, lit(w)), " "))).as(Seq("seg_idx", "seg")))
    val firstWin = org.apache.spark.sql.expressions.Window.partitionBy(col("seg"))
      .orderBy(col("doc_id"), col("seg_idx"))
    segs
      .withColumn("occ", row_number().over(firstWin))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segments"),
        count(when(col("occ") === 1, 1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("occ") === 1,
              struct(col("seg_idx"), col("seg"))))),
            s => s("seg")), " ").as("new_text"))
      .orderBy(col("doc_id"))
  }

  val lineDedupSql: String =
    """WITH segs AS (
      |  SELECT doc_id,
      |         CAST(i AS INTEGER) AS seg_idx,
      |         array_to_string(list_slice(t, i*10 + 1, i*10 + 10), ' ') AS seg
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t,
      |               unnest(range(CAST(ceil(len(string_split(text, ' ')) / 10.0) AS BIGINT))) AS i
      |        FROM documents)),
      |occd AS (
      |  SELECT doc_id, seg_idx, seg,
      |         row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS occ
      |  FROM segs)
      |SELECT doc_id,
      |       count(*) AS n_segments,
      |       count(*) FILTER (WHERE occ = 1) AS n_kept,
      |       coalesce(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE occ = 1), '') AS new_text
      |FROM occd
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    * A-ES): each doc draws key = −ln(u)/w with u a deterministic
    * md5-uniform in (0,1) and w = n_chars; the k smallest keys are
    * the sample, with inclusion probability proportional to weight.
    * This is how a token-budgeted sub-corpus is drawn from 100 TB in
    * ONE pass with no sampling state: the key is a map-only
    * projection and the selection is top-k (TakeOrderedAndProject —
    * per-partition heads of size k, then a k·P driver merge; no
    * global sort, no shuffle of the corpus).
    *
    * Determinism: u = (idHash + 0.5)/2³² is strictly inside (0,1)
    * (no ln(0) poles), reproducible from the doc id alone — the
    * same md5 contract as [[splitHash]]. The emitted key is
    * quantized to nano-units so the hash compare is ulp-proof; the
    * top-k cut uses the raw double, where a cross-engine flip would
    * need two keys within one ulp of each other. */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame = {
    val k = 100
    val u = (graft.api.Graft.idHash(col("doc_id")).cast("double") + lit(0.5)) /
      lit(4294967296.0)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        (-log(u) / col("n_chars").cast("double")).as("__key"))
      .orderBy(col("__key"), col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("n_chars"),
        round(col("__key") * 1e9).cast("long").as("key_nano"))
      .orderBy(col("key_nano"), col("doc_id"))
  }

  val sampleWeightedSql: String =
    s"""SELECT doc_id, n_chars, key_nano FROM (
       |  SELECT doc_id, n_chars,
       |         CAST(round(-ln((${idHashSql("doc_id")} + 0.5) / 4294967296.0)
       |                    / n_chars * 1e9) AS BIGINT) AS key_nano
       |  FROM documents
       |  ORDER BY -ln((${idHashSql("doc_id")} + 0.5) / 4294967296.0) / n_chars, doc_id
       |  LIMIT 100)
       |ORDER BY key_nano, doc_id""".stripMargin

  /** CCNet-style perplexity bucketing: within each language, rank
    * documents by their unigram-LM score and cut the ranking into
    * head / middle / tail thirds (head = most in-distribution). Real
    * pipelines keep head+middle and drop or down-weight tail; the
    * emitted audit view is the per-(lang, bucket) census with the
    * score range each bucket spans. Plan shape: the [[unigramLogprob]]
    * stages (tf-idf shuffle class), one lang-partitioned ntile window,
    * one census agg — ntile partitions by language so no partition
    * ever holds more than one language's docs; ties broken by doc_id
    * so the cut is deterministic across engines. */
  def pplBuckets(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = unigramLogprob(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("lang")), "doc_id")
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("avg_logprob").desc, col("doc_id"))
    scored
      .withColumn("bucket",
        element_at(array(lit("head"), lit("middle"), lit("tail")), ntile(3).over(w)))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("avg_logprob")).as("best_logprob"),
        min(col("avg_logprob")).as("worst_logprob"))
      .orderBy(col("lang"), col("bucket"))
  }

  val pplBucketsSql: String =
    """WITH terms AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |freqs AS (SELECT term, count(*) AS tf FROM terms GROUP BY 1),
      |total AS (SELECT CAST(sum(tf) AS BIGINT) AS corpus_tokens FROM freqs),
      |scored AS (
      |  SELECT doc_id, round(avg(ln(CAST(tf AS DOUBLE) / corpus_tokens)), 4) AS avg_logprob
      |  FROM terms JOIN freqs USING (term) CROSS JOIN total GROUP BY doc_id),
      |bucketed AS (
      |  SELECT d.lang, s.avg_logprob,
      |         ['head', 'middle', 'tail'][ntile(3) OVER (
      |           PARTITION BY d.lang ORDER BY s.avg_logprob DESC, s.doc_id)] AS bucket
      |  FROM scored s JOIN documents d USING (doc_id))
      |SELECT lang, bucket, count(*) AS n_docs,
      |       max(avg_logprob) AS best_logprob,
      |       min(avg_logprob) AS worst_logprob
      |FROM bucketed GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score each raw
    * document by how much more likely its hashed-n-gram features are
    * under a target-domain bag-of-buckets model than under the raw
    * corpus model. Here the target domain is the English slice and
    * features are md5-hashed unigram buckets (k=256, the same
    * engine-portable id-hash contract as [[splitHash]]); both bucket
    * models are Laplace-smoothed (+1 / +k). Per-doc weight = mean over
    * its tokens of ln(p_target(b)/p_raw(b)) — docs whose vocabulary
    * looks target-like score high and survive the resampling step.
    *
    * Scale shape: the feature models are FIXED-width (k rows each,
    * independent of corpus size) — genuinely always-broadcastable,
    * unlike the open-vocabulary [[unigramLogprob]] freq table. The
    * corpus is scanned exactly TWICE (once to train both models —
    * raw and target counts come out of ONE conditional agg whose
    * exchange carries only k-row map-side partials — and once as the
    * probe stream, which is never shuffled: broadcast join + per-doc
    * reduce). Model totals are an unpartitioned window over the
    * k-row table, not a rescan. */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 256
    val stream = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), explode(toks(col("text"))).as("term"))
      .withColumn("b", graft.api.Graft.idHash(col("term")) % k)
    val counts = stream.groupBy(col("b")).agg(
      count(lit(1)).as("cr"),
      count(when(col("lang") === "en", 1)).as("ct"))
    val all = Window.partitionBy()
    val model = counts
      .withColumn("tr", sum(col("cr")).over(all))
      .withColumn("tt", sum(col("ct")).over(all))
      .select(col("b"),
        log(((col("ct") + 1).cast("double") / (col("tt") + k)) /
            ((col("cr") + 1).cast("double") / (col("tr") + k))).as("llr"))
    stream.join(broadcast(model), "b")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(col("llr")), 4).as("dsir_weight"))
      .orderBy(col("doc_id"))
  }

  val dsirWeightsSql: String =
    s"""WITH stream AS (
       |  SELECT doc_id, lang,
       |         ${idHashSql("term")} % 256 AS b
       |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
       |        FROM documents)),
       |counts AS (
       |  SELECT b, count(*) AS cr,
       |         count(*) FILTER (WHERE lang = 'en') AS ct
       |  FROM stream GROUP BY 1),
       |model AS (
       |  SELECT b,
       |         ln((CAST(ct + 1 AS DOUBLE) / (sum(ct) OVER () + 256)) /
       |            (CAST(cr + 1 AS DOUBLE) / (sum(cr) OVER () + 256))) AS llr
       |  FROM counts)
       |SELECT doc_id, count(*) AS n_tokens,
       |       round(avg(llr), 4) AS dsir_weight
       |FROM stream JOIN model USING (b)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Deterministic epoch shuffle into fixed dataloader shards — how a
    * 100 TB corpus is "shuffled" per training epoch without ever
    * globally sorting it: each doc's shard is md5(epoch ":" doc_id)
    * mod nShards (a NEW pseudo-random permutation every epoch,
    * reproducible from the ids alone — same contract as
    * [[splitHash]]), and within a shard the read order is the same
    * hash. Map-only assignment + one shard-keyed census agg; the
    * audit view emits both epochs' shard censuses plus each shard's
    * first-read doc, so a reshuffle (different first_doc / token
    * spread between epochs) is directly visible to the oracle. */
  def shuffleBlocks(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nShards = 8
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), nToks(col("text")).as("n_toks"),
        explode(array(lit(1), lit(2))).as("epoch"))
      .withColumn("h", graft.api.Graft.idHash(
        concat(col("epoch").cast("string"), lit(":"), col("doc_id").cast("string"))))
      .withColumn("shard", pmod(col("h"), lit(nShards)).cast("long"))
    val census = base.groupBy(col("epoch"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
    val w = Window.partitionBy(col("epoch"), col("shard"))
      .orderBy(col("h"), col("doc_id"))
    val firsts = base.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("epoch"), col("shard"), col("doc_id").as("first_doc"))
    census.join(firsts, Seq("epoch", "shard"))
      .select(col("epoch"), col("shard"), col("n_docs"), col("n_tokens"),
        col("first_doc"))
      .orderBy(col("epoch"), col("shard"))
  }

  val shuffleBlocksSql: String = {
    val h = idHashSql("(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR))")
    s"""WITH base AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS n_toks, epoch,
       |         $h AS h,
       |         $h % 8 AS shard
       |  FROM documents CROSS JOIN (SELECT unnest([1, 2]) AS epoch)),
       |census AS (
       |  SELECT epoch, shard, count(*) AS n_docs,
       |         CAST(sum(n_toks) AS BIGINT) AS n_tokens
       |  FROM base GROUP BY 1, 2),
       |firsts AS (
       |  SELECT epoch, shard, doc_id AS first_doc FROM (
       |    SELECT epoch, shard, doc_id,
       |           row_number() OVER (PARTITION BY epoch, shard
       |             ORDER BY h, doc_id) AS rn
       |    FROM base) WHERE rn = 1)
       |SELECT epoch, shard, n_docs, n_tokens, first_doc
       |FROM census JOIN firsts USING (epoch, shard)
       |ORDER BY epoch, shard""".stripMargin
  }

  /** Text normalization — the first stage of every corpus pipeline
    * (cf. the cleaning passes in C4/Gopher-style pipelines): lowercase,
    * strip non-alphanumeric characters, collapse whitespace runs, trim.
    * Pure per-row expressions (RE2∩Java regex subset, same contract as
    * the PII scrub) — at 100 TB this is a map-only pass that fuses into
    * whole-stage codegen with whatever filter follows it. */
  def normalizeText(spark: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        norm.as("text_norm"),
        length(col("text")).cast("long").as("n_chars_raw"),
        length(norm).cast("long").as("n_chars_norm"),
        (norm =!= col("text")).as("changed"))
      .orderBy(col("doc_id"))
  }

  val normalizeTextSql: String =
    """SELECT doc_id,
      |       trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS text_norm,
      |       len(text) AS n_chars_raw,
      |       len(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS n_chars_norm,
      |       trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) <> text AS changed
      |FROM documents ORDER BY doc_id""".stripMargin

  private val bpeTrainRounds = 8

  /** BPE merge-rule LEARNING (Sennrich-style) — the training half of
    * the tokenizer whose APPLY half is [[bpeTokens]]/[[bpePieces]]:
    * learn the `bpeTrainRounds` highest-frequency adjacent-symbol
    * merges from the corpus itself.
    *
    * Scale design: the corpus is scanned ONCE into a word-frequency
    * table (Zipf-bounded — ~millions of rows at 100 TB, independent of
    * corpus bytes), and every training round iterates on that compact
    * checkpointed table, never on the corpus. Each round is one
    * pair-count aggregation (explode of adjacent symbol pairs weighted
    * by word freq) plus a 1-row argmax collect — the same bounded
    * driver-collect pattern as the k-means codebook trainers. The
    * merge is applied by a DOUBLE-delimiter-fenced string replace:
    * boundaries are `␁␁` and the pattern `␁l␁␁r␁` consumes only ONE
    * delimiter of each outer fence, so adjacent occurrences (`abab`,
    * `aaaa`) still match back-to-back — the scan is exactly BPE's
    * left-to-right non-overlapping merge, identical in both engines.
    *
    * Output: one row per learned merge (step, left/right symbol,
    * merged symbol, pair frequency at merge time). */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val D = "\u0001"
    val base = Tables.documents(spark, dir)
      .select(explode(toks(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .localCheckpoint() // word-freq table: all rounds iterate on this
    // measured-tiny training rounds (r16): each round's pair-count
    // argmax over the Zipf-bounded word-freq table ran as several AQE
    // query-stage driver jobs with per-round codegen recompiles (the
    // seg expression grows each round, so plans never repeat). The
    // count reads the just-checkpointed table, stops one row past
    // TinyRows (exact below it) and gates the mode off when the
    // vocabulary measures large.
    val nWords = base.limit(graft.api.Graft.TinyRows.toInt + 1).count()
    graft.api.Graft.scoped(spark, s"bpe_train:$nWords",
        graft.api.Graft.tiny(spark, nWords)) { s =>
      val words = graft.api.Graft.on(s, base)
      var seg: Column = concat(lit(D + D), regexp_replace(col("w"), "(.)", "$1" + D + D))
      val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
      var r = 1
      var exhausted = false
      while (r <= bpeTrainRounds && !exhausted) {
        val sy = split(trim(seg, D), D + D)
        val n = size(sy)
        val pairs = zip_with(slice(sy, lit(1), n - 1), slice(sy, lit(2), n - 1),
          (a, b) => struct(a.as("l"), b.as("r")))
        val top = words
          .select(col("freq"), explode(pairs).as("p"))
          .groupBy(col("p").getField("l").as("l"), col("p").getField("r").as("r"))
          .agg(sum(col("freq")).as("cnt"))
          .orderBy(col("cnt").desc, col("l"), col("r"))
          .limit(1).collect() // bounded: exactly one row per round
        if (top.isEmpty) exhausted = true
        else {
          val (l, rt, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          merges += ((r, l, rt, l + rt, c))
          seg = replace(seg, lit(D + l + D + D + rt + D), lit(D + l + rt + D))
          r += 1
        }
      }
      merges.toSeq.toDF("step", "left_sym", "right_sym", "merged", "pair_count")
    }.orderBy(col("step"))
  }

  /** Differential oracle for [[bpeTrain]]: the same `bpeTrainRounds`
    * rounds unrolled as chained CTEs (segment → pair-count → argmax →
    * fenced replace), generated by the same loop structure. */
  /** The training CTE chain (seg_1 … best_N), shared by
    * [[bpeTrainSql]] and [[bpeE2eSql]]. */
  private val bpeTrainCtes: String = {
    val d = "chr(1)"
    val rounds = (1 to bpeTrainRounds).map { r =>
      s"""pairs_$r AS (
         |  SELECT p.l AS l, p.r AS r, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq,
         |               unnest(list_transform(range(1, len(sy)),
         |                 i -> struct_pack(l := sy[i], r := sy[i+1]))) AS p
         |        FROM (SELECT freq, string_split(trim(seg, $d), $d || $d) AS sy
         |              FROM seg_$r))
         |  GROUP BY 1, 2),
         |best_$r AS (SELECT l, r, cnt FROM pairs_$r ORDER BY cnt DESC, l, r LIMIT 1),
         |seg_${r + 1} AS (
         |  SELECT w, freq, replace(seg, $d || l || $d || $d || r || $d, $d || l || r || $d) AS seg
         |  FROM seg_$r, best_$r)""".stripMargin
    }.mkString(",\n")
    s"""seg_1 AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq,
       |         $d || $d || regexp_replace(w, '(.)', '\\1' || $d || $d, 'g') AS seg
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) > 0 GROUP BY w),
       |$rounds""".stripMargin
  }

  val bpeTrainSql: String = {
    val union = (1 to bpeTrainRounds)
      .map(r => s"SELECT $r AS step, * FROM best_$r").mkString("\n  UNION ALL ")
    s"""WITH $bpeTrainCtes
       |SELECT CAST(step AS INT) AS step, l AS left_sym, r AS right_sym,
       |       l || r AS merged, cnt AS pair_count
       |FROM (
       |  $union)
       |ORDER BY step""".stripMargin
  }

  /** Trainer → tokenizer END-TO-END: the merge table [[bpeTrain]]
    * learns becomes the [[graft.functions.BpeVocab]] the native
    * tokenizer runs — the full lifecycle a real tokenizer has (learn
    * on the corpus, then tokenize the corpus), closed inside the
    * engine. The collected merge table is the MODEL ARTIFACT (≤8
    * rows — the same bounded-collect class as the k-means
    * codebooks); pieces longer than the vocab's max or under 2 chars
    * are dropped exactly as a vocab file loader would drop them, and
    * an empty harvest falls back to the demo vocab so the op is
    * total. Output: per-language compression census (learned-subword
    * tokens vs whitespace tokens vs characters).
    *
    * The oracle re-learns the same merges (shared [[bpeTrainCtes]])
    * into a vocab CTE and segments by a correlated longest-match
    * lookup against that TABLE — greedy longest-match-first without
    * naming any piece statically, so even the model artifact rides
    * the differential gate. (The demo-vocab fallback is engine-only
    * totality armor; the gate corpora always harvest merges.) The
    * roundtrip law — pieces re-concatenate to every word — is
    * additionally pinned in RoundSevenOpsSpec. */
  def bpeE2e(spark: SparkSession, dir: String): DataFrame = {
    val merges = bpeTrain(spark, dir).collect()
    val learned = merges.map(_.getString(3))
      .filter(p => p.length >= 2 && p.length <= graft.functions.BpeVocab.maxPieceLen)
      .distinct.toSeq
    val vocab =
      if (learned.nonEmpty) new graft.functions.BpeVocab(learned)
      else graft.functions.BpeVocab.default
    Tables.documents(spark, dir)
      .select(col("lang"),
        nToks(col("text")).as("ws"),
        graft.api.Graft.bpeTokenCount(col("text"), vocab).as("bpe"),
        (length(col("text")) - nToks(col("text")) + 1).cast("long").as("chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("n_tokens_ws"),
        sum(col("bpe")).as("n_tokens_bpe"),
        round(sum(col("bpe")).cast("double") / sum(col("chars")), 4)
          .as("bpe_per_char"))
      .orderBy(col("lang"))
  }

  /** Tokenizer COVERAGE audit — the vocab-quality metric a tokenizer
    * team watches: what fraction of corpus characters the multi-char
    * pieces absorb vs the single-char fallback (OOV rate), per
    * language. A language whose coverage lags is under-served by the
    * vocabulary — the signal that drives vocab re-training. Map-only
    * native segmentation + one compact-key agg; the oracle's
    * recursive replay counts the same single-char fallback steps. */
  def bpeCoverage(spark: SparkSession, dir: String): DataFrame = {
    val pieces = graft.api.Graft.bpeTokens(col("text"))
    Tables.documents(spark, dir)
      .select(col("lang"),
        size(pieces).cast("long").as("t"),
        size(filter(pieces, p => length(p) === 1)).cast("long").as("s"),
        (length(col("text")) - nToks(col("text")) + 1).cast("long").as("c"))
      .groupBy(col("lang"))
      .agg(sum(col("t")).as("n_pieces"),
        sum(col("s")).as("n_single_char"),
        round(lit(1.0) - sum(col("s")).cast("double") / sum(col("c")).cast("double"), 4)
          .as("coverage"))
      .orderBy(col("lang"))
  }

  val bpeCoverageSql: String = {
    val step = graft.functions.BpeVocab.stepSql("word", "pos")
    s"""WITH RECURSIVE words AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
       |         generate_subscripts(string_split(text, ' '), 1) AS widx
       |  FROM documents),
       |seg AS (
       |  SELECT doc_id, widx, word, 1 AS pos, 0 AS ntok, 0 AS nsingle FROM words
       |  UNION ALL
       |  SELECT doc_id, widx, word, pos + $step, ntok + 1,
       |         nsingle + CASE WHEN $step = 1 THEN 1 ELSE 0 END
       |  FROM seg WHERE pos <= len(word)),
       |fin AS (
       |  SELECT doc_id, CAST(sum(ntok) AS BIGINT) AS t,
       |         CAST(sum(nsingle) AS BIGINT) AS s
       |  FROM seg WHERE pos > len(word) GROUP BY 1),
       |chars AS (
       |  SELECT doc_id, lang,
       |         len(text) - len(string_split(text, ' ')) + 1 AS c
       |  FROM documents)
       |SELECT lang, CAST(sum(t) AS BIGINT) AS n_pieces,
       |       CAST(sum(s) AS BIGINT) AS n_single_char,
       |       round(1.0 - CAST(sum(s) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 4) AS coverage
       |FROM fin JOIN chars USING (doc_id) GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Span-corruption pair generation (T5/BART-style denoising
    * objective): deterministic ~14% span starts (md5 of doc:position,
    * span length 3, overlaps merge), each contiguous masked run
    * collapses to ONE `<mask>` sentinel in the input while the target
    * carries sentinel + original span — the (corrupted, target)
    * training pairs a denoising LM consumes.
    *
    * Every mask decision is a PURE FUNCTION of (doc_id, position) —
    * masked(i) and boundary(i) are computed from three hash probes,
    * no lag window — so the whole pass is map-only fan-out plus one
    * doc-keyed reassembly agg (the line-dedup shuffle class), and the
    * oracle replays the identical hashes. */
  def spanCorrupt(spark: SparkSession, dir: String): DataFrame = {
    def h(j: Column): Column =
      pmod(graft.api.Graft.idHash(
        concat(col("doc_id").cast("string"), lit(":"), j.cast("string"))), lit(7)) === 0
    def mk(j: Column): Column =
      h(j) || (j >= 2 && h(j - 1)) || (j >= 3 && h(j - 2))
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("i0", "tok")))
      .withColumn("i", (col("i0") + 1).cast("long"))
      .withColumn("m", mk(col("i")))
      .withColumn("b", mk(col("i")) && (col("i") === 1 || !mk(col("i") - 1)))
      .withColumn("tok_c",
        when(col("b"), lit("<mask>")).when(!col("m"), col("tok")))
      .withColumn("tok_t",
        when(col("b"), concat(lit("<mask> "), col("tok")))
          .when(col("m"), col("tok")))
    base.groupBy(col("doc_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("tok_c").isNotNull,
            struct(col("i"), col("tok_c").as("t"))))),
          e => e.getField("t")), " ").as("corrupted"),
        array_join(transform(
          array_sort(collect_list(when(col("tok_t").isNotNull,
            struct(col("i"), col("tok_t").as("t"))))),
          e => e.getField("t")), " ").as("target"),
        sum(col("m").cast("long")).as("n_masked"),
        sum(col("b").cast("long")).as("n_spans"))
      .orderBy(col("doc_id"))
  }

  val spanCorruptSql: String = {
    def h(j: String) =
      s"(${idHashSql(s"(CAST(doc_id AS VARCHAR) || ':' || CAST($j AS VARCHAR))")} % 7 = 0)"
    def mk(j: String) =
      s"(${h(j)} OR ($j >= 2 AND ${h(s"($j - 1)")}) OR ($j >= 3 AND ${h(s"($j - 2)")}))"
    s"""WITH base AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS i, tok,
       |         ${mk("i")} AS m,
       |         (${mk("i")} AND (i = 1 OR NOT ${mk("(i - 1)")})) AS b
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
       |               generate_subscripts(string_split(text, ' '), 1) AS i
       |        FROM documents)),
       |toks AS (
       |  SELECT doc_id, i, m, b,
       |         CASE WHEN b THEN '<mask>' WHEN NOT m THEN tok END AS tok_c,
       |         CASE WHEN b THEN '<mask> ' || tok WHEN m THEN tok END AS tok_t
       |  FROM base)
       |SELECT doc_id,
       |       coalesce(array_to_string(list(tok_c ORDER BY i) FILTER (WHERE tok_c IS NOT NULL), ' '), '') AS corrupted,
       |       coalesce(array_to_string(list(tok_t ORDER BY i) FILTER (WHERE tok_t IS NOT NULL), ' '), '') AS target,
       |       CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
       |       CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n_spans
       |FROM toks GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  val bpeE2eSql: String = {
    val union = (1 to bpeTrainRounds)
      .map(r => s"SELECT l || r AS piece FROM best_$r").mkString("\n  UNION ALL ")
    s"""WITH RECURSIVE $bpeTrainCtes,
       |vocab AS (
       |  SELECT DISTINCT piece FROM (
       |  $union)
       |  WHERE len(piece) BETWEEN 2 AND ${graft.functions.BpeVocab.maxPieceLen}),
       |wordse AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
       |         generate_subscripts(string_split(text, ' '), 1) AS widx
       |  FROM documents),
       |segr AS (
       |  SELECT doc_id, widx, word, 1 AS pos, 0 AS ntok FROM wordse
       |  UNION ALL
       |  SELECT doc_id, widx, word,
       |         pos + coalesce((SELECT max(len(v.piece)) FROM vocab v
       |                         WHERE substr(word, pos, len(v.piece)) = v.piece), 1),
       |         ntok + 1
       |  FROM segr WHERE pos <= len(word)),
       |fin AS (
       |  SELECT doc_id, CAST(sum(ntok) AS BIGINT) AS nb
       |  FROM segr WHERE pos > len(word) GROUP BY 1),
       |base AS (
       |  SELECT doc_id, lang,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
       |         len(text) - len(string_split(text, ' ')) + 1 AS chars
       |  FROM documents)
       |SELECT lang, count(*) AS n_docs,
       |       CAST(sum(ws) AS BIGINT) AS n_tokens_ws,
       |       CAST(sum(nb) AS BIGINT) AS n_tokens_bpe,
       |       round(CAST(sum(nb) AS DOUBLE) / CAST(sum(chars) AS DOUBLE), 4) AS bpe_per_char
       |FROM base JOIN fin USING (doc_id) GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Per-domain document cap — the crawl-pipeline rule that no single
    * source may dominate the corpus (Common-Crawl-style pipelines cap
    * pages per domain): keep each source's `domainCap` best documents
    * by a deterministic (quality-proxy, id) order, and AUDIT the
    * dropped mass per source — the same no-silent-truncation contract
    * as the band-bucket and posting-list caps. One window over the
    * source key; the census aggregates the same ranked rows. */
  private val domainCapN = 90

  def domainCap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("rn", row_number().over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rn") <= domainCapN, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rn") > domainCapN, 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("rn") > domainCapN, col("n_chars")).otherwise(0L)).as("chars_dropped"))
      .orderBy(col("source"))
  }

  val domainCapSql: String =
    s"""SELECT source, count(*) AS n_docs,
       |       CAST(sum(CASE WHEN rn <= $domainCapN THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       CAST(sum(CASE WHEN rn > $domainCapN THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |       CAST(sum(CASE WHEN rn > $domainCapN THEN n_chars ELSE 0 END) AS BIGINT) AS chars_dropped
       |FROM (SELECT source, n_chars,
       |             row_number() OVER (PARTITION BY source
       |               ORDER BY n_chars DESC, doc_id) AS rn
       |      FROM documents)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Instruction-pair formatting — the SFT data-prep step: each
    * document becomes a (prompt, response) example under a fixed chat
    * template, split at 40% of its tokens (prompt = head, response =
    * tail). Pure per-row array slicing — map-only, template literals
    * identical in the oracle. Real pipelines swap the split heuristic
    * for annotations; the formatting/budget machinery is the same. */
  def instructionPairs(spark: SparkSession, dir: String): DataFrame = {
    val t = toks(col("text"))
    val n = size(t)
    val cut = greatest(lit(1L), floor((n * 2) / lit(5)).cast("long"))
    val prompt = array_join(slice(t, lit(1), cut), " ")
    val response = array_join(slice(t, cut + 1, n - cut), " ")
    Tables.documents(spark, dir)
      .filter(nToks(col("text")) >= 5)
      .select(col("doc_id"),
        concat(lit("<|user|> "), prompt, lit(" <|assistant|> "), response).as("example"),
        cut.cast("long").as("n_prompt_tokens"),
        (n - cut).cast("long").as("n_response_tokens"))
      .orderBy(col("doc_id"))
  }

  val instructionPairsSql: String =
    """SELECT doc_id,
      |       '<|user|> ' || array_to_string(t[1:cut], ' ') ||
      |       ' <|assistant|> ' || array_to_string(t[cut+1:len(t)], ' ') AS example,
      |       CAST(cut AS BIGINT) AS n_prompt_tokens,
      |       CAST(len(t) - cut AS BIGINT) AS n_response_tokens
      |FROM (
      |  SELECT doc_id, t, greatest(1, (len(t) * 2) // 5) AS cut
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |  WHERE len(t) >= 5)
      |ORDER BY doc_id""".stripMargin

  /** NEGATIVE SAMPLING (word2vec-style, unigram^0.75) — per document,
    * [[negK]] deterministic draws from the corpus unigram distribution
    * raised to 3/4 (the standard smoothing that up-weights the tail).
    * Three determinism tricks make it differential-oracle-checkable:
    *  - freq^0.75 is computed as sqrt(sqrt(freq³)) — freq³ is an
    *    exact-in-double integer and IEEE sqrt is correctly rounded, so
    *    BOTH engines produce bit-identical weights (no libm pow);
    *  - the CDF is an integer cumsum of micro-quantized weights in
    *    term order — exact, order-fixed;
    *  - each draw is md5(doc_id:slot) mod W — reproducible from ids.
    * The inverse-CDF lookup uses the SAME grid trick as
    * [[graft.operators.Joins.gridRangeJoin]]: CDF intervals explode to
    * the weight-axis cells they cover, draws map to one cell, the
    * lookup is an equi join + residual — never a nested loop. The
    * vocabulary is capped to the top [[negVocab]] terms (freq desc —
    * the head carries almost all unigram mass), a bounded broadcast
    * model artifact like every codebook here. */
  private val negK = 4
  private val negVocab = 1024
  private val negGrid = 256

  def negativeSamples(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val tf = docs.select(explode(toks(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
    val wv = Window.orderBy(col("freq").desc, col("term"))
    val vocab = tf.withColumn("rn", row_number().over(wv))
      .filter(col("rn") <= negVocab).drop("rn")
      .withColumn("wq",
        round(sqrt(sqrt(col("freq") * col("freq") * col("freq"))) * 1000).cast("long"))
    val wc = Window.orderBy(col("term"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cdf = vocab.withColumn("hi", sum(col("wq")).over(wc))
      .withColumn("lo", col("hi") - col("wq"))
    val total = cdf.agg(max(col("hi")).as("w_total"))
    val cellW = expr(s"w_total div $negGrid + 1")
    val cdfCells = cdf.crossJoin(broadcast(total))
      .select(col("term"), col("freq"), col("lo"), col("hi"),
        explode(sequence(col("lo").divide(cellW).cast("long"),
          (col("hi") - 1).divide(cellW).cast("long"))).as("cell"))
    val draws = docs.select(col("doc_id"))
      .select(col("doc_id"), explode(sequence(lit(1), lit(negK))).as("slot"))
      .crossJoin(broadcast(total))
      .withColumn("u", pmod(graft.api.Graft.idHash(
        concat(col("doc_id").cast("string"), lit(":"), col("slot").cast("string"))),
        col("w_total")))
      .withColumn("cell", col("u").divide(cellW).cast("long"))
    draws.join(cdfCells, "cell")
      .where(col("u") >= col("lo") && col("u") < col("hi"))
      .select(col("doc_id"), col("slot").cast("long").as("slot"),
        col("term").as("neg_term"), col("freq").as("term_freq"))
      .orderBy(col("doc_id"), col("slot"))
  }

  val negativeSamplesSql: String =
    s"""WITH tf AS (
       |  SELECT t AS term, count(*) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
       |  GROUP BY 1),
       |vocab AS (
       |  SELECT term, freq,
       |         CAST(round(sqrt(sqrt(CAST(freq AS DOUBLE) * freq * freq)) * 1000) AS BIGINT) AS wq
       |  FROM (SELECT term, freq,
       |               row_number() OVER (ORDER BY freq DESC, term) AS rn
       |        FROM tf)
       |  WHERE rn <= $negVocab),
       |cdf AS (
       |  SELECT term, freq, wq,
       |         CAST(sum(wq) OVER (ORDER BY term
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS hi
       |  FROM vocab),
       |tot AS (SELECT max(hi) AS w_total FROM cdf),
       |draws AS (
       |  SELECT doc_id, slot,
       |         ${"('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(slot AS VARCHAR)), 1, 8))::BIGINT"}
       |           % w_total AS u
       |  FROM documents, (SELECT unnest(range(1, $negK + 1)) AS slot), tot)
       |SELECT d.doc_id, CAST(d.slot AS BIGINT) AS slot,
       |       c.term AS neg_term, c.freq AS term_freq
       |FROM draws d JOIN cdf c ON d.u >= c.hi - c.wq AND d.u < c.hi
       |ORDER BY d.doc_id, d.slot""".stripMargin

  /** Tokenizer FERTILITY audit — subword tokens per whitespace word,
    * per language: the cross-lingual tokenizer-bias number every
    * multilingual training run reports (a language whose fertility is
    * 2× pays 2× the sequence length for the same text — the motivation
    * for vocabulary rebalancing). Rides the SAME native BPE tokenizer
    * and the SAME whitespace-token contract the `corpus_bpe_tokens`
    * family pins; per-lang ratio from exact integer sums (one double
    * division, ppm-rounded). Map-only tokenize + one compact-key agg. */
  def fertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), nToks(col("text")).as("w"),
        graft.api.Graft.bpeTokenCount(col("text"), defaultVocab).as("b"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("sum_words"),
        sum(col("b")).as("sum_bpe"))
      .withColumn("fertility_ppm",
        round(lit(1e6) * col("sum_bpe") / col("sum_words")).cast("long"))
      .orderBy(col("lang"))

  val fertilitySql: String =
    s"""WITH RECURSIVE
       |$bpeCtes,
       |perdoc AS (
       |  SELECT d.lang, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS w, b.n
       |  FROM documents d JOIN bpe b ON d.doc_id = b.doc_id)
       |SELECT lang, count(*) AS n_docs,
       |       CAST(sum(w) AS BIGINT) AS sum_words,
       |       CAST(sum(n) AS BIGINT) AS sum_bpe,
       |       CAST(round(1e6 * CAST(sum(n) AS BIGINT) / CAST(sum(w) AS BIGINT)) AS BIGINT)
       |         AS fertility_ppm
       |FROM perdoc GROUP BY 1 ORDER BY 1""".stripMargin

  /** Skip-gram CO-OCCURRENCE counts — the word2vec/GloVe training-
    * data pass: every (center, context) token pair within a forward
    * window of 2 positions, counted corpus-wide, top-15. MAP-ONLY
    * pair generation (r13, replacing the r11 explode + positional
    * equi join — the worst row in the r12 probe table at 4.3×/10×):
    * the window is intra-document by definition, so the pairs fall
    * straight out of zipping the token array with its own
    * offset-slices — (a[i], a[i+o]) for o ∈ {1,2} — with no
    * (doc_id, position) shuffle at all. The old plan shuffled
    * ~3×tokens positional rows into a join whose only purpose was to
    * look up a value the array already holds. What remains is ONE
    * shuffle: the pair-count agg, map-side combined onto realized
    * (center, context) keys (Zipf-compact — the [[negativeSamples]]
    * vocabulary argument), then a TakeOrdered(15). At 100 TB this is
    * scan + combine; nothing grows with anything but token count. */
  def cooccurrence(spark: SparkSession, dir: String): DataFrame = {
    def pairsAt(a: Column, o: Int): Column =
      zip_with(
        slice(a, lit(1), greatest(size(a) - lit(o), lit(0))),
        slice(a, lit(1 + o), greatest(size(a) - lit(o), lit(0))),
        (x, y) => struct(x.as("center"), y.as("context")))
    val a = toks(col("text"))
    Tables.documents(spark, dir)
      .select(explode(concat(pairsAt(a, 1), pairsAt(a, 2))).as("p"))
      .groupBy(col("p.center").as("center"), col("p.context").as("context"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("center"), col("context"))
      .limit(15)
  }

  val cooccurrenceSql: String =
    """WITH tokpos AS (
      |  SELECT doc_id,
      |         generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
      |         unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |centers AS (
      |  SELECT doc_id, pos + off.off AS pos2, tok AS center
      |  FROM tokpos, (SELECT unnest([1, 2]) AS off) off),
      |pairs AS (
      |  SELECT c.center, t.tok AS context
      |  FROM centers c JOIN tokpos t ON c.doc_id = t.doc_id AND c.pos2 = t.pos)
      |SELECT center, context, count(*) AS n
      |FROM pairs GROUP BY 1, 2
      |ORDER BY n DESC, center, context LIMIT 15""".stripMargin

  /** TEMPERATURE-SAMPLED language mix — the mT5/XLM-R multilingual
    * balancing rule beside [[mixRebalance]]'s explicit fraction table:
    * sampling weight w_l ∝ n_l^α with α = 0.3 lifts low-resource
    * languages without letting any dominate. The power evaluates as
    * exp(α·ln n) — composed from the TWO transcendentals the engine's
    * ln contract already proves engine-identical (entropy / MI /
    * logloss family), never a raw pow() whose libm rounding could
    * differ — and quantizes to integer micro-weights BEFORE the
    * normalizing sum. Targets are exact integer div shares of a
    * half-corpus budget; the realized sample re-uses the portable
    * md5-hash threshold (deterministic, no RNG), and the per-language
    * census audits target vs realized — the no-silent-truncation
    * contract. One compact (lang) agg + one map-only filter pass. */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val alpha = 0.3d
    val docs = Tables.documents(spark, dir)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .withColumn("w_micro",
        round(lit(1e6) * exp(lit(alpha) * log(col("n_docs").cast("double"))))
          .cast("long"))
      .withColumn("w_tot", sum(col("w_micro")).over(Window.partitionBy()))
      .withColumn("n_tot", sum(col("n_docs")).over(Window.partitionBy()))
      .withColumn("target_docs",
        expr("w_micro * (n_tot div 2) div w_tot"))
      .withColumn("keep_rate_ppm",
        least(lit(1000000L), expr("target_docs * 1000000 div n_docs")))
    val kept = docs
      .join(broadcast(counts.select(col("lang"), col("keep_rate_ppm"))), "lang")
      .filter(pmod(graft.api.Graft.idHash(col("doc_id")), lit(1000000L)) <
        col("keep_rate_ppm"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
    counts.join(kept, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("w_micro"),
        col("target_docs"), col("keep_rate_ppm"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy(col("lang"))
  }

  val temperatureMixSql: String =
    """WITH counts AS (
      |  SELECT lang, count(*) AS n_docs,
      |         CAST(round(1e6 * exp(0.3 * ln(CAST(count(*) AS DOUBLE)))) AS BIGINT)
      |           AS w_micro
      |  FROM documents GROUP BY 1),
      |norm AS (
      |  SELECT lang, n_docs, w_micro,
      |         w_micro * ((sum(n_docs) OVER ()) // 2) // (sum(w_micro) OVER ())
      |           AS target_docs
      |  FROM counts),
      |rates AS (
      |  SELECT *, least(1000000, target_docs * 1000000 // n_docs) AS keep_rate_ppm
      |  FROM norm),
      |kept AS (
      |  SELECT d.lang, count(*) AS n_kept
      |  FROM documents d JOIN rates r ON d.lang = r.lang
      |  WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
      |          % 1000000 < r.keep_rate_ppm
      |  GROUP BY 1)
      |SELECT r.lang, r.n_docs, r.w_micro,
      |       CAST(r.target_docs AS BIGINT) AS target_docs,
      |       CAST(r.keep_rate_ppm AS BIGINT) AS keep_rate_ppm,
      |       coalesce(k.n_kept, 0) AS n_kept
      |FROM rates r LEFT JOIN kept k ON r.lang = k.lang
      |ORDER BY r.lang""".stripMargin

  /** TRIGRAM STUPID-BACKOFF scoring on a held-out split — the LM
    * quality screen one order above [[bigramLogprob]], in the form
    * large-corpus practice actually uses (Brants et al.: no
    * normalization, fixed 0.4 backoff factor — "stupid" because at
    * web scale the unnormalized score ranks documents just as well).
    * Train on doc_id % 10 ≠ 0, score the held-out tenth, so the
    * backoff paths genuinely fire (scoring the training corpus would
    * never leave the trigram level). S(w₃|w₁w₂) = c₃/c₂(w₁w₂), else
    * 0.4·c₂(w₂w₃)/c₁(w₂), else 0.4²·max(c₁(w₃),1)/N (the OOV floor is
    * one pseudo-count). Per-trigram ln scores quantize to micro-nats
    * ONCE and integer-sum per document (per-term contract — no float
    * summation order); the census also reports which backoff level
    * answered. Scale: the model tables are Zipf-bounded compact-key
    * aggs; scoring is key-partitioned joins on trigram/bigram/word —
    * the honest distributed LM-scoring cost, no sort anywhere. */
  def trigramBackoff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val t = toks(col("text"))
    val emptyS = array().cast("array<string>")
    val triArr = when(size(t) >= 3,
      transform(sequence(lit(1), size(t) - 2),
        i => concat(element_at(t, i), lit(" "), element_at(t, i + 1),
          lit(" "), element_at(t, i + 2)))).otherwise(emptyS)
    val bgArr = when(size(t) >= 2,
      zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (a, b) => concat(a, lit(" "), b))).otherwise(emptyS)
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    val held = docs.filter(col("doc_id") % 10 === 0)
    val tc = train.select(explode(triArr).as("tg"))
      .groupBy(col("tg")).agg(count(lit(1)).as("c3"))
    val bc = train.select(explode(bgArr).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    val uc = train.select(explode(t).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val tot = train.select(explode(t).as("w")).agg(count(lit(1)).as("nt"))
    val ht = held.select(col("doc_id"), explode(triArr).as("tg"))
      .withColumn("w2", element_at(split(col("tg"), " "), 2))
      .withColumn("w3", element_at(split(col("tg"), " "), 3))
      .withColumn("w12", concat(element_at(split(col("tg"), " "), 1),
        lit(" "), col("w2")))
      .withColumn("w23", concat(col("w2"), lit(" "), col("w3")))
    def d(c: Column) = c.cast("double")
    val scored = ht
      .join(tc, Seq("tg"), "left")
      .join(bc.select(col("bg").as("w12"), col("c2").as("c2_ctx")), Seq("w12"), "left")
      .join(bc.select(col("bg").as("w23"), col("c2").as("c2_back")), Seq("w23"), "left")
      .join(uc.select(col("w").as("w2"), col("c1").as("c1_w2")), Seq("w2"), "left")
      .join(uc.select(col("w").as("w3"), col("c1").as("c1_w3")), Seq("w3"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("score",
        when(col("c3").isNotNull, d(col("c3")) / d(col("c2_ctx")))
          .when(col("c2_back").isNotNull,
            lit(0.4d) * d(col("c2_back")) / d(col("c1_w2")))
          .otherwise(lit(0.16d) *
            d(greatest(coalesce(col("c1_w3"), lit(0L)), lit(1L))) / d(col("nt"))))
      .withColumn("s_micro", round(lit(1e6) * log(col("score"))).cast("long"))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("c3").isNotNull, 1L).otherwise(0L)).as("n_hit3"),
        sum(when(col("c3").isNull && col("c2_back").isNotNull, 1L).otherwise(0L))
          .as("n_hit2"),
        sum(when(col("c3").isNull && col("c2_back").isNull, 1L).otherwise(0L))
          .as("n_uni"),
        sum(col("s_micro")).as("sum_micro"))
      .select(col("doc_id"), col("n_trigrams"), col("n_hit3"), col("n_hit2"),
        col("n_uni"),
        round(d(col("sum_micro")) / d(col("n_trigrams"))).cast("long")
          .as("avg_logscore_micro"))
      .orderBy(col("doc_id"))
  }

  val trigramBackoffSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |tri AS (
      |  SELECT doc_id,
      |         unnest(CASE WHEN len(w) >= 3
      |                THEN list_transform(range(len(w) - 2),
      |                       i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
      |                ELSE [] END) AS tg
      |  FROM t),
      |bgx AS (
      |  SELECT doc_id,
      |         unnest(CASE WHEN len(w) >= 2
      |                THEN list_transform(range(len(w) - 1),
      |                       i -> w[i+1] || ' ' || w[i+2])
      |                ELSE [] END) AS bg
      |  FROM t),
      |un AS (SELECT doc_id, unnest(w) AS wd FROM t),
      |tc AS (SELECT tg, count(*) AS c3 FROM tri WHERE doc_id % 10 <> 0 GROUP BY 1),
      |bc AS (SELECT bg, count(*) AS c2 FROM bgx WHERE doc_id % 10 <> 0 GROUP BY 1),
      |uc AS (SELECT wd, count(*) AS c1 FROM un WHERE doc_id % 10 <> 0 GROUP BY 1),
      |tot AS (SELECT count(*) AS nt FROM un WHERE doc_id % 10 <> 0),
      |ht AS (
      |  SELECT doc_id, tg, split_part(tg, ' ', 2) AS w2, split_part(tg, ' ', 3) AS w3,
      |         split_part(tg, ' ', 1) || ' ' || split_part(tg, ' ', 2) AS w12,
      |         split_part(tg, ' ', 2) || ' ' || split_part(tg, ' ', 3) AS w23
      |  FROM tri WHERE doc_id % 10 = 0),
      |sc AS (
      |  SELECT h.doc_id, tc.c3, b2.c2 AS c2_back,
      |         CASE WHEN tc.c3 IS NOT NULL
      |              THEN CAST(tc.c3 AS DOUBLE) / CAST(b1.c2 AS DOUBLE)
      |              WHEN b2.c2 IS NOT NULL
      |              THEN 0.4 * CAST(b2.c2 AS DOUBLE) / CAST(u2.c1 AS DOUBLE)
      |              ELSE 0.16 * CAST(greatest(coalesce(u3.c1, 0), 1) AS DOUBLE)
      |                   / CAST(tot.nt AS DOUBLE) END AS score
      |  FROM ht h
      |  LEFT JOIN tc ON h.tg = tc.tg
      |  LEFT JOIN bc b1 ON h.w12 = b1.bg
      |  LEFT JOIN bc b2 ON h.w23 = b2.bg
      |  LEFT JOIN uc u2 ON h.w2 = u2.wd
      |  LEFT JOIN uc u3 ON h.w3 = u3.wd
      |  CROSS JOIN tot)
      |SELECT doc_id, count(*) AS n_trigrams,
      |       CAST(sum(CASE WHEN c3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit3,
      |       CAST(sum(CASE WHEN c3 IS NULL AND c2_back IS NOT NULL THEN 1 ELSE 0 END)
      |         AS BIGINT) AS n_hit2,
      |       CAST(sum(CASE WHEN c3 IS NULL AND c2_back IS NULL THEN 1 ELSE 0 END)
      |         AS BIGINT) AS n_uni,
      |       CAST(round(CAST(sum(CAST(round(1e6 * ln(score)) AS BIGINT)) AS DOUBLE)
      |            / count(*)) AS BIGINT) AS avg_logscore_micro
      |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // Unigram KL divergence / cross-entropy between corpus halves
  // ---------------------------------------------------------------

  /** DISTRIBUTION-SHIFT AUDIT between two corpus slices — "did the
    * new crawl batch drift from the standing corpus?" as a number:
    * add-one-smoothed unigram distributions P (even doc_ids) and Q
    * (odd), reporting KL(P‖Q), KL(Q‖P) (asymmetry flags which side
    * has the novel mass) and the cross-entropy H(P,Q) a Q-trained
    * unigram LM would pay on P — the same quantity CCNet-style
    * quality pipelines threshold, here engine-native. Smoothing is
    * over the UNION vocabulary so both distributions share support
    * and every term is well-defined. Per-term micro-nat quantization
    * + integer sum (the [[graft.operators.StatsOps]] mutual-info
    * contract — no cross-term float order). Scale: one corpus explode
    * → (term, half) agg; all sums live on the Zipf-bounded vocab. */
  def klDivergence(spark: SparkSession, dir: String): DataFrame = {
    val terms = Tables.documents(spark, dir)
      .select((col("doc_id") % 2 === 0).as("in_a"),
        explode(toks(col("text"))).as("term"))
    val cells = terms.groupBy(col("term"))
      .agg(count_if(col("in_a")).as("ca"), count_if(!col("in_a")).as("cb"))
    val tot = cells.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
      count(lit(1)).as("v"))
    def d(c: Column) = c.cast("double")
    val m = cells.crossJoin(broadcast(tot))
      .withColumn("p", (d(col("ca")) + 1d) / (d(col("na")) + d(col("v"))))
      .withColumn("q", (d(col("cb")) + 1d) / (d(col("nb")) + d(col("v"))))
      .agg(max(col("na")).as("n_a_tokens"), max(col("nb")).as("n_b_tokens"),
        max(col("v")).as("vocab"),
        sum(round(lit(1e6) * col("p") * log(col("p") / col("q"))).cast("long"))
          .as("kl_ab_micro_nats"),
        sum(round(lit(1e6) * col("q") * log(col("q") / col("p"))).cast("long"))
          .as("kl_ba_micro_nats"),
        sum(round(lit(-1e6) * col("p") * log(col("q"))).cast("long"))
          .as("xent_ab_micro_nats"))
    m
  }

  val klDivergenceSql: String =
    """WITH terms AS (
      |  SELECT doc_id % 2 = 0 AS in_a, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |cells AS (
      |  SELECT term, CAST(count(*) FILTER (WHERE in_a) AS BIGINT) AS ca,
      |         CAST(count(*) FILTER (WHERE NOT in_a) AS BIGINT) AS cb
      |  FROM terms GROUP BY 1),
      |tot AS (SELECT sum(ca) AS na, sum(cb) AS nb, count(*) AS v FROM cells),
      |pq AS (
      |  SELECT (CAST(ca AS DOUBLE) + 1) / (CAST(na AS DOUBLE) + v) AS p,
      |         (CAST(cb AS DOUBLE) + 1) / (CAST(nb AS DOUBLE) + v) AS q,
      |         na, nb, v
      |  FROM cells, tot)
      |SELECT CAST(max(na) AS BIGINT) AS n_a_tokens,
      |       CAST(max(nb) AS BIGINT) AS n_b_tokens,
      |       CAST(max(v) AS BIGINT) AS vocab,
      |       CAST(sum(CAST(round(1e6 * p * ln(p / q)) AS BIGINT)) AS BIGINT)
      |         AS kl_ab_micro_nats,
      |       CAST(sum(CAST(round(1e6 * q * ln(q / p)) AS BIGINT)) AS BIGINT)
      |         AS kl_ba_micro_nats,
      |       CAST(sum(CAST(round(-1e6 * p * ln(q)) AS BIGINT)) AS BIGINT)
      |         AS xent_ab_micro_nats
      |FROM pq""".stripMargin

  // ---------------------------------------------------------------
  // Truncation-loss census (max_seq_len what-if)
  // ---------------------------------------------------------------

  /** TRUNCATION-LOSS CENSUS — "what does max_seq_len = 256 actually
    * COST, per source?": docs over the limit, token mass beyond it
    * (what a truncating loader throws away), and the loss rate in
    * ppm — the report that decides between truncation, [[packing]]
    * and [[slidingChunks]] for each source before a 100 TB tokenize
    * run is paid for. Pure map + compact-key agg; token counts are
    * the engine's whitespace contract (token_stats_ws). */
  def truncationLoss(spark: SparkSession, dir: String, maxLen: Long = 256L)
      : DataFrame = {
    val n = size(toks(col("text"))).cast("long")
    Tables.documents(spark, dir)
      .select(col("source"), n.as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count_if(col("n_tok") > maxLen).as("n_truncated"),
        sum(col("n_tok")).as("tokens_total"),
        sum(greatest(col("n_tok") - maxLen, lit(0L))).as("tokens_lost"))
      .select(col("source"), col("n_docs"), col("n_truncated"),
        col("tokens_total"), col("tokens_lost"),
        round(lit(1e6) * col("tokens_lost").cast("double") /
          col("tokens_total").cast("double")).cast("long").as("loss_ppm"))
      .orderBy(col("source"))
  }

  val truncationLossSql: String =
    """SELECT source, count(*) AS n_docs,
      |       CAST(count(*) FILTER (WHERE n_tok > 256) AS BIGINT) AS n_truncated,
      |       CAST(sum(n_tok) AS BIGINT) AS tokens_total,
      |       CAST(sum(greatest(n_tok - 256, 0)) AS BIGINT) AS tokens_lost,
      |       CAST(round(1e6 * CAST(sum(greatest(n_tok - 256, 0)) AS DOUBLE)
      |            / sum(n_tok)) AS BIGINT) AS loss_ppm
      |FROM (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |      FROM documents)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // Contamination SPAN report (where, not just whether)
  // ---------------------------------------------------------------

  /** CONTAMINATION SPANS — [[decontaminate]] answers WHICH train docs
    * overlap the eval set; this answers WHERE: every eval 4-gram hit
    * is located by its token position in the train doc, and the
    * per-doc report carries hit count, first/last position and the
    * contaminated share of the doc's grams — the triage view that
    * decides "drop the doc" vs "cut the span" (C4-style line surgery)
    * before a 100 TB decontamination pass. Same split and gram basis
    * as the decontaminate family; positions ride posexplode, the eval
    * side is the same bounded distinct-gram set. */
  def contaminationSpans(spark: SparkSession, dir: String): DataFrame = {
    val k = 4
    val words = graft.api.Graft.tokens(col("text"))
    val ngs = when(size(words) >= k,
      transform(sequence(lit(0), size(words) - k),
        i => concat_ws(" ", slice(words, i + 1, lit(k)))))
      .otherwise(array(col("text")))
    // doc-keyed explicit repartition below the n-gram explode (r15):
    // parallelizes the gram-string map work a one-split scan + AQE
    // coalescing serialized; the per-doc aggregate downstream is
    // satisfied by this partitioning. Explicit N — see novelty.
    val grams = Tables.documents(spark, dir)
      .repartition(spark.sessionState.conf.numShufflePartitions, col("doc_id"))
      .select(col("doc_id"), posexplode(ngs).as(Seq("pos", "ng")),
        (size(words) - k + 1).cast("long").as("n_grams"))
    val ev = grams.filter(col("doc_id") % 20 === 0)
      .select(col("ng")).distinct()
    grams.filter(col("doc_id") % 20 =!= 0)
      .join(ev, "ng")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("ng")).as("n_eval_ngrams"),
        count(lit(1)).as("n_hit_positions"),
        min(col("pos")).cast("long").as("first_pos"),
        max(col("pos")).cast("long").as("last_pos"),
        round(lit(1e6) * count(lit(1)).cast("double") /
          greatest(max(col("n_grams")), lit(1L)).cast("double"))
          .cast("long").as("hit_share_ppm"))
      .orderBy(col("doc_id"))
  }

  val contaminationSpansSql: String =
    """WITH g AS (
      |  SELECT doc_id, i AS pos, array_to_string(words[i+1:i+4], ' ') AS ng,
      |         CAST(len(words) - 3 AS BIGINT) AS n_grams
      |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      |       unnest(range(len(words) - 3)) AS t(i)
      |  WHERE len(words) >= 4
      |  UNION ALL
      |  SELECT doc_id, 0 AS pos, text AS ng, CAST(len(words) - 3 AS BIGINT)
      |  FROM (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents)
      |  WHERE len(words) < 4),
      |ev AS (SELECT DISTINCT ng FROM g WHERE doc_id % 20 = 0)
      |SELECT doc_id, count(DISTINCT g.ng) AS n_eval_ngrams,
      |       count(*) AS n_hit_positions,
      |       CAST(min(pos) AS BIGINT) AS first_pos,
      |       CAST(max(pos) AS BIGINT) AS last_pos,
      |       CAST(round(1e6 * CAST(count(*) AS DOUBLE)
      |            / greatest(max(n_grams), 1)) AS BIGINT) AS hit_share_ppm
      |FROM g JOIN ev USING (ng)
      |WHERE doc_id % 20 <> 0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // Deterministic sampling audit (Bernoulli / systematic / overlap)
  // ---------------------------------------------------------------

  /** SAMPLING AUDIT — the reproducibility report for the two
    * deterministic sampling schemes a pipeline mixes: hash-BERNOULLI
    * (md5(doc_id) < p·2³² — stable under corpus growth, the scheme
    * every "sample 10% for the quality sweep" should use) and
    * SYSTEMATIC (doc_id ≡ 7 mod 10 — stride sampling, stable but
    * PERIODIC: aliases with any id-correlated structure). Reports
    * each scheme's observed rate vs design (in ppm) and their
    * overlap vs the p/k independence expectation — the drift check
    * that catches a broken hash or an id-assignment change before a
    * downstream eval silently shifts. One map-only scan, one 1-row
    * census. */
  def sampleAudit(spark: SparkSession, dir: String): DataFrame = {
    val bern = graft.api.Graft.idHash(col("doc_id").cast("string")) <
      lit(429496729L) // floor(0.1 * 2^32)
    val sys = col("doc_id") % 10 === 7
    Tables.documents(spark, dir)
      .select(bern.as("b"), sys.as("s"))
      .groupBy()
      .agg(count(lit(1)).as("n_docs"),
        count_if(col("b")).as("n_bernoulli"),
        count_if(col("s")).as("n_systematic"),
        count_if(col("b") && col("s")).as("n_both"))
      .select(col("n_docs"), col("n_bernoulli"),
        round(lit(1e6) * col("n_bernoulli").cast("double") /
          col("n_docs").cast("double")).cast("long").as("bern_rate_ppm"),
        col("n_systematic"),
        round(lit(1e6) * col("n_systematic").cast("double") /
          col("n_docs").cast("double")).cast("long").as("sys_rate_ppm"),
        col("n_both"),
        round(lit(1e6) * col("n_both").cast("double") /
          col("n_docs").cast("double")).cast("long").as("both_rate_ppm"))
  }

  val sampleAuditSql: String =
    """WITH f AS (
      |  SELECT ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |           < 429496729 AS b,
      |         doc_id % 10 = 7 AS s
      |  FROM documents)
      |SELECT count(*) AS n_docs,
      |       CAST(count(*) FILTER (WHERE b) AS BIGINT) AS n_bernoulli,
      |       CAST(round(1e6 * CAST(count(*) FILTER (WHERE b) AS DOUBLE)
      |            / count(*)) AS BIGINT) AS bern_rate_ppm,
      |       CAST(count(*) FILTER (WHERE s) AS BIGINT) AS n_systematic,
      |       CAST(round(1e6 * CAST(count(*) FILTER (WHERE s) AS DOUBLE)
      |            / count(*)) AS BIGINT) AS sys_rate_ppm,
      |       CAST(count(*) FILTER (WHERE b AND s) AS BIGINT) AS n_both,
      |       CAST(round(1e6 * CAST(count(*) FILTER (WHERE b AND s) AS DOUBLE)
      |            / count(*)) AS BIGINT) AS both_rate_ppm
      |FROM f""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_contamination_spans" -> (contaminationSpans _),
    "corpus_sample_audit" -> (sampleAudit _),
    "corpus_kl_divergence" -> (klDivergence _),
    "corpus_truncation_loss" -> ((s, d) => truncationLoss(s, d)),
    "corpus_trigram_backoff" -> (trigramBackoff _),
    "corpus_temperature_mix" -> (temperatureMix _),
    "corpus_cooccurrence" -> (cooccurrence _),
    "corpus_fertility" -> (fertility _),
    "corpus_negative_samples" -> (negativeSamples _),
    "corpus_curriculum" -> (curriculum _),
    "corpus_quality_qnorm" -> (qualityQnorm _),
    "corpus_novelty" -> (novelty _),
    "corpus_instruction_pairs" -> (instructionPairs _),
    "corpus_domain_cap" -> (domainCap _),
    "corpus_span_corrupt" -> (spanCorrupt _),
    "corpus_bpe_coverage" -> (bpeCoverage _),
    "corpus_bpe_e2e" -> (bpeE2e _),
    "corpus_normalize" -> (normalizeText _),
    "corpus_bpe_train" -> (bpeTrain _),
    "corpus_shuffle_blocks" -> (shuffleBlocks _),
    "corpus_ppl_buckets" -> (pplBuckets _),
    "corpus_dsir_weights" -> (dsirWeights _),
    "corpus_sample_weighted" -> (sampleWeighted _),
    "corpus_chunk_overlap" -> (chunkOverlap _),
    "corpus_mix_rebalance" -> (mixRebalance _),
    "corpus_decontaminate" -> (decontaminate _),
    "corpus_decontaminate_bloom" -> (decontaminateBloom _),
    "corpus_pii_scrub" -> (piiScrub _),
    "corpus_quality_gate" -> (qualityGate _),
    "corpus_unigram_logprob" -> (unigramLogprob _),
    "corpus_bigram_logprob" -> (bigramLogprob _),
    "corpus_entropy_rate" -> (entropyRate _),
    "corpus_heaps_law" -> (heapsLaw _),
    "corpus_repetition" -> (repetition _),
    "corpus_split_hash" -> (splitHash _),
    "corpus_sample_stratified" -> (sampleStratified _),
    "corpus_token_buckets" -> ((s, d) => tokenBuckets(s, d)),
    "corpus_pack_greedy" -> ((s, d) => packGreedy(s, d)),
    "corpus_bpe_tokens" -> ((s, d) => bpeTokens(s, d)),
    "corpus_pack_bpe" -> ((s, d) => packBpe(s, d)),
    "corpus_bpe_pieces" -> ((s, d) => bpePieces(s, d)),
    "corpus_chunk_bpe" -> ((s, d) => chunkBpe(s, d)),
    "corpus_e2e_prep" -> (e2ePrep _),
    "corpus_line_dedup" -> (lineDedup _)
  )

  def oracle: Map[String, String] = Map(
    "corpus_cooccurrence" -> cooccurrenceSql,
    "corpus_fertility" -> fertilitySql,
    "corpus_negative_samples" -> negativeSamplesSql,
    "corpus_curriculum" -> curriculumSql,
    "corpus_quality_qnorm" -> qualityQnormSql,
    "corpus_novelty" -> noveltySql,
    "corpus_instruction_pairs" -> instructionPairsSql,
    "corpus_domain_cap" -> domainCapSql,
    "corpus_bpe_e2e" -> bpeE2eSql,
    "corpus_span_corrupt" -> spanCorruptSql,
    "corpus_bpe_coverage" -> bpeCoverageSql,
    "corpus_normalize" -> normalizeTextSql,
    "corpus_bpe_train" -> bpeTrainSql,
    "corpus_shuffle_blocks" -> shuffleBlocksSql,
    "corpus_ppl_buckets" -> pplBucketsSql,
    "corpus_dsir_weights" -> dsirWeightsSql,
    "corpus_sample_weighted" -> sampleWeightedSql,
    "corpus_chunk_overlap" -> chunkOverlapSql,
    "corpus_mix_rebalance" -> mixRebalanceSql,
    "corpus_temperature_mix" -> temperatureMixSql,
    "corpus_contamination_spans" -> contaminationSpansSql,
    "corpus_sample_audit" -> sampleAuditSql,
    "corpus_kl_divergence" -> klDivergenceSql,
    "corpus_truncation_loss" -> truncationLossSql,
    "corpus_trigram_backoff" -> trigramBackoffSql,
    "corpus_decontaminate" -> decontaminateSql,
    // the sketch changes the plan, never the answer — same oracle as
    // the exact decontamination by design
    "corpus_decontaminate_bloom" -> decontaminateSql,
    "corpus_pii_scrub" -> piiScrubSql,
    "corpus_quality_gate" -> qualityGateSql,
    "corpus_unigram_logprob" -> unigramLogprobSql,
    "corpus_bigram_logprob" -> bigramLogprobSql,
    "corpus_entropy_rate" -> entropyRateSql,
    "corpus_heaps_law" -> heapsLawSql,
    "corpus_repetition" -> repetitionSql,
    "corpus_split_hash" -> splitHashSql,
    "corpus_sample_stratified" -> sampleStratifiedSql,
    "corpus_token_buckets" -> tokenBucketsSql,
    "corpus_pack_greedy" -> packGreedySql,
    "corpus_bpe_tokens" -> bpeTokensSql,
    "corpus_pack_bpe" -> packBpeSql,
    "corpus_bpe_pieces" -> bpePiecesSql,
    "corpus_chunk_bpe" -> chunkBpeSql,
    "corpus_e2e_prep" -> e2ePrepSql,
    "corpus_line_dedup" -> lineDedupSql
  )
}
