package graft
/** Generates docs/PLANS.md: formatted physical plans of representative
  * queries — the evidence trail for shuffle/broadcast/pushdown choices. */
object PlanSurvey {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    val picks = Seq(
      "ref_ingest_filter" -> "reference dataflow: pushdown-only, no shuffle",
      "join_revenue_by_nation" -> "broadcast chain: 3 BroadcastHashJoins, pruned fact scan",
      "join_asof_plan" -> "custom AsofJoinExec: one hash exchange + sort per side, streaming merge",
      "agg_pricing_summary" -> "partial+final hash aggregation",
      "agg_salted_skew" -> "two-phase salted aggregation",
      "sort_topk" -> "TakeOrderedAndProject (per-partition top-k, no global sort)",
      "mm_meta_pruning" -> "metadata-first pruning: binary payload absent from ReadSchema",
      "sim_ann_topk" -> "LSH bucket equi-join + native cosine scoring",
      "dedup_minhash_lsh" -> "single-pass native minhash signature + digest groupBy",
      "dedup_ngram_jaccard" -> "minhash-band candidate equi-join (id-only pairs), then exact Jaccard on joined-back token sets",
      "sim_ivf_topk" -> "k-means (md5-seeded, fixed Lloyd rounds) centroids inlined as literals: MAP-ONLY argmax assignment + in-row probe sort, one cell equi-join",
      "dedup_semantic" -> "SemDeDup: map-only cell assignment, in-cell cosine pairs (equi join), CC fixpoint, per-label summary",
      "corpus_bpe_tokens" -> "native one-pass greedy subword count: pure projection, no shuffle below the output sort",
      "corpus_e2e_prep" -> "whole pipeline, one plan: gate pushed to scan, eval shingles broadcast, wide shuffles only at digest groupBy + rollup",
      "ref_e2e_xlsx_etl" -> "typed multi-path xlsx DSv2 scan -> broadcast enrich -> partitioned warehouse write; read-back is scan+aggregate only",
      "corpus_pack_greedy" -> "concat-and-chunk packing: one window cumsum per lang, no pairwise work",
      "text_tfidf_top_term" -> "df derived from the tf aggregate (corpus exploded once), broadcast joins, WindowGroupLimit rank-1",
      "q_funnel_stages" -> "conditional-min stage times: compact aggs + equi joins, no sequence-scan pairs",
      "corpus_quality_gate" -> "map-only per-row verdict expression, one tiny reason agg",
      "corpus_decontaminate" -> "bounded eval shingle set broadcast; corpus streamed shuffle-free past the join, only survivors aggregate",
      "corpus_pii_scrub" -> "map-only regexp redaction + counts, no shuffle below the output sort",
      "corpus_chunk_overlap" -> "doc->training-example fan-out: HOF window generation + explode, map-only",
      "corpus_mix_rebalance" -> "per-lang fraction table broadcast to a map-side integer-hash filter, one summary agg",
      "ts_resample_ffill" -> "generated hourly spine (sequence+explode), left join, per-type ignore-nulls window fill",
      "q6_forecast_revenue" -> "all predicates pushed to parquet scan",
      "sim_ivfpq_topk" -> "IVF-PQ: map-only cell+code projection, cell equi join, WindowGroupLimit shortlist, broadcast exact re-rank",
      "join_skew_salted" -> "salted SMJ: shuffle keyed (orderkey, salt), hot key spread over all 8 salt reducers",
      "join_bloom_prune" -> "might_contain filter on the fact branch BELOW its exchange — shuffle carries only probable joiners",
      "corpus_line_dedup" -> "span fan-out, one span-key window (group-limited), reassembly agg",
      "sim_knn_graph" -> "cell-bounded pair join + per-source WindowGroupLimit, never all-pairs",
      "etl_cdc_latest" -> "one key shuffle, rank-1 via WindowGroupLimit (running max, not full sorted history)",
      "etl_scd2" -> "lag change-detection + lead interval-close: two windows, ONE exchange + sort",
      "corpus_sample_weighted" -> "A-ES weighted sample: map-only key projection + TakeOrderedAndProject, no global sort",
      "text_bm25_topk" -> "query-term IN filter below the tf agg; df + corpus stats broadcast; BIGINT top-k cut",
      "join_fuzzy_blocked" -> "distinct-name dictionary, block-key equi join bounds the levenshtein pair work",
      "layout_zorder" -> "morton interleave as pure integer projection; bounds broadcast; 64-tile agg",
      "graph_pagerank" -> "edge extraction = one key shuffle + lag; iterations join the tiny aggregated edge list",
      "dedup_incremental" -> "batch-vs-index probe: corpus index aggregated per signature BELOW the equi join; in-batch window shares the sig partitioning",
      "corpus_bigram_logprob" -> "bigram LM scoring: zip_with shifted-slice bigram stream (4-5x over index lambdas); c1 re-aggregated from the c2 model table; single stream join (tf-idf shuffle class)",
      "corpus_dsir_weights" -> "DSIR: both k=256 feature models from ONE conditional agg (k-row partials), broadcast to the never-shuffled probe stream, one doc-keyed reduce",
      "etl_merge_upsert" -> "MERGE as full-outer on the entity key both sides already compacted by (WindowGroupLimit), clause case map-side",
      "sim_hard_negatives" -> "triplet miner: one cell-bounded pair join, positive + hard-negative ranks as two windows over the same anchor shuffle",
      "corpus_shuffle_blocks" -> "epoch shard shuffle: map-only hash assignment, census agg + per-shard rank-1 — no global sort",
      "stream_interval_join_batch" -> "interval join twin: user_id equi-key drives the shuffle, time predicate evaluated in-partition (never a cross join)",
      "text_sparse_cosine" -> "inverted-index join: per-doc top-m prune + per-term posting cap (both WindowGroupLimit) bound the pair mass before the term-keyed self-join; integer dot products",
      "win_sessionize" -> "island numbering: lag-flag + running sum share ONE user-keyed Window exchange; session stats agg on the compact (user, session) key",
      "etl_snapshot_diff" -> "snapshot reconciliation: one full-outer key join is the only data movement; verdict case + census agg map-side",
      "q5_local_supplier_volume" -> "6-table join: region/nation broadcast, l-o-c chain shuffles on orderkey then custkey only, s_nationkey = c_nationkey rides as post-join filter",
      "corpus_bpe_train" -> "BPE training round: pair explode over the checkpointed word-freq table (corpus never rescanned), count agg + 1-row argmax",
      "sim_pca_project" -> "PCA projection: learned component inlined as a literal array, one map-only integer-dot pass — no shuffle below the output sort",
      "join_range_grid" -> "keyless interval join as ONE equi join on the time cell (never BNLJ)",
      "dedup_ppjoin" -> "lossless prefix-filter set-similarity join",
      "etl_bitemporal" -> "bitemporal point-in-time as ONE struct-max aggregation: single map-side-combinable user exchange, no window sort (plan-read refactor from the 8-exchange two-window first cut)",
      "win_distinct_count" -> "running COUNT(DISTINCT) rewrite: first-occurrence flag window + running sum — two NESTED-key hash exchanges, no join, no re-scan",
      "geo_nearest" -> "2-D grid spatial join: 3x3 ring explode on the QUERY side only, equi join on cell ids — never a BNLJ; integer-meter rank",
      "sim_hamming_topk" -> "binary-sketch Hamming search: sign-bit pack to two longs, popcount(xor) distance — all-integer broadcast scan",
      "corpus_cooccurrence" -> "skip-gram window pairs as an EQUI join by construction: center side explodes its position by the offsets (x2 map-only fan-out)",
      "agg_bitmap_distinct" -> "bitmap-index exact distinct: per-(group, bucket) bitmap partials OR-merge associatively, popcount final — mergeable without sketch error")
    val sb = new StringBuilder
    sb.append(s"# PLANS — physical plans of representative queries (sf0.001, ${spark.sparkContext.master})\n\n")
    sb.append("Generated by `graft.PlanSurvey` on `Harness.session()`, the session\n")
    sb.append("Bench and Verify run on (engine extensions installed, so native\n")
    sb.append("functions and the HOF→native rewrite show). Things to check in each plan:\n")
    sb.append("`PushedFilters` reaching the scan, `ReadSchema` pruned to used columns,\n")
    sb.append("`BroadcastHashJoin` for dims, exchanges only where a key change demands.\n")
    picks.foreach { case (name, note) =>
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      sb.append(s"\n## $name — $note\n\n```\n$plan```\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get("docs/PLANS.md"), sb.toString)
    println("WROTE docs/PLANS.md")
    spark.stop()
  }
}
