package graft.tools

import java.nio.file.{Files, Paths}

/** Writes PLANS.md: formatted physical plans for representative queries —
  * the artifact backing the "audit every plan" design rule. */
object DumpPlans {
  val picks: Seq[(String, String)] = Seq(
    "q1_pricing_summary" -> "scan-heavy multi-aggregate: pushed filter + pruned columns + partial/final HashAggregate",
    "q3_customers_per_region" -> "dim chain: both dims broadcast, zero shuffles on the fact side before the tiny agg exchange",
    "q4_revenue_by_priority" -> "fact-fact join (AQE picks broadcast at this SF; SMJ at scale)",
    "q9_rank_orders_per_customer" -> "window rank: single hash-partition exchange + sort, WindowGroupLimit pushes the rn<=3 limit below the full window",
    "q11_top_orders" -> "global top-k: TakeOrderedAndProject (per-partition heap + driver merge of k rows, no global sort)",
    "q33_asof_last_click" -> "as-of via union + running window (one shuffle on user_id)",
    "q41_asof_custom" -> "as-of via the custom AsOfJoinExec: co-partitioned exchanges + in-partition (key,time) sorts + O(n+m) merge",
    "dedup_minhash_lsh" -> "MinHash custom aggregate: partial_minhashaggregator below the exchange (signatures shuffle to group, shingles only at the one-time index build); localCheckpoint shares the shingle index across banding + verification",
    "sim_topk_bruteforce" -> "brute-force ANN baseline: broadcast query vector, codegen'd graft_dot, TakeOrderedAndProject",
    "dedup_ngram_prefix" -> "PPJoin prefix filter: rarity-ranked per-doc prefix index feeds the pair join (hot shingles excluded); exact-jaccard verify over semi-joined candidate docs",
    "dedup_embedding_lsh" -> "banded projection join: band equi-joins replace the BroadcastNestedLoop all-pairs, recall 1.0 by the Cauchy-Schwarz band containment",
    "decontam_overlap" -> "decontamination sweep: distinct benchmark shingles broadcast against the corpus inverted index",
    "pack_sequences" -> "per-shard sequence packing: source-partitioned running-sum window (no global window), generator explode for spanning docs",
    "sample_stratified" -> "stratified quota sample: per-shard ranking window on md5 order, WindowGroupLimit bounds each partition's sort",
    "sample_weighted" -> "Efraimidis-Spirakis weighted sample: per-row −ln(u)/w race key then the same per-stratum ranking window shape as sample_stratified (WindowGroupLimit, narrow columns only)",
    "dedup_clusters" -> "connected components: one narrow left join against the MEMOIZED label table (the components fixpoint runs once per dataset and persists to scratch parquet - the ivfIndex precedent; clusters/canonical/split_leakage_safe all read it)",
    "dedup_canonical" -> "survivor selection: the memoized label table joined to per-doc token counts, then ONE narrow window over (cluster_id, n_tokens, doc_id) picks the longest member — token counts cross the wire, text never does",
    "q48_salted_agg" -> "two-stage salted aggregation: both shuffles keyed (key,salt) then key — hot keys spread across reducers",
    "decontam_bloom" -> "Bloom-prefiltered decontamination: codegen'd bit-test predicate (literal filter array) ahead of the exact broadcast verify join",
    "q55_decile_bucket" -> "scalable NTILE: deterministic quantile-boundary buckets + per-bucket local ranks + broadcast offsets (window runs over #buckets rows only; integer bucket math)",
    "dedup_paragraph" -> "paragraph-level corpus dedup: WindowGroupLimit prunes to the first occurrence per chunk before the final window; reassembly is one doc_id-keyed collect_list aggregate",
    "curate_shard_assign" -> "balanced shard assignment: literal CASE-chain bucket projection (codegen'd), one bucket exchange + broadcast offsets, then the per-shard aggregate",
    "sketch_cms_topk" -> "count-min heavy hitters: counter matrix built via partial_countminaggregator below the exchange; estimates are pure literal-array lookups beside the exact counts",
    "q62_bitmap_distinct" -> "exact distinct via mergeable bitmaps: (group, bucket) segments OR map-side — no Expand re-shuffle of raw ids, no estimate",
    "q65_salted_join" -> "skew-salted join: deterministic fact salt + buckets× dim replication, join on (key, salt) — a hot key spans 8 reducers",
    "q60_sessionize" -> "gap-rule sessionization: lag + running-sum windows stacked on ONE user_id exchange; the session aggregate reuses the same partitioning",
    "dedup_substr_remove" -> "ExactSubstr span removal: gram-keyed first-occurrence window, covered positions anti-joined on (doc_id,pos), collect_list reassembly",
    "dedup_embedding" -> "all-pairs exact embedding dedup (oracle baseline): fused graft_cosine inside WholeStageCodegen over the BroadcastNestedLoop pairs",
    "q56_zorder_key" -> "Z-order key: pure mask-shift projection above the scan, one aggregate exchange on the bucket",
    "q66_outer_explode" -> "OUTER generator: explode + partial/final count — the only exchange carries (doc_id, count), never the raw text (parallelism is reader splits, not a repartition)",
    "q58_funnel_steps" -> "ordered funnel: per-step user-keyed aggregates chained on one partitioning; event_type filters pushed to the parquet scan",
    "ta_boilerplate" -> "boilerplate span removal: hot-gram set broadcast into the occurrence scan, covered positions anti-joined on (doc_id,pos), order-preserving reassembly as one partial+final collect_list aggregate",
    "pipeline_e2e" -> "end-to-end curation verdict: stage outputs are checkpointed seams (quality -> NARROW fingerprint-window exact dedup -> CC over canonicals), final verdict is two doc_id-keyed left joins",
    "sim_ann_batch" -> "batched-query ANN: probe set broadcast into the cell join (corpus vectors never shuffle), per-query top-k via partial_topkaggregator heaps, coverage left-join",
    "sim_ann_ivf_indexed" -> "persisted IVF probe: cell IN (...) lands in PartitionFilters — only nProbe cell directories are listed, broadcast query vector, TakeOrderedAndProject",
    "dedup_simhash_md5" -> "oracle-checked SimHash twin: md5-derived 60-bit token hashes; the signature build (partial_simhashaggregator below one doc exchange) sits under the checkpoint feeding both sides of the 16-bit piece-blocked self-join — run the audit's inline mode to see it",
    "curate_shuffle" -> "seeded global permutation: md5 hash key projection + quantile-bucketed global rank — no single-partition window, no wide columns in any exchange",
    "sim_quantize_int8" -> "fused native graft_quantize_int8: zero exchanges — maxabs computed inside the expression's own loop (no CollapseProject quadratic trap, no barrier)",
    "dedup_semantic" -> "SemDeDup: checkpointed (cell-filtered, unit-normalized) assignment feeds both self-join sides; cell self-join broadcasts at this SF (co-partitioned SMJ at scale), one graft_dot per pair inside the semi-join condition, dup flag via narrow id left-join",
    "curate_prototypes" -> "D4 prototypicality pruning: k-row broadcast centroid join, vector DROPPED before the per-cell window exchange — only (vec_id, cell, dist_sq) crosses the wire",
    "curate_lm_score" -> "bigram LM quality score: model build is two narrow-token-key aggregates (map-side combine), vocab scalar broadcast; scoring join shuffles (doc_id,w1,w2) on the bigram key — model is vocab-scale, NOT broadcast at 100 TB; per-doc mean partial-aggregates before its exchange",
    "curate_dsir" -> "DSIR importance resampling: hashed-feature model is ≤4096 rows at ANY corpus size → broadcast into the occurrence stream (zero model shuffles, contrast curate_lm_score); per-doc mean partial-aggregates; top-quarter cut via the quantile-bucketed global row number (no single-partition window)",
    "sim_rp_reduce" -> "JL random projection 64→16: the k×d matrix is a LITERAL folded into one whole-stage-codegen projection — no model table, no join, zero exchanges at any corpus size; runs map-side in the scan stage like sim_quantize_int8",
    "ta_bpe_encode" -> "BPE encode with the learned merge list: ≤20-row model collected once per dataset (ivfModel precedent) and folded into a 20-deep replace cascade — encoding is a pure per-row projection, zero exchanges beyond the trainer's narrow (pair,cnt) aggregate; the encoded string never crosses a shuffle",
    "decontam_minhash" -> "fuzzy benchmark decontamination: benchmark bands + shingle sets broadcast (eval suites stay KBs at any corpus size); corpus pays ONE signature aggregate (64 longs per doc via partial_minhashaggregator, shingles stay in the index build) and a broadcast band join; exact-jaccard verify runs only over candidate docs",
    "mm_phash_dct" -> "real integer-DCT pHash: graft_phash is ONE codegen'd scalar above the scan (payloads never shuffle; only (doc_id, sig) enters the checkpointed piece-blocked self-join); contrast mm_phash_dedup's explode+vote pipeline",
    "mm_pipeline_e2e" -> "composed multimodal pipeline over the REAL decode chain (round 15: corpus = text families + planted strict-PNM filmstrips with captions): gate + align screen are narrow projections over the checkpointed corpus; graft_phash genuinely decodes+DCTs conformers map-side; the pair join sees only gated+aligned (doc_id, sig) rows; per-frame hashBand perceptual hashes explode only for final survivors; verdict = three doc_id-keyed left joins",
    "stats_ks_drift" -> "exact KS drift, fully lazy: percentile_approx boundary array broadcast-crossed onto the distinct-value grid (no driver stats job at construction); running CDFs via broadcast bucket offsets + in-bucket windows")

  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local("graft-dumpplans")
    val d = "/root/testdata/sf0.01"
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of representative queries (sf0.01, auto-generated by graft.tools.DumpPlans)\n\n")
    sb.append("Regenerate: `tools/run.sh graft.tools.DumpPlans`.\n")
    picks.foreach { case (name, note) =>
      val df = graft.SparkEntry.queries(name)(spark, d)
      sb.append(s"\n## $name\n\n$note\n\n```\n")
      sb.append(df.queryExecution.executedPlan.toString.take(4000))
      sb.append("\n```\n")
    }
    // Preserve the hand-annotated plan sketches (everything at and
    // after the marker) — they are condensed QueryDebug commentary, not
    // regenerable dumps.
    val marker = "<!-- HAND-ANNOTATED BELOW: preserved by DumpPlans -->"
    val path = Paths.get("/root/repo/PLANS.md")
    val tail =
      if (Files.exists(path)) {
        val cur = Files.readString(path)
        val i = cur.indexOf(marker)
        if (i >= 0) "\n" + cur.substring(i) else ""
      } else ""
    Files.writeString(path, sb.toString + tail)
    println("wrote PLANS.md")
    spark.stop()
  }
}
