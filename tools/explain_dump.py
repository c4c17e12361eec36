"""Dump formatted physical plans for representative queries → PLANS.md.

Regenerate with: python tools/explain_dump.py 2>/dev/null
The headline properties to look for are annotated per query; the
plan-shape tests in tests/test_plans.py assert them mechanically.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ucl_data_pipeline_spark import get_spark
from ucl_data_pipeline_spark.plans import REGISTRY

SF = "/root/testdata/sf0.001"

SHOWCASE = [
    ("pricing_summary", "partial+final hash agg; filter pushed to parquet scan "
     "(PushedFilters); only needed columns read (ReadSchema)"),
    ("filter_project", "predicate pushdown + column pruning at the source"),
    ("enrich_broadcast_join", "all dimension joins broadcast — fact side never "
     "shuffles"),
    ("local_supplier_volume", "six-table join: dims broadcast, single fact "
     "shuffle"),
    ("sort_limit_topn", "TakeOrderedAndProject — top-N without a global sort"),
    ("correlated_exists", "EXISTS decorrelated to a left-semi hash join"),
    ("range_join_bands", "non-equi join as BroadcastNestedLoopJoin over a "
     "3-row band table"),
    ("as_of_join", "as-of join as one window over one hash exchange — no join "
     "operator at all"),
    ("dedup_minhash_lsh", "LSH candidates via equi-join on band keys — no "
     "cartesian"),
    ("embedding_ivf_topk", "IVF probe: centroid codebook broadcast, candidate "
     "join keyed on list id"),
    ("large_volume_customers", "Q18: lineitem scanned+aggregated ONCE — the "
     "HAVING aggregate IS the output value, no second fact join"),
    ("jaccard_shingle_pairs", "inverted index on rep-collapsed, df-capped "
     "shingles — candidate volume bounded by informative overlap"),
    ("contamination_ngram_overlap", "benchmark grams distinct then equi-join "
     "— the join can never amplify beyond the eval side"),
    ("embedding_sq8_topk", "IVF+SQ8: coarse-quantizer probe prunes to one "
     "list, quantized scan inside it, exact re-rank on the shortlist"),
    ("embedding_pq_topk", "IVF+PQ: codebook enters as one literal, per-"
     "subspace argmin encode scan-side, probed-list candidates only"),
    ("bfs_reach_hops", "4 BFS supersteps as ONE fold_steps column over the "
     "gathered nation edge list — no per-step join or Spark action"),
    ("kmeans_assign", "Lloyd step: centers are literals in a narrow "
     "projection — assignment needs NO join and NO shuffle"),
    ("doc_chunk_windows", "context-window chunking: scan-side explode, zero "
     "shuffles"),
    ("pareto_frontier_parts", "skyline via sorted sweep — two windows, no "
     "quadratic self-join"),
    ("checksum_table", "order-independent fingerprint: map-side partial "
     "sums into a single-row result"),
    ("important_part_value", "HAVING vs scalar aggregate: scoped relation "
     "aggregated twice, threshold broadcast, no driver round-trip"),
    ("copurchase_pairs", "pair mining: self-join on the order key (AQE "
     "broadcasts at this tiny SF; co-partitioned SMJ at scale), TakeOrdered "
     "top-k over aggregated pair counts — never a global sort of raw pairs"),
    ("kmeans_lloyd2", "two Lloyd iterations: literal-center narrow "
     "projections + (cluster, dim)-keyed hash-aggs; only k×dim doubles "
     "cross the driver between iterations"),
    ("regr_ols_surface", "per-group OLS from five sufficient statistics in "
     "ONE map-side-combinable hash-agg — no centered second pass"),
    ("inverted_index_postings", "token postings: scan-side explode into one "
     "hash-agg; sorted-slice caps the per-token state"),
    ("dedup_cross_snapshot", "incremental ingest gate: corpus reduced to "
     "distinct digests, LEFT ANTI join on 32-byte keys, window over the "
     "batch only"),
    ("time_weighted_avg", "TWAP: one user_id window exchange; the same-key "
     "final agg reuses the partitioning — a single shuffle end to end"),
    ("event_transition_matrix", "Markov counts: window pairs from one "
     "shuffle; count + row-normalize aggregates bounded by type-domain^2"),
    ("triangle_count_trade", "node-iterator triangles: fact aggregation to "
     "a 25-node canonical edge table, wedge joins on the aggregate only"),
    ("shard_assignment_rendezvous", "HRW placement: weight scoring over a "
     "broadcast shard grid — no data shuffle to score, argmax window + "
     "one audit agg"),
    ("weighted_median_price", "weighted median without the few-heavy-groups "
     "trap: per-(group, value) hash-agg first, cumulative window over "
     "DISTINCT values only — never a row-level sort of a fact-sized group"),
    ("welch_ttest_promo", "two-sample t-test: part dim broadcast, ONE "
     "keyless conditional hash-agg (six buffers) — each partition reduces "
     "to one row before a 1-row exchange"),
    ("corr_matrix_lineitem", "4-column correlation matrix from one 15-buffer "
     "sufficient-statistics pass; stack unpivot over the single stats row"),
    ("interval_union_coverage", "interval merge via gaps-and-islands: two "
     "windows + two aggs inside ONE user_id exchange, no self-join"),
    ("minhash_jaccard_error", "sketch-quality gate: estimate and exact "
     "Jaccard side by side on LSH candidates only — equi-join on band keys, "
     "never all-pairs"),
    ("doc_bigram_likelihood", "bigram LM scoring: zipped-adjacent explode "
     "scan-side; model joins keyed by the bigram reuse its shuffle; V is a "
     "1-row broadcast"),
    ("weighted_sample_ares", "deterministic weighted sampling: md5-hash "
     "scoring at the scan, TakeOrderedAndProject top-k — no global sort"),
    ("cumulative_distinct_users", "expanding COUNT DISTINCT rewritten "
     "linear: per-user MIN hash-agg, then a calendar-bounded running sum"),
    ("sliding_distinct_users_7d", "sliding COUNT DISTINCT via constant x7 "
     "contribution explode of the (day,user) grain — pure equi-shuffles, "
     "no range join"),
    ("count_min_estimate_error", "CMS built from the per-key aggregate: "
     "one fact pass, then 256 mergeable cells; tracked keys broadcast"),
    ("zorder_layout_stats", "Morton key is a scan-side bit projection; "
     "stats roll up in one hash-agg — the manifest pass of a z-ordered "
     "write"),
    ("cheapest_route_nations", "integer min-plus relaxations as one "
     "fold_steps column over the gathered ≤625-lane edge list — the "
     "supersteps add no join, shuffle or job"),
    ("jaccard_prefix_filter_pairs", "ppjoin: rarest-prefix inverted index "
     "+ length/positional pruning; verification touches only surviving "
     "candidate pairs"),
    ("range_partition_boundaries", "split points via one percentile agg, "
     "broadcast to a scan-side fold — no shuffle beyond the final 8-group "
     "agg"),
    ("bloom_semi_join_fpr", "runtime-filter audit: the bloom is a ≤512-row "
     "broadcast; probes join it twice by word index — the fact side is "
     "never shuffled, only its DISTINCT keys are scanned"),
    ("spearman_rank_via_grain", "rank statistic WITHOUT a raw-row sort: "
     "midranks reconstructed from (group, value) grain counts, rows only "
     "touched by two equi-joins and one moment hash-agg"),
    ("embedding_ivf2_topk", "IVF nprobe=2: centroid codebook broadcast, "
     "TWO probed lists per query via the same list-id equi-join — "
     "candidate work doubles, plan shape unchanged from nprobe=1"),
    ("dup_span_pairs", "ExactSubstr candidates: inverted index on "
     "df-capped spans — stop-spans excluded before pairing, so no hot "
     "span forms a quadratic bucket"),
    ("mixture_temperature_weights", "order-pinned float fold: per-source "
     "terms collected into a key-sorted array and reduced sequentially — "
     "a deterministic scalar at any corpus size"),
    ("ngram_novelty_rate", "shingle scan tokenizes ONCE per row (the _let "
     "lambda binding — no per-element re-split) and both shuffles key on "
     "8-byte xxhash64 digests, never raw 3-gram strings"),
    ("ann_recall_frontier", "the whole recall-vs-nprobe curve from ONE "
     "ranked-probe pass: nprobe variants are filters of one ranking; "
     "centroids and probes broadcast, candidates label-equi-joined"),
    ("curation_pipeline", "five curation gates in ONE plan: scan-side "
     "signals (tokens+quality+fingerprint+5-grams together), digest "
     "semi-join contamination bounded by the benchmark side, "
     "fingerprint-grain dedup agg, pack window over kept docs only"),
    ("theil_sen_slope_daily", "rank-k by distributed selection: "
     "calendar-bounded pair set collapsed to the value grain, range-"
     "bucketed running count to the target cell — no global sort"),
    ("source_jsd_matrix", "intersection-only JSD: one (source, "
     "term-digest) counting shuffle, exclusive mass recovered "
     "arithmetically from exact integer sums — no full-outer join"),
    ("kendall_tau_via_grain", "tau-b with zero row pairs: one fact "
     "hash-agg to contingency cells, concordance from the broadcast "
     "cell-by-cell join"),
    ("dedup_threshold_frontier", "corpus-sized LSH: bucket width from "
     "an exact integer ladder over the corpus count (broadcast one-row "
     "nbits), candidate join keyed on the adaptive bucket — the 100x "
     "saturation fix; thresholds are filters over one pair pass"),
    ("source_minhash_overlap", "corpus-level overlap with NO doc-pair "
     "stage: per-doc minhashes collapse doc->source via partial_min "
     "map-side combine (min-of-mins = union signature); the pairwise "
     "join runs on the persisted |sources|-row table only"),
    ("join_cardinality_audit", "CBO q-error audit: exact join "
     "cardinality as SUM(cl*cr) over the key-grain equi-join — truth "
     "at NDV-join cost, the row-level join never built; each side "
     "collapses via partial_count map-side combine before any join"),
    ("join_skew_advisor", "shuffle-skew profile in ONE pass per fact "
     "key: grain hash-agg with partial_count combine (shuffle "
     "NDV-bounded), argmax + salt prescription on the grain table "
     "via broadcast singletons — no sort, no row-level join"),
    ("doc_lm_cross_entropy", "corpus-LM scoring with ONE corpus "
     "explode: the vocab LM re-aggregates the persisted (doc, token) "
     "grain table (InMemoryTableScan on both branches); total-token "
     "scalar broadcast; every shuffle grain-bounded"),
    ("ndv_kmv_sketch_error", "cross-engine-exact NDV sketch: "
     "distinct-hash hash-agg (shuffle NDV-bounded) then "
     "TakeOrderedAndProject bottom-k — per-partition top-k + k-row "
     "merge, no global sort exchange"),
    ("kmv_merge_parity", "sketch mergeability as a plan: per-source "
     "bottom-k via window sort WITHIN source partitions; the merge "
     "is a TakeOrdered over the k x |sources| sketch pool — the "
     "reduce-tree step a cluster NDV service runs"),
    ("quantile_sample_error", "RangePartitioner-style bounds: the "
     "sample is a TakeOrdered bottom-k by row-key hash — the sampled "
     "data is never shuffled; exact percentile_disc is the "
     "audited-against full pass"),
    ("percentile_sketch_error", "per-group bottom-k sample from ONE "
     "window rank over (group, digest); both sampled cuts (median, "
     "then MAD) run over k-bounded buffers — the substitution that "
     "replaces robust_zscore's two full-group buffers at scale"),
    ("pagerank_residual_audit", "convergence audit: the last three "
     "iterates read from each node's rank-history array (the SAME "
     "PageRank fold) — one aggregate over 25 rows, no joins"),
    ("join_skew_salted_exec", "advisor-prescribed salting in one DAG: "
     "fan-out as a broadcast singleton, dimension replicated by "
     "explode(sequence(0, buckets-1)), forced sort-merge join — "
     "salted result ≡ unsalted oracle"),
    ("zorder_layout_audit", "layout planning: one fact scan to a "
     "≤65,536-cell (qx, qy) hash-agg; Morton codes, file boxes, and "
     "all pruning statistics derive from that bounded cell table — "
     "nothing fact-sized downstream"),
    ("kruskal_wallis_h", "value-grain midranks: one map-combined pass "
     "to (value, group) cells, cumulative window over DISTINCT values "
     "only — the rank test without a fact-row sort"),
    ("cliffs_delta_priority", "quadratic dominance statistic spelled "
     "linear: exact n_gt/n_eq from cell counts x one value-grain "
     "cumulative window, all BIGINT until the final division"),
    ("hits_hub_authority", "two-vector power method: the (authority, "
     "hub) struct state folds inside one gathered row — per step the "
     "raw vector and its L1 normalizer are let-bound once"),
    ("periodogram_fixed_freqs", "frequency-domain read with bounded "
     "transcendentals: t enters the DFT only through t mod p, so "
     "cos/sin products fold over ≤p residue rows per period"),
    ("textrank_keywords", "PageRank over a DATA-derived node set: "
     "vocab-sized rank frames JOINED (not broadcast) to persisted "
     "edges; four supersteps, dst-keyed aggs, zero cartesians"),
    ("monetary_unit_sample", "systematic PPS with a range-partitioned "
     "cumulative walk (r9): literal split-point buckets, per-bucket "
     "decimal cumsums, bounded-grain exclusive offsets — bit-identical "
     "to a global window with no single-partition sort; the straddle "
     "filter is stateless"),
    ("bm25_doc_ranking", "inverted-index ranking with distributed "
     "top-k (r9): IN-list prunes the token stream before the tf "
     "hash-agg, df/stats broadcast, orderBy().limit() compiles to "
     "TakeOrderedAndProject and the rank window sees only k rows"),
    ("heaps_law_exponent", "range-bucketed exact row_number for the "
     "ingestion rank + checkpoint-grain cumulative spine (r9): each "
     "type/doc feeds its own ceil(rk/step) bucket once — no global "
     "window, no types x checkpoints fan-out"),
    ("ks_bucketed_drift", "bucket-first KS with built-in audit: value "
     "grain and $100-bucket grain share one counts agg; both ECDFs "
     "are bounded cumulative windows; exact D, bucketed D-hat, the "
     "analytic bound and the 5% decision agreement in one row"),
    ("mann_whitney_u_bucketed", "bucket-first MWU twin (r10): exact and "
     "$100-cell rank sums share one value-grain counts agg; the bound "
     "(same-cell cross pairs / 2) comes from the bucket side alone; "
     "|z|>1.96 decision audited separately from the bound"),
    ("cliffs_delta_bucketed", "bucket-first Cliff's delta twin (r10): "
     "dominance counts as exact BIGINTs on value and cell grain; "
     "within_bound compares the exact integers (|2dn_gt + dn_eq| <= "
     "n_eq_hat) before any division; Romano band agreement audited"),
    ("abc_classification", "range-bucketed cumulative walk (r10, "
     "registry.bucketed_running_sum): per-bucket DECIMAL running sums "
     "+ broadcast exclusive bucket-subtotal offsets — bit-identical "
     "to the global window, no single-partition sort on the part "
     "grain"),
    ("monetary_unit_sample", "auto-sized range buckets (r10): "
     "n_buckets = max(16, ceil(rows/250k)) from the same sketch agg, "
     "balanced when()-tree bucket search (log2 n comparisons/row), "
     "grand total derived from the bucket-subtotal frame — one fewer "
     "full scan"),
]


def main() -> None:
    spark = get_spark("explain-dump")
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# PLANS — physical plans of representative queries",
        "",
        f"Generated by `python tools/explain_dump.py` at sf0.001 "
        f"({len(SHOWCASE)} of {len(REGISTRY)} registered queries; "
        "plan-shape tests assert these properties mechanically).",
        "",
    ]
    for name, note in SHOWCASE:
        df = REGISTRY[name].fn(spark, SF)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out.append(f"## {name}")
        out.append("")
        out.append(f"**Property:** {note}")
        out.append("")
        out.append("```")
        out.append(plan.rstrip())
        out.append("```")
        out.append("")
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(SHOWCASE)} plans)")


if __name__ == "__main__":
    main()
