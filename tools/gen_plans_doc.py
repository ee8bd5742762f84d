"""Regenerate docs/PLANS.md: formatted physical plans of flagship queries
with one-line commentary tying them to SURVEY.md §6's scale claims.

Usage: python tools/gen_plans_doc.py  (writes docs/PLANS.md at sf0.001)
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from timedb_spark import plans  # noqa: E402
from timedb_spark.session import get_spark  # noqa: E402

PICKS = [
    ("bt_read_latest", "The flagship bitemporal collapse. The revision history folds in a "
     "partial (map-side) `max_by` aggregation — history collapses BEFORE the shuffle; no window sort exists anywhere."),
    ("tpch_q5", "Six-way join: every dimension (region, nation, supplier, customer) broadcasts; "
     "the only shuffle moves fact rows once."),
    ("tpch_q6", "Pure filter+agg: every predicate lands in `PushedFilters`, the scan reads a 3-column schema."),
    ("text_tfidf", "Vocabulary df comes back as a broadcast hash join; corpus size N rides a 1-row "
     "BroadcastNestedLoopJoin. Only the (doc, term) tf agg and the per-doc ranking shuffle."),
    ("bt_value_at", "Two pushdown cutoffs + ONE max_by agg — the two-level argmax (newest valid_time, "
     "then winning revision) without any window."),
    ("asof_join", "The union+window as-of: one exchange on user_id, one in-partition sort; "
     "no inequality join, no broadcast-nested-loop."),
    ("ts_m4", "M4 downsampling as pure min_by/max_by hash agg: HashAggregate partial → exchange → final; no sort."),
    ("dedup_minhash", "LSH banding: candidate pairs come from an equi-join on the band key — "
     "no CartesianProduct node appears in any dedup plan."),
    ("bt_forecast_vintage", "The vintage pivot: every knowledge horizon is a conditional max_by "
     "inside ONE aggregation — partial_max_by appears per horizon, so the whole matrix costs one "
     "map-side-combined shuffle instead of one relative-cutoff read per horizon."),
    ("ts_interpolate_linear", "Gap-pair resampling: ONE lead window hands each observation its "
     "successor, `explode(sequence(...))` generates exactly the covered ticks with both "
     "interpolation endpoints already on the row — no materialized grid, no grid/obs join, no "
     "second (descending) carry window."),
    ("events_session_window", "Built-in session_window: per-user sort + merging session aggregation "
     "in one exchange — no running-sum window pass, and the identical operator runs on a stream."),
    ("ts_calendar_features", "The forecast feature matrix: three RANGE lag frames (1/24/168 h on an "
     "integer hour axis) evaluate in a single Window exec on one per-series sort — exact "
     "time-shifted lookups with no self-joins."),
    ("ann_pq", "Product quantization: codebook + query distance table broadcast; ADC scoring is an "
     "equi-join on (subspace, code) + a map-side-combinable sum; only the shortlist is re-scored "
     "against full vectors."),
    ("ann_hybrid", "Hybrid lexical+dense retrieval: the query side (vectors + token sets) "
     "broadcasts; each candidate pays one projection computing BOTH the quantized dot product and "
     "the array_intersect Jaccard — the lexical leg adds zero shuffles over pure dense top-k."),
    ("embed_quantize", "int8 embedding compression: a zero-shuffle scan projection — amax, codes "
     "and the integer reconstruction error are all array expressions inside one WholeStageCodegen "
     "span; nothing leaves the JVM."),
    ("multimodal_video", "Video frame sampling: explode(sequence(...)) generates the kept frame "
     "indices and substring slices the payload — pipelined generate+project on the scan, "
     "no Python, no shuffle."),
    ("ts_theta", "Theta-method forecast: ONE shuffle (groupBy user) feeding a map-side-partial "
     "collect_list agg; OLS moments, the SES fold and both combination forecasts are all "
     "array expressions in projections — zero Python, zero windows."),
    ("dedup_spans", "Substring-granular dedup: the span explode feeds ONE hash groupBy on the "
     "md5 key (map-side combined), one shuffle join back, and the interval-union coverage "
     "fold is an array aggregate in a projection — candidate volume is |tokens|, never n²."),
    ("sample_weighted", "Efraimidis–Spirakis weighted sampling: the whole operator is a scan "
     "projection into TakeOrderedAndProject — per-partition top-k heaps, a k-row driver merge, "
     "no Exchange, no global Sort."),
    ("graph_label_prop", "Four synchronous label-propagation rounds: the checkpointed edge list "
     "joins each round's label table on the same node key (AQE reuses the partitioning); each "
     "round is join → map-side-combined histogram → per-node window over a degree-bounded group."),
    ("ts_periodogram", "Fixed-period spectral power: the RESAMPLE-shaped dense grid collects once "
     "per user; all three DFT rotation folds are pure +/× array aggregates — the plan contains "
     "no trig call (constants are embedded literals) and no Python."),
    ("ann_mmr", "MMR re-rank: ann_bruteforce's broadcast+window plan plus ONE aggregate over the "
     "collected candidate array — the 8-step greedy selection adds no shuffle and each lambda "
     "appears once in the plan (no per-step expression blowup)."),
    ("ts_hampel", "Rolling-median outlier repair: ONE exchange on user_id feeding a single "
     "ROWS-framed window sort; both medians (window, MAD) are sorted-array picks in plain "
     "projections after the window — no second window pass, no Python, no join."),
    ("bt_pit_features", "PIT-correct feature retrieval (r10): the target grid, the latest-collapse "
     "label, and each lag's as-of-cutoff winner all key on (series_id, valid_time) — one equi-join "
     "per lag, max_by collapse, zero windows over the revision history, zero cartesian/Python."),
    ("rollup_bitemporal_agg", "Bitemporal continuous aggregate (r10): the gate plan is a pure "
     "re-roll of the materialized latest-collapsed state; the refresh that built it scanned only "
     "the new commit plus the affected vt_month partitions (manifest diff as invalidation log)."),
    ("embed_outliers", "Centroid-margin mislabel detection: label centroids collapse to a SINGLE "
     "broadcast row of (label, centroid) structs; own-cosine and best-other picks are array "
     "expressions in one zero-fan-out projection — no n×K row blow-up, no window."),
    ("ts_perm_entropy", "Ordinal-pattern complexity: pattern extraction, counting and the "
     "−Σ p·ln p fold are all array expressions over the one groupBy(user) collect — single "
     "exchange, no explode, no Python, ln(3!) embedded as a literal."),
    ("ts_backtest", "Baseline model selection: train/holdout splits, all three predictions and "
     "the MAE folds ride ONE groupBy(user) collect — theta's single-exchange profile, no join, "
     "exact integer error sums for naive/snaive."),
    ("events_lift", "Association rules: the pair generator stays co-partitioned on user_id over "
     "the pre-deduped basket frame; per-type counts and the basket total come back as "
     "broadcasts — only the basket self-join and the support agg shuffle."),
    ("bt_audit", "Per-author change governance: ONE revision-ordering window (the latest_changes "
     "sort reused) feeding one map-side-combined groupBy(changed_by) — deltas in exact cents, "
     "a single floor-scaled division at the end."),
    ("graph_link_predict", "RA link prediction with the r7 wedge-budget cap: the degree table "
     "broadcasts, middles above the budget-derived ceiling are FILTERED before the wedge "
     "self-join (the power-law scale guard — join output bounded by the budget at any graph), "
     "and the anti-join against edges keeps only non-adjacent pairs."),
    ("graph_kcore", "Fixed-round k-core peel: each round is one hash aggregate over the shrinking "
     "edge list + two semi-joins on the endpoint keys; lazy localCheckpoints keep the 8-round "
     "plan flat instead of 8x nested."),
    ("multimodal_phash", "Perceptual-hash near-dup stats: the dHash leaves ONE Arrow-batched "
     "mapInPandas; banding is an explode + equi-join on (band_idx, band_value) — exact hamming "
     "is computed on band collisions only, never all-pairs."),
    ("ts_spectral_entropy", "Forecastability score: the dense grid is the resample join shape and "
     "all eight DFT rotations ride ONE fused 32-slot aggregate over the collected array — one "
     "traversal, zero Python, one shuffle."),
]


def main() -> None:
    spark = get_spark("plansdoc", extra_conf={"spark.sql.shuffle.partitions": "4"})
    spark.sparkContext.setLogLevel("ERROR")
    q = entrymod.queries()
    sf = "/root/testdata/sf0.001"

    out = [
        '# Flagship physical plans (`.explain("formatted")`, sf0.001, local[*])',
        "",
        "Auto-generated by `tools/gen_plans_doc.py` — the plan-shape claims in",
        "SURVEY.md §6, shown on the real optimized plans. The same properties are",
        "asserted programmatically in `tests/test_plan_shape.py`.",
        "",
    ]
    for name, note in PICKS:
        tree = plans.formatted_plan(q[name](spark, sf)).split("\n\n")[0]
        out += [f"## {name}", "", note, "", "```", tree.strip(), "```", ""]
    with open(os.path.join(ROOT, "docs", "PLANS.md"), "w") as f:
        f.write("\n".join(out))


if __name__ == "__main__":
    main()
