"""Collect-site census: every driver materialization in the package is
enumerated and individually justified, CI-gated by tests/test_collect_census.py.

The r7 verdict's remaining scale risk class was "a future collect() that is
quietly data-proportional" (the grouped_prefix_rank offset table was the
live instance — now runtime-guarded). This module makes the class
structurally impossible to reintroduce: an AST walk finds every
``.collect()`` / ``.toPandas()`` / ``.toLocalIterator()`` call site in
``f1_lakehouse_spark`` and the gate fails unless the site's (module,
enclosing function) is in :data:`ALLOWLIST` with a written bound argument.
The gate is two-sided — a stale allowlist entry (site refactored away)
fails too, so the census never rots.

``first()`` / ``take(n)`` / ``head(n)`` are excluded: they are bounded by
construction (Spark ships at most n rows regardless of input size).

Scale audit shorthand used in the justifications:
- "n_parts-bounded": groupBy(spark_partition_id()) yields at most
  SHUFFLE_PARTITIONS_CAP rows (session.py).
- "model-sized": rows = a model hyperparameter (centroids, codebooks,
  quantile probes, B bootstrap replicas), independent of input rows.
- "guarded": the collect itself is capped (limit(max+1) / pin_small_result
  assert) and fails loudly past the bound.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE_ROOT = Path(__file__).resolve().parent.parent

CENSUSED_METHODS = frozenset({"collect", "toPandas", "toLocalIterator"})

# (module path relative to the package, enclosing function) -> bound argument
ALLOWLIST: dict[tuple[str, str], str] = {
    ("analytics.py", "to_client"): "guarded: explicit .limit(cap) wrapper is "
    "the function's contract (capped client materialization, SURVEY S9)",
    ("pinning.py", "pin_small_result"): "guarded: asserts the caller's "
    "semantics-derived row ceiling, raises past it",
    ("operators/extensions.py", "global_prefix_sum"): "n_parts-bounded "
    "(groupBy pid)",
    ("operators/extensions.py", "global_prefix_max"): "n_parts-bounded "
    "(groupBy pid)",
    ("operators/extensions.py", "grouped_prefix_rank"): "guarded: "
    "limit(max_offset_rows+1) caps the transfer, asserts past the bound",
    ("operators/joins.py", "bloom_prefilter"): "model-sized: ONE row — the "
    "trained Bloom filter (m capped at 2^22 bits = 64k longs, 512 KB), "
    "embedded as a plan literal so the probe filter never carries it as a "
    "per-row column (r11: the crossJoin form copied the word array into "
    "every probe row's UnsafeRow)",
    ("operators/joins.py", "join_minmax_prefilter"): "model-sized: one "
    "global MIN/MAX aggregate row",
    ("operators/round5_stats.py", "events_winsorized_lift"): "model-sized: "
    "per-variant winsor cut quantiles (2 variants x 2 bounds)",
    ("operators/round5_stats.py", "lineitem_mean_excess_evt"): "model-sized: "
    "threshold-grid aggregate (fixed probe list)",
    ("operators/round5_stats.py", "part_bom_subtree_rollup"): "model-sized: "
    "per-level frontier counts for the bounded BOM depth loop",
    ("operators/round5_stats.py", "orders_median_ci"): "model-sized: B=64 "
    "bootstrap replica medians",
    ("operators/round6_stats.py", "events_ks_two_sample"): "model-sized: one "
    "supremum aggregate row",
    ("operators/round6_stats.py", "orders_quantile_sketch_contract"): "model-"
    "sized: fixed histogram-bin frame (bin count is a constant knob)",
    ("operators/round6_stats.py", "events_poststratified_lift"): "model-sized: "
    "per-stratum sufficient statistics (calendar-bounded strata)",
    ("operators/round6_stats.py", "nation_grouped_quantile_sketch"): "model-"
    "sized: global bin edges (constant bin count)",
    ("operators/round6_stats.py", "orders_interrupted_time_series"): "model-"
    "sized: calendar-bounded monthly series",
    ("operators/round6_stats.py", "_mad_lazy.pick2"): "model-sized: med2/"
    "mad4 scalar carries (one row per quantile probe)",
    ("operators/round6_stats.py", "scoring_cohens_kappa"): "model-sized: "
    "2x2 confusion-cell aggregate",
    ("operators/round6_stats.py", "orders_cpk_capability"): "model-sized: "
    "per-clerk-bucket capability stats (constant bucket mod)",
    ("pipeline/curation.py", "curation_greedy_coverage"): "model-sized: "
    "greedy rounds collect one cover-gain aggregate per step (fixed k)",
    ("pipeline/dedup.py", "_union_find_driver"): "guarded: the CALLER "
    "counts the pair list first and takes this path only when n_pairs <= "
    "driver_threshold, else routes to _propagate_distributed — the "
    "collect is size-checked before it happens",
    ("pipeline/scoring.py", "scoring_conformal_interval"): "model-sized: "
    "calibration-split quantile probes (fixed alpha grid)",
    ("pipeline/similarity.py", "_spark_update"): "model-sized: k-means "
    "centroid frame (k x dim)",
    ("pipeline/similarity.py", "_train_kmeans.build"): "model-sized: seed sample "
    "via rank-sample limit(k)",
    ("pipeline/similarity.py", "_pq_update"): "model-sized: PQ codebook "
    "(subspaces x 2^bits)",
    ("pipeline/similarity.py", "_pq_trained_models.build"): "model-sized: trained "
    "codebook tables",
    ("pipeline/similarity.py", "_spark_pi_update"): "model-sized: one "
    "dim-length power-iteration vector",
    ("pipeline/similarity.py", "_spark_pi_update_deflated"): "model-sized: "
    "dim-length deflated PC vectors",
    ("pipeline/similarity.py", "embedding_knn_ood_score"): "guarded: "
    "reference set is a plan-visible orderBy+limit rank sample",
    ("pipeline/similarity.py", "ann_lsh_materialized"): "model-sized: "
    "hyperplane matrix (nbits x dim) derived from a seed, not data rows",
    ("pipeline/similarity.py", "ann_ivf_kmeans"): "model-sized: centroid "
    "list (k x dim)",
    ("pipeline/similarity.py", "curation_kcenter_diversity"): "model-sized: "
    "k greedy centers + per-round argmax rows (fixed k)",
    ("pipeline/similarity.py", "ann_matryoshka_prefix_recall"): "model-sized: "
    "bounded query anchor set (plan-visible limit)",
    ("pipeline/similarity.py", "ann_ivfpq_recall"): "model-sized: bounded "
    "query anchor set (plan-visible limit)",
    ("pipeline/text.py", "bpe_trained_frame.build"): "model-sized: merge table "
    "(vocab-budget rows, a training hyperparameter)",
    ("quality/checks.py", "run_not_null_suite"): "model-sized: one row per "
    "declared check (the suite is source code, not data)",
    ("quality/checks.py", "run_schema_suite"): "model-sized: one row per "
    "declared schema rule",
    ("sources/shards.py", "write_training_shards"): "model-sized: per-shard "
    "manifest rows (shard count = size knob derived from input bytes, "
    "capped like shuffle partitions)",
    ("sources/shards.py", "verify_training_shards"): "model-sized: per-shard "
    "checksum rows (same bound as the manifest)",
    ("sources/parquet_io.py", "delete_rows_partition_scoped"): "guarded by "
    "construction: one row per partition selected by the caller's "
    "partition_predicate (the delete's scope bound — calendar/key-window "
    "sized, never the whole table)",
    ("pipeline/lifecycle.py", "compaction_zorder_roundtrip"): "model-sized: "
    "one per-file min/max row per written z-order file (n_files=8 constant "
    "knob) for the clustering audit assertion",
    ("pipeline/lifecycle.py", "partition_prune_roundtrip"): "model-sized: "
    "distinct touched partition dates, calendar-bounded by the 7-day prune "
    "window the assertion checks; plus the data-derived expected-day set, "
    "bounded by the same 7-day window",
    ("pipeline/lifecycle.py", "partition_evolution_roundtrip"): "model-sized: "
    "distinct input_file_name audits over ONE date's surviving rows each "
    "(file count bounded by that date's partition dir on spec 1 and the "
    "task count on spec 0's residual path)",
    ("pipeline/lifecycle.py", "_assert_snapshot_consistent"): "model-sized: "
    "per-event_type gold rows and their recomputation, both bounded by the "
    "event_type taxonomy (EVENT_TYPE_MAX) — the snapshot-isolation "
    "invariant compare",
    ("pipeline/lifecycle.py", "version_gc_roundtrip"): "model-sized: "
    "as-of version rows vs their recomputation, both per-event_type "
    "aggregates bounded by the taxonomy (EVENT_TYPE_MAX)",
    ("pipeline/lifecycle.py", "mor_delete_roundtrip"): "model-sized: "
    "pre- vs post-compaction per-event_type aggregates, both bounded by "
    "the taxonomy (EVENT_TYPE_MAX) — the content-identity assert",
    ("pipeline/lifecycle.py", "cdf_incremental_consumer"): "model-sized: "
    "incrementally-maintained gold vs its full recompute, both "
    "per-event_type aggregates bounded by the taxonomy (EVENT_TYPE_MAX) — "
    "the incremental-maintenance identity assert",
    ("pipeline/lifecycle.py", "mor_upsert_roundtrip"): "model-sized: "
    "pre- vs post-compaction per-event_type aggregates, both bounded by "
    "the taxonomy (EVENT_TYPE_MAX) — the content-identity assert",
    ("pipeline/lifecycle.py", "tag_pinned_time_travel_roundtrip"): "model-"
    "sized: tagged-snapshot content vs its recomputation, both "
    "per-event_type aggregates bounded by the taxonomy (EVENT_TYPE_MAX)",
    ("pipeline/lifecycle.py", "streaming_cdf_consumer_roundtrip"): "model-"
    "sized: incrementally-maintained mart vs recomputed gold, both "
    "per-event_type aggregates bounded by the taxonomy (EVENT_TYPE_MAX) — "
    "the self-certifying snapshot invariant",
    ("sources/filestats.py", "pruned_files"): "guarded by construction: "
    "file NAMES only, post-pruning — strictly fewer entries than the "
    "O(#files) driver-side listing Spark's own InMemoryFileIndex "
    "materializes for ANY scan of the same directory; pruning can only "
    "shrink what the engine already pays",
    ("sources/filestats.py", "bloom_pruned_files"): "guarded by "
    "construction: post-prune file NAMES only — for a point lookup the "
    "survivor set is ~1 file plus the designed-for false-positive rate "
    "(bits_per_key=16, k=4 -> ~0.3%), always bounded by the same full "
    "listing every scan of the directory already drives",
}


def census(package_root: Path = PACKAGE_ROOT) -> list[tuple[str, str, int, str]]:
    """Every censused call site: (relative module, enclosing function,
    lineno, method)."""
    out: list[tuple[str, str, int, str]] = []
    for p in sorted(package_root.rglob("*.py")):
        rel = p.relative_to(package_root).as_posix()
        tree = ast.parse(p.read_text())
        spans: list[tuple[int, int, str]] = [
            (n.lineno, n.end_lineno or n.lineno, n.name)
            for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in CENSUSED_METHODS
            ):
                # qualname-ish chain of enclosing functions, outermost first
                chain = [
                    name
                    for s, e, name in sorted(spans)
                    if s <= node.lineno <= e
                ]
                enclosing = ".".join(chain) if chain else "<module>"
                out.append((rel, enclosing, node.lineno, node.func.attr))
    return out


def offenders() -> list[str]:
    """Call sites with no allowlist justification (must be empty)."""
    return [
        f"{rel}:{line} {method}() in {fn}"
        for rel, fn, line, method in census()
        if (rel, fn) not in ALLOWLIST
    ]


def stale_entries() -> list[str]:
    """Allowlist entries whose site no longer exists (must be empty)."""
    live = {(rel, fn) for rel, fn, _, _ in census()}
    return [f"{rel}::{fn}" for (rel, fn) in ALLOWLIST if (rel, fn) not in live]
