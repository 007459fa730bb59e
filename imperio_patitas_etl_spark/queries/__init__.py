"""Driver-facing query registry.

Each query key from SURVEY.md §2 maps to a PySpark callable
``(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible) an ANSI-SQL
oracle string DuckDB runs on the same parquet tables. Column names are
aliased identically on both sides — the driver sorts columns by name and
hash-compares values.

Rotation discipline (ADVICE r3; mechanized in r8 per VERDICT r7 item 8):
the external driver certifies the FIRST 50 keys of this registry per
round, so the order encodes the verification rotation:

  (a) every key whose implementation or oracle changed — or that is
      NEW — this round sits inside the sampled window;
  (b) the rest of the window refreshes the keys whose most recent
      driver row is oldest;
  (c) keys green in recent rounds with unchanged code rotate out.

The bookkeeping is GENERATED, not narrated: ``certification.py`` (written
by ``python tools/rotation.py``) records each key's last green driver
round,
and tests/test_rotation.py enforces rule (a) against git — a static
implementation fingerprint per key (transitive function/constant closure
+ oracle expression, docstrings stripped) is compared between the last
round-boundary commit and the worktree; changed keys must sit in the
window. Wave-by-wave displacement rationale lives in git history
(the r1-r7 narrative was removed from this file in r8).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from imperio_patitas_etl_spark.queries import (
    affinity,
    analytics,
    core,
    corpus,
    entity,
    multimodal_ops,
    streaming_ops,
    text,
    tpch,
    vector,
)

QueryFn = Callable[[SparkSession, str], DataFrame]


_MODULES = (
    affinity,
    streaming_ops,
    text,
    corpus,
    analytics,
    vector,
    tpch,
    entity,
    multimodal_ops,
    core,
)

# Round-19 window (exactly the 50 keys the driver samples). Rule (a):
# 15 keys changed implementation in round 19 (the r19 OPTIMIZATION pass,
# fingerprint-detected by tools/rotation.py): the ngram-Jaccard family
# moved to the grouped build (rep arrays + skinny member map, star
# convergence probe folded to one aggregate); the Gopher kernel's
# gram-pair packing collision was fixed (ADVICE r18 high);
# dedup_minhash_lsh's fingerprint checkpoint was skinnied; the ANN tier
# shares one materialized integerization (ann_recall / ann_ivf_trained /
# cosine_dedup_recall — the shared-v parameter also flips the three
# search builders' fingerprints); embedding_dup_clusters runs CC over
# pair endpoints only; quantile_sketch checkpoints its bounded sample.
# Since the r19 boundary, validation became one tagged frame
# (EntitySpec.apply) and the partitioned MERGE writes over all cores,
# which flips the four filter_project_* keys and upsert_merge: they lead
# the window. Rule (c) rotated out five r19 keys that the driver
# certified green in both r18 and r19 and that have not changed since.
# The rest is the rule-(b) stalest cohort (window_running_sum r14, then
# the r15 block in key order).
_R19_FRONT = (
    # -- rule (a): implementation changed since the r19 boundary (5)
    "filter_project_client",
    "filter_project_detail",
    "filter_project_document",
    "filter_project_product",
    "upsert_merge",
    # -- rule (a) of round 19, less the five rotated out by rule (c) (10)
    "ann_ivf",
    "ann_ivf_trained",
    "ann_lsh_bucketed",
    "ann_topk_bruteforce",
    "corpus_keep_list",
    "cosine_dedup_recall",
    "dup_clusters",
    "dup_clusters_star",
    "embedding_dup_clusters",
    "ngram_jaccard_dedup",
    # -- rule (b) refresh: stalest driver rows (35)
    "window_running_sum",
    "arith_derived",
    "asof_join",
    "casts",
    "coalesce_defaults",
    "cube_rollup",
    "date_window",
    "decontaminate_ngram",
    "dedup_exact",
    "dedup_first",
    "dedup_simhash",
    "delete_insert_antijoin",
    "derived_cost_coalesce",
    "distinct_agg",
    "doc_fingerprint",
    "dq_flags",
    "embedding_cosine_dedup",
    "event_funnel",
    "event_transition_matrix",
    "exists_any_agg",
    "groupby_avg",
    "lag_features",
    "multimodal_frame_sample",
    "multimodal_resize_stub",
    "resample_ffill",
    "rolling_distinct_users",
    "rolling_median_daily",
    "scd2_history",
    "scd2_time_weighted",
    "session_path_trigrams",
    "snapshot_diff",
    "stream_interval_join",
    "stream_rolling_distinct",
    "table_checksum_blocks",
    "tpch_q1",
)
assert len(_R19_FRONT) == 50, len(_R19_FRONT)

# Single importable alias for the current window (VERDICT r14 item 3):
# tests consume CURRENT_FRONT so a rotation renames exactly one
# identifier in exactly one file. The round-numbered literal above stays
# because the external driver's window-sampling contract is stated in
# terms of `_R{N}_FRONT`; tests/test_rotation.py pins the convention
# (the literal's round number must be certification-table max + 1).
CURRENT_FRONT = _R19_FRONT


def all_queries() -> dict[str, QueryFn]:
    merged: dict[str, QueryFn] = {}
    for mod in _MODULES:
        merged.update(mod.QUERIES)
    out = {k: merged[k] for k in CURRENT_FRONT}
    out.update({k: f for k, f in merged.items() if k not in out})
    return out


def all_oracles() -> dict[str, str]:
    merged: dict[str, str] = {}
    for mod in _MODULES:
        merged.update(mod.ORACLE)
    order = all_queries()
    return {k: merged[k] for k in order if k in merged}
