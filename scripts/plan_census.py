#!/usr/bin/env python
"""Physical-plan census over every conformance spec → PLANS.md.

For each spec this records the scale-discipline evidence the plan
audits assert piecemeal: exchange count (shuffle pressure), broadcast
joins, Python/Arrow stages (should be empty outside the declared
boundaries), whether any scan carries PushedFilters, and the
whole-stage-codegen span count.  Streaming specs are skipped (they
materialize eagerly).  The output is a committed artifact so plan
regressions show up in diffs, not just in test failures.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SKIP = {
    "q90_stream_window",
    "q91_session_window",
    "q92_stream_stateful",
    "q93_stream_stream_join",
    "q94_stream_dedup",
    "q148_stream_sliding",
    "q177_stream_probe_dedup",
}


def main() -> int:
    from pyspark.sql import SparkSession

    from tiledb_mariadb_spark.plans.audit import formatted_plan
    from tiledb_mariadb_spark.suite import all_specs

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name, spec in all_specs().items():
        if name in SKIP:
            rows.append((name, "—", "—", "—", "— (streaming)"))
            continue
        try:
            plan = formatted_plan(spec.spark(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001
            rows.append((name, "?", "?", "?", f"ERROR {exc}"))
            continue
        exch = len(re.findall(r"\bExchange\b", plan))
        bcast = len(re.findall(r"BroadcastHashJoin|BroadcastNestedLoopJoin", plan))
        py = len(
            re.findall(
                r"BatchEvalPython|ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|MapInArrow",
                plan,
            )
        )
        pushed = "yes" if "PushedFilters: [" in plan and not re.search(
            r"PushedFilters: \[\]", plan
        ) else "none"
        rows.append((name, exch, bcast, py, pushed))
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write(
            "# Plan census (generated by scripts/plan_census.py at "
            f"{sf_dir})\n\n"
            "Per-spec physical-plan evidence: shuffle (Exchange) count, "
            "broadcast joins, Python/Arrow stages (only the declared "
            "multimodal/packing boundaries may be nonzero), whether any "
            "scan pushes filters.  (Whole-stage-codegen spans are not shown:\n"
            "AQE plans only annotate codegen ids at execution time.)\n\n"
            "| spec | exchanges | broadcasts | python stages | pushed filters |\n"
            "|---|---|---|---|---|\n"
        )
        for r in rows:
            f.write("| " + " | ".join(str(x) for x in r) + " |\n")
    py_offenders = [
        r[0]
        for r in rows
        if isinstance(r[3], int)
        and r[3] > 0
        and r[0]
        not in {
            "q70_multimodal",
            "q73_frame_sample",
            "q74_resize_cosine",
            "q77_ewma",
            "q95_spatial_intersects",
            "q139_pack_greedy",
            # mapInArrow decrypt scan — the sanctioned crypto boundary
            # (operators/encryption.py); everything after the unseal is JVM
            "q240_encrypted_roundtrip",
            # native connector io — the declared mapInPandas boundary
            # (sources/tiledb_array.py), round 4
            "q267_connector_scan",
            "q278_native_write",
            "q279_stream_native_sink",
            "q286_native_consolidation",
            "q292_native_count",
            "q293_native_metadata",
            "q294_native_evolution",
            "q295_native_hilbert",
            "q296_native_dense_partial",
            "q297_datasource_stacked",
            "q298_native_lifecycle",
            "q299_native_estimate",
            "q301_native_deletes",
            "q303_native_enum",
            "q304_native_bio_scan",
            "q305_native_vector_store",
            "q306_soma_matrix",
            "q307_native_v19_stats",
            "q308_native_encryption",
            "q309_native_enum_write",
            "q311_native_spatial",
            "q312_secure_corpus",
            # round 6: dense v19 box writes + spatial/dense format scans
            "q313_spatial_datasource",
            "q314_native_dense_v19",
            "q315_dense_datasource",
            "q316_delete_datasource",
            "q317_string_dim_corpus",
            "q318_encrypted_dense",
            "q319_distributed_consolidation",
            "q320_dense_consolidation",
            "q321_incremental_consolidation",
            "q322_metadata_consolidation",
            "q323_commits_consolidation",
            "q324_cdc_window",
            "q326_window_rollup",
            # round 7: native fixture writes (mapInPandas fragment
            # emission) + format() reads — declared boundaries like the
            # earlier native-tier specs
            "q327_dense_incremental",
            "q328_cdc_coverage",
            "q329_char_fast_path",
            "q331_filter_matrix",
            "q333_bloom_prune",
            "q334_condition_planner",
            "q335_fragment_meta",
            "q337_maintenance_loop",
            "q338_windowed_agg",
            "q339_copartitioned_join",
            "q340_bucketed_rollup",
            "q341_bucket_refresh",
            "q342_triple_join",
            "q343_grid_rollup",
            # round 7 session 3: bound-pruned topk scans, the
            # two-snapshot diff self-join, merge probe + fragment
            # writes, per-split merge_asof — all the same declared
            # native-io mapInPandas boundary
            "q344_topk_pushdown",
            "q345_snapshot_diff",
            "q346_merge_into",
            "q347_native_asof",
            "q348_cdc_capstone",
            "q349_ttl_retention",
            "q350_keyed_asof",
            # round 8: fragment ingest feeding the unified JVM provider
            "q352_jvm_grouped_rollup",
            "q353_dense_rollup",
            "q354_utf16_corpus",
            # round 9: overlapping-patch ingest + connector scan
            "q359_dense_patch_rollup",
            "q360_jvm_write_roundtrip",
        }
    ]
    print(f"specs: {len(rows)}; unexpected python stages: {py_offenders}")
    return 1 if py_offenders else 0


if __name__ == "__main__":
    raise SystemExit(main())
