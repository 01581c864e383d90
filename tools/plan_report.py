"""Generate PLANS.md: a physical-plan digest for every driver query.

For each entry in ``__spark_entry__.queries()`` (at sf0.001, plans are
scale-invariant): exchanges, join strategies, top-k operator, whole-stage
codegen spans, filters pushed into the parquet scans, and columns read —
the evidence that the declared 100 TB design (pushdown, pruning,
broadcast-over-shuffle, no global sorts) is what Catalyst actually planned.

Usage: python tools/plan_report.py [sf_dir] > PLANS.md

A filtered, probed approximate search (``index_store.ivf_index_topk``,
``pq_index_topk`` with ``nprobe``) runs its probe when it is constructed
and returns the answer as a local frame, so its row shows a
``LocalTableScan`` in place of the probe's scan, joins and top-k.

Rows can differ between two runs of the same commit. Every query runs in
one shared session, and the digest reads the FINAL adaptive plan, so a
row's runtime choices (join strategy, broadcast or sort-merge, coalesced
exchanges, codegen spans) can depend on what the queries before it left
in the session. A row that differs between two commits is therefore
compared by running its query alone in a fresh session on each commit,
for example::

    python -c 'import sys; sys.path.insert(0, ".")
    import __spark_entry__ as e
    from kaer_spark.plans.inspect import explain_summary
    from kaer_spark.session import get_spark
    df = e.queries()[sys.argv[1]](get_spark(), sys.argv[2])
    print(explain_summary(df, materialize=True))' hard_negatives <sf_dir>
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    import __spark_entry__ as entrymod
    from kaer_spark.plans.inspect import (
        executed_plan,
        explain_summary,
        read_schema_columns,
    )
    from kaer_spark.session import get_spark

    spark = get_spark(app_name="kaer-plan-report")
    print("# PLANS — physical-plan digest per driver query")
    print()
    print(f"Generated by `tools/plan_report.py` at `{sf_dir}`. Plan shapes are")
    print("data-size-independent (modulo AQE runtime choices); the same digest")
    print("is asserted piecewise in `tests/test_plans.py`.")
    print()
    print("Zero-codegen-span rows are of two kinds — know which before reading")
    print("a 0 as a regression: `tpch_q7`/`tpch_q22`/`knn_empty_filter` are AQE")
    print("EMPTY-RELATION propagation at sf0.001 (the optimizer proves the")
    print("result empty and removes the codegen stages; real spans appear at")
    print("larger SF), while `streaming_events_hourly`/`dedup_cluster_assign`")
    print("are STRUCTURAL zeros (a Structured-Streaming digest and the driver")
    print("union-find path — no whole-stage-codegen operators exist in those")
    print("plans at any SF).")
    print()
    print("| query | exchanges | broadcast joins | sort-merge joins | top-k op | codegen spans | scans (cols read) |")
    print("|---|---|---|---|---|---|---|")
    for name, fn in entrymod.queries().items():
        try:
            df = fn(spark, sf_dir)
            # materialize: the digest reads the FINAL AQE plan, so the
            # codegen-span column carries real signal (r14 verdict #6:
            # 158/191 rows read 0 spans off the unexecuted plan) and the
            # join columns reflect what AQE actually chose at runtime
            s = explain_summary(df, materialize=True)
            scans = read_schema_columns(df)
            scan_txt = "; ".join(
                "{" + ", ".join(sorted(c)) + "}" for c in scans
            ) or "—"
            topk = "TakeOrderedAndProject" if s["has_take_ordered"] else "—"
            print(
                f"| {name} | {s['n_exchanges']} | {s['n_broadcast_joins']} | "
                f"{s['n_sortmerge_joins']} | {topk} | {s['wholestage_spans']} | {scan_txt} |"
            )
        except Exception as exc:  # noqa: BLE001 — report, don't die
            print(f"| {name} | ERROR: {type(exc).__name__}: {exc} | | | | | |")
    print()
    print("## Notes")
    print()
    print("- `exchanges` counts every shuffle/broadcast boundary in the executed plan.")
    print("- kNN queries plan as `TakeOrderedAndProject` (per-partition heap")
    print("  top-k; no global sort) with the metadata filter in `PushedFilters`.")
    print("- Dimension joins (nation/customer/queries) appear as broadcast joins;")
    print("  sort-merge appears only where both sides are large (fact-fact joins).")
    print("- Pure per-row operators (fingerprints, text stats, filters) show a")
    print("  single scan and one codegen span: they pipeline inside the scan stage.")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
