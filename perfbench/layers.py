"""Per-layer metrics of a traced run, computed from its spans, its Spark
stage metrics and its per-epoch records (timed window only).

Times "per epoch" are totals over the timed epochs divided by their number;
times "per call" are totals divided by the calls made in the window. A
layer that only one merge mode runs is reported as its share of the timed
epochs' wall time, which is 0 on the other mode's workload, not a time.
"""

from __future__ import annotations

import statistics

PER_LAYER = {
    # streaming.microbatch: the staging job runs in apply_epoch's self time
    "apply_epoch_self_s": "s",
    "staging_exec_run_s": "s",
    "staging_shuffle_write_mb": "MB",
    "staging_spill_mb": "MB",
    "staging_task_max_over_median": "ratio",
    "staging_slot_util": "ratio",
    "run_self_ms": "ms",
    # sources.wal
    "wal_read_epoch_ms": "ms",
    # functions.tokens, operators.lww: plan construction per call
    "recompute_n_tok_ms": "ms",
    "lww_dedup_ms": "ms",
    # operators.merge (their job runs inside write_data_files)
    "merge_upsert_calls": "count",
    "merge_upsert_lww_calls": "count",
    "merge_plan_share": "ratio",
    # tables.format, write side
    "write_data_files_calls": "count",
    "write_data_files_s": "s",
    "write_data_files_self_s": "s",
    "adopt_delta_files_share": "ratio",
    "commit_ms": "ms",
    "evolve_schema_calls": "count",
    "evolve_schema_share": "ratio",
    "committed_mb_per_epoch": "MB",
    # tables.format, read side
    "read_self_ms": "ms",
    "lookup_plan_ms": "ms",
    "lookup_files_read_share": "ratio",
    # tables.maintenance
    "compact_calls": "count",
    "compact_share": "ratio",
    "compact_mb_written": "MB",
    "pending_deltas_per_bucket": "count",
    # session, streaming.bootstrap
    "build_session_s": "s",
    "bootstrap_table_s": "s",
    # counts per timed epoch, and the final snapshot
    "rows_in_per_epoch": "count",
    "rows_valid_per_epoch": "count",
    "conflicts_per_epoch": "count",
    "rows_applied_per_epoch": "count",
    "buckets_touched_per_epoch": "count",
    "live_files": "count",
    "delta_files": "count",
    # the tracing itself
    "ingest_eps_traced": "events/s",
    "span_coverage_min": "ratio",
    "trace_bookkeeping_ms_per_epoch": "ms",
}

MB = 1 << 20
STAGING = "CdcEngine.run>CdcEngine.apply_epoch"


def _by_label(spans):
    out: dict[str, dict] = {}
    for s in spans:
        d = out.setdefault(s.label, {"calls": 0, "total": 0.0, "self": 0.0})
        d["calls"] += 1
        d["total"] += s.dur
        d["self"] += s.self_s
    return out


def _coverage(spans, epochs) -> float:
    """min over timed epochs of (sum of span self times) / epoch wall time.

    The spans of one epoch are the tree under one ``CdcEngine.run`` span;
    the epochs' runs are in the same order as the per-epoch records."""
    children: dict[int, list] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)
    roots = [s for s in spans if s.label == "CdcEngine.run" and s.parent is None]
    roots.sort(key=lambda s: s.start)

    def tree_self(s) -> float:
        return s.self_s + sum(tree_self(c) for c in children.get(s.sid, []))

    ratios = [tree_self(r) / e["s"] for r, e in zip(roots, epochs)]
    return min(ratios) if ratios else 0.0


def per_layer(run, timed: list[dict], written: dict, boots, build_s) -> dict:
    tr = run.tracer
    spans = [s for s in tr.spans if s.tag == "timed"]
    lab = _by_label(spans)
    n = max(1, len(timed))

    def per_call_ms(label: str) -> float:
        d = lab.get(label)
        return 1000 * d["total"] / d["calls"] if d else 0.0

    def calls(label: str) -> int:
        return lab.get(label, {}).get("calls", 0)

    def share(*labels: str) -> float:
        t = sum(lab.get(k, {}).get("total", 0.0) for k in labels)
        return t / epoch_s if epoch_s else 0.0

    stages = [s for s in tr.stages if s["tag"] == "timed"]
    staging = [s for s in stages if s["label"] == STAGING]
    slots = run.slots
    wall = sum(s["wall_ms"] for s in staging)
    skew = [
        s["task_ms_max"] / s["task_ms_median"]
        for s in staging if s["tasks"] > 1 and s["task_ms_median"] > 0
    ]
    events = sum(e["events"] for e in timed)
    epoch_s = sum(e["s"] for e in timed)
    last = run.epochs[-1] if run.epochs else {}
    buckets = run.w.num_buckets
    shares = [x["files_read_share"] for x in run.lookups
              if "files_read_share" in x]
    return {
        "apply_epoch_self_s": lab.get("CdcEngine.apply_epoch", {}).get("self", 0.0) / n,
        "staging_exec_run_s": sum(s["exec_run_ms"] for s in staging) / 1000 / n,
        "staging_shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in staging) / MB / n,
        "staging_spill_mb": sum(s["spill_bytes"] for s in staging) / MB / n,
        "staging_task_max_over_median": statistics.median(skew) if skew else 0.0,
        "staging_slot_util": (
            sum(s["exec_run_ms"] for s in staging) / (wall * slots) if wall else 0.0
        ),
        "run_self_ms": 1000 * lab.get("CdcEngine.run", {}).get("self", 0.0) / n,
        "wal_read_epoch_ms": per_call_ms("WalSource.read_epoch"),
        "recompute_n_tok_ms": per_call_ms("recompute_n_tok"),
        "lww_dedup_ms": per_call_ms("lww_dedup"),
        "merge_upsert_calls": calls("merge_upsert"),
        "merge_upsert_lww_calls": calls("merge_upsert_lww"),
        "merge_plan_share": share("merge_upsert", "merge_upsert_lww"),
        "write_data_files_calls": calls("LakeTable.write_data_files"),
        "write_data_files_s": lab.get("LakeTable.write_data_files", {}).get("total", 0.0) / n,
        "write_data_files_self_s": lab.get("LakeTable.write_data_files", {}).get("self", 0.0) / n,
        "adopt_delta_files_share": share("LakeTable.adopt_delta_files"),
        "commit_ms": per_call_ms("LakeTable.commit"),
        "evolve_schema_calls": calls("LakeTable.evolve_schema"),
        "evolve_schema_share": share("LakeTable.evolve_schema"),
        "committed_mb_per_epoch": written["total"] / MB / n,
        "read_self_ms": 1000 * lab.get("LakeTable.read", {}).get("self", 0.0)
        / max(1, calls("LakeTable.read")),
        "lookup_plan_ms": per_call_ms("LakeTable.lookup"),
        "lookup_files_read_share": statistics.mean(shares) if shares else 0.0,
        "compact_calls": calls("compact"),
        "compact_share": share("compact"),
        "compact_mb_written": written["compaction"] / MB,
        "pending_deltas_per_bucket": (
            statistics.mean(e["delta_files"] for e in timed) / buckets
            if timed else 0.0
        ),
        "build_session_s": build_s,
        "bootstrap_table_s": statistics.median(boots),
        "rows_in_per_epoch": events / n,
        "rows_valid_per_epoch": sum(e["rows_valid"] for e in timed) / n,
        "conflicts_per_epoch": sum(e["conflicts"] for e in timed) / n,
        "rows_applied_per_epoch": sum(e["rows_applied"] for e in timed) / n,
        "buckets_touched_per_epoch": sum(e["buckets_touched"] for e in timed) / n,
        "live_files": last.get("live_files", 0),
        "delta_files": last.get("delta_files", 0),
        "ingest_eps_traced": events / epoch_s if epoch_s else 0.0,
        "span_coverage_min": _coverage(spans, timed),
        "trace_bookkeeping_ms_per_epoch": 1000 * tr.overhead_s / n,
    }
