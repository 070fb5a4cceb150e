"""The per-layer table of a traced run, derived from its spans and Spark's
status store. Every workload reports every metric; a layer the workload
never enters reads 0. Per-operation figures are the median over the run's
operations."""

from __future__ import annotations

from typing import Any

from spans import self_times, subtree_costs
from stats import median

STAGES = ["pages", "agg_30m", "agg_1d", "agg_1mo", "blocks_30m"]
STAGE_FIELDS = [("wall_s", "s"), ("driver_s", "s"), ("executor_run_s", "s"),
                ("tasks", "count"), ("shuffle_write_bytes", "B"),
                ("spill_bytes", "B"), ("bytes_written", "B")]
QUERY_KINDS = ["series_30m", "series_2h", "series_1d", "series_1mo",
               "series_auto", "cold_blocks"]
QUERY_FIELDS = [("plan_s", "s"), ("exec_s", "s"), ("tasks", "count"), ("rows", "count")]

PER_LAYER: list[tuple[str, str]] = [
    ("host.calib_before_s", "s"), ("host.calib_after_s", "s"),
    ("session.start_s", "s"), ("session.warmup_s", "s"), ("session.peak_rss_mb", "MB"),
    ("pipeline.ingest_s", "s"), ("pipeline.diff_s", "s"),
    ("pipeline.stages_run", "count"), ("pipeline.stages_skipped", "count"),
    *[(f"stage.{st}.{f}", u) for st in STAGES for f, u in STAGE_FIELDS],
    ("catalog.commit_s", "s"), ("catalog.read_s", "s"),
    ("catalog.bytes_stored_per_row", "B/row"),
    ("codec.compression_ratio", "ratio"), ("codec.decode_s", "s"),
    ("retention.apply_s", "s"), ("retention.partitions_expired", "count"),
    *[(f"serving.{k}.{f}", u) for k in QUERY_KINDS for f, u in QUERY_FIELDS],
    ("extract.wall_s", "s"), ("extract.executor_run_s", "s"),
    ("dedup.exact_s", "s"), ("dedup.minhash_s", "s"),
    ("dedup.minhash.shuffle_write_bytes", "B"), ("dedup.minhash.recall", "ratio"),
    ("trace.op_p50_s", "s"), ("trace.op_cpu_p50_s", "s"),
    ("trace.unattributed_share", "ratio"),
]

_SPAN_SECONDS = {
    "pipeline.ingest": "pipeline.ingest_s",
    "pipeline.diff": "pipeline.diff_s",
    "catalog.commit": "catalog.commit_s",
    "catalog.read": "catalog.read_s",
    "retention.apply": "retention.apply_s",
    "extract": "extract.wall_s",
    "dedup.exact": "dedup.exact_s",
    "dedup.minhash": "dedup.minhash_s",
}


def _op_table(op: dict, kids: dict[int, list[dict]], sub: dict[int, dict]) -> dict[str, float]:
    """Figures of one operation, summed over the spans under it."""
    acc: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        acc[key] = acc.get(key, 0.0) + v

    stack = list(kids.get(op["id"], []))
    while stack:
        s = stack.pop()
        stack.extend(kids.get(s["id"], []))
        wall, cost, name = s["end"] - s["start"], sub[s["id"]], s["name"]
        if name in _SPAN_SECONDS:
            add(_SPAN_SECONDS[name], wall)
        if name.startswith("stage.") and name[6:] in STAGES:
            p = name
            add(f"{p}.wall_s", wall)
            add(f"{p}.driver_s", max(0.0, wall - cost["critical_s"]))
            for f in ("executor_run_s", "tasks", "shuffle_write_bytes", "spill_bytes",
                      "bytes_written"):
                add(f"{p}.{f}", cost[f])
        elif name.startswith("serving."):
            _, kind, phase = name.split(".")
            add(f"serving.{kind}.{phase}_s", wall)
            add(f"serving.{kind}.tasks", cost["tasks"])
        elif name == "extract":
            add("extract.executor_run_s", cost["executor_run_s"])
        elif name == "dedup.minhash":
            add("dedup.minhash.shuffle_write_bytes", cost["shuffle_write_bytes"])
    return acc


def _covered(op: dict, kids: dict[int, list[dict]], table: dict[str, float]) -> float:
    """Time the layer spans account for: for a landing the stage walls (the
    pages write sits inside ingest) plus ingest, retention and the
    dashboard queries; otherwise the operation's direct child spans."""
    if "pipeline.ingest_s" in table:
        return sum(v for k, v in table.items()
                   if (k.startswith("stage.") and k.endswith(".wall_s")
                       and not k.startswith("stage.pages."))
                   or (k.startswith("serving.") and k.endswith(("plan_s", "exec_s")))
                   or k in ("pipeline.ingest_s", "retention.apply_s"))
    return sum(c["end"] - c["start"] for c in kids.get(op["id"], []))


def derive(spans: list[dict], costs: dict[str, dict], latencies: list[float],
           cpu: list[float], extras: dict[str, Any]) -> tuple[dict[str, float], list[dict]]:
    """(per-layer metrics, per-operation rows for the layer table file)."""
    sub = subtree_costs(spans, costs)
    selfs = self_times(spans)
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    ops = [s for s in spans if s["name"] == "op"]
    tables = [_op_table(op, kids, sub) for op in ops]
    unattributed = []
    for op, table in zip(ops, tables):
        wall = op["end"] - op["start"]
        unattributed.append(abs(wall - _covered(op, kids, table)) / wall)
    for table, res in zip(tables, extras.get("op_results", [])):
        table["pipeline.stages_run"] = len([s for s in res.stages_run if s != "retention"])
        table["pipeline.stages_skipped"] = len(res.stages_skipped)
        table["retention.partitions_expired"] = sum(
            len(v) for v in res.metrics.get("retention", {}).values())
    for table, rows in zip(tables, extras.get("op_query_rows", [])):
        table.update({f"serving.{kind}.rows": n for kind, n in rows.items()})
        if "serving.cold_blocks.exec_s" in table:
            table["codec.decode_s"] = table["serving.cold_blocks.exec_s"]

    out = {name: 0.0 for name, _ in PER_LAYER}
    for name in out:
        vals = [t[name] for t in tables if name in t]
        if vals:
            out[name] = median(vals)
    out["codec.compression_ratio"] = extras.get("compression_ratio", 0.0)
    out["catalog.bytes_stored_per_row"] = extras.get("bytes_per_row", 0.0)
    if extras.get("recall"):
        out["dedup.minhash.recall"] = median(extras["recall"])
    out["trace.op_p50_s"] = median(latencies) if latencies else 0.0
    out["trace.op_cpu_p50_s"] = median(cpu) if cpu else 0.0
    out["trace.unattributed_share"] = max(unattributed) if unattributed else 0.0

    rows = []
    for op, table, un in zip(ops, tables, unattributed):
        rows.append({"op_wall_s": op["end"] - op["start"], "unattributed_share": un,
                     "self_s": selfs[op["id"]], **table})
    return out, rows
