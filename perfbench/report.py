"""Per-layer table of one traced run, with the tracing overhead.

    python3 perfbench/run.py --workload crawl_durable --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload crawl_durable --seed 1 --seconds 20 --trace 1
    python3 perfbench/report.py crawl_durable 1

Reads the two result files ``run.py`` wrote under ``.perfbench/out/`` for
the same workload and seed and prints markdown: the end-to-end metrics of
the untraced and the traced run (their ratio is the tracing overhead),
the per-layer metrics, and one row per round (crawl) or per query of the
first timed pass (queries).
"""

from __future__ import annotations

import json
import os
import sys

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".perfbench", "out")
ROUND_COLS = [
    "wall_s", "claimed", "links_found", "links_new", "crawl.claim_s", "crawl.links_s",
    "crawl.dedup_seq_s", "crawl.bloom_add_s", "crawl.materialize_s", "assign_global_seq",
    "add_df_to_filter", "write_round", "load_state", "spark.jobs", "spark.tasks",
    "spark.driver_gap_s", "spark.task_busy_share", "spark.shuffle_write_bytes",
    "links.python.udf_s", "links.python.boot_s", "links.python.bytes_sent",
]
QUERY_COLS = [
    "wall_s", "spark.jobs", "spark.tasks", "spark.driver_gap_s", "spark.task_busy_share",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.gc_s", "python.udf_s",
]


def _fmt(v) -> str:
    if isinstance(v, float):
        return f"{v:.4g}"
    return "" if v is None else str(v)


def _table(cols: list[str], rows: list[tuple[str, dict]]) -> list[str]:
    lines = ["| op | " + " | ".join(cols) + " |", "|---" * (len(cols) + 1) + "|"]
    for name, row in rows:
        lines.append(f"| {name} | " + " | ".join(_fmt(row.get(c)) for c in cols) + " |")
    return lines


def report(workload: str, seed: int) -> str:
    runs = {}
    for t in (0, 1):
        with open(os.path.join(OUT, f"{workload}-seed{seed}-trace{t}.json")) as f:
            runs[t] = json.load(f)
    plain, traced = runs[0], runs[1]
    out = [f"## {workload}, seed {seed}", "", "| metric | untraced | traced | traced / untraced |", "|---|---|---|---|"]
    for k, v in plain["end_to_end"].items():
        tv = traced["end_to_end"].get(k)
        ratio = tv / v if v and tv else None
        out.append(f"| {k} | {_fmt(v)} | {_fmt(tv)} | {_fmt(ratio)} |")
    out += ["", f"annotation (traced run): `{json.dumps(traced['annotation'])}`", "",
            "| per-layer metric | value |", "|---|---|"]
    out += [f"| {k} | {_fmt(v)} |" for k, v in traced["per_layer"].items()]
    out.append("")
    rows = traced["rows"]
    if rows and "wall_s" in rows[0]:
        out += _table(ROUND_COLS, [(r["op"], r) for r in rows])
    elif rows:
        first = {k: v for k, v in rows[0].items() if k != "op"}
        out += _table(QUERY_COLS, list(first.items()))
    return "\n".join(out)


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    print(report(sys.argv[1], int(sys.argv[2])))
