"""Smoke run: every workload at a tiny input size, untraced and traced.

    python3 perfbench/smoke.py [workload ...]

Asserts that each run exits 0, reports no failed operation or check, and
prints every metric that ``BENCHMARK.json`` names (end-to-end metrics
untraced, per-layer metrics traced) with the unit declared there, plus the
workload's own named metrics with their units. Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

NAMED = {
    "build_serve": ["build.records_per_s", "build.index_bytes_per_record",
                    "serve.queries_per_s", "serve.batch_ms.p50", "serve.batch_ms.tail",
                    "serve.eval_queries_per_s", "serve.precision_at_10",
                    "serve.ann_recall_at_10"],
    "maintenance": ["update.rows_per_s", "update.batch_ms.p50", "dedup.docs_per_s",
                    "dedup.planted_pair_recall", "graph.edges_per_s"],
}


def run(workload: str, trace: int) -> tuple[dict, str]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"{workload} trace={trace}: exit {out.returncode}\n"
                             f"{out.stderr[-3000:]}")
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]), out.stdout


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = argv or [w["name"] for w in bench["workloads"]]
    for workload in names:
        for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            result, text = run(workload, trace)
            assert result["correct"] and result["failed"] == 0, (workload, trace, result)
            assert result["attempted"] >= 1
            got = result["metrics"]
            for m in declared:
                assert m["name"] in got, f"{workload} trace={trace}: {m['name']} missing"
                assert got[m["name"]]["unit"] == m["unit"], (workload, m["name"])
                assert isinstance(got[m["name"]]["value"], (int, float))
            assert set(got) == {m["name"] for m in declared}, \
                f"{workload} trace={trace}: undeclared {set(got) - {m['name'] for m in declared}}"
            if trace == 0:
                for name in NAMED[workload] + ["failed_frac"]:
                    assert re.search(rf"^# metric {re.escape(name)} = \S+ \S+$", text, re.M), \
                        f"{workload}: named metric {name} not printed with a unit"
            else:
                assert "# spans written to" in text and "(no span)" in text
            print(f"ok {workload} trace={trace}: {len(got)} metrics", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
