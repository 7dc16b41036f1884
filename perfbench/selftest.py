"""Fast self-test of the benchmark itself.

    python3 perfbench/selftest.py

For each workload in BENCHMARK.json: one traced pass at the smallest
data size (sf0.001 tables, 2k-row batches) must print every per-layer
metric with its unit and write the span file; one untraced pass must
print every end-to-end metric with its unit.  Both must report correct
results.  The traced pass must count no build-time jobs for entries
whose builders only compose a plan (``LAZY_ENTRIES``), which shows that
the benchmark's own Spark jobs are not counted as the program's.
Exits 1 on the first problem.
"""

from __future__ import annotations

import json
import os
import sys

from report import ROOT, run

SPAN_KEYS = {"id", "name", "op", "parent", "start", "end"}
# headline entries whose builders run no Spark job before the action.
LAZY_ENTRIES = ("q1_pricing_summary", "q3_shipping_priority",
                "q5_local_supplier_volume", "q21_waiting_supplier")


def check(result: dict, listed: list[dict]) -> list[str]:
    problems = []
    if not result["correct"] or result["failed"]:
        problems.append(f"{result['failed']} failed ops")
    got = result["metrics"]
    names = {m["name"] for m in listed}
    for m in listed:
        if m["name"] not in got:
            problems.append(f"missing {m['name']}")
        elif got[m["name"]]["unit"] != m["unit"]:
            problems.append(f"{m['name']} unit {got[m['name']]['unit']}")
    if set(got) - names:
        problems.append(f"unlisted {sorted(set(got) - names)}")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    small = ["--passes", "1", "--scale", "0.1"]
    for w in (w["name"] for w in spec["workloads"]):
        spans = os.path.join(ROOT, ".perfbench", f"spans-{w}-1.jsonl")
        if os.path.exists(spans):
            os.remove(spans)
        detail, traced = run(w, 1, 1, 1, small)
        problems = check(traced, spec["per_layer"])
        problems += [f"{name}: {detail['build_jobs'][name]} build jobs"
                     for name in LAZY_ENTRIES
                     if detail["build_jobs"].get(name, 0)]
        if not os.path.exists(spans):
            problems.append("no span file")
        else:
            with open(spans) as fh:
                records = [json.loads(line) for line in fh]
            if not records or any(set(r) != SPAN_KEYS for r in records):
                problems.append("span file empty or malformed")
        _d, plain = run(w, 1, 1, 0, small)
        problems += check(plain, spec["end_to_end"])
        print(f"{w}: {'ok' if not problems else '; '.join(problems)}")
        if problems:
            return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
