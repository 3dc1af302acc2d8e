#!/usr/bin/env python3
"""Self-test of the benchmark's output.

    python3 perfbench/selftest.py

Runs the emitter under a comma-decimal default locale (German) and checks
that every stdout line parses as JSON, that numbers keep their decimal
point, and that the per-layer metrics a traced run prints are exactly the
ones BENCHMARK.json declares. Exits non-zero on the first failure.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    run.build()
    lines = run.jvm(["perfbench.EmitSelfTest"], "selftest",
                    extra_jvm=["-Duser.language=de", "-Duser.country=DE"])
    parsed = [json.loads(line) for line in lines]
    summaries = [p for p in parsed if set(p) == {"correct", "attempted", "failed", "metrics"}]
    assert len(summaries) == 2, f"expected 2 summary lines, got {len(summaries)}"
    untraced, traced = summaries
    assert untraced["metrics"]["m0"]["value"] == 1234.5678, untraced["metrics"]["m0"]
    assert untraced["metrics"]["m2"]["value"] == 1e-9, untraced["metrics"]["m2"]
    problems = [p["problem"] for p in parsed if "problem" in p]
    assert problems == ['a "quoted"\tproblem, with a comma'] * 2, problems
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        declared = [m["name"] for m in json.load(f)["per_layer"]]
    assert sorted(traced["metrics"]) == sorted(declared), \
        set(traced["metrics"]) ^ set(declared)
    assert traced["metrics"]["trace.overhead_ratio"]["value"] == 0.5
    assert any(p.get("metric") == "self_ms.outer" for p in parsed)
    print(f"selftest ok: {len(lines)} lines parsed under a de_DE default locale")


if __name__ == "__main__":
    main()
