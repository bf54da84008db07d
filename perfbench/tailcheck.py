#!/usr/bin/env python3
"""Checks that a benchmark run's result survives a 2000-character tail capture.

    python3 perfbench/run.py --workload W ... > out.txt
    python3 perfbench/tailcheck.py out.txt [--trace 0|1]

Keeps only the last 2000 characters of the captured stdout, as a runner
that stores a bounded tail would, takes the last line of that tail, and
checks that it parses as the result object: exactly the keys correct,
attempted and failed plus metrics, at most 1800 characters, and every
metric BENCHMARK.json names for that kind of run, each with its unit.
"""
import json
import os
import sys

TAIL = 2000
MAX_LINE = 1800


def main():
    path = sys.argv[1]
    trace = sys.argv[sys.argv.index("--trace") + 1] == "1" if "--trace" in sys.argv else False
    with open(path) as fh:
        tail = fh.read()[-TAIL:]
    line = tail.rstrip("\n").split("\n")[-1]
    assert len(line) <= MAX_LINE, f"last line is {len(line)} characters"
    result = json.loads(line)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, sorted(result)
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    assert isinstance(result["failed"], int)
    spec = json.load(open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")))
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    assert set(result["metrics"]) == set(wanted), sorted(set(result["metrics"]) ^ set(wanted))
    for k, m in result["metrics"].items():
        assert set(m) == {"value", "unit"} and m["unit"] == wanted[k], (k, m)
        assert isinstance(m["value"], (int, float)), (k, m)
    print(f"ok: {len(line)} characters, {len(wanted)} metrics, correct={result['correct']}")


if __name__ == "__main__":
    main()
