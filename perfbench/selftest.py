"""Self-test of the benchmark: every workload of ``BENCHMARK.json``, on
tiny generated inputs, untraced and traced, one pass each. It checks that
each run emits exactly the metrics ``BENCHMARK.json`` names, with their
units, and that no query failed.

    python3 perfbench/selftest.py

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    from perfbench import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    errors = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            opts = run.parse([
                "--workload", w["name"], "--seed", "1", "--seconds", "0",
                "--trace", str(trace), "--scale", "0.01"])
            result, info = run.run(opts)
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            where = f"{w['name']} trace={trace}"
            if got != want[trace]:
                missing = sorted(set(want[trace].items()) - set(got.items()))
                extra = sorted(set(got.items()) - set(want[trace].items()))
                errors.append(f"{where}: missing {missing}, unexpected {extra}")
            if not result["correct"] or info["failed_frac"] != 0:
                errors.append(f"{where}: failures {info['failures']}")
            if trace:
                print(f"{where}: predictions {info['predictions']}")
            print(f"{where}: {len(got)} metrics, failed_frac "
                  f"{info['failed_frac']}", flush=True)
    for e in errors:
        print("FAIL", e)
    print("selftest", "FAILED" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    raise SystemExit(main())
