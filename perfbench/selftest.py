#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size (sf0.001, R-MAT scale 11, 500 pages).

    python3 perfbench/selftest.py

For every workload it runs ``run.py --size tiny`` untraced and traced and
checks that the last stdout line has exactly the keys ``correct``,
``attempted``, ``failed`` and ``metrics``, and that the metrics are exactly
BENCHMARK.json's ``end_to_end`` (untraced) or ``per_layer`` (traced) names
with their units. It then plants a wrong expected answer (``--inject-wrong``)
and checks that the wrong answers count as failed, show up in the report's
``error_rate`` and make the exit code 1. Exits 1 if any check fails.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(workload: str, trace: int, *extra: str) -> tuple[int, dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny", *extra],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=300,
    )
    lines = proc.stdout.strip().splitlines()
    if len(lines) < 2:
        return proc.returncode, {}, {}
    return proc.returncode, json.loads(lines[-2]), json.loads(lines[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    failures = []

    def expect(ok: bool, what: str) -> None:
        print(("PASS " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    for w in (x["name"] for x in spec["workloads"]):
        for trace in (0, 1):
            rc, report, result = _run(w, trace)
            tag = f"{w} trace={trace}"
            expect(rc == 0, f"{tag}: exit code 0 (got {rc})")
            expect(set(result) == {"correct", "attempted", "failed", "metrics"},
                   f"{tag}: result keys")
            got = {k: v.get("unit") for k, v in result.get("metrics", {}).items()}
            expect(got == want[trace], f"{tag}: every metric present with its unit")
            expect(all(isinstance(v.get("value"), (int, float))
                       for v in result.get("metrics", {}).values()), f"{tag}: numeric values")
            expect(result.get("correct") is True and result.get("failed") == 0
                   and report.get("error_rate") == 0.0, f"{tag}: error_rate 0")
        rc, report, result = _run(w, 0, "--inject-wrong")
        tag = f"{w} --inject-wrong"
        expect(rc == 1, f"{tag}: exit code 1 (got {rc})")
        expect(result.get("correct") is False and result.get("failed", 0) > 0,
               f"{tag}: wrong answers counted as failed")
        expect(report.get("error_rate", 0) > 0
               and report["error_rate"] == result["failed"] / result["attempted"],
               f"{tag}: error_rate = failed / attempted > 0")
    print(f"selftest: {len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
