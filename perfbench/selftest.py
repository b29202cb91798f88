"""Self-test of the benchmark at tiny input.

    python3 perfbench/selftest.py

For every workload in ``BENCHMARK.json`` it runs the benchmark command three
times at a few percent of the input: untraced (every end-to-end metric is
printed with its unit, every job passes its check), traced (every per-layer
metric is printed with its unit and the span it came from) and with a
corrupted reference (``ops_failed_ratio`` must rise above 0). Exits non-zero
on the first failed expectation.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALE = "0.05"


def _run(workload: str, trace: int, *extra: str) -> tuple[dict, str]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--scale", SCALE, *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{cmd} exited {proc.returncode}:\n{proc.stderr[-4000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), proc.stdout


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise AssertionError(what)
    print(f"ok: {what}", flush=True)


def _has_metrics(result: dict, declared: list[dict], where: str) -> None:
    for m in declared:
        got = result["metrics"].get(m["name"])
        _expect(got is not None and got["unit"] == m["unit"]
                and isinstance(got["value"], (int, float)),
                f"{where}: {m['name']} printed in {m['unit']}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for wl in (w["name"] for w in bench["workloads"]):
        result, out = _run(wl, 0)
        _expect(result["correct"] and result["failed"] == 0
                and result["attempted"] >= 1, f"{wl}: every job matches its reference")
        _has_metrics(result, bench["end_to_end"], wl)
        _expect("ops_failed_ratio=0.0000" in out, f"{wl}: ops_failed_ratio printed, 0")

        result, out = _run(wl, 1)
        _has_metrics(result, bench["per_layer"], f"{wl} traced")
        for m in bench["per_layer"]:
            line = re.search(rf"^# layer {re.escape(m['name'])} = .*\((.+)\)$",
                             out, re.M)
            _expect(line is not None and (line.group(1).startswith("span run/")
                                          or "not called" in line.group(1)),
                    f"{wl} traced: {m['name']} names its span")

        result, out = _run(wl, 0, "--corrupt-reference")
        ratio = float(re.search(r"ops_failed_ratio=([0-9.]+)", out).group(1))
        _expect(ratio > 0 and result["failed"] > 0 and not result["correct"],
                f"{wl}: a wrong reference raises ops_failed_ratio to {ratio}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
