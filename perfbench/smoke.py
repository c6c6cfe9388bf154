"""Self-test of the benchmark: every workload once untraced and once traced,
on the tiny inputs (3,200 clips; 6,000 lineitem rows).

    python3 perfbench/smoke.py

Checks that each run exits 0, that its result line carries exactly the
metrics ``BENCHMARK.json`` names for its mode, with their units, that no
iteration failed, and that a traced run wrote spans with parent and
iteration ids. Takes about five minutes on a 4-core host.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 1


def check(ok: bool, msg: str) -> None:
    if not ok:
        raise SystemExit(f"smoke: FAIL {msg}")


def main() -> None:
    sys.path.insert(0, HERE)
    from run import DATA, WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    for workload in WORKLOADS:
        for trace in (0, 1):
            cmd = [
                sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--size", "tiny",
            ]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
            label = f"{workload} --trace {trace}"
            check(proc.returncode == 0, f"{label} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            check(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{label} keys {sorted(res)}")
            check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, f"{label} {res}")
            units = {k: v["unit"] for k, v in res["metrics"].items()}
            check(units == want[trace], f"{label} metrics {units} != {want[trace]}")
            if trace:
                with open(os.path.join(DATA, "traces", f"{workload}-s{SEED}.json")) as f:
                    doc = json.load(f)
                spans = doc["spans"]
                check(bool(spans), f"{label} wrote no spans")
                check(all(s["iteration"] and s["end"] >= s["start"] for s in spans), f"{label} span fields")
                check(any(s["parent"] is not None for s in spans), f"{label} spans have no parents")
                check("tracing_overhead_s" in doc["summary"], f"{label} no tracing overhead")
            print(f"smoke: {label} ok ({res['attempted']} iterations)", flush=True)
    print("smoke: ok")


if __name__ == "__main__":
    main()
