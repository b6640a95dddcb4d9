"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 perfbench/smoke.py

For every workload it checks that

- a plain run (``--trace 0``) is correct, and prints exactly the
  end-to-end metrics of ``BENCHMARK.json`` with their units;
- a traced run that checks falsified copies of every result instead
  (``--corrupt``: one copy per check the workload makes, each falsified so
  that only that check can catch it) catches every copy, and prints
  exactly the per-layer metrics with their units;

and that the benchmark exits non-zero without a result line when the
engine package is missing (a directory holding only ``BENCHMARK.json``
and this directory). Exits 1 on the first failed check. Takes a few
minutes: every run starts its own Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "0.02"


def run(args: list[str], cwd: str = ROOT) -> tuple[int, dict | None, dict | None, str]:
    """(exit code, result line, run record line, stderr tail)"""
    p = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                       capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
        record = json.loads(lines[-2]) if len(lines) > 1 else None
    except json.JSONDecodeError:
        result = record = None
    return p.returncode, result, record, p.stderr[-2000:]


def expect(ok: bool, what: str, detail: str = "") -> None:
    print(("ok    " if ok else "FAIL  ") + what, flush=True)
    if not ok:
        if detail:
            print(detail)
        sys.exit(1)


def same_metrics(result: dict, spec: list[dict]) -> bool:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    return got == {m["name"]: m["unit"] for m in spec} and all(
        isinstance(v["value"], (int, float)) for v in result["metrics"].values())


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    common = ["--seed", "7", "--seconds", "1", "--scale", SCALE]
    for wl in (w["name"] for w in bench["workloads"]):
        code, res, _, err = run(["--workload", wl, "--trace", "0", *common])
        expect(code == 0 and res is not None, f"{wl}: plain run exits 0 with a result", err)
        expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
               f"{wl}: every output matches its oracle", json.dumps(res))
        expect(same_metrics(res, bench["end_to_end"]),
               f"{wl}: end-to-end metric names and units match BENCHMARK.json",
               json.dumps(res["metrics"]))

        code, res, rec, err = run(["--workload", wl, "--trace", "1", "--corrupt", *common])
        expect(code == 0 and res is not None, f"{wl}: corrupted traced run exits 0", err)
        caught = rec["corruptions_caught_missed"]
        expect(not res["correct"] and res["failed"] == res["attempted"] >= 1
               and all(c >= 1 and m == 0 for c, m in caught.values()),
               f"{wl}: every corrupted output is caught, by check: "
               + ", ".join(f"{k} {c}" for k, (c, _) in sorted(caught.items())),
               json.dumps(res)[:500] + json.dumps(caught))
        expect(same_metrics(res, bench["per_layer"]),
               f"{wl}: per-layer metric names and units match BENCHMARK.json",
               json.dumps(res["metrics"])[:2000])

    bare = os.path.join(ROOT, ".perfbench_run", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        for p in bench["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        code, res, _, _ = run(["--workload", bench["workloads"][0]["name"], *common], cwd=bare)
        expect(code != 0 and res is None, "without the engine: non-zero exit, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("smoke test passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
