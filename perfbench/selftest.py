"""Self-test of the benchmark.

    python3 perfbench/selftest.py

Run it from the root of a git checkout. It runs every workload briefly,
untraced and traced, and checks that:

- each run exits 0 and its last output line holds exactly the keys
  ``correct``, ``attempted``, ``failed`` and ``metrics``, with every
  output correct;
- an untraced run prints exactly the end-to-end metrics of
  BENCHMARK.json and a traced run exactly the per-layer ones, each with
  its unit and a finite value, and end-to-end values are never 0;
- ``git status --porcelain`` is the same before and after, and the
  runs leave no file behind apart from the traced runs' spans under
  ``.perfbench_out/`` and Python byte code;
- a directory holding only BENCHMARK.json and the benchmark's own
  files makes the runner fail without printing a result.
"""

from __future__ import annotations

import json
import math
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

KEYS = {"correct", "attempted", "failed", "metrics"}
LEFT_BEHIND_OK = (".perfbench_out/", "__pycache__/")


def _git_status(ignored: bool) -> set[str]:
    cmd = ["git", "status", "--porcelain", "--untracked-files=all"]
    if ignored:
        cmd.append("--ignored")
    return set(subprocess.run(cmd, capture_output=True, text=True, check=True).stdout.splitlines())


def _run(workload: str, trace: int, bench: dict) -> list[str]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace)],
        capture_output=True, text=True,
    )
    where = f"{workload} --trace {trace}"
    if out.returncode != 0:
        return [f"{where}: exit {out.returncode}\n{out.stderr[-2000:]}"]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    errors = []
    if set(result) != KEYS:
        errors.append(f"{where}: keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        errors.append(f"{where}: correct={result['correct']} failed={result['failed']}")
    spec = bench["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in spec}
    got = result["metrics"]
    if set(got) != set(want):
        errors.append(f"{where}: metrics differ: {sorted(set(got) ^ set(want))}")
    for name, m in got.items():
        v = m["value"]
        if m["unit"] != want.get(name) or not math.isfinite(v) or (not trace and v == 0):
            errors.append(f"{where}: {name} = {m}")
    return errors


def _empty_dir_fails() -> list[str]:
    with tempfile.TemporaryDirectory() as tmp:
        shutil.copy("BENCHMARK.json", tmp)
        shutil.copytree("perfbench", f"{tmp}/perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "dataflow", "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=tmp, capture_output=True, text=True, timeout=180,
        )
    if out.returncode == 0 or out.stdout.strip():
        return ["a directory without the program did not fail cleanly"]
    return []


def main() -> int:
    if not Path("BENCHMARK.json").is_file():
        print("run from the root of the checkout", file=sys.stderr)
        return 2
    bench = json.loads(Path("BENCHMARK.json").read_text())
    status, ignored = _git_status(False), _git_status(True)
    errors = _empty_dir_fails()
    for w in bench["workloads"]:
        for trace in (0, 1):
            errors += _run(w["name"], trace, bench)
            print(f"ran {w['name']} --trace {trace}", flush=True)
    if _git_status(False) != status:
        errors.append(f"git status changed: {sorted(_git_status(False) ^ status)}")
    new = [line for line in _git_status(True) - ignored
           if not any(part in line for part in LEFT_BEHIND_OK)]
    if new:
        errors.append(f"files left behind: {new}")
    for e in errors:
        print("FAIL", e)
    print("selftest", "failed" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
