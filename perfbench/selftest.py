"""Self-test of the benchmark at a tiny input size.

    python3 perfbench/selftest.py [workload ...]

Run from the root of a repository checkout.  Checks that

- the same seed gives byte-identical input files and another seed
  different ones, for both input generators;
- every workload, traced and untraced, prints as its last line a
  correct result holding every metric BENCHMARK.json names, each with
  its declared unit;
- a directory holding only BENCHMARK.json and the benchmark's files
  makes the command fail without printing a result.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench", f"selftest-{os.getpid()}")
TINY_DOCS = 60


def _files(path: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            out[name] = f.read()
    return out


def check_inputs() -> None:
    sys.path.insert(1, ROOT)
    import inputs

    gens = {
        "filter_pages": lambda seed: inputs.filter_pages(seed, TINY_DOCS),
        "near_dup_pages": lambda seed: inputs.near_dup_pages(seed, TINY_DOCS, 0.2, 3)[0],
    }
    for name, gen in gens.items():
        written = []
        for tag, seed in (("a", 1), ("b", 1), ("c", 2)):
            path = os.path.join(SCRATCH, f"{name}-{tag}")
            inputs.write_parquet(gen(seed), path)
            written.append(_files(path))
        assert written[0] == written[1], f"{name}: same seed, different files"
        assert written[0] != written[2], f"{name}: different seeds, same files"
        print(f"ok inputs {name}: seed-deterministic, seed-sensitive")


def check_workload(name: str, trace: int, declared: dict) -> None:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
        "--seed", "5", "--seconds", "1", "--trace", str(trace), "--docs", str(TINY_DOCS),
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, f"{name} trace={trace} exit {proc.returncode}:\n{proc.stderr[-3000:]}"
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1, out
    want = {m["name"]: m["unit"] for m in declared["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == want, f"{name} trace={trace}: metrics/units {got} != {want}"
    for k, v in out["metrics"].items():
        assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"]), (k, v)
    print(f"ok {name} trace={trace}: {len(got)} metrics with units")


def check_bare_directory() -> None:
    bare = os.path.join(SCRATCH, "bare")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    cmd = [sys.executable, "perfbench/run.py", "--workload", "filter_stub", "--seed", "1",
           "--seconds", "1", "--trace", "0"]
    proc = subprocess.run(cmd, cwd=bare, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0, "bare directory: exit 0"
    assert '"metrics"' not in proc.stdout, "bare directory: printed a result"
    print("ok bare directory: fails without a result")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    names = sys.argv[1:] or [w["name"] for w in declared["workloads"]]
    os.makedirs(SCRATCH)
    try:
        check_inputs()
        check_bare_directory()
        for name in names:
            for trace in (0, 1):
                check_workload(name, trace, declared)
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
