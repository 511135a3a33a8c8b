#!/usr/bin/env python3
"""Self-tests of the benchmark itself, at a tiny size.

    python3 perfbench/selftest.py

1. every metric of BENCHMARK.json is emitted with its unit and sample count,
   untraced and traced;
2. the same seed reproduces identical inputs and reference checksums, and
   another seed does not;
3. adding or dropping one output row makes the run report failures;
4. a resumed staged tiling pipeline reports every stage skipped, and the
   stored outputs it returns still match the reference checksums.
Exits 0 when all pass.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

TINY = "0.01"


def run_bench(*extra: str) -> tuple[dict, list[str]]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--seed", "5", "--seconds", "1", "--scale", TINY, *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=400)
    if p.returncode != 0:
        raise AssertionError(f"{cmd} exited {p.returncode}: {p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines


def test_metrics_emitted() -> None:
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        result, lines = run_bench("--workload", "pip_any_mixed", "--trace", str(trace))
        want = {m["name"]: m["unit"] for m in spec[key]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        assert got == want, f"trace {trace}: metrics differ: {set(got) ^ set(want)} or units"
        for name, unit in want.items():
            pat = re.compile(rf"^metric pip_any_mixed {re.escape(name)} = \S+ {re.escape(unit)} \(n=\d+\)$")
            assert any(pat.match(line) for line in lines), f"no '{name}' line with unit and sample count"
        assert result["correct"] and result["failed"] == 0, result


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, _, names in sorted(os.walk(root)):
        for n in sorted(names):
            with open(os.path.join(dirpath, n), "rb") as f:
                h.update(n.encode() + f.read())
    return h.hexdigest()


def test_seed_reproducible() -> None:
    import workloads as wl

    base = os.path.join(ROOT, ".perfbench_work", "selftest")
    shutil.rmtree(base, ignore_errors=True)
    spec = wl.SPECS["pip_any_mixed"]
    got = []
    for i, seed in enumerate((7, 7, 8)):
        inp = wl.Inputs(spec, seed, os.path.join(base, str(i)), float(TINY), stages=True)
        exp = {k: (v.tobytes() if hasattr(v, "tobytes") else v) for k, v in inp.expected.items()}
        got.append((_digest(inp.paths["root"]), exp))
    assert got[0] == got[1], "same seed gave different inputs or references"
    assert got[0][0] != got[2][0] and got[0][1]["job"] != got[2][1]["job"], "another seed gave the same inputs"
    shutil.rmtree(base, ignore_errors=True)


def test_tamper_detected() -> None:
    for tamper in ("add", "drop"):
        result, _ = run_bench("--workload", "pip_points_rect", "--trace", "0", "--tamper", tamper)
        assert result["failed"] > 0 and not result["correct"], f"--tamper {tamper} went unnoticed: {result}"


def test_resume_identical() -> None:
    import run
    import workloads as wl

    args = run.parse_args(["--workload", "pip_any_mixed", "--seed", "5", "--seconds", "1", "--scale", TINY])
    bench = run.Bench(args)
    try:
        bench._env()
        inputs = wl.Inputs(bench.spec, args.seed, run.WORK, args.scale, stages=True)
        spark = bench.session()
        root = os.path.join(bench.run_dir, "selftest-resume")
        ok, events = wl.run_pipeline(spark, inputs, root)
        assert ok and [e["action"] for e in events] == ["ran"] * len(wl.STAGES), events
        events = wl.resume_pipeline(spark, inputs, root)
        assert [e["action"] for e in events] == ["skipped"] * len(wl.STAGES), events
        assert wl.check_resumed(spark, inputs, root), "resumed outputs differ from the reference"
    finally:
        bench.close()


def main() -> int:
    tests = [test_seed_reproducible, test_resume_identical, test_tamper_detected, test_metrics_emitted]
    failed = 0
    for t in tests:
        try:
            t()
            print(f"PASS {t.__name__}", flush=True)
        except Exception as e:  # report every test, then fail the run
            failed += 1
            print(f"FAIL {t.__name__}: {type(e).__name__}: {e}", flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
