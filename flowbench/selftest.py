"""Self-test of the flowbench benchmark, at about sf0.001.

    python3 flowbench/selftest.py

For each workload it runs `run.py --scale tiny` untraced and traced and
asserts that every metric BENCHMARK.json names is present with its unit
and a finite value, that all eight end-to-end figures are printed, and
that fail_frac is 0. It also checks that the output comparison rejects a
wrong checksum, and that the benchmark refuses to run without graft's
sources. Exits non-zero on the first failure.
"""

import copy
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

PRINTED = ["setup_s", "cold_pass_s", "pass_s", "input_mb_s",
           "out_bytes_per_in_byte", "fail_frac", "heap_live_mb", "heap_peak_mb"]


def bench_run(workload, trace, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(cwd, "flowbench", "run.py"),
                        "--workload", workload, "--seed", "3", "--seconds", "1",
                        "--trace", str(trace), "--scale", "tiny"],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    return p


def check_comparison():
    tmp = os.path.join(ROOT, ".bench_tmp", "selftest-compare")
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        for w in gen.GENERATORS:
            meta = gen.make_inputs(w, 3, "tiny", tmp)
            for name, exp in meta["expected"].items():
                assert run.compare(exp, exp) is None, (w, name)
                for col, (kind, val) in exp["cols"].items():
                    bad = copy.deepcopy(exp)
                    bad["cols"][col][1] = val + (1 if kind != "float" else 1.0)
                    assert run.compare(exp, bad), (w, name, col)
                bad = copy.deepcopy(exp)
                bad["rows"] += 1
                assert run.compare(exp, bad), (w, name, "rows")
            shutil.rmtree(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("ok  output comparison rejects wrong checksums")


def check_bare_dir():
    bare = os.path.join(ROOT, ".bench_tmp", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "flowbench"),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        p = bench_run("ingest_wide", 0, cwd=bare)
        assert p.returncode != 0, "ran without graft's sources"
        assert not p.stdout.strip(), f"printed a result: {p.stdout!r}"
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok  refuses to run without graft's sources")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_comparison()
    check_bare_dir()
    for w in [x["name"] for x in spec["workloads"]]:
        for trace, key in [(0, "end_to_end"), (1, "per_layer")]:
            p = bench_run(w, trace)
            assert p.returncode == 0, f"{w} trace {trace} exit {p.returncode}:\n{p.stderr[-3000:]}"
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, f"{w} trace {trace}: metrics differ: " \
                f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, " \
                f"units {[(k, got[k], want[k]) for k in want if k in got and got[k] != want[k]]}"
            assert all(math.isfinite(v["value"]) for v in res["metrics"].values())
            if trace == 0:
                printed = {ln.split()[1]: float(ln.split()[2]) for ln in lines[:-1]
                           if ln.startswith(w + " ")}
                assert set(PRINTED) <= set(printed), sorted(printed)
                assert printed["fail_frac"] == 0.0
            print(f"ok  {w} trace {trace}: {len(got)} metrics, "
                  f"{res['attempted']} operations, fail_frac 0")
    print("selftest passed")


if __name__ == "__main__":
    main()
