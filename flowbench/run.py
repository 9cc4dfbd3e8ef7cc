"""flowbench: one benchmark for graft's manifest dataflow and operator queries.

    python3 flowbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for sizes and why each was chosen):
  ingest_wide    one melt command over a tab-separated lineitem dump
  manifest_many  Annotator.annotate over a 69-file pipeline tree, then Runner.run
  query_panel    three SparkEntry.queries operators to the noop sink

Each run builds graft and the harness from the checkout's sources when
they changed (sbt, once), generates its inputs from the seed under
.bench_tmp/, runs the workload in one JVM on local[N] (N = usable cores)
and checks every output of every pass against results computed here from
the source rows. The last stdout line is one JSON object:
  {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
--trace 0 reports the end-to-end metrics; --trace 1 reports the per-layer
metrics, and writes spans to .bench_out/trace-<workload>-seed<n>.json.

`--scale tiny` runs at about sf0.001; flowbench/selftest.py uses it.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "flowbench.classpath")
STAMP = os.path.join(BUILD, "flowbench.stamp")
DEADLINE_S = 170.0

# what `spark-submit` passes on JDK 17 (graft's build.sbt uses the same)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

E2E_UNITS = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s",
             "input_mb_s": "MB/s", "heap_live_mb": "MB", "heap_peak_mb": "MB"}


def log(*a):
    print("[flowbench]", *a, file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------------ build

def source_stamp():
    """Content hash of everything the harness classpath is built from."""
    h = hashlib.sha1()
    tops = [os.path.join(ROOT, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    for d in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]:
        for base, dirs, files in os.walk(d):
            dirs.sort()
            tops += [os.path.join(base, f) for f in sorted(files)]
    for p in tops:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha1(f.read()).digest())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    log("building graft and the harness (sbt) ...")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" +
                   os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx3g")
    t0 = time.time()
    # own process group: the sbt script starts a JVM that must go with it
    p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "writeClasspath"], cwd=HERE, env=env,
                         stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        rc = p.wait(timeout=700)
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if rc != 0 or not os.path.exists(CLASSPATH):
        raise SystemExit(f"build failed (sbt exit {rc})")
    with open(STAMP, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")


# -------------------------------------------------------------- the JVM

class Jvm:
    """Runs the harness main and always reaps the process."""

    def __init__(self, run_dir, cpus):
        self.run_dir = run_dir
        self.cpus = cpus
        self.proc = None
        with open(CLASSPATH) as f:
            self.classpath = f.read().strip()

    def run(self, args, timeout):
        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
               f"-Djava.io.tmpdir={tmp}",
               f"-Dspark.local.dir={tmp}",
               f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
               "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC",
               f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", self.classpath, "flowbench.Harness",
                "--cpus", str(self.cpus)] + args
        logf = os.path.join(self.run_dir, "jvm.log")
        with open(logf, "ab") as lf:
            # SPARK_LOCAL_DIRS, when set, wins over spark.local.dir
            env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
            self.proc = subprocess.Popen(cmd, cwd=self.run_dir, stdout=lf,
                                         stderr=lf, stdin=subprocess.DEVNULL,
                                         env=env)
            try:
                rc = self.proc.wait(timeout=max(5.0, timeout))
            finally:
                self.stop()
        if rc != 0:
            with open(logf, errors="replace") as f:
                tail = f.read()[-4000:]
            raise RuntimeError(f"harness JVM exited {rc}:\n{tail}")

    def stop(self):
        if self.proc is not None and self.proc.poll() is None:
            self.proc.kill()
        if self.proc is not None:
            self.proc.wait()
        self.proc = None


# ---------------------------------------------------------------- checks

def compare(expected, got):
    """None if `got` matches `expected`, else why not."""
    if got is None:
        return "no checksum"
    if got["rows"] != expected["rows"]:
        return f"rows {got['rows']} != expected {expected['rows']}"
    ec, gc = expected["cols"], got["cols"]
    if set(ec) != set(gc):
        return f"columns {sorted(gc)} != expected {sorted(ec)}"
    for c, (kind, want) in ec.items():
        gkind, have = gc[c]
        if gkind != kind:
            return f"column {c}: type {gkind} != expected {kind}"
        have = 0 if have is None else have
        if kind == "float":
            # 6-dp rounding may differ in the last digit per value
            tol = 1e-6 * max(1, expected["rows"]) + 1e-9 * abs(want)
            if not math.isfinite(have) or abs(have - want) > tol:
                return f"column {c}: sum {have!r} != expected {want!r}"
        elif have != want:
            return f"column {c}: checksum {have} != expected {want}"
    return None


def check_passes(rec, meta):
    """(attempted, failed, problems) over every op of every pass."""
    attempted = failed = 0
    problems = []
    for p in rec["passes"]:
        for o in p["ops"]:
            attempted += 1
            why = o.get("error") or compare(meta["expected"][o["name"]],
                                            o.get("check"))
            if why:
                failed += 1
                problems.append(f"pass {p['i']} {o['name']}: {why}")
    return attempted, failed, problems


def out_bytes(run_dir):
    total = 0
    for base, _, files in os.walk(os.path.join(run_dir, "out")):
        total += sum(os.path.getsize(os.path.join(base, f))
                     for f in files if f.endswith(".parquet"))
    return total


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=sorted(gen.SCALES), default="full")
    a = ap.parse_args()

    def on_term(signum, _frame):
        # unwinds through the finally blocks that stop sbt and the JVM
        raise SystemExit(128 + signum)
    signal.signal(signal.SIGTERM, on_term)

    for need in ["build.sbt", os.path.join("src", "main", "scala", "graft")]:
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"graft sources not found ({need} missing under {ROOT})")
            return 2

    build()
    t_start = time.time()  # the run's own deadline starts after the build
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".bench_tmp",
                           f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    jvm = None
    try:
        t0 = time.time()
        meta = gen.make_inputs(a.workload, a.seed, a.scale, run_dir)
        log(f"inputs: {len(meta['files'])} files, {meta['input_bytes']} bytes, "
            f"generated in {time.time() - t0:.2f} s (not part of setup_s)")
        jvm = Jvm(run_dir, cpus)
        out = os.path.join(run_dir, "result.json")
        args = ["--inputs", run_dir, "--out", out,
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
        if a.trace:
            os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
            args += ["--spans", os.path.join(
                ROOT, ".bench_out", f"trace-{a.workload}-seed{a.seed}.json")]
        jvm.run(args, DEADLINE_S - (time.time() - t_start))
        with open(out) as f:
            rec = json.load(f)

        attempted, failed, problems = check_passes(rec, meta)
        for p in problems[:10]:
            log("WRONG", p)
        plain = [p["s"] for p in rec["passes"] if p["i"] > 0 and not p["traced"]]
        # the first warm pass is JIT warm-up: left out of pass_s
        measured = plain[1:]
        traced = [p["s"] for p in rec["passes"] if p["traced"]]
        pass_s = median(measured)
        in_bytes = meta["pass_input_bytes"]
        derived = {
            "fail_frac": (failed / attempted, "ratio"),
            "out_bytes_per_in_byte": (out_bytes(run_dir) / in_bytes, "ratio"),
        }
        if a.trace == 0:
            setups = rec["setups"]
            metrics = {
                "setup_s": median(setups),
                "cold_pass_s": rec["cold_pass_s"],
                "pass_s": pass_s,
                "input_mb_s": in_bytes / 1e6 / pass_s,
                "heap_live_mb": rec["heap_live_mb"],
                "heap_peak_mb": median([p["heap_peak_mb"]
                                        for p in rec["passes"]]),
            }
            units = dict(E2E_UNITS)
            shown = dict(metrics)
            for k, (v, u) in derived.items():
                shown[k] = v
                units[k] = u
            log(f"cold pass {rec['cold_pass_s']:.3f} s; warm passes "
                f"{', '.join(f'{s:.3f}' for s in plain)} s; "
                f"set-ups {', '.join(f'{s:.3f}' for s in setups)} s")
        else:
            metrics = dict(rec["layers"])
            metrics["out_bytes_per_in_byte"] = derived["out_bytes_per_in_byte"][0]
            metrics["trace.pass_s"] = median(traced)
            metrics["trace.overhead_frac"] = median(traced) / pass_s - 1
            units = {k: unit_of(k) for k in metrics}
            shown = metrics
            log(f"{len(plain)} plain and {len(traced)} traced warm passes; "
                f"fail_frac {failed / attempted:.4f}")
        for k in sorted(shown):
            print(f"{a.workload} {k} {shown[k]:.6g} {units[k]}")
        result = {"correct": failed == 0, "attempted": attempted,
                  "failed": failed,
                  "metrics": {k: {"value": v, "unit": units[k]}
                              for k, v in metrics.items()}}
        print(json.dumps(result, sort_keys=True))
        return 0 if failed == 0 else 1
    finally:
        if jvm is not None:
            jvm.stop()
        shutil.rmtree(run_dir, ignore_errors=True)


def unit_of(name):
    """Unit of a per-layer metric, from its name."""
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_out"):
        return "bytes"
    if name.endswith("_mb_left"):
        return "MB"
    if name.endswith("_frac") or name.endswith("_per_row_in") or \
            name.endswith("_per_in_byte"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
