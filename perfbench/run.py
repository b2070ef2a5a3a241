#!/usr/bin/env python3
"""Benchmark of the graft library: one workload, one seed, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the library and
the harness (`perfbench/build.sbt`, about two minutes); later runs reuse
the build while the sources are unchanged. The input tables are generated
once (`gen_data.py`, from the fixed `data_seed` of `workloads.json`); the
seed permutes the op order of every pass. A run
starts one harness JVM, takes its set-up time (launch to the end of the
warm-up passes), times about S seconds of warm passes, checks every
op's output against its DuckDB oracle, writes a full artifact under
`.graftbench/artifacts/` and prints one JSON line of metrics last:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import gen_data
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".graftbench")
ROUND_TRIP = "io_lineage_roundtrip"
RUN_LIMIT_S = 170
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
SETUP_DONE = "GRAFTBENCH_SETUP_DONE"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of every input of the build, so an unchanged tree is not
    rebuilt."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the library (the repository's own build) and the harness
    with sbt; returns the class path."""
    target = os.path.join(HERE, "target")
    stamp = os.path.join(target, "graftbench.stamp")
    cp_file = os.path.join(target, "classpath.txt")
    digest = source_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp) \
            and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx3g")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile", "writeClasspath"], cwd=HERE, env=env,
                       stdin=subprocess.DEVNULL, stdout=sys.stderr,
                       stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return open(cp_file).read().strip()


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def inputs(seed, sf):
    """Generated tables of the data seed; only the latest are kept."""
    data_root = os.path.join(WORK, "data")
    name = f"sf{sf}_seed{seed}"
    path = os.path.join(data_root, name)
    rows_file = os.path.join(path, "rows.json")
    if not os.path.exists(rows_file):
        if os.path.isdir(data_root):
            for old in os.listdir(data_root):
                shutil.rmtree(os.path.join(data_root, old), ignore_errors=True)
        rows = gen_data.generate(fresh_dir(path), seed, sf)
        with open(rows_file, "w") as f:
            json.dump(rows, f)
    return path, json.load(open(rows_file))


class Jvm:
    """One harness process in its own scratch directory, which is
    emptied first: no run sees another run's files."""

    def __init__(self, classpath, cfg, args, deadline):
        self.scratch = fresh_dir(os.path.join(WORK, "run"))
        for d in ("tmp", "check"):
            os.makedirs(os.path.join(self.scratch, d))
        self.out = os.path.join(self.scratch, "artifact.json")
        cmd = ["java"] + [a for p in JVM_OPENS
                          for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
        cmd += [f"-Xms{cfg['heap']}", f"-Xmx{cfg['heap']}",
                f"-Djava.io.tmpdir={os.path.join(self.scratch, 'tmp')}",
                "-cp", classpath, "graftbench.Harness",
                "--scratch", self.scratch, "--out", self.out,
                "--check", os.path.join(self.scratch, "check")] + args
        self.deadline = deadline
        self.t0 = time.monotonic()
        self.log = open(os.path.join(self.scratch, "harness.log"), "w")
        self.proc = subprocess.Popen(cmd, stdout=subprocess.PIPE,
                                     stderr=self.log, text=True,
                                     cwd=self.scratch)

    def setup_seconds(self):
        """Seconds from launch to the end of the warm-up passes: JVM and
        session start plus the warm-up, everything before the first timed
        pass."""
        for line in self.proc.stdout:
            if line.strip() == SETUP_DONE:
                return time.monotonic() - self.t0
        self.finish()
        fail("harness exited during set-up")

    def finish(self):
        """Waits for the harness to exit; on failure its log stays in
        .graftbench/run/harness.log."""
        try:
            self.proc.communicate(timeout=max(1, self.deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
            fail("harness ran past the time limit")
        self.log.close()
        if self.proc.returncode != 0:
            fail(f"harness exited with code {self.proc.returncode}")


def timed_passes(cfg, seconds):
    """Passes that fill about `seconds` at the workload's nominal warm pass
    time, and at least its `min_passes`. The count depends only on the
    arguments, so every run times the same passes."""
    return max(cfg["min_passes"], round(seconds / cfg["nominal_pass_s"]))


def end_to_end(art, setup_s):
    """pass_s: median warm pass; op_p50_s: median op over all warm
    samples; op_tail_s: the slowest op's median. A percentile with ten
    samples beyond it needs more samples than a run takes (20 for p50),
    so the artifact records the sample count and that percentile only
    where it exists."""
    per_op = {}
    for s in art["samples"]:
        if s["pass"] >= 0 and s["error"] is None:
            per_op.setdefault(s["op"], []).append(
                s["build_s"] + s["plan_s"] + s["action_s"])
    totals = [t for ts in per_op.values() for t in ts]
    slowest = max(per_op, key=lambda op: statistics.median(per_op[op]))
    tail = {"op": slowest, "op_samples": len(per_op[slowest]),
            "samples": len(totals)}
    for q in (99, 95, 90, 75, 50):
        if len(totals) * (100 - q) / 100 >= 10:
            tail.update(percentile=q,
                        value=statistics.quantiles(totals, n=100)[q - 1])
            break
    metrics = {
        "pass_s": (statistics.median(p["wall_s"] for p in art["passes"]), "s"),
        "op_p50_s": (statistics.median(totals), "s"),
        "op_tail_s": (statistics.median(per_op[slowest]), "s"),
        "setup_s": (setup_s, "s"),
        "heap_peak_mb": (art["heap_mb_after_gc"], "MB"),
    }
    return metrics, tail


LAYER_UNITS = {
    "sources.open_jobs": "count", "sources.open_s": "s",
    "sources.write_mb": "MB", "sources.files_written": "count",
    "operators.build_s": "s", "operators.build_jobs": "count",
    "operators.build_task_s": "s", "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms", "exec.action_s": "s",
    "exec.action_jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.exchanges": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.task_gc_s": "s",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
}


def per_layer(art, cores):
    """Workload totals of the first traced pass, the two ratios
    recomputed from the totals, and the trace overhead."""
    ops = art["trace"]["passes"][0]["ops"]
    m = {k: (sum(o[k] for o in ops.values() if k in o), u)
         for k, u in LAYER_UNITS.items()}
    wall = sum(o["build_s"] + o["plan_s"] + o["action_s"] for o in ops.values())
    stages = m["exec.stages"][0]
    skipped = sum(o.get("exec.stages_skipped", 0) for o in ops.values())
    m["exec.core_busy_frac"] = (
        m["exec.task_run_s"][0] / max(cores * wall, 1e-9), "fraction")
    m["exec.skipped_stage_frac"] = (skipped / max(1, stages + skipped),
                                    "fraction")
    m["trace_overhead"] = (art["trace"]["trace_overhead"], "ratio")
    return m


def loadavg():
    with open("/proc/loadavg") as f:
        return f.read().split()[:3]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail(f"no graft sources under {ROOT}; run from the repository root")
    spec = json.load(open(os.path.join(HERE, "workloads.json")))
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload}")
    cfg = dict(spec["defaults"], **spec["workloads"][a.workload])
    load_start = loadavg()
    classpath = build()
    t_start = time.monotonic()
    deadline = t_start + RUN_LIMIT_S
    # One fixed set of tables for every run: the amount of work of an op
    # depends on its data (join sizes, connected-components rounds,
    # generated code), so tables drawn from --seed would vary the work
    # from run to run. --seed permutes the op order of every pass.
    data, rows = inputs(cfg["data_seed"], cfg["sf"])
    cores = len(os.sched_getaffinity(0))
    args = ["--ops", ",".join(cfg["ops"]), "--data", data,
            "--seed", str(a.seed), "--passes", str(timed_passes(cfg, a.seconds)),
            "--warmup", str(cfg["warmup_passes"]),
            "--trace", str(a.trace), "--cores", str(cores)]

    jvm = Jvm(classpath, cfg, args, deadline)
    setup_s = jvm.setup_seconds()
    jvm.finish()
    art = json.load(open(jvm.out))

    failures = {s["op"]: s["error"] for s in art["samples"] if s["error"]}
    failures.update(art["check_errors"])
    checked = [op for op in cfg["ops"] if op != ROUND_TRIP
               and op not in art["check_errors"]]
    failures.update(oracle.check(data, os.path.join(jvm.scratch, "check"),
                                 checked))
    ops_total = len(cfg["ops"])

    if a.trace:
        metrics = per_layer(art, cores)
    else:
        metrics, tail = end_to_end(art, setup_s)
        art["op_tail"] = tail
    art.update(workload=a.workload, sf=cfg["sf"], rows=rows, setup_s=setup_s,
               failed_ops=sorted(failures), failures=failures,
               failed_ops_frac=len(failures) / ops_total,
               host={"nproc": cores, "loadavg_start": load_start,
                     "loadavg_end": loadavg(), "jvm": art["jvm"],
                     "spark": art["spark"], "heap_max_mb": art["heap_max_mb"],
                     "seed": a.seed, "data_seed": cfg["data_seed"]},
               metrics={k: v for k, (v, _) in metrics.items()})
    os.makedirs(os.path.join(WORK, "artifacts"), exist_ok=True)
    path = os.path.join(WORK, "artifacts",
                        f"{a.workload}_seed{a.seed}_trace{a.trace}.json")
    with open(path, "w") as f:
        json.dump(art, f, indent=1)
    shutil.rmtree(jvm.scratch, ignore_errors=True)
    for op, why in sorted(failures.items()):
        print(f"FAILED {op}: {why}", file=sys.stderr)
    mismatch = (art.get("trace") or {}).get("counter_mismatch", [])
    for m in mismatch:
        print(f"COUNTERS DIFFER {m['op']}: {m['first']} vs {m['second']}",
              file=sys.stderr)
    print(f"artifact: {path}", file=sys.stderr)
    print(json.dumps({
        "correct": not failures, "attempted": ops_total,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
