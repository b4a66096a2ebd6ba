#!/usr/bin/env python3
"""Benchmark driver: builds the program, makes seeded inputs, runs one
workload in a fresh JVM, checks its outputs and prints the metrics.

    python3 perfbench/run.py --workload tasktree --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}; with --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
Everything the run writes stays under perfbench/ (`.build/`, `.work/`,
`out/`); a record of every run goes to perfbench/out/runs/.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from statistics import fmean

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import layers  # noqa: E402
from stats import median, op_time_by_round, tail  # noqa: E402

WORKLOADS = ("tasktree", "index_churn")
BUILD = os.path.join(HERE, ".build")
HEAP = "3g"
JVM_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (as in the root build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# end-to-end metric -> (unit, what it is on each workload); the three
# phase slots carry one named measurement per workload, the mean of its
# operations. An operation runs at one of two or three speeds on a shared
# host, which switch every second to every few tens of seconds: the median
# of a run's operations jumps with the share of slow ones, their mean
# follows it smoothly.
PHASES = {
    "tasktree": ("tree_cold_s", "pending_scan_s", "tree_pickup_s"),
    "index_churn": ("ingest_s", "probe_s", "maintain_s"),
}
PHASE_OPS = {
    "tasktree": (("tree_cold",), ("pending_scan",), ("tree_pickup",)),
    "index_churn": (("ingest.ivfpq",), ("probe.minhash", "probe.ivfpq"), ("maintain",)),
}
TAIL_OPS = {"tasktree": ("pending_scan",), "index_churn": ("probe.minhash", "probe.ivfpq")}
E2E_UNITS = {"setup_s": "s", "run_s": "s", "ok_frac": "frac", "retained_heap_mb": "MB",
             "phase1_s": "s", "phase2_s": "s", "phase3_s": "s"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_mtime(*dirs):
    newest = 0.0
    for d in dirs:
        for base, _, files in os.walk(d):
            for f in files:
                if f.endswith((".scala", ".sbt", ".properties")):
                    newest = max(newest, os.path.getmtime(os.path.join(base, f)))
    return newest


def classpath():
    """Compile the program and the benchmark (only when a source is newer
    than the last build) and return the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.txt")
    sources = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
               os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    newest = max(newest_mtime(*sources), os.path.getmtime(os.path.join(ROOT, "build.sbt")),
                 os.path.getmtime(os.path.join(HERE, "build.sbt")))
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= newest:
        return open(stamp).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" +
        os.path.expanduser("~/.sbt/repositories"), "-Dsbt.offline=true", "-Xmx2g"]))
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env,
                           stdout=subprocess.PIPE, stderr=log, text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-3000:])
        fail(f"build failed (see {BUILD}/build.log)")
    with open(stamp, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def remove_dead_work(work_root):
    """Delete scratch directories whose run (the pid in the name) is gone."""
    if not os.path.isdir(work_root):
        return
    for d in os.listdir(work_root):
        try:
            os.kill(int(d.rsplit("-", 1)[-1]), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(os.path.join(work_root, d), ignore_errors=True)
        except PermissionError:
            pass


# generated tables per workload: name -> (generator, size arguments)
INPUTS = {
    "tasktree": {"lineitem": (datagen.lineitem, {"rows": 60000, "parts": 2000, "supps": 100})},
    "index_churn": {"documents": (datagen.documents, {"rows": 2000}),
                    "embeddings": (datagen.embeddings, {"rows": 1200})},
}


def make_inputs(workload, seed, data):
    os.makedirs(data)
    for table, (gen, size) in INPUTS[workload].items():
        gen(f"{data}/{table}.parquet", seed, **size)


def run_record(args, cores, work, t_start, load_start, extra):
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    rec = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": bool(args.trace), "nproc": os.cpu_count(), "master": f"local[{cores}]",
        "xmx": HEAP, "inputs": os.path.relpath(os.path.join(work, "data"), ROOT),
        "input_sizes": {t: size for t, (_, size) in INPUTS[args.workload].items()},
        "loadavg_start": load_start, "loadavg_end": open("/proc/loadavg").read().split()[:3],
        "git_commit": commit, "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(t_start)),
    }
    rec.update(extra)
    out = os.path.join(HERE, "out", "runs")
    os.makedirs(out, exist_ok=True)
    name = f"{time.strftime('%Y%m%dT%H%M%S', time.gmtime(t_start))}-{args.workload}-s{args.seed}" \
           f"-t{args.trace}.json"
    with open(os.path.join(out, name), "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    return os.path.join(out, name)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no program sources next to {HERE}: run from the root of a full checkout")

    t_start = time.time()
    load_start = open("/proc/loadavg").read().split()[:3]
    cp = classpath()
    cores = min(4, os.cpu_count() or 1)

    # fresh scratch state for every run; leftovers of dead runs go too
    work_root = os.path.join(HERE, ".work")
    remove_dead_work(work_root)
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    make_inputs(args.workload, args.seed, os.path.join(work, "data"))

    raw = os.path.join(work, "raw.json")
    launch_ms = time.time() * 1000
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData", *ADD_OPENS,
           f"-Djava.io.tmpdir={work}/tmp",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", f"{work}/data", "--work", work, "--out", raw,
           "--cores", str(cores), "--launch-ms", f"{launch_ms:.3f}"]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            p = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    if p.returncode != 0 or not os.path.exists(raw):
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        fail(f"benchmark JVM exited with {p.returncode}")
    r = json.load(open(raw))

    ops = r["ops"]
    failures = r["failures"]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])

    def secs(kinds):
        return [(o["t1"] - o["t0"]) / 1e3 for o in ops if o["kind"] in kinds and not o["traced"]]

    # a round's time is the sum of its timed operations: the benchmark's
    # own input staging, spec edits and output checks are left out
    busy = op_time_by_round(ops)
    rounds = [busy[x["round"]] for x in r["rounds"] if not x["traced"]]
    e2e = {
        # JVM launch to the first timed operation
        "setup_s": (ops[0]["t0"] - launch_ms) / 1e3,
        "run_s": median(rounds),
        "ok_frac": 1 - failed / attempted,
        "retained_heap_mb": r["retained_heap_mb"],
    }
    named = {"failed_frac": failed / attempted}
    for i, (name, kinds) in enumerate(zip(PHASES[args.workload], PHASE_OPS[args.workload])):
        e2e[f"phase{i + 1}_s"] = fmean(secs(kinds))
        named[name] = e2e[f"phase{i + 1}_s"]
    t = tail(secs(TAIL_OPS[args.workload]))
    named["tail_s"] = None if t is None else {"value": t[0], "percentile": t[1], "samples": t[2]}
    for k in ("setup_s", "run_s", "retained_heap_mb"):
        named[k] = e2e[k]

    op_secs = {}
    for o in ops:
        op_secs.setdefault(o["kind"], []).append(round((o["t1"] - o["t0"]) / 1e3, 4))
    extra = {"end_to_end": e2e, "named": named, "failures": failures[:50], "op_seconds": op_secs,
             "rounds": len(rounds), "ops": len(ops), "outputs": r["outputs"],
             "setup_parts": {"session_s": r["session_s"], "setup_step_s": r["setup_step_s"],
                             "warmup_s": r["warmup_s"]}}
    if args.trace:
        per, figs = layers.per_layer(r["trace"], ops, r["rounds"], cores)
        splits, worst = layers.span_splits(r["trace"])
        extra.update({"per_layer": per, "per_round": figs, "split_max_rel_error": worst,
                      "calls": layers.call_summary(r["trace"], splits),
                      "actions_unmatched": r["trace"]["actions_unmatched"]})
        tdir = os.path.join(HERE, "out", "traces")
        os.makedirs(tdir, exist_ok=True)
        with open(os.path.join(tdir, f"{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump({"spans": splits, "raw": r["trace"]}, f)
        metrics = {k: {"value": per[k], "unit": u} for k, u in layers.PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    record = run_record(args, cores, work, t_start, load_start, extra)
    shutil.rmtree(work, ignore_errors=True)

    for m in failures[:10]:
        print(f"FAILED {m}")
    print(json.dumps({"workload": args.workload, "named": named, "record": os.path.relpath(record, ROOT),
                      **({"split_max_rel_error": extra["split_max_rel_error"],
                          "calls": extra["calls"]} if args.trace else {})}, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
