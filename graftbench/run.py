#!/usr/bin/env python3
"""graft benchmark: named workloads of registry operations at local[nproc].

Usage (from the repository root):

    python3 graftbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 graftbench/run.py --workload NAME --seed N --seconds S --trace 0 --record

The first call in a checkout compiles graft's sources together with the
harness (sbt, offline). Each run then starts one JVM that builds a fresh
session and loads the fixtures under graftbench/data, SETUP_REPS times,
runs WARM_PASSES untimed warm-up passes, and then runs timed passes over
the workload's operations (order permuted by --seed) until --seconds are
spent and at least min_passes() passes are done. The last line of stdout
is one JSON object: {"correct", "attempted", "failed", "metrics"}. --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer ones. Every operation's result fingerprint is checked against
graftbench/fingerprints.json; --record rewrites the workload's entries
from this run instead (the run must then agree with itself).

The full record of a run is written to graftbench/work/results/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics as M  # noqa: E402

T_START = time.monotonic()
RUN_LIMIT_S = 175          # the whole invocation, build excluded
BUILD_LIMIT_S = 700         # with the run, within 900 s for a first call
XMX = "4g"
SETUP_REPS = 6             # fresh session + fixture load; rep 0 is the cold
                           # start, the median of the others is setup_s
WARM_PASSES = 2
KERNEL_PAIRS = 2           # timed PairPlan arm pairs per kernel (even)
MAIN = "graft.perfbench.Harness"
KERNELS_BIG = ("attention", "mlp", "xentropy", "sampler")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# counts that must repeat exactly across passes and seeds
REPEATING = ("sched.jobs", "memo.builds", "memo.hits", "stream.batches",
             "stream.input_rows")


def die(code, msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def self_test():
    suite = unittest.defaultTestLoader.discover(HERE, pattern="test_*.py",
                                                top_level_dir=HERE)
    res = unittest.TextTestRunner(stream=open(os.devnull, "w"),
                                  verbosity=0).run(suite)
    if not res.wasSuccessful():
        for _, tb in res.failures + res.errors:
            print(tb, file=sys.stderr)
        die(4, "harness self-tests failed")


# ------------------------------------------------------------------ build --

def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    return files


def source_digest():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die(3, "no Spark distribution: set SPARK_HOME")
    return home


def build(digest, spark_home):
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(HERE, "target", "graftbench.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    sbt = shutil.which("sbt")
    if not sbt:
        die(3, "sbt not found on PATH")
    env = dict(os.environ, SPARK_HOME=spark_home, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    for flag in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
                 "-Dsbt.server.autostart=false"):
        if flag.split("=")[0] not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    log = os.path.join(HERE, "work", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as fh:
        p = subprocess.Popen([sbt, "--batch", "-Dsbt.log.noformat=true", "compile"],
                             cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(3, f"build timed out, see {log}")
    if rc != 0:
        sys.stderr.write(open(log).read()[-3000:])
        die(3, f"build failed, see {log}")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


# -------------------------------------------------------------------- run --

def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def min_passes(trace):
    """Timed passes a run makes at least; a traced run makes this many
    traced and as many untraced passes."""
    return 2 if trace else 4


def write_plan(path, wl, seed, seconds, trace, n, work):
    ops = wl["ops"]
    kernels = wl.get("kernels", []) if trace else []
    lines = [
        f"sf={os.path.join(HERE, 'data', 'sf0.1')}",
        f"cores={n}",
        f"seconds={seconds}",
        f"trace={trace}",
        f"setup_reps={1 if trace else SETUP_REPS}",
        f"min_passes={min_passes(trace)}",
        f"kernels={','.join(kernels)}",
        f"kernel_lead={M.lead_arm(seed)}",
        f"kernel_pairs={KERNEL_PAIRS}",
        f"warehouse={os.path.join(work, 'warehouse')}",
    ]
    # warm-up passes run in list order whatever the seed, so every run
    # trains the JIT on the same sequence
    lines += ["warm=" + ",".join(ops)] * WARM_PASSES
    lines += ["pass=" + ",".join(o) for o in M.pass_orders(ops, seed, 400)]
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")


def run_jvm(classes, spark_home, plan, out, work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    # beyond graft's own -Xmx and code cache: a fixed set of JIT compiler
    # threads, so their CPU can be told apart, and a fixed G1 marking
    # threshold, whose adaptive form started marking cycles in some runs
    # and not in others (README.md, "JVM flags")
    cmd = [java, f"-Xmx{XMX}", "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UseDynamicNumberOfCompilerThreads", "-XX:-G1UseAdaptiveIHOP",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(spark_home, "jars", "*"),
            MAIN, plan, out]
    env = dict(os.environ, GRAFT_SCRATCH_DIR=os.path.join(work, "scratch"))
    log = os.path.join(work, "jvm.log")
    budget = RUN_LIMIT_S - (time.monotonic() - T_START)
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=fh,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(budget, 10))
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = None
    return rc, log


def read_records(out):
    recs = []
    if os.path.exists(out):
        with open(out) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    recs.append(json.loads(line))
    return recs


def proc_stat():
    """Busy, total and stolen jiffies of the machine (/proc/stat line 1)."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    total = sum(f)
    return (total - f[3] - (f[4] if len(f) > 4 else 0), total,
            f[7] if len(f) > 7 else 0)


# ---------------------------------------------------------------- metrics --

def med(xs, default=0.0):
    return M.median(xs) if xs else default


def end_to_end(recs, untraced):
    # rep 0 is the JVM's first session, reported apart as cold_setup_s
    setups = [r["s"] for r in recs if r["kind"] == "setup" and r["rep"] > 0]
    ids = {p["pass"] for p in untraced}
    walls = {}
    for r in recs:
        if r["kind"] == "op" and r["phase"] == "timed" and r["pass"] in ids:
            walls.setdefault(r["name"], []).append(r["wall"])
    return {
        "setup_s": ("s", med(setups)),
        # each operation at its median over the passes: one slow operation
        # (a stolen time slice, a late JIT compile) moves one term only
        "pass_s": ("s", sum(med(w) for w in walls.values())),
        "cpu_s": ("s", med([p["cpu"] - p["jit_cpu"] for p in untraced])),
        "heap_peak_mb": ("MB", med([p["heap_peak_mb"] for p in untraced])),
    }


def cpu_split(untraced):
    """Medians over the untraced passes of process CPU and of the shares
    of the JIT compiler and GC threads in it. cpu_s leaves out the JIT
    share only: it still drifts while the JIT warms up, whereas GC work
    follows from the program's own allocation."""
    keys = (("process_s", "cpu"), ("jit_s", "jit_cpu"), ("gc_s", "gc_cpu"))
    return {k: med([p[f] for p in untraced]) for k, f in keys}


def op_percentiles(recs, untraced):
    """The median and the highest percentile with ten samples beyond it of
    the pooled timed operation walls (in the run record, not metrics: a
    run holds too few operation samples for a fixed tail percentile)."""
    ids = {p["pass"] for p in untraced}
    walls = sorted(r["wall"] for r in recs if r["kind"] == "op"
                   and r["phase"] == "timed" and r["pass"] in ids)
    pct = M.tail_percentile(len(walls))
    return {"samples": len(walls),
            "p50_s": M.nearest_rank(walls, 50) if walls else None,
            "tail_percentile": pct,
            "tail_s": M.nearest_rank(walls, pct) if pct else None}


def per_layer(recs, traced, untraced, n_cores, emb_rows):
    by = {}
    for r in recs:
        if "pass" in r and r["kind"] in ("jobs", "tasks", "planning", "stream"):
            by[(r["kind"], r["pass"])] = r
    ops = {}
    for r in recs:
        if r["kind"] == "op" and r["phase"] == "timed":
            ops.setdefault(r["pass"], []).append(r)
    rows = []
    for p in traced:
        i = p["pass"]
        po = ops.get(i, [])
        jobs, tasks = by[("jobs", i)], by[("tasks", i)]
        plan, stream = by[("planning", i)], by[("stream", i)]
        op_wall = sum(o["wall"] for o in po)
        windows = [(o["t0"], o["t1"]) for o in po]
        job_wall_ms, unattributed = M.clipped_union(
            list(zip(jobs["start"], jobs["end"])), windows)
        job_wall = job_wall_ms / 1e3
        hits, builds = p["memo_hits"], p["memo_builds"]
        big = [o for o in po if o["name"].endswith("_big")]
        big_wall = sum(o["wall"] for o in big)
        row = {
            "queries.build_s": sum(o["build"] for o in po),
            "queries.force_s": sum(o["force"] for o in po),
            "plan.analysis_ms": plan["analysis_ms"],
            "plan.optimizer_ms": plan["optimizer_ms"],
            "plan.physical_ms": plan["physical_ms"],
            "plan.actions": plan["actions"],
            "codegen.compile_ms": p["codegen_compile_ms"],
            "codegen.source_kb": p["codegen_source_kb"],
            "jvm.jit_ms": p["jit_ms"],
            "jvm.gc_ms": p["gc_ms"],
            "jvm.code_cache_mb": p["code_cache_mb"],
            "sched.jobs": len(jobs["start"]),
            "sched.stages": tasks["stages"],
            "sched.tasks": tasks["n"],
            "sched.job_wall_s": job_wall,
            "sched.gap_s": op_wall - job_wall,
            "task.run_s": tasks["run_s"],
            "task.cpu_s": tasks["cpu_s"],
            "task.gc_s": tasks["gc_s"],
            "task.peak_mem_mb": tasks["peak_mem_mb"],
            "task.util": tasks["run_s"] / (p["wall"] * n_cores),
            "shuffle.write_mb": tasks["shuffle_write_mb"],
            "shuffle.read_mb": tasks["shuffle_read_mb"],
            "shuffle.fetch_wait_s": tasks["fetch_wait_s"],
            "spill.disk_mb": tasks["spill_disk_mb"],
            "spill.mem_mb": tasks["spill_mem_mb"],
            "sources.input_mb": tasks["input_mb"],
            "sources.input_rows": tasks["input_rows"],
            "memo.builds": builds,
            "memo.hits": hits,
            "memo.build_s": p["memo_build_s"],
            "memo.hit_rate": hits / (hits + builds) if hits + builds else 0.0,
            "kernel.pairs_per_s": len(big) * emb_rows * emb_rows / big_wall
            if big_wall else 0.0,
            "stream.batches": stream["batches"],
            "stream.input_rows": stream["input_rows"],
            "stream.add_batch_ms": stream["add_batch_ms"],
            "stream.query_planning_ms": stream["query_planning_ms"],
            "stream.wal_commit_ms": stream["wal_commit_ms"],
            "stream.latest_offset_ms": stream["latest_offset_ms"],
            "stream.state_rows": stream["state_rows"],
            "stream.state_mem_mb": stream["state_mem_mb"],
            "stream.state_commit_ms": stream["state_commit_ms"],
            # accounting: both splits must add back up to the op wall
            "_op_wall": op_wall,
            "_pass_wall": p["wall"],
            "_unattributed_jobs": unattributed,
            "_tasks_outside": tasks["outside"],
        }
        rows.append((row, stream["trigger_ms"]))
    out = {k: med([r[k] for r, _ in rows]) for k in rows[0][0]} if rows else {}
    trig = sorted(t for _, ts in rows for t in ts)
    out["stream.batch_p50_ms"] = M.nearest_rank(trig, 50) if trig else 0.0
    out["stream.batch_p90_ms"] = M.nearest_rank(trig, 90) if trig else 0.0
    out["trace_overhead"] = (med([p["wall"] for p in traced]) /
                             med([p["wall"] for p in untraced]))
    kern = [r for r in recs if r["kind"] == "kernel"]
    for k in KERNELS_BIG:
        ks = [r for r in kern if r["kernel"] == k]
        out[f"pairplan.{k}.blocked_s"] = med([r["blocked_s"] for r in ks])
        out[f"pairplan.{k}.broadcast_s"] = med([r["broadcast_s"] for r in ks])
        out[f"pairplan.{k}.ratio"] = med([r["blocked_s"] / r["broadcast_s"] for r in ks])
    counts = {k: sorted({r[k] for r, _ in rows}) for k in REPEATING if rows}
    accounting = {
        "trigger_samples": len(trig),
        "batch_p90_samples_beyond": M.beyond(len(trig), 90) if trig else 0,
        "build_plus_force_minus_op_wall_s": max(
            abs(r["queries.build_s"] + r["queries.force_s"] - r["_op_wall"]) for r, _ in rows),
        "job_wall_plus_gap_minus_op_wall_s": max(
            abs(r["sched.job_wall_s"] + r["sched.gap_s"] - r["_op_wall"]) for r, _ in rows),
        "pass_wall_minus_op_wall_s": max(r["_pass_wall"] - r["_op_wall"] for r, _ in rows),
        "unattributed_jobs": max(r["_unattributed_jobs"] for r, _ in rows),
        "tasks_outside_passes": max(r["_tasks_outside"] for r, _ in rows),
    } if rows else {}
    for k in [k for k in out if k.startswith("_")]:
        del out[k]
    return out, counts, accounting


def unit_of(name):
    """The unit of a metric, read from its name's suffix."""
    if name.endswith("_per_s"):
        return "1/s"
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_kb", "KB")):
        if name.endswith(suffix):
            return unit
    if name.endswith((".ratio", ".util", ".hit_rate", "overhead")):
        return "ratio"
    return "count"


# ------------------------------------------------------------ correctness --

def op_names(wl):
    """Every result a run of the workload may check: its registry
    operations and, in a traced run, the forced kernels."""
    return set(wl["ops"]) | {f"pairplan.{k}" for k in wl.get("kernels", [])}


def result_key(name):
    """The fingerprint an operation is checked against. Both arms of a
    forced kernel (`pairplan.<k>.<arm>`) must give the same result."""
    return name.rsplit(".", 1)[0] if name.startswith("pairplan.") else name


def check(recs, wl_name, wl, record):
    path = os.path.join(HERE, "fingerprints.json")
    stored = json.load(open(path)) if os.path.exists(path) else {}
    ops = [r for r in recs if r["kind"] == "op"]
    seen = {}
    for r in ops:
        if not r["error"]:
            seen.setdefault(result_key(r["name"]), set()).add(r["fp"])
    varies = {k: sorted(v) for k, v in seen.items() if len(v) > 1}
    if record:
        # a traced run records the forced kernels too; keep what this run
        # did not execute, drop names the workload no longer has
        names = op_names(wl)
        kept = {k: v for k, v in stored.get(wl_name, {}).items() if k in names}
        kept.update({k: next(iter(v)) for k, v in seen.items() if len(v) == 1})
        stored[wl_name] = kept
        with open(path, "w") as fh:
            json.dump(stored, fh, indent=1, sort_keys=True)
            fh.write("\n")
    expect = stored.get(wl_name, {})
    bad = []
    for r in ops:
        if r["error"]:
            bad.append({"op": r["name"], "pass": r["pass"], "error": r["error"]})
        elif expect.get(result_key(r["name"])) != r["fp"]:
            bad.append({"op": r["name"], "pass": r["pass"], "got": r["fp"],
                        "want": expect.get(result_key(r["name"]))})
    return len(ops), bad, varies


def previous_counts(wl_name, digest, ops):
    """Repeat counts of earlier traced runs of this workload (other seeds)
    on the same sources and operation list."""
    seen = {}
    for f in glob.glob(os.path.join(HERE, "work", "results", f"{wl_name}-*-trace1-*.json")):
        try:
            a = json.load(open(f))
        except (OSError, ValueError):
            continue
        if a.get("context", {}).get("source_digest") != digest or a.get("ops") != ops:
            continue
        for k, v in a.get("repeat_counts", {}).items():
            seen.setdefault(k, set()).update(v)
    return seen


# ------------------------------------------------------------------- main --

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="store this run's fingerprints instead of checking them")
    args = ap.parse_args()

    workloads = json.load(open(os.path.join(HERE, "workloads.json")))["workloads"]
    if args.workload not in workloads:
        die(2, f"unknown workload {args.workload}; known: {', '.join(workloads)}")
    wl = workloads[args.workload]
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        die(2, "graft's sources (src/main/scala) are not next to the benchmark")
    self_test()

    spark_home = spark_jars()
    digest = source_digest()
    t_build = time.monotonic()
    classes = build(digest, spark_home)
    build_s = time.monotonic() - t_build
    global T_START
    T_START = time.monotonic()

    n = cores()
    work = os.path.join(HERE, "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "scratch", "warehouse"):
        os.makedirs(os.path.join(work, d))
    plan = os.path.join(work, "plan.txt")
    out = os.path.join(work, "records.jsonl")
    write_plan(plan, wl, args.seed, args.seconds, args.trace, n, work)
    st0 = proc_stat()
    rc, log = run_jvm(classes, spark_home, plan, out, work)
    st1 = proc_stat()
    recs = read_records(out)
    fatal = [r for r in recs if r["kind"] == "fatal"]
    done = [r for r in recs if r["kind"] == "done"]
    if rc != 0 or fatal or not done:
        sys.stderr.write(open(log).read()[-4000:])
        shutil.rmtree(work, ignore_errors=True)
        die(1, f"JVM run failed (exit {rc}): {fatal[0]['error'] if fatal else 'no result'}")

    passes = [r for r in recs if r["kind"] == "pass"]
    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    ctx = next(r for r in recs if r["kind"] == "context")
    setups = [r for r in recs if r["kind"] == "setup"]
    emb_rows = next(r["embeddings"] for r in recs if r["kind"] == "shape")

    attempted, bad, varies = check(recs, args.workload, wl, args.record)
    if args.trace:
        values, counts, accounting = per_layer(recs, traced, untraced, n, emb_rows)
        metrics = {k: (unit_of(k), v) for k, v in values.items()}
        earlier = previous_counts(args.workload, digest, wl["ops"])
        nonrepeating = {k: sorted(set(v) | earlier.get(k, set()))
                        for k, v in counts.items()
                        if len(set(v) | earlier.get(k, set())) > 1}
    else:
        metrics = end_to_end(recs, untraced)
        counts, accounting, nonrepeating = {}, {}, {}

    result = {
        "correct": not bad,
        "attempted": attempted,
        "failed": len(bad),
        "metrics": {k: {"value": v, "unit": u} for k, (u, v) in metrics.items()},
    }
    busy = (st1[0] - st0[0]) / (st1[1] - st0[1]) if st1[1] > st0[1] else -1.0
    steal = (st1[2] - st0[2]) / (st1[1] - st0[1]) if st1[1] > st0[1] else -1.0
    artifact = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "ops": wl["ops"],
        "context": {
            "local": setups[-1]["local"], "nproc": n,
            "parallelism": setups[-1]["parallelism"],
            "shuffle_partitions": setups[-1]["shuffle_partitions"],
            "xmx_mb": ctx["xmx_mb"], "java": ctx["java"], "spark": ctx["spark"],
            "source_digest": digest, "git_commit": git_commit(),
            "machine_busy": busy, "machine_steal": steal, "build_s": build_s,
        },
        "setup": setups,
        "passes": passes,
        "op_walls": [[r["pass"], r["name"], r["wall"], r["build"], r["force"], r["cpu"]]
                     for r in recs if r["kind"] == "op"],
        "fail_frac": result["failed"] / attempted if attempted else 1.0,
        "op_wall": op_percentiles(recs, untraced),
        "warm_s": [r["s"] for r in recs if r["kind"] == "warm"],
        "cold_setup_s": setups[0]["s"],
        "cpu_split": cpu_split(untraced),
        "ready_s": next(r["since_jvm_start_s"] for r in recs if r["kind"] == "ready"),
        "failures": bad[:50],
        "fingerprint_varies": varies,
        "repeat_counts": counts,
        "nonrepeating_counts": nonrepeating,
        "accounting": accounting,
        "result": result,
    }
    res_dir = os.path.join(HERE, "work", "results")
    os.makedirs(res_dir, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-trace{args.trace}-{int(time.time())}.json"
    with open(os.path.join(res_dir, name), "w") as fh:
        json.dump(artifact, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    print(f"workload {args.workload} seed {args.seed}: local[{n}] of nproc {n}, "
          f"{len(untraced)}+{len(traced)} passes, machine busy {busy:.2f}, "
          f"fail_frac {artifact['fail_frac']:.4f}")
    for k, (u, v) in metrics.items():
        print(f"  {k} = {v:.6g} {u}")
    for k, v in nonrepeating.items():
        print(f"  count does not repeat: {k} {v}")
    for k in varies:
        print(f"  fingerprint varies between passes: {k}")
    for b in bad[:10]:
        print(f"  FAILED {b}")
    print(json.dumps(result))
    sys.stdout.flush()
    sys.exit(0 if result["correct"] else 1)


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    main()
