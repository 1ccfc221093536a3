#!/usr/bin/env python3
"""Benchmark of the `graft.Run` job, run from the root of a checkout.

    python3 perfbench/run.py --workload dense-checkpoint --seed 1 --seconds 20 --trace 0

Builds the program and the benchmark classes from source (once per checkout,
see `build`), generates the seeded inputs, and runs operations in a closed
loop until `--seconds` have passed (at least one). An operation is one fresh
job JVM on `local[<cpus>]` with a fixed heap that runs `graft.Run.runWith`
jobs one after another on the same session:

  run     the job over the first 4 of 5 ts-ordered arrival files
  append  the 5th file arrives; the job is re-issued
  resume  the job is re-issued with nothing new, 3 times

`--trace 1` runs one untimed operation and one traced operation instead and
reports per-layer metrics (see README.md). The last line of standard output is
one JSON object: `correct`, `attempted`, `failed`, `metrics`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("dense-checkpoint", "stream-append")
ENTITIES = 60           # harness users sampled per seed
TURNS_PER_ENTITY = 60   # each keeps its first 3 conversations: a fixed input size
ARRIVALS = 5            # ts-ordered arrival files; the last one is the append
DEFAULT_SEED = 1        # the seed whose partition digests are recorded
HEAP = "2g"             # fixed: -Xms = -Xmx
DISK_FLOOR_BYTES = 2 << 30
RUN_LIMIT_S = 170       # a run must exit within 180 s once built
BUILD_LIMIT_S = 800
RESUMES = 3             # re-issues with nothing new; resume_s is their median
F1_GATE = 0.99
STREAM_WATERMARK = "31 days"  # the snapshot's events span 30 days
WORK = ".bench_work"
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
SPARK_HOME = os.environ.get("SPARK_HOME", "")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]

END_TO_END = {
    "setup_s": "s", "run_s": "s", "turns_per_s": "1/s", "append_s": "s",
    "resume_s": "s", "peak_rss_mb": "MB", "pairwise_f1": "ratio",
}


class OpFailed(Exception):
    pass


def log(msg):
    print(msg, flush=True)


def cpus():
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- build ----

def sources_digest():
    h = hashlib.sha256()
    for base in ("src/main", "perfbench/src", "perfbench/build.sbt",
                 "perfbench/project/build.properties"):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program's sources and the benchmark classes with sbt,
    offline. Skipped when the sources are unchanged since the last build in
    this checkout."""
    digest = sources_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == digest:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "w") as out:
        code = wait(subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            start_new_session=True), BUILD_LIMIT_S)
    if code != 0:
        with open(os.path.join(WORK, "build.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"build failed (exit {code})")
    with open(STAMP, "w") as f:
        f.write(digest)


child = None  # the process `wait` is waiting for


def wait(proc, timeout):
    """Wait for `proc`; on timeout kill its whole process group, wait for it
    to end, and return None."""
    global child
    child = proc
    try:
        return proc.wait(timeout=max(timeout, 1))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        child = None


def terminated(signum, _frame):
    """On SIGTERM/SIGINT, stop the running child's process group first."""
    if child is not None:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
    sys.exit(128 + signum)


# ---------------------------------------------------------------- jobs -----

def jvm(plan, name, deadline):
    """Run one `perfbench.Job` JVM on `plan`; returns (launch time, report)."""
    d = os.path.abspath(os.path.join(WORK, name))
    os.makedirs(os.path.join(d, "tmp"), exist_ok=True)
    plan_path, report_path = os.path.join(d, "plan.json"), os.path.join(d, "report.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # every file the JVM writes stays under `d`: no hsperfdata in the system temp dir
    cmd += ["-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            f"-Dspark.local.dir={os.path.join(d, 'spark-local')}",
            f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(d, 'tmp')}",
            f"-Djava.io.tmpdir={os.path.join(d, 'tmp')}",
            "-cp", f"{CLASSES}:{os.path.join(SPARK_HOME, 'jars')}/*",
            "perfbench.Job", plan_path, report_path]
    with open(os.path.join(d, "job.log"), "w") as out:
        launched = time.time()
        code = wait(subprocess.Popen(cmd, cwd=d, stdout=out, stderr=subprocess.STDOUT,
                                     start_new_session=True), deadline - time.monotonic())
    report = None
    if os.path.exists(report_path):
        with open(report_path) as f:
            report = json.load(f)
    if code != 0 or report is None or "error" in report:
        why = "timeout" if code is None else f"exit {code}"
        detail = (report or {}).get("error", "")
        if not detail:
            with open(os.path.join(d, "job.log")) as f:
                detail = f.read()[-3000:]
        raise OpFailed(f"{name}: {why}\n{detail}")
    return launched, report


def prepare(seed):
    """Seeded inputs: the sampled users' transcripts as arrival files."""
    import gen
    users = gen.sample_entities(seed, ENTITIES, TURNS_PER_ENTITY)
    arrivals = os.path.abspath(os.path.join(WORK, "arrivals"))
    stats = gen.write_arrivals(users, TURNS_PER_ENTITY, arrivals, ARRIVALS)
    stats["run_turns"] = sum(stats["arrival_turns"][:-1])
    return arrivals, stats


def op_plan(workload, arrivals, opdir, trace, resumes):
    """Plan of one operation: run over 4 files, append the 5th, resume."""
    labels = [f"resume{k}" for k in range(1, resumes + 1)]
    src = os.path.join(opdir, "src")
    os.makedirs(src)
    files = [os.path.join(arrivals, f"arrival-{k}.parquet") for k in range(ARRIVALS)]
    for f in files[:-1]:
        shutil.copy(f, src)
    opts = {"input": src, "output": os.path.join(opdir, "out")}
    if workload == "dense-checkpoint":
        opts["checkpoint"] = os.path.join(opdir, "ckpt")
        checks = [{"label": s, "kind": "batch", "output": opts["output"], "after": s}
                  for s in ("run", "append", labels[-1])]
    else:
        # conversations in the harness data span days of event time: a
        # watermark shorter than that evicts a conversation's band state
        # before its later turns arrive in the appended file
        opts["streaming"] = "true"
        opts["watermark"] = STREAM_WATERMARK
        srcs = [os.path.join(src, os.path.basename(f)) for f in files]
        checks = [{"label": "run", "kind": "stream", "output": opts["output"],
                   "after": "run", "inputs": srcs[:-1]}] + [
                  {"label": s, "kind": "stream", "output": opts["output"],
                   "after": s, "inputs": srcs} for s in ("append", labels[-1])]
    last = os.path.join(src, os.path.basename(files[-1]))
    return {"cpus": cpus(), "trace": trace, "checks": checks, "steps": [
        {"label": "run", "opts": opts},
        {"label": "append", "opts": opts, "arrive": [[files[-1], last]]},
    ] + [{"label": r, "opts": opts} for r in labels]}


def expected_digest(workload, seed):
    if seed != DEFAULT_SEED:
        return None
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f).get(workload)


def verify(workload, seed, report, resumes):
    """Output checks of one operation; raises OpFailed on the first miss."""
    checks = {c["label"]: c for c in report["checks"]}
    steps = {s["label"]: s["metrics"] for s in report["steps"]}
    for label, c in checks.items():
        if c["pairwise_f1"] < F1_GATE:
            raise OpFailed(f"{label}: pairwise F1 {c['pairwise_f1']:.4f} < {F1_GATE}")
    final = checks[f"resume{resumes}"]["digest"]
    if final != checks["append"]["digest"]:
        raise OpFailed("resume changed the partition the append committed")
    if workload == "stream-append" and any(
            steps[f"resume{k}"]["folds"] != steps["append"]["folds"]
            for k in range(1, resumes + 1)):
        raise OpFailed("a re-run with no new file folded a batch")
    want = expected_digest(workload, seed)
    if want is not None and final != want:
        raise OpFailed(f"partition digest {final} != recorded {want}")


def op(workload, seed, arrivals, stats, name, deadline, trace=False, resumes=RESUMES):
    """One operation in a fresh JVM; returns its measurements and report."""
    opdir = os.path.abspath(os.path.join(WORK, name))
    if shutil.disk_usage(os.path.abspath(WORK)).free < DISK_FLOOR_BYTES:
        raise OpFailed(f"free disk below the {DISK_FLOOR_BYTES >> 30} GiB floor")
    try:
        launched, report = jvm(op_plan(workload, arrivals, opdir, trace, resumes),
                               name, deadline)
        verify(workload, seed, report, resumes)
    finally:
        shutil.rmtree(opdir, ignore_errors=True)
    wall = {s["label"]: (s["end_ms"] - s["start_ms"]) / 1000.0 for s in report["steps"]}
    m = {
        "setup_s": report["ready_ms"] / 1000.0 - launched,
        "run_s": wall["run"],
        "turns_per_s": stats["run_turns"] / wall["run"],
        "append_s": wall["append"],
        "resume_s": statistics.median(wall[f"resume{k}"] for k in range(1, resumes + 1)),
        "peak_rss_mb": report["peak_rss_mb"],
        "pairwise_f1": min(c["pairwise_f1"] for c in report["checks"]),
    }
    return m, report


# ---------------------------------------------------------------- main -----

def metric(value, unit):
    return {"value": value, "unit": unit}


def timed(workload, seed, seconds, arrivals, stats, deadline):
    attempted = failed = 0
    samples = {k: [] for k in END_TO_END}
    start = time.monotonic()
    while True:
        attempted += 1
        t = time.monotonic()
        try:
            m, report = op(workload, seed, arrivals, stats, f"op{attempted}", deadline)
            for k, v in m.items():
                samples[k].append(v)
            digest = {c["label"]: c["digest"] for c in report["checks"]}[f"resume{RESUMES}"]
            log(f"op {attempted}: " + ", ".join(f"{k}={v:.4f}" for k, v in m.items()) +
                f", digest={digest}")
        except OpFailed as e:
            failed += 1
            log(f"op {attempted} failed: {e}")
            if "disk" in str(e):
                break
        took = time.monotonic() - t
        if time.monotonic() - start >= seconds or time.monotonic() + 1.2 * took > deadline:
            break
    metrics = {k: metric(statistics.median(v) if v else 0.0, END_TO_END[k])
               for k, v in samples.items()}
    return attempted, failed, metrics


def traced(workload, seed, arrivals, stats, deadline):
    """One untraced and one traced operation, each with a single resume so
    that both fit in one run; per-layer metrics of the traced one, checked
    against the untraced one."""
    attempted, failed, metrics = 2, 0, {}
    try:
        _, plain_report = op(workload, seed, arrivals, stats, "plain", deadline, resumes=1)
        _, report = op(workload, seed, arrivals, stats, "traced", deadline, trace=True,
                       resumes=1)
        t = report["trace"]
        for label in ("run", "append", "resume1"):
            a = {c["label"]: c["digest"] for c in plain_report["checks"]}[label]
            b = {c["label"]: c["digest"] for c in report["checks"]}[label]
            if a != b:
                raise OpFailed(f"traced {label} partition {b} != untraced {a}")
        if abs(t["layer_sum_s"] - t["wall_s"]) > 0.01 * t["wall_s"] + 0.05:
            raise OpFailed(f"layer times sum to {t['layer_sum_s']:.3f} s, "
                           f"traced wall is {t['wall_s']:.3f} s")
        untraced_wall = sum((s["end_ms"] - s["start_ms"]) / 1000.0
                            for s in plain_report["steps"])
        metrics = dict(t["metrics"])
        metrics["trace.wall_s"] = metric(t["wall_s"], "s")
        metrics["trace.overhead_s"] = metric(t["wall_s"] - untraced_wall, "s")
        log(f"traced wall {t['wall_s']:.3f} s, untraced {untraced_wall:.3f} s")
    except OpFailed as e:
        failed = 1
        log(f"traced operation failed: {e}")
    return attempted, failed, metrics


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, terminated)
    signal.signal(signal.SIGINT, terminated)
    if not (os.path.isdir("src/main/scala/graft") and os.path.isfile("build.sbt")):
        sys.exit("run from the root of a checkout: the program's sources "
                 "(src/main/scala/graft, build.sbt) are not here")
    if not os.path.isdir(os.path.join(SPARK_HOME, "jars")):
        sys.exit("SPARK_HOME must point at the Spark distribution")
    build()
    deadline = time.monotonic() + RUN_LIMIT_S
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    try:
        arrivals, stats = prepare(a.seed)
        log(json.dumps({"workload": a.workload, "seed": a.seed, "cpus": cpus(),
                        "heap": HEAP, "entities": ENTITIES, "input": stats}))
        if a.trace:
            attempted, failed, metrics = traced(a.workload, a.seed, arrivals, stats, deadline)
        else:
            attempted, failed, metrics = timed(a.workload, a.seed, a.seconds, arrivals,
                                               stats, deadline)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
