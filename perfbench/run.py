#!/usr/bin/env python3
"""The repository's benchmark. Run from the repository root:

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

It builds the harness (perfbench/build.sbt, which compiles the program's
sources with it) when the sources changed, generates the workload's
inputs from the seed, runs the harness JVM, checks the outputs, and
prints one line per metric followed by a JSON object as the last line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, from untraced passes;
with --trace 1 they are the per-layer ones, from a run that alternates
traced and untraced passes. Everything it writes stays under .bench_build/.
"""
import argparse
import hashlib
import json
import os
import re
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

# Why each workload exists is recorded in BENCHMARK.json.
WORKLOADS = {
    "catalog_sf001": {"kind": "batch", "sf": 0.01, "queries": ["q01", "q02", "q06", "q27", "q78"]},
    "ingest_stream": {"kind": "stream", "sf": 0.01, "batches": 2,
                      "queries": ["windowed_counts", "sessionize", "bloom_admitted"]},
}
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("query_geomean_s", "s"),
              ("cpu_s", "s"), ("peak_rss_mb", "MB"), ("op_p50_s", "s")]
# Per-layer counters, per traced pass (median over traced passes), and the
# end-to-end metric each should move:
#   plan.*, codegen.*      query_geomean_s / wall_s on catalog_sf001
#   sched.*                wall_s on catalog_sf001 (q78's Lloyd job chain)
#   task.*, scan.*         wall_s and cpu_s on catalog_sf001
#   shuffle.*, spill.mb    wall_s on catalog_sf001 (q02, q27)
#   cache.*                peak_rss_mb; wall_s of the persisting lines (q78)
#   stream.*               wall_s and op_p50_s on ingest_stream only;
#                          stream.batch_p50_s / _p90_s are micro-batch
#                          latency, whose samples the seeded cut points
#                          move between a drain's batches
#   self.*                 where the wall goes: between calls, in the driver
#                          outside jobs, per micro-batch, per job, per stage
#   ops.p90_s              the op_p50_s tail; too few samples a run to bound
# A layer a workload does not use reads 0 there.
COUNTERS = [
    ("plan.analysis_s", "s"), ("plan.optimizer_s", "s"), ("plan.physical_s", "s"),
    ("codegen.units", "count"), ("codegen.compile_s", "s"),
    ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
    ("sched.job_s", "s"), ("sched.gap_s", "s"), ("sched.overlap_s", "s"),
    ("task.run_s", "s"), ("task.cpu_s", "s"), ("task.gc_s", "s"),
    ("scan.mb", "MB"), ("scan.rows", "count"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"), ("shuffle.fetch_wait_s", "s"),
    ("spill.mb", "MB"), ("cache.tracked", "count"), ("cache.mb", "MB"),
    ("stream.batches", "count"), ("stream.add_batch_s", "s"), ("stream.plan_s", "s"),
    ("stream.wal_s", "s"), ("stream.state_rows", "count"), ("stream.state_mb", "MB"),
    ("stream.state_commit_s", "s"), ("stream.late_rows", "count"),
    ("stream.batch_p50_s", "s"), ("stream.batch_p90_s", "s"),
    ("self.pass_s", "s"), ("self.call_s", "s"), ("self.batch_s", "s"),
    ("self.job_s", "s"), ("self.stage_s", "s"), ("ops.p90_s", "s"), ("trace.overhead_s", "s")]
PER_LAYER = [(f"queries.{q}_s", "s") for q in dict.fromkeys(
    q for w in WORKLOADS.values() for q in w["queries"])] + COUNTERS
# A fixed, pre-touched heap keeps peak RSS from tracking how far the
# collector happened to grow the heap in a given run; what moves it is
# memory outside the heap.
HEAP = "2g"
GEN_REPEATS = 3
RUN_LIMIT_S = 170  # everything after the build: inputs, harness, checks
CHECK_RESERVE_S = 20
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, bdir):
    """Compile the harness with the program's sources; returns the
    runtime classpath. Skipped when the sources are unchanged."""
    stamp = source_stamp(root)
    cp_file, stamp_file = os.path.join(bdir, "classpath.txt"), os.path.join(bdir, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cf:
                    return cf.read().strip(), stamp
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    submit = shutil.which("spark-submit")
    if "SPARK_HOME" not in env and submit:
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1], stamp


def cpu_busy_s():
    """Machine-wide busy CPU seconds so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return (sum(f) - f[3] - f[4]) / os.sysconf("SC_CLK_TCK")


def run_harness(cp, work, spec, args, inputs, deadline):
    out = os.path.join(work, "raw.json")
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", *opens, "-Dfile.encoding=UTF-8",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
           "-cp", cp, "perfbench.Harness",
           "--kind", spec["kind"], "--queries", ",".join(spec["queries"]),
           "--tables", f"{inputs}/tables", "--stream", f"{inputs}/stream",
           "--work", work, "--verify", f"{work}/verify", "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", out]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    os.makedirs(f"{work}/verify", exist_ok=True)
    env = dict(os.environ, LANG="C.UTF-8")
    busy0, child0 = cpu_busy_s(), resource.getrusage(resource.RUSAGE_CHILDREN)
    t0 = time.time()
    with open(os.path.join(work, "harness.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            code = proc.wait(timeout=max(1.0, deadline - CHECK_RESERVE_S - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    wall = time.time() - t0
    child1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    own = (child1.ru_utime + child1.ru_stime) - (child0.ru_utime + child0.ru_stime)
    others = max(0.0, (cpu_busy_s() - busy0 - own) / wall)
    if code != 0:
        with open(os.path.join(work, "harness.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"harness exited with {code}")
    with open(out) as fh:
        raw = json.load(fh)
    raw["launch_ms"] = t0 * 1000
    raw["harness_s"] = wall
    raw["other_cores"] = others
    return raw


def oracle_checks(root, inputs, work, deadline):
    """Hash-compare every oracle-backed output against DuckDB over the
    same rows, with the repository's own checker."""
    r = subprocess.run([sys.executable, os.path.join(root, "tools", "check.py"),
                        f"{inputs}/canonical", f"{work}/verify"],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=max(1.0, deadline - time.time()))
    checks = []
    for ln in r.stdout.splitlines():
        m = re.match(r"\s*(PASS|FAIL|oracle_error|rows_only)\s+(\S+)(.*)", ln)
        if m and m.group(1) != "rows_only":
            checks.append({"name": f"oracle:{m.group(2)}", "ok": m.group(1) == "PASS",
                           "detail": m.group(3).strip()[:300]})
    if r.returncode not in (0, 1):
        checks.append({"name": "oracle:check.py", "ok": False, "detail": r.stdout[-300:]})
    with open(f"{work}/verify/oracle_sql.json") as fh:
        seen = {c["name"] for c in checks}
        checks += [{"name": f"oracle:{q}", "ok": False, "detail": "no output written"}
                   for q in sorted(json.load(fh)) if f"oracle:{q}" not in seen]
    return checks


def short(name):
    return name.split("_")[0] if re.match(r"q\d+_", name) else name


def passes_of(raw, traced):
    return [p for p in raw["passes"] if p["traced"] == traced]


def ops_of(passes):
    """Durations of the operations the client waits on: query calls, or
    stream drains."""
    return [c["wall_s"] for p in passes for c in p["calls"]]


def batches_of(passes):
    """Micro-batch durations of the stream drains."""
    return [t for p in passes for c in p["calls"] for t in c["batches_s"]]


def end_to_end(raw, gen_times):
    untraced = passes_of(raw, False)
    per_query = {}
    for p in untraced:
        for c in p["calls"]:
            per_query.setdefault(c["name"], []).append(c["wall_s"])
    ops = ops_of(untraced)
    setup = stats.median(gen_times) + (raw["ready_ms"] - raw["launch_ms"]) / 1e3
    walls = [p["wall_s"] for p in untraced]
    values = {
        # one set-up per run; only input generation is cheap enough to repeat
        "setup_s": (setup, 1),
        "wall_s": (stats.median(walls), len(walls)),
        "query_geomean_s": (stats.geomean([stats.median(v) for v in per_query.values()]),
                            len(per_query)),
        "cpu_s": (stats.median([p["cpu_s"] for p in untraced]), len(untraced)),
        "peak_rss_mb": (raw["peak_rss_mb"], 1),
        "op_p50_s": (stats.median(ops), len(ops)),
    }
    return values


def per_layer(raw):
    traced, untraced = passes_of(raw, True), passes_of(raw, False)
    values = {name: (0.0, 0) for name, _ in PER_LAYER}
    per_query = {}
    for p in untraced:
        for c in p["calls"]:
            per_query.setdefault(short(c["name"]), []).append(c["wall_s"])
    for q, walls in per_query.items():
        values[f"queries.{q}_s"] = (stats.median(walls), len(walls))
    spans = raw["spans"]
    parent = {s["id"]: s["parent"] for s in spans}

    def pass_of(sid):
        while parent.get(sid, "w") != "w":
            sid = parent[sid]
        return sid
    by_pass = {}
    for s in spans:
        by_pass.setdefault(pass_of(s["id"]), []).append(s)
    samples = {}
    for p in traced:
        got = dict(p.get("counters", {}))
        ps = by_pass.get(f"p{p['index']}", [])
        jobs = [(s["start_ms"] / 1e3, s["end_ms"] / 1e3) for s in ps if s["layer"] == "job"]
        union = stats.union_length(jobs)
        got["sched.jobs"] = len(jobs)
        got["sched.stages"] = sum(1 for s in ps if s["layer"] == "stage")
        got["sched.job_s"] = union
        got["sched.gap_s"] = p["wall_s"] - union
        got["sched.overlap_s"] = sum(e - s for s, e in jobs) - union
        for layer, t in stats.self_times(ps).items():
            got[f"self.{layer}_s"] = t
        for name, _ in COUNTERS:
            samples.setdefault(name, []).append(got.get(name, 0.0))
    for name, xs in samples.items():
        values[name] = (stats.median(xs), len(xs))
    ops = ops_of(untraced)
    values["ops.p90_s"] = (stats.percentile(ops, 90), len(ops))
    batches = batches_of(untraced)
    if batches:
        values["stream.batch_p50_s"] = (stats.median(batches), len(batches))
        values["stream.batch_p90_s"] = (stats.percentile(batches, 90), len(batches))
    values["trace.overhead_s"] = (
        stats.median([p["wall_s"] for p in traced]) - stats.median([p["wall_s"] for p in untraced]),
        len(traced))
    return values


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    for need in ("src/main/scala", "tools/check.py", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the repository root of a full checkout")
    spec = WORKLOADS[args.workload]
    bdir = os.path.join(root, ".bench_build")
    os.makedirs(bdir, exist_ok=True)
    cp, stamp = build(root, bdir)

    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(bdir, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    inputs = os.path.join(work, "inputs")
    try:
        gen_times = []
        for _ in range(GEN_REPEATS):
            shutil.rmtree(inputs, ignore_errors=True)
            t = time.perf_counter()
            input_bytes = gen.write_inputs(inputs, spec["sf"], args.seed, spec.get("batches", 0))
            gen_times.append(time.perf_counter() - t)
        raw = run_harness(cp, work, spec, args, inputs, deadline)
        if spec["kind"] == "batch":
            raw["checks"] += oracle_checks(root, inputs, work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    checks = raw["checks"]
    calls = [c for p in raw["passes"] for c in p["calls"]]
    problems = [f"{c['name']}: {c['error']}" for c in calls if c["error"]] + raw["warmup_errors"]
    problems += [f"{c['name']}: {c['detail']}" for c in checks if not c["ok"]]
    warm_failed = len(raw["warmup_errors"])
    attempted, failed = stats.count_failures(
        [c["error"] is None for c in calls] + [True] * (raw["warmup_calls"] - warm_failed)
        + [False] * warm_failed + [c["ok"] for c in checks])
    if args.trace:
        values, table = per_layer(raw), PER_LAYER
    else:
        values = end_to_end(raw, gen_times)
        table = END_TO_END
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": raw["cpus"], "heap_mb": raw["heap_mb"], "input_bytes": input_bytes,
        "source_sha256": stamp, "commit": git_commit(root),
        "other_cores": round(raw["other_cores"], 3),
        "passes": len(raw["passes"]), "error_rate": failed / attempted,
        "pass_walls_s": [round(p["wall_s"], 4) for p in raw["passes"]],
        "call_walls_s": [{c["name"]: round(c["wall_s"], 4) for c in p["calls"]}
                         for p in raw["passes"]],
        "batch_walls_s": [{c["name"]: c["batches_s"] for c in p["calls"]}
                          for p in raw["passes"] if any(c["batches_s"] for c in p["calls"])],
        "setup_parts_s": {"generate": stats.median(gen_times), "session": raw["session_s"],
                          "warmup": raw["warmup_s"], "verify": raw["verify_s"],
                          "harness": raw["harness_s"]},
        "checks": checks, "problems": problems,
    }
    os.makedirs(os.path.join(bdir, "results"), exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(bdir, "results", f"{tag}.json"), "w") as fh:
        json.dump({**record, "metrics": values, "spans": raw["spans"]}, fh)

    for k in ("nproc", "heap_mb", "input_bytes", "commit", "source_sha256", "other_cores",
              "passes"):
        print(f"# {k} = {record[k]}")
    print(f"# error_rate = {record['error_rate']:.4f} ({failed} of {attempted} operations)")
    for p in problems:
        print(f"# FAILED {p}")
    # the op_p50_s and micro-batch tails, too few samples a run to carry a bound
    for what, xs in (("op", ops_of(passes_of(raw, False))),
                     ("micro-batch", batches_of(passes_of(raw, False)))):
        tail = stats.highest_percentile(len(xs))
        if tail:
            print(f"# {what} p{tail} = {stats.percentile(xs, tail):.6f} s (n={len(xs)}, 10 beyond)")
    for name, unit in table:
        v, n = values[name]
        print(f"{name:24s} {v:14.6f} {unit:6s} n={n}")
    metrics = {name: {"value": values[name][0], "unit": unit} for name, unit in table}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def git_commit(root):
    """HEAD of the checkout when it is itself a git work tree, else None
    (the source stamp identifies the code either way)."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=root,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=10)
    except OSError:
        return None
    lines = r.stdout.split()
    if r.returncode != 0 or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(root):
        return None
    return lines[1]


if __name__ == "__main__":
    main()
