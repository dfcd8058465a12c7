"""graft benchmark: one workload, one seed, one line of JSON.

Usage:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds graft and the harness from source (build.py), generates the
workload's inputs from the seed (gen.py), runs the JVM harness
(scala/Harness.scala) in a fresh work directory, checks every op's output
against DuckDB (oracle.py), and prints one JSON object as the last line of
standard output: `correct`, `attempted`, `failed` and `metrics`. With
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones; a traced run also writes its spans and the per-workload
detail to `<build dir>/traces/<workload>-<seed>.json`. The build dir is
`$CARGO_TARGET_DIR` when set, else `.bench_build`, under the checkout root.

Workloads (each in one JVM with local[N], N = nproc, and N shuffle
partitions; closed loop, one op at a time):
  star_daily  consecutive execution dates, each one Dag.run of the raw CSV
              ingest (PipelineBuilder.tasks) and StarPipeline.incrementalTasks
  catalogue   a fixed slice of SparkEntry.queries, each fully materialised
              into the noop sink
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

# Scale factor per workload. A day's cost is mostly per-job overhead, so
# star_daily runs at sf0.1 (about 62 orders a day); the catalogue's cost is
# mostly per-query overhead, and sf0.001 keeps a run under a minute.
SCALE = {"star_daily": 0.1, "catalogue": 0.001}
# Execution dates a star_daily run has drops for: warm-up days plus the most
# timed days a window can use.
DAILY_DAYS = 14
HEAP = "3g"
JVM_LIMIT_S = 160
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return statistics.geometric_mean(xs) if xs else 0.0


def run_harness(args, classes, data, work, days):
    import build
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([classes, os.path.join(build.spark_home(), "jars", "*")])
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS +
           ["-cp", cp, "perfbench.Harness", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--data", data, "--work", work,
            "--out", out, "--cpus", str(len(os.sched_getaffinity(0)))])
    if days:
        cmd += ["--days", ",".join(days)]
    env = dict(os.environ, SPARK_GRAFT_TMPDIR=os.path.join(work, "fixtures"))
    log_path = os.path.join(work, "harness.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: stopped by signal {signum}")
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            code = proc.wait(timeout=JVM_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: harness exited with {code}")
    with open(out) as f:
        return json.load(f)


def run_checks(res, data, csv_rows):
    """Check every op; returns {op index (-1 = warm-up): [reasons]}."""
    import oracle
    con = oracle.connect(data)
    bad = {}
    for chk in res["checks"]:
        try:
            if chk.get("error"):
                why = chk["error"]
            elif chk["kind"] == "query":
                why = oracle.check_query(con, chk["sql"], chk["dir"])
            else:
                why = oracle.check_day(con, res["oracle"], data, chk, csv_rows[chk["day"]])
        except Exception as e:
            why = f"check error: {type(e).__name__}: {e}"
        if why:
            label = chk.get("name") or chk.get("day")
            bad.setdefault(chk.get("op", -1), []).append(f"{label}: {why}")
    return bad


def end_to_end(res, ops):
    ok = [o for o in ops if o["ok"]]
    if res["workload"] == "catalogue":
        per_query = {}
        for o in ok:
            per_query.setdefault(o["name"], []).append(o["wall_s"])
        pass_s = sum(median(v) for v in per_query.values())
        op_walls = [o["wall_s"] for o in ok]
    else:
        pass_s = median([o["wall_s"] for o in ok])
        op_walls = [t for o in ok for t in o["tasks"].values()]
    return {
        "setup_s": (res["setup_s"], "s"),
        "pass_s": (pass_s, "s"),
        "op_geomean_s": (geomean(op_walls), "s"),
    }


def per_layer(res, ops, csv_rows):
    traced = [o for o in ops if o["traced"] and o["ok"]]
    untraced = [o for o in ops if not o["traced"] and o["ok"]]
    tot = {k: 0.0 for k in ("jobs", "stages", "tasks", "failed_tasks", "run_s", "cpu_s",
                            "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                            "input_bytes", "output_bytes", "busy_s")}
    construct_jobs = exec_jobs = unattributed = 0
    for o in traced:
        for group, w in o["work"].items():
            for k in tot:
                tot[k] += w[k]
            if group == "<none>":
                unattributed += w["jobs"]
            elif group.endswith("#construct"):
                construct_jobs += w["jobs"]
            else:
                exec_jobs += w["jobs"]
    wall = sum(o["wall_s"] for o in traced)
    n = res["cpus"]

    def med_by_name(os_):
        by = {}
        for o in os_:
            by.setdefault(o["name"], []).append(o["wall_s"])
        return {k: median(v) for k, v in by.items()}
    # Tracing overhead: the traced half of the window against the untraced
    # half of the same run. The traced half runs later, so JIT warm-up still
    # under way shows as a negative bias.
    t_med, u_med = med_by_name(traced), med_by_name(untraced)
    common = [k for k in t_med if k in u_med]
    if common:
        t, u = sum(t_med[k] for k in common), sum(u_med[k] for k in common)
    else:  # star_daily: every op is another date
        t, u = median(list(t_med.values())), median(list(u_med.values()))
    overhead = t / u - 1 if u else 0.0

    # Job and task counts must repeat exactly between runs of one query, and
    # job counts between days; shuffle bytes only nearly, since compressed
    # block sizes depend on the order rows reach a map task.
    first, unrepeated, jitter = {}, 0, 0.0
    for o in traced:
        jobs = sum(w["jobs"] for w in o["work"].values())
        tasks = sum(w["tasks"] for w in o["work"].values())
        shuffle = sum(w["shuffle_write_bytes"] for w in o["work"].values())
        key, sig = (o["kind"], (jobs,)) if o["kind"] == "day" else (o["name"], (jobs, tasks))
        sig0, shuffle0 = first.setdefault(key, (sig, shuffle))
        unrepeated += sig != sig0
        if o["kind"] != "day" and shuffle0:
            jitter = max(jitter, abs(shuffle - shuffle0) / shuffle0)
    raw_rows = sum(sum(csv_rows[o["name"][4:]].values()) for o in traced if o["kind"] == "day")
    return {
        "spark.jobs": (tot["jobs"], "count"),
        "spark.stages": (tot["stages"], "count"),
        "spark.tasks": (tot["tasks"], "count"),
        "spark.failed_tasks": (tot["failed_tasks"], "count"),
        "spark.unattributed_jobs": (unattributed, "count"),
        "spark.unrepeated_ops": (unrepeated, "count"),
        "spark.shuffle_write_jitter": (jitter, "ratio"),
        "spark.executor_run_s": (tot["run_s"], "s"),
        "spark.executor_cpu_s": (tot["cpu_s"], "s"),
        "spark.busy_s": (tot["busy_s"], "s"),
        "spark.driver_gap_s": (wall - tot["busy_s"], "s"),
        "spark.slot_util": (tot["run_s"] / (wall * n) if wall else 0.0, "ratio"),
        "spark.shuffle_write_bytes": (tot["shuffle_write_bytes"], "bytes"),
        "spark.shuffle_read_bytes": (tot["shuffle_read_bytes"], "bytes"),
        "spark.spill_bytes": (tot["spill_bytes"], "bytes"),
        "spark.input_bytes": (tot["input_bytes"], "bytes"),
        "spark.output_bytes": (tot["output_bytes"], "bytes"),
        "jvm.gc_s": (res["gc_s"], "s"),
        "jvm.heap_peak_mb": (res["heap_peak_bytes"] / 2**20, "MiB"),
        "phase.construct_s": (sum(o["phases"]["construct"] for o in traced), "s"),
        "phase.construct_jobs": (construct_jobs, "count"),
        "phase.plan_s": (sum(o["plan_s"] for o in traced), "s"),
        "phase.exec_s": (sum(o["phases"]["exec"] for o in traced), "s"),
        "phase.exec_jobs": (exec_jobs, "count"),
        "sources.raw_rows": (raw_rows, "count"),
        "sources.files_written": (sum(o["files_written"] for o in traced), "count"),
        "sources.bytes_written": (sum(o["bytes_written"] for o in traced), "bytes"),
        "sources.stored_mb": (max([o["stored_bytes"] for o in ops] + [0]) / 2**20, "MiB"),
        "trace.overhead_ratio": (overhead, "ratio"),
    }


def detail(res, ops):
    """Per-workload layer detail of a traced run, written beside the spans."""
    traced = [o for o in ops if o["traced"] and o["ok"]]
    out = {"workload": res["workload"], "seed": res["seed"], "cpus": res["cpus"],
           "heap_max_bytes": res["heap_max_bytes"], "load_1m": res["load_1m"],
           "layer_self_s": res["self_s"]}
    if res["workload"] == "star_daily":
        ids = sorted({t for o in traced for t in o["tasks"]})
        for t in ids:
            out[f"pipeline.task.{t}.wall_s"] = median([o["tasks"][t] for o in traced if t in o["tasks"]])
        out["pipeline.dag_overhead_s"] = median(
            [o["phases"]["exec"] - sum(o["tasks"].values()) for o in traced])
    else:
        passes = max(1, len(traced) / max(1, len({o["name"] for o in traced})))
        per = lambda f: sum(f(o) for o in traced) / passes
        out["catalog.construct_s"] = per(lambda o: o["phases"]["construct"])
        out["catalog.construct_jobs"] = per(lambda o: sum(
            w["jobs"] for g, w in o["work"].items() if g.endswith("#construct")))
        out["catalog.plan_s"] = per(lambda o: o["plan_s"])
        out["catalog.exec_s"] = per(lambda o: o["phases"]["exec"])
        out["catalog.exec_jobs"] = per(lambda o: sum(
            w["jobs"] for g, w in o["work"].items() if g.endswith("#exec")))
        out["catalog.count_s"] = per(lambda o: max(o["count_s"], 0.0))
        for name in sorted({o["name"] for o in traced}):
            out[f"query.{name}.wall_s"] = median([o["wall_s"] for o in traced if o["name"] == name])
    out["ops"] = [{k: o[k] for k in ("name", "wall_s", "phases", "tasks", "plan_s", "count_s",
                                      "work")} for o in traced]
    out["spans"] = res["spans"]
    return out


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SCALE))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, help="override the workload's scale factor")
    args = p.parse_args()

    import build
    import gen
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = build.build(build_dir)

    work = os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    try:
        gen.write_tables(args.seed, args.sf or SCALE[args.workload], data)
        days, csv_rows = [], {}
        if args.workload == "star_daily":
            days = gen.daily_dates(args.seed, DAILY_DAYS)
            csv_rows = gen.write_inbox(data, os.path.join(data, "inbox"), days)
        res = run_harness(args, classes, data, work, days)
        bad = run_checks(res, data, csv_rows)
        leftovers = res["fixture_leftovers"]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = res["ops"]
    for i, o in enumerate(ops):
        if i in bad:
            o["ok"] = False
            o["error"] = "; ".join(bad[i])
    warm_bad = bad.get(-1, [])
    warm_ops = sum(1 for c in res["checks"] if c.get("op", -1) == -1)
    attempted = len(ops) + warm_ops
    failed = sum(1 for o in ops if not o["ok"]) + len(warm_bad)
    for o in ops:
        if not o["ok"]:
            sys.stderr.write(f"perfbench: FAILED {o['name']}: {o['error']}\n")
    for why in warm_bad:
        sys.stderr.write(f"perfbench: FAILED warm-up {why}\n")
    if leftovers:
        sys.stderr.write(f"perfbench: fixture dirs left after Fixtures.clear(): {leftovers}\n")
    sys.stderr.write(f"perfbench: {args.workload} seed={args.seed} N={res['cpus']} "
                     f"heap={res['heap_max_bytes'] / 2**30:.2f}GiB load_1m={res['load_1m']:.2f} "
                     f"ops={len(ops)} window={res['window_s']:.1f}s\n")

    if args.trace:
        metrics = per_layer(res, ops, csv_rows)
        trace_dir = os.path.join(build_dir, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump(detail(res, ops), f, indent=1)
        sys.stderr.write(f"perfbench: trace written to {path}\n")
    else:
        metrics = end_to_end(res, ops)
    print(json.dumps({
        "correct": failed == 0 and not leftovers,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
