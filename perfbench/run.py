#!/usr/bin/env python3
"""The repo benchmark: CDC delivery latency, catch-up drain rate and a
fixpoint/one-pass query mix, with per-layer counters from a traced run.

Run one measurement (from the root of a checkout):

    python3 perfbench/run.py --workload cdc --seed 1 --seconds 12 --trace 0

The first run builds the engine and the harness from source (sbt, offline)
into `.bench_build/`. The last line of standard output is one JSON object
with `correct`, `attempted`, `failed` and `metrics`; `--trace 0` reports
the end-to-end metrics and `--trace 1` the per-layer ones. A readable
report, the host-weather witnesses and (traced) the span table go to
standard error. Every run is appended to `.bench_build/results/runs.jsonl`.

Compare two sets of runs (e.g. the parent's and a change's runs.jsonl):

    python3 perfbench/run.py --compare parent.jsonl change.jsonl
"""
import argparse
import glob
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RESULTS = os.path.join(BUILD, "results", "runs.jsonl")
SPARK_JARS = "/opt/spark/jars"
WORKLOADS = ("cdc", "query_mix")
QUERY_SF = 0.01
# The tables' keys and texts come from one fixed seed, because the
# fixpoint queries' job counts follow the graph's shape and per-seed
# graphs would spread the figures by their round counts; `--seed` draws
# the value columns (prices, balances, event values).
TABLE_SEED = 42
DEADLINE_S = 160  # JVM budget; the oracle check and reporting follow

E2E = [  # name, unit
    ("setup_s", "s"),
    ("publish_latency_p50_ms", "ms"),
    ("publish_latency_p95_ms", "ms"),
    ("drain_events_per_s", "events/s"),
    ("suite_wall_s", "s"),
    ("process_cpu_s", "s"),
    ("peak_rss_mb", "MB"),
    ("stored_bytes_per_input_byte", "ratio"),
]

QUERIES = ["q34_kcore", "q45_hyperball_incr", "q36_skew_join",
           "cdc_daily_metrics_state"]

PER_LAYER = [  # name, unit
    ("sources.list_ms", "ms"), ("sources.segments", "count"),
    ("sources.backlog_segments_max", "count"),
    ("streaming.latest_offset_ms_p50", "ms"), ("streaming.get_batch_ms_p50", "ms"),
    ("streaming.query_planning_ms_p50", "ms"), ("streaming.wal_commit_ms_p50", "ms"),
    ("streaming.commit_offsets_ms_p50", "ms"), ("streaming.trigger_ms_p50", "ms"),
    ("streaming.trigger_ms_p95", "ms"), ("streaming.jobs_per_batch", "count"),
    ("streaming.stages_per_batch", "count"), ("streaming.no_task_share", "ratio"),
    ("sources.scan_ms_per_kevent", "ms"), ("sources.partitions_per_batch", "count"),
    ("cdc.transform_ms_per_kevent", "ms"), ("cdc.validate_ms_per_kevent", "ms"),
    ("cdc.dedup_ms_per_kevent", "ms"), ("cdc.rule_yield", "ratio"),
    ("cdc.dead_letter_ratio", "ratio"), ("cdc.dup_drop_ratio", "ratio"),
    ("streaming.add_batch_ms_p50", "ms"), ("streaming.sink_ms_per_batch", "ms"),
    ("streaming.tasks_per_batch", "count"), ("streaming.shuffle_bytes_per_batch", "bytes"),
    ("streaming.batches", "count"), ("streaming.events_per_batch_p50", "count"),
    ("cdc.hook.scd_latest_ms", "ms"), ("cdc.hook.metrics_daily_ms", "ms"),
    ("operators.hook.quantiles_ms", "ms"), ("operators.hook.hll_ms", "ms"),
    ("operators.hook.checks_ms", "ms"), ("streaming.maintain_ms_per_batch", "ms"),
    ("cdc.state_bytes", "bytes"),
    ("streaming.files_per_batch", "count"), ("streaming.read_published_ms", "ms"),
    ("operators.wall_s", "s"), ("operators.jobs", "count"), ("operators.stages", "count"),
    ("operators.tasks", "count"), ("operators.shuffle_bytes", "bytes"),
    ("operators.executor_run_s", "s"), ("operators.no_task_share", "ratio"),
    ("queries.wall_s", "s"), ("queries.jobs", "count"), ("queries.stages", "count"),
    ("queries.shuffle_bytes", "bytes"), ("queries.input_bytes", "bytes"),
    ("queries.spill_bytes", "bytes"), ("queries.no_task_share", "ratio"),
] + [(f"query.{q}.{m}", u) for q in QUERIES
     for m, u in (("wall_s", "s"), ("jobs", "count"), ("shuffle_bytes", "bytes"))] + [
    ("loadgen.late_ms_p95", "ms"), ("host.steal_s", "s"),
]

# Per-layer metrics that count work rather than time it: compare mode
# prints their deltas, which host weather does not move.
COUNT_UNITS = ("count", "bytes", "ratio")

JAVA_OPTS = [
    "--add-opens", "java.base/java.lang=ALL-UNNAMED",
    "--add-opens", "java.base/java.lang.invoke=ALL-UNNAMED",
    "--add-opens", "java.base/java.lang.reflect=ALL-UNNAMED",
    "--add-opens", "java.base/java.io=ALL-UNNAMED",
    "--add-opens", "java.base/java.net=ALL-UNNAMED",
    "--add-opens", "java.base/java.nio=ALL-UNNAMED",
    "--add-opens", "java.base/java.util=ALL-UNNAMED",
    "--add-opens", "java.base/java.util.concurrent=ALL-UNNAMED",
    "--add-opens", "java.base/java.util.concurrent.atomic=ALL-UNNAMED",
    "--add-opens", "java.base/sun.nio.ch=ALL-UNNAMED",
    "--add-opens", "java.base/sun.nio.cs=ALL-UNNAMED",
    "--add-opens", "java.base/sun.security.action=ALL-UNNAMED",
    "--add-opens", "java.base/sun.util.calendar=ALL-UNNAMED",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
]


def log(msg=""):
    print(msg, file=sys.stderr, flush=True)


def source_digest():
    """Digest of every file the build compiles, so a checkout builds once."""
    h = hashlib.sha256()
    files = []
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(d, "**", "*"), recursive=True)
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for f in sorted(p for p in files if os.path.isfile(p)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classes_dir():
    return os.path.join(BUILD, "sbt-target", "scala-2.13", "classes")


def build():
    stamp = os.path.join(BUILD, "build.stamp")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest \
            and os.path.isdir(classes_dir()):
        return
    log("building engine + harness (sbt, offline) ...")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
        "-Djava.io.tmpdir=" + tmp, "-XX:-UsePerfData"])
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "Compile / products"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        log(r.stdout[-4000:])
        raise SystemExit("build failed")
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp, "w") as fh:
        fh.write(digest)


def run_jvm(args, work, timeout):
    cp = classes_dir() + os.pathsep + os.path.join(SPARK_JARS, "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # fixed heap and young-generation sizes: when G1 sizes them on the fly
    # the peak RSS follows GC timing and jumps by hundreds of MB run to run
    # no hsperfdata file under /tmp: the run writes only inside the checkout
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"] + JAVA_OPTS + \
        ["-cp", cp, "graft.perfbench.Main"] + args
    out = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=out,
                         stderr=subprocess.STDOUT, start_new_session=True)
    rc = "timeout"
    try:
        rc = p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        pass
    finally:
        # also on SIGTERM/Ctrl-C: never leave the JVM running
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        out.close()
    return rc


def oracle_check(tables, out):
    """Compare each query's rows with its DuckDB oracle SQL, as sorted,
    column-name-sorted row lists with matching types. Returns the list of
    failures (empty when every query matches)."""
    import duckdb
    con = duckdb.connect()
    for t in glob.glob(os.path.join(tables, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")
    sqls = json.load(open(os.path.join(out, "oracle_sql.json")))
    fails = []
    for q in QUERIES:
        try:
            if not sqls.get(q):
                raise ValueError("no oracle SQL")
            got = con.sql(f"SELECT * FROM '{os.path.join(out, q)}/*.parquet'")
            exp = con.sql(sqls[q])
            sides = []
            for rel in (got, exp):
                cols = sorted(rel.columns)
                sel = con.sql("SELECT " + ", ".join(f'"{c}"' for c in cols) +
                              " FROM rel ORDER BY ALL")
                sides.append((cols, [str(t) for t in sel.types], sel.fetchall()))
            if sides[0] != sides[1]:
                g, e = sides
                why = ("columns" if g[0] != e[0] else "types" if g[1] != e[1]
                       else f"rows ({len(g[2])} vs {len(e[2])})")
                fails.append(f"{q}: oracle mismatch on {why}")
        except Exception as ex:  # noqa: BLE001 - any error is a failed check
            fails.append(f"{q}: oracle error {str(ex)[:200]}")
    con.close()
    return fails


def append_record(rec):
    os.makedirs(os.path.dirname(RESULTS), exist_ok=True)
    with open(RESULTS, "a") as fh:
        fh.write(json.dumps(rec) + "\n")


def load_records(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def tracing_overhead(workload, e2e):
    """Traced end-to-end numbers against the untraced runs recorded in this
    checkout (same workload)."""
    if not os.path.exists(RESULTS):
        return ["  no untraced run of this workload recorded yet"]
    base = [r for r in load_records(RESULTS)
            if r["workload"] == workload and not r["trace"] and r["correct"]]
    if not base:
        return ["  no untraced run of this workload recorded yet"]
    lines = []
    for name, unit in E2E:
        m = statistics.median(r["e2e"][name] for r in base)
        v = e2e[name]
        rel = (v - m) / m * 100 if m else 0.0
        lines.append(f"  {name:30s} traced {v:12.4f}  untraced median "
                     f"{m:12.4f} {unit:9s} ({rel:+.1f}%, n={len(base)})")
    return lines


def measure(a):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("engine sources (src/main/scala) not found next to perfbench/")
    if shutil.which("sbt") is None or not os.path.isdir(SPARK_JARS):
        raise SystemExit("needs sbt and the Spark jars at " + SPARK_JARS)
    build()
    # the 180 s run limit excludes a checkout's one-time build
    start = time.time()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = [a.workload, str(a.seed), str(a.seconds), str(a.trace), work,
                os.path.join(work, "result.json")]
        tables = os.path.join(work, "tables")
        if a.workload == "query_mix":
            from tables import generate  # noqa: E402 - sibling module
            generate(tables, QUERY_SF, TABLE_SEED, a.seed)
            args.append(tables)
        rc = run_jvm(args, work, DEADLINE_S - (time.time() - start))
        with open(os.path.join(work, "jvm.log")) as fh:
            for line in fh:
                if line.startswith("[phase]"):
                    log(line.rstrip())
        log(f"[phase] jvm exited, {time.time() - start:.1f} s since start")
        if rc != 0:
            with open(os.path.join(work, "jvm.log")) as fh:
                log(fh.read()[-6000:])
            raise SystemExit(f"benchmark JVM failed ({rc})")
        res = json.load(open(os.path.join(work, "result.json")))
        notes = list(res["notes"])
        attempted, failed = res["attempted"], res["failed"]
        if a.workload == "query_mix":
            fails = oracle_check(tables, os.path.join(work, "oracle-out"))
            notes += fails
            attempted += len(QUERIES)
            failed += len(fails)
        if a.trace:
            spans = os.path.join(work, "spans.json")
            keep = os.path.join(BUILD, "results", f"spans-{a.workload}-{a.seed}.json")
            os.makedirs(os.path.dirname(keep), exist_ok=True)
            shutil.copyfile(spans, keep)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = {n: float(res["e2e"].get(n, 0.0)) for n, _ in E2E}
    layer = {n: float(res["layer"].get(n, 0.0)) for n, _ in PER_LAYER}
    correct = failed == 0
    log(f"== {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
    for n, u in E2E:
        log(f"  {n:30s} {e2e[n]:14.4f} {u}")
    if "cdc.latency_samples" in res["layer"]:
        log(f"  (publish latency over {res['layer']['cdc.latency_samples']:.0f} segments)")
    log(f"  error_ratio (failed/attempted)  {failed}/{attempted}")
    log(f"  witnesses: host.steal_s={layer['host.steal_s']:.2f} "
        f"loadgen.late_ms_p95={layer['loadgen.late_ms_p95']:.1f}")
    for n in notes:
        log("  ! " + n)
    if a.trace:
        log("-- spans (self time = span minus its children) --")
        log(res["span_report"])
        log("-- per-layer metrics --")
        for n, u in PER_LAYER:
            log(f"  {n:42s} {layer[n]:16.4f} {u}")
        extra = {k: v for k, v in res["layer"].items()
                 if k not in layer}
        for k, v in sorted(extra.items()):
            log(f"  {k:42s} {v:16.4f}")
        log("-- tracing overhead: traced vs untraced end-to-end --")
        for line in tracing_overhead(a.workload, e2e):
            log(line)
        log(f"  spans written to {keep}")
    append_record({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                   "trace": a.trace, "correct": correct, "attempted": attempted,
                   "failed": failed, "e2e": e2e,
                   "layer": {**res["layer"], **layer}, "time": time.time()})
    chosen = PER_LAYER if a.trace else E2E
    metrics = {n: {"value": (layer if a.trace else e2e)[n], "unit": u}
               for n, u in chosen}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


def compare(parent_path, change_path):
    """Per workload and end-to-end metric: each side's median and quartiles;
    then per-layer count deltas (from traced runs) with their bases."""
    sides = [load_records(parent_path), load_records(change_path)]
    for w in WORKLOADS:
        runs = [[r for r in s if r["workload"] == w and r["correct"]] for s in sides]
        if not all(runs):
            continue
        n = [sum(not r["trace"] for r in rs) for rs in runs]
        print(f"== {w} (untraced runs: parent {n[0]}, change {n[1]})")
        print(f"  {'metric':30s} {'parent q1/med/q3':>34s} {'change q1/med/q3':>34s} {'delta':>8s}")
        for n, u in E2E:
            qs = []
            for rs in runs:
                xs = [r["e2e"][n] for r in rs if not r["trace"]]
                qs.append(quartiles(xs) if xs else None)
            if None in qs:
                continue
            (a1, a2, a3), (b1, b2, b3) = qs
            d = (b2 - a2) / a2 * 100 if a2 else 0.0
            print(f"  {n:30s} {a1:10.3f}/{a2:10.3f}/{a3:10.3f} "
                  f"{b1:10.3f}/{b2:10.3f}/{b3:10.3f} {d:+7.1f}%  {u}")
        traced = [[r for r in rs if r["trace"]] for rs in runs]
        if all(traced):
            print(f"  per-layer counts (traced runs, medians; n={len(traced[0])}/{len(traced[1])})")
            for n, u in PER_LAYER:
                if u not in COUNT_UNITS:
                    continue
                a = statistics.median(r["layer"].get(n, 0.0) for r in traced[0])
                b = statistics.median(r["layer"].get(n, 0.0) for r in traced[1])
                if a == 0 and b == 0:
                    continue
                d = f"{(b - a) / a * 100:+.1f}%" if a else "new"
                print(f"    {n:42s} {a:14.2f} -> {b:14.2f}  {d}")
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--compare", nargs=2, metavar=("PARENT", "CHANGE"))
    a = ap.parse_args()
    if a.compare:
        return compare(*a.compare)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not a.workload:
        ap.error("--workload is required")
    return measure(a)


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
