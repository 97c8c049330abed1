#!/usr/bin/env python3
"""graft benchmark: one command runs one workload with one seed.

    python3 perfbench/run.py --workload board --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It builds the library and the JVM side
of the benchmark from source (perfbench/build.sbt) when they changed,
generates the workload's inputs from the seed, runs the JVM side (perfbench.Main),
checks every result against the DuckDB oracle, and prints as its last
line one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, and the spans and layer
summary go to perfbench/out/trace_<workload>_<seed>.json.

Workloads, sizes and the layer each should move: perfbench/design.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
WORKLOADS = ("board", "curation", "calls_stream")

# inputs (see design.json)
BOARD_SF = 0.01
BOARD_DATA_SEED = 42          # board tables are fixed; the seed sets query order
CURATION_REPLICAS = 2
CURATION_DOCS = 500           # per replica
CURATION_EMB = 200            # per replica
STREAM_CUSTOMERS = 15000
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def sources_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the library and perfbench.Main with sbt when the sources changed; return
    the runtime classpath."""
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    cp_file = os.path.join(HERE, "target", "perfbench.classpath")
    stamp = sources_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fc:
                    return fc.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    log("building library and benchmark (sbt compile)")
    t0 = time.time()
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
                           text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build did not run: {e}")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")][-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def warm_page_cache(cp):
    """Read the classpath once, so class loading in the timed part does not
    wait on a disk whose page cache the host may have reclaimed."""
    for entry in cp.split(os.pathsep):
        files = [entry] if os.path.isfile(entry) else []
        for f in files:
            with open(f, "rb") as fh:
                while fh.read(1 << 20):
                    pass


def generate(workload, seed, data_dir):
    import gen
    if workload == "board":
        gen.star_tables(data_dir, BOARD_DATA_SEED, BOARD_SF)
    elif workload == "curation":
        gen.corpus(data_dir, seed, CURATION_REPLICAS, CURATION_DOCS, CURATION_EMB)
    else:
        gen.stream_customers(data_dir, seed, STREAM_CUSTOMERS)


def run_jvm(cp, args, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # every file the JVM writes stays under run_dir; a fixed heap size
    # keeps heap growth out of the run-to-run spread
    cmd += ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Dspark.local.dir={tmp}",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp, "perfbench.Main"] + args
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL, stdout=logf,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"JVM timed out after {JVM_TIMEOUT_S} s; log: {logf.name}")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"JVM exited with {rc}")


def check_batch(rec, data_dir):
    """Compare each call's digest with the oracle's; a call fails if it
    threw or its result differs."""
    import oracle
    expected = oracle.expected_digests(data_dir, rec["oracle_sql"], os.path.join(WORK, "oracle"))
    bad, failed = {}, 0
    for o in rec["ops"]:
        why = o["error"] or (None if o["digest"] == expected.get(o["name"]) else "differs from oracle")
        if why:
            failed += 1
            bad.setdefault(o["name"], why)
    return len(rec["ops"]), failed, bad


def check_stream(rec, data_dir, run_dir):
    """Compare the sink's final state with the q_calls_enriched oracle over
    the generated events, per (caller, window) row."""
    import oracle
    events = os.path.join(run_dir, "events.csv")
    con = oracle.connect(data_dir, [
        "CREATE VIEW events AS SELECT user_id, value, make_timestamp(ts_us) AS ts FROM "
        f"read_csv('{events}', header=true, columns={{'user_id': 'BIGINT', 'value': 'DOUBLE', "
        "'ts_us': 'BIGINT'})"])
    cols, rows = oracle.run(con, rec["oracle_sql"]["q_calls_enriched"])
    con.close()
    scols = sorted(cols)
    ki = (scols.index("id_telef_origen"), scols.index("window_start_ts"))

    def keyed(lines):
        return {(f[ki[0]], f[ki[1]]): l for l in lines for f in [l.split("\u0001")]}

    exp = keyed(oracle.canonical(cols, rows))
    with open(os.path.join(run_dir, "sink.txt"), encoding="utf-8") as fh:
        header, *lines = fh.read().split("\n")
    if header.split("\u0001") != scols:
        return max(1, len(exp)), max(1, len(exp)), {"sink": f"columns {header!r}"}
    got = keyed([l for l in lines if l])
    keys = set(exp) | set(got)
    diff = [k for k in keys if exp.get(k) != got.get(k)]
    bad = {f"{k[0]}@{k[1]}": ("missing" if k not in got else "extra" if k not in exp else "differs")
           for k in sorted(diff)[:10]}
    return len(keys), len(diff), bad


def with_self_time(spans):
    """Self time of a span: its duration minus the part its children cover."""
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)
    for sp in spans:
        cov, end = 0, sp["start_us"]
        for c in sorted(kids.get(sp["id"], []), key=lambda c: c["start_us"]):
            s, e = max(c["start_us"], end), min(c["end_us"], sp["end_us"])
            if e > s:
                cov += e - s
                end = e
        sp["self_us"] = sp["end_us"] - sp["start_us"] - cov
    return spans


def shares(workload, layers, spans):
    """Where an operation's wall time went, as shares of it."""
    if workload == "calls_stream":
        trig = layers["streaming.trigger_ms"] or float("nan")
        return {"micro_batch_share": (layers["streaming.query_planning_ms"]
                                      + layers["streaming.add_batch_ms"]
                                      + layers["streaming.wal_commit_ms"]
                                      + layers["streaming.commit_offsets_ms"]) / trig,
                "planner_share": layers["planner.plan_ms"] / trig,
                "driver_gap_share": 1000 * layers["scheduler.driver_gap_s"] / trig,
                "executor_busy_frac": layers["executor.busy_frac"]}
    ops = [s for s in spans if s["op"] and s["name"] not in ("build", "action")]
    wall = sum(s["end_us"] - s["start_us"] for s in ops) / max(1, len(ops)) / 1e6 or float("nan")
    return {"planner_share": layers["planner.plan_ms"] / 1000 / wall,
            "driver_gap_share": layers["scheduler.driver_gap_s"] / wall,
            "single_task_stage_share": layers["scheduler.single_task_stage_s"] / wall,
            "eager_share": layers["ops.eager_s"] / wall,
            "executor_busy_frac": layers["executor.busy_frac"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    # on SIGTERM, unwind so the finally blocks stop the child processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("library sources (src/main/scala) not found next to perfbench/")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cp = build()

    setup_from = time.time()
    run_dir = os.path.join(WORK, a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    os.makedirs(data_dir)
    sys.path.insert(0, HERE)
    warm_page_cache(cp)
    generate(a.workload, a.seed, data_dir)
    out = os.path.join(run_dir, "record.json")
    run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--data", data_dir, "--work", run_dir, "--out", out,
                 "--setup-from-us", str(int(setup_from * 1e6))], run_dir)
    with open(out) as fh:
        rec = json.load(fh)

    if a.workload == "calls_stream":
        attempted, failed, bad = check_stream(rec, data_dir, run_dir)
    else:
        attempted, failed, bad = check_batch(rec, data_dir)

    e2e = dict(rec["e2e"], setup_s=rec["setup_s"])
    health = dict(rec["cal"])
    poisoned = health["scheduler.cal_job_max_ms"] > 2 * health["scheduler.cal_job_ms"]
    print("health: " + json.dumps(dict(health, poisoned_cal=poisoned,
                                       failed_frac=failed / max(1, attempted))))
    if bad:
        print("failing operations: " + json.dumps(bad))
    if a.trace:
        layers = dict(rec["layers"], **{"memory.peak_rss_mb": rec["peak_rss_mb"]})
        base, traced = rec["e2e"], rec["e2e_traced"]
        layers["trace.overhead_pct"] = 100.0 * (traced["op_ms"] / base["op_ms"] - 1.0)
        os.makedirs(OUT, exist_ok=True)
        tpath = os.path.join(OUT, f"trace_{a.workload}_{a.seed}.json")
        spans = with_self_time(rec["spans"])
        with open(tpath, "w") as fh:
            json.dump({"workload": a.workload, "seed": a.seed, "layers": layers,
                       "shares": shares(a.workload, layers, spans), "e2e_untraced": base,
                       "e2e_traced": traced, "health": health, "spans": spans}, fh)
        print(f"trace: {tpath}")
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    log(f"wall {time.time() - started:.1f} s; JVM phases {rec['phases_s']}; "
        f"setup {rec['setup_s']:.1f} s")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
