#!/usr/bin/env python3
"""The repository's benchmark: closed-loop workloads over the engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload registry --seed 1 --seconds 20 --trace 0

The first run in a checkout compiles the engine and the harness
(`perfbench/build.sbt`) and generates the inputs (`perfbench/gen_data.py`);
later runs reuse both. The harness JVM runs the workload for --seconds
(whole passes), then this script checks every op's output and prints, as
its last line, one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. The full per-run record (every op, span and layer
breakdown) is printed on the line before it and kept under
`.perfbench/last_<workload>.json`.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
JVM_TIMEOUT_S = 165
TAIL_PCT = 90
ETL_ORDERS = 2000
SOURCES = ["build.sbt", "src/main/scala", "perfbench/src", "perfbench/build.sbt",
           "perfbench/project/build.properties"]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
WORKLOADS = ("registry", "etl_release")
# spans that are not the engine's own work: the harness's result write
# and the consumer read after each op
WRITE, READ = "write", "read"


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_digest(paths):
    h = hashlib.sha256()
    for p in paths:
        full = os.path.join(ROOT, p)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(full) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def cores():
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def run_logged(cmd, log, cwd=ROOT, env=None, timeout=None):
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def build():
    """Compiles engine + harness once per source state."""
    stamp = os.path.join(STATE, "build.stamp")
    digest = tree_digest(SOURCES)
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g" +
        (" -Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
         if os.path.exists(os.path.expanduser("~/.sbt/repositories")) else ""))
    log = os.path.join(STATE, "build.log")
    rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true",
                     "-Dsbt.server.autostart=false", "compile"],
                    log, cwd=HERE, env=env, timeout=800)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


def data():
    """Generates the inputs once per generator state."""
    out = os.path.join(STATE, "data")
    stamp = os.path.join(out, "stamp")
    digest = tree_digest(["perfbench/gen_data.py"])
    if not (os.path.exists(stamp) and open(stamp).read() == digest):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"), out],
                       check=True)
        with open(stamp, "w") as f:
            f.write(digest)
    return out


def etl_inputs(tables, work, seed):
    """The release inputs, in seed-shuffled row order: for the first
    ETL_ORDERS orders, one ref in runs/initial plus one in runs/final for
    finished orders, and one datastore record per line item. The order
    count keeps each release's symlink farm near 1,300 links, where
    create/delete churn on ext4 stays flat across runs."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    orders = pq.read_table(os.path.join(tables, "orders.parquet"))
    orders = orders.filter(pc.less(orders["o_orderkey"], ETL_ORDERS))
    lines = pq.read_table(os.path.join(tables, "lineitem.parquet"))
    lines = lines.filter(pc.less(lines["l_orderkey"], ETL_ORDERS))

    def refs(keys, prefix, run):
        return pa.table({
            "dataset_id": pc.binary_join_element_wise(prefix, pc.cast(keys, pa.string()), ""),
            "run": pa.array([run] * len(keys)),
            "collection": pa.array([run] * len(keys)),
            "order_id": keys})
    final = orders.filter(pc.equal(orders["o_orderstatus"], "F"))["o_orderkey"]
    tables = {
        "refs": pa.concat_tables([refs(final, "f-", "runs/final"),
                                  refs(orders["o_orderkey"], "i-", "runs/initial")]),
        "datastore": pa.table({
            "datastore_name": pa.array(["main"] * len(lines)),
            "priority": pa.array(np.zeros(len(lines), dtype=np.int32)),
            "dataset_id": pc.binary_join_element_wise(
                "i-", pc.cast(lines["l_orderkey"], pa.string()), ""),
            "path": pc.binary_join_element_wise(
                "data/", pc.cast(lines["l_orderkey"], pa.string()), "/",
                pc.cast(lines["l_linenumber"], pa.string()), ".parquet#frag", "")})}
    for name, t in tables.items():
        d = os.path.join(work, "etl", "input", name)
        os.makedirs(d)
        pq.write_table(t.take(rng.permutation(len(t))),
                       os.path.join(d, "part-00000.parquet"))


def heap():
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo")
                  if l.startswith("MemTotal:"))
        return f"{max(2, min(4, kb // (4 * 1024 * 1024)))}g"
    except (OSError, StopIteration):
        return "2g"


def spark_jars():
    """The Spark jar directory of the engine's own build (its
    `unmanagedBase`)."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
    if not m:
        fail("no unmanagedBase in the engine's build.sbt")
    return m.group(1)


def run_jvm(classes, workload, seed, seconds, trace, extra=()):
    work = os.path.join(STATE, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    tables = data()
    if workload == "etl_release":
        etl_inputs(tables, work, seed)
    out = os.path.join(work, "record.json")
    cp = classes + os.pathsep + os.path.join(spark_jars(), "*")
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{heap()}", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dderby.system.home={work}", "-cp", cp, "perfbench.Main",
            f"workload={workload}", f"seed={seed}", f"seconds={seconds}",
            f"trace={trace}", f"data={tables}",
            f"work={work}", f"out={out}", f"cores={cores()}", *extra])
    log = os.path.join(STATE, "jvm.log")
    rc = run_logged(cmd, log, cwd=work, timeout=JVM_TIMEOUT_S)
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"harness exited with {rc}")
    with open(out) as f:
        return json.load(f), tables


# ---- output checks ------------------------------------------------------

def local_verify():
    """The repository's DuckDB oracle comparison (`tools/local_verify.py`),
    whose value and type canonicalization the digests use. It is imported
    without writing bytecode, so the run leaves `tools/` as it found it."""
    sys.dont_write_bytecode = True
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        import local_verify
    finally:
        sys.path.pop(0)
    return local_verify


def rel_digest(rel):
    lv = local_verify()
    cols = sorted(rel.columns)
    idx = [rel.columns.index(c) for c in cols]
    types = [lv.canon_type(rel.types[i]) for i in idx]
    rows = [tuple(lv.canon(r[i]) for i in idx) for r in rel.fetchall()]
    blob = json.dumps([cols, types, [list(r) for r in rows]]).encode()
    return hashlib.sha256(blob).hexdigest(), len(rows)


def output_digest(con, path, cache):
    """Digest of a written result, reading its part files in order."""
    files = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
    raw = hashlib.sha256()
    for f in files:
        with open(f, "rb") as fh:
            raw.update(fh.read())
    key = raw.hexdigest()
    if key not in cache:
        if files:
            cache[key] = rel_digest(con.sql(f"SELECT * FROM read_parquet({files!r})"))
        else:
            cache[key] = ("empty", 0)
    return cache[key]


def check_outputs(record, workload):
    ops = record["ops"]
    if workload == "registry":
        import duckdb
        want = load_json("expected.json")[workload]
        con, cache = duckdb.connect(), {}
        for o in ops:
            if o["error"]:
                continue
            got = output_digest(con, o["attrs"]["out"], cache)[0]
            if got != want.get(o["name"], {}).get("digest"):
                o["error"] = f"output digest {got[:12]} differs from expected"
    elif workload == "etl_release":
        want = load_json("expected.json")[workload]
        for o in ops:
            if o["error"]:
                continue
            a = o["attrs"]
            got = {k: a[k] for k in ("refs", "final_winners", "links", "imported")}
            got["report"] = a["report"]
            diff = [k for k in want if want[k] != got.get(k)]
            if diff:
                o["error"] = f"release differs from expected in {diff}"
    for o in ops:
        if o["error"]:
            print(f"perfbench: op {o['name']} (pass {o['pass']}) failed: "
                  f"{o['error']}", file=sys.stderr)
    return ops


# ---- metrics ------------------------------------------------------------

def pct(xs, p):
    s = sorted(xs)
    if not s:
        return float("nan")
    k = (len(s) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def span_sum(o, names=None, exclude=()):
    return sum(s for n, s in o["spans"]
               if (names is None or n in names) and n not in exclude)


def end_to_end(record):
    ops = [o for o in record["ops"] if not o["error"]]
    lat = [span_sum(o, exclude=(READ,)) for o in ops]
    setups = sorted(s["total_s"] for s in record["setups"])
    wall = record["measure_wall_s"]
    return {
        "setup_s": (record["jvm_boot_s"] + statistics.median(setups), "s"),
        # every op weighs the same, whatever its size: registry's ops
        # span 0.3-4 s, so a median would be one query's single sample
        "op_geomean_s": (statistics.geometric_mean(lat), "s"),
        "op_tail_s": (pct(lat, TAIL_PCT), "s"),
        "rows_per_s": (sum(o["rows"] for o in ops) / wall, "rows/s"),
        "heap_live_mb": (record["heap_live_mb"], "MB"),
    }


def per_layer(record):
    ops = record["ops"]
    traced = [o for o in ops if o["traced"] and not o["error"]]
    if not traced:
        fail("the traced run completed no traced op")
    L = [o["layers"] for o in traced]

    def mean(f):
        return statistics.fmean(f(x) for x in L)

    worst = max(abs(l["closure"] - 1.0) for l in L)
    if worst > 0.10:
        bad = max(traced, key=lambda o: abs(o["layers"]["closure"] - 1.0))
        fail(f"layer closure off by {worst:.1%} on op {bad['name']} "
             f"(pass {bad['pass']}): {json.dumps(bad['layers'])}")
    if any(l["open_jobs"] for l in L):
        fail("a traced span ended with Spark jobs still open")
    if any(l["foreign_jobs"] for l in L):
        fail("a traced span saw Spark jobs outside its job group")
    # tracing overhead: the listener drains that close every traced span
    # are the only tracing work on the client thread
    spans = sum(span_sum(o) for o in traced)
    overhead = (spans + sum(o["drain_s"] for o in traced)) / spans
    setups = record["setups"]
    wall = mean(lambda l: l["wall_s"])
    run = mean(lambda l: l["run_s"])
    out_rows = sum(l["output_rows"] for l in L)
    med = statistics.median
    return {
        "sessions.start_s": (med(s["session_start_s"] for s in setups), "s"),
        "sessions.prepare_s": (med(s["prepare_s"] for s in setups), "s"),
        "sessions.first_job_s": (med(s["first_job_s"] for s in setups), "s"),
        "sessions.warmup_s": (record["warmup_s"], "s"),
        "memory.peak_rss_mb": (record["peak_rss_mb"], "MB"),
        "engine.call_s": (statistics.fmean(
            span_sum(o, exclude=(WRITE, READ)) for o in traced), "s"),
        "engine.call_jobs": (mean(lambda l: sum(
            n for s, n in l["span_jobs"].items() if s not in (WRITE, READ))), "count"),
        "read.s": (statistics.fmean(span_sum(o, names=(READ,)) for o in traced), "s"),
        "catalyst.analysis_s": (mean(lambda l: l["analysis_s"]), "s"),
        "catalyst.optimization_s": (mean(lambda l: l["optimization_s"]), "s"),
        "catalyst.planning_s": (mean(lambda l: l["planning_s"]), "s"),
        "codegen.compiles": (statistics.fmean(o["compiles"] for o in traced), "count"),
        "codegen.compile_s": (statistics.fmean(o["compile_s"] for o in traced), "s"),
        "scheduler.jobs": (mean(lambda l: l["jobs"]), "count"),
        "scheduler.stages": (mean(lambda l: l["stages"]), "count"),
        "scheduler.tasks": (mean(lambda l: l["tasks"]), "count"),
        "scheduler.delay_s": (mean(lambda l: l["scheduler_delay_s"]), "s"),
        "driver.gap_s": (mean(lambda l: l["gap_s"]), "s"),
        "driver.share": (mean(lambda l: (l["gap_s"] + l["catalyst_s"]) /
                                       max(l["wall_s"], 1e-9)), "ratio"),
        "executor.run_s": (run, "s"),
        "executor.cpu_s": (mean(lambda l: l["cpu_s"]), "s"),
        "executor.gc_s": (mean(lambda l: l["gc_s"]), "s"),
        "executor.core_util": (run / (wall * record["env"]["cores"]), "ratio"),
        "shuffle.write_bytes": (mean(lambda l: l["shuffle_write_bytes"]), "bytes"),
        "shuffle.read_bytes": (mean(lambda l: l["shuffle_read_bytes"]), "bytes"),
        "shuffle.spill_bytes": (mean(lambda l: l["spill_bytes"]), "bytes"),
        "shuffle.skew": (med(l["skew"] for l in L), "ratio"),
        "scan.bytes": (mean(lambda l: l["scan_bytes"]), "bytes"),
        "scan.rows": (mean(lambda l: l["scan_rows"]), "rows"),
        "scan.rows_per_row_out": (sum(l["scan_rows"] for l in L) / max(1, out_rows), "ratio"),
        "output.bytes": (mean(lambda l: l["output_bytes"]), "bytes"),
        "output.rows": (mean(lambda l: l["output_rows"]), "rows"),
        "host.load_other": (record["host"]["load_other"], "ratio"),
        "host.steal_frac": (record["host"]["steal_frac"], "ratio"),
        "trace.overhead": (overhead, "ratio"),
        "trace.closure_err": (worst, "ratio"),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout: engine sources not found")
    os.makedirs(STATE, exist_ok=True)
    classes = build()
    record, _ = run_jvm(classes, args.workload, args.seed, args.seconds,
                        args.trace)
    ops = check_outputs(record, args.workload)
    failed = sum(1 for o in ops if o["error"])
    metrics = per_layer(record) if args.trace else end_to_end(record)
    with open(os.path.join(STATE, f"last_{args.workload}.json"), "w") as f:
        json.dump(record, f)
    detail = {k: record[k] for k in ("env", "setups", "warmup_s", "passes",
                                     "measure_wall_s", "host", "info")}
    detail["source_digest"] = tree_digest(SOURCES)
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
