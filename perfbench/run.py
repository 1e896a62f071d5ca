#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source on first use (sbt, into
perfbench/target), makes the inputs and the DuckDB reference answers once
per engine version (perfbench/.cache), then starts one JVM that runs the
workload (lanes_sf0.1: passes until --seconds have passed; ingest_waves:
its fixed waves), checks every output, and prints one JSON line: the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1), with
the operation counts and whether every output was right.
A traced run also writes its spans to perfbench/out/. See README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time


def _process_start() -> float:
    """Epoch seconds at which this process started."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as f:
            btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration):
        return time.time()


START = _process_start()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import duckdb            # noqa: E402
import numpy as np       # noqa: E402
import pyarrow as pa     # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import answers           # noqa: E402
import checks            # noqa: E402
import gen               # noqa: E402

CACHE = os.path.join(HERE, ".cache")
RUNS = os.path.join(HERE, ".runs")
OUT = os.path.join(HERE, "out")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
SPARK_JARS = "/opt/spark/jars/*"
CORES = len(os.sched_getaffinity(0))
HEAP = "4g"
DATA_SEED = 42          # the input tables; --seed varies order and upserts
# A run must end within 180 s of its start; one that builds or makes the
# inputs may take 900 s.
DEADLINE = [START + 170]


def extend_deadline() -> None:
    DEADLINE[0] = START + 880

# Both workloads read the 10x replica of the generated sf0.01 tables, which
# has the row counts of sf0.1.
WORKLOADS = {"lanes_sf0.1": "lanes", "ingest_waves": "ingest"}
# ingest_waves: documents arrive in WAVES id-range waves (the first is the
# initial load, in set-up); each wave also upserts UPDATES existing and
# INSERTS new orders of two priorities
WAVES, COMPACT_EVERY, UPDATES, INSERTS = 3, 2, 1500, 500

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("op_geomean_s", "s"),
              ("cpu_s", "s"), ("peak_rss_mb", "MB"),
              ("ingest_rows_per_s", "rows/s"),
              ("stored_bytes_per_input_byte", "ratio")]
PER_LAYER = [
    ("tables.load_s", "s"), ("tables.load_jobs", "count"),
    ("queries.build_s", "s"), ("queries.build_jobs", "count"),
    ("plans.analyze_s", "s"), ("plans.optimize_s", "s"), ("plans.plan_s", "s"),
    ("functions.codegen_compile_s", "s"), ("functions.codegen_classes", "count"),
    ("exec.collect_s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.executor_cpu_s", "s"),
    ("exec.executor_run_s", "s"), ("exec.gc_s", "s"), ("exec.deserialize_s", "s"),
    ("exec.core_busy_ratio", "ratio"), ("exec.shuffle_write_bytes", "bytes"),
    ("exec.shuffle_read_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
    ("exec.input_bytes", "bytes"), ("exec.peak_task_memory_bytes", "bytes"),
    ("exec.failed_tasks", "count"),
    ("streaming.drive_s", "s"), ("streaming.add_batch_s", "s"),
    ("streaming.source_s", "s"), ("streaming.plan_s", "s"),
    ("streaming.commit_s", "s"), ("streaming.restart_s", "s"),
    ("streaming.compact_s", "s"), ("streaming.store_rows", "count"),
    ("streaming.ckpt_files", "count"),
    ("sources.merge_s", "s"), ("sources.partitions_rewritten", "count"),
    ("sources.bytes_written", "bytes"), ("sources.read_after_write_s", "s"),
    ("jvm.gc_s", "s"), ("jvm.heap_peak_mb", "MB"), ("trace.wall_s", "s")]

JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

ENGINE_SRC = [os.path.join(ROOT, "src", "main")]
HARNESS_SRC = [os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project", "build.properties")]


def source_stamp(roots) -> str:
    """Hash of every file under `roots`."""
    h = hashlib.sha256()
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build() -> None:
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("engine sources (src/main/scala) not found next to perfbench/")
    stamp = source_stamp(ENGINE_SRC + HARNESS_SRC)
    mark = os.path.join(HERE, "target", "perfbench.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(mark) and open(mark).read() == stamp:
        return
    log("building engine + harness (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")))
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=800)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    with open(mark, "w") as f:
        f.write(stamp)
    extend_deadline()


def harness(args, work: str, logfile: str, timeout: float) -> None:
    """Run the JVM harness with `args`; fail with its log tail."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # a fixed, pre-touched heap: peak RSS is then the heap plus what the
    # engine holds outside it, not an accident of when the heap grew
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={work}/tmp"] + JAVA_OPTS +
           ["-cp", f"{CLASSES}:{SPARK_JARS}", "graft.perfbench.Harness"] + args)
    with open(logfile, "w") as lf:
        try:
            p = subprocess.run(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                               timeout=timeout)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"harness timed out after {timeout:.0f} s (log: {logfile})")
    if p.returncode != 0:
        with open(logfile) as lf:
            tail = [l for l in lf if "ERROR" in l or "Exception" in l][-20:]
        sys.stderr.write("".join(tail))
        raise SystemExit(f"harness exited {p.returncode} (log: {logfile})")


# ----------------------------------------------------------------- inputs

def prepare(force: bool = False) -> dict:
    """Build, then make (once per engine version) the base tables, their
    10x replica and the DuckDB answers. Returns {scale: dir, ...}."""
    build()
    inputs = os.path.join(CACHE, "inputs")
    key = hashlib.sha256("|".join([
        source_stamp(ENGINE_SRC), str(gen.VERSION), str(DATA_SEED),
        hashlib.sha256(open(os.path.join(HERE, "answers.py"), "rb").read()).hexdigest(),
    ]).encode()).hexdigest()
    dirs = {"base": os.path.join(inputs, "base"), "x10": os.path.join(inputs, "x10"),
            "answers": os.path.join(inputs, "answers"),
            "oracle": os.path.join(inputs, "oracle", "oracle_sql.json")}
    keyfile = os.path.join(inputs, "KEY")
    if not force and os.path.exists(keyfile) and open(keyfile).read() == key:
        return dirs
    log("making inputs and reference answers")
    extend_deadline()
    tmp = inputs + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    work = os.path.join(tmp, "work")
    os.makedirs(work)
    gen.write(os.path.join(tmp, "base"), DATA_SEED)
    harness(["replica", os.path.join(tmp, "base"), os.path.join(tmp, "x10"), work, str(CORES)],
            work, os.path.join(tmp, "replica.log"), 600)
    harness(["oracle", os.path.join(tmp, "oracle")], work,
            os.path.join(tmp, "oracle.log"), 300)
    answers.make(os.path.join(tmp, "base"), os.path.join(tmp, "x10"),
                 os.path.join(tmp, "oracle", "oracle_sql.json"),
                 os.path.join(tmp, "answers"))
    shutil.rmtree(work)
    with open(os.path.join(tmp, "KEY"), "w") as f:
        f.write(key)
    shutil.rmtree(inputs, ignore_errors=True)
    os.rename(tmp, inputs)
    return dirs


ORDERS_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())])


def ingest_inputs(work: str, data: str, seed: int):
    """Wave files of the documents (by id range) and, per wave, a seeded
    upsert of orders. Returns (doc ids per wave, upsert file per wave)."""
    con = duckdb.connect()
    docs = con.execute(f"SELECT doc_id, text FROM read_parquet('{data}/documents.parquet/*.parquet') "
                       "ORDER BY doc_id").arrow()
    orders = con.execute(f"SELECT o_orderkey, o_custkey, o_orderpriority FROM "
                         f"read_parquet('{data}/orders.parquet/*.parquet') ORDER BY o_orderkey").fetchnumpy()
    ncust = con.execute(f"SELECT count(*) FROM read_parquet('{data}/customer.parquet/*.parquet')").fetchone()[0]
    con.close()
    stage, ups = os.path.join(work, "stage"), os.path.join(work, "upserts")
    os.makedirs(stage)
    os.makedirs(ups)
    per = math.ceil(docs.num_rows / WAVES)
    rng = np.random.default_rng(seed)
    next_key = int(orders["o_orderkey"].max()) + 1
    prio = orders["o_orderpriority"].astype(str)
    waves, files = [], []
    day = 86_400_000_000
    d0 = int(np.datetime64("1995-01-01", "us").astype(np.int64))
    for i in range(WAVES):
        name = f"wave_{i + 1:02d}.parquet"
        part = docs.slice(i * per, per)
        pq.write_table(part, os.path.join(stage, name))
        waves.append(part.column("doc_id").to_pylist())
        two = rng.choice(gen.PRIORITIES, 2, replace=False)
        cand = np.flatnonzero(np.isin(prio, two))
        upd = np.sort(rng.choice(cand, UPDATES, replace=False))
        n = UPDATES + INSERTS
        keys = np.concatenate([orders["o_orderkey"][upd],
                               np.arange(next_key, next_key + INSERTS)])
        next_key += INSERTS
        t = pa.table({
            "o_orderkey": keys,
            "o_custkey": np.concatenate([orders["o_custkey"][upd],
                                         rng.integers(0, ncust, INSERTS)]),
            "o_orderstatus": rng.choice(["F", "O", "P"], n),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
            "o_orderdate": pa.array(d0 + rng.integers(0, 2405, n) * day, pa.timestamp("us")),
            "o_orderpriority": np.concatenate([prio[upd], rng.choice(two, INSERTS)]),
        }, schema=ORDERS_SCHEMA)
        path = os.path.join(ups, name)
        pq.write_table(t, path)
        files.append(path)
    return waves, files


# ----------------------------------------------------------------- checks

def read_parquet(path: str):
    src = f"{path}/*.parquet" if os.path.isdir(path) else path
    return duckdb.sql(f"SELECT * FROM read_parquet('{src}')").df()


def check_lanes(res: dict, out: str, answer_dir: str, lanes) -> list:
    bad = [f"{l}: a later execution returned other rows than the first"
           for l in res["notes"].get("repeat_mismatch", [])]
    failed = {e.split(":")[0] for e in res["errors"]}
    for lane in (l for l in lanes if l not in failed):
        got = os.path.join(out, "lanes", lane)
        if not os.path.isdir(got):
            bad.append(f"{lane}: no output")
            continue
        why = checks.compare(read_parquet(got),
                             read_parquet(os.path.join(answer_dir, f"{lane}.parquet")))
        if why:
            bad.append(f"{lane}: {why}")
    return bad


def check_ingest(res: dict, out: str, data: str, waves, upsert_files, oracle_sql: str) -> list:
    bad = []
    bands = read_parquet(os.path.join(out, "bands"))
    keys_of = {}
    for d, b, s in zip(bands["doc_id"], bands["band"], bands["sig"]):
        keys_of.setdefault(int(d), set()).add((int(b), int(s)))
    why = checks.check_decisions(read_parquet(os.path.join(out, "decisions")), waves, keys_of)
    if why:
        bad.append(f"decisions: {why}")
    _, sizes = checks.replay_admission(waves, keys_of)
    if res["notes"]["store_rows"] != sizes[-1]:
        bad.append(f"store rows {res['notes']['store_rows']} != replay's {sizes[-1]} admitted band keys")
    con = answers.connect(data)
    con.execute("DROP VIEW orders")
    base = f"SELECT * FROM read_parquet('{data}/orders.parquet/*.parquet')"

    def after_wave(i):
        got = os.path.join(out, "reads", f"wave_{i + 1:02d}")
        why = checks.compare(read_parquet(got), con.execute(oracle_sql).df())
        if why:
            bad.append(f"read after wave {i + 1}: {why}")

    checks.upsert_reference(con, base, upsert_files, after_wave)
    merged = duckdb.sql(
        f"SELECT {', '.join(checks.ORDERS_COLS)} FROM read_parquet("
        f"'{res['notes']['merged_orders']}/*/*.parquet', hive_partitioning = true)").df()
    why = checks.compare(merged, con.execute("SELECT * FROM orders").df())
    if why:
        bad.append(f"merged orders: {why}")
    con.close()
    return bad


# ------------------------------------------------------------------- run

def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    kind = WORKLOADS[workload]
    dirs = prepare()
    rdir = os.path.join(RUNS, f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}")
    shutil.rmtree(rdir, ignore_errors=True)
    os.makedirs(os.path.join(rdir, "work"))
    os.makedirs(os.path.join(rdir, "out"))
    try:
        return run_in(rdir, kind, dirs, seed, seconds, trace, workload)
    finally:
        shutil.rmtree(rdir, ignore_errors=True)


def run_in(rdir, kind, dirs, seed, seconds, trace, workload) -> dict:
    data, work, out = dirs["x10"], os.path.join(rdir, "work"), os.path.join(rdir, "out")
    conf = {"workload": kind, "data": data, "work": work, "out": out,
            "seed": seed, "seconds": seconds, "trace": int(trace), "cores": CORES,
            "lanes": ",".join(answers.LANES), "compact_every": COMPACT_EVERY}
    if kind == "ingest":
        waves, upsert_files = ingest_inputs(work, data, seed)
    harness(["run"] + [f"{k}={v}" for k, v in conf.items()], work,
            os.path.join(rdir, "harness.log"), DEADLINE[0] - time.time())
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)

    if kind == "lanes":
        bad = check_lanes(res, out, dirs["answers"], answers.LANES)
        # the input tables' rows, read once per pass
        rows = sum(pq.ParquetDataset(os.path.join(data, f"{t}.parquet")).read(columns=[]).num_rows
                   for t in answers.TABLES)
    else:
        oracle = json.load(open(dirs["oracle"]))
        bad = check_ingest(res, out, data, waves, upsert_files, oracle["q3_shipping_priority"])
        # documents decided plus upsert rows applied in the timed waves
        rows = sum(len(w) for w in waves[1:]) + (UPDATES + INSERTS) * (WAVES - 1)
    for e in res["errors"]:
        log(f"FAILED {e}")
    layers = res["layers"]
    if trace:
        if layers["check.task_cpu_s"] > res["process_cpu_s_total"]:
            bad.append(f"task CPU {layers['check.task_cpu_s']:.3f} s exceeds "
                       f"process CPU {res['process_cpu_s_total']:.3f} s")
        os.makedirs(OUT, exist_ok=True)
        spans = os.path.join(OUT, f"spans-{workload}-s{seed}.jsonl")
        shutil.copyfile(os.path.join(out, "spans.jsonl"), spans)
        log(f"spans: {spans}")
    for b in bad:
        log(f"WRONG {b}")

    wall = res["wall_s"]
    notes = res["notes"]
    marks = sorted([(k[6:], v) for k, v in notes.items() if k.startswith("setup.")] +
                   [("timed", res["timed_start_epoch_ms"])], key=lambda m: m[1])
    log("set-up: " + ", ".join(f"{b} +{(t - t0) / 1000:.2f}s" for (_, t0), (b, t) in
                               zip([("", START * 1000)] + marks, marks)))
    log(f"wall_s {res['wall_s']:.2f} over {res['rounds']} round(s); op medians " +
        " ".join(f"{k}={checks.median(v):.2f}" for k, v in res["latencies"].items()))
    medians = [checks.median(v) for v in res["latencies"].values()]
    e2e = {
        "setup_s": res["timed_start_epoch_ms"] / 1000.0 - START,
        "wall_s": wall,
        "op_geomean_s": checks.geomean(medians) if medians else float("nan"),
        "cpu_s": res["cpu_s"],
        "peak_rss_mb": res["peak_rss_mb"],
        "ingest_rows_per_s": rows / wall,
        "stored_bytes_per_input_byte": notes["stored_bytes"] / notes["input_bytes"],
    }
    if trace:
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    return {"correct": not bad, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    print(json.dumps(run(a.workload, a.seed, a.seconds, bool(a.trace))))


if __name__ == "__main__":
    main()
