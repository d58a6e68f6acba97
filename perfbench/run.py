#!/usr/bin/env python3
"""End-to-end benchmark of the engine: the reference climate ETL and a mix
of registry queries, timed on written outputs.

    python3 perfbench/run.py --workload climate_etl --seed 1 --seconds 25 --trace 0

Run from the repository root. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt) into `.bench_build/`
(or `$CARGO_TARGET_DIR`); later runs reuse the build while the sources are
unchanged. Inputs are generated from the seed (gen.py) and cached per
seed. Every output is checked against the DuckDB oracle after the timed
JVM has exited. The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics for --trace 0 and the per-layer metrics for
--trace 1. See perfbench/README.md for the metric definitions.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import workloads  # noqa: E402

JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
HEAP = "3g"
SETUP_LAUNCHES = 1  # extra session-only JVMs; the timed JVM is one more sample
SETUP_LIMIT_S = 30  # per JVM; a run stays inside the 180 s a run may take
RUN_LIMIT_S = 140
STEADY_FROM = 4  # pass 0 is cold, passes 1 to 3 still warm up the JIT
MIN_STEADY = 4  # steady passes a run makes even when --seconds ran out


class BenchError(Exception):
    pass


# ---------------------------------------------------------------- build

def _fingerprint(root):
    """Hash of every file the build reads from the checkout."""
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        files += [os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs]
    h = hashlib.sha256()
    for p in sorted(files):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, work):
    """Compile engine + harness; return the runtime classpath."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise BenchError("engine sources (src/main/scala) not found; "
                         "run from the repository root")
    fp = _fingerprint(root)
    stamp = os.path.join(work, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved = json.load(f)
        if saved.get("fingerprint") == fp:
            return saved["classpath"]
    log = os.path.join(work, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=dict(os.environ, COURSIER_MODE="offline"),
            stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if r.returncode != 0 or not lines:
        raise BenchError(f"sbt build failed (see {log})")
    cp = lines[-1]
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp


# ---------------------------------------------------------------- inputs

def inputs(work, name, seed):
    """Generate (once per workload and seed) and return (dir, row counts)."""
    spec = workloads.WORKLOADS[name]
    size = f"{spec['lineitem']}x{spec['lineitem_files']}" if "lineitem" in spec else "all"
    d = os.path.join(work, "inputs", f"{spec['inputs']}-{spec['scale']}-{size}-s{seed}")
    meta = d + ".json"
    if not os.path.exists(meta):
        if os.path.exists(d):
            shutil.rmtree(d)
        shutil.rmtree(d + ".tmp", ignore_errors=True)
        rows = gen.generate(d, seed, spec["scale"], spec.get("lineitem"),
                            spec.get("tables", gen.ALL_TABLES),
                            spec.get("lineitem_files", 1))
        with open(meta, "w") as f:
            json.dump(rows, f)
    with open(meta) as f:
        return d, json.load(f)


# ---------------------------------------------------------------- host drift

def calib():
    """Seconds for a fixed single-threaded CPU kernel (host drift probe)."""
    t = time.perf_counter()
    h = b"perfbench"
    for _ in range(200_000):
        h = hashlib.sha256(h).digest()
    x = 0
    for i in range(300_000):
        x = (x * 31 + i) % 1_000_003
    return time.perf_counter() - t


def cpu_ticks():
    """(steal, total) CPU ticks of the machine so far, from /proc/stat, or
    None where it is not readable. Steal is the time a virtual machine's
    CPUs were ready to run but the hypervisor ran something else."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (t[7] if len(t) > 7 else 0), sum(t[:8])


# ---------------------------------------------------------------- JVM

def java_cmd(cp, work):
    log4j = os.path.join(HERE, "log4j2.properties")
    return (["java"] +
            [a for p in JVM_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
            [f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=2g",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Dlog4j2.configurationFile={log4j}",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-cp", cp, "graft.perfbench.Main"])


def _env(work):
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    return env


def launch(cmd, work, log, limit_s):
    """Start a harness JVM in its scratch cwd; return (proc, ready_s): the
    time from launch to the session being ready, or raise. The JVM is
    killed if it is still running after `limit_s` seconds."""
    cwd = os.path.join(work, "jvm")
    os.makedirs(cwd, exist_ok=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    t0 = time.perf_counter()
    p = subprocess.Popen(cmd, cwd=cwd, env=_env(work), stdout=subprocess.PIPE,
                         stderr=log, stdin=subprocess.DEVNULL, text=True)
    watchdog = threading.Timer(limit_s, p.kill)
    watchdog.daemon = True
    watchdog.start()
    p.watchdog = watchdog
    for line in p.stdout:
        if line.strip() == "READY":
            return p, time.perf_counter() - t0
    stop(p)
    raise BenchError(f"JVM exited before its session was ready (see {log.name})")


def stop(p):
    """Wait for a launched JVM to end (its watchdog bounds the wait)."""
    p.wait()
    p.watchdog.cancel()
    if p.returncode != 0:
        raise BenchError(f"JVM exited with {p.returncode}")


# ---------------------------------------------------------------- oracle

def digest(rel):
    """Fingerprint of a DuckDB relation: sorted column names, their types,
    row count, and hashes of the rows as a bag (`digest`) and in their order
    (`ordered`). Values are normalised as scripts/check.py does (-0.0 is
    0.0, every NaN is one NaN); two relations get the same hashes exactly
    when check.py's row-by-row comparison of them would pass, up to hash
    collisions."""
    cols = sorted(rel.columns)
    types = dict(zip(rel.columns, map(str, rel.types)))

    def val(c):
        q = '"' + c.replace('"', '""') + '"'
        if types[c] in ("DOUBLE", "FLOAT"):
            return f"CASE WHEN isnan({q}) THEN 'NaN'::DOUBLE WHEN {q} = 0 THEN 0.0 ELSE {q} END"
        return q

    row = "hash(" + ", ".join(val(c) for c in cols) + ")"
    n, bag, ordered = rel.query("t", f"""
        SELECT count(*), sum(h)::VARCHAR, sum(h * i)::VARCHAR FROM (
          SELECT {row}::HUGEINT AS h, row_number() OVER ()::HUGEINT AS i FROM t)
    """).fetchone()
    return {"cols": cols, "types": [types[c] for c in cols], "rows": n,
            "digest": bag, "ordered": ordered}


def _con(data_dir=None):
    """DuckDB connection, with views over the generated input tables."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in gen.ALL_TABLES if data_dir else []:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def oracle_digests(data_dir, oracle):
    """Digest of each oracle query over the generated input, cached per
    input directory and SQL text."""
    cache_p = data_dir + ".oracle.json"
    cache = {}
    if os.path.exists(cache_p):
        with open(cache_p) as f:
            cache = json.load(f)
    con = None
    out = {}
    for name, sql in oracle.items():
        if sql is None:
            continue
        key = hashlib.sha256(f"{name}\n{sql}".encode()).hexdigest()
        if key not in cache:
            con = con or _con(data_dir)
            cache[key] = digest(con.sql(sql))
        out[name] = cache[key]
    with open(cache_p, "w") as f:
        json.dump(cache, f)
    return out


def _has_bom(path):
    with open(path, "rb") as f:
        return f.read(3) == b"\xef\xbb\xbf"


def read_output(con, out, kind, oracle_d):
    """DuckDB relation over one written output. CSV outputs are read with
    the oracle's column types (CSV carries none); every CSV part file must
    start with the UTF-8 BOM."""
    if kind == "parquet":
        return con.sql(f"SELECT * FROM read_parquet('{out}/*.parquet')")
    parts = [os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs
             if f.endswith(".csv")]
    if not parts:
        raise BenchError("no CSV part files")
    if not all(_has_bom(p) for p in parts):
        raise BenchError("CSV part file without UTF-8 BOM")
    types = dict(zip(oracle_d["cols"], oracle_d["types"]))
    with open(parts[0], encoding="utf-8-sig") as f:
        header = f.readline().rstrip("\r\n").split(",")
    cols = ", ".join(f"'{c}': '{types[c]}'" for c in header)
    if kind == "csv":
        return con.sql(f"SELECT * FROM read_csv('{out}/*.csv', header=true, "
                       f"auto_detect=false, columns={{{cols}}})")
    # "csv_by:<col>": partitioned CSV, <col> comes from the directory names
    part = kind.split(":", 1)[1]
    return con.sql(
        f"SELECT * REPLACE (CAST({part} AS {types[part]}) AS {part}) "
        f"FROM read_csv('{out}/*/*.csv', header=true, auto_detect=false, "
        f"hive_partitioning=true, hive_types={{'{part}': 'VARCHAR'}}, "
        f"columns={{{cols}}})")


def check_outputs(op_records, oracle_d, spec):
    """Compare every successfully written output with its oracle digest;
    outputs without an oracle must be non-empty and identical across
    passes. Returns {(pass, op): failure reason} for the ones that fail."""
    con = _con()
    bad = {}
    seen = {}
    for r in op_records:
        if not r["ok"]:
            continue
        name = r["op"]
        oname = spec["oracle_of"].get(name, name)
        kind = spec["sink"].get(name, "parquet")
        want = oracle_d.get(oname)
        try:
            got = digest(read_output(con, r["out"], kind, want))
        except Exception as e:  # unreadable output is a failed op
            bad[(r["pass"], name)] = f"unreadable output: {type(e).__name__}"
            continue
        if want is not None:
            keys = ["cols", "types", "rows", "digest"]
            if name in spec["ordered"]:
                keys.append("ordered")
            why = [k for k in keys if got[k] != want[k]]
            if why:
                bad[(r["pass"], name)] = f"oracle mismatch ({why[0]})"
        elif got["rows"] == 0:
            bad[(r["pass"], name)] = "empty output"
        elif seen.setdefault(name, got["digest"]) != got["digest"]:
            bad[(r["pass"], name)] = "output differs from the first pass"
    return bad


# ---------------------------------------------------------------- summary

def percentile(xs, q):
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(xs)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def summarize(records, bad, setup_s, input_rows, trace, calib_s):
    """Turn harness records into (result, report).

    Failed ops (thrown in the JVM, or output rejected by `bad`) are counted
    in `failed` and named in the report with their cause; they are kept out
    of every latency and sum statistic, and a pass with a failure is left
    out of the pass statistics while a clean one exists.
    """
    ops = [r for r in records if r["kind"] == "op"]
    passes = {r["pass"]: r for r in records if r["kind"] == "pass"}
    jvm = next(r for r in records if r["kind"] == "jvm")
    failures = {}
    for r in ops:
        why = r["exc"] if not r["ok"] else bad.get((r["pass"], r["op"]))
        if why:
            r["ok"] = False
            failures.setdefault(r["op"], why)
    failed = sum(1 for r in ops if not r["ok"])
    dirty = {r["pass"] for r in ops if not r["ok"]}
    steady = [p for p in passes if p >= STEADY_FROM and not passes[p]["traced"]]
    clean_steady = [p for p in steady if p not in dirty] or steady
    steady_s = statistics.median(passes[p]["wall_s"] for p in clean_steady)
    lat = [r["wall_s"] for r in ops if r["ok"] and r["pass"] in steady]
    report = {"failed_ops": failed / max(1, len(ops)), "failures": failures,
              "op_samples": len(lat), "steady_passes": len(steady),
              "host.calib_s": calib_s, "input_rows": input_rows}
    if not trace:
        metrics = {
            "setup_s": (statistics.median(setup_s), "s"),
            "first_run_s": (passes[0]["wall_s"], "s"),
            "steady_run_s": (steady_s, "s"),
            "op_p50_s": (percentile(lat, 50), "s") if lat else None,
            "op_p90_s": (percentile(lat, 90), "s") if lat else None,
            "input_mrows_per_s": (input_rows / steady_s / 1e6, "Mrows/s"),
        }
    else:
        traced = [p for p in passes if p >= STEADY_FROM and passes[p]["traced"]]
        clean_traced = [p for p in traced if p not in dirty] or traced
        metrics = {}
        for k in LAYER_UNITS:
            if k.startswith(("codegen.", "jvm.")):
                v = passes[0]["layers"].get(k)  # first-run costs
            else:
                vals = [passes[p]["layers"].get(k, 0.0) for p in clean_traced]
                v = statistics.median(vals) if vals else None
            metrics[k] = (v, LAYER_UNITS[k]) if v is not None else None
        metrics["session.build_s"] = (jvm["session_build_s"], "s")
        metrics["jvm.peak_rss_mb"] = (jvm["peak_rss_mb"], "MB")
        metrics["host.calib_s"] = (calib_s, "s")
        metrics["trace.overhead_ratio"] = (
            statistics.median(passes[p]["wall_s"] for p in clean_traced) / steady_s,
            "ratio")
    missing = [k for k, v in metrics.items() if v is None]
    result = {
        "correct": failed == 0 and not missing,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v[0], "unit": v[1]}
                    for k, v in metrics.items() if v is not None},
    }
    return result, report


LAYER_UNITS = {
    "construct.s": "s", "construct.jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s", "exec.core_util": "ratio",
    "exec.driver_gap_s": "s", "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
    "exec.input_mb": "MB", "exec.input_rows": "count",
    "exec.failed_tasks": "count",
    "sink.commit_s": "s", "sink.files": "count", "sink.output_mb": "MB",
    "sink.output_rows": "count", "sink.bom_stamp_s": "s",
    "pin.live": "count", "pin.cached_mb": "MB", "pin.release_s": "s",
    "codegen.compiles": "count", "codegen.compile_s": "s",
    "jvm.jit_s": "s", "jvm.gc_s": "s", "jvm.gc_count": "count",
}


# ---------------------------------------------------------------- main

def run(root, args):
    work = os.path.abspath(os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build"))
    os.makedirs(work, exist_ok=True)
    spec = workloads.WORKLOADS[args.workload]
    cp = build(root, work)
    data_dir, rows = inputs(work, args.workload, args.seed)
    input_rows = sum(rows[t] for t in spec["input_tables"])
    ops = workloads.op_order(args.workload, args.seed)

    run_dir = os.path.join(work, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out_dir = os.path.join(run_dir, "out")
    records_p = os.path.join(run_dir, "records.jsonl")
    cmd = java_cmd(cp, work)

    calib0 = calib()
    ticks0 = cpu_ticks()
    setup_s = []
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        for _ in range(SETUP_LAUNCHES):
            p, ready = launch(cmd + ["setup"], work, log, SETUP_LIMIT_S)
            stop(p)
            setup_s.append(ready)
        p, ready = launch(cmd + ["run", args.workload, data_dir, out_dir,
                                 str(args.seconds), str(args.trace), records_p,
                                 ",".join(ops), str(STEADY_FROM), str(MIN_STEADY)],
                          work, log, RUN_LIMIT_S)
        setup_s.append(ready)
        p.stdout.close()
        stop(p)
    ticks1 = cpu_ticks()
    calib1 = calib()

    with open(records_p) as f:
        records = [json.loads(l) for l in f if l.strip()]
    head = next(r for r in records if r["kind"] == "ops")
    oracle_d = oracle_digests(data_dir, head["oracle"])
    bad = check_outputs([r for r in records if r["kind"] == "op"], oracle_d, spec)
    result, report = summarize(records, bad, setup_s, input_rows, args.trace,
                               (calib0 + calib1) / 2)
    report.update({"workload": args.workload, "seed": args.seed,
                   "trace": args.trace, "setup_samples_s": setup_s,
                   "host.calib_s_start": calib0, "host.calib_s_end": calib1,
                   "host.steal_ratio": (
                       (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
                       if ticks0 and ticks1 else None),
                   "input_rows_by_table": rows, "ops": head["ops"]})
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump({"result": result, "report": report}, f, indent=1)
    shutil.rmtree(out_dir, ignore_errors=True)
    return result, report


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        result, report = run(os.getcwd(), args)
    except (BenchError, subprocess.SubprocessError, OSError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    print("report " + json.dumps(report, sort_keys=True))
    for k, m in sorted(result["metrics"].items()):
        print(f"  {k:28s} {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
