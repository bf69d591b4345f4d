#!/usr/bin/env python3
"""Run one benchmark workload against the graft engine in this checkout.

    python3 perfbench/run.py --workload cdc_small --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It builds the engine and the
harness with sbt on first use (the classpath is cached under
.perfbench_work/build, keyed by a hash of the sources), generates the
workload's inputs from the seed, runs the workload in one JVM
(local[4]), checks every output, and prints every metric by name with
its unit. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer ones. Artifacts (result, spans, plan fingerprints) are kept in
.perfbench_work/results. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

WORKLOADS = ("cdc_small", "cdc_bulk_mor", "cdc_stream", "analytics")
ANALYTICS_SF = 0.01    # per-gate fixed cost dominates here; one pass fits one run
INGEST_SF = 0.1        # the 150k-row orders table the ingest workloads seed
TINY_SF = 0.001        # warmup inputs for the analytics gates
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_DEADLINE_S = 170


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash(root):
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(root, work_root):
    """Compile engine + harness once per source hash; return the
    classpath and whether this call built it."""
    stamp_dir = os.path.join(work_root, "build")
    stamp = os.path.join(stamp_dir, source_hash(root) + ".classpath")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return fh.read().strip(), False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed", 1)
    os.makedirs(stamp_dir, exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(lines[-1])
    print(f"built engine and harness in {time.time() - t0:.1f} s", file=sys.stderr)
    return lines[-1], True


def host_context(root, seed):
    ctx = {"nproc": len(os.sched_getaffinity(0)), "seed": seed}
    with open("/proc/loadavg") as fh:
        ctx["loadavg_start"] = fh.read().split()[:3]
    commit = "unknown"
    if os.path.isdir(os.path.join(root, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True)
        if r.returncode == 0:
            commit = r.stdout.strip()
    ctx["commit"] = commit
    ctx["loaded_host"] = float(ctx["loadavg_start"][0]) > ctx["nproc"]
    return ctx


# --- oracle comparison: the type and value rules of tools/compare.py ----------

def canon_type(t):
    import pyarrow as pa
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return "string"
    if pa.types.is_large_binary(t) or pa.types.is_binary(t):
        return "binary"
    if pa.types.is_timestamp(t):
        return f"timestamp[{t.unit}]"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{canon_type(t.value_type)}>"
    return str(t)


def norm(v):
    return f"{v:.10g}" if isinstance(v, float) else repr(v)


def oracle_check(data_dir, out_dir, sqls):
    """Compare each gate's result with its DuckDB oracle; return failures."""
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect(config={"threads": 2})
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
    failures = []
    for name, sql in sqls.items():
        try:
            tbl = pq.read_table(os.path.join(out_dir, name))
            dtbl = con.execute(sql).arrow()
        except Exception as e:  # a gate without output is a failure, named
            failures.append(f"oracle {name}: {type(e).__name__}: {str(e)[:200]}")
            continue
        cols = sorted(tbl.column_names)
        if cols != sorted(dtbl.column_names):
            failures.append(f"oracle {name}: columns {cols} vs {sorted(dtbl.column_names)}")
            continue
        tm = [c for c in cols if canon_type(tbl.schema.field(c).type) != canon_type(dtbl.schema.field(c).type)]
        if tm:
            failures.append(f"oracle {name}: type mismatch in {tm}")
            continue
        srows = [tuple(norm(v) for v in r) for r in zip(*(tbl.column(c).to_pylist() for c in cols))]
        drows = [tuple(norm(v) for v in r) for r in zip(*(dtbl.column(c).to_pylist() for c in cols))]
        if srows != drows and sorted(srows) != sorted(drows):
            failures.append(f"oracle {name}: values differ ({len(srows)} vs {len(drows)} rows)")
    return failures


# --- reporting ------------------------------------------------------------------

UNITS = {
    "setup_s": "s", "ingest_rec_per_s": "rec/s", "ack_p50_ms": "ms", "ack_tail_ms": "ms",
    "read_p50_ms": "ms", "read_tail_ms": "ms", "suite_s": "s", "query_geomean_ms": "ms",
    "write_amp": "ratio", "table_bytes_per_row": "B/row", "peak_rss_mb": "MB",
    "error_rate": "ratio", "throughput_per_s": "1/s", "op_p50_ms": "ms", "op_tail_ms": "ms",
}


def latest_untraced(results_dir, workload):
    runs = []
    for f in glob.glob(os.path.join(results_dir, f"{workload}-s*-t0-*.json")):
        try:
            with open(f) as fh:
                runs.append((os.path.getmtime(f), json.load(fh)))
        except (OSError, ValueError):
            pass
    return max(runs, key=lambda r: r[0])[1] if runs else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    bench_json = os.path.join(root, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))
            and os.path.isfile(bench_json)):
        fail("run from the root of a graft checkout (build.sbt, src/ and BENCHMARK.json)")
    with open(bench_json) as fh:
        spec = json.load(fh)
    t_start = time.time()
    ctx = host_context(root, a.seed)
    if ctx["loaded_host"]:
        print(f"WARNING: load average {ctx['loadavg_start'][0]} exceeds nproc {ctx['nproc']} "
              "at start; figures from this run are suspect", file=sys.stderr)

    work_root = os.path.join(root, ".perfbench_work")
    classpath, built = build(root, work_root)
    if built:  # the run's own time limit starts after a first-use build
        t_start = time.time()
    stamp = time.strftime("%Y%m%dT%H%M%S")
    work = os.path.join(work_root, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    results = os.path.join(work_root, "results")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("data", "tmp", results):
        os.makedirs(os.path.join(work, d) if d != results else d, exist_ok=True)
    try:
        import datagen
        data = os.path.join(work, "data")
        if a.workload == "analytics":
            datagen.write_tables(data, a.seed, ANALYTICS_SF)
            os.makedirs(os.path.join(data, "tiny"))
            datagen.write_tables(os.path.join(data, "tiny"), a.seed + 1, TINY_SF)
        else:
            datagen.write_tables(data, a.seed, INGEST_SF, ["orders"])
        out = os.path.join(work, "result.json")
        # a fixed young generation and a heap touched up front: G1's
        # adaptive sizing otherwise picks a different young size in each
        # run, so the number of collections, their time and peak RSS vary.
        # Huge pages for the heap, where the kernel grants them on request,
        # narrow the run-to-run spread further.
        cmd = (["java", "-Xms2g", "-Xmx2g", "-Xmn1g", "-XX:+AlwaysPreTouch",
                "-XX:+UseTransparentHugePages", "-XX:ReservedCodeCacheSize=512m",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
               + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", classpath, "perfbench.Main",
                  "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                  "--trace", str(a.trace), "--work", work, "--data", data,
                  "--src", os.path.join(root, "src"), "--out", out])
        log = os.path.join(work, "jvm.log")
        remaining = JVM_DEADLINE_S - (time.time() - t_start)
        with open(log, "w") as fh:
            try:
                rc = subprocess.run(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, timeout=max(remaining, 60)).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0 or not os.path.exists(out):
            with open(log) as fh:
                sys.stderr.write(fh.read()[-6000:])
            fail(f"workload JVM failed ({rc})", 1)
        with open(out) as fh:
            res = json.load(fh)
        errors = list(res["errors"])
        attempted, failed = res["attempted"], res["failed"]
        if a.workload == "analytics":
            sqls = res["extra"].pop("oracle_sql")
            bad = oracle_check(res["extra"].pop("oracle_data"), res["extra"].pop("oracle_dir"), sqls)
            attempted += len(sqls)
            failed += len(bad)
            errors += bad
            res["e2e"]["error_rate"] = failed / max(attempted, 1)
        with open("/proc/loadavg") as fh:
            ctx["loadavg_end"] = fh.read().split()[:3]
        res.update(host=ctx, attempted=attempted, failed=failed, errors=errors)
        base = os.path.join(results, f"{a.workload}-s{a.seed}-t{a.trace}-{stamp}")
        spans = out[:-5] + ".spans.jsonl"
        if os.path.exists(spans):
            shutil.move(spans, base + ".spans.jsonl")
        if a.trace:
            ref = latest_untraced(results, a.workload)
            if ref:
                res["trace_overhead"] = {k: (v / ref["e2e"][k] - 1.0) if ref["e2e"].get(k) else None
                                         for k, v in res["e2e"].items()}
        with open(base + ".json", "w") as fh:
            json.dump(res, fh, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # every metric by name with its unit, then the result line
    print(f"workload {a.workload} seed {a.seed} trace {a.trace} on {ctx['nproc']} cpus, "
          f"load {ctx['loadavg_start'][0]} -> {ctx['loadavg_end'][0]}"
          + (" (LOADED HOST)" if ctx["loaded_host"] else ""))
    for k, v in res["e2e"].items():
        print(f"  {k:22s} {v:14.4f} {UNITS.get(k, '')}")
    for k in ("ack_tail_percentile", "read_tail_percentile", "acks", "reads", "passes"):
        if k in res["extra"]:
            print(f"  ({k} = {res['extra'][k]})")
    for e in errors:
        print(f"  FAILED: {e}")
    if a.trace:
        for k, v in res.get("per_layer", {}).items():
            print(f"  {k:34s} {v:16.4f}")
        for k, v in (res.get("trace_overhead") or {}).items():
            if v is not None:
                print(f"  tracing overhead {k:20s} {100 * v:+.1f}%")
    section = "per_layer" if a.trace else "end_to_end"
    source = res.get("per_layer", {}) if a.trace else res["e2e"]
    metrics = {}
    for m in spec[section]:
        v = source.get(m["name"], 0.0)
        metrics[m["name"]] = {"value": v if math.isfinite(v) else 0.0, "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
