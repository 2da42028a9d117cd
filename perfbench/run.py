#!/usr/bin/env python3
"""Benchmark of the graft engine: one closed-loop workload per invocation.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the program from source (driver/build.py), generates the seed's
inputs (gen.py), runs the workload's queries one at a time in timed passes
(one per PASS_SECONDS of `--seconds`), checks every result, and prints one
JSON object as the last line of stdout. `--trace 0` reports the end-to-end
metrics, `--trace 1` the per-layer ones. Everything it writes goes under
$CARGO_TARGET_DIR (default .bench_build) in the checkout; per-run records
land in <that>/perfbench/records/ keyed by workload, seed, cores, trace
mode and commit, and numbered so that none overwrites another. See
perfbench/README.md.
"""
import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "driver"))
import arith  # noqa: E402
import build  # noqa: E402
import gen  # noqa: E402
from build import BuildError as BenchError  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.abspath(os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench"))
CORES = len(os.sched_getaffinity(0))
WARM_SF = 0.001
PASS_SECONDS = 4           # one timed pass per this many seconds of --seconds
QUERY_TIMEOUT_S = 60
JVM_TIMEOUT_S = 165
MIN_FREE_BYTES = 1 << 30   # inputs, spark.local.dir and the Verify dump fit well inside

WORKLOADS = {
    "cdc_ingest": {
        "sf": 0.01,  # read by q_stream_upsert only; the other two generate their pages
        "queries": ["q_paged_stream", "q_cdc_pipeline", "q_stream_upsert"],
    },
    "relational": {
        "sf": 0.1,
        "queries": ["q_scan_project", "q_incremental_pages", "q_agg_hash", "q_join_multiway",
                    "q_window_frame"],
    },
}
with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)  # metric names and units live there only


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def inputs(workload, seed):
    """The seed's measured and warm-up inputs, generated once per (sf, seed)."""
    import duckdb  # noqa: F401  (the oracle engine: fail before any work when it is missing)
    sf = WORKLOADS[workload]["sf"]
    os.makedirs(WORK, exist_ok=True)
    if shutil.disk_usage(WORK).free < MIN_FREE_BYTES:
        raise BenchError(f"less than {MIN_FREE_BYTES / 2**30:.0f} GiB free under {WORK}")
    data = gen.write(os.path.join(WORK, "data", f"sf{sf}_seed{seed}"), sf, seed)
    warm = gen.write(os.path.join(WORK, "data", f"sf{WARM_SF}_seed{seed}"), WARM_SF, seed)
    return data, warm


def expected_rows(data_dir, queries, oracles, digest):
    """DuckDB row count of each oracled query on `data_dir`; None = no oracle."""
    path = os.path.join(data_dir, f"expected_rows_{digest[:16]}.json")
    cached = {}
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
    todo = [q for q in queries if q in oracles and q not in cached]
    if todo:
        import duckdb
        con = duckdb.connect()
        con.execute(f"SET threads={CORES}")
        for t in gen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        for q in todo:
            cached[q] = con.execute(f"SELECT count(*) FROM ({oracles[q]})").fetchone()[0]
        with open(path, "w") as f:
            json.dump(cached, f)
    return {q: cached.get(q) for q in queries}


def traced_passes(seconds, trace):
    """The timed passes of a run, True where traced. The count is fixed by
    `seconds` (one pass per PASS_SECONDS), not by the clock, so a faster
    commit measures the same work. A traced run alternates untraced and
    traced passes and ends untraced, so each traced pass sits between two
    untraced ones in JIT state."""
    n = max(1, round(seconds / PASS_SECONDS))
    return [False, True] * n + [False] if trace else [False] * n


def pass_orders(queries, seed, n=64):
    rng = random.Random(seed)
    orders = []
    for _ in range(n):
        o = list(queries)
        rng.shuffle(o)
        orders.append(o)
    return orders


def run_jvm(meta, run_dir, job):
    """Launch the driver JVM on `job`; returns its result record."""
    job_path, out_path, log_path, tmp = (os.path.join(run_dir, n) for n in
                                         ("job.json", "out.json", "driver.log", "tmp"))
    os.makedirs(tmp)
    job = dict(job, local_dir=os.path.join(tmp, "spark-local"),
               alias_dir=os.path.join(tmp, "alias"), query_timeout_s=QUERY_TIMEOUT_S)
    cmd = ["java", *meta["java_options"], f"-Djava.io.tmpdir={tmp}", "-cp", meta["classpath"],
           "perfbench.PerfDriver", job_path, out_path]
    with open(log_path, "w") as logf:
        jiffies0 = proc_stat()
        job["launch_ms"] = time.time() * 1000.0
        with open(job_path, "w") as f:
            json.dump(job, f)
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT,
                             env=dict(os.environ, SPARK_GRAFT_CPUS=str(CORES)))
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(out_path):
        with open(log_path) as f:
            raise BenchError(f"driver JVM exited {rc}:\n{f.read()[-3000:]}")
    with open(out_path) as f:
        res = json.load(f)
    setup_jiffies = [b - a for a, b in zip(jiffies0, res["warm_end_jiffies"])]
    res["setup_raw_s"] = (res["warm_end_ms"] - job["launch_ms"]) / 1000.0
    res["setup_s"] = arith.unstolen_s(res["setup_raw_s"], setup_jiffies)
    return res


def proc_stat():
    """[total, steal, idle + iowait] jiffies of all CPUs, as the driver reads them."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return [sum(v), v[7] if len(v) > 7 else 0, v[3] + (v[4] if len(v) > 4 else 0)]


def diffcheck(warm_dir, verify_out, queries):
    """tools/diffcheck.py over graft.Verify's dump: {query: PASS or the failure line}."""
    r = subprocess.run([sys.executable, "tools/diffcheck.py", warm_dir, verify_out, *queries],
                       cwd=ROOT, capture_output=True, text=True, timeout=170)
    status = {q: "no diffcheck line" for q in queries}
    for line in r.stdout.splitlines():
        parts = line.split(None, 1)
        if parts and parts[0] in status:
            status[parts[0]] = "PASS" if " OK" in " " + parts[1] else line.strip()
    return status


def check(sample, expected):
    """Why a timed sample fails the output check, or None when it passes."""
    if sample.get("timeout"):
        return "timed out"
    if "error" in sample:
        return sample["error"]
    if expected is None:
        return None if sample["rows"] > 0 else "no rows (no oracle: rows > 0 expected)"
    return None if sample["rows"] == expected else f"rows {sample['rows']} != oracle {expected}"


def query_s(sample):
    """A sample's time to full result, CPU steal taken out (arith.unstolen_s)."""
    return arith.unstolen_s(sample["seconds"], sample["host_jiffies"])


def pass_wall(p):
    """A pass's wall_s: the sum of its queries' times to full result."""
    return sum(query_s(s) for s in p["samples"])


def end_to_end(setup_s, passes):
    walls = [pass_wall(p) for p in passes]
    geos = [arith.geomean([query_s(s) for s in p["samples"]]) for p in passes]
    # forced-GC heap before each query and after the pass's last one
    heap = [max([s["heap_before_bytes"] for s in p["samples"]] + [p["heap_after_bytes"]])
            for p in passes]
    vals = {"setup_s": setup_s, "wall_s": arith.median(walls),
            "query_geomean_s": arith.median(geos),
            "retained_heap_mb": arith.median(heap) / 2**20}
    return with_units(vals, "end_to_end")


def with_units(vals, kind):
    """{name: {value, unit}} for every metric of BENCHMARK.json's `kind` list."""
    return {m["name"]: {"value": vals[m["name"]], "unit": m["unit"]} for m in SPEC[kind]}


def per_layer(res):
    """Per-layer metrics: medians over the traced passes; the micro-batch
    figures and the tracer's overhead come from the untraced passes."""
    jobs = arith.assemble_jobs(res["jobs"])
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p for p in res["passes"] if not p["traced"]]
    per_pass, min_self = [], []
    for p in traced:
        spans = [s for s in res["spans"] if s["pass"] == p["index"]]
        m, least = arith.pass_layers(p, spans, jobs, res["stages"], res["batches"],
                                     res["run_spans"], CORES)
        per_pass.append(m)
        min_self.append(least)
    vals = {k: arith.median([m[k] for m in per_pass]) for k in per_pass[0]}
    _, lost = arith.attribute(jobs, {s["id"] for s in res["spans"]})
    plain_ids = {p["index"] for p in plain}
    bs = arith.batch_stats([b for b in res["batches"]
                            if arith.span_pass(res["run_spans"].get(b["run_id"])) in plain_ids])
    vals.update({
        "sources.drain_rows_per_s": bs["drain_rows_per_s"],
        "sources.batch_p50_ms": bs["batch_p50_ms"],
        "sources.batch_p90_ms": bs["batch_p90_ms"],
        "trace.overhead_frac": (arith.median([pass_wall(p) for p in traced])
                                / arith.median([pass_wall(p) for p in plain]) - 1.0),
        "trace.unattributed_jobs": len(lost),
    })
    extra = {"batch_stats_untraced": bs,
             "min_self_ms": min(min_self),
             "per_pass": per_pass}
    return with_units(vals, "per_layer"), extra


def source_id():
    try:
        return build.sh(["git", "rev-parse", "HEAD"], ROOT).strip()
    except (BenchError, OSError):
        return "tree:" + build.tree_digest(ROOT, ["build.sbt", "src/main"])[:16]


def record_path(key):
    """A new file under <work>/records for the run keyed `key`: a repeated
    run gets the next free number, so no run overwrites another's record."""
    rec_dir = os.path.join(WORK, "records")
    os.makedirs(rec_dir, exist_ok=True)
    n = 0
    while os.path.exists(os.path.join(rec_dir, f"{key}.{n}.json")):
        n += 1
    return os.path.join(rec_dir, f"{key}.{n}.json")


def table_stats(data_dir):
    import pyarrow.parquet as pq
    return {t: {"rows": pq.ParquetFile(os.path.join(data_dir, f"{t}.parquet")).metadata.num_rows,
                "bytes": os.path.getsize(os.path.join(data_dir, f"{t}.parquet"))}
            for t in gen.TABLES}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    spec = WORKLOADS[a.workload]
    queries = spec["queries"]

    meta = build.build(ROOT, WORK, log)
    data, warm = inputs(a.workload, a.seed)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}_seed{a.seed}_trace{a.trace}_{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    verify_out = os.path.join(run_dir, "verify")
    try:  # the run dir is removed on success and kept for diagnosis otherwise
        res = run_jvm(meta, run_dir, {
            "cores": CORES, "queries": queries, "warm_dir": warm, "data_dir": data,
            "orders": pass_orders(queries, a.seed),
            "traced_passes": traced_passes(a.seconds, a.trace), "verify_out": verify_out})
        diff = diffcheck(warm, verify_out, queries)
        with open(os.path.join(verify_out, "oracle_sql.json")) as f:
            expected = expected_rows(data, queries, json.load(f), meta["digest"])
    except BaseException:
        log(f"driver logs kept in {run_dir}")
        raise
    shutil.rmtree(run_dir, ignore_errors=True)

    samples = [("settle", s) for s in res["settle"]]
    samples += [(p["index"], s) for p in res["passes"] for s in p["samples"]]
    failures = [f"pass {i} {s['query']}: {why}" for i, s in samples
                if (why := check(s, expected[s["query"]]))]
    failures += [f"differential {q}: {st}" for q, st in sorted(diff.items()) if st != "PASS"]
    attempted = len(samples) + len(diff)
    if a.trace:
        metrics, extra = per_layer(res)
    else:
        metrics, extra = end_to_end(res["setup_s"], res["passes"]), {}
    for f in failures:
        log("FAIL " + f)

    source = source_id()
    record = {
        "workload": a.workload, "seed": a.seed, "cores": CORES, "trace": a.trace,
        "seconds": a.seconds, "source": source, "heap": meta["heap"],
        "jvm_flags": res["jvm_flags"], "max_heap_bytes": res["max_heap_bytes"],
        "input": {"sf": spec["sf"], "tables": table_stats(data)},
        "expected_rows": expected, "differential": diff, "failures": failures,
        "failed_frac": len(failures) / attempted, "setup_s": res["setup_s"],
        "setup_raw_s": res["setup_raw_s"],
        "host_steal_frac": arith.steal_frac(res["passes"]),
        "metrics": metrics, "extra": extra,
        "passes": [{"index": p["index"], "traced": p["traced"],
                    "wall_s": pass_wall(p),
                    "wall_raw_s": sum(s["seconds"] for s in p["samples"]),
                    "heap_after_bytes": p["heap_after_bytes"],
                    "samples": p["samples"]} for p in res["passes"]],
        "batches": res["batches"],
    }
    rec = record_path(f"{a.workload}_seed{a.seed}_c{CORES}_trace{a.trace}_{source.split(':')[-1][:12]}")
    with open(rec, "w") as f:
        json.dump(record, f, indent=1)
    log(f"record: {rec}")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    # a terminated benchmark still stops the JVM it started (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    except subprocess.TimeoutExpired as e:
        log(f"error: {e.cmd[0]} ... {e.cmd[-1]} timed out after {e.timeout} s")
        sys.exit(2)
    except (BenchError, ImportError) as e:
        log(f"error: {e}")
        sys.exit(2)
