"""The benchmark's arithmetic: statistics, span self time, job attribution
and the per-layer metrics. Pure functions over the driver's raw records, so
test_arith.py can pin them without a JVM.
"""
import collections
import math
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def geomean(values):
    """Geometric mean of positive values (0.0 for an empty list)."""
    if not values:
        return 0.0
    if any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def nearest_rank(values, p):
    """The p-th percentile (0 < p <= 100) by nearest rank: the k-th
    smallest value, k = ceil(p/100 * n)."""
    xs = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def supported_percentile(n, wanted, beyond=10):
    """The highest whole percentile <= `wanted` whose nearest-rank value has
    at least `beyond` of the n samples above it; None when no percentile
    does (fewer than beyond + 1 samples)."""
    for p in range(int(wanted), 0, -1):
        if n - max(1, math.ceil(p / 100.0 * n)) >= beyond:
            return p
    return None


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b] intervals, each clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_ms(span, children):
    """A span's duration minus the union of its children's intervals
    (children may overlap one another and poke past the span's ends)."""
    lo, hi = span["start_ms"], span["end_ms"]
    return (hi - lo) - union_ms([(c["start_ms"], c["end_ms"]) for c in children], lo, hi)


def assemble_jobs(events):
    """Merge job start/end listener records, delivered in any order, into
    one record per job: {job_id, start_ms, end_ms, span, stage_ids}."""
    jobs = {}
    for e in events:
        j = jobs.setdefault(e["job_id"], {"job_id": e["job_id"], "start_ms": None,
                                          "end_ms": None, "span": None, "stage_ids": []})
        if e["event"] == "start":
            j["start_ms"] = e["time_ms"]
            j["span"] = e.get("span")
            j["stage_ids"] = list(e.get("stage_ids", []))
        else:
            j["end_ms"] = e["time_ms"]
    return sorted(jobs.values(), key=lambda j: j["job_id"])


def attribute(jobs, span_ids):
    """Map each job to the phase span named by its local property, never by
    time. Returns ({span id: [jobs]}, [unattributed jobs])."""
    by_span, lost = {}, []
    for j in jobs:
        if j["span"] in span_ids:
            by_span.setdefault(j["span"], []).append(j)
        else:
            lost.append(j)
    return by_span, lost


SOURCE_PARTS = {"latest_offset_s": "latestOffset", "get_batch_s": "getBatch",
                "planning_s": "queryPlanning", "add_batch_s": "addBatch",
                "wal_commit_s": "walCommit", "commit_offsets_s": "commitOffsets"}


def span_pass(span_id):
    """The pass index a driver span id ("p<pass>.<query>.<phase>") belongs
    to; None for a missing id."""
    return int(span_id.split(".", 1)[0][1:]) if span_id else None


def batch_stats(batches):
    """Micro-batch summary over `batches`: count, rows, rows per second of
    triggerExecution time, and p50/p90 of triggerExecution (p90 falls back to
    the highest percentile with at least 10 batches beyond it)."""
    trig = [b["duration_ms"].get("triggerExecution", 0) for b in batches]
    rows = sum(b["rows"] for b in batches)
    p90 = supported_percentile(len(trig), 90)
    return {
        "batches": len(batches),
        "rows": rows,
        "drain_rows_per_s": rows / (sum(trig) / 1000.0) if sum(trig) > 0 else 0.0,
        "batch_p50_ms": nearest_rank(trig, 50) if trig else 0.0,
        "batch_p90_ms": nearest_rank(trig, p90) if p90 else 0.0,
        "batch_p90_rank": p90,
    }


def granted_share(jiffies):
    """Share of the CPU time the host's vCPUs wanted that the hypervisor
    granted, from [total, steal, idle] /proc/stat jiffy deltas (1.0 when
    nothing was wanted or nothing stolen)."""
    total, steal, idle = jiffies
    busy = total - steal - idle
    return busy / (busy + steal) if busy + steal > 0 else 1.0


def unstolen_s(seconds, jiffies):
    """A measured time with the host's CPU steal taken out: the time scaled
    by the granted share of wanted CPU time over the same interval."""
    return seconds * granted_share(jiffies)


def steal_frac(passes):
    """Share of the host's CPU time the hypervisor withheld during `passes`."""
    total = sum(p.get("host_jiffies", [0, 0])[0] for p in passes)
    return sum(p.get("host_jiffies", [0, 0])[1] for p in passes) / total if total else 0.0


def pass_layers(pass_rec, spans, jobs, stages, batches, run_spans, cores):
    """Per-layer metrics of one traced pass, and its least span self time.

    `spans` are the pass's benchmark-thread spans, `jobs` the assembled jobs
    of the whole run (attributed here through their span property), `stages`
    the stage records, `batches` every progress record of the run and
    `run_spans` the stream run id -> launching span map."""
    ids = {s["id"]: s for s in spans}
    by_span, _ = attribute(jobs, ids)
    mine = [j for js in by_span.values() for j in js]
    stage_of = {}
    for j in mine:
        for sid in j["stage_ids"]:
            stage_of[sid] = j
    st = [s for s in stages if s["stage_id"] in stage_of]
    my_batches = [b for b in batches if run_spans.get(b["run_id"]) in ids]

    def children(span_id):
        kids = [s for s in spans if s["parent"] == span_id]
        kids += [{"start_ms": j["start_ms"], "end_ms": j["end_ms"] or j["start_ms"]}
                 for j in by_span.get(span_id, [])]
        kids += [{"start_ms": b["start_ms"],
                  "end_ms": b["start_ms"] + b["duration_ms"].get("triggerExecution", 0)}
                 for b in my_batches if run_spans.get(b["run_id"]) == span_id]
        return kids

    def phase(name):
        return [s for s in spans if s["name"] == name]

    def total_s(name):
        return sum(s["end_ms"] - s["start_ms"] for s in phase(name)) / 1000.0

    selfs = {s["id"]: self_ms(s, children(s["id"])) for s in spans}
    wall_ms = pass_rec["end_ms"] - pass_rec["start_ms"]
    job_iv = [(j["start_ms"], j["end_ms"] or j["start_ms"]) for j in mine]
    sums = collections.Counter()  # the driver names the task-metric fields
    for s in st:
        sums.update(s["task_sums"])
    plan = {k: sum(x.get("plan", {}).get(k, 0) for x in pass_rec["samples"])
            for k in ("exchanges", "broadcasts", "smj", "codegen_stages")}
    build_ids = {s["id"] for s in phase("engine.build")}
    src = {"sources.batches": len(my_batches),
           "sources.rows": sum(b["rows"] for b in my_batches)}
    for metric, part in SOURCE_PARTS.items():
        src["sources." + metric] = sum(b["duration_ms"].get(part, 0) for b in my_batches) / 1000.0
    m = {
        "engine.build_s": total_s("engine.build"),
        "engine.build_self_s": sum(selfs[i] for i in build_ids) / 1000.0,
        "engine.build_jobs": sum(len(by_span.get(i, [])) for i in build_ids),
        "plans.plan_s": total_s("plans.plan"),
        "plans.exchanges": plan["exchanges"],
        "plans.broadcasts": plan["broadcasts"],
        "plans.smj": plan["smj"],
        "plans.codegen_stages": plan["codegen_stages"],
        "exec.run_s": total_s("exec.run"),
        "exec.jobs": len(mine),
        "exec.stages": len(st),
        "exec.tasks": sums["tasks"],
        "exec.task_run_s": sums["run_ms"] / 1000.0,
        "exec.task_cpu_s": sums["cpu_ns"] / 1e9,
        "exec.task_gc_s": sums["gc_ms"] / 1000.0,
        "exec.sched_delay_s": sums["sched_delay_ms"] / 1000.0,
        "exec.driver_gap_s": (wall_ms - union_ms(job_iv, pass_rec["start_ms"], pass_rec["end_ms"])) / 1000.0,
        "exec.busy_frac": sums["run_ms"] / (wall_ms * cores) if wall_ms > 0 else 0.0,
        "shuffle.write_bytes": sums["shuffle_write_bytes"],
        "shuffle.read_bytes": sums["shuffle_read_bytes"],
        "shuffle.fetch_wait_s": sums["fetch_wait_ms"] / 1000.0,
        "shuffle.spill_bytes": sums["spill_bytes"],
        "io.read_bytes": sums["read_bytes"],
        "io.read_rows": sums["read_rows"],
        "io.write_bytes": sums["write_bytes"],
        "io.write_rows": sums["write_rows"],
        "io.write_amp": sums["write_bytes"] / sums["read_bytes"] if sums["read_bytes"] else 0.0,
        "jvm.gc_s": sum(x["gc_ms"] for x in pass_rec["samples"]) / 1000.0,
        "jvm.gc_count": sum(x["gc_count"] for x in pass_rec["samples"]),
        "host.steal_frac": steal_frac([pass_rec]),
    }
    m.update(src)
    return m, min(selfs.values()) if selfs else 0.0
