"""Pure statistics over one run's recorded timings: percentiles and the tail
rule, busy/idle time from job intervals, and the per-layer roll-up of a
traced run. Kept free of I/O so the benchmark's tests can exercise it."""
import math
import statistics

PERCENTILES = [float(p) for p in range(50, 100)] + [99.9]


def _rank(p, n):
    """Nearest rank of percentile p among n samples (1-based); the epsilon
    keeps float noise in p * n / 100 from pushing an exact rank up."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(values, p):
    """Nearest-rank percentile of `values` (p in 0..100)."""
    s = sorted(values)
    return s[_rank(p, len(s)) - 1]


def tail(values, beyond=10):
    """The highest percentile with at least `beyond` samples above its rank,
    as (percentile, value). Below 2 x `beyond` samples no percentile
    qualifies: the tail is then the median, reported as p = 50 beside the
    sample count that explains it."""
    n = len(values)
    best = None
    for p in PERCENTILES:
        if n - _rank(p, n) >= beyond:
            best = p
    if best is None:
        return 50.0, median(values)
    return best, percentile(values, best)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def gaps(window, intervals):
    """The parts of `window` = (t0, t1) that no interval covers."""
    t0, t1 = window
    out, cur = [], t0
    for s, e in sorted(intervals):
        s, e = max(s, t0), min(e, t1)
        if e <= s:
            continue
        if s > cur:
            out.append((cur, s))
        cur = max(cur, e)
    if cur < t1:
        out.append((cur, t1))
    return out


def busy_idle(window, jobs, samples=()):
    """Splits one op's wall time into busy (the union of the job intervals
    clipped to the op) and idle (the rest), and attributes idle to modules
    by the client-thread stack samples that fall into the idle gaps.

    `jobs` are (start, end) pairs, possibly overlapping; `samples` are
    (time, module) pairs. Idle with no sample in it is `unsampled`. By
    construction busy + idle == wall and the attribution sums to idle."""
    t0, t1 = window
    clipped = [(max(s, t0), min(e, t1)) for s, e in jobs
               if min(e, t1) > max(s, t0)]
    busy = union_length(clipped)
    idle = (t1 - t0) - busy
    job_sum = sum(e - s for s, e in clipped)
    idle_gaps = gaps(window, clipped)
    counts = {}
    for t, mod in samples:
        if any(a <= t < b for a, b in idle_gaps):
            counts[mod] = counts.get(mod, 0) + 1
    n = sum(counts.values())
    attribution = ({m: idle * c / n for m, c in counts.items()} if n
                   else ({"unsampled": idle} if idle > 0 else {}))
    return {"wall_s": t1 - t0, "busy_s": busy, "idle_s": idle,
            "job_s": job_sum, "idle_by_module": attribution}


def median(values):
    return statistics.median(values) if values else 0.0


def latency_metrics(prefix, lat_ms):
    """`<prefix>_p50` and `<prefix>_tail` with the tail's percentile and
    sample count alongside."""
    if not lat_ms:
        return {}
    p, v = tail(lat_ms)
    return {f"{prefix}_p50": median(lat_ms), f"{prefix}_tail": v,
            f"{prefix}_tail_percentile": p, f"{prefix}_samples": len(lat_ms)}


def job_module(job, samples):
    """The module a job works for. Its `callSite.long` names it when the
    job was submitted from engine code; a job submitted from inside a SQL
    command inherits the command's call site, so it falls back to the
    module the client thread was sampled in most while the job ran."""
    if job["module"] != "spark":
        return job["module"]
    counts = {}
    for t, m in samples:
        if job["t0"] <= t <= job["t1"] and m != "spark":
            counts[m] = counts.get(m, 0) + 1
    return max(sorted(counts), key=counts.get) if counts else "spark"


def layer_metrics(trace, ops, traced_passes):
    """Rolls a traced run up into per-layer metrics, per traced pass.

    Returns (metrics, per_op) where per_op holds each traced op's busy/idle
    split and idle attribution."""
    k = max(1, len(traced_passes))
    t0, t1 = trace["t0"], trace["t1"]
    jobs = [j for j in trace["jobs"] if t0 <= j["t0"] <= t1 and j["t1"] >= 0]
    samples = [(t, m) for t, m in trace["samples"]]
    for j in jobs:
        j["module"] = job_module(j, samples)
    spans = [(j["t0"], j["t1"]) for j in jobs]
    per_op, idle_mod = [], {}
    busy = idle = job_s = 0.0
    for o in ops:
        r = busy_idle((o["t0"], o["t1"]), spans, samples)
        r["type"] = o["type"]
        per_op.append(r)
        busy += r["busy_s"]
        idle += r["idle_s"]
        job_s += r["job_s"]
        for m, v in r["idle_by_module"].items():
            idle_mod[m] = idle_mod.get(m, 0.0) + v

    def total(key, js=jobs):
        return sum(j[key] for j in js) / k

    def by_module(mod):
        js = [j for j in jobs if j["module"] == mod]
        return len(js) / k, sum(j["t1"] - j["t0"] for j in js) / k

    acts = trace["actions"]
    bt = trace["batches"]
    dur = [b["durations_ms"] for b in bt]
    trig = [d.get("triggerExecution", 0.0) for d in dur]
    life = sum(x["t1"] - x["t0"] for x in trace["stream_lifetimes"]) * 1e3
    src_jobs, src_s = by_module("sources")
    ml_jobs, ml_s = by_module("ml")
    m = {
        "driver.jobs": len(jobs) / k,
        "driver.stages": total("stages"),
        "driver.tasks": total("tasks"),
        "driver.busy_s": busy / k,
        "driver.idle_s": idle / k,
        "driver.overlap_ratio": job_s / busy if busy else 1.0,
        "driver.task_failures": total("task_failures"),
        "tables.bytes_read_mb": total("bytes_read_mb"),
        "tables.rows_read": total("rows_read"),
        "tables.files_read": sum(a["files_read"] for a in acts) / k,
        "tables.scan_s": sum(a["scan_ms"] for a in acts) / 1e3 / k,
        "exchange.shuffle_write_mb": total("shuffle_write_mb"),
        "exchange.shuffle_read_mb": total("shuffle_read_mb"),
        "exchange.fetch_wait_s": total("fetch_wait_s"),
        "exchange.spill_mb": total("spill_mb"),
        "operators.task_s": total("task_s"),
        "operators.task_cpu_s": total("task_cpu_s"),
        "operators.gc_s": total("gc_s"),
        "operators.peak_exec_mem_mb": max([j["peak_exec_mem_mb"] for j in jobs] or [0.0]),
        "operators.cache_mb": trace["cache_mb"],
        "operators.driver_self_s": (idle_mod.get("operators", 0.0)
                                    + idle_mod.get("functions", 0.0)) / k,
        "plans.analysis_ms": sum(a["analysis_ms"] for a in acts) / k,
        "plans.optimizer_ms": sum(a["optimizer_ms"] for a in acts) / k,
        "plans.planning_ms": sum(a["planning_ms"] for a in acts) / k,
        "sources.jobs": src_jobs,
        "sources.job_s": src_s,
        "sources.driver_self_s": idle_mod.get("sources", 0.0) / k,
        "sources.bytes_written_mb": total("bytes_written_mb"),
        "streaming.batches": len(bt) / k,
        "streaming.batch_ms_p50": median(trig),
        "streaming.add_batch_ms": sum(d.get("addBatch", 0.0) for d in dur) / k,
        "streaming.latest_offset_ms": sum(d.get("latestOffset", 0.0) for d in dur) / k,
        "streaming.query_planning_ms": sum(d.get("queryPlanning", 0.0) for d in dur) / k,
        "streaming.wal_commit_ms": sum(d.get("walCommit", 0.0) for d in dur) / k,
        "streaming.commit_offsets_ms": sum(d.get("commitOffsets", 0.0) for d in dur) / k,
        "streaming.state_rows": max([b["state_rows"] for b in bt] or [0.0]),
        "streaming.state_mem_mb": max([b["state_mem_mb"] for b in bt] or [0.0]),
        "streaming.state_commit_ms": sum(b["state_commit_ms"] for b in bt) / k,
        "streaming.start_stop_ms": max(0.0, life - sum(trig)) / k,
        "ml.jobs": ml_jobs,
        "ml.job_s": ml_s,
        "ml.driver_self_s": idle_mod.get("ml", 0.0) / k,
    }
    lake_keys = ("sources.versions", "sources.files_written",
                 "sources.live_files", "sources.orphan_files",
                 "sources.files_pruned_frac")
    if "lake_after" in trace:
        a, b = trace["lake_after"], trace["lake_before"]
        live = a["live_files"]
        scans = sum(x["scans"] for x in acts)
        per_scan = (sum(x["files_read"] for x in acts) / scans) if scans else 0.0
        m.update({
            "sources.versions": (a["li_version"] + a["ord_version"]
                                 - b["li_version"] - b["ord_version"]) / k,
            "sources.files_written": trace["files_written"] / k,
            "sources.live_files": live,
            "sources.orphan_files": max(0.0, a["files_on_disk"] - live),
            # two tables: a scan that read every file of its table reads
            # about half the live files
            "sources.files_pruned_frac":
                min(1.0, max(0.0, 1.0 - per_scan / (live / 2.0))) if live else 0.0,
        })
    else:
        m.update({key: 0.0 for key in lake_keys})
    return m, per_op, {mod: v / k for mod, v in sorted(idle_mod.items())}
