#!/usr/bin/env python3
"""graft benchmark: one command runs one workload with one seed.

    python3 perfbench/run.py --workload registry_mix --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the engine and the
harness from source with sbt (offline) and caches the classpath under
`.bench_build/`; later runs reuse it while the sources are unchanged.

The last line of standard output is one JSON object: `correct`,
`attempted`, `failed` and `metrics` — the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. The line before it is
the full report: every metric with its unit, the tail percentiles and
sample counts, the output checks and the host record. See README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

# registry_mix: BI reads (scan, operators, exchange), a streaming
# micro-batch pipeline and an MLlib fit, each with a DuckDB oracle
REGISTRY = ["q1_pricing", "q_window_ranks", "q_stream_hourly", "q_ml_fare_lr"]
SF = {"registry_mix": 0.01, "lake_mixed": 0.005}
SETUPS = 3          # set-ups per run; setup_s is their median
MAX_PASSES = 100    # more passes than any run can use
DEADLINE_S = 170    # a run ends within this, build excluded

UNITS = {"setup_s": "s", "pass_s": "s", "ops_per_s": "1/s",
         "peak_rss_mb": "MB", "space_amp": "ratio", "fail_ratio": "ratio",
         "gen_s": "s", "trace_overhead_s": "s"}


def unit_of(name):
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_percentile"):
        return "percentile"
    if name.endswith("_samples"):
        return "count"
    for suffix, u in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"),
                      ("_frac", "ratio"), ("_ratio", "ratio")):
        if name.endswith(suffix) or f"{suffix}_" in name:
            return u
    return "count"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# --------------------------------------------------------------------------
# build
# --------------------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness", "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "harness", "build.sbt"),
             os.path.join(HERE, "harness", "project", "build.properties")]
    for r in roots:
        for d, _, fs in sorted(os.walk(r)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """The classpath of the engine + harness, built once per source state."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no engine sources: {need} is missing under {ROOT}")
    stamp = source_stamp()
    cp_file, stamp_file = (os.path.join(BUILD, "classpath.txt"),
                           os.path.join(BUILD, "stamp"))
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.override.build.repos=true",
           "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
           "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
           "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
           "-J-XX:-UsePerfData",
           "compile", "export Runtime/fullClasspath"]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = _run(cmd, os.path.join(HERE, "harness"), env, fh, 850)
    lines = [l.strip() for l in open(log) if ".jar" in l and ":" in l
             and not l.startswith("[")]
    if rc != 0 or not lines:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (rc={rc}); log in {log}")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1]


def _run(cmd, cwd, env, out, timeout):
    """Runs `cmd` in its own process group; kills the group on timeout and
    waits for it, so no process outlives the run."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                         stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        else:
            try:
                os.killpg(p.pid, signal.SIGKILL)  # stray children
            except ProcessLookupError:
                pass


# --------------------------------------------------------------------------
# host record
# --------------------------------------------------------------------------

def mem_total_kb():
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def xmx():
    """Driver heap sized from MemTotal as the tier-1 tests size theirs:
    half the host's memory, clamped to 2..8 GB."""
    g = mem_total_kb() // 2097152
    return f"{min(8, max(2, g))}g"


def cpu_jiffies():
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def calibration_ms():
    """Wall time of a fixed single-threaded loop: a record of how fast the
    host ran, since this kind of host can slow down by a third with no CPU
    steal showing. Not used to correct any metric."""
    t = time.perf_counter()
    sum(i * i for i in range(2_000_000))
    return (time.perf_counter() - t) * 1e3


def commit():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# --------------------------------------------------------------------------
# run
# --------------------------------------------------------------------------

def make_plan(workload, seed, data_dir):
    """Writes the workload's inputs; returns (plan fields, op log or None)."""
    rng = random.Random(seed)
    tables = gen.make_tables(seed, SF[workload], gen.TABLES[workload])
    if workload == "lake_mixed":
        tables["li"] = gen.lineitem_with_rowkey(tables["lineitem"])
        del tables["lineitem"]
        gen.write_tables(tables, data_dir)
        # the first pass is the set-up's warm-up, replayed on every set-up
        log = gen.lake_ops(seed, tables["li"].num_rows,
                           tables["orders"].num_rows, 1 + MAX_PASSES)
        passes = [log[i:i + gen.PASS_OPS] for i in range(0, len(log), gen.PASS_OPS)]
        return {"warmup": passes[0], "passes": passes[1:]}, log
    gen.write_tables(tables, data_dir)
    passes = [rng.sample(REGISTRY, len(REGISTRY)) for _ in range(MAX_PASSES)]
    return {"warmup": [{"name": q} for q in REGISTRY],
            "passes": [[{"name": q} for q in p] for p in passes]}, None


def run_jvm(classpath, plan_path, scratch, budget):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = ["java"] + [a for p in opens for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # no /tmp/hsperfdata: the run writes only under its checkout
    cmd += [f"-Xmx{xmx()}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={scratch}/tmp",
            f"-Dspark.local.dir={scratch}/local",
            f"-Dderby.system.home={scratch}/derby",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "graftbench.Main", plan_path]
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    log = os.path.join(scratch, "jvm.log")
    with open(log, "w") as fh:
        rc = _run(cmd, ROOT, dict(os.environ), fh, budget)
    return rc, log


def end_to_end(workload, res, gen_s, trace):
    """The end-to-end metrics, from untraced passes only."""
    passes = [p for p in res["passes"] if not p["traced"]]
    ids = {p["pass"] for p in passes}
    ops = [o for o in res["ops"] if o["pass"] in ids]
    lat = [(o["t1"] - o["t0"]) * 1e3 for o in ops]
    span = sum(p["t1"] - p["t0"] for p in passes)
    m = {"setup_s": gen_s + stats.median(res["setups"]),
         "pass_s": stats.median([p["t1"] - p["t0"] for p in passes]),
         "ops_per_s": len(ops) / span if span else 0.0,
         "peak_rss_mb": res["peak_rss_mb"]}
    m.update(stats.latency_metrics("op_ms", lat))
    if workload == "lake_mixed":
        for kind in ("read", "write"):
            m.update(stats.latency_metrics(
                f"{kind}_ms", [(o["t1"] - o["t0"]) * 1e3 for o in ops if o["kind"] == kind]))
    if trace:
        tp = [p["t1"] - p["t0"] for p in res["passes"] if p["traced"]]
        m["trace_overhead_s"] = stats.median(tp) - m["pass_s"]
    m["gen_s"] = gen_s
    return m, {"passes_s": [p["t1"] - p["t0"] for p in passes],
               "setups_s": res["setups"],
               "op_ms_by_type": {t: stats.median([(o["t1"] - o["t0"]) * 1e3
                                                  for o in ops if o["type"] == t])
                                 for t in sorted({o["type"] for o in ops})}}


def du(path):
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SF))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classpath = build()
    t_start = time.monotonic()
    scratch = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    data_dir = os.path.join(scratch, "data")
    try:
        t0 = time.perf_counter()
        fields, log = make_plan(a.workload, a.seed, data_dir)
        gen_s = time.perf_counter() - t0
        plan = dict(fields, workload=a.workload, data=data_dir,
                    out=os.path.join(scratch, "out"), scratch=scratch,
                    local_dir=os.path.join(scratch, "local"),
                    catalog_root=os.path.join(scratch, "lake"),
                    cpus=len(os.sched_getaffinity(0)), seconds=a.seconds,
                    trace=a.trace, setups=SETUPS, oracle=REGISTRY)
        plan_path = os.path.join(scratch, "plan.json")
        with open(plan_path, "w") as fh:
            json.dump(plan, fh)
        calib = calibration_ms()
        steal0 = cpu_jiffies()
        budget = DEADLINE_S - (time.monotonic() - t_start)
        t_jvm = time.perf_counter()
        rc, jvm_log = run_jvm(classpath, plan_path, scratch, budget)
        steal1 = cpu_jiffies()
        t_jvm = time.perf_counter() - t_jvm
        res_path = os.path.join(plan["out"], "result.json")
        if rc != 0 and not os.path.exists(res_path):
            sys.stderr.write(open(jvm_log).read()[-4000:])
            fail(f"engine run failed (rc={rc})")
        res = json.load(open(res_path))
        t_chk = time.perf_counter()
        report = evaluate(a, plan, res, log, gen_s)
        report["phase_s"] = {"gen": gen_s, "jvm": t_jvm,
                             "jvm_setups": sum(res["setups"]),
                             "jvm_measure": res["measure_t1"] - res["measure_t0"],
                             "check": time.perf_counter() - t_chk}
        report["host"] = {
            "nproc": plan["cpus"], "mem_total_kb": mem_total_kb(), "xmx": xmx(),
            "spark_version": res["spark_version"], "commit": commit(),
            "source_stamp": source_stamp()[:16], "seed": a.seed,
            "cpu_steal_frac": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
            "calibration_ms": calib,
        }
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    emit(a, report)


def evaluate(a, plan, res, log, gen_s):
    timed = [o for o in res["ops"] if o["pass"] >= 0]
    recorded = res["ops"]
    failed_ops = [o for o in recorded if not o["ok"]]
    checks, wrong = {}, 0
    if a.workload == "lake_mixed":
        checked, bad, diffs, bad_ops = check.check_lake(
            plan["data"], plan["out"], log, recorded)
        wrong = bad + sum(1 for v in diffs.values() if v != 0)
        checks = {"reads_checked": checked, "reads_wrong": bad,
                  "wrong_read_ops": bad_ops, "final_state_diff_rows": diffs,
                  "final_state_errors": res["extra"]}
    else:
        verdict = check.check_registry(plan["data"], plan["out"], REGISTRY)
        bad = {q for q, v in verdict.items() if v}
        wrong = sum(1 for o in timed if o["type"] in bad)
        checks = {"oracle": {q: v or "ok" for q, v in verdict.items()},
                  "rel_tol": check.REL_TOL}
    attempted = len(recorded)
    failed = min(attempted, len(failed_ops) + wrong)
    m, detail = end_to_end(a.workload, res, gen_s, a.trace == 1)
    m["fail_ratio"] = failed / attempted
    if a.workload == "lake_mixed":
        lake = plan["catalog_root"]
        on_disk = du(os.path.join(lake, "li")) + du(os.path.join(lake, "ord"))
        plain = du(os.path.join(plan["out"], "final_li")) + \
            du(os.path.join(plan["out"], "final_ord"))
        m["space_amp"] = on_disk / plain if plain else 0.0
    report = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "correct": failed == 0, "attempted": attempted, "failed": failed,
              "errors": [o.get("error") for o in failed_ops][:5],
              "checks": checks, "end_to_end": m, "detail": detail}
    if log is not None:
        report["op_log_hash"] = gen.op_log_hash(log)
    if a.trace == 1:
        tp = [p["pass"] for p in res["passes"] if p["traced"]]
        tops = [o for o in timed if o["pass"] in set(tp)]
        layers, per_op, idle_mod = stats.layer_metrics(res["trace"], tops, tp)
        layers["trace.overhead_s"] = m["trace_overhead_s"]
        report["per_layer"] = layers
        report["idle_by_module_s"] = idle_mod
        report["trace_checks"] = {
            "ops": len(per_op),
            "max_busy_plus_idle_err_s": max(
                [abs(r["busy_s"] + r["idle_s"] - r["wall_s"]) for r in per_op] or [0.0]),
            "max_idle_attribution_err_s": max(
                [abs(sum(r["idle_by_module"].values()) - r["idle_s"]) for r in per_op] or [0.0]),
        }
        report["per_op"] = per_op
    return report


def emit(a, report):
    """Writes the record, prints the report line and the result line."""
    rec_dir = os.path.join(BUILD, "records")
    os.makedirs(rec_dir, exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    with open(os.path.join(rec_dir, name), "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    short = {k: v for k, v in report.items() if k != "per_op"}
    for part in ("end_to_end", "per_layer"):
        if part in short:
            short[part] = {k: {"value": v, "unit": unit_of(k)}
                           for k, v in short[part].items()}
    print(json.dumps(short, sort_keys=True))
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    keys = bench["per_layer" if a.trace else "end_to_end"]
    source = report["per_layer"] if a.trace else report["end_to_end"]
    metrics = {k["name"]: {"value": source[k["name"]], "unit": k["unit"]} for k in keys}
    print(json.dumps({"correct": report["correct"], "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
