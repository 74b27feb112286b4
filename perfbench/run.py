#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload olap_short --seed 1 --seconds 8 --trace 0

Workloads (see perfbench/README.md):
  stream_dispatch  replay -> parse/demux -> 1 s window -> Delta append,
                   1,000 keys x 100 Hz, values and arrival order seeded
  olap_short       the 36 round-1 queries at sf0.1, order permuted by
                   the seed; outputs checked at sf0.01

The first run in a checkout builds the program and the benchmark harness
with sbt (offline) and caches every batch query's DuckDB oracle result;
later runs reuse both while the sources are unchanged. The JVM runs the
workload; this script checks its outputs, reduces the samples to
metrics and prints, as its last stdout line,

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics for --trace 0 and the per-layer metrics of
the traced run for --trace 1. The line before it is the full record:
every metric under the workload's own names with its sample count and
percentile, the session settings and the environment.

--self-test runs the self-tests (statistics, output checks) instead.
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
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

WORK = os.path.join(HERE, ".work")
SF_DIR = os.environ.get("PERFBENCH_SF_DIR", "/root/testdata/sf0.1")
# The check pass (set-up's warm-up) runs at the repository gate's
# scale, sf0.01, kept beside sf0.1: at sf0.1 it costs ~15 s more per
# olap_short run, which the 3,420 s budget for 48 runs cannot hold.
CHECK_SF_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
WORKLOADS = ("olap_short", "stream_dispatch")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JVM_HEAP = "4g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---- build -------------------------------------------------------------

def source_digest():
    """Digest of everything the JVM side is built from."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if os.path.isfile(r):
            files = [r]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in files:
            h.update(os.path.relpath(p, ROOT).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def run_proc(cmd, cwd, out_path, timeout, env=None):
    """Runs cmd with stdout+stderr to out_path; kills it on timeout and
    always waits for it to end."""
    with open(out_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            raise BenchError(f"{cmd[0]} timed out after {timeout} s (log: {out_path})")
        except BaseException:
            os.killpg(p.pid, 9)
            p.wait()
            raise


def tail_of(path, n=30):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def build():
    """Compiles the program with the benchmark harness; returns the runtime
    classpath. Reuses the previous build while the sources match."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise BenchError("program sources (src/main/scala) not found beside perfbench/")
    digest = source_digest()
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read().strip(), digest
    sbt = shutil.which("sbt")
    if not sbt:
        raise BenchError("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Xmx2g"]))
    out = os.path.join(WORK, "build.log")
    log("building (sbt compile) ...")
    t0 = time.time()
    rc = run_proc([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                   "export Runtime/fullClasspath"], HERE, out, BUILD_TIMEOUT_S, env)
    if rc != 0:
        raise BenchError(f"build failed (rc={rc}):\n{tail_of(out)}")
    with open(out) as f:
        lines = [ln.strip() for ln in f if ln.strip() and not ln.startswith("[")]
    if not lines:
        raise BenchError("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1], digest


def java_cmd(classpath, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", *opens, f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", classpath, "perfbench.Main"] + args)


def run_jvm(classpath, args, tag, timeout):
    out = os.path.join(WORK, f"{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    logf = os.path.join(WORK, f"{tag}.log")
    rc = run_proc(java_cmd(classpath, args + ["--out", out]), ROOT, logf, timeout)
    if rc != 0 or not os.path.exists(out):
        raise BenchError(f"JVM run {tag} failed (rc={rc}):\n{tail_of(logf)}")
    with open(out) as f:
        return json.load(f)


def import_outputs():
    try:
        import outputs
    except ImportError as e:
        raise BenchError(f"output checks unavailable (scripts/check.py?): {e}")
    return outputs


def prepare_oracles(names, sf_dir, classpath, digest, deadline):
    """Caches the queries' oracle results at `sf_dir`; name -> parquet path."""
    outputs = import_outputs()
    sql_file = os.path.join(WORK, f"oracle_sql-{digest}.json")
    if not os.path.exists(sql_file):
        res = run_jvm(classpath, ["--workload", "oracle_sql", "--queries",
                                  ",".join(names)],
                      "oracle_sql", max(10, deadline - time.time()))
        with open(sql_file, "w") as f:
            json.dump(res, f)
    sqls = outputs.load_sql(sql_file)
    return outputs.prepare_oracles(names, sqls, sf_dir, os.path.join(WORK, "oracle"),
                                   os.cpu_count(), log)


def check_batch(check, names, oracles):
    """name -> (error or None, result rows) for the JVM's check pass."""
    checks = import_outputs().check_all(names, check["dir"], oracles, os.cpu_count())
    for n, err in check["errors"].items():
        if err:
            checks[n] = (f"check run failed: {err}", 0)
    return checks


# olap_short's query list (the JVM receives it as --queries).
OLAP_QUERIES = [
    "q_approx_distinct", "q_asof_prev_event", "q_correlated_exists",
    "q_cube", "q_demux_window_agg_multi", "q_demux_window_avg",
    "q_distinct", "q_event_sort", "q_except", "q_groupby_agg",
    "q_hash_join_inner", "q_intersect", "q_join_anti",
    "q_join_left_outer", "q_join_multiway", "q_join_semi",
    "q_json_extract", "q_key_synthesis", "q_map_pivot",
    "q_parse_errors", "q_range_join", "q_rollup", "q_safe_cast_avg",
    "q_scalar_array", "q_scalar_datetime", "q_scalar_string",
    "q_scalar_subquery", "q_scan_filter_project", "q_sessionize",
    "q_sort_limit", "q_subquery_in", "q_topk_per_group",
    "q_union_all", "q_window_analytic", "q_window_first_meta",
    "q_window_rank"]


# ---- metrics --------------------------------------------------------------

def metric(value, unit, n=None, pct=None):
    m = {"value": value, "unit": unit}
    if n is not None:
        m["n"] = n
    if pct is not None:
        m["percentile"] = round(pct, 2)
    return m


def batch_e2e(ops, pass_s, heap_mb, checks):
    """End-to-end numbers over one mode's executions of a batch workload."""
    bad = {n for n, (err, _) in checks.items() if err}
    walls = [o["wall_s"] for o in ops if not o["error"]]
    failed = sum(1 for o in ops if o["error"] or o["name"] in bad)
    tail, pct, n = stats.tail(walls) if walls else (0.0, 100.0, 0)
    return {
        "mix_s": metric(stats.median(pass_s), "s", len(pass_s)),
        "query_p50_s": metric(stats.median(walls) if walls else 0.0, "s", len(walls), 50),
        "query_tail_s": metric(tail, "s", n, pct),
        "heap_retained_mb": metric(heap_mb, "MB"),
    }, len(ops), failed


def batch_results(timed, checks):
    """[untraced] or, for a traced run, [untraced, traced]. A traced
    run interleaves the two modes, so a mode's pass time is the sum of
    its executions' walls rather than the pass's wall."""
    ops = timed["ops"]
    if not any(o["traced"] for o in ops):
        return [batch_e2e(ops, timed["pass_s"], timed["heap_retained_mb"], checks)]
    out = []
    for traced in (False, True):
        mine = [o for o in ops if o["traced"] == traced]
        passes = sorted({o["pass"] for o in mine})
        pass_s = [sum(o["wall_s"] for o in mine if o["pass"] == p) for p in passes]
        out.append(batch_e2e(mine, pass_s, timed["heap_retained_mb"], checks))
    return out


def stream_e2e(phase, warm):
    steady = [b for b in phase["batches"] if b["batch"] >= warm]
    walls = [b["wall_s"] for b in steady]
    if not walls:
        raise BenchError("the stream ran no steady micro-batches")
    wall = (max(b["start_ms"] / 1e3 + b["wall_s"] for b in steady)
            - min(b["start_ms"] for b in steady) / 1e3)
    events = sum(b["input_rows"] for b in steady)
    tail, pct, n = stats.tail(walls)
    # a batch fails when it is missing or its output is wrong; an error
    # keyed to no batch (a row for a window no batch should have
    # closed) fails one more
    attempted = phase["expected_batches"]
    good = sum(1 for b in phase["batches"] if str(b["batch"]) not in phase["errors"])
    ids = {str(b["batch"]) for b in phase["batches"]}
    failed = min(attempted, attempted - good + sum(1 for k in phase["errors"] if k not in ids))
    return {
        "mix_s": metric(wall, "s", len(walls)),
        "events_per_s": metric(events / wall, "1/s", len(walls)),
        "batch_p50_s": metric(stats.median(walls), "s", len(walls), 50),
        "batch_tail_s": metric(tail, "s", n, pct),
        "heap_retained_mb": metric(phase["heap_retained_mb"], "MB"),
    }, attempted, failed


def unified(e2e, setup):
    """The workload's numbers under the end-to-end names every workload
    shares (op = a query or a micro-batch)."""
    p50 = e2e.get("query_p50_s") or e2e["batch_p50_s"]
    return {"setup_s": setup["value"], "mix_s": e2e["mix_s"]["value"],
            "op_p50_s": p50["value"],
            "heap_retained_mb": e2e["heap_retained_mb"]["value"]}


def batch_layers(res, result_rows):
    """`result_rows`: the pass's result rows at the timed scale (from
    the oracles there; the noop sink counts none)."""
    passes = res.get("layers_per_pass") or []
    if not passes:
        raise BenchError("the traced run recorded no query")
    out = {k: stats.median([p[k] for p in passes]) for k in passes[0]}
    rows = sum(result_rows.values())
    out["sources.rows_per_result"] = out["sources.scan_rows"] / rows if rows else 0.0
    return out


def stream_layers(phase, warm):
    recs = [r for r in phase.get("layers_per_batch", []) if r["data"] and r["batch"] >= warm]
    if not recs:
        raise BenchError("the traced run recorded no steady micro-batch")
    keys = [k for k in recs[0] if k not in ("batch", "data")]
    out = {k: stats.median([r[k] for r in recs]) for k in keys}
    allb = phase.get("layers_per_batch", [])
    out["streaming.nodata_batch_frac"] = (
        sum(1 for r in allb if not r["data"]) / len(allb) if allb else 0.0)
    return out


# ---- main -------------------------------------------------------------------

def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def run(args):
    t_start = time.time()
    spec = load_spec()
    os.makedirs(WORK, exist_ok=True)
    load_start = loadavg()
    classpath, digest = build()
    batch = args.workload == "olap_short"
    queries = OLAP_QUERIES if batch else []
    oracles, result_rows = {}, {}
    if batch:
        oracles = prepare_oracles(queries, CHECK_SF_DIR, classpath, digest,
                                  t_start + BUILD_TIMEOUT_S)
        if args.trace:
            result_rows = import_outputs().num_rows(prepare_oracles(
                queries, SF_DIR, classpath, digest, t_start + BUILD_TIMEOUT_S))
    # building and filling the oracle cache happen once per checkout;
    # the run itself gets RUN_TIMEOUT_S from here
    deadline = time.time() + RUN_TIMEOUT_S - min(time.time() - t_start, 5)
    res = run_jvm(classpath, [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--sf", SF_DIR, "--check-sf", CHECK_SF_DIR, "--work", WORK,
        "--queries", ",".join(queries)], f"run-{args.workload}",
        max(10, deadline - time.time()))
    log(f"jvm done at {time.time() - t_start:.1f} s; phases "
        + " ".join(f"{k}={v:.1f}s" for k, v in res.get("phase_s", {}).items()))
    setup = metric(res["setup_s"], "s", 1)
    phases = res.get("phases")
    if batch:
        checks = check_batch(res["check"], queries, oracles)
        results = batch_results(res["timed"], checks)
        wrong = {n: e for n, (e, _) in checks.items() if e}
    else:
        warm = res["warm_batches"]
        results = [stream_e2e(p, warm) for p in phases]
        wrong = {f"{'traced' if p['traced'] else 'plain'}:batch {b}": e
                 for p in phases for b, e in p["errors"].items()}
        wrong.update({f"{'traced' if p['traced'] else 'plain'}:stream": p["died"]
                      for p in phases if p["died"]})
    attempted = sum(r[1] for r in results)
    failed = sum(r[2] for r in results)
    e2e = dict(results[0][0], setup_s=setup,
               failed_frac=metric(failed / attempted if attempted else 1.0, "1"))
    detail = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "metrics": e2e, "wrong": wrong}
    if args.trace:
        traced = results[1][0]
        layers = (batch_layers(res, result_rows) if batch
                  else stream_layers(phases[1], res["warm_batches"]))
        plain_u, traced_u = unified(results[0][0], setup), unified(traced, setup)
        layers["trace.overhead.op_p50_s"] = traced_u["op_p50_s"] - plain_u["op_p50_s"]
        layers["trace.overhead.mix_s"] = traced_u["mix_s"] - plain_u["mix_s"]
        detail["traced_metrics"] = traced
        detail["trace_overhead"] = {k: traced_u[k] - plain_u[k]
                                    for k in plain_u if k != "setup_s"}
        detail["layers"] = layers
        detail["self_ms_by_layer"] = (res.get("self_ms_by_layer")
                                      or phases[1].get("self_ms_by_layer"))
        spans = res.get("spans") or phases[1].get("spans")
        with open(os.path.join(WORK, f"trace-{args.workload}.json"), "w") as f:
            json.dump({"spans": spans, "self_ms_by_layer": detail["self_ms_by_layer"]}, f)
    detail["phase_s"] = res.get("phase_s")
    detail["timed_usage"] = res.get("timed_usage")
    detail["env"] = dict(res["env"], **res["session"], load_start=load_start,
                         load_end=loadavg(), git_commit=git_commit(), source_digest=digest,
                         sf_dir=SF_DIR, check_sf_dir=CHECK_SF_DIR if batch else None)
    print(json.dumps(detail, sort_keys=True))

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if args.trace:
        values = {m["name"]: layers.get(m["name"], 0.0) for m in spec["per_layer"]}
    else:
        u = unified(e2e, setup)
        values = {m["name"]: u[m["name"]] for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0 and not wrong, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]}
                                  for k, v in values.items()}}))


def main():
    # a terminated run still stops the JVM or sbt it started (run_proc)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    if args.self_test:
        suite = unittest.defaultTestLoader.discover(HERE, pattern="test_*.py")
        ok = unittest.TextTestRunner(verbosity=2).run(suite).wasSuccessful()
        sys.exit(0 if ok else 1)
    if not args.workload:
        ap.error("--workload is required")
    try:
        run(args)
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)


if __name__ == "__main__":
    main()
