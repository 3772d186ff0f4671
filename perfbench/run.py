#!/usr/bin/env python3
"""Benchmark of the Delta Sharing client and the declared query surface.

    python3 perfbench/run.py --workload share_http --seed 1 --seconds 5 --trace 0

Builds the engine and the runner from source (first run only), re-lays
the shared table (once), runs the runner JVM, checks every op's
output against DuckDB, and prints as the last stdout line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics, with --trace 1 the per-layer
metrics. Exits non-zero if an output check fails. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen_data  # noqa: E402
import oracle  # noqa: E402

# The project's fixture tables (TESTDATA.md): sf0.01 is the DuckDB-oracle
# correctness data, sf0.1 the bench data. Read only.
TESTDATA = "/root/testdata"
# JVM heap: every input is a few MB (README "Sizes").
HEAP = "3g"
# A run, less the first run's build, must end within 180 s.
DEADLINE_S = 170
SHARE_KINDS = ["scan_full", "scan_pruned", "catalog"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _source_stamp():
    h = hashlib.sha256()
    for top in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the runner unless the sources are unchanged;
    returns the java command prefix."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("perfbench: the engine's sources (../build.sbt, ../src) are not here")
    launch = os.path.join(HERE, "target", "launch")
    stamp = _source_stamp()
    stamp_path = os.path.join(launch, "stamp")
    if not (os.path.exists(stamp_path) and open(stamp_path).read() == stamp):
        log("perfbench: building the engine and the runner")
        env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
        env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Dsbt.override.build.repos=true",
                                    "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"])
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL)
        if r.returncode != 0:
            raise SystemExit(f"perfbench: build failed ({r.returncode})")
        with open(stamp_path, "w") as fh:
            fh.write(stamp)
    with open(os.path.join(launch, "classpath.txt")) as fh:
        cp = fh.read().strip()
    with open(os.path.join(launch, "jvm_opts.txt")) as fh:
        jvm = [l for l in fh.read().split("\n") if l]
    return ["java", *jvm, f"-Xmx{HEAP}", "-cp", cp]


# ---------------------------------------------------------------- inputs

def _fixture(name):
    sf = os.path.join(TESTDATA, name)
    if not os.path.isfile(os.path.join(sf, "lineitem.parquet")):
        raise SystemExit(f"perfbench: the fixture tables {sf} are missing")
    return sf


def inputs(workload):
    """(runner arguments, oracle data dir, shared-file bytes) of a workload."""
    if workload == "share_http":
        sf = _fixture("sf0.1")
        share = gen_data.ensure_share(sf, os.path.join(WORK, "data", "share32"))
        with open(os.path.join(share, "manifest.json")) as fh:
            size = sum(f["size"] for f in json.load(fh)["files"])
        return ["--share-dir", share], sf, size
    if workload == "surface_small":
        sf = _fixture("sf0.01")
        return ["--data-dir", sf], sf, 0
    raise SystemExit(f"perfbench: unknown workload {workload}")


# ---------------------------------------------------------------- checks

def check(result, out_dir, data_dir):
    """Failed ops: {op id: reason}. An op fails if it throws or if its
    warm-up output differs from DuckDB's; an op without oracle SQL fails
    if its warm-up output has no rows. The settling and timed passes use
    the noop sink, which reports no rows, so they are checked for
    exceptions only."""
    orc = oracle.Oracle(data_dir, os.path.join(WORK, "expected"))
    con = oracle.connect(data_dir)
    failed = {}
    for op in result["warm"]:
        if op["error"]:
            failed[op["id"]] = "threw in warm-up: " + op["error"][:300]
            continue
        try:
            names, rows, dig = oracle.actual(con, os.path.join(out_dir, "warm", op["id"]))
            if not op["sql"]:  # rows-only: no oracle SQL exists
                if rows == 0:
                    failed[op["id"]] = "rows-only check: no rows"
                continue
            exp = orc.expected(op)
        except Exception as e:  # an unreadable output or oracle error fails the op
            failed[op["id"]] = f"check error: {e}"[:300]
            continue
        if names != exp["names"]:
            failed[op["id"]] = f"columns {names} != oracle {exp['names']}"
        elif rows != exp["rows"] or dig != exp["digest"]:
            failed[op["id"]] = f"rows/digest {rows}/{dig} != oracle {exp['rows']}/{exp['digest']}"
    for r in result["settle"] + [r for p in result["passes"] for r in p["ops"]]:
        if r["error"]:
            failed.setdefault(r["id"], "threw: " + r["error"][:300])
    return failed


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def op_times(passes, failed, kinds=None):
    return [r["seconds"] for p in passes for r in p["ops"]
            if r["id"] not in failed and (kinds is None or r["kind"] in kinds)]


def end_to_end(result, failed):
    untraced = [p for p in result["passes"] if not p["traced"]]
    ops = op_times(untraced, failed)
    return {
        # the earlier set-ups still pay class loading and JIT warm-up
        "setup_s": (median(result["setup_s"][-4:]), "s"),
        "pass_s": (median([p["seconds"] for p in untraced]), "s"),
        "op_p50_s": (median(ops), "s"),
        "heap_live_mb": (result["heap_live_mb"], "MB"),
    }


def per_layer(result, failed, share_bytes, bases):
    untraced = [p for p in result["passes"] if not p["traced"]]
    traced = [p for p in result["passes"] if p["traced"]]
    recs = [r for p in traced for r in p["ops"] if r["id"] not in failed]
    n = max(1, len(recs))

    def total(k):
        return sum(r["layers"].get(k, 0.0) for r in recs)

    def mean(k):
        return total(k) / n

    def ratio(a, b):
        return total(a) / total(b) if total(b) else 0.0

    # connector layers are averaged over the ops that ran a connector scan
    scans = [r for r in recs if r["layers"].get("scan.scans")]

    def per_scan(k):
        return sum(r["layers"].get(k, 0.0) for r in scans) / max(1, len(scans))

    m = {
        "client.query_posts": (mean("client.query"), "count"),
        "client.metadata_gets": (mean("client.metadata"), "count"),
        "client.list_gets": (mean("client.list"), "count"),
        "client.rest_ms": (mean("client.rest_ms"), "ms"),
        "scan.files_listed": (per_scan("scan.files_listed"), "count"),
        "scan.files_planned": (per_scan("scan.files_planned"), "count"),
        "scan.prune_ratio": (ratio("scan.files_planned", "scan.files_listed"), "ratio"),
        "scan.plan_ms": (per_scan("planner.optimization_ms") + per_scan("planner.planning_ms"),
                         "ms"),
        "objstore.gets": (per_scan("objstore.gets"), "count"),
        "objstore.gets_per_file": (ratio("objstore.gets", "scan.files_planned"), "ratio"),
        "objstore.bytes_sent_mb": (per_scan("objstore.bytes_sent_mb"), "MB"),
        "objstore.bytes_needed_mb": (per_scan("objstore.bytes_needed_mb"), "MB"),
        "objstore.read_amp": (ratio("objstore.bytes_sent_mb", "objstore.bytes_needed_mb"), "ratio"),
        "objstore.wait_ms": (per_scan("objstore.wait_ms"), "ms"),
        "objstore.inflight_max": (max([r["layers"].get("objstore.inflight_max", 0.0)
                                       for r in recs] or [0.0]), "count"),
    }
    for k in ["construct_ms", "analysis_ms", "optimization_ms", "planning_ms"]:
        m[f"planner.{k}"] = (mean(f"planner.{k}"), "ms")
    for k, unit in [("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                    ("job_ms", "ms"), ("task_cpu_ms", "ms"), ("shuffle_write_mb", "MB"),
                    ("shuffle_read_mb", "MB"), ("spill_mb", "MB"), ("gc_ms", "ms"),
                    ("input_mb", "MB"), ("codegen_compiles", "count")]:
        m[f"exec.{k}"] = (mean(f"exec.{k}"), unit)
    m["artifacts.persisted_rdds"] = (result["artifacts"]["persisted_rdds"], "count")
    m["artifacts.persisted_mb"] = (result["artifacts"]["persisted_mb"], "MB")
    for f in result["families"]:
        m[f"queries.{f}_s"] = (median([sum(r["seconds"] for r in p["ops"]
                                           if r["kind"] == f and r["id"] not in failed)
                                       for p in untraced]), "s")
    for k in SHARE_KINDS:
        m[f"share.{k}_p50_s"] = (median(op_times(untraced, failed, {k})), "s")
    full = median(op_times(untraced, failed, {"scan_full"}))
    m["share.scan_mb_per_s"] = (share_bytes / 1048576.0 / full if full else 0.0, "MB/s")
    for layer in ["queries", "planner", "exec", "client", "objstore"]:
        m[f"self.{layer}_ms"] = (mean(f"self.{layer}_ms"), "ms")
    pu = median([p["seconds"] for p in untraced])
    pt = median([p["seconds"] for p in traced])
    m["trace.pass_untraced_s"] = (pu, "s")
    m["trace.pass_traced_s"] = (pt, "s")
    m["trace.overhead_s"] = (pt - pu, "s")
    bases["scan.prune_ratio"] = {"files_planned": total("scan.files_planned"),
                                 "files_listed": total("scan.files_listed")}
    bases["objstore.read_amp"] = {"bytes_sent_mb": total("objstore.bytes_sent_mb"),
                                  "bytes_needed_mb": total("objstore.bytes_needed_mb")}
    m["context.calib_s"] = (result["calib_s"], "s")
    m["context.load1m"] = (result["load1m"], "load")
    return m


# ---------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    java = build()  # the first run in a checkout may take longer: it builds
    t_start = time.monotonic()
    args, data_dir, share_bytes = inputs(a.workload)
    out_dir = os.path.join(WORK, "out", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    cmd = java + ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", out_dir, *args]
    with open(os.path.join(out_dir, "runner.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=HERE)
        try:
            rc = proc.wait(timeout=max(10.0, DEADLINE_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: the runner exceeded the run deadline; see {logf.name}")
    if rc != 0:
        with open(os.path.join(out_dir, "runner.log")) as fh:
            log("".join(fh.readlines()[-30:]))
        raise SystemExit(f"perfbench: the runner exited {rc}")
    with open(os.path.join(out_dir, "result.json")) as fh:
        result = json.load(fh)

    failed = check(result, out_dir, data_dir)
    attempted = sum(len(p["ops"]) for p in result["passes"])
    n_failed = sum(1 for p in result["passes"] for r in p["ops"] if r["id"] in failed)
    bases = {}
    metrics = per_layer(result, failed, share_bytes, bases) if a.trace else end_to_end(result, failed)
    untraced_ops = op_times([p for p in result["passes"] if not p["traced"]], failed)
    summary = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "failed_frac": n_failed / attempted if attempted else 0.0,
        "attempted": attempted, "failed": n_failed, "failed_ops": failed,
        "passes": len(result["passes"]), "op_samples": len(untraced_ops),
        "setup_runs_s": result["setup_s"],
        "warmup_s": sum(w["seconds"] for w in result["warm"]),
        "calib_s": result["calib_s"], "load1m": result["load1m"],
        "rss_peak_mb": result["rss_peak_mb"], "codegen_classes": result["codegen_classes"],
        "trace_file": os.path.join(out_dir, "trace.json") if a.trace else None,
        "ratio_bases": bases,
    }
    print(json.dumps({"summary": summary}))
    correct = not failed
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": n_failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
