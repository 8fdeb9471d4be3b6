#!/usr/bin/env python3
"""Repository benchmark: two seeded workloads over the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the benchmark
package (perfbench/build.sbt, which compiles ../src/main/scala with it)
into $CARGO_TARGET_DIR or .bench_build; later runs reuse that build while
the sources are unchanged. Each run starts one JVM at local[<cores>],
makes its inputs from the seed, sets up, measures for --seconds, checks
the outputs outside the timed region and prints one JSON line last.
See perfbench/README.md for the workloads and metrics.
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
sys.path.insert(0, HERE)

WORKLOADS = ("taxi_etl_month", "query_mix")
# fixture scenarios x copies = raw rows of the synthetic January
COPIES = 10000
HEAP = "3g"
JVM_TIMEOUT_S = 160
# a fixed heap: a heap that grows when G1 chooses changes how often it
# collects, and with it the op times
JVM_FLAGS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Compile the benchmark with the program's sources; returns the class
    directory. Skipped while the sources are unchanged since the last build."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise BenchError("no program sources (src/main/scala) next to perfbench/")
    if not os.environ.get("SPARK_HOME"):
        raise BenchError("SPARK_HOME is not set")
    target = os.path.join(build_dir, "sbt")
    classes = os.path.join(target, "scala-2.13", "classes")
    stamp = os.path.join(build_dir, "sources.sha256")
    digest = sources_digest()
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    if os.path.exists(stamp):
        os.remove(stamp)
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false",
                             f"-Dperfbench.target={target}", "compile"],
                            cwd=HERE, stdout=fh, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        raise BenchError(f"build failed (exit {rc}), see {log}")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


def run_workload(classes, work, workload, seed, seconds, trace, copies, spans):
    """Make the workload's inputs under `work` and run its JVM; returns the
    JVM's run record."""
    os.makedirs(os.path.join(work, "tmp"))
    args = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
            "cores": len(os.sched_getaffinity(0)), "work": work, "copies": copies,
            "record": os.path.join(work, "record.json"), "spans": spans,
            "results": os.path.join(work, "results.jsonl"),
            "catalog": os.path.join(work, "catalog")}
    if workload == "query_mix":
        import catalog_data
        os.makedirs(args["catalog"])
        catalog_data.write(args["catalog"], seed)
    cp = os.pathsep.join([classes, os.path.join(os.environ["SPARK_HOME"], "jars", "*")])
    cmd = ["java", *JVM_FLAGS,
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", cp, "perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        raise BenchError(f"benchmark JVM failed ({rc})")
    with open(args["record"]) as fh:
        return json.load(fh)


def mix_failures(record, work):
    """Failed query_mix requests: thrown, a taxi result unlike DuckDB's, or
    a catalog entry whose checked output is unlike its oracle's."""
    from catalog_check import check_entries
    from taxi_check import check_results
    taxi = check_results(os.path.join(work, "raw", "taxi.parquet", "*.parquet"),
                         os.path.join(work, "results.jsonl"))
    catalog = check_entries(os.path.join(work, "catalog"), os.path.join(work, "out"),
                            record["info"]["oracle"])
    failed = sum(1 for r in record["info"]["requests"]
                 if not r["ok"] or taxi.get(r["variant"]) or catalog.get(r["name"]))
    checks = [{"name": f"taxi_result_{i}", "ok": not why, "detail": why}
              for i, why in sorted(taxi.items())]
    checks += [{"name": n, "ok": not why, "detail": why} for n, why in sorted(catalog.items())]
    return failed, checks


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                                os.path.join(ROOT, ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classes = build(build_dir)

    t0 = time.time()
    work = os.path.join(build_dir, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    trace_dir = os.path.join(build_dir, "trace")
    os.makedirs(trace_dir, exist_ok=True)
    stem = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}")
    try:
        rec = run_workload(classes, work, a.workload, a.seed, a.seconds, a.trace, COPIES,
                           spans=stem + ".spans.jsonl")
        t_check = time.time()
        failed, checks = rec["failed"], rec["checks"]
        if a.workload == "query_mix":
            failed, extra = mix_failures(rec, work)
            checks += extra
        rec["info"]["phase.py_checks_ms"] = (time.time() - t_check) * 1000
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(stem + ".record.json", "w") as fh:
        json.dump(dict(rec, checks=checks), fh)
    attempted = rec["attempted"]
    correct = failed == 0 and all(c["ok"] for c in checks)
    ops = rec["ops_ms"]
    canary = rec["canary_ms"]
    info = {k: v for k, v in rec["info"].items()
            if k not in ("requests", "oracle", "stage_counts")}
    info.update({"ops": len(ops), "failed_frac": failed / attempted, "canary_ms": canary,
                 "host_degraded": canary[1] > canary[0],
                 "phase.jvm_launch_ms": rec["jvm_start_ms"] - t0 * 1000,
                 "failed_checks": [c for c in checks if not c["ok"]][:5]})
    if a.trace:
        layers = dict(rec["layers"], failed_frac=failed / attempted)
        layers.update({"host.canary_start_ms": canary[0], "host.canary_end_ms": canary[1]})
        names = spec["per_layer"]
    else:
        layers = {
            "setup_s": (rec["setup_end_ms"] - t0 * 1000) / 1000,
            "op_p50_ms": statistics.median(ops),
            "ops_per_s": len(ops) / (sum(ops) / 1000),
            "live_mem_mb": rec["live_mem_mb"],
        }
        names = spec["end_to_end"]
    metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in names}
    print("info " + json.dumps(info, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    try:
        main()
    except (BenchError, OSError, KeyError, ValueError) as e:
        sys.stderr.write(f"perfbench: {e}\n")
        sys.exit(2)
