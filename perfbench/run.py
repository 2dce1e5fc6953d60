#!/usr/bin/env python3
"""Benchmark runner for the engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the JVM side of the benchmark from source (scalac from
the Spark distribution's jars, into `.bench_build/`), generates the
workload's inputs from the seed (gen.py), runs the workload in one JVM
(scala/perfbench/Runner.scala), checks every result against the DuckDB
oracle queries the engine ships (`SparkEntry.oracleSql`), and prints one
line per metric followed by the JSON result line. Workload sizes live in
workloads.json. With `--trace 1` the per-layer metrics are printed instead
of the end-to-end ones, together with each layer's self time and the
tracing overhead against the latest untraced run of the same workload.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    """The Spark jar directory the engine builds against: build.sbt's
    `unmanagedBase`, else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if m:
        return m.group(1)
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise SystemExit("[perfbench] no Spark jars: no unmanagedBase in build.sbt, no SPARK_HOME")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit(f"[perfbench] engine sources not found under {engine}")
    files = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    res = sorted(glob.glob(os.path.join(ROOT, "src", "main", "resources", "*")))
    if not files or not bench:
        raise SystemExit("[perfbench] no sources to build")
    return files + bench, res


def build():
    """Compile engine + benchmark runner once per source tree; returns the
    classes directory."""
    files, res = sources()
    h = hashlib.sha1()
    for f in files + res:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    log(f"building {len(files)} sources into {os.path.relpath(out, ROOT)}")
    t0 = time.time()
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", jars] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit("[perfbench] build failed:\n" + r.stdout[-4000:])
    for f in res:
        shutil.copy(f, out)
    open(os.path.join(out, ".ok"), "w").close()
    log(f"built in {time.time() - t0:.1f} s")
    return out


def gen_inputs(cfg, seed, data):
    import gen
    os.makedirs(data)
    if cfg.get("sf"):
        gen.tables(data, seed, cfg["sf"])
    if "spool" in cfg:
        p = cfg["params"]
        gen.spools(data, seed, cfg["spool"]["warmup"],
                   p["paced_batches"] * p["rows_per_batch"], cfg["spool"]["drain"])


def run_jvm(classes, workload, cfg, data, out, seconds, trace, seed, deadline):
    cpus = len(os.sched_getaffinity(0))
    params = [f"{k}={','.join(v) if isinstance(v, list) else v}"
              for k, v in cfg["params"].items()]
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # no hsperfdata: the JVM would write it under /tmp, outside the checkout
    cmd = (["java", "-XX:-UsePerfData"] + opens + ["-Xmx3g", f"-Djava.io.tmpdir={tmp}",
                               "-cp", f"{classes}{os.pathsep}{os.path.join(spark_jars(), '*')}",
                               "perfbench.Runner", workload, data, out, str(seconds),
                               str(trace), str(seed), str(cpus)]
           + params)
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=out)
        try:
            p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("[perfbench] runner timed out")
    if p.returncode != 0:
        with open(os.path.join(out, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        raise SystemExit(f"[perfbench] runner failed ({p.returncode}):\n{tail}")
    with open(os.path.join(out, "raw.json")) as fh:
        return json.load(fh)


def oracle_check(data, out):
    """{query: (ok, detail)} comparing each dumped result with the DuckDB
    oracle run over the same generated tables."""
    import duckdb
    import pyarrow.parquet as pq
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    if not oracle:
        return {}
    con = duckdb.connect(config={"threads": 4, "temp_directory": os.path.join(out, "duck")})
    for t in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")
    res = {}
    for q, sql in sorted(oracle.items()):
        try:
            got = metrics.table_digest(pq.read_table(os.path.join(out, "results", q)))
            tmp = os.path.join(out, f"oracle_{q}.parquet")
            con.execute(f"COPY ({sql}) TO '{tmp}' (FORMAT PARQUET)")
            want = metrics.table_digest(pq.read_table(tmp))
            res[q] = metrics.check_digest(got, want)
        except Exception as e:  # a query the oracle cannot check counts as failed
            res[q] = (False, f"{type(e).__name__}: {e}")
    con.close()
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + JVM_TIMEOUT_S
    with open(os.path.join(HERE, "workloads.json")) as fh:
        cfg = json.load(fh)[a.workload]
    classes = build()
    deadline = max(deadline, time.time() + JVM_TIMEOUT_S - 30)
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
    try:
        gen_inputs(cfg, a.seed, data)
        os.makedirs(out)
        raw = run_jvm(classes, a.workload, cfg, data, out, a.seconds, a.trace, a.seed, deadline)
        oracle = oracle_check(data, out)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    units = {m["name"]: m["unit"] for m in declared["end_to_end"] + declared["per_layer"]}
    oracle_ok = {q: ok for q, (ok, _) in oracle.items()}
    ops = [o for o in raw["ops"] if o["phase"] != "setup"]
    attempted, failed = metrics.failures(ops, oracle_ok, raw["checks"])
    attempted += len(raw["batches"])  # a micro-batch that throws stops the run
    e2e = metrics.end_to_end(raw, a.workload)
    samples = e2e.pop("_samples")
    report = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "end_to_end": e2e, "latency_samples_ms": samples,
              "tail_percentile": metrics.tail(samples)[1],
              "attempted": attempted, "failed": failed,
              "failed_ratio": failed / attempted,
              "checks": raw["checks"],
              "oracle": {q: d for q, (ok, d) in oracle.items() if not ok},
              "errors": {o["query"]: o["error"] for o in raw["ops"] if o["error"]},
              "warm_ms": metrics.warm_medians(ops)}
    reports = os.path.join(BUILD, "reports")
    os.makedirs(reports, exist_ok=True)
    untraced = os.path.join(reports, f"{a.workload}-untraced.json")
    if a.trace:
        spans = raw["spans"] + metrics.stream_spans(raw["progress"])
        values = metrics.per_layer(raw, a.workload, [m["name"] for m in declared["per_layer"]])
        report.update(per_layer=values, self_ms=metrics.self_times(spans), spans=spans)
        if os.path.exists(untraced):
            with open(untraced) as fh:
                ref = json.load(fh)["end_to_end"]
            report["tracing_overhead"] = {k: e2e[k] - ref[k] for k in e2e}
        for k, v in sorted(report["self_ms"].items()):
            print(f"self_ms {k} {v:.1f}")
        for k, v in report.get("tracing_overhead", {}).items():
            print(f"tracing_overhead {k} {v:+.4f} {units[k]}")
    else:
        values = e2e
        with open(untraced, "w") as fh:
            json.dump(report, fh, indent=1)
    with open(os.path.join(reports, f"{a.workload}-trace{a.trace}-seed{a.seed}.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    declared_names = {m["name"] for m in declared["per_layer" if a.trace else "end_to_end"]}
    if set(values) != declared_names:
        raise SystemExit(f"[perfbench] metrics differ from BENCHMARK.json: "
                         f"{sorted(set(values) ^ declared_names)}")
    result = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    print(f"attempted {attempted} failed {failed} failed_ratio {failed / attempted:.4f}")
    for k, v in result.items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": result}))

if __name__ == "__main__":
    main()
