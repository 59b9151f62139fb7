#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload query_mix --seed 1 \\
        --seconds 15 --trace 0

Builds the engine and the harness from source (once per source digest),
generates the inputs, runs the workload in one JVM, checks the outputs,
and prints a report followed by one JSON line:
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. The exit code is
non-zero when any output is wrong.

    python3 perfbench/run.py --pin     # re-pin the query fingerprints
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import fingerprint  # noqa: E402
import stats  # noqa: E402

# Reference-module queries whose time is mostly per-query fixed cost
# (build, analysis, planning, job launch), plus the curation pipeline
# whose cache lifecycle the roadmap targets, where shuffle, cache and
# execution dominate.
QUERY_MIX = [
    "q01_filter_status", "q11_join_fk", "q23_monitor_jobs", "q43_rollup",
    "q217_curation_pipeline",
]

# Fixed inputs of the query workloads: their outputs are pinned, so the
# tables do not vary with --seed (the seed orders every pass instead).
QUERY_SCALE = 0.005
QUERY_DATA_SEED = 20240101
# api_with_etl serves 15k jobs (orders) and 10k log rows (events).
API_SCALE = 0.01

# workload -> kind of its metrics
WORKLOADS = {"query_mix": "query", "api_with_etl": "api"}
HEAP = "3g"
PIN_FILE = os.path.join(HERE, "fingerprints.json")
BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def work_dir():
    """Build outputs, inputs and run records (`build.sbt` writes the
    classpath here too)."""
    return os.path.join(ROOT, ".bench_build", "perfbench")


def source_files():
    """Everything the build reads: the engine's build and main sources and
    the harness's own build and sources."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in [os.path.join(ROOT, "project"), os.path.join(HERE, "project")]:
        files += [os.path.join(base, f) for f in sorted(os.listdir(base))
                  if f.endswith((".sbt", ".properties", ".scala"))]
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]:
        for d, _, fs in sorted(os.walk(base)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build(work):
    """Compile engine + harness with sbt unless this source digest is built."""
    stamp = os.path.join(work, "build.digest")
    cp_file = os.path.join(work, "classpath.txt")
    want = digest(source_files())
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == want:
        return open(cp_file).read().strip()
    log(f"building (source digest {want})")
    os.makedirs(work, exist_ok=True)
    res = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                         cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if res.returncode != 0 or not os.path.exists(cp_file):
        raise SystemExit(f"[perfbench] build failed (exit {res.returncode})")
    with open(stamp, "w") as f:
        f.write(want)
    return open(cp_file).read().strip()


def ensure_data(work, name, scale, seed):
    """Generate a table set once per (generator digest, scale, seed)."""
    tag = digest([os.path.join(HERE, "datagen.py")])
    d = os.path.join(work, "data", f"{name}-{scale}-{seed}-{tag}")
    if not os.path.exists(os.path.join(d, "_done")):
        shutil.rmtree(d, ignore_errors=True)
        datagen.write(d, scale, seed)
        open(os.path.join(d, "_done"), "w").close()
    return d


def etl_sources(out_dir, seed, n=6, rows=10_000):
    """Seeded ETL source tables of equal size (all-string records, as the
    rule compiler expects); returns ["file:rows", ...]."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    specs = []
    for i in range(n):
        names = [datagen.WORDS[k] + "_" + str(v) for k, v in
                 zip(rng.integers(0, len(datagen.WORDS), rows), rng.integers(0, 1000, rows))]
        table = pa.table({
            "id": pa.array([str(k) for k in range(rows)]),
            "name": pa.array(names),
            "amount": pa.array([f"{v:.2f}" for v in rng.uniform(0, 1000, rows)]),
            "qty": pa.array([str(v) for v in rng.integers(0, 100, rows)]),
            "note": pa.array([" " * int(p) + w.upper() + "\t" for p, w in
                              zip(rng.integers(0, 3, rows), names)]),
        })
        name = f"etl_src_{i}.parquet"
        pq.write_table(table, os.path.join(out_dir, name))
        specs.append(f"{name}:{rows}")
    return specs


def java(work, classpath, args, timeout):
    """Run perfbench.Main; returns the wall-clock time of the launch, in
    epoch milliseconds."""
    tmp = os.path.join(work, "tmp")
    cmd = (["java", f"-Xmx{HEAP}", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main"] + args)
    launch_ms = time.time() * 1000.0
    res = subprocess.run(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr, timeout=timeout)
    if res.returncode != 0:
        raise SystemExit(f"[perfbench] benchmark process failed (exit {res.returncode})")
    return launch_ms


def fresh(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def check_gate(record, work, pins):
    """Fingerprint every gate-pass output against the pinned one."""
    oks = []
    for g in record["gate"]:
        name = g["name"]
        if g["error"]:
            log(f"FAIL {name}: threw: {g['error']}")
            oks.append(False)
            continue
        try:
            got = fingerprint.of_parquet_dir(os.path.join(work, "out", name))
        except (OSError, ValueError) as e:
            log(f"FAIL {name}: unreadable output: {e}")
            oks.append(False)
            continue
        want = pins.get(name)
        ok = want is not None and got["rows"] == want["rows"] and got["hash"] == want["hash"]
        if not ok:
            log(f"FAIL {name}: rows={got['rows']} hash={got['hash'][:12]} "
                f"pinned={want and (want['rows'], want['hash'][:12])}")
        oks.append(ok)
    return oks


def load_pins():
    with open(PIN_FILE) as f:
        pinned = json.load(f)
    return pinned["queries"]


def run_workload(args):
    kind = WORKLOADS[args.workload]
    work = work_dir()
    classpath = build(work)
    t_start = time.time()
    deadline = t_start + 160
    for d in ("tmp", "out", "etl", "spark-local"):
        fresh(os.path.join(work, d))
    raw = os.path.join(work, f"raw_{args.workload}.json")
    common = ["--mode", "run", "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
              "--out", raw]
    if kind == "query":
        data = ensure_data(work, "query", QUERY_SCALE, QUERY_DATA_SEED)
        extra = ["--data", data, "--queries", ",".join(QUERY_MIX)]
    else:
        data = ensure_data(work, "api", API_SCALE, QUERY_DATA_SEED)
        srcs = etl_sources(os.path.join(work, "etl", "src"), args.seed)
        extra = ["--data", os.path.join(work, "etl", "src"), "--etl-sources", ",".join(srcs),
                 "--api-data", data]
    launch_ms = java(work, classpath, common + extra, timeout=max(30, deadline - time.time()))
    with open(raw) as f:
        record = json.load(f)
    record["launch_ms"] = launch_ms
    record["meta"].update({"seed": args.seed, "git_commit": git_commit(),
                           "source_digest": digest(source_files()),
                           "wall_s": time.time() - t_start})
    return kind, record, work


def report(args, kind, record, work):
    if kind == "query":
        oks = check_gate(record, work, load_pins())
        for w in record["windows"]:
            oks += [s["ok"] for s in w["samples"]]
    else:
        oks = [r["ok"] for r in record["warm"]["requests"]] + [j["ok"] for j in record["warm"]["jobs"]]
        for w in record["windows"]:
            oks += [r["ok"] for r in w["requests"]] + [j["ok"] for j in w["jobs"]]
    attempted, failed, fail_frac = stats.tally(oks)

    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    meta = record["meta"]
    print(f"[perfbench] workload={args.workload} seed={args.seed} nproc={meta['nproc']} "
          f"driver_heap_mb={meta['driver_heap_mb']} spark={meta['spark_version']} "
          f"git_commit={meta['git_commit']} source_digest={meta['source_digest']}")
    print(f"[perfbench] attempted={attempted} failed={failed} fail_frac={fail_frac:.6f}")
    metrics = {}
    if args.trace == 0:
        e2e = stats.end_to_end(kind, record)
        for m in spec["end_to_end"]:
            v = e2e[m["name"]]
            print(f"[perfbench] {m['name']} = {v[0]:.6g} {m['unit']} (n={v[2]}, "
                  f"workload={args.workload})")
            metrics[m["name"]] = {"value": v[0], "unit": m["unit"]}
    else:
        if kind == "query":
            layer = stats.per_layer_query(record, QUERY_MIX)
        else:
            layer = stats.per_layer_api(record)
        layer.update(stats.process_metrics(kind, record))
        for m in spec["per_layer"]:
            v = layer.get(m["name"], 0.0)
            print(f"[perfbench] {m['name']} = {v:.6g} {m['unit']} (workload={args.workload})")
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    with open(os.path.join(work, f"result_{args.workload}_{args.trace}.json"), "w") as f:
        json.dump({"meta": meta, "fail_frac": fail_frac, **result}, f, indent=1)
    print(json.dumps(result))
    return 0 if failed == 0 else 1


def pin():
    """Regenerate fingerprints.json from DuckDB over each query's oracle
    SQL; refuse if Spark's output disagrees with DuckDB's."""
    import duckdb
    work = work_dir()
    classpath = build(work)
    data = ensure_data(work, "query", QUERY_SCALE, QUERY_DATA_SEED)
    for d in ("tmp", "out", "spark-local"):
        fresh(os.path.join(work, d))
    names = QUERY_MIX
    raw = os.path.join(work, "raw_pin.json")
    java(work, classpath, ["--mode", "pin", "--queries", ",".join(names), "--data", data,
                           "--work", work, "--out", raw],
         timeout=1800)
    with open(raw) as f:
        record = json.load(f)
    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    pins, bad = {}, []
    for name in names:
        sql = record["oracle"].get(name)
        if sql is None:
            bad.append(f"{name}: no oracle SQL")
            continue
        want = fingerprint.of_arrow(con.execute(sql).arrow())
        got = fingerprint.of_parquet_dir(os.path.join(work, "out", name))
        if got != want:
            bad.append(f"{name}: spark {got['rows']} rows {got['hash'][:12]} vs "
                       f"duckdb {want['rows']} rows {want['hash'][:12]}")
        pins[name] = want
    if bad:
        for b in bad:
            log("PIN REFUSED " + b)
        return 1
    with open(PIN_FILE, "w") as f:
        json.dump({"scale": QUERY_SCALE, "data_seed": QUERY_DATA_SEED,
                   "datagen_digest": digest([os.path.join(HERE, "datagen.py")]),
                   "source": "duckdb over SparkEntry.oracleSql", "queries": pins}, f, indent=1)
    log(f"pinned {len(pins)} fingerprints")
    return 0


def main():
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin", action="store_true")
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        log("engine sources not found next to the benchmark; nothing to run")
        return 2
    if args.pin:
        return pin()
    if not args.workload:
        ap.error("--workload is required")
    kind, record, work = run_workload(args)
    return report(args, kind, record, work)


if __name__ == "__main__":
    sys.exit(main())
