#!/usr/bin/env python3
"""Benchmark of the FFI export ETL engine: one command, one workload.

    python3 perfbench/run.py --workload ffi_backlog|query_mix \
        --seed N --seconds S --trace 0|1

Builds the engine from the checkout's sources (first run only), makes the
workload's inputs from the seed, then runs one JVM that sets up several
times and runs the timed loop, untraced, or traced with --trace 1.
Outputs are checked (FFI exports: every target table's row count against
the generator; queries: row count against the DuckDB oracle). A report
with every metric and its unit goes to stdout, and the last line is one
JSON object: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. See perfbench/README.md for the design.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

CORES = min(4, os.cpu_count() or 1)
HEAP = "3g"
JVM_FLAGS = [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC"]
SF = 0.1
# FFI database mid-backlog: keys of the first 10 plots already loaded, the
# export holds 12 plots (cumulative snapshot, ~1.1 MB)
FFI_PLOTS = (10, 12)
# query sample: per family (read queries, lake DML queries) a fixed core of
# one query per cost band, plus seeded picks from the cheapest read decile
CORE_BANDS = (7, 3)
ROTATING = 2
LAKE_PREFIXES = ("q_catalog_", "q_lake_", "q_view_")
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
END_TO_END = {"setup_s": "s", "wall_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "etl.extract_s": "s", "etl.extract_jobs": "count", "etl.idents_s": "s",
    "etl.transform_s": "s", "etl.transform_jobs": "count", "etl.project_s": "s",
    "etl.archive_s": "s",
    "sinks.reflect_s": "s", "sinks.load_s": "s", "sinks.load_jobs": "count",
    "sinks.rows_inserted": "count", "sinks.insert_ratio": "share",
    "queries.build_s": "s", "queries.execute_s": "s",
    "engine.analysis_s": "s", "engine.optimization_s": "s", "engine.planning_s": "s",
    "engine.jobs": "count", "engine.stages": "count", "engine.tasks": "count",
    "engine.driver_gap_s": "s", "engine.task_s": "s", "engine.gc_s": "s",
    "engine.shuffle_mb": "MB", "engine.spill_mb": "MB",
    "engine.single_task_stage_share": "share",
    "sources.labelled_job_s": "s", "sources.files_written": "count",
    "sources.mb_written": "MB", "trace.span_gap_s": "s", "trace.overhead_s": "s"}


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def _sources():
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, _, fs in sorted(os.walk(r)):
            for f in sorted(fs):
                yield os.path.join(d, f)


def build() -> str:
    """Compile the engine plus the driver once per source state; return the
    runtime classpath."""
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala")):
        raise SystemExit("perfbench: engine sources not found next to perfbench/")
    h = hashlib.sha256()
    for p in _sources():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and "SBT_OPTS" not in os.environ:
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log("perfbench: building (first run in this checkout)")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    lines = [l for l in out.stdout.splitlines() if l.startswith(os.sep) and ".jar" in l]
    if out.returncode != 0 or not lines:
        log(out.stdout[-4000:] + out.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def tables_dir(sf: float) -> str:
    """The parquet star schema at scale `sf`, generated once per checkout."""
    d = os.path.join(WORK, f"data_sf{sf}")
    if not os.path.exists(os.path.join(d, "_done")):
        import gen_tables
        shutil.rmtree(d, ignore_errors=True)
        gen_tables.generate(d, sf)
        open(os.path.join(d, "_done"), "w").close()
    return d


# ------------------------------------------------------------------ inputs

def query_sample(seed: int) -> list:
    """The queries one run executes. The declared queries split into two
    families (reads over parquet; the q_catalog_/q_lake_/q_view_ lake DML
    family); within a family they are sorted by recorded cold time
    (query_costs.json) and cut into CORE_BANDS equal-size bands, and each
    band's median query joins the core, the same for every seed. The seed
    adds ROTATING queries from the cheapest tenth of the read family:
    seeds differ, while the run's cost and its median stay put. Order: by
    name."""
    with open(os.path.join(HERE, "query_costs.json")) as f:
        costs = json.load(f)["cold_s"]
    picks = []
    for lake, bands in zip((False, True), CORE_BANDS):
        ranked = sorted((n for n in costs if n.startswith(LAKE_PREFIXES) == lake),
                        key=lambda n: (costs[n], n))
        picks += [ranked[(2 * i + 1) * len(ranked) // (2 * bands)] for i in range(bands)]
        if not lake:
            cheap = [n for n in ranked[:len(ranked) // 10] if n not in picks]
            picks += random.Random(seed).sample(cheap, ROTATING)
    return sorted(picks)


# ------------------------------------------------------------------ run

def run_jvm(args, cp: str, extra: list) -> dict:
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    out = os.path.join(WORK, f"result_{args.workload}_{args.seed}_{args.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = (["java"] + ADD_OPENS + JVM_FLAGS + [
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        f"-Dderby.stream.error.file={os.path.join(WORK, 'derby.log')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(CORES), "--work", WORK, "--out", out] + extra)
    if args.inject_failure:
        cmd.append("--inject-failure")
    log_path = os.path.join(WORK, f"jvm_{args.workload}.log")
    with open(log_path, "w") as logf:
        proc = subprocess.run(cmd, cwd=WORK, stdout=logf, stderr=subprocess.STDOUT,
                              timeout=165)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path) as f:
            log(f.read()[-3000:])
        raise SystemExit(f"perfbench: benchmark JVM failed (exit {proc.returncode})")
    with open(out) as f:
        return json.load(f)


def oracle_counts(data: str, oracle: dict) -> dict:
    """Row count of each oracle query over the same parquet tables (DuckDB),
    cached per checkout since the tables are fixed."""
    cache_path = os.path.join(WORK, "oracle_counts.json")
    cache = json.load(open(cache_path)) if os.path.exists(cache_path) else {}
    todo = {n: s for n, s in oracle.items()
            if hashlib.sha256((data + s).encode()).hexdigest() not in cache}
    if todo:
        import duckdb
        con = duckdb.connect()
        for t in ("region nation customer supplier part orders lineitem events "
                  "documents embeddings").split():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        for n, s in todo.items():
            key = hashlib.sha256((data + s).encode()).hexdigest()
            try:
                cache[key] = con.sql(f"SELECT count(*) FROM ({s}) AS oracle").fetchone()[0]
            except Exception as e:  # an oracle that cannot run fails its query
                cache[key] = f"oracle error: {str(e).splitlines()[0][:160]}"
        with open(cache_path, "w") as f:
            json.dump(cache, f)
    return {n: cache[hashlib.sha256((data + s).encode()).hexdigest()] for n, s in oracle.items()}


def check_queries(ops: list, data: str, oracle: dict) -> None:
    """Mark an op failed when its row count differs from the oracle's."""
    counts = oracle_counts(data, oracle)
    for o in ops:
        want = counts.get(o["name"])
        if o["ok"] and want is not None and want != o["rows"]:
            o["ok"] = False
            o["error"] = f"rows {o['rows']} != oracle {want}"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ffi_backlog", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject-failure", action="store_true",
                    help="add one operation that throws (benchmark self-test)")
    args = ap.parse_args(argv)

    cp = build()
    if args.workload == "ffi_backlog":
        data, sample = None, []
        extra = ["--plots", ",".join(map(str, FFI_PLOTS))]
    else:
        data, sample = tables_dir(SF), query_sample(args.seed)
        extra = ["--data", data, "--ops", ",".join(sample)]
    res = run_jvm(args, cp, extra)

    ops = res["run"]["ops"]
    if data:
        check_queries(ops, data, res["extra"]["oracle"])
    good = [o for o in ops if o["ok"]]
    failed = [o for o in ops if not o["ok"]]
    lat = [o["s"] for o in good]
    e2e = {
        "setup_s": median(res["setup_s"]),
        "wall_s": median(res["run"]["passes"]),
        "peak_rss_mb": res["peak_rss_mb"],
    }

    print(f"perfbench workload={args.workload} seed={args.seed} cores={CORES} heap={HEAP} "
          f"trace={args.trace} closed loop, 1 client, {len(res['run']['passes'])} pass(es)")
    if data:
        print(f"  inputs: sf{SF} tables; {len(sample)} sampled queries: {' '.join(sample)}")
    else:
        print(f"  inputs: one cumulative export, {FFI_PLOTS[1]} plots, "
              f"{res['extra']['export_bytes'] / 1e6:.3f} MB, {res['extra']['staged']} rows "
              f"staged; schema holds the keys of the first {FFI_PLOTS[0]} plots")
    for k, v in e2e.items():
        print(f"  {k:<16} {v:12.4f} {END_TO_END[k]}")
    print(f"  {'op_p50_s':<16} {median(lat):12.4f} s ({len(lat)} samples)")
    print(f"  {'op_p90_s':<16} " + (
        f"{statistics.quantiles(lat, n=10)[8]:12.4f} s" if len(lat) >= 100
        else f"{'n/a':>12}   ({len(lat)} samples; ten beyond p90 need 100)"))
    if not data:
        mb = sum(o["extra"]["bytes"] for o in good) / 1e6
        print(f"  {'xml_mb_per_s':<16} {mb / sum(lat) if lat else 0.0:12.4f} MB/s")
    print(f"  {'failed_share':<16} {len(failed) / len(ops):12.4f} share "
          f"({len(failed)} of {len(ops)} operations failed)")
    for o in failed:
        print(f"    failed {o['name']}: {o['error'][:200]}")

    if args.trace:
        layers = res["layers"]
        print("  (the figures above are of the traced run) per operation:")
        for k, u in PER_LAYER.items():
            print(f"    {k:<32} {layers[k]:12.4f} {u}")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}

    print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": len(failed),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
