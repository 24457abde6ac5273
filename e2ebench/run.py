#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 e2ebench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt and generates the workload data; later runs
reuse both. Everything the benchmark writes stays under e2ebench/work/
(and the sbt target directories). Workloads, metrics and the output
checks are described in e2ebench/README.md.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. A line
`# context ...` before it carries the scheduler floor of the run.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / "work"
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text()) if (ROOT / "BENCHMARK.json").is_file() else None
WORKLOADS = ("nba-medallion", "registry-serve")
# The star-schema tables are fixed; a run's seed permutes the query order.
TABLES_SEED = 42
TABLES_SF = 0.05
HEAP = "3g"
JVM_TIMEOUT_S = 170


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def cores():
    return min(4, len(os.sched_getaffinity(0)))


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.is_file():
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    return env


def newest_source():
    roots = [ROOT / "build.sbt", ROOT / "src" / "main", BENCH / "build.sbt", BENCH / "src"]
    stamps = [p.stat().st_mtime for r in roots if r.exists()
              for p in ([r] if r.is_file() else r.rglob("*")) if p.is_file()]
    return max(stamps)


def build():
    """Compile the program and the harness; return the java command prefix."""
    launch = BENCH / "target" / "launch.txt"
    if not launch.is_file() or launch.stat().st_mtime < newest_source():
        log("[e2ebench] building program and harness with sbt")
        subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                       cwd=BENCH, env=sbt_env(), check=True, stdout=sys.stderr,
                       stdin=subprocess.DEVNULL)
    classpath, *opts = launch.read_text().splitlines()
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}", *opts,
            "-cp", classpath]


def java(prefix, main, args):
    subprocess.run(prefix + [main] + args, check=True, stdout=sys.stderr,
                   stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S)


def prepare(workload, seed):
    """Generate (or reuse) the inputs of the workload; return the data dir.
    A data dir is keyed by the workload's seed and its generator's source."""
    data = WORK / "data"
    data.mkdir(parents=True, exist_ok=True)
    if workload == "nba-medallion":
        gen = BENCH / "gen_bronze.py"
        out = data / f"nba-{seed}-{source_hash(gen)}"
        if not (out / "expected_counts.properties").is_file():
            for old in data.glob("nba-*"):
                shutil.rmtree(old)
            subprocess.run([sys.executable, str(gen), str(out), "--seed", str(seed)], check=True)
        return out
    gen = BENCH / "gen_tables.py"
    tables = data / f"tables-sf{TABLES_SF}-{TABLES_SEED}-{source_hash(gen)}"
    if not (tables / "embeddings.parquet").is_file():
        for old in data.glob("tables-*"):
            shutil.rmtree(old)
        subprocess.run([sys.executable, str(gen), str(tables),
                        "--seed", str(TABLES_SEED), "--sf", str(TABLES_SF)], check=True)
    return tables


def source_hash(source):
    """Short hash of a file's bytes or of a string."""
    raw = source.read_bytes() if isinstance(source, Path) else source.encode()
    return hashlib.sha256(raw).hexdigest()[:12]


def oracle_failures(data):
    """Compare the query results under work/out with their DuckDB oracles
    (SparkEntry.oracleSql) by running the repository's tools/check_oracle.py;
    return (queries compared, failures, seconds taken).

    Running the oracles takes 6-10 s a run, a seventh of a registry-serve
    run, so each oracle's result is kept as parquet under work/oracle/,
    keyed by the tables and the oracle's SQL text, and check_oracle.py is
    handed a read of that file in place of the SQL."""
    out = WORK / "out"
    oracle_sql = out / "oracle_sql.json"
    sql = json.loads(oracle_sql.read_text())
    t0 = time.time()
    cached = dict(sql)
    for name, q in sql.items():
        if q is not None:
            path = WORK / "oracle" / f"{name}-{source_hash(data.name + chr(0) + q)}.parquet"
            if path.is_file() or run_oracle(data, q, path):
                cached[name] = f"SELECT * FROM '{path}'"
    oracle_sql.write_text(json.dumps(cached, indent=1))
    proc = subprocess.run([sys.executable, str(ROOT / "tools" / "check_oracle.py"), str(data), str(out)],
                          cwd=WORK, capture_output=True, text=True, timeout=JVM_TIMEOUT_S)
    seconds = time.time() - t0
    failures = [ln[len("FAIL "):] for ln in proc.stdout.splitlines() if ln.startswith("FAIL ")]
    if proc.returncode != 0 and not failures:
        failures = [f"check_oracle.py exited {proc.returncode}: {proc.stderr.strip()[-500:]}"]
    return len(sql), failures, seconds


def run_oracle(data, sql, path):
    """Write the result of one oracle query on the tables under `data` to
    `path`; False if DuckDB rejects it (check_oracle.py then reports it)."""
    import duckdb
    path.parent.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect(config={"threads": cores(), "memory_limit": "2GB",
                                 "temp_directory": str(WORK / "tmp")})
    try:
        for table in sorted(data.glob("*.parquet")):
            con.execute(f"CREATE VIEW {table.stem} AS SELECT * FROM '{table}'")
        tmp = path.with_suffix(".tmp")
        con.execute(f"COPY ({sql}) TO '{tmp}' (FORMAT parquet)")
        tmp.rename(path)
        return True
    except duckdb.Error:
        return False
    finally:
        con.close()


def run(args):
    program = (ROOT / "build.sbt", ROOT / "src" / "main" / "scala", ROOT / "tools" / "check_oracle.py")
    if not all(p.exists() for p in program):
        sys.exit("e2ebench: no program source next to the benchmark; run from a full checkout")
    if SPEC is None:
        sys.exit("e2ebench: BENCHMARK.json not found at the checkout root")
    WORK.mkdir(parents=True, exist_ok=True)
    with open(WORK / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        jvm = build()
        data = prepare(args.workload, args.seed)
        for stale in ("out", "gold", "tables", "warehouse", "spark-local"):
            shutil.rmtree(WORK / stale, ignore_errors=True)
        out = WORK / "result.json"
        out.unlink(missing_ok=True)
        java(jvm, "e2ebench.Main", [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", str(data), "--work", str(WORK), "--cores", str(cores()),
            "--out", str(out)])
        res = json.loads(out.read_text())
        attempted, failures, oracle_s = res["attempted"], list(res["failures"]), 0.0
        if args.workload != "nba-medallion":
            compared, wrong, oracle_s = oracle_failures(data)
            attempted += compared
            failures += wrong
    for f in failures:
        log(f"[e2ebench] FAILED {f}")
    got = res["metrics"]
    names = SPEC["per_layer"] if args.trace else SPEC["end_to_end"]
    metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in names}
    print(f"# context workload={args.workload} seed={args.seed} "
          f"sched_floor_s={got['spark.sched_floor_s']} warm_passes={res['warm_passes']} "
          f"check_s={res['check_s']:.3f} oracle_s={oracle_s:.3f}")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


def main():
    ap = argparse.ArgumentParser(description="Run one e2ebench workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    t0 = time.time()
    run(ap.parse_args())
    log(f"[e2ebench] wall {time.time() - t0:.1f}s")


if __name__ == "__main__":
    main()
