#!/usr/bin/env python3
"""The repository benchmark: runs one workload of registered queries through
`graft.Sessions.local` and `graft.SparkEntry.queries`, checks every result
against its DuckDB oracle, and prints one JSON line of metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the library and
the harness from source with sbt (offline); later runs reuse the build
while the sources are unchanged. Build outputs, inputs, oracle results and
run directories live under `.bench_build/`. The fixture comes from
$PERFBENCH_FIXTURE (default ~/testdata/sf0.1, where the fixtures are installed).

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
listeners and the log appender are attached and the metrics are the
per-layer ones. Everything measured, per query, is also written to
`.bench_build/results/<workload>-s<seed>-t<trace>.json`.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import random
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import replica  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
FIXTURE = os.environ.get("PERFBENCH_FIXTURE", os.path.expanduser("~/testdata/sf0.1"))
CPUS = str(len(os.sched_getaffinity(0)))  # what `nproc` reports

# Each workload is a subset of its query family, sized so that one run
# (set-up, cold pass, warm reps and the oracle compare) takes about a minute
# on a 4-core host; see perfbench/README.md for the families and the cut.
WORKLOADS = {  # name -> (queries, replication factor of the fixture, JVM heap)
    # the reference spine's star join and the scan- and shuffle-bound
    # operators, on a x2 replica: the data path dominates
    "etl-scan": ([
        "q13_star_join", "q01_pricing_summary", "q129_skew_salted_join",
    ], 2, "6g"),
    # ANN and lexical index chains on the fixture: the cold pass builds and
    # publishes the stores, the warm reps serve from them and regenerate
    # code on every execution
    "index-lifecycle": ([
        "q246_compaction", "q267_jl_recall", "q280_ivf_frozen_append",
        "q293_ann_index_append",
    ], 1, "4g"),
}

JAVA_OPTS = [
    "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
    "-XX:ReservedCodeCacheSize=1g",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", p + "=ALL-UNNAMED")]


def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build -------------------------------------------------------------

def source_stamp():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no {need} in {ROOT}: the benchmark builds the library from source")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building the library and the harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800).returncode
    built = os.path.join(HERE, "target", "classpath.txt")
    if rc != 0 or not os.path.exists(built):
        die(f"build failed (rc={rc}); see {os.path.join(BUILD, 'build.log')}")
    shutil.copy(built, cp_file)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return open(cp_file).read().strip()


# ---- oracle -----------------------------------------------------------

def load_diff():
    """`tools/diff.py`'s compare, so the benchmark judges results exactly as
    the repository's correctness gate does."""
    spec = importlib.util.spec_from_file_location(
        "graft_diff", os.path.join(ROOT, "tools", "diff.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def input_fingerprint(d):
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        st = os.stat(os.path.join(d, f))
        h.update(f"{f}:{st.st_size}:{int(st.st_mtime)}".encode())
    return h.hexdigest()[:16]


def check_results(names, oracle_sql, input_dir, results_dir, tmp_dir):
    """Returns {query: None if it matches its oracle, else the diff}."""
    import duckdb
    diff = load_diff()
    con = duckdb.connect(config={"temp_directory": tmp_dir, "threads": int(CPUS)})
    for t in diff.TABLES:
        path = os.path.join(input_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    cache_dir = os.path.join(BUILD, "oracle")
    os.makedirs(cache_dir, exist_ok=True)
    fp = input_fingerprint(input_dir)
    verdicts = {}
    for name in names:
        out = os.path.join(results_dir, name)
        if not os.path.isdir(out):
            verdicts[name] = "no result written (the query threw)"
            continue
        # as in diff.py, a result or an oracle that cannot be read or
        # compared is that query's failure, not the run's
        try:
            s_rows, s_cols, s_n = diff.table_key(con.sql(f"SELECT * FROM '{out}/*.parquet'"))
        except Exception as e:
            verdicts[name] = f"spark output unreadable/uncomparable: {e}"
            continue
        s_rows = [list(r) for r in s_rows]
        key = hashlib.sha256(f"{fp}\n{oracle_sql[name]}".encode()).hexdigest()[:24]
        cached = os.path.join(cache_dir, f"{name}-{key}.json")
        if os.path.exists(cached):
            with open(cached) as fh:
                d_rows, d_cols, d_n = json.load(fh)
        else:
            t0 = time.time()
            try:
                d_rows, d_cols, d_n = diff.table_key(con.sql(oracle_sql[name]))
            except Exception as e:
                verdicts[name] = f"oracle SQL error/uncomparable: {e}"
                continue
            d_rows = [list(r) for r in d_rows]
            with open(cached + ".tmp", "w") as fh:
                json.dump([d_rows, d_cols, d_n], fh)
            os.replace(cached + ".tmp", cached)
            log(f"oracle {name}: {time.time() - t0:.1f} s")
        if name.startswith("q90_"):  # checked on rows only, by contract
            verdicts[name] = None if s_n == d_n else f"rows spark={s_n} duck={d_n}"
        elif s_cols != d_cols:
            verdicts[name] = f"columns spark={s_cols} duck={d_cols}"
        elif s_n != d_n:
            verdicts[name] = f"rows spark={s_n} duck={d_n}"
        elif s_rows != d_rows:
            bad = [(a, b) for a, b in zip(s_rows, d_rows) if a != b][:3]
            verdicts[name] = f"value mismatch, first diffs: {bad}"
        else:
            verdicts[name] = None
    con.close()
    return verdicts


# ---- one run -------------------------------------------------------------

def prepare_input(workload, seed):
    if not os.path.isdir(FIXTURE):
        die(f"fixture {FIXTURE} not found (set PERFBENCH_FIXTURE)")
    r = WORKLOADS[workload][1]
    if r == 1:
        return FIXTURE
    return replica.build(FIXTURE, os.path.join(BUILD, "inputs"), r, seed)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    classpath = build()
    names = list(WORKLOADS[args.workload][0])
    random.Random(args.seed).shuffle(names)
    input_dir = prepare_input(args.workload, args.seed)

    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp_dir, local_dir = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    for d in (tmp_dir, local_dir):
        os.makedirs(d)
    try:
        oracle_file = os.path.join(run_dir, "oracle.json")
        heap = WORKLOADS[args.workload][2]
        java = ["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp_dir}",
                f"-Dspark.local.dir={local_dir}"] + JAVA_OPTS + ["-cp", classpath, "perfbench.Harness"]
        with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
            t_launch = time.time() * 1e3
            rc = subprocess.run(
                java + [input_dir, ",".join(names), str(args.seconds), str(args.trace),
                        run_dir, CPUS],
                cwd=run_dir, stdout=jlog, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=170).returncode
        raw_file = os.path.join(run_dir, "raw.json")
        if rc != 0 or not os.path.exists(raw_file):
            sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-4000:])
            die(f"harness exited with {rc}")
        with open(raw_file) as fh:
            raw = json.load(fh)
        raw["launch"] = t_launch
        if args.workload == "index-lifecycle" and raw["store"]["cold_bytes"] <= 0:
            die("the cold pass published no store bytes: it did not build the stores")
        with open(oracle_file) as fh:
            oracle_sql = json.load(fh)
        verdicts = check_results(names, oracle_sql, input_dir,
                                 os.path.join(run_dir, "results"), tmp_dir)
        fixture_bytes = sum(os.path.getsize(os.path.join(input_dir, f"{t}.parquet"))
                            for t in ("documents", "embeddings"))
        result = metrics.summarize(raw, verdicts, fixture_bytes, bool(args.trace))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    detail = dict(result["detail"], workload=args.workload, seed=args.seed,
                  seconds=args.seconds, trace=args.trace, order=names,
                  input=os.path.basename(input_dir))
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results",
                           f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
    for k, v in sorted(result["metrics"].items()):
        log(f"{k:32s} {v['value']:.6g} {v['unit']}")
    for k, v in detail["reported"].items():
        log(f"{k:32s} {v:.6g} {metrics.REPORTED[k]} (reported, not gated)")
    for q, d in sorted(verdicts.items()):
        if d:
            log(f"MISMATCH {q}: {d}")
    for q, e in detail["errors"]:
        log(f"THREW {q}: {e}")
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": result["metrics"]}))


if __name__ == "__main__":
    main()
