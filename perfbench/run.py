#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from the checkout's sources when they
changed (one sbt start per build), then runs the workload in one JVM on
local[n], n = the cores this process may use. The run reads the sf0.1
fixture corpus that TESTDATA.md describes (directory from GRAFT_TESTDATA,
default ~/testdata) and, for `ingest`, staging JSON generated here from the
seed. Every query result is compared with its DuckDB oracle by the rules of
tools/check_oracle.py, and the `rpt` tables `ingest` leaves behind with the
rows ingest_data.py derives on its own.

The last stdout line is one JSON object: correct, attempted, failed and the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1) named in
BENCHMARK.json. The full record of the run (every metric with unit and
sample count, per-op times, seed, op order, cores, scale, source
fingerprint, contention) goes to perfbench/records/; the traced spans of the
last traced run to perfbench/work/<workload>/spans.jsonl.
"""
import argparse
import collections
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("interactive", "ingest")
# the JVM's share of the 180 s a run may take once built; checks need the rest
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840
JVM_HEAP = ["-Xms4g", "-Xmx4g"]

sys.path.insert(0, HERE)
import ingest_data  # noqa: E402


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    """Content hash of everything the build reads."""
    h = hashlib.sha256()
    inputs = ["build.sbt", "project/build.properties", "perfbench/build.sbt",
              "perfbench/project/build.properties"]
    for tree in ("src/main", "perfbench/src/main"):
        for dirpath, _, names in os.walk(os.path.join(ROOT, tree)):
            inputs += [os.path.relpath(os.path.join(dirpath, n), ROOT) for n in names]
    for rel in sorted(inputs):
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(fingerprint):
    """Compile with sbt unless the launcher was written for these sources."""
    launcher = os.path.join(HERE, "target", "launcher.txt")
    stamp = launcher + ".sources"
    if os.path.exists(stamp) and open(stamp).read() == fingerprint:
        return launcher
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(launcher):
        die(f"build failed (sbt exit {r.returncode})")
    with open(stamp, "w") as f:
        f.write(fingerprint)
    return launcher


def run_jvm(launcher, args, work, cores, deadline):
    with open(launcher) as f:
        opts = f.read().splitlines()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cores)
    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir below
    env.pop("SPARK_LOCAL_DIRS", None)
    cmd = ["java", *JVM_HEAP, f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Dspark.local.dir={os.path.join(work, 'local')}",
           f"-Dderby.system.home={os.path.join(work, 'derby')}",
           f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
           *opts, "graft.perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--fixtures", args.fixtures, "--work", work, "--cores", str(cores)]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=log,
                             stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"run exceeded its time limit; log in {log_path}")
    if code != 0:
        with open(log_path) as log:
            sys.stderr.write("".join(log.readlines()[-40:]))
        die(f"JVM exited with {code}")


def load_check_oracle():
    path = os.path.join(ROOT, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_queries(record, work, sf_dir):
    """Names of query ops whose settle-pass result differs from the oracle."""
    names = record["query_outputs"]
    if not names:
        return []
    import duckdb
    co = load_check_oracle()
    con = duckdb.connect()
    for t in co.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad = []
    for name in names:
        sql = record["oracle_sql"].get(name)
        try:
            if sql is None:
                raise KeyError("no oracle")
            got = co.spark_frame(os.path.join(work, "results"), name)
            want = co.oracle_frame(con, sql)
            ok = got == want
        except Exception as e:  # a result that cannot be read or compared fails
            print(f"perfbench: {name}: {type(e).__name__}: {e}", file=sys.stderr)
            ok = False
        if not ok:
            print(f"perfbench: {name} differs from its oracle", file=sys.stderr)
            bad.append(name)
    return bad


def read_table(path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return collections.Counter()
    table = pa.concat_tables([pq.read_table(f) for f in files])
    cols = {}
    for name in table.column_names:
        c = table.column(name)
        if pa.types.is_timestamp(c.type):
            c = c.cast(pa.timestamp("us")).cast(pa.int64())
        cols[name] = c.to_pylist()
    names = sorted(cols)
    return collections.Counter(
        tuple((n, cols[n][i]) for n in names) for i in range(table.num_rows))


def check_ingest(expected, work):
    """Names of `rpt` tables whose rows differ from the expected rows."""
    bad = []
    for table, rows in expected.items():
        got = read_table(os.path.join(work, "warehouse", "rpt.db", table))
        want = collections.Counter(ingest_data.canonical(r) for r in rows)
        if got != want:
            print(f"perfbench: rpt.{table}: {sum(got.values())} rows, expected "
                  f"{sum(want.values())}; {sum((got - want).values())} unexpected, "
                  f"{sum((want - got).values())} missing", file=sys.stderr)
            bad.append(table)
    return bad


def summary(record, result, failed_frac):
    """Human-readable account of the run, on stderr."""
    w = sys.stderr.write
    w(f"workload={record['workload']} seed={record['seed']} cores={record['cores']} "
      f"scale={record['scale']} trace={int(record['trace'])} "
      f"sources={record['sources'][:12]}\n")
    w(f"order: {' '.join(record['order'])}\n")
    for name, m in record["metrics"].items():
        w(f"  {name:32s} {m['value']:12.4f} {m['unit']:6s} n={m['n']}\n")
    w(f"  {'failed_frac':32s} {failed_frac:12.4f} ratio  n={result['attempted']}\n")
    for name, v in record["layers"].items():
        w(f"  {name:32s} {v:12.4f}\n")
    traced = [p for p in record["passes"] if p["kind"] == "traced"]
    if traced:
        w(f"  {'op':28s} {'wall_s':>8s} {'job_active_s':>12s} {'driver_only_s':>13s} "
          f"{'jobs':>5s}\n")
        for op in traced[-1]["ops"]:
            lay = op["layers"]
            w(f"  {op['name']:28s} {op['wall_s']:8.3f} {lay['job_active_s']:12.3f} "
              f"{lay['driver_only_s']:13.3f} {lay['jobs']:5d}\n")
    if record["span_self_s"]:
        w("span self time (s): " + ", ".join(
            f"{k} {v:.3f}" for k, v in sorted(record["span_self_s"].items())) + "\n")
    w("timing: " + ", ".join(f"{k} {v:.1f} s" for k, v in record["timing_s"].items()) + "\n")
    w("contention: " + ", ".join(f"{k} {v:.3f}" for k, v in record["contention"].items()) + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    args.fixtures = os.path.abspath(os.environ.get(
        "GRAFT_TESTDATA", os.path.join(os.path.expanduser("~"), "testdata")))
    for sub in ("src/main/scala", "tools/check_oracle.py", "build.sbt"):
        if not os.path.exists(os.path.join(ROOT, sub)):
            die(f"{sub} not found: run from a checkout of the engine")
    if not os.path.isdir(os.path.join(args.fixtures, "sf0.1")):
        die(f"fixture corpus not found under {args.fixtures} (set GRAFT_TESTDATA)")

    started = time.time()
    fingerprint = source_fingerprint()
    launcher = build(fingerprint)
    built = time.time()

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    expected = None
    if args.workload == "ingest":
        batches = ingest_data.make_batches(args.seed)
        ingest_data.write_batches(batches, os.path.join(work, "staging"))
        expected = ingest_data.expected_tables(batches)

    generated = time.time()
    run_jvm(launcher, args, work, cores, built + JVM_TIMEOUT_S)
    ran = time.time()
    with open(os.path.join(work, "record.json")) as f:
        record = json.load(f)
    record["sources"] = fingerprint
    git = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    record["commit"] = git.stdout.strip() if git.returncode == 0 else None

    sf_dir = os.path.join(args.fixtures, record["scale"])
    bad_queries = check_queries(record, work, sf_dir)
    bad_tables = check_ingest(expected, work) if expected is not None else []

    ops = [op for p in record["passes"] for op in p["ops"]]
    attempted = len(ops)
    threw = sum(1 for op in ops if op["error"])
    failed = min(attempted, threw + len(bad_queries) + len(bad_tables))
    correct = failed == 0
    failed_frac = failed / attempted
    record["checks"] = {"threw": threw, "oracle_mismatch": bad_queries,
                        "rpt_mismatch": bad_tables, "failed_frac": failed_frac}

    if args.trace:
        wanted, values = declared["per_layer"], record["layers"]
    else:
        wanted = declared["end_to_end"]
        values = {n: m["value"] for n, m in record["metrics"].items()}
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        die(f"run did not produce {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": metrics}

    for sub in ("warehouse", "local", "tmp", "results", "staging", "derby"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    record["timing_s"] = {"build": built - started, "inputs": generated - built,
                          "jvm": ran - generated, "checks": time.time() - ran}
    os.makedirs(os.path.join(HERE, "records"), exist_ok=True)
    with open(os.path.join(HERE, "records",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    summary(record, result, failed_frac)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
