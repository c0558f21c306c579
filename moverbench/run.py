#!/usr/bin/env python3
"""mover benchmark: one command for every workload.

    python3 moverbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
        [--data <parquet table dir>]

Run from the root of a checkout. It builds the program from that checkout's
sources (moverbench/build.sbt, once per source change), draws the workload's
inputs from --seed, computes the expected outputs with an independent DuckDB
oracle, runs the workload in one JVM and prints, as the last line of stdout,
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are BENCHMARK.json's end_to_end list, with --trace 1
its per_layer list. See moverbench/README.md.
"""
import argparse
import json
import math
import os
import random
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# lifecycle_point reads sf0.1; operator_mix reads sf0.01, where its
# operators' cost is their per-job and per-round fixed cost (at sf0.1 one
# pass over twelve operators took ~25 s, too long for a run)
TESTDATA = os.path.join(os.path.expanduser("~"), "testdata")
DEFAULT_DATA = {"lifecycle_point": os.path.join(TESTDATA, "sf0.1"),
                "operator_mix": os.path.join(TESTDATA, "sf0.01")}
DEADLINE_S = 170  # a run must end within 180 s; the first one also builds
WORKLOADS = tuple(DEFAULT_DATA)
TABLES = ("customer", "events", "lineitem", "nation", "orders", "part",
          "region", "supplier")
# the same integer key per row as moverbench.Checks.keySql
KEY = {"customer": "c_custkey", "events": "event_id",
       "lineitem": "l_orderkey * 1000 + l_linenumber", "nation": "n_nationkey",
       "orders": "o_orderkey", "part": "p_partkey", "region": "r_regionkey",
       "supplier": "s_suppkey"}
# the closure of a customer seed under EngineQueries' config, as plain SQL:
# depth-0 reverse keys (orders, events), the allowlisted lineitem reverse
# key, then forward keys
CLOSURE = {"customer": "seed", "orders": "ords", "events": "evts",
           "lineitem": "li", "part": "prt", "supplier": "sup", "nation": "nat",
           "region": "reg"}
CLOSURE_CTES = """seed AS (SELECT * FROM customer WHERE {where}),
ords AS (SELECT * FROM orders WHERE o_custkey IN (SELECT c_custkey FROM seed)),
evts AS (SELECT * FROM events WHERE user_id IN (SELECT c_custkey FROM seed)),
li AS (SELECT * FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM ords)),
prt AS (SELECT * FROM part WHERE p_partkey IN (SELECT l_partkey FROM li)),
sup AS (SELECT * FROM supplier WHERE s_suppkey IN (SELECT l_suppkey FROM li)),
nat AS (SELECT * FROM nation WHERE n_nationkey IN (SELECT c_nationkey FROM seed)
                               OR n_nationkey IN (SELECT s_nationkey FROM sup)),
reg AS (SELECT * FROM region WHERE r_regionkey IN (SELECT n_regionkey FROM nat))"""
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[moverbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def sources():
    out = []
    for top in (os.path.join(ROOT, "src", "main", "scala"),
                os.path.join(HERE, "src", "main", "scala"),
                os.path.join(HERE, "build.sbt")):
        if os.path.isfile(top):
            out.append(top)
        for d, _, fs in os.walk(top):
            out.extend(os.path.join(d, f) for f in fs if f.endswith(".scala"))
    return sorted(out)


def spark_home():
    """The Spark installation whose jars the program compiles and runs on."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if submit is None:
        raise RuntimeError("no Spark installation: set SPARK_HOME")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def build():
    """Compile the program and the benchmark code; skipped when no source
    changed."""
    stamp_path = os.path.join(HERE, "target", "build.stamp")
    stamp = json.dumps([(p, os.path.getmtime(p), os.path.getsize(p))
                        for p in sources()])
    if os.path.isfile(stamp_path) and open(stamp_path).read() == stamp:
        return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", " ".join(
        (["-Dsbt.override.build.repos=true",
          f"-Dsbt.repository.config={repos}"] if os.path.isfile(repos) else [])
        + ["-Dsbt.offline=true", "-Xmx2g"]))
    log("building the program and the benchmark code")
    subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                   cwd=HERE, env=env, stdout=sys.stderr, check=True,
                   timeout=800)
    with open(stamp_path, "w") as f:
        f.write(stamp)


# ---------------------------------------------------------------- inputs

def duck(data):
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS "
                        f"SELECT * FROM '{data}/{f}'")
    return con


def fingerprints(con, where):
    """Per table: (count, sum, sum of squares) of the key over the closure's
    rows, and over its distinct keys (what an upsert keeps)."""
    out = {}
    for t in TABLES:
        k = f"CAST({KEY[t]} AS HUGEINT)"
        q = (f"WITH {CLOSURE_CTES.format(where=where)}, "
             f"r AS (SELECT {k} AS k FROM {CLOSURE[t]}), "
             f"d AS (SELECT DISTINCT k FROM r) "
             f"SELECT (SELECT COUNT(*) FROM r), (SELECT SUM(k) FROM r), "
             f"(SELECT SUM(k * k) FROM r), (SELECT COUNT(*) FROM d), "
             f"(SELECT SUM(k) FROM d), (SELECT SUM(k * k) FROM d)")
        n, s, q2, dn, ds, dq = con.execute(q).fetchone()
        out[t] = {"rows": [n, str(s or 0), str(q2 or 0)],
                  "keys": [dn, str(ds or 0), str(dq or 0)]}
    return out


def make_spec(workload, seed, data):
    """The workload's inputs, drawn from the seed, and its expected outputs.
    The program receives only the seed SQL."""
    rng = random.Random(f"{workload}:{seed}")
    if workload == "operator_mix":
        return {"order_seed": rng.randrange(1 << 31)}
    con = duck(data)
    keys = [r[0] for r in con.execute(
        "SELECT c_custkey FROM customer ORDER BY c_custkey").fetchall()]
    # every seed gives every table rows: one in ten customers has events,
    # so the base and the new customers each hold exactly one of those
    evented = {r[0] for r in con.execute(
        "SELECT DISTINCT user_id FROM events").fetchall()}
    with_ev = rng.sample([k for k in keys if k in evented], 2)
    without = rng.sample([k for k in keys if k not in evented], 13)
    picked = with_ev[:1] + without[:9]
    base = f"c_custkey IN ({', '.join(map(str, sorted(picked)))})"
    grown = f"c_custkey IN ({', '.join(map(str, sorted(with_ev + without)))})"
    return {"seed_sql": f"SELECT * FROM customer WHERE {base}",
            "new_sql": f"SELECT * FROM customer WHERE {grown}",
            "expect": fingerprints(con, base),
            "expect_new": fingerprints(con, grown)}


# ---------------------------------------------------------------- run

def run_jvm(workload, data, work, spec, seconds, trace):
    """Runs the workload in one JVM; returns its figures."""
    with open(os.path.join(work, "spec.json"), "w") as f:
        json.dump(spec, f)
    out = os.path.join(work, "result.json")
    cp = os.pathsep.join([os.path.join(HERE, "target", "scala-2.13", "classes"),
                          os.path.join(spark_home(), "jars", "*")])
    cmd = (["java", "-Xms4g", "-Xmx4g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "moverbench.BenchMain", "--workload", workload,
              "--data", data, "--work", work, "--spec", "spec.json",
              "--seconds", str(seconds), "--trace", "1" if trace else "0",
              "--out", out])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    p = subprocess.Popen(cmd, stdout=sys.stderr, start_new_session=True)
    try:
        rc = p.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise RuntimeError(f"the run did not end within {DEADLINE_S} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if rc != 0:
        raise RuntimeError(f"the benchmark JVM exited with code {rc}")
    with open(out) as f:
        return json.load(f)


def same(a, b):
    if a is b or a == b:
        return True
    return (isinstance(a, float) and isinstance(b, float)
            and math.isnan(a) and math.isnan(b))


def rows_of(rel):
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(r[i] for i in order) for r in rel.fetchall()]
    return [cols[i] for i in order], sorted(rows, key=repr)


def check_mix(res, data, work):
    """Each operator's set-up result against its registered DuckDB oracle
    (columns by name, rows sorted, values exact), and every timed pass's
    row count against the oracle's. Returns the operations that failed."""
    con = duck(data)
    failed = 0
    for q, counts in res["row_counts"].items():
        sql = open(os.path.join(work, "results", f"{q}.sql")).read()
        if not os.path.isdir(os.path.join(work, "results", q)):
            log(f"{q}: no result to check")
            failed += len(counts)
            continue
        got_cols, got = rows_of(con.sql(
            f"SELECT * FROM '{work}/results/{q}/*.parquet'"))
        if sql.strip():
            exp_cols, exp = rows_of(con.sql(sql))
            if got_cols != exp_cols or len(got) != len(exp) or not all(
                    all(same(x, y) for x, y in zip(g, e))
                    for g, e in zip(got, exp)):
                log(f"{q}: result differs from its DuckDB oracle")
                failed += len(counts)
                continue
        else:
            exp = got
        bad = sum(1 for n in counts if n != len(exp))
        if bad:
            log(f"{q}: {bad} passes counted rows other than {len(exp)}")
        failed += bad
    return failed


def result_line(res, workload, data, work, wanted):
    """The printed result: the JVM's figures plus the DuckDB checks of
    operator_mix, with exactly the `wanted` metrics."""
    for e in res["errors"]:
        log(e)
    log("seconds per call: " + json.dumps(res["verbs"]))
    attempted = res["attempted"]
    extra = check_mix(res, data, work) if workload == "operator_mix" else 0
    failed = res["failed"] + extra
    metrics = dict(res["metrics"])
    if "ok_frac" in metrics:
        metrics["ok_frac"] = (attempted - failed) / attempted
    if "failed_frac" in metrics:
        metrics["failed_frac"] = failed / attempted
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        raise RuntimeError(f"the run did not measure {missing}")
    return {"correct": res["wrong"] == 0 and extra == 0,
            "attempted": attempted, "failed": failed,
            "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                        for m in wanted}}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", help="parquet table dir (default: per workload)")
    args = ap.parse_args(argv)
    data = os.path.abspath(args.data or DEFAULT_DATA[args.workload])

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"no program sources under {ROOT}; run from the root of a checkout")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = bench["per_layer" if args.trace else "end_to_end"]

    build()
    work = os.path.join(HERE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        spec = make_spec(args.workload, args.seed, data)
        res = run_jvm(args.workload, data, work, spec, args.seconds, args.trace)
        line = result_line(res, args.workload, data, work, wanted)
        if args.trace:
            # the spans of the last traced run, kept for reading by eye
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(HERE, "work", f"spans-{args.workload}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # no result line on any failure
        log(f"failed: {e}")
        sys.exit(1)
