#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one fixed-length measurement.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The script
  1. builds the library plus the benchmark (perfbench/build.sbt) when the
     sources changed since the last build (output in .bench_build/);
  2. generates the workload's inputs from the seed (perfbench/gen.py) into
     .bench_work/<workload>/input, outside any timed window;
  3. runs the JVM half (graftbench.Main): set-up twice (session build
     with GraftSparkExtensions, Preflight, one untimed warm-in pass at the
     benched scale, which also lands each oracle-checked step's output),
     then timed passes for S seconds;
  4. compares every oracle-checked step's output with the DuckDB SQL the
     query registry carries (graft.SparkEntry.oracleSql), on the same
     inputs, and folds those results with the JVM-side identities
     (re-aggregation, stream/batch parity) into `failed`;
  5. prints one JSON line: the end-to-end metrics with --trace 0, the
     per-layer metrics (from a bench-owned SparkListener) with --trace 1.

Artifacts (spans, per-layer metrics, the JVM log) stay in
.bench_work/<workload>/. Metric names, units and bounds live in
BENCHMARK.json at the repository root.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BUILD, "scala-2.13", "classes")
STAMP = os.path.join(BUILD, "sources.sha256")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")

# Identical on every run: fixed heap (no resizing), touched at start so the
# resident set does not depend on which regions GC happened to use; G1;
# local[4] inside; and a fixed set of JIT compiler threads, whose CPU cpu_s
# leaves out.
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
            "-XX:ReservedCodeCacheSize=256m", "-XX:-UseDynamicNumberOfCompilerThreads"]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
SETUPS = 2
DEADLINE_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest():
    h = hashlib.sha256()
    for base in (LIB_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    digest = source_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    log = os.path.join(ROOT, ".bench_build", "sbt.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                             cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.isdir(CLASSES):
        fail(f"build failed (exit {rc}); see {log}")
    with open(STAMP, "w") as f:
        f.write(digest)


def run_jvm(args, input_dir, work, deadline):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        fail("SPARK_HOME is not set")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, *JVM_OPTS, f"-Djava.io.tmpdir={tmp}",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-cp", f"{CLASSES}{os.pathsep}{os.path.join(spark_home, 'jars', '*')}",
           "graftbench.Main", "--workload", args.workload, "--input", input_dir,
           "--work", work, "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--setups", str(SETUPS)]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            fail(f"JVM exceeded the time limit; see {log}")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"JVM exited {rc}; see {log}\n{tail}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


# ------------------------------------------------------------ oracle gate

# The registry's MinHash oracles (q14/q23/q93) find near-duplicate pairs by
# joining every shingle with every other: 20-55 s per query at 5,000 docs.
# The benchmark computes the identical pair_inter relation once per run with
# an exact filter-and-verify join (PPJoin; Xiao et al., WWW 2008): a pair
# with Jaccard >= 3/4 has size ratio >= 3/4, shares a token among the first
# n - ceil(3n/4) + 1 tokens of each set in a global rare-first order, and
# its overlap is bounded by the shared prefix tokens plus the shorter
# remaining suffix. Only candidates passing all three bounds are counted.
# The registry's own `sh` CTE text is reused, and its `pair_inter` CTE is
# swapped for the materialized table; if the registry text ever differs, its
# SQL runs unchanged.
ALL_PAIRS_INTER = """pair_inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::INT AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),"""
JACCARD_3_4 = "inter * 4 >= (sa.n + sb.n - inter) * 3"
PREFIX_PAIR_INTER = """tok AS (SELECT s, row_number() OVER (ORDER BY count(*), s) AS t FROM sh GROUP BY s),
r AS (SELECT doc_id, t, row_number() OVER (PARTITION BY doc_id ORDER BY t) AS pos,
  count(*) OVER (PARTITION BY doc_id) AS n FROM sh JOIN tok USING (s)),
pref AS (SELECT doc_id, t, pos, n FROM r WHERE pos <= n - ceil(3 * n / 4.0) + 1),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pref a JOIN pref b ON a.t = b.t AND a.doc_id < b.doc_id
    AND 4 * least(a.n, b.n) >= 3 * greatest(a.n, b.n)
  GROUP BY 1, 2, a.n, b.n
  HAVING count(*) + least(a.n - max(a.pos), b.n - max(b.pos)) >= ceil(3.0 * (a.n + b.n) / 7)),
keys AS (SELECT doc_id * 1048576 + t AS k FROM r),
probe AS (SELECT c.id_a, c.id_b, c.id_b * 1048576 + r.t AS k FROM cand c JOIN r ON r.doc_id = c.id_a)
SELECT id_a, id_b, count(*)::INT AS inter FROM probe SEMI JOIN keys USING (k) GROUP BY 1, 2"""


def oracle_sql(con, sql, cache):
    """The registry SQL, with its shingle CTE and its all-pairs MinHash
    pair_inter CTE replaced by the same relations computed once (see above)."""
    if JACCARD_3_4 not in sql or ALL_PAIRS_INTER not in sql:
        return sql
    head, tail = sql.split(ALL_PAIRS_INTER, 1)
    start = head.index("sh AS (")
    sh = head[start:].rstrip().rstrip(",")
    if sh not in cache:
        name = cache[sh] = f"bench_sh_{len(cache)}"
        con.execute(f"CREATE TEMP TABLE {name} AS WITH {sh} SELECT * FROM sh")
        con.execute(f"CREATE TEMP TABLE {name}_pairs AS "
                    f"WITH sh AS (SELECT * FROM {name}),\n{PREFIX_PAIR_INTER}")
    name = cache[sh]
    return (f"{head[:start]}sh AS (SELECT * FROM {name}),\n"
            f"pair_inter AS (SELECT * FROM {name}_pairs),{tail}")


def compare(con, mine, theirs):
    """None when the engine's rows equal the oracle's, as tools/check_oracle.py
    judges it, with that tool's own helpers (type kinds, no decimals, rows as
    sorted normalised tuples). Exact multiset equality, checked inside
    DuckDB, settles most steps without the per-cell normalisation."""
    from check_oracle import norm_df, schema_sig
    km, kt = schema_sig(mine), schema_sig(theirs)
    if km != kt:
        return f"type mismatch: mine={km} oracle={kt}"
    if any("decimal" in k for k in km.values()):
        return "decimal column in final schema"
    cols = ", ".join(f'"{c}"' for c in sorted(km))
    con.register("bench_mine", mine)
    con.register("bench_theirs", theirs)
    diff = con.execute(
        f"SELECT (SELECT count(*) FROM (SELECT {cols} FROM bench_mine EXCEPT ALL "
        f"SELECT {cols} FROM bench_theirs)) + (SELECT count(*) FROM (SELECT {cols} "
        f"FROM bench_theirs EXCEPT ALL SELECT {cols} FROM bench_mine))").fetchone()[0]
    if diff == 0 and mine.num_rows == theirs.num_rows:
        return None
    a, b = norm_df(mine.to_pandas()), norm_df(theirs.to_pandas())
    if a == b:
        return None
    first = next((x, y) for x, y in zip(a + [None], b + [None]) if x != y)
    return f"{len(a)} rows vs oracle {len(b)}; first diff {first}"


def oracle_gate(result, input_dir, work):
    """Step name -> None (matches the oracle) or a reason."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb_tmp')}'")
    for entry in os.listdir(input_dir):
        if entry.endswith(".parquet"):
            p = os.path.join(input_dir, entry)
            con.execute(f"CREATE VIEW {entry[:-8]} AS SELECT * FROM read_parquet('{p}')")
    verdicts, pair_tables = {}, {}
    for step, o in sorted(result["oracles"].items()):
        try:
            if o["sql"] is None:
                raise ValueError(f"registry has no oracle for {o['query']}")
            mine = con.execute(
                f"SELECT * FROM read_parquet('{o['out']}/*.parquet')").arrow()
            theirs = con.execute(oracle_sql(con, o["sql"], pair_tables)).arrow()
            verdicts[step] = compare(con, mine, theirs)
        except Exception as e:  # a failing oracle marks the step wrong
            verdicts[step] = f"oracle error: {e}"[:400]
    for step, n in result["scan_counts"].items():
        table = step[len("scan_"):]
        want = con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
        verdicts[step] = None if n == want else f"scan read {n} rows, DuckDB counts {want}"
    return verdicts


# -------------------------------------------------------------- metrics

def summarize(result, verdicts):
    checks = dict(result["checks"])
    for step, why in verdicts.items():
        checks[step] = checks.get(step) or why
    wrong = {s for s, why in checks.items() if why}
    untraced = [p for p in result["passes"] if not p["traced"]]
    attempted = sum(len(p["steps"]) for p in untraced)
    failed = sum(1 for p in untraced for s in p["steps"]
                 if s["error"] or s["name"] in wrong)
    rows = sum(result["input_rows"].values())
    pass_s = statistics.median(p["wall_s"] for p in untraced)
    metrics = {
        "setup_s": statistics.median(result["setup_s"]),
        "pass_s": pass_s,
        "rows_per_s": rows / pass_s,
        "cpu_s": statistics.median(p["cpu_s"] for p in untraced),
        "peak_rss_mb": result["peak_rss_kb"] / 1024.0,
        "ok_ratio": (attempted - failed) / attempted,
    }
    details = {
        "passes": len(untraced),
        "input_rows": rows, "setup_samples": result["setup_s"],
        "wrong_steps": {s: checks[s] for s in sorted(wrong)},
        "step_errors": sorted({f"{s['name']}: {s['error']}" for p in untraced
                               for s in p["steps"] if s["error"]}),
    }
    return metrics, attempted, failed, not wrong, details


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    # A terminated run still stops its JVM (run_jvm's finally).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(LIB_SRC) or not os.path.isfile(spec_path):
        fail(f"run from a graft checkout: need {LIB_SRC} and {spec_path}")
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")

    build()
    sys.path[:0] = [HERE, os.path.join(ROOT, "tools")]
    import gen
    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    input_dir = os.path.join(work, "input")
    manifest = gen.generate(args.seed, input_dir)

    result = run_jvm(args, input_dir, work, deadline)
    verdicts = oracle_gate(result, input_dir, work)
    metrics, attempted, failed, correct, details = summarize(result, verdicts)

    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    if args.trace:
        layer = result["per_layer"] or {}
        values = {m["name"]: layer.get(m["name"], 0.0) for m in names}
    else:
        values = {m["name"]: metrics[m["name"]] for m in names}
    with open(os.path.join(work, "summary.json"), "w") as f:
        json.dump({"seed": args.seed, "trace": args.trace, "metrics": metrics,
                   "per_layer": result["per_layer"], "details": details,
                   "manifest": manifest}, f, indent=1, sort_keys=True)
    if not correct:
        print(f"perfbench: wrong results: {json.dumps(details['wrong_steps'])}", file=sys.stderr)
    print(json.dumps({"correct": correct and failed == 0, "attempted": attempted,
                      "failed": failed,
                      "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                                  for m in names}}))


if __name__ == "__main__":
    main()
