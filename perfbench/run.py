#!/usr/bin/env python3
"""protarrowspark benchmark.

Usage, from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (closed loop, one client thread, `local[nproc]`):

  wire_roundtrip   proto wire bytes -> typed table -> proto wire bytes
                   (`fromProtoBinary` / `toProtoBinary`), one batch of 2,000
                   full-shape ExampleMessage payloads cached over nproc
                   partitions. The wire codec and the codec trees do the work.
  query_mix        12 registered query entries over seeded TPC-H-like and
                   document tables. Operators, shuffle and caches do the
                   work; the proto codec does none.

The script compiles the program (`src/main/scala`) and the harness
(`perfbench/scala`) with the Scala compiler shipped in Spark's jars into
`.bench_build/`, makes the workload's inputs from `--seed`, runs the
harness JVM, checks every output, prints each metric with its unit and
ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

A wire_roundtrip run warms up, then makes whole passes for `--seconds`.
A query_mix run makes one cold pass in a fresh JVM, which takes longer
than any `--seconds` the benchmark uses.

`--trace 0` reports the end-to-end metrics. `--trace 1` attaches Spark
listeners and spans, times direct calls into each layer, and reports the
per-layer metrics, with 0 for a layer the workload does not run, plus the
tracing overhead: on wire_roundtrip the median traced pass minus the
median untraced pass, alternated in one JVM; on query_mix the driver time
spent in the collector between entries. Every run also writes its full
record (provenance, host canary, per-op samples, spans) under
`.bench_build/results/`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("wire_roundtrip", "query_mix")
QUERY_MIX_SF = 0.01
HEAP = "4g"
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 800
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(msg, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BenchError("Spark jars not found: set SPARK_HOME")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise BenchError("program sources (src/main/scala) not found; "
                         "run from the repository root")
    return main + sorted(glob.glob(os.path.join(BENCH_DIR, "scala", "*.scala")))


def build(jars):
    """Compiles program and harness; skipped when the sources are unchanged."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    for j in sorted(os.listdir(jars)):
        h.update(j.encode())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.sha256")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, stamp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    log("building program and harness ...")
    t0 = time.time()
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-classpath", cp, "-d", tmp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise BenchError("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return classes, stamp


def run_jvm(jars, classes, args, log_path, marker=None, on_marker=None):
    """Runs the harness JVM. When `marker` appears while it runs,
    `on_marker()` is called, overlapping untimed work in both processes."""
    tmp = os.path.join(BUILD, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", "-Xss8m"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
           + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
              "-cp", classes + os.pathsep + os.path.join(jars, "*"),
              "perfbench.PerfMain"] + args)
    with open(log_path, "w") as out:
        # SPARK_LOCAL_DIRS would override spark.local.dir: keep Spark's
        # scratch files inside the checkout as well
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=tmp,
                             env=dict(os.environ, SPARK_LOCAL_DIRS=tmp),
                             start_new_session=True)
        try:
            deadline = time.monotonic() + JVM_TIMEOUT_S
            while marker and p.poll() is None and not os.path.exists(marker):
                if time.monotonic() > deadline:
                    raise BenchError(f"harness JVM exceeded {JVM_TIMEOUT_S} s; log: {log_path}")
                time.sleep(0.2)
            if marker and os.path.exists(marker):
                on_marker()
            code = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise BenchError(f"harness JVM exceeded {JVM_TIMEOUT_S} s; log: {log_path}")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise BenchError(f"harness JVM exited with {code}; log: {log_path}")


def oracle_expected(check_dir, data_dir):
    """Runs each entry's DuckDB oracle SQL over the generated tables."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check  # tools/check.py: the repository's oracle comparison rules

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in check.TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    expected = {}
    for name, sql in oracle.items():
        try:
            expected[name] = con.execute(sql).fetchdf()
        except Exception as e:  # a missing or failing oracle is a failed check
            expected[name] = f"oracle error: {e}"
    return con, expected


def oracle_compare(con, expected, check_dir, names):
    """Compares each entry's written output with its oracle result under
    tools/check.py's rules. Returns the failed names with reasons, and
    each entry's output row count."""
    import check
    failed, rows = {}, {}
    for name in names:
        exp = expected.get(name, "no oracle SQL registered")
        files = glob.glob(os.path.join(check_dir, name, "*.parquet"))
        if isinstance(exp, str):
            failed[name] = exp
        elif not files:
            failed[name] = "no output written"
        else:
            got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
            rows[name] = len(got)
            problems = check.compare(name, exp, got)
            if problems:
                failed[name] = "; ".join(problems[:3])
    return failed, rows


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def query_mix(seed, jars, classes, work, base_args):
    """Generates the tables, runs the pass JVM and the oracle checks."""
    sys.path.insert(0, BENCH_DIR)
    import gen_tables
    data = os.path.join(work, "data")
    t0 = time.perf_counter()
    gen_tables.generate(data, seed, QUERY_MIX_SF)
    gen_s = time.perf_counter() - t0
    base_args = base_args + ["--data", data]
    out = os.path.join(work, "result.json")
    check_dir = os.path.join(work, "check")  # PerfMain writes here, next to --out
    oracle = {}

    def run_oracle():
        t0 = time.perf_counter()
        oracle["con"], oracle["expected"] = oracle_expected(check_dir, data)
        oracle["s"] = time.perf_counter() - t0

    run_jvm(jars, classes, base_args + ["--out", out],
            os.path.join(work, "jvm.log"), os.path.join(check_dir, "pass.done"), run_oracle)
    with open(out) as f:
        r = json.load(f)
    if not oracle:
        raise BenchError("query_mix pass did not finish")
    bad, rows = oracle_compare(oracle["con"], oracle["expected"], check_dir, r["entries"])
    r["oracle_s"] = oracle["s"]
    failed_entries = (set(r["entries"]) - set(r["ok_entries"])) | set(bad)
    r["errors"] += [f"oracle {n}: {why}" for n, why in bad.items()]
    r["failed"] = len(failed_entries) * r["passes"]
    r["correct"] = not failed_entries
    r["setup_s"] += gen_s
    r["gen_s"] = gen_s
    for n, k in rows.items():
        r["layer"][f"operators.{n}.output_rows"] = k
    return r


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    jars = spark_jars()
    if not os.path.exists(os.path.join(ROOT, "tools/check.py")):
        raise BenchError("tools/check.py not found; run from the repository root")
    os.makedirs(BUILD, exist_ok=True)
    classes, source_sha = build(jars)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "work", tag)
    shutil.rmtree(os.path.join(BUILD, "work"), ignore_errors=True)
    os.makedirs(work)
    base_args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace)]
    if a.workload == "query_mix":
        r = query_mix(a.seed, jars, classes, work, base_args)
    else:
        out = os.path.join(work, "result.json")
        run_jvm(jars, classes, base_args + ["--out", out], os.path.join(work, "jvm.log"))
        with open(out) as f:
            r = json.load(f)
    attempted, failed = r["attempted"], r["failed"]
    layer = dict(r["layer"], **{k: r[k] for k in ("host.canary_before_ms", "host.canary_after_ms")})
    prov = dict(r["provenance"], git_commit=git_commit(), source_sha256=source_sha)

    log(f"perfbench workload={a.workload} seed={a.seed} seconds={a.seconds:g} trace={a.trace}")
    log("provenance " + json.dumps(prov, sort_keys=True))
    log(f"host canary (fixed pure-JVM CPU loop) before {r['host.canary_before_ms']:.1f} ms, "
        f"after {r['host.canary_after_ms']:.1f} ms")
    if "input" in r:
        i = r["input"]
        log(f"input 1 batch x {i['msgs']} msgs, "
            f"{i['mean_msg_bytes']:.4f} wire bytes/msg, {i['batch_bytes'] / 1e6:.4f} MB/batch, "
            f"same seed gives same bytes: {i['deterministic']}")
        u = r["untraced"]
        log(f"passes {u['passes']}")
        for d in ("ingest", "export"):
            # a p90 needs at least 100 ops of the type; a run makes fewer
            log(f"{d}_mb_s {u[f'{d}_mb_s']:.6g} MB/s; {d}_p50_s {u[f'{d}_p50_s']:.6g} s "
                f"(n={u[f'{d}_n']}); {d}_p90_s n/a (n < 100)")
    else:
        log(f"input tables at sf{QUERY_MIX_SF}, generated in {r['gen_s']:.3f} s")
        for name, sec in r["entry_s"].items():
            log(f"entry {name} {sec:.4f} s")
        log(f"cache entries left after each entry {r['cache_entries_left']}")
        log(f"outputs written in {r['check_write_s']:.3f} s; oracle SQL ran in {r['oracle_s']:.3f} s")
    log(f"setup runs {['%.4f' % x for x in r['setup_runs_s']]} s")
    for e in spec["end_to_end"]:
        log(f"{e['name']} {r[e['name']]:.6g} {e['unit']}")
    log(f"failed_frac {failed / attempted:.6g} ratio ({failed}/{attempted})")
    for e in r["errors"]:
        log(f"error: {e}")

    if a.trace:
        metrics = {}
        for e in spec["per_layer"]:
            v = layer.get(e["name"])
            metrics[e["name"]] = {"value": 0 if v is None else v, "unit": e["unit"]}
            log(f"{e['name']} {'n/a' if v is None else f'{v:.6g}'} {e['unit']}")
    else:
        metrics = {e["name"]: {"value": r[e["name"]], "unit": e["unit"]}
                   for e in spec["end_to_end"]}

    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump(dict(r, provenance=prov, metrics=metrics), f, indent=1, sort_keys=True)
    print(json.dumps({"correct": bool(r["correct"]), "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    try:
        main()
    except (BenchError, OSError, subprocess.SubprocessError) as e:
        sys.stderr.write(f"perfbench: {e}\n")
        sys.exit(2)
