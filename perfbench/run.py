#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload ann_local --seed 1 --seconds 10 --trace 0

Run from the repository root. It compiles the program (src/main/scala) and
the benchmark's own Scala (perfbench/scala) into the build directory
($CARGO_TARGET_DIR, default .bench_build), runs the workload in its own JVM,
checks the outputs, prints every metric by name with its unit, and prints as
its last stdout line one JSON object: correct, attempted, failed, metrics.
With --trace 0 the metrics are BENCHMARK.json's end_to_end set; with
--trace 1 its per_layer set, and the spans go to spans.json in the run
directory. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

DEADLINE_S = 175
WORKLOADS = ("ann_local", "ann_fanout_rw", "corpus_pipeline")
CORPUS_TABLES = ("documents", "orders", "lineitem")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# metrics whose samples are recorded under another name
SAMPLES_OF = {"op_p50_ms": "op_ms"}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark distribution's jars (they include the Scala 2.13 compiler)."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark
        dirs.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for d in dirs:
        jars = sorted(glob.glob(os.path.join(d, "*.jar")))
        if any("scala-compiler" in os.path.basename(j) for j in jars):
            return jars
    fail("no Spark jars found (set SPARK_HOME)")


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not main:
        fail("no program sources under src/main/scala: run from the repository root")
    own = sorted(glob.glob("perfbench/scala/**/*.scala", recursive=True))
    return main + own


def build(build_dir, jars):
    """Compile program + benchmark once per source state; returns the class
    directory and whether it was compiled now."""
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(path.encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = classes + ".stamp"
    if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, False
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join(jars)
    t0 = time.time()
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", tmp, "-classpath", cp] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout)
        fail("compilation failed", 1)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"built {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes, True


def run_jvm(classes, jars, args, out_dir, timeout):
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([classes, "src/main/resources"] + jars)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:ReservedCodeCacheSize=256m", f"-Djava.io.tmpdir={tmp}",
            "-cp", cp, "perfbench.PerfBench"] + args + [out_dir]
    # the JVM's stdout goes to stderr: this script's last stdout line is the result
    try:
        return subprocess.run(cmd, stdout=sys.stderr, timeout=timeout).returncode
    except subprocess.TimeoutExpired:
        print(f"perfbench: the run exceeded {timeout:.0f} s and was stopped", file=sys.stderr)
        return -1


def oracle_check(out_dir, sql_by_query):
    """Each query's first-pass result against the same SQL run by DuckDB on
    the same parquet inputs: columns sorted by name, rows sorted, values
    compared exactly. Returns {query: None | failure text}."""
    import duckdb
    con = duckdb.connect()
    data = os.path.join(out_dir, "corpus")
    for t in CORPUS_TABLES:
        con.execute(f"create view {t} as select * from read_parquet('{data}/{t}.parquet/*.parquet')")
    verdicts = {}
    for q, sql in sorted(sql_by_query.items()):
        try:
            got = con.execute(
                f"select * from read_parquet('{out_dir}/results/{q}/*.parquet')").fetchdf()
            want = con.execute(sql).fetchdf()
        except Exception as e:  # a missing result or a failing SQL is a failed check
            verdicts[q] = f"{type(e).__name__}: {e}"
            continue
        verdicts[q] = compare_frames(got, want)
    con.close()
    return verdicts


def compare_frames(got, want):
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    cols = sorted(got.columns)
    g = got[cols].sort_values(by=cols).reset_index(drop=True)
    w = want[cols].sort_values(by=cols).reset_index(drop=True)
    if len(g) != len(w):
        return f"rows {len(g)} vs {len(w)}"
    for c in cols:
        for i, (a, b) in enumerate(zip(g[c].tolist(), w[c].tolist())):
            if a != b and str(a) != str(b):
                return f"column {c} row {i}: {a!r} vs {b!r}"
    return None


def reduce_metrics(spec, samples, info, attempted, failed, trace):
    def values(name, traced):
        return (samples.get(("traced." if traced else "") + name) or {}).get("values") or []

    def med(name, traced=False):
        v = values(SAMPLES_OF.get(name, name), traced)
        return stats.median(v) if v else None

    ops = values("op_ms", False)
    derived = {
        "failed_ops": failed / attempted,
        # only where ten samples lie beyond the 99th percentile
        "query_p99_ms": stats.percentile(ops, 99) if len(ops) >= 1000 else None,
        "jvm.loadavg_start": info.get("loadavg_start"),
        "jvm.loadavg_end": info.get("loadavg_end"),
        "jvm.host_cores": info.get("host_cores"),
    }
    out = {}
    if not trace:
        for m in spec["end_to_end"]:
            out[m["name"]] = (med(m["name"]), m["unit"])
        return out
    for m in spec["per_layer"]:
        name = m["name"]
        if name.startswith("overhead."):
            base = name[len("overhead."):]
            t, u = med(base, True), med(base)
            v = t - u if t is not None and u is not None else None
        elif name in derived and derived[name] is not None:
            v = derived[name]
        else:
            # untraced rounds where they record the metric, else the traced
            # probes; None when the workload does not exercise the layer
            v = med(name)
            if v is None:
                v = med(name, True)
        out[name] = (v, m["unit"])
    return out


def result_line(correct, attempted, failed, metrics):
    """The run's last stdout line. A metric the run could not measure (its
    layer is not exercised by the workload, or every round failed) reads 0."""
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {n: {"value": (v if v is not None else 0.0), "unit": u}
                    for n, (v, u) in metrics.items()},
    })


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    sources()  # a checkout without the program cannot be benchmarked
    jars = spark_jars()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classes, built = build(build_dir, jars)
    # the first run of a checkout also builds; its deadline starts after that
    t_run = time.time() if built else t_start

    out_dir = os.path.join(build_dir, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    rc = run_jvm(classes, jars, [a.workload, str(a.seed), repr(a.seconds), str(a.trace)],
                 out_dir, DEADLINE_S - (time.time() - t_run))
    result_path = os.path.join(out_dir, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        fail(f"the {a.workload} run failed (exit code {rc})", 1)
    with open(result_path) as f:
        res = json.load(f)

    attempted, failed = res["attempted"], res["failed"]
    checks = res["checks"]
    info = res["info"]
    if a.workload == "corpus_pipeline":
        t0 = time.time()
        for q, why in oracle_check(out_dir, info.get("oracle_sql", {})).items():
            attempted += 1
            failed += why is not None
            checks.append({"name": f"corpus_pipeline.{q}.oracle", "ok": why is None,
                           "detail": why or ""})
        print(f"oracle check {time.time() - t0:.1f} s", file=sys.stderr)

    metrics = reduce_metrics(spec, res["samples"], info, attempted, failed, a.trace == 1)
    missing = [n for n, (v, _) in metrics.items() if v is None]
    correct = failed == 0 and all(c["ok"] for c in checks) and not (a.trace == 0 and missing)

    bad = [c for c in checks if not c["ok"]]
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: {len(checks)} checks, "
          f"{len(bad)} failed; {attempted} operations attempted, {failed} failed")
    for c in bad:
        print(f"  FAILED {c['name']}: {c['detail']}")
    for e in res["errors"]:
        print(f"  ERROR {e}")
    print(f"load: loadavg {info.get('loadavg_start')} -> {info.get('loadavg_end')}, "
          f"{info.get('host_cores')} host cores, local[{info.get('spark_cores')}]")
    for k in ("graph_fingerprint", "medoid", "search_hops", "search_comps", "result_rows"):
        if k in info:
            print(f"{k}: {info[k]}")
    # every sample series, reduced to its median, with its sample count
    for name, s in sorted(res["samples"].items()):
        v = s["values"]
        if v:
            print(f"  {name:40s} {stats.median(v):14.6g} {s['unit']:6s} (median of {len(v)})")
    n_ops = len(res["samples"].get("op_ms", {}).get("values", []))
    tail = stats.tail_percentile(n_ops)
    if tail is not None:
        print(f"  op_ms p{tail:g} {stats.percentile(res['samples']['op_ms']['values'], tail):.6g} ms "
              f"over {n_ops} samples")
    if a.trace:
        print(f"spans: {os.path.join(out_dir, 'spans.json')}")
    for name, (v, unit) in metrics.items():
        print(f"{name} {v} {unit}")
    print(result_line(correct, attempted, failed, metrics))


if __name__ == "__main__":
    main()
