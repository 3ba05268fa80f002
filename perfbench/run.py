#!/usr/bin/env python3
"""graft benchmark: one workload per invocation, one fresh JVM per workload.

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 18 --trace 0

Run from the repository root. The first run compiles the program's sources
(src/main) and the benchmark's JVM runner (perfbench/scala) into
.bench_build/, which later runs reuse while the sources are unchanged.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics
(and writes the run's spans to .bench_build/traces/). Either way the outputs
are checked once, untimed, before the result is printed. The last line of
stdout is one JSON object: {"correct", "attempted", "failed", "metrics"}.
See perfbench/README.md for the workloads and metric definitions.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

JVM_TIMEOUT_S = 160

# Fixed query subsets, chosen once and kept for every seed so that runs
# compare. `relational` takes short scans, joins, windows, set operations,
# cubes and string/array/map functions from ops.Relational and
# ops.RelationalExt; `iterative` takes ops.GraphMiningOps' k-core peel (a
# localCheckpoint per round) and two of its series kernels (ACF, SAX motifs),
# and ops.VectorOps' HOF folds (cosine top-k, centroids, LSH and LSH near-dup,
# covariance, silhouette).
#
# Set-up runs one checked pass (outputs kept for the correctness check);
# `settle` more untimed passes follow, because the JIT is still warming for
# two to three passes after the first (measured: a 12-query pass at 6.2, 5.2,
# 4.7, then 4.6 +- 0.2 s). Then come --seconds / pass_s timed passes, at
# least 2; `pass_s` is one steady pass on the reference host (4 cores).
WORKLOADS = {
    "relational": {"kind": "catalog", "pass_s": 5.0, "settle": 2, "queries": [
        "q01_agg", "q03_join_agg", "q05_semi_join", "q07_topk_per_group",
        "q09_running_sum", "q12_set_ops", "q14_cube", "q19_strings",
        "q21_asof_join", "q28_percentiles", "q47_array_fns", "q57_map_ops"]},
    "iterative": {"kind": "catalog", "pass_s": 6.5, "settle": 0, "queries": [
        "q300_kcore_peel", "q303_acf", "q305_sax_motifs", "q40_cosine_topk",
        "q41_centroids", "q42_ann_lsh", "q43_centroid_agg", "q104_cosine_neardup_lsh",
        "q141_cov_matrix", "q248_silhouette"]},
    "report_ingest": {"kind": "ingest", "pass_s": 6.5, "settle": 1},
}


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


# --- build -------------------------------------------------------------------

def spark_jars():
    """Classpath glob of Spark's jars: $SPARK_HOME/jars, else beside spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: Spark not found (set SPARK_HOME)")
    return os.path.join(home, "jars", "*")


def _sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))
    return main, bench


def build():
    """Compile src/main and the runner with the Scala compiler that ships in
    Spark's jars; returns the JVM classpath. Rebuilds when sources change."""
    main, bench = _sources()
    if not main or not os.path.isdir(os.path.join(ROOT, "tools")):
        raise SystemExit("perfbench: run from the graft repository root "
                         "(src/main/scala and tools/ not found)")
    h = hashlib.sha1()
    for p in main + bench:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(classes, "STAMP")
    jars = spark_jars()
    cp = [classes, os.path.join(ROOT, "src/main/resources"), jars]
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return os.pathsep.join(cp)
    t0 = time.time()
    tmp = os.path.join(BUILD, f"classes.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    scalac = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g",
              "-cp", jars, "scala.tools.nsc.Main", "-nowarn", "-d", tmp]
    for srcs, extra in ((main, []), (bench, [tmp])):
        lst = os.path.join(BUILD, "sources.txt")
        with open(lst, "w") as f:
            f.write("\n".join(srcs))
        cls = os.pathsep.join(extra + [jars])
        r = subprocess.run(scalac + ["-classpath", cls, "@" + lst],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit("perfbench: compile failed")
    with open(os.path.join(tmp, "STAMP"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    log(f"built {len(main)} program + {len(bench)} benchmark sources in {time.time() - t0:.1f}s")
    return os.pathsep.join(cp)


JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def run_jvm(cp, work, mode, **kv):
    """Run the JVM runner to completion; returns its results.json."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every file the JVM writes stays under `work`: temp files, Spark's local
    # dirs and warehouse (set by the runner); no hsperfdata file under /tmp
    cmd = ["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.BenchRunner", mode, f"work={work}", f"cores={cores()}"]
    cmd += [f"{k}={v}" for k, v in kv.items()]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: JVM runner exceeded {JVM_TIMEOUT_S}s")
    res_path = os.path.join(work, "results.json")
    if rc != 0 or not os.path.exists(res_path):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: JVM runner failed (exit {rc})")
    with open(res_path) as f:
        return json.load(f)


# --- correctness ---------------------------------------------------------------

def check_catalog(data_dir, work, queries, setup_errors):
    """Compare each query's warm-pass output with its DuckDB oracle, the way
    tools/selfcheck.py does. Returns ({query: problem}, {query: rows})."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import selfcheck
    con = selfcheck.connect_views(data_dir)
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracles = json.load(f)
    bad, rows = {}, {}
    for q in queries:
        if q in setup_errors:
            bad[q] = "failed: " + setup_errors[q]
            continue
        got = duckdb.connect().execute(
            f"SELECT * FROM read_parquet('{work}/check/{q}/*.parquet')").fetchdf()
        rows[q] = len(got)
        if q not in oracles:
            bad[q] = "no oracle"
            continue
        want = con.sql(oracles[q]).fetchdf()
        got.columns = [c.lower() for c in got.columns]
        want.columns = [c.lower() for c in want.columns]
        if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
            bad[q] = f"shape {len(got)}x{sorted(got.columns)} != {len(want)}x{sorted(want.columns)}"
            continue
        drift = [c for c in got.columns
                 if selfcheck.dtype_class(got[c].dtype) != selfcheck.dtype_class(want[c].dtype)
                 and got[c].notna().any() and want[c].notna().any()]
        if drift:
            bad[q] = f"dtype class drift in {drift}"
        elif selfcheck.canon(got) != selfcheck.canon(want):
            bad[q] = "value hash mismatch"
    return bad, rows


def check_ingest(work, truth, res):
    """Check every pass (the warm one too) against the generator's truth: each
    operation's new-record count, then per table the row count, no report
    appended twice, the key-column hash, and the last CSV's row count.
    Returns {(pass, traced): problem}."""
    import duckdb
    con = duckdb.connect()
    bad = {}
    for p in res["passes"]:
        key = (p["pass"], p["traced"])
        ops = [o for o in res["ops"] if (o["pass"], o["traced"]) == key]
        days = truth[:len(ops) // 2]
        want_new = [len(t[m]) for t in days for m in ("erp", "isu")]
        if [o["new"] for o in ops] != want_new:
            bad[key] = f"new records per operation {[o['new'] for o in ops]} != {want_new}"
            continue
        out = os.path.join(work, "ingest", f"p{p['pass']}{'t' if p['traced'] else ''}", "out")
        for m in ("erp", "isu"):
            want = [r for t in days for r in t[m]]
            rows = con.sql(
                f"""SELECT regexp_extract(RUTA_DE_REPORTE, '([^/]+)$', 1), ARCHIVO_PROCESADO,
                           ESTADO_DEL_PROCESO, TOTAL_REGISTROS_OFICIAL
                    FROM read_parquet('{out}/{m}_parquet/*.parquet')""").fetchall()
            dups = len(rows) - len({(r[0], r[1]) for r in rows})
            csv_rows = con.sql(
                f"SELECT count(*) FROM read_csv('{out}/{m}_csv/*.csv', header=true, "
                "all_varchar=true)").fetchone()[0]
            if len(rows) != len(want) or dups:
                bad[key] = f"{m}: {len(rows)} rows ({dups} appended twice), want {len(want)}"
            elif gen.key_hash(rows) != gen.key_hash(want):
                bad[key] = f"{m}: key-column hash mismatch"
            elif csv_rows != len(want):
                bad[key] = f"{m}: csv has {csv_rows} rows, want {len(want)}"
    return bad


# --- main ----------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    w = WORKLOADS[a.workload]
    cp = build()
    passes = max(2, round(a.seconds / w["pass_s"]))
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(BUILD, "runs", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run(a, w, cp, work, passes)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


def run(a, w, cp, work, passes):
    data = os.path.join(work, "data")
    if w["kind"] == "catalog":
        gen.catalog_tables(data, a.seed)
        res = run_jvm(cp, work, "catalog", data=data, seed=a.seed, passes=passes,
                      settle=w["settle"], trace=a.trace, queries=",".join(w["queries"]))
        bad, rows = check_catalog(data, work, w["queries"], res["setup_errors"])
        wrong = lambda o: o["name"] in bad
        records_per_pass = sum(rows.values())
        new_bytes = 0
    else:
        truth = gen.report_landing(data, a.seed)
        res = run_jvm(cp, work, "ingest", stage=data, days=gen.INGEST_DAYS,
                      passes=passes, settle=w["settle"], trace=a.trace)
        bad = check_ingest(work, truth, res)
        wrong = lambda o: (o["pass"], o["traced"]) in bad
        records_per_pass = sum(len(t["erp"]) + len(t["isu"]) for t in truth)
        n_traced = sum(1 for p in res["passes"] if p["traced"])
        new_bytes = sum(t["bytes"] for t in truth) * n_traced

    timed = [o for o in res["ops"] if o["pass"] > 0 and (a.trace or not o["traced"])]
    failed = [o for o in timed if o["error"]]
    wrong_ops = [o for o in timed if not o["error"] and wrong(o)]
    isolated = res["dedup_policy_at_start"] != "LAST_WIN"
    for o in failed[:10]:
        log(f"FAILED {o['name']} (pass {o['pass']}): {o['error']}")
    for k, v in bad.items():
        log(f"WRONG OUTPUT {k}: {v}")
    if not isolated:
        log("ISOLATION: session started with mapKeyDedupPolicy=LAST_WIN")
    error_rate = (len(failed) + len(wrong_ops)) / len(timed)

    lat = [o["latency_s"] for o in timed if not o["traced"] and not o["error"]]
    walls = [p["wall_s"] for p in res["passes"] if p["pass"] > 0 and not p["traced"]]
    wall = statistics.median(walls)
    t = metrics.tail(lat)
    e2e = {
        "setup_s": res["session_s"] + res["warm_s"],
        "wall_s": wall,
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": t[0],
        "records_per_s": records_per_pass / wall,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    print(f"workload {a.workload} seed {a.seed}: {len(walls)} timed passes, "
          f"{len(timed)} operations, local[{cores()}], closed loop, 1 client; "
          f"{w['settle']} settle passes took {res['settle_s']:.2f} s")
    for k, u in metrics.END_TO_END.items():
        print(f"  {k:16s} {e2e[k]:12.4f} {u}")
    print(f"  latency_tail_s is p{t[1]:.1f} of {t[2]} samples; "
          f"error_rate {error_rate:.4f} ({len(failed)} failed + {len(wrong_ops)} wrong "
          f"of {len(timed)}); records per pass {records_per_pass}")
    values = e2e
    if a.trace:
        with open(os.path.join(work, "spans.jsonl")) as f:
            spans = [json.loads(line) for line in f]
        values, cov = metrics.layers(res, spans, cores(), new_bytes)
        for k, u in metrics.PER_LAYER.items():
            print(f"  {k:24s} {values[k]:14.4f} {u}")
        missed = sorted(q for q, s in cov.items() if min(s) < metrics.COVERAGE)
        print(f"  tracing overhead {values['trace.overhead_s']:+.4f} s per pass "
              f"(traced {values['trace.wall_s']:.4f} s vs untraced {wall:.4f} s); "
              f"span coverage below {metrics.COVERAGE:.0%}: {missed or 'none'}")
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl"))
    units = metrics.PER_LAYER if a.trace else metrics.END_TO_END
    return {"correct": not bad and not failed and isolated, "attempted": len(timed),
            "failed": len(failed) + len(wrong_ops), "metrics": metrics.report(values, units)}


if __name__ == "__main__":
    main()
