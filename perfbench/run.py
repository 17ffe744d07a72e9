#!/usr/bin/env python3
"""The engine's benchmark: one command per run.

    python3 perfbench/run.py --workload tpch-sf0.1 --seed 1 --seconds 10 --trace 0

Run from the repository root. Steps, all inside `.bench_build/`:
  1. build   - compile the engine and the benchmark program with sbt (only when the
               sources changed) and record the runtime classpath;
  2. prepare - generate the input tables (the engine's test fixture, see
               gen.py) once, check them (`_DONE`, row counts) and compute
               DuckDB's answers to every query;
  3. run     - one JVM (`graft.perfbench.Main`) sets up, warms up and times
               the workload's queries in closed loop;
  4. check   - compare every distinct answer with DuckDB's, derive the
               metrics, print them as the last line of standard output.
Prepare time is not part of any metric. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

ANN_TOPK = "ann_topk"  # seeded IVF search, graft.perfbench.Run.AnnTopK
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = HERE.parent
WORK = ROOT / ".bench_build"

SQL = "sql_"  # prefix of a key run as plain spark.sql, graft.perfbench.Run.SqlPrefix
# Each workload: input scale, the query list (SparkEntry.queries keys, plus
# ANN_TOPK and SQL keys), the warm-up passes of each set-up round and the
# measured passes per 10 s of --seconds (README.md, "Warm-up", says how they
# were chosen). A run makes
# max(2, round(passes * seconds / 10)) passes, a fixed number for a given
# --seconds, so every run of a workload has the same sample count.
# Lists are short because this engine spends 0.2-4 s of driver and
# scheduling time per query even on small inputs, and a run must stay
# well under a minute.
WORKLOADS = {
    "tpch-sf0.1": dict(sf=0.1, warm=1, passes=3,
                       queries=["q1", "q6", "q8", "q18", "q21", SQL + "q3"]),
    "llm-sf0.01": dict(sf=0.01, warm=1, passes=2,
                       queries=["dedup_minhash_lsh", "dedup_ngram_jaccard", ANN_TOPK,
                                "curate_quality_classifier", "text_stats"]),
}
SETUPS = 2
# Recall floor for the IVF search, the bound of the engine's own
# similarity_ivf_recall query: a run whose recall falls below it fails
# its output check (minhash dedup recall is held at 1 by the DuckDB check,
# whose oracle is the exact n-gram jaccard join).
ANN_RECALL_FLOOR = 0.4
# Wall-clock budget of one run after build and prepare, in seconds; the
# JVM stops starting queries at the deadline and records the cut.
RUN_BUDGET_S = 140
JVM_GRACE_S = 20

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def heap():
    """The heap the engine's test command sets: half of RAM in GB, 2..8 GB."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def source_stamp():
    """Hash of every input of the build: engine and benchmark sources and the
    build definitions."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", ROOT / "project", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file() and "target" not in p.parts)
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def oracle_key(q):
    """The SparkEntry key whose DuckDB SQL answers query-list entry `q`."""
    return q[len(SQL):] if q.startswith(SQL) else q


def all_queries():
    return sorted({oracle_key(q) for w in WORKLOADS.values() for q in w["queries"]})


def java_cmd(classpath, *args):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = WORK / "tmp"
    return (["java", *opens, f"-Xmx{heap()}", "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={tmp}", f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}",
             "-cp", classpath, "graft.perfbench.Main", *args])


def java_env():
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_LOCAL_DIR"] = str(WORK / "tmp" / "spark-local")
    return env


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group and wait for it; on timeout kill
    the whole group (sbt starts a JVM below its launcher script) and wait."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def build():
    """Compile with sbt when the sources changed; returns the classpath."""
    stamp_file, cp_file = WORK / "build.stamp", WORK / "classpath.txt"
    stamp = source_stamp()
    if stamp_file.is_file() and stamp_file.read_text() == stamp and cp_file.is_file():
        return cp_file.read_text()
    log("building the engine and the benchmark program with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    sbt_log = WORK / "sbt.log"
    with open(sbt_log, "w") as f:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], 840, cwd=HERE, env=env,
                       stdout=f, stderr=subprocess.STDOUT)
    lines = [l for l in sbt_log.read_text().splitlines()
             if "scala-2.13/classes" in l and not l.startswith("[")]
    if rc != 0 or not lines:
        sys.stderr.write(sbt_log.read_text()[-4000:])
        raise SystemExit(f"sbt build failed (rc={rc})")
    classpath = lines[-1].strip()
    oracle = WORK / "oracle.json"
    if run_group(java_cmd(classpath, "--dump-oracle", str(oracle),
                          "--queries", ",".join(all_queries())), 120,
                 env=java_env(), stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL) != 0:
        raise SystemExit("could not read the oracle SQL from the engine")
    cp_file.write_text(classpath)
    stamp_file.write_text(stamp)
    return classpath


def prepare(w):
    """Generate (or reuse) the tables and DuckDB's answers to the workload's
    queries. Returns (data dir, expected answers by query)."""
    import duckdb
    data = WORK / "data" / f"sf{w['sf']}"
    gen.write(str(data), w["sf"])
    oracle = json.loads((WORK / "oracle.json").read_text())
    exp_dir = data / "expected"
    exp_dir.mkdir(exist_ok=True)
    expected, con = {}, None
    for q in (q for q in w["queries"] if oracle_key(q) in oracle):
        # answers are stored by SQL text: several queries share one oracle
        sql = oracle[oracle_key(q)]
        sql_id = hashlib.sha256(sql.encode()).hexdigest()[:16]
        f = exp_dir / f"{sql_id}.json"
        if not f.is_file():
            if con is None:
                con = duckdb.connect()
                for t in gen.written(w["sf"]):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data / (t + '.parquet')}')")
            cur = con.execute(sql)
            ans = {"columns": [d[0] for d in cur.description],
                   "rows": [[metrics.canon_value(v) for v in r] for r in cur.fetchall()]}
            tmp = f.with_suffix(".tmp")
            tmp.write_text(json.dumps(ans))
            tmp.replace(f)
        expected[q] = json.loads(f.read_text())
    return data, expected


def _pairs(result_json, a, b):
    body = json.loads(result_json)
    i, j = body["columns"].index(a), body["columns"].index(b)
    return {(r[i], r[j]) for r in body["rows"]}


def check(run, expected):
    """Failed executions (error, or an answer that differs from DuckDB's or
    misses the recall floor), the reasons, and the recall figures."""
    wrong, quality = {}, {}
    exact = {tuple(p) for p in run["ann_exact"]}
    for r in run["results"]:
        if r["query"] == ANN_TOPK:
            rec = len(_pairs(r["json"], "query_id", "neighbor_id") & exact) / max(1, len(exact))
            quality["ann_recall"] = min(rec, quality.get("ann_recall", 1.0))
            reason = (f"recall {rec:.3f} below floor {ANN_RECALL_FLOOR}"
                      if rec < ANN_RECALL_FLOOR else None)
        else:
            reason = metrics.compare(json.loads(r["json"]), expected[r["query"]])
        if r["query"] == "dedup_minhash_lsh":
            # its oracle is the exact n-gram jaccard join at the same threshold
            want = _pairs(json.dumps(expected[r["query"]]), "doc_a", "doc_b")
            rec = len(_pairs(r["json"], "doc_a", "doc_b") & want) / max(1, len(want))
            quality["dedup_recall"] = min(rec, quality.get("dedup_recall", 1.0))
        if reason:
            wrong[(r["query"], r["hash"])] = reason
    reasons = [f"set-up round {i}: {s['warm_failures']} warm-up queries failed"
               for i, s in enumerate(run["setups"]) if s["warm_failures"]]
    failed = 0
    for ex in run["executions"]:
        why = ex["error"] or wrong.get((ex["query"], ex["result"]))
        if why:
            failed += 1
            reasons.append(f"{ex['query']}: {why}"[:300])
    return failed, reasons, quality


def is_correct(run, failed, reasons):
    """Every execution answered correctly and the run was not cut short by
    its budget (a cut run's metrics cover only part of the workload)."""
    return failed == 0 and not reasons and len(run["executions"]) > 0 and not run["cuts"]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        log(f"no engine sources under {ROOT}: run from a full checkout")
        return 2
    w = WORKLOADS[a.workload]
    WORK.mkdir(exist_ok=True)
    classpath = build()
    data, expected = prepare(w)

    runs = WORK / "runs"
    runs.mkdir(exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    out, err = runs / f"{tag}.json", runs / f"{tag}.log"
    if out.exists():
        out.unlink()
    local = WORK / "tmp" / "spark-local"
    shutil.rmtree(local, ignore_errors=True)
    local.mkdir(parents=True)
    deadline = RUN_BUDGET_S
    args = ["--queries", ",".join(w["queries"]), "--data", str(data),
            "--seed", str(a.seed), "--passes", str(max(2, round(w["passes"] * a.seconds / 10))),
            "--trace", str(a.trace), "--setups", str(SETUPS), "--warm", str(w["warm"]),
            "--cores", str(os.cpu_count() or 1),
            "--deadline-s", f"{deadline:.1f}", "--out", str(out)]
    with open(err, "w") as ef:
        rc = run_group(java_cmd(classpath, *args), deadline + JVM_GRACE_S,
                       env=java_env(), stdout=ef, stderr=subprocess.STDOUT)
    if rc is None:
        log(f"JVM exceeded its budget; log: {err}")
        return 1
    if rc != 0 or not out.is_file():
        log(f"JVM failed (rc={rc}); last lines of {err}:")
        sys.stderr.write("".join(open(err).readlines()[-30:]))
        return 1
    run = json.loads(out.read_text())
    failed, reasons, quality = check(run, expected)
    e2e, info = metrics.end_to_end(run)
    attempted = len(run["executions"])
    correct = is_correct(run, failed, reasons)
    if a.trace:
        layer = metrics.per_layer(run, quality)
        breakdown = metrics.query_breakdown(run)
        (runs / f"{tag}-breakdown.json").write_text(json.dumps(breakdown, indent=1))
        values = {k: (layer.get(k, 0.0), unit) for k, unit in PER_LAYER_UNITS.items()}
    else:
        values = {k: (e2e[k], unit) for k, unit in END_TO_END_UNITS.items()}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                      "trace": a.trace, **info, "quality": quality,
                      "cuts": metrics.cut_summary(run["cuts"]),
                      "fail_reasons": reasons[:10], "record": str(out.relative_to(ROOT))}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}))
    return 0 if correct else 1


def _units(kind):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text()) if (ROOT / "BENCHMARK.json").is_file() else {}
    return {m["name"]: m["unit"] for m in spec.get(kind, [])}


END_TO_END_UNITS = _units("end_to_end")
PER_LAYER_UNITS = _units("per_layer")

if __name__ == "__main__":
    sys.exit(main())
