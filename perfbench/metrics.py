"""Pure logic of the benchmark: result comparison, percentiles, span self
times and the metrics derived from one run record written by the JVM side
(`graft.perfbench.Main`). Nothing here touches Spark or the file system."""
import datetime as dt
import math
import statistics

# ---------------------------------------------------------------- results


def _norm(v):
    """Coarse form of a value, used only to order rows before comparing."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return 0.0 if v == 0 else float("%.6g" % v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def canon_value(v):
    """DuckDB (Python) values in the JSON form the JVM writes: timestamps and
    dates as UTC text, decimals as floats, structs as lists of field values,
    maps as sorted [key, value] pairs."""
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, bool) or v is None or isinstance(v, (int, str)):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, dict):
        if set(v) == {"key", "value"} and isinstance(v["key"], list):
            pairs = [[canon_value(k), canon_value(x)] for k, x in zip(v["key"], v["value"])]
            return sorted(pairs, key=repr)
        return [canon_value(x) for x in v.values()]
    if isinstance(v, (list, tuple)):
        return [canon_value(x) for x in v]
    try:
        return float(v)  # Decimal
    except (TypeError, ValueError):
        return str(v)


def values_equal(a, b):
    """Floats within 1e-7 (relative or absolute); lists element-wise;
    everything else exactly."""
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, bool) or isinstance(b, bool):
        return type(a) is type(b) and a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-7, abs_tol=1e-7)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(values_equal(x, y) for x, y in zip(a, b))
    return a == b


def _sorted_table(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [[r[i] for i in order] for r in rows]
    out.sort(key=lambda r: tuple((x is None, str(_norm(x))) for x in r))
    return [columns[i] for i in order], out


def compare(actual, expected):
    """None when the two results match, else a one-line reason. Each is
    {"columns": [...], "rows": [[...], ...]}; columns are matched by name
    and rows compared as sorted multisets."""
    ac, ar = _sorted_table(actual["columns"], actual["rows"])
    ec, er = _sorted_table(expected["columns"], expected["rows"])
    if ac != ec:
        return f"columns {ac} != expected {ec}"
    if len(ar) != len(er):
        return f"{len(ar)} rows != expected {len(er)}"
    for i, (x, y) in enumerate(zip(ar, er)):
        if not values_equal(x, y):
            return f"row {i}: {x} != expected {y}"
    return None


# ------------------------------------------------------------ statistics


def tail(samples, above=10):
    """The highest percentile with at least `above` samples above it:
    returns (value, percentile, sample count), or None when there are too
    few samples for any such percentile."""
    n = len(samples)
    if n <= above:
        return None
    xs = sorted(samples)
    k = n - above - 1
    return xs[k], 100.0 * (k + 1) / n, n


def median(xs):
    return statistics.median(xs) if xs else 0.0


# -------------------------------------------------------- interval logic


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of [start, end] intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    return (e - s) - union_length(children, s, e)


def phase_layers(phase):
    """Split one traced query phase into driver, scheduler and executor self
    time. Executors: some task running. Scheduler: inside a job or stage
    but no task running. Driver: no job running. The three sum to the
    phase's duration."""
    s, e = phase["start"], phase["end"]
    tasks = [tuple(iv) for st in phase.get("stages", []) for iv in st["task_intervals"]]
    stages = [(st["submit"], st["end"]) for st in phase.get("stages", [])]
    jobs = [(j["start"], j["end"]) for j in phase.get("jobs", [])]
    driver = self_time((s, e), jobs + stages + tasks)
    busy = union_length(tasks, s, e)
    return {"driver": driver, "sched": (e - s) - driver - busy, "exec": busy}


# --------------------------------------------------------------- budget


def cut_summary(cuts):
    """Budget cuts as recorded by the JVM: the places where the run stopped
    starting queries, in order."""
    return [c["at"] for c in cuts]


# -------------------------------------------------------------- metrics


def end_to_end(run):
    """End-to-end metrics from the untraced part of one run record."""
    execs = [x for x in run["executions"] if x["label"] == "untraced"]
    passes = [p["end"] - p["start"] for p in run["passes"] if p["label"] == "untraced"]
    lat = [x["end"] - x["start"] for x in execs]
    t = tail(lat)
    if t is None or t[1] <= 50.0:
        # with 20 samples or fewer the rule lands at or below the median;
        # the tail is then the slowest execution
        t = (max(lat, default=0.0), 100.0, len(lat))
    out = {
        "setup_s": median([s["setup_s"] for s in run["setups"]]),
        "pass_s": median(passes),
        "query_p50_s": median(lat),
        "query_tail_s": t[0],
    }
    info = {"tail_percentile": t[1], "samples": len(lat), "passes": len(passes),
            "warm_pass_s": [s.get("warm_pass_s", []) for s in run["setups"]]}
    return out, info


# AI operator groups by query-name prefix; each is reported as seconds per
# traced pass (0 on a workload that runs none of them)
LLM_GROUPS = {"llm.dedup_s": ("dedup_",), "llm.ann_s": ("similarity_", "ann_"),
              "llm.curate_s": ("curate_",), "llm.text_s": ("text_",)}


def per_layer(run, quality):
    """Per-pass layer metrics from the traced passes of one run record."""
    execs = [x for x in run["executions"] if x["label"] == "traced"]
    npass = max(1, len([p for p in run["passes"] if p["label"] == "traced"]))
    cores = int(run["cores"])
    acc = {}

    def add(k, v):
        acc[k] = acc.get(k, 0.0) + v

    peak_mem = 0
    for ex in execs:
        for ph in ex["phases"]:
            layers = phase_layers(ph)
            if ph["name"] != "release":
                for k, v in layers.items():
                    add(f"self.{k}_s", v)
            jobs, stages, plans = ph.get("jobs", []), ph.get("stages", []), ph.get("plans", [])
            if ph["name"] == "build":
                add("queries.build_s", ph["end"] - ph["start"])
                add("queries.build_jobs", len(jobs))
            if ph["name"] == "execute":
                add("sched.driver_gap_s", layers["driver"] + layers["sched"])
            if ph["name"] == "release":
                add("caches.release_s", ph["end"] - ph["start"])
            add("trace.drain_s", ph.get("traced_end", ph["end"]) - ph["end"])
            add("sched.jobs", len(jobs))
            add("sched.stages", len(stages))
            for st in stages:
                add("sched.tasks", st["tasks"])
                add("sched.launch_wait_s", st["launch_wait_ms"] / 1e3)
                add("exec.task_run_s", st["run_ms"] / 1e3)
                add("exec.task_cpu_s", st["cpu_ns"] / 1e9)
                add("exec.gc_s", st["gc_ms"] / 1e3)
                add("exec.input_mb", st["input_bytes"] / 2**20)
                add("exec.shuffle_write_mb", st["shuffle_write_bytes"] / 2**20)
                add("exec.shuffle_read_mb", st["shuffle_read_bytes"] / 2**20)
                add("exec.spill_mb", st["spill_bytes"] / 2**20)
                peak_mem = max(peak_mem, st["peak_exec_mem_bytes"])
            for pl in plans:
                add("plans.analysis_s", pl["analysis_s"])
                add("plans.optimization_s", pl["optimization_s"])
                add("plans.planning_s", pl["planning_s"])
                add("plans.graft_rules_s", pl["graft_rules_s"])
                for rule, n in pl["fired"].items():
                    add(f"plans.{rule}_fired", n)
                add("ops.scan_rows", pl["scan_rows"])
                add("_partial_in", pl["partial_agg_in"])
                add("_partial_out", pl["partial_agg_out"])
                add("_bloom_tested", pl["bloom_tested"])
                add("_bloom_kept", pl["bloom_kept"])
        add("ops.result_rows", ex["rows"])
        add("caches.leased", ex["cache"].get("leased", 0))
        add("caches.cached_mb", ex["cache"].get("cached_bytes", 0) / 2**20)
        add("self.unattributed_s", (ex["end"] - ex["start"])
            - sum(p["end"] - p["start"] for p in ex["phases"]))
        for k, prefixes in LLM_GROUPS.items():
            if ex["query"].startswith(prefixes):
                add(k, ex["end"] - ex["start"])
    out = {k: v / npass for k, v in acc.items() if not k.startswith("_")}
    wall = median([p["end"] - p["start"] for p in run["passes"] if p["label"] == "traced"])
    out["exec.core_busy"] = out.get("exec.task_run_s", 0.0) / (cores * wall) if wall else 0.0
    out["exec.peak_exec_mem_mb"] = peak_mem / 2**20
    out["ops.rows_per_result"] = out.get("ops.scan_rows", 0.0) / max(1.0, out.get("ops.result_rows", 0.0))
    out["ops.partial_agg_ratio"] = acc.get("_partial_out", 0) / acc["_partial_in"] if acc.get("_partial_in") else 0.0
    out["ops.bloom_kept_ratio"] = acc.get("_bloom_kept", 0) / acc["_bloom_tested"] if acc.get("_bloom_tested") else 0.0
    out["peak_rss_mb"] = run["peak_rss_mb"]
    out["engine.session_s"] = median([s["session_s"] for s in run["setups"]])
    out["engine.warm_s"] = median([s["warm_s"] for s in run["setups"]])
    host = [run["host"]["before"], run["host"]["after"]]
    calib = [h["calib_s"] for h in host]
    bw = [h["bw_gbps"] for h in host]
    out["host.calib_s"] = min(calib)
    out["host.bw_gbps"] = max(bw)
    out["host.weather"] = max(max(calib) / min(calib), max(bw) / min(bw))
    # untraced and traced passes alternate in the same session
    untraced = median([p["end"] - p["start"] for p in run["passes"] if p["label"] == "untraced"])
    out["trace.overhead_s"] = wall - untraced
    out["llm.ann_recall"] = quality.get("ann_recall", 0.0)
    out["llm.dedup_recall"] = quality.get("dedup_recall", 0.0)
    for k in LLM_GROUPS:
        out.setdefault(k, 0.0)
    return out


def query_breakdown(run):
    """Median per query over traced executions of each self-time layer:
    {query: {"wall": s, "build.driver": s, ..., "unattributed": s}}."""
    per = {}
    for ex in (x for x in run["executions"] if x["label"] == "traced"):
        row = {"wall": ex["end"] - ex["start"]}
        for ph in ex["phases"]:
            if ph["name"] == "release":
                row["release"] = ph["end"] - ph["start"]
            else:
                for k, v in phase_layers(ph).items():
                    row[f"{ph['name']}.{k}"] = v
        row["unattributed"] = row["wall"] - sum(v for k, v in row.items() if k != "wall")
        per.setdefault(ex["query"], []).append(row)
    return {q: {k: median([r.get(k, 0.0) for r in rows]) for k in rows[0]}
            for q, rows in sorted(per.items())}
