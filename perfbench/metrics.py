"""Turns the harness's raw measurements into the benchmark's metrics.

Every metric named in BENCHMARK.json is produced here: the end-to-end
metrics from an untraced run, the per-layer metrics from a traced run.
"""
import math
import statistics

PHASES = ("cold", "warm", "build", "ingest", "serve")
EXEC_KEYS = ("action_s", "jobs", "stages", "tasks", "task_s", "task_cpu_s",
             "gc_s", "input_mb", "shuffle_write_mb", "shuffle_read_mb",
             "spill_mb", "skew", "busy_frac")
SPAN_LEVELS = ("workload", "phase", "query", "construct", "settle", "action",
               "request", "batch", "check")
FAMILIES = ("dedup", "retrieval", "text", "curation")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(samples, p, beyond=10):
    """Nearest-rank percentile under the benchmark's reporting rule: the
    highest percentile at or below `p` that leaves at least `beyond`
    samples above it. Returns (value, percentile used, sample count);
    the value is None when there are too few samples for any.
    """
    n = len(samples)
    if n <= beyond:
        return None, None, n
    used = min(float(p), 100.0 * (n - beyond) / n)
    rank = max(1, math.ceil(used * n / 100.0 - 1e-9))
    return sorted(samples)[rank - 1], used, n


def end_to_end(raw):
    """setup_s, cold_s and warm_s of one run. Only setup_s and cold_s are
    gated: warm_s moves by more than a bound from one JVM to the next,
    so it is reported beside them and among the per-layer metrics."""
    m = {"setup_s": raw["setup_s"]}
    if "passes" in raw:
        cold = [p["wall_s"] for p in raw["passes"] if p["kind"] == "cold"]
        warm = [p["wall_s"] for p in raw["passes"] if p["kind"] == "warm"]
        m["cold_s"] = sum(cold)
        m["warm_s"] = median(warm)
    else:
        rounds = raw["rounds"]
        m["cold_s"] = (sum(raw["build_s"].values())
                       + sum(r["batch_s"] + sum(r["refresh_s"]) for r in rounds))
        m["warm_s"] = median([x for r in rounds for x in r["loop_s"]])
    return m


def _sum(recs, key, pred=lambda q: True):
    return sum(q.get(key, 0.0) for q in recs if pred(q))


def _phase_totals(raw, cores):
    """exec.<phase>.* from the listener totals of the traced phases."""
    out = {}
    phases = raw.get("phases", [])

    def pick(prefix):
        if prefix == "warm":  # the first warm pass: counts repeat exactly
            xs = [p for p in phases if p["name"] == "warm1"]
        else:
            xs = [p for p in phases if p["name"].startswith(prefix)
                  and p["name"][len(prefix):].isdigit() or p["name"] == prefix]
        return xs

    for ph in PHASES:
        xs = pick(ph)
        wall = sum(p["wall_s"] for p in xs)
        for k in EXEC_KEYS:
            if k == "skew":
                v = max([p["skew"] for p in xs], default=0.0)
            elif k == "busy_frac":
                task = sum(p["task_s"] for p in xs)
                v = task / (cores * wall) if wall > 0 else 0.0
            else:
                v = sum(p[k] for p in xs)
            out[f"exec.{ph}.{k}"] = v
    return out


def per_layer(raw, cores):
    """Every per-layer metric of one traced run (0 where the workload
    does not exercise the layer)."""
    m = {"warm_s": end_to_end(raw)["warm_s"]}
    passes = raw.get("passes", [])
    cold = next((p["queries"] for p in passes if p["kind"] == "cold"), [])
    warm1 = next((p for p in passes if p["pass"] == 1), None)
    ok = [q for q in cold if "construct_s" in q]

    m["planning.construct_s"] = _sum(ok, "construct_s")
    m["planning.analysis_s"] = _sum(ok, "analysis_s")
    m["planning.optimization_s"] = _sum(ok, "optimization_s")
    m["planning.physical_s"] = _sum(ok, "planning_s")
    for k, v in sorted(raw.get("census", {}).items()):
        m[f"plan.{k}"] = v
    for k in ("exchanges", "reused_exchanges", "scans", "bnlj", "smj", "bhj"):
        m.setdefault(f"plan.{k}", 0)
    m.update(_phase_totals(raw, cores))

    def qtime(q):
        return q.get("construct_s", 0) + q.get("settle_s", 0) + q.get("action_s", 0)

    for fam in FAMILIES:
        m[f"operators.{fam}_s"] = sum(qtime(q) for q in ok if q["family"] == fam)
    src = [q for q in ok if q["family"] == "sources"]
    m["sources.write_s"] = _sum(src, "construct_s")
    m["sources.read_s"] = _sum(src, "action_s")

    m["memo.builds"] = sum(q["memo_builds"] for q in cold)
    m["memo.hits"] = sum(q["memo_hits"] for q in warm1["queries"]) if warm1 else 0
    m["memo.build_s"] = _sum(ok, "construct_s", lambda q: q["memo_builds"] > 0)
    m["storage.cached_mb"] = next((p["cached_mb"] for p in passes if p["kind"] == "cold"), 0.0)
    m["memory.heap_peak_mb"] = raw.get("heap_peak_mb", 0.0)

    rounds = raw.get("rounds", [])
    refresh = [x for r in rounds for x in r["refresh_s"]]
    hits_ms = _hits_ms(raw)
    hits, builds = raw.get("server_hits", 0), raw.get("server_builds", 0)
    m["server.builds"] = builds
    m["server.hits"] = hits
    m["server.hit_ratio"] = hits / (hits + builds) if hits + builds else 0.0
    m["server.build_s"] = median(refresh)
    m["server.hit_ms"] = median(hits_ms)

    prog = raw.get("progress", [])
    rows_in = sum(p["rows_in"] for p in prog)
    m["ingest.batch_s"] = sum(p["trigger_s"] for p in prog)
    m["ingest.add_batch_s"] = sum(p["add_batch_s"] for p in prog)
    m["ingest.planning_s"] = sum(p["planning_s"] for p in prog)
    m["ingest.commit_s"] = sum(p["commit_s"] for p in prog)
    m["ingest.rows_in"] = rows_in
    m["ingest.rows_clean"] = raw.get("rows_clean", 0)
    m["ingest.kept_frac"] = raw.get("rows_clean", 0) / rows_in if rows_in else 0.0

    b = raw.get("build_s", {})
    m["index.dedup_build_s"] = b.get("dedup", 0.0)
    m["index.ann_build_s"] = b.get("ann", 0.0)
    m["index.bm25_build_s"] = b.get("bm25", 0.0)
    m["index.files"] = raw.get("index_files", 0)
    m["index.mb"] = raw.get("index_mb", 0.0)

    # the serving user's view of ingest_serve
    batch_s = sum(r["batch_s"] for r in rounds)
    loop_s = sum(x for r in rounds for x in r["loop_s"])
    m["build_s"] = sum(b.values())
    m["ingest_docs_per_s"] = raw.get("stream_docs", 0) / batch_s if batch_s else 0.0
    m["refresh_s"] = median(refresh)
    m["serve_p50_ms"] = percentile(hits_ms, 50)[0] or 0.0
    m["serve_p95_ms"] = percentile(hits_ms, 95)[0] or 0.0
    m["serve_rps"] = len(hits_ms) / loop_s if loop_s else 0.0

    selfs = raw.get("self_s", {})
    for lvl in SPAN_LEVELS:
        m[f"self.{lvl}_s"] = selfs.get(lvl, 0.0)
    return m


def _hits_ms(raw):
    return [x * 1e3 for r in raw.get("rounds", []) for x in r["hit_s"]]


def percentile_detail(raw):
    """Sample counts behind the latency percentiles (kept beside them)."""
    hits_ms = _hits_ms(raw)
    out = {}
    for name, p in (("serve_p50_ms", 50), ("serve_p95_ms", 95)):
        v, used, n = percentile(hits_ms, p)
        out[name] = {"value": v, "percentile": used, "samples": n}
    return out
