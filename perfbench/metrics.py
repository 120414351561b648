"""Turns the harness's raw records into the benchmark's result line.

End-to-end metrics come from untraced runs, per-layer metrics from traced
runs; BENCHMARK.json lists both sets and README.md says what each measures.
Per-layer amounts are per pass of the timed window (one pass = every query
of the workload once, or one ingest batch), so they compare across runs
that completed a different number of passes.
"""
import glob
import math
import os
import re
import statistics
from decimal import ROUND_FLOOR, Decimal

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
MODULES = ["graph", "similarity", "dedup", "analytics", "operators"]
INGEST_LAYERS = ["ingest.business", "ingest.user", "ingest.review",
                 "etl.unified", "dedup.commit", "similarity.commit"]
STATE_READERS = {"q213"}
MB = 1024.0 * 1024.0


def percentile(values, q):
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]


# --------------------------------------------------------------------------
# output checks

def _compare(exp, got, exact):
    """(ok, detail) of DuckDB's oracle result vs the Spark result,
    dtype-strict: columns compared by name, rows in order, datetimes
    normalised to naive UTC, values exact. The one exception is a rounding
    tie (see ``_tie_flip``), checked against ``exact()``, the oracle
    recomputed in exact arithmetic; such a pass carries a note."""
    exp = exp[sorted(exp.columns)].reset_index(drop=True)
    got = got[sorted(got.columns)].reset_index(drop=True)
    if list(exp.columns) != list(got.columns):
        return False, f"columns {list(exp.columns)} vs {list(got.columns)}"
    if len(exp) != len(got):
        return False, f"rows {len(exp)} vs {len(got)}"
    for c in exp.columns:
        e, g = exp[c], got[c]
        if str(e.dtype).startswith("datetime") or str(g.dtype).startswith("datetime"):
            for df, s in ((exp, e), (got, g)):
                s = pd.to_datetime(s)
                df[c] = s.dt.tz_convert("UTC").dt.tz_localize(None) if s.dt.tz else s
        elif e.dtype != g.dtype:
            return False, f"dtype[{c}] {e.dtype} vs {g.dtype}"
    try:
        pd.testing.assert_frame_equal(exp, got, check_dtype=True, check_exact=True)
        return True, "matches oracle"
    except AssertionError as err:
        first = str(err).splitlines()[0]
    ex = exact()
    for c in exp.columns:
        diff = [i for i, (a, b) in enumerate(zip(exp[c], got[c]))
                if not (a == b or (pd.isna(a) and pd.isna(b)))]
        if diff and (exp[c].dtype != "float64" or ex is None or c not in ex
                     or not all(_tie_flip(exp[c][i], got[c][i], ex[c][i]) for i in diff)):
            return False, first
    return True, "matches oracle up to a rounding tie: " + first


def _tie_flip(a, b, x):
    """True when floats ``a`` and ``b`` are the two roundings, at some digit
    d >= 1, of the exact value ``x`` and ``x`` is a .5 tie at digit d + 1.
    Both engines round a float aggregate there; the order of the float
    summation then decides the direction, and Spark and DuckDB sum in
    different orders."""
    if x is None or pd.isna(a) or pd.isna(b):
        return False
    tol = 8 * math.ulp(max(abs(a), abs(b)))
    for d in range(1, 7):
        if isinstance(x, Decimal):
            t = x.scaleb(d)
            lo = t.to_integral_value(rounding=ROUND_FLOOR)
            tie = t - lo == Decimal("0.5")
            lo = float(lo)
        else:  # a float result of exact inputs (an avg): near-exact
            t = float(x) * 10 ** d
            lo = math.floor(t)
            tie = abs(t - lo - 0.5) <= 1e-6
        if tie and abs(min(a, b) - lo / 10 ** d) <= tol and abs(max(a, b) - (lo + 1) / 10 ** d) <= tol:
            return True
    return False


def _exact_views(con, data):
    """Views of the tables in which every DOUBLE column whose values all
    carry at most 4 decimals is a DECIMAL(18, k): sums and products over
    them are exact, so a rounding tie can be told from a wrong value."""
    for t in TABLES:
        src = f"'{data}/{t}.parquet'"
        rel = con.sql(f"SELECT * FROM {src}")
        casts = []
        for c, typ in zip(rel.columns, rel.types):
            if str(typ) != "DOUBLE":
                continue
            errs = con.sql("SELECT " + ", ".join(
                f"max(abs({c} - round({c}, {k})))" for k in range(5)) + f" FROM {src}").fetchone()
            k = next((k for k, e in enumerate(errs) if e is not None and e < 1e-9), None)
            if k is not None:
                casts.append(f"CAST({c} AS DECIMAL(18, {k})) AS {c}")
        repl = f" REPLACE ({', '.join(casts)})" if casts else ""
        con.sql(f"CREATE VIEW {t} AS SELECT *{repl} FROM {src}")
    con.sql("CREATE MACRO pb_exact(x, d) AS x")


def _exact_result(con, sql):
    """The oracle's columns (name -> values in row order) computed on the
    exact views with every round() left out; None when it cannot run."""
    try:
        rel = con.sql(re.sub(r"\bround\s*\(", "pb_exact(", sql, flags=re.IGNORECASE))
        rows = rel.fetchall()
    except Exception:
        return None
    return {c: [r[i] for r in rows] for i, c in enumerate(rel.columns)}


def check_queries(raw):
    """(name, ok, detail, result_rows) per workload query."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{raw['check_data']}/{t}.parquet'")
    exact_con = None

    def exact(sql):
        nonlocal exact_con
        if exact_con is None:
            exact_con = duckdb.connect()
            _exact_views(exact_con, raw["check_data"])
        return _exact_result(exact_con, sql)

    setup_ok = {o["name"]: o for o in raw["setup"][0]["ops"]}
    out = []
    for name, op in sorted(setup_ok.items()):
        files = glob.glob(os.path.join(raw["results"], name, "*.parquet"))
        if not op["ok"] or not files:
            out.append((name, False, op["err"] or "no result written", 0))
            continue
        got = duckdb.sql(f"SELECT * FROM '{raw['results']}/{name}/*.parquet'").df()
        sql = raw["oracle_sql"].get(name)
        if sql is None:
            out.append((name, True, "no oracle: rows-only", len(got)))
            continue
        try:
            ok, detail = _compare(con.sql(sql).df(), got, lambda: exact(sql))
        except Exception as e:  # an oracle that cannot run is a failed check
            ok, detail = False, f"oracle error {e}"
        out.append((name, ok, detail, len(got)))
    return out


def check_ingest(raw, manifest):
    n = raw["batches_ingested"]
    reviews = sum(b["review"] for b in manifest["batches"][:n])
    got = raw["ingest_checks"]
    return [
        ("unified_rows", got["unified_rows"] == reviews,
         f"{got['unified_rows']} rows, expected {reviews}"),
        ("dedup_pairs", got["dedup_pairs_diff"] == 0,
         f"committed pairs vs buildState over all docs: {got['dedup_pairs_diff']} differing"),
        ("vector_index", got["vector_reencode_diff"] == 0,
         f"reencodeDiff rows: {got['vector_reencode_diff']}"),
    ]


# --------------------------------------------------------------------------
# traced-run span arithmetic

def _union(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(trace):
    """Self seconds per span kind over the traced window: a span's duration
    minus the part its children cover; Spark jobs are leaves, merged per
    parent so overlapping jobs count once. The kinds partition the window,
    so their sum equals the traced wall."""
    run = {"id": 0, "kind": "run", "start": trace["run"]["start"], "end": trace["run"]["end"]}
    spans = {s["id"]: s for s in trace["spans"]}
    spans[0] = run
    kids = {}
    for s in trace["spans"]:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    jobs = {}
    for j in trace["jobs"]:
        p = spans.get(j["span"], run)
        end = j["end"] if j["end"] >= 0 else p["end"]
        s, e = max(j["start"], p["start"]), min(end, p["end"])
        if e > s:
            jobs.setdefault(p["id"], []).append((s, e))
    out = {}
    for sid, s in spans.items():
        inner = kids.get(sid, []) + jobs.get(sid, [])
        own = (s["end"] - s["start"]) - _union(inner)
        kind = s["kind"] if s["kind"] in ("run", "op") else "layer"
        out[kind] = out.get(kind, 0.0) + own / 1000.0
        if s["kind"] == "construct":
            out["construct"] = out.get("construct", 0.0) + own / 1000.0
        out["job"] = out.get("job", 0.0) + _union(jobs.get(sid, [])) / 1000.0
    return out


# --------------------------------------------------------------------------

def evaluate(raw, manifest, trace):
    notes = []
    ingest = raw["workload"] == "ingest_flow"
    ops = raw["ops"]
    passes = max(1, len(raw["window"]["passes"]))
    window = raw["window"]["wall_s"]

    if ingest:
        checks = [(k, ok, d, 0) for k, ok, d in check_ingest(raw, manifest)]
    else:
        checks = check_queries(raw)
    for name, ok, detail, _ in checks:
        if not ok:
            notes.append(f"check FAILED {name}: {detail}")
        elif "tie" in detail:
            notes.append(f"check {name}: {detail}")
    for o in ops:
        if not o["ok"]:
            notes.append(f"op FAILED pass {o['pass']} {o['name']}: {o['err']}")
    failed_ops = sum(not o["ok"] for o in ops)
    failed_checks = sum(not c[1] for c in checks)
    good = [o["s"] for o in ops if o["ok"]]
    attempted = len(ops) + len(checks)
    failed = failed_ops + failed_checks

    if ingest:
        per_batch = {i: sum(b[k] for k in ("business", "user", "review", "docs", "vectors"))
                     for i, b in enumerate(manifest["batches"])}
        rows = sum(per_batch[int(o["name"].split("_")[1])] for o in ops if o["ok"])
    else:
        result_rows = {c[0]: c[3] for c in checks}
        rows = sum(result_rows.get(o["name"], 0) for o in ops if o["ok"])

    m = {}
    if not trace:
        m["setup_s"] = (statistics.median(r["s"] for r in raw["setup"]), "s")
        wall = statistics.median(p["s"] for p in raw["window"]["passes"])
        m["wall_s"] = (wall, "s")
        m["op_p50_s"] = (statistics.median(good) if good else 0.0, "s")
        m["op_p90_s"] = (percentile(good, 90) if good else 0.0, "s")
        m["rows_per_s"] = (rows / passes / wall, "1/s")
        m["peak_rss_mb"] = (raw["peak_rss_mb"], "MB")
    else:
        m.update(per_layer(raw, passes))
    notes.append(f"{raw['workload']}: {len(raw['window']['passes'])} passes, "
                 f"{len(ops)} timed ops, window {window:.2f}s, "
                 f"setup reps {[round(r['s'], 2) for r in raw['setup']]}, "
                 f"host calibration {raw['window']['calib_s']:.3f}s")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
        "notes": notes,
    }


def per_layer(raw, passes):
    ops = raw["ops"]
    tr = raw["trace"]
    window = raw["window"]["wall_s"]
    m = {}

    def layer_sum(name, pred=lambda o: True):
        return sum(o["layers"].get(name, 0.0) for o in ops if pred(o)) / passes

    counters = tr["counters"]
    spans = {s["id"]: s for s in tr["spans"]}

    def counted(kind, field):
        return sum(c[field] for sid, c in counters.items()
                   if spans.get(int(sid), {}).get("kind") == kind) / passes

    st = self_times(tr)
    m["construct.s"] = (layer_sum("construct"), "s")
    m["construct.jobs"] = (counted("construct", "jobs"), "count")
    m["construct.self_s"] = (st.get("construct", 0.0) / passes, "s")
    for mod in MODULES:
        m[f"{mod}.construct_s"] = (layer_sum("construct", lambda o, mod=mod: o["module"] == mod), "s")
    m["plan.s"] = (layer_sum("plan"), "s")
    m["exec.s"] = (layer_sum("exec"), "s")
    m["exec.jobs"] = (counted("exec", "jobs"), "count")

    tot = {}
    for c in counters.values():
        for k, v in c.items():
            tot[k] = tot.get(k, 0) + v
    cores = raw["cpus"]
    m["spark.jobs"] = (tot.get("jobs", 0) / passes, "count")
    m["spark.stages"] = (tot.get("stages", 0) / passes, "count")
    m["spark.tasks"] = (tot.get("tasks", 0) / passes, "count")
    m["spark.task_run_s"] = (tot.get("task_run_ms", 0) / 1000.0 / passes, "s")
    m["spark.task_cpu_s"] = (tot.get("task_cpu_ns", 0) / 1e9 / passes, "s")
    m["spark.shuffle_write_mb"] = (tot.get("shuffle_write", 0) / MB / passes, "MB")
    m["spark.shuffle_read_mb"] = (tot.get("shuffle_read", 0) / MB / passes, "MB")
    m["spark.spill_mb"] = (tot.get("spill", 0) / MB / passes, "MB")
    m["spark.input_mb"] = (tot.get("input", 0) / MB / passes, "MB")
    m["spark.input_rows"] = (tot.get("input_rows", 0) / passes, "count")
    m["spark.output_mb"] = (tot.get("output", 0) / MB / passes, "MB")
    m["spark.core_busy_frac"] = (
        tot.get("task_run_ms", 0) / 1000.0 / (window * cores) if window > 0 else 0.0, "ratio")
    run = tr["run"]
    job_iv = [(max(j["start"], run["start"]), min(j["end"] if j["end"] >= 0 else run["end"], run["end"]))
              for j in tr["jobs"]]
    m["spark.driver_gap_s"] = ((window - _union([iv for iv in job_iv if iv[1] > iv[0]]) / 1000.0)
                               / passes, "s")

    for layer in INGEST_LAYERS:
        m[f"{layer}_s"] = (layer_sum(layer), "s")
    m["state.bytes"] = (raw["state"]["bytes"], "bytes")
    m["state.snapshots"] = (raw["state"]["snapshots"], "count")
    m["state.read_s"] = (sum(o["s"] for o in ops if o["name"] in STATE_READERS) / passes, "s")
    m["state.build_s"] = (sum(o["s"] for o in raw["setup"][0]["ops"]
                              if o["name"] in STATE_READERS), "s")
    m["jvm.gc_s"] = (raw["window"]["gc_s"] / passes, "s")
    m["host.steal_frac"] = (raw["window"]["steal_frac"], "ratio")
    m["host.nproc"] = (raw["nproc"], "count")
    m["host.calib_s"] = (raw["window"]["calib_s"], "s")
    m["failed_frac"] = (sum(not o["ok"] for o in ops) / max(1, len(ops)), "ratio")

    pass_s = [p["s"] for p in raw["window"]["passes"]]
    base = raw["baseline_passes_s"]
    m["trace.overhead_s"] = (statistics.median(pass_s) - statistics.median(base), "s")
    m["trace.wall_s"] = (window, "s")
    for kind in ("run", "op", "layer", "job"):
        m[f"self.{kind}_s"] = (st.get(kind, 0.0), "s")
    return m
