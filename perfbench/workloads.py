"""The three benchmark workloads: ingest, dashboard and analytics.

Each one runs a single closed-loop client thread in this process: the
next request is sent only after the previous reply arrived. Set-up
(JVM start, store preload or table load, warm-up) is timed as setup_s;
the measured loop then runs for the requested seconds; output checks
run after the loop, outside the timed window. A check that does not
hold counts as a failed operation, as does a non-200 reply, an
exception or a timeout.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
import time
import urllib.error
import urllib.request

import bench_data

HTTP_TIMEOUT_S = 60


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def pctl(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q / 100 * len(s) + 0.5)) - 1))] if s else 0.0


def trend(xs) -> float:
    """Median of the second half over the first, minus one: a warming
    (or cooling) measured window shows as a nonzero value."""
    h = len(xs) // 2
    if h < 1:
        return 0.0
    return median(xs[len(xs) - h:]) / median(xs[:h]) - 1


def http(port: int, method: str, path: str, body=None):
    """One API round trip; returns (ms, parsed JSON). Raises on a
    non-200 reply, a timeout or a malformed body."""
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        data=data,
        method=method,
        headers={"Content-Type": "application/json"},
    )
    t = time.perf_counter()
    with urllib.request.urlopen(req, timeout=HTTP_TIMEOUT_S) as resp:
        payload = json.loads(resp.read())
        if resp.status != 200:
            raise urllib.error.HTTPError(req.full_url, resp.status, "non-200", None, None)
    return (time.perf_counter() - t) * 1000, payload


def _utc_naive(iso: str) -> dt.datetime:
    return dt.datetime.fromisoformat(iso).replace(tzinfo=None)


def _loop_spans(tracer, name: str, t0: float, t1: float, **match) -> list[dict]:
    return [s for s in tracer.named(name, **match) if t0 <= s["start"] and s["end"] <= t1]


def _ms(spans) -> list[float]:
    return [(s["end"] - s["start"]) * 1000 for s in spans]


# ------------------------------------------------------------------ store
def _start_store(run):
    """Spark + a store preloaded with the seeded points, served by the
    API with its warm cache on. Returns (store, port, n_points)."""
    from open_tlm_spark.api import serve
    from open_tlm_spark.store import CommentStore, TelemetryStore

    pts = os.path.join(run.work, "preload.parquet")
    n = bench_data.preload_points(run.seed, pts)
    run.begin_setup()
    spark = run.start_spark()
    store = TelemetryStore(spark, os.path.join(run.work, "store"))
    with run.tracer.span("setup.preload", points=n):
        store.put(spark.read.parquet(pts))
    run.tracer.wrap_store(store)
    with run.tracer.span("setup.serve"):
        srv = serve(store, CommentStore(spark, os.path.join(run.work, "comments")))
    run.server = srv
    run.info["preload_points"] = n
    return store, srv.server_address[1], n


def _api_layers(run, t0: float, t1: float) -> dict:
    """api.* metrics from the spans of client requests in [t0, t1]."""
    tr = run.tracer
    post_over, get_over, gets, memo = [], [], 0, 0
    for req in _loop_spans(tr, "client.post", t0, t1):
        inner = sum(s["end"] - s["start"] for s in tr.children(req))
        post_over.append((req["end"] - req["start"] - inner) * 1000)
    for req in _loop_spans(tr, "client.get", t0, t1):
        kids = tr.children(req)
        gets += 1
        if not kids:
            memo += 1  # answered without a store call: a memo hit
            continue
        inner = sum(s["end"] - s["start"] for s in kids)
        get_over.append((req["end"] - req["start"] - inner) * 1000)
    return {
        "api.post_overhead_ms": median(post_over),
        "api.get_overhead_ms": median(get_over),
        "api.memo_hit_ratio": memo / gets if gets else 0.0,
    }


def _store_layers(run, t0: float, t1: float, rewarm_ids: set[int]) -> dict:
    tr = run.tracer
    puts = _loop_spans(tr, "store.put", t0, t1)
    reads = _loop_spans(tr, "store.read_window", t0, t1)
    steady = [s for s in reads if s["id"] not in rewarm_ids]
    return {
        "store.put_ms": median(_ms(puts)),
        "store.put_jobs": median([s["jobs"] for s in puts]),
        "store.put_compiles": median([s["compiles"] for s in puts]),
        "store.put_compile_ms": median([s["compile_ms"] for s in puts]),
        "store.read_window_raw_ms": median(_ms([s for s in steady if s["kind"] == "raw"])),
        "store.read_window_rollup_ms": median(_ms([s for s in steady if s["kind"] == "rollup"])),
        "store.read_window_jobs": median([s["jobs"] for s in reads]),
        "store.read_window_compiles": median([s["compiles"] for s in reads]),
        "store.datasets_ms": median(_ms(_loop_spans(tr, "store.datasets", t0, t1))),
        "store.rewarm_read_ms": median(_ms([s for s in reads if s["id"] in rewarm_ids])),
    }


def _engine_layers(run, t0: float, t1: float, op: str, **match) -> dict:
    """Median Spark jobs, compiles and compile ms per operation."""
    ops = _loop_spans(run.tracer, op, t0, t1, **match)
    return {
        "spark.jobs": median([s["jobs"] for s in ops]),
        "spark.compiles": median([s["compiles"] for s in ops]),
        "spark.compile_ms": median([s["compile_ms"] for s in ops]),
        "spark.job_floor_ms": run.counters.job_floor_ms(),
        "spark.storage_mem_mb": run.counters.storage_mem_mb(),
    }


# ----------------------------------------------------------------- ingest
INGEST_WARMUP_CYCLES = 1


def ingest(run) -> dict:
    """POST one reference-shaped batch, then GET the window it wrote."""
    store, port, n0 = _start_store(run)
    tr = run.tracer
    posted = 0
    post_ms, get_ms, rewarm_ids = [], [], set()

    def cycle(k: int, measured: bool) -> None:
        nonlocal posted
        data, expect = bench_data.ingest_batch(run.seed, k)
        sid = data[0]["dataset_id"]
        first, last = _utc_naive(expect[sid][0][0]), _utc_naive(expect[sid][-1][0])
        path = f"/api/data/{sid}?start={first.isoformat()}&end={(last + dt.timedelta(milliseconds=50)).isoformat()}"
        with run.op("post"), tr.request("client.post"):
            ms_p, reply = http(port, "POST", "/api/data", {"data": data})
        n = sum(len(d["points"]) for d in data)
        if reply.get("message") != f"{n} datapoints were posted":
            raise AssertionError(f"POST reply {reply!r}")
        posted += n
        with run.op("read_after_write"), tr.request("client.get") as span:
            ms_g, got = http(port, "GET", path)
        if tr.enabled:
            rewarm_ids.update(s["id"] for s in tr.children(span))
        pts = got["data"]["points"]
        want = [(_utc_naive(d), v) for d, v in expect[sid]]
        have = [(_utc_naive(p["date"]), p.get("value")) for p in pts]
        if have != want:
            run.fail(f"read-after-write mismatch on {path}: {len(have)} points")
        if measured:
            post_ms.append(ms_p)
            get_ms.append(ms_g)

    with run.warmup():
        for k in range(INGEST_WARMUP_CYCLES):
            run.guard(cycle, k, False)
    run.end_setup()

    t0 = run.begin_window()
    k = INGEST_WARMUP_CYCLES
    while time.perf_counter() - t0 < run.seconds:
        run.guard(cycle, k, True)
        k += 1
    t1 = run.end_window()

    run.guard(_check_rollups, run, store, n0 + posted)
    run.info["trend_post"] = trend(post_ms)
    e2e = {
        "latency_ms": median(post_ms),
        "throughput_per_s": bench_data.BATCH_SERIES * bench_data.BATCH_POINTS * len(post_ms) / (t1 - t0),
    }
    client = {"client.read_after_write_ms": median(get_ms)}
    layers = {}
    if tr.enabled:
        layers = {
            **_api_layers(run, t0, t1),
            **_store_layers(run, t0, t1, rewarm_ids),
            **_engine_layers(run, t0, t1, "client.post"),
        }
    return {"e2e": e2e, "client": client, "layers": layers}


def _check_rollups(run, store, expect_points: int) -> None:
    """Exactly-once ingest: the raw count equals what was acknowledged,
    and every rollup level's sum(count) equals the raw count."""
    from pyspark.sql import functions as F

    from open_tlm_spark.schemas import FIDELITIES

    with run.op("rollup_check"):
        lo = bench_data.store_day(run.seed) - dt.timedelta(days=2)
        hi = lo + dt.timedelta(days=5)
        raw = store.get(None, lo, hi, fidelity=None, ordered=False).count()
        problems = [] if raw == expect_points else [
            f"raw holds {raw} points, {expect_points} were acknowledged"
        ]
        for d in FIDELITIES:
            got = store.get(None, lo, hi, fidelity=d, ordered=False).agg(
                F.sum("count")
            ).first()[0]
            if got != raw:
                problems.append(f"rollup_{d} sum(count)={got}, raw={raw}")
        if problems:
            run.fail("; ".join(problems))


# -------------------------------------------------------------- dashboard
DASHBOARD_WARMUP_REQUESTS = 40
CHECK_SAMPLE = 8


def dashboard(run) -> dict:
    """A seeded read-only GET mix against the preloaded store."""
    import random

    store, port, _n = _start_store(run)
    tr = run.tracer
    with run.warmup():
        for _kind, path in bench_data.dashboard_requests(run.seed + 7919, DASHBOARD_WARMUP_REQUESTS):
            run.guard(run.timed_op, "warmup", http, port, "GET", path)
    run.end_setup()

    reqs = bench_data.dashboard_requests(run.seed, 20_000)
    first_payload: dict[str, object] = {}
    done: list[tuple[str, str, float, object]] = []

    def one(kind: str, path: str) -> None:
        with run.op(kind), tr.request("client.get", kind=kind):
            ms, payload = http(port, "GET", path)
        if kind == "repeat":
            if payload != first_payload.get(path, payload):
                run.fail(f"memo hit differs from first payload: {path}")
        elif kind != "datasets":
            first_payload.setdefault(path, payload)
        done.append((kind, path, ms, payload))

    t0 = run.begin_window()
    for kind, path in reqs:
        if time.perf_counter() - t0 >= run.seconds:
            break
        run.guard(one, kind, path)
    t1 = run.end_window()

    rng = random.Random(run.seed)
    sample = [d for d in done if d[0] in ("raw", "rollup", "datasets")]
    for kind, path, _ms_, payload in rng.sample(sample, min(CHECK_SAMPLE, len(sample))):
        run.guard(_check_payload, run, store, kind, path, payload)

    all_ms = [d[2] for d in done]
    run.info["trend_get"] = trend(all_ms)
    e2e = {"latency_ms": median(all_ms), "throughput_per_s": len(all_ms) / (t1 - t0)}
    # p75: a run of 80-110 GETs leaves at least ten samples beyond it
    client = {"client.get_p75_ms": pctl(all_ms, 75) if len(all_ms) >= 40 else 0.0}
    layers = {}
    if tr.enabled:
        layers = {
            **_api_layers(run, t0, t1),
            **_store_layers(run, t0, t1, set()),
            **_engine_layers(run, t0, t1, "client.get"),
        }
    return {"e2e": e2e, "client": client, "layers": layers}


def _check_payload(run, store, kind: str, path: str, payload) -> None:
    """A served response equals the same read made directly on the
    store, outside the API."""
    from urllib.parse import parse_qs, urlparse

    from pyspark.sql import functions as F

    url = urlparse(path)
    q = parse_qs(url.query)
    with run.op("check"):
        if kind == "datasets":
            want = [r.dataset_id for r in store.datasets(q["text"][0]).collect()]
            if payload != want:
                run.fail(f"datasets mismatch for {path}")
            return
        sid = url.path.rsplit("/", 1)[1]
        start, end = (dt.datetime.fromisoformat(q[k][0]) for k in ("start", "end"))
        df = store.get(sid, start, end)
        epoch = dt.datetime(1970, 1, 1)
        if kind == "raw":
            rows = df.select(F.unix_micros("ts").alias("us"), "value").collect()
            want = [(epoch + dt.timedelta(microseconds=r.us), r.value) for r in rows]
            have = [(_utc_naive(p["date"]), p["value"]) for p in payload["data"]["points"]]
        else:
            rows = df.collect()
            want = [
                (epoch + dt.timedelta(seconds=r.bin_ts), r.min_value, r.mean_value, r.max_value)
                for r in rows
            ]
            have = [
                (_utc_naive(p["date"]), p["min_value"], p["mean_value"], p["max_value"])
                for p in payload["data"]["points"]
            ]
        if not want or have != want:
            run.fail(f"{kind} payload differs from store.get for {path}: {len(have)} vs {len(want)} points")


# -------------------------------------------------------------- analytics
# Warm-up runs first, on a disjoint set that builds no session-shared
# view, so the measured first runs still pay their own shared builds.
ANALYTICS_WARMUP = [
    "tpch_q3_shipping_priority",
    "ts_ohlc_bars",
    "ts_derivative",
]
# One or two queries per family: TPC-H, time series, text, dedup, ANN.
ANALYTICS_QUERIES = [
    "tpch_q1_pricing_summary",
    "ts_agg_1000s",
    "ts_histogram_per_series",
    "docs_tfidf_topk",
    "dedup_minhash_lsh",
    "sim_ivf_topk",
]
MIN_REPEAT_PASSES = 2
# sf0.02 (120k lineitem rows): a first pass is then mostly compile,
# plan and job-floor cost.
ANALYTICS_SF = 0.02


def analytics(run) -> dict:
    """First run of each query in seeded order, then repeat passes."""
    import random

    import duckdb

    from open_tlm_spark.plans import REGISTRY
    from open_tlm_spark.session import load_tables
    from tools.diffcheck import compare, oracle_type_problems

    sf_dir = os.path.join(run.work, f"sf{ANALYTICS_SF}")
    rows = bench_data.analytics_tables(run.seed, sf_dir, ANALYTICS_SF)
    run.info["table_rows"] = rows
    run.begin_setup()
    spark = run.start_spark()
    tr = run.tracer
    with tr.span("session.load_tables"):
        t = time.perf_counter()
        load_tables(spark, sf_dir)
        run.layers["session.load_tables_s"] = time.perf_counter() - t
    keep_rdds = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    def release() -> None:
        # Same hygiene as bench.py: drop blocks a query left behind,
        # keep the session-shared cached views.
        for rid, rdd in list(dict(spark.sparkContext._jsc.getPersistentRDDs()).items()):
            if rid not in keep_rdds and "In-memory table tlm_shared_" not in (rdd.name() or ""):
                rdd.unpersist(False)

    storage: list[float] = []

    def execute(name: str, phase: str):
        with run.op(phase), tr.span("query", query=name, phase=phase):
            with tr.span("plans.build", query=name):
                t = time.perf_counter()
                df = REGISTRY[name].fn(spark, sf_dir)
                build = time.perf_counter() - t
            with tr.span("plans.exec", query=name):
                t = time.perf_counter()
                pdf = df.toPandas()
                exe = time.perf_counter() - t
        release()
        if tr.enabled:
            storage.append(run.counters.storage_mem_mb())
        return build + exe, build, exe, pdf

    with run.warmup():
        for name in ANALYTICS_WARMUP:
            run.guard(execute, name, "warmup")
    run.end_setup()

    rng = random.Random(run.seed)
    first: dict[str, float] = {}
    results: dict[str, object] = {}
    repeats: dict[str, list[float]] = {n: [] for n in ANALYTICS_QUERIES}
    build = {n: [] for n in ANALYTICS_QUERIES}
    exe = {n: [] for n in ANALYTICS_QUERIES}

    def first_run(name: str) -> None:
        s, b, e, pdf = execute(name, "first_run")
        first[name], results[name] = s, pdf
        build[name].append(b)
        exe[name].append(e)

    def repeat_run(name: str) -> None:
        s, b, e, _ = execute(name, "repeat_run")
        repeats[name].append(s)
        build[name].append(b)
        exe[name].append(e)

    t0 = run.begin_window()
    for name in rng.sample(ANALYTICS_QUERIES, len(ANALYTICS_QUERIES)):
        run.guard(first_run, name)
    t_rep = time.perf_counter()
    passes = 0

    def next_pass_fits() -> bool:
        """Would one more pass, at the mean pass time, end within --seconds?"""
        return (time.perf_counter() - t_rep) * (passes + 1) / passes <= run.seconds

    while passes < MIN_REPEAT_PASSES or next_pass_fits():
        for name in rng.sample(ANALYTICS_QUERIES, len(ANALYTICS_QUERIES)):
            run.guard(repeat_run, name)
        passes += 1
    t1 = run.end_window()

    con = duckdb.connect()
    for table in rows:
        con.execute(
            f"CREATE OR REPLACE VIEW {table} AS SELECT * FROM '{sf_dir}/{table}.parquet'"
        )
    for name, pdf in results.items():
        def oracle(name=name, pdf=pdf):
            with run.op("oracle_check"):
                rel = con.sql(REGISTRY[name].oracle)
                problems = oracle_type_problems(rel) + compare(name, pdf, rel.df())
                if problems:
                    run.fail(f"{name}: " + "; ".join(problems)[:300])
        run.guard(oracle)
    con.close()

    run.info["repeat_passes"] = passes
    run.info["first_run_s"] = {n: round(v, 4) for n, v in first.items()}
    run.info["repeat_run_s"] = {n: [round(x, 4) for x in v] for n, v in repeats.items()}
    rep_sum = sum(median(v) for v in repeats.values())  # a warm report pass
    n_rep = sum(len(v) for v in repeats.values())
    e2e = {"latency_ms": 1000 * sum(first.values()), "throughput_per_s": n_rep / (t1 - t_rep)}
    client = {"client.repeat_pass_ms": 1000 * rep_sum}
    layers = {}
    if tr.enabled:
        layers = {
            "plans.build_ms": 1000 * sum(v[0] + median(v[1:]) for v in build.values() if v),
            "plans.exec_ms": 1000 * sum(v[0] + median(v[1:]) for v in exe.values() if v),
            **_engine_layers(run, t0, t1, "query", phase="first_run"),
        }
        layers["spark.storage_mem_mb"] = max(storage, default=layers["spark.storage_mem_mb"])
    return {"e2e": e2e, "client": client, "layers": layers}


WORKLOADS = {"ingest": ingest, "dashboard": dashboard, "analytics": analytics}
