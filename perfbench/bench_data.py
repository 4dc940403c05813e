"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed, so the same seed gives
byte-identical inputs. The program under test never sees the seed, only
the generated points, tables and request sequences.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Telemetry store shape shared by the ingest and dashboard workloads:
# 20 series sampled at the reference's 10 Hz design point.
N_SERIES = 20
HZ = 10
POINTS_PER_SERIES = 10_000  # 200k points in all
SERIES_SPAN_S = POINTS_PER_SERIES // HZ
BATCH_SERIES = 4  # one reference-shaped POST: 4 series x 20 points
BATCH_POINTS = 20


def series_ids() -> list[str]:
    return [f"bench.host{i // 4:02d}.m{i % 4}" for i in range(N_SERIES)]


def store_day(seed: int) -> dt.datetime:
    """UTC midnight of the preloaded day, chosen by the seed."""
    return dt.datetime(2024, 1, 1) + dt.timedelta(days=seed % 300)


def series_offsets(seed: int) -> list[int]:
    """Start of each series, in seconds after midnight: seeded, so
    series overlap but do not align."""
    return [int(x) for x in np.random.default_rng([seed, 1]).integers(0, 600, N_SERIES)]


def preload_points(seed: int, path: str) -> int:
    """Write the preloaded store's points (a random walk per series)
    as one parquet file; returns the point count."""
    rng = np.random.default_rng([seed, 5])
    day_us = int(store_day(seed).replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    ids, ts, vals = [], [], []
    step_us = 1_000_000 // HZ
    for sid, off in zip(series_ids(), series_offsets(seed)):
        ids.append(np.full(POINTS_PER_SERIES, sid, dtype=object))
        ts.append(day_us + off * 1_000_000 + np.arange(POINTS_PER_SERIES, dtype=np.int64) * step_us)
        vals.append(np.round(np.cumsum(rng.normal(0, 1, POINTS_PER_SERIES)), 6))
    table = pa.table(
        {
            "dataset_id": pa.array(np.concatenate(ids), pa.string()),
            "ts": pa.array(np.concatenate(ts), pa.timestamp("us", tz="UTC")),
            "value": pa.array(np.concatenate(vals), pa.float64()),
        }
    )
    pq.write_table(table, path)
    return table.num_rows


def series_end(seed: int) -> dt.datetime:
    """First instant after every preloaded series (naive UTC); the
    ingest workload appends from here on."""
    return store_day(seed) + dt.timedelta(seconds=600 + SERIES_SPAN_S + 10)


def ingest_batch(seed: int, k: int) -> tuple[list[dict], dict]:
    """The k-th POST body of the ingest loop and the 2 s window it
    covers: 4 series x 20 points at 10 Hz, appended after the
    preloaded data. Returns (api data list, {dataset_id: [(iso, v)]})."""
    rng = np.random.default_rng([seed, 2, k])
    ids = series_ids()
    first = (k * BATCH_SERIES) % N_SERIES
    t0 = series_end(seed) + dt.timedelta(seconds=2 * (k // (N_SERIES // BATCH_SERIES)))
    data, expect = [], {}
    for j in range(BATCH_SERIES):
        sid = ids[first + j]
        pts = [
            (
                (t0 + dt.timedelta(microseconds=100_000 * i)).isoformat(),
                round(float(rng.normal(0, 100)), 6),
            )
            for i in range(BATCH_POINTS)
        ]
        data.append(
            {"dataset_id": sid, "points": [{"date": d, "value": v} for d, v in pts]}
        )
        expect[sid] = pts
    return data, expect


# One block of the dashboard mix; every block of ten requests holds
# these kinds in a seeded order, so two seeds differ in which windows
# they read, not in how much work the mix asks for.
DASHBOARD_BLOCK = ["raw"] * 5 + ["rollup"] * 3 + ["repeat", "datasets"]
RAW_WIDTH_S = (30, 300)  # below 500 s a window reads raw points
ROLLUP_WIDTH_S = (600, SERIES_SPAN_S)  # the 1 s rollup level


def dashboard_requests(seed: int, n: int) -> list[tuple[str, str]]:
    """A seeded GET mix: 50 % narrow raw windows, 30 % wide rollup
    windows, 10 % repeats of an earlier data URL (memo hits) and 10 %
    catalog searches. Window widths are stratified within each block
    and every window lies inside its series' data. Returns
    [(kind, path)] with kind in {raw, rollup, repeat, datasets}."""
    rng = np.random.default_rng([seed, 3])
    ids = series_ids()
    offsets = series_offsets(seed)
    day = store_day(seed)
    out: list[tuple[str, str]] = []
    seen: list[str] = []

    def window(width: int) -> str:
        i = int(rng.integers(len(ids)))
        start = day + dt.timedelta(
            seconds=offsets[i] + int(rng.integers(0, SERIES_SPAN_S - width))
        )
        end = start + dt.timedelta(seconds=width)
        return f"/api/data/{ids[i]}?start={start.isoformat()}&end={end.isoformat()}"

    def widths(lo: int, hi: int, k: int) -> list[int]:
        return [int(lo + (hi - lo) * (j + rng.random()) / k) for j in rng.permutation(k)]

    while len(out) < n:
        raw = widths(*RAW_WIDTH_S, DASHBOARD_BLOCK.count("raw"))
        rollup = widths(*ROLLUP_WIDTH_S, DASHBOARD_BLOCK.count("rollup"))
        for kind in rng.permutation(DASHBOARD_BLOCK):
            if kind == "repeat" and seen:
                out.append(("repeat", seen[int(rng.integers(len(seen)))]))
            elif kind == "datasets":
                text = ["host0", "m1", "host1", "bench", "m3", "host04"][int(rng.integers(6))]
                out.append(("datasets", f"/api/datasets?text={text}"))
            elif kind in ("raw", "rollup"):
                path = window((raw if kind == "raw" else rollup).pop())
                seen.append(path)
                out.append((str(kind), path))
    return out[:n]


# ----------------------------------------------------------------- analytics
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _write(path: str, cols: dict, sort_key: str | None = None) -> None:
    """One parquet file with at least one row group per core, so that
    load_tables reads it in place instead of re-laying it out."""
    table = pa.table(cols)
    groups = max(16, len(os.sched_getaffinity(0)))
    if sort_key is not None:
        table = table.sort_by(sort_key)
    pq.write_table(table, path, row_group_size=max(1, -(-table.num_rows // groups)))


def _days(rng, base: dt.datetime, n: int, span: int) -> pa.Array:
    us = int(base.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    d = rng.integers(0, span, n).astype(np.int64) * 86_400_000_000 + us
    return pa.array(d, pa.timestamp("us"))


def analytics_tables(seed: int, out_dir: str, sf: float) -> dict[str, int]:
    """The ten tables of TESTDATA.md (TPC-H-style star schema plus
    events, documents and embeddings) at scale factor sf, drawn from
    the seed. Returns {table: rows}."""
    rng = np.random.default_rng([seed, 4])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    def p(name):
        return os.path.join(out_dir, f"{name}.parquet")

    def money(lo, hi, n):
        return pa.array(np.round(rng.uniform(lo, hi, n), 2))

    def pick(vals, n):
        return pa.array(np.asarray(vals, dtype=object)[rng.integers(0, len(vals), n)], pa.string())

    _write(p("region"), {
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(p("nation"), {
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    })
    _write(p("customer"), {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    _write(p("supplier"), {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    _write(p("part"), {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
    })
    _write(p("orders"), {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": _days(rng, dt.datetime(1995, 1, 1), n_ord, 2405),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    }, "o_orderdate")
    _write(p("lineitem"), {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float)),
        "l_extendedprice": money(900, 105_000, n_li),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), n_li, 2499),
    }, "l_shipdate")
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) + int(
        dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1_000_000
    )
    _write(p("events"), {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ev_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), i64),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }, "ts")
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    _write(p("documents"), {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts),
        "lang": pick(["en", "en", "en", "de", "es", "fr", "zh"], n_doc),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(p("embeddings"), {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
    return {
        name: pq.ParquetFile(p(name)).metadata.num_rows
        for name in ("region", "nation", "customer", "supplier", "part",
                     "orders", "lineitem", "events", "documents", "embeddings")
    }
