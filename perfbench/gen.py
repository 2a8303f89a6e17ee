"""Seeded input generators for the benchmark.

Everything here derives from ``numpy.random.default_rng([seed, stream])``
and writes with pyarrow, so the same seed gives byte-identical files.

- ``base_tables``: the TPC-H-like star schema plus ``events``,
  ``documents`` and ``embeddings``, with the column names, types and
  value domains the engine's queries expect (one parquet file each).
- ``scale_up``: K disjoint key-shifted copies of a base set, the
  construction ``tools/heavy_gen.py`` uses: volume grows K-fold while
  group sizes and join fan-outs stay those of the base.
- ``drop_plan`` / ``write_drop``: the 30 days of ``events`` as daily
  ``;``-separated cp1252 CSV drops plus matching parquet drops, with a
  seed-chosen share of late, duplicate and corrected rows;
  ``expected_curated`` gives the final values the drops imply.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table at scale factor 0.1 (documents/embeddings have their
# own fixed sizes, as in the engine's reference test data)
SF01_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
             "orders": 150000, "lineitem": 600000, "events": 100000}

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "tiny"]
P_NOUN = ["bolt", "gear", "nut", "pipe", "plate", "ring", "screw", "valve"]
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
VOCAB = ["a", "agg", "batch", "big", "column", "data", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part",
         "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
         "table", "the", "value", "vector", "window", "shuffle", "cache"]
# cp1252-only bytes (ã, é, á, ó, ç): a strict UTF-8 decode of a drop fails
ORIGENS = ["São Cristóvão", "Méier", "Jacarepaguá", "Penha", "Madureira",
           "Barra da Tijuca", "Niterói", "Nova Iguaçu"]

EVENTS_START = dt.datetime(2024, 1, 1)
N_DAYS = 30
STRIDE = 10_000_000  # key shift per copy, as in tools/heavy_gen.py

DAY_US = 86_400 * 1_000_000


def rng_for(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _us(t: dt.datetime) -> int:
    return int((t - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _days_ts(rng, n, first: dt.date, last: dt.date) -> pa.Array:
    lo = _us(dt.datetime.combine(first, dt.time()))
    span = (last - first).days + 1
    days = rng.integers(0, span, n)
    return pa.array(lo + days * DAY_US, pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed_names(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys]


def _text(rng, n_words: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def _documents(rng, n: int) -> pa.Table:
    """Word-salad documents; ~3% exact and ~5% near duplicates so the
    dedup operators have real clusters to find."""
    texts = [_text(rng, int(k)) for k in rng.integers(10, 101, n)]
    n_exact, n_near = n * 3 // 100, n * 5 // 100
    src = rng.integers(0, n, n_exact + n_near)
    dst = rng.choice(n, n_exact + n_near, replace=False)
    for j, (s, d) in enumerate(zip(src, dst)):
        t = texts[s]
        if j >= n_exact:  # near duplicate: one word replaced
            words = t.split(" ")
            words[int(rng.integers(0, len(words)))] = VOCAB[
                int(rng.integers(0, len(VOCAB)))]
            t = " ".join(words)
        texts[d] = t
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    """Unit vectors around k label centroids."""
    centers = rng.normal(0.0, 1.0, (k, dim))
    labels = rng.integers(0, k, n)
    v = centers[labels] + rng.normal(0.0, 1.2, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def events(rng, n: int) -> pa.Table:
    start = _us(EVENTS_START)
    ts = np.sort(rng.integers(0, N_DAYS * DAY_US, n)) + start
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n // 66, 10), n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n)],
    })


def base_tables(seed: int, sf: float, n_docs: int = 1000,
                n_vecs: int = 500) -> dict[str, pa.Table]:
    """The star schema at scale factor ``sf`` (0.1 = 600k lineitem)."""
    rows = {t: max(int(r * sf / 0.1), 10) for t, r in SF01_ROWS.items()}
    n_c, n_s, n_p = rows["customer"], rows["supplier"], rows["part"]
    n_o, n_l = rows["orders"], rows["lineitem"]
    r = [rng_for(seed, i) for i in range(10)]
    ckeys, skeys, pkeys = np.arange(n_c), np.arange(n_s), np.arange(n_p)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(ckeys, pa.int64()),
            "c_name": _keyed_names("Customer", ckeys),
            "c_nationkey": pa.array(r[0].integers(0, 25, n_c), pa.int32()),
            "c_acctbal": _money(r[0], n_c, -999.99, 9999.99),
            "c_mktsegment": [SEGMENTS[i] for i in r[0].integers(0, 5, n_c)]}),
        "supplier": pa.table({
            "s_suppkey": pa.array(skeys, pa.int64()),
            "s_name": _keyed_names("Supplier", skeys),
            "s_nationkey": pa.array(r[1].integers(0, 25, n_s), pa.int32()),
            "s_acctbal": _money(r[1], n_s, -999.99, 9999.99)}),
        "part": pa.table({
            "p_partkey": pa.array(pkeys, pa.int64()),
            "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                       zip(r[2].integers(0, 8, n_p), r[2].integers(0, 8, n_p))],
            "p_brand": [f"Brand#{i}" for i in r[2].integers(1, 26, n_p)],
            "p_type": [P_TYPES[i] for i in r[2].integers(0, 6, n_p)],
            "p_size": pa.array(r[2].integers(1, 51, n_p), pa.int32()),
            "p_retailprice": np.round(900.0 + (pkeys % 1000) * 0.1, 2)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
            "o_custkey": pa.array(r[3].integers(0, n_c, n_o), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i]
                              for i in r[3].integers(0, 3, n_o)],
            "o_totalprice": _money(r[3], n_o, 1000.0, 500000.0),
            "o_orderdate": _days_ts(r[3], n_o, dt.date(1995, 1, 1),
                                    dt.date(2001, 8, 1)),
            "o_orderpriority": [PRIORITIES[i]
                                for i in r[3].integers(0, 5, n_o)]}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(r[4].integers(0, n_o, n_l), pa.int64()),
            "l_partkey": pa.array(r[4].integers(0, n_p, n_l), pa.int64()),
            "l_suppkey": pa.array(r[4].integers(0, n_s, n_l), pa.int64()),
            "l_linenumber": pa.array(r[4].integers(1, 8, n_l), pa.int32()),
            "l_quantity": r[4].integers(1, 51, n_l).astype(np.float64),
            "l_extendedprice": _money(r[4], n_l, 900.0, 105000.0),
            "l_discount": r[4].integers(0, 11, n_l) / 100.0,
            "l_tax": r[4].integers(0, 9, n_l) / 100.0,
            "l_returnflag": [("A", "N", "R")[i]
                             for i in r[4].integers(0, 3, n_l)],
            "l_linestatus": [("F", "O")[i] for i in r[4].integers(0, 2, n_l)],
            "l_shipdate": _days_ts(r[4], n_l, dt.date(1995, 1, 2),
                                   dt.date(2001, 11, 4))}),
        "events": events(r[5], rows["events"]),
        "documents": _documents(r[6], n_docs),
        "embeddings": _embeddings(r[7], n_vecs),
    }


# key columns shifted per copy (tools/heavy_gen.py's _SHIFTS)
_SHIFTS = {
    "customer": ["c_custkey"], "supplier": ["s_suppkey"],
    "part": ["p_partkey"], "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"], "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def scale_up(tables: dict[str, pa.Table], copies: int) -> dict[str, pa.Table]:
    """K disjoint copies per keyed table: key columns shifted by
    ``copy * STRIDE``, document words prefixed ``q<copy>`` and embedding
    components offset by ``copy/1024`` so copies do not alias."""
    import pyarrow.compute as pc

    out = {}
    for name, t in tables.items():
        keys = _SHIFTS.get(name)
        if not keys:
            out[name] = t
            continue
        legs = []
        for k in range(copies):
            leg = t
            for c in keys:
                i = leg.schema.get_field_index(c)
                leg = leg.set_column(i, c, pc.add(leg[c], k * STRIDE))
            if k and name == "documents":
                text = [" ".join(f"q{k}{w}" for w in s.split(" "))
                        for s in leg["text"].to_pylist()]
                leg = leg.set_column(1, "text", pa.array(text))
                leg = leg.set_column(
                    4, "n_chars", pa.array([len(s) for s in text], pa.int64()))
            if k and name == "embeddings":
                vecs = np.stack(leg["embedding"].to_numpy(zero_copy_only=False))
                vecs = (vecs + np.float32(k / 1024.0)).astype(np.float32)
                leg = leg.set_column(1, "embedding", pa.array(
                    list(vecs), pa.list_(pa.float32())))
            legs.append(leg)
        out[name] = pa.concat_tables(legs)
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, int]:
    """One parquet file per table; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# ------------------------------------------------------------ daily drops

DROP_COLUMNS = ["event_id", "ts", "user_id", "event_type", "value", "props",
                "version", "origem"]


def drop_plan(seed: int, n_events: int = SF01_ROWS["events"]) -> dict:
    """All rows of the 30 daily drops, as numpy columns plus a
    ``land_day`` per row. The seed picks the late, duplicate and
    correction shares, then which rows they hit."""
    rng = rng_for(seed, 20)
    shares = {"late": float(rng.uniform(0.03, 0.08)),
              "duplicate": float(rng.uniform(0.01, 0.04)),
              "correction": float(rng.uniform(0.02, 0.06))}
    ev = events(rng_for(seed, 5), n_events)
    eid = ev["event_id"].to_numpy()
    ts = ev["ts"].cast(pa.int64()).to_numpy()
    day = (ts - _us(EVENTS_START)) // DAY_US
    land = day.copy()
    late = rng.random(n_events) < shares["late"]
    land[late] = np.minimum(land[late] + rng.integers(1, 4, late.sum()),
                            N_DAYS - 1)
    value = ev["value"].to_numpy()
    n_dup = int(shares["duplicate"] * n_events)
    n_cor = int(shares["correction"] * n_events)
    dup = rng.choice(n_events, n_dup, replace=False)
    cor = rng.choice(n_events, n_cor, replace=False)
    idx = np.concatenate([np.arange(n_events), dup, cor])
    version = np.concatenate([np.ones(n_events + n_dup, np.int64),
                              np.full(n_cor, 2, np.int64)])
    land_all = np.concatenate([
        land,
        np.minimum(land[dup] + rng.integers(0, 3, n_dup), N_DAYS - 1),
        np.minimum(land[cor] + rng.integers(0, 4, n_cor), N_DAYS - 1)])
    value_all = np.concatenate([
        value, value[dup],
        np.round(value[cor] + rng.uniform(1.0, 50.0, n_cor), 2)])
    user = ev["user_id"].to_numpy()[idx]
    return {
        "shares": shares,
        "event_id": eid[idx], "ts": ts[idx], "user_id": user,
        "event_type": np.asarray(ev["event_type"].to_pylist(), object)[idx],
        "value": value_all,
        "props": np.asarray(ev["props"].to_pylist(), object)[idx],
        "version": version,
        "origem": np.asarray(ORIGENS, object)[user % len(ORIGENS)],
        "land_day": land_all,
    }


def touched_dates(plan: dict, d: int) -> list[str]:
    """ISO dates of the event days that drop ``d`` carries rows for."""
    days = np.unique((plan["ts"][plan["land_day"] == d] - _us(EVENTS_START))
                     // DAY_US)
    return [(EVENTS_START.date() + dt.timedelta(days=int(k))).isoformat()
            for k in days]


def expected_curated(plan: dict, last_day: int) -> dict[int, tuple[int, float]]:
    """event_id -> (version, value) after drops 0..last_day are merged
    keep-last by version."""
    keep = plan["land_day"] <= last_day
    out: dict[int, tuple[int, float]] = {}
    for e, v, x in zip(plan["event_id"][keep], plan["version"][keep],
                       plan["value"][keep]):
        e = int(e)
        if e not in out or v > out[e][0]:
            out[e] = (int(v), float(x))
    return out


def _fmt_ts(us: int) -> str:
    return (dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(us))
            ).strftime("%Y-%m-%d %H:%M:%S.%f")


def write_drop(plan: dict, d: int, out_dir: str) -> dict:
    """Write drop ``d`` as ``csv/d<dd>/events.csv`` (``;``, cp1252,
    decimal comma) and ``parquet/d<dd>.parquet``, rows sorted by
    (event_id, version). Returns its paths, rows and CSV bytes."""
    sel = np.flatnonzero(plan["land_day"] == d)
    sel = sel[np.lexsort((plan["version"][sel], plan["event_id"][sel]))]
    csv_dir = os.path.join(out_dir, "csv", f"d{d:02d}")
    os.makedirs(csv_dir, exist_ok=True)
    lines = [";".join(DROP_COLUMNS)]
    for i in sel:
        lines.append(";".join([
            str(plan["event_id"][i]), _fmt_ts(plan["ts"][i]),
            str(plan["user_id"][i]), plan["event_type"][i],
            f"{plan['value'][i]:.2f}".replace(".", ","),
            plan["props"][i], str(plan["version"][i]), plan["origem"][i]]))
    csv_path = os.path.join(csv_dir, "events.csv")
    with open(csv_path, "wb") as f:
        f.write(("\n".join(lines) + "\n").encode("cp1252"))
    pq_path = os.path.join(out_dir, "parquet", f"d{d:02d}.parquet")
    os.makedirs(os.path.dirname(pq_path), exist_ok=True)
    pq.write_table(pa.table({
        "event_id": pa.array(plan["event_id"][sel], pa.int64()),
        "ts": pa.array(plan["ts"][sel], pa.timestamp("us")),
        "user_id": pa.array(plan["user_id"][sel], pa.int64()),
        "event_type": list(plan["event_type"][sel]),
        "value": pa.array(plan["value"][sel], pa.float64()),
        "props": list(plan["props"][sel]),
        "version": pa.array(plan["version"][sel], pa.int64()),
        "origem": list(plan["origem"][sel]),
    }), pq_path)
    return {"csv": csv_path, "parquet": pq_path, "rows": int(len(sel)),
            "csv_bytes": os.path.getsize(csv_path)}
