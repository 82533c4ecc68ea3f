"""Seeded input generators for the benchmark.

Every generator is a pure function of its arguments: the same seed gives
byte-identical files. Inputs are written before any timed region starts.
Files that a stream may pick up land atomically (written under a hidden
temporary name, then renamed), so a micro-batch never sees half a file.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CHANNELS = ("ch1", "ch2", "ch3", "ch4")
PLAYBACK_HEADER = "seq,row," + ",".join(CHANNELS)
PLAYBACK_SCHEMA = "seq long, row long, " + ", ".join(f"{c} double" for c in CHANNELS)

# Analytics tables are one fixed data set (the seed only permutes query
# order), so their row counts can be recorded once in expected_counts.json.
TABLE_SEED = 42


def _threads() -> int:
    return max(1, os.cpu_count() or 1)


def land(path: str, text: str, mtime: float | None = None) -> None:
    """Write ``text`` to ``path`` atomically (hidden tmp name + rename),
    optionally with the given modification time."""
    d, base = os.path.split(path)
    tmp = os.path.join(d, f".{base}.tmp")
    with open(tmp, "w") as f:
        f.write(text)
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.rename(tmp, path)


# -- playback ---------------------------------------------------------------
def playback_csv(seed: int, seq: int, rows: int) -> str:
    """One playback file: ``seq,row`` identify each reading; 4 channels."""
    rng = np.random.default_rng([seed, seq])
    vals = rng.uniform(-1.0, 1.0, size=(rows, len(CHANNELS)))
    lines = [PLAYBACK_HEADER]
    lines.extend(
        f"{seq},{r},{a:.6f},{b:.6f},{c:.6f},{d:.6f}"
        for r, (a, b, c, d) in enumerate(vals.tolist())
    )
    return "\n".join(lines) + "\n"


def land_playback_dir(d: str, seed: int, n_files: int, rows: int) -> list[str]:
    """Pre-land ``n_files`` playback files (seq 0..n-1), generated with
    <= nproc threads. The file source takes files in modification-time
    order, so the files get increasing times in seq order, 10 ms apart."""
    os.makedirs(d, exist_ok=True)
    with ThreadPoolExecutor(_threads()) as ex:
        texts = list(ex.map(lambda i: playback_csv(seed, i, rows), range(n_files)))
    t0 = time.time() - n_files * 0.01
    paths = [os.path.join(d, f"burst_{i:06d}.csv") for i in range(n_files)]
    for i, (path, text) in enumerate(zip(paths, texts)):
        land(path, text, mtime=t0 + i * 0.01)
    return paths


# -- ETL repair input ---------------------------------------------------------
def etl_frame(seed: int, rows: int, hole_share: float = 0.05) -> pd.DataFrame:
    """``user_ts`` + 4 random-walk channels with ~``hole_share`` of the
    cells empty. ``user_ts`` is unique and sorts as a string, so the
    repair window's order is total."""
    rng = np.random.default_rng([seed, 7])
    base = np.datetime64("2020-01-01T00:00:00", "us")
    ts = base + np.arange(rows) * np.timedelta64(125, "us")  # 8 kHz spacing
    data = {"user_ts": [f"{t}".replace("T", " ") for t in ts.astype("datetime64[us]")]}
    for c in CHANNELS:
        v = np.round(rng.normal(0.0, 1.0, rows).cumsum(), 6)
        holes = rng.random(rows) < hole_share
        data[c] = np.where(holes, np.nan, v)
    return pd.DataFrame(data)


def write_etl_input(path: str, seed: int, rows: int) -> pd.DataFrame:
    """Write the ETL input CSV (empty cell = hole); returns the frame."""
    df = etl_frame(seed, rows)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    land(path, df.to_csv(index=False, float_format="%.6f", na_rep=""))
    return df


# -- analytics tables (the driver's sf-shaped schema) -------------------------
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
PART_ADJ = ("large", "hot", "cold", "small", "new", "red", "blue", "old")
PART_NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
DAY_US = 86_400_000_000


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return (rng.integers(a, b + 1, n) * DAY_US).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def _documents(rng, n: int) -> dict:
    lens = rng.integers(10, 101, n)
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    # 5% near-duplicates: a copy of a later document plus one token
    for i in rng.choice(n // 2, n // 20, replace=False).tolist():
        texts[i] = texts[int(rng.integers(n // 2, n))] + " dup"
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, ("en", "zh", "es", "fr", "de"), n, (0.41, 0.15, 0.15, 0.15, 0.14)),
        "source": _pick(rng, [f"src{i}" for i in range(20)], n),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, n: int, dim: int = 64) -> dict:
    v = rng.normal(size=(n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), dim).cast(
        pa.list_(pa.float32())
    )
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }


def _events(rng, n: int) -> dict:
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(t0, t0 + 30 * DAY_US, n)).astype("datetime64[us]")
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, 1500, n)),
        "event_type": _pick(rng, ("view", "click", "purchase", "signup", "error"), n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n).tolist()]),
    }


def _tables(sf: float, seed: int) -> dict[str, dict]:
    """Column dicts per table. Each table draws from its own stream."""
    n_li, n_ord = int(6_000_000 * sf), int(1_500_000 * sf)
    n_cust, n_part = int(150_000 * sf), int(200_000 * sf)
    n_supp, n_ev = int(10_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    r = {name: np.random.default_rng([seed, i]) for i, name in enumerate(
        ("lineitem", "orders", "customer", "part", "supplier", "events",
         "documents", "embeddings"))}
    li, od, cu, pt, su = (r[k] for k in ("lineitem", "orders", "customer", "part", "supplier"))
    part_keys = np.arange(n_part, dtype=np.int64)
    return {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(list(REGIONS)),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(cu.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(cu, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(
                cu, ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"), n_cust
            ),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(su.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(su, -999.99, 9999.99, n_supp)),
        },
        "part": {
            "p_partkey": pa.array(part_keys),
            "p_name": pa.array(
                [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in pt.integers(0, 8, (n_part, 2)).tolist()]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in pt.integers(1, 26, n_part).tolist()]),
            "p_type": _pick(pt, ("LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"), n_part),
            "p_size": pa.array(pt.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (part_keys % 1000) * 0.1, 2)),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(od.integers(0, max(n_cust, 1), n_ord)),
            "o_orderstatus": _pick(od, ("O", "P", "F"), n_ord),
            "o_totalprice": pa.array(_money(od, 1000.0, 500000.0, n_ord)),
            "o_orderdate": pa.array(_days(od, "1995-01-01", "2001-08-01", n_ord)),
            "o_orderpriority": _pick(
                od, ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), n_ord
            ),
        },
        "lineitem": {
            "l_orderkey": pa.array(li.integers(0, max(n_ord, 1), n_li)),
            "l_partkey": pa.array(li.integers(0, max(n_part, 1), n_li)),
            "l_suppkey": pa.array(li.integers(0, max(n_supp, 1), n_li)),
            "l_linenumber": pa.array(li.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": pa.array(li.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(li, 900.0, 105000.0, n_li)),
            "l_discount": pa.array(li.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(li.integers(0, 9, n_li) / 100.0),
            "l_returnflag": _pick(li, ("A", "N", "R"), n_li),
            "l_linestatus": _pick(li, ("O", "F"), n_li),
            "l_shipdate": pa.array(_days(li, "1995-01-02", "2001-11-04", n_li)),
        },
        "events": _events(r["events"], n_ev),
        "documents": _documents(r["documents"], n_doc),
        "embeddings": _embeddings(r["embeddings"], n_emb),
    }


def write_tables(out_dir: str, sf: float, seed: int = TABLE_SEED) -> str:
    """Write the ten sf-shaped parquet tables (one row group each) to
    ``out_dir`` once; an existing complete directory is reused."""
    if os.path.isdir(out_dir):
        return out_dir
    tmp = f"{out_dir}.tmp{os.getpid()}"
    os.makedirs(tmp)

    def write(item):
        name, cols = item
        t = pa.table(cols)
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"), row_group_size=t.num_rows or 1)

    with ThreadPoolExecutor(_threads()) as ex:
        list(ex.map(write, _tables(sf, seed).items()))
    os.rename(tmp, out_dir)
    return out_dir
