"""Workload inputs, each a pure function of the seed.

* :func:`ingest_plan` — a cold-lake backfill WAL (ordinary keys from
  ``changelog.synth_change_log`` plus a few "dense sheet" keys whose lattice
  crosses the engine's ``salt_leaf_threshold`` in the first epoch), then a
  list of later commits, each touching only a Zipf-chosen subset of keys.
* :func:`write_analytics_tables` — the TPC-H-like star schema plus the
  ``events`` / ``documents`` / ``embeddings`` tables the headline queries
  read, written as one parquet file per table.

Nothing here starts Spark; the runners lift the frames into Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from linked_maps_spark import geometry as G
from linked_maps_spark.changelog import commit_label, synth_change_log

# Ingest: a cold-lake backfill of ``backfill_commits`` commits folded
# ``commits_per_epoch`` per epoch (epoch 1's fold overlaps epoch 0's writes),
# then up to ``tail_commits`` later commits delivered one at a time, each
# touching ``keys_per_commit`` ordinary keys drawn without replacement with
# Zipf(``zipf_s``) weights over key rank.
#
# Ordinary keys grow their leaf lattice roughly quadratically in editions
# (~115 leaves after 18, ~240 after 26), so none reaches the engine's
# default salting threshold of 256.  A dense sheet redraws half of a large
# feature pool every commit, which doubles its lattice per edition (~430
# leaves after 9): it crosses the threshold in epoch 0 and the engine routes
# it through the salted fold in epoch 1.  The tail never touches a dense
# sheet, so the salted fold is bypassed there.  With 2 commits per epoch the
# first salted epoch would be epoch 5, and every epoch carries seconds of
# fixed cost, which does not fit a run.
INGEST = {
    "n_keys": 300,
    "backfill_commits": 18,
    "commits_per_epoch": 9,
    "n_dense": 3,
    "dense_walks": 120,
    "dense_grid": 160,
    "dense_keep": 0.5,
    "tail_commits": 9,
    "keys_per_commit": 5,
    "zipf_s": 1.1,
}

# Analytics: the row counts of the sf0.1 test tables (``TESTDATA.md``), the
# scale the frozen bench.py reads: 15 k customers, 150 k orders, about 600 k
# lineitem rows, 100 k events over 1 500 users and 2 k 64-dimensional
# embeddings.  Documents (10-100 words) are cut from sf0.1's 5 k to 1 k: the
# DuckDB MinHash oracle, checked on every run, takes 33 s at 5 k on four
# cores.
ANALYTICS = {
    "n_customers": 15000,
    "n_suppliers": 1000,
    "n_orders": 150000,
    "n_events": 100000,
    "n_users": 1500,
    "n_documents": 1000,
    "n_embeddings": 2000,
    "dim": 64,
}

DENSE_REPO = "dense_sheet"


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, 0x9E3779B1, stream])


def dense_sheets(seed: int, cfg: dict = INGEST) -> pd.DataFrame:
    """WAL rows for the dense-sheet keys: one event per key per backfill
    commit, each edition a fresh random half of the key's feature pool."""
    pools = synth_change_log(
        n_keys=cfg["n_dense"], n_commits=1, seed=seed,
        n_walks=cfg["dense_walks"], grid=cfg["dense_grid"],
    )
    rows = []
    for k, wkt in enumerate(pools["content"]):
        pool = G.parse_wkt(wkt, G.LINE)
        rng = _rng(seed, 100 + k)
        for e in range(cfg["backfill_commits"]):
            ids = pool[rng.random(pool.size) < cfg["dense_keep"]]
            rows.append({
                "repo": DENSE_REPO,
                "path": f"dense/{k:04d}",
                "commit": commit_label(e),
                "lang": "wkt",
                "content": G.to_wkt(ids, G.LINE),
            })
    return pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])


def zipf_subset(rng: np.random.Generator, n_keys: int, k: int, s: float) -> np.ndarray:
    """``k`` distinct key indices, drawn with weight ``1 / (rank + 1) ** s``."""
    w = 1.0 / np.arange(1, n_keys + 1) ** s
    return np.sort(rng.choice(n_keys, size=k, replace=False, p=w / w.sum()))


def ingest_plan(seed: int, cfg: dict = INGEST) -> tuple[pd.DataFrame, list[pd.DataFrame]]:
    """``(backfill WAL, [tail commit frames])``.  The backfill holds every
    ordinary key's first ``backfill_commits`` editions plus the dense
    sheets; each tail frame holds the generated edition of only its
    Zipf-chosen ordinary keys at that commit."""
    n_bf = cfg["backfill_commits"]
    wal = synth_change_log(
        n_keys=cfg["n_keys"], n_commits=n_bf + cfg["tail_commits"], seed=seed, zipf_s=1.2
    )
    bf_labels = {commit_label(e) for e in range(n_bf)}
    backfill = pd.concat(
        [wal[wal["commit"].isin(bf_labels)], dense_sheets(seed, cfg)], ignore_index=True
    )
    key_index = wal["path"].str.rsplit("/", n=1).str[1].astype(int)
    rng = _rng(seed, 1)
    tail = []
    for e in range(n_bf, n_bf + cfg["tail_commits"]):
        pick = zipf_subset(rng, cfg["n_keys"], cfg["keys_per_commit"], cfg["zipf_s"])
        sel = (wal["commit"] == commit_label(e)) & key_index.isin(pick)
        tail.append(wal[sel].reset_index(drop=True))
    return backfill, tail


# ------------------------------------------------------------- analytics

_WORDS = (
    "the a data table key row column join merge sort hash scan filter group "
    "agg window batch stream spark query line part customer order value "
    "vector small big fast slow"
).split()
_LANGS = ["en", "fr", "es", "zh", "de"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    span = int((hi - lo) / np.timedelta64(1, "D"))
    return (lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")).astype("datetime64[us]")


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Word-salad documents; about a tenth are exact copies and a tenth are
    near copies (a few words replaced) of earlier ones, so the dedup and
    MinHash queries have groups to find."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.1:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.2:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[int(j)] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words))
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), n_words)))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[j] for j in rng.integers(0, len(_LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def analytics_frames(seed: int, cfg: dict = ANALYTICS) -> dict[str, pd.DataFrame]:
    rng = _rng(seed, 2)
    n_c, n_s, n_o = cfg["n_customers"], cfg["n_suppliers"], cfg["n_orders"]
    region = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS,
    })
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    customer = pd.DataFrame({
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": [_SEGMENTS[j] for j in rng.integers(0, 5, n_c)],
    })
    supplier = pd.DataFrame({
        "s_suppkey": np.arange(n_s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": rng.integers(0, 25, n_s).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
    })
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_c, n_o).astype(np.int64),
        "o_orderstatus": [("O", "F", "P")[j] for j in rng.integers(0, 3, n_o)],
        "o_totalprice": _money(rng, 1000.0, 400000.0, n_o),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_o),
        "o_orderpriority": [_PRIORITIES[j] for j in rng.integers(0, 5, n_o)],
    })
    per_order = rng.integers(1, 8, n_o)
    n_l = int(per_order.sum())
    lineitem = pd.DataFrame({
        "l_orderkey": np.repeat(orders["o_orderkey"].to_numpy(), per_order),
        "l_partkey": rng.integers(0, 200, n_l).astype(np.int64),
        "l_suppkey": rng.integers(0, n_s, n_l).astype(np.int64),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in per_order]).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 100000.0, n_l),
        "l_discount": np.round(rng.integers(0, 11, n_l) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_l) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_l)],
        "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_l)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_l),
    })
    n_e = cfg["n_events"]
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, n_e)
    ).astype("timedelta64[us]")
    events = pd.DataFrame({
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, cfg["n_users"], n_e).astype(np.int64),
        "event_type": [_EVENT_TYPES[j] for j in rng.integers(0, 5, n_e)],
        "value": _money(rng, 0.0, 500.0, n_e),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_e)],
    })
    n_v, dim = cfg["n_embeddings"], cfg["dim"]
    labels = rng.integers(0, 10, n_v)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = (centers[labels] + rng.normal(0.0, 0.5, (n_v, dim))).astype(np.float32)
    embeddings = pd.DataFrame({
        "vec_id": np.arange(n_v, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(np.int32),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "orders": orders, "lineitem": lineitem,
        "events": events, "documents": _documents(rng, cfg["n_documents"]),
        "embeddings": embeddings,
    }


def write_analytics_tables(seed: int, out_dir: str, cfg: dict = ANALYTICS) -> dict[str, int]:
    """Write one ``<table>.parquet`` per table under ``out_dir``; returns
    the row count of each."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, pdf in analytics_frames(seed, cfg).items():
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        if name == "embeddings":
            table = table.set_column(
                1, "embedding", pa.array(list(pdf["embedding"]), type=pa.list_(pa.float32()))
            )
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = len(pdf)
    return counts
