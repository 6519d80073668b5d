"""Correctness checks, run after the timed phase of every run.

Ingest workloads: per-row ``content_sha256 == sha256(wkt)``, the final
``segments`` + ``relations`` digest against a reference, and exactly one
commit-log row per committed epoch.  Analytics: each result's value hash
against its DuckDB oracle, normalised as ``tools/check_oracles.py`` does.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import functions as F

from linked_maps_spark.util import table_digest
from tools.check_oracles import value_hash

PINNED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pinned.json")


def sha_mismatches(engine) -> tuple[int, int]:
    """(rows whose stored sha256 differs from sha256(wkt), rows checked); a
    NULL on either side counts as a mismatch."""
    segs = engine.segments.read()
    same = F.sha2(F.col("wkt"), 256).eqNullSafe(F.col("content_sha256"))
    row = segs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((~same | F.col("wkt").isNull()).cast("int")).alias("bad"),
    ).collect()[0]
    return int(row["bad"] or 0), int(row["n"])


def state_digest(engine) -> str:
    """One digest over the current ``segments`` and ``relations`` tables."""
    h = hashlib.sha256()
    for tbl in (engine.segments, engine.relations):
        h.update(table_digest(tbl.read()).encode())
    return h.hexdigest()


def commit_log_epochs(engine) -> list[int]:
    return sorted(r["epoch"] for r in engine.commit_log.read().select("epoch").collect())


def config_key(cfg: dict) -> str:
    return hashlib.sha256(json.dumps(cfg, sort_keys=True).encode()).hexdigest()[:16]


def pinned_digest(seed: int, cfg: dict, n_tail: int) -> str | None:
    """The ingest digest pinned for this seed, generator config and number
    of delivered tail commits, if one is pinned."""
    try:
        with open(PINNED) as fh:
            pin = json.load(fh)
    except FileNotFoundError:
        return None
    if pin["seed"] != seed or pin["config"] != config_key(cfg):
        return None
    return pin["digests"].get(str(n_tail))


def single_epoch_digest(spark, warehouse: str, events, n_commits: int) -> str:
    """:func:`state_digest` of a fresh lake at ``warehouse`` that ingested
    ``events`` (``n_commits`` commits) in one epoch: the reference for a
    multi-epoch ingest of the same events, whose result does not depend on
    epoch size."""
    from linked_maps_spark.ingest import CdcEngine

    eng = CdcEngine(spark, warehouse)
    eng.create_tables(overwrite=True)
    eng.ingest(events, commits_per_epoch=n_commits)
    return state_digest(eng)


def oracle_hashes(data_dir: str, tables: list[str], sql: dict[str, str]) -> dict[str, tuple]:
    """``{query: (n_rows, sorted columns, value hash)}`` from DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        out = {}
        for name, q in sql.items():
            rel = con.sql(q)
            rows = rel.fetchall()
            cols = [d[0] for d in rel.description]
            out[name] = (len(rows), sorted(cols), value_hash(rows, cols))
        return out
    finally:
        con.close()


def result_key(rows, cols: list[str]) -> tuple:
    return (len(rows), sorted(cols), value_hash([tuple(r) for r in rows], cols))
