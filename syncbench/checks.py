"""Correctness checks, run after the timed region.  Each returns a list of
failure descriptions (empty when the check passed)."""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
from decimal import Decimal

from serve import MAX_UID, canonical, duckdb_views

INTERVALS = {"1m": ("secs", 60), "5m": ("secs", 300), "15m": ("secs", 900),
             "30m": ("secs", 1800), "1h": ("secs", 3600), "2h": ("secs", 7200),
             "3h": ("secs", 10800), "4h": ("secs", 14400), "6h": ("secs", 21600),
             "12h": ("secs", 43200), "1d": ("trunc", "day"), "1w": ("trunc", "week"),
             "1M": ("trunc", "month")}
CANDLE_CASCADE = [("1m", "5m"), ("5m", "15m"), ("15m", "30m"), ("30m", "1h"),
                  ("1h", "2h"), ("1h", "3h"), ("2h", "4h"), ("3h", "6h"),
                  ("6h", "12h"), ("12h", "1d"), ("1d", "1w"), ("1d", "1M")]


def open_duckdb(store_root: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads = {os.cpu_count() or 1}")
    duckdb_views(con, store_root)
    return con


def check_truth(con, truth: dict) -> list[str]:
    """Surviving rows per typed table, child-row counts and live blocks
    equal the generator's ground truth."""
    out = []
    tables = {r[0] for r in con.execute("SHOW TABLES").fetchall()}
    for table, ids in truth["tx_ids"].items():
        got = sorted(r[0] for r in con.execute(f"SELECT id FROM {table}").fetchall()) \
            if table in tables else []
        if got != ids:
            out.append(f"{table}: {len(got)} rows, expected {len(ids)}")
    for table, n in truth["children"].items():
        got = con.execute(f"SELECT count(*) FROM {table}").fetchone()[0] \
            if table in tables else 0
        if got != n:
            out.append(f"{table}: {got} rows, expected {n}")
    uids = [r[0] for r in con.execute(
        "SELECT uid FROM blocks_microblocks ORDER BY uid").fetchall()]
    if uids != truth["block_uids"]:
        out.append(f"blocks_microblocks: {len(uids)} blocks, expected {len(truth['block_uids'])}")
    return out


def check_scd(con) -> list[str]:
    """Every SCD-2 chain links each row to the next uid of its key and ends
    at MAX_UID."""
    out = []
    for table in ("asset_updates", "asset_tickers"):
        bad = con.execute(f"""
            SELECT count(*) FROM (
                SELECT superseded_by,
                       lead(uid) OVER (PARTITION BY asset_id ORDER BY uid) AS nxt
                FROM {table})
            WHERE superseded_by <> coalesce(nxt, {MAX_UID})""").fetchone()[0]
        if bad:
            out.append(f"{table}: {bad} rows break the superseded_by chain")
    return out


def _trunc(ts: dt.datetime, ivl: str) -> dt.datetime:
    kind, arg = INTERVALS[ivl]
    ts = ts.replace(microsecond=0)
    midnight = ts.replace(hour=0, minute=0, second=0)
    if kind == "secs":
        sod = (ts - midnight).seconds
        return midnight + dt.timedelta(seconds=sod - sod % arg)
    if arg == "day":
        return midnight
    if arg == "week":
        return midnight - dt.timedelta(days=midnight.weekday())
    return midnight.replace(day=1)


def expected_candles(trades, decimals: dict) -> list[dict]:
    """All 13 candle intervals recomputed from ``trades`` (uid, time_stamp,
    amount_asset_id, price_asset_id, sender, height, amount, price,
    tx_version) in exact decimal arithmetic: v3 prices scale by
    10^(price decimals - amount decimals); minute open/close by trade uid;
    each cascade level re-aggregates its source with open/close by
    time_start and wap = floor(sum(wap * volume) / sum(volume))."""
    minute: dict[tuple, list] = {}
    for uid, ts, aa, pa, sender, height, amount, price, version in trades:
        p = Decimal(price)
        if version > 2:
            p = p * Decimal(10) ** (decimals[pa] - decimals[aa])
        minute.setdefault((_trunc(ts, "1m"), aa, pa, sender), []).append(
            (uid, p, Decimal(amount), height))
    level = {}
    for key, rows in minute.items():
        rows.sort()
        vol = sum(r[2] for r in rows)
        qv = sum(r[1] * r[2] for r in rows)
        level[key] = {"low": min(r[1] for r in rows), "high": max(r[1] for r in rows),
                      "volume": vol, "quote_volume": qv,
                      "max_height": max(r[3] for r in rows), "txs_count": len(rows),
                      "weighted_average_price": int(qv // vol),
                      "open": rows[0][1], "close": rows[-1][1]}
    levels = {"1m": level}
    for src, dst in CANDLE_CASCADE:
        groups: dict[tuple, list] = {}
        for (t, aa, pa, m), c in sorted(levels[src].items()):
            groups.setdefault((_trunc(t, dst), aa, pa, m), []).append(c)
        levels[dst] = {}
        for key, cs in groups.items():
            vol = sum(c["volume"] for c in cs)
            levels[dst][key] = {
                "low": min(c["low"] for c in cs), "high": max(c["high"] for c in cs),
                "volume": vol, "quote_volume": sum(c["quote_volume"] for c in cs),
                "max_height": max(c["max_height"] for c in cs),
                "txs_count": sum(c["txs_count"] for c in cs),
                "weighted_average_price": int(
                    sum(c["weighted_average_price"] * c["volume"] for c in cs) // vol),
                "open": cs[0]["open"], "close": cs[-1]["close"]}
    return [{"time_start": t, "amount_asset_id": aa, "price_asset_id": pa,
             "matcher_address": m, "interval": ivl, **c}
            for ivl, lv in levels.items() for (t, aa, pa, m), c in lv.items()]


def check_candles(con) -> list[str]:
    """Stored candles equal an independent exact recompute over the final
    txs_7 and the current decimals."""
    decimals = dict(con.execute("SELECT asset_id, decimals FROM decimals").fetchall())
    trades = con.execute(
        "SELECT uid, time_stamp, amount_asset_id, price_asset_id, sender, height, "
        "amount, price, tx_version FROM txs_7").fetchall()
    cur = con.execute("SELECT * FROM candles")
    cols = [d[0] for d in cur.description]
    got = canonical([dict(zip(cols, r)) for r in cur.fetchall()])
    want = canonical(expected_candles(trades, decimals))
    if got != want:
        return [f"candles: {len(got)} stored rows differ from the {len(want)}-row recompute"]
    return []


def check_queries(con, results: list[dict]) -> list[str]:
    """Each served result equals the same SQL on DuckDB over the store."""
    out = []
    for q in results:
        if q.get("error") is not None:
            continue
        cur = con.execute(q["sql"])
        cols = [d[0] for d in cur.description]
        want = canonical([dict(zip(cols, r)) for r in cur.fetchall()])
        if want != q["rows"]:
            q["mismatch"] = True
            out.append(f"query {q['class']}: {len(q['rows'])} rows, DuckDB {len(want)}")
    return out


def _canon_cell(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    return str(v)


def _digest(names: list[str], rows: list[tuple]) -> tuple[int, str]:
    """Row count and an order-insensitive hash: columns sorted by name,
    cells canonicalised, rows sorted."""
    order = sorted(range(len(names)), key=lambda i: names[i])
    canon = sorted(tuple(_canon_cell(r[i]) for i in order) for r in rows)
    return len(canon), hashlib.sha256(repr(canon).encode()).hexdigest()


def check_catalog(tables_dir: str, rec: dict) -> list[str]:
    """A catalog query's collected result equals its ``ORACLES`` SQL run by
    DuckDB over the same tables: same column names, row count and hash."""
    import duckdb

    from blockchain_postgres_sync_spark.plans.catalog import ORACLES
    from blockchain_postgres_sync_spark.schemas import TESTDATA_TABLES

    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {os.cpu_count() or 1}")
        for t in TESTDATA_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(tables_dir, t)}.parquet')")
        cur = con.execute(ORACLES[rec["name"]])
        names = [d[0] for d in cur.description]
        want = cur.fetchall()
    finally:
        con.close()
    if sorted(names) != sorted(rec["columns"]):
        return [f"catalog {rec['name']}: columns {sorted(rec['columns'])}, oracle {sorted(names)}"]
    got_n, got_h = _digest(rec["columns"], rec["rows"])
    want_n, want_h = _digest(names, want)
    if (got_n, got_h) != (want_n, want_h):
        return [f"catalog {rec['name']}: {got_n} rows, oracle {want_n}; hashes differ"]
    return []
