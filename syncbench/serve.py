"""The serving mix and its DuckDB mirror.

The mix follows the reference's index set (up.sql:530-719): asset by id,
candles for a pair/interval/time range, txs by sender newest first, tx by
id, and the tickers, decimals and pairs views.  Each query is plain SQL that
runs unchanged on Spark (after ``register_views``) and on DuckDB over the
store's parquet, where :func:`duckdb_views` recreates the same view names.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from decimal import Decimal

MAX_UID = 9_223_372_036_854_775_806
TX_NAMES = [f"txs_{n}" for n in range(1, 19)]
_TXS_COMMON = ("uid, tx_type, sender, sender_public_key, time_stamp, height, id, "
               "signature, proofs, tx_version, fee, status, block_uid")
QUERY_CLASSES = ("asset_by_id", "candles_range", "txs_by_sender", "tx_by_id",
                 "tickers", "decimals", "pairs")


def query_mix(seed: int, rounds: int, chain, truth: dict) -> list[tuple[str, str]]:
    """``rounds`` passes over the seven query classes, parameters drawn from
    the generated chain."""
    rng = random.Random(seed * 7919 + 1)
    ids = sorted(i for v in truth["tx_ids"].values() for i in v)
    t_end = dt.datetime.fromtimestamp(chain.ts_ms / 1000, dt.timezone.utc).replace(tzinfo=None)
    out = []
    for _ in range(rounds):
        asset = rng.choice(chain.assets)
        amount, price = chain.pairs[min(int(rng.paretovariate(1.0)) - 1, 7)]
        ivl = rng.choice(["1m", "5m", "15m", "1h", "1d"])
        t1 = t_end - dt.timedelta(hours=rng.randrange(1, 6))
        out += [
            ("asset_by_id", f"SELECT * FROM assets WHERE asset_id = '{asset}'"),
            ("candles_range",
             f"SELECT * FROM candles WHERE amount_asset_id = '{amount}' "
             f"AND price_asset_id = '{price}' AND interval = '{ivl}' "
             f"AND time_start >= TIMESTAMP '{t1:%Y-%m-%d %H:%M:%S}' "
             f"AND time_start < TIMESTAMP '{t_end:%Y-%m-%d %H:%M:%S}' ORDER BY time_start"),
            ("txs_by_sender",
             f"SELECT uid, id, tx_type, height, time_stamp, fee, status FROM txs "
             f"WHERE sender = '{rng.choice(chain.senders[:8])}' ORDER BY uid DESC LIMIT 20"),
            ("tx_by_id", f"SELECT * FROM txs WHERE id = '{rng.choice(ids)}'"),
            ("tickers", "SELECT * FROM tickers"),
            ("decimals", "SELECT * FROM decimals"),
            ("pairs",
             "SELECT amount_asset_id, price_asset_id, matcher_address, first_price, "
             "last_price, volume, quote_volume, high, low, txs_count FROM pairs "
             f"WHERE amount_asset_id = '{amount}'"),
        ]
    return out


def store_dirs(store_root: str) -> dict[str, str]:
    """Table name -> directory of its committed version (none before the
    first commit)."""
    path = os.path.join(store_root, "MANIFEST.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        manifest = json.load(f)
    return {n: os.path.join(store_root, n, f"v{v:06d}") for n, v in manifest.items()}


def duckdb_views(con, store_root: str) -> None:
    """Every store table as a DuckDB view (partition columns dropped), plus
    the txs parent, candles and the reference's dimension views."""
    dirs = store_dirs(store_root)
    for name, d in dirs.items():
        src = f"read_parquet('{d}/**/*.parquet', hive_partitioning = true)"
        cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()]
        drop = [c for c in cols if c in ("p_hb", "p_ib")]
        excl = f" EXCLUDE ({', '.join(drop)})" if drop else ""
        con.execute(f"CREATE VIEW {name} AS SELECT *{excl} FROM {src}")
    present = [n for n in TX_NAMES if n in dirs]
    con.execute("CREATE VIEW txs AS " + " UNION ALL ".join(
        f"SELECT {_TXS_COMMON} FROM {n}" for n in present))
    con.execute("""
        CREATE VIEW tickers AS SELECT asset_id, ticker FROM (
            SELECT asset_id, ticker,
                   row_number() OVER (PARTITION BY asset_id ORDER BY uid DESC) AS rn
            FROM asset_tickers) WHERE rn = 1""")
    con.execute("""
        CREATE VIEW decimals AS
        SELECT asset_id, CAST(decimals AS INTEGER) AS decimals FROM (
            SELECT asset_id, decimals,
                   row_number() OVER (PARTITION BY asset_id ORDER BY uid DESC) AS rn
            FROM asset_updates) WHERE rn = 1
        UNION ALL SELECT 'WAVES', 8""")
    con.execute(f"""
        CREATE VIEW assets AS
        WITH cur AS (SELECT * FROM asset_updates WHERE superseded_by = {MAX_UID}),
             sup AS (SELECT arg_max(quantity, height) AS q FROM waves_data
                     WHERE height IS NOT NULL)
        SELECT cur.asset_id, tk.ticker, cur.name AS asset_name, cur.description,
               o.issuer, o.issue_height, o.issue_time_stamp,
               CAST(cur.volume AS DECIMAL(38, 8)) AS total_quantity,
               CAST(cur.decimals AS INTEGER) AS decimals, cur.reissuable,
               cur.script IS NOT NULL AS has_script,
               cur.sponsorship AS min_sponsored_asset_fee, cur.nft
        FROM cur LEFT JOIN tickers tk USING (asset_id)
                 LEFT JOIN asset_origins o USING (asset_id)
        UNION ALL
        SELECT 'WAVES', 'WAVES', 'Waves', '', '', 0, TIMESTAMP '2016-04-11 21:00:00',
               CAST(q AS DECIMAL(38, 8)), 8, false, false, NULL, false FROM sup""")
    con.execute("""
        CREATE VIEW pairs AS
        SELECT amount_asset_id, price_asset_id, matcher_address,
               arg_min(open, time_start) AS first_price,
               arg_max(close, time_start) AS last_price,
               sum(volume) AS volume, sum(quote_volume) AS quote_volume,
               max(high) AS high, min(low) AS low,
               CAST(sum(txs_count) AS BIGINT) AS txs_count
        FROM candles WHERE interval = '1m'
        GROUP BY amount_asset_id, price_asset_id, matcher_address""")


def _canon(v):
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, Decimal)):
        return str(Decimal(v).normalize())
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    return str(v)


def canonical(rows: list[dict]) -> list[tuple]:
    """Order-insensitive, engine-neutral form of a result set."""
    return sorted(tuple(sorted((k, _canon(v)) for k, v in r.items())) for r in rows)
