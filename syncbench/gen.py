"""Seeded waves-update generator for the sync benchmark.

Builds RAW_UPDATE-shaped JSON lines (one line per block, microblock or
rollback) covering all 18 transaction types and their child rows
(mass-transfer recipients, data entries, invoke and ethereum args and
payments), asset and ticker updates, ``waves_quantity`` supply rows and
Zipf-skewed exchange pairs.

Alongside the updates the generator replays the consumer's squash and
rollback rules on its own copy of the chain, so it can state the ground
truth the checks compare against: the tx ids that survive in every typed
table and the child-row count of every child table.

Everything derives from ``random.Random(seed)``: one seed, one byte-identical
set of files.  Every value is JSON-safe (the ethereum ``bytes`` field is
base64 text, which Spark's JSON reader decodes into the binary column).
"""

from __future__ import annotations

import base64
import datetime as dt
import json
import os
import random

ASSET_STORAGE = "3PBenchAssetStorage"
CHILD_TABLES = {
    "txs_11_transfers": (11, "transfers"),
    "txs_12_data": (12, "data_entries"),
    "txs_16_args": (16, "args"),
    "txs_16_payment": (16, "payments"),
    "txs_18_args": (18, "args"),
    "txs_18_payment": (18, "payments"),
}

# The traffic shape below is an assumption, not a measurement of any chain:
# every one of the 18 types occurs, with exchange, transfer and invoke the
# most common so candles, typed tables and child tables all see work.  The
# block sizes (tens of txs), the asset/ticker update rate and the Zipf
# exponent over the pairs are chosen the same way.
#: relative weight of each tx type in a generated block (assumed)
TYPE_WEIGHTS = {
    1: 1, 2: 1, 3: 2, 4: 18, 5: 2, 6: 2, 7: 36, 8: 3, 9: 2, 10: 1,
    11: 4, 12: 7, 13: 1, 14: 1, 15: 1, 16: 12, 17: 1, 18: 3,
}
N_ASSETS = 24
N_SENDERS = 64
N_MATCHERS = 3
ZIPF_S = 1.2  # assumed skew of the exchange pairs
#: share of key blocks that carry an asset update, and a ticker update (assumed)
UPDATE_RATE = 0.15


def _b64(raw: bytes) -> str:
    return base64.b64encode(raw).decode("ascii")


class Chain:
    """A generated chain plus the consumer-visible state it implies.

    ``blocks`` mirrors ``blocks_microblocks`` (uid, id, is_key) after
    every squash and rollback; ``txs`` maps each live tx id to
    ``[tx_type, block_uid, child counts]``."""

    def __init__(self, seed: int, start_height: int):
        self.rng = random.Random(seed)
        self.seq = 0
        self.height = start_height - 1
        # a seeded day, always starting 08:00 UTC: a run's candles never
        # cross a day or month boundary, so every seed does the same work
        base = dt.datetime(2024, 1, 1, 8) + dt.timedelta(days=self.rng.randrange(300))
        self.ts_ms = int(base.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
        self.supply = 10_000_000_000_000_000
        self.assets = [f"Asset{seed % 1000:03d}x{i:02d}" for i in range(N_ASSETS)]
        self.decimals = {a: self.rng.randrange(0, 9) for a in self.assets}
        self.senders = [f"3PSender{seed % 97:02d}x{i:03d}" for i in range(N_SENDERS)]
        # Zipf-skewed pairs: rank r traded with weight 1/r^s
        pairs = [(a, "WAVES") for a in self.assets] + [
            (self.assets[i], self.assets[j])
            for i in range(N_ASSETS) for j in range(N_ASSETS) if i != j
        ]
        self.rng.shuffle(pairs)
        self.pairs = pairs[:64]
        self.pair_weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(self.pairs))]
        self.n_tx = 0
        self.blocks: list[list] = []
        self.txs: dict[str, list] = {}
        self.leases: list[str] = []

    # -- transactions -------------------------------------------------

    def _tx(self, tx_type: int, ts: int) -> dict:
        self.n_tx += 1
        i = self.n_tx
        rng = self.rng
        sender = self.senders[min(int(rng.paretovariate(1.0)) - 1, N_SENDERS - 1)]
        tx = {
            "id": f"tx{tx_type}-{i}",
            "tx_type": tx_type,
            "sender": sender,
            "sender_public_key": f"pk-{sender}",
            "time_stamp": ts,
            "signature": None,
            "proofs": [f"proof-{i}"],
            "tx_version": 2,
            "fee": 100_000 + rng.randrange(1000),
            "fee_asset_id": None,
            "invoke_error": None,
        }
        asset = rng.choice(self.assets)
        if tx_type in (1, 2, 4, 8):
            tx["recipient_address"] = rng.choice(self.senders)
            tx["amount"] = rng.randrange(1, 10**6)
            if tx_type == 4:
                tx["asset_id"] = asset if rng.random() < 0.7 else None
                tx["attachment"] = _b64(f"att{i}".encode())
            if tx_type == 8:
                self.leases.append(tx["id"])
        elif tx_type == 3:
            tx.update(asset_id=f"Issued-{i}", asset_name=f"Token {i}",
                      description="issued in bench", quantity=10**8,
                      decimals=rng.randrange(9), reissuable=True)
        elif tx_type == 5:
            tx.update(asset_id=asset, quantity=rng.randrange(1, 10**6), reissuable=True)
        elif tx_type == 6:
            tx.update(asset_id=asset, amount=rng.randrange(1, 10**4))
        elif tx_type == 7:
            amount_asset, price_asset = rng.choices(self.pairs, self.pair_weights)[0]
            version = 3 if rng.random() < 0.5 else 2
            tx.update(
                sender=f"3PMatcher{rng.randrange(N_MATCHERS)}",
                tx_version=version,
                order1='{"orderType":"buy"}', order2='{"orderType":"sell"}',
                amount=rng.randrange(1, 10**6), price=rng.randrange(1, 10**8),
                amount_asset_id=amount_asset, price_asset_id=price_asset,
                buy_matcher_fee=300_000, sell_matcher_fee=300_000,
            )
        elif tx_type == 9:
            tx["lease_id"] = rng.choice(self.leases) if self.leases else f"nolease-{i}"
        elif tx_type == 10:
            tx["alias"] = f"alias-{i}"
        elif tx_type == 11:
            tx["asset_id"] = asset
            tx["attachment"] = _b64(b"mass")
            tx["transfers"] = [
                {"recipient_address": rng.choice(self.senders),
                 "recipient_alias": None, "amount": rng.randrange(1, 1000)}
                for _ in range(rng.randrange(1, 6))
            ]
        elif tx_type == 12:
            entries = []
            for k in range(rng.randrange(1, 5)):
                kind = rng.choice(["integer", "boolean", "string", "binary"])
                entries.append({
                    "data_key": f"key{k}", "data_type": kind,
                    "data_value_integer": rng.randrange(10**6) if kind == "integer" else None,
                    "data_value_boolean": rng.random() < 0.5 if kind == "boolean" else None,
                    "data_value_binary": _b64(b"bin") if kind == "binary" else None,
                    "data_value_string": f"v{k}" if kind == "string" else None,
                })
            tx["data_entries"] = entries
        elif tx_type in (13, 15):
            tx["script"] = _b64(b"\x00\x01")
            if tx_type == 15:
                tx["asset_id"] = asset
        elif tx_type == 14:
            tx.update(asset_id=asset, min_sponsored_asset_fee=rng.randrange(1, 1000))
        elif tx_type == 16:
            tx.update(dapp_address=rng.choice(self.senders), function_name="swap",
                      invoke_error="boom" if rng.random() < 0.1 else None,
                      args=self._args(), payments=self._payments())
        elif tx_type == 17:
            tx.update(asset_id=asset, asset_name=f"Renamed {i}", description="renamed")
        elif tx_type == 18:
            tx.update(bytes=_b64(bytes([i % 256, 18, 1])), function_name="call",
                      eth_action="invoke", args=self._args(),
                      payments=self._payments())
        return tx

    def _args(self) -> list[dict]:
        out = []
        for _ in range(self.rng.randrange(0, 4)):
            out.append({"arg_type": "integer", "arg_value_integer": self.rng.randrange(10**6),
                        "arg_value_boolean": None, "arg_value_binary": None,
                        "arg_value_string": None, "arg_value_list": None})
        return out

    def _payments(self) -> list[dict]:
        return [{"amount": self.rng.randrange(1, 10**5),
                 "asset_id": self.rng.choice(self.assets + [None])}
                for _ in range(self.rng.randrange(0, 3))]

    def _txs(self, n: int, ts: int, types: list[int] | None = None) -> list[dict]:
        types = types or self.rng.choices(list(TYPE_WEIGHTS), list(TYPE_WEIGHTS.values()), k=n)
        return [self._tx(t, ts + k) for k, t in enumerate(types)]

    # -- updates ------------------------------------------------------

    def _asset_update(self, asset: str, volume: int) -> dict:
        return {"asset_id": asset, "decimals": self.decimals[asset],
                "name": f"name-{asset}", "description": f"desc-{asset}",
                "reissuable": True, "volume": volume, "script": None,
                "sponsorship": None, "nft": False}

    def _ticker(self, asset: str) -> dict:
        deleted = self.rng.random() < 0.1
        return {"address": ASSET_STORAGE,
                "key": f"%s%s__assetId2ticker__{asset}",
                "value_type": None if deleted else "string",
                "value_string": None if deleted else f"T{self.rng.randrange(10**4)}"}

    def _append(self, kind: str, txs: list[dict], **extra) -> dict:
        self.seq += 1
        upd = {
            "seq": self.seq, "kind": kind,
            "id": f"{kind[0]}-{self.seq}",
            "height": self.height,
            "time_stamp": self.ts_ms if kind == "block" else None,
            "ref_id": None, "waves_quantity": None,
            "transactions": txs, "asset_updates": [], "data_entries": [],
        }
        upd.update(extra)
        self.blocks.append([self.seq, upd["id"], kind == "block"])
        for t in txs:
            counts = {name: len(t.get(field) or []) for name, (tt, field) in
                      CHILD_TABLES.items() if tt == t["tx_type"]}
            self.txs[t["id"]] = [t["tx_type"], self.seq, counts]
        return upd

    def key_block(self, n_txs: int, genesis: bool = False, types=None) -> dict:
        """A key block of ``n_txs`` txs.  The genesis block also issues every
        asset with its decimals, asset updates, tickers and supply."""
        self.height += 1
        self.ts_ms += 60_000
        txs = []
        if genesis:
            for k, a in enumerate(self.assets):
                issue = self._tx(3, self.ts_ms + 1 + k)
                issue.update(asset_id=a, asset_name=f"name-{a}",
                             decimals=self.decimals[a])
                txs.append(issue)
        txs += self._txs(n_txs, self.ts_ms + 100, types)
        self.supply += self.rng.randrange(1, 10**6)
        extra = {"waves_quantity": str(self.supply)}
        if genesis:
            extra["asset_updates"] = [self._asset_update(a, 10**9) for a in self.assets]
            extra["data_entries"] = [self._ticker(a) for a in self.assets]
        else:
            if self.rng.random() < UPDATE_RATE:
                a = self.rng.choice(self.assets)
                extra["asset_updates"] = [self._asset_update(a, self.rng.randrange(10**9))]
            if self.rng.random() < UPDATE_RATE:
                extra["data_entries"] = [self._ticker(self.rng.choice(self.assets))]
        return self._append("block", txs, **extra)

    def microblock(self, n_txs: int) -> dict:
        self.ts_ms += 3_000
        return self._append("microblock", self._txs(n_txs, self.ts_ms + 1))

    def rollback(self, depth: int) -> dict:
        """Roll the live tail back by ``depth`` blocks: the target is the
        stored block ``depth`` positions below the tip, by its CURRENT id
        (squash may have renamed it)."""
        target = self.blocks[-1 - depth]
        boundary = target[0]
        self.seq += 1
        self.blocks = [b for b in self.blocks if b[0] <= boundary]
        self.txs = {k: v for k, v in self.txs.items() if v[1] <= boundary}
        return {"seq": self.seq, "kind": "rollback", "id": f"r-{self.seq}",
                "height": None, "time_stamp": None, "ref_id": target[1],
                "waves_quantity": None, "transactions": [],
                "asset_updates": [], "data_entries": []}

    def settle(self, first_seq: int) -> None:
        """Apply the consumer's squash to the appends run that starts at
        ``first_seq``: every microblock up to the newest key block folds into
        the key block before it, which takes the folded block's id; txs
        re-point to that key block."""
        prev_key = max((b[0] for b in self.blocks if b[2] and b[0] < first_seq),
                       default=None)
        tail = [b for b in self.blocks if prev_key is None or b[0] > prev_key]
        keys = [b[0] for b in tail if b[2]]
        if not keys:
            return
        last_key = max(keys)
        anchor = next((b for b in self.blocks if b[0] == prev_key), None)
        remap: dict[int, int] = {}
        for b in tail:
            if b[0] > last_key:
                break
            if b[2]:
                anchor = b
            elif anchor is not None:
                remap[b[0]] = anchor[0]
                anchor[1] = b[1]
        if not remap:
            return
        self.blocks = [b for b in self.blocks if b[0] not in remap]
        for v in self.txs.values():
            v[1] = remap.get(v[1], v[1])

    # -- ground truth -------------------------------------------------

    def truth(self) -> dict:
        """Surviving tx ids per typed table, child-row counts per child
        table, and the live block uids."""
        ids: dict[str, list[str]] = {f"txs_{n}": [] for n in range(1, 19)}
        children = {name: 0 for name in CHILD_TABLES}
        for tx_id, (tx_type, _uid, counts) in self.txs.items():
            ids[f"txs_{tx_type}"].append(tx_id)
            for name, c in counts.items():
                children[name] += c
        return {"tx_ids": {k: sorted(v) for k, v in ids.items()},
                "children": children,
                "block_uids": [b[0] for b in self.blocks]}


def batch_appends(chain: Chain, updates: list[dict]) -> None:
    """Replay the consumer's per-batch segmentation on ``updates`` (one
    file): each run of appends squashes when it ends (the rollback updates
    already applied themselves when generated)."""
    run_start = None
    for u in updates:
        if u["kind"] == "rollback":
            if run_start is not None:
                chain.settle(run_start)
                run_start = None
        elif run_start is None:
            run_start = u["seq"]
    if run_start is not None:
        chain.settle(run_start)


def sync_file(chain: Chain, n_blocks: int, txs_lo: int, txs_hi: int,
              tail_rounds: int, n_micro: int, micro_txs: int,
              rollback_depth: int) -> list[dict]:
    """One delivery that brings a cold consumer from genesis to the tip.

    Catch-up part: a genesis block (one tx of each of the 18 types, asset
    issues, asset updates, tickers, supply), then key blocks of
    ``txs_lo``..``txs_hi`` txs until there are ``n_blocks`` key blocks.
    Tail part: ``tail_rounds`` rounds of a key block of ``micro_txs`` txs
    followed by ``n_micro`` microblocks of ``micro_txs`` txs (each round's
    key block squashes the microblocks before it), then a rollback of
    ``rollback_depth`` blocks into the last microblocks."""
    out = [chain.key_block(0, genesis=True, types=list(range(1, 19)))]
    # block sizes cycle through txs_lo..txs_hi in a fixed pattern, so every
    # seed delivers the same number of txs
    span = txs_hi - txs_lo + 1
    out += [chain.key_block(txs_lo + (k * 8) % span) for k in range(n_blocks - 1)]
    for _ in range(tail_rounds):
        out.append(chain.key_block(micro_txs))
        out += [chain.microblock(micro_txs) for _ in range(n_micro)]
    batch_appends(chain, out)
    out.append(chain.rollback(rollback_depth))
    return out


def tail_file(chain: Chain, n_micro: int, micro_txs: int, rollback_depth: int) -> list[dict]:
    """A further delivery at the tip: a key block (squashing the microblocks
    the previous delivery left), ``n_micro`` microblocks of ``micro_txs``
    txs and a rollback of ``rollback_depth`` blocks into them."""
    out = [chain.key_block(micro_txs)] + [chain.microblock(micro_txs) for _ in range(n_micro)]
    batch_appends(chain, out)
    out.append(chain.rollback(rollback_depth))
    return out


def write_file(path: str, updates: list[dict], mtime: float | None = None) -> int:
    """Write one delivery atomically (temp name, then rename into place) and
    return its size in bytes.  The temp name starts with ``.`` so Spark's
    file source ignores it."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    data = "".join(json.dumps(u, separators=(",", ":")) + "\n" for u in updates)
    with open(tmp, "w") as f:
        f.write(data)
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.replace(tmp, path)
    return len(data)


def n_txs(updates: list[dict]) -> int:
    return sum(len(u["transactions"]) for u in updates)
