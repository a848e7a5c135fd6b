"""Deterministic synthetic change-log generator + independent oracle.

This is the engine's analog of the reference's mocked source + golden
fixtures (``tests/bitcoinetl/job/mock_bitcoin_rpc.py:26-62`` serving canned
RPC responses, compared order-insensitively by ``tests/helpers.py:30-46``):
a seed-fixed generator emits a totally-ordered change log, and a pure
pandas replay computes the expected final table state the Spark engine
must reproduce.

Scenario axes mirror the reference's edge-case fixture dirs
(``tests/resources/test_export_blocks_job/*`` — FIXTURES.md §4):
duplicate key in one batch (BCH duplicate-txid analog), replayed epoch
(at-least-once retry analog, ``streamer.py:76-86``), reorg rollback
(``--lag`` / partition drop+refill analog), withheld epoch + patch
(missing-block detect/patch analog), additive schema evolution
(Zcash/multi-chain field variance analog), bad rows (Dogecoin
precision-loss class), Zipf hot keys (north_rule skew requirement).

Everything is numpy-vectorized; no randomness outside ``seed``.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass, field

import numpy as np
import pandas as pd

TOKEN_VOCAB_SIZE = 50_257
SOURCES = ["btc", "ltc", "dash", "zec", "doge", "bch"]
BASE_TS = pd.Timestamp("2024-01-01T00:00:00", tz="UTC")


@dataclass
class ChangeLogSpec:
    n_epochs: int = 10
    events_per_epoch: int = 1_000
    n_keys: int = 2_000
    seed: int = 42
    update_frac: float = 0.30          # P(U | key already seen)
    delete_frac: float = 0.05          # P(D | key already seen)
    dup_in_batch_frac: float = 0.0     # extra same-key events within an epoch
    zipf_a: float | None = None        # None = uniform key draw; else Zipf skew
    min_tok: int = 8
    max_tok: int = 32
    blocks_per_epoch: int = 10
    evolution_epoch: int | None = None  # epochs >= this carry `source_meta`
    bad_row_frac: float = 0.0           # corrupt I/U rows (to be quarantined)
    reorgs: list[tuple[int, int]] = field(default_factory=list)
    # reorgs: (epoch, depth) — at start of `epoch`, roll back the last
    # `depth` blocks: D compensation events + replacement I images.
    replay_epochs: list[int] = field(default_factory=list)
    # epochs whose files are duplicated on disk (source-level retry).
    withhold_epochs: list[int] = field(default_factory=list)
    # epochs written to `patches/` instead of `changes/` (gap + patch-by-replay).


class _GenState:
    """Cross-epoch bookkeeping (vectorized; one slot per key)."""

    def __init__(self, spec: ChangeLogSpec):
        self.seen = np.zeros(spec.n_keys, dtype=bool)
        self.alive = np.zeros(spec.n_keys, dtype=bool)
        self.last_block = np.full(spec.n_keys, -1, dtype=np.int64)
        self.next_seq = 0
        self.next_block = 0


def _doc_ids(idx: np.ndarray) -> np.ndarray:
    return np.char.add("doc_", np.char.zfill(idx.astype(str), 12))


def _make_tokens(rng: np.random.Generator, n: int, spec: ChangeLogSpec):
    lens = rng.integers(spec.min_tok, spec.max_tok + 1, size=n)
    flat = rng.integers(0, TOKEN_VOCAB_SIZE, size=int(lens.sum()), dtype=np.int32)
    offs = np.concatenate([[0], np.cumsum(lens)])
    toks = [flat[offs[i]: offs[i + 1]] for i in range(n)]
    return toks, lens.astype("int32")


def _epoch_frame(spec: ChangeLogSpec, epoch: int, st: _GenState) -> pd.DataFrame:
    rng = np.random.default_rng(spec.seed * 1_000_003 + epoch)
    rows: list[pd.DataFrame] = []

    # --- reorg compensation first (rollback = D + reinsert I, SURVEY §2.8 C4/C5)
    for (at_epoch, depth) in spec.reorgs:
        if at_epoch != epoch:
            continue
        lo = max(0, st.next_block - depth)
        affected = np.flatnonzero(st.alive & (st.last_block >= lo))
        if affected.size:
            n = affected.size
            d = pd.DataFrame(
                {
                    "op": "D",
                    "key_idx": affected,
                    "block": st.last_block[affected],
                    "reorg_of": st.last_block[affected],
                }
            )
            st.alive[affected] = False
            keep = rng.random(n) < 0.7  # replacement images on the new chain
            re_idx = affected[keep]
            r = pd.DataFrame(
                {
                    "op": "I",
                    "key_idx": re_idx,
                    "block": st.next_block,
                    "reorg_of": -1,
                }
            )
            rows.extend([d, r])

    # --- regular traffic
    n = spec.events_per_epoch
    if spec.zipf_a is not None:
        raw = rng.zipf(spec.zipf_a, size=n)
        key_idx = (raw - 1) % spec.n_keys
    else:
        key_idx = rng.integers(0, spec.n_keys, size=n)
    seen = st.seen[key_idx]
    u = rng.random(n)
    op = np.where(~seen, "I", np.where(u < spec.delete_frac, "D",
                  np.where(u < spec.delete_frac + spec.update_frac, "U", "U")))
    # a seen key gets U unless deleted; an unseen key always gets I
    blocks = st.next_block + rng.integers(0, spec.blocks_per_epoch, size=n)
    main = pd.DataFrame({"op": op, "key_idx": key_idx, "block": blocks, "reorg_of": -1})
    rows.append(main)

    # --- duplicate-key-in-batch extras (BCH duplicate-txid analog)
    if spec.dup_in_batch_frac > 0:
        k = int(n * spec.dup_in_batch_frac)
        if k:
            pick = rng.choice(n, size=k, replace=False)
            dup = pd.DataFrame(
                {
                    "op": "U",
                    "key_idx": key_idx[pick],
                    "block": st.next_block + spec.blocks_per_epoch - 1,
                    "reorg_of": -1,
                }
            )
            rows.append(dup)

    df = pd.concat(rows, ignore_index=True)

    # deletes only make sense for live keys; flip dead-key D back to I
    kidx = df["key_idx"].to_numpy()
    is_d = (df["op"] == "D").to_numpy()
    dead = ~st.alive[kidx]
    df.loc[is_d & dead & (df["reorg_of"].to_numpy() < 0), "op"] = "I"

    # assign seq in frame order (total order within the epoch)
    m = len(df)
    df["seq"] = np.arange(st.next_seq, st.next_seq + m, dtype=np.int64)
    st.next_seq += m
    df["epoch"] = np.int64(epoch)

    # payloads for I/U
    iu = (df["op"] != "D").to_numpy()
    toks, lens = _make_tokens(rng, int(iu.sum()), spec)
    tokens_col: list = [None] * m
    ntok_col = np.full(m, -1, dtype=np.int64)
    for slot, (pos, t) in enumerate(zip(np.flatnonzero(iu), toks)):
        tokens_col[pos] = t
        ntok_col[pos] = lens[slot]
    df["tokens"] = tokens_col
    df["n_tok"] = pd.array([int(x) if x >= 0 else None for x in ntok_col], dtype="Int32")
    df["source"] = np.array(SOURCES)[df["key_idx"].to_numpy() % len(SOURCES)]
    df["doc_id"] = _doc_ids(df["key_idx"].to_numpy())
    df["ingest_ts"] = BASE_TS + pd.to_timedelta(df["seq"].to_numpy(), unit="s")
    df["reorg_of"] = pd.array(
        [int(b) if b >= 0 else None for b in df["reorg_of"].to_numpy()], dtype="Int64"
    )

    # --- schema evolution: later epochs carry source_meta (nullable)
    if spec.evolution_epoch is not None and epoch >= spec.evolution_epoch:
        df["source_meta"] = np.where(
            iu, np.char.add("meta_", df["block"].to_numpy().astype(str)), None
        )

    # --- bad rows: corrupt a fraction of I/U rows (engine must quarantine)
    if spec.bad_row_frac > 0:
        iu_pos = np.flatnonzero(iu)
        k = int(len(iu_pos) * spec.bad_row_frac)
        if k:
            bad = rng.choice(iu_pos, size=k, replace=False)
            kinds = rng.integers(0, 3, size=k)
            for pos, kind in zip(bad, kinds):
                if kind == 0:   # n_tok mismatch
                    df.at[pos, "n_tok"] = int(df.at[pos, "n_tok"]) + 1
                elif kind == 1:  # token out of vocab range
                    t = df.at[pos, "tokens"].copy()
                    t[0] = TOKEN_VOCAB_SIZE + 17
                    df.at[pos, "tokens"] = t
                else:           # null tokens on I/U
                    df.at[pos, "tokens"] = None

    # --- state update (in seq order; last event wins)
    ordered = df.sort_values("seq")
    kk = ordered["key_idx"].to_numpy()
    oo = ordered["op"].to_numpy()
    bb = ordered["block"].to_numpy()
    st.seen[kk] = True
    # last write per key decides alive + last_block
    last = ordered.drop_duplicates("key_idx", keep="last")
    lk = last["key_idx"].to_numpy()
    st.alive[lk] = last["op"].to_numpy() != "D"
    st.last_block[lk] = last["block"].to_numpy()
    del kk, oo, bb
    st.next_block += spec.blocks_per_epoch

    cols = ["seq", "epoch", "op", "doc_id", "tokens", "n_tok", "source",
            "block", "reorg_of", "ingest_ts"]
    if "source_meta" in df.columns:
        cols.append("source_meta")
    return df[cols].sort_values("seq").reset_index(drop=True)


def is_valid_event(df: pd.DataFrame) -> np.ndarray:
    """Validity mask in plain pandas/numpy — the rule the engine applies as
    one Catalyst expression (``operators.validate.tokens_valid_expr``).

    D events carry no payload and are always valid; I/U must have tokens,
    n_tok == len(tokens), and all tokens in [0, vocab).
    """
    op_d = (df["op"] == "D").to_numpy()
    toks = df["tokens"]
    has = toks.notna().to_numpy()
    ok = np.zeros(len(df), dtype=bool)
    for i in np.flatnonzero(has):
        t = toks.iat[i]
        n = df["n_tok"].iat[i]
        ok[i] = (
            n is not None
            and not pd.isna(n)
            and int(n) == len(t)
            and (len(t) == 0 or (np.min(t) >= 0 and np.max(t) < TOKEN_VOCAB_SIZE))
        )
    return op_d | ok


def compute_oracle(frames: list[pd.DataFrame]) -> pd.DataFrame:
    """Pure replay: dedup seq (retry analog), drop invalid rows
    (quarantine), last I/U image per doc_id wins, D removes the key.
    Independent of the engine — pandas only (FIXTURES.md §3).
    """
    df = pd.concat(frames, ignore_index=True)
    df = df.drop_duplicates("seq", keep="first")
    df = df[is_valid_event(df)]
    df = df.sort_values("seq").drop_duplicates("doc_id", keep="last")
    df = df[df["op"] != "D"]
    cols = ["doc_id", "tokens", "n_tok", "source"]
    if "source_meta" in df.columns:
        cols.append("source_meta")
    return df[cols].sort_values("doc_id").reset_index(drop=True)


def generate_scenario(out_dir: str, spec: ChangeLogSpec, *, oracle: bool = True) -> dict:
    """Write `changes/epoch=K/part-*.parquet` (+ `patches/` for withheld
    epochs), `expected_docs.parquet`, `manifest.json`. Returns manifest.
    """
    os.makedirs(out_dir, exist_ok=True)
    st = _GenState(spec)
    frames: list[pd.DataFrame] = []
    counts: dict[str, int] = {}
    for epoch in range(spec.n_epochs):
        df = _epoch_frame(spec, epoch, st)
        sub = "patches" if epoch in spec.withhold_epochs else "changes"
        d = os.path.join(out_dir, sub, f"epoch={epoch}")
        os.makedirs(d, exist_ok=True)
        out = df.drop(columns=["epoch"])
        # µs timestamps: Spark's parquet reader rejects pandas' default ns.
        # Chunked files + small row groups keep the source SPLITTABLE so
        # scan parallelism scales with cores (a single giant row group
        # pins an epoch to one task — the anti-pattern a real sharded
        # change log never has).
        kw = {"index": False, "coerce_timestamps": "us",
              "allow_truncated_timestamps": True, "row_group_size": 65_536}
        chunk = 250_000
        for ci in range(0, max(len(out), 1), chunk):
            out.iloc[ci: ci + chunk].to_parquet(
                os.path.join(d, f"part-{ci // chunk:05d}.parquet"), **kw
            )
        if epoch in spec.replay_epochs:  # duplicated file = replayed delivery
            out.to_parquet(os.path.join(d, "part-replay.parquet"), **kw)
        frames.append(df)
        counts[str(epoch)] = len(df)

    manifest = {
        "spec": asdict(spec),
        "events_per_epoch": counts,
        "total_events": int(sum(counts.values())),
        "n_blocks": int(st.next_block),
    }
    if oracle:
        exp = compute_oracle(frames)
        exp.to_parquet(os.path.join(out_dir, "expected_docs.parquet"), index=False)
        manifest["expected_rows"] = int(len(exp))
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=2, default=str)
    return manifest
