"""Seeded inputs for the benchmark.

The change stream follows the distribution of the engine's
``sources.changes.generate_changes`` defaults — the top 1% of keys carry 50% of
the events, 5% of events are delivered twice with the same ``lsn``, event time
runs one second per ``lsn`` with up to 900 s of backward jitter, 55/35/10
insert/update/delete — but it is drawn here with numpy. The engine therefore
sees only parquet files, and a change to the engine's generator cannot move the
benchmark's inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_TS_S = 1_704_067_200  # 2024-01-01T00:00:00Z
TURNS_PER_CONV = 50
HOT_FRAC = 0.01
HOT_MASS = 0.5
DUP_PCT = 5
OOO_SECONDS = 900
ROLES = np.array(["user", "assistant", "tool"], dtype=object)
EVENT_TYPES = np.array(["view", "click", "purchase", "login", "error"], dtype=object)


def conv_name(n: int) -> str:
    return f"conv_{n:06d}"


def change_table(
    rng: np.random.Generator, lsn0: int, n: int, n_conv: int, epoch: int, tool_args: bool
) -> pa.Table:
    """``n`` change events with lsns ``lsn0 .. lsn0+n-1`` plus their duplicate
    deliveries, in the engine's CHANGE shape (``tool_args`` added when asked)."""
    lsn = np.arange(lsn0, lsn0 + n, dtype=np.int64)
    n_hot = max(1, int(n_conv * HOT_FRAC))
    hot = rng.random(n) < HOT_MASS
    conv = np.where(hot, rng.integers(0, n_hot, n), n_hot + rng.integers(0, n_conv - n_hot, n))
    turn = rng.integers(0, TURNS_PER_CONV, n).astype(np.int32)
    opsel = rng.integers(0, 100, n)
    op = np.where(opsel < 55, "I", np.where(opsel < 90, "U", "D")).astype(object)
    live = op != "D"
    role = np.where(live, ROLES[turn % 3], None)
    is_tool = live & (turn % 3 == 2)
    tool_n = rng.integers(0, 12, n)
    tool = np.array([f"tool_{k}" if t else None for k, t in zip(tool_n, is_tool)], dtype=object)
    text = np.array(
        [f"msg conv={c} turn={t} lsn={s}" if v else None for c, t, s, v in zip(conv, turn, lsn, live)],
        dtype=object,
    )
    ts_us = (BASE_TS_S + lsn - rng.integers(0, OOO_SECONDS, n)) * 1_000_000
    cols = {
        "op": op,
        "conv_id": np.array([conv_name(c) for c in conv], dtype=object),
        "turn_idx": turn,
        "role": role,
        "text": text,
        "tool": tool,
        "ts": ts_us,
        "lsn": lsn,
        "epoch": np.full(n, epoch, dtype=np.int64),
    }
    if tool_args:
        cols["tool_args"] = np.array(
            [f'{{"arg": {s % 7}}}' if t else None for s, t in zip(lsn, is_tool)], dtype=object
        )
    dup = np.flatnonzero(rng.integers(0, 100, n) < DUP_PCT)
    order = np.concatenate([np.arange(n), dup])
    arrays = {k: v[order] for k, v in cols.items()}
    schema = [
        ("op", pa.string()),
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("lsn", pa.int64()),
        ("epoch", pa.int64()),
    ] + ([("tool_args", pa.string())] if tool_args else [])
    return pa.table({name: pa.array(arrays[name], type=typ) for name, typ in schema})


def write_change_files(
    rng: np.random.Generator,
    out_dir: str,
    n_files: int,
    events_per_file: int,
    n_conv: int,
    evolve_from: int | None = None,
) -> list[str]:
    """One parquet file per epoch, lsns contiguous across files."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for e in range(n_files):
        tab = change_table(
            rng, e * events_per_file, events_per_file, n_conv, e,
            tool_args=evolve_from is not None and e >= evolve_from,
        )
        p = os.path.join(out_dir, f"changes-{e:05d}.parquet")
        pq.write_table(tab, p)
        paths.append(p)
    return paths


def lookup_keys(
    rng: np.random.Generator, n_conv: int, n: int, tombstoned: list[str]
) -> list[tuple[str, str]]:
    """``n`` (kind, conv_id) probes cycling hot / cold / deleted / never-existing.

    "deleted" probes draw from ``tombstoned``, the conversations whose events
    are most often deletes; what each probe returns is decided by the oracle."""
    n_hot = max(1, int(n_conv * HOT_FRAC))
    kinds = ["hot", "cold", "deleted", "never"]
    out = []
    for i in range(n):
        kind = kinds[i % 4]
        if kind == "hot":
            conv = conv_name(int(rng.integers(0, n_hot)))
        elif kind == "cold":
            conv = conv_name(n_hot + int(rng.integers(0, n_conv - n_hot)))
        elif kind == "deleted":
            conv = tombstoned[int(rng.integers(0, len(tombstoned)))]
        else:
            conv = conv_name(n_conv + int(rng.integers(0, 10 * n_conv)))
        out.append((kind, conv))
    return out


EVENT_USERS = 150


def write_events_table(rng: np.random.Generator, out_dir: str, n: int) -> str:
    """The ``events`` table the CDC-tagged registry queries read (``user_id`` ≙
    key, ``event_id`` ≙ lsn, ``event_type='error'`` ≙ tombstone)."""
    os.makedirs(out_dir, exist_ok=True)
    ts_us = BASE_TS_S * 1_000_000 + np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    tab = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts_us, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, EVENT_USERS, n).astype(np.int64)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)], type=pa.string()),
            "value": pa.array(np.round(rng.random(n) * 50, 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], type=pa.string()),
        }
    )
    p = os.path.join(out_dir, "events.parquet")
    pq.write_table(tab, p)
    return p
