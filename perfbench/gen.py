"""Seeded input generator for the benchmark.

Every input is written from this one process with numpy/pyarrow; the
program under test only ever sees the parquet files. Each reconciliation
pair comes with the generator's own bookkeeping of the faults it injected,
which :mod:`perfbench.truth` cross-checks against an independent DuckDB
count over the written files.

Pair schema (``KEYS`` + ``COMPARE``): an int64 key, an int, two strings, a
money-class double (exactly two decimals, so both engines serialize it the
same way) and a whole-second timestamp.

Faults injected into the target, on disjoint key sets:

- keys missing from the target, and new keys missing from the source;
- duplicate target keys: one divergent extra copy each, plus a handful of
  hot keys with hundreds of divergent copies;
- ``c_dbl`` drift beyond ``TOLERANCE`` and drift within it;
- NULL flips of ``c_str`` or ``c_dbl``;
- NULL keys on both sides (several rows each, so each side's NULL group is
  also a duplicate key group).
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

KEYS = ["k"]
COMPARE = {
    "c_int": "int",
    "c_str": "string",
    "c_dbl": "double",
    "c_ts": "ts",
    "c_cat": "string",
}
TOLERANCE = 0.5
#: the six checks of ``ReconPair.summary()``, in report order
CHECKS = (
    "count_diff_grains",
    "keys_missing",
    "duplicate_keys",
    "row_hash_diffs",
    "cell_diffs",
    "fingerprint_diffs",
)

_TS0 = 1_704_067_200  # 2024-01-01 00:00:00 UTC
_WORDS = np.array([f"w{i:04d}" for i in range(2000)], dtype=object)
_CATS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], dtype=object)


@dataclass(frozen=True)
class Faults:
    """Fault mix: each fault class covers about ``rate`` of the source rows
    (binomially drawn, at least one row), plus ``hot_keys`` keys with
    ``hot_copies`` copies each and ``null_keys`` NULL-key rows per side."""

    rate: float
    hot_keys: int = 0
    hot_copies: int = 0
    null_keys: int = 3


@dataclass
class Pair:
    src: str
    tgt: str
    src_rows: int
    tgt_rows: int
    #: expected counts the generator knows from what it injected
    book: dict[str, int]


def _strings(words: np.ndarray, idx: np.ndarray) -> pa.Array:
    dictionary = pa.array(words, pa.string())
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), dictionary).cast(pa.string())


def _canon_text(k, c_int, c_str, cents, ts, c_cat) -> str:
    """Python twin of the canonical row serialization the engine hashes
    (``canonical.canonical_row_text`` over ``KEYS`` + ``COMPARE``)."""
    null = "␀"
    dbl = null if cents is None else f"{cents // 100}.{cents % 100:02d}0000"
    tss = np.datetime64(int(ts), "s").astype(str).replace("T", " ")
    parts = [str(k), str(c_int), null if c_str is None else c_str, dbl, tss, c_cat]
    return "␟".join(parts)


def make_pair(rng: np.random.Generator, rows: int, faults: Faults, out_dir: str) -> Pair:
    """Write ``src.parquet`` and ``tgt.parquet`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    keys = np.arange(rows, dtype=np.int64)
    c_int = rng.integers(0, 100_000, rows)
    c_str = rng.integers(0, len(_WORDS), rows)
    cents = rng.integers(0, 10_000_000, rows)  # < 100000.00
    ts = _TS0 + rng.integers(0, 365 * 86400, rows)
    c_cat = rng.integers(0, len(_CATS), rows)

    # fault class sizes are drawn too, so the truth differs between seeds
    sizes = np.maximum(rng.binomial(rows, faults.rate, 7), 1)
    n_new = int(sizes[6])
    perm = rng.permutation(rows)
    cuts = np.cumsum([*sizes[:6], faults.hot_keys])
    miss_t, beyond, within, null_str, null_dbl, dup, hot = np.split(perm[: cuts[-1]], cuts[:-1])

    # --- target: start from the source, then perturb -------------------
    t_cents = cents.copy()
    for idx, lo, hi in ((beyond, 100, 5000), (within, 1, 50)):
        # drift downwards only where it cannot cross zero
        sign = np.where(cents[idx] >= 5000, rng.choice([-1, 1], len(idx)), 1)
        t_cents[idx] += sign * rng.integers(lo, hi, len(idx))
    keep = np.ones(rows, bool)
    keep[miss_t] = False

    # divergent extra copies: same row, c_int shifted by the copy number
    extra_idx = np.concatenate([dup, np.repeat(hot, max(faults.hot_copies - 1, 0))])
    extra_shift = np.concatenate(
        [np.ones(len(dup), np.int64), np.tile(np.arange(1, max(faults.hot_copies, 1)), len(hot))]
    )

    new_keys = np.arange(rows, rows + n_new, dtype=np.int64)

    def block(idx, key_vals, int_vals, dbl_cents, str_null=None, dbl_null=None):
        c_strs = _strings(_WORDS, c_str[idx])
        return {
            "k": pa.array(key_vals, pa.int64()),
            "c_int": pa.array(int_vals, pa.int64()),
            "c_str": c_strs if str_null is None else pc.if_else(
                pa.array(str_null), pa.nulls(len(idx), pa.string()), c_strs
            ),
            "c_dbl": pa.array(dbl_cents / 100.0, pa.float64(), mask=dbl_null),
            "c_ts": pa.array(ts[idx] * 1_000_000, pa.timestamp("us")),
            "c_cat": _strings(_CATS, c_cat[idx]),
        }

    base = np.flatnonzero(keep)
    str_null = np.isin(base, null_str)
    dbl_null = np.isin(base, null_dbl)
    fresh = rng.integers(0, rows, n_new)  # values borrowed from random rows
    tgt_blocks = [
        block(base, keys[base], c_int[base], t_cents[base], str_null, dbl_null),
        block(extra_idx, keys[extra_idx], c_int[extra_idx] + extra_shift, t_cents[extra_idx]),
        block(fresh, new_keys, c_int[fresh], cents[fresh]),
    ]
    src_blocks = [block(keys, keys, c_int, cents)]
    # NULL keys: each side gets its own few rows
    for blocks in (src_blocks, tgt_blocks):
        idx = rng.integers(0, rows, faults.null_keys)
        blocks.append(block(idx, pa.nulls(len(idx), pa.int64()), c_int[idx], cents[idx]))

    src = _shuffled(rng, src_blocks)
    tgt = _shuffled(rng, tgt_blocks)
    src_path, tgt_path = os.path.join(out_dir, "src.parquet"), os.path.join(out_dir, "tgt.parquet")
    pq.write_table(src, src_path)
    pq.write_table(tgt, tgt_path)

    # --- bookkeeping ----------------------------------------------------
    null_groups = int(faults.null_keys > 0)
    dup_null_groups = int(faults.null_keys > 1)
    cell = len(beyond) + len(null_str) + len(null_dbl)
    rowhash = len(beyond) + len(within) + len(null_str) + len(null_dbl)
    # duplicated keys: every divergent copy is one more distinct target
    # hash; the cell diffs are those of the min-hash survivor (1 when it is
    # a shifted copy, whose c_int alone differs, else 0)
    for key, copies in [(k, 2) for k in dup] + [(k, faults.hot_copies) for k in hot]:
        rowhash += copies - 1
        texts = [
            _canon_text(key, c_int[key] + j, _WORDS[c_str[key]], int(cents[key]), ts[key],
                        _CATS[c_cat[key]])
            for j in range(copies)
        ]
        hashes = [hashlib.md5(t.encode()).hexdigest() for t in texts]
        cell += int(hashes.index(min(hashes)) != 0)
    book = {
        "count_diff_grains": int(src.num_rows != tgt.num_rows),
        "keys_missing": len(miss_t) + n_new + 2 * null_groups,
        "duplicate_keys": len(dup) + len(hot) + 2 * dup_null_groups,
        "row_hash_diffs": rowhash,
        "cell_diffs": cell,
    }
    return Pair(src_path, tgt_path, src.num_rows, tgt.num_rows, book)


def _shuffled(rng: np.random.Generator, blocks: list[dict]) -> pa.Table:
    table = pa.concat_tables([pa.table(b) for b in blocks])
    return table.take(pa.array(rng.permutation(table.num_rows)))


# --- fixture tables for the registry sweep ---------------------------------

_DAY = 86400


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> pa.Array:
    a = np.datetime64(lo, "s").astype(np.int64)
    b = np.datetime64(hi, "s").astype(np.int64)
    secs = a + rng.integers(0, (b - a) // _DAY, n) * _DAY
    return pa.array(secs * 1_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo_cents: int, hi_cents: int, n: int) -> pa.Array:
    return pa.array(rng.integers(lo_cents, hi_cents, n) / 100.0, pa.float64())


def _pick(rng: np.random.Generator, words: list[str], n: int) -> pa.Array:
    return _strings(np.array(words, dtype=object), rng.integers(0, len(words), n))


def make_fixture(rng: np.random.Generator, out_dir: str, orders: int) -> dict[str, int]:
    """Write the TPC-H-like tables the swept queries read (``orders``,
    ``lineitem``, ``customer``, ``events``) as single parquet files named
    like the engine's fixture directories, with the value domains those
    fixtures document. Returns the row count of each table."""
    os.makedirs(out_dir, exist_ok=True)
    customers = max(10, orders // 10)
    lines_per = rng.integers(0, 8, orders)  # some orders have no lines
    l_orderkey = np.repeat(np.arange(orders, dtype=np.int64), lines_per)
    l_linenumber = np.concatenate([np.arange(1, c + 1) for c in lines_per]).astype(np.int32)
    n_lines = len(l_orderkey)
    n_events = max(100, orders * 2 // 3)
    ev_secs = np.sort(rng.integers(0, 29 * _DAY, n_events)) + _TS0
    ev_us = ev_secs * 1_000_000 + rng.integers(0, 1_000_000, n_events)
    users = np.minimum(rng.zipf(1.3, n_events) - 1, customers - 1)
    tables = {
        "orders": {
            "o_orderkey": pa.array(np.arange(orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, customers, orders), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], orders),
            "o_totalprice": _money(rng, 100_000, 50_000_000, orders),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", orders),
            "o_orderpriority": _pick(
                rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], orders
            ),
        },
        "lineitem": {
            "l_orderkey": pa.array(l_orderkey),
            "l_partkey": pa.array(rng.integers(0, 200, n_lines), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 10, n_lines), pa.int64()),
            "l_linenumber": pa.array(l_linenumber),
            "l_quantity": pa.array(rng.integers(1, 51, n_lines).astype(np.float64)),
            "l_extendedprice": _money(rng, 90_000, 10_500_000, n_lines),
            "l_discount": _money(rng, 0, 11, n_lines),
            "l_tax": _money(rng, 0, 9, n_lines),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_lines),
            "l_linestatus": _pick(rng, ["F", "O"], n_lines),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_lines),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(customers, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(customers)]),
            "c_nationkey": pa.array(rng.integers(0, 25, customers), pa.int32()),
            "c_acctbal": _money(rng, -99_999, 1_000_000, customers),
            "c_mktsegment": _pick(rng, list(_CATS), customers),
        },
        "events": {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ev_us, pa.timestamp("us")),
            "user_id": pa.array(users, pa.int64()),
            "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_events),
            "value": _money(rng, 0, 50_000, n_events),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        },
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
    return {name: len(next(iter(cols.values()))) for name, cols in tables.items()}
