"""Query registry backing ``__spark_entry__``.

Every operator from SURVEY.md §2 registers itself here via the ``@query``
decorator: a name, a ``(spark, sf_dir) -> DataFrame`` callable, and (when the
semantics are ANSI-SQL-expressible) the DuckDB oracle SQL string the driver
runs side-by-side. Registration happens at import time; ``load_all_modules``
imports every operator module exactly once.

``ordered_names()`` orders the queries for an external correctness sweep
with a bounded budget. One rule queues a verified query for re-verification:
its ``ORACLE_SNAPSHOT.json`` entry is missing, or the entry's oracle hash or
code fingerprint differs from the current one.
"""

from __future__ import annotations

import glob
import hashlib
import importlib
import json
import os
import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from . import codehash

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL twin; None → driver's rows-only check
    doc: str


REGISTRY: dict[str, QuerySpec] = {}

_MODULES = (
    "reconciliation_hive_data_spark.plans.recon",
    "reconciliation_hive_data_spark.plans.api",
    "reconciliation_hive_data_spark.plans.llm",
    "reconciliation_hive_data_spark.streaming.stream_ops",
    "reconciliation_hive_data_spark.udfs",
    "reconciliation_hive_data_spark.functions.scalars",
    "reconciliation_hive_data_spark.sources.files",
    "reconciliation_hive_data_spark.operators.joins",
    "reconciliation_hive_data_spark.operators.aggregates",
    "reconciliation_hive_data_spark.operators.windows",
    "reconciliation_hive_data_spark.operators.filters",
    "reconciliation_hive_data_spark.operators.sortlimit",
    "reconciliation_hive_data_spark.operators.setops",
    "reconciliation_hive_data_spark.plans.lsh_variants",
    "reconciliation_hive_data_spark.plans.scale_ops",
    "reconciliation_hive_data_spark.plans.pipeline_ops",
    "reconciliation_hive_data_spark.plans.recon_scale",
    "reconciliation_hive_data_spark.plans.corpus_ops",
    "reconciliation_hive_data_spark.plans.tpch",
    "reconciliation_hive_data_spark.plans.sketches",
    "reconciliation_hive_data_spark.functions.modern",
    "reconciliation_hive_data_spark.sources.python_ds",
)

#: Per query, ``{"oracle": md5 | None, "code": md5, "round": N}``: the hashes
#: its latest external verification row (of round N) attested; maintained by
#: tools/update_oracle_snapshot.py. A query whose entry is missing or whose
#: current hashes differ from it is queued for re-verification. An entry
#: stamped for its query's latest row is never re-stamped, so running the
#: tool after an edit cannot bless the edit.
_SNAPSHOT_FILE = "ORACLE_SNAPSHOT.json"

_loaded = False


def oracle_hash(sql: str) -> str:
    return hashlib.md5(sql.encode("utf-8")).hexdigest()


def repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def read_snapshot() -> dict[str, dict]:
    try:
        with open(os.path.join(repo_root(), _SNAPSHOT_FILE)) as fh:
            return json.load(fh)
    except (OSError, json.JSONDecodeError):
        return {}


def write_snapshot(snapshot: dict[str, dict]) -> None:
    with open(os.path.join(repo_root(), _SNAPSHOT_FILE), "w") as fh:
        json.dump(snapshot, fh, indent=1, sort_keys=True)
        fh.write("\n")


def stamp(name: str, rnd: int) -> dict:
    """Snapshot entry attesting the query's current oracle and code."""
    spec = REGISTRY[name]
    oracle = None if spec.oracle is None else oracle_hash(spec.oracle)
    return {"oracle": oracle, "code": codehash.fingerprint(spec.fn), "round": rnd}


def stamped_round(snapshot: dict[str, dict], name: str) -> int | None:
    """Round the query's entry was stamped for; None when it has none."""
    entry = snapshot.get(name)
    return None if entry is None else entry["round"]


def changed(name: str, snapshot: dict[str, dict]) -> list[str]:
    """Which of ``code``/``oracle`` differ from what the query's snapshot
    entry attests. A missing entry counts as both; code whose source cannot
    be read counts as changed."""
    entry = snapshot.get(name)
    if entry is None:
        return ["code", "oracle"]
    now = stamp(name, entry["round"])
    stale = [k for k in ("code", "oracle") if entry[k] != now[k]]
    if now["code"] is None and "code" not in stale:
        stale.insert(0, "code")  # unreadable code is never attested
    return stale


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query registration: {name}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


def load_all_modules() -> None:
    global _loaded
    if _loaded:
        return
    for m in _MODULES:
        importlib.import_module(m)
    _loaded = True


def _verified_rounds() -> dict[str, int]:
    """Latest round in which each query received an external correctness row.

    Verification runs record per-query results in ``CORRECTNESS_r{N}.json`` at
    the repo root.  Reading them back lets the registry order queries
    least-recently-verified first, so a sweep with a bounded per-round budget
    round-robins over the whole surface instead of re-checking the same
    prefix: every query (including new and rewritten ones) is re-verified
    within ``ceil(len(registry) / budget)`` rounds.
    """
    root = repo_root()
    rounds: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, json.JSONDecodeError):
            continue
        for name in rows:
            rounds[name] = max(rounds.get(name, 0), rnd)
    return rounds


def ordered_names() -> list[str]:
    """Registry names, least-recently-externally-verified first.

    Never-verified queries sort first (in registration order), then queries
    ``changed()`` since their last verification row, then everything else
    by the round of its most recent row.
    """
    load_all_modules()
    rounds = _verified_rounds()
    snapshot = read_snapshot()
    reg_index = {n: i for i, n in enumerate(REGISTRY)}

    def key(n: str) -> tuple[int, int, int]:
        last = rounds.get(n)
        if last is None:
            return (0, 0, reg_index[n])
        if changed(n, snapshot):
            # among changed queries, the stalest row re-verifies first
            return (1, last, reg_index[n])
        return (2, last, reg_index[n])

    return sorted(REGISTRY, key=key)


def all_queries() -> dict[str, QueryFn]:
    load_all_modules()
    return {name: REGISTRY[name].fn for name in ordered_names()}


def all_oracles() -> dict[str, str]:
    load_all_modules()
    return {
        name: REGISTRY[name].oracle
        for name in ordered_names()
        if REGISTRY[name].oracle is not None
    }


def get(name: str) -> QuerySpec:
    load_all_modules()
    return REGISTRY[name]
