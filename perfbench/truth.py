"""Independent truth for the reconciliation workloads: DuckDB SQL over the
written parquet files.

``summary_counts`` transliterates each of ``ReconPair.summary()``'s six
checks in plain SQL, check by check (no fused plan), following the
engine's documented semantics: NULL keys never equi-join, so each side's
NULL-key group is missing on the other side; duplicate target keys are
resolved to the copy with the smallest canonical row hash for cell
compares; doubles compare within the tolerance, NULL-safely.
"""

from __future__ import annotations

import duckdb

from reconciliation_hive_data_spark.canonical import canonical_row_hash_sql

from .gen import CHECKS, COMPARE, KEYS


def _cell_terms(tolerance: float) -> str:
    terms = []
    for col, kind in COMPARE.items():
        if kind == "double" and tolerance > 0:
            terms.append(
                f"CASE WHEN (s.{col} IS NULL) <> (t.{col} IS NULL)"
                f" OR (s.{col} IS DISTINCT FROM t.{col}"
                f" AND ABS(s.{col} - t.{col}) > {tolerance!r}) THEN 1 ELSE 0 END"
            )
        else:
            terms.append(f"CASE WHEN s.{col} IS DISTINCT FROM t.{col} THEN 1 ELSE 0 END")
    return " + ".join(terms)


def _fingerprint_metrics() -> list[str]:
    out = ["CAST(COUNT(*) AS DOUBLE)"]
    for col, kind in COMPARE.items():
        out.append(f"CAST(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS DOUBLE)")
        out.append(f"CAST(COUNT(DISTINCT {col}) AS DOUBLE)")
        if kind in ("int", "double"):
            out.append(f"CAST(SUM(CAST({col} AS DECIMAL(18,6))) AS DOUBLE)")
            out.append(f"CAST(MIN({col}) AS DOUBLE)")
            out.append(f"CAST(MAX({col}) AS DOUBLE)")
    return out


def summary_sql(src: str, tgt: str, tolerance: float) -> str:
    (k,) = KEYS
    h = canonical_row_hash_sql([(k, "int"), *COMPARE.items()])
    metrics = _fingerprint_metrics()
    fp_select = ", ".join(f"{m} AS m{i}" for i, m in enumerate(metrics))
    fp_diff = " + ".join(
        f"(CASE WHEN (s.m{i} IS NULL) <> (t.m{i} IS NULL) THEN 1"
        f" WHEN ABS(s.m{i} - t.m{i}) >= 1e-9 THEN 1 ELSE 0 END)"
        for i in range(len(metrics))
    )
    return f"""
WITH s AS (SELECT * FROM read_parquet('{src}')),
     t AS (SELECT * FROM read_parquet('{tgt}')),
t_surv AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY {k} ORDER BY {h}) AS rn FROM t
  ) WHERE rn = 1
),
sh AS (SELECT {k}, {h} AS h FROM s),
th AS (SELECT DISTINCT {k}, {h} AS h FROM t),
sfp AS (SELECT {fp_select} FROM s),
tfp AS (SELECT {fp_select} FROM t)
SELECT
  (SELECT CASE WHEN (SELECT COUNT(*) FROM s) = (SELECT COUNT(*) FROM t)
               THEN 0 ELSE 1 END) AS count_diff_grains,
  (SELECT COUNT(*) FROM (SELECT DISTINCT {k} FROM s) a
     WHERE NOT EXISTS (SELECT 1 FROM t WHERE t.{k} = a.{k}))
  + (SELECT COUNT(*) FROM (SELECT DISTINCT {k} FROM t) a
     WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.{k} = a.{k})) AS keys_missing,
  (SELECT COUNT(*) FROM (SELECT {k} FROM s GROUP BY {k} HAVING COUNT(*) > 1))
  + (SELECT COUNT(*) FROM (SELECT {k} FROM t GROUP BY {k} HAVING COUNT(*) > 1))
    AS duplicate_keys,
  (SELECT COUNT(*) FROM sh JOIN th ON sh.{k} = th.{k} WHERE sh.h <> th.h)
    AS row_hash_diffs,
  (SELECT COALESCE(SUM({_cell_terms(tolerance)}), 0)
     FROM s JOIN t_surv t ON s.{k} = t.{k}) AS cell_diffs,
  (SELECT {fp_diff} FROM sfp s CROSS JOIN tfp t) AS fingerprint_diffs
"""


def summary_counts(
    con: duckdb.DuckDBPyConnection, src: str, tgt: str, tolerance: float
) -> dict[str, int]:
    row = con.execute(summary_sql(src, tgt, tolerance)).fetchone()
    return {check: int(v) for check, v in zip(CHECKS, row)}


def cross_check(truth: dict[str, int], book: dict[str, int]) -> list[str]:
    """Checks where the DuckDB truth and the generator's bookkeeping
    disagree (the bookkeeping does not model ``fingerprint_diffs``)."""
    return [
        f"{c}: duckdb={truth[c]} generator={book[c]}" for c in book if truth[c] != book[c]
    ]
