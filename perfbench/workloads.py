"""The benchmark's workloads. Each one writes its seeded inputs, warms the
session up, hands out one op at a time to a closed loop with a single
client, and checks every op's output against its truth.

- ``recon_partitions``: the ``recon`` CLI, called in-process through
  ``__main__.main``, on a fresh small partition pair per call, writing the
  summary report with ``--report`` — an operator's hourly check after each
  load. Fixed-cost-bound.
- ``registry_sweep``: one op is a pass over a fixed set of registered
  queries, each built by ``fn(spark, sf_dir)`` and materialized with a
  ``noop`` write. The only workload that reaches the registry, the
  catalog's relation cache, artifacts, streaming and the UDF boundary.
"""

from __future__ import annotations

import contextlib
import io
import os
import time
from collections.abc import Callable
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow.parquet as pq

from . import gen, truth

#: ``span(name, kind="")`` context-manager factory; a no-op when untraced
Span = Callable[..., contextlib.AbstractContextManager]


@contextlib.contextmanager
def no_span(name: str, kind: str = ""):
    yield


@dataclass
class Op:
    index: int
    name: str
    #: source + target (or fixture) rows the op reads
    rows: int
    run: Callable[[Span], object]


@dataclass
class _Truth:
    """DuckDB truth of one pair, cross-checked against the generator."""

    counts: dict[str, int]
    problems: list[str]

    @classmethod
    def of(cls, pair: gen.Pair) -> _Truth:
        con = duckdb.connect()
        try:
            counts = truth.summary_counts(con, pair.src, pair.tgt, gen.TOLERANCE)
        finally:
            con.close()
        return cls(counts, truth.cross_check(counts, pair.book))


class ReconPartitions:
    name = "recon_partitions"
    rows = 20_000
    faults = gen.Faults(rate=0.01, hot_keys=2, hot_copies=100)
    #: a cold first op takes ~4x a warm one; the next few still run
    #: 1.2-1.4x slower while the JVM compiles the planner's hot paths
    warmup_pairs = 4
    min_ops = 4
    touches_metastore = False

    def __init__(self, work: str, tolerance: float = gen.TOLERANCE) -> None:
        self.work = work
        self.tolerance = tolerance
        self.truths: dict[int, _Truth] = {}

    def prepare(self, rng: np.random.Generator, seconds: int) -> None:
        # one fresh pair per measured second: today's ops take ~2 s, so a
        # loop twice as fast still never reads a pair twice
        n = self.warmup_pairs + max(8, seconds)
        self.pairs = [
            gen.make_pair(rng, self.rows, self.faults, os.path.join(self.work, f"part{i:03d}"))
            for i in range(n)
        ]

    def _cli(self, pair_index: int, report: str, span: Span) -> tuple[int, int, str]:
        from reconciliation_hive_data_spark.__main__ import main

        pair = self.pairs[pair_index]
        argv = [
            "recon", "--source", pair.src, "--target", pair.tgt,
            "--keys", ",".join(gen.KEYS),
            "--compare", ",".join(f"{c}:{k}" for c, k in gen.COMPARE.items()),
            "--tolerance", repr(self.tolerance), "--report", report,
        ]
        with contextlib.redirect_stdout(io.StringIO()), span("cli.main"):
            rc = main(argv)
        return pair_index, rc, report

    def warmup(self, spark) -> float:
        t0 = time.perf_counter()
        for i in range(self.warmup_pairs):
            self._cli(i, os.path.join(self.work, "reports", f"warmup{i}"), no_span)
        return time.perf_counter() - t0

    def op(self, spark, index: int) -> Op:
        pair_index = self.warmup_pairs + index % (len(self.pairs) - self.warmup_pairs)
        pair = self.pairs[pair_index]
        report = os.path.join(self.work, "reports", f"op{index:04d}")
        return Op(index, f"partition{pair_index:03d}", pair.src_rows + pair.tgt_rows,
                  lambda span: self._cli(pair_index, report, span))

    def check(self, outputs: list[object]) -> list[bool]:
        """Each written report must equal the pair's truth, and the exit
        code must say DIFF (1) exactly when some check has violations."""
        ok = []
        for pair_index, rc, report in outputs:
            if pair_index not in self.truths:
                self.truths[pair_index] = _Truth.of(self.pairs[pair_index])
            t = self.truths[pair_index]
            got = {r["check"]: r["violations"] for r in pq.read_table(report).to_pylist()}
            ok.append(not t.problems and got == t.counts and rc == int(any(t.counts.values())))
        return ok

    def problems(self) -> list[str]:
        return [p for t in self.truths.values() for p in t.problems]


#: swept queries → (layer family, fixture tables read). One pass reaches
#: each layer the sweep exists for: the catalog's relation cache, the
#: recon_scale eager tier (recon_bucket_drill), artifacts
#: (recon_crossformat's ORC target), streaming, and the Python UDF worker
#: boundary (a pandas UDF and an applyInPandas UDTF).
SWEEP = {
    "recon_keys_missing": ("recon", ("orders",)),
    "recon_bucket_drill": ("recon", ("orders",)),
    "recon_crossformat": ("recon", ("orders",)),
    "s_tumbling": ("streaming", ("events",)),
    "udf_pandas": ("udfs", ("orders",)),
    "udtf_apply": ("udfs", ("events",)),
}


class RegistrySweep:
    name = "registry_sweep"
    #: fixture size, as the engine's sf0.001 fixtures
    orders = 1500
    min_ops = 2
    touches_metastore = True

    def __init__(self, work: str) -> None:
        self.work = work
        self.sf_dir = os.path.join(work, "sf")
        self.wrong: dict[str, list[str]] = {}

    def prepare(self, rng: np.random.Generator, seconds: int) -> None:
        self.table_rows = gen.make_fixture(rng, self.sf_dir, self.orders)

    def warmup(self, spark) -> float:
        """One pass that materializes every swept query with ``toPandas``
        and checks it against its DuckDB oracle (``tests/parity.py``), then
        one untimed op: the first pass after a cold one is still ~1.3x.
        Returns the seconds spent in Spark; the DuckDB side is excluded."""
        from reconciliation_hive_data_spark import registry
        from tests.parity import compare

        registry.load_all_modules()
        spent = 0.0
        for name in SWEEP:
            spec = registry.get(name)
            t0 = time.perf_counter()
            pdf = spec.fn(spark, self.sf_dir).toPandas()
            spent += time.perf_counter() - t0
            self.wrong[name] = compare(_Collected(pdf), spec.oracle, self.sf_dir, name)
        t0 = time.perf_counter()
        self.op(spark, -1).run(no_span)
        return spent + time.perf_counter() - t0

    def op(self, spark, index: int) -> Op:
        from reconciliation_hive_data_spark import registry

        def run(span: Span) -> None:
            for name, (kind, _) in SWEEP.items():
                with span("registry.build", kind):
                    df = registry.get(name).fn(spark, self.sf_dir)
                with span("registry.exec", kind):
                    df.write.format("noop").mode("overwrite").save()

        rows = sum(self.table_rows[t] for _, tables in SWEEP.values() for t in tables)
        return Op(index, "sweep", rows, run)

    def check(self, outputs: list[object]) -> list[bool]:
        """The swept queries were checked once, before timing; every pass
        is as correct as that check."""
        ok = bool(self.wrong) and not any(self.wrong.values())
        return [ok] * len(outputs)

    def problems(self) -> list[str]:
        return [p for probs in self.wrong.values() for p in probs]


class _Collected:
    """A collected result in the shape ``tests.parity.compare`` reads."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 - mirrors the DataFrame method
        return self._pdf


WORKLOADS = {w.name: w for w in (ReconPartitions, RegistrySweep)}
