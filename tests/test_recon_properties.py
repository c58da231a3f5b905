"""Metamorphic reconciliation properties (SURVEY.md §5.2).

1. Self-recon is clean: recon ops on (orders, orders) report zero diffs.
2. Injected-fault detection: the faulty target's fault counts are exact
   functions of key arithmetic — recon must report exactly those keys.
3. Fingerprint invariance: column fingerprints don't change under
   repartitioning (the distributed-correctness property that lets these
   run on 1000 executors).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from reconciliation_hive_data_spark.catalog import load
from reconciliation_hive_data_spark.plans import recon
from reconciliation_hive_data_spark.plans.api import orders_pair
from reconciliation_hive_data_spark.canonical import money_sum


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return load(spark, sf_dir, "orders").cache()


def expected_fault_keys(orders, residue: int) -> set[int]:
    return {
        r.o_orderkey
        for r in orders.filter(F.col("o_orderkey") % 1000 == residue)
        .select("o_orderkey")
        .collect()
    }


def test_self_recon_rowcount_clean(spark, sf_dir, orders):
    out = orders_pair(orders, orders).row_counts("o_orderstatus")
    assert out.count() > 0
    assert out.filter(F.col("diff") != 0).count() == 0
    assert out.filter(F.col("status") != "MATCH").count() == 0


def test_self_recon_rowhash_clean(spark, sf_dir, orders):
    assert orders_pair(orders, orders).row_hash_diff().count() == 0


def test_injected_missing_keys_exact(spark, sf_dir, orders):
    out = recon.recon_keys_missing(spark, sf_dir)
    missing_t = {
        r.o_orderkey
        for r in out.filter("side = 'MISSING_IN_TARGET'").collect()
    }
    assert missing_t == expected_fault_keys(orders, 7)
    assert out.filter("side = 'MISSING_IN_SOURCE'").count() == 0


def test_injected_dup_keys_exact(spark, sf_dir, orders):
    out = recon.recon_keys_dup(spark, sf_dir)
    dup_keys = {r.o_orderkey for r in out.filter("side = 'target'").collect()}
    assert dup_keys == expected_fault_keys(orders, 21)
    assert out.filter("cnt != 2").count() == 0


def test_injected_value_drift_exact(spark, sf_dir, orders):
    out = recon.recon_tolerance(spark, sf_dir)
    drift_keys = {r.o_orderkey for r in out.collect()}
    assert drift_keys == expected_fault_keys(orders, 13)
    # drift is +1.0 exactly; well above eps=0.5, below 2.0
    assert out.filter(F.abs(F.col("abs_diff") - 1.0) > 1e-6).count() == 0


def test_injected_null_drift_detected(spark, sf_dir, orders):
    out = recon.recon_celldiff(spark, sf_dir)
    null_rows = out.filter("col_name = 'o_orderpriority'")
    assert {r.o_orderkey for r in null_rows.collect()} == expected_fault_keys(
        orders, 34
    )
    price_rows = out.filter("col_name = 'o_totalprice'")
    assert {r.o_orderkey for r in price_rows.collect()} == expected_fault_keys(
        orders, 13
    )


def test_fingerprint_partition_invariance(spark, sf_dir, orders):
    """The fingerprint of a table must not depend on how it is partitioned —
    the property that makes it valid on any cluster layout."""
    def fp(df):
        row = df.agg(
            F.count("*").alias("n"),
            money_sum("o_totalprice", "s"),
            F.countDistinct("o_custkey").alias("d"),
        ).collect()[0]
        return (row.n, row.s, row.d)

    base = fp(orders)
    assert fp(orders.repartition(17)) == base
    assert fp(orders.repartition(1)) == base
    assert fp(orders.repartition(64, "o_orderstatus")) == base


def test_scale_consistency(spark):
    """Counts respect the ×10 scale design (TESTDATA.md)."""
    a = load(spark, "/root/testdata/sf0.001", "orders").count()
    b = load(spark, "/root/testdata/sf0.01", "orders").count()
    assert b == 10 * a


def test_psi_sensitivity_on_known_drift(spark):
    """Pin the drift check's sensitivity with synthetic distributions:
    identical inputs must score every psi contribution exactly 0 (the
    smoothed fractions cancel), and an injected mean shift of half a
    bucket width on 40% of rows must push the PSI total past the 0.2
    alerting convention — so the monitor provably cannot alert on clean
    loads or sleep through a real shift."""
    from pyspark.sql import functions as F

    from reconciliation_hive_data_spark.plans.recon_scale import psi_frame

    base = spark.range(4000).select(
        (F.col("id") % 1000).cast("double").alias("v")
    )
    same = psi_frame(base, base, "v", 100.0, 9).collect()
    assert all(r.psi == 0.0 for r in same)

    shifted = spark.range(4000).select(
        F.when(F.col("id") % 5 < 2, (F.col("id") % 1000) + 500.0)
        .otherwise((F.col("id") % 1000).cast("double"))
        .alias("v")
    )
    drift = psi_frame(base, shifted, "v", 100.0, 9).collect()
    assert sum(r.psi for r in drift) > 0.2
