"""catalog.load's relation cache must never serve a relation whose files
changed on disk, whatever the size of the dataset directory."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from reconciliation_hive_data_spark import catalog


def test_rewrite_of_any_part_file_invalidates_cached_relation(spark, tmp_path):
    table = tmp_path / "orders.parquet"
    table.mkdir()
    for i in range(70):
        pq.write_table(pa.table({"o_orderkey": [i]}), table / f"part-{i:05d}.parquet")
    first = catalog.load(spark, str(tmp_path), "orders")
    assert catalog.load(spark, str(tmp_path), "orders") is first
    assert first.count() == 70

    # rewrite the LAST part file in place: the dir entry list is unchanged
    pq.write_table(pa.table({"o_orderkey": [69, 70, 71]}), table / "part-00069.parquet")
    second = catalog.load(spark, str(tmp_path), "orders")
    assert second is not first
    assert second.count() == 72
