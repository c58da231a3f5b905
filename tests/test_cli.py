"""CLI smoke tests — run main() in-process (getOrCreate reuses the session
fixture's JVM, so these are cheap)."""

from __future__ import annotations

from reconciliation_hive_data_spark.__main__ import main


def test_cli_list(spark, capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "recon_order_totals" in out
    assert "x_dedup_near" in out


def test_cli_run(spark, sf_dir, capsys):
    assert main(["run", "agg_count", "--sf-dir", sf_dir, "--show", "5"]) == 0
    assert "MATCH" not in capsys.readouterr().err


def test_cli_run_unknown(spark, capsys):
    assert main(["run", "definitely_not_a_query"]) == 2


def test_cli_recon_clean_and_faulty(spark, sf_dir, capsys):
    src = f"{sf_dir}/orders.parquet"
    args = [
        "recon",
        "--source", src,
        "--target", src,
        "--keys", "o_orderkey",
        "--compare", "o_totalprice:double,o_orderstatus:string",
    ]
    assert main(args) == 0  # identical sides → all MATCH → exit 0
    out = capsys.readouterr().out
    assert out.count("MATCH") >= 6

    # key_diff check on an obviously different pair exits 0 (report mode)
    args_diff = [
        "recon",
        "--source", src,
        "--target", "/root/testdata/sf0.01/orders.parquet",
        "--keys", "o_orderkey",
        "--compare", "o_totalprice:double",
        "--check", "key_diff",
    ]
    assert main(args_diff) == 0


def test_cli_recon_faulty_report_exits_1(spark, sf_dir, tmp_path):
    """A faulty pair with --report exits 1 and writes exactly the 6 rows
    ReconPair.summary() returns for the same pair."""
    from reconciliation_hive_data_spark.catalog import load
    from reconciliation_hive_data_spark.plans.api import ReconPair
    from reconciliation_hive_data_spark.plans.recon import orders_target

    src = f"{sf_dir}/orders.parquet"
    tgt, out = str(tmp_path / "tgt"), str(tmp_path / "report")
    orders = load(spark, sf_dir, "orders")
    orders_target(orders, faulty=True).write.parquet(tgt)
    compare = {"o_totalprice": "double", "o_orderpriority": "string"}
    args = [
        "recon",
        "--source", src,
        "--target", tgt,
        "--keys", "o_orderkey",
        "--compare", ",".join(f"{c}:{k}" for c, k in compare.items()),
        "--tolerance", "0.5",
        "--report", out,
    ]
    assert main(args) == 1
    pair = ReconPair(
        source=spark.read.parquet(src),
        target=spark.read.parquet(tgt),
        keys=["o_orderkey"],
        compare_cols=compare,
        tolerance=0.5,
    )
    written = sorted(spark.read.parquet(out).collect())
    assert len(written) == 6
    assert written == sorted(pair.summary().collect())
    assert any(r.status == "DIFF" for r in written)
