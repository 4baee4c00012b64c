"""The benchmark's own tests: seeded inputs and the event-log fold.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import eventlog  # noqa: E402
import medallion_csv  # noqa: E402
import testdata  # noqa: E402


def _digest(root: Path) -> dict[str, str]:
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest()
            for p in sorted(root.iterdir())}


@pytest.mark.parametrize("write", [
    lambda out, seed: medallion_csv.write(out, seed, 1),
    lambda out, seed: testdata.write(out, seed, 0.002, 40, 3),
], ids=["medallion_csv", "testdata"])
def test_seed_gives_identical_inputs(tmp_path, write):
    write(str(tmp_path / "a"), 7)
    write(str(tmp_path / "b"), 7)
    write(str(tmp_path / "c"), 8)
    a, b, c = (_digest(tmp_path / d) for d in "abc")
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[f] != c[f] for f in a if f not in (
        "PX_CAT_G1V2.csv", "region.parquet", "nation.parquet"))


# One query per FIXTURES.md dirt class, over the raw CSV text.
_DIRT_SQL = {
    "cust_null_id": "SELECT count(*) FROM cust WHERE cst_id IS NULL",
    "cust_duplicate_id": "SELECT count(*) FROM (SELECT cst_id FROM cust "
                         "WHERE cst_id IS NOT NULL GROUP BY 1 HAVING count(*) > 1)",
    "cust_padded_name": "SELECT count(*) FROM cust WHERE cst_firstname != "
                        "trim(cst_firstname) OR cst_lastname != trim(cst_lastname)",
    "cust_blank_marital": "SELECT count(*) FROM cust WHERE cst_marital_status IS NULL",
    "cust_blank_gender": "SELECT count(*) FROM cust WHERE cst_gndr IS NULL",
    "prd_null_cost": "SELECT count(*) FROM prd WHERE prd_cost IS NULL",
    "prd_padded_line": "SELECT count(*) FROM prd WHERE prd_line LIKE '% '",
    "prd_scd_history": "SELECT count(*) FROM (SELECT prd_key FROM prd "
                       "GROUP BY 1 HAVING count(*) > 1)",
    "sales_invalid_order_dt": "SELECT count(*) FROM sls WHERE sls_order_dt = '0' "
                              "OR length(sls_order_dt) != 8",
    "sales_bad_sales": "SELECT count(*) FROM sls WHERE sls_sales IS NULL "
                       "OR sls_sales::INT <= 0",
    "sales_mismatch_sales": "SELECT count(*) FROM sls WHERE sls_sales::INT > 0 "
                            "AND sls_sales::INT != sls_quantity::INT * abs(sls_price::INT)",
    "sales_null_zero_price": "SELECT count(*) FROM sls WHERE sls_price IS NULL "
                             "OR sls_price = '0'",
    "sales_negative_price": "SELECT count(*) FROM sls WHERE sls_price::INT < 0",
    "sales_orphan_customer": "SELECT count(*) FROM sls WHERE sls_cust_id NOT IN "
                             "(SELECT cst_id FROM cust WHERE cst_id IS NOT NULL)",
    "sales_orphan_product": "SELECT count(*) FROM sls WHERE sls_prd_key NOT IN "
                            "(SELECT substring(prd_key, 7) FROM prd)",
    "az12_nas_prefix": "SELECT count(*) FROM az12 WHERE CID LIKE 'NAS%'",
    "az12_plain_cid": "SELECT count(*) FROM az12 WHERE CID NOT LIKE 'NAS%'",
    "az12_future_bdate": "SELECT count(*) FROM az12 WHERE BDATE::DATE > DATE '2026-01-01'",
    "az12_padded_gender": "SELECT count(*) FROM az12 WHERE GEN IN ('M ', 'F ')",
    "az12_blank_gender": "SELECT count(*) FROM az12 WHERE GEN IS NULL OR trim(GEN) = ''",
    "loc_dash_cid": "SELECT count(*) FROM loc WHERE CID LIKE '%-%'",
    "loc_code_country": "SELECT count(*) FROM loc WHERE CNTRY IN ('DE', 'US', 'USA')",
    "loc_blank_country": "SELECT count(*) FROM loc WHERE CNTRY IS NULL OR trim(CNTRY) = ''",
}

# FIXTURES.md cross-table invariants: each query counts violations.
_INVARIANT_SQL = {
    "cst_key is AW + zero-padded id":
        "SELECT count(*) FROM cust WHERE cst_id IS NOT NULL "
        "AND cst_key != 'AW' || lpad(cst_id, 8, '0')",
    "az12 ids conform to cst_key":
        "SELECT count(*) FROM az12 WHERE (CASE WHEN CID LIKE 'NAS%' "
        "THEN substring(CID, 4) ELSE CID END) NOT IN (SELECT cst_key FROM cust)",
    "loc ids conform to cst_key":
        "SELECT count(*) FROM loc WHERE replace(CID, '-', '') "
        "NOT IN (SELECT cst_key FROM cust)",
    "sales dates ordered":
        "SELECT count(*) FROM sls WHERE length(sls_order_dt) = 8 "
        "AND NOT (sls_order_dt <= sls_ship_dt AND sls_ship_dt <= sls_due_dt)",
    "most sales keys resolve":
        "SELECT count(*) > (SELECT count(*) FROM sls) / 100 FROM sls "
        "WHERE sls_prd_key NOT IN (SELECT substring(prd_key, 7) FROM prd)",
}


def test_every_dirt_class_appears(tmp_path):
    info = medallion_csv.write(str(tmp_path), 3, 1)
    assert set(info["dirt"]) == set(medallion_csv.DIRT_CLASSES)
    assert all(n >= 1 for n in info["dirt"].values()), info["dirt"]
    con = duckdb.connect()
    for view, table in [("cust", "crm_cust_info"), ("prd", "crm_prd_info"),
                        ("sls", "crm_sales_details"), ("az12", "erp_cust_az12"),
                        ("loc", "erp_loc_a101")]:
        path = tmp_path / medallion_csv.FILES[table]
        con.sql(f"CREATE VIEW {view} AS SELECT * FROM read_csv('{path}', "
                "header=true, all_varchar=true)")
    found = {c: con.sql(sql).fetchone()[0] for c, sql in _DIRT_SQL.items()}
    assert set(found) == set(medallion_csv.DIRT_CLASSES)
    assert all(n >= 1 for n in found.values()), found
    broken = {k: con.sql(sql).fetchone()[0] for k, sql in _INVARIANT_SQL.items()}
    assert not any(broken.values()), broken


def test_fold_attributes_by_submission_time():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Submission Time": 1_001, "Number of Tasks": 4, "Accumulables": [
                {"Name": "internal.metrics.shuffle.write.bytesWritten", "Value": 10},
                {"Name": "data sent to Python workers", "Value": "5"},
                {"Name": "data returned from Python workers", "Value": "2"}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_400},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1_200},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1_500},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 2_100},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 2_300},
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 9_000},
        {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 9_100},
    ]
    out = eventlog.fold(events, [("a", 0.9, 1.9), ("b", 2.0, 3.0)])
    assert out["a"]["jobs"] == 2 and out["b"]["jobs"] == 1
    assert out["a"]["job_s"] == pytest.approx(0.5)  # union of 1.0-1.4, 1.2-1.5
    assert out["b"]["job_s"] == pytest.approx(0.2)
    assert out["a"]["stages"] == 1 and out["a"]["tasks"] == 4
    assert out["a"]["shuffle_bytes"] == 10 and out["a"]["py_bytes"] == 7
    assert out["b"]["stages"] == 0


def test_fold_counts_a_tiny_traced_run(tmp_path):
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[2]").appName("fold-test")
             .config("spark.ui.enabled", "false")
             .config("spark.local.dir", str(tmp_path / "local"))
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", f"file://{tmp_path}")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .getOrCreate())
    spans = []
    try:
        sc = spark.sparkContext

        def span(key, action):
            start = time.time()
            action()
            spans.append((key, start, time.time()))

        span("count", lambda: sc.parallelize(range(100), 4).count())
        span("shuffle", lambda: sc.parallelize(range(100), 4)
             .map(lambda x: (x % 3, 1)).reduceByKey(lambda a, b: a + b, 2).collect())
        span("two_jobs", lambda: (sc.parallelize(range(10), 3).count(),
                                  sc.parallelize(range(10), 1).sum()))
    finally:
        spark.stop()
    logs = [p for p in tmp_path.iterdir() if p.is_file() and not p.name.startswith(".")]
    assert len(logs) == 1
    out = eventlog.fold(eventlog.read_events(str(tmp_path)), spans)
    assert (out["count"]["jobs"], out["count"]["stages"], out["count"]["tasks"]) == (1, 1, 4)
    assert (out["shuffle"]["jobs"], out["shuffle"]["stages"],
            out["shuffle"]["tasks"]) == (1, 2, 6)
    assert out["shuffle"]["shuffle_bytes"] > 0
    assert (out["two_jobs"]["jobs"], out["two_jobs"]["stages"],
            out["two_jobs"]["tasks"]) == (2, 2, 4)
    for key, start, end in spans:
        assert 0 < out[key]["job_s"] <= end - start + 0.002


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
