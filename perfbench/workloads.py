"""The workloads: inputs, operation mix and output checks.

``BENCHMARK.json`` lists ``warehouse_load`` and ``curation_batch``.
``analyst_queries`` runs the same way but is not listed: with three
set-ups per run, three workloads whose timed phases are long enough to
be steady on a 4-core host exceed the benchmark's total run-time budget.

Each workload is a closed loop of one client. An operation is a
callable ``op(spark) -> {span: seconds}`` whose returned spans are the
layer boundaries it crossed (builder call and action for a query;
bronze, silver and gold for a refresh). The runner times the
operation as a whole from outside.

Working sets, against the 4 GB default driver heap (``run.py``):

- ``warehouse_load``: six CSVs at 4x the reference row counts (240k
  sales rows, 23 MB of CSV); a refresh writes 18 MB of parquet.
- ``analyst_queries``: the TPC-H-ish tables at sf 0.02 (120k lineitem
  rows, 3.4 MB of parquet).
- ``curation_batch``: 150 documents and 64-dimension embeddings
  replicated 4x (600 near-duplicate rows, 0.5 MB).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable

import medallion_csv
import testdata

Op = Callable[[object], dict]

# 18 of the 45 short read-only queries of analytics.core, tpch, star
# and reports: scans, joins, aggregates, windows and rollups. Left out:
# the two report builders (~1 s each), the queries whose predicates
# match no generated row, and the rest for the run-time budget.
ANALYST_QUERIES = (
    # analytics.core
    "scalar_measures", "top_parts_by_revenue", "latest_order_per_customer",
    "brand_yoy_performance", "orders_without_lineitems",
    "duplicate_key_check", "lineitem_pricing_summary", "revenue_cube",
    "shipping_priority_top10", "spark_sql_interface",
    # analytics.tpch
    "volume_shipping_pairs", "returned_item_customers",
    "part_supplier_counts", "suppliers_kept_waiting", "min_cost_supplier",
    # analytics.star
    "fact_orders_star", "star_integrity_check",
    # analytics.reports
    "customer_segments",
)

# The dedup and similarity families: the chain-ladder dedup
# (dedup_keep_best_chain), SimHash clusters (a session artifact) and LSH
# near-duplicate pairs with grouped pandas verification. Left out:
# pq_ann_topk (its result disagrees with its oracle on near-duplicate
# embeddings), the streaming member (it keeps checkpoints under
# /dev/shm, outside the benchmark's directory) and, for the run-time
# budget, the other chain queries, semantic_dedup_clusters and
# ivf_kmeans_ann_topk (10 s on a cold JVM).
CURATION_QUERIES = (
    "dedup_keep_best_chain", "embedding_near_dup_lsh",
    "simhash_near_dup_clusters",
)

WAREHOUSE_SCALE = 4
ANALYST_SF, ANALYST_CORPUS = 0.02, 500
CURATION_SF, CURATION_CORPUS, CURATION_REPLICAS = 0.001, 150, 4
KEEP_INPUTS = 12


@dataclass
class Workload:
    inputs: dict                      # the generator's manifest
    ops: dict[str, Op]                # the timed operation mix, by name
    warmup_ops: dict[str, Op]         # the same mix as the warm-up runs it
    check: Callable[[dict], list[str]]  # expected -> one message per mismatch
    # Expected outputs computed from the inputs alone; the runner
    # overlaps this with the first (cold, never the median) warm-up.
    expected: Callable[[], dict] = dict
    written_bytes: Callable[[], int] = lambda: 0
    min_rounds: int = 1


def dir_bytes(root: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(f"{root}/**", recursive=True)
               if os.path.isfile(p))


def cached_inputs(inputs_dir: str, kind: str, seed: int,
                  make: Callable[[str], dict]) -> tuple[str, dict]:
    """Generate inputs once per (kind, seed): ``make(dir)`` writes them
    and returns a manifest, kept beside them. The manifest gains the
    input bytes and ``gen_s``, the generation time (0 on a cache hit).
    Only the :data:`KEEP_INPUTS` most recently used seeds of a kind are
    kept."""
    path = os.path.join(inputs_dir, f"{kind}-seed{seed}")
    manifest = os.path.join(path, "manifest.json")
    if os.path.exists(manifest):
        os.utime(manifest)
        with open(manifest, encoding="utf-8") as fh:
            return path, {**json.load(fh), "gen_s": 0.0}
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    start = time.perf_counter()
    info = make(tmp)
    info["bytes"] = dir_bytes(tmp)
    with open(os.path.join(tmp, "manifest.json"), "w", encoding="utf-8") as fh:
        json.dump(info, fh)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    gen_s = time.perf_counter() - start
    done = sorted(glob.glob(os.path.join(inputs_dir, f"{kind}-seed*", "manifest.json")),
                  key=os.path.getmtime)
    for old in done[:-KEEP_INPUTS]:
        shutil.rmtree(os.path.dirname(old), ignore_errors=True)
    return path, {**info, "gen_s": gen_s}


# --------------------------------------------------------- query workloads

def _query_op(builder, sf_dir: str, action: Callable) -> Op:
    def op(spark) -> dict:
        t0 = time.perf_counter()
        df = builder(spark, sf_dir)
        t1 = time.perf_counter()
        action(df)
        return {"analytics.build": t1 - t0,
                "analytics.exec": time.perf_counter() - t1}
    return op


def _noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _collect_into(outputs: dict, name: str) -> Callable:
    """The warm-up's action: keep the result for the check."""
    def action(df) -> None:
        outputs[name] = df.toPandas()
    return action


class _Collected:
    """A collected result posing as the DataFrame the harness expects."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def _query_workload(names: tuple[str, ...], sf_dir: str, inputs: dict,
                    min_rounds: int) -> Workload:
    from sql_data_warehouse_spark.analytics import all_queries

    registry = all_queries()
    outputs: dict = {}

    def expected() -> dict:
        from tests.oracle_harness import run_oracle

        out = {}
        for n in names:
            try:
                out[n] = run_oracle(registry[n].oracle, sf_dir)
            except Exception as exc:  # reported by check()
                out[n] = exc
        return out

    def check(want: dict) -> list[str]:
        from tests.oracle_harness import compare

        errors = []
        for n in names:
            try:
                if isinstance(want.get(n), Exception):
                    raise want[n]
                if n not in outputs:
                    raise RuntimeError("no output collected")
                compare(_Collected(outputs[n]), want[n], n)
            except Exception as exc:  # a failed check is counted, not fatal
                errors.append(f"{n}: {type(exc).__name__}: {exc}"[:500])
        return errors

    return Workload(
        inputs,
        ops={n: _query_op(registry[n].builder, sf_dir, _noop_sink) for n in names},
        warmup_ops={n: _query_op(registry[n].builder, sf_dir,
                                 _collect_into(outputs, n)) for n in names},
        check=check, expected=expected, min_rounds=min_rounds)


def analyst_queries(inputs_dir: str, seed: int, work_dir: str) -> Workload:
    sf_dir, inputs = cached_inputs(
        inputs_dir, f"tables-sf{ANALYST_SF}-c{ANALYST_CORPUS}", seed,
        lambda out: testdata.write(out, seed, ANALYST_SF, ANALYST_CORPUS, 1))
    return _query_workload(ANALYST_QUERIES, sf_dir, inputs, min_rounds=2)


def curation_batch(inputs_dir: str, seed: int, work_dir: str) -> Workload:
    sf_dir, inputs = cached_inputs(
        inputs_dir,
        f"tables-sf{CURATION_SF}-c{CURATION_CORPUS}x{CURATION_REPLICAS}", seed,
        lambda out: testdata.write(out, seed, CURATION_SF, CURATION_CORPUS,
                                   CURATION_REPLICAS))
    return _query_workload(CURATION_QUERIES, sf_dir, inputs, min_rounds=7)


# ------------------------------------------------------- warehouse refresh

def _bronze(spark, csv_dir: str, wh: str) -> None:
    """Typed CSV -> bronze parquet, as medallion.load.load_bronze does
    (one overwrite per table from a thread pool) but over ``csv_dir``:
    the program's bronze reader is fixed to the reference root."""
    from sql_data_warehouse_spark.medallion.schemas import BRONZE_TABLES, spark_schema

    def run(table: str) -> int:
        path = f"{wh}/bronze/{table}"
        spark.read.csv(
            f"{csv_dir}/{medallion_csv.FILES[table]}",
            schema=spark_schema(table), header=True,
            ignoreLeadingWhiteSpace=False, ignoreTrailingWhiteSpace=False,
        ).write.mode("overwrite").parquet(path)
        return spark.read.parquet(path).count()

    with ThreadPoolExecutor(max_workers=len(BRONZE_TABLES)) as pool:
        list(pool.map(run, BRONZE_TABLES))


def warehouse_load(inputs_dir: str, seed: int, work_dir: str) -> Workload:
    from sql_data_warehouse_spark.medallion import load
    from sql_data_warehouse_spark.session import tune_session

    csv_dir, inputs = cached_inputs(
        inputs_dir, f"medallion-x{WAREHOUSE_SCALE}", seed,
        lambda out: medallion_csv.write(out, seed, WAREHOUSE_SCALE))
    wh = os.path.join(work_dir, "warehouse")

    def refresh(spark) -> dict:
        tune_session(spark)
        spans = {}
        t = time.perf_counter()
        _bronze(spark, csv_dir, wh)
        spans["medallion.bronze"] = time.perf_counter() - t
        t = time.perf_counter()
        load.load_silver(spark, wh)
        spans["medallion.silver"] = time.perf_counter() - t
        t = time.perf_counter()
        load.load_gold(spark, wh, materialize=True)
        spans["medallion.gold"] = time.perf_counter() - t
        return spans

    return Workload(inputs, ops={"refresh": refresh},
                    warmup_ops={"refresh": refresh},
                    check=lambda want: _check_warehouse(want, wh),
                    expected=lambda: _warehouse_twins(csv_dir),
                    written_bytes=lambda: dir_bytes(wh), min_rounds=7)


def _warehouse_twins(csv_dir: str) -> dict:
    """Silver and gold as the program's DuckDB twins (``SILVER_*_SQL``
    and ``gold_sql``) compute them from the same CSVs, as Arrow tables
    (exceptions in place of tables that fail)."""
    import duckdb

    from sql_data_warehouse_spark.medallion.gold import gold_sql
    from sql_data_warehouse_spark.medallion.load import GOLD_VIEWS
    from sql_data_warehouse_spark.medallion.schemas import REFERENCE_DATASETS
    from sql_data_warehouse_spark.medallion.silver import SILVER_SQL

    targets = {f"silver/{t}": sql for t, sql in SILVER_SQL.items()}
    targets.update({f"gold/{v}": gold_sql(v) for v in GOLD_VIEWS})
    out = {}
    con = duckdb.connect()
    try:
        for rel, sql in targets.items():
            try:
                out[rel] = con.sql(sql.replace(REFERENCE_DATASETS, csv_dir)).arrow()
            except Exception as exc:  # reported by _check_warehouse
                out[rel] = exc
    finally:
        con.close()
    return out


def _check_warehouse(want: dict, wh: str) -> list[str]:
    """The last refresh's silver and gold parquet against the twins."""
    import duckdb

    errors = []
    con = duckdb.connect()
    try:
        for rel, table in want.items():
            try:
                if isinstance(table, Exception):
                    raise table
                con.register("want", table)
                got = (f"SELECT {', '.join(table.column_names)} "
                       f"FROM read_parquet('{wh}/{rel}/*.parquet')")
                extra, missing = con.sql(
                    f"SELECT (SELECT count(*) FROM ({got} EXCEPT ALL "
                    f"SELECT * FROM want)), (SELECT count(*) FROM "
                    f"(SELECT * FROM want EXCEPT ALL {got}))").fetchone()
                if extra or missing or not table.num_rows:
                    errors.append(f"{rel}: {extra} extra, {missing} missing "
                                  f"of {table.num_rows} rows")
            except Exception as exc:  # a failed check is counted, not fatal
                errors.append(f"{rel}: {type(exc).__name__}: {exc}"[:500])
    finally:
        con.close()
    return errors


WORKLOADS = {
    "warehouse_load": warehouse_load,
    "analyst_queries": analyst_queries,
    "curation_batch": curation_batch,
}
