"""IVM paying-regime measurement (VERDICT r6 item 6).

The gated IVM queries necessarily rebuild the base view inside the timed
plan, so they can't exhibit the claim incremental view maintenance makes:
*refreshing a materialized view from a day's changes beats recomputing
it*. This harness measures the claim directly on R×-replicated orders:

1. (untimed) materialize the per-customer view over pre-cutoff orders
   and extract the change delta — the last ~30 days of inserts plus the
   cancelled 'F' orders of the 30 days before the cutoff (~2% of rows),
   the CDC-arrival model: a refresh consumer reads the delta, it does
   not re-derive it from the fact table;
2. (timed) Spark REFRESH: view parquet + delta parquet → ivm_refresh →
   noop write — cost bounded by |delta| + |view|, never |fact|;
3. (timed) Spark RECOMPUTE: effective-state groupBy over all replicated
   orders — the cost IVM avoids, in the same engine;
4. (timed) DuckDB RECOMPUTE of the same view (the single-node oracle
   motion the crossover tiers use).

Usage: python tools/ivm_tier.py [R ...]   (default: 20 100)
Prints one JSON line per tier; numbers are recorded in BASELINE.md,
"Round-7: IVM paying regime".
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from distributed_computing_spark.session import get_spark
from tools.crossover import ensure_scaled

# ADVICE r7: the recompute legs must answer the SAME question as the
# refresh leg — the CDC delta deletes only the 'F' orders of the 30
# days before the cutoff, so the recompute excludes exactly that window
# too (not every pre-cutoff 'F' order). legs_equal in the output is the
# structural check.
RECOMPUTE_SQL = """
SELECT o_custkey, count(*) AS n_rows, sum(cents) AS revenue_cents
FROM (
  SELECT o_custkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         o_orderdate, o_orderstatus
  FROM read_parquet('{orders}/*.parquet'))
WHERE o_orderdate >= TIMESTAMP '{cutoff}'
   OR NOT (o_orderstatus = 'F'
           AND o_orderdate >= TIMESTAMP '{cutoff}' - INTERVAL 30 DAY)
GROUP BY o_custkey
"""


def run_tier(spark, sf_dir: str, R: int, work_root: str) -> dict:
    from distributed_computing_spark.operators.analytics import ivm_refresh

    scaled = ensure_scaled(spark, sf_dir, R, facts=("orders",))
    orders_path = os.path.join(scaled, "orders.parquet")
    o = spark.read.parquet(orders_path).select(
        "o_custkey",
        "o_orderdate",
        "o_orderstatus",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("revenue_cents"),
    )
    max_d = o.agg(F.max("o_orderdate")).collect()[0][0]
    cutoff = (max_d - __import__("datetime").timedelta(days=30)).strftime(
        "%Y-%m-%d %H:%M:%S"
    ) if hasattr(max_d, "strftime") else str(max_d)

    view_dir = os.path.join(work_root, f"ivm_view_R{R}")
    delta_dir = os.path.join(work_root, f"ivm_delta_R{R}")
    shutil.rmtree(view_dir, ignore_errors=True)
    shutil.rmtree(delta_dir, ignore_errors=True)

    # untimed: the view exists already in the IVM story; the delta
    # ARRIVES as CDC — neither is part of the refresh cost.
    base_rows = o.where(F.col("o_orderdate") < F.lit(cutoff))
    base_rows.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("revenue_cents").alias("revenue_cents"),
    ).write.mode("overwrite").parquet(view_dir)
    inserts = o.where(F.col("o_orderdate") >= F.lit(cutoff)).withColumn(
        "_sign", F.lit(1)
    )
    deletes = (
        base_rows.where(
            (F.col("o_orderstatus") == "F")
            & (
                F.col("o_orderdate")
                >= F.date_sub(F.lit(cutoff).cast("timestamp"), 30)
            )
        ).withColumn("_sign", F.lit(-1))
    )
    inserts.unionByName(deletes).write.mode("overwrite").parquet(delta_dir)

    n_fact = o.count()
    view_df = spark.read.parquet(view_dir)
    delta_df = spark.read.parquet(delta_dir)
    n_view, n_delta = view_df.count(), delta_df.count()

    # timed: Spark refresh (delta-bound)
    t0 = time.time()
    ivm_refresh(
        spark.read.parquet(view_dir),
        spark.read.parquet(delta_dir),
        ["o_custkey"],
        "n_rows",
        ("revenue_cents",),
    ).write.format("noop").mode("overwrite").save()
    t_refresh = time.time() - t0

    # timed: Spark full recompute (what the refresh avoids) — same
    # 30-day 'F' window as the delta (ADVICE r7: legs answer-equivalent)
    win_start = F.date_sub(F.lit(cutoff).cast("timestamp"), 30)
    recompute_df = o.where(
        (F.col("o_orderdate") >= F.lit(cutoff))
        | ~(
            (F.col("o_orderstatus") == "F")
            & (F.col("o_orderdate") >= win_start)
        )
    ).groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("revenue_cents").alias("revenue_cents"),
    )
    t0 = time.time()
    recompute_df.write.format("noop").mode("overwrite").save()
    t_recompute = time.time() - t0

    # untimed structural check: refresh and recompute answer the same
    # question (checksum over both group count and both aggregates)
    refreshed = ivm_refresh(
        spark.read.parquet(view_dir),
        spark.read.parquet(delta_dir),
        ["o_custkey"],
        "n_rows",
        ("revenue_cents",),
    )
    chk = lambda df: df.agg(  # noqa: E731
        F.count(F.lit(1)), F.sum("n_rows"), F.sum("revenue_cents")
    ).collect()[0]
    legs_equal = tuple(chk(refreshed)) == tuple(chk(recompute_df))

    # timed: DuckDB recompute (single-node oracle motion)
    import duckdb

    con = duckdb.connect()
    sql = RECOMPUTE_SQL.format(orders=orders_path, cutoff=cutoff)
    t0 = time.time()
    con.execute(f"SELECT count(*), sum(n_rows) FROM ({sql})").fetchall()
    t_duck = time.time() - t0
    con.close()

    return {
        "R": R,
        "n_fact": n_fact,
        "n_view": n_view,
        "n_delta": n_delta,
        "legs_equal": bool(legs_equal),
        "spark_refresh_s": round(t_refresh, 2),
        "spark_recompute_s": round(t_recompute, 2),
        "duckdb_recompute_s": round(t_duck, 2),
    }


JOIN_RECOMPUTE_SQL = """
SELECT o_custkey, count(*) AS n_items, sum(cents) AS revenue_cents
FROM (
  SELECT o.o_custkey,
         CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM read_parquet('{lineitem}/*.parquet') l
  JOIN read_parquet('{orders}/*.parquet') o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderdate >= TIMESTAMP '{cutoff}'
     OR NOT (o.o_orderstatus = 'F'
             AND o.o_orderdate >= TIMESTAMP '{cutoff}' - INTERVAL 30 DAY))
GROUP BY o_custkey
"""


def run_join_tier(spark, sf_dir: str, R: int, work_root: str) -> dict:
    """The JOINING view — where IVM actually pays: recomputing
    per-customer lineitem revenue re-joins every unchanged lineitem to
    its order; the refresh touches only the delta (changed orders'
    lineitems, pre-joined at CDC-extract time) plus the view."""
    from distributed_computing_spark.operators.analytics import ivm_refresh

    scaled = ensure_scaled(spark, sf_dir, R)  # full replica (has lineitem)
    orders_path = os.path.join(scaled, "orders.parquet")
    li_path = os.path.join(scaled, "lineitem.parquet")
    o = spark.read.parquet(orders_path).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderstatus"
    )
    li = spark.read.parquet(li_path).select(
        "l_orderkey",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    max_d = o.agg(F.max("o_orderdate")).collect()[0][0]
    cutoff = str(max_d - __import__("datetime").timedelta(days=30))

    view_dir = os.path.join(work_root, f"ivm_jview_R{R}")
    delta_dir = os.path.join(work_root, f"ivm_jdelta_R{R}")
    shutil.rmtree(view_dir, ignore_errors=True)
    shutil.rmtree(delta_dir, ignore_errors=True)

    # untimed: view + CDC delta extraction (pre-joined rows — the CDC
    # producer knows which orders changed and ships their lineitems)
    base_o = o.where(F.col("o_orderdate") < F.lit(cutoff))
    li.join(base_o, li.l_orderkey == base_o.o_orderkey).groupBy(
        "o_custkey"
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("cents").alias("revenue_cents"),
    ).write.mode("overwrite").parquet(view_dir)
    ins_o = o.where(F.col("o_orderdate") >= F.lit(cutoff)).withColumn(
        "_sign", F.lit(1)
    )
    del_o = base_o.where(
        (F.col("o_orderstatus") == "F")
        & (
            F.col("o_orderdate")
            >= F.date_sub(F.lit(cutoff).cast("timestamp"), 30)
        )
    ).withColumn("_sign", F.lit(-1))
    d_o = ins_o.unionByName(del_o)
    li.join(d_o, li.l_orderkey == d_o.o_orderkey).select(
        "o_custkey", F.col("cents").alias("revenue_cents"), "_sign"
    ).write.mode("overwrite").parquet(delta_dir)

    n_fact = li.count()
    n_view = spark.read.parquet(view_dir).count()
    n_delta = spark.read.parquet(delta_dir).count()

    t0 = time.time()
    ivm_refresh(
        spark.read.parquet(view_dir),
        spark.read.parquet(delta_dir),
        ["o_custkey"],
        "n_items",
        ("revenue_cents",),
    ).write.format("noop").mode("overwrite").save()
    t_refresh = time.time() - t0

    # same 30-day 'F' window as the delta (ADVICE r7)
    win_start = F.date_sub(F.lit(cutoff).cast("timestamp"), 30)
    eff_o = o.where(
        (F.col("o_orderdate") >= F.lit(cutoff))
        | ~(
            (F.col("o_orderstatus") == "F")
            & (F.col("o_orderdate") >= win_start)
        )
    )
    recompute_df = li.join(
        eff_o, li.l_orderkey == eff_o.o_orderkey
    ).groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("cents").alias("revenue_cents"),
    )
    t0 = time.time()
    recompute_df.write.format("noop").mode("overwrite").save()
    t_recompute = time.time() - t0

    refreshed = ivm_refresh(
        spark.read.parquet(view_dir),
        spark.read.parquet(delta_dir),
        ["o_custkey"],
        "n_items",
        ("revenue_cents",),
    )
    chk = lambda df: df.agg(  # noqa: E731
        F.count(F.lit(1)), F.sum("n_items"), F.sum("revenue_cents")
    ).collect()[0]
    legs_equal = tuple(chk(refreshed)) == tuple(chk(recompute_df))

    import duckdb

    con = duckdb.connect()
    sql = JOIN_RECOMPUTE_SQL.format(
        lineitem=li_path, orders=orders_path, cutoff=cutoff
    )
    t0 = time.time()
    con.execute(f"SELECT count(*), sum(n_items) FROM ({sql})").fetchall()
    t_duck = time.time() - t0
    con.close()

    return {
        "mode": "join_view",
        "R": R,
        "n_fact": n_fact,
        "n_view": n_view,
        "n_delta": n_delta,
        "legs_equal": bool(legs_equal),
        "spark_refresh_s": round(t_refresh, 2),
        "spark_recompute_s": round(t_recompute, 2),
        "duckdb_recompute_s": round(t_duck, 2),
    }


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--join"]
    join_mode = "--join" in sys.argv[1:]
    tiers = [int(a) for a in args] or [20, 100]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="ivm_tier")
    spark.sparkContext.setLogLevel("ERROR")
    work_root = os.path.join("/tmp", "dcs_ivm_tier")
    os.makedirs(work_root, exist_ok=True)
    # warm workers (CLAUDE.md: first pandas_udf/scan pays startup)
    spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).count()
    run = run_join_tier if join_mode else run_tier
    for R in tiers:
        print(json.dumps(run(spark, sf_dir, R, work_root)), flush=True)


if __name__ == "__main__":
    main()
