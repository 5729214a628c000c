"""FastSS edit-1 join slope measurement (VERDICT r7 item 6).

The gated `edit1_customer_pairs` cell is R-invariant (customer is a
copied dim), so the recorded 0.05x at R20 was a point, not a slope.
This harness replicates customer WITH remapped names (crossover
facts=('customer',) subset replicas — 15k·R distinct zero-padded
numeric names, the same population shape) and times, per tier:

1. Spark: fastss_edit1_pairs over the replicated names (deletion
   neighborhoods in pure JVM, (id, xxhash64) candidate exchange,
   exact verify) — expected ~linear in the name count;
2. DuckDB: the registry's brute-force levenshtein self-join oracle —
   expected quadratic (name_count^2 pairs).

Usage: python tools/edit1_tier.py [R ...]      (default: 2 3)
       SPARK_GRAFT_EDIT1_DUCK_TIMEOUT=seconds  (skip/DNF the quadratic
       side past this budget; DNF is recorded as null, the
       neardup_clusters convention)
Prints one JSON line per tier; numbers land in BASELINE.md,
"Round-8: FastSS slope".
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from distributed_computing_spark.session import get_spark
from tools.crossover import ensure_scaled

BRUTE_SQL = """
SELECT count(*) AS n_pairs
FROM (
  SELECT a.c_custkey AS a, b.c_custkey AS b,
         levenshtein(a.c_name, b.c_name) AS dist
  FROM read_parquet('{cust}/*.parquet') a
  JOIN read_parquet('{cust}/*.parquet') b ON a.c_custkey < b.c_custkey
  WHERE levenshtein(a.c_name, b.c_name) <= 1)
"""


def run_tier(spark, sf_dir: str, R: int) -> dict:
    from pyspark.sql import functions as F

    from distributed_computing_spark.operators.linkage import (
        fastss_edit1_pairs,
    )

    scaled = ensure_scaled(spark, sf_dir, R, facts=("customer",))
    cust_path = os.path.join(scaled, "customer.parquet")
    cust = spark.read.parquet(cust_path).select("c_custkey", "c_name")
    n_names = cust.count()  # also warms the scan

    t0 = time.time()
    n_pairs = (
        fastss_edit1_pairs(cust, "c_custkey", "c_name")
        .agg(F.count(F.lit(1)))
        .collect()[0][0]
    )
    t_spark = time.time() - t0

    budget = float(os.environ.get("SPARK_GRAFT_EDIT1_DUCK_TIMEOUT", "0"))
    t_duck = None
    duck_pairs = None
    # the quadratic side is O(n_names^2) levenshtein calls; past the
    # budget we record DNF instead of burning an hour proving it.
    # ~3.6e-8 s/pair measured on this box's R2 cell (16.3 s / 4.5e8
    # pairs — same-length zero-padded names short-circuit the DP far
    # below the r7 customer-dim rate).
    est_s = n_names * (n_names - 1) / 2 * 3.6e-8
    if budget and est_s > budget:
        pass  # projected past budget: DNF (duckdb_s stays null)
    else:
        import duckdb

        con = duckdb.connect()
        t0 = time.time()
        duck_pairs = con.execute(
            BRUTE_SQL.format(cust=cust_path)
        ).fetchall()[0][0]
        t_duck = time.time() - t0
        con.close()
        if duck_pairs is not None:
            assert duck_pairs == n_pairs, (duck_pairs, n_pairs)

    return {
        "R": R,
        "n_names": n_names,
        "n_pairs": n_pairs,
        "pairs_equal": duck_pairs == n_pairs if duck_pairs is not None else None,
        "spark_s": round(t_spark, 2),
        "duckdb_s": round(t_duck, 2) if t_duck is not None else None,
    }


def main() -> None:
    tiers = [int(a) for a in sys.argv[1:]] or [2, 3]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="edit1_tier")
    spark.sparkContext.setLogLevel("ERROR")
    # warm python workers (CLAUDE.md)
    spark.read.parquet(os.path.join(sf_dir, "customer.parquet")).count()
    for R in tiers:
        print(json.dumps(run_tier(spark, sf_dir, R)), flush=True)


if __name__ == "__main__":
    main()
