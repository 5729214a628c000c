"""Crossover tier: Spark vs DuckDB on the SAME R×-scaled data.

At sf0.1 the per-query gap to DuckDB measures fixed overhead (Catalyst
planning, stage scheduling), not plan quality — BASELINE.md. This module
makes the scale argument a measured number the driver records: replicate
the sf tables R× (ids remapped so keys stay unique, text perturbed so
dedup structures aren't degenerate), then time a mixed set of registry
queries on BOTH engines over the same scaled parquet, using the exact
oracle SQL on the DuckDB side. The set deliberately includes
DuckDB-favored relational queries (regional_revenue) alongside the
text-heavy ones where Spark's parallel per-row work dominates — the
point is the slope, not a cherry-picked win.

Scaled data is cached under .scalecache/ (gitignored) keyed by a
manifest (R + source dir), so repeated bench runs pay generation once.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

# Queries must have exact oracles (same SQL runs on DuckDB) and touch
# only tables scaled/copied below.
DEFAULT_QUERIES = [
    "word_count_top10",   # shuffle-heavy agg over exploded tokens
    "text_stats",         # per-row text expressions (Spark-favored)
    "quality_scores",     # regex-heavy scoring (Spark-favored)
    "exact_dedup",        # fingerprint groupBy
    "events_windowed",    # event-time rollup
    "user_sessions",      # per-user window/sessionization
    "regional_revenue",   # 5-way dim join (DuckDB-favored at this size)
    "clean_docs",         # redaction/normalization pass (full text out)
    "chunk_docs",         # token-window explode (chunk text materialized)
    "pack_chunks",        # array-free chunk stats + per-source window
    "repetition_scores",  # bigram explode + two-level agg (dup-ngram filter)
    "decontaminate",      # broadcast benchmark-shingle join + per-doc agg
    "corpus_pipeline",    # the end-to-end curation composition (round 3)
    # round-4: the dedup/LSH family's first measured crossover entry —
    # signature agg + banded buckets + pair expansion + verify joins,
    # exact oracle SQL on the DuckDB side (~30 s/50 s at 20×).
    "minhash_lsh_exact",
    # round-5 (VERDICT r4 item 1): the KV/ops-log family — the
    # reference's own database surface — joins the measured set.
    "kv_effective_ops",   # K4 dedup window (client_id shuffle) + agg
    "customer_upsert",    # K2 table form: MERGE-emulated upsert
    "kv_replay_hotkey",   # K3+K5 salted fold under 25%-hot-key skew
    # round-6: the two data-dominated new families join the live tier —
    # substring-span dedup (k-gram anchors + diagonal islands; the
    # dup-dense replica corpus is its worst case) and degree-ordered
    # triangle closure on the co-purchase graph.
    "dup_spans",
    "copurchase_triangles",
    # round-7: the Aho-Corasick phrase blocklist — flat automaton scan
    # vs the single-node positional join (flips to a Spark win at R100)
    "blocklist_phrase_matches",
    # round-8: the packed-bitmap overlap (events-sized — user count and
    # word table grow with R), the basket rule mining (lineitem-sized
    # countDistinct pair expansion), and the PMI collocation pass
    # (documents-sized double tokenize + two aggregates).
    "audience_overlap",
    "association_rules",
    "bigram_pmi",
    # round-9: the rank-window statistic (two windows, one exchange,
    # lineitem-sized), the basket cosine (pair expansion + support
    # re-attach), and the conditional-decimal promo share (dim join +
    # month rollup). scd2_pointintime stays headline-only (its oracle
    # rebuilds the dimension history closed-form — dominated by that,
    # not the probe); image_dhash_neardup has no SQL side.
    "spearman_qty_price",
    "copurchase_cosine",
    "promo_revenue_share",
    # round-10: the two-fact snowflake (both facts broadcast-reduced
    # before one shuffle-hash join), the outer-join histogram (orders
    # pre-agg + left join + second agg), the window-decorrelated Q21
    # (one lineitem repartition serving aggregate + window counts), and
    # the CUSUM detector (events-sized daily rollup + two stacked
    # series windows).
    "nation_trade_volume",
    "custdist_histogram",
    "sole_return_supplier",
    "events_cusum_drift",
    # round-11: the one-exchange double-granularity aggregate (Q20)
    # and the sweep-line interval-concurrency family join the
    # within-run R20 set alongside their bench.HEADLINE entries.
    "dominant_part_suppliers",
    "session_peak_concurrency",
    # round-11 late: the winnowing fingerprint pass (a Spark win from
    # its first tier) and the near-flat exact-KS drift plan join the
    # live set alongside their HEADLINE entries; vocab_growth and
    # neighbor_customer_pairs stay offline-recorded (tail budget).
    "winnow_fingerprints",
    "ks_price_drift",
]

# Far-tier cells for the R20 weak-list dispositions: for each
# DEFAULT_QUERIES entry with a clean recorded tier above R20 (bare
# ``R<N>`` runs at the default heap), the largest such tier as
# (tier, spark_s, duckdb_s); duckdb_s None = the single-node side
# DNF'd there. Measured offline with
# `python tools/crossover.py <sf_dir> <R> <query...>`; every recorded
# tier, with its replica and context, is in BASELINE.md.
FAR_TIERS: dict[str, tuple[str, float, float | None]] = {
    "events_windowed": ("R2000", 48.17, 14.52),
    "minhash_lsh_exact": ("R50", 29.4, 34.1),
    "kv_effective_ops": ("R500", 10.5, 1.63),
    "customer_upsert": ("R2000", 10.81, 2.16),
    "kv_replay_hotkey": ("R500", 30.4, 33.2),
    "dup_spans": ("R100", 214.1, None),
    "copurchase_triangles": ("R100", 19.5, 13.0),
    "blocklist_phrase_matches": ("R200", 7.67, 21.34),
    "audience_overlap": ("R500", 5.15, 0.896),
    "association_rules": ("R400", 102.1, 99.0),
    "bigram_pmi": ("R200", 5.54, 1.125),
    "spearman_qty_price": ("R400", 104.4, 537.3),
    "copurchase_cosine": ("R400", 94.0, 101.3),
    "promo_revenue_share": ("R400", 11.2, 1.92),
    "nation_trade_volume": ("R400", 9.3, 1.52),
    "custdist_histogram": ("R400", 1.51, 0.21),
    "sole_return_supplier": ("R400", 25.2, 94.0),
    "events_cusum_drift": ("R2000", 7.49, 1.46),
    "dominant_part_suppliers": ("R400", 9.17, 90.39),
    "session_peak_concurrency": ("R1000", 21.33, 303.7),
    "winnow_fingerprints": ("R400", 24.82, 158.65),
    "ks_price_drift": ("R100", 10.31, 6.18),
}


def weak_disposition(name: str, r20_ratio: float) -> list:
    """``[far_tier, far_ratio, class]`` for a query weak at R20, from
    its FAR_TIERS cell (never a fresh run). far_ratio is None when the
    single-node side DNF'd there. Classes:

    - win: far-tier ratio < 1, or DuckDB DNF
    - floor: far-tier Spark absolute <= 3 s, an engine-constant
      overhead floor rather than a scaling problem
    - converging: far-tier ratio < 2/3 of the R20 ratio
    - open: no far tier recorded, or the ratio is not falling
    """
    if name not in FAR_TIERS:
        return ["-", None, "open"]
    tier, s, d = FAR_TIERS[name]
    ratio = None if d is None else round(s / d, 2)
    if ratio is None or ratio < 1:
        cls = "win"
    elif s <= 3.0:
        cls = "floor"
    elif ratio < r20_ratio * (2 / 3):
        cls = "converging"
    else:
        cls = "open"
    return [tier, ratio, cls]


def weak_cells(queries: dict) -> dict:
    """The cells where Spark takes more than 2x DuckDB's time, worst
    first, each with its far-tier disposition:
    ``{name: {"ratio", "far_tier", "far_ratio", "class"}}``."""
    weak = {}
    for name, v in queries.items():
        s, d = v.get("spark_s"), v.get("duckdb_s")
        if s is None or not d or s / d <= 2:
            continue
        r = round(s / d, 1)
        tier, far_ratio, cls = weak_disposition(name, r)
        weak[name] = {
            "ratio": r, "far_tier": tier, "far_ratio": far_ratio, "class": cls,
        }
    return dict(sorted(weak.items(), key=lambda kv: -kv[1]["ratio"]))

# Fact tables are replicated with remapped keys; everything else copied.
_FACTS = ("documents", "events", "orders", "lineitem")

# Replicas are written in _NFILES splits: the source sf files are single
# parquet files below maxPartitionBytes, so an un-repartitioned replica
# would hand Spark ONE input partition per table — single-core scans
# that misrepresent both engines' scaled throughput. 32 splits = the
# driver's local[32]; at real scale the same knob is file-size targets.
_NFILES = 32

# bump to invalidate previously generated replicas on layout changes
_LAYOUT_V = 2
_COPY = ("region", "nation", "customer", "supplier", "part", "embeddings")


def _scaled_dir(sf_dir: str, R: int, facts: tuple = _FACTS) -> str:
    base = os.path.basename(sf_dir.rstrip("/"))
    root = os.environ.get(
        "SPARK_GRAFT_CROSSOVER_DIR",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scalecache"),
    )
    # subset replicas (e.g. events-only for the big KV tier) get their
    # own dir so they never clobber the full-fact replica cache
    suffix = "" if tuple(facts) == _FACTS else "_" + "-".join(t[:2] for t in facts)
    return os.path.join(root, f"{base}_x{R}{suffix}")


def ensure_scaled(
    spark: SparkSession, sf_dir: str, R: int, facts: tuple = _FACTS
) -> str:
    """Idempotently materialize the R× replica; returns its dir.

    ``facts`` restricts WHICH fact tables are replicated (others are
    omitted entirely): the events-only KV tier at R=200 shouldn't pay
    for writing 120 M lineitem rows it never reads.
    """
    from distributed_computing_spark.sources.catalog import load_table

    facts = tuple(facts)
    if "lineitem" in facts and "pklineitem" in facts:
        # both write {dest}/lineitem.parquet; the second would win
        raise ValueError("facts may hold 'lineitem' or 'pklineitem', not both")
    dest = _scaled_dir(sf_dir, R, facts)
    manifest = os.path.join(dest, "manifest.json")
    if os.path.exists(manifest):
        try:
            m = json.load(open(manifest))
            if (
                m.get("R") == R
                and m.get("source") == sf_dir
                and m.get("v") == _LAYOUT_V
                and tuple(m.get("facts", _FACTS)) == facts
            ):
                return dest
        except Exception:
            pass
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest, exist_ok=True)

    reps = F.broadcast(spark.range(R).select(F.col("id").alias("_r")))

    # The ×R explode inherits the SOURCE's split count — 1-3 row groups
    # for every sf-tier fact — so at R≥400 the whole tens-of-GB shuffle
    # write serializes onto one task (the R800 orders+lineitem build
    # died this way; BASELINE round-12). Spread the source across the
    # cluster first: row VALUES are unchanged, only build parallelism
    # and transient-spill spread. (Pair with SPARK_GRAFT_CODEC=zstd for
    # the big tiers — ~35% less transient shuffle disk.)
    def _spread(df):
        return df.repartition(spark.sparkContext.defaultParallelism)

    if "documents" in facts:
        docs = _spread(load_table(spark, sf_dir, "documents"))
        (
            docs.crossJoin(reps)
            .select(
                (F.col("doc_id") * R + F.col("_r")).alias("doc_id"),
                F.concat("text", F.lit(" rep"), F.col("_r").cast("string")).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
            .repartition(_NFILES)
            .write.mode("overwrite")
            .parquet(f"{dest}/documents.parquet")
        )
    if "events" in facts:
        ev = _spread(load_table(spark, sf_dir, "events"))
        (
            ev.crossJoin(reps)
            .select(
                (F.col("event_id") * R + F.col("_r")).alias("event_id"),
                "ts",
                (F.col("user_id") * R + F.col("_r")).alias("user_id"),
                "event_type",
                "value",
                "props",
            )
            .repartition(_NFILES)
            .write.mode("overwrite")
            .parquet(f"{dest}/events.parquet")
        )
    if "orders" in facts:
        orders = _spread(load_table(spark, sf_dir, "orders"))
        (
            orders.crossJoin(reps)
            .withColumn("o_orderkey", F.col("o_orderkey") * R + F.col("_r"))
            .drop("_r")
            .repartition(_NFILES)
            .write.mode("overwrite")
            .parquet(f"{dest}/orders.parquet")
        )
    if "lineitem" in facts:
        lineitem = _spread(load_table(spark, sf_dir, "lineitem"))
        (
            lineitem.crossJoin(reps)
            # l_orderkey remap matches orders so join keys stay consistent
            .withColumn("l_orderkey", F.col("l_orderkey") * R + F.col("_r"))
            .drop("_r")
            .repartition(_NFILES)
            .write.mode("overwrite")
            .parquet(f"{dest}/lineitem.parquet")
        )
    if "pklineitem" in facts:
        # Round 13 (VERDICT r12 items 2c/3): a PART-KEY-SCALING lineitem
        # subset replica (suffix _pk) for the graph family's far tiers.
        # The default replica remaps only l_orderkey, so the co-purchase
        # graph's DISTINCT edge set is R-invariant (replication reuses
        # part keys and the pair-distinct dedups it away) — every
        # triangle/pagerank cell so far measured a constant-size graph.
        # Remapping l_partkey * R + _r as well yields R disconnected
        # copies of the sf graph: nodes, edges and wedge volume all
        # grow R×, which (a) pushes the oriented edge count past the
        # triangle fast-path gate (sf0.1 has 1.196 M oriented edges;
        # R≥9 crosses the 10 M gate) and (b) makes pagerank's per-round
        # cost data-scaling. NOTE: this breaks lineitem→part referential
        # integrity by design (part stays a copied dim), so part-footer
        # gates (pagerank's AQE-off bound) under-count nodes on this
        # replica — probe scripts must account for that, registry
        # queries still compute their declared semantics.
        li = _spread(load_table(spark, sf_dir, "lineitem"))
        (
            li.crossJoin(reps)
            .withColumn("l_orderkey", F.col("l_orderkey") * R + F.col("_r"))
            .withColumn("l_partkey", F.col("l_partkey") * R + F.col("_r"))
            .drop("_r")
            .repartition(_NFILES)
            .write.mode("overwrite")
            .parquet(f"{dest}/lineitem.parquet")
        )
    if "customer" in facts:
        # Round 8 (VERDICT r7 item 6): a STRING-KEYED scaling regime for
        # the FastSS edit-1 join — customer is normally a copied dim
        # (R-invariant name count, the hll_user_registers flat-ratio
        # caveat), so a subset replica (suffix _cu) remaps BOTH the key
        # and the name: c_name regenerated as Customer#%09d of the new
        # key keeps the name population's shape (zero-padded numerals,
        # dense edit-1 neighborhoods) while the distinct-name count
        # grows R×. Requested only via facts=('customer',); the full
        # default replica keeps customer in _COPY so cached tiers stay
        # valid.
        cust = _spread(load_table(spark, sf_dir, "customer"))
        (
            cust.crossJoin(reps)
            .select(
                (F.col("c_custkey") * R + F.col("_r")).alias("c_custkey"),
                F.format_string(
                    "Customer#%09d", F.col("c_custkey") * R + F.col("_r")
                ).alias("c_name"),
                "c_nationkey",
                "c_acctbal",
                "c_mktsegment",
            )
            .repartition(_NFILES)
            .write.mode("overwrite")
            .parquet(f"{dest}/customer.parquet")
        )
    if "embeddings" in facts:
        # ROADMAP backlog 4: a measured k-means slope needs embeddings to
        # GROW with R (the copied dim table times fixed cost on 5k
        # vectors at every tier). vec_id remap keeps ids unique; a small
        # deterministic per-(replica, component) perturbation keeps the
        # replicas distinct points (not R-fold exact duplicates) without
        # moving them out of their source cluster: |delta| <= 4.98e-3
        # against unit-normalized components, applied at WRITE time so
        # both engines read identical parquet. Requested only via
        # facts=('embeddings',) subset replicas (suffix _em) — the full
        # default replica keeps embeddings in _COPY so existing cached
        # tiers stay valid.
        emb = _spread(load_table(spark, sf_dir, "embeddings"))
        (
            emb.crossJoin(reps)
            .select(
                (F.col("vec_id") * R + F.col("_r")).alias("vec_id"),
                F.transform(
                    "embedding",
                    lambda v, i: (
                        v.cast("double")
                        + (
                            F.pmod(F.col("_r") * 131 + i * 17, F.lit(997))
                            - F.lit(498)
                        ).cast("double")
                        * F.lit(1e-5)
                    ).cast("float"),
                ).alias("embedding"),
                "label",
            )
            .repartition(_NFILES)
            .write.mode("overwrite")
            .parquet(f"{dest}/embeddings.parquet")
        )
    for t in _COPY:
        if t in facts:
            continue  # replicated above; don't clobber with the copy
        src = f"{sf_dir}/{t}.parquet"
        if os.path.exists(src):
            shutil.copy(src, f"{dest}/{t}.parquet")

    with open(manifest, "w") as fh:
        # "spread" is a build-recipe marker, NOT part of the cache key
        # (ADVICE r12): row VALUES are identical with or without the
        # pre-explode spread, so cached pre-spread replicas stay valid,
        # but any future layout-sensitive per-file measurement can now
        # tell which build produced a tier.
        json.dump(
            {
                "R": R,
                "source": sf_dir,
                "v": _LAYOUT_V,
                "facts": list(facts),
                "spread": True,
            },
            fh,
        )
    return dest


def _duckdb_connect(scaled: str):
    import duckdb

    con = duckdb.connect()
    for t in _FACTS + _COPY:
        p = f"{scaled}/{t}.parquet"
        if os.path.isdir(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')"
            )
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def run_crossover(
    spark: SparkSession,
    sf_dir: str,
    R: int = 20,
    queries: list[str] | None = None,
    facts: tuple = _FACTS,
) -> dict:
    """Time each query on Spark and DuckDB over the same R× data."""
    from distributed_computing_spark.registry import ORACLES, QUERIES

    queries = queries or DEFAULT_QUERIES
    scaled = ensure_scaled(spark, sf_dir, R, facts=facts)

    # Warm page cache + parquet footers on the Spark side once; DuckDB
    # then reads the same (now cached) files — neither side pays cold IO.
    from distributed_computing_spark.sources.catalog import load_table

    # Full-column noop scans: count() would read only footers/metadata,
    # leaving data pages cold — the FIRST text-heavy query would then
    # pay the corpus' cold IO while the other engine reads a warmed
    # page cache. After this, neither side pays cold IO.
    rows = {}
    for t in dict.fromkeys(_FACTS + tuple(facts)):
        if not os.path.exists(f"{scaled}/{t}.parquet"):
            continue  # subset replica (facts=...) omits unused tables
        df = load_table(spark, scaled, t)
        rows[t] = df.count()
        df.write.format("noop").mode("overwrite").save()

    # Warm the Python/Arrow worker daemons (same rationale as bench.py:
    # the first pandas_udf query otherwise pays ~4-5 s of numpy/pandas
    # imports across local[32] — startup, not throughput).
    @F.pandas_udf("double")
    def _warm(v):
        return v * 1.0

    spark.range(10000).repartition(64).select(
        _warm(F.col("id").cast("double"))
    ).count()

    # Spark-only mode: for tiers where the DuckDB side is a KNOWN DNF
    # (the 50x/100x recursive-closure OOMs, BASELINE.md) — re-running a
    # 30-minute OOM to reconfirm it wastes the box; record the Spark
    # datum and mark DuckDB DNF-by-implication.
    spark_only = os.environ.get("SPARK_GRAFT_CROSSOVER_SPARK_ONLY") == "1"
    con = None if spark_only else _duckdb_connect(scaled)
    out: dict[str, dict[str, float]] = {}
    spark_total = duck_total = 0.0
    for name in queries:
        t0 = time.time()
        # noop write = full materialization of every output column;
        # .count() would let Catalyst prune computed projections while
        # DuckDB's fetchall pays for them — an unfair comparison.
        QUERIES[name](spark, scaled).write.format("noop").mode("overwrite").save()
        s = round(time.time() - t0, 3)
        from distributed_computing_spark.caching import release_tracked

        release_tracked()  # builder persists don't leak across timings
        if spark_only:
            out[name] = {"spark_s": s, "duckdb_s": None}
            spark_total += s
            continue
        t0 = time.time()
        con.execute(ORACLES[name]).fetchall()
        d = round(time.time() - t0, 3)
        out[name] = {"spark_s": s, "duckdb_s": d}
        spark_total += s
        duck_total += d
    if con is not None:
        con.close()
    return {
        "R": R,
        "rows": rows,
        "queries": out,
        "spark_total_s": round(spark_total, 3),
        "duckdb_total_s": round(duck_total, 3),
        "spark_over_duckdb": (
            None if spark_only else round(spark_total / max(duck_total, 1e-9), 3)
        ),
        "weak": weak_cells(out),
    }


if __name__ == "__main__":
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from distributed_computing_spark.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    R = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    names = sys.argv[3:] or None  # e.g. the offline dedup-tier runs
    # SPARK_GRAFT_CROSSOVER_FACTS=events,orders restricts replication to
    # a fact subset (events-only KV tier at R=200 skips 120M lineitem)
    facts_env = os.environ.get("SPARK_GRAFT_CROSSOVER_FACTS")
    facts = tuple(facts_env.split(",")) if facts_env else _FACTS
    sp = get_spark(app_name="crossover")
    sp.sparkContext.setLogLevel("ERROR")
    print(json.dumps(run_crossover(sp, sf, R, queries=names, facts=facts), indent=2))
