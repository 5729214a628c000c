"""The benchmark workloads.

Every workload is one closed-loop client on one ``local[nproc]`` session:
it sends its next operation only after the previous one returned. A run
generates the seeded inputs (not timed), starts the JVM and the session
and primes it with untimed operations (``setup_s``), runs a fixed amount
of work, then checks every answer against an independent oracle outside
the timed region.

- ``corpus_batch``: one pass of six registry batch jobs over a seeded
  document corpus: scan, Python/Arrow workers, shuffle and the dedup
  pair exchange.
- ``kv_ops``: a seeded request log applied in micro-batches through
  ``KVTableStore.apply_batch``, with point reads after every batch and a
  shard reconfiguration every few batches.
"""

from __future__ import annotations

import os
import random
import time
from collections import Counter

from perfbench import gen
from perfbench.trace import median, tail

# Every run does the same work, whatever --seconds says, so a faster
# program is measured on the same operations. perfbench/RECORD.md gives
# the source of each input parameter below.
CORPUS = gen.CorpusSpec(n_docs=2000, dup_share=0.0016, near_share=0.05, zipf_s=1.0)
CORPUS_JOBS = (
    "word_count_top10",
    "mapreduce_wordcount",
    "inverted_index",
    "corpus_pipeline",
    "minhash_lsh_exact",
    "ngram_jaccard_pairs",
)
# The corpus prime runs only the first job: it starts the Python workers
# and Arrow, and reads the corpus into the page cache. Priming all six
# costs about 40 s a run, which the run budget (48 runs in 3 420 s) cannot afford,
# so the other jobs pay their own plan building and code generation.
CORPUS_PRIME_JOBS = CORPUS_JOBS[:1]

KV_BATCH = 500
KV_BATCHES = 6
# The JVM keeps compiling the write path for about a dozen batches: on
# the 4-vCPU machine of perfbench/RECORD.md a batch took about 12 s (the
# first), 2 s (the third) and 1.5 s (the eleventh). A timed batch on that
# slope is the slowest of its run and swings with how far the compiler
# has got, and job_tail_s with it; from the eleventh on, batches are
# level.
KV_PRIME_BATCHES = 10
# reads warm within three calls (1.0 s, 0.27 s, then 0.21 s)
KV_PRIME_READS = 3
KV_GETS_PER_BATCH = 1
KV_RECONFIG_EVERY = 3
KV_LOG = gen.OpsSpec(
    n_ops=(KV_BATCHES + KV_PRIME_BATCHES) * KV_BATCH, n_clients=50, n_keys=20, zipf_s=0.99,
    put_share=0.4, append_share=0.4, retry_share=0.08, stale_share=0.04,
)
KV_GROUPS = {1: ["g1a"], 2: ["g2a"], 3: ["g3a"]}


class RunContext:
    """What a workload needs from the harness: the session factory, the
    tracer, the work dir and the result lists."""

    def __init__(self, seed: int, work: str, tracer, session_factory):
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.new_session = session_factory
        self.spark = None
        self.create_s = self.warm_s = 0.0
        self.op_spans = []  # root span of every timed operation (traced runs)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.layer: Counter = Counter()  # per-layer counts measured by the harness
        self.report: dict = {}

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)

    def setup(self, prime) -> None:
        """Start the JVM and the session (``session.create``), then run
        ``prime`` (``session.warm``): measured operations, untimed, on
        the same inputs, so the timed work starts with the Python
        workers, the page cache and what the prime compiled warm.
        ``setup_s`` is both, the cold JVM start included."""
        t0 = time.perf_counter()
        with self.tracer.span("session.create"):
            self.spark = self.new_session()
        t1 = time.perf_counter()
        with self.tracer.span("session.warm"):
            prime(self.spark)
        _release_program_state()
        self.create_s, self.warm_s = t1 - t0, time.perf_counter() - t1

    @property
    def setup_s(self) -> float:
        return self.create_s + self.warm_s


def _release_program_state() -> None:
    from distributed_computing_spark import registry
    from distributed_computing_spark.caching import release_tracked

    release_tracked()
    registry.clear_kv_cache()


def _tree_status(field: str) -> dict[int, tuple[str, int]]:
    """``{pid: (command name, kB)}`` of a /proc status field, for this
    process and every live descendant (the JVM and the Python workers)."""
    parent: dict[int, int] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(pid)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, todo = set(), [os.getpid()]
    while todo:
        p = todo.pop()
        tree.add(p)
        todo.extend(c for c, pp in parent.items() if pp == p and c not in tree)
    out = {}
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                lines = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if field in lines:
            out[pid] = (lines["Name"].strip(), int(lines[field].split()[0]))
    return out


def peak_rss_mb() -> float:
    """Sum of peak resident memory (VmHWM) of the driver, the JVM and
    the Python workers."""
    return sum(kb for _, kb in _tree_status("VmHWM").values()) / 1024.0


def retained(spark) -> dict:
    """Memory the session holds between operations. ``retained_mb`` is
    the JVM heap in use after a full collection plus the resident memory
    of the Python driver; unlike a peak, it does not depend on when the
    collector happened to run. The Python workers' resident memory is
    reported beside it, not in it: how many workers are still alive at
    the end varies from run to run."""
    jvm = spark.sparkContext._jvm
    for _ in range(3):  # between collections Spark's cleaner frees the blocks of dead shuffles and broadcasts
        jvm.java.lang.System.gc()
        time.sleep(0.2)
    rt = jvm.java.lang.Runtime.getRuntime()
    heap = rt.totalMemory() - rt.freeMemory()
    rss = _tree_status("VmRSS")
    workers = [kb for pid, (comm, kb) in rss.items() if comm != "java" and pid != os.getpid()]
    return {
        "retained_mb": heap / 2**20 + rss[os.getpid()][1] / 1024.0,
        "jvm_heap_mb": heap / 2**20,
        "driver_rss_mb": rss[os.getpid()][1] / 1024.0,
        "worker_rss_mb": sum(workers) / 1024.0,
        "workers_alive": len(workers),
    }


def _time_op(run: RunContext, name: str, fn, count=None):
    """Run one timed operation; returns (seconds, result, error).
    ``count(result)`` is recorded on the span as its output rows."""
    from distributed_computing_spark import caching

    t0 = time.perf_counter()
    err = None
    result = None
    with run.tracer.span(f"op:{name}") as sp:
        try:
            result = fn()
        except Exception as e:  # an operation that raises counts as failed
            err = f"{name}: {type(e).__name__}: {str(e)[:300]}"
    dt = time.perf_counter() - t0
    if sp is not None:
        run.op_spans.append(sp)
        if count is not None and err is None:
            sp.attrs["rows"] = count(result)
    run.attempted += 1
    tracked = len(caching._TRACKED)
    caching.release_tracked()
    run.layer["caching.tracked_at_release"] += tracked
    persisted = len(run.spark.sparkContext._jsc.getPersistentRDDs())
    run.layer["caching.persisted_rdds_after_op"] = max(run.layer["caching.persisted_rdds_after_op"], persisted)
    if err is not None:
        run.fail(err)
    return dt, result, err


# ---------------------------------------------------------------------------
# corpus_batch
# ---------------------------------------------------------------------------


class _Oracle:
    """DuckDB over the same parquet files the program read."""

    def __init__(self, data_dir: str, tables) -> None:
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def expected(self, name: str):
        from distributed_computing_spark.registry import ORACLES
        from tools.check_correctness import multiset

        cur = self.con.execute(ORACLES[name])
        cols = [d[0] for d in cur.description]
        return sorted(cols), multiset(cur.fetchall(), cols)


def _registry_op(run: RunContext, data_dir: str, name: str):
    from distributed_computing_spark import registry

    def op():
        with run.tracer.span("registry.build", query=name):
            df = registry.QUERIES[name](run.spark, data_dir)
        return df.columns, [tuple(r) for r in df.collect()]

    return _time_op(run, name, op, count=lambda r: len(r[1]))


def _check_registry(run: RunContext, oracle: _Oracle, answers) -> None:
    from tools.check_correctness import multiset

    for name, (cols, rows) in answers:
        exp_cols, exp_rows = oracle.expected(name)
        if sorted(cols) != exp_cols:
            run.fail(f"{name}: columns {sorted(cols)} vs {exp_cols}")
        elif multiset(rows, cols) != exp_rows:
            run.fail(f"{name}: {len(rows)} rows differ from the oracle's {len(exp_rows)}")


def corpus_batch(run: RunContext) -> dict:
    from distributed_computing_spark import registry
    from distributed_computing_spark.caching import release_tracked

    data_dir = os.path.join(run.work, "corpus")
    docs = gen.corpus(run.seed, CORPUS)
    in_bytes = gen.write_tables({"documents": docs}, data_dir)

    def prime(spark):
        for name in CORPUS_PRIME_JOBS:
            registry.QUERIES[name](spark, data_dir).collect()
            release_tracked()

    run.setup(prime)
    lat, answers = [], []
    t_start = time.perf_counter()
    for name in CORPUS_JOBS:
        dt, result, err = _registry_op(run, data_dir, name)
        lat.append(dt)
        if err is None:
            answers.append((name, result))
    wall = time.perf_counter() - t_start
    run.report["peak_rss_mb"] = peak_rss_mb()
    run.report.update(retained(run.spark))
    _check_registry(run, _Oracle(data_dir, ["documents"]), answers)
    run.report.update(
        docs=len(docs), corpus_bytes=in_bytes, input_digest=gen.digest(docs),
        docs_per_s=CORPUS.n_docs * len(lat) / wall,
        pairs_out=sum(len(r) for n, (c, r) in answers if n in ("minhash_lsh_exact", "ngram_jaccard_pairs")),
        job_samples_s=dict(zip(CORPUS_JOBS, (round(d, 4) for d in lat))),
    )
    return _job_metrics(run, lat, work=CORPUS.n_docs * len(lat) / wall)


def _job_metrics(run: RunContext, lat, work: float) -> dict:
    t, pct, n = tail(lat)
    run.report.update(job_p50_s=median(lat), job_tail_s=t, job_tail_pct=pct, job_samples=n)
    return {"job_p50_s": median(lat), "job_tail_s": t, "work_per_s": work}


# ---------------------------------------------------------------------------
# kv_ops
# ---------------------------------------------------------------------------


class ReferenceKV:
    """Pure-Python fold of the ops log, following the reference apply
    loop: a client's request whose req_id is not above the highest one
    already applied for that client is a duplicate or stale and is
    dropped; Put resets a key, Append concatenates (a missing key starts
    empty), Get changes nothing."""

    def __init__(self) -> None:
        self.state: dict[str, str] = {}
        self.high_water: dict[int, int] = {}
        self.dropped = 0
        self.applied = 0

    def apply(self, rows) -> None:
        for _seq, client, req, op, key, value in rows:
            if req <= self.high_water.get(client, 0):
                self.dropped += 1
                continue
            self.high_water[client] = req
            self.applied += 1
            if op == "put":
                self.state[key] = value
            elif op == "append":
                self.state[key] = self.state.get(key, "") + value


def _dir_stats(path: str) -> tuple[int, int]:
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]
    return len(files), sum(os.path.getsize(f) for f in files)


def kv_ops(run: RunContext) -> dict:
    from distributed_computing_spark.operators import kv, sharding
    from distributed_computing_spark.streaming.kv_stream import OPS_SCHEMA, KVTableStore

    log = gen.ops_log(run.seed, KV_LOG)
    rng = random.Random(run.seed)

    ref = ReferenceKV()
    store = None

    def batch(spark, b: int):
        lo = b * KV_BATCH
        return spark.createDataFrame(log.iloc[lo:lo + KV_BATCH], OPS_SCHEMA), list(
            log.iloc[lo:lo + KV_BATCH].itertuples(index=False, name=None)
        )

    def prime(spark):
        """The first ``KV_PRIME_BATCHES`` batches of the log, a read
        after each of the first ``KV_PRIME_READS``, then one
        reconfiguration, untimed, on the store the timed loop goes on
        with: the first batch creates the state and the others merge
        into it, as every timed batch does."""
        nonlocal store
        store = KVTableStore(spark, os.path.join(run.work, "kv_store"))
        for b in range(KV_PRIME_BATCHES):
            df, rows = batch(spark, b)
            store.apply_batch(df)
            ref.apply(rows)
            if b < KV_PRIME_READS:
                kv.kv_get(store.state(), rows[0][4])
        pm = sharding.ShardMaster()
        pm.join(KV_GROUPS)
        sharding.migration_plan(pm.config_df(spark, 0), pm.config_df(spark)).collect()
        sharding.install_config(store.state(), pm.config_df(spark)).collect()

    run.setup(prime)
    spark = run.spark
    sm = sharding.ShardMaster()
    sm.join(KV_GROUPS)
    next_gid = max(KV_GROUPS) + 1
    keys = sorted(set(log.key))

    apply_lat, get_lat, reconfig_lat = [], [], []
    user_bytes = 0
    t_start = time.perf_counter()
    for b in range(1, KV_BATCHES + 1):
        lo = (KV_PRIME_BATCHES + b - 1) * KV_BATCH
        df, rows = batch(spark, KV_PRIME_BATCHES + b - 1)
        dt, _, err = _time_op(run, "apply_batch", lambda: store.apply_batch(df))
        apply_lat.append(dt)
        ref.apply(rows)
        user_bytes += sum(len(k) + len(v) for _, _, _, o, k, v in rows if o != "get")
        for _ in range(KV_GETS_PER_BATCH):
            key = log.key.iloc[lo + rng.randrange(KV_BATCH)] if rng.random() < 0.8 else rng.choice(keys)
            dt, got, err = _time_op(run, "kv_get", lambda: kv.kv_get(store.state(), key))
            get_lat.append(dt)
            if err is None and got != ref.state.get(key, ""):
                run.fail(f"kv_get({key}) after batch {b}: {got[:40]!r} != {ref.state.get(key, '')[:40]!r}")
        if b % KV_RECONFIG_EVERY == 0:
            old = sm.query()
            live = sorted(old.groups)

            def reconfig():
                nonlocal next_gid
                if len(live) > 2 and (b // KV_RECONFIG_EVERY) % 2 == 0:
                    sm.leave([live[0]])
                else:
                    sm.join({next_gid: [f"g{next_gid}a"]})
                    next_gid += 1
                old_df, new_df = sm.config_df(spark, old.num), sm.config_df(spark)
                moves = sharding.migration_plan(old_df, new_df).collect()
                routed_df = sharding.install_config(store.state(), new_df)
                with run.tracer.span("sharding.install_config.run"):
                    routed = routed_df.select("key", "shard", "gid").collect()
                return moves, routed

            dt, result, err = _time_op(run, "reconfig", reconfig)
            reconfig_lat.append(dt)
            if err is None:
                _check_reconfig(run, sm, old, result, ref)
    wall = time.perf_counter() - t_start
    run.report["peak_rss_mb"] = peak_rss_mb()
    run.report.update(retained(spark))

    # final state: the store, the batch replay operator and the fold agree
    final = {r["key"]: r["value"] for r in store.state().collect()}
    n_ops = KV_BATCHES * KV_BATCH
    applied_log = spark.createDataFrame(log, OPS_SCHEMA)
    replayed = {r["key"]: r["value"] for r in kv.replay(applied_log).collect()}
    run.attempted += 2
    if final != ref.state:
        run.fail(f"final state: {len(final)} keys differ from the fold's {len(ref.state)}")
    if replayed != ref.state:
        run.fail(f"replay: {len(replayed)} keys differ from the fold's {len(ref.state)}")

    n_files, state_bytes = _dir_stats(store.state_dir)
    live_user_bytes = sum(len(k) + len(v) for k, v in ref.state.items())
    run.layer["kv.dedup_drop_share"] = ref.dropped / len(log)
    run.layer["sinks.state_files"] = n_files
    run.layer["kv.batch_user_bytes"] = user_bytes
    run.layer["kv.batches"] = KV_BATCHES
    ta, pa, na = tail(apply_lat)
    tg, pg, ng = tail(get_lat)
    run.report.update(
        ops=n_ops, batch_size=KV_BATCH, batches=KV_BATCHES, prime_batches=KV_PRIME_BATCHES, log_clients=KV_LOG.n_clients, input_digest=gen.digest(log),
        final_keys=len(ref.state), final_state_user_bytes=live_user_bytes, state_dir_bytes=state_bytes,
        apply_p50_s=median(apply_lat), apply_tail_s=ta, apply_tail_pct=pa, apply_samples=na,
        get_p50_s=median(get_lat), get_tail_s=tg, get_tail_pct=pg, get_samples=ng,
        reconfig_p50_s=median(reconfig_lat), reconfig_samples=len(reconfig_lat),
        apply_samples_s=[round(d, 4) for d in apply_lat], get_samples_s=[round(d, 4) for d in get_lat],
        ops_per_s=n_ops / wall, state_bytes_per_user_byte=state_bytes / max(1, live_user_bytes),
    )
    return {"job_p50_s": median(apply_lat), "job_tail_s": ta, "work_per_s": n_ops / wall}


def _check_reconfig(run: RunContext, sm, old, result, ref: ReferenceKV) -> None:
    moves, routed = result
    new = sm.query()
    if sm.balance_spread() > 1:
        run.fail(f"config {new.num}: balance spread {sm.balance_spread()} > 1")
    seen = Counter(r["key"] for r in routed)
    if set(seen) != set(ref.state) or any(c != 1 for c in seen.values()):
        run.fail(f"install_config {new.num}: keys lost or duplicated")
    for r in routed:
        if r["gid"] != new.shards[r["shard"]]:
            run.fail(f"install_config {new.num}: key {r['key']} routed to gid {r['gid']}")
            break
    moved_shards = {m["shard"] for m in moves}
    expected = {s for s in range(len(new.shards)) if new.shards[s] != old.shards[s]}
    if moved_shards != expected:
        run.fail(f"migration_plan {new.num}: shards {sorted(moved_shards)} != {sorted(expected)}")
    run.layer["sharding.keys_moved"] += sum(1 for r in routed if r["shard"] in expected)
    run.layer["sharding.reconfigs"] += 1
    run.layer["sharding.balance_spread"] = max(run.layer["sharding.balance_spread"], sm.balance_spread())


WORKLOADS = {"corpus_batch": corpus_batch, "kv_ops": kv_ops}
