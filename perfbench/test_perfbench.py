"""Tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json

import pytest

from perfbench import gen
from perfbench.trace import Span, covered, driver_gap, read_event_logs, self_time, tail
from perfbench.workloads import CORPUS, KV_LOG, ReferenceKV

SMALL_CORPUS = gen.CorpusSpec(n_docs=300, dup_share=0.05, near_share=0.1, zipf_s=1.0)
SMALL_LOG = gen.OpsSpec(
    n_ops=2000, n_clients=4, n_keys=20, zipf_s=0.99,
    put_share=0.4, append_share=0.4, retry_share=0.08, stale_share=0.04,
)


@pytest.mark.parametrize(
    "make",
    [
        lambda seed: gen.corpus(seed, SMALL_CORPUS),
        lambda seed: gen.ops_log(seed, SMALL_LOG),
    ],
    ids=["corpus", "ops_log"],
)
def test_same_seed_same_digest_other_seed_other_digest(make):
    assert gen.digest(make(7)) == gen.digest(make(7))
    assert gen.digest(make(7)) != gen.digest(make(8))


def test_corpus_has_the_stated_duplicate_shares():
    docs = gen.corpus(3, CORPUS)
    dup = 1 - docs.text.nunique() / len(docs)
    assert abs(dup - CORPUS.dup_share) < 0.005
    texts = set(docs.text)
    near = sum(t.endswith(" " + gen.NEAR_DUP_MARK) and t[: -len(gen.NEAR_DUP_MARK) - 1] in texts for t in docs.text)
    assert abs(near / len(docs) - CORPUS.near_share) < 0.02
    assert set(docs.lang) == set(gen.LANGS)
    assert docs.n_chars.equals(docs.text.str.len())


def test_ops_log_has_retries_and_stale_requests():
    log = gen.ops_log(5, KV_LOG)
    ref = ReferenceKV()
    ref.apply(log.itertuples(index=False, name=None))
    share = ref.dropped / len(log)
    assert KV_LOG.retry_share * 0.5 < share < (KV_LOG.retry_share + KV_LOG.stale_share) * 1.5
    # keys spread over every shard: key[0] % 10 takes all ten values
    assert {ord(k[0]) % 10 for k in log.key} == set(range(10))


def test_reference_fold_follows_the_apply_loop():
    ref = ReferenceKV()
    ref.apply([
        (0, 1, 1, "put", "a", "x"),
        (1, 1, 2, "append", "a", "y"),
        (2, 1, 2, "append", "a", "y"),  # retry of req 2: dropped
        (3, 2, 1, "append", "b", "p"),  # missing key starts empty
        (4, 1, 1, "put", "a", "stale"),  # stale req_id: dropped
        (5, 2, 2, "get", "a", ""),
        (6, 2, 2, "append", "b", "q"),  # req 2 already used by the get
        (7, 2, 3, "put", "b", "r"),  # put resets
        (8, 2, 4, "append", "b", "s"),
    ])
    assert ref.state == {"a": "xy", "b": "rs"}
    assert ref.dropped == 3


@pytest.mark.parametrize(
    "n, index, pct",
    [(1, 0, 100.0), (10, 9, 100.0), (11, 0, 100 / 11), (20, 9, 50.0), (100, 89, 90.0), (1000, 989, 99.0)],
)
def test_tail_is_the_highest_percentile_with_ten_samples_beyond(n, index, pct):
    xs = [float(i) for i in range(n)][::-1]
    value, p, count = tail(xs)
    assert (value, count) == (float(index), n)
    assert p == pytest.approx(pct)
    if n > 10:
        assert sum(x > value for x in xs) == 10


def test_tail_needs_samples():
    with pytest.raises(ValueError):
        tail([])


def test_covered_merges_overlaps_and_clips_to_the_window():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([(11, 12)], 0, 10) == 0


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", parent, "run", start, end)


def test_self_time_subtracts_the_union_of_children():
    root = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 4.0, 0), _span(2, 3.0, 6.0, 0), _span(3, 9.0, 12.0, 0)]
    assert self_time(root, kids) == pytest.approx(10 - 5 - 1)
    assert self_time(root, []) == 10


def test_driver_gap_is_wall_time_not_covered_by_jobs():
    op = _span(0, 100.0, 110.0)
    jobs = [(101.0, 103.0), (102.5, 104.0), (108.0, 109.5)]
    assert driver_gap(op, jobs) == pytest.approx(10 - 3 - 1.5)
    assert driver_gap(op, []) == 10


def test_event_log_charges_jobs_stages_and_tasks_to_their_span(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "pb:4"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1, "RDD Info": [
            {"Name": "MapPartitionsRDD", "Scope": json.dumps({"id": "3", "name": "MapInPandas"})}]}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task End Reason": {"Reason": "Success"},
         "Task Info": {"Accumulables": [{"Name": "time to run Python workers", "Update": "250"}]},
         "Task Metrics": {"Executor Run Time": 400, "Executor CPU Time": 3 * 10**8, "JVM GC Time": 10,
                          "Disk Bytes Spilled": 0, "Input Metrics": {"Bytes Read": 64, "Records Read": 8},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 32, "Shuffle Records Written": 4}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task End Reason": {"Reason": "ExceptionFailure"},
         "Task Info": {}, "Task Metrics": {"Executor Run Time": 100}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3000, "Stage IDs": [2],
         "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3100},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n{\"Event\": ")
    jobs, stages = read_event_logs(str(tmp_path))
    assert list(jobs) == [4]  # the ungrouped job is nobody's
    (job,) = jobs[4]
    assert (job.start, job.end) == (1.0, 2.5)
    st = stages[job.stages[1]]
    assert st.python and st.tasks == 2 and st.failures == 1
    assert st.run_s == pytest.approx(0.5) and st.cpu_s == pytest.approx(0.3)
    assert st.python_s == pytest.approx(0.25)
    assert (st.input_rows, st.input_bytes, st.shuffle_write_records) == (8, 64, 4)
