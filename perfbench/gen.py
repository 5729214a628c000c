"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its arguments: the same seed gives
byte-identical inputs, so two runs (or two commits) measure the same
data. The program under test only ever sees the generated files.
``perfbench/RECORD.md`` names the source of every parameter.

- ``corpus``: the documents table of the ``corpus_batch`` workload. It
  keeps the shape of the generated sf0.1 ``documents`` table (its
  31-word vocabulary, its language mix, 10-100 words per document,
  ``src{doc_id % 20}`` sources, its duplicate shares and its near
  duplicates, an earlier document with `` dup`` appended), scaled up,
  and adds Zipf word skew, which the uniform sf0.1 text lacks.
- ``ops_log``: the client request log of ``kv_ops``.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# The sf0.1 documents vocabulary, language mix and source count.
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_MIX = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
MIN_WORDS, MAX_WORDS = 10, 100
NEAR_DUP_MARK = "dup"  # what sf0.1 appends to an earlier doc to make a near duplicate


@dataclass(frozen=True)
class CorpusSpec:
    n_docs: int
    dup_share: float  # docs whose text is a copy of an earlier doc
    near_share: float  # docs that are an earlier doc plus NEAR_DUP_MARK
    zipf_s: float  # word-rank exponent; 0 is the uniform sf0.1 text


def _words(rng: np.random.Generator, n_docs: int, zipf_s: float) -> list[list[str]]:
    ranks = np.arange(1, len(VOCAB) + 1, dtype=np.float64)
    p = ranks ** -zipf_s
    p /= p.sum()
    order = rng.permutation(len(VOCAB))  # which word gets which rank
    lengths = rng.integers(MIN_WORDS, MAX_WORDS + 1, size=n_docs)
    flat = rng.choice(len(VOCAB), size=int(lengths.sum()), p=p)
    vocab = np.array(VOCAB, dtype=object)[order]
    out, pos = [], 0
    for n in lengths:
        out.append(list(vocab[flat[pos:pos + n]]))
        pos += n
    return out


def corpus(seed: int, spec: CorpusSpec) -> pd.DataFrame:
    """Documents table ``(doc_id, text, lang, source, n_chars)``."""
    rng = np.random.default_rng([seed, 1])
    docs = _words(rng, spec.n_docs, spec.zipf_s)
    kind = rng.random(spec.n_docs)
    for i in range(1, spec.n_docs):
        if kind[i] < spec.dup_share + spec.near_share:
            src = docs[int(rng.integers(0, i))]
            docs[i] = list(src) if kind[i] < spec.dup_share else list(src) + [NEAR_DUP_MARK]
    text = [" ".join(w) for w in docs]
    lang = rng.choice(len(LANGS), size=spec.n_docs, p=LANG_MIX)
    ids = np.arange(spec.n_docs, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": pd.Series(text, dtype=object),
            "lang": pd.Series([LANGS[k] for k in lang], dtype=object),
            "source": pd.Series([f"src{i % N_SOURCES}" for i in ids], dtype=object),
            "n_chars": pd.Series([len(t) for t in text], dtype="int64"),
        }
    )


def write_tables(frames: dict[str, pd.DataFrame], out_dir: str) -> int:
    """Write each frame as ``<out_dir>/<name>.parquet``; returns bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, df in frames.items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


# ---------------------------------------------------------------------------
# kv_ops request log
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class OpsSpec:
    n_ops: int
    n_clients: int
    n_keys: int
    zipf_s: float
    put_share: float
    append_share: float  # the rest are gets
    retry_share: float  # re-sends of the client's previous request
    stale_share: float  # requests carrying an older req_id


def ops_log(seed: int, spec: OpsSpec) -> pd.DataFrame:
    """Totally ordered ops log ``(seq, client_id, req_id, op, key, value)``.

    Each client numbers its requests 1, 2, 3, ...; a retry re-sends the
    client's last request unchanged (same req_id, op, key and value) and
    a stale request reuses an older req_id, so the exactly-once filter
    has both kinds to drop.
    """
    rng = np.random.default_rng([seed, 3])
    ranks = np.arange(1, spec.n_keys + 1, dtype=np.float64)
    p = ranks ** -spec.zipf_s
    p /= p.sum()
    key_of_rank = rng.permutation(spec.n_keys)
    # keys and values have the form ops_from_events gives them: the key
    # a small integer as a string, the value two letters and a digit
    keys = [str(key_of_rank[r]) for r in rng.choice(spec.n_keys, size=spec.n_ops, p=p)]
    kinds = rng.random(spec.n_ops)
    clients = rng.integers(0, spec.n_clients, spec.n_ops)
    u = rng.random(spec.n_ops)
    stale = rng.random(spec.n_ops)
    next_req = [1] * spec.n_clients
    last: list[tuple | None] = [None] * spec.n_clients
    rows = []
    for seq in range(spec.n_ops):
        c = int(clients[seq])
        kind = kinds[seq]
        op = "put" if kind < spec.put_share else "append" if kind < spec.put_share + spec.append_share else "get"
        fresh = (op, keys[seq], "" if op == "get" else f"{op[:2]}{seq % 10}")
        if u[seq] < spec.retry_share and last[c] is not None:
            req, op, key, value = last[c]
        elif u[seq] < spec.retry_share + spec.stale_share and next_req[c] > 2:
            req = 1 + int(stale[seq] * (next_req[c] - 2))  # in [1, last req - 1]
            op, key, value = fresh
        else:
            req = next_req[c]
            next_req[c] += 1
            op, key, value = fresh
            last[c] = (req, op, key, value)
        rows.append((seq, c, req, op, key, value))
    return pd.DataFrame(rows, columns=["seq", "client_id", "req_id", "op", "key", "value"]).astype(
        {"seq": "int64", "client_id": "int64", "req_id": "int64"}
    )


def digest(df: pd.DataFrame) -> str:
    """Content digest of a generated frame (row order and dtypes included)."""
    h = hashlib.sha256()
    h.update(repr(list(df.dtypes.astype(str))).encode())
    for col in df.columns:
        h.update(col.encode())
        h.update(repr(df[col].map(lambda v: v.tolist() if hasattr(v, "tolist") else v).tolist()).encode())
    return h.hexdigest()
