"""bench.py's stdout tail record and the crossover weak list.

Callers keep only the last 2000 chars of bench stdout, so the tail
line is a fixed projection of the payload that must fit _TAIL_BUDGET
at its widest; the weak list with its far-tier dispositions lives in
.bench_full.json. Pure-python tests, no Spark session.
"""

from __future__ import annotations

import copy
import json

import pytest

_XO_CELLS = ("dup_spans", "minhash_lsh_exact", "copurchase_triangles", "bigram_pmi")


def _payload(cell_s: float) -> dict:
    from bench import HEADLINE
    from tools.crossover import DEFAULT_QUERIES, weak_cells

    queries = {name: cell_s for name in HEADLINE}
    queries.update({f"xo20:{q}": cell_s for q in _XO_CELLS})
    xo_queries = {
        name: {"spark_s": 12.345, "duckdb_s": 3.456} for name in DEFAULT_QUERIES
    }
    return {
        "metric": "headline_queries_total",
        "value": 164.549,
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "crossover": {
            "R": 20,
            "rows": {t: 12_000_000 for t in ("documents", "events", "orders")},
            "queries": xo_queries,
            "spark_total_s": 1234.567,
            "duckdb_total_s": 1234.567,
            "spark_over_duckdb": 0.871,
            "weak": weak_cells(xo_queries),
        },
    }


def _line(payload: dict) -> str:
    from bench import _compact_for_tail

    return json.dumps(_compact_for_tail(payload), separators=(",", ":"))


def test_compact_line_fits_tail_budget():
    """Every HEADLINE cell plus the four xo20: cells at their widest
    print (4 chars), next to the crossover summary, fits the budget —
    nothing is ever shed."""
    from bench import _TAIL_BUDGET, HEADLINE
    from tools.crossover import DEFAULT_QUERIES

    payload = _payload(12.34)
    line = _line(payload)
    assert len(line) <= _TAIL_BUDGET, len(line)
    back = json.loads(line)
    assert len(back["queries"]) == len(HEADLINE) + len(_XO_CELLS)
    assert all(v == 12.3 for v in back["queries"].values())
    assert back["value"] == 164.549
    assert back["crossover"] == {
        "R": 20,
        "spark_total_s": 1234.6,
        "duckdb_total_s": 1234.6,
        "spark_over_duckdb": 0.871,
        "n_weak_total": len(DEFAULT_QUERIES),  # every cell is 3.6x
    }


@pytest.mark.parametrize("seconds, printed", [(0.04, 0.04), (0.5, 0.5), (0.996, 1.0)])
def test_subsecond_cells_print_nonzero(seconds, printed):
    back = json.loads(_line(_payload(seconds)))
    assert set(back["queries"].values()) == {printed}


def test_compact_does_not_mutate_payload_or_tier_globals():
    from tools import crossover

    far_before = copy.deepcopy(crossover.FAR_TIERS)
    payload = _payload(1.2345)
    payload["crossover"]["error"] = "x" * 300
    before = copy.deepcopy(payload)
    out = json.loads(_line(payload))
    assert payload == before, "caller's payload mutated"
    assert crossover.FAR_TIERS == far_before, "FAR_TIERS mutated"
    assert out["crossover"]["error"] == "x" * 100


def test_shed_without_queries_copies_crossover():
    """A crossover without per-query pairs or a weak list still gets
    its summary on the tail, in a new dict; the caller's stays whole."""
    from bench import _compact_for_tail

    payload = _payload(2.0)
    for k in ("queries", "weak"):
        del payload["crossover"][k]
    before = copy.deepcopy(payload)
    out = _compact_for_tail(payload)
    assert payload == before, "caller's crossover mutated"
    assert out["crossover"] is not payload["crossover"]
    assert out["crossover"] == {
        "R": 20,
        "spark_total_s": 1234.6,
        "duckdb_total_s": 1234.6,
        "spark_over_duckdb": 0.871,
    }


def test_live_recorded_tables_all_popped_and_line_fits():
    """The tail whitelists its crossover keys, so no table the payload
    carries (replica rows, per-query pairs, the weak list, the far
    tiers, or any future ``*_tier_recorded`` key) reaches the line."""
    from bench import _TAIL_BUDGET
    from tools.crossover import FAR_TIERS

    payload = _payload(12.34)
    payload["crossover"]["far_tiers"] = dict(FAR_TIERS)
    payload["crossover"]["future_tier_recorded"] = {
        name: {"R50": {"spark_s": 1.0, "duckdb_s": 2.0}} for name in FAR_TIERS
    }
    line = _line(payload)
    assert len(line) <= _TAIL_BUDGET, len(line)
    assert set(json.loads(line)["crossover"]) == {
        "R", "spark_total_s", "duckdb_total_s", "spark_over_duckdb", "n_weak_total",
    }


def test_xo_scaling_cells_shed_last():
    """The four xo20: scaling cells are never shed: each is on the
    widest line, under its own name, at tail precision."""
    from bench import _TAIL_BUDGET

    payload = _payload(12.34)
    for q, s in zip(_XO_CELLS, (0.043, 12.34, 62.24, 427.04)):
        payload["queries"][f"xo20:{q}"] = s
    line = _line(payload)
    assert len(line) <= _TAIL_BUDGET, len(line)
    kept = {k: v for k, v in json.loads(line)["queries"].items() if k.startswith("xo20:")}
    assert kept == {
        "xo20:dup_spans": 0.04,
        "xo20:minhash_lsh_exact": 12.3,
        "xo20:copurchase_triangles": 62.2,
        "xo20:bigram_pmi": 427.0,
    }


def test_weak_disposition_matches_recorded_classes():
    """One cell per class, each as the recorded-tier tables gave it."""
    from tools.crossover import weak_disposition

    assert weak_disposition("dominant_part_suppliers", 5.0) == ["R400", 0.1, "win"]
    assert weak_disposition("dup_spans", 3.0) == ["R100", None, "win"]  # DuckDB DNF
    assert weak_disposition("custdist_histogram", 54.8) == ["R400", 7.19, "floor"]
    assert weak_disposition("bigram_pmi", 12.0) == ["R200", 4.92, "converging"]
    assert weak_disposition("nation_trade_volume", 5.0) == ["R400", 6.12, "open"]
    assert weak_disposition("word_count_top10", 7.0) == ["-", None, "open"]


def test_weak_cells_worst_first_with_dispositions():
    from tools.crossover import weak_cells

    weak = weak_cells({
        "bigram_pmi": {"spark_s": 3.6, "duckdb_s": 0.3},
        "word_count_top10": {"spark_s": 7.0, "duckdb_s": 0.5},
        "fast_query": {"spark_s": 0.5, "duckdb_s": 1.0},
        "spark_only": {"spark_s": 9.0, "duckdb_s": None},
    })
    assert weak == {
        "word_count_top10": {
            "ratio": 14.0, "far_tier": "-", "far_ratio": None, "class": "open",
        },
        "bigram_pmi": {
            "ratio": 12.0, "far_tier": "R200", "far_ratio": 4.92,
            "class": "converging",
        },
    }
