"""``tools/edge_sweep.merge_edges``: a run over some edge corpora refreshes
only their entries of CORRECTNESS_EDGE.json. Pure dict logic, no Spark."""

from __future__ import annotations

from tools.edge_sweep import merge_edges


def _entry(n_expected: int, n_unexplained: int) -> dict:
    return {
        "n_queries": 3,
        "n_match": 3 - n_expected - n_unexplained,
        "expected_divergences": {f"e{i}": {} for i in range(n_expected)},
        "unexplained_failures": {f"u{i}": {} for i in range(n_unexplained)},
    }


def test_one_corpus_run_keeps_the_other_corpora():
    previous = merge_edges({}, {"empty": _entry(1, 0), "all_null": _entry(2, 1), "unicode": _entry(0, 1)})
    assert (previous["total_expected_divergences"], previous["total_unexplained_failures"]) == (3, 2)

    merged = merge_edges(previous, {"all_null": _entry(4, 0)})
    assert merged["edges"]["empty"] == previous["edges"]["empty"]
    assert merged["edges"]["unicode"] == previous["edges"]["unicode"]
    assert merged["edges"]["all_null"] == _entry(4, 0)
    assert merged["total_expected_divergences"] == 1 + 4 + 0
    assert merged["total_unexplained_failures"] == 0 + 0 + 1


def test_first_run_without_an_artifact_records_what_ran():
    merged = merge_edges({}, {"empty": _entry(1, 0)})
    assert list(merged["edges"]) == ["empty"]
    assert merged["total_expected_divergences"] == 1
