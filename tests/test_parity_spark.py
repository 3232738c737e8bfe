"""The distributed parity extractor must score exactly what the sequential
one scores: every (lang, relation) row of ``spark_facts.parity_scores`` (the
driver's ``cpg_parity`` result) equals ``score_corpus()``'s summary in
tp/fp/fn. A relation that one extractor emits and the other does not shows
up here as a missing row or a false-negative count."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def spark():
    from joern_spark.session import get_spark
    yield get_spark(master="local[4]", app="test_parity_spark",
                    shuffle_partitions=8)


def test_spark_parity_matches_sequential(spark):
    from joern_spark.parity import score_corpus
    from joern_spark.parity.spark_facts import parity_scores

    _rows, summary = score_corpus()
    want = {(lang, rel): (tp, fp, fn)
            for lang, rel, tp, fp, fn, _p, _r in summary}
    got = {(r["lang"], r["relation"]): (r["tp"], r["fp"], r["fn"])
           for r in parity_scores(spark).collect()}
    assert got.keys() == want.keys(), (
        f"spark-only: {sorted(got.keys() - want.keys())}, "
        f"sequential-only: {sorted(want.keys() - got.keys())}")
    diff = {k: (got[k], want[k]) for k in want if got[k] != want[k]}
    assert not diff, f"(spark, sequential) tp/fp/fn differ: {diff}"
