"""Resume idempotence (BASELINE.md target row): a rebuild from checkpointed
stage boundaries yields byte-identical triples — full resume (all manifests
match), partial resume (link stages recomputed from the parse checkpoint),
an ad-hoc build (scratch dir, no resume) equal to the checkpointed one, and
a fingerprint change forcing a real rebuild."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from joern_spark.session import get_spark
    yield get_spark(master="local[4]", app="test_resume", shuffle_partitions=8)


def _triples(out):
    rows = (out["edges"].select(
        F.col("src").cast("string"), F.col("dst").cast("string"),
        "label", F.coalesce("variable", F.lit(""))).collect())
    return sorted(tuple(r) for r in rows)


def _nodes_sig(out):
    r = out["nodes"].agg(
        F.count("*").alias("c"),
        F.expr("bit_xor(xxhash64(id, kind, coalesce(full_name, ''), "
               "coalesce(code, '')))").alias("h")).collect()[0]
    return (r["c"], r["h"])


LINK_STAGES = ("extras", "canonical", "edges_rest", "edges_call")


def test_resume_idempotent(spark, tmp_path_factory):
    from joern_spark.corpus import fixture_source
    from joern_spark.plans.pipeline import build_cpg

    d = str(tmp_path_factory.mktemp("resume") / "cpg")
    src = fixture_source(spark)

    out1 = build_cpg(spark, src, out_dir=d)
    t1, n1 = _triples(out1), _nodes_sig(out1)
    assert t1, "no triples built"

    # 1. full resume: every stage manifest matches -> pure parquet reads
    mtimes = {s: os.path.getmtime(os.path.join(d, s, "_manifest.json"))
              for s in ("nodes",) + LINK_STAGES}
    out2 = build_cpg(spark, src, out_dir=d)
    assert _triples(out2) == t1
    assert _nodes_sig(out2) == n1
    for s, m in mtimes.items():
        assert os.path.getmtime(os.path.join(d, s, "_manifest.json")) == m, \
            f"stage {s} was rebuilt on a clean resume"

    # 2. partial resume: drop the link-stage manifests, keep the parse
    # checkpoint -> linking recomputes from the nodes parquet, same triples
    for s in LINK_STAGES:
        os.remove(os.path.join(d, s, "_manifest.json"))
    out3 = build_cpg(spark, src, out_dir=d)
    assert _triples(out3) == t1
    assert _nodes_sig(out3) == n1

    # 3. manifest rows stay truthful across resume paths
    rows = 0
    for s in ("edges_rest", "edges_call"):
        with open(os.path.join(d, s, "_manifest.json")) as f:
            rows += json.load(f)["rows"]
    assert rows == len(t1)

    # 3b. an ad-hoc build (scratch dir, never resumed) builds the same graph
    out0 = build_cpg(spark, src, out_dir=None)
    assert _triples(out0) == t1
    assert _nodes_sig(out0) == n1
    assert out0.keys() == out1.keys() == out2.keys() == out3.keys()

    # 4. input change -> fingerprint mismatch -> stale checkpoints ignored
    extra = spark.createDataFrame(
        [("fixtures/extra", "src/extra.c", "f" * 40, "c",
          "int extra_fn(int a) { return a + 1; }")],
        "repo string, path string, commit string, lang string, content string")
    out4 = build_cpg(spark, src.unionByName(extra), out_dir=d)
    t4 = _triples(out4)
    assert len(t4) > len(t1)
    assert out4["nodes"].filter(F.col("full_name") == "extra_fn").count() == 1
