"""Seeded benchmark inputs and the roll-up their graphs must reproduce."""

from __future__ import annotations

import random

COMMIT = "b" * 40
BULK_C_FILES = 200
BULK_C_REPOS = 97
POLYGLOT_COPIES = 2

Row = tuple[str, str, str, str, str]  # (repo, path, commit, lang, content)


def bulk_c_rows(seed: int) -> list[Row]:
    """Synthetic C files from the ``corpus.bench_source`` template, with the
    same shape of skew: one mega-repo holds about a fifth of the files, the
    other repos are Zipf-sized, every file calls the hot externals
    printf/malloc/free and its repo's shared unresolved ``extern_sink_<k>``.
    The seed picks symbol names, thresholds and repo sizes; every file has
    the same template, so the work per file does not depend on the seed."""
    from joern_spark.corpus import BENCH_C_TEMPLATE

    template = BENCH_C_TEMPLATE.replace('printf("%s", acc)', 'printf("%%d", acc)')
    rng = random.Random(seed)
    syms = rng.sample(range(1 << 40), BULK_C_FILES)
    weights = [1.0 / (k + 1) for k in range(BULK_C_REPOS)]
    rows = []
    for sym_id in syms:
        k = rng.choices(range(BULK_C_REPOS), weights)[0]
        repo = "megarepo" if rng.random() < 0.2 else f"repo_{k}"
        sym = format(sym_id, "x")
        content = template % (sym, rng.randrange(100), sym, sym, k)
        rows.append((repo, f"src/gen_{sym}.c", COMMIT, "c", content))
    return rows


def polyglot_rows(seed: int) -> list[Row]:
    """The parity corpus (C, C++, Java and JavaScript cases), POLYGLOT_COPIES
    times over in an order the seed shuffles. Copy ``i`` lives in repo
    ``parity_<i>`` under the directory ``copy<i>/``, so no two files share a
    path and relative JavaScript imports still resolve inside their copy."""
    from joern_spark import parity as P

    rows = [(f"parity_{i}", f"copy{i}/{path}", COMMIT, c["lang"], content)
            for i in range(POLYGLOT_COPIES)
            for c in P.corpus() for path, content in P.case_sources(c)]
    random.Random(seed).shuffle(rows)
    return rows


def expected_rollup(src) -> dict[tuple[str, str], tuple[int, int]]:
    """(repo, lang) -> (n_files, sha_rollup) that the graph's ``metrics``
    table must hold: the xor of xxhash64(repo, path, commit, sha256(content))
    over each (repo, lang)'s files, computed from the input DataFrame with
    Spark's own functions only."""
    from pyspark.sql import functions as F

    h = F.xxhash64("repo", "path", "commit", F.sha2("content", 256)).alias("h")
    rows = (src.select("repo", "lang", h).groupBy("repo", "lang")
            .agg(F.count("*").alias("n"), F.expr("bit_xor(h)").alias("x"))
            .collect())
    return {(r["repo"], r["lang"]): (r["n"], r["x"]) for r in rows}
