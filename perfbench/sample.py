"""One benchmark sample, in a fresh Python process with its own JVM.

``run.py`` starts this script as the leader of a new session, with the
checkout on PYTHONPATH, and reads the JSON it writes to ``--out``. The
sample starts the Spark session, builds its seeded inputs and runs the timed
phase. It reads the whole session's CPU time from /proc on both sides of that
phase and marks its start and end with files in ``--work``, so that
``run.py`` takes memory and scratch peaks inside it only. Then it checks the
outputs, untimed.

Workloads:

* ``bulk_c``: ``build_cpg`` and ``write_graph_tables`` over the skewed
  synthetic C corpus. Parse, base linking, call graph, bindings, entity
  linking, edge materialization and the sink all run; type recovery is
  gated off (no JavaScript) and there is no inheritance to close over. A
  traced sample then reads the graph back and runs two scanner bundles over
  it (``SCAN_BUNDLES``), so that the read side of the sink and the scanners
  get spans too.
* ``polyglot_parse``: ``build_cpg``'s parse stage alone over the C, C++,
  Java and JavaScript parity corpus -- ``parse_source`` and ``with_ids``,
  checkpointed to parquet where and as ``build_cpg`` checkpoints an ad-hoc
  build's parse output -- so all four frontends and the fused per-method
  CFG/DDG passes run on every language. A traced sample then runs type
  recovery (``js_mfn_rewrites``) over the parsed nodes, as ``build_cpg``
  feeds it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

import inputs
import procfs

SCAN_BUNDLES = ("Metrics", "RetvalChecks")


def _build(spark, src, work: str):
    """Timed phase of ``bulk_c``; returns the written graph's location."""
    from joern_spark import sources
    from joern_spark.plans import pipeline

    graph = os.path.join(work, "graph")
    sources.write_graph_tables(pipeline.build_cpg(spark, src), graph)
    return graph


def _parse(spark, src, work: str):
    """Timed phase of ``polyglot_parse``: the parse branch of an ad-hoc
    ``build_cpg`` (``out_dir=None``); returns the checkpointed nodes."""
    from joern_spark.plans import pipeline

    path = os.path.join(pipeline._adhoc_scratch_dir(), "nodes")
    pipeline.with_ids(pipeline.parse_source(src)).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _scan(spark, graph: str, tracer) -> dict:
    """Findings of SCAN_BUNDLES over the written graph."""
    from joern_spark import scanners_c, sources

    g = sources.read_graph_tables(spark, graph)
    bundles = {b: scanners_c.BUNDLES[b] for b in SCAN_BUNDLES}
    n = tracer.span("scanners_c", lambda: scanners_c.run_bundles(
        g["nodes"], g["edges"], bundles=bundles).count())
    return {"scanners_c.findings": n}


def _recover_types(spark, nodes, tracer) -> dict:
    """methodFullName rewrites that type recovery finds in the parsed nodes."""
    from pyspark.sql import functions as F

    from joern_spark.operators import typerecovery

    ok = nodes.filter(F.col("parse_error") == "")
    n = tracer.span("typerecovery", lambda: typerecovery.js_mfn_rewrites(ok).count())
    return {"typerecovery.rewrites_out": n}


def _check_rollup(metric_rows, src, failures: list[str]) -> None:
    got = {(r["repo"], r["lang"]): (r["n_files"], r["sha_rollup"]) for r in metric_rows}
    want = inputs.expected_rollup(src)
    if got != want:
        bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
        failures.append(f"metrics roll-up differs from the inputs' for {bad[:5]}"
                        f" ({len(bad)} of {len(want)} (repo, lang) keys)")


def _check_graph(spark, src, n_files: int, graph: str, failures: list[str],
                 sizes: bool) -> dict:
    from pyspark.sql import functions as F

    from joern_spark import model as M
    from joern_spark import sources

    g = sources.read_graph_tables(spark, graph)
    nodes = g["nodes"]
    n_errors = g["errors"].count() if "errors" in g else 0
    if n_errors:
        failures.append(f"{n_errors} files have a parse_error")
    n_file = nodes.filter(F.col("kind") == M.FILE).count()
    if n_file != n_files:
        failures.append(f"{n_file} FILE nodes for {n_files} input files")
    _check_rollup(g["metrics"].collect(), src, failures)
    if not sizes:
        return {"failed": n_errors}
    return {"failed": n_errors,
            "parse.rows_out": nodes.filter(F.col("node_idx") >= 0).count() + n_errors,
            "pipeline.edges_out": g["edges"].count()}


def _check_nodes(spark, src, n_files: int, nodes, failures: list[str],
                 sizes: bool) -> dict:
    from pyspark.sql import functions as F

    from joern_spark.plans import pipeline

    c = nodes.agg(F.count("*").alias("rows"),
                  F.sum((F.col("parse_error") != "").cast("int")).alias("errors"),
                  F.sum((F.col("node_idx") == 0).cast("int")).alias("roots")).first()
    if c["errors"]:
        failures.append(f"{c['errors']} files have a parse_error")
    if c["roots"] != n_files:
        failures.append(f"{c['roots']} file root rows for {n_files} input files")
    _check_rollup(pipeline.partition_metrics(nodes).collect(), src, failures)
    return {"failed": c["errors"], "parse.rows_out": c["rows"]}


# name -> (inputs, timed phase, extra traced step, checks)
WORKLOADS = {
    "bulk_c": (inputs.bulk_c_rows, _build, _scan, _check_graph),
    "polyglot_parse": (inputs.polyglot_rows, _parse, _recover_types, _check_nodes),
}


def _mark(work: str, name: str) -> None:
    open(os.path.join(work, name), "w").close()


def run(workload: str, seed: int, trace: bool, work: str) -> dict:
    make_rows, timed_phase, traced_step, check = WORKLOADS[workload]
    t0 = time.perf_counter()
    from joern_spark import model as M
    from joern_spark.session import get_spark
    spark = get_spark(app=f"perfbench-{workload}")
    t1 = time.perf_counter()
    res = {"ready_at": time.time()}

    rows = make_rows(seed)
    res["files"] = len(rows)
    res["bytes"] = sum(len(r[4].encode()) for r in rows)
    src = spark.createDataFrame(rows, M.SOURCE_SCHEMA)

    tracer = None
    sizes: dict = {}
    if trace:
        from spans import Tracer
        tracer = Tracer(spark.sparkContext)
        tracer.record("session", t0, t1)
        tracer.install()
    sid = os.getsid(0)
    try:
        _mark(work, "timed.start")
        cpu0 = procfs.cpu_s(procfs.session_stats(sid))
        w0 = time.perf_counter()
        out = timed_phase(spark, src, work)
        w1 = time.perf_counter()
        cpu1 = procfs.cpu_s(procfs.session_stats(sid))
        _mark(work, "timed.end")
        if tracer is not None:
            sizes.update(traced_step(spark, out, tracer))
    finally:
        if tracer is not None:
            tracer.uninstall()
    res["build_s"] = w1 - w0
    res["cpu_s"] = cpu1 - cpu0

    failures: list[str] = []
    checked = check(spark, src, len(rows), out, failures, sizes=trace)
    res["failed"] = checked.pop("failed")
    res["failures"] = failures
    if tracer is not None:
        res["sizes"] = {**sizes, **checked}
        res["layers"] = tracer.layer_metrics()
        res["trace_overhead_s"] = tracer.overhead_s
        res["spans"] = tracer.spans
    spark.stop()
    return res


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True, help="scratch dir of this sample")
    ap.add_argument("--out", required=True, help="where to write the result JSON")
    a = ap.parse_args()
    try:
        res = run(a.workload, a.seed, bool(a.trace), a.work)
        rc = 0
    except Exception:
        res = {"error": traceback.format_exc()}
        rc = 1
    with open(a.out, "w") as f:
        json.dump(res, f)
    return rc


if __name__ == "__main__":
    sys.exit(main())
