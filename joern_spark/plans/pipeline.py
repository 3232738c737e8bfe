"""Staged CPG pipeline with parquet checkpoints, per-stage lineage manifests
and idempotent resume.

Stage order mirrors the reference overlay order (X2Cpg.scala:374-388 →
DefaultOverlays.scala:18-25): parse (AST + fused intraprocedural passes) →
base linking → bindings → call graph → entity linking. Every build takes one
path: each stage — ``nodes`` (parse output), ``extras`` (the nodes linking
adds), ``canonical`` (the entity-linking map) and the edge halves
``edges_rest`` / ``edges_call`` — is parquet plus a ``_manifest.json``
(stage, row count, input fingerprint, wall time), the analogue of the
reference's frontend↔console file handoff (CpgGenerator.scala:28-48). A
caller's ``out_dir`` resumes each stage whose manifest matches the input
fingerprint; an ad-hoc build writes to a fresh scratch dir and never resumes.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, functions as F

from joern_spark import model as M
from joern_spark.operators import base as B
from joern_spark.operators import callgraph as CG
from joern_spark.operators.parse import derived_edges, parse_source, with_ids


def _manifest_path(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, stage, "_manifest.json")


# Ad-hoc (out_dir=None) builds checkpoint to a RAM-backed scratch dir; every
# dir created in this process is removed at interpreter exit so repeated
# builds (test suites, bench loops) don't accumulate tmpfs usage across runs.
_ADHOC_DIRS: list[str] = []


def _adhoc_scratch_dir() -> str:
    import atexit
    import shutil
    import tempfile

    base = None
    if os.path.isdir("/dev/shm"):
        st = os.statvfs("/dev/shm")
        # fall back to disk when tmpfs is nearly full (graph parquet for a
        # large corpus would OOM the RAM disk)
        if st.f_bavail * st.f_frsize > 4 << 30:
            base = "/dev/shm"
    d = tempfile.mkdtemp(prefix="joern_spark_parse_", dir=base)
    if not _ADHOC_DIRS:
        atexit.register(lambda: [shutil.rmtree(p, ignore_errors=True)
                                 for p in _ADHOC_DIRS])
    _ADHOC_DIRS.append(d)
    return d


def _fresh(out_dir: str, stage: str, fingerprint: str | None) -> bool:
    """True when the stage's manifest matches ``fingerprint``. A scratch-dir
    build has no fingerprint, so its stages never resume."""
    mp = _manifest_path(out_dir, stage)
    if fingerprint is None or not os.path.exists(mp):
        return False
    with open(mp) as f:
        return json.load(f).get("fingerprint") == fingerprint


def _stage(spark: SparkSession, out_dir: str, stage: str,
           fingerprint: str | None, make) -> DataFrame:
    """The one stage boundary: resume ``stage`` from its parquet, or write
    ``make()`` there and read it back. The manifest, written last, is the
    commit marker, so the writer's ``_SUCCESS`` file is left out. No
    ``partitionBy``: dynamic partition writes sort the wide rows per task
    (+40% on the parse write of the bench corpus); lang-filtered consumers
    skip row groups via parquet stats instead."""
    path = os.path.join(out_dir, stage)
    if _fresh(out_dir, stage, fingerprint):
        return spark.read.parquet(path)
    from pyspark.sql import Observation
    t0 = time.time()
    df = make()
    # manifest row count rides the write job via observe() — no second
    # count job over the freshly written parquet
    obs = Observation(f"rows_{stage}")
    (df.observe(obs, F.count(F.lit(1)).alias("rows"))
     .write.mode("overwrite")
     .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
     .parquet(path))
    with open(_manifest_path(out_dir, stage), "w") as f:
        json.dump({"stage": stage, "fingerprint": fingerprint,
                   "rows": obs.get["rows"],
                   "wall_sec": round(time.time() - t0, 3)}, f)
    # read back with the schema just written: no schema-inference job
    return spark.read.schema(df.schema).parquet(path)


def source_fingerprint(source: DataFrame) -> str:
    """Order-insensitive fingerprint of the input table: xor of row hashes.
    The per-row invariant (sha256 of content) rolls up into the stage
    manifests, giving end-to-end lineage vs the input."""
    h = (source.select(F.xxhash64("repo", "path", "commit", "lang",
                                  F.sha2("content", 256)).alias("h"))
         .agg(F.expr("bit_xor(h)").alias("s"), F.count("*").alias("c"))
         .collect()[0])
    return f"{h['s']}:{h['c']}"


# Stages after parse; the edge halves keep their write-target names
# (edges_rest, edges_call) so per-layer tracing can attribute the writes.
_LINK_STAGES = ("extras", "canonical", "edges_rest", "edges_call")


def build_cpg(spark: SparkSession, source: DataFrame, out_dir: str | None = None,
              fingerprint: str | None = None) -> dict[str, DataFrame]:
    """source(repo,path,commit,lang,content) →
    {nodes, edges, errors, canonical, timings}.

    Every build is a checkpointed build. With ``out_dir`` each stage resumes
    when its manifest matches the input fingerprint (``fingerprint``, else
    one computed from ``source``); without it the stages go to a fresh
    scratch dir and nothing resumes."""
    # The edges stage is a wide union of operator branches; its rendered
    # explain string runs to hundreds of MB, and AQE re-renders it on every
    # plan update (AdaptiveSparkPlanExec.onUpdatePlan) — on a default-heap
    # driver that alone OOMs. Cap the plan string on whatever session the
    # caller hands us (runtime-settable SQL conf; explain output truncates
    # with a notice instead of materializing the full tree).
    spark.conf.set("spark.sql.maxPlanStringLength", "100000")
    if out_dir:
        os.makedirs(out_dir, exist_ok=True)
        fp = fingerprint or source_fingerprint(source)
    else:
        out_dir, fp = _adhoc_scratch_dir(), None

    # ---- stage 1: parse (+ fused per-method passes) -------------------------
    # A stage of its own: a dozen downstream branches (base passes, edge
    # derivation, four call linkers) each scan it, and a cached in-memory
    # copy of the wide rows (ie_* arrays) both risks eviction → silent Python
    # re-parse and defeats column pruning. A parquet boundary gives every
    # consumer a pruned columnar scan — the same reason the reference hands
    # off cpg.bin between frontend and console (CpgGenerator.scala:28-48).
    t_parse = time.time()
    nodes = _stage(spark, out_dir, "nodes", fp,
                   lambda: with_ids(parse_source(source)))
    t_link = time.time()
    ok = nodes.filter(F.col("parse_error") == "")

    # Plan construction runs eager jobs (probes, the inheritance closure
    # loop, checkpoints), so a resume whose later stages all match skips it.
    plans = (None if all(_fresh(out_dir, s, fp) for s in _LINK_STAGES)
             else _link_plans(spark, ok))
    extras, canonical, edges = _materialize(spark, out_dir, fp, plans)
    return {"nodes": ok.unionByName(extras), "edges": edges,
            "errors": nodes.filter(F.col("parse_error") != ""),
            "canonical": canonical,
            "timings": {"parse_extract_sec": round(t_link - t_parse, 3),
                        "link_materialize_sec": round(time.time() - t_link, 3)}}


def _link_plans(spark: SparkSession, ok: DataFrame) -> dict[str, DataFrame]:
    """Plans of the stages after parse, over the error-free parse rows:
    ``extras`` (the nodes linking adds: external stubs and binding nodes),
    ``rest`` (every edge but CALL), ``dim`` (the full method dimension) and
    ``calls`` (CALL edges before canonicalization)."""
    # ---- shared dimensions (one pruned scan each, persisted) ----------------
    # Every base pass and call linker works off these small relations; the
    # big node table is only re-read by the genuinely row-producing edge
    # derivations (ast_edges / intra_edges), each a single pruned scan.
    fns = B.used_type_fullnames(ok).persist()
    call_sites = ok.filter(F.col("kind") == M.CALL).select(
        "id", "name", "signature", "method_full_name", "dispatch_type", "nargs")
    # XTypeRecovery lite: recovered JS methodFullNames flow into the call
    # dimension BEFORE stub creation and linking, so require()-bound member
    # calls get stubs + CALL edges (XTypeHintCallLinker analogue). The
    # limit-1 probe skips the whole pass on JS-free corpora (parquet
    # row-group lang stats make it a near-metadata read there).
    from joern_spark.operators.typerecovery import apply_rewrites, js_mfn_rewrites
    rewrites = None
    if not ok.filter(F.col("lang") == "javascript").limit(1).isEmpty():
        rewrites = js_mfn_rewrites(ok).persist()
        call_sites = apply_rewrites(call_sites, rewrites)
    call_sites = call_sites.persist()
    methods_real = CG.method_dimension(ok).persist()

    # ---- stage 2: base linking ----------------------------------------------
    extra_nodes, base_edges = B.run_base(ok, fns, call_sites, methods_real)
    # (no eager materialization: every extra job pays fixed scheduling
    # latency that does not scale with cores; concurrent first-computations
    # of the small persisted dims inside one action cost less than a
    # sequential warm-up job each)
    all_nodes = ok.unionByName(extra_nodes)

    # full method dimension = real definitions + the external stubs run_base
    # just created (stub fullnames are disjoint from real ones by the
    # anti-join construction, so no re-dedup is needed)
    stub_dim = (extra_nodes.filter(F.col("kind") == M.METHOD)
                .select(F.col("full_name").alias("m_fn"), F.col("id").alias("m_id"),
                        F.col("name").alias("m_name"), F.col("is_external"),
                        F.col("ast_parent_full_name").alias("m_parent"),
                        F.col("signature").alias("m_sig")))
    dim_full = methods_real.unionByName(stub_dim)

    # ---- stage 2b: BINDS/BINDING vtable tables -------------------------------
    # (BindingTableAdapterImpls.scala; needs the stubs' TYPE_DECLs too, so it
    # runs over the unioned node relation). The inheritance closure and the
    # binding relation feed BOTH this stage and the dynamic call linker —
    # computed once, persisted (dimension-sized).
    from joern_spark.operators.bindings import (binding_nodes_and_edges,
                                                binding_relation)
    from joern_spark.operators.callgraph import inheritance_closure
    has_inh = not (all_nodes.filter((F.col("kind") == M.TYPE_DECL)
                                    & F.col("inherits_from").isNotNull())
                   .limit(1).isEmpty())
    closure = (inheritance_closure(all_nodes) if has_inh
               else spark.createDataFrame([], "desc string, anc string"))
    # eager localCheckpoint, not lazy persist: the relation is consumed by
    # stage 2b AND the dynamic call linker, and its plan references the full
    # node relation several times — cutting it to a leaf keeps the final
    # edges plan's analysis cost (Catalyst DeduplicateRelations) bounded
    bind_rel = binding_relation(all_nodes, closure).localCheckpoint(eager=True)
    bind_nodes, bind_edges = binding_nodes_and_edges(all_nodes, rel=bind_rel)
    all_nodes = all_nodes.unionByName(bind_nodes)

    # ---- stage 3: call graph -------------------------------------------------
    linked = CG.run_callgraph(all_nodes, call_sites=call_sites,
                              dim=dim_full, rewrites=rewrites,
                              closure=closure, bindings=bind_rel)
    # CALL edges stay a separate relation until after canonicalization;
    # everything else (the bulk of the volume) is independent of the
    # entity-linking stage and can materialize concurrently with it.
    rest = (derived_edges(ok).unionByName(base_edges).unionByName(bind_edges)
            .unionByName(linked.filter(F.col("label") != M.CALL_EDGE)))
    return {"extras": extra_nodes.unionByName(bind_nodes), "rest": rest,
            "dim": dim_full, "calls": linked.filter(F.col("label") == M.CALL_EDGE)}


def _materialize(spark: SparkSession, out_dir: str, fingerprint: str | None,
                 plans: dict[str, DataFrame] | None):
    """The end of every build → (extras, canonical, edges), each read back
    from its stage. The non-CALL edges (~95% of edge volume) write on a
    worker thread WHILE the main thread runs entity linking (stage 3b: stub
    symbols alias-paired to internal definitions, collapsed by connected
    components into the canonical map, CALL edges rewritten through it) and
    then writes the linked nodes — two independent DAG branches that would
    otherwise serialize driver-side. Parquet, not an in-memory cache:
    caching edge objects is GC-bound and does not scale with cores, while a
    columnar write parallelizes and every later query gets a pruned scan."""
    from joern_spark.operators.linking import (canonical_symbol_map,
                                               canonicalize_call_edges)
    with ThreadPoolExecutor(max_workers=1) as pool:
        rest = pool.submit(_stage, spark, out_dir, "edges_rest", fingerprint,
                           lambda: plans["rest"])
        canonical = _stage(spark, out_dir, "canonical", fingerprint,
                           lambda: canonical_symbol_map(plans["dim"]))
        calls = _stage(spark, out_dir, "edges_call", fingerprint,
                       lambda: canonicalize_call_edges(plans["calls"], canonical))
        # One file: extras are ~5% of the parse rows (stubs, per-file and
        # per-parameter nodes), and per-file parquet overhead (footer, column
        # chunk headers, checksum file) makes up over half of a 4-file
        # extras stage on the bench corpus. Written last, when the linking
        # jobs above have filled run_base's persisted extra_nodes, so the one
        # task only copies cached rows.
        extras = _stage(spark, out_dir, "extras", fingerprint,
                        lambda: plans["extras"].coalesce(1))
        return extras, canonical, rest.result().unionByName(calls)


# --------------------------------------------------------------------------- #
# Per-partition lineage & metrics (north rule: "materialized as partitioned
# graph tables with per-partition lineage and metric rows").
# --------------------------------------------------------------------------- #

def partition_metrics(nodes: DataFrame) -> DataFrame:
    """One row per output partition key (repo, lang): file count, node count,
    per-kind headline counts, parse failures, and an order-insensitive sha256
    roll-up (xor of per-file content hashes) — joined against the input's
    roll-up this proves per-row content equality end-to-end without shipping
    content. The reference's analogue is the per-pass diff-graph row counts
    it logs per overlay (X2Cpg.scala:374-388); here they are queryable rows
    next to the data."""
    per_file = nodes.filter(F.col("node_idx") == 0).select(
        "repo", "lang", F.xxhash64("repo", "path", "commit", "sha256").alias("fh"))
    files = per_file.groupBy("repo", "lang").agg(
        F.count("*").alias("n_files"),
        F.expr("bit_xor(fh)").alias("sha_rollup"))
    counts = (nodes.groupBy("repo", "lang").agg(
        F.count("*").alias("n_nodes"),
        F.sum(F.when(F.col("kind") == M.METHOD, 1).otherwise(0)).alias("n_methods"),
        F.sum(F.when(F.col("kind") == M.CALL, 1).otherwise(0)).alias("n_calls"),
        F.sum(F.when(F.col("parse_error") != "", 1).otherwise(0)).alias("n_parse_errors")))
    return files.join(counts, ["repo", "lang"])


def source_sha_rollup(source: DataFrame) -> DataFrame:
    """The same roll-up computed directly on the input table — equality with
    partition_metrics' sha_rollup is the per-row content invariant."""
    return (source
            .select("repo", "lang",
                    F.xxhash64("repo", "path", "commit",
                               F.sha2("content", 256)).alias("fh"))
            .groupBy("repo", "lang")
            .agg(F.count("*").alias("n_files"),
                 F.expr("bit_xor(fh)").alias("sha_rollup")))


# --------------------------------------------------------------------------- #
# Name-keyed triple view for parity scoring (FIXTURES.md §2: parity is scored
# on name-keyed triples, not raw ids — mirrors the reference succOf oracle).
# --------------------------------------------------------------------------- #

def name_keyed_triples(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    lhs = nodes.select(F.col("id").alias("src"),
                       F.coalesce(F.when(F.col("kind") == M.METHOD, F.col("full_name")),
                                  F.col("code")).alias("subj"),
                       F.col("method_id").alias("src_method"))
    rhs = nodes.select(F.col("id").alias("dst"),
                       F.coalesce(F.when(F.col("kind") == M.METHOD, F.col("full_name")),
                                  F.when(F.col("kind") == M.TYPE, F.col("full_name")),
                                  F.col("code")).alias("obj"))
    return (edges.join(lhs, "src").join(rhs, "dst")
            .select("subj", F.col("label").alias("pred"), "obj", "variable"))
