"""The benchmark's workloads.

Each workload has four parts:

- ``prepare(ctx)`` writes the seeded inputs under ``ctx.work`` (set-up);
- ``job(ctx, inp)`` is the timed job: calls into the package's
  public functions, one Spark job group per call, returning timings and
  the outputs it read back;
- ``warmup(ctx, inp)`` is the last step of set-up: on ``sf01_analytics``
  it makes the job's calls on the same inputs with one superstep per GAS
  operator, so the timed job runs in a warm JVM;
- ``check(ctx, inp, ops)`` compares those outputs with references, outside
  the timed region, and returns one (name, ok) pair per operation.

Why each workload exists is in README.md next to this file.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import shutil
from dataclasses import dataclass, field

import numpy as np

import refs

# Sizes are set by the run budget; README.md gives the reasons.
SF01_ROWS = 60_000
SF01_PR_STEPS = 8
INGEST = dict(n_repos=100, files_per_repo=100, extra_ring_links=4)
INGEST_CC_STEPS = 4  # the checkpointed run does the first half
WARMUP_STEPS = 1  # supersteps per GAS operator in a warm-up job


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str
    seed: int
    tag: str = ""


@dataclass
class Op:
    """One operator call of the timed job."""
    name: str
    seconds: float = 0.0  # call + readback
    readback_s: float = 0.0
    group: str = ""
    result: object = None  # GASResult, when the operator is a GAS program
    outputs: dict = field(default_factory=dict)  # read by the check and the metrics
    steps_from: int = 0  # supersteps before this call (resumed runs)
    cached_mb_after: float = 0.0
    rows: list = field(default_factory=list)
    span: object = None


def _entry():
    """The entry surface module (``__spark_entry__.py`` at the repo root)."""
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(os.getcwd(), "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _call(ctx: Ctx, name: str, fn, readback, steps_from: int = 0) -> Op:
    """Time ``fn()`` then ``readback(result)`` under one job group."""
    from spans import cached_mb

    sc = ctx.spark.sparkContext
    op = Op(name, group=f"{ctx.tag}.{name}", steps_from=steps_from)
    sc.setJobGroup(op.group, name)
    with ctx.tracer.span(f"operators.{name}") as whole:
        res = fn()
        with ctx.tracer.span("operators.readback") as rb:
            op.rows = readback(res)
    sc.setJobGroup(f"{ctx.tag}.idle", "idle")
    op.span, op.seconds, op.readback_s = whole, whole.seconds, rb.seconds
    op.result = res if hasattr(res, "metrics") else None
    if ctx.tracer.enabled:
        op.cached_mb_after = cached_mb(ctx.spark)
    return op


def _collect(cols):
    return lambda res: [tuple(r) for r in res.vertices.select(*cols).collect()]


# --------------------------------------------------------------------------
# sf01_analytics
# --------------------------------------------------------------------------

class Sf01Analytics:
    name = "sf01_analytics"

    def __init__(self) -> None:
        self.entry = _entry()
        self._oracle = None

    def prepare(self, ctx: Ctx) -> dict:
        d = os.path.join(ctx.work, "in")
        os.makedirs(d, exist_ok=True)
        li = refs.tpch_lineitem_keys(ctx.seed, rows=SF01_ROWS)
        li.to_parquet(os.path.join(d, "lineitem.parquet"), index=False)
        return {"dir": d, "lineitem": li}

    def calls(self, ctx: Ctx, inp: dict, warmup: bool = False) -> list:
        """The job's operator calls, each a thunk returning its Op."""
        from mirrorofmapgraph_spark.operators import cc, labelprop, pagerank, triangles

        spark, E = ctx.spark, self.entry
        edges = lambda: E._edges(spark, inp["dir"])  # noqa: E731
        steps = lambda n: WARMUP_STEPS if warmup else n  # noqa: E731
        return [
            lambda: _call(ctx, "pagerank", lambda: pagerank.pagerank(
                spark, edges(), tol=1e-6, max_iter=steps(SF01_PR_STEPS)),
                _collect(("id", "rank"))),
            lambda: _call(ctx, "cc", lambda: cc.connected_components(
                spark, edges(), max_iter=steps(500)), _collect(("id", "label"))),
            lambda: _call(ctx, "labelprop", lambda: labelprop.label_propagation(
                spark, edges(), max_iter=steps(2)), _collect(("id", "label"))),
            lambda: _call(ctx, "triangle", lambda: triangles.triangle_count(edges()),
                          lambda df: [tuple(r) for r in df.collect()]),
        ]

    def job(self, ctx: Ctx, inp: dict) -> list[Op]:
        return [call() for call in self.calls(ctx, inp)]

    def warmup(self, ctx: Ctx, inp: dict) -> None:
        """One superstep of each operator, all four at once: first-call
        costs are mostly single-threaded driver work, so they overlap."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(4) as pool:
            for f in [pool.submit(c) for c in self.calls(ctx, inp, warmup=True)]:
                f.result()

    def oracle(self, ctx: Ctx, inp: dict) -> dict:
        """DuckDB answers of the entry surface's own oracle SQL over the
        same lineitem keys, computed once per invocation. PageRank uses
        the gated ``graph_pagerank_converged`` mirror unrolled to the
        job's superstep cap."""
        if self._oracle is None:
            import duckdb

            sql = self.entry.oracle_sql()
            con = duckdb.connect(config={"temp_directory": os.path.join(ctx.work, "tmp")})
            con.register("lineitem", inp["lineitem"])
            q = lambda text: con.execute(text).fetchall()  # noqa: E731
            self._oracle = {
                "pagerank": dict(q(self.entry._pagerank_converged_sql(SF01_PR_STEPS))),
                "cc": dict(q(sql["graph_cc_converged"])),
                "labelprop": dict(q(sql["graph_labelprop2"])),
                "triangle": q(sql["graph_triangle_count"])[0][0],
            }
            con.close()
        return self._oracle

    def check(self, ctx: Ctx, inp: dict, ops: list[Op]) -> list[tuple[str, bool]]:
        o = self.oracle(ctx, inp)
        by = {op.name: op for op in ops}
        return [
            ("pagerank", refs.close(dict(by["pagerank"].rows), o["pagerank"])),
            ("cc", dict(by["cc"].rows) == o["cc"]),
            ("labelprop", dict(by["labelprop"].rows) == o["labelprop"]),
            ("triangle", by["triangle"].rows[0][0] == o["triangle"]),
        ]


# --------------------------------------------------------------------------
# ingest_resume
# --------------------------------------------------------------------------

class IngestResume:
    name = "ingest_resume"

    def prepare(self, ctx: Ctx) -> dict:
        from mirrorofmapgraph_spark.sources import codegen

        d = os.path.join(ctx.work, "in")
        path = os.path.join(d, "repos.parquet")
        codegen.synthesize_repo_table(ctx.spark, **INGEST).write.parquet(path)
        return {"path": path, "dir": d,
                "rows": INGEST["n_repos"] * INGEST["files_per_repo"]}

    def job(self, ctx: Ctx, inp: dict) -> list[Op]:
        from mirrorofmapgraph_spark.operators import cc
        from mirrorofmapgraph_spark.sources import extract

        spark, tr = ctx.spark, ctx.tracer
        # each job writes its own outputs, so all of them can be checked
        # after the last timed job
        out = os.path.join(inp["dir"], f"edges-{ctx.tag}.parquet")
        ck = os.path.join(inp["dir"], f"checkpoints-{ctx.tag}")
        for p in (out, ck):  # a stale manifest would silently skip resume work
            shutil.rmtree(p, ignore_errors=True)
        sc = spark.sparkContext
        ingest = Op("ingest", group=f"{ctx.tag}.ingest")
        sc.setJobGroup(ingest.group, "ingest")
        with tr.span("sources.ingest") as whole:
            with tr.span("sources.build_link_graph"):
                edges, vertices, source_sha = extract.build_link_graph(
                    spark.read.parquet(inp["path"]))
            with tr.span("sources.edge_write"):
                edges.write.parquet(out)
        ingest.span, ingest.seconds = whole, whole.seconds
        ingest.outputs = {"source_sha": source_sha, "vertices": vertices, "out": out}
        ck_steps, total = INGEST_CC_STEPS // 2, INGEST_CC_STEPS

        def run(max_iter, resume):
            return cc.connected_components(
                spark, spark.read.parquet(out), max_iter=max_iter,
                checkpoint_dir=ck, checkpoint_every=1, resume=resume)

        first = _call(ctx, "cc_checkpointed", lambda: run(ck_steps, False),
                      lambda res: None)
        # the first engine is dropped; a fresh one resumes from the manifest
        resumed = _call(ctx, "cc_resume", lambda: run(total, True),
                        _collect(("id", "label")), steps_from=ck_steps)
        resumed.outputs = {"checkpoints": ck}
        return [ingest, first, resumed]

    def warmup(self, ctx: Ctx, inp: dict) -> None:
        """None: the job runs after the set-up's own Spark job (writing the
        repo table), and README.md gives why that is enough here."""

    def check(self, ctx: Ctx, inp: dict, ops: list[Op]) -> list[tuple[str, bool]]:
        ingest, _, resumed = ops
        spark, shape = ctx.spark, INGEST
        n, fpr = shape["n_repos"] * shape["files_per_repo"], shape["files_per_repo"]
        # dense ids are ranks in key order, and zero-padded keys sort like
        # their ordinals, so id == ordinal for every module key
        verts = ingest.outputs["vertices"].toPandas()
        want_keys = [f"repo{v // fpr:04d}/mod{v % fpr:03d}" for v in verts["id"]]
        keys_ok = len(verts) == n and list(verts["key"]) == want_keys
        e = spark.read.parquet(ingest.outputs["out"]).select("src", "dst").toPandas()
        want = refs.ring_chord_edges(n, shape["extra_ring_links"])
        got = refs.sorted_pairs(e["src"].to_numpy(), e["dst"].to_numpy())
        edges_ok = keys_ok and len(e) == len(want) and np.array_equal(got, want)
        rows = ingest.outputs["source_sha"].select("content", "content_sha256").collect()
        sha_ok = len(rows) == n and all(
            hashlib.sha256(r[0].encode()).hexdigest() == r[1] for r in rows)
        steps = resumed.steps_from + resumed.result.supersteps
        ids, lab = refs.min_label(want[:, 0], want[:, 1], steps=steps)
        cc_ok = (steps == INGEST_CC_STEPS
                 and dict(resumed.rows) == dict(zip(ids.tolist(), lab.tolist())))
        return [("ingest_edges", bool(edges_ok)), ("ingest_sha256", sha_ok),
                ("cc_resume", bool(cc_ok))]


WORKLOADS = {w.name: w for w in (Sf01Analytics, IngestResume)}

