"""The benchmarked calls: one public entry point each, with its check.

A call's ``run`` is the timed part: the kernel call plus its first action
(``count`` or ``collect``). Its ``check`` runs afterwards, outside the
timed region, collects the result and compares it with the oracle.
``layer`` names the per-layer metrics (``<module>.<call>.<counter>``) and
``metric`` the end-to-end metric the wall time feeds, if any.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

import oracles
from oracles import LPA_ROUNDS, PAGERANK_TOL, SOURCE, SSSP_CAP
from pasgal_spark.graph import bcc, directed, kernels
from pasgal_spark.plans import checkpoints

# CheckpointedPageRank writes state every 5 supersteps by default; the
# interrupted run stops 2 supersteps past a checkpoint, so resuming must
# replay from superstep 5.
RESUME_STOP_AT = 7
RESUME_FROM = 5


@dataclass
class Ctx:
    """Laid-out input tables and the oracles' answers for one workload."""

    spark: Any
    n: int
    edges: Any
    sym: Any
    wedges: Any
    vertices: Any
    workdir: str
    want: dict = field(default_factory=dict)
    durable_rank: np.ndarray | None = None  # last uninterrupted durable run
    resume_dir: str | None = None  # an interrupted durable run to resume
    # (superstep, state path, files) of the interrupted run's last checkpoint
    resume_from: tuple | None = None
    last_dir: str | None = None  # the newest checkpoint directory
    _dirs: int = 0

    def fresh_dir(self, name: str) -> str:
        """An empty checkpoint directory, unique within the run."""
        self._dirs += 1
        self.last_dir = os.path.join(self.workdir, f"{name}-{self._dirs}")
        shutil.rmtree(self.last_dir, ignore_errors=True)
        return self.last_dir


@dataclass
class Call:
    layer: str
    metric: str | None
    run: Callable[[Ctx, list], Any]
    check: Callable[[Ctx, Any], str | None]
    oracle: str  # key of ``Ctx.want`` the check reads
    has_supersteps: bool = False
    writes_checkpoints: bool = False
    prepare: Callable[[Ctx], None] | None = None  # untimed, before ``run``


def _counted(df):
    df.count()
    return df


def _ids(pdf, col):
    return pdf["id"].to_numpy(), pdf[col].to_numpy()


def _check_rank(ctx: Ctx, df) -> str | None:
    ids, rank = _ids(df.toPandas(), "rank")
    return oracles.check_close(ctx.n, ids, rank, ctx.want["pagerank"], PAGERANK_TOL, "rank")


def _check_labels(key: str, col: str):
    def check(ctx: Ctx, df) -> str | None:
        return oracles.check_labels(ctx.n, *_ids(df.toPandas(), col), ctx.want[key], col)

    return check


def _check_dist(key: str):
    def check(ctx: Ctx, df) -> str | None:
        return oracles.check_dist(*_ids(df.toPandas(), "dist"), ctx.want[key], "dist")

    return check


def _check_triangles(ctx: Ctx, rows) -> str | None:
    return oracles.check_equal(rows[0]["triangles"], ctx.want["triangles"], "triangles")


def _check_bcc(ctx: Ctx, rows) -> str | None:
    return oracles.check_equal(tuple(rows[0]), ctx.want["bcc"], "bcc_summary row")


def _run_pagerank(ctx: Ctx, steps: list):
    return _counted(
        kernels.pagerank(
            ctx.edges, ctx.vertices, tol=PAGERANK_TOL,
            on_superstep=lambda i, d: steps.append(i),
        )
    )


def _run_cc_two_phase(ctx: Ctx, steps: list):
    return _counted(
        kernels.connected_components_two_phase(ctx.sym, ctx.vertices, on_round=steps.append)
    )


def _run_cc(ctx: Ctx, steps: list):
    return _counted(kernels.connected_components(ctx.sym, ctx.vertices, on_round=steps.append))


def _run_lpa(ctx: Ctx, steps: list):
    return _counted(kernels.label_propagation(ctx.sym, ctx.vertices, rounds=LPA_ROUNDS))


def _run_triangles(ctx: Ctx, steps: list):
    return kernels.triangle_count(ctx.sym).collect()


def _run_bfs(ctx: Ctx, steps: list):
    return _counted(
        kernels.bfs(
            ctx.sym, SOURCE, vertices=ctx.vertices,
            on_superstep=lambda depth, mode, size: steps.append(depth),
        )
    )


def _run_sssp(ctx: Ctx, steps: list):
    return _counted(kernels.sssp_rho_stepping(ctx.wedges, SOURCE, cap=SSSP_CAP))


def _run_bcc(ctx: Ctx, steps: list):
    return bcc.bcc_summary(ctx.sym, ctx.vertices, strategy="euler").collect()


def _run_bcc_distributed(ctx: Ctx, steps: list):
    return bcc.bcc_summary(
        ctx.sym, ctx.vertices, strategy="euler", max_driver_edges=0
    ).collect()


def _run_scc(ctx: Ctx, steps: list):
    return _counted(
        directed.scc(ctx.edges, ctx.vertices, on_round=lambda phase, i: steps.append(i))
    )


def _run_durable_pagerank(ctx: Ctx, steps: list):
    pr = checkpoints.CheckpointedPageRank(ctx.spark, ctx.edges, ctx.vertices, ctx.fresh_dir("pr"))
    return _counted(pr.run(tol=PAGERANK_TOL))


def _run_durable_cc(ctx: Ctx, steps: list):
    cc = checkpoints.CheckpointedConnectedComponents(ctx.spark, ctx.sym, ctx.vertices, ctx.fresh_dir("cc"))
    return _counted(cc.run())


def _run_durable_lpa(ctx: Ctx, steps: list):
    lpa = checkpoints.CheckpointedLabelPropagation(
        ctx.spark, ctx.sym, ctx.vertices, ctx.fresh_dir("lpa"), rounds=LPA_ROUNDS
    )
    return _counted(lpa.run())


def _interrupt_pagerank(ctx: Ctx) -> None:
    """Run a durable PageRank that stops between two checkpoints."""
    ctx.resume_dir = ctx.fresh_dir("resume")
    checkpoints.CheckpointedPageRank(ctx.spark, ctx.edges, ctx.vertices, ctx.resume_dir).run(
        tol=PAGERANK_TOL, max_supersteps=RESUME_STOP_AT
    )
    manifest = checkpoints.RunManifest.load(ctx.resume_dir)
    ctx.resume_from = (
        manifest.superstep, manifest.state_path, sorted(os.listdir(manifest.state_path))
    )


def _run_resume(ctx: Ctx, steps: list):
    pr = checkpoints.CheckpointedPageRank(ctx.spark, ctx.edges, ctx.vertices, ctx.resume_dir)
    return _counted(pr.run(tol=PAGERANK_TOL))


def _check_resume(ctx: Ctx, df) -> str | None:
    """A resumed run must start from the interrupted run's checkpoint and
    equal the uninterrupted durable run. A run that started over would
    rewrite that checkpoint, and parquet part-file names differ on every
    write, so its file list must be unchanged."""
    if ctx.durable_rank is None:
        return "resume: no uninterrupted durable PageRank result to compare with"
    step, path, files = ctx.resume_from
    if step != RESUME_FROM:
        return f"resume: the interrupted run's manifest is at superstep {step}, not {RESUME_FROM}"
    if sorted(os.listdir(path)) != files:
        return f"resume: the checkpoint of superstep {step} was rewritten; the run started over"
    return oracles.check_close(
        ctx.n, *_ids(df.toPandas(), "rank"), ctx.durable_rank, 1e-12, "resumed rank"
    )


def _check_durable_rank(ctx: Ctx, df) -> str | None:
    """As ``_check_rank``; keeps the ranks for the resume call's check."""
    ids, rank = _ids(df.toPandas(), "rank")
    err = oracles.check_close(ctx.n, ids, rank, ctx.want["pagerank"], PAGERANK_TOL, "rank")
    if err is None:
        ctx.durable_rank = np.empty(ctx.n)
        ctx.durable_rank[ids] = rank
    return err


CALLS = {
    c.layer: c
    for c in [
        Call("kernels.pagerank", None, _run_pagerank, _check_rank, "pagerank", True),
        Call(
            "kernels.connected_components_two_phase", "cc_s", _run_cc_two_phase,
            _check_labels("cc", "component"), "cc", True,
        ),
        Call(
            "kernels.connected_components", None, _run_cc,
            _check_labels("cc", "component"), "cc", True,
        ),
        Call("kernels.label_propagation", None, _run_lpa, _check_labels("lpa", "label"), "lpa"),
        Call(
            "kernels.triangle_count", "triangles_s", _run_triangles, _check_triangles,
            "triangles",
        ),
        Call("kernels.bfs", None, _run_bfs, _check_dist("bfs"), "bfs", True),
        Call("kernels.sssp_rho_stepping", None, _run_sssp, _check_dist("sssp"), "sssp"),
        Call("bcc.bcc_summary", "bcc_s", _run_bcc, _check_bcc, "bcc"),
        Call("bcc.bcc_summary_distributed", None, _run_bcc_distributed, _check_bcc, "bcc"),
        Call("directed.scc", None, _run_scc, _check_labels("scc", "scc"), "scc", True),
        Call(
            "checkpoints.CheckpointedPageRank", None, _run_durable_pagerank,
            _check_durable_rank, "pagerank", writes_checkpoints=True,
        ),
        Call(
            "checkpoints.CheckpointedConnectedComponents", None, _run_durable_cc,
            _check_labels("cc", "component"), "cc", writes_checkpoints=True,
        ),
        Call(
            "checkpoints.CheckpointedLabelPropagation", None, _run_durable_lpa,
            _check_labels("lpa", "label"), "lpa", writes_checkpoints=True,
        ),
        Call(
            "checkpoints.resume", None, _run_resume, _check_resume, "pagerank",
            writes_checkpoints=True, prepare=_interrupt_pagerank,
        ),
    ]
}
