"""Resumable superstep execution: checkpoints, run manifests, metrics.

The north_rule requires iterative kernels to be (a) resumable from a
checkpoint and (b) observable via per-superstep convergence metrics and
per-partition lineage records. This module provides the production wrapper
around the in-memory kernels of ``pasgal_spark.graph.kernels``:

- state is written to parquet every ``checkpoint_every`` supersteps
  (on a cluster this directory would be an Iceberg table; parquet keeps the
  sandbox dependency-free while exercising the same write-ahead pattern);
- a JSON run manifest (run_id, superstep, checkpoint path) is atomically
  replaced after each successful checkpoint — the analog of an Iceberg
  snapshot pointer;
- a ``metrics`` parquet table accumulates one row per (superstep,
  partition) with row counts (lineage) plus one summary row per superstep
  with the convergence delta and wall time — the Spark translation of the
  reference's TSV metric sinks (/root/reference/src/BFS/bfs.cpp:30-32).

Restart semantics: constructing ``CheckpointedPageRank`` over a directory
holding a manifest resumes from the recorded superstep; the final result is
identical to an uninterrupted run because each superstep is a pure function
of the previous state (verified by tests/test_resume.py).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pasgal_spark.plans.lineage import pin

from pasgal_spark.graph.kernels import cc_phase2_union_find


@dataclass
class RunManifest:
    run_id: str
    superstep: int
    state_path: str
    delta: float

    @classmethod
    def load(cls, path: str) -> "RunManifest | None":
        f = os.path.join(path, "MANIFEST.json")
        if not os.path.exists(f):
            return None
        with open(f) as fh:
            return cls(**json.load(fh))

    def save(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        tmp = os.path.join(path, "MANIFEST.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(self.__dict__, fh)
        os.replace(tmp, os.path.join(path, "MANIFEST.json"))



def _append_lineage_metrics(
    workdir: str, run_id: str, superstep: int, state: "DataFrame",
    delta: float, wall_ms: float,
) -> None:
    """One metrics row per (superstep, partition): row counts (lineage)
    plus the run's convergence delta and wall time — the single shared
    sink for every checkpointed driver (north_rule: per-partition lineage
    + per-superstep convergence metrics)."""
    lineage = (
        state.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("rows"))
        .withColumn("run_id", F.lit(run_id))
        .withColumn("superstep", F.lit(superstep))
        .withColumn("delta", F.lit(float(delta)))
        .withColumn("wall_ms", F.lit(wall_ms))
        .select("run_id", "superstep", "partition_id", "rows", "delta", "wall_ms")
    )
    lineage.write.mode("append").parquet(os.path.join(workdir, "metrics"))


class CheckpointedPageRank:
    """PageRank with parquet checkpoints, resume, and metrics records."""

    def __init__(
        self,
        spark: SparkSession,
        edges: DataFrame,
        vertices: DataFrame,
        workdir: str,
        *,
        run_id: str = "pagerank",
        damping: float = 0.85,
        checkpoint_every: int = 5,
    ) -> None:
        self.spark = spark
        self.edges = edges
        self.workdir = workdir
        self.run_id = run_id
        self.damping = damping
        self.checkpoint_every = checkpoint_every

        self.n = vertices.count()
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
        self.base = (
            vertices.join(deg, vertices.id == deg.src, "left")
            .select(vertices.id, F.coalesce("out_deg", F.lit(0)).alias("out_deg"))
            .transform(pin)
        )

    # -- metrics ------------------------------------------------------------

    def _record_metrics(self, superstep: int, state: DataFrame, delta: float, wall_ms: float) -> None:
        _append_lineage_metrics(
            self.workdir, self.run_id, superstep, state, delta, wall_ms
        )

    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.workdir, "metrics"))

    # -- superstep ----------------------------------------------------------

    def _superstep(self, state: DataFrame) -> DataFrame:
        """One superstep; the result carries ``prev_rank`` so the convergence
        delta is a single aggregate over the new state (no second O(|V|)
        join-shuffle per superstep)."""
        dangling = state.filter("out_deg = 0").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm")
        )
        contribs = (
            self.edges.join(state, self.edges.src == state.id)
            .select(
                self.edges.dst.alias("id"),
                (F.col("rank") / F.col("out_deg")).alias("c"),
            )
        )
        sums = contribs.groupBy("id").agg(F.sum("c").alias("contrib"))
        new_rank = (
            F.lit((1.0 - self.damping) / self.n)
            + F.lit(self.damping)
            * (F.coalesce(F.col("contrib"), F.lit(0.0)) + F.col("_dm") / F.lit(float(self.n)))
        )
        prev = state.select("id", "out_deg", F.col("rank").alias("prev_rank"))
        return (
            prev.join(sums, "id", "left")
            .crossJoin(F.broadcast(dangling))
            .select("id", "out_deg", new_rank.alias("rank"), "prev_rank")
        )

    def _state_path(self, superstep: int) -> str:
        return os.path.join(self.workdir, f"state_{superstep:05d}")

    def _checkpoint(self, state: DataFrame, superstep: int, delta: float) -> DataFrame:
        path = self._state_path(superstep)
        state.write.mode("overwrite").parquet(path)
        RunManifest(self.run_id, superstep, path, delta).save(self.workdir)
        return self.spark.read.parquet(path)

    # -- driver loop ----------------------------------------------------------

    def run(self, *, tol: float = 1e-6, max_supersteps: int = 200) -> DataFrame:
        """Run (or resume) to convergence; returns (id, rank)."""
        manifest = RunManifest.load(self.workdir)
        if manifest is not None:
            state = self.spark.read.parquet(manifest.state_path)
            it = manifest.superstep
        else:
            state = self.base.withColumn("rank", F.lit(1.0 / self.n))
            it = 0

        # Supersteps recomputed between the last checkpoint and a crash point
        # were already metrics-recorded by the previous attempt — skip
        # re-recording them so (run_id, superstep) rows stay unique and
        # lineage sums aren't double-counted on resume.
        recorded_upto = 0
        metrics_path = os.path.join(self.workdir, "metrics")
        if manifest is not None and os.path.exists(metrics_path):
            row = (
                self.spark.read.parquet(metrics_path)
                .filter(F.col("run_id") == self.run_id)
                .agg(F.max("superstep"))
                .first()
            )
            recorded_upto = row[0] or 0

        while it < max_supersteps:
            t0 = time.time()
            new_state = self._superstep(state).transform(pin)
            # prev_rank rides along in the superstep output: the delta is one
            # aggregate over cached blocks, not a join against the old state.
            delta = new_state.agg(
                F.max(F.abs(F.col("rank") - F.col("prev_rank")))
            ).first()[0]
            it += 1
            wall_ms = (time.time() - t0) * 1000
            if it > recorded_upto:
                self._record_metrics(it, new_state, delta, wall_ms)
            new_state = new_state.select("id", "out_deg", "rank")
            if it % self.checkpoint_every == 0 or delta < tol:
                state = self._checkpoint(new_state, it, delta)
            else:
                state = new_state
            if delta < tol:
                break
        return state.select("id", "rank")


class CheckpointedConnectedComponents:
    """Two-phase connected components with parquet checkpoints, resume, and
    per-superstep metrics — the resumable driver for
    ``kernels.connected_components_two_phase`` (same semantics: canonical
    min-id labels; FIXED shrink superstep count + driver union-find,
    reference src/BCC/connectivity.h:44-107).

    Resumability: each shrink superstep checkpoints the label state and
    manifest; a restart replays from the recorded superstep and produces
    the identical labeling because every superstep is a pure function of
    the previous labels (verified by tests). The convergence metric
    recorded per superstep is the label-sum potential (strictly
    decreasing until fixpoint).
    """

    def __init__(
        self,
        spark: SparkSession,
        sym: DataFrame,
        vertices: DataFrame,
        workdir: str,
        *,
        run_id: str = "cc",
        shrink_rounds: int = 3,
        max_residual: int = 4_000_000,
    ) -> None:
        self.spark = spark
        self.sym = sym
        self.vertices = vertices
        self.workdir = workdir
        self.run_id = run_id
        self.shrink_rounds = shrink_rounds
        self.max_residual = max_residual

    def _record_metrics(
        self, superstep: int, labels: DataFrame, potential: float, wall_ms: float
    ) -> None:
        _append_lineage_metrics(
            self.workdir, self.run_id, superstep, labels, potential, wall_ms
        )

    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.workdir, "metrics"))

    def _superstep(self, labels: DataFrame) -> DataFrame:
        msgs = (
            self.sym.join(labels, self.sym.src == labels.id)
            .select(self.sym.dst.alias("id"), "component")
        )
        new = (
            labels.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        parent = new.select(
            F.col("id").alias("component"), F.col("component").alias("grand")
        )
        return (
            new.join(parent, "component", "left")
            .select("id", F.least("component", "grand").alias("component"))
        )

    def _checkpoint(self, labels: DataFrame, superstep: int, potential: float) -> DataFrame:
        path = os.path.join(self.workdir, f"state_{superstep:05d}")
        labels.write.mode("overwrite").parquet(path)
        RunManifest(self.run_id, superstep, path, float(potential)).save(self.workdir)
        return self.spark.read.parquet(path)

    def run(self) -> DataFrame:
        """Run (or resume) the shrink supersteps, then finish with the
        driver union-find; returns (id, component)."""
        manifest = RunManifest.load(self.workdir)
        if manifest is not None:
            labels = self.spark.read.parquet(manifest.state_path)
            it = manifest.superstep
        else:
            labels = self.vertices.select(
                "id", self.vertices.id.alias("component")
            )
            it = 0
        while it < self.shrink_rounds:
            t0 = time.time()
            labels = self._superstep(labels).transform(pin)
            # empty vertex set => SUM is NULL; coalesce so the manifest's
            # float() doesn't crash (ADVICE r3)
            potential = labels.agg(F.sum("component")).first()[0] or 0
            it += 1
            # checkpoint+manifest commit FIRST, metrics after: a crash
            # between the two re-executes the superstep on resume, and
            # metrics-after means the replay cannot leave a duplicate
            # metric row for a superstep whose state never committed
            # (ADVICE r3)
            labels = self._checkpoint(labels, it, potential)
            self._record_metrics(it, labels, potential, (time.time() - t0) * 1000)
        return cc_phase2_union_find(
            self.sym, labels, max_residual=self.max_residual,
            context=f"after {self.shrink_rounds} checkpointed shrink rounds",
        )


class CheckpointedLabelPropagation:
    """Frontier LPA with parquet checkpoints, resume, and metrics — the
    resumable driver for ``kernels.label_propagation`` (same semantics:
    synchronous min-label adoption; after k rounds label(v) = min id in
    v's k-hop closed neighborhood).

    Completes the resumable-driver story across the north rule's iterative
    kernels (PageRank and CC above; triangle count is one-shot). The
    checkpointed state is ``(id, label, old)`` — ``old`` is the previous
    round's label, so the frontier (``label < old``: the senders of the
    next round) is reconstructed from the state alone and a resumed run
    replays the identical per-round labels as an uninterrupted one.
    Convergence metric per round: frontier size (vertices whose label
    changed — 0 means a fixpoint was reached before the round budget).
    """

    def __init__(
        self,
        spark: SparkSession,
        sym: DataFrame,
        vertices: DataFrame,
        workdir: str,
        *,
        run_id: str = "lpa",
        rounds: int = 5,
    ) -> None:
        self.spark = spark
        self.sym = sym
        self.vertices = vertices
        self.workdir = workdir
        self.run_id = run_id
        self.rounds = rounds

    def _record_metrics(
        self, superstep: int, state: DataFrame, delta: float, wall_ms: float
    ) -> None:
        _append_lineage_metrics(
            self.workdir, self.run_id, superstep, state, delta, wall_ms
        )

    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.workdir, "metrics"))

    def _superstep(self, labels: DataFrame, frontier: DataFrame) -> DataFrame:
        # identical shape to kernels.label_propagation's round: frontier
        # sends, min-fold over (state ∪ messages), previous label carried
        # as ``old`` (min(old) per id is exact: one state row per id)
        label_t = dict(labels.dtypes)["label"]
        msgs = (
            self.sym.join(frontier, self.sym.src == frontier.id)
            .select(
                self.sym.dst.alias("id"),
                "label",
                F.lit(None).cast(label_t).alias("old"),
            )
        )
        st = labels.select("id", "label", F.col("label").alias("old"))
        return (
            st.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("label").alias("label"), F.min("old").alias("old"))
        )

    def run(self) -> DataFrame:
        """Run (or resume) the LPA rounds; returns (id, label)."""
        manifest = RunManifest.load(self.workdir)
        if manifest is not None:
            state = self.spark.read.parquet(manifest.state_path)
            it = manifest.superstep
            labels = state.select("id", "label")
            frontier = state.filter(
                F.col("old").isNull() | (F.col("label") < F.col("old"))
            ).select("id", "label")
        else:
            labels = self.vertices.select("id", self.vertices.id.alias("label"))
            frontier = labels  # round 0: every vertex is a sender
            it = 0
        while it < self.rounds:
            t0 = time.time()
            state = self._superstep(labels, frontier).transform(pin)
            it += 1
            # state parquet first, manifest second, metrics last (ADVICE
            # r3 ordering): a crash between state and manifest replays the
            # round on resume (pure function, identical result); a crash
            # before metrics cannot leave a metric row for an uncommitted
            # state. The frontier count reads the just-written parquet and
            # stamps the manifest's delta in its ONE write per round.
            path = os.path.join(self.workdir, f"state_{it:05d}")
            state.write.mode("overwrite").parquet(path)
            state = self.spark.read.parquet(path)
            frontier = state.filter(
                F.col("old").isNull() | (F.col("label") < F.col("old"))
            ).select("id", "label")
            n_frontier = frontier.count()
            RunManifest(self.run_id, it, path, float(n_frontier)).save(
                self.workdir
            )
            self._record_metrics(it, state, n_frontier, (time.time() - t0) * 1000)
            labels = state.select("id", "label")
            if n_frontier == 0:
                break  # fixpoint: remaining rounds are no-ops
        return labels
