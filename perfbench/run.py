"""Seeded end-to-end benchmark of the pasgal_spark link-graph kernels.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 10 --trace 0

One process, one ``local[nproc]`` Spark session, one client that makes
one public call at a time (a closed loop). Each call is timed up to its
first action and checked against an independent oracle outside the timed
region. After an untimed warm-up call of each kind, a fixed number of
rounds of the workload's calls follows, about ``--seconds`` of calls on a
quiet machine (see ROUND_S).

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
counters of every call (see tracer.py). The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``; the line before
it is the run stamp (CPU steal share, cores, versions, seed, sizes).
See perfbench/README.md for the workloads and metric mapping.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import math
import os
import pickle
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKDIR = os.path.join(ROOT, ".perfbench_work")
SETUP_REPEATS = 3
# An untraced run measures ``--seconds / ROUND_S`` rounds (at least one):
# about --seconds of calls on a quiet 4-core machine. The count, not the
# clock, ends the window. Each call keeps getting faster over its first
# rounds as the JIT compiles it, so a window ended by the clock takes a
# varying number of samples from run to run and its medians follow that
# count; a fixed count compares the same samples in every run.
ROUND_S = 3.0

# Calls each workload makes per round, in order. An untraced run makes the
# ``calls``; a traced run also makes the ``traced_calls``, once each. The
# benchmark's time budget (4 + 22 x workloads runs in 3420 s) leaves no
# room for those in the untraced runs, and PageRank's wall time spreads
# too much from run to run for an end-to-end metric (see README.md). The
# resume call needs the uninterrupted durable PageRank before it.
COMMON_CALLS = [
    "bcc.bcc_summary",
    "kernels.connected_components_two_phase",
    "kernels.triangle_count",
]
TRACED_KERNELS = [
    "kernels.pagerank",
    "kernels.label_propagation",
    "kernels.bfs",
    "kernels.connected_components",
    "bcc.bcc_summary_distributed",
]
WORKLOADS = {
    "crawl": {
        "size": {"pages": 10_000},
        "calls": COMMON_CALLS,
        "traced_calls": TRACED_KERNELS + [
            "directed.scc",
            "checkpoints.CheckpointedPageRank",
            "checkpoints.resume",
            "checkpoints.CheckpointedConnectedComponents",
            "checkpoints.CheckpointedLabelPropagation",
        ],
    },
    "grid": {
        "size": {"rows": 32, "cols": 256},
        "calls": COMMON_CALLS,
        # directed.scc is left out: it raises on this grid (see README.md)
        "traced_calls": TRACED_KERNELS + ["kernels.sssp_rho_stepping"],
    },
}

END_TO_END = {
    "setup_s": "s",
    "ingest_s": "s",
    "cc_s": "s",
    "triangles_s": "s",
    "bcc_s": "s",
    "ops_ok": "share",
    "driver_rss_mb": "MB",
}

COUNTERS = {
    "wall_s": "s",
    "jobs": "count",
    "stages": "count",
    "jobs_ungrouped": "count",
    "driver_only_s": "s",
    "task_s": "s",
    "shuffle_write_bytes": "bytes",
    "driver_cpu_s": "s",
}

RUN_LAYERS = {
    "session.get_spark_s": "s",
    "sources.extract_s": "s",
    "sources.links": "count",
    "builder.symmetrize_s": "s",
    "lineage.pin_s": "s",
    "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    try:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    except OSError:
        pass  # a closed stderr must not stop the clean-up that logs


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--size", type=json.loads, default=None,
        help='override the input size, e.g. \'{"pages": 500}\' (tests only)',
    )
    return p.parse_args(argv)


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name with its unit, in a fixed order."""
    import calls

    names = dict(RUN_LAYERS)
    every = [c for w in WORKLOADS.values() for c in w["calls"] + w["traced_calls"]]
    for layer in dict.fromkeys(every):
        call = calls.CALLS[layer]
        for counter, unit in COUNTERS.items():
            names[f"{layer}.{counter}"] = unit
        if call.has_supersteps:
            names[f"{layer}.supersteps"] = "count"
        if call.writes_checkpoints:
            names[f"{layer}.bytes_written"] = "bytes"
    return names


# -- session and stamp ----------------------------------------------------


def start_session(cores: int, trace: bool):
    """The program's own session, ``get_spark`` with its defaults. Only
    deployment settings are added: Spark's scratch files stay in the
    checkout, and a traced run keeps every job and stage for the tracer."""
    from pasgal_spark.session import get_spark
    from tracer import RETAIN_CONF

    local = os.path.join(WORKDIR, "spark")
    conf = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(local, "warehouse"),
        # keep the JVM's temp files in the checkout; no hsperfdata in /tmp
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
        ),
        **(RETAIN_CONF if trace else {}),
    }
    return get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)


def cpu_ticks() -> tuple[int, int] | None:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat.
    Steal is time the hypervisor gave this VM's CPUs to other tenants, so
    its share over a run flags a loaded host."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def steal_share(start, end) -> float | None:
    """Steal ticks over all ticks between two ``cpu_ticks`` readings."""
    if start is None or end is None or end[1] == start[1]:
        return None
    return (end[0] - start[0]) / (end[1] - start[1])


def stop_session(spark) -> None:
    """Stop Spark, wait for the JVM it launched to exit, and forget that
    JVM, so the next session launches a fresh one."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.close()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Have processes orphaned below this one re-parented to it (Linux).
    Spark's Python worker daemon and its workers outlive the JVM that
    forked them; this lets ``stop_descendants`` find and wait for them."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _descendants() -> list[int]:
    """Pids of every process below this one, from /proc. Unreaped
    (zombie) children count too: they are gone only once reaped."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc") if os.path.isdir("/proc") else []:
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = f.read().rsplit(")", 1)[1].split()[1]
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(int(ppid), []).append(int(entry))
    found, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        found += kids
        todo += kids
    return found


def _names(pids: list[int]) -> str:
    """The pids with their command lines, for the log."""
    names = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            cmd = ""
        names.append(f"{pid} {cmd[:80]}".strip())
    return "; ".join(names)


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    try:
        while os.waitpid(-1, os.WNOHANG)[0] > 0:
            pass
    except ChildProcessError:
        pass


def stop_descendants(grace_s: float = 20.0) -> None:
    """Terminate every process still below this one, then kill what is
    left after ``grace_s``, and wait until each has ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        _reap()
        pids = _descendants()
        if not pids:
            return
        log(f"stopping leftover processes with {sig.name}: {_names(pids)}")
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace_s
        while _descendants() and time.monotonic() < deadline:
            time.sleep(0.05)
            _reap()


# -- set-up, oracles and ingest ---------------------------------------------


def set_up(workload: str, seed: int, size: dict, cores: int, trace: bool):
    """Generate the input and launch a fresh JVM and session, several
    times; the last repeat's input and session are kept."""
    import inputs

    spark, walls, session_walls = None, [], []
    # setup_s is an untraced metric; a traced run sets up once
    for rep in range(1 if trace else SETUP_REPEATS):
        if spark is not None:
            stop_session(spark)
        t0 = time.perf_counter()
        path, graph = inputs.write_input(
            os.path.join(WORKDIR, f"input-{rep}"), workload, seed, size
        )
        t1 = time.perf_counter()
        spark = start_session(cores, trace)
        t2 = time.perf_counter()
        session_walls.append(t2 - t1)
        walls.append(t2 - t0)
    return spark, path, graph, walls, session_walls


def run_oracles(call_names: list[str], graph) -> dict:
    """The oracles' answers, computed in a child process so their memory
    does not count in the driver's peak RSS. A plain subprocess, waited
    for here: multiprocessing would also start a resource tracker that
    outlives this process."""
    import calls

    keys = [calls.CALLS[c].oracle for c in call_names]
    args_path = os.path.join(WORKDIR, "oracle-args.pkl")
    answers_path = os.path.join(WORKDIR, "oracle-answers.pkl")
    with open(args_path, "wb") as f:
        pickle.dump((keys, graph.n, graph.edges, graph.sym, graph.sym_w), f)
    subprocess.run(
        [sys.executable, os.path.join(HERE, "oracles.py"), args_path, answers_path],
        check=True,
    )
    with open(answers_path, "rb") as f:
        return pickle.load(f)


def ingest(spark, workload: str, path: str, n: int) -> tuple[dict, dict]:
    """Build the laid-out tables from the input parquet.

    ``build_graph`` reads only the TPC-H tables, so this applies its
    documented layout with public calls: repartition by ``src``, then
    ``pin(hash_cols=("src",))``, then ``.cache()``. Returns the tables
    and the per-layer times."""
    from pyspark.sql import functions as F

    from pasgal_spark.graph.builder import INGEST_TARGET_BYTES, symmetrize
    from pasgal_spark.plans.lineage import pin
    from pasgal_spark.sources.extract import extract_links, links_to_edges

    # build_graph's partition rule: one partition per INGEST_TARGET_BYTES
    # of input parquet, at least 2, at most the session's parallelism
    parts = max(
        2,
        min(
            spark.sparkContext.defaultParallelism,
            math.ceil(os.path.getsize(path) / INGEST_TARGET_BYTES),
        ),
    )
    layers = {}
    t0 = time.perf_counter()
    if workload == "grid":
        raw = spark.read.parquet(path).select("src", "dst")
        layers["sources.extract_s"] = 0.0
        layers["sources.links"] = 0
    else:
        raw = links_to_edges(extract_links(spark.read.parquet(path))).cache()
        layers["sources.links"] = raw.count()
        layers["sources.extract_s"] = time.perf_counter() - t0
    t1 = time.perf_counter()
    sym_raw = symmetrize(raw).cache()
    sym_raw.count()
    layers["builder.symmetrize_s"] = time.perf_counter() - t1

    t2 = time.perf_counter()
    weight = (F.least("src", "dst") * 31 + F.greatest("src", "dst") * 17) % 8 + 1

    def laid_out(df):
        return pin(df.repartition(parts, "src"), hash_cols=("src",)).cache()

    edges = laid_out(raw)
    sym = laid_out(sym_raw)
    wedges = laid_out(sym_raw.select("src", "dst", weight.cast("long").alias("w")))
    vertices = pin(spark.range(n)).cache()
    counts = [df.count() for df in (edges, sym, wedges, vertices)]
    layers["lineage.pin_s"] = time.perf_counter() - t2
    raw.unpersist()
    sym_raw.unpersist()
    tables = dict(edges=edges, sym=sym, wedges=wedges, vertices=vertices)
    return tables, layers


# -- the measured loop --------------------------------------------------------


def run_call(call, ctx, tracer, sample: dict) -> str | None:
    """One timed call plus its check; fills ``sample``, returns the error."""
    steps: list = []
    try:
        if call.prepare:
            call.prepare(ctx)
        if tracer is None:
            t0 = time.perf_counter()
            result = call.run(ctx, steps)
            sample["wall_s"] = time.perf_counter() - t0
        else:
            with tracer.call(call.layer) as counters:
                t0 = time.perf_counter()
                result = call.run(ctx, steps)
                sample["wall_s"] = time.perf_counter() - t0
            sample.update(counters)
        sample["supersteps"] = len(steps)
        if call.writes_checkpoints:
            sample["bytes_written"] = _dir_bytes(ctx.last_dir)
        err = call.check(ctx, result)
    except Exception as e:  # a failed call is a measured outcome, not a crash
        traceback.print_exc(file=sys.stderr)
        err = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
    return err


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def measure(ctx, call_names: list[str], seconds: float, tracer) -> tuple[dict, int, list]:
    """Make the calls; return per-call samples, attempts and failures.

    A traced run makes every call once: the per-layer counters need no
    repeats. An untraced run first makes each call once as a warm-up,
    which compiles its plans in the fresh session; it is checked and
    counted, but its time is left out of the end-to-end metrics. Then
    ``seconds / ROUND_S`` rounds of the calls follow (at least one);
    interleaving them spreads each one's samples over the window. A call
    that fails is not made again."""
    import calls

    samples: dict[str, list[dict]] = {c: [] for c in call_names}
    attempted, failures, failed = 0, [], set()

    def make(name: str, warmup: bool) -> None:
        nonlocal attempted
        if name in failed:
            return
        sample: dict = {"warmup": warmup}
        err = run_call(calls.CALLS[name], ctx, tracer, sample)
        attempted += 1
        log(f"{name} {sample.get('wall_s', 0):.2f}s {err or 'ok'}")
        if err is None:
            samples[name].append(sample)
        else:
            failures.append(f"{name}: {err}")
            failed.add(name)

    for name in call_names:
        make(name, tracer is None)
    if tracer is not None:
        return samples, attempted, failures
    for _ in range(max(1, round(seconds / ROUND_S))):
        for name in call_names:
            make(name, False)
    return samples, attempted, failures


def _median(values):
    return statistics.median(values) if values else None


def end_to_end(samples, setup_walls, ingest_s, attempted, failures) -> dict:
    import calls

    out = {"setup_s": _median(setup_walls), "ingest_s": ingest_s}
    for name, ss in samples.items():
        ss = [s for s in ss if not s["warmup"]]
        metric = calls.CALLS[name].metric
        if metric and ss:
            out[metric] = _median([s["wall_s"] for s in ss])
    out["ops_ok"] = (attempted - len(failures)) / attempted
    out["driver_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    return out


def per_layer(samples, layers: dict, session_walls, overhead_s: float) -> dict:
    out = {name: 0 for name in per_layer_names()}
    out.update(layers)
    out["session.get_spark_s"] = _median(session_walls)
    out["trace.overhead_s"] = overhead_s
    for name, ss in samples.items():
        for key in [*COUNTERS, "supersteps", "bytes_written"]:
            metric = f"{name}.{key}"
            if metric in out and ss:
                out[metric] = _median([s[key] for s in ss])
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    # on SIGTERM, unwind through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "pasgal_spark")):
        print(f"perfbench: no pasgal_spark package under {ROOT}", file=sys.stderr)
        return 2
    become_subreaper()
    spec = WORKLOADS[args.workload]
    size = args.size or spec["size"]
    cores = os.cpu_count() or 1
    shutil.rmtree(WORKDIR, ignore_errors=True)
    os.makedirs(os.path.join(WORKDIR, "tmp"))
    os.environ["TMPDIR"] = os.path.join(WORKDIR, "tmp")
    # Spark's Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, HERE]

    import calls
    import pyspark

    spark = None
    try:
        spark, path, graph, setup_walls, session_walls = set_up(
            args.workload, args.seed, size, cores, bool(args.trace)
        )
        log(f"set-up {sum(setup_walls):.1f}s")
        ticks = cpu_ticks()
        # warm the fresh session up: its first query pays for class loading
        spark.range(1_000).selectExpr("max(xxhash64(id))").collect()
        t0 = time.perf_counter()
        call_names = spec["calls"] + (spec["traced_calls"] if args.trace else [])
        want = run_oracles(call_names, graph)
        log(f"oracles {time.perf_counter() - t0:.1f}s")
        t0 = time.perf_counter()
        tables, layers = ingest(spark, args.workload, path, graph.n)
        ingest_s = time.perf_counter() - t0
        log(f"ingest {ingest_s:.1f}s")
        ctx = calls.Ctx(
            spark=spark, n=graph.n, workdir=os.path.join(WORKDIR, "ckpt"), want=want,
            **tables,
        )
        os.makedirs(ctx.workdir)
        tracer = None
        if args.trace:
            from tracer import Tracer

            tracer = Tracer(spark)
        samples, attempted, failures = measure(ctx, call_names, args.seconds, tracer)
        log(f"measured {attempted} calls")
        if args.trace:
            metrics = per_layer(samples, layers, session_walls, tracer.overhead_s)
            units = per_layer_names()
        else:
            metrics = end_to_end(samples, setup_walls, ingest_s, attempted, failures)
            units = END_TO_END
        stamp = {
            "workload": args.workload,
            "seed": args.seed,
            "size": size,
            "vertices": graph.n,
            "directed_edges": int(len(graph.edges)),
            "symmetric_edges": int(len(graph.sym)),
            "cores": cores,
            "master": f"local[{cores}]",
            "spark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0],
            "cpu_steal_share": steal_share(ticks, cpu_ticks()),
            "failures": failures,
            "calls": {
                name: [
                    {
                        "wall_s": round(x["wall_s"], 3),
                        "supersteps": x["supersteps"],
                        "warmup": x["warmup"],
                    }
                    for x in ss
                ]
                for name, ss in samples.items()
            },
        }
    finally:
        # a second SIGTERM must not cut the clean-up short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            stop_descendants()
            shutil.rmtree(WORKDIR, ignore_errors=True)

    missing = [m for m in units if metrics.get(m) is None]
    print(json.dumps({"stamp": stamp}))
    print(
        json.dumps(
            {
                "correct": not failures and not missing,
                "attempted": attempted,
                "failed": len(failures),
                "metrics": {
                    m: {"value": metrics[m], "unit": u}
                    for m, u in units.items()
                    if metrics.get(m) is not None
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
