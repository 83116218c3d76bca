"""Generic Pregel-style superstep driver — the engine's heart
(SURVEY.md §7.2 M3).

Spark has no iterative operator, so iteration is driver-side control flow:
each superstep is a declarative DataFrame computation ending in a barrier
(the checkpoint write / metrics action) — the analog of the reference's
per-epoch batch loop + probe barrier (``reconstruction/run.rs:118-129``,
``timely_extensions/sync.rs:27-41``), with three upgrades the reference
lacks: atomic delta checkpoints, per-partition lineage rows, and resume.

Algorithms plug in two functions:

``init_state_fn() -> DataFrame``
    initial state; must have a ``vid`` long column + value columns.

``step_fn(state, iteration) -> StepOutcome``
    one superstep. Returns the FULL new state with an extra ``_changed``
    boolean column (the frontier), optional lineage rows, and metrics —
    must contain ``converged: bool``. The returned state MUST be
    materialized with a TRUNCATED plan (``localCheckpoint(eager=True)``
    or a parquet round-trip): without truncation the lineage tree deepens
    every superstep and Catalyst overflows the JVM stack after a few
    dozen iterations — the classic Spark iterative-algorithm trap.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from crgp_spark.config import EngineConfig
from crgp_spark.plans.checkpoint import CheckpointManager


#: Below this vertex count a per-iteration state table is a genuinely
#: small dim and the broadcast plan measurably wins (2x at 370k edges);
#: above it, broadcasting |V| rows per superstep is wrong at any core
#: count AND accumulates executor-fatal broadcast maps (freed only after
#: py4j+JVM GC — see ``_release_stale_checkpoints``), so state-side
#: joins pin the co-partitioned shuffle_hash plan instead. Shared by
#: every iterative operator so the policy cannot drift per-algorithm
#: (ADVICE r2); the carve-out is documented in CLAUDE.md.
BROADCAST_STATE_MAX_VERTICES = 1_000_000


def state_hint(df: DataFrame, n: int) -> DataFrame:
    """Join-strategy hint for a per-iteration state-side table of ~``n``
    rows: broadcast below ``BROADCAST_STATE_MAX_VERTICES``, shuffle-hash
    above. Callers with no cheap row estimate should pass an upper
    bound — over-estimating costs one shuffle, under-estimating risks
    the broadcast-OOM accumulation. The broadcast is an EXPLICIT hint,
    not a reliance on Catalyst's size estimate, so the plan choice
    survives ``reset_stats`` (which deliberately discards estimates) and
    cannot drift with stats-propagation quirks; Spark ignores the hint
    with a warning in the rare positions where broadcasting that side is
    illegal (preserved side of an outer join), which degrades to exactly
    the un-hinted behavior."""
    if n <= BROADCAST_STATE_MAX_VERTICES:
        return df.hint("broadcast")
    return df.hint("shuffle_hash")


def reset_stats(df: DataFrame) -> DataFrame:
    """Drop Catalyst's inherited size estimate from a checkpointed frame.

    ``Dataset.localCheckpoint`` copies the origin plan's ``Statistics``
    into the replacement ``LogicalRDD``, and the size-only stats visitor
    MULTIPLIES the children's ``sizeInBytes`` at every join. An
    iterative operator whose superstep self-joins its own state (pointer
    jumping: ``state ⋈ f(state)``) therefore SQUARES the inherited
    BigInt every superstep — the digit count doubles per iteration and
    Catalyst ends up doing million-digit Karatsuba/Toom-Cook
    multiplications inside stats estimation (measured on a 24-vertex
    ring: 0.6 s → 127 s per superstep by step 17, then driver
    ``OutOfMemoryError``). Operators whose per-step joins combine state
    only with fixed-size inputs grow the digit count linearly and never
    notice.

    Rebuilding the frame as a fresh ``LogicalRDD`` over the
    already-materialized rows resets ``sizeInBytes`` to the session
    default and keeps planning O(1) per superstep. JVM-side pointer
    surgery only — no data moves, the checkpoint blocks keep backing the
    new frame. Use on every per-superstep checkpoint of a loop that
    joins state with anything derived from the same state.

    The fresh ``LogicalRDD`` also claims no output partitioning, where a
    checkpoint inherits its origin's: a loop whose kernel emits rows for
    another partition (cascade replicas) uses it so the next exchange on
    that key is planned, never skipped."""
    jdf = df._jdf
    new_jdf = df.sparkSession._jsparkSession.internalCreateDataFrame(
        jdf.queryExecution().toRdd(), jdf.schema(), False
    )
    return DataFrame(new_jdf, df.sparkSession)


def observed_checkpoint(
    df: DataFrame,
    label: str,
    *,
    columns: list[str] | None = None,
    **metrics: Column,
) -> tuple[DataFrame, dict]:
    """Materialize ``df`` with ``localCheckpoint(eager=True)`` and return
    ``(checkpoint, values)``, where ``values`` maps each keyword of
    ``metrics`` to its aggregate over ``df``'s rows. ``columns``, if
    given, projects the checkpoint to those columns AFTER observing, so
    a metric may read a column the state does not keep (the previous
    rank of a convergence delta).

    The aggregates ride on the checkpointing job as ``DataFrame.observe``
    metrics, so a superstep's convergence scalars (row count, max delta,
    checksum) cost no job of their own. A ``count()`` or ``agg().first()``
    after the checkpoint would re-scan the rows in a second job, and
    under AQE its partial-aggregate exchange is a third: per-superstep
    job count is the floor of every iterative operator here. Aggregates
    over zero rows follow SQL (``count`` 0, ``max``/``sum`` ``None``).

    ``label`` (``"<operator> <phase> it=<k>"``) becomes the Spark job
    description of the materializing job, so the status store names the
    operator, phase and iteration of every superstep; the caller's
    description is restored afterwards. The job GROUP is left alone —
    callers (benchmarks, applications) attribute jobs by their own
    group."""
    obs = Observation()
    sc = df.sparkSession.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try:
        out = df.observe(
            obs, *[agg.alias(name) for name, agg in metrics.items()]
        )
        if columns is not None:
            out = out.select(*columns)
        out = out.localCheckpoint(eager=True)
    finally:
        sc.setJobDescription(prev)
    return out, obs.get


@dataclass
class StepOutcome:
    state: DataFrame  # vid + value cols + `_changed` bool
    # a distributed frame, or driver-built rows as a pandas frame
    # (written by CheckpointManager.commit without a Spark job)
    lineage: DataFrame | pd.DataFrame | None
    metrics: dict


@dataclass
class LoopResult:
    state: DataFrame  # converged (or max-iteration) state, no `_changed`
    history: list[dict]
    iterations: int
    converged: bool
    resumed_from: int | None


def _release_stale_checkpoints(
    spark: SparkSession, it: int, every: int = 5
) -> None:
    """Free superseded ``localCheckpoint`` storage blocks.

    ``DataFrame.unpersist`` does not release a local checkpoint's
    underlying blocks — the ContextCleaner drops them only after BOTH
    the py4j proxy and the JVM reference are garbage-collected, which
    in a long loop happens far too late: on executors with bounded heaps
    (real clusters, ``local-cluster[...]``) ~20 supersteps of stale
    9.9M-row state blocks OOM the executor. A periodic Python
    ``gc.collect()`` (drops the py4j proxies) + JVM ``System.gc()``
    (lets the ContextCleaner enqueue the orphaned checkpoints) keeps resident
    state at O(1) supersteps; every 5 iterations keeps the pause
    amortized."""
    if (it + 1) % every:
        return
    import gc

    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:  # pragma: no cover - defensive: JVM gateway gone
        pass


def run_loop(
    spark: SparkSession,
    algo: str,
    cfg: EngineConfig,
    init_state_fn: Callable[[], DataFrame],
    step_fn: Callable[[DataFrame, int], StepOutcome],
    resume: bool = False,
    max_iterations: int | None = None,
) -> LoopResult:
    cm = CheckpointManager(cfg.checkpoint_dir, algo, cfg.snapshot_every)
    start_it, state, resumed_from = 0, None, None

    if resume:
        last = cm.latest()
        if last is not None:
            state = cm.load_state(spark, last).persist()
            if last.converged:
                return LoopResult(state, [last.metrics], last.iteration + 1, True, last.iteration)
            start_it = last.iteration + 1
            resumed_from = last.iteration
    if state is None:
        state = init_state_fn().persist()

    history: list[dict] = []
    n_commits = 0
    converged = False
    it = start_it - 1
    for it in range(start_it, max_iterations or cfg.max_iterations):
        out = step_fn(state, it)
        new_state = out.state
        converged = bool(out.metrics.get("converged"))

        if (it - start_it) % cfg.checkpoint_every == 0 or converged:
            kind = "full" if (n_commits % cfg.snapshot_every == 0 or converged) else "delta"
            to_write = (
                new_state.drop("_changed")
                if kind == "full"
                else new_state.filter(F.col("_changed")).drop("_changed")
            )
            cm.commit(it, to_write, out.lineage, kind, converged, out.metrics)
            n_commits += 1

        history.append({**out.metrics, "iteration": it})
        state.unpersist()
        state = new_state
        if converged:
            break
        _release_stale_checkpoints(spark, it)

    return LoopResult(state.drop("_changed"), history, it + 1, converged, resumed_from)
