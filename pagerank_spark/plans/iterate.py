"""Generic BSP iterate-until-converged driver.

The engine's iterative graph algorithms (connected components, label
propagation, join-mode PageRank) share one loop skeleton: compute the
next state from the current one, truncate lineage with
``localCheckpoint`` so the physical plan stays O(1) across rounds, run
one cheap convergence action, stop at ``max_iter`` otherwise. This is
the Pregel superstep shape with Spark's execution model: state is a
DataFrame, a superstep is a handful of joins/aggregates Catalyst plans
whole, and the only driver-side work per round is the convergence
check.

``iterate`` extracts that skeleton once — CC/LPA/join-PR are expressed
on it, and users get the same extension point for new iterative
algorithms (shortest paths, k-core peeling, …) without hand-rolling
lineage truncation or stall warnings. The C reference hand-rolls the
equivalent do-while in every variant (``Page_Rank_SERIAL.c:206-279``);
here it exists exactly once.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    converged: Callable[[DataFrame, DataFrame, int], bool],
    max_iter: int,
    checkpoint: bool = True,
    warn: str | None = None,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    stop: Callable[[DataFrame, int], bool] | None = None,
) -> tuple[DataFrame, int, bool]:
    """Run ``state = step(state, round)`` until ``converged`` or
    ``max_iter`` rounds; returns ``(state, rounds_run, converged)``.

    - ``step(state, round)`` (1-based round) returns the next state; it
      must NOT checkpoint — the harness localCheckpoints every round so
      plans never grow with the round count.
    - ``converged(prev, new, round)`` runs AFTER the checkpoint, so any
      action it triggers (count, agg) scans materialized partitions; it
      may carry loop state in a closure (e.g. CC's count-first /
      lazy-hash detection) and record per-round metrics.
    - do-while semantics: ``step`` always runs at least once when
      ``max_iter >= 1``.
    - ``warn``: message to emit as a RuntimeWarning when ``max_iter``
      is exhausted without convergence (omit for fixed-round
      algorithms where running out IS the contract, e.g. LPA gates).
    - ``checkpoint_dir``: DURABLE resumability (the north_rule's
      restart contract, extended from PageRank to every harness
      algorithm): after each round the state parquet plus a manifest
      (round number, done flag) land under the directory; with
      ``resume=True`` the loop restarts from the last persisted round
      instead of round 0 — a killed CC/LPA/SSSP job continues where
      it stopped. Convergence-callback closures restart fresh, which
      at worst costs one extra detection round (the detectors are all
      recompute-from-state). The manifest is written AFTER the state
      parquet, so a crash between the two resumes one round back —
      never forward into missing data.
    - ``stop(state, round)``: early exit that is NOT convergence (e.g.
      CC handing a contracted edge set to a driver-side finish). It is
      tested on the starting (fresh or resumed) state and after every
      unconverged round; when it fires the loop returns
      ``(state, rounds, False)`` without the ``warn`` warning, and the
      manifest keeps ``done: false`` — a later resume continues the
      fixpoint instead of taking the stopped state for a converged one.
    """
    rounds = 0
    done = False
    manifest = (
        os.path.join(checkpoint_dir, "iterate_manifest.json")
        if checkpoint_dir
        else None
    )
    if checkpoint_dir:
        os.makedirs(checkpoint_dir, exist_ok=True)
    if resume and manifest and os.path.exists(manifest):
        with open(manifest) as f:
            meta = json.load(f)
        rounds = int(meta["round"])
        spark = state.sparkSession
        state = spark.read.parquet(
            os.path.join(checkpoint_dir, f"round_{rounds:05d}")
        )
        if meta.get("done"):
            return state, rounds, True
    start = rounds
    stopped = stop is not None and stop(state, start)
    last = start if stopped else max_iter
    for rounds in range(start + 1, last + 1):
        new = step(state, rounds)
        if checkpoint:
            # eager on purpose: several convergence callbacks probe with
            # partial-evaluation actions (isEmpty / limit-count), and a
            # LAZY localCheckpoint finalized by a partial job is the
            # classic missing-block hazard; the measured saving of
            # fusing materialize+probe was within box noise (r6)
            new = new.localCheckpoint()
        fin = converged(state, new, rounds)
        if checkpoint_dir:
            new.write.mode("overwrite").parquet(
                os.path.join(checkpoint_dir, f"round_{rounds:05d}")
            )
            tmp = manifest + ".tmp"
            with open(tmp, "w") as f:
                json.dump({"round": rounds, "done": bool(fin)}, f)
            os.replace(tmp, manifest)
        state = new
        if fin:
            done = True
            break
        if stop is not None and stop(state, rounds):
            stopped = True
            break
    rounds = max(rounds, start)
    if not done and not stopped and warn is not None:
        import warnings

        warnings.warn(warn, RuntimeWarning, stacklevel=2)
    return state, rounds, done
