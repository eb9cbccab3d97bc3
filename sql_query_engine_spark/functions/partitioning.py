"""Size-aware partitioning for Python-stage (Arrow) passes.

The ANN trainers and encoders run iterative ``mapInPandas`` passes over
the embedding corpus. A fixed ``repartition(defaultParallelism)`` is the
wrong rule at BOTH ends of the scale:

* gate-sized corpora (hundreds of rows) pay ~32 task launches per
  Lloyd's round for microseconds of Arrow work each — scheduling
  latency dominates and every extra round multiplies it;
* at cluster scale, ``defaultParallelism`` caps far below what a
  100 TB corpus needs, while tiny Arrow batches per task waste the
  per-batch fixed cost.

``sized_for_python_stage`` picks ``clamp(rows / rows_per_task, 1,
4 * defaultParallelism)`` so every task carries enough rows to amortize
Arrow serialization, small inputs collapse to a handful of tasks, and
wide clusters still fan out. Narrowing uses ``coalesce`` (no shuffle);
widening — the one-file-parquet-scans-as-one-partition case — pays the
single round-robin exchange deliberately.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

ROWS_PER_TASK = 2_000


def sized_for_python_stage(
    df: DataFrame, n_rows: int, rows_per_task: int = ROWS_PER_TASK
) -> DataFrame:
    """Re-bucket ``df`` (``n_rows`` rows) for an Arrow/Python pass."""
    par = df.sparkSession.sparkContext.defaultParallelism
    target = max(1, min(4 * par, n_rows // rows_per_task or 1))
    current = df.rdd.getNumPartitions()
    if target == current:
        return df
    if target < current:
        return df.coalesce(target)
    return df.repartition(target)


def configure_checkpoint_dir(sc, checkpoint_dir: str) -> None:
    """The single chokepoint for ``sc.setCheckpointDir`` (ADVICE r9:
    dedup.py once called it directly while the iterative loops' helper
    cached the configured dir in ``sc._sqe_checkpoint_dir`` — a direct
    call elsewhere could change the JVM-side dir after the cache was
    set, and the helper would then silently checkpoint into the foreign
    directory without resetting). Every caller routes here, so the
    cached marker and the JVM state can never diverge. The cache
    matters because each setCheckpointDir call creates a fresh random
    subdirectory — re-running it per checkpoint() would scatter
    checkpoints across one-use dirs (ADVICE r8)."""
    want = checkpoint_dir.rstrip("/")
    if getattr(sc, "_sqe_checkpoint_dir", None) != want:
        sc.setCheckpointDir(want)
        sc._sqe_checkpoint_dir = want
