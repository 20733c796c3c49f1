"""The one drain engine behind every standing pipeline in the package.

Three decisions live here and nowhere else:

- how a query drains: an ``availableNow`` trigger over a checkpoint,
  started and awaited ``runs`` times (:func:`drain`, and
  :func:`drain_to_memory` for pipelines whose result is the settled sink
  table);
- how keyed state upserts: the compact-and-swap generation chain
  (:class:`GenerationChain`, run end to end by :func:`upsert_generations`);
- how a batch input becomes a multi-batch stream: single-file parquet
  splits read one per trigger (:func:`staged_source`), cut into half-open
  block ranges by :func:`block_ranges`.

Scratch directories come from :func:`workdir`, which deletes them on every
exit path unless the caller keeps a durable root.
"""

from __future__ import annotations

import glob
import math
import os
import re
import shutil
import tempfile
import uuid
from collections.abc import Callable, Iterator, Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter


@contextmanager
def workdir(prefix: str, keep: str | None = None) -> Iterator[str]:
    """Yield a scratch directory that is removed on exit, or, when ``keep``
    is given, that durable directory (created if missing, never removed)."""
    if keep is not None:
        root = os.path.abspath(keep)
        os.makedirs(root, exist_ok=True)
        yield root
        return
    root = tempfile.mkdtemp(prefix=prefix)
    try:
        yield root
    finally:
        shutil.rmtree(root, ignore_errors=True)


def drain(writer: DataStreamWriter, checkpoint: str, runs: int = 1) -> None:
    """Run ``writer``'s query to completion ``runs`` times over one
    checkpoint.

    ``runs`` > 1 is the incremental-batch schedule for rate-limited
    sources: Spark wraps a Python stream source that lacks
    SupportsTriggerAvailableNow in AvailableNowDataStreamWrapper, which
    captures latestOffset once at query start, so a reader that
    rate-limits to ``max_blocks_per_batch`` drains exactly one micro-batch
    per run.  Each later run resumes the committed offset and any operator
    state from the shared checkpoint (a real restart-recovery) until the
    source is exhausted; runs past that point fire no trigger."""
    writer = writer.trigger(availableNow=True).option("checkpointLocation", checkpoint)
    for _ in range(max(1, runs)):
        writer.start().awaitTermination()


def drain_to_memory(
    stream_df: DataFrame, prefix: str, output_mode: str, runs: int = 1
) -> DataFrame:
    """Drain ``stream_df`` into a memory sink and return the settled table,
    pinned with an eager ``localCheckpoint``.

    Each run writes its own uuid-named sink whose view is dropped on exit,
    so repeated calls in one session (bench loops, retries) accumulate no
    cached tables.  Over ``runs`` > 1 the last non-empty table wins: a run
    that finds the source exhausted fires zero triggers and leaves its own
    table empty, which must not clobber the settled state.  The first
    run's table is kept without probing it, so a single run costs no
    extra job, and an all-empty drain returns a table that still carries
    the stream's schema."""
    spark = stream_df.sparkSession
    writer = stream_df.writeStream.format("memory").outputMode(output_mode)
    out = None
    with workdir(f"{prefix}_chk_") as chk:
        for _ in range(max(1, runs)):
            sink = f"{prefix}_{uuid.uuid4().hex[:8]}"
            try:
                drain(writer.queryName(sink), chk)
                cur = spark.table(sink).localCheckpoint(eager=True)
            finally:
                spark.catalog.dropTempView(sink)
            if out is None or cur.take(1):
                out = cur
    return out


class GenerationChain:
    """Keyed state kept as a chain of parquet generations under ``root``;
    an instance is the ``foreachBatch`` function that extends it.

    Each micro-batch reduces to per-key ``partial(batch_df)`` rows, is
    merged with the newest generation by ``merge(prev.unionByName(part))``
    and written to ``gen_<batch_id>`` (compact-and-swap, the idempotent
    upsert for stores without a native MERGE).  foreachBatch may re-invoke
    a batch id after a failure between the function returning and the
    offset-log commit, so a batch merges from the last generation that is
    not its own output: reading and overwriting one path in a job is both
    illegal and a double-apply.  The write is therefore idempotent per
    (state, batch) pair.

    Construction recovers the committed chain from disk: ``gen_<id>``
    directories carrying ``_SUCCESS``, in batch-id order (the checkpoint
    keeps numbering batch ids across restarts), so a torn write from a
    hard kill is invisible.  A fresh root recovers nothing."""

    def __init__(
        self,
        root: str,
        partial: Callable[[DataFrame], DataFrame],
        merge: Callable[[DataFrame], DataFrame],
    ):
        self.root, self.partial, self.merge = root, partial, merge
        found = []
        for g in glob.glob(f"{root}/gen_*"):
            m = re.match(r".*gen_(\d+)$", g)
            if m and os.path.exists(f"{g}/_SUCCESS"):
                found.append((int(m.group(1)), g))
        self.gens = [g for _, g in sorted(found)]

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        out = f"{self.root}/gen_{batch_id}"
        prior = [g for g in self.gens if g != out]
        part = self.partial(batch_df)
        if prior:
            prev = batch_df.sparkSession.read.parquet(prior[-1])
            part = self.merge(prev.unionByName(part))
        part.write.mode("overwrite").parquet(out)
        if out not in self.gens:
            self.gens.append(out)


def upsert_generations(
    source: DataFrame,
    root: str,
    partial: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame], DataFrame],
    empty_schema: str,
    readout: Callable[[DataFrame], DataFrame] = lambda df: df,
    runs: int = 1,
) -> DataFrame:
    """Drain ``source`` through a :class:`GenerationChain` under ``root``
    (checkpoint at ``root/_chk``) and return ``readout`` of the newest
    generation, pinned; an empty ``empty_schema`` frame when no generation
    exists.  The checkpoint and the generations share one root on purpose:
    restoring either without the other double-counts or drops batches."""
    spark = source.sparkSession
    chain = GenerationChain(root, partial, merge)
    drain(source.writeStream.foreachBatch(chain), f"{root}/_chk", runs)
    if not chain.gens:
        return spark.createDataFrame([], empty_schema)
    return readout(spark.read.parquet(chain.gens[-1])).localCheckpoint(eager=True)


def block_ranges(df: DataFrame, col: str, n: int) -> list[DataFrame]:
    """``df`` cut into ``n`` half-open ``col`` ranges of equal width,
    anchored at ``min(col)`` so a dump numbered from genesis (block 0)
    keeps its first block."""
    mn, mx = df.agg(F.min(col), F.max(col)).collect()[0]
    mn, mx = mn or 0, mx or 0
    step = max(1, math.ceil((mx - mn + 1) / n))
    return [
        df.where((F.col(col) >= lo) & (F.col(col) < lo + step))
        for lo in range(mn, mn + n * step, step)
    ]


def staged_source(
    root: str, parts: Sequence[DataFrame], first: int = 0
) -> DataFrame:
    """Write each of ``parts`` as one single-file parquet split under
    ``root`` (numbered from ``first``) and return a file stream over
    ``root`` that reads one split per micro-batch."""
    for i, part in enumerate(parts, first):
        part.coalesce(1).write.mode("overwrite").parquet(f"{root}/split_{i}")
    return (
        parts[0].sparkSession.readStream.schema(parts[0].schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(root)
    )
