"""Streaming multimodal ingest: decode media micro-batches as they land.

The standing-pipeline shape for an image crawl: blobs arrive in batches
(here: the fixture parquet re-staged as N files, one per trigger — the
same staging device as run_balance_upsert), each micro-batch runs the REAL
PNG decode (operators/png.decode_png via multimodal.png_decode_stats)
inside foreachBatch, and the decoded stats append to a result table that
must settle to EXACTLY the batch decode of the whole corpus — decode is
per-row pure, so the settled result is split-invariant by construction
(no merge algebra needed, unlike the additive balance ledger).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from presto_ethereum_spark.streaming.drain import drain, staged_source, workdir


def run_png_ingest(spark, path: str, splits: int = 3):
    """Stream ``path`` (an images parquet with media_id + png columns) as
    ``splits`` micro-batches (streaming/drain.staged_source), decode each
    batch for real, append to a parquet result, return the settled stats
    table.

    Scale: per-batch work is the embarrassingly parallel decode kernel;
    the append sink is partition-local writes (no shuffle at all — the
    one pipeline in the streaming family with zero exchanges)."""
    from presto_ethereum_spark.operators.multimodal import png_decode_stats

    path = os.path.abspath(path)
    with workdir("png_ingest_") as root:
        imgs = spark.read.parquet(path)
        n = imgs.count()
        # split on pmod(media_id, splits) — a total partitioning of the
        # id domain, so sparse / non-dense / negative ids all land in
        # exactly one staged batch (id-RANGE staging silently dropped
        # ids outside [0, splits*step) when ids weren't dense 0..n-1)
        parts = [
            imgs.where(F.pmod(F.col("media_id"), F.lit(splits)) == i)
            for i in range(splits)
        ]
        staged = sum(part.count() for part in parts)
        if staged != n:
            raise AssertionError(
                f"staging lost rows: staged {staged} of {n}"
            )
        source = staged_source(f"{root}/input", parts)
        out = f"{root}/decoded"

        def decode_batch(batch_df, batch_id: int) -> None:
            png_decode_stats(batch_df).write.mode("append").parquet(out)

        drain(source.writeStream.foreachBatch(decode_batch), f"{root}/_chk")
        return spark.read.parquet(out).localCheckpoint(eager=True)
