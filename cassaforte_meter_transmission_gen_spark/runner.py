"""Unbounded runner — the reference's ``-main`` program shape
(core.clj:163-176) as a long-running Structured Streaming job.

The reference's process: connect, derive a per-host ``said`` range from
``host-hash``, then loop forever at 1 Hz generating one transmission
per meter and fanning out the five table writes. The Spark dual wires:

    rate source (1 row/meter/sec, T1)
      → sawtooth watts attach (S3)
        → foreachBatch five-table sink (K1-K5, checkpointed)

with a 1-second processing-time trigger standing in for the reference's
``Thread/sleep 1000`` cadence. Delivery is strictly stronger than the
reference's fire-and-forget (T5): the checkpoint makes the rate offsets
replayable, and each micro-batch's writes are driven exactly once per
committed offset range.

Run as a module (mirrors ``lein run [num-meters]``):

    python -m cassaforte_meter_transmission_gen_spark [num_meters] [out_dir]

and stop with Ctrl-C; restart resumes from the checkpoint.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from .functions.hashing import host_hash
from .operators.ingest import TABLES
from .streaming.pipeline import (
    COMPACT_EVERY,
    RETAIN_VERSIONS,
    rate_transmission_stream,
    streaming_ingest_batch_fn,
)

#: reference default: 2 meters (core.clj:18)
DEFAULT_NUM_METERS = 2


def make_accounting_listener():
    """The reference's success/failure write accounting (A5,
    core.clj:68-85: every async write fires a counted callback, and
    "All N queries have succeeded" prints when the count lands) as the
    Spark-native streaming dual: a StreamingQueryListener fed by the
    engine, counting micro-batches and input rows and recording any
    terminating exception. Returns (listener, counters) where counters
    is a plain dict updated in place: {"batches", "rows", "errors"}.
    """
    from pyspark.sql.streaming import StreamingQueryListener

    counters = {"batches": 0, "rows": 0, "errors": []}

    class _Accounting(StreamingQueryListener):
        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            counters["batches"] += 1
            counters["rows"] += event.progress.numInputRows

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            if event.exception is not None:
                counters["errors"].append(str(event.exception))

    return _Accounting(), counters


def run_unbounded(
    spark: SparkSession,
    out_dir: str,
    num_meters: int = DEFAULT_NUM_METERS,
    start_said: int | None = None,
    checkpoint_dir: str | None = None,
    trigger_seconds: float = 1.0,
    retain_versions: int = RETAIN_VERSIONS,
    compact_every: int | None = COMPACT_EVERY,
) -> StreamingQuery:
    """Start the unbounded five-table pipeline; returns the running
    query (caller owns ``awaitTermination``/``stop``).

    ``start_said`` defaults to the host-hash seed (core.clj:170 →
    27-35): same host ⇒ same range, different hosts ⇒ disjoint ranges —
    computed once, driver-side, never inside the plan.

    Long-running hygiene: commit markers retain the newest
    ``retain_versions`` (the reader-consistency window — size it above
    the longest expected reader, in trigger intervals), and every
    ``compact_every`` commits the batch dirs of all five tables fold
    into one compacted segment per table — so metadata, marker count,
    and file count stay bounded no matter how long the 1 Hz loop runs."""
    if start_said is None:
        start_said = host_hash(os.uname().nodename)
    paths = {t: os.path.join(out_dir, t) for t in TABLES}
    ckpt = checkpoint_dir or os.path.join(out_dir, "_checkpoint")
    commits = os.path.join(out_dir, "_commits")
    stream = rate_transmission_stream(spark, num_meters, start_said)
    return (
        stream.writeStream.foreachBatch(
            streaming_ingest_batch_fn(
                paths,
                commits,
                retain_versions=retain_versions,
                compact_every=compact_every,
            )
        )
        .option("checkpointLocation", ckpt)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def main(argv: list[str] | None = None) -> None:
    """CLI entry mirroring the reference ``-main [num-meters]``
    (core.clj:163-168: one optional positional arg, default 2)."""
    import sys

    args = list(sys.argv[1:] if argv is None else argv)
    num_meters = int(args[0]) if args else DEFAULT_NUM_METERS
    out_dir = args[1] if len(args) > 1 else tempfile.mkdtemp(prefix="meter_run_")

    from .session import get_spark

    spark = get_spark("cassaforte-unbounded-runner")
    print(f"writing five tables under {out_dir} ({num_meters} meters, 1 Hz)")
    query = run_unbounded(spark, out_dir, num_meters=num_meters)
    try:
        query.awaitTermination()
    except KeyboardInterrupt:
        query.stop()


if __name__ == "__main__":
    main()
