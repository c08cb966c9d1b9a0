"""Skew-mitigation utilities (SURVEY §4 / build brief: "skewed keys →
salting or AQE skew-join").

AQE's runtime skew-join split (enabled in session.py) is the first
line of defense; explicit salting is for the cases AQE can't fix —
a single pathological key inside an aggregation, or a build side that
must replicate. ``salted_join`` is the classic pattern: append a salt
in [0, n) to the skewed (large) side's key, replicate the small side n
times (one copy per salt value), join on (key, salt). Row multiplication
happens only on the SMALL side; the skewed key's rows spread across n
tasks instead of one straggler.

Determinism: the salt is ``pmod(hash(<row id col>), n)`` — a stable
function of the row, never rand() — so plans stay replayable and
oracle-checkable (SURVEY §5.2)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    large: DataFrame,
    small: DataFrame,
    on: str,
    n_salts: int = 8,
    salt_by: str | None = None,
) -> DataFrame:
    """Equi-join ``large ⋈ small`` on column ``on`` with the large side
    salted ``n_salts`` ways. ``salt_by`` names a large-side column to
    derive the deterministic salt from (defaults to ``on`` — fine when
    the goal is spreading a hot key's *aggregation*, but to spread a
    hot key's join rows pick a finer-grained column, e.g. the fact
    table's line number)."""
    salt_src = salt_by or on
    salted = large.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(salt_src)), F.lit(n_salts)).cast("int")
    )
    replicated = small.crossJoin(
        F.broadcast(
            small.sparkSession.range(n_salts).select(F.col("id").cast("int").alias("_salt"))
        )
    )
    out = salted.join(replicated, [on, "_salt"])
    return out.drop("_salt")
