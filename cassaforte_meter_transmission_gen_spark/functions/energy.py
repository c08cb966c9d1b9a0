"""Energy computation (reference A1, core.clj:43-46).

``joules-over-second``: for one second of power samples (watts) at
SAMPLE_RATE Hz, energy in joules = int(sum(samples) / SAMPLE_RATE).
The reference reduces a float seq and truncates with ``(int ...)``.

Spark-first: a fold over the array column with a DOUBLE accumulator via
``aggregate()`` — stays in WholeStageCodegen, no explode/shuffle, no
Python. (Summing 0..119 sawtooth integers in double is exact, so the
float→double accumulator choice cannot change the result; SURVEY §7
"what's hard" #1.) Truncation uses floor: all sums here are
non-negative, and floor == Clojure's toward-zero ``int`` for
non-negative values while being portable to the DuckDB oracle (whose
CAST rounds instead of truncating).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: reference core.clj:14
SAMPLE_RATE = 15000
#: reference core.clj:41 — cycle(range 0 120)
SAW_PERIOD = 120

#: golden value: sum(first 15000 of cycle 0..119) = 125 * 7140 = 892500,
#: so every meter-second has joules = int(892500/15000) = 59 (BASELINE.md).
TICK_JOULES = 59


def joules_over_second(watts: Column) -> Column:
    """int(sum(watts) / SAMPLE_RATE) — core.clj:43-46."""
    total = F.aggregate(watts, F.lit(0.0), lambda acc, x: acc + x.cast("double"))
    return F.floor(total / F.lit(SAMPLE_RATE)).cast("int")
