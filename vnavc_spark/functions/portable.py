"""Engine-portable numeric helpers.

The correctness oracle (DuckDB) re-computes every query and compares
an order-insensitive value hash, so floating-point results must be
*bit-identical* across engines. Two facts make that achievable:

1. IEEE-754 scalar arithmetic is deterministic: the same expression
   tree over the same doubles yields the same bits in any engine.
2. Aggregation ORDER is the only non-determinism — so aggregate
   inputs must be made order-independent: integers (exact at any
   order up to 2^53) or values rounded via an identical scalar tree.

Hence:
- ``exact_sum(col, p)``: sum of ``floor(x·10^p + 0.5)`` (an integral
  value — exact in any order) divided back by 10^p.
- ``stable_round(col, p)``: ``floor(x·10^p + 0.5)/10^p`` — identical
  semantics in Spark and DuckDB, unlike their ``round`` (which
  disagree on e.g. round(2.675, 2) for doubles).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def stable_round(col: Column, places: int = 4) -> Column:
    scale = float(10**places)
    return F.floor(col * scale + F.lit(0.5)) / scale


def exact_sum(col: Column, places: int = 2) -> Column:
    """Order-independent double sum: scale → floor → integer sum →
    unscale. Matches the SQL ``sum(floor(x*10^p + 0.5))/10^p.0``."""
    scale = float(10**places)
    return F.sum(F.floor(col * scale + F.lit(0.5))) / scale
