"""Oracle-portable hashing primitives.

Spark's native ``hash()``/``xxhash64()`` are fast but engine-specific, so any
operator whose output must be verifiable by an external SQL engine (the
DuckDB correctness oracle) uses an md5-derived 60-bit integer instead:
both engines agree on ``md5(utf8(s))``, and 15 hex chars fit a signed int64.

Spark:  ``conv(substring(md5(s), 1, 15), 16, 10) :: bigint``
DuckDB: ``('0x' || substring(md5(s), 1, 15)) :: BIGINT``

For internal-only hashing (salting, bucketing) prefer ``F.xxhash64`` — it is
codegen'd and cheaper than md5.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

def md5_int64(col: Column | str) -> Column:
    """Deterministic 60-bit non-negative int64 hash of a string column,
    reproducible in DuckDB (see module docstring)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def md5_int64_sql(x: str) -> str:
    """SQL-text twin of ``md5_int64`` for ``F.expr`` composition.

    Wide expression blocks (60-bit SimHash sums, 16 MinHash permutations)
    built Column-by-Column from Python cost one Py4J round-trip per node —
    measured ~0.9 s of pure driver latency per simhash plan at ~800 calls.
    Rendering the block as ONE SQL string and parsing it JVM-side with a
    single ``F.expr`` call produces the identical expression tree for
    microseconds of Python and one round-trip.

    ``x`` is a raw SQL *expression fragment* interpolated verbatim — not a
    quoted identifier. Callers pass trusted internal SQL (a plain column
    name or a full expression like ``concat_ws(...)``); an identifier that
    needs quoting must arrive already backtick-quoted. Internal plumbing
    for the sketch builders, not a general-purpose public helper."""
    return f"CAST(conv(substring(md5({x}), 1, 15), 16, 10) AS BIGINT)"

