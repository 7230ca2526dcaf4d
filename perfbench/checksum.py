"""Order-insensitive output checksums.

Two flavours, both a (row count, hash sum) pair:

- ``fast``: ``xxhash64`` over every output column, summed as
  decimal(20,0) so ANSI mode cannot overflow (a plain
  ``sum(xxhash64(...))`` is rejected once the running sum leaves BIGINT).
  Used on every timed run; it consumes every column, so Catalyst cannot
  prune any of the output's projection.
- ``canonical``: the first 60 bits of ``md5`` over a canonical string of
  the chosen columns, computed identically in Spark and in DuckDB. Used
  once per seed to check a run against the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SEP = "\x1f"
NULL = "\\N"


def fast_exprs(cols: list[str]) -> list[Column]:
    h = F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(20,0)")
    return [F.count(F.lit(1)), F.sum(h)]


def canonical_exprs(cells: list[Column]) -> list[Column]:
    """``cells`` are string Columns; NULL cells hash as ``\\N``."""
    s = F.concat_ws(SEP, *[F.coalesce(c, F.lit(NULL)) for c in cells])
    h = F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("decimal(20,0)")
    return [F.count(F.lit(1)), F.sum(h)]


def duck_canonical(sql: str, cells: list[str]) -> str:
    """DuckDB twin of :func:`canonical_exprs` over the rows of ``sql``;
    ``cells`` are VARCHAR expressions over its columns."""
    parts = ", ".join(f"coalesce({c}, '{NULL}')" for c in cells)
    h = f"(('0x' || substr(md5(concat_ws(chr(31), {parts})), 1, 15))::BIGINT)"
    return f"SELECT count(*), coalesce(sum({h}::HUGEINT), 0) FROM ({sql}) o"


def as_pair(row) -> tuple[int, int]:
    return int(row[0]), int(row[1] or 0)
