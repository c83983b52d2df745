"""Order-insensitive output digests, computed inside each engine.

A digest is ``(row count, sum of a 60-bit md5 hash of each row)``.  The row
is its columns in name order, each cast to a string (NULL as a marker),
joined with a unit separator; the hash is the engine's own
``text_analysis.mdhash_spark`` / ``MDHASH_SQL`` twin pair.  Only string and
integer columns are digested, whose string forms agree across the two
engines.  Neither side collects the rows: each returns two numbers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kie_invoice_minimal_spark.operators.text_analysis import MDHASH_SQL, mdhash_spark

_SEP = "\x1f"
_NULL = "<null>"


def spark_digest(df: DataFrame) -> tuple[list[str], int, int]:
    cols = sorted(df.columns)
    row = F.concat_ws(
        _SEP, *[F.coalesce(F.col(c).cast("string"), F.lit(_NULL)) for c in cols]
    )
    r = df.select(mdhash_spark(row).cast("decimal(38,0)").alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.coalesce(F.sum("h"), F.lit(0)).alias("s")
    ).first()
    return cols, int(r["n"]), int(r["s"])


def duckdb_digest(con, sql: str) -> tuple[list[str], int, int]:
    cols = sorted(c[0] for c in con.execute(f"SELECT * FROM ({sql}) LIMIT 0").description)
    parts = ", ".join(
        f"coalesce(CAST(\"{c}\" AS VARCHAR), '{_NULL}')" for c in cols
    )
    row = f"concat_ws(chr(31), {parts})"
    n, s = con.execute(
        f"SELECT count(*), CAST(coalesce(sum(CAST({MDHASH_SQL(row)} AS HUGEINT)), 0)"
        f" AS VARCHAR) FROM ({sql})"
    ).fetchone()
    return cols, int(n), int(s)

