"""Order-insensitive output digests, computed the same way in Spark and in
DuckDB, and their comparison.

A digest is the row count plus, for each checked output column, its
non-null count and ``sum(pmod(q, P) * (pmod(rid, Q) + 1))`` with
``q = floor(value * 1024)``. The window outputs checked here are integers
or ratios of exact integers (averages, medians), and such a ratio is never
within a rounding error of a multiple of 1/1024 unless it is one exactly;
so two engines agree on ``q`` even when they round the ratio differently in
the last bit, and the comparison needs no tolerance. Weighting by the row
id ties each value to its row, so a value moved to another row, a changed
value or a lost row all change the digest.
"""

from __future__ import annotations

P = 1_000_003
Q = 1_009


def spark_digest_columns(cols, id_col: str = "rid") -> list:
    """Aggregate columns for ``DataFrame.observe`` over the output columns
    ``cols``."""
    from pyspark.sql import functions as F

    weight = F.pmod(F.col(id_col), F.lit(Q)) + F.lit(1)
    out = [F.count(F.lit(1)).alias("rows")]
    for name in cols:
        c = F.col(name)
        q = F.floor(c * F.lit(1024))
        out.append(F.count(c).alias(f"n_{name}"))
        out.append(F.sum(F.pmod(q, F.lit(P)) * weight).alias(f"s_{name}"))
    return out


def duck_digest_sql(source_sql: str, cols, id_col: str = "rid") -> str:
    """The DuckDB query computing the same digest over ``source_sql``."""
    parts = ["count(*) AS rows"]
    for name in cols:
        q = f"CAST(floor({name} * 1024) AS BIGINT)"
        parts.append(f"count({name}) AS n_{name}")
        parts.append(
            f"sum((({q} % {P}) + {P}) % {P} * ((({id_col} % {Q}) + {Q}) % {Q} + 1))"
            f" AS s_{name}"
        )
    return f"SELECT {', '.join(parts)} FROM ({source_sql}) AS t"


def normalize(row: dict) -> dict:
    return {k: (0 if v is None else int(v)) for k, v in row.items()}


def digest_mismatch(got: dict, want: dict) -> str | None:
    """None when the digests agree, else a short description."""
    got, want = normalize(got), normalize(want)
    if want.get("rows", 0) > 0 and got.get("rows", 0) == 0:
        return "no rows where the reference has rows"
    bad = sorted(k for k in want if got.get(k) != want[k])
    if bad:
        return "digest differs on " + ", ".join(
            f"{k} (got {got.get(k)}, want {want[k]})" for k in bad[:4]
        )
    return None
