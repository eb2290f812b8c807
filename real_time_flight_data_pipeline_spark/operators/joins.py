"""Join operators: decomposed disjunctive dim lookup + broadcast star join.

The reference resolves dimension ids two ways:

* routes path (J2): two independent equi-joins (by IATA, by ICAO) then
  ``COALESCE`` preference — apps/loader/load_warehouse.py:186-198;
* airline path (J3): a single LEFT JOIN with an OR predicate
  ``ON a.iata = l.iata OR (l.iata IS NULL AND a.icao = l.icao)`` —
  load_warehouse.py:215-221.

An OR predicate defeats hash joins (Spark would plan a
BroadcastNestedLoopJoin — O(n*m) compares). We therefore decompose J3 into
the J2 shape everywhere: equi-join on the primary key, equi-join on the
fallback key, coalesce with the reference's NULL-guard preserved (the
fallback arm only fires when the primary source column IS NULL). This is
exactly equivalent (SURVEY.md §7.4 item 5) and broadcast-hash-joinable.

Both operators serve the catalog queries and the streaming warehouse
(``warehouse_load``'s id resolution, ``curated_view``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _code_map(
    dim: DataFrame, code: str, id_col: str, other: str | None, key: str, val: str
) -> DataFrame:
    """``key`` -> ``val`` map holding ONE dim id per code: prefer the rows
    carrying the ``other`` code, then the smallest id. Two plain mins, not
    ``min_by`` over a struct (which plans a SortAggregate). Aliased inside
    the aggregate so ``code`` may be ``id_col`` itself."""
    pick = F.min(id_col)
    if other is not None:
        pick = F.coalesce(F.min(F.when(F.col(other).isNotNull(), F.col(id_col))), pick)
    return (
        dim.filter(F.col(code).isNotNull())
        .groupBy(F.col(code).alias(key))
        .agg(pick.alias(val))
    )


def dim_lookup_maps(
    dim: DataFrame, dim_id_col: str, primary: str, fallback: str | None = None
) -> tuple[DataFrame, DataFrame | None]:
    """The lookup maps ``resolve_dim_id`` joins: by the dim's ``primary``
    code column, and by its ``fallback`` code column (None without one).
    A caller that resolves against one dim version many times builds them
    once."""
    prim = _code_map(dim, primary, dim_id_col, fallback, "_pk", "_pid")
    if fallback is None:
        return prim, None
    return prim, _code_map(dim, fallback, dim_id_col, primary, "_fk", "_fid")


def _broadcast_map(m: DataFrame) -> DataFrame:
    """The hinted build side, re-projected under fresh column ids: the same
    map joined twice into one plan (the dep and arr airports) must not
    share attribute ids across the two joins."""
    return F.broadcast(m.select(*(F.col(c).alias(c) for c in m.columns)))


def resolve_dim_id(
    df: DataFrame,
    maps: tuple[DataFrame, DataFrame | None],
    out_col: str,
    primary: str,
    fallback: str | None = None,
) -> DataFrame:
    """Attach ``out_col`` = dim id resolved by primary key, else fallback key.

    ``maps`` are the dim's ``dim_lookup_maps``; ``primary``/``fallback`` are
    the source columns matched against them. The fallback match only
    applies to rows whose primary source column is NULL (the reference's
    guard). Dim codes may repeat (an airport seen IATA-only, then with an
    ICAO, is two rows sharing one IATA), so each broadcast lookup map keeps
    one id per code: one output row per source row.
    """
    prim = _broadcast_map(maps[0])
    out = df.join(prim, df[primary] == prim["_pk"], "left").drop("_pk")

    if fallback is None:
        return out.withColumnRenamed("_pid", out_col)

    fb = _broadcast_map(maps[1])
    out = out.join(fb, out[fallback] == fb["_fk"], "left").drop("_fk")

    resolved = F.coalesce(
        F.col("_pid"), F.when(F.col(primary).isNull(), F.col("_fid"))
    ).alias(out_col)
    return out.withColumn(out_col, resolved).drop("_pid", "_fid")


def star_join(
    fact: DataFrame, dims: Sequence[tuple[DataFrame, str | Sequence[str]]]
) -> DataFrame:
    """Left star-join fact -> dims (reference J1, db/01_views.sql:79-83).

    ``dims`` entries are (dim_df, join_key(s)). Every dim is broadcast — the
    fact side never shuffles, which is the only plan that survives a 100 TB
    fact table.
    """
    out = fact
    for dim, key in dims:
        keys = [key] if isinstance(key, str) else list(key)
        out = out.join(F.broadcast(dim), keys, "left")
    return out
