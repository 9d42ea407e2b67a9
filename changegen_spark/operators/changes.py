"""Change-data operators (SURVEY §2.9 C1-C6).

The reference emits OSM elements into ``<create>/<modify>/<delete>`` XML
blocks (``changegen/changewriter.py:157-191``).  Spark-side, a change set is
one DataFrame with a ``change_type`` column and the version-number contract:

  * create → version 1 (``changegen/generator.py:624-631``)
  * modify → version 2 (``generator.py:613-621``)
  * delete → version 99 placeholder (``generator.py:919``)
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

VERSION_CREATE = 1
VERSION_MODIFY = 2
VERSION_DELETE = 99  # placeholder version, changegen/generator.py:919


_VERSIONS = {"create": VERSION_CREATE, "modify": VERSION_MODIFY, "delete": VERSION_DELETE}


def _version(change_type: str) -> int:
    if change_type not in _VERSIONS:
        raise ValueError(f"unknown change_type {change_type!r}")
    return _VERSIONS[change_type]


def tag_change(df: DataFrame, change_type: str) -> DataFrame:
    """C1/C2/C3: stamp rows with a change type and its version contract."""
    return df.withColumn("change_type", F.lit(change_type)).withColumn(
        "version", F.lit(_version(change_type))
    )


def stamp(df: DataFrame, change_type: str, kind: str, id_col: str, *cols) -> DataFrame:
    """Project ``df`` to OSM element rows: the ``change_type``/``kind``/``id``/
    ``version`` header under the version contract, then ``cols`` (the
    element's lat/lon, nds, members and tags; see sinks.oscxml.ELEMENT_SCHEMA)."""
    return df.select(
        F.lit(change_type).alias("change_type"),
        F.lit(kind).alias("kind"),
        F.col(id_col).alias("id"),
        F.lit(_version(change_type)).alias("version"),
        *cols,
    )


def assemble_changeset(*parts: DataFrame) -> DataFrame:
    """Union DataFrames by name (missing columns → null): change-tagged
    element parts, or same-role input tables read from several sources.

    Mirrors the output assembly concatenation (``generator.py:758-766,852-866``)
    as a ``unionByName`` — order sensitivity is handled at the sink, not here.
    """
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)


def expand_deleted_ways(
    deleted_ids: DataFrame,
    pbf_ways: DataFrame,
    id_col: str = "osm_id",
    skip_nodes: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """C5/C3: deletion id list → (way deletes, node deletes).

    ``generate_deletions`` (``changegen/generator.py:876-927``): distinct the
    id list, optionally expand each way to its constituent node ids via the
    extract (J5 join), and dedup nodes across ways (A7) so no node is deleted
    twice.  Returns two DataFrames: way ids and node ids.
    """
    ids = deleted_ids.select(F.col(id_col).cast("long").alias("id")).distinct()
    if skip_nodes:
        nodes = ids.sparkSession.createDataFrame([], "id long")
    else:
        nodes = (
            ids.join(pbf_ways.select(F.col("id"), "nds"), "id")
            .select(F.explode("nds").alias("id"))
            .distinct()
        )
    return ids, nodes
