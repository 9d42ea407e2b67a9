"""Ordered OSMChange (.osc) XML sink (SURVEY §2.1 S10/S11).

Parity target: ``OSMChangeWriter`` (``changegen/changewriter.py:92-191``) —
an ``<osmChange>`` document with ``<create>/<modify>/<delete>`` blocks whose
elements are ``<node>/<way>/<relation>`` with nested ``<tag>/<nd>/<member>``
children, optionally gzip-compressed (``changewriter.py:120-123``).

Spark-first shape: the change set is a DataFrame with the unified element
schema (see ``ELEMENT_SCHEMA``); the sink is the one deliberately
driver-side stage of the engine — ``toLocalIterator`` streams sorted
partitions through a constant-memory serializer, so the driver never holds
the full changefile.  Changefiles are ≪ cluster data by construction (they
are diffs), so a single ordered file is the right contract.

Determinism contract (SURVEY §7 risk 2): block order create→modify→delete;
within a block elements sort by (kind: node<way<relation, id).  Referential
integrity across blocks is NOT enforced, matching ``changewriter.py:171-173``.
"""

from __future__ import annotations

import gzip
from typing import IO

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

ELEMENT_SCHEMA = StructType(
    [
        StructField("change_type", StringType()),  # create | modify | delete
        StructField("kind", StringType()),  # node | way | relation
        StructField("id", LongType()),
        StructField("version", IntegerType()),
        StructField("lat", DoubleType()),  # nodes only
        StructField("lon", DoubleType()),  # nodes only
        StructField("nds", ArrayType(LongType())),  # ways only
        StructField(
            "members",
            ArrayType(
                StructType(
                    [
                        StructField("ref", LongType()),
                        StructField("type", StringType()),
                        StructField("role", StringType()),
                    ]
                )
            ),
        ),  # relations only
        StructField("tags", MapType(StringType(), StringType())),
    ]
)

_CHANGE_ORDER = {"create": 0, "modify": 1, "delete": 2}
_KIND_ORDER = {"node": 0, "way": 1, "relation": 2}


def _esc(s: str) -> str:
    """XML attribute-value escaping (double-quoted attributes).

    Whitespace controls become character references — a literal newline in
    an attribute would be normalized to a space by any conforming parser.
    """
    return (
        str(s)
        .replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&quot;")
        .replace("\n", "&#10;")
        .replace("\r", "&#13;")
        .replace("\t", "&#9;")
    )


def _fmt_coord(v: float) -> str:
    """Fixed 9-dp coordinate formatting — deterministic, sub-mm precision."""
    return f"{v:.9f}"


def _write_element(f: IO[str], row) -> None:
    kind = row["kind"]
    attrs = [f'id="{row["id"]}"', f'version="{row["version"]}"']
    if kind == "node":
        # delete placeholders carry lat/lon 0 (changegen/generator.py:925)
        lat = row["lat"] if row["lat"] is not None else 0.0
        lon = row["lon"] if row["lon"] is not None else 0.0
        attrs += [f'lat="{_fmt_coord(lat)}"', f'lon="{_fmt_coord(lon)}"']
    tags = row["tags"] or {}
    nds = row["nds"] or []
    members = row["members"] or []
    head = f'<{kind} {" ".join(attrs)}'
    if not tags and not nds and not members:
        f.write(head + "/>\n")
        return
    f.write(head + ">\n")
    # <tag> children first, then <nd>/<member> — the reference writer's
    # child order (changewriter.py:71-86), kept for byte-level comparability.
    # canonical key order: map columns are unordered, the file is not
    for k in sorted(tags):
        f.write(f'  <tag k="{_esc(k)}" v="{_esc(tags[k])}"/>\n')
    for nd in nds:
        f.write(f'  <nd ref="{nd}"/>\n')
    for m in members:
        f.write(
            f'  <member type="{_esc(m["type"])}" ref="{m["ref"]}" role="{_esc(m["role"])}"/>\n'
        )
    f.write(f"</{kind}>\n")


def write_osmchange(
    elements: DataFrame,
    path: str,
    compress: bool = False,
    generator: str = "changegen_spark",
) -> dict[str, int]:
    """Serialize an element DataFrame to one ordered .osc file.

    Returns per-block element counts (handy for golden-count tests).  The
    sort is distributed (``orderBy`` before ``toLocalIterator``); the driver
    only streams.
    """
    missing = set(f.name for f in ELEMENT_SCHEMA.fields) - set(elements.columns)
    for col in missing:
        elements = elements.withColumn(
            col, F.lit(None).cast(ELEMENT_SCHEMA[col].dataType)
        )
    order_ct = F.element_at(
        F.create_map(*[x for k, v in _CHANGE_ORDER.items() for x in (F.lit(k), F.lit(v))]),
        F.col("change_type"),
    )
    order_kind = F.element_at(
        F.create_map(*[x for k, v in _KIND_ORDER.items() for x in (F.lit(k), F.lit(v))]),
        F.col("kind"),
    )
    ordered = elements.select(*[f.name for f in ELEMENT_SCHEMA.fields]).orderBy(
        order_ct, order_kind, F.col("id")
    )

    counts = {"create": 0, "modify": 0, "delete": 0}
    f: IO[str]
    if compress:
        f = gzip.open(path, "wt", encoding="utf-8")  # S11, changewriter.py:120-123
    else:
        f = open(path, "w", encoding="utf-8")
    current_block: str | None = None
    try:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n')
        f.write(f'<osmChange version="0.6" generator="{_esc(generator)}">\n')
        for row in ordered.toLocalIterator():
            block = row["change_type"]
            if block != current_block:
                if current_block is not None:
                    f.write(f"</{current_block}>\n")
                f.write(f"<{block}>\n")
                current_block = block
            counts[block] += 1
            _write_element(f, row)
        if current_block is not None:
            f.write(f"</{current_block}>\n")
        f.write("</osmChange>\n")
    finally:
        f.close()
    return counts
