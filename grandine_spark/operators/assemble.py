"""OSM-style geometry assembly as relational joins — the Spark re-expression
of the reference's spatialize pipeline (cmd/spatialize/spatialize.go:204-326,
SURVEY.md §3.2).

The reference's 3-pass PBF scan is a memory-bounded join resolution: collect
matching ways/relations, then resolve member node coordinates. In Spark the
same semantics are two shuffles:

    ways --posexplode(node_ids)--> (way_id, pos, node_id)
         --join nodes----------->  (way_id, pos, lon, lat)
         --groupBy(way_id) + array_sort(collect_list(struct(pos,x,y)))-->
         assembled coordinate arrays (order restored by pos)

Closed ways tagged as areas become polygons with winding normalization
(spatialize.go:269-298); multipolygon relations assemble rings by member
role outer/inner (spatialize.go:300-326).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels.geometry import fix_winding
from ..kernels.wkb import geom_columns, open_ring
from ..session import pin_width
from ..sources import FEATURE_SCHEMA, GEOM_FIELDS

ASSEMBLED_SCHEMA = T.StructType(
    [FEATURE_SCHEMA["feature_id"], *GEOM_FIELDS, FEATURE_SCHEMA["props"]]
)


def resolve_way_coords(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """ways(way_id, node_ids array<bigint>, props) × nodes(node_id, lon, lat)
    → (way_id, coords array<struct<x,y>>, props) with node order preserved.
    Pure relational: posexplode → equi-join → array_sort(collect_list).

    Ways referencing nodes absent from ``nodes`` (truncated extract,
    boundary-clipped PBF) are DROPPED whole: the inner join would otherwise
    splice the gap shut and emit a silently-corrupted line — and a closed
    area way missing its first/last node would demote to a LineString."""
    member = ways.select(
        "way_id",
        "props",
        F.size("node_ids").alias("_n_refs"),
        F.posexplode("node_ids").alias("pos", "node_id"),
    )
    resolved = member.join(nodes, "node_id", "inner")
    return (
        pin_width(resolved, "way_id")
        .groupBy("way_id")
        .agg(
            F.first("props").alias("props"),
            F.first("_n_refs").alias("_n_refs"),
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("lon"), F.col("lat")))
            ).alias("_ordered"),
        )
        .filter(F.size("_ordered") == F.col("_n_refs"))
        .select(
            "way_id",
            "props",
            F.transform(
                F.col("_ordered"), lambda s: F.struct(s["lon"].alias("x"), s["lat"].alias("y"))
            ).alias("coords"),
        )
    )


def assemble_ways(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """Ways → Line/Polygon features. A way whose first and last node coincide
    AND whose props mark it an area (``__type == 'area'``) becomes a polygon
    (closing point dropped, winding fixed); everything else a LineString
    (spatialize.go:269-298)."""
    resolved = resolve_way_coords(ways, nodes)

    def finalize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                coords = np.array([[c["x"], c["y"]] for c in r["coords"]], float)
                props = dict(r["props"] or {})
                closed = len(coords) > 2 and (coords[0] == coords[-1]).all()
                if closed and props.get("__type") == "area":
                    rings = fix_winding([coords[:-1]])
                    gt, cc = 3, rings
                else:
                    gt, cc = 2, coords
                rows.append((int(r["way_id"]), *geom_columns(gt, cc), props))
            yield pd.DataFrame(rows, columns=[f.name for f in ASSEMBLED_SCHEMA.fields])

    return resolved.mapInPandas(finalize, ASSEMBLED_SCHEMA)


def assemble_multipolygons(
    relations: DataFrame, ways: DataFrame, nodes: DataFrame
) -> DataFrame:
    """relations(rel_id, way_ids array<bigint>, roles array<string>, props) →
    one polygon feature per relation: outer-role ways become shells, inner-
    role ways holes, winding normalized (spatialize.go:300-326). Ring order
    within the polygon: outers (by way_id) then inners (by way_id)."""
    member = relations.select(
        "rel_id",
        "props",
        F.posexplode(F.arrays_zip("way_ids", "roles")).alias("pos", "m"),
    ).select(
        "rel_id",
        "props",
        F.col("m.way_ids").alias("way_id"),
        F.col("m.roles").alias("role"),
    )
    resolved = member.join(resolve_way_coords(ways, nodes).drop("props"), "way_id")
    grouped = pin_width(resolved, "rel_id").groupBy("rel_id").agg(
        F.first("props").alias("props"),
        F.array_sort(
            F.collect_list(F.struct(F.col("role"), F.col("way_id"), F.col("coords")))
        ).alias("members"),
    )

    def finalize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                outers, inners = [], []
                for m in r["members"]:
                    ring = open_ring(np.array([[c["x"], c["y"]] for c in m["coords"]], float))
                    # reference parity (spatialize.go:310): only explicit
                    # 'outer'/'inner' roles participate — any other role
                    # (incl. the empty role some OSM tools emit for outers)
                    # is skipped, NOT misfiled as a hole
                    if m["role"] == "outer":
                        outers.append((int(m["way_id"]), ring))
                    elif m["role"] == "inner":
                        inners.append((int(m["way_id"]), ring))
                outers.sort(key=lambda t: t[0])
                inners.sort(key=lambda t: t[0])
                rings = [x[1] for x in outers] + [x[1] for x in inners]
                if not rings:
                    continue
                rows.append(
                    (int(r["rel_id"]), *geom_columns(3, fix_winding(rings)), dict(r["props"] or {}))
                )
            yield pd.DataFrame(rows, columns=[f.name for f in ASSEMBLED_SCHEMA.fields])

    return grouped.mapInPandas(finalize, ASSEMBLED_SCHEMA)
