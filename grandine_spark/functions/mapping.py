"""Tag-mapping DSL compiled to Column expressions — the reference's only
user-facing logic-injection point (lib/mapping: YAML rules → Condition
{Matches, Map, Transform}).

Semantics (lib/mapping/condition.go:16-52, file.go:32-165):
- a rule matches when ``src.key`` is present in props AND (value list empty
  (``"*"`` wildcard) OR the prop value is in the list);
- Map REPLACES the property map with the dest entries: static values plus
  ``$field`` dynamic copies from the source props (absent source field →
  entry omitted); ``type: int`` coerces ("yes"→1, "no"→0, else atoi; on
  failure the raw value passes through, file.go:146-165);
- op "lines" explodes a polygon into one LineString per ring
  (lib/mapping/ops.go:5-15);
- a feature matching k rules is emitted k times, once per rule
  (cmd/converter/converter.go:188-199).

Spark compilation: each rule becomes (filter-expr, map-expr, op); applying a
rule list is a union of per-rule select+filter branches — pure Catalyst,
no Python. Output props are map<string,string> (engine data model).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import yaml
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class MappingRule:
    src_key: str
    src_values: list[str]  # empty = wildcard
    static: dict[str, str] = field(default_factory=dict)
    dynamic: dict[str, tuple[str, str | None]] = field(default_factory=dict)
    # dest_key -> (src_field, type or None)
    op: str | None = None  # None | "lines"


def parse_mapping_yaml(text: str) -> list[MappingRule]:
    """Parse the reference's YAML shape (lib/mapping/mapping.yml)."""
    rules = []
    for fm in yaml.safe_load(text):
        src = fm["src"]
        v = src.get("value")
        if isinstance(v, list):
            values = [str(x) for x in v]
        elif v == "*":
            values = []
        elif v is None:
            # reference parity (file.go:59-62): a missing/null src value is
            # a parse ERROR, not a silent match-the-string-'None' rule
            raise ValueError(
                f"source key {src.get('key')} must have a string value "
                "(use '*' for a wildcard)"
            )
        else:
            values = [str(v)]
        static: dict[str, str] = {}
        dynamic: dict[str, tuple[str, str | None]] = {}
        for kvm in fm.get("dest", []):
            dv = kvm.get("value")
            if isinstance(dv, str) and dv.startswith("$"):
                dynamic[kvm["key"]] = (dv[1:], kvm.get("type"))
            else:
                static[kvm["key"]] = str(dv)
        rules.append(
            MappingRule(
                src_key=str(src["key"]),
                src_values=values,
                static=static,
                dynamic=dynamic,
                op=fm.get("op"),
            )
        )
    return rules


def matches_expr(rule: MappingRule, props: Column) -> Column:
    """Condition.Matches (lib/mapping/condition.go:16-29)."""
    present = props.getItem(rule.src_key).isNotNull()
    if not rule.src_values:
        return present
    return present & props.getItem(rule.src_key).isin(rule.src_values)


def _coerce_int(v: Column) -> Column:
    """'yes'→1, 'no'→0, atoi else passthrough (file.go:146-165)."""
    as_int = v.try_cast("long")
    return F.when(v == "yes", F.lit("1")).otherwise(
        F.when(v == "no", F.lit("0")).otherwise(
            F.when(as_int.isNotNull(), as_int.cast("string")).otherwise(v)
        )
    )


def map_expr(rule: MappingRule, props: Column) -> Column:
    """Condition.Map: REPLACE props with dest entries (static + $dynamic).

    A dest key declared BOTH static and dynamic resolves like the
    reference's Go-map write order (file.go:126-131: static first, dynamic
    overwrites): dynamic value when the source field is present, static
    fallback otherwise. Resolving at compile time keeps every map_concat
    key distinct — Spark's default mapKeyDedupPolicy=EXCEPTION would
    otherwise throw DUPLICATED_MAP_KEY at runtime."""
    static = dict(rule.static)
    parts = []
    for dest_key, (src_field, typ) in sorted(rule.dynamic.items()):
        v = props.getItem(src_field)
        if typ == "int":
            v = _coerce_int(v)
        fallback = static.pop(dest_key, None)
        if fallback is not None:
            parts.append(F.create_map(F.lit(dest_key), F.coalesce(v, F.lit(fallback))))
        else:
            # absent source field → omit the entry (map_concat skips empty maps)
            parts.append(
                F.when(v.isNotNull(), F.create_map(F.lit(dest_key), v)).otherwise(
                    F.create_map().cast("map<string,string>")
                )
            )
    if static:
        parts.insert(
            0,
            F.create_map(
                *[x for k, v in sorted(static.items()) for x in (F.lit(k), F.lit(v))]
            ),
        )
    if not parts:
        return F.create_map().cast("map<string,string>")
    out = parts[0]
    for p in parts[1:]:
        out = F.map_concat(out, p)
    return out


def _poly_to_lines(df: DataFrame) -> DataFrame:
    """op 'lines': polygon → one LineString per ring (lib/mapping/ops.go:5-15),
    exploded ring-at-a-time via a vectorized batch UDF over WKB."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from ..kernels.wkb import GEOM_COLUMNS, from_wkb, geom_record
    from ..sources import GEOM_FIELDS

    other_cols = [f.name for f in df.schema.fields if f.name not in GEOM_COLUMNS]
    schema = T.StructType([df.schema[c] for c in other_cols] + list(GEOM_FIELDS))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                gt, coords = from_wkb(bytes(r["wkb"]))
                if gt != 3:
                    geoms = [(gt, coords)]
                else:
                    geoms = [(2, ring) for ring in coords]
                for g, c in geoms:
                    rows.append({**{k: r[k] for k in other_cols}, **geom_record(g, c)})
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return df.mapInPandas(run, schema)


def apply_mapping(features: DataFrame, rules: list[MappingRule]) -> DataFrame:
    """converter write() semantics: union over rules of
    (filter Matches → replace props → geometry op)."""
    if not rules:
        raise ValueError("apply_mapping needs at least one rule")
    branches = []
    for rule in rules:
        b = features.filter(matches_expr(rule, F.col("props"))).withColumn(
            "props", map_expr(rule, F.col("props"))
        )
        if rule.op == "lines":
            b = _poly_to_lines(b)
        branches.append(b)
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


# the reference's built-in default OSM mapping (lib/mapping/default.go:52-69)
DEFAULT_RULES = [
    MappingRule("aeroway", [v], {"@layer": "aeroway"}, {"class": ("aeroway", None)})
    for v in ["aerodrome", "apron", "heliport", "runway", "helipad", "taxiway"]
] + [
    MappingRule("highway", [v], {"@layer": "transportation"}, {"class": ("highway", None)})
    for v in ["motorway", "primary", "trunk", "secondary", "tertiary"]
] + [
    MappingRule("building", [""], {"@layer": "building", "@zoom:min": "14"}),
    MappingRule("landuse", ["forest"], {"__type": "area", "@layer": "landcover", "class": "wood"}),
    MappingRule("railway", ["rail"], {"@layer": "transportation"}, {"class": ("railway", None)}),
    MappingRule("waterway", ["river"], {"@layer": "waterway"}, {"class": ("waterway", None)}),
]
