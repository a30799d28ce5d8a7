"""Lakehouse schema model: Spark StructType + per-field lakehouse metadata.

Re-expresses the reference's `Schema`/`Field` system
(`deltacat/storage/model/schema.py:244-359,811-925`) on Spark's native
per-field metadata dict instead of Arrow field metadata:

* ``merge_key``   — upsert/equality-delete key; non-float, non-nested,
  non-nullable (reference `schema.py:468-494`)
* ``merge_order`` — (sort order, null order) picking the merge winner
  (reference `schema.py:222-241`)
* ``event_time``  — event-time field, default merge order + CHRONO
  stream positions (reference `schema.py:512-532`)
* ``past_default`` / ``future_default`` — zero-copy schema evolution
  (reference `schema.py:388-396,533-545`)
* ``consistency`` — NONE / COERCE / VALIDATE write-side enforcement
  (reference `types.py:137-152`)
* ``field_id``    — stable id across renames

Schema evolution uses permissive type promotion (reference
`schema.py:671-804` semantics) implemented as a Spark type-widening
lattice.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field as dc_field
from typing import Any

from pyspark.sql import DataFrame, functions as F, types as T

META_PREFIX = "dcs."

_FLOAT_TYPES = (T.FloatType, T.DoubleType)
_NESTED_TYPES = (T.ArrayType, T.MapType, T.StructType)

# Permissive promotion lattice (reference schema.py:671-804 via
# pa.unify_schemas(promote_options="permissive"), restricted to the
# promotions Spark can cast losslessly).
_NUMERIC_WIDTH = {
    "byte": 1,
    "short": 2,
    "integer": 3,
    "long": 4,
    "float": 5,
    "double": 6,
}


class SchemaError(ValueError):
    pass


@dataclass
class Field:
    """One schema field + lakehouse metadata."""

    name: str
    data_type: T.DataType
    nullable: bool = True
    field_id: int | None = None
    merge_key: bool = False
    merge_order: tuple[str, str] | None = None  # ("asc"|"desc", "first"|"last")
    event_time: bool = False
    past_default: Any = None
    future_default: Any = None
    consistency: str = "coerce"  # none | coerce | validate
    doc: str | None = None
    # Named field group (reference subschemas, `schema.py:937-973` —
    # multimodal column families sharing the merge keys).
    subschema: str | None = None
    # Delta-style generated column: a SQL expression over sibling
    # columns. The write path computes it when the payload omits the
    # column and VALIDATES provided values against it (write-side
    # determinism — partitioning on the generated column then prunes
    # like any materialized column).
    generated_expr: str | None = None

    def __post_init__(self) -> None:
        if self.merge_key:
            if isinstance(self.data_type, _FLOAT_TYPES):
                raise SchemaError(
                    f"merge key {self.name!r} cannot be floating point"
                )
            if isinstance(self.data_type, _NESTED_TYPES):
                raise SchemaError(f"merge key {self.name!r} cannot be nested")
            self.nullable = False
        if self.consistency not in ("none", "coerce", "validate"):
            raise SchemaError(f"bad consistency {self.consistency!r}")

    def to_struct_field(self) -> T.StructField:
        md: dict[str, Any] = {}
        if self.field_id is not None:
            md[META_PREFIX + "field_id"] = self.field_id
        if self.merge_key:
            md[META_PREFIX + "merge_key"] = True
        if self.merge_order is not None:
            md[META_PREFIX + "merge_order"] = list(self.merge_order)
        if self.event_time:
            md[META_PREFIX + "event_time"] = True
        if self.past_default is not None:
            md[META_PREFIX + "past_default"] = self.past_default
        if self.future_default is not None:
            md[META_PREFIX + "future_default"] = self.future_default
        if self.consistency != "coerce":
            md[META_PREFIX + "consistency"] = self.consistency
        if self.doc:
            md[META_PREFIX + "doc"] = self.doc
        if self.subschema:
            md[META_PREFIX + "subschema"] = self.subschema
        if self.generated_expr:
            md[META_PREFIX + "generated_expr"] = self.generated_expr
        return T.StructField(self.name, self.data_type, self.nullable, md)

    @classmethod
    def from_struct_field(cls, sf: T.StructField) -> "Field":
        md = sf.metadata or {}
        g = lambda k, d=None: md.get(META_PREFIX + k, d)  # noqa: E731
        mo = g("merge_order")
        return cls(
            name=sf.name,
            data_type=sf.dataType,
            nullable=sf.nullable,
            field_id=g("field_id"),
            merge_key=bool(g("merge_key", False)),
            merge_order=tuple(mo) if mo else None,
            event_time=bool(g("event_time", False)),
            past_default=g("past_default"),
            future_default=g("future_default"),
            consistency=g("consistency", "coerce"),
            doc=g("doc"),
            subschema=g("subschema"),
            generated_expr=g("generated_expr"),
        )


@dataclass
class Schema:
    fields: list[Field] = dc_field(default_factory=list)

    def __post_init__(self) -> None:
        seen: set[str] = set()
        next_id = max(
            (f.field_id for f in self.fields if f.field_id is not None), default=0
        )
        for f in self.fields:
            if f.name in seen:
                raise SchemaError(f"duplicate field {f.name!r}")
            seen.add(f.name)
            if f.field_id is None:
                next_id += 1
                f.field_id = next_id
        if sum(1 for f in self.fields if f.event_time) > 1:
            raise SchemaError("at most one event_time field")

    # -- constructors --------------------------------------------------
    @classmethod
    def of(cls, source: "Schema | T.StructType | list[Field]") -> "Schema":
        if isinstance(source, Schema):
            return source
        if isinstance(source, T.StructType):
            return cls([Field.from_struct_field(sf) for sf in source.fields])
        return cls(list(source))

    @classmethod
    def from_dataframe(cls, df: DataFrame) -> "Schema":
        return cls.of(df.schema)

    # -- views ---------------------------------------------------------
    def to_struct_type(self) -> T.StructType:
        return T.StructType([f.to_struct_field() for f in self.fields])

    @property
    def names(self) -> list[str]:
        return [f.name for f in self.fields]

    def field(self, name: str) -> Field:
        for f in self.fields:
            if f.name == name:
                return f
        raise SchemaError(f"no field {name!r}")

    @property
    def merge_keys(self) -> list[str]:
        return [f.name for f in self.fields if f.merge_key]

    @property
    def event_time_field(self) -> str | None:
        for f in self.fields:
            if f.event_time:
                return f.name
        return None

    def subschema_names(self) -> list[str]:
        """Named field groups (reference `schema.py:937-973,1499-1533`)."""
        seen: list[str] = []
        for f in self.fields:
            if f.subschema and f.subschema not in seen:
                seen.append(f.subschema)
        return seen

    def subschema_columns(self, name: str) -> list[str]:
        """Merge keys + the group's own columns — the projection a
        field-group writer owns."""
        return self.merge_keys + [
            f.name for f in self.fields if f.subschema == name
        ]

    def merge_order_specs(self) -> list[tuple[str, str, str]]:
        """(field, asc|desc, first|last) winner-picking specs for MERGE
        (reference `merge_order_sort_keys`, `schema.py:1018-1046`):
        explicit merge_order fields, else the event-time field descending
        (reference `schema.py:512-532`), else empty (arrival order)."""
        specs = [
            (f.name, f.merge_order[0], f.merge_order[1])
            for f in self.fields
            if f.merge_order is not None
        ]
        if not specs and self.event_time_field:
            specs = [(self.event_time_field, "desc", "last")]
        return specs

    def merge_order_columns(self, available: "list[str] | None" = None) -> list:
        cols = []
        for name, order, nulls in self.merge_order_specs():
            if available is not None and name not in available:
                continue
            c = F.col(name)
            if order == "desc":
                cols.append(
                    c.desc_nulls_last() if nulls == "last" else c.desc_nulls_first()
                )
            else:
                cols.append(
                    c.asc_nulls_last() if nulls == "last" else c.asc_nulls_first()
                )
        return cols

    # -- serialization -------------------------------------------------
    def to_json(self) -> str:
        return json.dumps(self.to_struct_type().jsonValue())

    @classmethod
    def from_json(cls, s: str) -> "Schema":
        return cls.of(T.StructType.fromJson(json.loads(s)))

    def is_identity(self, struct: T.StructType) -> bool:
        """True when the columns of `struct` are already this schema's:
        its names, in order, of equal data types. `validate_and_coerce`
        and `read_projection` would then only re-select each column or
        cast it to its own type, so they return their input instead of
        planning a projection. Nullability is not compared: neither
        projection changes it. Column metadata is not compared either:
        a same-type cast drops it from the DataFrame's schema, but over
        a table scan Spark's optimizer removes the cast and its alias,
        so a rewrite writes the same files with or without it."""
        return [(s.name, s.dataType) for s in struct.fields] == [
            (f.name, f.data_type) for f in self.fields
        ]

    # -- write-side enforcement ---------------------------------------
    def validate_and_coerce(self, df: DataFrame) -> DataFrame:
        """Apply per-field consistency policy (reference
        `schema.py:595-670,1177-1243`): VALIDATE fails on type mismatch,
        COERCE casts, NONE passes through. Missing columns are filled
        with ``future_default`` (or null when nullable)."""
        if self.is_identity(df.schema):
            return df
        cols = []
        df_types = {f.name: f.dataType for f in df.schema.fields}
        for f in self.fields:
            if f.name not in df_types:
                default = f.future_default
                if default is None and not f.nullable:
                    raise SchemaError(
                        f"required column {f.name!r} missing from write"
                    )
                cols.append(F.lit(default).cast(f.data_type).alias(f.name))
                continue
            actual = df_types[f.name]
            if actual == f.data_type or f.consistency == "none":
                cols.append(F.col(f.name))
            elif f.consistency == "validate":
                raise SchemaError(
                    f"column {f.name!r}: expected {f.data_type.simpleString()}"
                    f", got {actual.simpleString()} (consistency=validate)"
                )
            else:
                cols.append(F.col(f.name).cast(f.data_type).alias(f.name))
        return df.select(*cols)

    # -- evolution -----------------------------------------------------
    def evolve(self, incoming: "Schema") -> "Schema":
        """Permissive unify with an incoming write schema: existing
        fields may widen (numeric lattice, or anything→string is NOT
        allowed; only widenings), new fields append. Reference
        `schema.py:671-804`."""
        out = [Field(**{**f.__dict__}) for f in self.fields]
        by_name = {f.name: f for f in out}
        max_id = max((f.field_id or 0) for f in out) if out else 0
        for nf in incoming.fields:
            if nf.name in by_name:
                ex = by_name[nf.name]
                ex.data_type = _promote(ex.data_type, nf.data_type, nf.name)
            else:
                max_id += 1
                newf = Field(**{**nf.__dict__})
                newf.field_id = max_id
                # Columns added later get null past_default implicitly —
                # old files read as null unless a default is declared.
                out.append(newf)
        return Schema(out)

    def read_projection(self, df: DataFrame) -> DataFrame:
        """Read-side normalization of a (possibly older-schema) DataFrame:
        add missing columns as ``past_default`` (reference zero-copy
        evolution, `schema.py:388-396`), cast widened types, order
        columns."""
        if self.is_identity(df.schema):
            return df
        cols = []
        present = {f.name for f in df.schema.fields}
        for f in self.fields:
            if f.name in present:
                cols.append(F.col(f.name).cast(f.data_type).alias(f.name))
            else:
                cols.append(F.lit(f.past_default).cast(f.data_type).alias(f.name))
        return df.select(*cols)


def _promote(old: T.DataType, new: T.DataType, name: str) -> T.DataType:
    if old == new:
        return old
    o, n = old.typeName(), new.typeName()
    if isinstance(old, T.DecimalType) and isinstance(new, T.DecimalType):
        # Decimal covering type: enough integer digits AND scale for
        # both — an INSERT of decimal(3,2) literals into a decimal(10,2)
        # column keeps the declared column type (write-side coercion),
        # never narrows it.
        scale = max(old.scale, new.scale)
        ints = max(old.precision - old.scale, new.precision - new.scale)
        if ints + scale > 38:
            # Integer capacity is the "never narrows" contract — existing
            # decimal(38,0) values must survive unification with
            # decimal(10,10). Give up fractional digits instead (Spark's
            # findWiderTypeForDecimal does the same): keep all `ints`
            # integer digits and shrink scale to fit 38.
            scale = 38 - ints
        prec = min(ints + scale, 38)
        if (prec, scale) == (old.precision, old.scale):
            return old
        if (prec, scale) == (new.precision, new.scale):
            return new
        return T.DecimalType(prec, scale)
    if o in _NUMERIC_WIDTH and n in _NUMERIC_WIDTH:
        return old if _NUMERIC_WIDTH[o] >= _NUMERIC_WIDTH[n] else new
    if {o, n} == {"date", "timestamp"}:
        return T.TimestampType()
    if {o, n} == {"date", "timestamp_ntz"}:
        return T.TimestampNTZType()
    raise SchemaError(
        f"cannot promote field {name!r}: {old.simpleString()} -> "
        f"{new.simpleString()}"
    )
