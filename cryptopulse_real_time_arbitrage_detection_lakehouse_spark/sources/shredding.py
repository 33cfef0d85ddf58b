"""Parquet VARIANT shredding — the read side plus a fixture-grade writer.

Spec grounding (all public): parquet-format's VariantShredding.md defines
the physical layout — a shredded variant column is a parquet group
``v { metadata: binary, value: optional binary, typed_value: ... }``
where ``typed_value`` mirrors the shredded object fields, each itself a
group ``{ value: optional binary, typed_value: optional T }``; a row is
FULLY shredded when its binary ``value`` slots are null and the typed
leaves carry the data. Delta's PROTOCOL.md exposes this as the
``variantShredding`` reader-writer table feature.

Why it matters at 100 TB: an UNSHREDDED variant column is opaque bytes —
every typed projection (``variant_get(v, '$.k', 'long')``) decodes the
full binary per row, and non-JVM readers (this engine's pydelta /
pyarrow surfaces) cannot read the column at all because pyarrow does not
recognize the parquet VARIANT logical type. Shredded, the hot typed
paths are ORDINARY parquet columns: column-pruned, stats-skipped,
readable by any parquet client — variant ergonomics at struct cost.

Scope, honestly gated:

- READ (`unshred_struct_array`, wired into the pydelta source): serve a
  caller-declared ``struct`` read schema from the shredded typed_value
  leaves. Residual binary values (rows whose type missed the shredded
  type, or unshredded tail objects) are REFUSED loudly — decoding them
  needs a variant binary decoder, which stays out of scope; the Spark
  read path handles those tables.
- WRITE: spec-layout files plus a properly fenced Delta log (reader
  v3, variantType + variantShredding on both protocol sides), staged
  EXECUTOR-SIDE from a Spark DataFrame via ``mapInArrow``
  (`write_shredded_variant_table_dist` — the driver handles one
  metadata row per file, the stage-then-commit shape of
  `DeltaTable.write`) or driver-side from a pyarrow table for hand-built
  unit fixtures (`write_shredded_variant_table`). Both shred
  FULLY-TYPED single-level JSON objects only and refuse anything that
  would need a residual binary (extra keys, type mismatches) — real
  shredded tables for the oracle-checked read path without pretending
  to be a production variant-binary encoder.
"""

from __future__ import annotations

import json
import os
import time
import urllib.parse
import uuid

from pyspark.sql import types as T

#: minimal valid variant metadata: header byte 0x01 (version 1, unsorted,
#: 1-byte offsets), dictionary size 0, one zero offset. Legal for fully
#: shredded rows — object field NAMES live in the shredding schema's
#: typed_value group, not the metadata dictionary (VariantShredding.md);
#: the dictionary only serves residual binary values, which this module
#: refuses to produce or read.
EMPTY_METADATA = b"\x01\x00\x00"

_SIMPLE_TYPES = {
    "long": (int,),
    "double": (float, int),
    "string": (str,),
    "boolean": (bool,),
}


def _lossless_widening(target, source) -> bool:
    """True when casting arrow ``source`` -> ``target`` is a lossless
    numeric widening (int8/16/32 -> wider int, float32 -> float64).
    Everything else — notably string -> numeric, which arrow casts by
    PARSING — must be refused, not coerced."""
    import pyarrow as pa

    if pa.types.is_integer(source) and pa.types.is_integer(target):
        signed = pa.types.is_signed_integer(source) == pa.types.is_signed_integer(target)
        return signed and source.bit_width < target.bit_width
    if pa.types.is_floating(source) and pa.types.is_floating(target):
        return source.bit_width < target.bit_width
    return False


def _is_shredded_layout(arrow_type) -> bool:
    """True when an arrow struct type is the spec shredding group."""
    import pyarrow as pa

    if not pa.types.is_struct(arrow_type):
        return False
    names = {arrow_type.field(i).name for i in range(arrow_type.num_fields)}
    return names == {"metadata", "value", "typed_value"}


def unshred_struct_array(struct_arr, want: T.StructType, arrow_type_of):
    """Rebuild a caller-declared ``struct`` column from a shredded
    variant column's typed_value leaves (row-aligned; nulls preserved).

    ``arrow_type_of`` maps a Spark primitive type to its arrow type (the
    `delta._spark_to_arrow_type`). Raises loudly on residual
    binary values — a silent null there would change query results.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(struct_arr)
    parent_valid = pc.is_valid(struct_arr)

    def refuse_residual(value_child, where: str) -> None:
        residual = pc.and_(parent_valid, pc.is_valid(value_child))
        if pc.any(residual).as_py():
            raise NotImplementedError(
                f"shredded variant column carries residual binary values "
                f"({where}): rows whose type missed the shredded schema "
                "need a variant binary decoder — read this table through "
                "the Spark path"
            )

    names = {
        struct_arr.type.field(i).name
        for i in range(struct_arr.type.num_fields)
    }
    if "value" in names:
        refuse_residual(struct_arr.field("value"), "top-level value")
    tv = struct_arr.field("typed_value") if "typed_value" in names else None
    tv_names = (
        {tv.type.field(i).name for i in range(tv.type.num_fields)}
        if tv is not None
        else set()
    )
    leaves = []
    for f in want.fields:
        at = arrow_type_of(f.dataType)
        if at is None:
            raise NotImplementedError(
                f"shredded-variant read supports primitive leaf types "
                f"only; field {f.name!r} is {f.dataType.simpleString()}"
            )
        if tv is not None and f.name in tv_names:
            sub = tv.field(f.name)
            sub_names = {
                sub.type.field(i).name for i in range(sub.type.num_fields)
            }
            if "value" in sub_names:
                refuse_residual(sub.field("value"), f"field {f.name!r}")
            leaf = sub.field("typed_value")
            if leaf.type != at:
                # lossless numeric widenings only: a blanket cast would
                # PARSE foreign-written leaves (arrow string->int64
                # succeeds on digit strings), silently coercing a type
                # miss this module's contract says to refuse loudly
                if not _lossless_widening(at, leaf.type):
                    raise NotImplementedError(
                        f"shredded field {f.name!r} is stored as "
                        f"{leaf.type} but declared {at}; only lossless "
                        "numeric widenings are served — re-declare the "
                        "field or rewrite the file"
                    )
                leaf = leaf.cast(at)
        else:
            # field never shredded into this file and no residual to
            # consult (checked above): Delta semantics say NULL
            leaf = pa.nulls(n, type=at)
        leaves.append(leaf)
    return pa.StructArray.from_arrays(
        leaves,
        names=[f.name for f in want.fields],
        mask=pc.is_null(struct_arr),
    )


def _make_shredder(json_col: str, shredded: dict[str, str]):
    """Build ``shred(pa.Table) -> pa.Table``: validate the JSON column
    and rewrite it into the spec shredded layout.

    A FACTORY returning a NESTED function, for the worker-pickling rule
    the executor-side writer needs: a ``mapInArrow`` closure that
    referenced a module-level function would pickle it BY REFERENCE
    (breaking under sessions whose executors cannot import this
    package); the nested function pickles by value.
    """
    if set(shredded.values()) - set(_SIMPLE_TYPES):
        bad = set(shredded.values()) - set(_SIMPLE_TYPES)
        raise ValueError(f"unsupported shredded leaf types: {sorted(bad)}")
    simple_types = dict(_SIMPLE_TYPES)  # captured by value (plain dict)
    empty_metadata = EMPTY_METADATA

    def shred(table):
        import json as _json

        import pyarrow as pa

        raw = table.column(json_col).to_pylist()
        parsed: list[dict | None] = []
        for i, s in enumerate(raw):
            if s is None:
                parsed.append(None)
                continue
            obj = _json.loads(s)
            if not isinstance(obj, dict):
                raise NotImplementedError(
                    f"row {i}: shredding non-object variants needs a "
                    "residual binary — out of fixture scope"
                )
            extra = set(obj) - set(shredded)
            if extra:
                raise NotImplementedError(
                    f"row {i}: keys {sorted(extra)} are outside the "
                    "shredding schema and would land in a residual "
                    "binary value"
                )
            for k, v in obj.items():
                if v is not None and (
                    not isinstance(v, simple_types[shredded[k]])
                    or isinstance(v, bool) != (shredded[k] == "boolean")
                ):
                    raise NotImplementedError(
                        f"row {i}: {k}={v!r} does not match shredded type "
                        f"{shredded[k]!r}; a type miss shreds into the "
                        "residual binary value — out of fixture scope"
                    )
            parsed.append(obj)

        arrow_of = {
            "long": pa.int64(),
            "double": pa.float64(),
            "string": pa.string(),
            "boolean": pa.bool_(),
        }
        field_names = sorted(shredded)
        sub_t = {
            f: pa.struct(
                [
                    pa.field("value", pa.binary()),
                    pa.field("typed_value", arrow_of[shredded[f]]),
                ]
            )
            for f in field_names
        }
        tv_t = pa.struct([pa.field(f, sub_t[f]) for f in field_names])
        shred_t = pa.struct(
            [
                pa.field("metadata", pa.binary()),
                pa.field("value", pa.binary()),
                pa.field("typed_value", tv_t),
            ]
        )
        n = len(parsed)
        mask = pa.array([o is None for o in parsed], type=pa.bool_())
        tv_arr = pa.StructArray.from_arrays(
            [
                pa.StructArray.from_arrays(
                    [
                        pa.nulls(n, type=pa.binary()),
                        pa.array(
                            [None if o is None else o.get(f) for o in parsed],
                            type=arrow_of[shredded[f]],
                        ),
                    ],
                    names=["value", "typed_value"],
                )
                for f in field_names
            ],
            names=field_names,
        )
        shred_arr = pa.StructArray.from_arrays(
            [
                pa.array([empty_metadata] * n, type=pa.binary()),
                pa.nulls(n, type=pa.binary()),
                tv_arr,
            ],
            names=["metadata", "value", "typed_value"],
            mask=mask,
        )
        idx = table.column_names.index(json_col)
        return table.set_column(idx, pa.field(json_col, shred_t), shred_arr)

    return shred


def _publish_shredded_log(
    path: str,
    adds: list[dict],
    schema: "T.StructType",
    json_col: str,
    shredded: dict[str, str],
    n_rows: int,
    now_ms: int,
):
    """Publish the v0 commit: protocol fenced on both sides (reader v3,
    variantType + variantShredding) + the shredding schema recorded in
    table configuration so readers know the typed leaves without
    probing footers (mirrors delta-spark's metadata)."""
    from .delta import DeltaTable

    field_names = sorted(shredded)
    dt = DeltaTable(path)
    dt._publish_or_conflict(
        0,
        [
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "WRITE",
                    "operationParameters": {"mode": "Append"},
                    "operationMetrics": {
                        "numFiles": str(len(adds)),
                        "numOutputRows": str(n_rows),
                    },
                }
            },
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["variantType", "variantShredding"],
                    "writerFeatures": ["variantType", "variantShredding"],
                }
            },
            {
                "metaData": {
                    "id": uuid.uuid4().hex,
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema.json(),
                    "partitionColumns": [],
                    "configuration": {
                        f"shredding.{json_col}": json.dumps(
                            {f: shredded[f] for f in field_names}
                        )
                    },
                    "createdTime": now_ms,
                }
            },
            *({"add": a} for a in adds),
        ],
        "WRITE",
    )
    return dt


def write_shredded_variant_table_dist(
    path: str,
    df,
    json_col: str,
    shredded: dict[str, str],
):
    """EXECUTOR-SIDE twin of `write_shredded_variant_table`: ``df`` is a
    Spark DataFrame whose ``json_col`` holds JSON strings; every input
    partition validates, shreds, and stages its own parquet file via
    ``mapInArrow`` (the same stage-then-commit shape as
    `DeltaTable.write`), and the driver collects only ONE bounded metadata
    row per staged file before publishing the fenced log. O(files) on
    the driver, O(rows/partitions) per executor — the scale shape a
    production shredding encoder would have.

    Same refuse-loudly contract as the driver-side writer (single-level
    fully-typed objects only; anything needing a residual binary
    raises, now from the executor).

    Returns the `DeltaTable`.
    """
    from pyspark.sql import types as _T

    os.makedirs(path, exist_ok=True)
    shredder = _make_shredder(json_col, shredded)
    root = os.path.abspath(path)

    def stage(batches):
        import os as _os
        import uuid as _uuid

        import pyarrow as _pa
        import pyarrow.parquet as _pq

        blist = list(batches)
        if not blist:
            return
        out = shredder(_pa.Table.from_batches(blist))
        rel = f"part-{_uuid.uuid4().hex}.parquet"
        fp = _os.path.join(root, rel)
        _pq.write_table(out, fp)
        yield _pa.RecordBatch.from_pydict(
            {
                "path": [rel],
                "size": [_os.path.getsize(fp)],
                "num_records": [out.num_rows],
            }
        )

    meta_rows = df.mapInArrow(
        stage, schema="path string, size long, num_records long"
    ).collect()  # bounded: one row per staged FILE, never per data row
    now_ms = int(time.time() * 1000)
    adds = [
        {
            "path": urllib.parse.quote(m.path, safe="/="),
            "partitionValues": {},
            "size": m.size,
            "modificationTime": now_ms,
            "dataChange": True,
            "stats": json.dumps({"numRecords": m.num_records}),
        }
        for m in meta_rows
    ]
    schema = _T.StructType(
        [
            _T.StructField(f.name, _T.VariantType() if f.name == json_col else f.dataType, True)
            for f in df.schema.fields
        ]
    )
    n_rows = sum(m.num_records for m in meta_rows)
    return _publish_shredded_log(
        path, adds, schema, json_col, shredded, n_rows, now_ms
    )


def write_shredded_variant_table(
    path: str,
    table,
    json_col: str,
    shredded: dict[str, str],
    *,
    n_files: int = 2,
):
    """Write ``table`` (a pyarrow Table whose ``json_col`` holds JSON
    strings) as a Delta table whose ``json_col`` is a VARIANT column
    stored SHREDDED: spec layout files + a log fenced with reader v3 and
    the variantType + variantShredding features on both protocol sides.

    ``shredded`` maps field name -> Spark simple type ('long', 'double',
    'string', 'boolean'). Every JSON object must be a single-level
    object whose keys are a subset of ``shredded`` with values of the
    declared types — anything else would require encoding a residual
    binary variant, which this writer refuses rather than fakes.

    This entry point takes a DRIVER-LOCAL pyarrow table (unit-test
    convenience); `write_shredded_variant_table_dist` is the same
    writer staged executor-side from a Spark DataFrame — use that for
    anything bigger than a hand-built fixture.

    Returns the `DeltaTable`.
    """
    import pyarrow.parquet as pq

    out = _make_shredder(json_col, shredded)(table)
    n = out.num_rows

    os.makedirs(path, exist_ok=True)
    now_ms = int(time.time() * 1000)
    adds = []
    per = max(1, -(-n // max(1, n_files)))
    for i in range(0, n, per):
        chunk = out.slice(i, per)
        rel = f"part-{i // per:05d}-{uuid.uuid4().hex}.parquet"
        fp = os.path.join(path, rel)
        pq.write_table(chunk, fp)
        adds.append(
            {
                "path": urllib.parse.quote(rel, safe="/="),
                "partitionValues": {},
                "size": os.path.getsize(fp),
                "modificationTime": now_ms,
                "dataChange": True,
                "stats": json.dumps({"numRecords": chunk.num_rows}),
            }
        )

    from pyspark.sql.pandas.types import from_arrow_type

    fields = []
    for f in table.schema:
        if f.name == json_col:
            fields.append(T.StructField(f.name, T.VariantType(), True))
        else:
            fields.append(T.StructField(f.name, from_arrow_type(f.type), True))
    schema = T.StructType(fields)
    return _publish_shredded_log(
        path, adds, schema, json_col, shredded, n, now_ms
    )
