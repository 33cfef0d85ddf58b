"""Delta Lake table access without delta-spark: a transaction-log client.

The reference stores bronze/silver/gold as Delta tables and reads them
back with delta-spark (``/root/reference/src/jobs/ingestion_bronze.py:55``,
``check_bronze.py:52-84`` — SURVEY.md S2/S3/S4/M2). That package is not in
this image, but the Delta *format* is public and simple: a directory of
parquet data files plus ``_delta_log/`` holding one newline-delimited JSON
action file per commit (and periodic parquet checkpoints). This module
speaks that format directly — the same approach the delta-rs project takes
(a log client outside the JVM) — so the engine can read tables written by
any Delta writer and write tables any Delta reader can load.

Protocol subset (delta.io PROTOCOL.md, public spec):

- **Actions**: ``protocol``, ``metaData``, ``add``, ``remove``,
  ``commitInfo``, ``txn``. A snapshot at version ``V`` is the replay of
  actions ``0..V``: active files = adds not later removed (keyed by path).
- **Commits**: ``_delta_log/%020d.json``. Visibility == log-file
  existence: a commit is published by an atomic create of its log file,
  so readers never see half-written data.
- **Checkpoints**: ``_last_checkpoint`` names a parquet file holding the
  collapsed action state at some version; replay then only needs the JSON
  commits *after* it. This is what keeps snapshot construction O(tail),
  not O(all commits), on a table with years of history.
- **Reader gate**: tables using features beyond reader protocol v1
  (column mapping, deletion vectors) are refused loudly rather than read
  wrongly.

Partitioned tables: Delta stores partition columns only in
``add.partitionValues`` (hive-encoded strings), not in the data files.
When every active file's path IS the hive encoding of its logged
partitionValues (always true for this writer's layout), the scan is ONE
parquet relation over the explicit file list with ``basePath`` set —
Spark derives the typed partition columns from the directory names, so
the plan stays a single scan node at any partition count (the round-8
probe measured the old one-union-branch-per-partition-tuple plan at 5×
on a 200-partition MERGE — plan construction plus a 200-branch union
the optimizer must carry). Files whose paths do NOT match their logged
values (foreign layouts, shallow-clone absolute paths) fall back to
grouped reads with partition columns injected as typed literals,
``unionByName``ed — correctness never depends on the layout.

Scale notes: the log tail is tiny JSON parsed driver-side (bounded by the
checkpoint interval); checkpoints — the part that grows with table size —
are read with pyarrow and reduced to the active-file list, which every
Delta client ultimately materializes to plan the scan. Snapshot-state
reconstruction therefore needs no JVM at all (`to_pandas` is a fully
Spark-free read — the dashboard/delta-rs pattern, SURVEY.md S4). Data
reads through Spark are plain parquet scans, so Catalyst pushdown, column
pruning, and AQE apply unchanged.
"""

from __future__ import annotations

import json
import os
import re
import time
import urllib.parse
import uuid
import warnings

import dataclasses
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import dv as _dv
from . import footer_stats as _footer_stats
from .footer_stats import file_stats as _file_stats

# The DV and footer-stats kernels below close over functions from their
# modules and run on executors. A foreign driver (the contract driver, a
# notebook) may have this package only via a sys.path insert the Python
# workers don't inherit — so register both self-contained modules for
# BY-VALUE pickling: the closure then carries the code itself instead of
# an import that fails worker-side. Both are stdlib-only, so this is
# cheap.
try:  # pragma: no cover - depends on vendored cloudpickle version
    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_dv)
    _cloudpickle.register_pickle_by_value(_footer_stats)
except Exception:  # noqa: BLE001
    pass

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

# co-partitioned rewrite staging fans a partition value across
# ceil(touched_bytes / this) salt buckets — delta-spark's bin-packing
# target, so a hot value's rewrite parallelizes into the file size
# OPTIMIZE would produce anyway
_STAGE_TARGET_FILE_BYTES = 128 * 1024 * 1024


class CommitConflict(Exception):
    """Another writer published this commit version first (the
    put-if-absent lost). Internal signal — callers either retry from a
    fresh snapshot (blind appends) or surface `ConcurrentWriteError`."""


class ConcurrentWriteError(RuntimeError):
    """A concurrent commit logically conflicts with this operation (it
    read snapshot state another writer has since changed). Retry the
    whole operation from a fresh snapshot."""


HISTORY_SCHEMA = T.StructType(
    [
        T.StructField("version", T.LongType(), False),
        T.StructField("timestamp_ms", T.LongType(), False),
        T.StructField("operation", T.StringType(), False),
        T.StructField(
            "operation_parameters",
            T.StructType([T.StructField("mode", T.StringType(), True)]),
            True,
        ),
        T.StructField(
            "operation_metrics",
            T.StructType(
                [
                    T.StructField("num_files", T.LongType(), True),
                    T.StructField("num_output_rows", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)


_LISTING_THRESHOLD_CONF = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def _read_files(
    spark: SparkSession,
    paths: list[str],
    *,
    schema: T.StructType | None = None,
    **options: str,
) -> DataFrame:
    """Parquet relation over files a log already names, listed on the
    driver. Past the listing threshold (32 paths by default) Spark
    re-lists an explicit file list with a distributed job, which was
    slower than the driver at every size measured (see `DeltaTable.read`).
    ``parquet()`` builds the relation's file index eagerly, so raising
    the threshold around that one call is enough. The setting
    decides how files are listed, never which rows are read, so threads
    sharing a session need no lock: an interleaved save/restore can only
    leave the other listing mode in place."""
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    prior = spark.conf.get(_LISTING_THRESHOLD_CONF)
    spark.conf.set(_LISTING_THRESHOLD_CONF, str(2**31 - 1))
    try:
        return reader.parquet(*paths)
    finally:
        spark.conf.set(_LISTING_THRESHOLD_CONF, prior)


def _commit_path(log_dir: str, version: int) -> str:
    return os.path.join(log_dir, f"{version:020d}.json")


#: minor log-compaction files: `<start>.<end>.compacted.json`
#: (delta-spark's naming; PROTOCOL.md "Log Compaction Files")
_COMPACTION_NAME_RE = re.compile(r"^(\d{20})\.(\d{20})\.compacted\.json$")


def _compaction_path(log_dir: str, start: int, end: int) -> str:
    return os.path.join(log_dir, f"{start:020d}.{end:020d}.compacted.json")


def _as_dict(pv) -> dict:
    """Normalize a partitionValues payload to a plain dict: JSON commits
    store a dict, but pyarrow renders the checkpoint's parquet MAP column
    as a list of (key, value) pairs (or {'key','value'} structs)."""
    if not pv:
        return {}
    if isinstance(pv, dict):
        return pv
    if isinstance(pv[0], dict):
        return {e["key"]: e["value"] for e in pv}
    return dict(pv)


def _distributed_footer_probe(
    spark: SparkSession,
    pairs: list[tuple[str, str]],
    *,
    schema_ipc: bytes | None = None,
) -> dict[str, dict]:
    """Read parquet footers ACROSS THE EXECUTORS — the scale form of the
    one-footer-per-file cost model `convert_from_parquet` and
    `recompute_stats` share. ``pairs`` is ``[(key, absolute path)]``;
    returns ``{key: {"stats": <stats dict>, "size": int, "mtime_ms":
    int, "schema_names": [..] | None}}``. With ``schema_ipc`` (an Arrow
    IPC-serialized schema), each file's arrow schema is compared
    executor-side and ``schema_names`` comes back ONLY for mismatching
    files — CONVERT's one-schema check without shipping every schema to
    the driver.

    On a million-file foreign table a driver-side footer loop is hours
    of serial I/O; this is one `mapInPandas` pass, ~64 files per task,
    and the driver gets back exactly the per-file stats JSON it needs
    for the single atomic commit (the commit itself STAYS driver-side —
    log publication is one put-if-absent, never distributed). Same shape
    as `fsck_repair`'s distributed existence probe.

    ASSUMES SHARED STORAGE: paths are the DRIVER's filesystem paths and
    executors must see the same tree (true for local mode, NFS, and
    fuse-mounted object stores — the deployments a path-based Delta
    client serves). A missing/corrupt file never surfaces as an opaque
    executor stack: the kernel catches per-file errors into an ``err``
    column and the driver raises one ValueError naming every failing
    path — on a no-shared-fs cluster that is EVERY path, and the error
    says so."""
    stats_fn = _file_stats  # by-value module: workers carry the code

    def probe(batches):
        import json as _json
        import os as _os

        import pandas as _pd
        import pyarrow as _pa
        import pyarrow.parquet as _pq

        want = (
            _pa.ipc.read_schema(_pa.BufferReader(schema_ipc))
            if schema_ipc is not None
            else None
        )
        for pdf in batches:
            rows = []
            for key, full in zip(pdf["key"], pdf["full"]):
                try:
                    pf = _pq.ParquetFile(full)
                    names = None
                    if want is not None and pf.schema_arrow != want:
                        names = _json.dumps(pf.schema_arrow.names)
                    rows.append(
                        (
                            key,
                            _json.dumps(stats_fn(pf.metadata)),
                            _os.path.getsize(full),
                            int(_os.path.getmtime(full) * 1000),
                            names,
                            None,
                        )
                    )
                except Exception as exc:  # noqa: BLE001 — per-file report
                    rows.append(
                        (key, None, None, None, None,
                         f"{type(exc).__name__}: {exc}")
                    )
            yield _pd.DataFrame(
                rows,
                columns=["key", "stats", "size", "mtime_ms", "bad", "err"],
            )

    out_schema = (
        "key string, stats string, size long, mtime_ms long, "
        "bad string, err string"
    )
    rows = (
        spark.createDataFrame(pairs, "key string, full string")
        .repartition(min(32, max(1, len(pairs) // 64 + 1)))
        .mapInPandas(probe, out_schema)
        .collect()
    )
    failed = sorted((r["key"], r["err"]) for r in rows if r["err"])
    if failed:
        shown = "; ".join(f"{k}: {e}" for k, e in failed[:10])
        more = f" (+{len(failed) - 10} more)" if len(failed) > 10 else ""
        hint = (
            " — every probed file failed: if the files exist on the "
            "driver, the executors do not share its filesystem "
            "(distributed maintenance requires shared storage)"
            if len(failed) == len(pairs)
            else ""
        )
        raise ValueError(
            f"footer probe failed for {len(failed)} of {len(pairs)} "
            f"file(s): {shown}{more}{hint}"
        )
    return {
        r["key"]: {
            "stats": json.loads(r["stats"]),
            "size": r["size"],
            "mtime_ms": r["mtime_ms"],
            "schema_names": json.loads(r["bad"]) if r["bad"] else None,
        }
        for r in rows
    }


#: simple conjunct: `col op literal` — the skippable subset of a WHERE
_CMP_RE = re.compile(
    r"^\s*([A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)*)"
    r"\s*(<=|>=|==|=|<|>)\s*"
    r"('(?:[^']*)'|-?\d+(?:\.\d+)?)\s*$"
)


def _mask_quotes(where: str) -> str:
    """LENGTH-PRESERVING mask of single-quoted literals ('abc' -> 'xxx')
    so structural scans (the OR/NOT/IN screen, the AND split) never see
    operator words or connectives that are really data. Same length means
    positions found on the mask slice the ORIGINAL correctly."""
    return re.sub(r"'[^']*'", lambda m: "'" + "x" * (len(m.group()) - 2) + "'", where)


def _split_top_level_and(where: str) -> list[str]:
    """Split on AND connectives OUTSIDE quoted literals (positions found
    on the mask, slices taken from the original)."""
    masked = _mask_quotes(where)
    parts, start = [], 0
    for m in re.finditer(r"\s+AND\s+", masked, flags=re.I):
        parts.append(where[start : m.start()])
        start = m.end()
    parts.append(where[start:])
    return parts


def _parse_conjuncts(where: str) -> list[tuple[str, str, object]]:
    """Decompose a WHERE string into provable (col, op, literal) conjuncts.

    A top-level AND split is only sound for a PURE conjunction: any OR /
    NOT / IN anywhere in the predicate disables pruning entirely —
    splitting "a OR b AND c" on AND would treat the "c" fragment as
    required and prune files whose rows satisfy the other branch
    (silently wrong results, not just a missed optimization). Fragments
    may be wrapped in one BALANCED paren pair ("(a = 1) AND (b = 2)");
    anything else contributes no pruning. The full predicate is always
    re-applied to the surviving rows, so every bail-out here is
    correctness-neutral."""
    if re.search(r"\b(OR|NOT|IN)\b", _mask_quotes(where), flags=re.I):
        return []
    out = []
    # split on the MASK, slice the original: a literal containing
    # " AND y = 3" must not contribute a spurious pruning conjunct
    for part in _split_top_level_and(where):
        frag = part.strip()
        if frag.startswith("(") and frag.endswith(")"):
            inner = frag[1:-1]
            # strip only a BALANCED enclosing pair; "f(a)) AND (b" style
            # fragments must not be repaired into a comparison
            if inner.count("(") == inner.count(")"):
                frag = inner.strip()
        if "(" in frag or ")" in frag:
            continue
        m = _CMP_RE.match(frag)
        if not m:
            continue
        col, op, lit = m.groups()
        if lit.startswith("'"):
            val: object = lit[1:-1]
        elif "." in lit:
            val = float(lit)
        else:
            val = int(lit)
        out.append((col, "=" if op == "==" else op, val))
    return out


def _parse_conjuncts_strict(where: str) -> list[tuple[str, str, object]]:
    """Like `_parse_conjuncts` but REFUSES predicates it cannot fully
    decompose. For consumers that re-apply the predicate to rows
    (`DeltaTable.read`) a partial parse is correctness-neutral; for
    consumers whose row filtering IS the parsed conjuncts (the pydelta
    source's `where` option) a dropped fragment would silently return
    wrong rows — they must error instead."""
    # screen STRUCTURE only: 'or'/'not'/'in' INSIDE a quoted string
    # literal (status = 'checked in') is data, not an operator
    if re.search(r"\b(OR|NOT|IN)\b", _mask_quotes(where), flags=re.I):
        raise ValueError(
            f"unsupported predicate {where!r}: only simple AND-conjunctions "
            "of `col op literal` are supported here"
        )
    parts = _split_top_level_and(where)
    out = _parse_conjuncts(where)
    if len(out) != len(parts):
        raise ValueError(
            f"unsupported predicate {where!r}: every AND-conjunct must be "
            "a simple `col op literal` comparison"
        )
    return out


def _file_may_match(
    add: dict,
    conjuncts: list[tuple[str, str, object]],
    part_cols: list[str],
    phys,
) -> bool:
    """False only when the add's stats / partition values PROVE no row can
    satisfy every conjunct. Missing stats, type mismatches, and null-able
    edge cases all answer True (read the file; the row filter decides)."""
    stats = json.loads(add.get("stats") or "{}")
    mins = stats.get("minValues") or {}
    maxs = stats.get("maxValues") or {}
    pv = _as_dict(add.get("partitionValues"))
    for col, op, val in conjuncts:
        if col in part_cols:
            raw = pv.get(phys(col))
            if raw is None or raw == _HIVE_NULL:
                continue
            if isinstance(val, (int, float)):
                try:
                    lo = hi = type(val)(raw) if "." not in raw else float(raw)
                except ValueError:
                    continue
            else:
                lo = hi = raw
        else:
            p = phys(col)

            def stat_at(d: dict, dotted: str):
                cur: object = d
                for seg in dotted.split("."):
                    if not isinstance(cur, dict):
                        return None
                    cur = cur.get(seg)
                return None if isinstance(cur, dict) else cur

            lo, hi = stat_at(mins, p), stat_at(maxs, p)
            if lo is None or hi is None:
                continue
        try:
            if op == "=" and (val < lo or val > hi):
                return False
            if op == "<" and not (lo < val):
                return False
            if op == "<=" and not (lo <= val):
                return False
            if op == ">" and not (hi > val):
                return False
            if op == ">=" and not (hi >= val):
                return False
        except TypeError:
            continue  # string literal vs numeric stats etc.: no pruning
    return True


#: generation-expression shapes a partition predicate can be DERIVED
#: through (delta-spark's GeneratedColumn partition-filter optimization):
#: each maps a recognized expression over one source column to a
#: monotone-non-decreasing literal transform, so `src op L` implies
#: `part op' g(L)` and pruning on the derived conjunct is sound. Only
#: monotone forms qualify — MONTH(ts) alone wraps every year and could
#: prune files that DO match.
_GEN_PRUNE_FORMS: list[tuple[re.Pattern, str]] = [
    (re.compile(r"^\s*CAST\s*\(\s*`?(\w+)`?\s+AS\s+DATE\s*\)\s*$", re.I), "date"),
    (re.compile(r"^\s*DATE\s*\(\s*`?(\w+)`?\s*\)\s*$", re.I), "date"),
    (re.compile(r"^\s*YEAR\s*\(\s*`?(\w+)`?\s*\)\s*$", re.I), "year"),
    (
        re.compile(
            r"^\s*DATE_FORMAT\s*\(\s*`?(\w+)`?\s*,\s*'yyyy-MM'\s*\)\s*$", re.I
        ),
        "yyyymm",
    ),
]


def _gen_transform(kind: str, lit: object) -> object | None:
    """g(L) for a recognized generation form; None when the literal is not
    a 'yyyy-MM-dd[ HH:MM:SS]' timestamp/date string (no derivation — the
    row filter still decides, so bailing is correctness-neutral)."""
    if not isinstance(lit, str) or not re.match(r"^\d{4}-\d{2}-\d{2}", lit):
        return None
    if kind == "date":
        return lit[:10]
    if kind == "year":
        return int(lit[:4])
    if kind == "yyyymm":
        return lit[:7]
    return None


def _generated_partition_conjuncts(
    conjuncts: list[tuple[str, str, object]],
    meta: dict,
    part_cols: list[str],
) -> list[tuple[str, str, object]]:
    """Derive partition-column conjuncts from predicates on the SOURCE of
    a generated partition column — `event_date` generated as
    ``CAST(ts AS DATE)`` turns ``ts >= '2024-01-02 03:00:00'`` into the
    prunable ``event_date >= '2024-01-02'``. Because every supported
    transform g is monotone non-decreasing, ``ts >= L`` implies
    ``g(ts) >= g(L)`` (and dually for <=/<; equality maps to equality),
    so a file ruled out by the derived conjunct provably holds no
    matching row. Strict inequalities relax to inclusive ones (ts >
    midnight still allows that date); the original row filter is always
    re-applied by the caller."""
    gen = {
        col: expr
        for col, expr in (meta and DeltaTable._generation_exprs(meta) or {}).items()
        if col in part_cols
    }
    if not gen:
        return []
    derived: list[tuple[str, str, object]] = []
    for part_col, expr in gen.items():
        for rx, kind in _GEN_PRUNE_FORMS:
            m = rx.match(expr)
            if not m:
                continue
            src = m.group(1)
            for col, op, lit in conjuncts:
                if col != src:
                    continue
                g = _gen_transform(kind, lit)
                if g is None:
                    continue
                if op in (">", ">="):
                    derived.append((part_col, ">=", g))
                elif op in ("<", "<="):
                    derived.append((part_col, "<=", g))
                elif op == "=":
                    derived.append((part_col, "=", g))
            break
    return derived


def _phys_path_fn(meta: dict):
    """Logical (possibly dotted) column path -> dotted PHYSICAL path
    for stats lookup / file pruning; identity for unmapped tables and
    unknown paths (a miss answers may-match, the sound direction)."""
    schema_json = json.loads(meta["schemaString"])

    def resolve(col: str) -> str:
        fields = schema_json.get("fields", [])
        segs: list[str] = []
        for seg in col.split("."):
            fj = next((f for f in fields if f["name"] == seg), None)
            if fj is None:
                return col
            segs.append(
                (fj.get("metadata") or {}).get(
                    "delta.columnMapping.physicalName", seg
                )
            )
            t = fj["type"]
            fields = t.get("fields", []) if isinstance(t, dict) else []
        return ".".join(segs)

    return resolve


def _arrow_names_differ(pa_type, dt: T.DataType) -> bool:
    """True when the arrow type's nested struct field names (physical)
    differ anywhere from the Spark type's (logical)."""
    import pyarrow as pa

    if isinstance(dt, T.StructType) and pa.types.is_struct(pa_type):
        if pa_type.num_fields != len(dt.fields):
            return True
        return any(
            pa_type.field(i).name != f.name
            or _arrow_names_differ(pa_type.field(i).type, f.dataType)
            for i, f in enumerate(dt.fields)
        )
    if isinstance(dt, T.ArrayType) and (
        pa.types.is_list(pa_type) or pa.types.is_large_list(pa_type)
    ):
        return _arrow_names_differ(pa_type.value_type, dt.elementType)
    if isinstance(dt, T.MapType) and pa.types.is_map(pa_type):
        return _arrow_names_differ(
            pa_type.key_type, dt.keyType
        ) or _arrow_names_differ(pa_type.item_type, dt.valueType)
    return False


def _arrow_to_logical_names(arr, dt: T.DataType):
    """Rename nested struct fields POSITIONALLY physical -> logical in an
    arrow array — the pure-python (`to_pandas`, ``pydelta``) twin of the
    Spark scan's positional struct cast. Structs at any depth are
    rebuilt, INCLUDING inside array/map elements (list and map arrays
    are rebuilt around their recursively-renamed children, reusing the
    original validity/offset buffers — zero data copied); an
    exotic container this rebuild does not reach (fixed-size list,
    union) is refused loudly rather than silently misread."""
    import pyarrow as pa

    if isinstance(dt, T.StructType) and pa.types.is_struct(arr.type):
        children, fields = [], []
        for i, f in enumerate(dt.fields):
            if i >= arr.type.num_fields:
                # older file written before this nested field was added:
                # null-fill, matching the top-level missing-column path
                # (positional mapping makes missing fields a TRAILING
                # suffix — rename_column never reorders)
                from pyspark.sql.pandas.types import to_arrow_type

                child = pa.nulls(len(arr), type=to_arrow_type(f.dataType))
                children.append(child)
                fields.append(pa.field(f.name, child.type, nullable=True))
                continue
            child = _arrow_to_logical_names(arr.field(i), f.dataType)
            children.append(child)
            fields.append(
                pa.field(f.name, child.type, nullable=arr.type.field(i).nullable)
            )
        mask = None
        if arr.null_count:
            import pyarrow.compute as pc

            mask = pc.is_null(arr)
        return pa.StructArray.from_arrays(children, fields=fields, mask=mask)
    if not _arrow_names_differ(arr.type, dt):
        return arr
    if isinstance(dt, T.ArrayType) and (
        pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type)
    ):
        # rebuild the list around the renamed values child: the
        # validity+offsets buffers (buffers()[:2] — buffers() is
        # depth-first, top level leads) are reused verbatim, so slices
        # and nulls survive and no row data moves
        values = _arrow_to_logical_names(arr.values, dt.elementType)
        ef = arr.type.value_field
        mk = pa.large_list if pa.types.is_large_list(arr.type) else pa.list_
        new_type = mk(pa.field(ef.name, values.type, nullable=ef.nullable))
        return pa.Array.from_buffers(
            new_type,
            len(arr),
            arr.buffers()[:2],
            offset=arr.offset,
            children=[values],
        )
    if isinstance(dt, T.MapType) and pa.types.is_map(arr.type):
        # MapArray is a list<struct<key,value>>: rename inside both
        # children, rebuild the entries struct, reuse the map's own
        # validity+offsets
        keys = _arrow_to_logical_names(arr.keys, dt.keyType)
        items = _arrow_to_logical_names(arr.items, dt.valueType)
        new_type = pa.map_(keys.type, items.type)
        entries = pa.StructArray.from_arrays(
            [keys, items],
            fields=[
                pa.field("key", keys.type, nullable=False),
                pa.field("value", items.type, nullable=True),
            ],
        )
        return pa.Array.from_buffers(
            new_type,
            len(arr),
            arr.buffers()[:2],
            offset=arr.offset,
            children=[entries],
        )
    raise NotImplementedError(
        f"renamed struct fields inside a {arr.type} cannot be projected "
        "by the pure-python readers; use the Spark read path"
    )


def _spark_to_arrow_type(dt: T.DataType):
    """Arrow type for a Spark type, or None when no cast should be
    attempted (complex/unknown types pass through as read)."""
    import pyarrow as pa

    if isinstance(dt, T.DecimalType):
        return pa.decimal128(dt.precision, dt.scale)
    return {
        T.LongType(): pa.int64(),
        T.IntegerType(): pa.int32(),
        T.DoubleType(): pa.float64(),
        T.FloatType(): pa.float32(),
        T.StringType(): pa.string(),
        T.BooleanType(): pa.bool_(),
        T.DateType(): pa.date32(),
        # Spark's Arrow bridge rejects NANOSECOND timestamps (the unit
        # pyarrow reads from ns-precision parquet): microseconds is the
        # engine's timestamp unit
        T.TimestampType(): pa.timestamp("us", tz="UTC"),
        T.TimestampNTZType(): pa.timestamp("us"),
    }.get(dt)


def _assign_mapping_meta(type_json, next_id: int, name_fn):
    """Walk a Delta schema-JSON *type* and stamp every nested struct field
    with ``delta.columnMapping.id`` / ``physicalName`` metadata. ``name_fn``
    picks the physical name (identity at enable time — existing files
    already use the logical names — or a fresh ``col-<uuid>`` for columns
    new to a mapped table). Returns (new type_json, next_id)."""
    if isinstance(type_json, dict):
        t = type_json.get("type")
        if t == "struct":
            fields = []
            for f in type_json.get("fields", []):
                inner, next_id = _assign_mapping_meta(f["type"], next_id, name_fn)
                next_id += 1
                md = dict(f.get("metadata") or {})
                md["delta.columnMapping.id"] = next_id
                md["delta.columnMapping.physicalName"] = name_fn(f["name"])
                fields.append({**f, "type": inner, "metadata": md})
            return {**type_json, "fields": fields}, next_id
        if t == "array":
            inner, next_id = _assign_mapping_meta(
                type_json["elementType"], next_id, name_fn
            )
            return {**type_json, "elementType": inner}, next_id
        if t == "map":
            k, next_id = _assign_mapping_meta(type_json["keyType"], next_id, name_fn)
            v, next_id = _assign_mapping_meta(type_json["valueType"], next_id, name_fn)
            return {**type_json, "keyType": k, "valueType": v}, next_id
    return type_json, next_id


def _dv_expansion_df(
    spark: SparkSession, dv_blobs: list[tuple[str, bytes]]
) -> DataFrame:
    """(file name, serialized roaring blob) pairs -> a distributed
    ``(__file, __rid)`` DataFrame of deleted coordinates. The driver only
    parallelizes the compressed blobs (one row per file); each bitmap is
    decoded exactly once, executor-side, in an Arrow kernel — so a table
    carrying millions of deleted rows never expands them on the driver."""

    deserialize = _dv.deserialize_rbm_array  # closure-captured, by-value

    def expand(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            for name, blob in zip(pdf["__file"], pdf["__blob"]):
                rows = deserialize(bytes(blob))
                yield pd.DataFrame(
                    {
                        "__file": np.repeat(name, len(rows)),
                        "__rid": np.asarray(rows, dtype=np.int64),
                    }
                )

    blobs = spark.createDataFrame(dv_blobs, "__file string, __blob binary")
    return blobs.mapInPandas(expand, "__file string, __rid long")


def _file_dv_kernel(table_root: str, prior_by_name: dict[str, dict]):
    """Grouped Arrow kernel for `DeltaTable.delete`: one group per data
    file, serializing that file's (new ∪ prior) deleted row indexes into a
    roaring blob ON THE EXECUTOR. The driver collects one
    ``(file, blob, cardinality, n_new)`` row per touched file — O(files ×
    compressed bitmap bytes) transferred, never O(matched rows) — the
    distributed-DV-writer shape delta-spark uses, minus its JVM."""

    resolve_rows = _dv.resolve_dv_rows  # closure-captured, by-value
    serialize = _dv.serialize_rbm_array

    def build(pdf):
        import pandas as pd

        name = pdf["__file"].iat[0]
        rids = [int(r) for r in pdf["__rid"]]
        n_new = len(rids)
        prior = prior_by_name.get(name)
        if prior:
            rids.extend(resolve_rows(table_root, prior))
        distinct = sorted(set(rids))
        blob = serialize(distinct)
        return pd.DataFrame(
            {
                "file": [name],
                "blob": [blob],
                "card": [len(distinct)],
                "n_new": [n_new],
            }
        )

    return build


@dataclass
class DeltaTable:
    """A Delta Lake table rooted at ``path`` (no delta-spark required)."""

    path: str
    #: cached ``delta.checkpointInterval`` (0 = unset, None = unknown);
    #: refreshed by any commit carrying a metaData action
    _ckpt_interval: int | None = dataclasses.field(
        default=None, repr=False, compare=False
    )

    @property
    def _log_dir(self) -> str:
        return os.path.join(self.path, "_delta_log")

    # ------------------------------------------------------------------ log

    def _commit_versions(self) -> list[int]:
        if not os.path.isdir(self._log_dir):
            return []
        out = []
        for name in os.listdir(self._log_dir):
            stem, ext = os.path.splitext(name)
            if ext == ".json" and stem.isdigit():
                out.append(int(stem))
        return sorted(out)

    def latest_version(self) -> int | None:
        versions = self._commit_versions()
        return versions[-1] if versions else None

    def _read_commit(self, version: int) -> list[dict]:
        with open(_commit_path(self._log_dir, version)) as f:
            return [json.loads(line) for line in f if line.strip()]

    def _compaction_ranges(self) -> list[tuple[int, int]]:
        """Sorted (start, end) ranges of the minor log-compaction files
        present in the log (``<start>.<end>.compacted.json``)."""
        if not os.path.isdir(self._log_dir):
            return []
        out = []
        for name in os.listdir(self._log_dir):
            m = _COMPACTION_NAME_RE.match(name)
            if m:
                out.append((int(m.group(1)), int(m.group(2))))
        return sorted(out)

    def _read_compaction(self, start: int, end: int) -> list[dict]:
        with open(_compaction_path(self._log_dir, start, end)) as f:
            return [json.loads(line) for line in f if line.strip()]

    def compact_log(
        self, start: int | None = None, end: int | None = None
    ) -> str:
        """Write a minor log-compaction file
        ``<start>.<end>.compacted.json`` (PROTOCOL.md "Log Compaction
        Files", delta-spark's minor compaction): the RECONCILED net
        actions of commits ``start..end`` — per-path latest add OR
        remove (remove tombstones are KEPT, unlike a naive prune:
        a replay that starts before ``start`` needs them to delete
        earlier adds, and vacuum keys retention on them), latest
        metaData/protocol, newest-wins setTransaction per appId, and
        latest domainMetadata per domain (``removed`` tombstones kept
        for the same reason). ``commitInfo`` and ``cdc`` actions are
        excluded: compactions feed SNAPSHOT replay; history and the
        change feed keep reading the per-commit JSONs, which compaction
        never deletes.

        Defaults: ``start`` = first version after the last checkpoint
        (else the oldest commit), ``end`` = latest — i.e. "compact the
        JSON tail", the shape that keeps a hot table's read planning
        O(compactions) between checkpoints. Requires every commit JSON
        in the range (reconciliation must see the exact action
        sequence) and a range of at least two commits. The write is
        atomic (temp + rename) and pure metadata — no table version is
        consumed, readers without compaction support ignore the file
        (its stem is not a bare version number).
        """
        versions = self._commit_versions()
        if not versions:
            raise ValueError(f"not a Delta table (no commits): {self.path}")
        latest = versions[-1]
        if end is None:
            end = latest
        if start is None:
            cp = self._last_checkpoint()
            start = cp["version"] + 1 if cp is not None else versions[0]
        if end > latest:
            raise ValueError(f"end {end} is past the latest version {latest}")
        if start >= end:
            raise ValueError(
                f"compaction range [{start}, {end}] must span at least "
                "two commits"
            )
        have = set(versions)
        missing = [v for v in range(start, end + 1) if v not in have]
        if missing:
            raise ValueError(
                f"commit JSONs missing from compaction range "
                f"[{start}, {end}]: {missing[:5]} — reconciliation needs "
                "the exact action sequence"
            )
        adds: dict[str, dict] = {}
        removes: dict[str, dict] = {}
        txns: dict[str, dict] = {}
        meta: dict | None = None
        proto: dict | None = None
        domains: dict[str, dict] = {}
        for v in range(start, end + 1):
            for action in self._read_commit(v):
                if "add" in action:
                    p = action["add"]["path"]
                    adds[p] = action["add"]
                    removes.pop(p, None)
                elif "remove" in action:
                    p = action["remove"]["path"]
                    removes[p] = action["remove"]
                    adds.pop(p, None)
                elif "metaData" in action:
                    meta = action["metaData"]
                elif "protocol" in action:
                    proto = action["protocol"]
                elif "txn" in action:
                    txns[action["txn"]["appId"]] = action["txn"]
                elif "domainMetadata" in action:
                    domains[action["domainMetadata"]["domain"]] = action[
                        "domainMetadata"
                    ]
        out: list[dict] = []
        if proto is not None:
            out.append({"protocol": proto})
        if meta is not None:
            out.append({"metaData": meta})
        out.extend({"txn": t} for _, t in sorted(txns.items()))
        out.extend({"domainMetadata": d} for _, d in sorted(domains.items()))
        out.extend({"remove": r} for _, r in sorted(removes.items()))
        out.extend({"add": a} for _, a in sorted(adds.items()))
        name = f"{start:020d}.{end:020d}.compacted.json"
        tmp = os.path.join(self._log_dir, f".{name}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            for action in out:
                f.write(json.dumps(action, separators=(",", ":")) + "\n")
        os.replace(tmp, os.path.join(self._log_dir, name))
        return name

    def _last_checkpoint(self) -> dict | None:
        p = os.path.join(self._log_dir, "_last_checkpoint")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _snapshot_state(self, version: int | None) -> tuple[dict, list[dict]]:
        meta, adds, _protocol = self._snapshot_state_full(version)
        return meta, adds

    def _checkpoint_rows(self, cp: dict) -> list[dict]:
        """All action rows of the checkpoint named by ``cp`` (a
        ``_last_checkpoint`` dict) — classic single-file, classic
        multi-part (``parts``), or V2 manifest + sidecars. The
        checkpoint is the part that scales with table size; read with
        pyarrow so state reconstruction never needs a JVM (this is
        driver-side work in Spark too — every Delta client materializes
        the active-file list to plan the scan). Multi-part reads every
        part — action order across parts is irrelevant, the state is a
        set."""
        import pyarrow.parquet as pq

        cp_file = os.path.join(
            self._log_dir, f"{cp['version']:020d}.checkpoint.parquet"
        )
        n_parts = cp.get("parts")
        if n_parts:
            part_files = [
                os.path.join(
                    self._log_dir,
                    f"{cp['version']:020d}.checkpoint."
                    f"{i + 1:010d}.{n_parts:010d}.parquet",
                )
                for i in range(n_parts)
            ]
            return [
                d for pf in part_files for d in pq.read_table(pf).to_pylist()
            ]
        if os.path.exists(cp_file):
            return pq.read_table(cp_file).to_pylist()
        # V2 checkpoint: a UUID-named manifest whose sidecar actions
        # point at _sidecars/ parquet shards holding the file state (at
        # scale: tiny manifest, parallel sidecar fetches, shards
        # reusable across checkpoints)
        import glob as _glob

        manifests = sorted(
            _glob.glob(
                os.path.join(
                    self._log_dir,
                    f"{cp['version']:020d}.checkpoint.*.parquet",
                )
            )
        )
        if not manifests:
            raise ValueError(
                f"_last_checkpoint names version {cp['version']} "
                f"but no checkpoint file exists in {self._log_dir}"
            )
        rows = pq.read_table(manifests[-1]).to_pylist()
        for d in list(rows):
            sc = d.get("sidecar")
            if sc:
                rows.extend(
                    pq.read_table(
                        os.path.join(self._log_dir, "_sidecars", sc["path"])
                    ).to_pylist()
                )
        return rows

    def _snapshot_state_full(
        self, version: int | None, *, with_domains: bool = False
    ) -> tuple:
        """Replay the log to (metaData, active adds, protocol) at
        ``version``. Pure Python + pyarrow — no JVM involved.
        ``with_domains=True`` appends a fourth element: the live
        ``domainMetadata`` state (domain -> action dict; latest commit
        wins, ``removed`` tombstones drop the domain) — the spec's
        per-table metadata domains (row tracking's high-water mark
        lives in one)."""
        versions = self._commit_versions()
        if not versions:
            raise ValueError(f"not a Delta table (no commits): {self.path}")
        target = versions[-1] if version is None else version
        if version is not None and version > versions[-1]:
            raise ValueError(
                f"version {version} not in log (latest is {versions[-1]})"
            )

        adds: dict[str, dict] = {}
        meta: dict | None = None
        protocol: dict | None = None
        domains: dict[str, dict] = {}
        start = 0

        cp = self._last_checkpoint()
        if cp is not None and cp["version"] <= target:
            rows = self._checkpoint_rows(cp)
            for d in rows:
                if d.get("add"):
                    add = d["add"]
                    add["partitionValues"] = _as_dict(add.get("partitionValues"))
                    adds[add["path"]] = add
                if d.get("metaData"):
                    meta = d["metaData"]
                    # pyarrow surfaces map<string,string> as [(k, v)] lists
                    meta["configuration"] = _as_dict(meta.get("configuration"))
                    if meta.get("format"):
                        meta["format"]["options"] = _as_dict(
                            meta["format"].get("options")
                        )
                if d.get("protocol"):
                    protocol = d["protocol"]
                if d.get("domainMetadata"):
                    dm = d["domainMetadata"]
                    if dm.get("removed"):
                        domains.pop(dm["domain"], None)
                    else:
                        domains[dm["domain"]] = dm
            start = cp["version"] + 1

        replay = [v for v in versions if start <= v <= target]
        comps = self._compaction_ranges()
        comp_cover = [(s, e) for s, e in comps if start <= s and e <= target]
        if (
            version is not None
            and not replay
            and not comp_cover
            and (cp is None or cp["version"] != target)
        ):
            raise ValueError(f"version {version} not found in {self._log_dir}")

        def apply(action: dict) -> None:
            nonlocal meta, protocol
            if "add" in action:
                adds[action["add"]["path"]] = action["add"]
            elif "remove" in action:
                adds.pop(action["remove"]["path"], None)
            elif "metaData" in action:
                meta = action["metaData"]
            elif "protocol" in action:
                protocol = action["protocol"]
            elif "domainMetadata" in action:
                dm = action["domainMetadata"]
                if dm.get("removed"):
                    domains.pop(dm["domain"], None)
                else:
                    domains[dm["domain"]] = dm

        # walk the tail preferring minor log-compaction files: a
        # compacted range [s, e] substitutes for replaying commits s..e
        # (its actions are the reconciled net effect, by construction at
        # compact_log time), so a reader behind a long JSON tail does
        # O(compactions) reads instead of O(commits) — and a range whose
        # individual JSONs were cleaned up remains reconstructible.
        versions_set = set(replay)
        cursor = start
        while cursor <= target:
            picked: tuple[int, int] | None = None
            for s, e in comp_cover:
                if s == cursor and (picked is None or e > picked[1]):
                    picked = (s, e)
            if picked is not None:
                for action in self._read_compaction(*picked):
                    apply(action)
                cursor = picked[1] + 1
            elif cursor in versions_set:
                for action in self._read_commit(cursor):
                    apply(action)
                cursor += 1
            else:
                cursor += 1

        if meta is None:
            raise ValueError(f"no metaData action in log: {self.path}")
        if protocol is not None and protocol.get("minReaderVersion", 1) > 1:
            # Reader v2 = column mapping; reader v3 tables list explicit
            # readerFeatures. This client implements column mapping
            # (physical-name indirection, `_column_mapping`) and deletion
            # vectors (`sources.dv` + the scan's anti-join); any OTHER
            # feature (v2 checkpoints, type widening, ...) would silently
            # corrupt a naive read, so it stays a hard gate. 'id'-mode
            # column mapping resolves columns by parquet field id, which
            # a name-matching reader would misread (e.g. Iceberg-compat
            # converts) — gated too.
            features = set(protocol.get("readerFeatures") or [])
            # typeWidening is readable because EVERY read path casts the
            # file's physical type to the declared logical type: Spark's
            # parquet reader upcasts natively, and the pyarrow readers
            # conform each batch to the declared arrow schema
            # variantType is readable on the SPARK path (the engine's
            # parquet reader decodes the VARIANT logical type); the
            # pure-python readers refuse it at their own entry points
            # (pyarrow cannot even open such footers)
            unsupported = features - {
                "columnMapping", "deletionVectors", "typeWidening",
                "variantType", "v2Checkpoints", "timestampNtz",
                # behavioral-only for readers: it obligates VACUUM (which
                # this client's vacuum() honors via the writer gate),
                # plain reads are unchanged
                "vacuumProtocolCheck",
                # shredded variant columns (VariantShredding.md layout):
                # the pydelta source serves caller-declared typed paths
                # from the typed_value leaves (sources/shredding.py);
                # residual binaries and non-shredded variant reads keep
                # their own loud gates at the read entry points
                "variantShredding",
            }
            # v3 REQUIRES an explicit feature list; absent = malformed, and
            # guessing what such a table needs would risk a silent misread
            malformed_v3 = (
                protocol.get("minReaderVersion", 1) >= 3 and not features
            )
            if unsupported or malformed_v3:
                raise NotImplementedError(
                    f"table requires Delta reader protocol "
                    f"v{protocol['minReaderVersion']} with features "
                    f"{sorted(features) or ['(none listed)']}; this client "
                    f"reads protocol v1 tables, v2/v3 name- and id-mapped "
                    f"tables, and deletion vectors"
                )
        if with_domains:
            return meta, list(adds.values()), protocol, domains
        return meta, list(adds.values()), protocol

    @staticmethod
    def _column_mapping(meta: dict) -> dict[str, str] | None:
        """TOP-LEVEL logical column name -> physical parquet name, or None
        when the table is unmapped. Column mapping (reader protocol v2)
        decouples user-facing names from file schema so columns can be
        renamed or dropped without rewriting data; every add's
        partitionValues and every file footer use the PHYSICAL names.
        Nested struct fields carry their own physicalName metadata inside
        the schemaString — `_phys_type` / `_logical_cast` resolve those
        recursively (the Spark read/write paths rename nested fields with
        positional struct casts)."""
        mode = (meta.get("configuration") or {}).get("delta.columnMapping.mode", "none")
        if mode not in ("name", "id"):
            return None
        # 'id' mode ALSO carries physicalName metadata (the spec requires
        # both); partitionValues are keyed physically in both modes, so
        # the map serves either — only DATA-column resolution differs
        # (`_scan` resolves id-mode columns by parquet field id)
        schema = json.loads(meta["schemaString"])
        mapping: dict[str, str] = {}
        for field in schema.get("fields", []):
            md = field.get("metadata") or {}
            phys = md.get("delta.columnMapping.physicalName")
            if phys is None:
                raise ValueError(
                    f"column-mapped table but field {field['name']!r} has no "
                    "delta.columnMapping.physicalName metadata"
                )
            mapping[field["name"]] = phys
        return mapping

    @staticmethod
    def _phys_name(f: T.StructField) -> str:
        return (f.metadata or {}).get("delta.columnMapping.physicalName", f.name)

    @classmethod
    def _phys_type(cls, dt: T.DataType) -> T.DataType:
        """Recursively rename nested struct fields to their physical names
        (from the ``delta.columnMapping.physicalName`` field metadata the
        schemaString carries and ``StructType.fromJson`` preserves). The
        result is the FILE schema of a column-mapped table's data files;
        arrays and maps recurse so struct elements inside them map too."""
        if isinstance(dt, T.StructType):
            return T.StructType(
                [
                    T.StructField(
                        cls._phys_name(f),
                        cls._phys_type(f.dataType),
                        f.nullable,
                        f.metadata,
                    )
                    for f in dt.fields
                ]
            )
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(cls._phys_type(dt.elementType), dt.containsNull)
        if isinstance(dt, T.MapType):
            return T.MapType(
                cls._phys_type(dt.keyType),
                cls._phys_type(dt.valueType),
                dt.valueContainsNull,
            )
        return dt

    @classmethod
    def _strip_meta(cls, dt: T.DataType) -> T.DataType:
        """``dt`` with field metadata removed and every nested slot forced
        NULLABLE (recursively) — the LOGICAL cast target: a struct cast in
        Spark renames fields POSITIONALLY, so casting the physically-named
        file column to this type is the whole nested rename, NULL-safe and
        JVM-side. Nullability must be relaxed because Spark refuses
        casting a nullable source field onto a non-nullable target, and a
        rename has no business asserting nullability anyway. (Catalyst
        elides the cast when no nested name differs, so unmapped tables
        pay nothing.)"""
        if isinstance(dt, T.StructType):
            return T.StructType(
                [
                    T.StructField(f.name, cls._strip_meta(f.dataType), True)
                    for f in dt.fields
                ]
            )
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(cls._strip_meta(dt.elementType), True)
        if isinstance(dt, T.MapType):
            return T.MapType(
                cls._strip_meta(dt.keyType),
                cls._strip_meta(dt.valueType),
                True,
            )
        return dt

    @staticmethod
    def _mapping_mode(meta: dict) -> str:
        return (meta.get("configuration") or {}).get(
            "delta.columnMapping.mode", "none"
        )

    @classmethod
    def _fieldid_type(cls, dt: T.DataType) -> T.DataType:
        """``dt`` with every struct field's ``delta.columnMapping.id``
        translated to ``parquet.field.id`` metadata (recursively) and the
        LOGICAL names kept — the read schema for 'id'-mode tables: with
        ``spark.sql.parquet.fieldId.read.enabled`` Spark resolves each
        column against the parquet footer's field ids and ignores names
        entirely, which is exactly what id mode prescribes (file column
        names are arbitrary — e.g. Iceberg-compat converts)."""
        if isinstance(dt, T.StructType):
            fields = []
            for f in dt.fields:
                fid = (f.metadata or {}).get("delta.columnMapping.id")
                if fid is None:
                    raise ValueError(
                        f"id-mapped table but field {f.name!r} has no "
                        "delta.columnMapping.id metadata"
                    )
                fields.append(
                    T.StructField(
                        f.name,
                        cls._fieldid_type(f.dataType),
                        f.nullable,
                        {"parquet.field.id": int(fid)},
                    )
                )
            return T.StructType(fields)
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(cls._fieldid_type(dt.elementType), dt.containsNull)
        if isinstance(dt, T.MapType):
            return T.MapType(
                cls._fieldid_type(dt.keyType),
                cls._fieldid_type(dt.valueType),
                dt.valueContainsNull,
            )
        return dt

    @classmethod
    def _logical_cast(cls, f: T.StructField, phys: str):
        """Physical file column -> logical output column (nested rename)."""
        return (
            F.col(f"`{phys}`").cast(cls._strip_meta(f.dataType)).alias(f.name)
        )

    @classmethod
    def _physical_cast(cls, f: T.StructField, phys: str):
        """Logical input column -> physical staged column (write path)."""
        return (
            F.col(f"`{f.name}`").cast(cls._strip_meta(cls._phys_type(f.dataType))).alias(phys)
        )

    @classmethod
    def _force_nullable(cls, dt: T.DataType) -> T.DataType:
        """``dt`` with every nested slot forced NULLABLE but field
        METADATA KEPT — the id-mode staging cast target (`_strip_meta`'s
        nullability fix without dropping the ``parquet.field.id``
        metadata the parquet writer must see)."""
        if isinstance(dt, T.StructType):
            return T.StructType(
                [
                    T.StructField(
                        f.name, cls._force_nullable(f.dataType), True, f.metadata
                    )
                    for f in dt.fields
                ]
            )
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(cls._force_nullable(dt.elementType), True)
        if isinstance(dt, T.MapType):
            return T.MapType(
                cls._force_nullable(dt.keyType),
                cls._force_nullable(dt.valueType),
                True,
            )
        return dt

    @classmethod
    def _fieldid_physical_cast(cls, f: T.StructField, phys: str):
        """Logical input column -> physical staged column CARRYING
        ``parquet.field.id`` metadata at every level (id-mode write
        path): the cast's target type embeds the ids for nested fields
        (a struct cast's output type is the target type, metadata
        included) and the alias stamps the top-level id — with
        ``spark.sql.parquet.fieldId.write.enabled`` the parquet writer
        then records them all in the footer, which is the ONLY link an
        id-mode reader uses (file column names are arbitrary)."""
        fid = (f.metadata or {}).get("delta.columnMapping.id")
        if fid is None:
            # non-table columns in a staging schema (CDC's _change_type)
            # carry no mapping id — stage them plainly
            return cls._physical_cast(f, phys)
        target = cls._force_nullable(cls._fieldid_type(cls._phys_type(f.dataType)))
        return (
            F.col(f"`{f.name}`")
            .cast(target)
            .alias(phys, metadata={"parquet.field.id": int(fid)})
        )

    # --------------------------------------------------------------- reads

    def read(
        self,
        spark: SparkSession,
        *,
        version: int | None = None,
        where: str | None = None,
    ) -> DataFrame:
        """Snapshot read; ``version`` time-travels (``VERSION AS OF``).

        The scan is planned from the log's ``add`` actions and its files
        are listed on the driver, never by a Spark listing job (on a
        4-core host: 61 files 0.016 s vs 0.187 s for the job, 4000 files
        0.25 s vs 5.05 s).

        Column-mapped tables (reader protocol v2) read under their
        PHYSICAL parquet names and are projected back to logical names —
        partitionValues in the log are keyed physically too.

        Files carrying a ``deletionVector`` (reader protocol v3) are
        scanned with Spark's hidden ``_metadata.row_index`` column and
        the deleted positions removed by a BROADCAST anti-join — the data
        files are never rewritten and never shuffled: each task drops its
        own rows against the (small — one bit per deleted row, roaring-
        compressed) broadcast set, the same shape delta-spark's scan
        uses. Sidecars parse on the driver (they are KBs per file; a
        scan-side parse is the optimization delta-spark makes with its
        own file index, out of scope here).

        ``where`` enables LOG-LEVEL data skipping: before any file is
        listed into the plan, simple ``col op literal`` conjuncts are
        evaluated against each add's per-file min/max stats (written by
        this client from the parquet footers) and partitionValues — files
        provably empty for the predicate never reach Spark. The full
        predicate is then applied to the surviving rows, so pruning can
        only ever remove whole files, never change results. Z-ordered
        compaction (``compact(zorder_by=...)``) is what makes these
        min/max ranges narrow on BOTH clustering keys."""
        df = self._scan(spark, version=version, where=where)
        if where is not None:
            df = df.filter(F.expr(where))
        return df

    def _scan(
        self,
        spark: SparkSession,
        *,
        version: int | None = None,
        keep_meta: bool = False,
        where: str | None = None,
        extra_phys_cols: list[str] | None = None,
        files: set[str] | None = None,
    ) -> DataFrame:
        """Build the snapshot DataFrame. ``keep_meta=True`` appends
        ``__file`` (data file name) and ``__rid`` (row index within the
        file) — the physical coordinates `delete()` needs. ``where``
        prunes provably-non-matching files via log stats (the caller
        still applies the row filter). ``extra_phys_cols`` additionally
        reads the named physical LONG columns (null where a file lacks
        them) — row tracking's materialized-id columns, which live
        outside the logical schema. ``files`` restricts the scan to the
        live files with those names (``__file`` values)."""
        meta, adds = self._snapshot_state(version)
        if files is not None:
            adds = [
                a
                for a in adds
                if os.path.basename(urllib.parse.unquote(a["path"])) in files
            ]
        schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        part_cols = meta.get("partitionColumns") or []
        mapping = self._column_mapping(meta) or {}
        phys = lambda c: mapping.get(c, c)  # noqa: E731

        if where is not None:
            conjuncts = _parse_conjuncts(where)
            if conjuncts:
                # predicates on the SOURCE of a generated partition column
                # prune through the generation expression (ts >= L implies
                # event_date >= date(L) for monotone forms)
                conjuncts = conjuncts + _generated_partition_conjuncts(
                    conjuncts, meta, part_cols
                )
                phys_path = _phys_path_fn(meta)
                adds = [
                    a
                    for a in adds
                    if _file_may_match(a, conjuncts, part_cols, phys_path)
                ]

        # deletion vectors: the driver touches only the COMPRESSED blobs
        # (O(files × bitmap bytes)); expansion to row indexes happens
        # executor-side in `_dv_expansion_df` — a GDPR-scale DV never
        # materializes its row list on the driver
        dv_blobs: list[tuple[str, bytes]] = []
        dv_cardinality = 0
        for a in adds:
            desc = a.get("deletionVector")
            if desc:
                from . import dv as _dv

                name = os.path.basename(urllib.parse.unquote(a["path"]))
                dv_blobs.append((name, _dv.resolve_dv_blob(self.path, desc)))
                dv_cardinality += int(desc.get("cardinality") or 0)
        need_meta = keep_meta or bool(dv_blobs)

        if self._mapping_mode(meta) == "id":
            # id mode: request LOGICAL names carrying parquet.field.id
            # metadata; Spark's field-id resolution matches footer ids and
            # ignores file column names (nested fields included). The conf
            # is a no-op for schemas without id metadata, so enabling it
            # session-wide is safe.
            spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
            data_schema = T.StructType(
                [
                    T.StructField(
                        f.name,
                        self._fieldid_type(f.dataType),
                        f.nullable,
                        {
                            "parquet.field.id": int(
                                (f.metadata or {})["delta.columnMapping.id"]
                            )
                        },
                    )
                    for f in schema.fields
                    if f.name not in part_cols
                ]
            )
            logical = [
                F.col(f"`{f.name}`")
                for f in schema.fields
                if f.name not in part_cols
            ]
        else:
            data_schema = T.StructType(
                [
                    T.StructField(
                        phys(f.name), self._phys_type(f.dataType), f.nullable
                    )
                    for f in schema.fields
                    if f.name not in part_cols
                ]
            )
            logical = [
                self._logical_cast(f, phys(f.name))
                for f in schema.fields
                if f.name not in part_cols
            ]
        extra_phys_cols = extra_phys_cols or []
        if extra_phys_cols:
            data_schema = T.StructType(
                list(data_schema.fields)
                + [T.StructField(c, T.LongType(), True) for c in extra_phys_cols]
            )
            logical = list(logical) + [
                F.col(f"`{c}`") for c in extra_phys_cols
            ]
        meta_cols = (
            [
                F.col("_metadata.file_name").alias("__file"),
                F.col("_metadata.row_index").alias("__rid"),
            ]
            if need_meta
            else []
        )
        out_cols = (
            [f.name for f in schema.fields]
            + extra_phys_cols
            + (["__file", "__rid"] if need_meta else [])
        )
        if not adds:
            empty = T.StructType(
                list(schema.fields)
                + [T.StructField(c, T.LongType(), True) for c in extra_phys_cols]
                + (
                    [
                        T.StructField("__file", T.StringType()),
                        T.StructField("__rid", T.LongType()),
                    ]
                    if keep_meta
                    else []
                )
            )
            return spark.createDataFrame([], empty)

        if not part_cols:
            paths = [os.path.join(self.path, urllib.parse.unquote(a["path"])) for a in adds]
            out = _read_files(spark, paths, schema=data_schema).select(
                *logical, *meta_cols
            )
        elif self._hive_layout_consistent(adds, part_cols, phys):
            # ONE-SCAN fast path: every file sits under the hive
            # encoding of its logged partitionValues, so Spark's
            # basePath partition discovery reconstructs the typed
            # partition columns from the directory names — a single
            # relation node regardless of partition count (the union
            # form below builds one plan branch per partition tuple;
            # the round-8 skew probe measured that at 5× on a
            # 200-partition MERGE, all plan construction + optimizer
            # weight). Partition columns read under PHYSICAL names and
            # rename/cast to logical exactly like data columns.
            types = {f.name: self._strip_meta(f.dataType) for f in schema.fields}
            read_schema = T.StructType(
                list(data_schema.fields)
                + [
                    T.StructField(phys(c), types[c], True)
                    for c in part_cols
                ]
            )
            paths = [
                os.path.join(self.path, urllib.parse.unquote(a["path"]))
                for a in adds
            ]
            raw = _read_files(
                spark, paths, schema=read_schema, basePath=self.path
            )
            # pair each non-partition schema field with its already-built
            # logical projection (mode-correct: id mode reads logical
            # names, name mode casts physical->logical)
            data_fields = [f for f in schema.fields if f.name not in part_cols]
            data_logical = {
                f.name: col for f, col in zip(data_fields, logical)
            }
            proj = [
                F.col(f"`{phys(c)}`").cast(types[c]).alias(c)
                if c in part_cols
                else data_logical[c]
                for c in [f.name for f in schema.fields]
            ]
            proj += [F.col(f"`{c}`") for c in extra_phys_cols]
            out = raw.select(*proj, *meta_cols)
        else:
            # group files by partition tuple; inject partition columns as
            # typed literals (Delta keeps them out of the data files)
            by_part: dict[tuple, list[str]] = {}
            for a in adds:
                key = tuple(
                    (a.get("partitionValues") or {}).get(phys(c)) for c in part_cols
                )
                by_part.setdefault(key, []).append(
                    os.path.join(self.path, urllib.parse.unquote(a["path"]))
                )
            types = {f.name: f.dataType for f in schema.fields}
            pieces = []
            for key, paths in sorted(by_part.items(), key=lambda kv: kv[0]):
                df = _read_files(spark, paths, schema=data_schema).select(
                    *logical, *meta_cols
                )
                for c, raw in zip(part_cols, key):
                    val = None if raw is None or raw == _HIVE_NULL else raw
                    df = df.withColumn(c, F.lit(val).cast(types[c]))
                pieces.append(df.select(*out_cols))
            out = pieces[0]
            for p in pieces[1:]:
                out = out.unionByName(p)

        if dv_blobs:
            deleted = _dv_expansion_df(spark, dv_blobs)
            # total cardinality is known from the descriptors alone; hint
            # broadcast while the expanded side is small, otherwise let
            # AQE pick the join strategy for a truly large deletion set
            if dv_cardinality <= 4_000_000:
                deleted = F.broadcast(deleted)
            out = out.join(deleted, ["__file", "__rid"], "left_anti")
        if need_meta and not keep_meta:
            out = out.drop("__file", "__rid")
        elif keep_meta:
            out = out.select(*out_cols)
        return out

    @staticmethod
    def _hive_layout_consistent(adds, part_cols, phys) -> bool:
        """True iff EVERY add's relative path encodes exactly its logged
        partitionValues as hive directory segments — the precondition
        for the one-scan basePath fast path. Absolute paths (shallow
        clones), missing/mismatched segments, or values whose hive
        round-trip is lossy (e.g. empty string, stored as the NULL
        sentinel on disk) all return False — those tables take the
        literal-injection union path, which trusts only the log.

        The gate is deliberately strict about SHAPE, not just values:
        extra ``k=v`` segments beyond the table's partition columns, or
        a directory depth that varies across adds, would make Spark's
        basePath partition discovery either derive phantom columns or
        raise "conflicting directory structures" — a foreign layout
        like ``p=1/f1`` + ``p=1/q=2/f2`` must take the union path even
        though every logged value matches its segment."""
        want_keys = {phys(c) for c in part_cols}
        depth = None
        for a in adds:
            rel = urllib.parse.unquote(a["path"])
            if rel.startswith("/") or rel.startswith("file:"):
                return False  # external file: not under basePath
            segs = rel.split("/")[:-1]
            if depth is None:
                depth = len(segs)
            elif len(segs) != depth:
                return False  # mixed depth: discovery would conflict
            parsed: dict[str, str | None] = {}
            for seg in segs:
                if "=" not in seg:
                    return False
                k, raw = seg.split("=", 1)
                parsed[k] = (
                    None if raw == _HIVE_NULL else urllib.parse.unquote(raw)
                )
            if set(parsed.keys()) != want_keys:
                return False  # extra/missing dirs: phantom partition cols
            pv = _as_dict(a.get("partitionValues"))
            for c in part_cols:
                want = pv.get(phys(c))
                if want == _HIVE_NULL or want == "":
                    want = None  # lossy on disk: only the union path is exact
                    if pv.get(phys(c)) == "":
                        return False
                if phys(c) not in parsed or parsed[phys(c)] != want:
                    return False
        return True

    def to_pandas(
        self,
        *,
        version: int | None = None,
        columns: list[str] | None = None,
        shredded: dict[str, str] | None = None,
    ):
        """JVM-free snapshot read -> pandas (S4: the reference dashboard's
        delta-rs ``DeltaTable(path).to_pandas()``,
        ``/root/reference/src/dashboard/app.py:31-32``).

        Reads the active data files with pyarrow and injects partition
        columns from the log's hive-encoded partitionValues. A client
        (dashboard, notebook) can read any table this engine wrote without
        starting Spark. ``columns`` prunes the parquet read; ``version``
        time-travels like `read`.

        ``shredded`` maps a VARIANT column name to a struct DDL
        (``"k: long, t: string"``): on variantShredding tables the
        column is served straight from the files' shredded typed_value
        leaves as that struct (sources/shredding.py — residual binary
        values refuse loudly), the same contract as the pydelta
        source's explicit read schema.
        """
        import pandas as pd
        import pyarrow.parquet as pq

        meta, adds = self._snapshot_state(version)
        schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        shred_structs: dict[str, T.StructType] = {}
        for name, ddl in (shredded or {}).items():
            f = schema[name]
            if not isinstance(f.dataType, T.VariantType):
                raise ValueError(
                    f"shredded= names column {name!r}, which is "
                    f"{f.dataType.simpleString()}, not variant"
                )
            shred_structs[name] = T._parse_datatype_string(ddl)
        if shred_structs and self._column_mapping(meta):
            raise NotImplementedError(
                "shredded-variant to_pandas on a column-mapped table is "
                "not supported; unmap or use the pydelta source"
            )
        remaining = T.StructType(
            [f for f in schema.fields if f.name not in shred_structs]
        )
        if self._has_variant(remaining):
            raise NotImplementedError(
                "to_pandas cannot read VARIANT columns as variants "
                "(pyarrow does not recognize the parquet VARIANT logical "
                "type); use the Spark read path — or, on a SHREDDED "
                "table, pass shredded={column: struct_ddl} to serve the "
                "typed paths from the typed_value leaves"
            )
        part_cols = meta.get("partitionColumns") or []
        mapping = self._column_mapping(meta) or {}
        phys = lambda c: mapping.get(c, c)  # noqa: E731
        out_names = [f.name for f in schema.fields if columns is None or f.name in columns]
        data_cols = [c for c in out_names if c not in part_cols]

        def conv(raw: str | None, dt: T.DataType):
            if raw is None or raw == _HIVE_NULL:
                return None
            if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
                return int(raw)
            if isinstance(dt, (T.DoubleType, T.FloatType)):
                return float(raw)
            if isinstance(dt, T.BooleanType):
                return raw == "true"
            return raw  # strings, dates, timestamps stay hive-encoded text

        types = {f.name: f.dataType for f in schema.fields}
        mode = self._mapping_mode(meta)
        field_ids = (
            {
                f.name: int((f.metadata or {})["delta.columnMapping.id"])
                for f in schema.fields
            }
            if mode == "id"
            else {}
        )
        pieces = []
        for a in adds:
            fp = os.path.join(self.path, urllib.parse.unquote(a["path"]))
            if mode == "id":
                # resolve by the footer's parquet field ids (file column
                # names are arbitrary in id mode)
                by_id = {}
                for fld in pq.read_schema(fp):
                    fid = (fld.metadata or {}).get(b"PARQUET:field_id")
                    if fid is not None:
                        by_id[int(fid)] = fld.name
                try:
                    file_cols = [by_id[field_ids[c]] for c in data_cols]
                except KeyError as exc:
                    raise ValueError(
                        f"id-mapped table: field id {exc} absent from {fp}"
                    ) from None
                tbl = pq.read_table(fp, columns=file_cols or None)
            else:
                # a pre-evolution file lacks columns added later
                # (merge_schema / MERGE with_schema_evolution): request
                # only what the footer has and NULL-fill the rest —
                # requesting a missing column crashes the read, where
                # Delta semantics say NULL (same contract as the
                # pydelta reader)
                present = set(pq.read_schema(fp).names)
                tbl = pq.read_table(
                    fp,
                    columns=[c for c in (phys(c) for c in data_cols)
                             if c in present] or None,
                )
                absent = [c for c in data_cols if phys(c) not in present]
                if absent:
                    import pyarrow as pa
                    from pyspark.sql.pandas.types import to_arrow_type

                    for c in absent:
                        tbl = tbl.append_column(
                            phys(c),
                            pa.nulls(
                                tbl.num_rows,
                                type=to_arrow_type(
                                    self._strip_meta(types[c])
                                ),
                            ),
                        )
                    # restore declared order (absents appended at the end)
                    tbl = tbl.select([phys(c) for c in data_cols])
            if shred_structs:
                import pyarrow as pa

                from .shredding import _is_shredded_layout, unshred_struct_array

                for i, c in enumerate(data_cols):
                    want = shred_structs.get(c)
                    if want is None:
                        continue
                    col = tbl.column(i).combine_chunks()
                    if not _is_shredded_layout(col.type):
                        raise NotImplementedError(
                            f"column {c!r} in {fp} is not stored in the "
                            "shredded layout; the binary variant is "
                            "unreadable here — use the Spark read path"
                        )
                    arr = unshred_struct_array(col, want, _spark_to_arrow_type)
                    tbl = tbl.set_column(i, pa.field(c, arr.type), arr)
            if mapping:
                # nested struct fields read under PHYSICAL names; rebuild
                # positionally to logical (struct-cast twin, arrow-side)
                import pyarrow as pa

                for i, c in enumerate(data_cols):
                    col = tbl.column(i)
                    if _arrow_names_differ(col.type, types[c]):
                        arr = _arrow_to_logical_names(
                            col.combine_chunks(), types[c]
                        )
                        tbl = tbl.set_column(i, pa.field(c, arr.type), arr)
            widened = {
                f.name
                for f in schema.fields
                if (f.metadata or {}).get("delta.typeChanges")
            }
            if widened:
                # typeWidening: files predating the widen carry the
                # NARROW physical type; conform to the declared logical
                # type so every piece concatenates at the same width
                import pyarrow as pa
                from pyspark.sql.pandas.types import to_arrow_type

                for i, c in enumerate(data_cols):
                    if c in widened:
                        want = to_arrow_type(types[c])
                        if tbl.column(i).type != want:
                            tbl = tbl.set_column(
                                i,
                                pa.field(c, want),
                                tbl.column(i).cast(want),
                            )
            pdf = tbl.to_pandas()
            pdf.columns = data_cols if data_cols else pdf.columns
            if a.get("deletionVector"):
                from . import dv as _dv

                gone = _dv.resolve_dv_rows(self.path, a["deletionVector"])
                # row indexes are positions within THIS file
                pdf = pdf.drop(index=[i for i in gone if i < len(pdf)])
                pdf = pdf.reset_index(drop=True)
            pv = a.get("partitionValues") or {}
            for c in part_cols:
                if c in out_names:
                    pdf[c] = conv(pv.get(phys(c)), types[c])
            pieces.append(pdf[out_names] if out_names else pdf)
        if not pieces:
            return pd.DataFrame(columns=out_names)
        return pd.concat(pieces, ignore_index=True)

    @staticmethod
    def _path_partition_values(rel_path: str, part_cols: list[str]) -> dict | None:
        """Partition values hive-encoded in a data-file path, or None if the
        path does not carry exactly the table's partition columns."""
        vals: dict[str, str | None] = {}
        for seg in rel_path.split("/")[:-1]:
            if "=" not in seg:
                return None
            c, raw = seg.split("=", 1)
            vals[c] = None if raw == _HIVE_NULL else urllib.parse.unquote(raw)
        return vals if set(vals) == set(part_cols) else None

    def read_stream(self, spark: SparkSession) -> DataFrame:
        """Streaming read of an append-only Delta table (SURVEY.md S2),
        partitioned or not.

        The reference's silver/gold jobs stream from Delta tables their
        upstream job appends to (``/root/reference/src/jobs/process_silver.py:87``).
        For that append-only shape, Delta's streaming source reduces to a
        file stream over the table's data files: every commit only ever
        *adds* parquet files under the root, Spark's file source discovers
        new files per micro-batch, and ``_delta_log``/staging dirs are
        invisible to it (underscore-prefixed paths are skipped by Spark's
        file listing).

        Partitioned tables: partition values live in the log
        (``add.partitionValues``), not the data files, so this method tails
        the log commit by commit and validates that every ``add``'s path
        hive-encodes *exactly* the partition values the log records for it
        (the layout this engine's writer always produces). Spark's
        streaming file source then re-derives each file's partition columns
        from its directory path with the table schema's types — by the
        validation, byte-for-byte the values a per-commit literal injection
        (the batch path above) would produce — while keeping the scan a
        genuine file-source stream: incremental discovery, checkpointable
        offsets, and partition pruning on any downstream partition filter.
        A foreign-written table whose paths don't match its logged
        partition values is refused rather than read wrongly.

        Tables with ``remove`` actions (overwrites/compaction) are likewise
        refused — the file-stream shortcut only matches Delta
        streaming-source semantics for append-only logs.
        """
        meta, _adds = self._snapshot_state(None)  # validates protocol
        if self._mapping_mode(meta) == "id":
            raise NotImplementedError(
                "streaming read of id-mode column-mapped tables is not "
                "supported (file streams resolve by name, id mode "
                "resolves by parquet field id); use the batch read path"
            )
        mapping = self._column_mapping(meta) or {}
        part_cols = meta.get("partitionColumns") or []
        if mapping and part_cols:
            raise NotImplementedError(
                "streaming read of a column-mapped PARTITIONED table is "
                "not supported (partition directories hive-encode physical "
                "names, which the file stream would surface as columns); "
                "use the batch `read` path"
            )
        for v in self._commit_versions():
            for action in self._read_commit(v):
                if "add" in action and urllib.parse.unquote(
                    action["add"]["path"]
                ).startswith("/"):
                    raise NotImplementedError(
                        "streaming read of a shallow clone is not supported "
                        "(its data files live outside the table root, which "
                        "a file-source stream cannot see); use the batch "
                        "`read` path"
                    )
                if "remove" in action:
                    raise NotImplementedError(
                        f"table {self.path} has remove actions (overwrite/"
                        "compaction); the file-stream shortcut only matches "
                        "Delta streaming-source semantics for append-only logs"
                    )
                if "add" in action and action["add"].get("deletionVector"):
                    raise NotImplementedError(
                        "streaming read of deletion-vector tables is not "
                        "supported (the file-source shortcut would resurrect "
                        "deleted rows); use the batch `read` path"
                    )
                if "add" in action and part_cols:
                    add = action["add"]
                    from_path = self._path_partition_values(
                        urllib.parse.unquote(add["path"]), part_cols
                    )
                    from_log = _as_dict(add.get("partitionValues"))
                    if from_path != from_log:
                        raise NotImplementedError(
                            f"data file {add['path']!r} does not hive-encode "
                            f"its logged partition values {from_log!r}; "
                            "streaming this layout would need literal "
                            "injection per file, which a file stream cannot "
                            "express"
                        )
        schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        if not mapping:
            return spark.readStream.schema(schema).parquet(self.path)
        # column-mapped (unpartitioned): stream under the PHYSICAL file
        # schema, then project back to logical names — the same
        # positional-cast rename the batch scan uses, applied on a
        # streaming relation (transformations this shape are fully
        # streamable: stateless, row-local)
        phys = lambda c: mapping.get(c, c)  # noqa: E731
        phys_schema = T.StructType(
            [
                T.StructField(phys(f.name), self._phys_type(f.dataType), f.nullable)
                for f in schema.fields
            ]
        )
        stream = spark.readStream.schema(phys_schema).parquet(self.path)
        return stream.select(
            *[self._logical_cast(f, phys(f.name)) for f in schema.fields]
        )

    def version_at_timestamp(self, ts_ms: int) -> int:
        """``TIMESTAMP AS OF`` resolution: the newest version whose commit
        timestamp is <= ``ts_ms`` (delta-spark semantics — a timestamp
        before the first commit is an error, one after the last resolves
        to the latest). On an ICT table resolution is TWO-REGIME (the
        spec's semantics): at/after the first ICT commit only
        ``inCommitTimestamp`` is consulted — never mixed with the
        mtime/commitInfo fallbacks, whose wall-clock values can exceed
        later ICTs across the enablement boundary and would make
        resolution non-monotonic there. A timestamp below the first ICT
        falls back to the pre-enablement commits (legacy ordering:
        ``commitInfo.timestamp``, then commit-file mtime)."""
        ict_commits: list[tuple[int, int]] = []  # (version, ict)
        legacy: list[tuple[int, int]] = []  # pre-enablement (version, ts)
        for v in self._commit_versions():
            info = next(
                (a["commitInfo"] for a in self._read_commit(v) if "commitInfo" in a),
                None,
            )
            ict = info.get("inCommitTimestamp") if info is not None else None
            if ict is not None or ict_commits:
                if ict is None:
                    # post-enablement commit missing its stamp (foreign
                    # writer bug) — keep the regime, best-effort fallback
                    ict = info.get("timestamp") if info is not None else None
                    if ict is None:
                        ict = int(
                            os.path.getmtime(_commit_path(self._log_dir, v))
                            * 1000
                        )
                ict_commits.append((v, int(ict)))
                continue
            commit_ts = info.get("timestamp") if info is not None else None
            if commit_ts is None:
                commit_ts = int(
                    os.path.getmtime(_commit_path(self._log_dir, v)) * 1000
                )
            legacy.append((v, int(commit_ts)))
        if ict_commits and ts_ms >= ict_commits[0][1]:
            return max(v for v, t in ict_commits if t <= ts_ms)
        best = max((v for v, t in legacy if t <= ts_ms), default=None)
        if best is None:
            raise ValueError(
                f"timestamp {ts_ms} predates the first commit of {self.path}"
            )
        return best

    def read_at_timestamp(
        self, spark: SparkSession, ts_ms: int, **kwargs
    ) -> DataFrame:
        """``SELECT ... TIMESTAMP AS OF`` — time travel by wall clock."""
        return self.read(spark, version=self.version_at_timestamp(ts_ms), **kwargs)

    def last_txn_version(self, app_id: str) -> int | None:
        """The ``txn`` version in the NEWEST commit carrying one for
        ``app_id`` — per the spec the latest setTransaction REPLACES
        earlier state for the app (a writer that deliberately resets its
        version counter starts a new idempotence epoch). `checkpoint()`
        records the same newest-commit-wins state so checkpoint-based
        readers agree with log replay."""
        # newest-first with early exit: writers record monotonically
        # increasing versions, so the first hit IS the highest — a
        # long-lived streaming sink checking before every batch must not
        # re-parse the whole log each time (O(total commits) per batch
        # would make log I/O quadratic over the stream's life)
        versions = self._commit_versions()
        for v in reversed(versions):
            for action in self._read_commit(v):
                t = action.get("txn")
                if t and t.get("appId") == app_id:
                    return t["version"]
        # cleanup_metadata (and DROP FEATURE's history truncation) may
        # have expired the commit JSONs that carried this app's txn; the
        # checkpoint persists newest-wins txn state precisely so
        # idempotence survives log cleanup — without this fallback a
        # replayed streaming batch would see None and re-apply (silent
        # duplicate rows). Only consulted when the retained log no
        # longer reaches version 0 (a complete JSON scan is
        # authoritative on its own).
        if versions and versions[0] > 0:
            # Both fallback carriers persist newest-wins txn state for
            # the versions they cover: the checkpoint (state through
            # cp.version) and minor log-compaction files (reconciled
            # [s, e] ranges — compact_log keeps newest-wins txn actions
            # PRECISELY so a compacted range whose commit JSONs were
            # removed without a checkpoint stays idempotence-complete).
            # Scan them newest-covered-version first: the first hit is
            # the app's latest surviving setTransaction.
            candidates: list[tuple[int, object]] = []
            cp = self._last_checkpoint()
            if cp is not None:
                candidates.append((cp["version"], "cp"))
            for s, e in self._compaction_ranges():
                candidates.append((e, (s, e)))
            for _end, src in sorted(
                candidates, key=lambda c: c[0], reverse=True
            ):
                rows = (
                    self._checkpoint_rows(cp)
                    if src == "cp"
                    else self._read_compaction(*src)
                )
                for d in rows:
                    t = d.get("txn")
                    if t and t.get("appId") == app_id:
                        return t["version"]
        return None

    def history(self, spark: SparkSession) -> DataFrame:
        """``DESCRIBE HISTORY`` twin from ``commitInfo`` actions (M2/P6)."""
        rows = []
        for v in self._commit_versions():
            info = next(
                (a["commitInfo"] for a in self._read_commit(v) if "commitInfo" in a),
                {},
            )
            params = info.get("operationParameters") or {}
            metrics = info.get("operationMetrics") or {}
            rows.append(
                (
                    v,
                    info.get("timestamp", 0),
                    info.get("operation", "UNKNOWN"),
                    (params.get("mode"),),
                    (
                        int(metrics["numFiles"]) if "numFiles" in metrics else None,
                        int(metrics["numOutputRows"])
                        if "numOutputRows" in metrics
                        else None,
                    ),
                )
            )
        return spark.createDataFrame(rows, HISTORY_SCHEMA)

    # -------------------------------------------------------------- writes

    def _stage_files(
        self,
        df: DataFrame,
        *,
        version: int,
        partition_by: list[str],
        mapping: dict[str, str],
        schema_json: str | None,
        _data_change: bool = True,
        id_mode: bool = False,
        co_partition: bool = False,
        co_partition_bytes: int | None = None,
    ) -> list[dict]:
        """Stage ``df`` (LOGICAL names) as committed-naming data files
        under the table root and return their ``add`` payloads (path,
        partitionValues, size, footer stats) — shared by `write` and
        `update`; the caller owns the commit that makes them visible.

        Column-mapped tables stage under PHYSICAL names (nested struct
        fields included, via `_physical_cast`) so both the parquet
        footers and the hive partition dirs (-> partitionValues keys)
        match what `read()` resolves — staging logical names here would
        make any post-rename append read back as NULL. ``id_mode=True``
        additionally stamps ``parquet.field.id`` footer metadata on
        every field (`_fieldid_physical_cast`) — the spec's id-mode
        write contract: readers resolve by those ids and ignore the
        staged names entirely."""
        import pyarrow.parquet as pq

        if id_mode:
            df.sparkSession.conf.set(
                "spark.sql.parquet.fieldId.write.enabled", "true"
            )
        stage_df = df
        if mapping:
            # schemaString fields carry the nested physicalName metadata;
            # df.schema does not — resolve each staged column through the
            # table schema so nested struct fields stage physically too
            table_fields = {}
            if schema_json is not None:
                for fj in json.loads(schema_json).get("fields", []):
                    table_fields[fj["name"]] = T.StructField.fromJson(fj)
            cast = self._fieldid_physical_cast if id_mode else self._physical_cast
            stage_df = df.select(
                *[
                    cast(table_fields[c], mapping.get(c, c))
                    if c in table_fields
                    else F.col(f"`{c}`").alias(mapping.get(c, c))
                    for c in df.columns
                ]
            )
        stage = os.path.join(self.path, f"_stage-{uuid.uuid4().hex}")
        if partition_by:
            phys_parts = [mapping.get(c, c) for c in partition_by]
            if co_partition:
                # OPTIMIZED WRITE (delta-spark's optimizeWrite shape):
                # co-partition by the partition columns before the
                # dynamic-partition insert — without it every input task
                # writes one file into EVERY hive directory it holds
                # rows for, tasks × partition-values tiny files (the
                # round-8 skew probe measured a 200-partition write at
                # 6× and the follow-on MERGE at 5×, all tiny-file
                # staging + per-file footer stats; ann_index hit the
                # same 19× in round 3). ON for the INTERNAL rewrite
                # paths (merge/update/CDC staging — their volume is
                # bounded by the touched files' bytes); OFF by default
                # for user writes — callers opt in via
                # write(optimize_write=). "Bounded" is not "small": a
                # broad MERGE concentrated in one hot partition value
                # would still serialize that value's whole rewrite
                # through a single shuffle task, so callers pass the
                # touched volume as ``co_partition_bytes`` and values
                # fan out across ceil(bytes / 128 MiB) salt buckets —
                # one bucket (today's exact behavior) for the typical
                # sub-128 MiB rewrite, N ~128 MiB tasks-and-files for a
                # hot-value terabyte, which is the file size OPTIMIZE
                # would bin-pack to anyway.
                salt = (
                    max(
                        1,
                        -(-int(co_partition_bytes) // _STAGE_TARGET_FILE_BYTES),
                    )
                    if co_partition_bytes
                    else 1
                )
                if salt > 1:
                    # EXPLICIT partition count: a column-only
                    # repartition is AQE-coalescible and collapses this
                    # small-per-batch-but-hot shuffle back to one task —
                    # the serialization the salt exists to break. Files
                    # stay bounded by values × salt (one per non-empty
                    # combo), not by N.
                    n_parts = max(
                        salt,
                        int(
                            df.sparkSession.conf.get(
                                "spark.sql.shuffle.partitions", "200"
                            )
                        ),
                    )
                    stage_df = (
                        stage_df.withColumn(
                            "__stage_salt",
                            (F.monotonically_increasing_id() % salt).cast(
                                "int"
                            ),
                        )
                        .repartition(
                            n_parts,
                            *[F.col(f"`{c}`") for c in phys_parts],
                            F.col("__stage_salt"),
                        )
                        .drop("__stage_salt")
                    )
                else:
                    stage_df = stage_df.repartition(
                        *[F.col(f"`{c}`") for c in phys_parts]
                    )
            writer = stage_df.write.mode("errorifexists").partitionBy(
                *phys_parts
            )
        else:
            writer = stage_df.write.mode("errorifexists")
        writer.parquet(stage)

        adds: list[dict] = []
        now_ms = int(time.time() * 1000)
        for root, _dirs, files in os.walk(stage):
            rel_dir = os.path.relpath(root, stage)
            part_values = {}
            ok = True
            if rel_dir != ".":
                for seg in rel_dir.split(os.sep):
                    if "=" not in seg:
                        ok = False
                        break
                    c, raw = seg.split("=", 1)
                    part_values[c] = (
                        None if raw == _HIVE_NULL else urllib.parse.unquote(raw)
                    )
            if not ok:
                continue
            for name in files:
                if not name.endswith(".parquet") or name.startswith(("_", ".")):
                    continue
                src = os.path.join(root, name)
                fname = f"part-{version:05d}-{uuid.uuid4().hex}.parquet"
                rel = (
                    os.path.join(rel_dir, fname) if rel_dir != "." else fname
                ).replace(os.sep, "/")
                dst = os.path.join(self.path, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.rename(src, dst)
                adds.append(
                    {
                        "path": urllib.parse.quote(rel, safe="/="),
                        "partitionValues": part_values,
                        "size": os.path.getsize(dst),
                        "modificationTime": now_ms,
                        "dataChange": _data_change,
                        # numRecords + per-column min/max/nullCount from the
                        # parquet footer: the data-skipping payload `read
                        # (where=...)` prunes files with (SURVEY §4.1)
                        "stats": json.dumps(self._staged_stats(df, dst)),
                    }
                )
        # clear the now-empty staging tree
        for root, dirs, _files in os.walk(stage, topdown=False):
            for d in dirs:
                os.rmdir(os.path.join(root, d))
            for leftover in os.listdir(root):
                os.remove(os.path.join(root, leftover))
        os.rmdir(stage)
        return adds

    @classmethod
    def convert_from_parquet(
        cls,
        path: str,
        *,
        partition_schema: dict[str, str] | None = None,
        spark: SparkSession | None = None,
    ) -> "DeltaTable":
        """CONVERT TO DELTA — delta-spark's in-place conversion of a
        plain parquet directory: write a ``_delta_log`` whose v0 commit
        REFERENCES the existing files (with footer-derived per-file
        stats), moving ZERO bytes. At 100 TB this is how a legacy
        parquet lake joins the ACID world: the conversion cost is one
        footer read per file, not a copy of the lake, and every later
        write/DELETE/OPTIMIZE goes through the log like any native
        table.

        ``partition_schema`` maps partition column name -> Spark type
        simple string (``{"event_date": "date"}``) and is REQUIRED for
        hive-partitioned directories (the directory layout encodes only
        strings; delta-spark's ``PARTITIONED BY`` clause exists for the
        same reason). Files whose footers disagree on schema, or a
        directory already carrying a ``_delta_log``, are refused.

        With ``spark``, the footer reads DISTRIBUTE across the executors
        (one `mapInPandas` pass, the `fsck_repair` shape) — at a
        million files the serial driver loop is hours, the distributed
        pass is one job; the schema-agreement check rides the same pass
        (each executor compares against the first file's IPC-shipped
        schema). The v0 commit itself stays a single driver-side atomic
        publish either way. Without ``spark``, a driver loop (fine for
        small/medium directories)."""
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_type

        if os.path.isdir(os.path.join(path, "_delta_log")):
            raise ValueError(f"already a Delta table: {path}")
        part_cols = list(partition_schema or {})
        files: list[tuple[str, dict]] = []  # (rel path, partitionValues)
        for root, dirs, names in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for name in sorted(names):
                if not name.endswith(".parquet") or name.startswith(
                    ("_", ".")
                ):
                    continue
                rel = os.path.relpath(os.path.join(root, name), path)
                pv = cls._path_partition_values(
                    rel.replace(os.sep, "/"), part_cols
                )
                if pv is None:
                    raise ValueError(
                        f"file {rel!r} does not sit under exactly the "
                        f"declared partition columns {part_cols} "
                        "(pass partition_schema matching the layout)"
                    )
                files.append((rel.replace(os.sep, "/"), pv))
        if not files:
            raise ValueError(f"no parquet files under {path}")
        now_ms = int(time.time() * 1000)
        # first footer always reads driver-side: it defines the one
        # schema every other file must match (and the table schema)
        arrow_schema = pq.ParquetFile(os.path.join(path, files[0][0])).schema_arrow
        adds = []
        if spark is not None and len(files) > 1:
            probed = _distributed_footer_probe(
                spark,
                [(rel, os.path.join(path, rel)) for rel, _pv in files],
                schema_ipc=arrow_schema.serialize().to_pybytes(),
            )
            for rel, pv in files:
                info = probed[rel]
                if info["schema_names"] is not None:
                    raise ValueError(
                        f"schema mismatch: {rel!r} has "
                        f"{info['schema_names']}, first file has "
                        f"{arrow_schema.names} — CONVERT requires one schema"
                    )
                adds.append(
                    {
                        "path": urllib.parse.quote(rel, safe="/="),
                        "partitionValues": pv,
                        "size": info["size"],
                        "modificationTime": info["mtime_ms"],
                        "dataChange": True,
                        "stats": json.dumps(info["stats"]),
                    }
                )
        else:
            for rel, pv in files:
                fp = os.path.join(path, rel)
                pf = pq.ParquetFile(fp)
                if pf.schema_arrow != arrow_schema:
                    raise ValueError(
                        f"schema mismatch: {rel!r} has "
                        f"{pf.schema_arrow.names}, first file has "
                        f"{arrow_schema.names} — CONVERT requires one schema"
                    )
                adds.append(
                    {
                        "path": urllib.parse.quote(rel, safe="/="),
                        "partitionValues": pv,
                        "size": os.path.getsize(fp),
                        "modificationTime": int(os.path.getmtime(fp) * 1000),
                        "dataChange": True,
                        "stats": json.dumps(_file_stats(pf.metadata)),
                    }
                )
        fields = [
            T.StructField(f.name, from_arrow_type(f.type), True)
            for f in arrow_schema
        ] + [
            T.StructField(c, T._parse_datatype_string(t), True)
            for c, t in (partition_schema or {}).items()
        ]
        schema = T.StructType(fields)
        table = cls(path)
        table._publish_or_conflict(
            0,
            [
                {
                    "commitInfo": {
                        "timestamp": now_ms,
                        "operation": "CONVERT",
                        "operationParameters": {
                            "numFiles": str(len(adds)),
                            "partitionedBy": json.dumps(part_cols),
                        },
                    }
                },
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
                {
                    "metaData": {
                        "id": uuid.uuid4().hex,
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema.json(),
                        "partitionColumns": part_cols,
                        "configuration": {},
                        "createdTime": now_ms,
                    }
                },
                *({"add": a} for a in adds),
            ],
            "CONVERT",
        )
        return table

    def recompute_stats(
        self, *, force: bool = False, spark: SparkSession | None = None
    ) -> dict:
        """``ANALYZE TABLE ... COMPUTE DELTA STATISTICS`` — re-derive
        per-file min/max/nullCount stats from the parquet footers for
        every live add entry MISSING stats (all of them with
        ``force=True``, the re-index knob after a
        ``dataSkippingNumIndexedCols``-style policy change).

        This client writes stats on every path of its own, so the
        consumers here are FOREIGN-written tables: a stats-less writer
        (several minimal Delta clients ship one) leaves every file
        opaque to data skipping — ``where=`` reads the whole table.
        One footer read per stats-less file (CONVERT's own cost model)
        re-arms skipping; the refresh commits as remove+re-add of the
        same paths with ``dataChange=false`` — readers see identical
        rows, concurrent OPTIMIZE-class conflicts surface through the
        snapshot-pinned publish, streams skip it as a no-data commit.
        DV-carrying adds keep their deletionVector verbatim (stats stay
        PHYSICAL, counting DV'd rows, exactly like write-path stats);
        column-mapped tables need no translation — footer stats are
        keyed by physical names, which is what skipping looks up.

        With ``spark``, the footer reads DISTRIBUTE across executors
        (one `mapInPandas` pass over the stats-less paths — the
        `fsck_repair` shape); the op exists FOR inherited million-file
        foreign tables, where a serial driver loop is hours and the
        distributed pass is one job. The remove+re-add commit stays a
        single driver-side atomic publish either way."""
        import pyarrow.parquet as pq

        base = self.latest_version()
        if base is None:
            raise ValueError(f"not a Delta table: {self.path}")
        meta, adds, protocol = self._snapshot_state_full(None)
        self._refuse_unknown_writer_features(protocol, "COMPUTE STATISTICS")
        targets = [a for a in adds if force or not a.get("stats")]
        if not targets:
            return {"version": base, "updated_files": 0}
        now_ms = int(time.time() * 1000)
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "COMPUTE STATISTICS",
                    "operationParameters": {
                        "numFiles": str(len(targets)),
                        "force": json.dumps(force),
                    },
                }
            }
        ]
        full_of = lambda rel: os.path.join(  # noqa: E731
            self.path, urllib.parse.unquote(rel).replace("/", os.sep)
        )
        if spark is not None and len(targets) > 1:
            probed = _distributed_footer_probe(
                spark, [(a["path"], full_of(a["path"])) for a in targets]
            )
            stats_of = lambda rel: probed[rel]["stats"]  # noqa: E731
        else:
            stats_of = lambda rel: _file_stats(  # noqa: E731
                pq.ParquetFile(full_of(rel)).metadata
            )
        for a in targets:
            stats = stats_of(a["path"])
            actions.append(
                {
                    "remove": {
                        "path": a["path"],
                        "deletionTimestamp": now_ms,
                        "dataChange": False,
                        "partitionValues": _as_dict(a.get("partitionValues")),
                        "size": a.get("size"),
                    }
                }
            )
            re_add = dict(a)
            re_add["stats"] = json.dumps(stats)
            re_add["dataChange"] = False
            re_add["modificationTime"] = now_ms
            actions.append({"add": re_add})
        self._publish_or_conflict(base + 1, actions, "COMPUTE STATISTICS")
        return {"version": base + 1, "updated_files": len(targets)}

    @staticmethod
    def _staged_stats(df: DataFrame, dst: str) -> dict:
        """Per-file stats for one staged parquet. Normal path: footer
        min/max via pyarrow. Files carrying a parquet VARIANT column
        cannot be OPENED by pyarrow at all (unrecognized Thrift
        LogicalType), so they degrade to numRecords-only stats counted
        Spark-side — data skipping then never prunes on them (absent
        stats mean "may match", the sound direction), while numRecords
        keeps operationMetrics, DESCRIBE DETAIL, and row tracking
        exact."""
        import pyarrow.parquet as pq

        try:
            return _file_stats(pq.ParquetFile(dst).metadata)
        except OSError:
            return {
                "numRecords": df.sparkSession.read.parquet(dst).count()
            }

    @staticmethod
    def _identity_columns(meta: dict) -> dict[str, dict]:
        """Identity columns (spec writer feature ``identityColumns``)
        from field metadata: name -> {start, step, highWaterMark,
        allowExplicitInsert}."""
        out: dict[str, dict] = {}
        for fj in json.loads(meta["schemaString"]).get("fields", []):
            md = fj.get("metadata") or {}
            if "delta.identity.start" in md:
                out[fj["name"]] = {
                    "start": int(md["delta.identity.start"]),
                    "step": int(md["delta.identity.step"]),
                    "highWaterMark": int(md["delta.identity.highWaterMark"]),
                    "allowExplicitInsert": bool(
                        md.get("delta.identity.allowExplicitInsert")
                    ),
                }
        return out

    @staticmethod
    def _has_ntz(dt: T.DataType) -> bool:
        """TIMESTAMP_NTZ anywhere in ``dt`` — itself a reader-writer
        feature (spec timestampNtz): a reader unaware of it would
        surface session-zone-shifted instants."""
        if isinstance(dt, T.TimestampNTZType):
            return True
        if isinstance(dt, T.StructType):
            return any(DeltaTable._has_ntz(f.dataType) for f in dt.fields)
        if isinstance(dt, T.ArrayType):
            return DeltaTable._has_ntz(dt.elementType)
        if isinstance(dt, T.MapType):
            return DeltaTable._has_ntz(dt.keyType) or DeltaTable._has_ntz(
                dt.valueType
            )
        return False

    @staticmethod
    def _has_variant(dt: T.DataType) -> bool:
        if isinstance(dt, T.VariantType):
            return True
        if isinstance(dt, T.StructType):
            return any(DeltaTable._has_variant(f.dataType) for f in dt.fields)
        if isinstance(dt, T.ArrayType):
            return DeltaTable._has_variant(dt.elementType)
        if isinstance(dt, T.MapType):
            return DeltaTable._has_variant(dt.keyType) or DeltaTable._has_variant(
                dt.valueType
            )
        return False

    def write(
        self,
        df: DataFrame,
        *,
        mode: str = "append",
        partition_by: list[str] | None = None,
        merge_schema: bool = False,
        txn: tuple[str, int] | None = None,
        generated_columns: dict[str, str] | None = None,
        optimize_write: bool = False,
        _operation: str = "WRITE",
        _data_change: bool = True,
        _domains: dict[str, str] | None = None,
        _domain_read_version: int | None = None,
    ) -> int:
        """Commit ``df`` as one Delta transaction. Returns the version.

        ``optimize_write=True`` (delta-spark's optimizeWrite) co-groups
        rows by their partition columns before the partitioned staging
        write, so each partition value lands as one right-sized file
        instead of one tiny file per (input task × value) — the right
        call for many-partition appends; leave it off when one hot
        partition value carries most of the batch (it would serialize
        into a single task).

        ``append`` adds files; ``overwrite`` additionally emits ``remove``
        actions for every previously-active file — the two write modes the
        reference's jobs use. Data files are staged with Spark's parquet
        writer, relocated under the table root (hive layout for
        partitions), then made visible by the atomic commit-file rename:
        readers never observe a half-written transaction.

        ``merge_schema=True`` is the M3 twin of the reference's
        ``spark.databricks.delta.schema.autoMerge.enabled``
        (``process_silver.py:67``): columns the table does not yet have are
        appended to its schema via a new ``metaData`` action; old data
        files simply lack them and the schema-directed parquet read
        surfaces nulls. Type conflicts on existing columns are refused
        (evolution adds columns, it never rewrites history).

        ``txn=(app_id, version)`` makes the write IDEMPOTENT (the spec's
        ``txn`` action — the protocol delta-spark's streaming sink uses
        for exactly-once): if a commit for this app with an equal-or-
        higher version already exists, the write is a no-op returning the
        current table version; otherwise the commit records the txn so a
        replay after a crash-between-commit-and-checkpoint skips it.
        """
        import pyarrow.parquet as pq

        if mode not in ("append", "overwrite"):
            raise ValueError(f"unsupported mode {mode!r}")
        if txn is not None:
            applied = self.last_txn_version(txn[0])
            if applied is not None and applied >= txn[1]:
                return self.latest_version()  # already committed: replay no-op
        partition_by = partition_by or []
        spark = df.sparkSession
        last = self.latest_version()
        version = 0 if last is None else last + 1
        if _domains and _domain_read_version is not None and last is not None:
            # the caller derived its _domains update from the snapshot at
            # _domain_read_version; any commit SINCE then that touched one
            # of those domains is a lost update our stale derivation would
            # silently clobber (two COPY INTOs both admitting a file) —
            # the same logical conflict the OCC retry loop surfaces for
            # interleaves landing after OUR snapshot, checked here for
            # the read-to-write gap the retry loop cannot see
            for v2 in range(_domain_read_version + 1, last + 1):
                for action in self._read_commit(v2):
                    dm = action.get("domainMetadata")
                    if dm and dm.get("domain") in _domains:
                        raise ConcurrentWriteError(
                            f"{_operation} on {self.path} conflicts with "
                            f"a concurrent update of domain "
                            f"{dm.get('domain')!r} at version {v2}; "
                            "rerun from a fresh snapshot"
                        )

        prior_meta: dict | None = None
        prior_adds: list[dict] = []
        prior_domains: dict[str, dict] = {}
        new_schema_json: str | None = None
        new_configuration: dict | None = None
        mapping: dict[str, str] = {}
        rt_cols: tuple[str, str] | None = None
        if last is not None:
            if generated_columns:
                raise ValueError(
                    "generated_columns are declared at table creation; "
                    "this table already exists"
                )
            prior_meta, prior_adds, _proto, prior_domains = (
                self._snapshot_state_full(None, with_domains=True)
            )
            self._refuse_unknown_writer_features(_proto, "WRITE")
            if self._row_tracking_enabled(prior_meta):
                rt_cols = self._rt_mat_cols(prior_meta)
            if mode == "overwrite" and _data_change:
                # dataChange=False overwrites (OPTIMIZE/Z-ORDER compaction
                # routed through here) rearrange bytes, not rows — legal
                self._refuse_if_append_only(prior_meta, "overwrite WRITE")
            gen = self._generation_exprs(prior_meta)
            if gen:
                # compute-or-validate BEFORE constraint/schema checks so
                # an omitted generated column both passes the schema
                # comparison and lands with correct values
                df = self._apply_generated(df, gen)
            dflts = self._column_defaults(prior_meta)
            fill = sorted(c for c in dflts if c not in df.columns)
            if fill:
                # spec writer requirement (allowColumnDefaults): an
                # INSERT that omits a defaulted column materializes
                # CURRENT_DEFAULT into the staged files — applied BEFORE
                # constraint checks so defaults must satisfy CHECK / NOT
                # NULL like any explicit value. Row-local expression,
                # evaluated executor-side with the batch in flight.
                types = {
                    f["name"]: T.StructField.fromJson(f).dataType
                    for f in json.loads(prior_meta["schemaString"])["fields"]
                }
                df = df.select(
                    *df.columns,
                    *[
                        F.expr(dflts[c]).cast(types[c]).alias(c)
                        for c in fill
                    ],
                )
            self._check_constraints(df, prior_meta)
            mapping = self._column_mapping(prior_meta) or {}
            if partition_by != (prior_meta.get("partitionColumns") or []):
                raise ValueError(
                    f"partition_by {partition_by} != table's "
                    f"{prior_meta.get('partitionColumns')}"
                )
            prior_schema = T.StructType.fromJson(
                json.loads(prior_meta["schemaString"])
            )
            prior_types = {f.name: f.dataType for f in prior_schema.fields}
            extra = [
                f
                for f in df.schema.fields
                if f.name not in prior_types
                # materialized row-id columns ride OUTSIDE the logical
                # schema (rewrites stage them; they are not evolution)
                and f.name not in (rt_cols or ())
            ]
            for f in df.schema.fields:
                # compare nested-metadata-stripped, nullability-relaxed
                # types: a mapped table's schemaString carries columnMapping
                # metadata inside struct types that incoming frames lack
                if f.name in prior_types and self._strip_meta(
                    f.dataType
                ) != self._strip_meta(prior_types[f.name]):
                    raise ValueError(
                        f"column {f.name!r} is {f.dataType.simpleString()} but "
                        f"table has {prior_types[f.name].simpleString()}; "
                        "schema evolution adds columns, never changes types"
                    )
            if extra:
                if not merge_schema:
                    raise ValueError(
                        f"schema mismatch (new columns {[f.name for f in extra]}); "
                        "pass merge_schema=True to evolve the table schema"
                    )
                new_schema_json, new_configuration = self._evolved_schema(
                    prior_meta, mapping, extra
                )

        if last is None and generated_columns:
            df = self._apply_generated(df, generated_columns)

        identity_generated: dict[str, dict] = {}
        if prior_meta is not None:
            for col, info in self._identity_columns(prior_meta).items():
                if col in df.columns:
                    if not _data_change:
                        # OPTIMIZE / layout rewrites restage EXISTING
                        # rows: identity values pass through verbatim
                        # (reassigning them would corrupt every
                        # surviving row's identity) and the hwm is
                        # untouched — bytes move, ids don't
                        continue
                    if not info["allowExplicitInsert"]:
                        raise ValueError(
                            f"column {col!r} is GENERATED ALWAYS AS "
                            "IDENTITY; omit it and the writer assigns "
                            "values (delta-spark refuses explicit "
                            "inserts the same way)"
                        )
                    # GENERATED BY DEFAULT with explicit values: the
                    # commit must still extend the high-water mark past
                    # them, or a later allocation could collide
                    identity_generated[col] = info
                else:
                    # distributed allocation with ZERO coordination:
                    # monotonically_increasing_id is unique per row
                    # within the job, so hwm + (mono+1)*step stays on
                    # the identity lattice and above the high-water
                    # mark. Gaps between partitions are spec-legal
                    # (delta-spark leaves them on retries too); the new
                    # hwm is read back from the staged files' OWN
                    # footer stats — no extra pass over the data.
                    df = df.withColumn(
                        col,
                        (
                            F.lit(info["highWaterMark"])
                            + (F.monotonically_increasing_id() + 1)
                            * F.lit(info["step"])
                        ).cast("long"),
                    )
                    identity_generated[col] = info

        adds = self._stage_files(
            df,
            version=version,
            partition_by=partition_by,
            mapping=mapping,
            schema_json=(
                new_schema_json
                or (prior_meta["schemaString"] if prior_meta else None)
            ),
            _data_change=_data_change,
            id_mode=(
                prior_meta is not None
                and self._mapping_mode(prior_meta) == "id"
            ),
            co_partition=optimize_write,
        )
        if identity_generated and adds:
            # spec writer requirement: an identity write updates the
            # field's highWaterMark in the SAME commit's metaData —
            # read back from the staged footers' stats, zero extra scan
            schema_json = json.loads(
                new_schema_json or prior_meta["schemaString"]
            )
            for col, info in identity_generated.items():
                ext = max if info["step"] > 0 else min
                key = "maxValues" if info["step"] > 0 else "minValues"
                # staged footers (and their stats) carry PHYSICAL names
                # on column-mapped tables — a logical-name lookup finds
                # nothing and the hwm silently never advances, letting
                # a later writer re-allocate the same ids
                phys = mapping.get(col, col)
                vals = [
                    json.loads(a["stats"])[key][phys]
                    for a in adds
                    if phys in json.loads(a["stats"]).get(key, {})
                ]
                if not vals:
                    continue
                fj = next(
                    f for f in schema_json["fields"] if f["name"] == col
                )
                fj["metadata"] = dict(fj.get("metadata") or {})
                fj["metadata"]["delta.identity.highWaterMark"] = ext(
                    int(ext(vals)), info["highWaterMark"]
                )
            new_schema_json = json.dumps(schema_json)
        now_ms = int(time.time() * 1000)
        rt_domain_action: dict | None = None
        if rt_cols is not None:
            hwm = self._stamp_fresh_row_ids(
                adds, self._rt_hwm(prior_domains), version
            )
            rt_domain_action = self._rt_domain_action(hwm)

        actions: list[dict] = []
        if txn is not None:
            actions.append(
                {
                    "txn": {
                        "appId": txn[0],
                        "version": txn[1],
                        "lastUpdated": now_ms,
                    }
                }
            )
        n_rows = sum(json.loads(a["stats"])["numRecords"] for a in adds)
        actions.append(
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": _operation,
                    "operationParameters": {
                        "mode": "Append" if mode == "append" else "Overwrite"
                    },
                    "operationMetrics": {
                        "numFiles": str(len(adds)),
                        "numOutputRows": str(n_rows),
                    },
                }
            }
        )
        if version == 0:
            # reader-writer TYPE features the first schema may demand:
            # variantType (parquet VARIANT is unreadable to a
            # plain-column client) and timestampNtz (a reader unaware
            # of it would shift instants into the session zone)
            type_feats = set()
            if self._has_variant(df.schema):
                type_feats.add("variantType")
            if self._has_ntz(df.schema):
                type_feats.add("timestampNtz")
            if type_feats:
                actions.append(
                    {
                        "protocol": {
                            "minReaderVersion": 3,
                            "minWriterVersion": 7,
                            "readerFeatures": sorted(type_feats),
                            "writerFeatures": sorted(
                                {"appendOnly", "invariants"}
                                | type_feats
                                | (
                                    {"generatedColumns"}
                                    if generated_columns
                                    else set()
                                )
                            ),
                        }
                    }
                )
            else:
                actions.append(
                    {
                        "protocol": {
                            "minReaderVersion": 1,
                            # generatedColumns is a writer-v4 feature: older
                            # writers must be fenced off or they would append
                            # rows violating the generation invariant
                            "minWriterVersion": 4 if generated_columns else 2,
                        }
                    }
                )
            schema_json = json.loads(df.schema.json())
            for fj in schema_json.get("fields", []):
                expr = (generated_columns or {}).get(fj["name"])
                if expr is not None:
                    md = dict(fj.get("metadata") or {})
                    md["delta.generationExpression"] = expr
                    fj["metadata"] = md
            actions.append(
                {
                    "metaData": {
                        "id": uuid.uuid4().hex,
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": json.dumps(schema_json),
                        "partitionColumns": partition_by,
                        "configuration": {},
                        "createdTime": now_ms,
                    }
                }
            )
        elif new_schema_json is not None:
            evolved = dict(prior_meta)
            evolved["schemaString"] = new_schema_json
            if new_configuration is not None:
                evolved["configuration"] = new_configuration
            evolved_schema = T.StructType.fromJson(
                json.loads(new_schema_json)
            )
            need = set()
            if self._has_variant(evolved_schema):
                need.add("variantType")
            if self._has_ntz(evolved_schema):
                need.add("timestampNtz")
            if need:
                _m2, _a2, prior_proto = self._snapshot_state_full(None)
                have = set((prior_proto or {}).get("readerFeatures") or [])
                if not need <= have:
                    reader_feats = set(have)
                    if (prior_proto or {}).get("minReaderVersion", 1) >= 2:
                        reader_feats.add("columnMapping")
                    reader_feats |= need
                    actions.append(
                        {
                            "protocol": {
                                "minReaderVersion": 3,
                                "minWriterVersion": 7,
                                "readerFeatures": sorted(reader_feats),
                                "writerFeatures": sorted(
                                    self._implied_writer_features(
                                        prior_proto or {}
                                    )
                                    | need
                                ),
                            }
                        }
                    )
            actions.append({"metaData": evolved})
        if mode == "overwrite":
            for a in prior_adds:
                actions.append(
                    {
                        "remove": {
                            "path": a["path"],
                            "deletionTimestamp": now_ms,
                            "dataChange": _data_change,
                        }
                    }
                )
        actions.extend({"add": a} for a in adds)
        if rt_domain_action is not None:
            actions.append(rt_domain_action)
        if _domains:
            # user-domain state riding THE SAME commit as the data it
            # describes (COPY INTO's loaded-file ledger): two commits
            # would open a crash window where the data landed but the
            # ledger did not (double ingest on replay) or vice versa
            # (data loss). Requires an existing table — the version-0
            # protocol block above predates feature-form protocols.
            if last is None:
                raise ValueError(
                    "_domains requires an existing table (create it "
                    "first, then commit data+domain atomically)"
                )
            upgraded = self._upgraded_protocol(_proto, {"domainMetadata"})
            if upgraded is not None:
                existing = next(
                    (a["protocol"] for a in actions if "protocol" in a), None
                )
                if existing is not None:
                    # the evolution branch already appended a protocol
                    # action (always feature-form 3/7): fold the domain
                    # feature into it rather than emitting two protocols
                    existing["writerFeatures"] = sorted(
                        set(existing.get("writerFeatures") or [])
                        | {"domainMetadata"}
                    )
                else:
                    actions.append({"protocol": upgraded})
            for _dom, _cfg in sorted(_domains.items()):
                actions.append(
                    {
                        "domainMetadata": {
                            "domain": _dom,
                            "configuration": _cfg,
                            "removed": False,
                        }
                    }
                )

        # optimistic concurrency: a blind APPEND whose commit slot was
        # taken retries against the new tail if the interleaved commits
        # are themselves pure appends (no metaData/protocol/remove — the
        # only state this append read was the schema, which is then
        # unchanged). Anything else — overwrites, schema evolution, or an
        # interleaved non-append — is a logical conflict surfaced to the
        # caller. A retry re-publishes the SAME staged files under the
        # next version; file names are uuid-unique so nothing collides.
        for _attempt in range(20):
            try:
                self._write_commit(
                    version, self._maybe_stamp_ict(version, actions)
                )
                return version
            except CommitConflict:
                if mode != "append" or new_schema_json is not None:
                    raise ConcurrentWriteError(
                        f"{_operation} on {self.path} lost the commit race "
                        f"at version {version} and cannot be safely "
                        "retried; rerun from a fresh snapshot"
                    )
                latest = self.latest_version()
                interleaved_hwm = -1
                for v2 in range(version, latest + 1):
                    for action in self._read_commit(v2):
                        if (
                            "metaData" in action
                            or "protocol" in action
                            or "remove" in action
                        ):
                            raise ConcurrentWriteError(
                                f"append on {self.path} conflicts with a "
                                f"concurrent non-append commit at version "
                                f"{v2}; rerun from a fresh snapshot"
                            )
                        dm = action.get("domainMetadata")
                        if dm and _domains and dm.get("domain") in _domains:
                            # the interleaved commit rewrote a domain this
                            # write derived its own update from (e.g. two
                            # COPY INTOs racing on the loaded-file ledger:
                            # both may have admitted the same file) — a
                            # logical conflict, never blind-retried
                            raise ConcurrentWriteError(
                                f"{_operation} on {self.path} conflicts "
                                f"with a concurrent update of domain "
                                f"{dm.get('domain')!r} at version {v2}; "
                                "rerun from a fresh snapshot"
                            )
                        if dm and dm.get("domain") == self.RT_DOMAIN:
                            interleaved_hwm = max(
                                interleaved_hwm,
                                int(
                                    json.loads(dm.get("configuration") or "{}")
                                    .get("rowIdHighWaterMark", -1)
                                ),
                            )
                        t = action.get("txn")
                        if (
                            txn is not None
                            and t
                            and t.get("appId") == txn[0]
                            and t["version"] >= txn[1]
                        ):
                            # another instance of OUR app already applied
                            # this very batch: idempotent no-op
                            return latest
                version = latest + 1
                if rt_domain_action is not None and interleaved_hwm >= 0:
                    # the interleaved appends allocated row ids past our
                    # snapshot's high-water mark: re-stamp OUR files above
                    # theirs (mutating the dicts already inside `actions`)
                    hwm = self._stamp_fresh_row_ids(
                        adds, interleaved_hwm, version
                    )
                    rt_domain_action["domainMetadata"]["configuration"] = (
                        json.dumps({"rowIdHighWaterMark": hwm})
                    )
                elif rt_domain_action is not None:
                    # no interleaved allocation; ranges hold, but the
                    # files now land at the new commit version
                    for a in adds:
                        a["defaultRowCommitVersion"] = version
        raise ConcurrentWriteError(
            f"append on {self.path} kept losing the commit race (20 attempts)"
        )

    def _write_commit(self, version: int, actions: list[dict]) -> None:
        """Atomically publish one commit file with PUT-IF-ABSENT
        semantics: ``os.link`` fails if the target exists, so of two
        writers racing for the same version exactly one wins and the
        other gets `CommitConflict` — the optimistic-concurrency commit
        point every Delta log store must provide (a plain rename would
        silently CLOBBER the winner's commit, losing its transaction)."""
        os.makedirs(self._log_dir, exist_ok=True)
        final = _commit_path(self._log_dir, version)
        tmp = os.path.join(self._log_dir, f".tmp-{version}-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            for action in actions:
                f.write(json.dumps(action) + "\n")
        try:
            os.link(tmp, final)  # atomic create-if-absent on POSIX
        except FileExistsError:
            raise CommitConflict(version)
        finally:
            os.unlink(tmp)
        self._maybe_auto_checkpoint(version, actions)

    def _maybe_auto_checkpoint(self, version: int, actions: list[dict]) -> None:
        """delta-spark's checkpoint policy: with the table property
        ``delta.checkpointInterval`` set to a positive int, every
        interval-th commit writes a classic checkpoint right after
        publishing — snapshot replay stays O(interval) without the
        owner ever calling checkpoint() by hand. The interval resolves
        from a metaData action in THIS commit when one rides along
        (free), else from a once-per-instance snapshot probe (cached;
        property changes always arrive via a metaData action, which
        refreshes the cache). Checkpointing is an optimization — a
        failure here must never unwind the already-published commit,
        so it degrades to a RuntimeWarning."""
        def parse(conf: dict) -> int:
            try:
                return int(conf.get("delta.checkpointInterval") or 0)
            except (TypeError, ValueError):
                return 0  # malformed property: no auto policy

        for a in actions:
            if "metaData" in a:
                self._ckpt_interval = parse(
                    a["metaData"].get("configuration") or {}
                )
        if self._ckpt_interval is None:
            try:
                meta, _ = self._snapshot_state(None)
            except (ValueError, NotImplementedError):
                self._ckpt_interval = 0
            else:
                self._ckpt_interval = parse(meta.get("configuration") or {})
        iv = self._ckpt_interval
        if version < 1 or iv <= 0 or version % iv:
            return
        try:
            self.checkpoint(None)
        except Exception as exc:  # noqa: BLE001 — commit already durable
            warnings.warn(
                f"auto-checkpoint at version {version} of {self.path} "
                f"failed: {exc}",
                RuntimeWarning,
                stacklevel=2,
            )

    def _publish_or_conflict(
        self, version: int, actions: list[dict], operation: str
    ) -> int:
        """Publish a commit that read snapshot state: ANY concurrent
        commit is a logical conflict (the snapshot this operation
        validated/derived from is stale) — surfaced, never retried
        blindly."""
        try:
            self._write_commit(version, self._maybe_stamp_ict(version, actions))
        except CommitConflict:
            raise ConcurrentWriteError(
                f"{operation} on {self.path} conflicts with a concurrent "
                f"commit at version {version}; retry from a fresh snapshot"
            )
        return version

    # ------------------------------------------------- schema evolution

    @staticmethod
    def _implied_writer_features(proto: dict) -> set[str]:
        """Writer features a versioned (pre-feature-list) protocol
        implies — what an upgrade to the v7 feature list must carry so
        no capability fence is lost."""
        feats = set(proto.get("writerFeatures") or [])
        if feats:
            return feats
        wv = proto.get("minWriterVersion", 2)
        if wv >= 2:
            feats |= {"appendOnly", "invariants"}
        if wv >= 3:
            feats.add("checkConstraints")
        if wv >= 4:
            feats |= {"changeDataFeed", "generatedColumns"}
        if wv >= 5:
            feats.add("columnMapping")
        return feats

    def enable_in_commit_timestamps(self) -> int:
        """Writer feature ``inCommitTimestamp`` (spec: monotonic commit
        timestamps INSIDE commitInfo): once enabled, every commit stamps
        ``inCommitTimestamp = max(wall clock, prior + 1)`` and
        ``TIMESTAMP AS OF`` resolves against it — immune to the
        file-mtime clock skew (log copies, backfills, NTP steps) that
        makes mtime-ordered time travel lie. Upgrades the writer
        protocol to the v7 feature list, carrying all implied
        features."""
        base = self.latest_version() or 0
        meta, _adds, protocol = self._snapshot_state_full(None)
        conf = dict(meta.get("configuration") or {})
        if conf.get("delta.enableInCommitTimestamps") == "true":
            raise ValueError(
                f"in-commit timestamps already enabled: {self.path}"
            )
        conf["delta.enableInCommitTimestamps"] = "true"
        new_meta = dict(meta)
        new_meta["configuration"] = conf
        proto = dict(protocol or {"minReaderVersion": 1, "minWriterVersion": 2})
        feats = self._implied_writer_features(proto)
        feats.add("inCommitTimestamp")
        new_proto = {
            "minReaderVersion": proto.get("minReaderVersion", 1),
            "minWriterVersion": 7,
            **(
                {"readerFeatures": proto["readerFeatures"]}
                if proto.get("readerFeatures") is not None
                else {}
            ),
            "writerFeatures": sorted(feats),
        }
        return self._publish_or_conflict(
            base + 1,
            [
                {
                    "commitInfo": {
                        "timestamp": int(time.time() * 1000),
                        "operation": "SET TBLPROPERTIES",
                        "operationParameters": {
                            "properties": '{"delta.enableInCommitTimestamps":"true"}'
                        },
                    }
                },
                {"protocol": new_proto},
                {"metaData": new_meta},
            ],
            "SET TBLPROPERTIES",
        )

    def enable_vacuum_protocol_check(self) -> int:
        """Reader-writer feature ``vacuumProtocolCheck`` (spec): obligate
        every VACUUM implementation to consult the WRITER protocol
        before deleting files — the fence against legacy vacuums that
        checked only the reader side and could garbage-collect artifacts
        a writer feature still references. Reads are unchanged; this
        client's `vacuum` performs the writer-gate check
        unconditionally, so enabling is purely a protocol commit."""
        base = self.latest_version()
        if base is None:
            raise ValueError(f"no such table: {self.path}")
        _meta, _adds, protocol = self._snapshot_state_full(None)
        proto = dict(protocol or {"minReaderVersion": 1, "minWriterVersion": 2})
        wf = self._implied_writer_features(proto)
        if "vacuumProtocolCheck" in wf:
            raise ValueError("vacuumProtocolCheck already enabled")
        wf.add("vacuumProtocolCheck")
        rf = set(proto.get("readerFeatures") or [])
        if not rf and proto.get("minReaderVersion", 1) >= 2:
            # upgrading a legacy v2 (mapped) reader to a v3 feature list:
            # the list must carry the capability v2 implied
            rf.add("columnMapping")
        rf.add("vacuumProtocolCheck")
        return self._publish_or_conflict(
            base + 1,
            [
                {
                    "commitInfo": {
                        "timestamp": int(time.time() * 1000),
                        "operation": "UPGRADE PROTOCOL",
                        "operationParameters": {
                            "feature": "vacuumProtocolCheck"
                        },
                    }
                },
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": sorted(rf),
                        "writerFeatures": sorted(wf),
                    }
                },
            ],
            "UPGRADE PROTOCOL",
        )

    def _maybe_stamp_ict(self, version: int, actions: list[dict]) -> list[dict]:
        """Stamp ``inCommitTimestamp`` (monotonic vs the prior commit)
        into the commit's commitInfo — and move that commitInfo FIRST,
        as the spec requires for ICT commits — when the table property
        is enabled. The enable commit itself carries the property in its
        own metaData action, so it is stamped too."""
        conf = None
        for a in actions:
            if "metaData" in a:
                conf = a["metaData"].get("configuration") or {}
                break
        if conf is None:
            if version == 0:
                return actions
            try:
                meta, _ = self._snapshot_state(None)
            except (ValueError, NotImplementedError):
                return actions
            conf = meta.get("configuration") or {}
        if conf.get("delta.enableInCommitTimestamps") != "true":
            return actions
        prior_ict = 0
        prior_had_ict = False
        if version > 0:
            for a in self._read_commit(version - 1):
                if "commitInfo" in a:
                    ci = a["commitInfo"]
                    prior_had_ict = bool(ci.get("inCommitTimestamp"))
                    prior_ict = (
                        ci.get("inCommitTimestamp") or ci.get("timestamp") or 0
                    )
                    break
        ict = max(int(time.time() * 1000), prior_ict + 1)
        head: dict | None = None
        rest: list[dict] = []
        for a in actions:
            if "commitInfo" in a and head is None:
                head = {"commitInfo": {**a["commitInfo"], "inCommitTimestamp": ict}}
            else:
                rest.append(a)
        if head is None:
            head = {
                "commitInfo": {
                    "timestamp": ict,
                    "inCommitTimestamp": ict,
                    "operation": "WRITE",
                    "operationParameters": {},
                }
            }
        out = [head, *rest]
        # Spec: enabling ICT on an EXISTING table must record provenance —
        # delta.inCommitTimestampEnablementVersion / -Timestamp — so
        # readers know where the ICT sequence starts (TIMESTAMP AS OF
        # switches resolution modes at exactly this boundary; delta-spark
        # expects the properties on such tables). Stamped here, not in
        # enable_in_commit_timestamps, so the recorded timestamp is THE
        # ict of the enabling commit and a conflict-retry at a different
        # version re-stamps correctly. Creation-time enablement (version
        # 0) needs no provenance — ICT covers the whole history.
        if version > 0 and not prior_had_ict:
            for i, a in enumerate(out):
                if "metaData" not in a:
                    continue
                conf_m = dict(a["metaData"].get("configuration") or {})
                if (
                    conf_m.get("delta.enableInCommitTimestamps") == "true"
                    and "delta.inCommitTimestampEnablementVersion" not in conf_m
                ):
                    conf_m["delta.inCommitTimestampEnablementVersion"] = str(
                        version
                    )
                    conf_m["delta.inCommitTimestampEnablementTimestamp"] = str(
                        ict
                    )
                    out[i] = {
                        "metaData": {**a["metaData"], "configuration": conf_m}
                    }
                break
        return out

    def enable_change_data_feed(self) -> int:
        """ALTER TABLE SET TBLPROPERTIES (delta.enableChangeDataFeed =
        true): from this commit on, every UPDATE/DELETE also stages CDC
        files under ``_change_data/`` (spec's "Add CDC File" action) so
        change-feed readers get TRUE pre/post images instead of the
        remove+add synthesis — the writer-v4 ``changeDataFeed``
        feature's contract."""
        base = self.latest_version() or 0
        meta, _adds, protocol = self._snapshot_state_full(None)
        conf = dict(meta.get("configuration") or {})
        if conf.get("delta.enableChangeDataFeed") == "true":
            raise ValueError(f"change data feed already enabled: {self.path}")
        conf["delta.enableChangeDataFeed"] = "true"
        new_meta = dict(meta)
        new_meta["configuration"] = conf
        proto = dict(protocol or {"minReaderVersion": 1, "minWriterVersion": 2})
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": int(time.time() * 1000),
                    "operation": "SET TBLPROPERTIES",
                    "operationParameters": {
                        "properties": '{"delta.enableChangeDataFeed":"true"}'
                    },
                }
            }
        ]
        if proto.get("writerFeatures") is not None:
            feats = set(proto["writerFeatures"])
            feats.add("changeDataFeed")
            proto["writerFeatures"] = sorted(feats)
            actions.append({"protocol": proto})
        elif proto.get("minWriterVersion", 2) < 4:
            proto["minWriterVersion"] = 4
            actions.append({"protocol": proto})
        actions.append({"metaData": new_meta})
        return self._publish_or_conflict(
            base + 1, actions, "SET TBLPROPERTIES"
        )

    def _cdf_enabled(self, meta: dict) -> bool:
        return (meta.get("configuration") or {}).get(
            "delta.enableChangeDataFeed"
        ) == "true"

    def _stage_cdc_files(
        self,
        df: DataFrame,
        *,
        version: int,
        meta: dict,
        co_partition_bytes: int | None = None,
    ) -> list[dict]:
        """Stage change rows (table columns + ``_change_type``) as CDC
        parquet under ``_change_data/`` and return the spec's ``cdc``
        action payloads. Reuses the data staging machinery (hive
        partitioning, physical-name mapping), then relocates under the
        underscore directory — invisible to every normal scan by the
        same rule that hides ``_delta_log``."""
        part_cols = meta.get("partitionColumns") or []
        mapping = self._column_mapping(meta) or {}
        staged = self._stage_files(
            df,
            version=version,
            partition_by=part_cols,
            mapping=mapping,
            schema_json=None if not mapping else self._cdc_schema_json(meta),
            id_mode=self._mapping_mode(meta) == "id",
            # change volume is bounded by the commit's touched rows —
            # co-partitioning avoids tasks × values tiny CDC files,
            # and the caller's bytes hint fans a hot value's images
            # across multiple tasks
            co_partition=True,
            co_partition_bytes=co_partition_bytes,
        )
        cdc_actions: list[dict] = []
        for a in staged:
            rel = urllib.parse.unquote(a["path"])
            new_rel = "_change_data/" + rel
            dst = os.path.join(self.path, new_rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(os.path.join(self.path, rel), dst)
            cdc_actions.append(
                {
                    "cdc": {
                        "path": urllib.parse.quote(new_rel, safe="/="),
                        "partitionValues": a["partitionValues"],
                        "size": a["size"],
                        "dataChange": False,
                    }
                }
            )
        # drop now-empty hive dirs left under the root by the relocation
        for root_dir, dirs, files in os.walk(self.path, topdown=False):
            if (
                root_dir != self.path
                and not dirs
                and not files
                and "_change_data" not in root_dir
                and "_delta_log" not in root_dir
            ):
                os.rmdir(root_dir)
        return cdc_actions

    def _cdc_schema_json(self, meta: dict) -> str:
        """Table schemaString + the ``_change_type`` field — the staging
        schema for CDC files on a column-mapped table (the change column
        itself is never mapped)."""
        schema = json.loads(meta["schemaString"])
        fields = list(schema.get("fields", []))
        fields.append(
            {
                "name": "_change_type",
                "type": "string",
                "nullable": False,
                "metadata": {},
            }
        )
        return json.dumps({**schema, "fields": fields})

    def create(
        self,
        schema: T.StructType,
        *,
        partition_by: list[str] | None = None,
        configuration: dict | None = None,
        mapping_mode: str | None = None,
        identity_columns: dict[str, tuple[int, int]] | None = None,
        allow_explicit_insert: list[str] | None = None,
        column_defaults: dict[str, str] | None = None,
        generated_columns: dict[str, str] | None = None,
    ) -> int:
        """CREATE TABLE — a metadata-only commit 0 (delta-spark's
        ``DeltaTable.create()``): records schema, partitioning, table
        properties, and protocol before any data lands, so the FIRST
        append already honors constraints/properties instead of deriving
        the schema from whatever frame happens to arrive first.

        ``mapping_mode='name' | 'id'`` creates the table column-mapped
        from birth: every field (nested included) is assigned a fresh
        ``col-<uuid>`` physical name and a column id. 'id' is the mode
        delta-spark itself can only get at creation (Iceberg-compat
        shape — files resolve by parquet field id, names are
        arbitrary); this client stages id-mode writes with the footer
        ids readers need (`_fieldid_physical_cast`). Creation-time
        ``delta.enableInCommitTimestamps`` in ``configuration`` stamps
        ICT from version 0 with NO enablement-provenance properties —
        per spec they exist only for mid-life enablement."""
        if self.latest_version() is not None:
            raise ValueError(f"table already exists: {self.path}")
        if mapping_mode not in (None, "name", "id"):
            raise ValueError(f"unsupported mapping_mode {mapping_mode!r}")
        partition_by = partition_by or []
        unknown = [c for c in partition_by if c not in schema.names]
        if unknown:
            raise ValueError(f"partition columns {unknown} not in schema")
        schema_json = json.loads(schema.json())
        conf = dict(configuration or {})
        if mapping_mode is not None:
            schema_json, max_id = _assign_mapping_meta(
                schema_json, 0, lambda _name: f"col-{uuid.uuid4().hex}"
            )
            conf["delta.columnMapping.mode"] = mapping_mode
            conf["delta.columnMapping.maxColumnId"] = str(max_id)
            protocol = {"minReaderVersion": 2, "minWriterVersion": 5}
        else:
            protocol = {"minReaderVersion": 1, "minWriterVersion": 2}
        if conf.get("delta.enableInCommitTimestamps") == "true":
            # ICT is a writer FEATURE: the creating commit must fence it
            # in a v7 feature list or foreign writers would skip stamping
            feats = self._implied_writer_features(protocol)
            feats.add("inCommitTimestamp")
            protocol = {
                "minReaderVersion": protocol["minReaderVersion"],
                "minWriterVersion": 7,
                "writerFeatures": sorted(feats),
            }
        bad_aei = set(allow_explicit_insert or []) - set(identity_columns or {})
        if bad_aei:
            raise ValueError(
                f"allow_explicit_insert columns {sorted(bad_aei)} are not "
                "identity columns"
            )
        if identity_columns:
            # GENERATED ALWAYS AS IDENTITY (spec writer feature
            # identityColumns): start/step/highWaterMark live as FIELD
            # metadata; every identity write commits an updated
            # highWaterMark so concurrent-writer allocation never
            # collides (OCC retries re-read it). Columns listed in
            # ``allow_explicit_insert`` are GENERATED BY DEFAULT —
            # callers may supply values, omitted rows still allocate
            for col, (start, step) in identity_columns.items():
                fj = next(
                    (f for f in schema_json["fields"] if f["name"] == col),
                    None,
                )
                if fj is None:
                    raise ValueError(f"identity column {col!r} not in schema")
                if fj["type"] != "long":
                    raise ValueError(
                        f"identity column {col!r} must be long, is "
                        f"{fj['type']}"
                    )
                if step == 0:
                    raise ValueError("identity step must be non-zero")
                md = dict(fj.get("metadata") or {})
                md["delta.identity.start"] = start
                md["delta.identity.step"] = step
                md["delta.identity.highWaterMark"] = start - step
                md["delta.identity.allowExplicitInsert"] = col in (
                    allow_explicit_insert or []
                )
                fj["metadata"] = md
            feats = self._implied_writer_features(protocol)
            feats.add("identityColumns")
            protocol = {
                "minReaderVersion": protocol["minReaderVersion"],
                "minWriterVersion": 7,
                "writerFeatures": sorted(feats),
            }
        if generated_columns:
            # GENERATED ALWAYS AS (expr) in CREATE TABLE — delta-spark's
            # DDL shape; the same field metadata the write-creates-table
            # path stamps, so _apply_generated/_check recompute and
            # validate identically whichever way the table was born.
            # Writer-v4 feature: older writers must be fenced off or
            # they would append rows violating the generation invariant
            for col, expr in generated_columns.items():
                fj = next(
                    (f for f in schema_json["fields"] if f["name"] == col),
                    None,
                )
                if fj is None:
                    raise ValueError(f"generated column {col!r} not in schema")
                if col in (identity_columns or {}):
                    raise ValueError(
                        f"column {col!r} cannot be both IDENTITY and "
                        "GENERATED ALWAYS AS"
                    )
                md = dict(fj.get("metadata") or {})
                md["delta.generationExpression"] = expr
                fj["metadata"] = md
            if protocol.get("writerFeatures") is not None:
                protocol = {
                    **protocol,
                    "writerFeatures": sorted(
                        set(protocol["writerFeatures"]) | {"generatedColumns"}
                    ),
                }
            else:
                protocol = {
                    **protocol,
                    "minWriterVersion": max(
                        protocol.get("minWriterVersion", 2), 4
                    ),
                }
        if column_defaults:
            # DEFAULT values (spec writer feature allowColumnDefaults,
            # delta-spark's `col TYPE DEFAULT expr`): the SQL expression
            # lives as CURRENT_DEFAULT field metadata; writers fence the
            # feature so a defaults-unaware writer refuses rather than
            # silently null-filling omitted inserts
            for col, expr in column_defaults.items():
                fj = next(
                    (f for f in schema_json["fields"] if f["name"] == col),
                    None,
                )
                if fj is None:
                    raise ValueError(f"default column {col!r} not in schema")
                md = dict(fj.get("metadata") or {})
                md["CURRENT_DEFAULT"] = expr
                fj["metadata"] = md
            feats = self._implied_writer_features(protocol)
            feats.add("allowColumnDefaults")
            protocol = {
                "minReaderVersion": protocol["minReaderVersion"],
                "minWriterVersion": 7,
                **(
                    {"readerFeatures": protocol["readerFeatures"]}
                    if protocol.get("readerFeatures") is not None
                    else {}
                ),
                "writerFeatures": sorted(feats),
            }
        type_feats = set()
        if self._has_variant(schema):
            type_feats.add("variantType")
        if self._has_ntz(schema):
            type_feats.add("timestampNtz")
        if type_feats:
            # reader-writer TYPE features demanded by the declared schema
            reader_feats = set(protocol.get("readerFeatures") or [])
            if not reader_feats and protocol.get("minReaderVersion", 1) >= 2:
                reader_feats.add("columnMapping")
            reader_feats |= type_feats
            protocol = {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": sorted(reader_feats),
                "writerFeatures": sorted(
                    self._implied_writer_features(protocol) | type_feats
                ),
            }
        rt_domain: dict | None = None
        if conf.get("delta.enableRowTracking") == "true":
            # row tracking from birth: materialized-column properties,
            # feature fence, and the hwm domain seeded empty
            conf.setdefault(
                "delta.rowTracking.materializedRowIdColumnName",
                f"_row-id-col-{uuid.uuid4().hex}",
            )
            conf.setdefault(
                "delta.rowTracking.materializedRowCommitVersionColumnName",
                f"_row-commit-version-col-{uuid.uuid4().hex}",
            )
            feats = self._implied_writer_features(protocol)
            feats |= {"rowTracking", "domainMetadata"}
            protocol = {
                "minReaderVersion": protocol["minReaderVersion"],
                "minWriterVersion": 7,
                # preserve any reader feature list a prior fence (type
                # features) already demanded — dropping it would leave a
                # malformed v3 protocol
                **(
                    {"readerFeatures": protocol["readerFeatures"]}
                    if protocol.get("readerFeatures") is not None
                    else {}
                ),
                "writerFeatures": sorted(feats),
            }
            rt_domain = self._rt_domain_action(-1)
        now_ms = int(time.time() * 1000)
        actions = [
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "CREATE TABLE",
                    "operationParameters": {
                        "partitionBy": json.dumps(partition_by)
                    },
                }
            },
            {"protocol": protocol},
            {
                "metaData": {
                    "id": uuid.uuid4().hex,
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(schema_json),
                    "partitionColumns": partition_by,
                    "configuration": conf,
                    "createdTime": now_ms,
                }
            },
            *([rt_domain] if rt_domain is not None else []),
        ]
        os.makedirs(self._log_dir, exist_ok=True)
        return self._publish_or_conflict(0, actions, "CREATE TABLE")

    def enable_column_mapping(self) -> int:
        """Upgrade the table to column mapping (reader protocol v2).

        Existing columns take their current names as physical names, so
        every already-written data file still matches; from then on
        logical names are pure metadata and `rename_column` is a
        metadata-only commit — the operation column mapping exists for
        (delta-spark's ``delta.columnMapping.mode = name`` upgrade).
        """
        base = self.latest_version() or 0
        meta, _ = self._snapshot_state(None)
        if self._column_mapping(meta):
            raise ValueError(f"column mapping already enabled: {self.path}")
        schema = json.loads(meta["schemaString"])
        # identity physical names at every nesting level: the data already
        # on disk was written under the logical names, so they ARE the
        # physical names; only post-upgrade renames diverge the two
        schema, max_id = _assign_mapping_meta(schema, 0, lambda name: name)
        new_meta = dict(meta)
        new_meta["schemaString"] = json.dumps(schema)
        conf = dict(new_meta.get("configuration") or {})
        conf["delta.columnMapping.mode"] = "name"
        conf["delta.columnMapping.maxColumnId"] = str(max_id)
        new_meta["configuration"] = conf
        return self._publish_or_conflict(
            base + 1,
            [
                {
                    "commitInfo": {
                        "timestamp": int(time.time() * 1000),
                        "operation": "UPGRADE COLUMN MAPPING",
                        "operationParameters": {"mode": "name"},
                    }
                },
                {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
                {"metaData": new_meta},
            ],
            "UPGRADE COLUMN MAPPING",
        )

    def _evolved_schema(
        self, prior_meta: dict, mapping: dict, extra: list
    ) -> tuple[str, dict | None]:
        """Schema evolution shared by append-time ``merge_schema`` and
        MERGE ``with_schema_evolution``: append ``extra`` StructFields
        (nullable) to the table schema. Returns (new schemaString, new
        configuration or None). On a column-mapped table every new field
        gets a fresh synthetic physicalName (delta-spark's col-<uuid>)
        and the next column id — ``mapping`` is updated IN PLACE so the
        caller's staging writes physical names immediately."""
        if mapping:
            conf = dict(prior_meta.get("configuration") or {})
            next_id = int(conf.get("delta.columnMapping.maxColumnId", "0"))
            schema_json = json.loads(prior_meta["schemaString"])
            for f in extra:
                # nested struct fields of a NEW column get their own
                # synthetic physical names too (delta-spark's shape)
                inner_type, next_id = _assign_mapping_meta(
                    json.loads(f.dataType.json()),
                    next_id,
                    lambda _name: f"col-{uuid.uuid4().hex}",
                )
                next_id += 1
                phys_name = f"col-{uuid.uuid4().hex}"
                mapping[f.name] = phys_name
                schema_json["fields"].append(
                    {
                        "name": f.name,
                        "type": inner_type,
                        "nullable": True,
                        "metadata": {
                            "delta.columnMapping.id": next_id,
                            "delta.columnMapping.physicalName": phys_name,
                        },
                    }
                )
            conf["delta.columnMapping.maxColumnId"] = str(next_id)
            return json.dumps(schema_json), conf
        prior_schema = T.StructType.fromJson(
            json.loads(prior_meta["schemaString"])
        )
        merged = T.StructType(
            list(prior_schema.fields)
            + [T.StructField(f.name, f.dataType, True) for f in extra]
        )
        return merged.json(), None

    def _metadata_commit(
        self, operation: str, new_meta: dict, base: int | None = None
    ) -> int:
        version = ((self.latest_version() if base is None else base) or 0) + 1
        return self._publish_or_conflict(
            version,
            [
                {
                    "commitInfo": {
                        "timestamp": int(time.time() * 1000),
                        "operation": operation,
                        "operationParameters": {},
                    }
                },
                {"metaData": new_meta},
            ],
            operation,
        )

    @staticmethod
    def _refuse_if_append_only(meta: dict | None, operation: str) -> None:
        """delta.appendOnly=true (the writer-v2 appendOnly feature): the
        table accepts only appends — any operation that deletes or
        rewrites committed ROWS is refused, delta-spark's exact gate.
        Metadata commits and dataChange=false rearrangements (OPTIMIZE /
        REORG / checkpointing) remain legal: they move bytes, not
        rows."""
        if meta and (meta.get("configuration") or {}).get(
            "delta.appendOnly"
        ) == "true":
            raise ValueError(
                f"{operation} is not allowed: table is append-only "
                "(delta.appendOnly=true)"
            )

    def set_table_properties(self, props: dict[str, str]) -> int:
        """ALTER TABLE SET TBLPROPERTIES — a metadata-only commit merging
        ``props`` into the table configuration (a None value unsets).
        The way delta.appendOnly and retention/tuning properties are
        flipped on an existing table."""
        if props.get("delta.enableRowTracking") == "true":
            raise ValueError(
                "use enable_row_tracking(): enabling row tracking needs "
                "the protocol feature fence, the per-file baseRowId "
                "backfill, and the high-water-mark domain — a bare "
                "property flip would leave files without id ranges"
            )
        meta, _ = self._snapshot_state(None)
        conf = dict(meta.get("configuration") or {})
        for k, v in props.items():
            if v is None:
                conf.pop(k, None)
            else:
                conf[k] = str(v)
        new_meta = dict(meta)
        new_meta["configuration"] = conf
        return self._metadata_commit("SET TBLPROPERTIES", new_meta)

    # ------------------------------------------------- domain metadata

    def _upgraded_protocol(
        self, protocol: dict | None, new_feats: set[str]
    ) -> dict | None:
        """v7 feature-list protocol carrying ``new_feats`` on top of the
        current protocol's implied features — or None when every feature
        is already present (no protocol action needed)."""
        proto = dict(protocol or {"minReaderVersion": 1, "minWriterVersion": 2})
        feats = self._implied_writer_features(proto)
        if new_feats <= feats and proto.get("minWriterVersion") == 7:
            return None
        return {
            "minReaderVersion": proto.get("minReaderVersion", 1),
            "minWriterVersion": 7,
            **(
                {"readerFeatures": proto["readerFeatures"]}
                if proto.get("readerFeatures") is not None
                else {}
            ),
            "writerFeatures": sorted(feats | new_feats),
        }

    def domain_metadata(self, version: int | None = None) -> dict[str, str]:
        """The table's live metadata domains at ``version``:
        domain -> configuration string (spec: an arbitrary string,
        conventionally JSON). Removed domains are absent."""
        _m, _a, _p, domains = self._snapshot_state_full(
            version, with_domains=True
        )
        return {d: dm.get("configuration") for d, dm in domains.items()}

    def set_domain_metadata(self, domain: str, configuration: str) -> int:
        """Commit a ``domainMetadata`` action (spec: Domain Metadata) —
        a named, table-level metadata slot owned by one writer concern;
        the latest commit per domain wins. ``delta.``-prefixed domains
        are SYSTEM domains (row tracking's high-water mark, clustering
        state): each is controlled by its own table feature, so writing
        one through the generic API is refused — exactly delta-spark's
        gate. Upgrades the writer protocol to carry the
        ``domainMetadata`` feature when absent (same commit)."""
        if domain.startswith("delta."):
            raise ValueError(
                f"domain {domain!r} is system-controlled (delta.* domains "
                "belong to their table features); user domains must not "
                "use the delta. prefix"
            )
        return self._commit_domain(domain, configuration, removed=False)

    def remove_domain_metadata(self, domain: str) -> int:
        """Tombstone a user domain (``removed=true``): later snapshots no
        longer surface it."""
        if domain.startswith("delta."):
            raise ValueError(f"domain {domain!r} is system-controlled")
        return self._commit_domain(domain, "", removed=True)

    # -------------------------------------------------------- COPY INTO

    #: user domain holding the loaded-file ledger (path -> fingerprint)
    COPY_DOMAIN = "copyInto.loadedFiles"

    def copy_into(
        self,
        spark: SparkSession,
        files: list[str],
        *,
        force: bool = False,
    ) -> dict:
        """File-granularity idempotent ingest — the lakehouse ``COPY
        INTO`` verb (Databricks SQL ref; delta-rs ``write`` has no twin).
        Each source parquet file is ingested AT MOST ONCE: a ledger of
        loaded files (path -> ``size:mtime_ns`` fingerprint) lives in the
        ``copyInto.loadedFiles`` user domain and is updated in THE SAME
        commit as the appended data, so a crashed-and-replayed batch can
        never double-ingest (the crash window a two-commit design would
        have). Re-running with an unchanged file list is a pure no-op —
        no commit at all, the table version does not move.

        A listed file whose fingerprint CHANGED since it was loaded is
        refused loudly (the caller's landing zone mutated history —
        re-ingesting would duplicate the rows that did not change, and
        skipping would silently drop the ones that did); ``force=True``
        re-ingests it wholesale and re-stamps the ledger, the documented
        escape hatch matching Databricks' ``COPY_OPTIONS('force')``.

        Requires an existing table (same contract as the SQL verb).
        Concurrency: two racing COPY INTOs are serialized by the domain
        conflict check in `write` — the loser gets
        ``ConcurrentWriteError`` instead of admitting a file twice.

        Scale note: the ledger is one JSON document read once per batch —
        O(loaded files) bytes of metadata, not a per-file log scan. At
        millions of loaded files a production engine shards this state
        (Databricks keeps it in a RocksDB sidecar); the domain form is
        the protocol-native single-writer equivalent and the refusal
        surface is identical.
        """
        base = self.latest_version()
        if base is None:
            raise ValueError(
                f"COPY INTO target {self.path} does not exist; create the "
                "table first (the SQL verb has the same contract)"
            )
        ledger_raw = self.domain_metadata(base).get(self.COPY_DOMAIN)
        ledger: dict[str, str] = (
            json.loads(ledger_raw) if ledger_raw else {}
        )

        def _fp(p: str) -> str:
            st = os.stat(p)
            return f"{st.st_size}:{st.st_mtime_ns}"

        new: list[str] = []
        skipped = 0
        for p in sorted(os.path.abspath(f) for f in files):
            fp = _fp(p)
            prior = ledger.get(p)
            if prior is None:
                new.append(p)
                ledger[p] = fp
            elif prior == fp:
                skipped += 1
            elif force:
                new.append(p)
                ledger[p] = fp
            else:
                raise ValueError(
                    f"COPY INTO source {p} changed since it was loaded "
                    f"(fingerprint {prior} -> {fp}); re-ingesting would "
                    "duplicate unchanged rows and skipping would drop "
                    "changed ones — pass force=True to re-ingest it "
                    "wholesale"
                )
        if not new:
            return {
                "version": self.latest_version(),
                "ingested_files": 0,
                "skipped_files": skipped,
            }
        version = self.write(
            _read_files(spark, new),
            _operation="COPY INTO",
            _domains={
                self.COPY_DOMAIN: json.dumps(ledger, sort_keys=True)
            },
            _domain_read_version=base,
        )
        return {
            "version": version,
            "ingested_files": len(new),
            "skipped_files": skipped,
        }

    def _commit_domain(
        self, domain: str, configuration: str, *, removed: bool
    ) -> int:
        base = self.latest_version()
        if base is None:
            raise ValueError(f"not a Delta table: {self.path}")
        _meta, _adds, protocol = self._snapshot_state_full(None)
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": int(time.time() * 1000),
                    "operation": "SET DOMAIN METADATA",
                    "operationParameters": {"domain": domain},
                }
            }
        ]
        new_proto = self._upgraded_protocol(protocol, {"domainMetadata"})
        if new_proto is not None:
            actions.append({"protocol": new_proto})
        actions.append(
            {
                "domainMetadata": {
                    "domain": domain,
                    "configuration": configuration,
                    "removed": removed,
                }
            }
        )
        return self._publish_or_conflict(
            base + 1, actions, "SET DOMAIN METADATA"
        )

    # ---------------------------------------------------- row tracking

    #: system domain holding the row-id high-water mark (spec: Row Tracking)
    RT_DOMAIN = "delta.rowTracking"

    @staticmethod
    def _row_tracking_enabled(meta: dict | None) -> bool:
        return bool(meta) and (meta.get("configuration") or {}).get(
            "delta.enableRowTracking"
        ) == "true"

    @staticmethod
    def _rt_mat_cols(meta: dict) -> tuple[str, str]:
        """The PHYSICAL column names row ids / row commit versions
        materialize under when a rewrite must preserve them (spec:
        delta.rowTracking.materialized*ColumnName, stamped at
        enablement)."""
        conf = meta.get("configuration") or {}
        rid = conf.get("delta.rowTracking.materializedRowIdColumnName")
        ver = conf.get(
            "delta.rowTracking.materializedRowCommitVersionColumnName"
        )
        if not rid or not ver:
            raise ValueError(
                "row-tracking table is missing its materialized column "
                "name properties (enablement stamps both)"
            )
        return rid, ver

    def _num_records(self, add: dict) -> int:
        stats = add.get("stats")
        if stats:
            n = json.loads(stats).get("numRecords")
            if n is not None:
                return int(n)
        import pyarrow.parquet as pq

        fp = os.path.join(self.path, urllib.parse.unquote(add["path"]))
        return pq.ParquetFile(fp).metadata.num_rows

    @classmethod
    def _rt_hwm(cls, domains: dict[str, dict]) -> int:
        dm = domains.get(cls.RT_DOMAIN)
        if not dm:
            return -1
        return int(
            json.loads(dm.get("configuration") or "{}").get(
                "rowIdHighWaterMark", -1
            )
        )

    def _stamp_fresh_row_ids(
        self, adds: list[dict], hwm: int, commit_version: int
    ) -> int:
        """Assign fresh baseRowId ranges (spec: every add on a
        row-tracking table carries one) and the commit version; returns
        the new high-water mark. Pure metadata — O(files) driver work,
        row counts come from the already-computed footer stats."""
        for a in sorted(adds, key=lambda a: a["path"]):
            n = self._num_records(a)
            a["baseRowId"] = hwm + 1
            a["defaultRowCommitVersion"] = commit_version
            hwm += n
        return hwm

    @classmethod
    def _rt_domain_action(cls, hwm: int) -> dict:
        return {
            "domainMetadata": {
                "domain": cls.RT_DOMAIN,
                "configuration": json.dumps({"rowIdHighWaterMark": hwm}),
                "removed": False,
            }
        }

    def enable_row_tracking(self) -> int:
        """Writer feature ``rowTracking`` (spec: Row Tracking): every row
        gets a STABLE id — fresh rows derive theirs as
        ``baseRowId + position``; rewrites (UPDATE / OPTIMIZE / REORG)
        preserve ids by materializing them into hidden physical columns.
        Enablement upgrades the protocol (rowTracking + domainMetadata),
        stamps the table properties, BACKFILLS every active file with a
        baseRowId range (one dataChange=false re-add per file — O(files)
        metadata, no data rewrite even at 100 TB), and seeds the
        high-water-mark domain. Returns the committed version."""
        base = self.latest_version()
        if base is None:
            raise ValueError(f"not a Delta table: {self.path}")
        meta, adds, protocol, domains = self._snapshot_state_full(
            None, with_domains=True
        )
        if self._row_tracking_enabled(meta):
            raise ValueError(f"row tracking already enabled: {self.path}")
        conf = dict(meta.get("configuration") or {})
        conf["delta.enableRowTracking"] = "true"
        conf["delta.rowTracking.materializedRowIdColumnName"] = (
            f"_row-id-col-{uuid.uuid4().hex}"
        )
        conf["delta.rowTracking.materializedRowCommitVersionColumnName"] = (
            f"_row-commit-version-col-{uuid.uuid4().hex}"
        )
        new_meta = dict(meta)
        new_meta["configuration"] = conf
        version = base + 1
        hwm = self._rt_hwm(domains)
        backfill = []
        for a in adds:
            if a.get("baseRowId") is not None:
                continue  # already carries a range (idempotent backfill)
            b = dict(a)
            b["dataChange"] = False
            backfill.append(b)
        hwm = self._stamp_fresh_row_ids(backfill, hwm, version)
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": int(time.time() * 1000),
                    "operation": "SET TBLPROPERTIES",
                    "operationParameters": {
                        "properties": '{"delta.enableRowTracking":"true"}'
                    },
                }
            }
        ]
        new_proto = self._upgraded_protocol(
            protocol, {"rowTracking", "domainMetadata"}
        )
        if new_proto is not None:
            actions.append({"protocol": new_proto})
        actions.append({"metaData": new_meta})
        actions.append(self._rt_domain_action(hwm))
        actions.extend({"add": b} for b in backfill)
        return self._publish_or_conflict(version, actions, "ENABLE ROW TRACKING")

    def _attach_row_ids(
        self,
        spark: SparkSession,
        df: DataFrame,
        meta: dict,
        adds: list[dict],
    ) -> DataFrame:
        """Given a scan carrying ``__file``/``__rid`` (and the
        materialized physical columns), append ``_row_id`` /
        ``_row_commit_version``: the materialized value when the file
        has one, else ``baseRowId + row position``. The per-file base
        table is O(files) and broadcast — row ids never shuffle."""
        rid_col, ver_col = self._rt_mat_cols(meta)
        rows = [
            (
                os.path.basename(urllib.parse.unquote(a["path"])),
                a.get("baseRowId"),
                a.get("defaultRowCommitVersion"),
            )
            for a in adds
        ]
        base_df = spark.createDataFrame(
            rows or [("", None, None)], "__file string, __base long, __dcv long"
        )
        return (
            df.join(F.broadcast(base_df), "__file", "left")
            .withColumn(
                "_row_id",
                F.coalesce(
                    F.col(f"`{rid_col}`"), F.col("__base") + F.col("__rid")
                ),
            )
            .withColumn(
                "_row_commit_version",
                F.coalesce(F.col(f"`{ver_col}`"), F.col("__dcv")),
            )
            .drop("__base", "__dcv", rid_col, ver_col)
        )

    def read_with_row_ids(
        self, spark: SparkSession, *, version: int | None = None
    ) -> DataFrame:
        """Snapshot read plus the row-tracking metadata columns
        ``_row_id`` / ``_row_commit_version`` (delta-spark's
        ``_metadata.row_id`` / ``row_commit_version``). Ids are stable
        across UPDATE / OPTIMIZE / REORG and DV deletes; versions move
        to the updating commit."""
        meta, adds, _protocol = self._snapshot_state_full(version)
        if not self._row_tracking_enabled(meta):
            raise ValueError(
                f"row tracking is not enabled on {self.path}; call "
                "enable_row_tracking() first"
            )
        schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        df = self._scan(
            spark,
            version=version,
            keep_meta=True,
            extra_phys_cols=list(self._rt_mat_cols(meta)),
        )
        df = self._attach_row_ids(spark, df, meta, adds)
        return df.select(
            *[F.col(f"`{f.name}`") for f in schema.fields],
            "_row_id",
            "_row_commit_version",
        )

    # ------------------------------------------------ liquid clustering

    #: system domain holding the clustering columns (spec: Clustered Table)
    CLUSTERING_DOMAIN = "delta.clustering"

    def set_cluster_by(self, cols: list[str]) -> int:
        """``ALTER TABLE ... CLUSTER BY (cols)`` — the liquid-clustering
        twin (delta-spark's ``clusterBy``): records the clustering
        columns in the ``delta.clustering`` metadata domain (PHYSICAL
        names, per spec) and fences the protocol with the ``clustering``
        + ``domainMetadata`` writer features. From then on a bare
        ``compact()`` clusters on these columns automatically — CLUSTER
        BY is declarative layout, OPTIMIZE is its executor. 1 or 2
        columns (the Morton kernel interleaves two; one falls back to a
        range sort); hive-partitioned tables are refused — the two
        layouts fight over directory structure, delta-spark refuses
        too."""
        base = self.latest_version()
        if base is None:
            raise ValueError(f"not a Delta table: {self.path}")
        meta, _adds, protocol = self._snapshot_state_full(None)
        if meta.get("partitionColumns"):
            raise ValueError(
                "CLUSTER BY on a hive-partitioned table is not allowed "
                "(partitioning already owns the layout); choose one"
            )
        if not 1 <= len(cols) <= 2:
            raise ValueError(
                f"CLUSTER BY takes 1 or 2 columns, got {len(cols)} (the "
                "z-order kernel interleaves two keys)"
            )
        # columns may be dotted paths into nested structs ("s.x") —
        # stored as per-segment PHYSICAL paths per the spec
        schema_json = json.loads(meta["schemaString"])
        phys_paths: list[list[str]] = []
        for c in cols:
            fields = schema_json.get("fields", [])
            phys: list[str] = []
            for seg in c.split("."):
                fj = next(
                    (f for f in fields if f["name"] == seg), None
                )
                if fj is None:
                    raise ValueError(
                        f"CLUSTER BY column {c!r} not in schema "
                        f"(segment {seg!r})"
                    )
                phys.append(
                    (fj.get("metadata") or {}).get(
                        "delta.columnMapping.physicalName", seg
                    )
                )
                t = fj["type"]
                fields = t.get("fields", []) if isinstance(t, dict) else []
            phys_paths.append(phys)
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": int(time.time() * 1000),
                    "operation": "CLUSTER BY",
                    "operationParameters": {
                        "clusterBy": json.dumps(cols)
                    },
                }
            }
        ]
        new_proto = self._upgraded_protocol(
            protocol, {"clustering", "domainMetadata"}
        )
        if new_proto is not None:
            actions.append({"protocol": new_proto})
        actions.append(
            {
                "domainMetadata": {
                    "domain": self.CLUSTERING_DOMAIN,
                    "configuration": json.dumps(
                        {"clusteringColumns": phys_paths}
                    ),
                    "removed": False,
                }
            }
        )
        return self._publish_or_conflict(base + 1, actions, "CLUSTER BY")

    def cluster_by(self) -> list[str]:
        """The table's clustering columns (LOGICAL names; empty when not
        a clustered table)."""
        meta, _a, _p, domains = self._snapshot_state_full(
            None, with_domains=True
        )
        return self._clustering_cols(meta, domains)

    def _clustering_cols(
        self, meta: dict, domains: dict[str, dict]
    ) -> list[str]:
        """LOGICAL clustering columns from the domain's PHYSICAL paths —
        nested paths resolve segment by segment through the schema's
        struct metadata and come back as dotted names (``s.x``), which
        every consumer (range sort, Morton kernel) addresses with
        ``F.col``."""
        dm = domains.get(self.CLUSTERING_DOMAIN)
        if not dm:
            return []
        paths = json.loads(dm.get("configuration") or "{}").get(
            "clusteringColumns", []
        )
        schema_json = json.loads(meta["schemaString"])
        out = []
        for path in paths:
            fields = schema_json.get("fields", [])
            segs: list[str] = []
            for seg in path:
                fj = next(
                    (
                        f
                        for f in fields
                        if (f.get("metadata") or {}).get(
                            "delta.columnMapping.physicalName", f["name"]
                        )
                        == seg
                    ),
                    None,
                )
                if fj is None:
                    raise ValueError(
                        f"clustering column path {path!r} does not "
                        f"resolve in the schema (segment {seg!r})"
                    )
                segs.append(fj["name"])
                t = fj["type"]
                fields = t.get("fields", []) if isinstance(t, dict) else []
            out.append(".".join(segs))
        return out

    def rename_column(self, old: str, new: str) -> int:
        """Rename a column without touching any data file — the logical
        name changes in the schema metadata, the physical name stays
        bound to the bytes on disk. Requires column mapping.

        ``old`` may be a dotted path into nested STRUCTS
        (``"outer.inner"``), including structs inside ARRAY elements and
        MAP values (``"tags.label"`` where ``tags`` is
        ``array<struct<label,...>>`` — a path segment whose type is a
        container descends into the element/value struct, the shape
        every list-of-objects JSON ingest produces); ``new`` is the new
        leaf name. Every read path projects the result: Spark's
        positional struct cast AND the pure-python readers' arrow
        rebuild, which recurses through list/map children."""
        base = self.latest_version() or 0
        meta, _ = self._snapshot_state(None)
        if not self._column_mapping(meta):
            raise ValueError(
                "rename_column requires column mapping; call "
                "enable_column_mapping() first"
            )
        if "." in new:
            raise ValueError(f"new name {new!r} must be a leaf name, not a path")
        schema = json.loads(meta["schemaString"])
        *parents, leaf = old.split(".")
        container = schema  # a struct type-JSON node with "fields"
        for seg in parents:
            hit = next(
                (f for f in container.get("fields", []) if f["name"] == seg), None
            )
            if hit is None:
                raise ValueError(
                    f"no column {seg!r} on path {old!r} in "
                    f"{[f['name'] for f in container.get('fields', [])]}"
                )
            t = hit["type"]
            # descend through containers to the element/value struct:
            # array<struct<...>> and map<_, struct<...>> are one rename
            # hop (map KEYS are never structs in Delta schemas this
            # client writes; a struct key would need its own syntax)
            while isinstance(t, dict) and t.get("type") in ("array", "map"):
                t = (
                    t["elementType"]
                    if t["type"] == "array"
                    else t["valueType"]
                )
            if not (isinstance(t, dict) and t.get("type") == "struct"):
                raise ValueError(
                    f"{seg!r} on path {old!r} is not a struct (and not "
                    "an array/map of structs)"
                )
            container = t
        names = [f["name"] for f in container.get("fields", [])]
        if leaf not in names:
            raise ValueError(f"no column {leaf!r} in {names}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        for field in container["fields"]:
            if field["name"] == leaf:
                field["name"] = new
        new_meta = dict(meta)
        new_meta["schemaString"] = json.dumps(schema)
        new_meta["partitionColumns"] = [
            new if c == old else c for c in meta.get("partitionColumns") or []
        ]
        return self._metadata_commit("RENAME COLUMN", new_meta, base=base)

    #: spec Type Widening: fromType -> allowed toTypes, all changes an
    #: engine can serve by CASTING at read time with zero information
    #: loss (every widening verified against Spark 4.1's parquet reader,
    #: which upcasts the narrow physical type natively)
    _WIDENINGS = {
        "byte": {"short", "integer", "long", "double"},
        "short": {"integer", "long", "double"},
        "integer": {"long", "double"},
        "float": {"double"},
        "date": {"timestamp_ntz"},
    }
    #: integer -> decimal needs enough integral digits for every value
    #: the narrow type can hold (spec table: Byte/Short/Int need 10,
    #: Long needs 20)
    _INT_DECIMAL_DIGITS = {"byte": 10, "short": 10, "integer": 10, "long": 20}

    @classmethod
    def _widening_allowed(cls, from_t: str, to_t: str) -> bool:
        if to_t in cls._WIDENINGS.get(from_t, ()):
            return True
        m_to = re.fullmatch(r"decimal\((\d+),(\d+)\)", to_t)
        if not m_to:
            return False
        p2, s2 = int(m_to.group(1)), int(m_to.group(2))
        m_from = re.fullmatch(r"decimal\((\d+),(\d+)\)", from_t)
        if m_from:
            p1, s1 = int(m_from.group(1)), int(m_from.group(2))
            # scale and integral digits must both be non-decreasing,
            # and SOMETHING must actually widen
            return s2 >= s1 and (p2 - s2) >= (p1 - s1) and (p2, s2) != (p1, s1)
        need = cls._INT_DECIMAL_DIGITS.get(from_t)
        return need is not None and (p2 - s2) >= need

    def widen_column_type(self, column: str, new_type: str) -> int:
        """ALTER TABLE ... ALTER COLUMN ... TYPE — the spec's
        ``typeWidening`` reader-writer feature: change a TOP-LEVEL
        column's type to a strictly wider one in a metadata-only commit.
        Zero data files are rewritten — old files keep their narrow
        physical type and every reader CASTS at scan time (Spark 4.1's
        parquet reader upcasts natively; the pure-python readers conform
        each batch to the declared arrow type). At 100 TB this is the
        difference between an int column outgrowing 2^31 costing one
        log commit versus a full-table rewrite.

        Records the change in the field's ``delta.typeChanges`` metadata
        (the spec's provenance list — what lets a reader know which
        files may carry the narrow type), stamps
        ``delta.enableTypeWidening=true``, and fences BOTH protocol
        sides: reader v3 + ``typeWidening`` in readerFeatures (a reader
        that matched physical types blindly would crash or misread
        mixed-width files) and writer v7 + the feature. Narrowings and
        unrelated changes are refused; partition columns are refused
        (their values live as strings in directory layout keyed by the
        declared type)."""
        base = self.latest_version() or 0
        meta, _adds, protocol = self._snapshot_state_full(None)
        if column in (meta.get("partitionColumns") or []):
            raise ValueError(f"cannot widen partition column {column!r}")
        schema = json.loads(meta["schemaString"])
        hit = next(
            (f for f in schema["fields"] if f["name"] == column), None
        )
        if hit is None:
            raise ValueError(
                f"no column {column!r} in "
                f"{[f['name'] for f in schema['fields']]}"
            )
        from_t = hit["type"]
        if not isinstance(from_t, str):
            raise ValueError(
                f"column {column!r} is a {from_t.get('type')} — only "
                "primitive top-level columns can be widened"
            )
        new_type = new_type.strip().lower().replace(" ", "")
        if new_type == "timestampntz":
            new_type = "timestamp_ntz"
        if not self._widening_allowed(from_t, new_type):
            raise ValueError(
                f"{from_t} -> {new_type} is not a supported widening "
                "(spec typeWidening: byte/short/integer -> wider "
                "integers/long/double/decimal, float -> double, "
                "date -> timestamp_ntz, decimal -> wider decimal)"
            )
        md = dict(hit.get("metadata") or {})
        changes = list(md.get("delta.typeChanges") or [])
        changes.append({"fromType": from_t, "toType": new_type})
        md["delta.typeChanges"] = changes
        hit["metadata"] = md
        hit["type"] = new_type
        conf = dict(meta.get("configuration") or {})
        conf["delta.enableTypeWidening"] = "true"
        new_meta = dict(meta)
        new_meta["schemaString"] = json.dumps(schema)
        new_meta["configuration"] = conf
        proto = dict(protocol or {"minReaderVersion": 1, "minWriterVersion": 2})
        reader_feats = set(proto.get("readerFeatures") or [])
        if not reader_feats:
            # implied by the versioned protocol: v2 = column mapping,
            # v3 without a list = malformed (gated at read)
            if proto.get("minReaderVersion", 1) >= 2:
                reader_feats.add("columnMapping")
        reader_feats.add("typeWidening")
        writer_feats = self._implied_writer_features(proto)
        writer_feats.add("typeWidening")
        if new_type == "timestamp_ntz":
            # the widened column INTRODUCES the timestampNtz type, which
            # is its own reader-writer feature
            reader_feats.add("timestampNtz")
            writer_feats.add("timestampNtz")
        new_proto = {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": sorted(reader_feats),
            "writerFeatures": sorted(writer_feats),
        }
        now_ms = int(time.time() * 1000)
        return self._publish_or_conflict(
            base + 1,
            [
                {
                    "commitInfo": {
                        "timestamp": now_ms,
                        "operation": "CHANGE COLUMN",
                        "operationParameters": {
                            "column": column,
                            "fromType": from_t,
                            "toType": new_type,
                        },
                    }
                },
                {"protocol": new_proto},
                {"metaData": new_meta},
            ],
            "CHANGE COLUMN",
        )

    def add_check_constraint(self, name: str, expr: str) -> int:
        """ALTER TABLE ADD CONSTRAINT twin (writer feature
        ``checkConstraints``): record ``delta.constraints.<name>`` in the
        table configuration and upgrade the writer protocol. Every
        subsequent `write`/`merge`/`compact` refuses data violating the
        expression — validation is a Spark filter + count on the incoming
        frame (one extra pass over the batch, nothing driver-side). The
        current contents must already satisfy the constraint."""
        import keyword

        if not name.isidentifier() or keyword.iskeyword(name):
            raise ValueError(f"bad constraint name {name!r}")
        base = self.latest_version() or 0
        meta, _adds, protocol = self._snapshot_state_full(None)
        conf = dict(meta.get("configuration") or {})
        key = f"delta.constraints.{name}"
        if key in conf:
            raise ValueError(f"constraint {name!r} already exists")
        conf[key] = expr
        new_meta = dict(meta)
        new_meta["configuration"] = conf
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": int(time.time() * 1000),
                    "operation": "ADD CONSTRAINT",
                    "operationParameters": {"name": name, "expr": expr},
                }
            }
        ]
        proto = protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
        wf = proto.get("writerFeatures")
        if wf is not None:
            # feature-list protocol (e.g. after a DV delete): the feature
            # must be LISTED or compliant external writers won't enforce it
            if "checkConstraints" not in wf:
                actions.append(
                    {
                        "protocol": {
                            **proto,
                            "writerFeatures": sorted(
                                set(wf) | {"checkConstraints"}
                            ),
                        }
                    }
                )
        elif proto.get("minWriterVersion", 1) < 3:
            # checkConstraints is a writer-v3 capability; reader unchanged
            actions.append(
                {
                    "protocol": {
                        "minReaderVersion": proto.get("minReaderVersion", 1),
                        "minWriterVersion": 3,
                    }
                }
            )
        actions.append({"metaData": new_meta})
        return self._publish_or_conflict(base + 1, actions, "ADD CONSTRAINT")

    def drop_check_constraint(self, name: str) -> int:
        base = self.latest_version() or 0
        meta, _ = self._snapshot_state(None)
        conf = dict(meta.get("configuration") or {})
        key = f"delta.constraints.{name}"
        if key not in conf:
            raise ValueError(f"no constraint {name!r}")
        del conf[key]
        new_meta = dict(meta)
        new_meta["configuration"] = conf
        return self._metadata_commit("DROP CONSTRAINT", new_meta, base=base)

    def set_column_default(self, col: str, expr: str | None) -> int:
        """ALTER TABLE ALTER COLUMN SET/DROP DEFAULT (spec writer
        feature ``allowColumnDefaults``): stamp ``CURRENT_DEFAULT`` on
        an EXISTING column's field metadata and fence the feature so a
        defaults-unaware writer refuses instead of null-filling omitted
        inserts. ``expr=None`` drops the default. Per spec/delta-spark,
        a default can only ever be attached to a column that already
        exists — ADD COLUMN ... DEFAULT is refused everywhere (it would
        imply rewriting history to backfill); rows written while the
        column was absent from inserts before the default existed keep
        their NULLs, only subsequent omissions take the new value."""
        base = self.latest_version()
        if base is None:
            raise ValueError(f"no such table: {self.path}")
        meta, _adds, protocol = self._snapshot_state_full(None)
        schema_json = json.loads(meta["schemaString"])
        fj = next(
            (f for f in schema_json["fields"] if f["name"] == col), None
        )
        if fj is None:
            raise ValueError(
                f"column {col!r} does not exist; defaults attach to "
                "existing columns only (ADD COLUMN with DEFAULT is not "
                "supported, matching delta-spark)"
            )
        md = dict(fj.get("metadata") or {})
        if expr is None:
            if "CURRENT_DEFAULT" not in md:
                raise ValueError(f"column {col!r} has no default")
            del md["CURRENT_DEFAULT"]
        else:
            spark = SparkSession.getActiveSession()
            if spark is not None:
                # plan-time validation: the expression must evaluate and
                # cast to the column type (one constant row, driver-side)
                dtype = T.StructField.fromJson(fj).dataType
                spark.range(1).select(
                    F.expr(expr).cast(dtype)
                ).collect()
            md["CURRENT_DEFAULT"] = expr
        fj["metadata"] = md
        new_meta = dict(meta)
        new_meta["schemaString"] = json.dumps(schema_json)
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": int(time.time() * 1000),
                    "operation": "CHANGE COLUMN",
                    "operationParameters": {
                        "column": col,
                        "default": expr if expr is not None else "DROP",
                    },
                }
            }
        ]
        proto = protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
        feats = self._implied_writer_features(proto)
        if expr is not None and "allowColumnDefaults" not in feats:
            feats.add("allowColumnDefaults")
            actions.append(
                {
                    "protocol": {
                        "minReaderVersion": proto.get("minReaderVersion", 1),
                        "minWriterVersion": 7,
                        **(
                            {"readerFeatures": proto["readerFeatures"]}
                            if proto.get("readerFeatures") is not None
                            else {}
                        ),
                        "writerFeatures": sorted(feats),
                    }
                }
            )
        actions.append({"metaData": new_meta})
        return self._publish_or_conflict(base + 1, actions, "CHANGE COLUMN")

    def sync_identity(self, spark: SparkSession) -> int:
        """ALTER TABLE ... SYNC IDENTITY (delta-spark's verb): recompute
        every identity column's highWaterMark from the TABLE DATA — the
        repair a GENERATED BY DEFAULT table needs after explicit inserts
        drifted past (or foreign writers ignored) the recorded mark, so
        subsequent allocation cannot collide. The scan never collects
        rows: one grouped max/min per identity column (footer stats
        alone would under-count on DV'd files, so this reads through the
        DV-aware scan), committed as a metaData action. An empty table
        resets each mark to its pre-first-allocation value
        (start - step, delta-spark's convention). Returns the committed
        version; a no-drift sync still commits (it IS the audit record).
        """
        base = self.latest_version()
        if base is None:
            raise ValueError(f"no such table: {self.path}")
        meta, _adds, _protocol = self._snapshot_state_full(None)
        id_cols = self._identity_columns(meta)
        if not id_cols:
            raise ValueError(
                f"table {self.path} has no identity columns to sync"
            )
        aggs = [
            (
                F.max(f"`{c}`") if info["step"] > 0 else F.min(f"`{c}`")
            ).alias(c)
            for c, info in sorted(id_cols.items())
        ]
        observed = self.read(spark).agg(*aggs).first()
        schema_json = json.loads(meta["schemaString"])
        for c, info in sorted(id_cols.items()):
            val = observed[c]
            hwm = (
                info["start"] - info["step"]
                if val is None  # empty table: nothing allocated yet
                else int(val)
            )
            fj = next(f for f in schema_json["fields"] if f["name"] == c)
            fj["metadata"] = dict(fj.get("metadata") or {})
            fj["metadata"]["delta.identity.highWaterMark"] = hwm
        new_meta = dict(meta)
        new_meta["schemaString"] = json.dumps(schema_json)
        actions = [
            {
                "commitInfo": {
                    "timestamp": int(time.time() * 1000),
                    "operation": "SYNC IDENTITY",
                    "operationParameters": {
                        "columns": ",".join(sorted(id_cols))
                    },
                }
            },
            {"metaData": new_meta},
        ]
        return self._publish_or_conflict(base + 1, actions, "SYNC IDENTITY")

    #: features this client can DOWNGRADE out of a protocol. Writer-only
    #: features downgrade immediately once their metadata trace is gone
    #: (readers never depended on them); reader-writer features
    #: additionally require every RETAINED log version to be trace-free,
    #: i.e. history truncation (delta-spark's DROP FEATURE ... TRUNCATE
    #: HISTORY).
    DROPPABLE_WRITER_FEATURES = frozenset(
        {
            "checkConstraints",
            "allowColumnDefaults",
            "inCommitTimestamp",
            # behavioral contract only — no trace ever lands in the log,
            # so the downgrade needs no purge and no history truncation
            "vacuumProtocolCheck",
        }
    )
    DROPPABLE_READER_WRITER_FEATURES = frozenset({"deletionVectors"})

    def _dv_trace_in_log(self) -> list[int]:
        """Versions among the RETAINED commit JSONs whose actions still
        carry a deletionVector descriptor (add or remove side)."""
        out = []
        for v in self._commit_versions():
            for action in self._read_commit(v):
                payload = action.get("add") or action.get("remove")
                if payload and payload.get("deletionVector"):
                    out.append(v)
                    break
        return out

    def drop_feature(
        self,
        feature: str,
        spark: SparkSession | None = None,
        *,
        truncate_history: bool = False,
    ) -> int:
        """ALTER TABLE DROP FEATURE twin: downgrade the protocol out of
        ``feature`` once the table carries no trace of it, so legacy
        writers (and for reader-writer features, legacy READERS) can use
        the table again.

        The spec's removal contract drives the shape (delta-spark's
        two-phase drop): a feature may leave the protocol only when no
        RETAINED version of the table depends on it. For writer-only
        features the trace lives in current metadata (constraints in
        configuration, CURRENT_DEFAULT in the schema, the ICT property)
        — remove the trace, then drop. For ``deletionVectors`` the trace
        is in the data layout and the log: the CURRENT snapshot must be
        DV-free (run `reorg_purge` first — refused otherwise), and
        HISTORY still holds DV descriptors in old commits, so the drop
        additionally demands ``truncate_history=True``, which
        checkpoints the clean snapshot and expires the entire log prefix
        (`cleanup_metadata` with zero retention) before the downgrade
        commit — time travel to pre-drop versions then fails loudly, the
        price delta-spark's TRUNCATE HISTORY charges too. The downgrade
        commit also flips the feature's enabling table property off so
        the next writer does not silently re-introduce it."""
        base = self.latest_version()
        if base is None:
            raise ValueError(f"no such table: {self.path}")
        meta, adds, protocol = self._snapshot_state_full(None)
        feats = set((protocol or {}).get("writerFeatures") or [])
        if feature not in feats:
            raise ValueError(
                f"feature {feature!r} is not in the writer protocol "
                f"(present: {sorted(feats) or 'legacy versioned protocol'})"
            )
        supported = (
            self.DROPPABLE_WRITER_FEATURES
            | self.DROPPABLE_READER_WRITER_FEATURES
        )
        if feature not in supported:
            raise NotImplementedError(
                f"dropping {feature!r} is not supported by this client "
                f"(droppable: {sorted(supported)}); type features "
                "(variantType, timestampNtz) would require a schema "
                "rewrite and columnMapping/v2Checkpoints a full layout "
                "rewrite"
            )
        conf = dict(meta.get("configuration") or {})
        if feature == "checkConstraints":
            names = [k for k in conf if k.startswith("delta.constraints.")]
            if names:
                raise ValueError(
                    f"constraints still defined ({names}); "
                    "drop_check_constraint them first"
                )
        elif feature == "allowColumnDefaults":
            cols = sorted(self._column_defaults(meta))
            if cols:
                raise ValueError(
                    f"columns {cols} still declare CURRENT_DEFAULT; "
                    "set_column_default(col, None) them first"
                )
        elif feature == "inCommitTimestamp":
            # the property AND its provenance markers go in the drop
            # commit itself — they are only meaningful while ICT is on
            conf.pop("delta.enableInCommitTimestamps", None)
            conf.pop("delta.inCommitTimestampEnablementVersion", None)
            conf.pop("delta.inCommitTimestampEnablementTimestamp", None)
        elif feature == "deletionVectors":
            dv_files = [a["path"] for a in adds if a.get("deletionVector")]
            if dv_files:
                raise ValueError(
                    f"{len(dv_files)} data files still carry deletion "
                    "vectors; run reorg_purge(spark) first"
                )
            traced = self._dv_trace_in_log()
            if traced and not truncate_history:
                raise ValueError(
                    f"history (versions {traced[:5]}"
                    f"{'...' if len(traced) > 5 else ''}) still contains "
                    "deletion-vector commits a feature-unaware reader "
                    "would misread; pass truncate_history=True to "
                    "checkpoint the clean snapshot and expire them "
                    "(delta-spark's DROP FEATURE ... TRUNCATE HISTORY)"
                )
            if traced:
                if spark is None:
                    raise ValueError(
                        "truncate_history requires a SparkSession to "
                        "write the pre-drop checkpoint"
                    )
                self.checkpoint(spark)
                self.cleanup_metadata(retention_ms=0, force=True)
                remaining = self._dv_trace_in_log()
                if remaining:
                    raise RuntimeError(
                        f"history truncation left DV traces in versions "
                        f"{remaining}; refusing the downgrade"
                    )
                base = self.latest_version()
            conf["delta.enableDeletionVectors"] = "false"
        feats.discard(feature)
        reader_feats = (protocol or {}).get("readerFeatures")
        new_reader_ver = (protocol or {}).get("minReaderVersion", 1)
        new_reader_list = (
            sorted(set(reader_feats) - {feature})
            if reader_feats is not None
            else None
        )
        if new_reader_list is not None and not new_reader_list:
            # the dropped feature was the LAST reader feature: a v3
            # protocol must list features, so demote to the legacy
            # reader version — this is the payoff of the drop (legacy
            # readers regain the table)
            new_reader_list = None
            new_reader_ver = 1
        new_proto = {
            "minReaderVersion": new_reader_ver,
            "minWriterVersion": 7,
            **(
                {"readerFeatures": new_reader_list}
                if new_reader_list is not None
                else {}
            ),
            "writerFeatures": sorted(feats),
        }
        new_meta = dict(meta)
        new_meta["configuration"] = conf
        return self._publish_or_conflict(
            base + 1,
            [
                {
                    "commitInfo": {
                        "timestamp": int(time.time() * 1000),
                        "operation": "DROP FEATURE",
                        "operationParameters": {
                            "featureName": feature,
                            "truncateHistory": str(truncate_history).lower(),
                        },
                    }
                },
                {"protocol": new_proto},
                {"metaData": new_meta},
            ],
            "DROP FEATURE",
        )

    @staticmethod
    def _generation_exprs(meta_or_schema) -> dict[str, str]:
        """column -> ``delta.generationExpression`` from the schemaString
        (or a parsed meta dict); {} when the table has none."""
        if isinstance(meta_or_schema, dict) and "schemaString" in meta_or_schema:
            schema = json.loads(meta_or_schema["schemaString"])
        else:
            schema = meta_or_schema
        out: dict[str, str] = {}
        for f in schema.get("fields", []):
            expr = (f.get("metadata") or {}).get("delta.generationExpression")
            if expr is not None:
                out[f["name"]] = expr
        return out

    @staticmethod
    def _column_defaults(meta_or_schema) -> dict[str, str]:
        """column -> SQL default expression from the schemaString's
        ``CURRENT_DEFAULT`` field metadata (spec writer feature
        ``allowColumnDefaults``); {} when the table has none."""
        if isinstance(meta_or_schema, dict) and "schemaString" in meta_or_schema:
            schema = json.loads(meta_or_schema["schemaString"])
        else:
            schema = meta_or_schema
        out: dict[str, str] = {}
        for f in schema.get("fields", []):
            expr = (f.get("metadata") or {}).get("CURRENT_DEFAULT")
            if expr is not None:
                out[f["name"]] = expr
        return out

    def _apply_generated(self, df: DataFrame, gen: dict[str, str]) -> DataFrame:
        """Enforce generated columns on a write batch (the
        ``generatedColumns`` writer feature): a MISSING generated column
        is computed from its expression; a PRESENT one is validated
        value-by-value and the write refused on any mismatch — a
        non-enforcing writer would silently break every reader's
        assumption that the column equals its expression (e.g. partition
        pruning on a generated date)."""
        for col, expr in sorted(gen.items()):
            if col not in df.columns:
                df = df.withColumn(col, F.expr(expr))
            else:
                n_bad = df.filter(
                    ~(F.col(f"`{col}`").eqNullSafe(F.expr(expr)))
                ).count()
                if n_bad:
                    raise ValueError(
                        f"generated column {col!r} does not match its "
                        f"expression {expr!r} on {n_bad} row(s); write "
                        "refused (omit the column to have it computed)"
                    )
        return df

    #: writer features this client actually implements — the spec's
    #: writer contract: a table listing anything else must be REFUSED
    #: for mutation (writing past an unknown fence corrupts whatever
    #: invariant that feature maintains for every other engine)
    SUPPORTED_WRITER_FEATURES = frozenset(
        {
            "appendOnly",
            "invariants",
            "checkConstraints",
            "changeDataFeed",
            "generatedColumns",
            "columnMapping",
            "deletionVectors",
            "inCommitTimestamp",
            "rowTracking",
            "domainMetadata",
            "clustering",
            "identityColumns",
            "typeWidening",
            "variantType",
            "v2Checkpoints",
            "timestampNtz",
            "allowColumnDefaults",
            "vacuumProtocolCheck",
        }
    )

    @classmethod
    def _refuse_unknown_writer_features(
        cls, protocol: dict | None, operation: str
    ) -> None:
        """The spec's writer gate: a v7 feature-list protocol naming a
        feature this client does not implement refuses EVERY mutation —
        reading stays legal (reader features gate separately), but a
        blind write would break the unknown feature's invariant for
        readers that do honor it."""
        feats = set((protocol or {}).get("writerFeatures") or [])
        unknown = feats - cls.SUPPORTED_WRITER_FEATURES
        if unknown:
            raise NotImplementedError(
                f"{operation} refused: table requires writer feature(s) "
                f"{sorted(unknown)} this client does not implement"
            )

    def _check_constraints(self, df: DataFrame, meta: dict) -> None:
        """Refuse a write whose batch violates any recorded constraint —
        the writer-side contract every engine honoring ``checkConstraints``
        must enforce (a non-enforcing writer would silently corrupt the
        table's invariant for every reader). Also enforces the
        ``invariants`` feature's NOT NULL contract: a null landing in a
        column the schema declares non-nullable is exactly the silent
        corruption the feature fences."""
        schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        for f in schema.fields:
            if not f.nullable and f.name in df.columns:
                n_null = df.filter(F.col(f"`{f.name}`").isNull()).count()
                if n_null:
                    raise ValueError(
                        f"NOT NULL constraint on {f.name!r} violated by "
                        f"{n_null} row(s); write refused"
                    )
        conf = meta.get("configuration") or {}
        for key, expr in sorted(conf.items()):
            if not key.startswith("delta.constraints."):
                continue
            name = key[len("delta.constraints."):]
            # SQL CHECK semantics: NULL passes, only FALSE violates
            n_bad = df.filter(~F.coalesce(F.expr(expr), F.lit(True))).count()
            if n_bad:
                raise ValueError(
                    f"CHECK constraint {name!r} ({expr}) violated by "
                    f"{n_bad} row(s); write refused"
                )

    def _build_file_dvs(
        self,
        spark: SparkSession,
        cond,
        adds: list[dict],
        *,
        version: int | None = None,
    ):
        """Distributed deletion-vector construction: group the matched
        coordinates by data file ON THE EXECUTORS and serialize each
        file's union'd roaring bitmap there (``_file_dv_kernel``). Returns
        one collected Row ``(file, blob, card, n_new)`` per touched file —
        the ONLY thing that crosses to the driver, O(files × compressed
        bitmap bytes). Split out so tests can assert the transferred
        volume directly. ``version`` PINS the scan to the snapshot the
        caller's ``adds`` came from — without it a commit landing in the
        race window would make the scan see files the action assembly
        doesn't know (the publish conflict still protects the log, but
        the operation must fail as a CONFLICT, not a KeyError)."""
        prior_by_name = {
            os.path.basename(urllib.parse.unquote(a["path"])): a["deletionVector"]
            for a in adds
            if a.get("deletionVector")
        }
        return (
            self._scan(spark, version=version, keep_meta=True)
            .filter(cond)
            .select("__file", "__rid")
            .groupBy("__file")
            .applyInPandas(
                _file_dv_kernel(self.path, prior_by_name),
                "file string, blob binary, card long, n_new long",
            )
            .collect()
        )

    def _retry_if_disjoint_appends(
        self,
        condition,
        operation: str,
        attempt_fn,
        *,
        attempts: int = 3,
    ) -> int:
        """delta-spark's WriteSerializable ConflictChecker, narrowed to
        the provable case: when a predicate-scoped mutation loses the
        commit race and every winning commit is a PURE DATA APPEND whose
        files provably cannot contain rows matching ``condition``
        (log-stats refutation — the same prover the scan's file pruning
        uses), the operation re-derives from the fresh snapshot and
        retries; any other interleaving (removes, metadata/protocol
        changes, an append whose stats cannot refute the predicate, or
        an unparseable predicate) surfaces the conflict untouched.
        Bounded retries: a hot table that keeps losing still errors."""
        conjuncts: list = []
        if isinstance(condition, str):
            try:
                conjuncts = _parse_conjuncts(condition)
            except Exception:
                conjuncts = []
        for i in range(attempts):
            base = self.latest_version() or 0
            try:
                return attempt_fn()
            except ConcurrentWriteError:
                if not conjuncts or i == attempts - 1:
                    raise
                meta, _ = self._snapshot_state(None)
                part_cols = meta.get("partitionColumns") or []
                mapping = self._column_mapping(meta) or {}
                phys = lambda c: mapping.get(c, c)  # noqa: E731
                latest = self.latest_version() or 0
                for v in range(base + 1, latest + 1):
                    for action in self._read_commit(v):
                        if any(
                            k in action
                            for k in ("metaData", "protocol", "remove")
                        ):
                            raise
                        add = action.get("add")
                        if add is not None and _file_may_match(
                            add, conjuncts, part_cols, phys
                        ):
                            raise  # appended rows COULD match: conflict
                # every winner is an append provably outside the
                # predicate: re-derive from the fresh snapshot and retry
        raise AssertionError("unreachable")  # pragma: no cover

    def delete(
        self, spark: SparkSession, condition, *, txn: tuple[str, int] | None = None
    ) -> int:
        """DELETE WHERE ``condition`` — see `_delete_attempt` for the
        mechanics. On a lost commit race, retries automatically iff
        every winning commit is a pure append whose file stats refute
        ``condition`` (`_retry_if_disjoint_appends` — delta-spark's
        WriteSerializable allowance); otherwise ConcurrentWriteError."""
        return self._retry_if_disjoint_appends(
            condition,
            "DELETE",
            lambda: self._delete_attempt(spark, condition, txn=txn),
        )

    def _delete_attempt(
        self, spark: SparkSession, condition, *, txn: tuple[str, int] | None = None
    ) -> int:
        """DELETE WHERE ``condition`` via deletion vectors — no data file
        is rewritten. Returns the committed version (a no-op delete still
        commits, mirroring delta-spark's DELETE semantics).

        Matching rows are located by their physical coordinates (data
        file name, row index within the file — Spark's
        ``_metadata.row_index``), serialized as a roaring bitmap sidecar
        per file (``sources.dv``), and committed as remove+re-add of the
        SAME data file with a ``deletionVector`` descriptor. Readers drop
        the flagged positions via a broadcast anti-join; `compact()`
        rewrites files and sheds the vectors. A file whose every row is
        deleted is removed outright (no empty-file DV). Existing vectors
        union with the new deletions (rows already deleted are invisible
        to ``condition`` — the scan applies current DVs first).

        DV construction is DISTRIBUTED (delta-spark's executor-side DV
        writer shape): matched coordinates group by file on the
        executors, each file's bitmap (new rows ∪ its prior vector) is
        serialized there, and the driver collects one compressed blob per
        touched file — O(files), never O(matched rows) — then writes
        sidecars and the commit. A delete matching half a 100 TB table
        ships per-file roaring bytes to the driver, not billions of
        (file, rid) tuples.

        First delete upgrades the protocol to reader v3 / writer v7 with
        the ``deletionVectors`` feature (plus ``columnMapping`` when the
        table is mapped) — exactly the upgrade delta-spark performs.
        """
        from . import dv as _dv

        # pin the commit slot to the SNAPSHOT this delete derives from: a
        # commit landing between snapshot and publish must collide at
        # base+1 and surface ConcurrentWriteError, never be built over
        if txn is not None:
            applied = self.last_txn_version(txn[0])
            if applied is not None and applied >= txn[1]:
                return self.latest_version()  # already applied: replay no-op
        base = self.latest_version() or 0
        meta, adds, protocol = self._snapshot_state_full(None)
        self._refuse_unknown_writer_features(protocol, "DELETE")
        self._refuse_if_append_only(meta, "DELETE")
        cond = F.expr(condition) if isinstance(condition, str) else condition
        file_dvs = self._build_file_dvs(spark, cond, adds, version=base)
        n_deleted = sum(r["n_new"] for r in file_dvs)
        cdc_actions: list[dict] = []
        if n_deleted and self._cdf_enabled(meta):
            # CDC contract (changeDataFeed writer feature): the deleted
            # rows land under _change_data/ so change readers get them
            # without re-deriving the DV delta
            deleted_rows = (
                self._scan(spark, version=base, keep_meta=True)
                .filter(cond)
                .drop("__file", "__rid")
                .withColumn("_change_type", F.lit("delete"))
            )
            cdc_actions = self._stage_cdc_files(
                deleted_rows, version=base + 1, meta=meta
            )
        now_ms = int(time.time() * 1000)
        txn_actions = (
            [{"txn": {"appId": txn[0], "version": txn[1], "lastUpdated": now_ms}}]
            if txn is not None
            else []
        )

        by_name = {
            os.path.basename(urllib.parse.unquote(a["path"])): a for a in adds
        }
        actions: list[dict] = [
            *txn_actions,
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "DELETE",
                    "operationParameters": {},
                    "operationMetrics": {
                        "numDeletedRows": str(n_deleted),
                        "numDvsAdded": str(len(file_dvs)),
                    },
                }
            }
        ]
        actions.extend(self._dv_upgrade_actions(meta, protocol))
        actions.extend(self._dv_file_actions(file_dvs, by_name, now_ms))
        actions.extend(cdc_actions)

        return self._publish_or_conflict(base + 1, actions, "DELETE")

    def _dv_upgrade_actions(self, meta: dict, protocol: dict | None) -> list[dict]:
        """protocol+metaData actions upgrading the table for deletion
        vectors (reader v3 / writer v7), or [] when already upgraded.
        Shared by `delete` and `update` (both commit DVs)."""
        actions: list[dict] = []
        needs_v3 = (protocol or {}).get("minReaderVersion", 1) < 3 or (
            "deletionVectors" not in ((protocol or {}).get("readerFeatures") or [])
        )
        if needs_v3:
            # upgrading to the feature-list protocol must CARRY OVER every
            # capability the prior versioned protocol implied — a v7
            # protocol lists the features a compliant writer enforces, so
            # dropping e.g. checkConstraints here would let delta-spark
            # append constraint-violating rows (silent invariant loss)
            proto = protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
            reader_feats = set(proto.get("readerFeatures") or [])
            if not reader_feats and proto.get("minReaderVersion", 1) >= 2:
                reader_feats = {"columnMapping"}
            writer_feats = self._implied_writer_features(proto)
            # state-derived (belt and braces: a constraint recorded in the
            # configuration must be listed regardless of the prior version)
            if any(
                k.startswith("delta.constraints.")
                for k in (meta.get("configuration") or {})
            ):
                writer_feats.add("checkConstraints")
            if self._column_mapping(meta):
                reader_feats.add("columnMapping")
                writer_feats.add("columnMapping")
            reader_feats.add("deletionVectors")
            writer_feats.add("deletionVectors")
            actions.append(
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": sorted(reader_feats),
                        "writerFeatures": sorted(writer_feats),
                    }
                }
            )
            new_meta = dict(meta)
            conf = dict(new_meta.get("configuration") or {})
            conf["delta.enableDeletionVectors"] = "true"
            new_meta["configuration"] = conf
            actions.append({"metaData": new_meta})
        return actions

    def _dv_file_actions(
        self, file_dvs, by_name: dict[str, dict], now_ms: int
    ) -> list[dict]:
        """remove + re-add-with-deletionVector actions for each touched
        file (fully-deleted files are removed outright). ``file_dvs`` are
        the executor-built `(file, blob, card, n_new)` rows from
        `_build_file_dvs`; the driver persists every surviving file's
        blob into ONE PACKED sidecar per commit (spec 'offset' layout —
        a broad delete touching a million files costs one sidecar PUT,
        not a million; the round-8 mutation probe counted one sidecar
        FILE per touched file before this) and records the descriptors."""
        from . import dv as _dv

        rows = sorted(file_dvs, key=lambda r: r["file"])

        def is_full(r) -> bool:
            stats = by_name[r["file"]].get("stats")
            n_rows = json.loads(stats).get("numRecords") if stats else None
            return n_rows is not None and r["card"] >= n_rows

        fully_deleted = {r["file"] for r in rows if is_full(r)}
        survivors = [r for r in rows if r["file"] not in fully_deleted]
        descriptors = _dv.make_dv_descriptors_packed(
            self.path,
            [(bytes(r["blob"]), int(r["card"])) for r in survivors],
        )
        desc_of = {
            r["file"]: d for r, d in zip(survivors, descriptors)
        }
        actions: list[dict] = []
        for r in rows:
            a = by_name[r["file"]]
            prior = a.get("deletionVector")
            actions.append(
                {
                    "remove": {
                        "path": a["path"],
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                        **({"deletionVector": prior} if prior else {}),
                    }
                }
            )
            if r["file"] in fully_deleted:
                continue  # fully-deleted file: drop it, no re-add
            new_add = {
                k: v for k, v in a.items() if k != "deletionVector"
            }
            new_add["modificationTime"] = now_ms
            new_add["dataChange"] = True
            new_add["deletionVector"] = desc_of[r["file"]]
            actions.append({"add": new_add})
        return actions

    def update(
        self,
        spark: SparkSession,
        condition,
        set_exprs: dict,
        *,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """UPDATE SET ... WHERE ``condition`` — see `_update_attempt`.
        On a lost commit race, retries automatically iff every winning
        commit is a pure append whose file stats refute ``condition``
        (`_retry_if_disjoint_appends`); otherwise
        ConcurrentWriteError."""
        return self._retry_if_disjoint_appends(
            condition,
            "UPDATE",
            lambda: self._update_attempt(
                spark, condition, set_exprs, txn=txn
            ),
        )

    def _update_attempt(
        self,
        spark: SparkSession,
        condition,
        set_exprs: dict,
        *,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """UPDATE SET ... WHERE ``condition`` — deletion vectors plus an
        append, in ONE atomic commit (delta-spark's DV-enabled UPDATE):
        matched rows are flagged in per-file roaring vectors (built
        executor-side, O(files) driver transfer — `_build_file_dvs`) and
        their updated images land as new data files staged from the same
        snapshot. Untouched rows in matched files are NOT rewritten —
        at 100 TB an update touching 0.1% of rows costs KBs of bitmap
        plus the updated rows themselves, not a petabyte rewrite (the
        `merge` path's copy-on-write is the contrast).

        ``set_exprs`` maps column name -> SQL expression string or
        Column, evaluated against the matched rows' CURRENT values.
        Updates may move rows across partitions (the new image restages
        under its new partition directory). CHECK constraints validate
        the updated images before anything commits. Returns the
        committed version; a no-match update still commits (delta-spark
        semantics), and ``txn`` makes replays no-ops."""
        if txn is not None:
            applied = self.last_txn_version(txn[0])
            if applied is not None and applied >= txn[1]:
                return self.latest_version()  # already applied: replay no-op
        base = self.latest_version() or 0
        meta, adds, protocol, domains = self._snapshot_state_full(
            None, with_domains=True
        )
        self._refuse_unknown_writer_features(protocol, "UPDATE")
        self._refuse_if_append_only(meta, "UPDATE")
        cond = F.expr(condition) if isinstance(condition, str) else condition
        part_cols = meta.get("partitionColumns") or []
        mapping = self._column_mapping(meta) or {}
        rt = self._row_tracking_enabled(meta)

        # the updated images, computed from the SAME snapshot the DVs
        # derive from (staging executes before the commit publishes).
        # Row tracking: carry each matched row's stable id through the
        # rewrite so the new image PRESERVES it (materialized below)
        if rt:
            matched = self._attach_row_ids(
                spark,
                self._scan(
                    spark,
                    version=base,
                    keep_meta=True,
                    extra_phys_cols=list(self._rt_mat_cols(meta)),
                ).filter(cond),
                meta,
                adds,
            ).drop("__file", "__rid", "_row_commit_version")
        else:
            matched = self._scan(
                spark, version=base, keep_meta=True
            ).filter(cond).drop("__file", "__rid")
        schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        col_types = {f.name: f.dataType for f in schema.fields}
        set_cols: dict = {}
        id_cols = self._identity_columns(meta)
        for col, expr in sorted(set_exprs.items()):
            if col in id_cols:
                raise ValueError(
                    f"cannot UPDATE identity column {col!r} "
                    "(GENERATED ALWAYS AS IDENTITY; delta-spark "
                    "refuses the same way)"
                )
            if col not in col_types:
                raise ValueError(
                    f"UPDATE SET references unknown column {col!r} "
                    f"(table has {sorted(col_types)})"
                )
            e = F.expr(expr) if isinstance(expr, str) else expr
            # implicit cast to the column's DECLARED type (delta-spark's
            # UPDATE semantics): a literal like 0.0 parses as DECIMAL and
            # would otherwise drift the staged file's type off-schema
            set_cols[col] = e.cast(self._strip_meta(col_types[col]))
        # ONE projection so every RHS sees the PRE-update row: SQL UPDATE
        # evaluates all SET expressions simultaneously (SET a=b, b=a
        # swaps; a chained withColumn would copy instead)
        updated = matched.select(
            *[
                set_cols[f.name].alias(f.name)
                if f.name in set_cols
                else F.col(f"`{f.name}`")
                for f in schema.fields
            ],
            *([F.col("_row_id")] if rt else []),
        )
        # generated columns: recompute any not explicitly SET (their
        # sources may have changed); validate any that were SET directly
        for col, gexpr in sorted(self._generation_exprs(meta).items()):
            if col in set_exprs:
                n_bad = updated.filter(
                    ~(F.col(f"`{col}`").eqNullSafe(F.expr(gexpr)))
                ).count()
                if n_bad:
                    raise ValueError(
                        f"UPDATE sets generated column {col!r} to values "
                        f"violating its expression {gexpr!r} on {n_bad} "
                        "row(s); omit it to have it recomputed"
                    )
            else:
                updated = updated.withColumn(
                    col,
                    F.expr(gexpr).cast(self._strip_meta(col_types[col])),
                )
        self._check_constraints(updated, meta)

        file_dvs = self._build_file_dvs(spark, cond, adds, version=base)
        n_updated = sum(r["n_new"] for r in file_dvs)
        sz_by_name = {
            os.path.basename(urllib.parse.unquote(a["path"])): int(
                a.get("size") or 0
            )
            for a in adds
        }
        touched_bytes = sum(
            sz_by_name.get(r["file"], 0) for r in file_dvs if r["n_new"]
        )
        cdc_actions: list[dict] = []
        schema_cols = [F.col(f"`{f.name}`") for f in schema.fields]
        if n_updated and self._cdf_enabled(meta):
            # TRUE pre/post images — the thing log synthesis cannot give
            # (spec change types update_preimage / update_postimage).
            # Projected to the LOGICAL schema: row-id carrier columns
            # must not leak into the change feed
            images = matched.select(*schema_cols).withColumn(
                "_change_type", F.lit("update_preimage")
            ).unionByName(
                updated.select(*schema_cols).withColumn(
                    "_change_type", F.lit("update_postimage")
                )
            )
            cdc_actions = self._stage_cdc_files(
                images,
                version=base + 1,
                meta=meta,
                co_partition_bytes=2 * touched_bytes,
            )
        stage_df = updated
        if rt:
            # materialize the preserved id and the updating commit's
            # version into the hidden physical columns (spec: rewrites
            # keep row ids stable, row commit versions move)
            rid_col, ver_col = self._rt_mat_cols(meta)
            stage_df = (
                updated.withColumn(rid_col, F.col("_row_id"))
                .withColumn(ver_col, F.lit(base + 1).cast("long"))
                .drop("_row_id")
            )
        new_adds = (
            self._stage_files(
                stage_df,
                version=base + 1,
                partition_by=part_cols,
                mapping=mapping,
                schema_json=meta["schemaString"],
                id_mode=self._mapping_mode(meta) == "id",
                # rewrite volume bounded by the matched files' bytes —
                # the salt hint keeps a hot partition value's rewrite
                # from serializing into one task
                co_partition=True,
                co_partition_bytes=touched_bytes,
            )
            if n_updated
            else []
        )
        now_ms = int(time.time() * 1000)
        by_name = {
            os.path.basename(urllib.parse.unquote(a["path"])): a for a in adds
        }
        actions: list[dict] = []
        if txn is not None:
            actions.append(
                {"txn": {"appId": txn[0], "version": txn[1], "lastUpdated": now_ms}}
            )
        actions.append(
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "UPDATE",
                    "operationParameters": {},
                    "operationMetrics": {
                        "numUpdatedRows": str(n_updated),
                        "numDvsAdded": str(len(file_dvs)),
                        "numAddedFiles": str(len(new_adds)),
                    },
                }
            }
        )
        actions.extend(self._dv_upgrade_actions(meta, protocol))
        actions.extend(self._dv_file_actions(file_dvs, by_name, now_ms))
        if rt and new_adds:
            # the rewritten files still need FRESH baseRowId ranges (spec:
            # every add carries one); the materialized column overrides
            # them on read, preserving the original ids
            hwm = self._stamp_fresh_row_ids(
                new_adds, self._rt_hwm(domains), base + 1
            )
            actions.append(self._rt_domain_action(hwm))
        actions.extend({"add": a} for a in new_adds)
        actions.extend(cdc_actions)
        return self._publish_or_conflict(base + 1, actions, "UPDATE")

    def clone_to(
        self, target_path: str, *, version: int | None = None
    ) -> "DeltaTable":
        """SHALLOW CLONE: create a NEW Delta table at ``target_path``
        whose first commit references this snapshot's data files (and DV
        sidecars) by ABSOLUTE path — zero bytes of data copied, O(files)
        metadata written. The dev/test-fork primitive: at 100 TB a clone
        is a log write, and the fork then evolves independently (appends,
        deletes, updates, compaction land under the CLONE's root; the
        source never sees them). ``version`` clones a time-travel
        snapshot.

        Spec note: ``add.path`` is defined as a relative path OR an
        absolute URI, which is exactly how delta-spark's shallow clones
        reference source files. Caveats shared with delta-spark: VACUUM
        on the SOURCE can delete files a clone still references (vacuum
        only protects its own snapshot), and a clone is not streamable
        (its files live outside its root — `read_stream` gates this).
        """
        from . import dv as _dv

        meta, adds, protocol, domains = self._snapshot_state_full(
            version, with_domains=True
        )
        target = DeltaTable(target_path)
        if target.latest_version() is not None:
            raise ValueError(f"clone target already exists: {target_path}")
        now_ms = int(time.time() * 1000)
        new_adds: list[dict] = []
        for a in adds:
            abs_path = os.path.abspath(
                os.path.join(self.path, urllib.parse.unquote(a["path"]))
            )
            na = dict(a)
            na["path"] = urllib.parse.quote(abs_path, safe="/=")
            na["modificationTime"] = now_ms
            na["dataChange"] = True
            d = a.get("deletionVector")
            if d and d.get("storageType") == "u":
                # 'u' sidecars resolve against the TABLE root; the clone's
                # root is elsewhere, so pin them to absolute 'p' paths
                prefix, uid = _dv.split_u_descriptor(d["pathOrInlineDv"])
                na["deletionVector"] = {
                    **d,
                    "storageType": "p",
                    "pathOrInlineDv": os.path.abspath(
                        os.path.join(
                            self.path, _dv.dv_sidecar_name(uid, prefix)
                        )
                    ),
                }
            new_adds.append(na)
        new_meta = dict(meta)
        new_meta["id"] = str(uuid.uuid4())
        new_meta["createdTime"] = now_ms
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "CLONE",
                    "operationParameters": {
                        "source": self.path,
                        "sourceVersion": str(
                            version
                            if version is not None
                            else self.latest_version()
                        ),
                        "isShallow": "true",
                    },
                    "operationMetrics": {
                        "sourceNumFiles": str(len(new_adds)),
                        "numCopiedFiles": "0",
                    },
                }
            },
            *(
                [{"protocol": protocol}]
                if protocol is not None
                else [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}]
            ),
            {"metaData": new_meta},
            # live metadata domains carry over (spec: CLONE copies domain
            # metadata) — without this, a row-tracked clone would lose its
            # high-water mark and re-allocate overlapping row ids
            *(
                {
                    "domainMetadata": {
                        "domain": dm["domain"],
                        "configuration": dm.get("configuration"),
                        "removed": False,
                    }
                }
                for dm in domains.values()
            ),
            *({"add": a} for a in new_adds),
        ]
        target._publish_or_conflict(0, actions, "CLONE")
        return target

    def fork_with_history(self, target_path: str) -> "DeltaTable":
        """FULL-HISTORY shallow fork: reproduce EVERY commit JSON of
        this table at ``target_path`` with data-file references
        rewritten to absolute paths into the source — zero data bytes
        copied, O(log) metadata I/O. Where `clone_to` collapses history
        into one CLONE commit (correct for snapshot forks, useless for
        log-exercising consumers), the fork's log REPLAYS identically:
        version numbers, per-commit adds, commitInfo operations and
        metrics, txn idempotence state, domain metadata. This is the
        harness primitive behind the history / time-travel / CDF /
        log-tail fixtures: build the multi-commit base ONCE per
        session, fork per query for the cost of rewriting a few KB of
        JSON instead of re-running every Spark write (the round-9
        bench's change-feed audit lines were ~60% fixture build).

        Requires an all-JSON log (no checkpoints or minor compactions
        yet): those carriers hold reconciled STATE whose embedded
        relative paths would also need rewriting, and a fork that wants
        them fresh should create them on the fork — so their presence
        is a loud error, not a silent partial fork. Same caveats as
        `clone_to`: VACUUM on the source can delete files forks still
        reference, and the JVM file-source `read_stream` gates
        out-of-root files (the pydelta source reads absolute adds
        fine). The fork gets a fresh table id per metaData rewrite; all
        other action content is preserved verbatim.
        """
        from . import dv as _dv

        versions = self._commit_versions()
        if not versions:
            raise ValueError(f"not a Delta table (no commits): {self.path}")
        if versions != list(range(versions[0], versions[-1] + 1)) or versions[0] != 0:
            raise ValueError(
                f"fork_with_history needs the complete JSON log from "
                f"version 0; {self.path} retains {versions[:3]}..."
            )
        if self._last_checkpoint() is not None or self._compaction_ranges():
            raise ValueError(
                "fork_with_history requires an all-JSON log (no "
                "checkpoints / log compactions) — create those on the "
                "fork instead"
            )
        target = DeltaTable(target_path)
        if target.latest_version() is not None:
            raise ValueError(f"fork target already exists: {target_path}")
        os.makedirs(target._log_dir, exist_ok=True)
        new_table_id = str(uuid.uuid4())

        def rewrite_path(quoted: str) -> str:
            rel = urllib.parse.unquote(quoted)
            if rel.startswith("/") or rel.startswith("file:"):
                return quoted  # already absolute (fork of a fork/clone)
            return urllib.parse.quote(
                os.path.abspath(os.path.join(self.path, rel)), safe="/="
            )

        def rewrite_dv(d: dict | None) -> dict | None:
            if d and d.get("storageType") == "u":
                prefix, uid = _dv.split_u_descriptor(d["pathOrInlineDv"])
                return {
                    **d,
                    "storageType": "p",
                    "pathOrInlineDv": os.path.abspath(
                        os.path.join(
                            self.path, _dv.dv_sidecar_name(uid, prefix)
                        )
                    ),
                }
            return d

        for v in versions:
            out: list[dict] = []
            for action in self._read_commit(v):
                if "add" in action:
                    a = dict(action["add"])
                    a["path"] = rewrite_path(a["path"])
                    if a.get("deletionVector"):
                        a["deletionVector"] = rewrite_dv(a["deletionVector"])
                    out.append({"add": a})
                elif "remove" in action:
                    r = dict(action["remove"])
                    r["path"] = rewrite_path(r["path"])
                    if r.get("deletionVector"):
                        r["deletionVector"] = rewrite_dv(r["deletionVector"])
                    out.append({"remove": r})
                elif "cdc" in action:
                    c = dict(action["cdc"])
                    c["path"] = rewrite_path(c["path"])
                    out.append({"cdc": c})
                elif "metaData" in action:
                    m = dict(action["metaData"])
                    m["id"] = new_table_id
                    out.append({"metaData": m})
                else:
                    out.append(action)
            name = f"{v:020d}.json"
            tmp = os.path.join(
                target._log_dir, f".{name}.{uuid.uuid4().hex}.tmp"
            )
            with open(tmp, "w") as f:
                for action in out:
                    f.write(json.dumps(action, separators=(",", ":")) + "\n")
            os.replace(tmp, os.path.join(target._log_dir, name))
        return target

    def deep_clone_to(
        self,
        target_path: str,
        *,
        version: int | None = None,
        spark: SparkSession | None = None,
    ) -> "DeltaTable":
        """DEEP CLONE: copy this snapshot's data files (and deletion-
        vector bitmaps) under ``target_path`` and publish a fresh log
        referencing them by RELATIVE path — delta-spark's
        ``CLONE ... (deep)``. Where `clone_to` (shallow) is the
        zero-copy dev fork, the deep form buys full INDEPENDENCE: the
        clone survives the source's VACUUM, is streamable (no
        out-of-root files for `read_stream` to gate), and vacuums /
        compacts on its own without ever touching source bytes — the
        promote-to-production half of the clone story.

        Layout: relative adds keep their relative path, so hive
        partition layout (and the one-scan fast path) carries over
        byte-for-byte; absolute adds (cloning a shallow clone = lineage
        cut) land under fresh root-level names and that table reads
        through the literal-injection union path — correctness is the
        log's partitionValues either way. DV descriptors are re-packed
        into ONE fresh sidecar for the whole clone commit (the packed
        layout, never one file per DV); inline DVs copy verbatim.
        Stats, baseRowId/defaultRowCommitVersion, protocol, and live
        metadata domains (row-tracking high-water mark included) carry
        over; the table id is fresh.

        With ``spark``, the data-file copies fan out across executors
        (one `mapInPandas` pass over (src, dst) pairs — the same
        shared-storage contract as `vacuum(spark=)`/`fsck_repair`,
        with the same per-file error reporting); the log publish stays
        one driver-side atomic commit. DV re-packing is driver-side in
        both forms: it moves compressed bitmaps, O(KB per file), not
        data.
        """
        from . import dv as _dv

        meta, adds, protocol, domains = self._snapshot_state_full(
            version, with_domains=True
        )
        target = DeltaTable(target_path)
        if target.latest_version() is not None:
            raise ValueError(f"clone target already exists: {target_path}")
        os.makedirs(target_path, exist_ok=True)
        now_ms = int(time.time() * 1000)

        copies: list[tuple[str, str]] = []  # (src_abs, dst_rel)
        new_adds: list[dict] = []
        dv_jobs: list[tuple[int, bytes, int]] = []  # (add idx, blob, card)
        for a in sorted(adds, key=lambda x: x["path"]):
            rel = urllib.parse.unquote(a["path"])
            if rel.startswith("/") or rel.startswith("file:"):
                src_abs = rel[len("file:"):] if rel.startswith("file:") else rel
                dst_rel = f"part-00000-{uuid.uuid4().hex}.parquet"
            else:
                src_abs = os.path.join(self.path, rel)
                dst_rel = rel
            copies.append((src_abs, dst_rel))
            na = dict(a)
            na["path"] = urllib.parse.quote(dst_rel, safe="/=")
            na["modificationTime"] = now_ms
            na["dataChange"] = True
            d = a.get("deletionVector")
            if d and d.get("storageType") in ("u", "p"):
                na.pop("deletionVector")
                dv_jobs.append(
                    (
                        len(new_adds),
                        _dv.resolve_dv_blob(self.path, d),
                        int(d.get("cardinality") or 0),
                    )
                )
            new_adds.append(na)

        if dv_jobs:
            uid = uuid.uuid4()
            sidecar_rel = _dv.dv_sidecar_name(uid)
            fields = _dv.write_dv_file_packed(
                os.path.join(target_path, sidecar_rel),
                [blob for _i, blob, _c in dv_jobs],
            )
            for (idx, _blob, card), f in zip(dv_jobs, fields):
                new_adds[idx]["deletionVector"] = {
                    "storageType": "u",
                    "pathOrInlineDv": _dv.z85_encode(uid.bytes),
                    "offset": f["offset"],
                    "sizeInBytes": f["sizeInBytes"],
                    "cardinality": card,
                }

        if spark is not None and copies:
            def copy_kernel(batches):
                import os as _os
                import shutil as _shutil

                import pandas as _pd

                for pdf in batches:
                    rows = []
                    for src, dst in zip(pdf["src"], pdf["dst"]):
                        try:
                            _os.makedirs(
                                _os.path.dirname(dst) or ".", exist_ok=True
                            )
                            _shutil.copyfile(src, dst)
                            rows.append((dst, None))
                        except Exception as exc:  # noqa: BLE001
                            rows.append(
                                (dst, f"{type(exc).__name__}: {exc}")
                            )
                    yield _pd.DataFrame(rows, columns=["dst", "err"])

            pairs = [
                (src, os.path.join(target_path, dst)) for src, dst in copies
            ]
            out = (
                spark.createDataFrame(pairs, "src string, dst string")
                .repartition(min(32, max(1, len(pairs) // 64 + 1)))
                .mapInPandas(copy_kernel, "dst string, err string")
                .collect()
            )
            failed = sorted(r["dst"] for r in out if r["err"])
            if failed:
                raise ValueError(
                    f"deep clone copy failed for {len(failed)} of "
                    f"{len(pairs)} file(s) (e.g. {failed[:3]}): if the "
                    "sources exist on the driver, the executors do not "
                    "share its filesystem — retry without spark="
                )
        else:
            import shutil

            for src, dst_rel in copies:
                dst = os.path.join(target_path, dst_rel)
                os.makedirs(os.path.dirname(dst) or ".", exist_ok=True)
                shutil.copyfile(src, dst)

        new_meta = dict(meta)
        new_meta["id"] = str(uuid.uuid4())
        new_meta["createdTime"] = now_ms
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "CLONE",
                    "operationParameters": {
                        "source": self.path,
                        "sourceVersion": str(
                            version
                            if version is not None
                            else self.latest_version()
                        ),
                        "isShallow": "false",
                    },
                    "operationMetrics": {
                        "sourceNumFiles": str(len(new_adds)),
                        "numCopiedFiles": str(len(copies)),
                    },
                }
            },
            *(
                [{"protocol": protocol}]
                if protocol is not None
                else [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}]
            ),
            {"metaData": new_meta},
            *(
                {
                    "domainMetadata": {
                        "domain": dm["domain"],
                        "configuration": dm.get("configuration"),
                        "removed": False,
                    }
                }
                for dm in domains.values()
            ),
            *({"add": a} for a in new_adds),
        ]
        target._publish_or_conflict(0, actions, "CLONE")
        return target

    def merge(self, source: DataFrame, keys: list[str]) -> int:
        """Upsert ``source`` by ``keys``: MERGE WHEN MATCHED UPDATE SET * /
        WHEN NOT MATCHED INSERT * (the delta-spark ``merge`` shape the
        reference's lakehouse would use for corrections). Returns the
        committed version.

        Sugar over `merge_into` — runs the two-phase file-pruned merge,
        so only files containing matched keys rewrite (the untouched
        files' add entries survive verbatim). A source carrying
        duplicate keys that match the target is refused (the spec's
        cardinality check); duplicate UNMATCHED keys both insert,
        matching delta-spark.
        """
        cond = " AND ".join(
            f"target.`{k}` <=> source.`{k}`" for k in keys
        )
        return (
            self.merge_into(source, cond)
            .when_matched_update()
            .when_not_matched_insert()
            .execute(source.sparkSession)
        )

    def merge_into(
        self, source: DataFrame, condition: str
    ) -> "DeltaMergeBuilder":
        """Start a full MERGE INTO — delta-spark's
        ``DeltaTable.merge(source, condition)``: returns a
        `DeltaMergeBuilder` whose when_* clause methods chain, then
        ``execute(spark)`` runs the two-phase file-pruned merge.
        ``condition`` is SQL over ``target.*`` / ``source.*``."""
        return DeltaMergeBuilder(self, source, condition)

    def replace_where(
        self,
        df: DataFrame,
        condition: str,
        *,
        txn: tuple[str, int] | None = None,
        optimize_write: bool = False,
    ) -> int:
        """Selective overwrite — delta-spark's ``replaceWhere`` write
        option (``df.write.format("delta").mode("overwrite")
        .option("replaceWhere", cond)``): atomically replace exactly the
        rows matching ``condition`` with ``df``, refusing any row of
        ``df`` that falls OUTSIDE the predicate (delta-spark's
        replaceWhere constraint check — the predicate must fully
        describe the incoming data or the op is ambiguous).

        100 TB shape: instead of copy-on-write rewriting every file that
        intersects the predicate, matching rows are flagged with
        executor-built deletion vectors (O(touched files) driver
        transfer, `_build_file_dvs`) and the replacement rows append as
        new files — ONE atomic commit; rows outside the predicate are
        never restaged. A file whose every row matches drops outright
        (no sidecar). Generated columns recompute, CHECK constraints
        validate, and CDF tables get true delete+insert change images.
        ``txn`` makes replays no-ops (streaming foreachBatch upserts).
        Lost commit races retry automatically iff every winning commit
        is a pure append whose stats refute ``condition``
        (`_retry_if_disjoint_appends`)."""
        return self._retry_if_disjoint_appends(
            condition,
            "REPLACE WHERE",
            lambda: self._replace_where_attempt(
                df, condition, txn=txn, optimize_write=optimize_write
            ),
        )

    def _replace_where_attempt(
        self,
        df: DataFrame,
        condition: str,
        *,
        txn: tuple[str, int] | None = None,
        optimize_write: bool = False,
    ) -> int:
        spark = df.sparkSession
        if txn is not None:
            applied = self.last_txn_version(txn[0])
            if applied is not None and applied >= txn[1]:
                return self.latest_version()  # already applied: replay no-op
        base = self.latest_version()
        if base is None:
            raise ValueError(
                f"replace_where needs an existing table at {self.path}; "
                "use write() to create one"
            )
        meta, adds, protocol, domains = self._snapshot_state_full(
            None, with_domains=True
        )
        self._refuse_unknown_writer_features(protocol, "REPLACE WHERE")
        self._refuse_if_append_only(meta, "REPLACE WHERE")
        gen = self._generation_exprs(meta)
        if gen:
            df = self._apply_generated(df, gen)
        self._check_constraints(df, meta)
        schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        prior_types = {f.name: f.dataType for f in schema.fields}
        for f in df.schema.fields:
            if f.name not in prior_types:
                raise ValueError(
                    f"replace_where frame has unknown column {f.name!r}; "
                    "replaceWhere never evolves the schema"
                )
            if self._strip_meta(f.dataType) != self._strip_meta(
                prior_types[f.name]
            ):
                raise ValueError(
                    f"column {f.name!r} is {f.dataType.simpleString()} but "
                    f"table has {prior_types[f.name].simpleString()}"
                )
        missing = [n for n in prior_types if n not in df.columns]
        if missing:
            raise ValueError(f"replace_where frame lacks columns {missing}")
        cond = F.expr(condition)
        n_outside = df.filter(~cond.eqNullSafe(F.lit(True))).count()
        if n_outside:
            raise ValueError(
                f"{n_outside} row(s) of the replacement frame do not "
                f"satisfy the replaceWhere predicate {condition!r} "
                "(NULL predicates count as non-matching)"
            )
        part_cols = meta.get("partitionColumns") or []
        mapping = self._column_mapping(meta) or {}
        cdc_actions: list[dict] = []
        if self._cdf_enabled(meta):
            # true images: commits carrying cdc actions are read
            # EXCLUSIVELY from them, so both sides must be present
            removed_rows = (
                self._scan(spark, version=base, keep_meta=True)
                .filter(cond)
                .drop("__file", "__rid")
                .withColumn("_change_type", F.lit("delete"))
            )
            images = removed_rows.unionByName(
                df.select(*[f.name for f in schema.fields]).withColumn(
                    "_change_type", F.lit("insert")
                )
            )
            cdc_actions = self._stage_cdc_files(
                images, version=base + 1, meta=meta
            )
        file_dvs = self._build_file_dvs(spark, cond, adds, version=base)
        n_replaced = sum(r["n_new"] for r in file_dvs)
        new_adds = self._stage_files(
            df.select(*[f.name for f in schema.fields]),
            version=base + 1,
            partition_by=part_cols,
            mapping=mapping,
            schema_json=meta["schemaString"],
            id_mode=self._mapping_mode(meta) == "id",
            co_partition=optimize_write,
        )
        now_ms = int(time.time() * 1000)
        by_name = {
            os.path.basename(urllib.parse.unquote(a["path"])): a for a in adds
        }
        actions: list[dict] = []
        if txn is not None:
            actions.append(
                {"txn": {"appId": txn[0], "version": txn[1], "lastUpdated": now_ms}}
            )
        actions.append(
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "WRITE",
                    "operationParameters": {
                        "mode": "Overwrite",
                        "predicate": condition,
                    },
                    "operationMetrics": {
                        "numDeletedRows": str(n_replaced),
                        "numDvsAdded": str(len(file_dvs)),
                        "numAddedFiles": str(len(new_adds)),
                        "numOutputRows": str(
                            sum(
                                json.loads(a["stats"])["numRecords"]
                                for a in new_adds
                            )
                        ),
                    },
                }
            }
        )
        actions.extend(self._dv_upgrade_actions(meta, protocol))
        actions.extend(self._dv_file_actions(file_dvs, by_name, now_ms))
        if self._row_tracking_enabled(meta) and new_adds:
            # replaced rows retire their ids with the DV; replacement
            # rows are NEW rows and get fresh ranges (delta-spark's
            # replaceWhere semantics — nothing is preserved across it)
            hwm = self._stamp_fresh_row_ids(
                new_adds, self._rt_hwm(domains), base + 1
            )
            actions.append(self._rt_domain_action(hwm))
        actions.extend({"add": a} for a in new_adds)
        actions.extend(cdc_actions)
        return self._publish_or_conflict(base + 1, actions, "REPLACE WHERE")

    def detail(self, spark: SparkSession) -> DataFrame:
        """``DESCRIBE DETAIL`` twin: one row of table facts from the log
        alone (no data scan) — format, id, creation time, partition
        columns, active file count/bytes, row count from per-file stats,
        protocol versions and feature lists, table configuration."""
        meta, adds, protocol = self._snapshot_state_full(None)
        proto = protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
        n_rows = 0
        rows_known = True
        for a in adds:
            st = a.get("stats")
            rec = json.loads(st).get("numRecords") if st else None
            if rec is None:
                rows_known = False
            else:
                n_rows += rec
        schema = T.StructType(
            [
                T.StructField("format", T.StringType(), False),
                T.StructField("id", T.StringType(), True),
                T.StructField("location", T.StringType(), False),
                T.StructField("created_at_ms", T.LongType(), True),
                T.StructField(
                    "partition_columns", T.ArrayType(T.StringType()), False
                ),
                T.StructField("num_files", T.LongType(), False),
                T.StructField("size_in_bytes", T.LongType(), False),
                T.StructField("num_rows", T.LongType(), True),
                T.StructField("num_deletion_vectors", T.LongType(), False),
                T.StructField("min_reader_version", T.IntegerType(), False),
                T.StructField("min_writer_version", T.IntegerType(), False),
                T.StructField(
                    "reader_features", T.ArrayType(T.StringType()), True
                ),
                T.StructField(
                    "writer_features", T.ArrayType(T.StringType()), True
                ),
                T.StructField(
                    "properties", T.MapType(T.StringType(), T.StringType()), False
                ),
            ]
        )
        row = (
            "delta",
            meta.get("id"),
            self.path,
            meta.get("createdTime"),
            list(meta.get("partitionColumns") or []),
            len(adds),
            sum(int(a.get("size") or 0) for a in adds),
            n_rows if rows_known else None,
            sum(1 for a in adds if a.get("deletionVector")),
            proto.get("minReaderVersion", 1),
            proto.get("minWriterVersion", 2),
            list(proto["readerFeatures"]) if proto.get("readerFeatures") else None,
            list(proto["writerFeatures"]) if proto.get("writerFeatures") else None,
            dict(meta.get("configuration") or {}),
        )
        return spark.createDataFrame([row], schema)

    def restore(self, version: int) -> int:
        """RESTORE TABLE ... TO VERSION AS OF ``version`` — delta-spark's
        rollback: ONE new commit whose removes/adds flip the current
        snapshot back to the target's active-file set. History is never
        rewritten (the bad commits stay replayable; time travel still
        sees them); the data files must still exist, i.e. not vacuumed.
        Restoring also re-instates the target's schema/metadata, so a
        bad schema evolution rolls back too."""
        base = self.latest_version() or 0
        cur_meta, cur_adds, cur_proto = self._snapshot_state_full(None)
        self._refuse_unknown_writer_features(cur_proto, "RESTORE")
        self._refuse_if_append_only(cur_meta, "RESTORE")
        tgt_meta, tgt_adds, _ = self._snapshot_state_full(version)
        for a in tgt_adds:
            fp = os.path.join(self.path, urllib.parse.unquote(a["path"]))
            if not os.path.exists(fp):
                raise ValueError(
                    f"cannot restore to version {version}: data file "
                    f"{a['path']!r} no longer exists (vacuumed?)"
                )
        cur_by_path = {a["path"]: a for a in cur_adds}
        tgt_by_path = {a["path"]: a for a in tgt_adds}
        now_ms = int(time.time() * 1000)
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "RESTORE",
                    "operationParameters": {"version": str(version)},
                }
            }
        ]
        if tgt_meta != cur_meta:
            actions.append({"metaData": tgt_meta})
        for path, a in sorted(cur_by_path.items()):
            # a path present in both but with a different add (e.g. a DV
            # appeared since) must also be flipped back: remove + re-add
            if tgt_by_path.get(path) != a:
                actions.append(
                    {
                        "remove": {
                            "path": path,
                            "deletionTimestamp": now_ms,
                            "dataChange": True,
                        }
                    }
                )
        for path, a in sorted(tgt_by_path.items()):
            if cur_by_path.get(path) != a:
                actions.append({"add": a})
        return self._publish_or_conflict(base + 1, actions, "RESTORE")

    def fsck_repair(
        self, *, dry_run: bool = False, spark: SparkSession | None = None
    ) -> tuple[int | None, list[str]]:
        """FSCK REPAIR TABLE (delta-spark's verb): find data files the
        snapshot references that no longer exist on disk (deleted or
        lost OUTSIDE the log — the one corruption a log-first design
        cannot prevent) and commit ``remove`` actions for them so scans
        stop failing on the missing files. The rows those files held are
        gone either way; the repair makes the log agree with reality
        instead of erroring forever. ``dry_run=True`` only reports.
        Returns ``(committed version | None, missing paths)`` — None
        when nothing was missing or on a dry run. Missing DV sidecars
        are NOT repaired (the base file still exists; dropping it would
        resurrect deleted rows — that corruption needs RESTORE).

        With ``spark``, the existence probe DISTRIBUTES (one stat call
        per file across the executors — a million-file table stats in
        parallel, the delta-spark FSCK shape); without it, a driver-side
        loop (fine for maintenance on small/medium tables)."""
        base = self.latest_version()
        if base is None:
            raise ValueError(f"no such table: {self.path}")
        _meta, adds = self._snapshot_state(None)
        # shallow-clone externals decode to absolute paths, and
        # os.path.join yields them unchanged — both layouts check
        full_of = lambda rel: os.path.join(  # noqa: E731
            self.path, urllib.parse.unquote(rel)
        )
        if spark is not None and adds:
            def probe(batches):
                import os as _os

                import pandas as _pd

                for pdf in batches:
                    gone = [
                        rel
                        for rel, full in zip(pdf["rel"], pdf["full"])
                        if not _os.path.exists(full)
                    ]
                    yield _pd.DataFrame({"rel": gone})

            paths_df = spark.createDataFrame(
                [(a["path"], full_of(a["path"])) for a in adds],
                "rel string, full string",
            )
            missing = sorted(
                r["rel"]
                for r in paths_df.repartition(
                    min(32, max(1, len(adds) // 64 + 1))
                )
                .mapInPandas(probe, "rel string")
                .collect()
            )
        else:
            missing = sorted(
                a["path"] for a in adds if not os.path.exists(full_of(a["path"]))
            )
        if dry_run or not missing:
            return None, missing
        now_ms = int(time.time() * 1000)
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "FSCK",
                    "operationParameters": {
                        "numRemovedFiles": str(len(missing))
                    },
                }
            }
        ]
        for path in missing:
            actions.append(
                {
                    "remove": {
                        "path": path,
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
            )
        return self._publish_or_conflict(base + 1, actions, "FSCK"), missing

    @staticmethod
    def _parse_interval_ms(text: str) -> int:
        """``interval N (hour|day|week)[s]`` (the
        delta.deletedFileRetentionDuration property format) -> ms."""
        m = re.fullmatch(
            r"\s*interval\s+(\d+)\s+(hour|day|week|minute|second)s?\s*",
            text,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError(f"unparseable interval {text!r}")
        n = int(m.group(1))
        unit_ms = {
            "second": 1000,
            "minute": 60_000,
            "hour": 3_600_000,
            "day": 86_400_000,
            "week": 7 * 86_400_000,
        }[m.group(2).lower()]
        return n * unit_ms

    def vacuum(
        self,
        *,
        retention_ms: int = 7 * 24 * 3600 * 1000,
        force: bool = False,
        spark: SparkSession | None = None,
    ) -> list[str]:
        """VACUUM: physically delete data files, DV sidecars, and CDC
        files (``_change_data/``) that the CURRENT snapshot no longer
        references and whose modification time is older than
        ``retention_ms``. Returns the deleted relative paths. After a
        vacuum, time travel and CDF reads over versions that referenced
        the deleted files fail (exactly delta-spark's trade-off; the
        default 7-day retention is its default too).

        A ``retention_ms`` below the table's
        ``delta.deletedFileRetentionDuration`` (default: the 7-day
        built-in) is REFUSED unless ``force=True`` — delta-spark's
        retentionDurationCheck: a too-short retention can delete files a
        concurrent reader's in-flight snapshot still references.

        With ``spark``, the recursive LISTING fans out per top-level
        subtree and the DELETES fan out over the condemned list (two
        `mapInPandas` passes, delta-spark's parallel-vacuum shape) —
        the driver keeps snapshot/retention logic only. Without it, a
        driver-side walk (fine for small/medium local tables).

        The distributed form ASSUMES SHARED STORAGE (executors see the
        driver's table path — local mode, NFS, fuse-mounted object
        stores). It never trusts that silently: every log-referenced
        relative path must come back in the executor listing, so a
        cluster without a shared filesystem raises instead of
        reporting a successful no-op vacuum over an invisible tree."""
        from . import dv as _dv

        _meta, adds, _proto = self._snapshot_state_full(None)
        # spec feature vacuumProtocolCheck exists precisely because
        # legacy VACUUM implementations only consulted the READER
        # protocol and could delete files a writer feature still needs
        # (e.g. un-checkpointed DV sidecars of a foreign extension);
        # gate every vacuum on the writer list, feature present or not
        self._refuse_unknown_writer_features(_proto, "VACUUM")
        configured = (_meta.get("configuration") or {}).get(
            "delta.deletedFileRetentionDuration"
        )
        floor_ms = (
            self._parse_interval_ms(configured)
            if configured
            else 7 * 24 * 3600 * 1000
        )
        if retention_ms < floor_ms and not force:
            raise ValueError(
                f"vacuum retention {retention_ms} ms is below the "
                f"table's deletedFileRetentionDuration ({floor_ms} ms); "
                "a concurrent reader's snapshot may still reference the "
                "files. Pass force=True to override (delta-spark's "
                "retentionDurationCheck.enabled=false)"
            )
        referenced: set[str] = set()
        for a in adds:
            referenced.add(
                os.path.normpath(urllib.parse.unquote(a["path"]))
            )
            d = a.get("deletionVector")
            if d and d.get("storageType") == "u":
                prefix, uid = _dv.split_u_descriptor(d["pathOrInlineDv"])
                referenced.add(
                    os.path.normpath(_dv.dv_sidecar_name(uid, prefix))
                )
        cutoff = time.time() - retention_ms / 1000.0
        deleted: list[str] = []
        if spark is not None:
            # DISTRIBUTED listing + deletion (delta-spark's parallel
            # VACUUM shape): the driver keeps only the snapshot logic —
            # each top-level subtree lists on an executor (one os.walk
            # per partition-value directory), the driver intersects the
            # candidates with the referenced set, and the condemned list
            # fans back out for the deletes. A million-file vacuum costs
            # the driver two bounded exchanges of RELATIVE PATHS, never
            # a million stat+unlink calls.
            roots = [""] + [
                d
                for d in sorted(os.listdir(self.path))
                if os.path.isdir(os.path.join(self.path, d))
                and (d == "_change_data" or not d.startswith(("_", ".")))
            ]
            table_path = self.path

            def list_kernel(batches):
                import os as _os

                import pandas as _pd

                for pdf in batches:
                    rows = []
                    for sub in pdf["sub"]:
                        top = _os.path.join(table_path, sub) if sub else table_path
                        if sub:
                            walker = _os.walk(top)
                        else:
                            # the root itself: immediate files only
                            # (subtrees are their own tasks)
                            walker = [(top, [], [
                                n for n in _os.listdir(top)
                                if _os.path.isfile(_os.path.join(top, n))
                            ])]
                        for r, dirs, files in walker:
                            dirs[:] = [
                                d
                                for d in dirs
                                if d == "_change_data"
                                or not d.startswith(("_", "."))
                            ]
                            for name in files:
                                if not name.endswith((".parquet", ".bin")):
                                    continue
                                if name.startswith(("_", ".")):
                                    continue
                                fp = _os.path.join(r, name)
                                rows.append(
                                    (
                                        _os.path.normpath(
                                            _os.path.relpath(fp, table_path)
                                        ),
                                        _os.path.getmtime(fp),
                                    )
                                )
                    yield _pd.DataFrame(rows, columns=["rel", "mtime"])

            cands = (
                spark.createDataFrame([(r,) for r in roots], "sub string")
                .repartition(min(32, len(roots)))
                .mapInPandas(list_kernel, "rel string, mtime double")
                .collect()
            )
            # shared-storage sanity: the executors' listing must contain
            # every log-referenced RELATIVE path (they exist under the
            # root by construction; absolute paths — shallow clones —
            # live outside the walk and are exempt). An empty or partial
            # listing means the executors cannot see the driver's tree,
            # and "vacuumed 0 files" would be a silent lie.
            seen = {r["rel"] for r in cands}
            missing = sorted(
                p for p in referenced if not os.path.isabs(p) and p not in seen
            )
            if missing:
                raise ValueError(
                    f"distributed vacuum listing is missing "
                    f"{len(missing)} file(s) the snapshot references "
                    f"(e.g. {missing[:3]}): either the table is corrupt "
                    "(run fsck_repair) or the executors do not share "
                    "the driver's filesystem — distributed vacuum "
                    "requires shared storage; retry without spark= for "
                    "a driver-side vacuum"
                )
            condemned = sorted(
                r["rel"]
                for r in cands
                if r["rel"] not in referenced and r["mtime"] <= cutoff
            )
            if condemned:
                def delete_kernel(batches):
                    import os as _os

                    import pandas as _pd

                    for pdf in batches:
                        gone = []
                        for rel in pdf["rel"]:
                            try:
                                _os.remove(_os.path.join(table_path, rel))
                                gone.append(rel)
                            except FileNotFoundError:
                                pass  # a racing vacuum won; same outcome
                        yield _pd.DataFrame({"rel": gone})

                deleted = sorted(
                    r["rel"]
                    for r in spark.createDataFrame(
                        [(c,) for c in condemned], "rel string"
                    )
                    .repartition(min(32, max(1, len(condemned) // 64 + 1)))
                    .mapInPandas(delete_kernel, "rel string")
                    .collect()
                )
        else:
            for root, dirs, files in os.walk(self.path):
                # _change_data IS vacuumed (delta-spark does): expired CDC
                # files are unreachable the same way expired data files are
                dirs[:] = [
                    d
                    for d in dirs
                    if d == "_change_data" or not d.startswith(("_", "."))
                ]
                for name in files:
                    if not (name.endswith(".parquet") or name.endswith(".bin")):
                        continue
                    if name.startswith(("_", ".")):
                        continue
                    fp = os.path.join(root, name)
                    rel = os.path.normpath(os.path.relpath(fp, self.path))
                    if rel in referenced:
                        continue
                    if os.path.getmtime(fp) > cutoff:
                        continue
                    os.remove(fp)
                    deleted.append(rel)
        # drop now-empty partition directories (dir count ≪ file count:
        # stays driver-side in both forms)
        for root, dirs, files in os.walk(self.path, topdown=False):
            if root != self.path and not dirs and not files:
                os.rmdir(root)
        return sorted(deleted)

    def cleanup_metadata(
        self,
        *,
        retention_ms: int = 30 * 24 * 3600 * 1000,
        force: bool = False,
    ) -> list[str]:
        """Log retention — delta-spark's MetadataCleanup twin
        (``delta.logRetentionDuration``, default 30 days): physically
        delete commit JSONs and superseded checkpoint files whose version
        is BELOW the last checkpoint and whose mtime is older than
        ``retention_ms``. Returns the deleted ``_delta_log`` file names.

        The checkpoint is what makes the prefix expendable: the snapshot
        at any version >= the checkpoint replays checkpoint + JSON tail
        only, so a years-old 10M-commit table plans reads from one
        parquet state file plus days of tail — O(recent commits), not
        O(table lifetime). The trade-off is delta-spark's too: time
        travel, CDF, and incremental streams over expired versions now
        FAIL LOUDLY ("version N not found") instead of replaying.

        Refused when no checkpoint exists (nothing makes the prefix
        recoverable). ``force=True`` bypasses the retention floor the
        same way vacuum's does; the below-checkpoint bound is never
        bypassed — deleting the tail would corrupt the table.
        """
        cp = self._last_checkpoint()
        if cp is None:
            raise ValueError(
                "cleanup_metadata requires a checkpoint: without one the "
                "log prefix is the only source of table state (run "
                ".checkpoint(spark) first)"
            )
        configured = None
        try:
            meta, _ = self._snapshot_state(None)
            configured = (meta.get("configuration") or {}).get(
                "delta.logRetentionDuration"
            )
        except ValueError:
            pass
        floor_ms = (
            self._parse_interval_ms(configured)
            if configured
            else 30 * 24 * 3600 * 1000
        )
        if retention_ms < floor_ms and not force:
            raise ValueError(
                f"log retention {retention_ms} ms is below the table's "
                f"logRetentionDuration ({floor_ms} ms); an incremental "
                "consumer (stream, CDF reader) may still need the "
                "commits. Pass force=True to override"
            )
        cutoff = time.time() - retention_ms / 1000.0
        deleted: list[str] = []
        for name in sorted(os.listdir(self._log_dir)):
            cm = _COMPACTION_NAME_RE.match(name)
            if cm:
                # a compaction is expendable only when its WHOLE range
                # sits below the checkpoint (keyed on END — the generic
                # branch below would key on start and delete a still-
                # useful file straddling the checkpoint)
                if int(cm.group(2)) >= cp["version"]:
                    continue
                fp = os.path.join(self._log_dir, name)
                if os.path.getmtime(fp) > cutoff:
                    continue
                os.remove(fp)
                deleted.append(name)
                continue
            stem = name.split(".", 1)[0]
            if not stem.isdigit():
                continue
            v = int(stem)
            if v >= cp["version"]:
                continue
            if not (name.endswith(".json") or name.endswith(".crc")
                    or ".checkpoint." in name
                    or name.endswith(".checkpoint.parquet")):
                continue
            fp = os.path.join(self._log_dir, name)
            if os.path.getmtime(fp) > cutoff:
                continue
            os.remove(fp)
            deleted.append(name)
        # V2 sidecar GC: a sidecar is expendable once no SURVIVING
        # checkpoint manifest references it (sidecars are immutable and
        # shared across checkpoints, so liveness is reference-based)
        side_dir = os.path.join(self._log_dir, "_sidecars")
        if os.path.isdir(side_dir):
            import glob as _glob
            import pyarrow.parquet as pq

            referenced: set[str] = set()
            for mf in _glob.glob(
                os.path.join(self._log_dir, "*.checkpoint.*.parquet")
            ):
                # the glob also matches CLASSIC multi-part checkpoint
                # parts (NNN.checkpoint.0000000001.0000000002.parquet),
                # whose schema has no 'sidecar' column — reading it
                # would crash the whole cleanup on any table that ever
                # wrote both shapes; only V2 manifests carry sidecars
                if "sidecar" not in pq.read_schema(mf).names:
                    continue
                for d in pq.read_table(mf, columns=["sidecar"]).to_pylist():
                    if d.get("sidecar"):
                        referenced.add(d["sidecar"]["path"])
            for name in sorted(os.listdir(side_dir)):
                if not name.endswith(".parquet") or name in referenced:
                    continue
                fp = os.path.join(side_dir, name)
                if os.path.getmtime(fp) > cutoff:
                    continue
                os.remove(fp)
                deleted.append(f"_sidecars/{name}")
        return deleted

    def read_changes(
        self,
        spark: SparkSession,
        *,
        starting_version: int,
        ending_version: int | None = None,
    ) -> DataFrame:
        """Physical change feed derived from the log (the CDF shape of
        ``table_changes`` for a table without CDC files): every data
        change in commits ``starting_version..ending_version`` as rows
        tagged ``_change_type`` ('insert' | 'delete') and
        ``_commit_version``.

        Per commit: ``dataChange=true`` adds contribute their rows as
        inserts — minus rows already dead in the file's OWN deletion
        vector at that commit, and for a DV-carrying re-add of a known
        path, only the DV *delta* versus the prior state is emitted (as
        deletes): a DELETE commit therefore yields exactly the newly
        deleted rows, not a rewrite. ``dataChange=true`` removes without
        a matching re-add emit the file's then-live rows as deletes
        (overwrite/merge show as full rewrite — the same thing
        delta-spark's CDF shows for non-CDC writers). ``dataChange=
        false`` (OPTIMIZE) commits emit nothing.

        Commits carrying spec ``cdc`` actions (tables with
        ``delta.enableChangeDataFeed=true`` — see
        `enable_change_data_feed`) are read from their CDC files
        EXCLUSIVELY, which is how UPDATE pre/post images
        (``update_preimage``/``update_postimage``) surface. For commits
        without CDC files, no updates are synthesized (the physical log
        has no row identity) — a MERGE shows as delete+insert pairs.
        """
        from . import dv as _dv

        last = self.latest_version()
        if last is None:
            raise ValueError(f"empty table: {self.path}")
        end = last if ending_version is None else ending_version
        # CDF needs every commit JSON from 0 through the window's end:
        # the window's own commits supply the changes, and the prefix
        # supplies the per-path file state DV-deltas diff against. A
        # prefix expired by cleanup_metadata must fail LOUDLY here —
        # silently replaying from a hole would emit a partial feed a
        # downstream consumer has no way to detect (delta-spark raises
        # the same way when startingVersion predates log retention).
        missing = sorted(set(range(end + 1)) - set(self._commit_versions()))
        if missing:
            raise ValueError(
                f"change feed over versions 0..{end} needs every commit "
                f"JSON, but {missing[:5]}{'...' if len(missing) > 5 else ''} "
                "are not in the log (expired by cleanup_metadata?)"
            )

        # replay to just before the window, tracking per-path state
        live: dict[str, dict] = {}
        for v in self._commit_versions():
            if v >= starting_version:
                break
            for action in self._read_commit(v):
                if "add" in action:
                    live[action["add"]["path"]] = action["add"]
                elif "remove" in action:
                    live.pop(action["remove"]["path"], None)

        meta, _adds = self._snapshot_state(None)
        schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        out_schema = T.StructType(
            list(schema.fields)
            + [
                T.StructField("_change_type", T.StringType(), False),
                T.StructField("_commit_version", T.LongType(), False),
            ]
        )

        def dv_blob(a: dict) -> bytes | None:
            """The file's roaring DV blob, COMPRESSED — position sets are
            expanded executor-side only (a GDPR-scale DELETE's delta never
            materializes its row list on the driver, matching `_scan`)."""
            d = a.get("deletionVector")
            return _dv.resolve_dv_blob(self.path, d) if d else None

        # per-TABLE constants hoisted out of the per-file reader (they were
        # recomputed per file; review finding) — and kept textually next to
        # it so the mapping/HIVE-null conventions stay in lockstep with
        # `_scan` and `to_pandas`
        mapping = self._column_mapping(meta) or {}
        phys = lambda c: mapping.get(c, c)  # noqa: E731
        part_cols = meta.get("partitionColumns") or []
        data_schema = T.StructType(
            [
                T.StructField(phys(f.name), self._phys_type(f.dataType), f.nullable)
                for f in schema.fields
                if f.name not in part_cols
            ]
        )
        logical = [
            self._logical_cast(f, phys(f.name))
            for f in schema.fields
            if f.name not in part_cols
        ]
        types = {f.name: f.dataType for f in schema.fields}

        def _basename(p: str) -> str:
            return os.path.basename(urllib.parse.unquote(p))

        def _dv_diff_expansion(
            triples: list[tuple[str, bytes | None, bytes | None]]
        ) -> DataFrame:
            """(file name, new blob, old blob) -> distributed
            ``(__file, __rid)`` of positions in new-but-not-old. The
            driver ships only compressed blobs (one row per file); each
            bitmap pair decodes and differences exactly once,
            executor-side — same contract as `_dv_expansion_df`, plus
            the set difference the DV-delta feed needs."""
            deserialize = _dv.deserialize_rbm_array  # by-value capture

            def expand(batches):
                import numpy as np
                import pandas as pd

                for pdf in batches:
                    for name, nb, ob in zip(
                        pdf["__file"], pdf["__new"], pdf["__old"]
                    ):
                        new = (
                            set(deserialize(bytes(nb)))
                            if nb is not None
                            else set()
                        )
                        old = (
                            set(deserialize(bytes(ob)))
                            if ob is not None
                            else set()
                        )
                        rows = sorted(new - old)
                        yield pd.DataFrame(
                            {
                                "__file": np.repeat(name, len(rows)),
                                "__rid": np.asarray(rows, dtype=np.int64),
                            }
                        )

            blobs = spark.createDataFrame(
                triples, "__file string, __new binary, __old binary"
            )
            return blobs.mapInPandas(expand, "__file string, __rid long")

        def batch_rows(
            adds_list: list[dict],
            positions: list[tuple[str, bytes | None, bytes | None]],
            how: str,
        ) -> DataFrame:
            """Rows of MANY files in ONE scan, position-filtered by a
            single distributed join — `how='left_semi'` keeps exactly
            the expanded positions (the DV-delta feed), `'left_anti'`
            keeps everything else (live rows / fresh inserts). One
            commit contributes at most one scan per change class, not
            one plan branch per file (the per-file form cost ~2x|files|
            py4j round-trips and tiny single-file tasks — round-7 10x
            probe)."""
            paths = [
                os.path.join(self.path, urllib.parse.unquote(a["path"]))
                for a in adds_list
            ]
            df = _read_files(spark, paths, schema=data_schema).select(
                F.element_at(
                    F.split(F.col("_metadata.file_path"), "/"), -1
                ).alias("__file"),
                F.col("_metadata.row_index").alias("__rid"),
                *logical,
            )
            if how == "left_semi" or any(
                nb is not None or ob is not None for _, nb, ob in positions
            ):
                df = df.join(
                    _dv_diff_expansion(positions), ["__file", "__rid"], how
                )
            if part_cols:
                pv_rows = []
                for a in adds_list:
                    pv = _as_dict(a.get("partitionValues"))
                    vals = []
                    for c in part_cols:
                        raw = pv.get(phys(c))
                        vals.append(
                            None
                            if raw is None or raw == _HIVE_NULL
                            else raw
                        )
                    pv_rows.append((_basename(a["path"]), *vals))
                pv_schema = T.StructType(
                    [T.StructField("__file", T.StringType(), False)]
                    + [
                        T.StructField(f"__pv_{i}", T.StringType(), True)
                        for i in range(len(part_cols))
                    ]
                )
                df = df.join(
                    F.broadcast(spark.createDataFrame(pv_rows, pv_schema)),
                    "__file",
                )
                for i, c in enumerate(part_cols):
                    df = df.withColumn(
                        c, F.col(f"__pv_{i}").cast(types[c])
                    )
            return df.select(*[f.name for f in schema.fields])

        pieces: list[DataFrame] = []

        def tag(df: DataFrame, change: str, v: int) -> DataFrame:
            return df.withColumn("_change_type", F.lit(change)).withColumn(
                "_commit_version", F.lit(v).cast("long")
            )

        cdc_schema = T.StructType(
            list(data_schema.fields)
            + [T.StructField("_change_type", T.StringType(), False)]
        )

        def cdc_rows(c: dict, v: int) -> DataFrame:
            """Rows of one spec `cdc` action file: real change images the
            writer staged under _change_data/ — including the
            update_preimage/update_postimage pairs log synthesis cannot
            produce."""
            fp = os.path.join(self.path, urllib.parse.unquote(c["path"]))
            df = spark.read.schema(cdc_schema).parquet(fp).select(
                *logical, F.col("_change_type")
            )
            pv = _as_dict(c.get("partitionValues"))
            for col in part_cols:
                raw = pv.get(phys(col))
                val = None if raw is None or raw == _HIVE_NULL else raw
                df = df.withColumn(col, F.lit(val).cast(types[col]))
            return df.select(
                *[f.name for f in schema.fields], "_change_type"
            ).withColumn("_commit_version", F.lit(v).cast("long"))

        for v in self._commit_versions():
            if v < starting_version or v > end:
                if v > end:
                    break
                continue
            removed_this_commit: dict[str, dict] = {}
            actions_v = self._read_commit(v)  # one read per commit
            # a commit carrying cdc actions provides its OWN change rows:
            # per the spec, readers must use them EXCLUSIVELY for that
            # commit (synthesizing from remove/add too would double-count)
            cdc_in_commit = [a["cdc"] for a in actions_v if "cdc" in a]
            for action in actions_v:
                if "remove" in action:
                    path = action["remove"]["path"]
                    prior = live.pop(path, None)
                    if prior is not None and action["remove"].get(
                        "dataChange", True
                    ):
                        removed_this_commit[path] = prior
            dv_deltas: list[tuple[dict, dict]] = []  # (re-add, prior)
            inserts: list[dict] = []
            for action in actions_v:
                if "add" not in action:
                    continue
                a = action["add"]
                path = a["path"]
                prior = removed_this_commit.pop(path, None)
                live[path] = a
                if cdc_in_commit or not a.get("dataChange", True):
                    continue
                if prior is not None:
                    # same path re-added: a DV delta — emit ONLY the newly
                    # deleted positions (new DV minus old DV)
                    dv_deltas.append((a, prior))
                else:
                    inserts.append(a)
            if cdc_in_commit:
                for c in cdc_in_commit:
                    pieces.append(cdc_rows(c, v))
                continue
            # one scan + one distributed position join per change class
            # per commit — never one plan branch per file
            if inserts:
                pieces.append(
                    tag(
                        batch_rows(
                            inserts,
                            [
                                (_basename(a["path"]), dv_blob(a), None)
                                for a in inserts
                            ],
                            "left_anti",
                        ),
                        "insert",
                        v,
                    )
                )
            if dv_deltas:
                pieces.append(
                    tag(
                        batch_rows(
                            [a for a, _ in dv_deltas],
                            [
                                (
                                    _basename(a["path"]),
                                    dv_blob(a),
                                    dv_blob(prior),
                                )
                                for a, prior in dv_deltas
                            ],
                            "left_semi",
                        ),
                        "delete",
                        v,
                    )
                )
            removed = [
                prior for _, prior in sorted(removed_this_commit.items())
            ]
            if removed:
                # removed without re-add: their then-live rows are deletes
                pieces.append(
                    tag(
                        batch_rows(
                            removed,
                            [
                                (_basename(a["path"]), dv_blob(a), None)
                                for a in removed
                            ],
                            "left_anti",
                        ),
                        "delete",
                        v,
                    )
                )
        if not pieces:
            return spark.createDataFrame([], out_schema)
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        return out

    def compact(
        self,
        spark: SparkSession,
        *,
        target_files: int = 1,
        zorder_by: tuple[str, str] | None = None,
        where: str | None = None,
    ) -> int | None:
        """OPTIMIZE twin: rewrite the active files into ``target_files``
        per partition, committed with ``dataChange=false`` adds/removes
        (pure layout change — streaming readers of the log would skip it).
        Small-file compaction is what keeps a streaming-append table
        scannable: thousands of per-trigger files become a handful of
        full-size ones, and planning cost drops with them.

        ``zorder_by=(col_a, col_b)`` is the ``OPTIMIZE ... ZORDER BY``
        twin: output files are range-partitioned and sorted on the
        normalized Morton code of the two columns (see
        ``operators.zorder``), so each rewritten file carries narrow
        min/max stats for BOTH — the log's per-file stats then let any
        reader data-skip on either column.

        On a CLUSTERED table (`set_cluster_by`) a bare ``compact()``
        picks the clustering columns automatically — two cluster on
        the Morton code, one range-sorts — so OPTIMIZE executes the
        declared layout without the caller re-stating it.

        ``where`` (delta-spark's ``OPTIMIZE ... WHERE``) scopes the
        rewrite to the partitions a predicate over PARTITION COLUMNS
        selects — the shape a petabyte table is actually maintained in
        (compact yesterday's partition, not the archive). Predicate
        evaluation is EXACT Spark SQL over the typed distinct partition
        tuples (never file stats), untouched partitions are not read or
        listed in the commit, and a predicate referencing a
        non-partition column is refused loudly. Composes with
        zorder_by / clustering. Returns None when no partition matches.
        """
        meta, adds, _p, domains = self._snapshot_state_full(
            None, with_domains=True
        )
        part_cols = meta.get("partitionColumns") or []
        cluster_sort: list[str] = []
        if zorder_by is None:
            cb = self._clustering_cols(meta, domains)
            if len(cb) == 2:
                zorder_by = (cb[0], cb[1])
            elif len(cb) == 1:
                cluster_sort = cb
        if where is not None:
            if not part_cols:
                raise ValueError(
                    "OPTIMIZE ... WHERE requires a partitioned table "
                    "(the predicate selects whole partitions; use a bare "
                    "compact() for unpartitioned tables)"
                )
            schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
            mapping = self._column_mapping(meta) or {}
            phys = lambda c: mapping.get(c, c)  # noqa: E731
            part_fields = [
                T.StructField(c, self._strip_meta(
                    next(f.dataType for f in schema.fields if f.name == c)
                ))
                for c in part_cols
            ]
            raw_of = lambda a: tuple(  # noqa: E731
                _as_dict(a.get("partitionValues")).get(phys(c))
                for c in part_cols
            )
            distinct = sorted({raw_of(a) for a in adds}, key=str)
            idx_schema = T.StructType(
                [T.StructField("__i", T.LongType())]
                + [T.StructField(c, T.StringType()) for c in part_cols]
            )
            typed = spark.createDataFrame(
                [(i, *tup) for i, tup in enumerate(distinct)], idx_schema
            ).select(
                "__i",
                *[
                    F.col(f.name).cast(f.dataType).alias(f.name)
                    for f in part_fields
                ],
            )
            try:
                kept_idx = {
                    r["__i"]
                    for r in typed.filter(F.expr(where))
                    .select("__i")
                    .collect()
                }
            except Exception as exc:
                raise ValueError(
                    f"OPTIMIZE WHERE predicate {where!r} must reference "
                    f"partition columns only ({part_cols}); it failed to "
                    f"resolve against them: {exc}"
                ) from None
            keep_raw = {distinct[i] for i in kept_idx}
            victims = [a for a in adds if raw_of(a) in keep_raw]
            layout = None
            if zorder_by is not None:
                zb = zorder_by

                def layout(d, _zb=zb, _n=target_files):
                    from ..operators.zorder import with_zvalue

                    return (
                        with_zvalue(d, _zb)
                        .repartitionByRange(_n, F.col("_z"))
                        .sortWithinPartitions("_z")
                        .drop("_z")
                    )

            elif cluster_sort:
                cs = cluster_sort[0]

                def layout(d, _c=cs, _n=target_files):
                    return d.repartitionByRange(
                        _n, F.col(_c)
                    ).sortWithinPartitions(_c)

            return self._rewrite_subset(
                spark,
                victims,
                operation="OPTIMIZE",
                target_files=target_files,
                layout=layout,
                operation_params={"predicate": where},
            )
        if self._row_tracking_enabled(meta):
            # a layout rewrite preserves BOTH row ids and row commit
            # versions (the rows don't change): materialize them into
            # the hidden physical columns of the rewritten files
            rid_col, ver_col = self._rt_mat_cols(meta)
            df = (
                self.read_with_row_ids(spark)
                .withColumnRenamed("_row_id", rid_col)
                .withColumnRenamed("_row_commit_version", ver_col)
            )
        else:
            df = self.read(spark)
        if zorder_by is not None:
            from ..operators.zorder import with_zvalue

            df = (
                with_zvalue(df, zorder_by)
                .repartitionByRange(target_files, F.col("_z"))
                .sortWithinPartitions("_z")
                .drop("_z")
            )
        elif cluster_sort:
            df = df.repartitionByRange(
                target_files, F.col(cluster_sort[0])
            ).sortWithinPartitions(cluster_sort[0])
        elif part_cols:
            df = df.repartition(target_files, *[F.col(c) for c in part_cols])
        else:
            df = df.repartition(target_files)
        return self.write(
            df,
            mode="overwrite",
            partition_by=part_cols or None,
            _operation="OPTIMIZE",
            _data_change=False,
        )

    def _rewrite_subset(
        self,
        spark: SparkSession,
        victims: list[dict],
        *,
        operation: str,
        target_files: int | None = None,
        layout=None,
        operation_params: dict | None = None,
    ) -> int | None:
        """Rewrite ONLY ``victims`` (add payloads from the current
        snapshot) into fresh files in one ``dataChange=false`` commit —
        the layout-change shape that scales: cost is O(victim bytes),
        untouched files are never read, rewritten, or even listed in
        the commit. Returns the committed version, or None when there
        is nothing to rewrite. A concurrent commit between snapshot and
        publish surfaces as ConcurrentWriteError (the victim set could
        be stale)."""
        if not victims:
            return None
        base = self.latest_version() or 0
        meta, adds, _protocol, domains = self._snapshot_state_full(
            None, with_domains=True
        )
        # dataChange=false rearrangements are legal on append-only
        # tables (bytes move, rows don't) but NOT on tables fenced by a
        # writer feature this client lacks — matching every other
        # mutation entry point
        self._refuse_unknown_writer_features(_protocol, operation)
        part_cols = meta.get("partitionColumns") or []
        mapping = self._column_mapping(meta) or {}
        rt = self._row_tracking_enabled(meta)
        names = [
            os.path.basename(urllib.parse.unquote(a["path"])) for a in victims
        ]
        if rt:
            # preserve ids AND commit versions through the rewrite
            rid_col, ver_col = self._rt_mat_cols(meta)
            df = (
                self._attach_row_ids(
                    spark,
                    self._scan(
                        spark,
                        keep_meta=True,
                        extra_phys_cols=[rid_col, ver_col],
                    ).filter(F.col("__file").isin(names)),
                    meta,
                    adds,
                )
                .drop("__file", "__rid")
                .withColumnRenamed("_row_id", rid_col)
                .withColumnRenamed("_row_commit_version", ver_col)
            )
        else:
            df = (
                self._scan(spark, keep_meta=True)
                .filter(F.col("__file").isin(names))
                .drop("__file", "__rid")
            )
        if layout is not None:
            # caller-declared layout (scoped Z-ORDER / cluster sort);
            # owns its own repartitioning, so target_files is its concern
            df = layout(df)
        elif target_files is not None:
            df = (
                df.repartition(target_files, *[F.col(c) for c in part_cols])
                if part_cols
                else df.repartition(target_files)
            )
        new_adds = self._stage_files(
            df,
            version=base + 1,
            partition_by=part_cols,
            mapping=mapping,
            schema_json=meta["schemaString"],
            _data_change=False,
            id_mode=self._mapping_mode(meta) == "id",
        )
        now_ms = int(time.time() * 1000)
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": operation,
                    "operationParameters": operation_params or {},
                    "operationMetrics": {
                        "numRemovedFiles": str(len(victims)),
                        "numAddedFiles": str(len(new_adds)),
                    },
                }
            }
        ]
        for a in victims:
            actions.append(
                {
                    "remove": {
                        "path": a["path"],
                        "deletionTimestamp": now_ms,
                        "dataChange": False,
                    }
                }
            )
        if rt and new_adds:
            hwm = self._stamp_fresh_row_ids(
                new_adds, self._rt_hwm(domains), base + 1
            )
            actions.append(self._rt_domain_action(hwm))
        actions.extend({"add": a} for a in new_adds)
        return self._publish_or_conflict(base + 1, actions, operation)

    def reorg_purge(self, spark: SparkSession) -> int | None:
        """``REORG TABLE ... APPLY (PURGE)`` twin (delta-spark's DV
        garbage collection): rewrite ONLY the files carrying deletion
        vectors, materializing their survivors and dropping the dead
        rows; DV-free files are untouched. Committed ``dataChange=
        false`` — readers see identical rows before and after, and
        streaming readers of the log skip it. This is the maintenance
        half of the DV story at 100 TB: deletes stay O(bitmap) on the
        hot path, and the accumulated tombstones are paid down file-by-
        file here, off the query path, without the full-table rewrite
        `compact()` would do. Returns the committed version (None if no
        file carries a DV)."""
        _meta, adds = self._snapshot_state(None)
        victims = [a for a in adds if a.get("deletionVector")]
        return self._rewrite_subset(spark, victims, operation="REORG")

    def _ensure_v2_checkpoint_feature(self) -> None:
        """Fence the table for V2 checkpoints (reader-writer feature
        ``v2Checkpoints``) with a protocol-only commit when missing: a
        reader unaware of sidecars would see a checkpoint with no add
        rows and silently treat the table as empty."""
        meta, _adds, protocol = self._snapshot_state_full(None)
        if "v2Checkpoints" in ((protocol or {}).get("readerFeatures") or []):
            return
        base = self.latest_version() or 0
        proto = dict(protocol or {"minReaderVersion": 1, "minWriterVersion": 2})
        reader_feats = set(proto.get("readerFeatures") or [])
        if not reader_feats and proto.get("minReaderVersion", 1) >= 2:
            reader_feats.add("columnMapping")
        reader_feats.add("v2Checkpoints")
        self._publish_or_conflict(
            base + 1,
            [
                {
                    "commitInfo": {
                        "timestamp": int(time.time() * 1000),
                        "operation": "UPGRADE PROTOCOL",
                        "operationParameters": {"feature": "v2Checkpoints"},
                    }
                },
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": sorted(reader_feats),
                        "writerFeatures": sorted(
                            self._implied_writer_features(proto)
                            | {"v2Checkpoints"}
                        ),
                    }
                },
            ],
            "UPGRADE PROTOCOL",
        )

    def generate_manifest(self) -> list[str]:
        """GENERATE symlink_format_manifest (delta-spark's integration
        verb for Presto / Trino / Athena / Hive): write
        ``_symlink_format_manifest/<partition dirs...>/manifest`` text
        files, each listing the ABSOLUTE ``file:`` URIs of the
        snapshot's active data files for that partition — external
        engines then read the table as plain parquet through the
        symlink layout without understanding the Delta log. Returns
        the manifest relative paths written.

        Correctness gates (delta-spark refuses the same way, because a
        symlink reader applies NO Delta semantics): tables with live
        DELETION VECTORS are refused (the reader would resurrect
        deleted rows) and column-mapped tables are refused (physical
        parquet names would surface). Stale manifests are replaced
        atomically per partition (tmp + rename) and manifests for
        partitions that no longer exist are deleted — a reader never
        sees a half-written manifest.
        """
        meta, adds = self._snapshot_state(None)
        if any(a.get("deletionVector") for a in adds):
            raise ValueError(
                "cannot generate symlink manifest: table has live "
                "deletion vectors (a symlink reader would resurrect "
                "deleted rows); run reorg_purge() first"
            )
        if self._column_mapping(meta):
            raise ValueError(
                "cannot generate symlink manifest: column-mapped table "
                "(symlink readers see physical parquet column names)"
            )
        part_cols = meta.get("partitionColumns") or []
        phys = lambda c: c  # noqa: E731 — mapping gated above
        root = os.path.join(self.path, "_symlink_format_manifest")
        by_dir: dict[str, list[str]] = {}
        for a in adds:
            rel = urllib.parse.unquote(a["path"])
            if rel.startswith("/") or rel.startswith("file:"):
                abs_path = rel[len("file:"):] if rel.startswith("file:") else rel
            else:
                abs_path = os.path.join(self.path, rel)
            pv = _as_dict(a.get("partitionValues"))
            segs = [
                f"{phys(c)}="
                + (
                    _HIVE_NULL
                    if pv.get(phys(c)) is None
                    else urllib.parse.quote(pv[phys(c)], safe="")
                )
                for c in part_cols
            ]
            by_dir.setdefault("/".join(segs), []).append(
                "file:" + os.path.abspath(abs_path)
            )
        # drop stale manifests (partitions deleted since the last run)
        if os.path.isdir(root):
            import shutil

            shutil.rmtree(root)
        written: list[str] = []
        for d, uris in sorted(by_dir.items()):
            mdir = os.path.join(root, d) if d else root
            os.makedirs(mdir, exist_ok=True)
            target = os.path.join(mdir, "manifest")
            tmp = target + f".tmp.{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                f.write("\n".join(sorted(uris)) + "\n")
            os.replace(tmp, target)
            written.append(
                os.path.relpath(target, self.path).replace(os.sep, "/")
            )
        return sorted(written)

    # ------------------------------------------------- version checksums

    def _checksum_path(self, version: int) -> str:
        return os.path.join(self._log_dir, f"{version:020d}.crc")

    def _checksum_payload(self, version: int) -> dict:
        meta, adds, protocol, domains = self._snapshot_state_full(
            version, with_domains=True
        )
        if protocol:
            # checkpoint-reconstructed protocols carry None for the
            # nullable feature columns where JSON replay omits the keys
            # — normalize so the same state checksums identically
            protocol = {k: v for k, v in protocol.items() if v is not None}
        # setTransactions: newest txn row per appId at `version` (spec
        # SetTransaction semantics — same replay as last_txn_version /
        # checkpoint). delta-spark's incremental-commit verification
        # compares these when the crc carries them.
        txns: dict[str, dict] = {}
        txn_id = None
        ict = None
        for v in self._commit_versions():
            if v > version:
                break
            for action in self._read_commit(v):
                if "txn" in action:
                    t = action["txn"]
                    txns[t["appId"]] = {
                        "appId": t["appId"],
                        "version": t["version"],
                        **(
                            {"lastUpdated": t["lastUpdated"]}
                            if t.get("lastUpdated") is not None
                            else {}
                        ),
                    }
                elif v == version and "commitInfo" in action:
                    ci = action["commitInfo"]
                    txn_id = ci.get("txnId")
                    ict = ci.get("inCommitTimestamp")
        payload = {
            "tableSizeBytes": sum(int(a.get("size") or 0) for a in adds),
            "numFiles": len(adds),
            "numMetadata": 1,
            "numProtocol": 1,
            "numDeletionVectorsOpt": sum(
                1 for a in adds if a.get("deletionVector")
            ),
            "numDeletedRecordsOpt": sum(
                int((a.get("deletionVector") or {}).get("cardinality") or 0)
                for a in adds
            ),
            "setTransactions": sorted(
                txns.values(), key=lambda t: t["appId"]
            ),
            "domainMetadata": [
                {
                    "domain": dm["domain"],
                    "configuration": dm.get("configuration"),
                    "removed": False,
                }
                for dm in sorted(domains.values(), key=lambda d: d["domain"])
            ],
            "metadata": meta,
            "protocol": protocol
            or {"minReaderVersion": 1, "minWriterVersion": 2},
        }
        # Option-typed fields a foreign VersionChecksum reader validates
        # only when present — emit them when known, omit (never null)
        # otherwise, matching delta-spark's Jackson NON_ABSENT encoding.
        if txn_id is not None:
            payload["txnId"] = txn_id
        if ict is not None:
            payload["inCommitTimestampOpt"] = ict
        return payload

    def write_checksum(self, version: int | None = None) -> dict:
        """Write delta-spark's per-version CHECKSUM file
        (``_delta_log/<v>.crc``, the ``VersionChecksum`` JSON): table-
        level aggregates — tableSizeBytes, numFiles, DV counts, the
        exact metadata and protocol — that a reader can validate a
        reconstructed snapshot against WITHOUT re-listing data files.
        delta-spark writes one after every commit and delta-kernel
        consumes them for lightweight snapshot validation; here the
        write is explicit (a maintenance verb) so tables stay
        byte-compatible for clients that do not know the file.

        Field coverage vs the upstream ``VersionChecksum`` schema: every
        REQUIRED field is populated (tableSizeBytes, numFiles,
        numMetadata, numProtocol, metadata, protocol) plus the
        Option-typed fields this client tracks exactly —
        setTransactions (full-log replay, newest per appId),
        domainMetadata (live domains), numDeletionVectorsOpt /
        numDeletedRecordsOpt, and txnId / inCommitTimestampOpt when the
        version's commitInfo carries them. The remaining Option fields
        (histogramOpt, allFiles) are OMITTED — never null — which
        delta-spark's NON_ABSENT Jackson mapping reads as "not
        recorded" and skips during validation, the same as its own
        checksums written with those features disabled. The ``.crc``
        name never collides with commit listing (only ``.json`` stems
        count as commits) and expired versions' crc files are cleaned
        by `cleanup_metadata`. Returns the payload."""
        v = self.latest_version() if version is None else version
        if v is None:
            raise ValueError(f"not a Delta table: {self.path}")
        payload = self._checksum_payload(v)
        tmp = self._checksum_path(v) + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(payload, f, sort_keys=True)
        os.replace(tmp, self._checksum_path(v))  # atomic publish
        return payload

    def verify_checksum(self, version: int | None = None) -> dict:
        """Validate the log-reconstructed snapshot at ``version``
        against its stored ``.crc`` file — the divergence detector for
        copied/restored/synced `_delta_log` trees (a missing commit or a
        tampered add list changes numFiles/tableSizeBytes; a schema swap
        changes the metadata block). Returns ``{"version", "ok",
        "mismatches": [field, ...]}``; a missing checksum file raises
        (nothing to verify is not a pass)."""
        v = self.latest_version() if version is None else version
        path = self._checksum_path(v)
        if not os.path.exists(path):
            raise FileNotFoundError(
                f"no checksum file for version {v} of {self.path}; run "
                "write_checksum() first"
            )
        with open(path) as f:
            stored = json.load(f)
        actual = self._checksum_payload(v)
        mismatches = []
        for k in ("tableSizeBytes", "numFiles"):
            if stored.get(k) != actual[k]:
                mismatches.append(k)
        if (stored.get("metadata") or {}).get("schemaString") != actual[
            "metadata"
        ].get("schemaString"):
            mismatches.append("metadata.schemaString")
        if (stored.get("metadata") or {}).get("id") != actual["metadata"].get(
            "id"
        ):
            mismatches.append("metadata.id")
        if stored.get("protocol") != actual["protocol"]:
            mismatches.append("protocol")
        # Option-typed fields validate only when the stored crc carries
        # them (delta-spark semantics: absent = not recorded, skip) —
        # the *Opt-suffixed counts included
        for k in (
            "numDeletionVectorsOpt",
            "numDeletedRecordsOpt",
            "setTransactions",
            "domainMetadata",
        ):
            if stored.get(k) is not None and stored[k] != actual.get(k):
                mismatches.append(k)
        return {"version": v, "ok": not mismatches, "mismatches": mismatches}

    def checkpoint(
        self,
        spark: SparkSession,
        *,
        parts: int | None = None,
        v2: bool = False,
        sidecar_files: int = 2,
    ) -> int:
        """Write a parquet checkpoint at the latest version.

        Collapses the log so later snapshot builds replay only the JSON
        tail — the mechanism that keeps a years-old table's read planning
        O(recent commits). Returns the checkpointed version.

        ``v2=True`` writes the spec's V2 Checkpoint shape (reader-writer
        feature ``v2Checkpoints``, auto-fenced in a protocol commit when
        the table lacks it): a UUID-named MANIFEST
        (``<v>.checkpoint.<uuid>.parquet``) holding checkpointMetadata +
        the non-file state (protocol/metaData/txn/domainMetadata) plus
        ``sidecar`` actions pointing at ``_delta_log/_sidecars/`` parquet
        files that carry the add/remove rows round-robin. This is the
        shape that scales past classic checkpoints: the manifest stays
        tiny no matter how many files the table has, sidecars are
        immutable and REUSABLE across checkpoints, and a reader fetches
        file state in parallel sidecar reads instead of one giant
        parquet. ``parts`` (classic multi-part) and ``v2`` are mutually
        exclusive — they are different spec generations of the same
        scaling fix.
        """
        if v2 and parts:
            raise ValueError(
                "parts= is the CLASSIC multi-part layout; a v2 "
                "checkpoint shards through sidecar_files= instead"
            )
        if v2:
            self._ensure_v2_checkpoint_feature()
        version = self.latest_version()
        if version is None:
            raise ValueError(f"empty table: {self.path}")
        meta, adds, protocol, domains = self._snapshot_state_full(
            version, with_domains=True
        )
        cp_file = os.path.join(self._log_dir, f"{version:020d}.checkpoint.parquet")
        stage = os.path.join(self._log_dir, f".cp-stage-{uuid.uuid4().hex}")
        # single-file checkpoint written with pyarrow (the state is small
        # relative to data; multi-part checkpoints are a spec option).
        # Schema per PROTOCOL.md: the string-keyed bags (partitionValues,
        # configuration, format.options) are map<string,string> — an empty
        # struct would be both wrong and unwritable to parquet.
        import pyarrow as pa
        import pyarrow.parquet as pq

        str_map = pa.map_(pa.string(), pa.string())
        cp_schema = pa.schema(
            [
                pa.field(
                    "protocol",
                    pa.struct(
                        [
                            ("minReaderVersion", pa.int32()),
                            ("minWriterVersion", pa.int32()),
                            ("readerFeatures", pa.list_(pa.string())),
                            ("writerFeatures", pa.list_(pa.string())),
                        ]
                    ),
                ),
                pa.field(
                    "metaData",
                    pa.struct(
                        [
                            ("id", pa.string()),
                            (
                                "format",
                                pa.struct(
                                    [("provider", pa.string()), ("options", str_map)]
                                ),
                            ),
                            ("schemaString", pa.string()),
                            ("partitionColumns", pa.list_(pa.string())),
                            ("configuration", str_map),
                            ("createdTime", pa.int64()),
                        ]
                    ),
                ),
                pa.field(
                    "add",
                    pa.struct(
                        [
                            ("path", pa.string()),
                            ("partitionValues", str_map),
                            ("size", pa.int64()),
                            ("modificationTime", pa.int64()),
                            ("dataChange", pa.bool_()),
                            ("stats", pa.string()),
                            # row tracking: dropping these would RENUMBER
                            # every row id after a checkpoint
                            ("baseRowId", pa.int64()),
                            ("defaultRowCommitVersion", pa.int64()),
                            # omitting this would silently RESURRECT
                            # deleted rows for checkpoint-based readers
                            (
                                "deletionVector",
                                pa.struct(
                                    [
                                        ("storageType", pa.string()),
                                        ("pathOrInlineDv", pa.string()),
                                        ("offset", pa.int32()),
                                        ("sizeInBytes", pa.int32()),
                                        ("cardinality", pa.int64()),
                                    ]
                                ),
                            ),
                        ]
                    ),
                ),
                # the spec REQUIRES checkpoints to carry unexpired remove
                # tombstones (VACUUM coordination) and the latest txn per
                # app (idempotent-writer state) — omitting txn would make
                # a checkpoint-based external engine re-apply streaming
                # batches this client's sink already committed
                pa.field(
                    "remove",
                    pa.struct(
                        [
                            ("path", pa.string()),
                            ("deletionTimestamp", pa.int64()),
                            ("dataChange", pa.bool_()),
                        ]
                    ),
                ),
                pa.field(
                    "txn",
                    pa.struct(
                        [
                            ("appId", pa.string()),
                            ("version", pa.int64()),
                            ("lastUpdated", pa.int64()),
                        ]
                    ),
                ),
                # live metadata domains (row tracking's high-water mark
                # rides here); removed domains are already replayed out
                pa.field(
                    "domainMetadata",
                    pa.struct(
                        [
                            ("domain", pa.string()),
                            ("configuration", pa.string()),
                            ("removed", pa.bool_()),
                        ]
                    ),
                ),
            ]
        )
        # tombstones: the LAST remove per path not currently active; txns:
        # newest-commit-wins per app (setTransaction REPLACES — must match
        # last_txn_version's newest-first scan). One pass over the log
        # (checkpointing is rare; O(commits) here is what every
        # Delta client's checkpoint write costs).
        active_paths = {a["path"] for a in adds}
        tombstones: dict[str, dict] = {}
        txns: dict[str, dict] = {}
        for v in self._commit_versions():
            if v > version:
                break
            for action in self._read_commit(v):
                if "remove" in action:
                    r = action["remove"]
                    if r["path"] not in active_paths:
                        tombstones[r["path"]] = {
                            "path": r["path"],
                            "deletionTimestamp": r.get("deletionTimestamp"),
                            "dataChange": r.get("dataChange", True),
                        }
                    else:
                        tombstones.pop(r["path"], None)
                elif "txn" in action:
                    t = action["txn"]
                    # newest commit REPLACES (spec setTransaction
                    # semantics) — must match last_txn_version
                    txns[t["appId"]] = {
                        "appId": t["appId"],
                        "version": t["version"],
                        "lastUpdated": t.get("lastUpdated"),
                    }
        # preserve the table's real protocol: checkpointing a column-mapped
        # (reader v2/v3) table with a hardcoded v1 protocol would let a
        # checkpoint-based reader skip the feature gate entirely
        proto_row = {
            k: (protocol or {"minReaderVersion": 1, "minWriterVersion": 2}).get(k)
            for k in (
                "minReaderVersion",
                "minWriterVersion",
                "readerFeatures",
                "writerFeatures",
            )
        }
        meta_row = {k: meta.get(k) for k in (
            "id", "format", "schemaString", "partitionColumns", "configuration",
            "createdTime",
        )}
        add_rows = [
            {k: a.get(k) for k in (
                "path", "partitionValues", "size", "modificationTime",
                "dataChange", "stats", "baseRowId",
                "defaultRowCommitVersion", "deletionVector",
            )}
            for a in adds
        ]
        domain_rows = [
            {
                "domain": dm["domain"],
                "configuration": dm.get("configuration"),
                "removed": False,
            }
            for dm in domains.values()
        ]
        table = pa.Table.from_pylist(
            [
                {"protocol": proto_row},
                {"metaData": meta_row},
                *({"add": a} for a in add_rows),
                *({"remove": r} for r in tombstones.values()),
                *({"txn": t} for t in txns.values()),
                *({"domainMetadata": d} for d in domain_rows),
            ],
            schema=cp_schema,
        )
        if v2:
            # V2 checkpoint: sidecars carry the FILE state (add/remove
            # rows, round-robin), the manifest carries everything else
            # plus checkpointMetadata and one sidecar pointer per shard.
            # Sidecars publish (rename) before the manifest, and the
            # manifest before _last_checkpoint — a reader can never see
            # a dangling pointer.
            side_dir = os.path.join(self._log_dir, "_sidecars")
            os.makedirs(side_dir, exist_ok=True)
            is_file_row = [
                d.get("add") is not None or d.get("remove") is not None
                for d in table.to_pylist()
            ]
            file_tbl = table.filter(is_file_row)
            rest_tbl = table.filter([not x for x in is_file_row])
            n_side = max(1, min(sidecar_files, max(1, file_tbl.num_rows)))
            sidecar_rows = []
            for i in range(n_side):
                shard = file_tbl.filter(
                    [r % n_side == i for r in range(file_tbl.num_rows)]
                )
                sname = f"{uuid.uuid4().hex}.parquet"
                sstage = os.path.join(side_dir, f".side-{uuid.uuid4().hex}")
                pq.write_table(shard, sstage)
                spath = os.path.join(side_dir, sname)
                os.rename(sstage, spath)
                sidecar_rows.append(
                    {
                        "path": sname,
                        "sizeInBytes": os.path.getsize(spath),
                        "modificationTime": int(
                            os.path.getmtime(spath) * 1000
                        ),
                    }
                )
            man_schema = pa.schema(
                list(cp_schema)
                + [
                    pa.field(
                        "checkpointMetadata",
                        pa.struct([("version", pa.int64())]),
                    ),
                    pa.field(
                        "sidecar",
                        pa.struct(
                            [
                                ("path", pa.string()),
                                ("sizeInBytes", pa.int64()),
                                ("modificationTime", pa.int64()),
                            ]
                        ),
                    ),
                ]
            )
            manifest = pa.Table.from_pylist(
                [
                    {"checkpointMetadata": {"version": version}},
                    *rest_tbl.to_pylist(),
                    *({"sidecar": s} for s in sidecar_rows),
                ],
                schema=man_schema,
            )
            mstage = os.path.join(self._log_dir, f".cp-v2-{uuid.uuid4().hex}")
            pq.write_table(manifest, mstage)
            os.rename(
                mstage,
                os.path.join(
                    self._log_dir,
                    f"{version:020d}.checkpoint.{uuid.uuid4().hex}.parquet",
                ),
            )
            last = {"version": version, "size": table.num_rows}
            with open(
                os.path.join(self._log_dir, "_last_checkpoint"), "w"
            ) as f:
                json.dump(last, f)
            return version
        if parts and parts > 1:
            # multi-part checkpoint (spec scale path): rows round-robin
            # across `%020d.checkpoint.%010d.%010d.parquet` files; action
            # placement is arbitrary per spec — the state is a set. Parts
            # stage under dot-names and publish with renames BEFORE
            # _last_checkpoint flips readers over (a reader never sees a
            # half-published checkpoint because discovery goes through
            # _last_checkpoint, which is written last).
            for i in range(parts):
                part_tbl = table.filter(
                    [r % parts == i for r in range(table.num_rows)]
                )
                part_stage = os.path.join(
                    self._log_dir, f".cp-part-{uuid.uuid4().hex}"
                )
                pq.write_table(part_tbl, part_stage)
                os.rename(
                    part_stage,
                    os.path.join(
                        self._log_dir,
                        f"{version:020d}.checkpoint."
                        f"{i + 1:010d}.{parts:010d}.parquet",
                    ),
                )
            last = {"version": version, "size": table.num_rows, "parts": parts}
        else:
            pq.write_table(table, stage)
            os.rename(stage, cp_file)
            last = {"version": version, "size": table.num_rows}
        with open(os.path.join(self._log_dir, "_last_checkpoint"), "w") as f:
            json.dump(last, f)
        return version


class DeltaMergeBuilder:
    """MERGE INTO builder — delta-spark's ``DeltaMergeBuilder`` twin
    (``delta.tables.DeltaTable.merge(source, cond).whenMatchedUpdate(...)
    ...execute()``): chainable when_* clauses, each with an optional
    clause condition; among clauses of the same match class the FIRST
    whose condition holds wins (delta-spark's documented order
    semantics), a row no clause claims is copied unchanged.

    Execution is the two-phase copy-on-write merge delta-spark runs:

    Phase 1 — FIND TOUCHED FILES. An inner join of the target scan
    (carrying ``__file`` provenance) against the source on the merge
    condition yields the files containing matched rows; when
    NOT-MATCHED-BY-SOURCE clauses exist, an anti-join adds the files
    holding rows their conditions would touch. ONLY those files
    rewrite — at 100 TB a merge against a key-local source restages
    the overlapped slice, never the table; every untouched file's
    ``add`` entry survives the commit verbatim (test-pinned). The same
    join powers the protocol's cardinality check: a target row matched
    by more than one source row while any matched clause exists is a
    non-deterministic merge and is refused, exactly as delta-spark's
    DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW error.

    Phase 2 — REWRITE + INSERT. Touched-file rows left-outer-join the
    source once; a single when-chain classifies every row to the first
    applicable clause, and ONE projection builds the output image so
    all assignments see the PRE-merge row (``SET a=b, b=a`` swaps,
    like UPDATE). Source rows matching no target row anti-join in and
    run the not-matched clause chain; rows no insert clause claims are
    dropped. Both legs stage in one pass; CHECK constraints validate
    the final images, generated columns recompute (explicitly
    assigning one is refused — delta-spark recomputes them too), and
    CDF tables get TRUE change images (update_preimage/update_postimage
    pairs, deletes, inserts — copies excluded) in the same atomic
    commit. Works on column-mapped (name and id mode) and partitioned
    tables; rows may move partitions.
    """

    _BY_SOURCE_BASE = 1000  # action ids ≥ this are by-source clauses

    def __init__(self, table: DeltaTable, source: DataFrame, condition: str):
        self._t = table
        self._source = source
        self._cond = condition
        # (kind, clause condition SQL|None, assignments|None); assignments
        # None on update/insert means star (every column from source)
        self._matched: list[tuple[str, str | None, dict | None]] = []
        self._not_matched: list[tuple[str | None, dict | None]] = []
        self._by_source: list[tuple[str, str | None, dict | None]] = []
        self._evolve = False

    # ------------------------------------------------------- clause API

    def when_matched_update(
        self, set: dict | None = None, condition: str | None = None
    ) -> "DeltaMergeBuilder":
        """WHEN MATCHED [AND cond] THEN UPDATE SET ... (``set=None`` =
        ``UPDATE SET *``). Values/conditions see ``target.*`` and
        ``source.*``."""
        self._matched.append(("update", condition, set))
        return self

    def when_matched_delete(
        self, condition: str | None = None
    ) -> "DeltaMergeBuilder":
        self._matched.append(("delete", condition, None))
        return self

    def when_not_matched_insert(
        self, values: dict | None = None, condition: str | None = None
    ) -> "DeltaMergeBuilder":
        """WHEN NOT MATCHED [AND cond] THEN INSERT ... (``values=None``
        = ``INSERT *``; with a dict, unassigned columns become NULL —
        delta-spark's rule). Sees ``source.*`` only."""
        self._not_matched.append((condition, values))
        return self

    def when_not_matched_by_source_update(
        self, set: dict, condition: str | None = None
    ) -> "DeltaMergeBuilder":
        """WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE — sees
        ``target.*`` only (there is no source row)."""
        self._by_source.append(("update", condition, set))
        return self

    def when_not_matched_by_source_delete(
        self, condition: str | None = None
    ) -> "DeltaMergeBuilder":
        self._by_source.append(("delete", condition, None))
        return self

    def with_schema_evolution(self) -> "DeltaMergeBuilder":
        """delta-spark's ``withSchemaEvolution()``: source columns absent
        from the target are ADDED to the table schema in the merge's own
        commit (one metaData action — no separate ALTER). Star clauses
        (``UPDATE SET *`` / ``INSERT *``) then carry the new columns;
        pre-existing target rows read NULL for them (the files predate
        the column, the schema-directed scan null-fills — zero rewrite
        beyond the files the merge touches anyway). Without this call a
        wider source keeps today's behavior: extra source columns are
        ignored."""
        self._evolve = True
        return self

    # ------------------------------------------------------- execution

    def _validate(self, col_types: dict, gen: dict, source_cols: list[str]):
        for kind, _c, assigns in self._matched + self._by_source:
            if kind == "update" and assigns is None:
                missing = [c for c in col_types if c not in source_cols]
                if missing:
                    raise ValueError(
                        f"UPDATE SET * needs every table column in the "
                        f"source; missing {missing}"
                    )
            for c in assigns or {}:
                if c not in col_types:
                    raise ValueError(
                        f"MERGE assigns unknown column {c!r} "
                        f"(table has {sorted(col_types)})"
                    )
                if c in gen:
                    raise ValueError(
                        f"MERGE must not assign generated column {c!r}; "
                        "it is recomputed from its expression"
                    )
        for _c, values in self._not_matched:
            if values is None:
                missing = [c for c in col_types if c not in source_cols]
                if missing:
                    raise ValueError(
                        f"INSERT * needs every table column in the "
                        f"source; missing {missing}"
                    )
            for c in values or {}:
                if c not in col_types:
                    raise ValueError(
                        f"MERGE inserts unknown column {c!r} "
                        f"(table has {sorted(col_types)})"
                    )
                if c in gen:
                    raise ValueError(
                        f"MERGE must not assign generated column {c!r}; "
                        "it is recomputed from its expression"
                    )

    def _image_projection(
        self,
        frame: DataFrame,
        branches,
        schema: T.StructType,
        qualify: bool,
        extra_cols: tuple = (),
    ) -> DataFrame:
        """ONE simultaneous projection: per output column, a when-chain
        over the row's ``__action`` picks that clause's assignment
        (star = the source column; unassigned on update = the target
        value, on insert = NULL), otherwise the copied target value.
        ``qualify=False`` is the insert leg (source columns only).
        ``extra_cols`` append as-is (row tracking's carrier columns)."""
        strip = self._t._strip_meta
        cols = []
        for f in schema.fields:
            copied = (
                F.col(f"target.`{f.name}`") if qualify else F.lit(None)
            )
            chain = None
            for act_id, kind, assigns in branches:
                if kind == "delete":
                    continue
                if assigns is None:
                    v = F.col(f"source.`{f.name}`") if qualify else F.col(
                        f"`{f.name}`"
                    )
                elif f.name in assigns:
                    a = assigns[f.name]
                    v = F.expr(a) if isinstance(a, str) else a
                elif kind == "insert":
                    v = F.lit(None)
                else:
                    v = copied
                v = v.cast(strip(f.dataType))
                chain = (F.when if chain is None else chain.when)(
                    F.col("__action") == act_id, v
                )
            cols.append(
                (copied if chain is None else chain.otherwise(copied)).alias(
                    f.name
                )
            )
        return frame.select(*cols, *extra_cols)

    def execute(
        self, spark: SparkSession, *, txn: tuple[str, int] | None = None
    ) -> int:
        """Run the merge; returns the committed version. A merge where
        no clause fires still commits (delta-spark semantics). ``txn``
        is the setTransaction idempotence key (delta-spark's
        ``txnAppId``/``txnVersion`` write options): a replayed
        (appId, version) becomes a no-op — the foreachBatch
        streaming-upsert contract, where a crashed micro-batch replays
        its merge verbatim."""
        t = self._t
        if not (self._matched or self._not_matched or self._by_source):
            raise ValueError("MERGE needs at least one WHEN clause")
        if txn is not None:
            applied = t.last_txn_version(txn[0])
            if applied is not None and applied >= txn[1]:
                return t.latest_version()  # already applied: replay no-op
        base = t.latest_version()
        if base is None:
            raise ValueError(f"no delta table at {t.path}")
        meta, adds, protocol, domains = t._snapshot_state_full(
            None, with_domains=True
        )
        t._refuse_unknown_writer_features(protocol, "MERGE")
        if self._matched or self._by_source:
            # an insert-only merge is a pure append and stays legal
            t._refuse_if_append_only(meta, "MERGE with matched/by-source clauses")
        id_cols = t._identity_columns(meta)
        #: identity col -> insert-clause action ids the merge ALLOCATES
        #: for (clause omitted the column); explicit values are only
        #: legal on GENERATED BY DEFAULT columns — write()'s rules
        id_need_gen: dict[str, list[int]] = {}
        if id_cols:
            for kind, _c, assigns in self._matched + self._by_source:
                if kind != "update":
                    continue
                if assigns is None:
                    raise ValueError(
                        "MERGE UPDATE SET * on a table with identity "
                        f"column(s) {sorted(id_cols)} would reassign "
                        "them from the source; identity columns cannot "
                        "be updated — list the SET assignments explicitly"
                    )
                if set(assigns) & set(id_cols):
                    raise ValueError(
                        "cannot UPDATE identity column(s) "
                        f"{sorted(set(assigns) & set(id_cols))} in MERGE"
                    )
            for i, (_c, values) in enumerate(self._not_matched):
                for col, info in id_cols.items():
                    explicit = values is None or col in values
                    if explicit and not info["allowExplicitInsert"]:
                        raise ValueError(
                            f"column {col!r} is GENERATED ALWAYS AS "
                            "IDENTITY; omit it from the INSERT clause "
                            "and the merge allocates values (delta-spark "
                            "refuses explicit inserts the same way)"
                        )
                    if not explicit:
                        id_need_gen.setdefault(col, []).append(i)
        schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        col_types = {f.name: f.dataType for f in schema.fields}
        gen = t._generation_exprs(meta)
        part_cols = meta.get("partitionColumns") or []
        mapping = t._column_mapping(meta) or {}
        rt = t._row_tracking_enabled(meta)
        evolved_fields: list[T.StructField] = []
        if self._evolve:
            evolved_fields = [
                f
                for f in self._source.schema.fields
                if f.name not in col_types
            ]
            if evolved_fields:
                # the merge commit CARRIES the evolution (delta-spark's
                # withSchemaEvolution: one metaData action, no separate
                # ALTER); staging below writes the evolved schema, and
                # mapped tables get physical names for the new columns
                new_schema_json, new_conf = t._evolved_schema(
                    meta, mapping, evolved_fields
                )
                meta = dict(meta)
                meta["schemaString"] = new_schema_json
                if new_conf is not None:
                    meta["configuration"] = new_conf
                schema = T.StructType.fromJson(json.loads(new_schema_json))
                col_types = {f.name: f.dataType for f in schema.fields}
        self._validate(col_types, gen, self._source.columns)

        def target(files: set[str] | None = None) -> DataFrame:
            """The target scan, or only its live ``files`` by name."""
            if rt:
                # carry each target row's stable id through the rewrite:
                # copies/updates preserve it (materialized below);
                # inserts get NULL and derive fresh ids from the new
                # file's baseRowId — the spec's fallback does the
                # allocation
                scan = t._attach_row_ids(
                    spark,
                    t._scan(
                        spark,
                        keep_meta=True,
                        extra_phys_cols=list(t._rt_mat_cols(meta)),
                        files=files,
                    ),
                    meta,
                    adds,
                )
            else:
                scan = t._scan(spark, keep_meta=True, files=files)
            for f in evolved_fields:
                # pre-evolution target rows read NULL for the new columns
                scan = scan.withColumn(
                    f.name, F.lit(None).cast(t._strip_meta(f.dataType))
                )
            return scan

        tgt = target()
        src = self._source.withColumn("__src_match", F.lit(True))
        j_cond = F.expr(self._cond)
        matches = (
            tgt.alias("target")
            .join(src.alias("source"), j_cond, "inner")
            .select(F.col("target.__file").alias("__file"),
                    F.col("target.__rid").alias("__rid"))
        )

        touched: set[str] = set()
        #: files holding at least one matched target row — set when a
        #: matched clause ran the per-file pass below
        matched_files: set[str] | None = None
        if self._matched:
            # one pass does double duty: the cardinality check (any
            # target row matched twice) AND fire detection — a file
            # rewrites only if some matched clause actually FIRES on one
            # of its rows (an all-copies file keeps its add entry; delta
            # -spark's touched-file accumulator has the same refinement)
            fired = None
            for _k, c, _a in self._matched:
                e = F.expr(c) if c else F.lit(True)
                fired = e if fired is None else (fired | e)
            per_file = (
                tgt.alias("target")
                .join(src.alias("source"), j_cond, "inner")
                .select(
                    F.col("target.__file").alias("__file"),
                    F.col("target.__rid").alias("__rid"),
                    F.coalesce(fired.cast("int"), F.lit(0)).alias("__fired"),
                )
                .groupBy("__file", "__rid")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.max("__fired").alias("f"),
                )
                .groupBy("__file")
                .agg(F.max("n").alias("mx"), F.max("f").alias("anyf"))
                .collect()
            )
            if any(r["mx"] > 1 for r in per_file):
                raise ValueError(
                    "MERGE found a target row matched by multiple source "
                    "rows with a WHEN MATCHED clause present — the result "
                    "would be non-deterministic (delta's cardinality "
                    "check); de-duplicate the source on the merge keys"
                )
            matched_files = {r["__file"] for r in per_file}
            touched |= {r["__file"] for r in per_file if r["anyf"]}
        if self._by_source:
            bs_any = None
            for _k, c, _a in self._by_source:
                e = F.expr(c) if c else F.lit(True)
                bs_any = e if bs_any is None else (bs_any | e)
            bs_files = (
                tgt.alias("target")
                .join(src.alias("source"), j_cond, "left_anti")
                .filter(bs_any)
                .select(F.col("__file"))
                .distinct()
                .collect()
            )
            touched |= {r["__file"] for r in bs_files}

        touched_list = sorted(touched)
        classified = None
        rewritten = None
        inserts = None
        n_inserted = 0
        branches: list[tuple[int, str, dict | None]] = []
        counts: dict[int, int] = {}
        try:
            if touched_list:
                touched_tgt = target(touched)
                if self._matched:
                    # cardinality check passed: each target row joins ≤1
                    # source row, so left-outer cannot fan copies out
                    joined = touched_tgt.alias("target").join(
                        src.alias("source"), j_cond, "left_outer"
                    )
                    is_m = F.col("source.__src_match").isNotNull()
                else:
                    # by-source-only merge: no source columns are
                    # referenced, and dup matches are legal — mark
                    # matched rows via their (file, rid) coordinates
                    marker = matches.distinct().select(
                        F.col("__file").alias("__mf"),
                        F.col("__rid").alias("__mr"),
                        F.lit(True).alias("__src_match"),
                    )
                    joined = touched_tgt.alias("target").join(
                        marker,
                        (F.col("target.__file") == F.col("__mf"))
                        & (F.col("target.__rid") == F.col("__mr")),
                        "left_outer",
                    )
                    is_m = F.col("__src_match").isNotNull()
                chain = None
                for i, (kind, c, assigns) in enumerate(self._matched):
                    cnd = is_m & (F.expr(c) if c else F.lit(True))
                    chain = (F.when if chain is None else chain.when)(
                        cnd, F.lit(i)
                    )
                    branches.append((i, kind, assigns))
                for j, (kind, c, assigns) in enumerate(self._by_source):
                    act = self._BY_SOURCE_BASE + j
                    cnd = (~is_m) & (F.expr(c) if c else F.lit(True))
                    chain = (F.when if chain is None else chain.when)(
                        cnd, F.lit(act)
                    )
                    branches.append((act, kind, assigns))
                action = (
                    F.lit(-1) if chain is None else chain.otherwise(F.lit(-1))
                )
                classified = joined.withColumn("__action", action).persist()
                counts = {
                    r["__action"]: r["n"]
                    for r in classified.groupBy("__action")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                }
                delete_ids = {a for a, k, _ in branches if k == "delete"}
                survivors = classified.filter(
                    ~F.col("__action").isin(sorted(delete_ids))
                    if delete_ids
                    else F.lit(True)
                )
                rt_extra: tuple = ()
                if rt:
                    rid_col, ver_col = t._rt_mat_cols(meta)
                    upd_acts = sorted(
                        a for a, k, _ in branches if k == "update"
                    )
                    old_ver = F.col("target.`_row_commit_version`")
                    ver = (
                        F.when(
                            F.col("__action").isin(upd_acts),
                            F.lit(base + 1).cast("long"),
                        ).otherwise(old_ver)
                        if upd_acts
                        else old_ver
                    )
                    rt_extra = (
                        F.col("target.`_row_id`").alias(rid_col),
                        ver.alias(ver_col),
                    )
                rewritten = self._image_projection(
                    survivors, branches, schema, qualify=True,
                    extra_cols=rt_extra,
                )

            ins_branches: list[tuple[int, str, dict | None]] = []
            if self._not_matched:
                # every source row with a match has it in a matched
                # file, so the anti-join reads only those — or none
                anti = src.alias("source")
                if matched_files is None:
                    anti = anti.join(tgt.alias("target"), j_cond, "left_anti")
                elif matched_files:
                    anti = anti.join(
                        target(matched_files).alias("target"),
                        j_cond,
                        "left_anti",
                    )
                chain = None
                for i, (c, values) in enumerate(self._not_matched):
                    cnd = F.expr(c) if c else F.lit(True)
                    chain = (F.when if chain is None else chain.when)(
                        cnd, F.lit(i)
                    )
                    ins_branches.append((i, "insert", values))
                ins = anti.withColumn(
                    "__action", chain.otherwise(F.lit(-1))
                ).filter(F.col("__action") >= 0)
                ins_extra: tuple = ()
                if rt:
                    rid_col, ver_col = t._rt_mat_cols(meta)
                    ins_extra = (
                        F.lit(None).cast("long").alias(rid_col),
                        F.lit(None).cast("long").alias(ver_col),
                    )
                if id_need_gen:
                    ins_extra = ins_extra + (
                        F.col("__action").alias("__ins_action"),
                    )
                inserts = self._image_projection(
                    ins, ins_branches, schema, qualify=False,
                    extra_cols=ins_extra,
                )
                if id_need_gen:
                    # same zero-coordination lattice allocation as
                    # write(): hwm + (mono+1)*step is unique within the
                    # job and strictly past the high-water mark; applied
                    # BEFORE persist so staging and CDC images see one
                    # consistent assignment
                    for colname, acts in sorted(id_need_gen.items()):
                        info = id_cols[colname]
                        alloc = (
                            F.lit(info["highWaterMark"])
                            + (F.monotonically_increasing_id() + 1)
                            * F.lit(info["step"])
                        ).cast("long")
                        inserts = inserts.withColumn(
                            colname,
                            F.when(
                                F.col("__ins_action").isin(acts), alloc
                            ).otherwise(F.col(f"`{colname}`")),
                        )
                    inserts = inserts.drop("__ins_action")
                inserts = inserts.persist()
                n_inserted = inserts.count()

            upd_ids = {a for a, k, _ in branches if k == "update"}
            del_ids = {a for a, k, _ in branches if k == "delete"}
            n_updated = sum(counts.get(a, 0) for a in upd_ids)
            n_deleted = sum(counts.get(a, 0) for a in del_ids)
            n_copied = counts.get(-1, 0)

            final = None
            if rewritten is not None:
                final = rewritten
            if inserts is not None and n_inserted:
                final = (
                    inserts if final is None else final.unionByName(inserts)
                )
            if final is not None:
                for colname, gexpr in sorted(gen.items()):
                    final = final.withColumn(
                        colname,
                        F.expr(gexpr).cast(t._strip_meta(col_types[colname])),
                    )
                t._check_constraints(final, meta)

            touched_bytes = sum(
                int(a.get("size") or 0)
                for a in adds
                if os.path.basename(urllib.parse.unquote(a["path"]))
                in touched
            )
            cdc_actions: list[dict] = []
            if t._cdf_enabled(meta) and (n_updated or n_deleted or n_inserted):
                images = []
                tcols = [F.col(f"target.`{f.name}`").alias(f.name)
                         for f in schema.fields]
                if n_updated:
                    upd = classified.filter(
                        F.col("__action").isin(sorted(upd_ids))
                    )
                    images.append(
                        upd.select(*tcols).withColumn(
                            "_change_type", F.lit("update_preimage")
                        )
                    )
                    images.append(
                        self._image_projection(
                            upd, branches, schema, qualify=True
                        ).withColumn(
                            "_change_type", F.lit("update_postimage")
                        )
                    )
                if n_deleted:
                    images.append(
                        classified.filter(
                            F.col("__action").isin(sorted(del_ids))
                        )
                        .select(*tcols)
                        .withColumn("_change_type", F.lit("delete"))
                    )
                if n_inserted:
                    # project DOWN to the declared schema: on row-tracked
                    # tables `inserts` also carries the materialized
                    # row-id/commit-version columns (a staging detail) —
                    # change images never include them, and the union
                    # with the schema-shaped pre/post images would break
                    images.append(
                        inserts.select(
                            *[F.col(f"`{f.name}`") for f in schema.fields]
                        ).withColumn("_change_type", F.lit("insert"))
                    )
                img = images[0]
                for p in images[1:]:
                    img = img.unionByName(p)
                # post/insert images carry the SAME generated values the
                # staged data does; pre/delete images keep stored values
                # (which satisfy the generation invariant by induction)
                for colname, gexpr in sorted(gen.items()):
                    img = img.withColumn(
                        colname,
                        F.when(
                            F.col("_change_type").isin(
                                "update_postimage", "insert"
                            ),
                            F.expr(gexpr).cast(
                                t._strip_meta(col_types[colname])
                            ),
                        ).otherwise(F.col(f"`{colname}`")),
                    )
                cdc_actions = t._stage_cdc_files(
                    img,
                    version=base + 1,
                    meta=meta,
                    # update images are pre+post pairs of the touched
                    # rows: 2× the touched volume bounds them
                    co_partition_bytes=2 * touched_bytes,
                )

            n_staged = n_copied + n_updated + n_inserted
            # a merge whose clauses fired nothing but still classified
            # rows would be a pure rearrangement; with fire-refined
            # touched files that only happens when every surviving row
            # is a copy — stage those with dataChange intact (the files
            # ARE replaced) but skip staging entirely when nothing
            # survives anywhere
            new_adds = (
                t._stage_files(
                    final,
                    version=base + 1,
                    partition_by=part_cols,
                    mapping=mapping,
                    schema_json=meta["schemaString"],
                    id_mode=t._mapping_mode(meta) == "id",
                    # rewrite volume bounded by the touched files' bytes
                    # — which a hot-value merge can concentrate in one
                    # partition value, hence the salt hint
                    co_partition=True,
                    co_partition_bytes=touched_bytes,
                )
                if final is not None and n_staged > 0
                else []
            )
        finally:
            if classified is not None:
                classified.unpersist()
            if inserts is not None:
                inserts.unpersist()

        # spec writer requirement (identityColumns): a commit that wrote
        # identity values records the advanced highWaterMark in the SAME
        # commit's metaData — read back from the staged footers' stats
        # exactly like write() (copied rows are <= the old hwm, so the
        # ext() clamp keeps them inert; explicit BY DEFAULT inserts past
        # the hwm advance it too, preventing future collisions)
        id_meta_updated = False
        if id_cols and new_adds:
            schema_json = json.loads(meta["schemaString"])
            # staged stats carry PHYSICAL names on mapped tables (same
            # fix as write(): a logical-name lookup silently skips the
            # hwm advance and later allocations could collide)
            id_mapping = t._column_mapping(meta) or {}
            for colname, info in id_cols.items():
                ext = max if info["step"] > 0 else min
                key = "maxValues" if info["step"] > 0 else "minValues"
                phys = id_mapping.get(colname, colname)
                vals = [
                    json.loads(a["stats"])[key][phys]
                    for a in new_adds
                    if phys in json.loads(a["stats"]).get(key, {})
                ]
                if not vals:
                    continue
                new_hwm = ext(int(ext(vals)), info["highWaterMark"])
                if new_hwm == info["highWaterMark"]:
                    continue
                fj = next(
                    f for f in schema_json["fields"] if f["name"] == colname
                )
                fj["metadata"] = dict(fj.get("metadata") or {})
                fj["metadata"]["delta.identity.highWaterMark"] = new_hwm
                id_meta_updated = True
            if id_meta_updated:
                meta = dict(meta)
                meta["schemaString"] = json.dumps(schema_json)

        now_ms = int(time.time() * 1000)
        by_name = {
            os.path.basename(urllib.parse.unquote(a["path"])): a for a in adds
        }
        actions: list[dict] = [
            *(
                [{"txn": {"appId": txn[0], "version": txn[1],
                          "lastUpdated": now_ms}}]
                if txn is not None
                else []
            ),
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "MERGE",
                    "operationParameters": {"predicate": self._cond},
                    "operationMetrics": {
                        "numTargetRowsUpdated": str(n_updated),
                        "numTargetRowsDeleted": str(n_deleted),
                        "numTargetRowsInserted": str(n_inserted),
                        "numTargetRowsCopied": str(n_copied),
                        "numTargetFilesRemoved": str(len(touched_list)),
                        "numTargetFilesAdded": str(len(new_adds)),
                    },
                }
            }
        ]
        if evolved_fields or id_meta_updated:
            actions.append({"metaData": meta})
        for fname in touched_list:
            a = by_name[fname]
            prior_dv = a.get("deletionVector")
            actions.append(
                {
                    "remove": {
                        "path": a["path"],
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                        **({"deletionVector": prior_dv} if prior_dv else {}),
                    }
                }
            )
        if rt and new_adds:
            # fresh ranges for the staged files; the materialized column
            # overrides them for preserved rows, NULLs (inserted rows)
            # fall back to baseRowId + position — the spec's allocation
            hwm = t._stamp_fresh_row_ids(
                new_adds, t._rt_hwm(domains), base + 1
            )
            actions.append(t._rt_domain_action(hwm))
        actions.extend({"add": a} for a in new_adds)
        actions.extend(cdc_actions)
        return t._publish_or_conflict(base + 1, actions, "MERGE")
