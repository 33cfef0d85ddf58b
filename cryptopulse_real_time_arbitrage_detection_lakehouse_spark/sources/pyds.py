"""Spark 4 Python Data Source API: the Delta log client as a REAL
``spark.read.format("pydelta")`` source.

Why this exists alongside `DeltaTable.read` (which plans JVM parquet
scans): the Python Data Source API (SPARK-44076, public since 4.0;
filter pushdown since 4.1) is the sanctioned way to plug a pure-Python
table format into Spark's planner — registration, schema discovery,
partition planning, and filter pushdown all flow through the engine
instead of around it:

- one **InputPartition per active data file** — Spark schedules file
  reads across executors exactly like a native scan (the driver ships
  each partition's path + partition values + deletion-vector positions);
- the ``where`` option drives **log-stats file pruning** (same prover
  as ``DeltaTable.read(where=...)``) plus exact row-level application
  with pyarrow.compute — see the in-class note for why Spark 4.1's
  relation-level scan caching makes ``pushFilters`` unsound here;
- each partition reads its parquet with **pyarrow and yields Arrow
  RecordBatches** (the API's zero-copy path), applies deletion vectors
  by row position, renames physical->logical columns (column mapping),
  and injects typed partition values.

That file reader (`_read_partition`, planned by `_FilePlan`) is the
engine's one pure-Python Delta reader: `DeltaTable.to_pandas` runs it on
the driver, without Spark, and the change feeds plan from the same
commit walk as `DeltaTable.read_changes` (`DeltaTable._change_walk`).

The source is read-only, with two surfaces: batch read
(`PyDeltaReader`, including batch change data feed and shredded-variant
reads) and LOG-TAILING streaming read (`PyDeltaStreamReader` — offsets
are log versions, exactly-once recovery from the checkpointed version;
it streams partitioned and column-mapped tables, the change data feed,
``ignoreDeletes``/``skipChangeCommits`` and rate limits). Writes go through
`DeltaTable.write` and the txn-keyed `start_delta_append_stream` sink;
a batch or streaming write to the "pydelta" format fails as it starts,
because the source defines no writer.

Options: ``path`` (table root, required), ``versionAsOf``,
``timestampAsOf`` (ms epoch), ``where`` (simple-conjunction predicate
for file pruning + exact row filtering — batch, batch-CDF, and
STREAMING, where data commits also stats-prune and CDF batches
row-filter only), ``startingVersion`` (streaming and CDF). Register
once per session with ``pyds.register(spark)``.

Scale notes: the JVM parquet path remains the default for raw scan
throughput (vectorized reader, codegen); this source is the
INTEROPERABILITY surface — e.g. running the whole engine against a
Delta table from a pure-Python environment where the scan cost is
dominated by Python anyway, or testing reader semantics in-process.
"""

from __future__ import annotations

import json
import os
import urllib.parse
from typing import Iterator

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from . import dv as _dv
from .shredding import _is_shredded_layout, unshred_struct_array
from .delta import (
    DeltaTable,
    _phys_path_fn,
    _as_dict,
    _arrow_names_differ,
    _arrow_to_logical_names,
    _file_may_match,
    _parse_conjuncts_strict,
    _spark_to_arrow_type,
    _HIVE_NULL,
)


class PyDeltaPartition(InputPartition):
    """One data file read task: everything an executor needs, pickled.
    ``dv_rows`` EXCLUDES positions (deletion vectors); ``keep_rows``,
    when set, RESTRICTS to positions (change-feed delete deltas);
    ``change_type``/``commit_version`` tag change-feed rows."""

    def __init__(
        self,
        file_path: str,
        phys_to_logical: dict[str, str],
        part_values: dict[str, object],
        dv_rows: list[int],
        conjuncts: list[tuple[str, str, object]],
        keep_rows: list[int] | None = None,
        change_type: str | None = None,
        commit_version: int | None = None,
        field_ids: dict[str, int] | None = None,
        size_hint: int = 0,
    ) -> None:
        self.file_path = file_path
        self.phys_to_logical = phys_to_logical
        self.part_values = part_values
        self.dv_rows = dv_rows
        self.conjuncts = conjuncts
        self.keep_rows = keep_rows
        self.change_type = change_type
        self.commit_version = commit_version
        # id-mode column mapping: logical data column -> parquet field
        # id; the executor resolves each file's ARBITRARY column names
        # through its own footer ids (names match nothing in id mode)
        self.field_ids = field_ids
        # logged file size, consumed only by the driver-side bin-packer
        self.size_hint = size_hint


class PyDeltaMultiPartition(InputPartition):
    """Several file-read tasks executed by ONE executor slot: the
    bin-packed form of `PyDeltaPartition`. Exists because the Python
    data source pays a worker round-trip per input partition — a
    many-small-files table (streaming micro-batch appends before
    OPTIMIZE) planned one-partition-per-file turns into thousands of
    per-task spin-ups that dwarf the reads. Packing follows Spark's own
    FileSourceScan policy, so at 100 TB with ~128 MiB files it
    degenerates to one file per partition (today's plan), while a
    10k-tiny-file table plans O(bytes), not O(files)."""

    def __init__(self, tasks: list[PyDeltaPartition]) -> None:
        self.tasks = tasks


#: Spark's spark.sql.files.* defaults — the policy this planner mirrors.
_MAX_PARTITION_BYTES = 128 * 1024 * 1024
_OPEN_COST_BYTES = 4 * 1024 * 1024


def _pack_partitions(tasks: list, opts: dict) -> list:
    """Greedy bin-pack of per-file read tasks into executor partitions,
    mirroring Spark's FilePartition planning: each file costs
    ``size + openCostInBytes`` and bins close at ``maxSplitBytes =
    min(maxPartitionBytes, max(openCost, totalCost/defaultParallelism))``
    — the parallelism floor keeps small tables from collapsing into one
    task, the byte ceiling keeps partitions executor-memory-sized.
    Options (lowercased): ``maxpartitionbytes``, ``opencostinbytes``,
    ``defaultparallelism`` (default 32, the engine's local target; a
    cluster deployment passes its core count)."""
    if len(tasks) <= 1:
        return tasks
    max_pb = int(opts.get("maxpartitionbytes", _MAX_PARTITION_BYTES))
    open_cost = int(opts.get("opencostinbytes", _OPEN_COST_BYTES))
    par = max(1, int(opts.get("defaultparallelism", 32)))
    costs = [
        max(0, int(getattr(t, "size_hint", 0) or 0)) + open_cost
        for t in tasks
    ]
    split = min(max_pb, max(open_cost, sum(costs) // par + 1))
    bins: list[list] = []
    cur: list = []
    cur_cost = 0
    for t, c in zip(tasks, costs):
        if cur and cur_cost + c > split:
            bins.append(cur)
            cur, cur_cost = [], 0
        cur.append(t)
        cur_cost += c
    if cur:
        bins.append(cur)
    return [
        b[0] if len(b) == 1 else PyDeltaMultiPartition(b) for b in bins
    ]


def _coerce_partition_value(raw, dt: T.DataType):
    """Hive-encoded partition string -> a Python value pyarrow can build
    an array of the column's arrow type from. Unsupported partition
    types fail HERE at planning time, loudly — a string fallback would
    produce a column whose type mismatches the declared schema."""
    import datetime
    import decimal

    if raw is None or raw == _HIVE_NULL:
        return None
    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return int(raw)
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return float(raw)
    if isinstance(dt, T.BooleanType):
        return raw == "true"
    if isinstance(dt, T.StringType):
        return raw
    if isinstance(dt, T.DateType):
        return datetime.date.fromisoformat(raw)
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return datetime.datetime.fromisoformat(raw)
    if isinstance(dt, T.DecimalType):
        return decimal.Decimal(raw)
    raise NotImplementedError(
        f"partition column type {dt.simpleString()} is not supported by the "
        "pydelta source"
    )


def _resolve_version(table: DeltaTable, opts: dict) -> int | None:
    """Time-travel target from lowercased options; specifying both
    version and timestamp is ambiguous and refused (delta-spark does
    the same)."""
    version = opts.get("versionasof")
    ts = opts.get("timestampasof")
    if version is not None and ts is not None:
        raise ValueError("specify versionAsOf OR timestampAsOf, not both")
    if ts is not None:
        return table.version_at_timestamp(int(ts))
    return int(version) if version is not None else None


def _lower_opts(options: dict) -> dict:
    # Spark hands options through a case-insensitive dict whose plain
    # dict() view is lowercased — normalize every lookup
    return {str(k).lower(): v for k, v in dict(options).items()}


#: the change-feed columns a readChangeFeed read schema ends with
_CDF_COLS = ("_change_type", "_commit_version")


class _FilePlan:
    """Everything a pydelta read derives from (log metadata, read schema,
    ``where``), computed once and shared by the batch reader, the stream
    reader and `DeltaTable.to_pandas`: Spark and Arrow types, the
    declared output order, the physical->logical map, id-mode field ids,
    the STRICT conjunct parse, and the read task for one add. It travels
    to executors inside the reader, so it holds no add list.

    ``where`` is STRICT-parsed: this reader's row filtering IS the
    conjunct list (nothing re-applies the predicate above the scan), so
    a predicate that does not fully decompose must error, never silently
    under-filter. A read schema that declares a STRUCT for a log-VARIANT
    column selects shredded-variant mode: the executor unshreds the
    files' typed_value leaves into that struct (sources/shredding.py;
    residual binaries refuse there). Any other VARIANT in the read schema
    refuses with ``variant_refusal``."""

    def __init__(
        self,
        root: str,
        meta: dict,
        schema: T.StructType,
        where: str | None = None,
        *,
        variant_refusal: str,
    ) -> None:
        log_schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        self.root = root
        self.part_cols = meta.get("partitionColumns") or []
        self.mapping = DeltaTable._column_mapping(meta) or {}
        self.phys_path = _phys_path_fn(meta)
        self.conjuncts: list[tuple[str, str, object]] = (
            _parse_conjuncts_strict(where) if where else []
        )
        self.spark_types = {f.name: f.dataType for f in log_schema.fields}
        self.shredded = {
            f.name
            for f in schema.fields
            if isinstance(self.spark_types.get(f.name), T.VariantType)
            and isinstance(f.dataType, T.StructType)
        }
        if self.shredded and self.mapping:
            # under column mapping the files carry physical nested names,
            # so _is_shredded_layout would miss the layout and the
            # positional logical-name rebuild would map
            # metadata/value/typed_value onto the declared struct fields —
            # silent garbage when types line up
            raise NotImplementedError(
                "shredded-variant reads on a column-mapped table are not "
                "supported by the pydelta source; unmap the table first"
            )
        if any(
            DeltaTable._has_variant(f.dataType)
            for f in schema.fields
            if f.name not in self.shredded
        ):
            raise NotImplementedError(variant_refusal)
        for f in schema.fields:
            if f.name in self.shredded or f.name in _CDF_COLS:
                self.spark_types[f.name] = f.dataType
        # arrow types precomputed ONCE (executors must not re-parse the
        # schema JSON per field per file)
        self.arrow_types = {
            n: _spark_to_arrow_type(dt) for n, dt in self.spark_types.items()
        }
        self.col_order = schema.fieldNames()
        data = [
            f.name
            for f in schema.fields
            if f.name not in self.part_cols and f.name not in _CDF_COLS
        ]
        self.phys_to_logical = {self.mapping.get(c, c): c for c in data}
        # id-mode column mapping: ship (logical -> field id) to every
        # partition; executors resolve THEIR file's arbitrary column
        # names through its footer ids (`_read_partition`)
        self.field_ids: dict[str, int] | None = None
        if DeltaTable._mapping_mode(meta) == "id":
            self.field_ids = {
                f.name: int(f.metadata["delta.columnMapping.id"])
                for f in log_schema.fields
                if f.name in data
            }

    def may_match(self, add: dict) -> bool:
        """False when the add's logged stats prove no row matches
        ``where``."""
        return not self.conjuncts or _file_may_match(
            add, self.conjuncts, self.part_cols, self.phys_path
        )

    def part_values(self, add: dict) -> dict:
        pv_raw = _as_dict(add.get("partitionValues"))
        return {
            c: _coerce_partition_value(
                pv_raw.get(self.mapping.get(c, c)), self.spark_types[c]
            )
            for c in self.part_cols
        }

    def partition(self, add: dict, drop=None, **tags) -> PyDeltaPartition:
        """The read task for one add action: its file, typed partition
        values and the rows its deletion vector drops (``drop``
        overrides them); ``tags`` are the change-feed fields."""
        if drop is None:
            d = add.get("deletionVector")
            drop = _dv.resolve_dv_rows(self.root, d) if d else []
        return PyDeltaPartition(
            os.path.join(self.root, urllib.parse.unquote(add["path"])),
            self.phys_to_logical,
            self.part_values(add),
            sorted(drop),
            self.conjuncts,
            field_ids=self.field_ids,
            size_hint=add.get("size") or 0,
            **tags,
        )


class PyDeltaReader(DataSourceReader):
    def __init__(
        self, options: dict, schema: T.StructType, snapshot=None
    ) -> None:
        opts = _lower_opts(options)
        self._pack_opts = opts
        root = opts["path"]
        table = DeltaTable(root)
        if snapshot is not None:
            _version, meta, adds = snapshot
        else:
            meta, adds = table._snapshot_state(_resolve_version(table, opts))
        self._plan = _FilePlan(
            root,
            meta,
            schema,
            opts.get("where"),
            variant_refusal="the pydelta source cannot read VARIANT columns "
            "as variants (pyarrow does not recognize the parquet VARIANT "
            "logical type); use the Spark read path — or, when the table "
            "is SHREDDED (variantShredding), pass an explicit "
            ".schema(...) declaring the column as a struct of its "
            "shredded typed paths and this source serves them from the "
            "typed_value leaves",
        )
        self._adds = adds
        self._cdf_parts: list | None = None
        if str(opts.get("readchangefeed", "")).lower() == "true":
            # batch change feed (delta-spark's
            # .option("readChangeFeed", true).option("startingVersion", N)
            # [.option("endingVersion", M)]): one bounded range of the
            # same diff plan the streaming CDF source runs per
            # micro-batch (`_plan_cdf_partitions`)
            if opts.get("versionasof") is not None or opts.get(
                "timestampasof"
            ) is not None:
                raise ValueError(
                    "readChangeFeed cannot be combined with versionAsOf/"
                    "timestampAsOf; scope the feed with startingVersion/"
                    "endingVersion"
                )
            start_opt = opts.get("startingversion")
            if start_opt is None:
                raise ValueError(
                    "readChangeFeed requires startingVersion (delta-spark "
                    "semantics: an unbounded start would replay the whole "
                    "history implicitly)"
                )
            start_v = int(start_opt)
            latest = table.latest_version()
            end_v = int(opts.get("endingversion", latest))
            if start_v > latest:
                raise ValueError(
                    f"startingVersion {start_v} is after the latest "
                    f"commit {latest} of {root}"
                )
            if end_v < start_v or end_v > latest:
                raise ValueError(
                    f"endingVersion {end_v} out of range "
                    f"[{start_v}, {latest}]"
                )
            # planned eagerly (driver-side, like partitions()); the range
            # is [startingVersion, endingVersion] INCLUSIVE of the start —
            # the shared planner's half-open contract takes start-1
            self._cdf_parts = _plan_cdf_partitions(
                table, self._plan, start_v - 1, end_v
            )

    # ----------------------------------------------------------- planning

    # NOTE — deliberate absence of pushFilters(): Spark 4.1's
    # PlanPythonDataSourceScan caches the planned scan (partitions +
    # read function) on the shared relation node WITHOUT keying it on
    # the pushed-filter set. Reproduced here: with pushFilters
    # implemented, count() -> 80, filter(day='d1').count() -> 26, then
    # count() again -> 26 (!) — the filtered scan is silently reused for
    # the unfiltered query, whether the filters are claimed or returned.
    # Until the engine keys that cache correctly, the ONLY sound reader
    # is filter-independent; per-load pruning is offered through the
    # explicit `where` option instead (each load() is a fresh relation,
    # so the scan it plans is scoped to it by construction).

    def partitions(self):
        if self._cdf_parts is not None:
            out = self._cdf_parts
        else:
            plan = self._plan
            out = [plan.partition(a) for a in self._adds if plan.may_match(a)]
        # the planner pickles (partitions, read function) for executors
        # AFTER this call: drop the driver-only state so each task does
        # not redundantly carry the whole add list + stats JSON (linear
        # in table size times task count)
        self._adds = []
        self._cdf_parts = None
        return _pack_partitions(out, self._pack_opts)

    # ---------------------------------------------------------- execution

    def read(self, partition) -> Iterator:
        return _read_tasks(partition, self._plan)


def _read_tasks(partition, plan: _FilePlan) -> Iterator:
    """Executor-side read of one (possibly bin-packed) input partition."""
    tasks = (
        partition.tasks
        if isinstance(partition, PyDeltaMultiPartition)
        else [partition]
    )
    for t in tasks:
        yield from _read_partition(t, plan)


def _read_partition(partition: PyDeltaPartition, plan: _FilePlan) -> Iterator:
    """Read of one data file: schema-directed pyarrow read,
    physical->logical rename (nested included), DV application by row
    position, typed partition-value injection, arrow-type conforming,
    exact conjunct filtering, read-schema-order output. The one file
    reader of the batch reader, the log-tailing STREAM reader (which
    just scopes partitions to a commit range) and, driver-side,
    `DeltaTable.to_pandas`."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_type

    if partition is None:
        # partitions() pruned every file (e.g. a where-option literal
        # matching nothing): Spark still schedules one task with a
        # None partition — the correct output is zero batches
        return

    # schema-directed read: a pre-evolution file lacks columns added
    # later (merge_schema); request only what the footer has and
    # null-fill the rest — requesting a missing column would crash
    # the whole scan (ArrowInvalid), where Delta semantics say NULL
    # one ParquetFile open serves both the footer schema and the read
    arrow_types, spark_types = plan.arrow_types, plan.spark_types
    pf = pq.ParquetFile(partition.file_path)
    if getattr(partition, "field_ids", None):
        # id mode: the file's column NAMES are arbitrary — resolve each
        # logical column through the footer's PARQUET:field_id metadata
        # (Spark's fieldId.read twin); an id absent from this footer is
        # a pre-evolution file -> null-fill like a missing column
        by_id: dict[int, str] = {}
        for fld in pf.schema_arrow:
            fid = (fld.metadata or {}).get(b"PARQUET:field_id")
            if fid is not None:
                by_id[int(fid)] = fld.name
        file_to_logical = {}
        missing = []
        for logical, fid in partition.field_ids.items():
            fc = by_id.get(fid)
            if fc is None:
                missing.append(logical)
            else:
                file_to_logical[fc] = logical
    else:
        present = set(pf.schema_arrow.names)
        file_to_logical = {
            p: l for p, l in partition.phys_to_logical.items() if p in present
        }
        missing = [
            l
            for p, l in partition.phys_to_logical.items()
            if p not in present
        ]
    tbl = pf.read(columns=list(file_to_logical))
    tbl = tbl.rename_columns(
        [file_to_logical[c] for c in tbl.column_names]
    )
    # shredded variant columns (the reader declared a struct for a
    # log-VARIANT column): rebuild the struct from the typed_value
    # leaves BEFORE any name conforming — the file's {metadata, value,
    # typed_value} group is physical layout, not logical shape
    for idx, name in enumerate(tbl.column_names):
        if name not in plan.shredded:
            continue
        if not _is_shredded_layout(tbl.column(idx).type):
            raise NotImplementedError(
                f"column {name!r} in {partition.file_path} is not stored "
                "in the shredded layout; the binary variant is unreadable "
                "here — use the Spark read path"
            )
        arr = unshred_struct_array(
            tbl.column(idx).combine_chunks(),
            spark_types[name],
            _spark_to_arrow_type,
        )
        tbl = tbl.set_column(idx, pa.field(name, arr.type), arr)
    # nested struct fields still carry PHYSICAL names after the
    # top-level rename — rebuild positionally to logical (column
    # mapping)
    for idx, name in enumerate(tbl.column_names):
        dt = spark_types.get(name)
        if dt is not None and _arrow_names_differ(tbl.column(idx).type, dt):
            arr = _arrow_to_logical_names(
                tbl.column(idx).combine_chunks(), dt
            )
            tbl = tbl.set_column(idx, pa.field(name, arr.type), arr)
    for logical in missing:
        tbl = tbl.append_column(
            logical,
            pa.nulls(
                tbl.num_rows,
                type=arrow_types.get(logical)
                or to_arrow_type(DeltaTable._strip_meta(spark_types[logical])),
            ),
        )
    if partition.dv_rows:
        mask = np.ones(tbl.num_rows, dtype=bool)
        gone = np.asarray(partition.dv_rows, dtype=np.int64)
        mask[gone[gone < tbl.num_rows]] = False
        tbl = tbl.filter(pa.array(mask))
    if getattr(partition, "keep_rows", None) is not None:
        mask = np.zeros(tbl.num_rows, dtype=bool)
        kp = np.asarray(partition.keep_rows, dtype=np.int64)
        mask[kp[kp < tbl.num_rows]] = True
        tbl = tbl.filter(pa.array(mask))
    for name, val in partition.part_values.items():
        tbl = tbl.append_column(
            name,
            pa.array(
                [val] * tbl.num_rows,
                type=arrow_types.get(name) or pa.string(),
            ),
        )
    # conform every column to the Spark schema's arrow types (e.g.
    # ns->us timestamps); unknown types pass through untouched
    fields = []
    changed = False
    for fld in tbl.schema:
        want = arrow_types.get(fld.name)
        if want is not None and want != fld.type:
            fields.append(pa.field(fld.name, want))
            changed = True
        else:
            fields.append(fld)
    if changed:
        tbl = tbl.cast(pa.schema(fields))
    if getattr(partition, "change_type", None) is not None:
        tbl = tbl.append_column(
            "_change_type",
            pa.array([partition.change_type] * tbl.num_rows, type=pa.string()),
        )
    if getattr(partition, "commit_version", None) is not None:
        # decoupled from change_type: a spec CDC file CARRIES its own
        # _change_type column, but the commit version is always ours
        tbl = tbl.append_column(
            "_commit_version",
            pa.array(
                [partition.commit_version] * tbl.num_rows, type=pa.int64()
            ),
        )
    # claimed filters are OURS to enforce exactly (Spark no longer
    # re-evaluates them): vectorized arrow compute per conjunct
    if partition.conjuncts:
        import pyarrow.compute as pc

        for col, op, val in partition.conjuncts:
            field = pc.field(*col.split("."))
            expr = {
                "=": field == val,
                "<": field < val,
                "<=": field <= val,
                ">": field > val,
                ">=": field >= val,
            }[op]
            tbl = tbl.filter(expr)
    # Spark consumes these batches POSITIONALLY (the worker validates
    # names as a set but never reorders): null-filled and partition
    # columns were appended at the end, so the table MUST be put in
    # declared-schema order or values silently land in the wrong
    # columns (reproduced: a middle-column evolution swapped fields)
    tbl = tbl.select(plan.col_order)
    yield from tbl.to_batches()


def _plan_cdf_partitions(
    table: DeltaTable, plan: _FilePlan, start_version: int, end_version: int
) -> list:
    """Change-feed read plan for versions in (start_version,
    end_version], over the commits of `DeltaTable._change_walk` — the
    walk `DeltaTable.read_changes` scans too, so both feeds share one
    diff semantics and one expired-log refusal: inserts minus their own
    DV, only the newly-dead positions of a DV re-add as deletes, the
    then-live rows of a remove without re-add as deletes, and a commit's
    spec ``cdc`` files (true update pre/post images) as its only
    changes. Shared by the streaming CDF source (per micro-batch) and
    the batch ``readChangeFeed`` reader (one [startingVersion,
    endingVersion] range). ``where`` composes as ROW filtering only:
    change partitions carry no file stats to prune on, and the executor
    conjunct filter is exact either way.

    Per-path prior state replays from version 0 — O(log tail)
    driver-side JSON; a long-lived production stream would cache the
    live-set per checkpointed offset."""

    def dv_rows(a: dict) -> set[int]:
        d = a.get("deletionVector")
        return set(_dv.resolve_dv_rows(plan.root, d)) if d else set()

    cdc_cols = {**plan.phys_to_logical, "_change_type": "_change_type"}
    out: list = []
    for v, cdc, inserts, dv_readds, removed in table._change_walk(
        start_version + 1, end_version
    ):
        for c in cdc:
            # the file carries its own _change_type column
            out.append(
                PyDeltaPartition(
                    os.path.join(plan.root, urllib.parse.unquote(c["path"])),
                    cdc_cols,
                    plan.part_values(c),
                    [],
                    plan.conjuncts,
                    commit_version=v,
                    size_hint=c.get("size") or 0,
                )
            )
        for a in inserts:
            out.append(plan.partition(a, change_type="insert", commit_version=v))
        for a, prior in dv_readds:
            newly_dead = dv_rows(a) - dv_rows(prior)
            if newly_dead:
                out.append(
                    plan.partition(
                        a,
                        drop=(),
                        keep_rows=sorted(newly_dead),
                        change_type="delete",
                        commit_version=v,
                    )
                )
        for prior in removed:
            out.append(
                plan.partition(prior, change_type="delete", commit_version=v)
            )
    return out


class PyDeltaStreamReader(DataSourceStreamReader):
    """Log-tailing STREAMING source: ``spark.readStream.format("pydelta")``.

    This is the real Delta streaming-source shape (delta-spark's
    ``DeltaSource``): the OFFSET is the log version, each micro-batch
    reads exactly the commits in ``(start, end]``, and recovery replays
    from the checkpointed version — exactly-once across restarts comes
    from the log's version monotonicity, no file-listing heuristics.
    Unlike the file-stream twin (`DeltaTable.read_stream`), this source
    streams PARTITIONED and column-MAPPED tables too, because each
    partition ships its typed partition values and the physical->logical
    rename from the log instead of trusting directory layout.

    Append-only contract (delta-spark's default): a commit carrying
    data-changing ``remove`` actions or a DV re-add is refused
    mid-stream rather than silently resurrecting or double-reading
    rows. ``startingVersion`` (default 0) scopes the tail. Three
    relaxations, all delta-spark streaming-source semantics:

    - **Layout commits are skipped automatically** — a commit whose
      adds/removes all carry ``dataChange=false`` (OPTIMIZE / Z-ORDER /
      row-tracking backfill) rearranges bytes, not rows, so the stream
      emits nothing for it and keeps tailing (no option required;
      delta-spark's source does the same).
    - ``ignoreDeletes=true`` skips commits that ONLY delete data
      (dataChange removes, no dataChange adds — DELETE without DVs,
      partition drops, GDPR erasure). Rewrite commits still refuse.
    - ``skipChangeCommits=true`` skips ENTIRE commits that rewrite data
      (dataChange removes alongside adds — UPDATE/MERGE/DV deletes):
      their adds are NOT emitted, so downstream never double-reads a
      row that already streamed. The deprecated delta-spark
      ``ignoreChanges`` (which re-emits rewritten rows as duplicates)
      is refused with a pointer here — silent duplicates are the bug
      that option is deprecated for.

    ``where`` (simple-conjunction predicate, STRICT-parsed — a
    predicate that does not fully decompose errors up front, because on
    a stream silent under-filtering means wrong rows forever): data
    commits prune whole files by their logged footer stats AND filter
    rows exactly executor-side, the batch reader's contract; change-feed
    batches (``readChangeFeed=true``) filter rows only (change files
    carry no stats contract to prune on). The filter composes AFTER
    commit admission — skipped/refused-commit semantics are unchanged.

    Rate limiting (delta-spark's ``maxFilesPerTrigger`` /
    ``maxBytesPerTrigger``): each micro-batch admits whole commits until
    the file/byte budget is hit, always at least one commit (commit
    atomicity — a version never splits across batches, so a batch is
    still an exactly-once unit). This is the admission control that
    keeps steady-state tailing from ballooning: a burst of commits
    drains as several bounded batches instead of one huge one whose
    shuffle/state must fit in memory at once. Scope, documented rather
    than hidden (traced against Spark 4.1's runner): the Python
    DataSource API hands ``latestOffset`` no start offset and calls it
    BEFORE ``initialOffset``, so the admission cursor is only known
    from the second micro-batch of a run onward — the FIRST batch of
    every run (fresh or restart) is unbounded, and a
    ``trigger(availableNow=True)`` drain is a single unbounded batch
    (Spark's wrapper captures one end offset up front). Bounding the
    unknown-cursor case from ``startingVersion`` instead would be
    WRONG, not just weaker: on a restart it can emit an offset behind
    the checkpoint, and the next batch would replay committed rows.
    delta-spark's JVM source bounds every batch via ReadLimit — an API
    surface the Python DS lacks; semantics here are identical
    (exactly-once, no loss) with coarser admission.
    """

    def __init__(self, options: dict, schema: T.StructType) -> None:
        opts = _lower_opts(options)
        self._pack_opts = opts
        self._root = opts["path"]
        table = DeltaTable(self._root)
        meta, _adds = table._snapshot_state(None)  # validates protocol
        # options that would be SILENTLY ignored must refuse instead
        for bad in ("versionasof", "timestampasof"):
            if opts.get(bad) is not None:
                raise NotImplementedError(
                    f"option {bad!r} is not supported on the pydelta "
                    "STREAMING source (use startingVersion to scope the "
                    "tail, or the batch reader for point-in-time reads)"
                )
        # stream `where`: on a stream silent under-filtering means
        # silently-wrong rows forever. Data commits prune by file stats
        # AND filter rows exactly; change-feed batches filter rows only
        # (change files carry no stats contract).
        self._plan = _FilePlan(
            self._root,
            meta,
            schema,
            opts.get("where"),
            variant_refusal="the pydelta source cannot stream VARIANT "
            "columns (pyarrow does not recognize the parquet VARIANT "
            "logical type); use the Spark read path",
        )
        self._table = table
        self._start_version = int(opts.get("startingversion", "0"))
        self._cdf = str(opts.get("readchangefeed", "")).lower() == "true"
        self._ignore_deletes = (
            str(opts.get("ignoredeletes", "")).lower() == "true"
        )
        self._skip_change_commits = (
            str(opts.get("skipchangecommits", "")).lower() == "true"
        )
        if opts.get("ignorechanges") is not None:
            raise NotImplementedError(
                "ignoreChanges re-emits rewritten rows as silent "
                "duplicates (the behavior delta-spark deprecated it "
                "for); use skipChangeCommits=true, which skips rewrite "
                "commits entirely"
            )
        mft = opts.get("maxfilespertrigger")
        mbt = opts.get("maxbytespertrigger")
        self._max_files = int(mft) if mft is not None else None
        self._max_bytes = int(mbt) if mbt is not None else None
        if self._max_files is not None and self._max_files < 1:
            raise ValueError("maxFilesPerTrigger must be >= 1")
        if self._max_bytes is not None and self._max_bytes < 1:
            raise ValueError("maxBytesPerTrigger must be >= 1")
        #: admission cursor: highest version already returned by
        #: latestOffset or planned by partitions (None until learned)
        self._pos: int | None = None

    # ----------------------------------------------------------- offsets

    def initialOffset(self) -> dict:
        self._pos = self._start_version - 1
        return {"version": self._start_version - 1}

    def latestOffset(self) -> dict:
        latest = self._table.latest_version()
        if latest is None:
            return {"version": -1}
        if (
            (self._max_files is None and self._max_bytes is None)
            or self._pos is None  # restart: cursor unknown (see class doc)
            or self._pos >= latest
        ):
            self._pos = max(self._pos or -1, latest)
            return {"version": latest}
        # admit whole commits until the budget is spent; always >= 1
        files = bytes_ = 0
        end = self._pos
        for v in range(self._pos + 1, latest + 1):
            n = sz = 0
            for action in self._table._read_commit(v):
                add = action.get("add")
                # layout rewrites (dataChange=false) never emit rows, so
                # they must not eat the admission budget either
                if add is not None and add.get("dataChange", True):
                    n += 1
                    sz += int(add.get("size") or 0)
            if v > self._pos + 1 and (
                (self._max_files is not None and files + n > self._max_files)
                or (self._max_bytes is not None
                    and bytes_ + sz > self._max_bytes)
            ):
                break
            files += n
            bytes_ += sz
            end = v
            if (self._max_files is not None and files >= self._max_files) or (
                self._max_bytes is not None and bytes_ >= self._max_bytes
            ):
                break
        self._pos = end
        return {"version": end}

    def partitions(self, start: dict, end: dict):
        # learn the cursor from the planned range (covers checkpoint
        # restarts, where initialOffset is never consulted)
        self._pos = max(self._pos if self._pos is not None else -1,
                        end["version"])
        if self._cdf:
            return _pack_partitions(
                _plan_cdf_partitions(
                    self._table, self._plan, start["version"], end["version"]
                ),
                self._pack_opts,
            )
        out = []
        for v in range(start["version"] + 1, end["version"] + 1):
            actions = list(self._table._read_commit(v))
            # dataChange=false adds/removes (OPTIMIZE / Z-ORDER /
            # row-tracking backfill) rearrange bytes, not rows — the
            # streaming source never emits them (delta-spark semantics)
            removes_dc = [
                a["remove"]
                for a in actions
                if "remove" in a and a["remove"].get("dataChange", True)
            ]
            adds_dc = [
                a["add"]
                for a in actions
                if "add" in a and a["add"].get("dataChange", True)
            ]
            if removes_dc:
                if self._skip_change_commits:
                    continue  # skip the whole commit, adds included
                if self._ignore_deletes and not adds_dc:
                    continue  # delete-only commit (no rewritten rows)
                raise NotImplementedError(
                    f"commit {v} of {self._root} "
                    + (
                        "rewrites data (remove + add in one commit: "
                        "UPDATE/MERGE/DV delete); set "
                        "skipChangeCommits=true to skip rewrite commits, "
                        if adds_dc
                        else "deletes data; set ignoreDeletes=true to "
                        "skip delete-only commits, "
                    )
                    + "or re-stream from a fresh startingVersion"
                )
            for add in adds_dc:
                if add.get("deletionVector"):
                    # spec-compliant writers always pair a DV re-add
                    # with a remove (caught above); a bare one would
                    # double-read rows, so refuse defensively
                    raise NotImplementedError(
                        f"commit {v} adds a deletion vector without a "
                        "paired remove; streaming would double-read "
                        "rows — use the batch read path"
                    )
                # data-commit adds carry full footer stats: pruning here
                # is the same soundness as the batch reader (a pruned
                # file PROVABLY holds no matching row)
                if self._plan.may_match(add):
                    out.append(self._plan.partition(add))
        return _pack_partitions(out, self._pack_opts)

    def commit(self, end: dict) -> None:
        # offsets are durable in the query checkpoint; the log needs no
        # acknowledgement (reads are side-effect-free)
        return

    # ---------------------------------------------------------- execution

    def read(self, partition) -> Iterator:
        return _read_tasks(partition, self._plan)


def register(spark) -> None:
    """Register the source with a session: ``spark.read.format("pydelta")``.

    Data-source classes ship to Python workers via cloudpickle, which
    pickles classes BY REFERENCE when their module looks importable —
    but this engine is typically run from a repo path the workers don't
    have on sys.path. Registering the involved modules for BY-VALUE
    pickling makes the shipped source self-contained (the worker needs
    only pyspark/pyarrow/numpy, all installed)."""
    import sys

    from pyspark import cloudpickle

    from . import delta as _delta_mod
    from . import dv as _dv_mod
    from . import shredding as _shred_mod

    # EVERY module this one references at top level must be here: a
    # by-reference pickle of any of them reaches the worker as
    # "import cryptopulse_...", which fails off-repo (caught live when
    # the round-10 shredding import shipped without registration)
    for mod in (sys.modules[__name__], _delta_mod, _dv_mod, _shred_mod):
        cloudpickle.register_pickle_by_value(mod)
    spark.dataSource.register(PyDeltaDataSource)


class PyDeltaDataSource(DataSource):
    """``spark.read.format("pydelta")`` — register via
    :func:`register` (handles by-value pickling of this module)."""

    @classmethod
    def name(cls) -> str:
        return "pydelta"

    def schema(self) -> T.StructType:
        opts = _lower_opts(self.options)
        table = DeltaTable(opts["path"])
        # resolve at the TRAVELED version: a schema-evolved table read at
        # an old version must expose that version's columns (the latest
        # schema would send executors after columns the old files lack)
        version = _resolve_version(table, opts)
        meta, adds = table._snapshot_state(version)
        # stash the replayed snapshot: reader() (same instance, possibly
        # pickled with this state) can then skip a second log replay
        self._snapshot = (version, meta, adds)
        schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        if str(opts.get("readchangefeed", "")).lower() == "true":
            schema = T.StructType(
                list(schema.fields)
                + [
                    T.StructField("_change_type", T.StringType(), False),
                    T.StructField("_commit_version", T.LongType(), False),
                ]
            )
        return schema

    def reader(self, schema: T.StructType) -> PyDeltaReader:
        snap = getattr(self, "_snapshot", None)
        # clear the stash: the read-function closure pickles this
        # DataSource instance into every executor task, and the snapshot
        # holds the full adds list (linear in table size)
        self._snapshot = None
        return PyDeltaReader(dict(self.options), schema, snapshot=snap)

    def streamReader(self, schema: T.StructType) -> PyDeltaStreamReader:
        self._snapshot = None  # stream reads tail the log, never a snapshot
        return PyDeltaStreamReader(dict(self.options), schema)
