"""Dataset: manifest-versioned Parquet tables with transactional semantics.

PySpark-native rebuild of the reference's storage2/SDK capability surface
(sdk/dataset.go:96-213):

| capability            | reference citation              | here |
|-----------------------|---------------------------------|------|
| append/overwrite      | transaction.go:32-82            | Spark write + manifest commit |
| delete(predicate)     | sdk/dataset.go:1132             | deletion-vector sidecars (deletion_bitmap.go:31) |
| update(predicate)     | update.go:20-82                 | deletion vectors + appended row images |
| merge insert (upsert) | merge_insert.go:19-134          | pruned key join + deletion vectors + append |
| time travel / tags    | version.go:20-42, tags.go:9-32  | manifest per version + _refs.json |
| optimistic commit     | commit_txn.go:11, conflict.go:81| O_EXCL manifest create + diff rebase |
| compaction            | compaction_planner.go:34-254    | size-tiered bin-packed rewrite commit |
| vacuum                | cleanup.go:17-101               | retention sweep of unreferenced files |
| statistics            | statistics.go:16-165            | parquet-footer stats in the manifest |
| file pruning          | zonemap_index.go:18-63          | manifest min/max pruning before the scan |
| schema evolution      | sdk/dataset.go:623-816          | manifest schema rewrite + scan-time defaults |

Scale design: every commit costs O(rows changed): DELETE, UPDATE and MERGE
write deletion vectors plus the new rows, never rewrite a fragment, and
compaction rewrites a file only once as many smaller bytes join it;
metadata is O(fragments) JSON on the driver. Commits are a single atomic
file create, so writers on a shared store (S3 conditional put / HDFS
rename) follow the identical protocol.
"""

from __future__ import annotations

import datetime as _dt
import functools
import json
import os
import re
import shutil
import uuid
from collections import Counter
from dataclasses import dataclass, field, replace
from decimal import Decimal
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    CharType,
    DataType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    VarcharType,
)

from plan_spark.dataset.commit import (
    CasConflict,
    CommitHandler,
    Store,
    detect_handler,
    handler_named,
    mem_reset,
    store_for_path,
    write_handler_marker,
)
from plan_spark.dataset.manifest import FORMAT, Fragment, Manifest
from plan_spark.faults import fault_point
from plan_spark.session import driver_sized, parse_expression


class ConflictError(Exception):
    """Concurrent commit cannot be rebased (reference: conflict.go:81)."""


class DuplicateBatchError(Exception):
    """A stream_commit's batch id is at or below the manifest's recorded
    watermark for that stream — the batch already landed (replay)."""


class StageExpiredError(Exception):
    """A detached transaction's TTL elapsed before commit_staged (reference
    detached-txn expiry, sdk/dataset.go:1214-1243 CleanupExpiredDetached)."""


_FILE_COL = "__ds_file"
_POS_COL = "__ds_pos"
_SRC_ROW = "__ds_src_row"  # a small MERGE source's row number
# deletion sidecars are written by _plan_delete with exactly this shape;
# declaring it on every read skips parquet schema inference (one footer-
# listing Spark job per scan construction when deletion files exist)
_DELETES_SCHEMA = StructType(
    [
        StructField("file", StringType(), True),
        StructField("pos", LongType(), True),
    ]
)
_ROWID_STORED = "__rowid"  # physical column written by rewrites (Array segment)
_ROWID = "_rowid"  # the exposed stable-row-id column name


def _apply_filters(df: DataFrame, filters) -> DataFrame:
    """``df`` filtered by (col, op, literal) conjuncts."""
    for col, op, val in filters or []:
        if op == "in":
            df = df.filter(F.col(col).isin(*val))
            continue
        ops = {
            "=": F.col(col) == val,
            ">": F.col(col) > val,
            ">=": F.col(col) >= val,
            "<": F.col(col) < val,
            "<=": F.col(col) <= val,
        }
        df = df.filter(ops[op])
    return df


def char_as_string(dt: DataType) -> DataType:
    """``dt`` with every CHAR(n) and VARCHAR(n), at any depth, as STRING.
    A stored schema never holds them: Spark refuses a plan that outputs
    them, and DuckDB, the oracle, neither pads CHAR nor checks length."""
    if isinstance(dt, (CharType, VarcharType)):
        return StringType()
    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name, char_as_string(f.dataType), f.nullable, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, ArrayType):
        return ArrayType(char_as_string(dt.elementType), dt.containsNull)
    if isinstance(dt, MapType):
        return MapType(
            char_as_string(dt.keyType), char_as_string(dt.valueType), dt.valueContainsNull
        )
    return dt


def _stat_key(v: Any) -> Any:
    """Normalize a stat/filter value for ordering comparisons."""
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    return v


_BITMAP_MAX_NDV = 64

# compaction rewrites a fragment once this share of its rows is deleted
# (Lance's materialize-deletions threshold)
_REWRITE_DELETED_FRAC = 0.1

# rows per file written for deletion sidecars and update images: tiny
# statements land as one file, huge ones do not serialize through one task
_ROWS_PER_FILE = 10_000_000
# at most this many literal values travel in a plan as an IN list; beyond
# it ids ship as a broadcast relation and keys prune by [min, max]
_IN_LIST_MAX = 10_000
# rows per Parquet row group in every data file, from both writers: the
# footer's per-group min/max then bound a statement-sized read of a large
# fragment (Dataset._driver_scan). A steady point read admits one group of
# a compacted fragment plus the small recent files, so a group holds well
# under _IN_LIST_MAX rows and the read stays under that gate.
_ROW_GROUP_ROWS = 4096

# Detached-txn expiry grace: file-reclaiming paths (vacuum unpinning,
# cleanup_expired) act only this many seconds AFTER expires_at, while
# commit_staged refuses exactly AT expires_at — so a commit that passed its
# expiry check cannot race a concurrent reclaim of its files (the window
# collapses to clock skew greater than the grace).
_STAGE_GRACE = 30.0
# a "committing" stage claim older than this is an interrupted commit_staged;
# cleanup_expired un-claims it (the retry is idempotent — see commit_staged)
_CLAIM_TTL = 900.0

# An _INFLIGHT sentinel older than this is a crashed build's leftover and no
# longer protects its index dir from the vacuum sweep.
_INFLIGHT_TTL = 24 * 3600.0


def _open_parquet(path: str):
    """(pyarrow ParquetFile, size in bytes) for a local path or a URI-rooted
    dataset's file (s3://, s3a://): ParquetFile alone treats a URI as a
    local path, so URIs resolve through pyarrow's own filesystem layer.
    s3a:// is Hadoop's connector name for the same bucket; pyarrow knows
    it as s3://. An INT96 timestamp reads in microseconds, as Spark holds
    it: pyarrow's default nanoseconds overflow outside 1677-2262."""
    import pyarrow.parquet as pq

    if "://" not in path:
        return pq.ParquetFile(path, coerce_int96_timestamp_unit="us"), os.path.getsize(path)
    from pyarrow import fs as pafs

    filesystem, inner = pafs.FileSystem.from_uri(path.replace("s3a://", "s3://", 1))
    return (
        pq.ParquetFile(filesystem.open_input_file(inner), coerce_int96_timestamp_unit="us"),
        filesystem.get_file_info(inner).size,
    )


def _stat_column(col) -> bool:
    """Whether a footer column gets min/max stats: a top-level primitive
    column (its path is its name) that is not a decimal."""
    return col.path == col.name and col.logical_type.type != "DECIMAL"


def _chunk_stats(md, ci: int, groups) -> dict[str, Any] | None:
    """min/max/nulls of footer column ``ci`` over the row groups
    ``groups``, or None when any of them lacks a readable, non-NaN min/max.
    A date or timestamp bound is kept as its ISO string."""
    mn = mx = None
    nulls = 0
    for ri in groups:
        # the statistics accessor may raise for a type pyarrow cannot
        # decode — stats are an optimization, so a column we can't read
        # stats for just never prunes
        try:
            st = md.row_group(ri).column(ci).statistics
            if st is None or not st.has_min_max:
                return None
            nulls += st.null_count or 0
            cmn, cmx = st.min, st.max
        except Exception:
            return None
        # Spark's writer can record NaN as a bound, and NaN orders against
        # nothing: a merged max would lose it
        if isinstance(cmn, bytes) or cmn != cmn or cmx != cmx:
            return None
        mn = cmn if mn is None or _stat_key(cmn) < _stat_key(mn) else mn
        mx = cmx if mx is None or _stat_key(cmx) > _stat_key(mx) else mx
    if mn is None:
        return None
    if isinstance(mn, (_dt.datetime, _dt.date)):
        mn, mx = mn.isoformat(), mx.isoformat()
    return {"min": mn, "max": mx, "nulls": nulls}


def _collect_stats(
    local_path: str, bitmap_columns: list[str] | None = None
) -> tuple[int, int, dict[str, dict[str, Any]]]:
    """Rows, bytes, per-column min/max/nulls from the parquet footer.

    Stats are keyed by column path, and only a top-level primitive column
    (its path is its name) gets them: a nested leaf shares its name with
    whatever top-level column it shadows, and pruning reads top-level
    columns only. A decimal column gets none: Spark stores precision <= 18
    as INT32/INT64, whose footer stats pyarrow cannot decode, and wider
    ones (and every pyarrow-written decimal) as FIXED_LEN_BYTE_ARRAY,
    whose Decimal min/max the manifest's JSON cannot hold — so a decimal
    never pruned and still does not, whichever writer wrote it. A column
    with a NaN bound in any row group gets none either.

    ``bitmap_columns`` (declared low-NDV columns) additionally get their
    per-fragment DISTINCT VALUE SET — the engine's bitmap scalar index
    (reference bitmap_index.go:14-56) at file granularity: an equality
    predicate on a value absent from the set prunes the whole fragment even
    when min/max ranges interleave and the zonemap cannot. The set is read
    from the column data (one local column scan at write time) and dropped
    if NDV exceeds a bound — a wide set would neither compress nor prune."""
    pf, nbytes = _open_parquet(local_path)
    md = pf.metadata
    stats: dict[str, dict[str, Any]] = {}
    for ci in range(md.num_columns):
        col = md.schema.column(ci)
        if _stat_column(col):
            st = _chunk_stats(md, ci, range(md.num_row_groups))
            if st is not None:
                stats[col.path] = st
    for c in bitmap_columns or []:
        if c not in pf.schema_arrow.names:
            continue
        try:
            col = pf.read(columns=[c]).column(0)
            vals = [v for v in col.unique().to_pylist() if v is not None]
        except Exception:
            continue
        if len(vals) > _BITMAP_MAX_NDV:
            continue
        if any(isinstance(v, (_dt.datetime, _dt.date)) for v in vals):
            vals = [v.isoformat() for v in vals]
        elif not all(isinstance(v, (int, float, str, bool)) for v in vals):
            continue  # only JSON-encodable scalar sets
        entry = stats.setdefault(c, {"min": None, "max": None, "nulls": 0})
        entry["distinct"] = sorted(vals, key=_stat_key)
    return md.num_rows, nbytes, stats


def _footer_schema(md) -> StructType | None:
    """The Spark schema the parquet footer ``md`` records in its key-value
    metadata, as Spark's writer does; None when it records none."""
    raw = (md.metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
    return None if raw is None else StructType.fromJson(json.loads(raw))


def _prunable(stats: dict[str, dict[str, Any]], zone) -> bool:
    """True if min/max/distinct ``stats`` (keyed by stored column name, a
    fragment's or one row group's) prove no row satisfies every (stored
    column, op, literal) conjunct of ``zone`` (zonemap pruning — reference
    zonemap_index.go:18-63, index_selector.go:36). ``zone`` holds only
    conjuncts whose literal compares with the column's stats
    (Dataset._zone); a datetime literal compares with the stored ISO
    bounds read back as datetimes, and a pair Python cannot order (a
    zone-aware bound against a naive literal) proves nothing."""
    for col, op, val in zone:
        st = stats.get(col)
        if not st:
            continue
        vals = val if op == "in" else [val]
        if vals and isinstance(vals[0], _dt.datetime):
            def k(x):
                return _dt.datetime.fromisoformat(x) if isinstance(x, str) else x
        else:
            k = _stat_key
        try:
            # bitmap index: the fragment's distinct value set proves absence
            # even when min/max ranges interleave across fragments
            if op in ("=", "in") and st.get("distinct") is not None:
                dset = {k(x) for x in st["distinct"]}
                if all(k(v) not in dset for v in vals):
                    return True
            if st.get("min") is None or st.get("max") is None:
                continue
            lo, hi = k(st["min"]), k(st["max"])
            if lo != lo or hi != hi:
                continue  # a NaN bound proves nothing
            if op == "in":
                if all(k(v) < lo or k(v) > hi for v in vals):
                    return True
                continue
            v = k(val)
            if op == "=" and (v < lo or v > hi):
                return True
            if op in (">", ">=") and (hi < v or (op == ">" and hi == v)):
                return True
            if op in ("<", "<=") and (lo > v or (op == "<" and lo == v)):
                return True
        except TypeError:
            continue
    return False


def _admitted_groups(md, zone) -> list[int]:
    """Row groups of the file with footer ``md`` whose own footer stats,
    read as _collect_stats reads them, do not exclude ``zone``: the
    reference's per-block ZoneMap on Parquet row groups."""
    cols = {c for c, _, _ in zone}
    idx = {
        md.schema.column(ci).path: ci
        for ci in range(md.num_columns)
        if md.schema.column(ci).path in cols and _stat_column(md.schema.column(ci))
    }
    out = []
    for g in range(md.num_row_groups):
        st = {c: _chunk_stats(md, ci, [g]) for c, ci in idx.items()}
        if not _prunable({c: s for c, s in st.items() if s is not None}, zone):
            out.append(g)
    return out


def _driver_rows(df: DataFrame) -> list | None:
    """``df``'s rows when they already sit on the driver — its optimized
    plan is a LocalRelation — and are statement-sized (at most
    ``_IN_LIST_MAX``), else None. ``collect`` reads them without a Spark
    job; ``toArrow`` would run one. Only a plan over local leaves (a local
    relation, or VALUES before the optimizer folds it into one) is
    optimized: optimizing a scan's plan costs tens of milliseconds."""
    qe = df._jdf.queryExecution()
    leaves = qe.analyzed().collectLeaves()
    if any(
        leaves.apply(i).getClass().getSimpleName() not in ("LocalRelation", "ResolvedInlineTable")
        for i in range(leaves.size())
    ):
        return None
    plan = qe.optimizedPlan()
    if plan.getClass().getSimpleName() != "LocalRelation" or plan.data().size() > _IN_LIST_MAX:
        return None
    return df.collect()


def _leaf_types(dt: DataType):
    """Every non-container type in ``dt``, at any depth."""
    if isinstance(dt, StructType):
        for f in dt.fields:
            yield from _leaf_types(f.dataType)
    elif isinstance(dt, ArrayType):
        yield from _leaf_types(dt.elementType)
    elif isinstance(dt, MapType):
        yield from _leaf_types(dt.keyType)
        yield from _leaf_types(dt.valueType)
    else:
        yield dt


def _spark_parquet_options(spark: SparkSession, schema: StructType) -> dict | None:
    """``pq.write_table`` options under which pyarrow stores each column
    of ``schema`` with the Parquet type Spark's writer gives it under
    ``spark``'s conf, or None where it cannot. Decimals are left out: pyarrow
    16 writes every one as FIXED_LEN_BYTE_ARRAY, which Spark reads back
    alike and _collect_stats treats alike. TIMESTAMP follows
    ``spark.sql.parquet.outputTimestampType``, but pyarrow applies INT96 or
    millisecond units to every timestamp column, while Spark writes
    TIMESTAMP_NTZ as INT64 microseconds under any setting."""
    from pyspark.sql.types import TimestampNTZType, TimestampType

    kinds = {type(t) for t in _leaf_types(schema)}
    if TimestampType not in kinds:
        return {}
    out = spark.conf.get("spark.sql.parquet.outputTimestampType").upper()
    if out == "TIMESTAMP_MICROS":
        return {}
    if out == "INT96" and TimestampNTZType not in kinds:
        return {"use_deprecated_int96_timestamps": True}
    return None


def _has_nan(arr) -> bool:
    """Whether the Arrow array ``arr`` holds a floating NaN at any depth."""
    import pyarrow as pa
    import pyarrow.compute as pc

    t = arr.type
    if pa.types.is_floating(t):
        return bool(pc.any(pc.is_nan(arr)).as_py())
    if pa.types.is_struct(t):
        return any(_has_nan(arr.field(i)) for i in range(t.num_fields))
    if pa.types.is_map(t):
        return _has_nan(arr.keys) or _has_nan(arr.items)
    if pa.types.is_list(t):
        return _has_nan(arr.flatten())
    return False


def _default_id_col(kind: str, row_ids: bool, names: list[str], column: str) -> str | None:
    """The id column create_index gives an index of ``kind`` over
    ``column`` (``x,y`` for an rtree) when none is passed, as the SQL face
    (CREATE INDEX ... USING kind (col)) passes none: the stable row id for
    the scalar and spatial kinds on a row-id table, so probes return
    take_rows ids; else the conventional name among the table's column
    ``names``, else the first column not indexed; else None."""
    if kind in ("btree", "rtree", "bitmap") and row_ids:
        return _ROWID
    conventional = "doc_id" if kind == "fts" else "vec_id"
    # a coordinate column of an rtree must never become the index id
    indexed = {c.strip() for c in column.split(",")}
    return conventional if conventional in names else next(
        (n for n in names if n not in indexed), None
    )


def _upgrade_manifest(d: dict, root: str) -> dict:
    """The stored manifest ``d`` of the table at ``root``, parsed from its
    JSON, brought from format 1 to FORMAT:

    - a fragment's writer may have keyed stats by a nested leaf's Parquet
      name (``key``/``value`` of a map, ``element`` of an array, a struct
      field's own name), so each stats entry named like a nested leaf of
      the version's schema goes: that column does not prune there;
    - a fragment whose ``deleted_rows`` is absent or null gets the count of
      distinct positions its deletion sidecars hold, read on the driver;
    - an index descriptor without ``phys`` gets its column, and one with
      files but no ``params.id_col`` gets create_index's default."""
    schema = StructType.fromJson(json.loads(d["schema_json"]))
    shadowed = _nested_leaf_names(schema)
    uncounted = {
        os.path.basename(f["path"]): f for f in d["fragments"] if f.get("deleted_rows") is None
    }
    dead = set()
    for side in {x for f in uncounted.values() for x in f.get("deletion_files", [])}:
        t = _open_parquet(os.path.join(root, side))[0].read(columns=["file", "pos"])
        dead.update(zip(t.column("file").to_pylist(), t.column("pos").to_pylist()))
    per_file = Counter(fn for fn, _ in dead)
    for fn, f in uncounted.items():
        f["deleted_rows"] = per_file[fn]
    for f in d["fragments"]:
        f["stats"] = {c: st for c, st in f.get("stats", {}).items() if c not in shadowed}
    for desc in d.get("indexes", {}).values():
        desc.setdefault("phys", desc["column"])
        params = desc.setdefault("params", {})
        if desc.get("path") and "id_col" not in params:
            params["id_col"] = _default_id_col(
                desc["kind"], d.get("row_ids", False), schema.fieldNames(), desc["column"]
            )
    d["format"] = FORMAT
    return d


def _nested_leaf_names(schema: StructType) -> set[str]:
    """The Parquet leaf name Spark's writer gives every leaf below a
    top-level column of ``schema``: a struct field's own name, a list's
    ``element``, a map's ``key`` and ``value``."""
    out: set[str] = set()

    def walk(dt: DataType, name: str) -> None:
        if isinstance(dt, StructType):
            for f in dt.fields:
                walk(f.dataType, f.name)
        elif isinstance(dt, ArrayType):
            walk(dt.elementType, "element")
        elif isinstance(dt, MapType):
            walk(dt.keyType, "key")
            walk(dt.valueType, "value")
        else:
            out.add(name)

    for f in schema.fields:
        if isinstance(f.dataType, (StructType, ArrayType, MapType)):
            walk(f.dataType, f.name)
    return out


def _readable(have: DataType, want: DataType) -> bool:
    """Whether Spark's parquet reader reads a column stored as ``have``
    under the read-schema type ``want`` as stored: equal types, nullability
    aside, with struct fields matched by name (a field only one side has is
    left out or read as null)."""
    if isinstance(have, StructType) and isinstance(want, StructType):
        by_name = {f.name: f.dataType for f in want.fields}
        return all(_readable(f.dataType, by_name[f.name]) for f in have.fields if f.name in by_name)
    if isinstance(have, ArrayType) and isinstance(want, ArrayType):
        return _readable(have.elementType, want.elementType)
    if isinstance(have, MapType) and isinstance(want, MapType):
        return _readable(have.keyType, want.keyType) and _readable(have.valueType, want.valueType)
    return have.simpleString() == want.simpleString()


def _nullable(dt: DataType) -> DataType:
    """``dt`` with every field, element and value nullable at any depth:
    the schema Spark's file reader gives a user-declared read schema."""
    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt.fields
        ])
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _conform(col, typ):
    """``col``, one fragment's Arrow column, as the Arrow type ``typ`` of
    the read schema, read as Spark's parquet reader reads it: struct fields
    match by name (a field the file lacks is null, one the schema dropped
    is left out), a timestamp without a zone is UTC (Spark's INT96), and a
    narrower stored type widens."""
    import pyarrow as pa

    if col.type == typ:
        return col
    if pa.types.is_struct(typ) and pa.types.is_struct(col.type):
        col = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
        have = {col.type.field(i).name for i in range(col.type.num_fields)}
        kids = [
            _conform(col.field(f.name), f.type) if f.name in have else pa.nulls(len(col), f.type)
            for f in typ
        ]
        return pa.StructArray.from_arrays(
            kids, fields=list(typ), mask=col.is_null() if col.null_count else None
        )
    if pa.types.is_timestamp(typ) and typ.tz and pa.types.is_timestamp(col.type) and not col.type.tz:
        col = col.cast(pa.timestamp(col.type.unit, "UTC"))
    return col.cast(typ)


def _rowid_hits(pf, row_start: int | None, los, his, gone):
    """(row group, positions in it, stable row ids) of one fragment file's
    live rows whose id falls in a run ``[los[k], his[k]]`` (sorted,
    disjoint numpy arrays); ``gone`` holds the file's sidecar-deleted
    positions. A stored ``__rowid`` wins over ``row_start + position``, as
    in _rowid_join's coalesce. A Range file finds its positions by
    arithmetic over the footer's row-group row counts; an Array file reads
    ``__rowid`` only from the row groups whose footer min/max admit a run."""
    import numpy as np

    md = pf.metadata
    starts = np.cumsum([0] + [md.row_group(g).num_rows for g in range(md.num_row_groups)])
    stored = next(
        (j for j in range(md.num_columns) if md.schema.column(j).path == _ROWID_STORED), None
    )
    found = []  # (row group, positions in it, ids)
    if stored is None:
        if row_start is None:
            return []  # no row in this file has an id
        a = np.maximum(los, row_start)
        b = np.minimum(his, row_start + starts[-1] - 1)
        a, n = a[a <= b], (b - a + 1)[a <= b]
        # every id of every clipped run, as file positions
        pos = np.arange(n.sum()) - np.repeat(np.cumsum(n) - n, n) + np.repeat(a - row_start, n)
        groups = np.searchsorted(starts, pos, side="right") - 1
        for g in np.unique(groups):
            p = pos[groups == g]
            found.append((g, p - starts[g], p + row_start))
    else:
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(stored).statistics
            if st is not None and st.has_min_max and (st.null_count == 0 or row_start is None):
                k = np.searchsorted(los, st.max, side="right") - 1
                if k < 0 or his[k] < st.min:
                    continue
            arr = pf.read_row_group(g, columns=[_ROWID_STORED]).column(0).combine_chunks()
            ids = arr.fill_null(-1).to_numpy()
            valid = np.asarray(arr.is_valid()) if arr.null_count else None
            if valid is not None and row_start is not None:
                ids = np.where(valid, ids, row_start + starts[g] + np.arange(len(ids)))
                valid = None
            k = np.searchsorted(los, ids, side="right") - 1
            hit = (k >= 0) & (ids <= his[k])
            p = np.flatnonzero(hit if valid is None else hit & valid)
            found.append((g, p, ids[p]))
    out = []
    for g, p, ids in found:
        if len(gone):
            keep = ~np.isin(p + starts[g], gone)
            p, ids = p[keep], ids[keep]
        if len(p):
            out.append((int(g), p, ids))
    return out


def _arrow_rowids(t, frags: list[Fragment]):
    """Dataset._rowid_join on the driver: the Arrow table ``t`` of rows of
    ``frags`` carrying lineage, its stored ``__rowid`` replaced by
    ``_rowid`` (last), by _rowid_hits' rule — a stored id wins over
    ``row_start + position``, and a file without a Range segment computes
    no id."""
    import pyarrow as pa
    import pyarrow.compute as pc

    starts = {
        os.path.basename(f.path): f.row_start
        for f in frags
        if f.row_start is not None and f.row_start >= 0
    }
    computed = pc.add(
        pa.array([starts.get(fn) for fn in t.column(_FILE_COL).to_pylist()], pa.int64()),
        t.column(_POS_COL).cast(pa.int64()),
    )
    ids = pc.coalesce(t.column(_ROWID_STORED), computed)
    return t.drop_columns([_ROWID_STORED]).append_column(_ROWID, ids)


_NO_BOUNDS = object()

# a timestamp literal's text that Spark's cast and Python's fromisoformat
# read alike: a date, then optionally a zone-less time
_TS_TEXT = r"\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}(:\d{2}(\.\d{1,6})?)?)?"

# Catalyst comparison node -> conjunct operator (Dataset._parse_filter_string)
_CMP_OPS = {
    "EqualTo": "=",
    "LessThan": "<",
    "LessThanOrEqual": "<=",
    "GreaterThan": ">",
    "GreaterThanOrEqual": ">=",
}


def _column(node: dict) -> str | None:
    """The column a parsed node names when it is a single-part identifier.
    Name parts print as ``[t, a]``, so a name holding ", " is not provably
    one part and names nothing here."""
    if not node["class"].endswith(".UnresolvedAttribute"):
        return None
    name = node["nameParts"][1:-1]
    return None if ", " in name else name


def _literal(node: dict) -> int | float | str | None:
    """A parsed literal's value as the type fragment stats compare with —
    integer types as int, double as float, string as str — or None when it
    has no such value: NULL, typed (DATE, ...), boolean and non-literal
    nodes, and a decimal that no int or float equals exactly."""
    if not node["class"].endswith(".Literal") or node["value"] is None:
        return None
    dt, v = node["dataType"], node["value"]
    if dt in ("byte", "short", "integer", "long"):
        return int(v)
    if dt == "double":
        return float(v)
    if dt == "string":
        return v
    if dt.startswith("decimal("):
        d = Decimal(v)
        if d == d.to_integral_value():
            return int(d)
        return float(d) if float(d) == d else None
    return None


def _conjunct_bounds(op: str, val):
    """(lo, hi) bounds (None = unbounded side) that a parsed conjunct admits
    for an index range probe; ``_NO_BOUNDS`` when the op can't bound one."""
    if op == "=":
        return val, val
    if op == "in":
        if not val:
            return _NO_BOUNDS, _NO_BOUNDS
        return min(val), max(val)
    if op in (">", ">="):
        return val, None
    if op in ("<", "<="):
        return None, val
    return _NO_BOUNDS, _NO_BOUNDS


@dataclass
class _Txn:
    """Diff of one operation vs its read version — the rebase unit."""

    op: str
    read_version: int
    added: list[Fragment] = field(default_factory=list)
    removed_ids: set[int] = field(default_factory=set)
    new_deletes: dict[int, list[str]] = field(default_factory=dict)
    # fragment id -> rows its new_deletes delete
    deleted_rows: dict[int, int] = field(default_factory=dict)
    schema_json: str | None = None
    column_defaults: dict[str, str] | None = None
    column_mapping: dict[str, str] | None = None
    bloom_columns: list[str] | None = None
    bitmap_columns: list[str] | None = None
    # (stream_id, batch_id): commit only if batch_id > the manifest's
    # recorded watermark for stream_id — else DuplicateBatchError
    stream_commit: tuple[str, int] | None = None
    # transactional index registration (reference index_transaction.go):
    # name -> descriptor to add; name to remove; fragment_id -> {col:
    # sorted distinct list} stats backfill (bitmap index build output)
    index_put: dict[str, dict] | None = None
    index_drop: str | None = None
    # True => index_put ADVANCES an existing descriptor (refresh_index):
    # exempt from the same-name create/create conflict as long as the base
    # still carries the same physical index path
    index_refresh: bool = False
    # refresh_index only: name -> the covers_version the refresher READ.
    # A concurrent refresh of the same index advances it, and committing
    # over that would record a delta that was inserted twice into the
    # shared persisted files — refresh/refresh on one index must conflict.
    index_refresh_base: dict[str, int] | None = None
    stats_patch: dict[int, dict[str, list]] | None = None
    # index-txn declaration deltas, applied against the REBASED base (a
    # full-list override computed from the read snapshot would silently drop
    # a column added by a concurrent create_index — lost update)
    bitmap_add: str | None = None
    bloom_add: str | None = None


class Dataset:
    """A versioned Parquet table rooted at a directory."""

    # per-run compaction accounting (reference CompactionStats,
    # compaction_coordinator.go:90-112); None until a compact() pass rewrote
    last_compaction_stats: dict | None = None

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        # URL-schemed roots (s3://bucket/ds) are already absolute; abspath
        # would mangle the scheme into a local path
        self.path = path.rstrip("/") if "://" in path else os.path.abspath(path)
        self._manifest: Manifest | None = None
        self._branch: str | None = None  # auto-advanced ref (see branch())
        self._handler_cache: CommitHandler | None = None
        self._data_store_cache: Store | None = None

    @property
    def _handler(self) -> CommitHandler:
        """The commit protocol recorded at creation (_commit.json): every
        handle — including crash-recovery child processes — must speak the
        same one (reference commit.go:11-27 CommitHandler). Detected
        LAZILY so constructing a Dataset for a metadata probe (e.g. the
        engine's per-statement version check) costs zero file reads."""
        if self._handler_cache is None:
            self._handler_cache = detect_handler(self.path)
        return self._handler_cache

    @_handler.setter
    def _handler(self, h: CommitHandler) -> None:
        self._handler_cache = h

    @property
    def _store(self) -> Store:
        """Read-side of the control plane (reference StoreFactory + io,
        store_factory.go:42-129): every manifest load, version/stage
        listing, refs/branches read, and claim read goes through this —
        never raw POSIX — so swapping the commit backend swaps the reads
        with it. Parquet artifacts stay on Spark/Arrow's own (already
        store-agnostic) filesystem layer."""
        return self._handler.store()

    @property
    def _data_store(self) -> Store:
        """Data-plane file choreography (r10 verdict "What's missing #2"):
        landing staged fragments into data/, vacuum removals, staging and
        index-dir sweeps, _INFLIGHT sentinels. Resolved by PATH SCHEME
        (store_for_path — the reference's StoreFactory shape), independent
        of the commit handler: a mem/cas-handled dataset rooted locally
        still renames its Spark-written files with POSIX, while an
        ``s3://`` root routes the same choreography through the S3
        client. The parquet BYTES themselves always ride Spark/Arrow's
        own store-agnostic filesystem layer. Cached per handle: vacuum
        stats every candidate file through this, and a fresh S3 client
        per stat would dominate the sweep."""
        if self._data_store_cache is None:
            self._data_store_cache = store_for_path(self.path)
        return self._data_store_cache

    # ------------------------------------------------------------------ io
    @property
    def _versions_dir(self) -> str:
        return os.path.join(self.path, "_versions")

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._versions_dir, f"{version:08d}.manifest.json")

    def _latest_version(self) -> int:
        vs = [
            int(f.split(".")[0])
            for f in self._store.list(self._versions_dir)
            if f.endswith(".manifest.json")
        ]
        return max(vs, default=0)

    def _load(self, version: int) -> Manifest:
        d = json.loads(self._store.get(self._manifest_path(version)).decode())
        if d.get("format", 1) != FORMAT:
            d = _upgrade_manifest(d, self.path)
        return Manifest.from_dict(d)

    # --------------------------------------------------------- construction
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        df: DataFrame | None = None,
        bloom_columns: list[str] | None = None,
        bitmap_columns: list[str] | None = None,
        row_ids: bool = False,
        column_defaults: dict[str, str] | None = None,
        commit_handler: str = "local",
        schema: StructType | None = None,
    ) -> "Dataset":
        """``commit_handler`` selects the atomic commit protocol: "local"
        (O_EXCL/flock/rename — single-host warehouses) or "cas"
        (compare-and-set only — the object-store protocol, reference
        s3_commit.go). Recorded in ``_commit.json`` so every later open
        speaks the same protocol.

        ``bloom_columns`` declares point-lookup columns: every fragment
        write (this one and all future appends/rewrites) emits parquet bloom
        filters for them — the engine's BloomFilter scalar index.

        ``bitmap_columns`` declares low-NDV columns: every fragment records
        its distinct value set in the manifest (the bitmap scalar index,
        bitmap_index.go:14-56, at file granularity) so equality predicates
        prune fragments the zonemap cannot.

        ``row_ids=True`` turns on stable row ids (reference rowids.go):
        every row gets a permanent id at ingest, stable across delete /
        update / compaction; read them back with ``to_df(with_row_id=True)``
        and address rows directly with ``take_rows``.

        ``schema`` creates an EMPTY dataset with that schema and ZERO Spark
        jobs (``df=None`` alone commits an empty untyped manifest): a bare
        CREATE TABLE is a metadata commit, so routing it through a
        zero-row distributed write was pure job overhead (r11 measured
        ~0.4 s/table at sf0.1 — one cluster round-trip per DDL statement
        at scale). Mutually exclusive with ``df``."""
        ds = cls(spark, path)
        if df is not None and schema is not None:
            raise ValueError("Dataset.create takes df or schema, not both")
        if ds._latest_version() > 0:
            raise ValueError(f"dataset already exists at {path}")
        dst = store_for_path(ds.path)
        dst.makedirs(ds._versions_dir)
        dst.makedirs(os.path.join(ds.path, "data"))
        dst.makedirs(os.path.join(ds.path, "deletes"))
        if ds.path.startswith(("s3://", "s3a://")):
            # an object-store root cannot run the POSIX protocol (no
            # O_EXCL, no flock, no rename): scheme selects the handler —
            # and the cas mock / mem dict would silently land control
            # objects in a literal local 's3:' directory, so anything
            # but the scheme's own handler is refused loudly
            if commit_handler == "local":
                commit_handler = "s3"
            elif commit_handler != "s3":
                raise ValueError(
                    f"commit handler {commit_handler!r} cannot serve an "
                    "object-store root; use 's3' (or omit it)"
                )
        ds._handler = handler_named(commit_handler)
        if ds._handler.name == "mem":
            # a fresh mem dataset must start from an empty key space: the
            # object dict is process-global, and a previously-used path
            # would otherwise leak the prior incarnation's refs/claims
            # into plain Store reads (create only reaches here when the
            # stale-marker existence check above did NOT see manifests)
            mem_reset(ds.path)
        write_handler_marker(ds.path, ds._handler.name)
        # seed the ref-kind marker: its ABSENCE is reserved for datasets
        # written before kinds existed (legacy-permissive in on_branch).
        # Through the handler (plain PUT) so the marker lands on the same
        # backend its readers consult.
        ds._handler.put(ds._branches_path, "[]")
        schema = df.schema if df is not None else (schema or StructType([]))
        frags: list[Fragment] = []
        maxid = 0
        next_rid = 0
        if df is not None:
            frags = ds._write_fragments(
                df,
                start_id=1,
                bloom_columns=bloom_columns,
                bitmap_columns=bitmap_columns,
            )
            maxid = max((f.id for f in frags), default=0)
            if row_ids:
                for f in frags:
                    f.row_start = next_rid
                    next_rid += f.rows
        m = Manifest(
            version=1,
            parent=None,
            operation="create",
            schema_json=schema.json(),
            fragments=frags,
            max_fragment_id=maxid,
            bloom_columns=list(bloom_columns or []),
            bitmap_columns=list(bitmap_columns or []),
            row_ids=row_ids,
            next_row_id=next_rid,
            column_defaults=dict(column_defaults or {}),
        )
        ds._commit_new(m)
        ds._manifest = m
        return ds

    @classmethod
    def open(cls, spark: SparkSession, path: str, version: int | None = None) -> "Dataset":
        ds = cls(spark, path)
        v = version if version is not None else ds._latest_version()
        if v == 0:
            raise FileNotFoundError(f"no dataset at {path}")
        ds._manifest = ds._load(v)
        return ds

    # ------------------------------------------------------------- properties
    @property
    def manifest(self) -> Manifest:
        assert self._manifest is not None
        return self._manifest

    @property
    def version(self) -> int:
        return self.manifest.version

    @property
    def schema(self) -> StructType:
        return StructType.fromJson(json.loads(self.manifest.schema_json))

    def versions(self) -> list[int]:
        return sorted(
            int(f.split(".")[0])
            for f in self._store.list(self._versions_dir)
            if f.endswith(".manifest.json")
        )

    def version_at(self, ts: float) -> int:
        """The latest version whose commit timestamp is <= ``ts`` (epoch
        seconds) — the TIMESTAMP AS OF resolution rule (Delta semantics):
        'the table as it was at that moment'. Metadata-only (one manifest
        JSON load per retained version); raises when the table did not yet
        exist at ``ts``."""
        best = None
        for v in self.versions():
            if self._load(v).timestamp <= ts:
                best = v
        if best is None:
            raise ValueError(
                f"no version of {self.path!r} existed at timestamp {ts}"
            )
        return best

    # ------------------------------------------------------------------ tags
    @property
    def _refs_path(self) -> str:
        return os.path.join(self.path, "_refs.json")

    def _refs(self) -> dict[str, int]:
        try:
            return self._store.get_json(self._refs_path)
        except FileNotFoundError:
            return {}

    def _update_control(self, path: str, mutate) -> object:
        """Serialized read-modify-write of a control object through the
        commit handler (local = flock around the RMW, the kernel releases
        it on process death so there is no staleness-reclaim protocol; cas
        = ETag retry loop, reference s3_commit.go). Handler contention
        surfaces as the caller-visible ConflictError the storm treats as
        legal."""
        try:
            return self._handler.update_json(path, mutate)
        except CasConflict as e:
            raise ConflictError(str(e)) from None

    def _set_ref(self, name: str, version: int) -> None:
        """Raw ref write (shared by tag creation and branch auto-advance —
        the kind policy lives in the public faces, not here). Serialized by
        the handler: an unserialized read-modify-write would let two
        concurrent ref updates (tag here, branch advance there) silently
        drop one of the two."""

        def mut(refs):
            refs = dict(refs or {})
            refs[name] = version
            return refs

        self._update_control(self._refs_path, mut)

    def _advance_ref(self, name: str, version: int) -> None:
        """Monotonic, existence-preserving ref advance — the crash-recovery
        catch-up face. The compare lives INSIDE the serialized read-modify-
        write: comparing outside and then calling _set_ref would let a
        concurrent branch commit's advance be rolled back (ref regression =
        an acknowledged commit turning invisible). A ref deleted since the
        crash stays deleted — recreating it would resurrect a branch
        without its kind mark."""

        def mut(refs):
            refs = dict(refs or {})
            cur = refs.get(name)
            if cur is None or cur >= version:
                return refs  # unchanged: re-landing the same state is benign
            refs[name] = version
            return refs

        self._update_control(self._refs_path, mut)

    def tag(self, name: str, version: int | None = None) -> None:
        """Named version pointer (reference: tags.go:9-32). Refuses names
        registered as BRANCHES: re-tagging a branch would leave a ref the
        user believes is pinned that branch writes keep moving — the same
        tag/branch-kind confusion on_branch guards in the other direction."""
        if name in self._branch_names():
            raise ValueError(
                f"{name!r} is a BRANCH (mutable); tags pin immutable "
                "snapshots — pick another name or drop the branch first"
            )
        self._set_ref(name, version if version is not None else self.version)

    @property
    def _branches_path(self) -> str:
        return os.path.join(self.path, "_branches.json")

    def _branch_names(self) -> set[str]:
        """Names in the shared refs namespace that are BRANCHES (mutable
        pointers) rather than tags (immutable-by-convention) — the
        reference's ref-kind distinction (refs.go:17-68 vs tags.go:9-32).
        Writes must only ever move a branch: on_branch refuses tag names
        and tag() refuses branch names, or one door or the other would
        silently convert a pinned snapshot into a moving pointer.

        An ABSENT marker file means a dataset written before ref kinds
        existed (Dataset.create seeds an empty one now): every ref there
        is treated as a branch for WRITE-permission purposes (legacy
        behavior preserved — see on_branch) but as a tag for re-tagging."""
        try:
            return set(self._store.get_json(self._branches_path))
        except FileNotFoundError:
            return set()

    def _mark_branch(self, name: str, add: bool = True) -> None:
        """Kind-mark update: serialized by the commit handler (two
        concurrent branch() calls must not lose each other's marks) and
        installed atomically so concurrent readers never see a torn
        file."""

        def mut(names):
            names = set(names or [])
            (names.add if add else names.discard)(name)
            return sorted(names)

        self._update_control(self._branches_path, mut)

    def delete_tag(self, name: str) -> None:
        """Remove a named ref (sdk/dataset.go DeleteTag); the version it
        pinned becomes vacuum-eligible again."""

        def mut(refs):
            refs = dict(refs or {})
            if name not in refs:
                raise ValueError(f"no tag named {name!r}")
            del refs[name]
            return refs

        self._update_control(self._refs_path, mut)
        if name in self._branch_names():
            self._mark_branch(name, add=False)

    def list_tags(self) -> dict[str, int]:
        """All named refs -> version (sdk/dataset.go ListTags)."""
        return dict(self._refs())

    def checkout(self, ref: int | str) -> "Dataset":
        """Time travel to a version number or tag (sdk/dataset.go:1052)."""
        if isinstance(ref, str):
            refs = self._refs()
            if ref not in refs:
                raise ValueError(f"no tag or branch named {ref!r}")
            v = refs[ref]
        else:
            v = int(ref)
        return Dataset.open(self.spark, self.path, version=v)

    # --------------------------------------------------------------- writing
    def _write_fragments(
        self,
        df: DataFrame,
        start_id: int,
        bloom_columns: list[str] | None = None,
        bitmap_columns: list[str] | None = None,
        conform: bool = True,
    ) -> list[Fragment]:
        """Write a DataFrame as new fragment files and collect footer stats.

        With ``conform`` (every write but create and overwrite, which set
        the schema) each column of the table is first cast to the table's
        type where it differs in a way the parquet reader cannot read, by
        Spark's ANSI store assignment — what SQL INSERT's cast does — and
        a column that assignment refuses raises ValueError (_conformed).

        Every file holds row groups of at most ``_ROW_GROUP_ROWS`` rows.
        A statement-sized frame already on the driver (_driver_rows: INSERT
        ... VALUES, the UPDATE and MERGE images built over _few_rows' table,
        a small MERGE source's inserts) lands as one file, written there by
        pyarrow with the Parquet types Spark's writer would give it
        (_spark_parquet_options): no Spark job. It keeps Spark's writer,
        coalesced to one file, when it carries one of the manifest's bloom
        columns (pyarrow 16 writes no parquet bloom filter), a timestamp
        pyarrow cannot type as Spark does, or a floating NaN (_put_parquet).
        Any other frame is one Spark write job, one file per output
        partition."""
        if conform and self._manifest is not None:
            df = self._conformed(df)
        df = self._to_physical(df)  # fragments always store physical names
        # the manifest's declared point-lookup columns get parquet bloom
        # filters in every fragment footer (reference's BloomFilter index,
        # bloomfilter_index.go:16-76): equality predicates on these columns
        # skip whole row groups on a miss, even where min/max zonemaps
        # cannot (high-NDV keys whose range spans every row group)
        if bloom_columns is None:
            bloom_columns = self._manifest.bloom_columns if self._manifest else []
        if bitmap_columns is None:
            bitmap_columns = self._manifest.bitmap_columns if self._manifest else []
        mapping = self._manifest.column_mapping if self._manifest else {}
        bloom = [c for c in (mapping.get(c, c) for c in bloom_columns) if c in df.columns]
        bitmap_phys = [mapping.get(c, c) for c in bitmap_columns]
        rows = _driver_rows(df)
        opts = None if rows is None or bloom else _spark_parquet_options(self.spark, df.schema)
        names = None if opts is None else self._put_parquet(rows, df.schema, opts)
        if names is None:
            names = self._spark_write(df if rows is None else df.coalesce(1), bloom)
        st = self._data_store
        frags: list[Fragment] = []
        fid = start_id
        for name in names:
            dst = os.path.join(self.path, name)
            nrows, nbytes, stats = _collect_stats(dst, bitmap_columns=bitmap_phys)
            if nrows == 0:
                st.delete(dst)
                continue
            frags.append(Fragment(id=fid, path=name, rows=nrows, bytes=nbytes, stats=stats))
            fid += 1
        return frags

    def _conformed(self, df: DataFrame) -> DataFrame:
        """``df`` with each column the table has cast to the table's type
        where the parquet reader could not read it as written (_readable),
        by Spark's ANSI store assignment; a column that assignment refuses
        (a string into a number, say) raises ValueError."""
        jvm = self.spark._jvm
        jtype = jvm.org.apache.spark.sql.types.DataType.fromJson
        assignable = jvm.org.apache.spark.sql.catalyst.expressions.Cast.canANSIStoreAssign
        want = {f.name: f.dataType for f in self.schema.fields}
        cast = {
            f.name: want[f.name]
            for f in df.schema.fields
            if f.name in want and not _readable(f.dataType, want[f.name])
        }
        refused = [
            f"{f.name} {f.dataType.simpleString()} -> {want[f.name].simpleString()}"
            for f in df.schema.fields
            if f.name in cast and not assignable(jtype(f.dataType.json()), jtype(cast[f.name].json()))
        ]
        if refused:
            raise ValueError(f"cannot store {', '.join(refused)} in {self.path}")
        if not cast:
            return df

        def col(c: str):
            return F.col("`" + c.replace("`", "``") + "`")

        return df.select(*[col(c).cast(cast[c]).alias(c) if c in cast else col(c) for c in df.columns])

    def _put_parquet(self, rows: list, schema: StructType, opts: dict) -> list[str] | None:
        """Write driver-side ``rows`` of ``schema`` as one file under
        ``data/`` with pyarrow, as Spark's writer writes them: all fields
        nullable, Spark's schema and version in the footer (the version
        tells Spark's reader the dates follow the proleptic Gregorian
        calendar), and no Arrow schema, so pyarrow reads the file back as it
        reads Spark's. Returns its dataset-relative path; no rows, no file.

        None, and no file, when a floating value anywhere in ``rows`` is
        NaN: pyarrow's footer min/max leave NaN out where Spark's writer
        orders it above every number, so a pyarrow file would prove a NaN
        row absent from ``e > 5`` to _prunable and to Spark's row-group
        filter alike."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.conversion import LocalDataToArrowConversion

        if not rows:
            return []
        schema = _nullable(schema)
        meta = {
            "org.apache.spark.version": self.spark.version,
            "org.apache.spark.sql.parquet.row.metadata": schema.json(),
        }
        table = LocalDataToArrowConversion.convert(rows, schema, False)
        if any(_has_nan(chunk) for col in table.columns for chunk in col.chunks):
            return None
        buf = pa.BufferOutputStream()
        pq.write_table(
            table.replace_schema_metadata(meta),
            buf,
            store_schema=False,
            row_group_size=_ROW_GROUP_ROWS,
            **opts,
        )
        name = f"data/{uuid.uuid4().hex}.parquet"
        self._data_store.put_bytes(os.path.join(self.path, name), buf.getvalue().to_pybytes())
        return [name]

    def _spark_write(self, df: DataFrame, bloom: list[str]) -> list[str]:
        """Write ``df`` with Spark's parquet writer, row groups of at most
        ``_ROW_GROUP_ROWS`` rows and parquet bloom filters on the ``bloom``
        columns, and land the parts under ``data/``. A bloom filter is per
        row group and sized for one group's rows: unsized, parquet-mr gives
        each one its 1 MiB maximum. Returns the files' dataset-relative
        paths."""
        staging = os.path.join(self.path, f"_staging_{uuid.uuid4().hex}")
        writer = df.write.mode("overwrite").option(
            "parquet.block.row.count.limit", _ROW_GROUP_ROWS
        )
        for c in bloom:
            writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true").option(
                f"parquet.bloom.filter.expected.ndv#{c}", _ROW_GROUP_ROWS
            )
        writer.parquet(staging)
        # landing choreography through the data-plane Store seam: list the
        # staged parts, move each under its immutable uuid name, sweep the
        # staging dir — POSIX renames locally, S3 copy+delete on an
        # object-store root
        st = self._data_store
        names = []
        for fn in sorted(st.list(staging)):
            if fn.endswith(".parquet"):
                names.append(f"data/{uuid.uuid4().hex}.parquet")
                st.move(os.path.join(staging, fn), os.path.join(self.path, names[-1]))
        st.delete_prefix(staging)
        return names

    # ------------------------------------------------------------- commit
    def _commit_new(self, m: Manifest) -> None:
        # create-if-absent decides the optimistic-commit winner (reference
        # commit.go:20): O_EXCL locally, conditional-put on an object store
        self._handler.commit(self._manifest_path(m.version), m.to_json())

    def _check_footers(self, txn: _Txn, read_m: Manifest) -> None:
        """Refuse ``txn`` when a file it adds stores a table column as a
        type the parquet reader cannot read under the schema it commits
        into (_readable): that commit would make every later read of the
        table fail. Only the new files' footers are read. A file that
        records no Spark schema (the driver writer's: pyarrow 16 writes no
        key-value metadata without the Arrow schema) is not checked; its
        types are the conformed frame's."""
        schema = StructType.fromJson(json.loads(txn.schema_json or read_m.schema_json))
        mapping = read_m.column_mapping if txn.column_mapping is None else txn.column_mapping
        want = {mapping.get(f.name, f.name): f.dataType for f in schema.fields}
        for f in txn.added:
            with _open_parquet(os.path.join(self.path, f.path))[0] as pf:
                have = _footer_schema(pf.metadata)
            for c in have.fields if have is not None else []:
                if c.name in want and not _readable(c.dataType, want[c.name]):
                    raise ValueError(
                        f"{f.path} stores {c.name} as {c.dataType.simpleString()}, "
                        f"which the table reads as {want[c.name].simpleString()}; "
                        f"{txn.op} not committed"
                    )

    def _commit(self, txn: _Txn) -> None:
        """Optimistic commit: atomically create manifest v+1; on collision,
        rebase the diff onto the winner when the ops are compatible
        (reference: commit_txn.go:11 + conflict.go:33-364 Rebase). A file
        the table could not read refuses the commit first (_check_footers)."""
        base = self._load(self._latest_version())
        try:
            read_m = self._load(txn.read_version)
        except FileNotFoundError:
            # the read version was vacuumed; read_m is only consulted for
            # deletion-vector / schema diffing, so a pure append (e.g. a
            # staged txn committed after vacuum) can rebase off base, while
            # fragment-touching ops can no longer prove absence of conflicts
            if txn.removed_ids or txn.new_deletes or txn.op == "schema":
                raise ConflictError(
                    f"read version v{txn.read_version} was vacuumed; cannot "
                    f"verify {txn.op} against it"
                ) from None
            read_m = base
        self._check_footers(txn, read_m)
        while True:
            new_m = self._apply(txn, base, read_m)
            try:
                self._commit_new(new_m)
            except FileExistsError:
                base = self._load(self._latest_version())
                continue
            # crash window: the manifest is durable but nothing downstream
            # (in-memory head, branch ref advance) has happened yet — the
            # r7 torn-ref race lived exactly here
            fault_point("commit.manifest_landed")
            self._manifest = new_m
            if self._branch:
                # the data commit already LANDED: a ref-advance failure
                # here must not masquerade as a "nothing happened" race
                # (ConflictError/ValueError), or the caller retries the
                # whole write and double-appends
                try:
                    self._set_ref(self._branch, new_m.version)
                except Exception as e:
                    raise RuntimeError(
                        f"commit v{new_m.version} landed but branch "
                        f"{self._branch!r} could not advance: {e}"
                    ) from e
            return

    def _apply(self, txn: _Txn, base: Manifest, read_m: Manifest) -> Manifest:
        if txn.op == "overwrite" and base.version != txn.read_version:
            raise ConflictError(
                f"overwrite read v{txn.read_version} but v{base.version} committed"
            )
        if (
            txn.op == "schema"
            and base.version != txn.read_version
            and base.schema_json != read_m.schema_json
        ):
            # concurrent schema change: rebasing would silently drop one of
            # the two edits (reference conflict matrix: schema ops conflict
            # with schema ops — conflict.go:81)
            raise ConflictError(
                f"schema changed concurrently (read v{txn.read_version}, "
                f"base v{base.version})"
            )
        if (
            txn.op == "index"
            and txn.index_put
            and not txn.index_refresh
            and base.version != txn.read_version
            and any(n in base.indexes for n in txn.index_put)
        ):
            # two CreateIndex ops racing on the same name: one descriptor
            # would silently shadow the other (reference conflict matrix:
            # index-create conflicts with index-create on the same name)
            raise ConflictError(
                f"index {sorted(set(txn.index_put) & set(base.indexes))} "
                f"created concurrently (read v{txn.read_version}, "
                f"base v{base.version})"
            )
        if txn.index_put and txn.index_refresh:
            for n, d in txn.index_put.items():
                cur = base.indexes.get(n)
                if cur is None or cur.get("path") != d.get("path"):
                    # the index was dropped or rebuilt under us — advancing
                    # the stale descriptor would resurrect/shadow it
                    raise ConflictError(
                        f"index {n!r} dropped or replaced concurrently "
                        f"(read v{txn.read_version}, base v{base.version})"
                    )
                read_covers = (txn.index_refresh_base or {}).get(n)
                if read_covers is not None and cur.get("covers_version") != read_covers:
                    # another refresh advanced the descriptor under us; our
                    # delta overlaps theirs, so committing would record a
                    # double insert into the shared index files
                    raise ConflictError(
                        f"index {n!r} refreshed concurrently (covers "
                        f"v{cur.get('covers_version')}, read covers v{read_covers})"
                    )
        base_ids = base.fragment_ids()
        touched = txn.removed_ids | set(txn.new_deletes)
        missing = touched - base_ids
        if missing:
            raise ConflictError(
                f"{txn.op} touches fragments {sorted(missing)} removed by a "
                f"concurrent commit (read v{txn.read_version}, base v{base.version})"
            )
        if touched and base.version != txn.read_version:
            # concurrent deletion vectors on the same fragments => lost-update
            read_dels = {f.id: tuple(f.deletion_files) for f in read_m.fragments}
            for f in base.fragments:
                if f.id in touched and tuple(f.deletion_files) != read_dels.get(f.id, ()):
                    raise ConflictError(
                        f"fragment {f.id} modified concurrently (deletion vectors)"
                    )
        fragments: list[Fragment] = []
        if txn.op == "overwrite":
            fragments = list(txn.added)
        else:
            for f in base.fragments:
                if f.id in txn.removed_ids:
                    continue
                if f.id in txn.new_deletes:
                    f = replace(
                        f,
                        deletion_files=list(f.deletion_files) + txn.new_deletes[f.id],
                        deleted_rows=f.deleted_rows + txn.deleted_rows[f.id],
                    )
                fragments.append(f)
            added = list(txn.added)
            if added and any(f.id <= base.max_fragment_id for f in added):
                # txn.added ids were assigned against the read version; a
                # concurrent commit advanced max_fragment_id, so rebasing
                # verbatim would duplicate ids (and a later delete() keyed on
                # a duplicated id would drop BOTH fragments). Reassign from
                # the rebased base, like the reference's conflict.go rebase.
                nid = base.max_fragment_id + 1
                added = [replace(f, id=nid + i) for i, f in enumerate(added)]
            fragments.extend(added)
        maxid = max(
            [base.max_fragment_id] + [f.id for f in fragments], default=0
        )
        # stable row ids: sentinel (-1) fragments get their Range segment
        # allocated HERE, against the real base — like fragment ids, row-id
        # ranges claimed at write time could duplicate after a concurrent
        # commit, so allocation is deferred to the atomic-commit path.
        # Allocation REPLACES the fragment with a copy (never mutates the
        # txn's objects): _commit retries _apply against a fresh base after
        # a commit race, and an in-place resolved sentinel would keep its
        # stale range instead of reallocating. next_row_id is monotone and
        # never reused (rowids.go semantics).
        next_rid = base.next_row_id
        if base.row_ids and any(f.row_start == -1 for f in fragments):
            resolved: dict[int, Fragment] = {}
            for f in sorted(
                (f for f in fragments if f.row_start == -1), key=lambda x: x.id
            ):
                resolved[f.id] = replace(f, row_start=next_rid)
                next_rid += f.rows
            fragments = [resolved.get(f.id, f) for f in fragments]
        if txn.stats_patch:
            # bitmap backfill: merge distinct sets into fragments that still
            # exist in the rebased base. Fragments added by a concurrent
            # commit simply lack the set — they never prune, which is safe;
            # they pick sets up from bitmap_columns on their next rewrite.
            patched: list[Fragment] = []
            for f in fragments:
                p = txn.stats_patch.get(f.id)
                if not p:
                    patched.append(f)
                    continue
                stats = {c: dict(s) for c, s in f.stats.items()}
                for c, vals in p.items():
                    stats.setdefault(c, {"min": None, "max": None, "nulls": 0})[
                        "distinct"
                    ] = vals
                patched.append(replace(f, stats=stats))
            fragments = patched
        indexes = {n: dict(d) for n, d in base.indexes.items()}
        if txn.index_put:
            indexes.update({n: dict(d) for n, d in txn.index_put.items()})
        dropped_desc: dict | None = None
        if txn.index_drop:
            dropped_desc = indexes.pop(txn.index_drop, None)
        # bitmap/bloom declarations: start from the rebased base and apply
        # this txn's delta (adds from create_index, removal when a dropped
        # bitmap/bloom index leaves its column uncovered) — symmetric with
        # create_index, and immune to concurrent-create lost updates
        bloom_cols = (
            list(txn.bloom_columns)
            if txn.bloom_columns is not None
            else list(base.bloom_columns)
        )
        bitmap_cols = (
            list(txn.bitmap_columns)
            if txn.bitmap_columns is not None
            else list(base.bitmap_columns)
        )
        if txn.bloom_add:
            bloom_cols = sorted(set(bloom_cols) | {txn.bloom_add})
        if txn.bitmap_add:
            bitmap_cols = sorted(set(bitmap_cols) | {txn.bitmap_add})
        if dropped_desc is not None and dropped_desc.get("kind") in ("bitmap", "bloom"):
            kind = dropped_desc["kind"]
            col = dropped_desc["phys"]
            still_covered = any(
                d.get("kind") == kind and d["phys"] == col
                for d in indexes.values()
            )
            if not still_covered:
                if kind == "bitmap":
                    bitmap_cols = [c for c in bitmap_cols if c != col]
                else:
                    bloom_cols = [c for c in bloom_cols if c != col]
        stream_state = dict(base.stream_state)
        if txn.stream_commit is not None:
            sid, bid = txn.stream_commit
            # checked against the LATEST base inside the commit retry loop,
            # so two replays racing on the same batch settle atomically: the
            # O_EXCL manifest create decides the winner, the loser re-applies
            # against the winner's manifest and lands here
            if stream_state.get(sid, -1) >= bid:
                raise DuplicateBatchError(
                    f"stream {sid!r} batch {bid} already committed "
                    f"(watermark {stream_state[sid]})"
                )
            stream_state[sid] = bid
        return Manifest(
            version=base.version + 1,
            parent=base.version,
            operation=txn.op,
            schema_json=txn.schema_json or base.schema_json,
            fragments=fragments,
            max_fragment_id=maxid,
            column_defaults=(
                txn.column_defaults
                if txn.column_defaults is not None
                else dict(base.column_defaults)
            ),
            bloom_columns=bloom_cols,
            stream_state=stream_state,
            row_ids=base.row_ids,
            next_row_id=next_rid,
            column_mapping=(
                dict(txn.column_mapping)
                if txn.column_mapping is not None
                else dict(base.column_mapping)
            ),
            bitmap_columns=bitmap_cols,
            indexes=indexes,
        )

    # ------------------------------------------------- column mapping
    # AlterColumns renames are metadata-only (reference sdk/dataset.go:623):
    # fragments always store the PHYSICAL name (frozen at first write), the
    # manifest maps logical->physical, and the three seams below translate.
    def _phys(self, name: str) -> str:
        return self.manifest.column_mapping.get(name, name)

    def _read_schema(self, schema: StructType) -> StructType:
        """Physical read schema: stored names, logical (possibly widened)
        types. Widened types read narrow files directly — Spark's parquet
        reader upcasts int32->long/double, float->double, decimal(p,s)->
        decimal(p+,s) in the scan itself, so retype is also rewrite-free."""
        cm = self.manifest.column_mapping
        if not cm:
            return schema
        return StructType(
            [
                StructField(cm.get(f.name, f.name), f.dataType, f.nullable, f.metadata)
                for f in schema.fields
            ]
        )

    def _to_logical(self, df: DataFrame) -> DataFrame:
        # single projection (not a rename chain) so mappings that swap two
        # names can never collide mid-rename
        rev = {p: l for l, p in self.manifest.column_mapping.items() if p != l}
        if not (rev.keys() & set(df.columns)):
            return df
        return df.select([F.col(c).alias(rev.get(c, c)) for c in df.columns])

    def _to_physical(self, df: DataFrame) -> DataFrame:
        mapping = self._manifest.column_mapping if self._manifest else {}
        fwd = {l: p for l, p in mapping.items() if p != l}
        if not (fwd.keys() & set(df.columns)):
            return df
        return df.select([F.col(c).alias(fwd.get(c, c)) for c in df.columns])

    # ----------------------------------------------------------------- scan
    @staticmethod
    def _parse_filter_string(
        spark: SparkSession, pred: str
    ) -> list[tuple[str, str, Any]]:
        """Prunable (col, op, literal) conjuncts of a predicate string, read
        off Spark's own parse of it (``parse_expression``): the parser and
        session confs that apply the full predicate as the residual
        ``F.expr``, so no conjunct can come from text Spark reads as a
        literal. Only top-level AND is descended — an OR, NOT or any other
        node contributes nothing — and a conjunct counts only as a
        single-part column compared by = < <= > >=, IN or BETWEEN with
        literals that compare exactly (``_literal``). The full predicate
        always applies as a residual, so pruning may read too much, never
        too little. Text Spark cannot parse raises its ParseException."""
        return Dataset._conjuncts(parse_expression(spark, pred))

    @staticmethod
    def _conjuncts(nodes: list[dict]) -> list[tuple[str, str, Any]]:
        """_parse_filter_string's reading of a parsed predicate: ``nodes``
        is its tree as ``parse_expression`` (or a parsed plan node's
        ``toJSON()``) gives it."""
        # kids[i]: node i's children; a reverse pass over the pre-order
        # list has finished every child subtree when it reaches the parent
        kids: list[list[int]] = [[] for _ in nodes]
        done: list[int] = []
        for i in range(len(nodes) - 1, -1, -1):
            kids[i] = [done.pop() for _ in range(nodes[i]["num-children"])]
            done.append(i)
        out: list[tuple[str, str, Any]] = []
        todo = [0]
        while todo:
            i = todo.pop()
            kind = nodes[i]["class"].rsplit(".", 1)[-1]
            if kind == "And":
                todo += reversed(kids[i])
                continue
            args = [nodes[j] for j in kids[i]]
            col = _column(args[0]) if args else None
            vals = [_literal(a) for a in args[1:]]
            if col is None or not vals or None in vals:
                continue
            if kind in _CMP_OPS:
                out.append((col, _CMP_OPS[kind], vals[0]))
            elif kind == "In":
                out.append((col, "in", vals))
            elif kind == "UnresolvedFunction" and len(vals) == 2 and (
                nodes[i]["nameParts"].lower() == "[between]"
            ):
                out += [(col, ">=", vals[0]), (col, "<=", vals[1])]
        return out

    def _zone(self, filters) -> list[tuple[str, str, Any]]:
        """The conjuncts of ``filters`` that footer stats may prune by, on
        stored column names. A literal prunes only a column whose stats it
        orders with as Spark compares them: a number an integral or
        floating column, a string a string column, a date or 'YYYY-MM-DD'
        string a date column, and a datetime or a zone-less ISO date-time
        string a timestamp column, as a datetime in the session time zone
        (TIMESTAMP) or none (TIMESTAMP_NTZ): the ISO text of a timestamp's
        bound orders unlike its SQL text. Any other pair (a string compared
        with a number, say) would compare after a cast the stats do not
        model."""
        from zoneinfo import ZoneInfo

        from pyspark.sql.types import (
            DateType,
            DoubleType,
            FloatType,
            IntegralType,
            TimestampNTZType,
            TimestampType,
        )

        def key(t: DataType, v):
            if isinstance(v, bool):
                return None
            if isinstance(t, (IntegralType, FloatType, DoubleType)):
                return v if isinstance(v, (int, float)) else None
            if isinstance(t, StringType):
                return v if isinstance(v, str) else None
            if isinstance(t, DateType):
                if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
                    return v
                return v if isinstance(v, str) and re.fullmatch(r"\d{4}-\d{2}-\d{2}", v) else None
            if isinstance(t, (TimestampType, TimestampNTZType)):
                if isinstance(v, str) and re.fullmatch(_TS_TEXT, v):
                    v = _dt.datetime.fromisoformat(v)
                    if isinstance(t, TimestampType):
                        try:
                            v = v.replace(tzinfo=ZoneInfo(self.spark.conf.get(
                                "spark.sql.session.timeZone"
                            )))
                        except (ValueError, KeyError):  # a zone Python does not know
                            return None
                ok = isinstance(v, _dt.datetime) and (v.tzinfo is None) == isinstance(t, TimestampNTZType)
                return v if ok else None
            return None

        if not filters:
            return []
        types = {f.name: f.dataType for f in self.schema.fields}
        out = []
        for c, op, v in filters:
            if c not in types:
                continue
            keys = [key(types[c], x) for x in (v if op == "in" else [v])]
            if None not in keys:
                out.append((self._phys(c), op, keys if op == "in" else keys[0]))
        return out

    # Reference index_selector.go:62 MaxIndexScanRatio: route through an
    # index only when its fence-estimated match fraction is at most this —
    # above it a pruned full scan is cheaper than probe + id mapping.
    _INDEX_SCAN_MAX_RATIO = 0.3
    # fence row estimate at or below which a btree probe runs driver-side
    # (pyarrow over the fence-selected run files — zero Spark jobs on the
    # plan path); wide ranges keep the distributed probe
    _DRIVER_PROBE_MAX_ROWS = 65536

    def _frag_rowid_interval(self, f: Fragment):
        """[lo, hi] of stable row ids a fragment can contain, or None when
        unprovable (no Range segment and no __rowid footer stats)."""
        if f.row_start is not None and f.row_start >= 0:
            return f.row_start, f.row_start + f.rows - 1
        st = f.stats.get(_ROWID_STORED)
        if st and st.get("min") is not None and st.get("max") is not None:
            return st["min"], st["max"]
        return None

    def _rowid_interval_table(self) -> tuple[list[tuple[int, int, int]], set[int]]:
        """(lo, hi, fragment_id) intervals for every provable fragment plus
        the set of UNPROVABLE fragment ids (always scanned). Shared by the
        driver-side and distributed id->fragment mapping paths so the two
        can never drift."""
        intervals, always = [], set()
        for f in self.manifest.fragments:
            iv = self._frag_rowid_interval(f)
            if iv is None:
                always.add(f.id)
            else:
                intervals.append((iv[0], iv[1], f.id))
        intervals.sort()
        return intervals, always

    def _uncovered(self, name: str, stop_early: bool = False) -> list[Fragment] | None:
        """Fragments of this version whose live rows index ``name`` may
        lack — None when a manifest since its covers_version was vacuumed
        (coverage unprovable). Walks the history once: a fragment is
        covered if it was in the covers_version manifest and has lost rows
        since, never gained them (its deletion files only grew), or if a
        compaction ("rewrite") produced it from inputs that were all
        covered — rewrites keep stable row ids and live rows. Everything
        else (appends, update images, merges, restores) is uncovered.
        ``stop_early`` returns at the first uncovered fragment seen."""
        cv = self.manifest.indexes[name]["covers_version"]
        try:
            prev = self._load(cv) if cv != self.version else self.manifest
            covered = {f.id: set(f.deletion_files) for f in prev.fragments}
            for v in range(cv + 1, self.version + 1):
                cur = self._load(v) if v != self.version else self.manifest
                prev_ids = prev.fragment_ids()
                inputs_covered = cur.operation == "rewrite" and (
                    prev_ids - cur.fragment_ids() <= covered.keys()
                )
                nxt = {}
                for f in cur.fragments:
                    dels, was = set(f.deletion_files), covered.get(f.id)
                    if (was is not None and dels >= was) or (
                        inputs_covered and f.id not in prev_ids
                    ):
                        nxt[f.id] = dels
                    elif stop_early:
                        return [f]
                covered, prev = nxt, cur
        except FileNotFoundError:
            return None
        return [f for f in self.manifest.fragments if f.id not in covered]

    def _routing_usable(self, name: str) -> bool:
        """True when an index is sound for SCAN ROUTING even if not
        strictly fresh: probes may return a SUPERSET of live matches
        (deleted or superseded rows' ids are harmless — the deletion-vector
        anti-join and the residual filter drop them) but must never MISS
        one. That holds while no fragment is uncovered (see _uncovered)."""
        if name not in self.manifest.indexes:
            return False
        return self._uncovered(name, stop_early=True) == []

    @staticmethod
    def _trace_entry(
        name: str, desc: dict, est=None, total=None, chosen=False, reason=""
    ) -> dict:
        """One selection-trace row (reference IndexSelector observability,
        index_selector.go:36-78): which index, what the fences/keystats
        estimated, and whether the planner chose it — the (index,
        est_fraction, chosen) triple plan_scan(explain=True) reports."""
        return {
            "index": name,
            "kind": desc.get("kind"),
            "column": desc.get("column"),
            "est_rows": est,
            "total_rows": total,
            "est_fraction": (round(est / total, 6) if total else None)
            if est is not None
            else None,
            "chosen": chosen,
            "reason": reason,
        }

    def _auto_index_hits(self, filters, trace: list | None = None) -> set[int] | None:
        """Cost-based automatic index routing for a filtered scan (reference
        IndexSelector.SelectIndexForPredicate, index_selector.go:36-78, and
        IndexPlannerV2.PlanQuery, index_planner.go:27-75): among the FRESH
        btree/rtree/bitmap indexes whose key columns carry prunable conjuncts,
        probe EVERY index whose fence tables estimate at most
        ``_INDEX_SCAN_MAX_RATIO`` of the table (a pruned scan wins
        otherwise) and INTERSECT their fragment-hit sets — the
        IndexPlannerV2 composition. Each index is probed (fence-selected
        run files only) and the
        matching row ids map back to the fragments that own them via the
        manifest's row-id intervals — fragments with unprovable intervals
        always stay selected (soundness).

        Returns the fragment-id set that can contain matches, or None when
        no index applies. A stale index (data committed past
        covers_version) is never consulted."""
        if not filters or not self.manifest.row_ids:
            return None
        from plan_spark.indexes.btree import read_fences

        def note(name, desc, **kw):
            if trace is not None:
                trace.append(self._trace_entry(name, desc, **kw))

        candidates = []  # (est_rows, total_rows, hits_thunk, trace_entry)
        for name, desc in self.manifest.indexes.items():
            kind = desc.get("kind")
            if kind not in ("btree", "rtree", "bitmap") or not desc.get("path"):
                continue
            # the probe yields take_rows-addressable ids only when the index
            # id column is the stable row id (the SQL-face default).
            # _routing_usable is weaker than index_fresh: delete-only and
            # compaction histories keep routing sound (superset probes)
            if desc["params"]["id_col"] != _ROWID:
                note(name, desc, reason="id column is not the stable row id")
                continue
            if not self._routing_usable(name):
                note(
                    name, desc,
                    reason="stale: rows added/changed past covers_version "
                    "(refresh_index or rebuild restores routing)",
                )
                continue
            if kind == "bitmap":
                # row-granular bitmap (bitmap_index.go:20-130): equality/IN
                # conjuncts on the column compose by value-set intersection;
                # the NDV-sized keystats table gives an EXACT row estimate
                # (built-time; the pending tail is added conservatively)
                vals = None
                for col, op, val in filters:
                    if self._phys(col) != desc["phys"]:
                        continue
                    if op == "=":
                        s = {val}
                    elif op == "in":
                        s = set(val)
                    else:
                        continue  # range conjuncts: the btree's job
                    vals = s if vals is None else (vals & s)
                if vals is None:
                    note(name, desc, reason="no =/IN conjunct on indexed column")
                    continue
                idx = self.open_index(name)
                ks = idx.keystats()
                pend = idx.pending_rows()
                total = (sum(r for r, _ in ks.values()) + pend) or 1
                est = sum(ks.get(v, (0, 0))[0] for v in vals) + pend
                nruns = sum(ks.get(v, (0, 0))[1] for v in vals) + pend

                def bm_hits(idx=idx, vals=vals, nruns=nruns):
                    return self._hits_for_runs(idx, sorted(vals), nruns)

                candidates.append(
                    (est, total, bm_hits, self._trace_entry(name, desc, est, total))
                )
            elif kind == "btree":
                # compose EVERY conjunct on the key column into one [lo,hi]
                # range (a closed range "k >= a AND k <= b" must probe as
                # one interval — two one-sided probes each estimate ~half
                # the table and the cost gate would wrongly reject them)
                lo = hi = None
                in_vals = None
                bounded = False
                for col, op, val in filters:
                    if self._phys(col) != desc["phys"]:
                        continue
                    clo, chi = _conjunct_bounds(op, val)
                    if clo is _NO_BOUNDS:
                        continue
                    bounded = True
                    if clo is not None and (lo is None or clo > lo):
                        lo = clo
                    if chi is not None and (hi is None or chi < hi):
                        hi = chi
                    if op == "in":
                        vs = set(val)
                        in_vals = vs if in_vals is None else (in_vals & vs)
                    elif op == "=" and in_vals is not None:
                        in_vals &= {val}
                if not bounded:
                    note(name, desc, reason="no range-bounding conjunct on key column")
                    continue
                fences = read_fences(
                    os.path.join(self.path, desc["path"], "fences.parquet")
                )
                total = sum(r.n for r in fences) or 1
                est = sum(
                    r.n
                    for r in fences
                    if r.min_key is None
                    or r.max_key is None
                    or (
                        (lo is None or r.max_key >= lo)
                        and (hi is None or r.min_key <= hi)
                    )
                )

                def bt_probe(name=name, lo=lo, hi=hi, in_vals=in_vals):
                    ids = self.open_index(name).range_query(lo, hi)
                    if in_vals is not None:
                        ids = ids.filter(
                            F.col("key").isin(*in_vals) if in_vals else F.lit(False)
                        )
                    return ids

                def bt_probe_driver(name=name, lo=lo, hi=hi, in_vals=in_vals):
                    return self.open_index(name).range_ids(lo, hi, in_vals=in_vals)

                def bt_hits(est=est, p=bt_probe, pd=bt_probe_driver):
                    return self._hits_for(est, p, pd)

                candidates.append(
                    (est, total, bt_hits, self._trace_entry(name, desc, est, total))
                )
            else:  # rtree: conjuncts bounding x and y compose one box.
                # BOTH axes must carry at least one conjunct: the index
                # excludes rows with a NULL coordinate (rtree.py build), so
                # routing is sound only when every such row provably fails
                # the predicate — which a conjunct on each axis guarantees
                # (NULL comparisons are never true). With one axis
                # unconstrained, a row NULL on that axis could match the
                # predicate yet be absent from the index.
                px, py = [c.strip() for c in desc["phys"].split(",")]
                box = {px: [None, None], py: [None, None]}  # [lo, hi] per axis
                touched = {px: False, py: False}
                for col, op, val in filters:
                    phys = self._phys(col)
                    if phys not in box or op == "in":
                        continue
                    lo, hi = _conjunct_bounds(op, val)
                    if lo is _NO_BOUNDS:
                        continue
                    b = box[phys]
                    touched[phys] = True
                    if lo is not None and (b[0] is None or lo > b[0]):
                        b[0] = lo
                    if hi is not None and (b[1] is None or hi < b[1]):
                        b[1] = hi
                if not (touched[px] and touched[py]):
                    note(
                        name, desc,
                        reason="spatial probe needs a conjunct on BOTH axes "
                        "(NULL-coordinate rows are absent from the index)",
                    )
                    continue
                inf = float("inf")
                qx0 = box[px][0] if box[px][0] is not None else -inf
                qx1 = box[px][1] if box[px][1] is not None else inf
                qy0 = box[py][0] if box[py][0] is not None else -inf
                qy1 = box[py][1] if box[py][1] is not None else inf
                fences = read_fences(
                    os.path.join(self.path, desc["path"], "fences.parquet")
                )
                total = sum(r.n for r in fences) or 1
                est = sum(
                    r.n
                    for r in fences
                    if None in (r.xlo, r.xhi, r.ylo, r.yhi)
                    or (r.xhi >= qx0 and r.xlo <= qx1 and r.yhi >= qy0 and r.ylo <= qy1)
                )

                def rt_probe(name=name, qx0=qx0, qy0=qy0, qx1=qx1, qy1=qy1):
                    return self.open_index(name).range_search(qx0, qy0, qx1, qy1)

                def rt_probe_driver(name=name, qx0=qx0, qy0=qy0, qx1=qx1, qy1=qy1):
                    return self.open_index(name).range_ids(qx0, qy0, qx1, qy1)

                def rt_hits(est=est, p=rt_probe, pd=rt_probe_driver):
                    return self._hits_for(est, p, pd)

                candidates.append(
                    (est, total, rt_hits, self._trace_entry(name, desc, est, total))
                )
        if not candidates:
            return None
        # IndexPlannerV2 composition (index_planner.go:27-75): EVERY index
        # whose estimate clears the cost gate contributes — each hit set is
        # a sound superset of the fragments matching ITS conjunct, so under
        # AND semantics the INTERSECTION is a sound superset for the whole
        # predicate. One selective index alone already prunes; two prune
        # fragments whose ranges interleave on one key but not the other.
        viable = []
        for c in candidates:
            ok = c[0] / c[1] <= self._INDEX_SCAN_MAX_RATIO
            if trace is not None:
                c[3]["chosen"] = ok
                c[3]["reason"] = (
                    "probed (cost gate passed; hit set intersected)"
                    if ok
                    else f"cost gate: est_fraction > {self._INDEX_SCAN_MAX_RATIO} "
                    "— pruned full scan is cheaper"
                )
                trace.append(c[3])
            if ok:
                viable.append(c)
        if not viable:
            return None  # full (pruned) scan is the cheaper plan
        all_hits: set[int] | None = None
        for est, total, hits_fn, _t in viable:
            h = hits_fn()
            all_hits = h if all_hits is None else (all_hits & h)
        return all_hits

    @staticmethod
    def _stab_interval_overlaps(
        intervals: list[tuple[int, int, int]],
        runs: list[tuple[int, int]],
        hits: set[int],
    ) -> None:
        """Add to ``hits`` every fragment whose row-id interval OVERLAPS any
        probe run [lo, hi] — THE driver-side id/run -> fragment mapping
        (point probes pass [id, id]). Fragment intervals may OVERLAP
        (compaction/update/merge rewrites produce files whose __rowid
        footer ranges interleave), so a single bisect
        match is not enough: walk back from the insertion point while any
        earlier interval can still reach the run (prefix-max of interval
        ends) — O(log n + overlap depth) per run, exact for any layout."""
        import bisect

        starts = [iv[0] for iv in intervals]
        maxend = []
        m = None
        for _, ihi, _ in intervals:
            m = ihi if m is None else max(m, ihi)
            maxend.append(m)
        for lo, hi in runs:
            k = bisect.bisect_right(starts, hi) - 1
            while k >= 0 and maxend[k] >= lo:
                if intervals[k][0] <= hi and intervals[k][1] >= lo:
                    hits.add(intervals[k][2])
                k -= 1

    def _map_runs_to_fragments(self, runs_df: DataFrame) -> set[int]:
        """Distributed run -> owning-fragment mapping, shared by every
        probe path: broadcast the (file-count-sized) row-id interval table
        against the (lo, hi) run stream and collect the DISTINCT fragment
        ids — output is O(fragments), never O(rows). The overlap join hits
        EVERY containing interval, matching _stab_interval_overlaps'
        semantics on the driver path (the two must never drift)."""
        ivs, hits = self._rowid_interval_table()
        if ivs:
            import pyarrow as pa

            flo, fhi, fid = zip(*ivs)
            itab = self.spark.createDataFrame(
                pa.table({
                    "fid": pa.array(fid, pa.int64()),
                    "flo": pa.array(flo, pa.int64()),
                    "fhi": pa.array(fhi, pa.int64()),
                })
            )
            with driver_sized(self.spark):
                rows = (
                    runs_df.select("lo", "hi")
                    .join(
                        F.broadcast(itab),
                        (F.col("lo") <= F.col("fhi")) & (F.col("hi") >= F.col("flo")),
                    )
                    .select("fid")
                    .distinct()
                    .collect()
                )
            hits.update(r.fid for r in rows)
        return hits

    def _hits_for_runs(self, idx, vals: list, n_runs_est: int) -> set[int]:
        """Fragment-hit set for one row-granular bitmap probe. Runs (not
        ids) cross the boundary in both paths, so cost is O(runs), never
        O(matching rows) — the whole point of RLE row bitmaps at 100 TB."""
        if n_runs_est <= self._DRIVER_PROBE_MAX_ROWS:
            ivs, hits = self._rowid_interval_table()
            self._stab_interval_overlaps(ivs, idx.in_runs(vals), hits)
            return hits
        return self._map_runs_to_fragments(idx.runs_df(vals))

    def _hits_for(self, est: int, probe, probe_driver) -> set[int]:
        """Fragment-hit set for ONE index probe (driver-side fast path for
        point/small ranges, distributed interval join for wide ones)."""
        if est <= self._DRIVER_PROBE_MAX_ROWS:
            # point/small-range probe: read the fence-selected run files
            # with pyarrow in the planning process (reference
            # index_selector.go probes the B-tree driver-side too) and map
            # ids -> fragments by interval stabbing — ZERO Spark jobs on
            # the plan path. The gate is the fence row estimate, so a wide
            # range still takes the distributed probe below. Stabbing (not
            # a single bisect match) because rewrite-produced fragments can
            # carry OVERLAPPING row-id footer ranges — every containing
            # interval must be scanned or rows silently vanish.
            intervals, hits = self._rowid_interval_table()
            self._stab_interval_overlaps(
                intervals, ((rid, rid) for rid in probe_driver()), hits
            )
            return hits
        # wide range: distributed probe, ids mapped to fragments as
        # degenerate [id, id] runs through the ONE shared overlap join
        return self._map_runs_to_fragments(
            probe().select(F.col("id").alias("lo"), F.col("id").alias("hi"))
        )

    def plan_scan(
        self, filters=None, use_indexes: bool = True, explain: bool = False
    ):
        """(selected, pruned) fragments for a filtered scan — the engine's
        EXPLAIN surface for file pruning. ``filters`` is either a list of
        (col, op, literal) tuples or a predicate string, whose prunable
        conjuncts come from Spark's own parse of it
        (_parse_filter_string; a string Spark cannot parse raises).

        ``use_indexes=True`` (default) additionally routes prunable
        conjuncts through EVERY fresh btree/rtree/bitmap index that clears the
        cost gate (see _auto_index_hits — IndexPlannerV2 composition): the
        indexes' fragment-hit sets intersect each other AND zonemap/bitmap
        pruning, so a filtered scan can skip fragments whose key ranges
        interleave (where min/max alone proves nothing).

        ``explain=True`` returns ``(selected, pruned, trace)`` where trace
        is the index-selection record — one (index, est_fraction, chosen,
        reason) row per registered index, the reference IndexSelector's
        observability (index_selector.go:36-78) extended to every face:
        scalar indexes report their fence/keystats estimates and the cost-
        gate outcome; ANN/FTS indexes report which query face serves them
        and whether they are FRESH or need refresh/rebuild (the stale-
        fallback a caller must see before trusting search results)."""
        if isinstance(filters, str):
            filters = self._parse_filter_string(self.spark, filters)
        trace: list | None = [] if explain else None
        hits = (
            self._auto_index_hits(filters, trace=trace) if use_indexes else None
        )
        zone = self._zone(filters)
        sel, pruned = [], []
        for f in self.manifest.fragments:
            if _prunable(f.stats, zone) or (hits is not None and f.id not in hits):
                pruned.append(f)
            else:
                sel.append(f)
        if not explain:
            return sel, pruned
        traced = {t["index"] for t in trace}
        for name, desc in self.manifest.indexes.items():
            if name in traced:
                continue
            kind = desc.get("kind")
            if kind in ("btree", "rtree", "bitmap") and desc.get("path"):
                # scalar index _auto_index_hits never reached (no filters,
                # use_indexes=False, or dataset lacks row ids)
                reason = (
                    "not consulted: use_indexes=False"
                    if not use_indexes
                    else "no filters to route"
                    if not filters
                    else "dataset has no stable row ids"
                )
                trace.append(self._trace_entry(name, desc, reason=reason))
            elif kind in ("ivf", "ivf_pq", "hnsw", "pq", "sq", "bq", "fts"):
                face = "fts" if kind == "fts" else "ann"
                fresh = self.index_fresh(name)
                trace.append(
                    self._trace_entry(
                        name,
                        desc,
                        reason=f"{face}-face: served via open_index({name!r})"
                        + (
                            "; FRESH (covers the table head)"
                            if fresh
                            else "; STALE: data committed past covers_version "
                            "— refresh_index or rebuild before trusting "
                            "search results"
                        ),
                    )
                )
            else:
                # fragment-granular declarations (bloom; bitmap w/o row ids):
                # they apply inside _prunable / parquet row-group skipping,
                # not through probe routing
                trace.append(
                    self._trace_entry(
                        name, desc,
                        reason="fragment-granular (manifest distinct sets / "
                        "parquet bloom); applied during pruning, no probe",
                    )
                )
        return sel, pruned, trace

    def to_df(
        self,
        filters=None,
        with_row_id: bool = False,
        use_indexes: bool = True,
        columns: list[str] | None = None,
        limit: int | None = None,
    ) -> DataFrame:
        """Snapshot scan: manifest pruning -> parquet scan (Catalyst pushes
        the residual filters) -> merge-on-read anti-join of deletion vectors.

        ``filters`` may be a list of (col, op, literal) tuples or a SQL
        predicate string: the string prunes via the conjuncts Spark's
        parser finds in it (_parse_filter_string) and is applied in full
        as a residual ``F.expr`` filter, read by the same parser.

        ``use_indexes=True`` (default) lets the scan planner route
        prunable conjuncts through every qualifying FRESH index
        automatically, intersecting their hit sets (reference
        index_selector.go:36-78 + index_planner.go:27-75 composition — a
        user who creates indexes and then filters the normal way gets the
        benefit without calling open_index themselves); the full predicate
        still applies as a residual, so this is purely a file-pruning win.

        ``with_row_id=True`` appends the stable-row-id column ``_rowid``
        (requires ``create(..., row_ids=True)``; reference rowids.go).

        ``columns=`` / ``limit=`` complete the reference scanner's builder
        faces (sdk/scanner.go WithColumns/WithLimit): the projection reaches
        the parquet ReadSchema via Catalyst pruning, and the limit becomes
        a CollectLimit over the pruned scan.

        The result is always a lazy Spark scan, whatever its size: the
        engine registers it as each table's view. The statement-sized read
        that SQL point reads and the DML matched scans take instead — the
        admitted row groups read with pyarrow into a local relation, no
        Spark job — is statement_scan (_driver_scan)."""
        pred_str = filters if isinstance(filters, str) else None
        m = self.manifest
        schema = self.schema
        if with_row_id and not m.row_ids:
            raise ValueError("dataset was not created with row_ids=True")
        sel, _ = self.plan_scan(filters, use_indexes=use_indexes)
        if pred_str is not None:
            filters = None  # applied below as one F.expr residual
        if not sel:
            out_schema = schema
            if with_row_id:
                out_schema = StructType(
                    schema.fields + [StructField(_ROWID, LongType(), True)]
                )
            empty = self.spark.createDataFrame([], out_schema)
            if columns is not None:
                # same validation contract as the non-empty path: a typo'd
                # projection must raise ValueError regardless of whether the
                # scan happened to prune to zero fragments
                known = set(empty.columns)
                missing = [c for c in columns if c not in known]
                if missing:
                    raise ValueError(
                        f"unknown columns {missing}; table has {sorted(known)}"
                    )
                empty = empty.select(
                    *columns, *([_ROWID] if with_row_id else [])
                )
            if limit is not None:
                empty = empty.limit(int(limit))
            return empty
        if with_row_id:
            df = self._scan_with_lineage(sel, with_row_id=True).drop(
                _FILE_COL, _POS_COL
            )
        else:
            paths = [os.path.join(self.path, f.path) for f in sel]
            df = self.spark.read.schema(self._read_schema(schema)).parquet(*paths)
            if any(f.deletion_files for f in sel):
                # consume the _metadata pseudo-column before any projection
                # (_to_logical) can cut it off the file-source relation
                df = df.withColumn(
                    _FILE_COL,
                    F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
                ).withColumn(_POS_COL, F.col("_metadata.row_index"))
                df = self._drop_deleted(df, sel).drop(_FILE_COL, _POS_COL)
            df = self._to_logical(df)
        for colname, default_expr in m.column_defaults.items():
            if colname in df.columns:
                df = df.withColumn(
                    colname, F.coalesce(F.col(colname), F.expr(default_expr))
                )
        df = _apply_filters(df, filters)
        if pred_str is not None:
            df = df.filter(F.expr(pred_str))
        if columns is not None:
            known = set(df.columns)
            missing = [c for c in columns if c not in known]
            if missing:
                raise ValueError(f"unknown columns {missing}; table has {sorted(known)}")
            df = df.select(*columns, *([_ROWID] if with_row_id else []))
        if limit is not None:
            df = df.limit(int(limit))
        return df

    def take_rows(
        self,
        ids: list[int] | None = None,
        columns: list[str] | None = None,
        runs: list[tuple[int, int]] | None = None,
    ) -> DataFrame:
        """Address rows directly by stable row id (reference rowids.go /
        sdk TakeRows, projected variant TakeProjected sdk/dataset.go:1156):
        returns the matching rows with their ``_rowid`` column. Deleted
        rows are absent (their ids are never reused).

        ``runs`` is the interval form: inclusive ``(lo, hi)`` row-id runs —
        the currency the scalar indexes already speak (bitmap/btree probes
        return runs, never row lists). Exactly one of ``ids``/``runs`` must
        be given.

        Fragment pruning happens first: Range segments prune by interval
        arithmetic on the manifest alone; Array segments (rewrite outputs)
        prune via the ``__rowid`` footer min/max already collected into
        fragment stats — so a point lookup touches O(1) files, not
        O(fragments).

        A statement-sized lookup — at most ``_IN_LIST_MAX`` ids, or runs
        covering at most that many ids — is read on the driver with
        pyarrow, like Lance ``take`` (_driver_scan): only the row groups
        holding hits, only the projected columns, and the result is a
        local relation whose ``collect`` runs no Spark job. A larger
        lookup scans the pruned fragments in Spark, filtering by
        OR-of-BETWEEN over the runs, or by a broadcast semi join with the
        ids, or (over 256 runs) with the runs bucketed by id range, so
        driver work stays O(runs) at any selectivity. Either way
        ``columns`` projects the read: a 2-column lookup on a 500-column
        table never decodes the other 498."""
        m = self.manifest
        if not m.row_ids:
            raise ValueError("dataset was not created with row_ids=True")
        if (ids is None) == (runs is None):
            raise ValueError("pass exactly one of ids= or runs=")
        if columns is not None:
            known = [f.name for f in self.schema.fields]
            missing = [c for c in columns if c not in known]
            if missing:
                raise ValueError(f"unknown columns {missing}; table has {known}")
        if runs is not None:
            # normalize: sort + merge adjacent/overlapping intervals so the
            # scan predicate and fragment pruning see a minimal disjoint set
            norm: list[list[int]] = []
            for lo, hi in sorted((int(lo), int(hi)) for lo, hi in runs):
                if hi < lo:
                    raise ValueError(f"invalid run ({lo}, {hi})")
                if norm and lo <= norm[-1][1] + 1:
                    norm[-1][1] = max(norm[-1][1], hi)
                else:
                    norm.append([lo, hi])
            intervals = [(lo, hi) for lo, hi in norm]
        else:
            intervals = [(i, i) for i in sorted({int(i) for i in ids})]
        sel: list[Fragment] = []
        if intervals:  # no intervals, no rows
            ivs, hits = self._rowid_interval_table()
            self._stab_interval_overlaps(ivs, intervals, hits)
            sel = [f for f in m.fragments if f.id in hits]  # manifest order
        if not sel or sum(hi - lo + 1 for lo, hi in intervals) <= _IN_LIST_MAX:
            df = self._driver_scan(sel, intervals=intervals, columns=columns)
            if df is not None:
                return self._logical_rows(df, columns)
        import pyarrow as pa

        df = self._physical_scan(sel, with_row_id=True).drop(_FILE_COL, _POS_COL)
        if runs is None:
            # a literal IN list this size bloats the plan (and its
            # serialized form) linearly — ship the ids once as a broadcast
            # relation instead; the semi join stays a single scan
            idf = self.spark.createDataFrame(
                pa.table({_ROWID: pa.array([lo for lo, _ in intervals], pa.int64())})
            )
            df = df.join(F.broadcast(idf), on=_ROWID, how="leftsemi")
        elif len(intervals) <= 256:
            pred = None
            for lo, hi in intervals:
                p = F.col(_ROWID).between(F.lit(lo), F.lit(hi))
                pred = p if pred is None else (pred | p)
            df = df.filter(pred)
        else:
            # many runs: broadcast the interval table, each run listed under
            # every id bucket of ``width`` ids it touches, and join on the
            # bucket plus the range — a hash join whose probe meets only
            # the runs of a row's own bucket, where a bare range condition
            # is a nested loop over every run. The width is the mean run
            # span, so the table holds at most three rows per run on average
            width = -(-sum(hi - lo + 1 for lo, hi in intervals) // len(intervals))
            runs = [(b, lo, hi) for lo, hi in intervals for b in range(lo // width, hi // width + 1)]
            rdf = self.spark.createDataFrame(
                pa.table({
                    "__run_b": pa.array([b for b, _, _ in runs], pa.int64()),
                    "__run_lo": pa.array([lo for _, lo, _ in runs], pa.int64()),
                    "__run_hi": pa.array([hi for _, _, hi in runs], pa.int64()),
                })
            )
            df = df.join(
                F.broadcast(rdf),
                (F.expr(f"{_ROWID} div {width}") == F.col("__run_b"))
                & (F.col(_ROWID) >= F.col("__run_lo"))
                & (F.col(_ROWID) <= F.col("__run_hi")),
                "leftsemi",
            )
        return self._logical_rows(df, columns)

    def _row_group_plan(self, frags: list[Fragment], zone):
        """(fragment, open ParquetFile, row groups _admitted_groups admits
        for ``zone``) for each of ``frags``, the row groups they hold in
        all, and the rows the admitted ones hold — footers only."""
        plan, groups, rows = [], 0, 0
        for f in frags:
            pf = _open_parquet(os.path.join(self.path, f.path))[0]
            md = pf.metadata
            keep = _admitted_groups(md, zone)
            plan.append((f, pf, keep))
            groups += md.num_row_groups
            rows += sum(md.row_group(g).num_rows for g in keep)
        return plan, groups, rows

    def _driver_scan(self, *args, **kwargs) -> DataFrame | None:
        """_driver_table's rows as a local relation, or None."""
        got = self._driver_table(*args, **kwargs)
        return None if got is None else self.spark.createDataFrame(*got)

    def _driver_table(
        self,
        frags: list[Fragment],
        zone=(),
        intervals: list[tuple[int, int]] | None = None,
        columns: list[str] | None = None,
    ):
        """The one driver-side read of a statement-sized scan: the live rows
        of ``frags`` read with pyarrow, as (Arrow table, its Spark schema)
        in stored column names, with their lineage (``__ds_file``,
        ``__ds_pos``) and ``_rowid`` last (_arrow_rowids' rule; null without
        a row id). ``spark.createDataFrame`` makes it a LocalRelation
        (_driver_scan), so Catalyst runs a Filter or Project over it on the
        driver and ``collect`` runs no Spark job; the statement's own
        predicate is still Spark's.

        The rows are those of the row groups whose footer stats admit the
        stored-name conjuncts ``zone`` (_row_group_plan) — None, with only
        footers read, when those groups hold more than ``_IN_LIST_MAX``
        rows or the fragments' sidecars delete more than that many — or,
        given ``intervals`` (take_rows, which gates by id count), those
        whose row id falls in a run (_rowid_hits). Sidecar-deleted positions
        are dropped, ``columns`` projects the read, and each column is
        conformed to the read schema as Spark's reader reads it (_conform);
        None as well when a column has no Arrow form or will not conform."""
        import numpy as np
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        by_name = {f.name: f for f in self.schema.fields}
        fields = [by_name[c] for c in columns] if columns is not None else self.schema.fields
        lineage = [
            StructField(_FILE_COL, StringType(), True),
            StructField(_POS_COL, LongType(), True),
            StructField(_ROWID, LongType(), True),
        ]
        read = _nullable(self._read_schema(StructType(fields + lineage)))
        try:
            target = to_arrow_schema(read)
        except Exception:  # a type with no Arrow form here
            return None
        if intervals is None:
            plan, _, rows = self._row_group_plan(frags, zone)
            dead = None if rows > _IN_LIST_MAX else self._deleted_positions(frags, _IN_LIST_MAX)
            if dead is None:
                return None
        else:
            plan = [(f, _open_parquet(os.path.join(self.path, f.path))[0], None) for f in frags]
            dead = self._deleted_positions(frags)
            los = np.array([lo for lo, _ in intervals], np.int64)
            his = np.array([hi for _, hi in intervals], np.int64)
        data = list(target)[: -len(lineage)]
        parts = []
        for f, pf, groups in plan:
            md = pf.metadata
            starts = np.cumsum([0] + [md.row_group(g).num_rows for g in range(md.num_row_groups)])
            gone = np.array(dead.get(os.path.basename(f.path), []), np.int64)
            if groups is None:
                rs = f.row_start if f.row_start is not None and f.row_start >= 0 else None
                hits = [(g, pos) for g, pos, _ in _rowid_hits(pf, rs, los, his, gone)]
            else:
                hits = []
                for g in groups:
                    pos = np.arange(starts[g + 1] - starts[g])
                    hits.append((g, pos[~np.isin(pos + starts[g], gone)] if len(gone) else pos))
            stored = set(pf.schema_arrow.names)
            cols = [c.name for c in data if c.name in stored]
            cols += [_ROWID_STORED] if _ROWID_STORED in stored else []
            for g, pos in hits:
                t = pf.read_row_group(g, columns=cols) if cols else None
                if t is not None and len(pos) < t.num_rows:
                    t = t.take(pos)
                try:
                    arrays = [
                        _conform(t.column(c.name), c.type) if c.name in stored
                        else pa.nulls(len(pos), c.type)
                        for c in data
                    ]
                except (pa.ArrowInvalid, pa.ArrowNotImplementedError, pa.ArrowTypeError):
                    return None
                parts.append(pa.Table.from_arrays(
                    arrays + [
                        pa.array([os.path.basename(f.path)] * len(pos), pa.string()),
                        pa.array(pos + starts[g], pa.int64()),
                        t.column(_ROWID_STORED) if _ROWID_STORED in stored
                        else pa.nulls(len(pos), pa.int64()),
                    ],
                    names=[c.name for c in data] + [_FILE_COL, _POS_COL, _ROWID_STORED],
                ))
        table = _arrow_rowids(pa.concat_tables(parts), frags) if parts else target.empty_table()
        return table.cast(target), read

    def statement_scan(self, filters) -> DataFrame | None:
        """The rows of a statement-sized read of this table, as to_df()
        gives them — logical names, column defaults — but as a local
        relation read by _driver_scan over the fragments zonemaps keep for
        the (col, op, literal) conjuncts ``filters`` (every returned row
        satisfying them is the caller's to check). None, having read only
        footers, when that scan is over the gate: the caller keeps Spark's
        scan."""
        sel, _ = self.plan_scan(filters, use_indexes=False)
        df = self._driver_scan(sel, self._zone(filters))
        return None if df is None else self._logical_rows(df, None, row_id=False)

    def driver_scan_plan(self, filters) -> dict[str, Any]:
        """What statement_scan(filters) would read: the fragments zonemaps
        keep, the row groups their footers admit of all they hold, the
        admitted rows, and whether the admitted rows and the fragments'
        sidecar deletes are both within the driver gate."""
        if isinstance(filters, str):
            filters = self._parse_filter_string(self.spark, filters)
        sel, _ = self.plan_scan(filters, use_indexes=False)
        plan, groups, rows = self._row_group_plan(sel, self._zone(filters))
        return {
            "fragments": len(sel),
            "row_groups": sum(len(keep) for _, _, keep in plan),
            "total_row_groups": groups,
            "rows": rows,
            "gate": _IN_LIST_MAX,
            "driver": rows <= _IN_LIST_MAX
            and self._deleted_positions(sel, _IN_LIST_MAX) is not None,
        }

    def _logical_rows(
        self, df: DataFrame, columns: list[str] | None, row_id: bool = True
    ) -> DataFrame:
        """A read's rows as the caller sees them, from a frame in physical
        names carrying ``_rowid``: logical names, column defaults over
        missing values, and ``columns`` (all by default) in the requested
        order, with ``_rowid`` last when ``row_id``. Both take paths and
        statement_scan end here, so they cannot drift; over a local
        relation Catalyst folds it away."""
        df = self._to_logical(df)
        defaults = self.manifest.column_defaults
        return df.select(
            *[
                F.coalesce(F.col(c), F.expr(defaults[c])).alias(c) if c in defaults else F.col(c)
                for c in (columns if columns is not None else self.schema.fieldNames())
            ],
            *([_ROWID] if row_id else []),
        )

    def _scan_with_lineage(
        self,
        frags: list[Fragment],
        with_row_id: bool = False,
        stored_row_id: bool = False,
        filters=None,
    ) -> DataFrame:
        """Scan given fragments with (file basename, row position) lineage
        columns, deletion vectors applied — the input to mutation planning.

        Given the (col, op, literal) conjuncts ``filters`` every wanted row
        satisfies (DELETE, UPDATE), a statement-sized read of the row groups
        they admit is _driver_scan's local relation, carrying ``_rowid``
        whatever the flags below ask; a read over the gate is Spark's scan.

        ``with_row_id=True`` additionally materializes the stable-row-id
        column ``_rowid`` (reference rowids.go): Range-segment fragments
        compute ``row_start + position`` (zero storage), Array-segment
        fragments read their physical ``__rowid`` column (_rowid_join).
        ``stored_row_id=True`` reads only the physical column, null on
        Range files, for the caller to finish: _rowid_join in Spark, or
        _arrow_rowids once the rows are on the driver."""
        local = None if filters is None else self._driver_scan(frags, self._zone(filters))
        if local is not None:
            return self._to_logical(local)
        return self._to_logical(self._physical_scan(frags, with_row_id, stored_row_id))

    def _physical_scan(
        self, frags: list[Fragment], with_row_id: bool = False, stored_row_id: bool = False
    ) -> DataFrame:
        """_scan_with_lineage with the stored (physical) column names."""
        schema = self.schema
        if with_row_id or stored_row_id:
            schema = StructType(
                schema.fields + [StructField(_ROWID_STORED, LongType(), True)]
            )
        paths = [os.path.join(self.path, f.path) for f in frags]
        df = (
            self.spark.read.schema(self._read_schema(schema))
            .parquet(*paths)
            .withColumn(
                _FILE_COL, F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
            )
            .withColumn(_POS_COL, F.col("_metadata.row_index"))
        )
        df = self._drop_deleted(df, frags)
        return self._rowid_join(df, frags) if with_row_id else df

    def _rowid_join(self, df: DataFrame, frags: list[Fragment]) -> DataFrame:
        """``df``, rows of ``frags`` carrying lineage and the stored
        ``__rowid``, with ``_rowid = coalesce(__rowid, row_start + pos)``
        in place of the stored column. The file -> row_start lookup is a
        broadcast join, not a map literal: O(fragments) can reach 10^5 at
        scale and a giant create_map expression tree would choke Catalyst,
        while a broadcast hash join of a kilobyte-sized table is free.
        Built from Arrow: a DataFrame of Python rows costs a Python worker
        round trip on every scan."""
        import pyarrow as pa

        starts = self.spark.createDataFrame(
            pa.table({
                "__ds_rs_file": pa.array([os.path.basename(f.path) for f in frags], pa.string()),
                "__ds_rs_start": pa.array([f.row_start for f in frags], pa.int64()),
            })
        )
        df = df.join(F.broadcast(starts), df[_FILE_COL] == starts["__ds_rs_file"], "left")
        return df.withColumn(
            _ROWID,
            F.coalesce(
                F.col(_ROWID_STORED),
                (F.col("__ds_rs_start") + F.col(_POS_COL)).cast("long"),
            ),
        ).drop("__ds_rs_file", "__ds_rs_start", _ROWID_STORED)

    def _deleted_positions(
        self, frags: list[Fragment], limit: int | None = None
    ) -> dict[str, list[int]] | None:
        """The fragments' sidecar-deleted row positions by file basename,
        read on the driver; None when the sidecars hold more than
        ``limit`` rows in all (their footers say)."""
        sidecars = [
            _open_parquet(os.path.join(self.path, d))[0]
            for d in sorted({d for f in frags for d in f.deletion_files})
        ]
        if limit is not None and sum(pf.metadata.num_rows for pf in sidecars) > limit:
            return None
        names = {os.path.basename(f.path) for f in frags}
        by_file: dict[str, list[int]] = {}
        for pf in sidecars:
            t = pf.read(columns=["file", "pos"])
            for fn, pos in zip(t.column("file").to_pylist(), t.column("pos").to_pylist()):
                if fn in names:
                    by_file.setdefault(fn, []).append(pos)
        return by_file

    def _drop_deleted(self, df: DataFrame, frags: list[Fragment]) -> DataFrame:
        """Apply the fragments' deletion vectors to a scan carrying the
        lineage columns. When the sidecars they reference hold at most
        ``_IN_LIST_MAX`` rows in all, the driver reads them and drops the
        rows by a literal (file, position) filter — no join, so no extra
        Spark job on every read; bigger sidecars take a left-anti join."""
        del_files = sorted({d for f in frags for d in f.deletion_files})
        if not del_files:
            return df
        by_file = self._deleted_positions(frags, limit=_IN_LIST_MAX)
        if by_file is None:
            dels = self.spark.read.schema(_DELETES_SCHEMA).parquet(
                *[os.path.join(self.path, d) for d in del_files]
            )
            return df.join(
                dels,
                (df[_FILE_COL] == dels["file"]) & (df[_POS_COL] == dels["pos"]),
                "left_anti",
            )
        if not by_file:
            return df
        # one SQL string, not a Column tree: each Column operator is a JVM
        # round trip, and this runs on every read of a new table version.
        # The position test comes first: it is a hash probe, while the
        # file name is split out of the path per row
        dead = " OR ".join(
            "(`{}` IN ({}) AND `{}` = '{}')".format(
                _POS_COL,
                ", ".join(map(str, sorted(ps))),
                _FILE_COL,
                fn.replace("\\", "\\\\").replace("'", "\\'"),
            )
            for fn, ps in sorted(by_file.items())
        )
        return df.filter(~F.expr(dead))

    def _frag_by_basename(self) -> dict[str, Fragment]:
        return {os.path.basename(f.path): f for f in self.manifest.fragments}

    # ------------------------------------------------------------ mutations
    def append(
        self, df: DataFrame, stream_commit: tuple[str, int] | None = None
    ) -> "Dataset":
        """Append ``df`` as new fragments. ``stream_commit=(stream_id,
        batch_id)`` makes the append conditional on ``batch_id`` being above
        the manifest's per-stream watermark — the exactly-once handshake for
        streaming micro-batches (raises DuplicateBatchError on replay)."""
        start = self.manifest.max_fragment_id + 1
        frags = self._write_fragments(df, start_id=start)
        if self.manifest.row_ids:
            for f in frags:
                f.row_start = -1  # Range segment allocated at commit (_apply)
        # crash window: the new files are on disk, no manifest references
        # them — the table reads as before and vacuum reclaims them
        fault_point("append.files_written")
        self._commit(
            _Txn(
                op="append",
                read_version=self.version,
                added=frags,
                stream_commit=stream_commit,
            )
        )
        return self

    def overwrite(self, df: DataFrame) -> "Dataset":
        frags = self._write_fragments(
            df, start_id=self.manifest.max_fragment_id + 1, conform=False
        )
        if self.manifest.row_ids:
            # fresh content gets fresh ids — next_row_id is monotone and
            # never rewinds, so pre-overwrite ids are retired forever
            for f in frags:
                f.row_start = -1
        self._commit(
            _Txn(
                op="overwrite",
                read_version=self.version,
                added=frags,
                schema_json=df.schema.json(),
            )
        )
        return self

    def delete(self, predicate: str) -> "Dataset":
        """Predicate delete via deletion vectors — no data rewrite
        (reference: deletion_bitmap.go:31-171). Fully-dead fragments are
        dropped from the manifest instead."""
        m = self.manifest
        if not m.fragments:
            return self
        # zonemap pre-prune (driver-side manifest stats, zero jobs): a
        # fragment whose stats prove no row can match contributes no hits,
        # so the find-hits scan skips it — same pruning the filtered SELECT
        # path gets, now on the write path's predicate scan
        filters = self._parse_filter_string(self.spark, predicate)
        scan_frags, _ = self.plan_scan(filters, use_indexes=False)
        if not scan_frags:
            return self
        plan = self._plan_hits(
            m,
            self._scan_with_lineage(scan_frags, filters=filters)
            .filter(F.expr(predicate))
            .select(F.col(_FILE_COL).alias("file"), F.col(_POS_COL).alias("pos")),
        )
        if plan is None:
            return self
        dead_ids, new_deletes, deleted_rows = plan
        self._commit(
            _Txn(
                op="delete",
                read_version=self.version,
                removed_ids=dead_ids,
                new_deletes=new_deletes,
                deleted_rows=deleted_rows,
            )
        )
        return self

    def _few_rows(self, df: DataFrame):
        """``df``'s rows as an Arrow table when it has at most
        ``_IN_LIST_MAX`` of them, else None. A statement-sized result moves
        to the driver in one scan, so the rest of its commit needs no
        shuffle and no second scan; a DataFrame made back from the table
        (``spark.createDataFrame(table, schema)``) runs without Python
        workers. Rows already on the driver (_driver_rows: a local
        relation, such as _driver_scan's, under a Filter or Project) are
        collected, which runs no Spark job where ``toArrow`` runs one."""
        rows = _driver_rows(df)
        if rows == []:
            from pyspark.sql.pandas.types import to_arrow_schema

            return to_arrow_schema(df.schema).empty_table()
        if rows is not None:
            from pyspark.sql.conversion import LocalDataToArrowConversion

            return LocalDataToArrowConversion.convert(rows, df.schema, False)
        with driver_sized(self.spark):
            t = df.limit(_IN_LIST_MAX + 1).toArrow()
        return t if t.num_rows <= _IN_LIST_MAX else None

    @staticmethod
    def _pairs(t, file_col: str, pos_col: str) -> list[tuple[str, int]]:
        return list(zip(t.column(file_col).to_pylist(), t.column(pos_col).to_pylist()))

    def _plan_hits(self, m: Manifest, hits: DataFrame):
        """_plan_delete over a (file, pos) DataFrame: few hits go through
        the driver; many stay distributed, persisted so the count and the
        sidecar write share one scan."""
        t = self._few_rows(hits)
        if t is not None:
            return self._plan_delete(m, self._pairs(t, "file", "pos"))
        hits = hits.persist()
        try:
            return self._plan_delete(m, hits)
        finally:
            hits.unpersist()

    def _plan_delete(
        self, m: Manifest, hits: DataFrame | list[tuple[str, int]]
    ) -> tuple[set[int], dict[int, list[str]], dict[int, int]] | None:
        """Materialize deletion sidecars for ``hits`` — distinct (file,
        pos) rows, as a DataFrame or, when few, a driver-side list — and
        return the manifest diff WITHOUT committing: fully-dead fragment
        ids, fragment -> deletion files, and fragment -> rows deleted.
        Shared by delete(), the merge-on-read UPDATE/MERGE and the detached
        stage_delete()."""
        if isinstance(hits, list):
            hits = sorted(set(hits))
            per_file: dict[str, int] = {}
            for fn, _ in hits:
                per_file[fn] = per_file.get(fn, 0) + 1
        else:
            # driver_sized: the answer is a per-file count map bounded by
            # fragment count, so AQE's per-stage jobs are pure scheduler
            # latency — one multi-stage job instead of 2-3 sequential ones
            with driver_sized(self.spark):
                per_file = {
                    r["file"]: r["cnt"]
                    for r in hits.groupBy("file")
                    .agg(F.count(F.lit(1)).alias("cnt"))
                    .collect()
                }
        if not per_file:
            return None
        by_name = {os.path.basename(f.path): f for f in m.fragments}
        hit = {fn: by_name[fn] for fn in per_file}
        # live rows from the manifest's deleted-row counts: no sidecar reads
        dead_ids = {
            f.id for fn, f in hit.items() if per_file[fn] >= f.rows - f.deleted_rows
        }
        partial = {fn for fn, f in hit.items() if f.id not in dead_ids}
        names: list[str] = []
        if partial and isinstance(hits, list):
            # a vector-sized sidecar is written by the driver: no Spark job
            import pyarrow as pa
            import pyarrow.parquet as pq

            keep = [(fn, pos) for fn, pos in hits if fn in partial]
            buf = pa.BufferOutputStream()
            pq.write_table(
                pa.table({
                    "file": pa.array([fn for fn, _ in keep], pa.string()),
                    "pos": pa.array([pos for _, pos in keep], pa.int64()),
                }),
                buf,
            )
            names = [f"deletes/{uuid.uuid4().hex}.parquet"]
            self._data_store.put_bytes(
                os.path.join(self.path, names[0]), buf.getvalue().to_pybytes()
            )
        elif partial:
            staging = os.path.join(self.path, f"_staging_{uuid.uuid4().hex}")
            # size-gated partition count: a billion-row delete must not
            # serialize through one task
            total = sum(per_file[fn] for fn in partial)
            hits.filter(F.col("file").isin(*partial)).coalesce(
                -(-total // _ROWS_PER_FILE)
            ).write.parquet(staging)
            st = self._data_store
            for part in sorted(p for p in st.list(staging) if p.endswith(".parquet")):
                name = f"deletes/{uuid.uuid4().hex}.parquet"
                st.move(os.path.join(staging, part), os.path.join(self.path, name))
                names.append(name)
            st.delete_prefix(staging)
        new_deletes = {hit[fn].id: list(names) for fn in partial}
        return dead_ids, new_deletes, {f.id: per_file[fn] for fn, f in hit.items()}

    def _replace_rows(
        self,
        op: str,
        m: Manifest,
        frags: list[Fragment],
        matched: DataFrame | None,
        images: list | None = None,
        delete_matched: bool = True,
        inserts=None,
    ) -> "Dataset":
        """The merge-on-read commit behind UPDATE and MERGE (reference
        storage2 deletion files + append, update.go / merge_insert.go):
        ``matched`` rows of the target fragments ``frags`` (lineage columns
        and, on a row-id table, the stored ``__rowid`` attached) are deleted
        through deletion sidecars, their new ``images`` (columns selected
        over a matched row) are appended keeping each row's stable id in
        ``__rowid``, and ``inserts(matched, few)`` adds new rows that take
        fresh ids at commit (``few``: the matched rows as an Arrow table
        when they came to the driver, else None). One manifest commit lands
        it all, so the work is O(rows changed), never O(fragment)."""
        few = None
        if matched is not None:
            # statement-sized matches move to the driver in one scan; the
            # row ids, sidecar, images and inserts then come from local
            # rows, and the images and inserts are written by the driver
            few = self._few_rows(matched)
            if few is None:
                if _ROWID_STORED in matched.columns:
                    matched = self._rowid_join(matched, frags)
                matched = matched.persist()
            else:
                fields = matched.schema.fields
                if _ROWID_STORED in few.column_names:  # a Spark scan's rows
                    few = _arrow_rowids(few, frags)
                    fields = [f for f in fields if f.name != _ROWID_STORED]
                    fields.append(StructField(_ROWID, LongType(), True))
                matched = self.spark.createDataFrame(few, schema=StructType(fields))
        try:
            plan = None
            if matched is not None and delete_matched:
                if few is not None:
                    plan = self._plan_delete(m, self._pairs(few, _FILE_COL, _POS_COL))
                else:
                    hits = matched.select(
                        F.col(_FILE_COL).alias("file"), F.col(_POS_COL).alias("pos")
                    )
                    # a source key matching twice must not count its row twice
                    plan = self._plan_delete(
                        m, hits if op == "update" else hits.distinct()
                    )
            dead_ids, new_deletes, deleted_rows = plan or (set(), {}, {})
            added: list[Fragment] = []
            if images is not None and plan is not None:
                # images carry their ids physically (Array segment)
                rid = [F.col(_ROWID).alias(_ROWID_STORED)] if m.row_ids else []
                img = matched.select(*images, *rid)
                if few is None:
                    # a huge statement must not serialize through one task
                    img = img.coalesce(-(-sum(deleted_rows.values()) // _ROWS_PER_FILE))
                added = self._write_fragments(img, start_id=m.max_fragment_id + 1)
            if inserts is not None:
                new = self._write_fragments(
                    inserts(matched, few), start_id=m.max_fragment_id + 1 + len(added)
                )
                for f in new if m.row_ids else []:
                    f.row_start = -1  # fresh Range segment allocated at commit
                added += new
            if not (added or plan):
                return self
            # crash window: sidecars and new rows are on disk, no manifest
            # references them — the table still reads as before the
            # statement and vacuum reclaims the orphans
            fault_point("dml.files_written")
            self._commit(
                _Txn(
                    op=op,
                    read_version=m.version,
                    added=added,
                    removed_ids=dead_ids,
                    new_deletes=new_deletes,
                    deleted_rows=deleted_rows,
                )
            )
            return self
        finally:
            if matched is not None and few is None:
                matched.unpersist()

    def update(self, assignments: dict[str, str], predicate: str) -> "Dataset":
        """Merge-on-read UPDATE (reference update.go:20-82): the matched
        rows are deleted through deletion sidecars and their new images
        appended under the same stable row ids, in one commit."""
        m = self.manifest
        fields = self.schema.fields
        names = [f.name for f in fields]
        unknown = set(assignments) - set(names)
        if unknown:
            raise ValueError(
                f"UPDATE assigns unknown column(s) {sorted(unknown)}; "
                f"table has {names}"
            )
        # zonemap pre-prune, as in delete(): only fragments whose stats
        # admit a match are scanned
        filters = self._parse_filter_string(self.spark, predicate)
        scan_frags, _ = self.plan_scan(filters, use_indexes=False)
        if not scan_frags:
            return self
        matched = self._scan_with_lineage(
            scan_frags, stored_row_id=m.row_ids, filters=filters
        ).filter(F.expr(predicate))
        # ONE select: SQL UPDATE evaluates every assignment against the OLD
        # row (SET a = b, b = a swaps)
        images = [
            F.expr(assignments[f.name]).cast(f.dataType).alias(f.name)
            if f.name in assignments
            else F.col(f.name)
            for f in fields
        ]
        return self._replace_rows("update", m, scan_frags, matched, images)

    def _source_key_filters(
        self, source: DataFrame, keys: list[str]
    ) -> tuple[list[tuple[str, str, Any]], DataFrame, Any]:
        """(prunable conjuncts every target row matching some ``source``
        row satisfies, the source, its rows as an Arrow table when it is
        small, else None). A small source — at most ``_IN_LIST_MAX`` rows —
        is read once into a local relation, its rows numbered in
        ``_SRC_ROW`` so a matched row names the source row it matched, and
        prunes by an IN-list of its key values; a larger one prunes by each
        key's [min, max]. Only an integral key
        (of any integral type on either side: Spark compares them widened,
        as Python compares ints) and a string or date key of the table's
        own type prune; any other key would be compared after a cast the
        manifest stats do not model."""
        from pyspark.sql.types import DateType, IntegralType

        rows = self._few_rows(source)
        if rows is not None:
            import pyarrow as pa

            rows = rows.append_column(_SRC_ROW, pa.array(range(rows.num_rows), pa.int64()))
            source = self.spark.createDataFrame(
                rows,
                schema=StructType(
                    source.schema.fields + [StructField(_SRC_ROW, LongType(), True)]
                ),
            )
        tgt = {f.name: f.dataType for f in self.schema.fields}
        src = {f.name: f.dataType for f in source.schema.fields}
        cols = [
            k for k in keys
            if isinstance(src.get(k), IntegralType) and isinstance(tgt.get(k), IntegralType)
            or src.get(k) == tgt.get(k) and isinstance(tgt[k], (StringType, DateType))
        ]
        if rows is not None:
            return [
                (c, "in", sorted({v for v in rows.column(c).to_pylist() if v is not None}))
                for c in cols
            ], source, rows
        if not cols:
            return [], source, None
        with driver_sized(self.spark):
            b = source.agg(
                *[F.min(c) for c in cols], *[F.max(c) for c in cols]
            ).collect()[0]
        out: list[tuple[str, str, Any]] = []
        for i, c in enumerate(cols):
            if b[i] is None:
                return [(c, "in", [])], source, None  # all-NULL keys match nothing
            out += [(c, ">=", b[i]), (c, "<=", b[len(cols) + i])]
        return out, source, None

    def _driver_join(self, table, read: StructType, source, rows, keys, upd) -> DataFrame:
        """MERGE's matched rows as a local relation: the target rows
        ``table`` (_driver_table's, of Spark schema ``read``) inner-joined
        on ``keys`` with the small source's Arrow ``rows``, carrying the
        source's ``__src_<c>`` for each updated column ``c`` and
        ``_SRC_ROW`` — the shape of the Spark join, made by Arrow's hash
        join, where a NULL key matches nothing as in Spark. Only the keys
        _source_key_filters prunes by come here — integral keys, joined as
        int64, and string and date keys of the table's own type — so
        equality is Spark's."""
        import numpy as np
        import pyarrow as pa

        rev = {p: l for l, p in self.manifest.column_mapping.items() if p != l}
        table = table.rename_columns([rev.get(n, n) for n in table.column_names])
        fields = [StructField(rev.get(f.name, f.name), f.dataType, True) for f in read.fields]
        src = {f.name: f for f in source.schema.fields}
        def key(k):
            t = table.schema.field(k).type
            return pa.int64() if pa.types.is_integer(t) else t

        pairs = pa.table({
            **{k: table.column(k).cast(key(k)) for k in keys},
            "__l": pa.array(np.arange(table.num_rows)),
        }).join(
            pa.table({
                **{k: rows.column(k).cast(key(k)) for k in keys},
                "__r": pa.array(np.arange(rows.num_rows)),
            }),
            keys,
            join_type="inner",
        )
        hit = rows.take(pairs.column("__r"))
        out = table.take(pairs.column("__l"))
        for c in upd:
            out = out.append_column(f"__src_{c}", hit.column(c))
            fields.append(StructField(f"__src_{c}", src[c].dataType, True))
        out = out.append_column(_SRC_ROW, hit.column(_SRC_ROW))
        fields.append(StructField(_SRC_ROW, LongType(), True))
        return self.spark.createDataFrame(out, StructType(fields))

    def merge_insert(
        self,
        source: DataFrame,
        keys: list[str],
        when_matched: str | None = "update",
        when_not_matched: str | None = "insert",
        update_columns: list[str] | None = None,
    ) -> "Dataset":
        """MERGE (upsert) — reference merge_insert.go:19-134: WhenMatched
        UpdateAll/UpdateColumns/Delete x WhenNotMatched Insert, matching on
        key columns.

        ``update_columns`` (reference MatchedUpdateColumns,
        merge_insert.go:32,97) restricts the matched-row update to the named
        non-key columns; every other target column is preserved — the shape
        an upsert needs when it must not clobber e.g. created_at. A matched
        column takes the source's value, NULL included, as in SQL.

        Merge-on-read: only the fragments the source's key IN-list (or
        key range) cannot prune are joined with the source (broadcast when
        small); matched rows are deleted through sidecars, their images
        and the unmatched source rows appended, all in one commit. When a
        small source's matches come to the driver, the unmatched rows are
        the source rows no match names, found without a join."""
        if update_columns is not None:
            if when_matched != "update":
                raise ValueError(
                    "update_columns requires when_matched='update'"
                )
            bad = [c for c in update_columns if c in keys]
            if bad:
                raise ValueError(f"update_columns may not include keys: {bad}")
            known = set(self.schema.fieldNames())
            bad = [c for c in update_columns if c not in known]
            if bad:
                raise ValueError(f"unknown update_columns: {bad}")
        if when_matched not in (None, "update", "delete"):
            raise ValueError(when_matched)
        if when_matched is None and when_not_matched is None:
            return self  # both DO NOTHING: no scan, no empty commit
        m = self.manifest
        fields = self.schema.fields
        names = [f.name for f in fields]
        filters, source, rows = self._source_key_filters(source, keys)
        small = rows is not None
        frags, _ = self.plan_scan(filters, use_indexes=False)
        upd = []
        images = None
        if when_matched == "update":
            upd = [
                c for c in names
                if c not in keys and (update_columns is None or c in update_columns)
            ]
            images = [
                F.col(f"__src_{f.name}").cast(f.dataType).alias(f.name)
                if f.name in upd
                else F.col(f.name)
                for f in fields
            ]
        matched = None
        # every key prunes by the source's IN-list: a statement-sized
        # target read joins the source on the driver
        local = (
            self._driver_table(frags, self._zone(filters))
            if frags and small and {c for c, _, _ in filters} == set(keys)
            else None
        )
        if local is not None:
            matched = self._driver_join(*local, source, rows, keys, upd)
        elif frags:
            src = source.select(
                *keys,
                *[F.col(c).alias(f"__src_{c}") for c in upd],
                *([_SRC_ROW] if small else []),
            )
            # the key conjuncts also filter rows (parquet pushdown), so
            # only candidate rows reach the join
            scan = _apply_filters(
                self._scan_with_lineage(frags, stored_row_id=m.row_ids), filters
            )
            matched = scan.join(F.broadcast(src) if small else src, keys)

        def inserts(matched, few):
            new = source
            named = few is not None and small
            if named:
                # a Filter over the local relation, which Catalyst runs on
                # the driver; a NULL key matched nothing, so its row stays
                done = few.column(_SRC_ROW).unique().to_pylist()
                new = new.filter(~F.col(_SRC_ROW).isin(done))
            new = new.select(*[F.col(f.name).cast(f.dataType) for f in fields])
            if matched is not None and not named:
                hit = matched.select(*keys).distinct()
                new = new.join(
                    F.broadcast(hit) if small else hit, keys, "left_anti"
                ).select(*names)
            return new

        return self._replace_rows(
            "merge", m, frags, matched, images,
            delete_matched=when_matched is not None,
            inserts=inserts if when_not_matched == "insert" else None,
        )

    # ------------------------------------------------- schema evolution
    def add_column(self, name: str, dtype: str, default: str = "NULL") -> "Dataset":
        """Metadata-only add (reference sdk/dataset.go:623 AddColumns):
        existing fragments lack the column; scans fill it with the default."""
        # parse via DDL so any SQL type spelling ("int", "decimal(10,2)")
        # round-trips through the manifest's schema JSON
        field = char_as_string(StructType.fromDDL(f"{name} {dtype}")).fields[0]
        schema = self.schema.add(field)
        defaults = dict(self.manifest.column_defaults)
        defaults[name] = default
        self._commit(
            _Txn(
                op="schema",
                read_version=self.version,
                schema_json=schema.json(),
                column_defaults=defaults,
            )
        )
        return self

    def drop_column(self, name: str) -> "Dataset":
        """Metadata-only drop (DropColumns): the stored schema no longer
        mentions the column, so scans never read it (column pruning)."""
        schema = StructType([f for f in self.schema.fields if f.name != name])
        defaults = {
            k: v for k, v in self.manifest.column_defaults.items() if k != name
        }
        mapping = {
            k: v for k, v in self.manifest.column_mapping.items() if k != name
        }
        self._commit(
            _Txn(
                op="schema",
                read_version=self.version,
                schema_json=schema.json(),
                column_defaults=defaults,
                column_mapping=mapping,
            )
        )
        return self

    @staticmethod
    def _drop_nested(st: StructType, parts: list[str]) -> StructType:
        head, rest = parts[0], parts[1:]
        fields, hit = [], False
        for f in st.fields:
            if f.name != head:
                fields.append(f)
                continue
            hit = True
            if not rest:
                continue  # this is the field to drop
            if not isinstance(f.dataType, StructType):
                raise ValueError(f"{head!r} is not a struct; cannot descend")
            inner = Dataset._drop_nested(f.dataType, rest)
            if not inner.fields:
                raise ValueError(
                    f"dropping the last field of struct {head!r}; drop the "
                    f"struct column itself instead"
                )
            fields.append(StructField(f.name, inner, f.nullable, f.metadata))
        if not hit:
            raise ValueError(f"no such field: {head!r}")
        return StructType(fields)

    @staticmethod
    def _add_nested(st: StructType, parts: list[str], new_field: StructField) -> StructType:
        head, rest = parts[0], parts[1:]
        if not rest:
            if any(f.name == head for f in st.fields):
                raise ValueError(f"field {head!r} already exists")
            return StructType(list(st.fields) + [StructField(head, new_field.dataType, True)])
        fields, hit = [], False
        for f in st.fields:
            if f.name != head:
                fields.append(f)
                continue
            hit = True
            if not isinstance(f.dataType, StructType):
                raise ValueError(f"{head!r} is not a struct; cannot descend")
            inner = Dataset._add_nested(f.dataType, rest, new_field)
            fields.append(StructField(f.name, inner, f.nullable, f.metadata))
        if not hit:
            raise ValueError(f"no such field: {head!r}")
        return StructType(fields)

    def drop_path(self, path: str) -> "Dataset":
        """Nested-field drop (reference sdk/dataset.go:816 DropPath): remove
        the struct field at a dotted path ("meta.src.host") as a
        metadata-only commit. Scans stop reading it — Spark's parquet
        reader prunes nested columns absent from the declared read schema —
        so no fragment rewrites; old versions still see the field."""
        if "." not in path:
            return self.drop_column(path)
        schema = self._drop_nested(self.schema, path.split("."))
        self._commit(
            _Txn(op="schema", read_version=self.version, schema_json=schema.json())
        )
        return self

    def add_path(self, path: str, dtype: str) -> "Dataset":
        """Nested-field add at a dotted path, metadata-only: fragments
        written before the add lack the field and scan as NULL (Spark
        null-fills nested fields missing from a file's physical schema);
        fragments written after carry it. The struct-level counterpart of
        add_column (reference sdk/dataset.go:623 AddColumns with nested
        field specs)."""
        if "." not in path:
            return self.add_column(path, dtype)
        parts = path.split(".")
        new_field = StructType.fromDDL(f"{parts[-1]} {dtype}").fields[0]
        schema = self._add_nested(self.schema, parts, new_field)
        self._commit(
            _Txn(op="schema", read_version=self.version, schema_json=schema.json())
        )
        return self

    def merge_schema(self, other, defaults: dict[str, str] | None = None) -> "Dataset":
        """Merge(new schema) (reference sdk/dataset.go:1038): add every
        field of ``other`` (a StructType or DDL string) that the dataset
        lacks, as one metadata-only commit. Existing fields must match
        exactly or be a widening of the stored type (applied via the
        alter path); conflicting types raise."""
        if isinstance(other, str):
            other = StructType.fromDDL(other)
        mine = {f.name: f for f in self.schema.fields}
        fields = list(self.schema.fields)
        defs = dict(self.manifest.column_defaults)
        alters: list[dict] = []
        for f in other.fields:
            cur = mine.get(f.name)
            if cur is None:
                fields.append(StructField(f.name, f.dataType, True, f.metadata))
                defs[f.name] = (defaults or {}).get(f.name, "NULL")
            elif cur.dataType != f.dataType:
                if not self._is_widening(cur.dataType, f.dataType):
                    raise ValueError(
                        f"merge_schema: column {f.name!r} "
                        f"{cur.dataType.simpleString()} -> {f.dataType.simpleString()} "
                        f"is not a widening cast"
                    )
                alters.append({"path": f.name, "data_type": f.dataType.simpleString()})
        self._commit(
            _Txn(
                op="schema",
                read_version=self.version,
                schema_json=StructType(fields).json(),
                column_defaults=defs,
            )
        )
        if alters:
            self.alter_columns(*alters)
        return self

    @staticmethod
    def _is_widening(old, new) -> bool:
        """Lossless scan-time casts only (the reference rejects lossy
        AlterColumns retypes the same way, sdk/dataset.go:736): integer
        chain byte->short->int->long, float->double, <=int->double (exact
        in a 53-bit mantissa), and same-scale decimal precision growth.
        All of these are native parquet upcasts in Spark's reader, so the
        retype never rewrites data."""
        from pyspark.sql.types import (
            ByteType,
            DecimalType,
            DoubleType,
            FloatType,
            IntegerType,
            LongType,
            ShortType,
        )

        if old == new:
            return True
        ranks = {ByteType: 0, ShortType: 1, IntegerType: 2, LongType: 3}
        ro, rn = ranks.get(type(old)), ranks.get(type(new))
        if ro is not None and rn is not None:
            return rn > ro
        if ro is not None and ro <= 2 and isinstance(new, DoubleType):
            return True
        if isinstance(old, FloatType) and isinstance(new, DoubleType):
            return True
        if isinstance(old, DecimalType) and isinstance(new, DecimalType):
            return new.scale == old.scale and new.precision >= old.precision
        return False

    def alter_columns(self, *alterations: dict) -> "Dataset":
        """AlterColumns (reference sdk/dataset.go:623-816): metadata-only
        rename and/or widening retype. Each alteration is
        ``{"path": name, "rename": new_name?, "data_type": sql_type?}``.

        Rename records a logical->physical mapping in the manifest (the
        stored name is frozen at first write — Delta-style column mapping),
        so no fragment is rewritten and time travel keeps reading old
        versions under their old names. Retype must be widening
        (_is_widening); scans read narrow files through Spark's parquet
        upcast, appends after the retype store the wide type under the same
        physical name. Narrowing raises ValueError. Concurrent schema
        changes conflict through the normal optimistic-commit matrix."""
        fields = list(self.schema.fields)
        mapping = dict(self.manifest.column_mapping)
        defaults = dict(self.manifest.column_defaults)
        blooms = list(self.manifest.bloom_columns)
        bitmaps = list(self.manifest.bitmap_columns)
        for alt in alterations:
            name = alt["path"]
            idx = next((i for i, f in enumerate(fields) if f.name == name), None)
            if idx is None:
                raise ValueError(f"no such column: {name!r}")
            f = fields[idx]
            new_name = alt.get("rename") or name
            new_type = f.dataType
            if alt.get("data_type"):
                new_type = StructType.fromDDL(f"x {alt['data_type']}").fields[0].dataType
                if not self._is_widening(f.dataType, new_type):
                    raise ValueError(
                        f"cannot alter column {name!r}: "
                        f"{f.dataType.simpleString()} -> {new_type.simpleString()} "
                        f"is not a widening cast"
                    )
            if new_name != name:
                if any(g.name == new_name for g in fields):
                    raise ValueError(f"column {new_name!r} already exists")
                physical = mapping.pop(name, name)
                if physical != new_name:
                    mapping[new_name] = physical
                if name in defaults:
                    defaults[new_name] = defaults.pop(name)
                blooms = [new_name if b == name else b for b in blooms]
                bitmaps = [new_name if b == name else b for b in bitmaps]
            fields[idx] = StructField(new_name, new_type, f.nullable, f.metadata)
        self._commit(
            _Txn(
                op="schema",
                read_version=self.version,
                schema_json=StructType(fields).json(),
                column_defaults=defaults,
                column_mapping=mapping,
                bloom_columns=blooms,
                bitmap_columns=bitmaps,
            )
        )
        return self

    # ------------------------------------------------------ maintenance
    def _zvalue(self, df: DataFrame, columns: list[str]):
        """Bit-interleaved z-order key over rank-normalized columns.

        Each column is linearly mapped onto a 10-bit bucket via its global
        min/max (one metadata-sized agg job), then the bucket bits are
        interleaved so files sorted by the key have tight min/max stats on
        EVERY clustered column. Linear mapping (vs exact quantiles) trades
        skew-resistance for a zero-extra-pass build; the zonemap pruning it
        feeds stays correct either way."""
        from pyspark.sql.types import DateType, NumericType, TimestampNTZType, TimestampType

        def as_num(c: str):
            t = df.schema[c].dataType
            if isinstance(t, NumericType):
                return F.col(c).cast("double")
            if isinstance(t, DateType):
                return F.datediff(F.col(c), F.lit("1970-01-01")).cast("double")
            if isinstance(t, (TimestampType, TimestampNTZType)):
                # NTZ has no direct long cast; go through TIMESTAMP (seconds)
                return F.col(c).cast("timestamp").cast("long").cast("double")
            raise ValueError(f"zorder_by column {c!r} has unsupported type {t}")

        with driver_sized(self.spark):
            bounds = df.agg(
                *[F.min(as_num(c)).alias(f"lo_{i}") for i, c in enumerate(columns)],
                *[F.max(as_num(c)).alias(f"hi_{i}") for i, c in enumerate(columns)],
            ).collect()[0]
        k = len(columns)
        z = F.lit(0).cast("bigint")
        for i, c in enumerate(columns):
            lo, hi = bounds[f"lo_{i}"], bounds[f"hi_{i}"]
            # empty scan or all-NULL column: min/max collect to None — map
            # every row to bucket 0 instead of crashing on None arithmetic
            if lo is None or hi is None:
                lo, span = 0.0, 1.0
            else:
                span = (hi - lo) or 1.0
            bucket = F.least(
                F.lit(1023),
                F.greatest(
                    F.lit(0),
                    F.floor((as_num(c) - F.lit(lo)) / F.lit(span) * 1024).cast("int"),
                ),
            )
            for j in range(10):
                bit = F.shiftright(bucket, j).bitwiseAND(F.lit(1)).cast("bigint")
                z = z + F.shiftleft(bit, j * k + i)
        return z

    def compact(
        self,
        target_bytes: int = 128 * 1024 * 1024,
        strategy: str = "binpack",
        target_files: int | None = None,
        zorder_by: list[str] | None = None,
    ) -> "Dataset":
        """Compaction (reference compaction_planner.go:34-254, strategies
        BinPacking/Size/Count): rewrite groups of fragments as fewer files,
        materializing their deletion vectors; commit as a rewrite. Logical
        content is unchanged.

        - "binpack": size-tiered bins of fragments smaller than
          target_bytes (the default maintenance pass): a tier holds the
          files under twice the bytes of its smallest file, and every tier
          of two or more files is rewritten, so a pass rewrites the small
          new files, not the table. A fragment with
          ``_REWRITE_DELETED_FRAC`` of its rows deleted is rewritten too,
          alone if no bin took it.
        - "count": rewrite ALL fragments into target_files files — the
          table-level re-layout (e.g. before a bucketed publish).
        - "zorder": rewrite ALL fragments range-partitioned + sorted on a
          bit-interleaved key over ``zorder_by``, so the manifest zonemaps
          prune files on every clustered column at once (the multi-column
          locality lever a 100 TB table needs; single-column sorting only
          helps the leading column)."""
        m = self.manifest

        def _record(removed, added) -> None:
            # reference CompactionStats (compaction_coordinator.go:90-112):
            # per-run accounting surfaced on the handle; None when the pass
            # was a no-op
            self.last_compaction_stats = {
                "fragments_compacted": len(removed),
                "new_fragments_created": len(added),
                "bytes_read": sum(f.bytes for f in removed),
                "bytes_written": sum(f.bytes for f in added),
                "rows": sum(f.rows for f in added),
            }

        self.last_compaction_stats = None
        if strategy == "zorder":
            if not zorder_by:
                raise ValueError("zorder compaction requires zorder_by columns")
            nf = target_files or max(1, len(m.fragments))
            df = self._scan_with_lineage(m.fragments, with_row_id=m.row_ids).drop(
                _FILE_COL, _POS_COL
            )
            df = (
                df.withColumn("__z", self._zvalue(df, zorder_by))
                .repartitionByRange(nf, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
            if m.row_ids:
                df = df.withColumnRenamed(_ROWID, _ROWID_STORED)
            frags = self._write_fragments(df, start_id=m.max_fragment_id + 1)
            self._commit(
                _Txn(
                    op="rewrite",
                    read_version=self.version,
                    added=frags,
                    removed_ids={f.id for f in m.fragments},
                )
            )
            _record(m.fragments, frags)
            return self
        if strategy == "count":
            if target_files is None or len(m.fragments) <= target_files:
                return self
            df = (
                self._scan_with_lineage(m.fragments, with_row_id=m.row_ids)
                .drop(_FILE_COL, _POS_COL)
                .repartition(target_files)
            )
            if m.row_ids:
                df = df.withColumnRenamed(_ROWID, _ROWID_STORED)
            frags = self._write_fragments(df, start_id=m.max_fragment_id + 1)
            self._commit(
                _Txn(
                    op="rewrite",
                    read_version=self.version,
                    added=frags,
                    removed_ids={f.id for f in m.fragments},
                )
            )
            _record(m.fragments, frags)
            return self
        if strategy != "binpack":
            raise ValueError(f"unknown compaction strategy {strategy!r}")
        # size tiers, smallest first: a tier holds the files under twice
        # its smallest file's bytes, and a tier of two or more is rewritten
        # (in bins of at most target_bytes). The output lands at least one
        # tier up, so each byte is rewritten O(log table) times, a pass
        # costs O(new data), and a table keeps about one file per tier
        bins: list[list[Fragment]] = []
        size = 0
        for f in sorted(
            (f for f in m.fragments if f.bytes < target_bytes), key=lambda x: x.bytes
        ):
            if (
                not bins
                or f.bytes >= 2 * bins[-1][0].bytes
                or size + f.bytes > target_bytes
            ):
                bins.append([])
                size = 0
            bins[-1].append(f)
            size += f.bytes
        bins = [b for b in bins if len(b) >= 2]
        # a fragment is also rewritten, alone if no bin took it, once
        # _REWRITE_DELETED_FRAC of its rows are deleted (materializing them)
        binned = {f.id for b in bins for f in b}
        bins += [
            [f] for f in m.fragments
            if f.id not in binned
            and f.deleted_rows >= _REWRITE_DELETED_FRAC * f.rows
        ]
        if not bins:
            return self
        # one partition per bin, unioned: every bin lands in one write job
        df = functools.reduce(
            DataFrame.union,
            [
                self._scan_with_lineage(b, with_row_id=m.row_ids)
                .drop(_FILE_COL, _POS_COL)
                .coalesce(1)
                for b in bins
            ],
        )
        if m.row_ids:
            df = df.withColumnRenamed(_ROWID, _ROWID_STORED)
        added = self._write_fragments(df, start_id=m.max_fragment_id + 1)
        self._commit(
            _Txn(
                op="rewrite",
                read_version=self.version,
                added=added,
                removed_ids={f.id for b in bins for f in b},
            )
        )
        _record([f for b in bins for f in b], added)
        return self

    def _staged_referenced(self, now: float) -> set[str]:
        """Paths pinned by staged (detached) transactions: they reference
        data files outside any manifest until commit_staged, so vacuum must
        pin them or a vacuum between stage_append and commit_staged breaks
        the later commit. EXPIRED stages no longer pin (their commit is
        permanently refused); a COMMITTING claim pins unconditionally —
        the holder is mid-commit and its files must survive even past
        expiry+grace; a RECLAIMING claim does not pin (its files are being
        deleted by the reclaimer; both removers tolerate losing the race).
        FileNotFoundError propagates: a
        payload vanishing mid-scan means a claim/commit/reclaim raced us
        and the CALLER must rescan from a fresh snapshot (swallowing it
        here could unpin files a concurrent commit is about to reference)."""
        refs: set[str] = set()
        staged_dir = os.path.join(self.path, "_staged")
        for fn in self._store.list(staged_dir):
            if not fn.endswith(".json"):
                continue
            payload = self._store.get_json(os.path.join(staged_dir, fn))
            state = payload.get("state", "open")
            if state == "reclaiming":
                continue
            if state != "committing":
                exp = payload.get("expires_at")
                if exp is not None and now >= exp + _STAGE_GRACE:
                    continue
            refs.update(a["path"] for a in payload.get("added", []))
            for names in payload.get("new_deletes", {}).values():
                refs.update(names)  # staged-delete sidecars
        return refs

    def vacuum(
        self, keep_versions: int = 1, grace_seconds: float = 300.0
    ) -> list[str]:
        """Retention sweep (reference cleanup.go:17-101): drop manifests
        beyond the retention window (tagged versions are pinned) and any
        data/deletion file no kept version references. Returns removed paths.

        Concurrency contract (the storm test's findings, 2 classes):

        - CONSISTENT SNAPSHOT: the referenced-set is computed from a
          (versions, staged-payloads) view that must not move while it is
          being read — a commit_staged claiming its payload mid-scan, or
          any commit landing after the version listing, would leave its
          brand-new references unpinned. The scan retries until a full
          pass sees a stable head and every staged payload it listed.
        - AGE GRACE: files younger than ``grace_seconds`` are never
          reclaimed, whatever the referenced-set says — an in-flight
          writer (append/compact/delete sidecar) creates files BEFORE its
          commit, and between the snapshot above and the deletion loop a
          new commit can land referencing them. The horizon is the same
          design as Delta/Iceberg retention: size it above the longest
          in-flight write + active snapshot-read duration. Pass 0.0 only
          in single-writer maintenance windows."""
        import time as _time

        for _attempt in range(8):
            all_vs = self.versions()
            keep = set(all_vs[-keep_versions:]) | set(self._refs().values())
            referenced: set[str] = set()
            ref_idx_dirs: set[str] = set()
            try:
                for v in keep:
                    mv = self._load(v)
                    for f in mv.fragments:
                        referenced.add(f.path)
                        referenced.update(f.deletion_files)
                    for d in mv.indexes.values():
                        if d.get("path"):
                            ref_idx_dirs.add(os.path.basename(d["path"]))
            except FileNotFoundError:
                continue  # a CONCURRENT vacuum reclaimed a manifest we
                # considered kept (its head had moved past ours): rescan
            now = _time.time()
            try:
                staged_refs = self._staged_referenced(now)
            except FileNotFoundError:
                continue  # stage claimed/committed mid-scan: rescan fresh
            if self._latest_version() != all_vs[-1]:
                continue  # a commit landed mid-scan: its refs are unseen
            if set(self._refs().values()) - keep:
                continue  # a tag/branch landed on an unkept version
                # mid-scan: it pins that manifest now — rescan with it
            referenced |= staged_refs
            break
        else:
            raise ConflictError(
                "vacuum: concurrent commits / stage claims kept moving the "
                "snapshot; retry when the writers quiesce"
            )

        def _young(full: str) -> bool:
            # data files: the data-plane store's Last-Modified
            try:
                return now - self._data_store.mtime(full) < grace_seconds
            except OSError:
                return True  # vanished/unstattable: leave it alone

        def _young_obj(full: str) -> bool:
            # control objects (manifests): the store's Last-Modified
            try:
                return now - self._store.mtime(full) < grace_seconds
            except OSError:
                return True

        # LATE-PIN fold-in, immediately before any removal: a tag/branch
        # created on an unkept version after the consistency loop must pin
        # that version's manifest AND files together (folding refs in any
        # later would keep a manifest whose data was already swept — a
        # dangling snapshot, worse than the loud ref-gone failure). The
        # residual race is the microseconds between this read and the
        # removal loops — the no-global-lock residue every snapshot store
        # carries; Delta narrows it identically with its retention horizon.
        for v in set(self._refs().values()) - keep:
            try:
                mv = self._load(v)
            except FileNotFoundError:
                continue  # ref points at an already-reclaimed version
            keep.add(v)
            for f in mv.fragments:
                referenced.add(f.path)
                referenced.update(f.deletion_files)
            for d in mv.indexes.values():
                if d.get("path"):
                    ref_idx_dirs.add(os.path.basename(d["path"]))

        # crash windows: manifests BEYOND retention go first, then their
        # files — so ANY prefix of the sweep is a consistent on-disk state
        # (a crash leaves at worst unreferenced files for the next vacuum,
        # never a surviving manifest whose files were already deleted — the
        # dangling-snapshot state the fault-injection storm caught when the
        # order was files-first)
        fault_point("vacuum.before_remove")
        removed: list[str] = []
        for v in all_vs:
            if v not in keep:
                mp = self._manifest_path(v)
                if _young_obj(mp):
                    continue  # freshly written manifest: never reclaimed
                try:
                    self._handler.delete(mp)
                except FileNotFoundError:
                    continue  # a concurrent vacuum won this removal
                removed.append(f"_versions/{v:08d}.manifest.json")
                fault_point("vacuum.mid_remove")
        dst_store = self._data_store
        for sub in ("data", "deletes"):
            d = os.path.join(self.path, sub)
            for fn in dst_store.list(d):
                rel = f"{sub}/{fn}"
                full = os.path.join(d, fn)
                if rel not in referenced and not _young(full):
                    try:
                        dst_store.delete(full)
                    except FileNotFoundError:
                        continue  # a concurrent vacuum won this removal
                    removed.append(rel)
                    fault_point("vacuum.mid_remove")
        # persisted index builds live under _indexes/<name>_<token>; dirs no
        # kept manifest references (failed builds, losing racers, dropped
        # indexes past retention) are orphans — reclaim them. A dir carrying
        # a fresh _INFLIGHT sentinel is a build still running (referenced by
        # no manifest YET) and must survive; a stale sentinel (> TTL) is a
        # crashed build's leftover and sweeps normally.
        # writer staging dirs (_staging_<uuid>) are consumed by the write
        # that created them; one left on disk belongs to a writer that
        # DIED mid-write (its files were never renamed into data/, so no
        # manifest can reference them). Reclaim only well past the
        # in-flight horizon — a very large live write stages for a while,
        # and _INFLIGHT_TTL is the same patience the index builds get.
        for fn in dst_store.list(self.path):
            if not fn.startswith("_staging_"):
                continue
            full = os.path.join(self.path, fn)
            try:
                stale = now - dst_store.mtime(full) > _INFLIGHT_TTL
            except OSError:
                continue  # consumed under us
            if stale:
                dst_store.delete_prefix(full)
                removed.append(fn)
        idx_root = os.path.join(self.path, "_indexes")
        for fn in dst_store.list(idx_root):
            if fn in ref_idx_dirs:
                continue
            sentinel = os.path.join(idx_root, fn, "_INFLIGHT")
            try:
                if now - dst_store.mtime(sentinel) < _INFLIGHT_TTL:
                    continue  # build in progress
            except OSError:
                pass  # no sentinel: finished or failed build
            if _young(os.path.join(idx_root, fn)):
                continue  # just built: its create_index commit may be landing
            dst_store.delete_prefix(os.path.join(idx_root, fn))
            removed.append(f"_indexes/{fn}")
        self._sweep_control_tmps()
        return removed

    def _sweep_control_tmps(self) -> None:
        """Reclaim commit-handler temp residue from CRASHED writers: a
        writer dying between the temp write and os.replace strands a
        full-size ``*.tmp.<pid>.<tid>`` (LocalCommitHandler) or
        ``*.cas.<pid>.<tid>`` (CasCommitHandler) file in whichever control
        dir held the object — dataset root (_refs.json, _branches.json),
        _versions, _staged. Same dead-pid-gated sweep the index dirs use
        (indexes/btree.py sweep_dead_tmps); run from vacuum and
        cleanup_expired so residue never outlives one maintenance pass."""
        from plan_spark.indexes.btree import sweep_dead_tmps

        for d in (self.path, self._versions_dir, os.path.join(self.path, "_staged")):
            sweep_dead_tmps(d)

    # ------------------------------------------- restore / clone / branches
    def restore(self, version: int) -> "Dataset":
        """Roll the table's CONTENT back to an old version as a new commit
        (reference sdk/dataset.go Restore semantics): history is preserved,
        the head advances, and the restored fragments are re-referenced —
        no data is copied or rewritten."""
        old = self._load(version)
        self._commit(
            _Txn(
                op="overwrite",
                read_version=self.version,
                added=list(old.fragments),
                schema_json=old.schema_json,
                column_defaults=dict(old.column_defaults),
                column_mapping=dict(old.column_mapping),
            )
        )
        return self

    def clone(self, dest: str, version: int | None = None) -> "Dataset":
        """Shallow clone (reference sdk/dataset.go:886): a new dataset whose
        v1 manifest references THIS dataset's files by absolute path. O(metadata)
        — zero data movement; the clone then evolves independently (its own
        mutations write into its own directory, and its vacuum never touches
        files outside it)."""
        src = self._load(version if version is not None else self.version)
        ds = Dataset(self.spark, dest)
        if ds._latest_version() > 0:
            raise ValueError(f"dataset already exists at {dest}")
        dst = store_for_path(ds.path)
        dst.makedirs(ds._versions_dir)
        dst.makedirs(os.path.join(ds.path, "data"))
        dst.makedirs(os.path.join(ds.path, "deletes"))
        # the clone inherits the source's commit protocol: its files live
        # on the same store, so its commits need the same atomic primitive
        ds._handler = self._handler
        write_handler_marker(ds.path, ds._handler.name)
        # seed the ref-kind marker: its ABSENCE is reserved for datasets
        # written before kinds existed (legacy-permissive in on_branch)
        ds._handler.put(ds._branches_path, "[]")
        frags = [
            replace(
                f,
                path=os.path.join(self.path, f.path),
                deletion_files=[os.path.join(self.path, d) for d in f.deletion_files],
            )
            for f in src.fragments
        ]
        m = Manifest(
            version=1,
            parent=None,
            operation="clone",
            schema_json=src.schema_json,
            fragments=frags,
            max_fragment_id=src.max_fragment_id,
            column_defaults=dict(src.column_defaults),
            bloom_columns=list(src.bloom_columns),
            bitmap_columns=list(src.bitmap_columns),
            row_ids=src.row_ids,
            next_row_id=src.next_row_id,
            column_mapping=dict(src.column_mapping),
        )
        ds._commit_new(m)
        ds._manifest = m
        return ds

    def branch(self, name: str) -> "Dataset":
        """Create/advance a mutable named ref (reference refs.go:17-68 —
        branches vs immutable-by-convention tags) and return a handle whose
        future commits auto-advance it. The version chain stays linear; a
        branch is a moving pointer into it."""
        existing = self._refs()
        if (
            self._store.exists(self._branches_path)  # legacy dataset: no kinds
            and name in existing
            and name not in self._branch_names()
        ):
            raise ValueError(
                f"{name!r} is a TAG (immutable); pick another branch name "
                "or delete the tag first"
            )
        # mark BEFORE the ref write: a crash between the two leaves a mark
        # without a ref (on_branch fails on checkout — safe, retryable),
        # never a ref the kind system believes is a tag
        self._mark_branch(name)
        self._set_ref(name, self.version)
        b = Dataset.open(self.spark, self.path, version=self.version)
        b._branch = name
        return b

    def on_branch(self, name: str) -> "Dataset":
        """Open an EXISTING branch for writing: a handle positioned at the
        branch's current version whose commits auto-advance the ref — the
        reference's write-on-a-checked-out-ref shape (refs.go:17-68 +
        sdk/dataset.go committing against the ref's head). Unlike
        ``branch()``, which creates/moves the ref to THIS handle's version,
        ``on_branch`` refuses unknown names: a typo'd SQL ``t@b`` must not
        silently fork a new ref. It equally refuses TAG names: tags are
        immutable-by-convention pins, and a write through one would
        silently convert it into a moving pointer (and un-pin the version
        it protected from vacuum)."""
        b = self.checkout(name)  # ValueError on unknown ref
        if (
            self._store.exists(self._branches_path)  # legacy dataset: no kinds
            and name not in self._branch_names()
        ):
            raise ValueError(
                f"{name!r} is a TAG, not a branch — writes may only target "
                "branches (CREATE BRANCH) so pinned snapshots stay immutable"
            )
        b._branch = name
        return b

    # ------------------------------------------------ secondary indexes
    # Transactional index creation (reference index_transaction.go:19-246
    # CreateIndexOperation/IndexBuilder.CreateIndex): the index is built
    # from THIS handle's snapshot, then registered through the same
    # optimistic _commit as data operations — concurrent appends rebase
    # cleanly (the descriptor records which version it covers, so staleness
    # is detectable), two creates racing on one name conflict.

    def create_index(
        self,
        name: str,
        kind: str,
        column: str,
        **params,
    ) -> "Dataset":
        """Build + register a named secondary index.

        kinds:
        - "bitmap": distributed backfill of per-fragment distinct value
          sets for ``column`` (one scan, O(fragments x NDV) driver rows);
          also adds the column to ``bitmap_columns`` so future fragment
          writes collect their own sets at write time.
        - "bloom": forward-config — adds ``column`` to ``bloom_columns``;
          parquet bloom filters live in file footers, so existing fragments
          gain them on their next rewrite (compaction), new writes
          immediately.
        - "ivf": persisted IvfIndex under ``<root>/_indexes/<name>_<token>``
          (params: id_col, k, metric, ...).
        - "fts": persisted FtsIndex (params: id_col, tokenizer).
        - "hnsw": persisted sharded HnswIndex (params: id_col, n_shards,
          m, ef_construction, metric).
        - "pq" / "sq": persisted quantizer indexes PqIndex / SqIndex
          (params: id_col, m/k or bits, metric) — codes-only storage.
        - "bq": persisted BqIndex (1-bit sign codes, Hamming search +
          optional exact re-rank — bq_quantizer.go:14-190).
        - "ivf_pq": persisted IvfPqIndex (reference ivf_pq_index.go:31-60)
          — coarse KMeans partitions bound the probe to nprobe clusters
          AND the per-cluster scan is PQ-codes-only (params: id_col,
          k_coarse, m, k_pq).
        - "btree": persisted BtreeIndex over a scalar column (range-
          partitioned sorted runs + fences; equality/range -> row ids,
          reference btree_index.go:12-130). id defaults to ``_rowid`` when
          the dataset has stable row ids, pairing with ``take_rows``.
        - "rtree": persisted RtreeIndex over two numeric columns — pass
          ``column="x,y"`` (z-packed runs + per-file MBRs; intersects/
          contains/kNN -> row ids, reference rtree_index.go:17-370).
        """
        m = self.manifest
        if name in m.indexes:
            raise ValueError(f"index {name!r} already exists")
        phys = (
            ",".join(self._phys(c.strip()) for c in column.split(","))
            if kind == "rtree"
            else self._phys(column)
        )
        desc: dict = {
            "kind": kind,
            "column": column,
            "phys": phys,
            "path": None,
            "covers_version": self.version,
            "params": {k: v for k, v in params.items()},
        }
        txn = _Txn(op="index", read_version=self.version, index_put={name: desc})
        if kind == "bitmap":
            # fragment-granular half (file pruning): per-fragment distinct
            # sets into the manifest + write-path declaration — kept even
            # when the row-granular table below is built, because zonemap-
            # level pruning composes with it for free
            txn.stats_patch = self._bitmap_backfill(m, phys)
            txn.bitmap_add = phys
        if kind == "bloom":
            txn.bloom_add = phys
        elif kind == "bitmap" and not m.row_ids:
            pass  # no stable row ids -> fragment-granular only (legacy)
        elif kind in (
            "bitmap", "ivf", "ivf_pq", "fts", "hnsw", "pq", "sq", "bq",
            "btree", "rtree",
        ):
            # unique staging path per build attempt: a same-name race's
            # LOSING create (its _commit raises ConflictError) must not
            # clobber the winner's persisted files, and the committed
            # descriptor must point at files built from ITS OWN snapshot.
            # Orphaned build dirs (failed/raced creates) are swept by
            # vacuum(), which keeps only dirs referenced by kept manifests.
            rel = os.path.join("_indexes", f"{name}_{uuid.uuid4().hex[:12]}")
            desc["path"] = rel
            full = os.path.join(self.path, rel)
            id_col = params.pop("id_col", None) or _default_id_col(
                kind, m.row_ids, self.schema.fieldNames(), column
            )
            if id_col is None:
                raise ValueError(
                    f"create_index({name!r}): no non-indexed column "
                    "to use as the id; pass id_col= explicitly or "
                    "create the dataset with row_ids=True"
                )
            # persist the RESOLVED id column (caller-passed or fallback):
            # refresh_index must insert new rows under the same id namespace
            # the build used — re-deriving the fallback there risks a silent
            # split (e.g. an fts index on a row_ids table keys by doc_id
            # here, but a rowid-first re-derivation would key inserts by
            # _rowid)
            desc["params"]["id_col"] = id_col
            # in-flight sentinel: a concurrent vacuum() must not sweep a dir
            # whose build is still running (it is referenced by no manifest
            # yet). Removed in the finally below — success or failure — so a
            # finished create (committed, conflicted, or crashed-with-
            # traceback) leaves the dir sweepable; only a process killed
            # mid-build leaves a stale sentinel, which vacuum ignores after
            # _INFLIGHT_TTL.
            self._data_store.makedirs(full)
            sentinel = os.path.join(full, "_INFLIGHT")
            self._data_store.put_bytes(sentinel, name.encode())
            # crash window: died mid-build — the stale sentinel + partial
            # dir must be invisible to readers (no descriptor committed)
            # and swept by vacuum only after _INFLIGHT_TTL
            fault_point("index.build_mid")
            try:
                if kind == "bitmap":
                    from plan_spark.indexes.bitmap import BitmapIndex

                    src = self.to_df(with_row_id=(id_col == _ROWID))
                    BitmapIndex.build(
                        self.spark, src, key_col=column, id_col=id_col,
                        path=full, **params,
                    )
                elif kind == "fts":
                    from plan_spark.indexes.fts import FtsIndex

                    FtsIndex.build(
                        self.spark,
                        self.to_df(),
                        id_col=id_col,
                        text_col=column,
                        path=full,
                        **params,
                    )
                elif kind == "btree":
                    from plan_spark.indexes.btree import BtreeIndex

                    src = self.to_df(with_row_id=(id_col == _ROWID))
                    BtreeIndex.build(
                        self.spark, src, key_col=column, id_col=id_col,
                        path=full, **params,
                    )
                elif kind == "rtree":
                    from plan_spark.indexes.rtree import RtreeIndex

                    xy = [c.strip() for c in column.split(",")]
                    if len(xy) != 2:
                        raise ValueError(
                            'rtree index needs column="x,y" (two columns)'
                        )
                    src = self.to_df(with_row_id=(id_col == _ROWID))
                    RtreeIndex.build(
                        self.spark, src, x_col=xy[0], y_col=xy[1],
                        id_col=id_col, path=full, **params,
                    )
                else:
                    from plan_spark.indexes.bq import BqIndex
                    from plan_spark.indexes.hnsw import HnswIndex
                    from plan_spark.indexes.ivf import IvfIndex
                    from plan_spark.indexes.pq import IvfPqIndex, PqIndex
                    from plan_spark.indexes.sq import SqIndex

                    builder = {
                        "ivf": IvfIndex, "hnsw": HnswIndex,
                        "pq": PqIndex, "sq": SqIndex, "bq": BqIndex,
                        "ivf_pq": IvfPqIndex,
                    }[kind]
                    builder.build(
                        self.spark,
                        self.to_df(),
                        id_col=id_col,
                        vec_col=column,
                        path=full,
                        **params,
                    )
            except BaseException:
                if self._data_store.exists(sentinel):
                    # failed build: dir is sweepable now
                    self._data_store.delete(sentinel)
                raise
        else:
            raise ValueError(f"unknown index kind {kind!r}")
        # crash window: build complete, descriptor never committed — the
        # finished dir is an orphan (sentinel still present: the except
        # above only runs on BUILD failure) that vacuum reclaims after TTL;
        # a retried create_index builds fresh under a new unique dir
        fault_point("index.built_before_commit")
        try:
            self._commit(txn)
        finally:
            # sentinel lives through the commit (vacuum between build-end and
            # commit would otherwise sweep the dir); gone afterwards whether
            # the commit landed or conflicted, so losers become sweepable
            s = os.path.join(self.path, desc["path"] or "", "_INFLIGHT")
            if desc["path"] and self._data_store.exists(s):
                self._data_store.delete(s)
        return self

    def _bitmap_backfill(
        self, m: Manifest, phys: str
    ) -> dict[int, dict[str, list]]:
        """Per-fragment distinct sets for an existing dataset: one
        distributed scan grouped by source file (collect_set is bounded by
        the declared NDV cap per fragment, so the collected result is
        O(fragments x NDV) — metadata-sized)."""
        by_base = self._frag_by_basename()
        paths = [os.path.join(self.path, f.path) for f in m.fragments]
        if not paths:
            return {}
        rows = (
            # pinned read schema: the fragments' physical schema is known
            # from the manifest, so the backfill scan skips the distributed
            # footer-inference job spark.read.parquet would otherwise run
            self.spark.read.schema(self._read_schema(self.schema))
            .parquet(*paths)
            .select(
                F.element_at(
                    F.split(F.col("_metadata.file_path"), "/"), -1
                ).alias("__f"),
                F.col(phys),
            )
            .groupBy("__f")
            # cap INSIDE the aggregate: slicing to NDV+1 bounds what crosses
            # the wire and reaches the driver even when the column turns out
            # high-NDV (len == cap+1 below means "overflowed, skip"), so a
            # mistaken create_index on a wide column cannot OOM the driver
            .agg(
                F.slice(
                    F.collect_set(phys), 1, _BITMAP_MAX_NDV + 1
                ).alias("vals")
            )
        )
        with driver_sized(self.spark):
            rows = rows.collect()
        patch: dict[int, dict[str, list]] = {}
        for r in rows:
            frag = by_base.get(r["__f"])
            if frag is None:
                continue
            vals = [v for v in r["vals"] if v is not None]
            if len(vals) > _BITMAP_MAX_NDV:
                continue  # too wide to prune — same cap as write-time sets
            if any(isinstance(v, (_dt.datetime, _dt.date)) for v in vals):
                vals = [v.isoformat() for v in vals]
            elif not all(isinstance(v, (int, float, str, bool)) for v in vals):
                continue
            patch[frag.id] = {phys: sorted(vals, key=_stat_key)}
        return patch

    def refresh_index(self, name: str) -> "Dataset":
        """Catch a stale index up to the table head INCREMENTALLY
        (reference incremental_index.go:28-253 buffered inserts, surfaced
        at the table lifecycle): the rows of every fragment the index does
        not cover (see _uncovered) are insert()ed into the persisted index
        (buffered — probes fold the pending tail in) and the descriptor
        advances, restoring ``index_fresh`` and with it automatic scan
        routing. No rebuild, no rescan of covered data: the work is
        O(rows changed).

        Row-id scalar indexes (btree, rtree, row-granular bitmap keyed by
        ``_rowid``) refresh after ANY history — delete, update, merge,
        compaction — because their invariant is "index ⊇ live (key, row
        id) pairs": entries of deleted or superseded rows stay behind, and
        every probe is rechecked by the deletion vectors and the residual
        filter, so a stale or re-inserted pair costs a read, never an
        answer. ANN and FTS indexes (and scalar indexes keyed by another id
        column) answer from their entries directly, so they refresh only
        over appends; any other history raises ValueError and the caller
        rebuilds (drop_index + create_index). Bloom and fragment-granular
        bitmap indexes maintain themselves through the write-path
        declarations, so refresh just advances their descriptors."""
        desc = self.manifest.indexes.get(name)
        if desc is None:
            raise ValueError(f"no index named {name!r}")
        if self.index_fresh(name):
            return self
        base_v = desc["covers_version"]
        kind = desc["kind"]
        advanced = {name: {**desc, "covers_version": self.version}}
        txn = _Txn(
            op="index", read_version=self.version,
            index_put=advanced, index_refresh=True,
            index_refresh_base={name: base_v},
        )
        if kind == "bloom" or (kind == "bitmap" and not desc.get("path")):
            # write-path declarations collect per-fragment sets/blooms on
            # every append already — the descriptor just advances. A
            # row-granular bitmap (path set) falls through to the buffered
            # insert path below like btree: its run table must learn the
            # new rows' ids.
            self._commit(txn)
            return self
        uncovered = self._uncovered(name)
        if uncovered is None:
            raise ValueError(
                f"refresh_index({name!r}): intermediate manifests vacuumed; "
                "rebuild with drop_index + create_index"
            )
        id_col = desc["params"]["id_col"]
        if not (kind in ("btree", "rtree", "bitmap") and id_col == _ROWID):
            ops = {
                self._load(v).operation for v in range(base_v + 1, self.version + 1)
            }
            non_append = ops - {"append", "index"}
            if non_append:
                raise ValueError(
                    f"refresh_index({name!r}): history since v{base_v} contains "
                    f"{sorted(non_append)} operations — already-indexed entries "
                    "may have changed; rebuild with drop_index + create_index"
                )
        if uncovered:
            if id_col is None:
                raise ValueError(
                    f"refresh_index({name!r}): no id column derivable; "
                    "rebuild with drop_index + create_index"
                )
            use_rowid = id_col == _ROWID
            src = self._scan_with_lineage(uncovered, with_row_id=use_rowid).drop(
                _FILE_COL, _POS_COL
            )
            if kind not in (
                "btree", "rtree", "bitmap", "ivf", "hnsw", "ivf_hnsw", "bq", "fts",
            ):
                raise ValueError(
                    f"refresh_index({name!r}): kind {kind!r} has no "
                    "incremental insert; rebuild with drop_index + create_index"
                )
            # insert() mutates the SHARED persisted files before the commit,
            # so the _apply covers-version conflict check alone runs too
            # late — a losing racer would already have appended its rows.
            # Claim the index dir (O_EXCL, crash-stealable after TTL), then
            # re-verify against the LATEST manifest that nobody advanced or
            # replaced the descriptor since we read it, and commit while
            # still holding the claim: the next refresher is guaranteed to
            # see our covers_version and abort before touching files.
            import time

            full = os.path.join(self.path, desc["path"])
            claim = os.path.join(full, "_REFRESHING")
            try:
                # create-if-absent through the commit handler (object-store
                # conditional put); the claim carries its own timestamp so
                # staleness is content-defined on every store
                self._handler.create_exclusive(
                    claim, json.dumps({"ts": time.time()})
                )
            except FileExistsError:
                try:
                    try:
                        ts = json.loads(self._store.get(claim)).get("ts", 0.0)
                    except ValueError:
                        # torn/empty claim (a claimant died inside its own
                        # create): fall back to the store clock so it ages
                        # out instead of blocking refresh forever
                        ts = self._store.mtime(claim)
                    stale = time.time() - ts > _INFLIGHT_TTL
                except OSError:
                    stale = False  # claim just released; caller retries
                if not stale:
                    raise ConflictError(
                        f"index {name!r} is being refreshed concurrently"
                    )
                # a stale claim means a refresher died MID-refresh — and we
                # cannot tell whether its insert() already landed in the
                # shared files (it mutates before committing). Stealing and
                # re-inserting would double the delta, so the only sound
                # continuation is a rebuild into a fresh staged dir.
                raise ConflictError(
                    f"index {name!r} has a stale refresh claim (a refresher "
                    "crashed mid-refresh; its insert may have landed) — "
                    "rebuild with drop_index + create_index"
                )
            try:
                cur = self._load(self._latest_version()).indexes.get(name)
                if (
                    cur is None
                    or cur.get("path") != desc["path"]
                    or cur.get("covers_version") != base_v
                ):
                    raise ConflictError(
                        f"index {name!r} changed concurrently (dropped, "
                        "replaced, or refreshed); re-open and retry"
                    )
                idx = self.open_index(name)
                col = desc["column"]
                if kind in ("btree", "bitmap"):
                    idx.insert(src, key_col=col, id_col=id_col)
                elif kind == "rtree":
                    x, y = [c.strip() for c in col.split(",")]
                    idx.insert(src, x_col=x, y_col=y, id_col=id_col)
                elif kind in ("ivf", "hnsw", "ivf_hnsw", "bq"):
                    idx.insert(src, id_col=id_col, vec_col=col)
                elif kind == "fts":
                    idx.insert(src, id_col=id_col, text_col=col)
                self._commit(txn)
            finally:
                try:
                    self._handler.delete(claim)
                except OSError:
                    pass
        else:
            self._commit(txn)
        return self

    def drop_index(self, name: str) -> "Dataset":
        """Unregister an index. Files are reclaimed by vacuum policy, not
        here (the descriptor may still be referenced by older versions);
        dropping a bitmap/bloom index also retracts its column from the
        write-path declaration lists when no other index still covers it —
        symmetric with create_index, which added the declaration."""
        if name not in self.manifest.indexes:
            raise ValueError(f"no index named {name!r}")
        self._commit(_Txn(op="index", read_version=self.version, index_drop=name))
        return self

    def open_index(self, name: str):
        """Open a persisted index object (ivf/fts/hnsw/pq/sq; bitmap/bloom
        indexes have no object — they live in the manifest/parquet and
        apply on scan)."""
        desc = self.manifest.indexes.get(name)
        if desc is None:
            raise ValueError(f"no index named {name!r}")
        full = os.path.join(self.path, desc["path"]) if desc["path"] else None
        kind = desc["kind"]
        if kind == "bitmap" and full:
            from plan_spark.indexes.bitmap import BitmapIndex

            return BitmapIndex(self.spark, full)
        if kind in (
            "ivf", "ivf_pq", "fts", "hnsw", "pq", "sq", "bq", "btree", "rtree",
        ):
            from plan_spark.indexes.bq import BqIndex
            from plan_spark.indexes.btree import BtreeIndex
            from plan_spark.indexes.fts import FtsIndex
            from plan_spark.indexes.hnsw import HnswIndex
            from plan_spark.indexes.ivf import IvfIndex
            from plan_spark.indexes.pq import IvfPqIndex, PqIndex
            from plan_spark.indexes.rtree import RtreeIndex
            from plan_spark.indexes.sq import SqIndex

            opener = {
                "ivf": IvfIndex, "fts": FtsIndex, "hnsw": HnswIndex,
                "pq": PqIndex, "sq": SqIndex, "bq": BqIndex,
                "btree": BtreeIndex, "rtree": RtreeIndex,
                "ivf_pq": IvfPqIndex,
            }[kind]
            return opener(self.spark, full)
        raise ValueError(f"index {name!r} has kind {kind!r}; nothing to open")

    def index_fresh(self, name: str) -> bool:
        """True iff no DATA operation committed after the version the index
        was built from (index/tag-only commits don't stale it)."""
        desc = self.manifest.indexes.get(name)
        if desc is None:
            raise ValueError(f"no index named {name!r}")
        for v in range(desc["covers_version"] + 1, self.version + 1):
            try:
                op = self._load(v).operation
            except FileNotFoundError:
                return False  # intermediate manifest vacuumed: can't prove freshness
            if op != "index":
                return False
        return True

    # ------------------------------------------------ detached transactions
    def _staged_dir(self) -> str:
        d = os.path.join(self.path, "_staged")
        self._data_store.makedirs(d)
        return d

    @staticmethod
    def _stage_meta(ttl_seconds: float | None) -> dict:
        import time

        now = time.time()
        return {
            # claim state machine: open -> committing (commit_staged holds
            # the claim) / reclaiming (a reclaimer holds it) -> consumed
            # (payload deleted). A STATE FIELD, not a file rename, so the
            # transition is one conditional put on any store — object
            # stores have no atomic rename (reference s3_commit.go).
            "state": "open",
            "created_at": now,
            "expires_at": (now + ttl_seconds) if ttl_seconds is not None else None,
        }

    def _stage_path(self, stage_id: str) -> str:
        return os.path.join(self._staged_dir(), f"{stage_id}.json")

    def _write_stage(self, sid: str, payload: dict) -> None:
        self._handler.create_exclusive(self._stage_path(sid), json.dumps(payload))

    def stage_append(self, df: DataFrame, ttl_seconds: float | None = None) -> str:
        """Detached transaction (reference detached_txn.go:23-192): write the
        data files NOW against the current read version, stage the manifest
        diff outside the version chain, commit later. Returns the stage id.

        ``ttl_seconds`` bounds the stage's lifetime (reference detached-txn
        timeouts, sdk/dataset.go:1214-1243): past expiry, commit_staged
        refuses with StageExpiredError, vacuum stops pinning the staged
        files, and cleanup_expired() reclaims them."""
        frags = self._write_fragments(df, start_id=0)  # ids assigned at commit
        sid = uuid.uuid4().hex
        payload = {
            "op": "append",
            "read_version": self.version,
            **self._stage_meta(ttl_seconds),
            "added": [
                {
                    "path": f.path,
                    "rows": f.rows,
                    "bytes": f.bytes,
                    "stats": f.stats,
                }
                for f in frags
            ],
        }
        self._write_stage(sid, payload)
        return sid

    def stage_delete(self, predicate: str, ttl_seconds: float | None = None) -> str:
        """Detached DELETE (reference detached_txn.go CreateDetachedDelete):
        the predicate is evaluated NOW — deletion sidecars are written
        against the current fragments — and the manifest diff is staged
        outside the version chain. commit_staged later runs it through the
        normal conflict matrix (fragments removed or re-deleted concurrently
        conflict, unrelated appends rebase)."""
        m = self.manifest
        plan = self._plan_hits(
            m,
            self._scan_with_lineage(m.fragments)
            .filter(F.expr(predicate))
            .select(F.col(_FILE_COL).alias("file"), F.col(_POS_COL).alias("pos")),
        )
        dead_ids, new_deletes, deleted_rows = plan or (set(), {}, {})
        sid = uuid.uuid4().hex
        payload = {
            "op": "delete",
            "read_version": self.version,
            **self._stage_meta(ttl_seconds),
            "removed_ids": sorted(dead_ids),
            "new_deletes": {str(fid): names for fid, names in new_deletes.items()},
            "deleted_rows": {str(fid): n for fid, n in deleted_rows.items()},
        }
        self._write_stage(sid, payload)
        return sid

    def stage_overwrite(self, df: DataFrame, ttl_seconds: float | None = None) -> str:
        """Detached OVERWRITE (CreateDetachedOverwrite): the replacement
        data is written now; the commit later succeeds only if no other
        commit landed since this read version (overwrite's strict conflict
        rule, same as the immediate path)."""
        frags = self._write_fragments(df, start_id=0, conform=False)  # ids at commit
        sid = uuid.uuid4().hex
        payload = {
            "op": "overwrite",
            "read_version": self.version,
            **self._stage_meta(ttl_seconds),
            "schema_json": df.schema.json(),
            "added": [
                {"path": f.path, "rows": f.rows, "bytes": f.bytes, "stats": f.stats}
                for f in frags
            ],
        }
        self._write_stage(sid, payload)
        return sid

    def staged(self) -> list[str]:
        """Stage ids currently OPEN (claim state machine: a stage held by a
        commit_staged or a reclaimer is invisible here, exactly as the old
        rename-claim made it invisible to the .json listing)."""
        out = []
        for sid, payload in self._stage_payloads():
            if payload.get("state", "open") == "open":
                out.append(sid)
        return sorted(out)

    def _stage_payloads(self) -> list[tuple[str, dict]]:
        """(stage_id, payload) for every staged-txn object on disk,
        whatever its claim state; payloads consumed mid-listing are
        skipped (their work is done)."""
        d = self._staged_dir()
        out = []
        for fn in sorted(self._store.list(d)):
            if not fn.endswith(".json"):
                continue
            try:
                out.append((fn[:-5], self._store.get_json(os.path.join(d, fn))))
            except FileNotFoundError:
                continue
        return out

    def staged_info(self) -> list[dict]:
        """Status metadata for every staged transaction (reference
        GetDetachedStatus/ListDetached, sdk/dataset.go:1214-1243): id, op,
        read version, timestamps, live expiry state, and staged sizes."""
        import time

        now = time.time()
        out = []
        for sid, p in self._stage_payloads():
            if p.get("state", "open") != "open":
                continue  # claimed: status is "committing"/"reclaiming", skip
            exp = p.get("expires_at")
            out.append(
                {
                    "stage_id": sid,
                    "op": p["op"],
                    "read_version": p["read_version"],
                    "created_at": p.get("created_at"),
                    "expires_at": exp,
                    "expired": exp is not None and now >= exp,
                    "n_added_fragments": len(p.get("added", [])),
                    "added_rows": sum(a["rows"] for a in p.get("added", [])),
                }
            )
        return out

    def cleanup_expired(self) -> list[str]:
        """Reclaim expired staged transactions (reference
        CleanupExpiredDetached, sdk/dataset.go:1214-1243): their payloads,
        staged data files, and staged deletion sidecars are removed — none
        were ever referenced by a manifest (commit_staged deletes the
        payload on success, and an expired stage can never commit). Files
        are reclaimed only past expiry + grace (see _STAGE_GRACE), so a
        commit_staged that passed its expiry check on another handle cannot
        lose its files mid-commit. Returns removed paths.

        Also recovers ORPHANED CLAIMS: a ``committing`` claim older than
        _CLAIM_TTL is a commit_staged whose process died mid-commit —
        flipped back to ``open`` (one conditional put) so the stage is
        visible/retryable again (the retry is idempotent via the __stage__
        dedup key: if the dead attempt's manifest landed, the retry
        consumes the stage without double-applying); a ``reclaiming``
        claim is a reclaimer that died mid-sweep — _reclaim_stage is
        idempotent, so the sweep simply resumes."""
        import time

        now = time.time()
        removed: list[str] = []
        for sid, payload in self._stage_payloads():
            state = payload.get("state", "open")
            if state == "committing":
                claim_ts = payload.get("claim_ts") or payload.get("created_at", now)
                if now - claim_ts >= _CLAIM_TTL:
                    self._transition_stage(sid, "open", ("committing",))
                continue
            if state == "reclaiming":
                removed.extend(self._reclaim_stage(sid, payload))
                continue
            exp = payload.get("expires_at")
            if exp is None or now < exp + _STAGE_GRACE:
                continue
            # claim-for-reclaim FIRST (conditional put): once reclaiming,
            # a racing commit_staged refuses at its own claim — the
            # rename-era TOCTOU between the expiry read and the file sweep
            # is gone entirely
            claimed = self._transition_stage(sid, "reclaiming", ("open",))
            if claimed is None:
                continue  # a committer/reclaimer won the claim race
            removed.extend(self._reclaim_stage(sid, claimed))
        self._sweep_control_tmps()
        return removed

    def _transition_stage(
        self, stage_id: str, new_state: str, from_states: tuple[str, ...]
    ) -> dict | None:
        """Conditionally move a stage's claim state (one serialized RMW =
        one conditional put). Returns the updated payload, or None when the
        stage vanished or is held in a state outside ``from_states`` —
        the caller lost the race and must not proceed."""

        class _Race(Exception):
            pass

        def mut(cur):
            if cur is None or cur.get("state", "open") not in from_states:
                raise _Race()
            cur = dict(cur)
            cur["state"] = new_state
            return cur

        try:
            return self._update_control(self._stage_path(stage_id), mut)
        except _Race:
            return None

    def _stage_landed(self, stage_id: str) -> bool:
        """Whether this stage's commit LANDED in the version chain:
        ``__stage__`` watermarks copy forward, so the HEAD manifest carries
        the key iff some _do_commit_staged succeeded — O(1), no history
        walk. The guard every reclaim face must consult: a landed stage's
        files are MANIFEST-REFERENCED; deleting them is committed-data
        loss (a crash between the manifest write and the claim cleanup
        leaves exactly this state behind)."""
        try:
            head = self._load(self._latest_version())
        except FileNotFoundError:
            return False  # no versions at all: nothing can have landed
        return head.stream_state.get(f"__stage__:{stage_id}", -1) >= 0

    def _reclaim_stage(self, stage_id: str, payload: dict) -> list[str]:
        """Remove a stage's payload file plus every staged data file and
        deletion sidecar it references (shared by cleanup_expired and
        delete_staged — the two reclaim faces must stay layout-identical).
        Returns removed paths.

        A LANDED stage (crash between its manifest write and claim
        cleanup) is consumed payload-only: its files belong to the version
        chain now. File removals tolerate a concurrent reclaimer winning
        individual removes (exists/remove is not atomic; both sweeps are
        idempotent)."""
        removed: list[str] = []
        if not self._stage_landed(stage_id):
            for a in payload.get("added", []):
                fp = os.path.join(self.path, a["path"])
                try:
                    self._data_store.delete(fp)
                    removed.append(a["path"])
                except FileNotFoundError:
                    continue  # a concurrent reclaimer won this removal
                # crash window: staged data partially reclaimed, payload
                # still present — the sweep must be re-runnable and the
                # stage must refuse to commit, never land partial data
                fault_point("stage.reclaim_mid")
            for names in payload.get("new_deletes", {}).values():
                for rel in names:
                    fp = os.path.join(self.path, rel)
                    try:
                        self._data_store.delete(fp)
                        removed.append(rel)
                    except FileNotFoundError:
                        continue
        try:
            self._handler.delete(self._stage_path(stage_id))
            removed.append(f"_staged/{stage_id}.json")
        except FileNotFoundError:
            pass  # a concurrent reclaimer consumed the payload first
        return removed

    def delete_staged(self, stage_id: str) -> list[str]:
        """Drop a specific staged transaction NOW, expired or not
        (reference DeleteDetached, sdk/dataset.go:1243): its payload, data
        files, and deletion sidecars are reclaimed — none were ever
        referenced by a manifest. A stage currently CLAIMED by a running
        commit_staged cannot be deleted (cleanup_expired's stale-claim
        recovery reopens it if the committer died). Returns removed paths.

        The payload is claimed for RECLAIM first (one conditional put), so
        a commit_staged racing this call loses at its own claim instead of
        committing files this sweep is deleting."""

        def _claim(cur):
            if cur is None:
                raise ValueError(f"no staged transaction {stage_id!r}")
            if cur.get("state", "open") == "committing":
                raise ValueError(
                    f"stage {stage_id} is mid-commit (claimed); refusing"
                )
            cur = dict(cur)
            cur["state"] = "reclaiming"  # idempotent resume if already there
            return cur

        payload = self._update_control(self._stage_path(stage_id), _claim)
        return self._reclaim_stage(stage_id, payload)

    def commit_staged(self, stage_id: str) -> "Dataset":
        """Commit a previously staged transaction; the normal optimistic
        rebase applies, so commits that landed since the stage are folded in
        (append), conflict-checked (delete), or rejected (overwrite).
        An expired stage (ttl_seconds elapsed) refuses permanently.

        The payload is CLAIMED first — its ``state`` field moves
        open -> committing in ONE conditional put (no rename: object
        stores have none). Once claimed, the stage is invisible to
        ``staged()``/``cleanup_expired()`` and its files are pinned
        UNCONDITIONALLY by vacuum(), so a commit that starts just before
        expiry but outlives the reclaim grace can never have its data files
        deleted mid-commit by a concurrent reclaimer. On any failure the
        claim flips back to open, restoring stage visibility; a concurrent
        double-commit of the same stage loses the claim CAS and fails
        loudly.

        Crash safety: the staged txn commits with a ``__stage__:<id>``
        dedup key through the stream-commit watermark machinery, so the
        whole operation is IDEMPOTENT — if the process dies between the
        manifest write and the claim cleanup, ``cleanup_expired()`` later
        reopens the stale ``committing`` claim and a retried
        commit_staged sees DuplicateBatchError, consumes the stage, and
        reports success instead of double-applying."""
        import time

        p = self._stage_path(stage_id)

        def _claim(cur):
            if cur is None:
                # parity with the rename-era protocol: a consumed or
                # never-staged id surfaces as FileNotFoundError
                raise FileNotFoundError(p)
            st = cur.get("state", "open")
            if st != "open":
                raise ConflictError(
                    f"stage {stage_id} is {st} (claimed); refusing"
                )
            cur = dict(cur)
            cur["state"] = "committing"
            cur["claim_ts"] = time.time()
            return cur

        payload = self._update_control(p, _claim)
        # crash window: claim held, nothing committed — recovery is
        # cleanup_expired's stale-claim reopen after _CLAIM_TTL
        fault_point("stage.claimed")
        try:
            exp = payload.get("expires_at")
            if (
                exp is not None
                and time.time() >= exp
                and not self._stage_landed(stage_id)
            ):
                # landed stages are exempt from the expiry refusal: a crash
                # between a successful commit and the claim cleanup must be
                # consumable via the dedup path below even after the TTL,
                # or the stage wedges and a later reclaim would delete
                # manifest-referenced files
                raise StageExpiredError(
                    f"stage {stage_id} expired at {exp} (ttl elapsed); "
                    f"cleanup_expired() reclaims its files"
                )
            self._do_commit_staged(stage_id, payload)
        except DuplicateBatchError:
            # a prior attempt's manifest landed but its claim cleanup was
            # interrupted: the work is done — consume the stage
            self._manifest = self._load(self._latest_version())
            if self._branch:
                # the dead attempt may ALSO have died before its ref
                # advance (the exit-mode fault test's finding): without
                # this, the retry acknowledges success while the branch
                # still pins the old version and cannot see the rows.
                # _advance_ref is monotonic-under-the-lock (no rollback of
                # a concurrent advance) and skips a since-deleted branch;
                # ordinary branch commits rebase onto head, so interleaved
                # commits below the landing point are already
                # branch-visible by design. A failure HERE must reopen
                # the claim itself before raising: an exception inside
                # this handler bypasses the sibling un-claim handler, and
                # a stranded committing claim would make the caller's retry
                # fail with a bare claim conflict for _CLAIM_TTL.
                try:
                    landed = self._stage_landed_version(stage_id)
                    if landed is not None:
                        self._advance_ref(self._branch, landed)
                except BaseException as e:
                    self._transition_stage(stage_id, "open", ("committing",))
                    raise RuntimeError(
                        f"stage {stage_id} already committed but branch "
                        f"{self._branch!r} could not catch up: {e}"
                    ) from e
        except BaseException:
            self._transition_stage(stage_id, "open", ("committing",))
            raise
        # crash window: the staged manifest LANDED but the claim object
        # survives — the retry must dedup via the __stage__ key, never
        # double-apply
        fault_point("stage.committed_before_unclaim")
        try:
            self._handler.delete(p)
        except FileNotFoundError:
            pass  # a concurrent recovery consumed the stage first
        return self

    def _stage_landed_version(self, stage_id: str) -> int | None:
        """The retained version where this stage's commit LANDED: oldest
        manifest still carrying its ``__stage__`` watermark key. Watermarks
        copy forward, so the scan walks from HEAD down and stops at the
        first non-carrier — O(post-landing manifests), near-head for a
        crash retry, never O(history). A manifest vacuumed mid-scan acts as
        the boundary: the oldest carrier seen is still a version containing
        the stage's rows, so advancing a ref to it stays conservative
        (<= head, >= the true landing point)."""
        key = f"__stage__:{stage_id}"
        landed = None
        for v in reversed(self.versions()):
            try:
                if self._load(v).stream_state.get(key, -1) >= 0:
                    landed = v
                else:
                    break
            except FileNotFoundError:
                break  # vacuumed below here
        return landed

    def _do_commit_staged(self, stage_id: str, payload: dict) -> None:
        self._manifest = self._load(self._latest_version())
        op = payload["op"]
        dedup = (f"__stage__:{stage_id}", 0)  # idempotence across crash-retry
        if op == "delete":
            txn = _Txn(
                op="delete",
                read_version=payload["read_version"],
                removed_ids=set(payload["removed_ids"]),
                new_deletes={
                    int(fid): names for fid, names in payload["new_deletes"].items()
                },
                deleted_rows={int(fid): n for fid, n in payload["deleted_rows"].items()},
                stream_commit=dedup,
            )
        else:
            start = self.manifest.max_fragment_id + 1
            frags = [
                Fragment(id=start + i, path=a["path"], rows=a["rows"],
                         bytes=a["bytes"], stats=a["stats"],
                         row_start=-1 if self.manifest.row_ids else None)
                for i, a in enumerate(payload["added"])
            ]
            txn = _Txn(
                op=op,
                read_version=payload["read_version"],
                added=frags,
                schema_json=payload.get("schema_json"),
                stream_commit=dedup,
            )
        self._commit(txn)

    def count_rows(self, filter: str | None = None) -> int:
        """Row count (sdk/dataset.go:239 CountRows / :258
        CountRowsWithFilter). Unfiltered counts are METADATA-ONLY when no
        deletion vectors exist (sum of manifest fragment rows — zero data
        read at any scale); with deletion vectors only the sidecars are
        read (deletion-sized, never corpus-sized). A filter falls back to
        the pruned scan + count."""
        m = self.manifest
        if filter is not None:
            # NOT driver_sized: the filtered count scans the (pruned) corpus
            # — data-plane work that keeps AQE's skew/coalesce mitigation.
            # driver_sized is reserved for metadata-sized collects below.
            return self.to_df(filters=filter).count()
        total = sum(f.rows for f in m.fragments)
        all_dels = sorted({d for f in m.fragments for d in f.deletion_files})
        if all_dels:
            live = [os.path.basename(f.path) for f in m.fragments]
            with driver_sized(self.spark):
                total -= (
                    self.spark.read.schema(_DELETES_SCHEMA).parquet(
                        *[os.path.join(self.path, d) for d in all_dels]
                    )
                    # a shared sidecar may carry rows of fragments that later
                    # became fully dead and left the manifest — only live
                    # targets subtract; distinct since a row can be re-deleted
                    .filter(F.col("file").isin(live))
                    .select("file", "pos")
                    .distinct()
                    .count()
                )
        return total

    def data_size(self) -> int:
        """Total physical bytes across live fragments (sdk DataSize) —
        manifest arithmetic, no I/O."""
        return sum(f.bytes for f in self.manifest.fragments)

    def statistics(self) -> dict[str, Any]:
        """Dataset-level stats from the manifest (statistics.go:16-165)."""
        m = self.manifest
        return {
            "version": m.version,
            "fragments": len(m.fragments),
            "rows_physical": sum(f.rows for f in m.fragments),
            "bytes": sum(f.bytes for f in m.fragments),
            "deletion_files": sum(len(f.deletion_files) for f in m.fragments),
        }
