"""Shared pytest fixtures + the DuckDB-oracle comparison harness.

Mirrors the reference's duckdb-vs-plan golden layout
(/root/reference/cases/tpch/1g/{duckdb,plan}/) and the driver's compare:
row count + schema + order-insensitive value comparison with columns sorted
by name.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

from plan_spark.catalog import TABLES
from plan_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("plan_spark-tests")
    yield s


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Canonicalize a result frame: columns sorted by name, rows sorted by
    every column, timestamps normalized to ns, NaN normalized to None for
    object columns."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].where(pd.notna(df[c]), None)
    if len(df) > 0:
        df = df.sort_values(by=list(df.columns), key=lambda s: s.astype(str)).reset_index(
            drop=True
        )
    return df


def compare(spark_df, oracle_pdf: pd.DataFrame, name: str = "") -> None:
    """Assert a Spark result matches the oracle frame (order-insensitive)."""
    got = canon(spark_df.toPandas())
    want = canon(oracle_pdf)
    assert len(got) == len(want), f"{name}: row count {len(got)} != oracle {len(want)}"
    assert list(got.columns) == list(want.columns), (
        f"{name}: columns {list(got.columns)} != oracle {list(want.columns)}"
    )
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g) and pd.api.types.is_float_dtype(w):
            eq = (g.isna() & w.isna()) | (g == w)
            if not eq.all():
                bad = (~eq).idxmax()
                raise AssertionError(
                    f"{name}.{c}: float mismatch at row {bad}: {g[bad]!r} != {w[bad]!r} "
                    f"(maxdiff={((g - w).abs()).max()})"
                )
        else:
            gs, ws = g.astype(str), w.astype(str)
            eq = gs == ws
            if not eq.all():
                bad = (~eq).idxmax()
                raise AssertionError(
                    f"{name}.{c}: mismatch at row {bad}: {g[bad]!r} != {w[bad]!r}"
                )


def to_format1(
    ds_path: str,
    leaf_stats: bool = False,
    uncount: str | None = None,
    drop_id_col: bool = False,
) -> int:
    """Rewrite the dataset at ``ds_path``'s latest manifest on disk as a
    format-1 manifest (one written before the ``format`` field), and
    return its version. ``leaf_stats`` keys each fragment's footer stats
    by Parquet leaf name, as the old writer did, so a nested leaf's range
    overwrites a top-level column's of the same name; ``uncount`` leaves
    every fragment's ``deleted_rows`` uncounted: ``"absent"`` drops the
    key, as a table never committed to since had it, and ``"null"`` stores
    null, as the old reader wrote a missing count back on its next
    commit; ``drop_id_col`` drops every index
    descriptor's ``params.id_col``. Handles opened before the rewrite keep
    the manifest they loaded."""
    import json

    import pyarrow.parquet as pq

    vdir = os.path.join(ds_path, "_versions")
    name = max(f for f in os.listdir(vdir) if f.endswith(".manifest.json"))
    with open(os.path.join(vdir, name)) as fh:
        d = json.load(fh)
    del d["format"]
    for f in d["fragments"]:
        if leaf_stats:
            md = pq.ParquetFile(os.path.join(ds_path, f["path"])).metadata
            for ci in range(md.num_columns):
                sts = [md.row_group(g).column(ci).statistics for g in range(md.num_row_groups)]
                if sts and all(st is not None and st.has_min_max for st in sts):
                    f["stats"][md.schema.column(ci).name] = {
                        "min": min(st.min for st in sts),
                        "max": max(st.max for st in sts),
                        "nulls": sum(st.null_count for st in sts),
                    }
        if uncount == "absent":
            del f["deleted_rows"]
        elif uncount == "null":
            f["deleted_rows"] = None
    if drop_id_col:
        for desc in d["indexes"].values():
            desc["params"].pop("id_col", None)
    with open(os.path.join(vdir, name), "w") as fh:
        json.dump(d, fh)
    return d["version"]
