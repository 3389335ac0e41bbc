"""Property: an append whose frame types differ from the table's is cast by
Spark's ANSI store assignment, as SQL INSERT casts the same rows, through
both writers (pyarrow for a frame already on the driver, Spark's writer
otherwise), so the table reads back exactly what INSERT stores. A pair
store assignment refuses raises ValueError and commits nothing."""

from __future__ import annotations

import shutil
import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import plan_spark.dataset.dataset as dsmod
from plan_spark.engine import Engine

# type -> the SQL expression of row ``id``'s value (NULL on every third row)
_TYPES = {
    "TINYINT": "CAST(id AS TINYINT)",
    "SMALLINT": "CAST(id * 3 AS SMALLINT)",
    "INT": "CAST(id * 5 AS INT)",
    "BIGINT": "id * 7",
    "FLOAT": "CAST(id / 4 AS FLOAT)",
    "DOUBLE": "id / 8",
    "DECIMAL(10,2)": "CAST(id / 4 AS DECIMAL(10,2))",
    "DECIMAL(22,1)": "CAST(id * 0.5 AS DECIMAL(22,1))",
    "STRING": "CAST(id AS STRING)",
    "BOOLEAN": "id % 2 = 0",
    "DATE": "date_add(DATE '2020-01-01', CAST(id AS INT))",
    "TIMESTAMP": "TIMESTAMP '2020-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id)",
}


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    table=st.sampled_from(sorted(_TYPES)),
    frame=st.sampled_from(sorted(_TYPES)),
    writer=st.sampled_from(["driver", "spark"]),
)
def test_append_stores_as_sql_insert_or_refuses(spark, table, frame, writer):
    root = tempfile.mkdtemp(prefix="plan_spark_sa_")
    try:
        eng = Engine(spark, root)
        for name in ("a", "i"):
            eng.sql(f"CREATE TABLE {name} (id BIGINT, c {table})")
        value = f"IF(id % 3 = 2, NULL, {_TYPES[frame]})"
        rows = spark.range(12).selectExpr("id", f"{value} AS c").coalesce(1)
        if writer == "driver":
            rows = spark.createDataFrame(rows.toArrow(), rows.schema)
        assert (dsmod._driver_rows(rows) is not None) == (writer == "driver")
        ds = eng.dataset("a")
        try:
            ds.append(rows)
        except ValueError as e:
            assert "cannot store c" in str(e)
            assert eng.dataset("a").version == ds.version
            return
        eng.sql(f"INSERT INTO i SELECT id, {value} FROM range(12)")
        got = sorted(map(tuple, eng.sql("SELECT * FROM a").collect()))
        assert got == sorted(map(tuple, eng.sql("SELECT * FROM i").collect()))
        assert len(got) == 12
    finally:
        shutil.rmtree(root, ignore_errors=True)
