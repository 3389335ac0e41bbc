"""A format-1 manifest (written before manifests recorded a ``format``) is
brought up to format 2 when a version is loaded: stats keyed by a nested
leaf's name go, uncounted deletion sidecars are counted on the driver, and
index descriptors without ``id_col`` get create_index's default. Every
statement over the upgraded table answers as over a twin table that was
format 2 all along, and the next commit stores format 2."""

from __future__ import annotations

import json

import pytest

from plan_spark.engine import Engine
from tests.conftest import to_format1
from tests.test_driver_writes import _jobs_for


@pytest.fixture()
def eng(spark, tmp_path):
    return Engine(spark, str(tmp_path / "db"))


def _build(eng, name: str) -> None:
    eng.sql(
        f"CREATE TABLE {name} (key BIGINT, k BIGINT, v BIGINT, "
        "m MAP<STRING, BIGINT>, s STRUCT<k: BIGINT>)"
    )
    for lo in (0, 100):
        # s.k and the map's key/value leaves range far from key and k
        eng.sql(
            f"INSERT INTO {name} SELECT id, id, id * 10, map('a', -id), "
            f"named_struct('k', -id - 1000) FROM range({lo}, {lo + 100}, 1, 1)"
        )
    eng.sql(f"CREATE INDEX {name}_iv ON {name} USING btree (v)")
    eng.sql(f"DELETE FROM {name} WHERE key % 7 = 0")
    eng.sql(f"DELETE FROM {name} WHERE key % 11 = 0")


def _rows(eng, query: str) -> list[tuple]:
    return sorted(
        tuple(sorted(x.items()) if isinstance(x, dict) else x for x in r)
        for r in eng.sql(query).collect()
    )


def _stored(ds) -> dict:
    with open(ds._manifest_path(ds._latest_version())) as fh:
        return json.load(fh)


@pytest.mark.parametrize("uncount", ["absent", "null"])
def test_format1_manifest_upgrades_on_load(spark, eng, tmp_path, uncount):
    for name in ("t", "u"):
        _build(eng, name)
    v1 = to_format1(eng.dataset("t").path, leaf_stats=True, uncount=uncount, drop_id_col=True)
    stored = _stored(eng.dataset("t"))
    assert "format" not in stored
    assert all(
        (uncount == "null") == ("deleted_rows" in f) and f.get("deleted_rows") is None
        and f["stats"]["k"]["max"] < 0
        for f in stored["fragments"]
    )
    eng = Engine(spark, str(tmp_path / "db"))  # no view registered from before

    t, u = eng.dataset("t"), eng.dataset("u")
    assert t.manifest.format == 2
    assert [f.deleted_rows for f in t.manifest.fragments] == [
        f.deleted_rows for f in u.manifest.fragments
    ]
    assert [f.deleted_rows for f in t.manifest.fragments] == [
        sum(x % 7 == 0 or x % 11 == 0 for x in range(lo, lo + 100)) for lo in (0, 100)
    ]
    assert t.manifest.indexes["t_iv"]["params"]["id_col"] == "_rowid"
    # leaf-keyed stats never prune; the twin's path-keyed stats do
    for pred in ("k = 5", "key = 150"):
        assert len(t.plan_scan(pred, use_indexes=False)[0]) == 2
        assert len(u.plan_scan(pred, use_indexes=False)[0]) == 1

    def same(query: str) -> None:
        got, want = _rows(eng, query.format("t")), _rows(eng, query.format("u"))
        assert got == want and got, query

    for q in (
        "SELECT * FROM {} WHERE k = 5",
        "SELECT * FROM {} WHERE key = 150",
        "SELECT COUNT(*), SUM(v) FROM {} WHERE k BETWEEN 20 AND 180",
        "SELECT * FROM {}",
    ):
        same(q)

    # the first commit after the load counts nothing again: no job
    jobs = {n: _jobs_for(spark, lambda n=n: eng.sql(f"DELETE FROM {n} WHERE key = 3")) for n in "tu"}
    assert jobs == {"t": 0, "u": 0}
    stored = _stored(eng.dataset("t"))
    assert stored["format"] == 2
    assert all(isinstance(f["deleted_rows"], int) for f in stored["fragments"])
    assert all("id_col" in d["params"] for d in stored["indexes"].values() if d["path"])
    assert not any({"k", "key", "value"} & set(f["stats"]) for f in stored["fragments"])

    same(f"SELECT * FROM {{}} VERSION AS OF {v1}")
    for n in "tu":
        eng.sql(f"UPDATE {n} SET v = v + 1 WHERE key < 20")
        eng.sql(
            f"MERGE INTO {n} USING (SELECT CAST(150 AS BIGINT) AS key, CAST(-1 AS BIGINT) AS k, "
            "CAST(-1 AS BIGINT) AS v, map('b', CAST(1 AS BIGINT)) AS m, "
            "named_struct('k', CAST(1 AS BIGINT)) AS s UNION ALL SELECT 500, 500, 500, "
            "map('c', 2), named_struct('k', 2)) src ON key "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )
        eng.sql(f"REFRESH INDEX {n}_iv ON {n}")
    same("SELECT * FROM {}")
    same("SELECT * FROM {} WHERE k = -1")
    t, u = eng.dataset("t"), eng.dataset("u")
    assert t.index_fresh("t_iv") and u.index_fresh("u_iv")
    for v in (11, 60, -1, 500):
        got = sorted(r.key for r in t.to_df(filters=[("v", "=", v)]).collect())
        assert got == sorted(r.key for r in u.to_df(filters=[("v", "=", v)]).collect()), v
