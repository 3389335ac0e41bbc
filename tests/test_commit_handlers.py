"""Unit tests for the commit-handler seam (plan_spark/dataset/commit.py).

The seam mirrors the reference's CommitHandler abstraction
(pkg/storage2/commit.go:11-27 local-rename vs s3_commit.go ETag
conditional-put): both handlers must give identical protocol guarantees —
one winner per manifest version, lost-update-free control RMW, exclusive
claims — with the CAS handler building everything on compare-and-set
alone.
"""

from __future__ import annotations

import json
import os
import subprocess
import threading

import pytest

from plan_spark.dataset.commit import (
    _MEM_LOCK,
    _MEM_OBJECTS,
    CasCommitHandler,
    CasConflict,
    LocalCommitHandler,
    detect_handler,
    handler_named,
    mem_reset,
    write_handler_marker,
)

HANDLERS = [LocalCommitHandler, CasCommitHandler]
IDS = ["local", "cas"]


@pytest.fixture(params=HANDLERS, ids=IDS)
def handler(request):
    return request.param()


class TestCommit:
    def test_single_winner_per_version(self, handler, tmp_path):
        p = str(tmp_path / "00000002.manifest.json")
        handler.commit(p, '{"v": "winner"}')
        with pytest.raises(FileExistsError):
            handler.commit(p, '{"v": "loser"}')
        with open(p) as fh:
            assert json.load(fh)["v"] == "winner"

    def test_concurrent_committers_exactly_one_wins(self, handler, tmp_path):
        p = str(tmp_path / "00000003.manifest.json")
        wins, losses = [], []

        def run(i):
            try:
                handler.commit(p, json.dumps({"w": i}))
                wins.append(i)
            except FileExistsError:
                losses.append(i)

        ts = [threading.Thread(target=run, args=(i,)) for i in range(8)]
        [t.start() for t in ts]
        [t.join() for t in ts]
        assert len(wins) == 1 and len(losses) == 7
        with open(p) as fh:
            assert json.load(fh)["w"] == wins[0]


class TestUpdateJson:
    def test_rmw_from_absent(self, handler, tmp_path):
        p = str(tmp_path / "refs.json")
        out = handler.update_json(p, lambda cur: {**(cur or {}), "a": 1})
        assert out == {"a": 1}
        with open(p) as fh:
            assert json.load(fh) == {"a": 1}

    def test_no_lost_updates_under_contention(self, handler, tmp_path):
        p = str(tmp_path / "refs.json")
        handler.update_json(p, lambda cur: {})

        def bump(key):
            for _ in range(20):
                handler.update_json(
                    p, lambda cur: {**cur, key: cur.get(key, 0) + 1}
                )

        ts = [
            threading.Thread(target=bump, args=(f"k{i}",)) for i in range(6)
        ]
        [t.start() for t in ts]
        [t.join() for t in ts]
        with open(p) as fh:
            final = json.load(fh)
        assert final == {f"k{i}": 20 for i in range(6)}, final

    def test_mutate_exception_aborts_without_write(self, handler, tmp_path):
        p = str(tmp_path / "refs.json")
        handler.update_json(p, lambda cur: {"keep": True})

        def boom(cur):
            raise ValueError("no")

        with pytest.raises(ValueError):
            handler.update_json(p, boom)
        with open(p) as fh:
            assert json.load(fh) == {"keep": True}


class TestMarkers:
    def test_create_exclusive_single_holder(self, handler, tmp_path):
        p = str(tmp_path / "_REFRESHING")
        handler.create_exclusive(p, '{"ts": 1}')
        with pytest.raises(FileExistsError):
            handler.create_exclusive(p, '{"ts": 2}')
        handler.delete(p)
        handler.create_exclusive(p, '{"ts": 3}')  # free again after delete

    def test_delete_missing_raises(self, handler, tmp_path):
        with pytest.raises(FileNotFoundError):
            handler.delete(str(tmp_path / "nope"))


class TestDetection:
    def test_marker_round_trip(self, tmp_path):
        write_handler_marker(str(tmp_path), "cas")
        assert detect_handler(str(tmp_path)).name == "cas"
        write_handler_marker(str(tmp_path), "local")
        assert detect_handler(str(tmp_path)).name == "local"

    def test_no_marker_defaults_local(self, tmp_path):
        assert detect_handler(str(tmp_path)).name == "local"

    def test_unknown_name_rejected(self):
        # "s3" graduated to a real handler in r11 — probe a name that
        # stays unknown
        with pytest.raises(ValueError, match="unknown commit handler"):
            handler_named("gopher")


class TestCasOnly:
    """Semantics specific to the compare-and-set build."""

    def test_objects_stored_verbatim(self, tmp_path):
        # reads are plain GETs on any store: content must be at the path
        h = CasCommitHandler()
        p = str(tmp_path / "m.json")
        h.commit(p, '{"x": 1}')
        with open(p) as fh:
            assert json.load(fh) == {"x": 1}

    def test_update_retries_through_interleaved_writer(self, tmp_path):
        h = CasCommitHandler()
        p = str(tmp_path / "refs.json")
        h.update_json(p, lambda cur: {"n": 0})
        calls = {"n": 0}

        def mut(cur):
            calls["n"] += 1
            if calls["n"] == 1:
                # an interleaved writer lands between our read and our CAS:
                # the first attempt MUST fail its precondition and retry
                with open(p) as fh:
                    other = json.load(fh)
                other["intruder"] = True
                tmp = p + ".x"
                with open(tmp, "w") as fh:
                    json.dump(other, fh)
                os.replace(tmp, p)
            out = dict(cur)
            out["n"] = out["n"] + 1
            return out

        h.update_json(p, mut)
        assert calls["n"] == 2, "first CAS must have failed and retried"
        with open(p) as fh:
            final = json.load(fh)
        assert final["n"] == 1 and final["intruder"] is True


# update_json BOUNDS contention (~8 s budget) and raises CasConflict when
# it is spent, on both handlers; detect_handler raises on a present but
# corrupt or unknown _commit.json marker (an absent marker still means
# local), since a silent local fallback would split the protocol.
class TestCasRetryBudget:
    def test_cas_update_json_raises_after_budget(self, tmp_path, monkeypatch):
        h = CasCommitHandler()
        path = str(tmp_path / "hot.json")
        # force every conditional put to lose the ETag race
        monkeypatch.setattr(h, "_cas", lambda *a, **k: (_ for _ in ()).throw(CasConflict("x")))
        # compress the 8 s budget: each sleep advances a fake clock 1 s
        clock = {"t": 0.0}
        monkeypatch.setattr(
            "plan_spark.dataset.commit.time.monotonic", lambda: clock["t"]
        )
        monkeypatch.setattr(
            "plan_spark.dataset.commit.time.sleep",
            lambda s: clock.__setitem__("t", clock["t"] + 1.0),
        )
        with pytest.raises(CasConflict):
            h.update_json(path, lambda cur: {"n": 1})

    def test_local_update_json_raises_after_budget(self, tmp_path):
        path = str(tmp_path / "hot.json")
        import fcntl as _fcntl

        # hold the flock here; the contender must run in a CHILD process
        # (flock locks are per-open-file-description and re-acquirable
        # within one process). The child compresses the 8 s budget by
        # patching the module clock.
        fd = os.open(path + ".lock", os.O_CREAT | os.O_RDWR)
        _fcntl.flock(fd, _fcntl.LOCK_EX)
        try:
            code = (
                "import os, json\n"
                "from plan_spark.dataset.commit import LocalCommitHandler, CasConflict\n"
                "import plan_spark.dataset.commit as C\n"
                "clock={'t':0.0}\n"
                "C.time.monotonic=lambda: clock['t']\n"
                "C.time.sleep=lambda s: clock.__setitem__('t', clock['t']+1.0)\n"
                f"h=LocalCommitHandler()\n"
                f"try:\n"
                f"    h.update_json({path!r}, lambda cur: {{'n': 1}})\n"
                f"except CasConflict:\n"
                f"    print('BOUNDED')\n"
            )
            r = subprocess.run(
                ["python", "-c", code], cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))), capture_output=True, timeout=60
            )
            assert b"BOUNDED" in r.stdout, r.stderr.decode()[-500:]
        finally:
            os.close(fd)

    def test_cas_update_json_still_succeeds_uncontended(self, tmp_path):
        h = CasCommitHandler()
        path = str(tmp_path / "obj.json")
        out = h.update_json(path, lambda cur: {"n": (cur or {}).get("n", 0) + 1})
        assert out == {"n": 1}
        out = h.update_json(path, lambda cur: {"n": cur["n"] + 1})
        assert out == {"n": 2}


class TestDetectHandlerStrict:
    def test_absent_marker_defaults_local(self, tmp_path):
        assert detect_handler(str(tmp_path)).name == "local"

    def test_valid_markers_resolve(self, tmp_path):
        write_handler_marker(str(tmp_path), "cas")
        assert detect_handler(str(tmp_path)).name == "cas"
        write_handler_marker(str(tmp_path), "local")
        assert detect_handler(str(tmp_path)).name == "local"

    def test_corrupt_marker_raises(self, tmp_path):
        (tmp_path / "_commit.json").write_text("{not json")
        with pytest.raises(ValueError, match="commit-handler marker"):
            detect_handler(str(tmp_path))

    def test_unknown_handler_name_raises(self, tmp_path):
        (tmp_path / "_commit.json").write_text(json.dumps({"handler": "zk"}))
        with pytest.raises(ValueError, match="commit-handler marker"):
            detect_handler(str(tmp_path))

    def test_missing_key_raises(self, tmp_path):
        (tmp_path / "_commit.json").write_text(json.dumps({"proto": "cas"}))
        with pytest.raises(ValueError, match="commit-handler marker"):
            detect_handler(str(tmp_path))


# write_handler_marker is atomic: a reader racing dataset creation only
# ever sees an absent or a complete marker.
class TestMarkerAtomicity:
    def test_marker_written_via_replace(self, tmp_path):
        """Polling readers racing a loop of marker writes never observe a
        torn or empty marker — every read is absent or complete JSON."""
        d = str(tmp_path)
        marker = os.path.join(d, "_commit.json")
        stop = threading.Event()
        bad: list[str] = []

        def reader():
            while not stop.is_set():
                try:
                    with open(marker) as fh:
                        raw = fh.read()
                except FileNotFoundError:
                    continue
                try:
                    obj = json.loads(raw)
                    assert obj["handler"] in ("local", "cas", "mem")
                except Exception:
                    bad.append(raw)

        threads = [threading.Thread(target=reader) for _ in range(4)]
        for t in threads:
            t.start()
        for _ in range(300):
            write_handler_marker(d, "cas")
            write_handler_marker(d, "local")
        stop.set()
        for t in threads:
            t.join()
        assert bad == [], bad[:3]
        assert detect_handler(d).name == "local"
        # no stranded temp files
        assert [f for f in os.listdir(d) if ".tmp." in f] == []


# mem_reset clears a dataset path's _MEM_OBJECTS at Dataset.create: a new
# mem dataset at a used path never sees the old one's refs or claims.
class TestMemNamespaceReset:
    def test_mem_reset_scopes_by_prefix(self):
        with _MEM_LOCK:
            _MEM_OBJECTS["/x/a/refs.json"] = (b"stale", 0.0)
            _MEM_OBJECTS["/x/a/_versions/00000001.manifest.json"] = (b"m", 0.0)
            _MEM_OBJECTS["/x/ab/refs.json"] = (b"keep", 0.0)
        mem_reset("/x/a")
        with _MEM_LOCK:
            assert "/x/a/refs.json" not in _MEM_OBJECTS
            assert "/x/a/_versions/00000001.manifest.json" not in _MEM_OBJECTS
            # sibling path sharing a string prefix but not a DIR prefix stays
            assert _MEM_OBJECTS.pop("/x/ab/refs.json") == (b"keep", 0.0)

    def test_fresh_mem_dataset_sees_no_stale_state(self, spark, tmp_path):
        """Create a mem dataset, tag a ref, wipe the POSIX footprint (as a
        test-session teardown would), then create a NEW mem dataset at the
        same path: the prior incarnation's refs must be gone."""
        import shutil

        from plan_spark.dataset.dataset import Dataset

        p = str(tmp_path / "ds")
        ds = Dataset.create(
            spark,
            p,
            spark.range(3).toDF("k"),
            commit_handler="mem",
        )
        ds.tag("v1", 1)
        assert ds._refs().get("v1") == 1
        shutil.rmtree(p)
        ds2 = Dataset.create(
            spark,
            p,
            spark.range(2).toDF("k"),
            commit_handler="mem",
        )
        assert "v1" not in ds2._refs()
        assert ds2.to_df().count() == 2
