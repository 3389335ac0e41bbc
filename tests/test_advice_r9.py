"""Regression tests for the round-8 ADVICE findings (all three fixed r9):

1. engine._check_mentions must read backslash-escaped quotes inside
   string literals as Spark does, so a ``'a\\''`` literal can't hide a
   real identifier after it (it now reads the CHECK through Spark's own
   parser).
2. faults.arm_fault must keep the firing MODE per site — arming 'b' in
   exit mode must not silently switch an already-armed 'a' to exit.
3. A crashed publish_fences strands ``fences.parquet.tmp.<pid>.<tid>``;
   recover_dir now sweeps temps whose owning pid is dead, and never a
   live publisher's in-flight temp.
"""

from __future__ import annotations

import os
import subprocess

import pytest

from plan_spark.engine import Engine
from plan_spark.faults import InjectedCrash, arm_fault, clear_faults, fault_point
from plan_spark.indexes.btree import recover_dir, sweep_dead_tmps


class TestCheckMentionsEscapes:
    def test_identifier_after_escaped_quote_literal_is_seen(self, spark):
        # ADVICE repro: with the old pattern the literal boundary shifted
        # and `mycol` was blanked, letting RENAME/DROP proceed while a
        # stored CHECK still referenced it.
        assert Engine._check_mentions(spark, "mycol", "c = 'a\\'' AND mycol = 'x'")

    def test_name_inside_escaped_literal_not_a_mention(self, spark):
        assert not Engine._check_mentions(spark, "k", "c = 'it\\'s k' AND d = 2")

    def test_plain_literal_still_blanked(self, spark):
        assert not Engine._check_mentions(spark, "k", "status IN ('k', 'v')")

    def test_doubled_quote_literal_still_blanked(self, spark):
        assert not Engine._check_mentions(spark, "k", "c = 'it''s k' AND d = 2")

    def test_plain_mention_still_detected(self, spark):
        assert Engine._check_mentions(spark, "k", "k > 0 AND j < 'z'")

    def test_mentions_resolve_like_spark(self, spark):
        # names compare case-insensitively, and identifiers in lambda
        # bodies and subqueries count
        assert Engine._check_mentions(spark, "K", "k > 0")
        assert Engine._check_mentions(spark, "k", "exists(arr, x -> x = k)")
        assert Engine._check_mentions(spark, "k", "(SELECT max(k) FROM t) > 0")
        assert not Engine._check_mentions(spark, "k", "upper(j) = 'K'")


class TestPerSiteFaultMode:
    def test_mixed_modes_keep_their_mechanism(self):
        # Arming 'b' in exit mode after 'a' in raise mode must not flip
        # 'a' to os._exit — 'a' still raises InjectedCrash in-process.
        clear_faults()
        try:
            arm_fault("advice_a", mode="raise")
            arm_fault("advice_b", mode="exit")
            with pytest.raises(InjectedCrash):
                fault_point("advice_a")
        finally:
            clear_faults()

    def test_exit_mode_survives_in_child(self):
        # 'b' (exit mode) fires as a real crash image in a child process
        # even though a raise-mode site was armed after it.
        code = (
            "from plan_spark.faults import arm_fault, fault_point\n"
            "arm_fault('b', mode='exit')\n"
            "arm_fault('a', mode='raise')\n"
            "fault_point('b')\n"
            "print('unreachable')\n"
        )
        r = subprocess.run(
            ["python", "-c", code], cwd="/root/repo", capture_output=True
        )
        assert r.returncode == 77 and b"unreachable" not in r.stdout


class TestFenceTempSweep:
    def test_dead_pid_temp_swept_live_kept(self, tmp_path):
        idx = tmp_path / "idx"
        (idx / "runs").mkdir(parents=True)
        # a genuinely dead pid: a child that has already exited and been
        # reaped (so ProcessLookupError, not a zombie)
        p = subprocess.Popen(["true"])
        p.wait()
        dead_pid = p.pid
        dead_tmp = idx / f"fences.parquet.tmp.{dead_pid}.123"
        live_tmp = idx / f"fences.parquet.tmp.{os.getpid()}.123"
        dead_tmp.write_bytes(b"x")
        live_tmp.write_bytes(b"x")
        sweep_dead_tmps(str(idx))
        assert not dead_tmp.exists(), "dead publisher's temp must be reclaimed"
        assert live_tmp.exists(), "live publisher's in-flight temp untouched"

    def test_recover_dir_invokes_sweep(self, tmp_path):
        idx = tmp_path / "idx"
        (idx / "runs").mkdir(parents=True)
        p = subprocess.Popen(["true"])
        p.wait()
        stranded = idx / f"fences.parquet.tmp.{p.pid}.9"
        stranded.write_bytes(b"x")
        recover_dir(str(idx), "runs")
        assert not stranded.exists()

    def test_non_temp_files_never_touched(self, tmp_path):
        idx = tmp_path / "idx"
        idx.mkdir()
        keep = idx / "fences.parquet"
        keep.write_bytes(b"x")
        sweep_dead_tmps(str(idx))
        assert keep.exists()
