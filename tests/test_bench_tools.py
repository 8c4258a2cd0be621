"""The measurement tooling around the engine: bench.scaling_ladder (with
a fake leg, so no Spark and no subprocess starts), bench's corpus
writer under a live session, and a smoke run of every script's CLI."""

from __future__ import annotations

import glob
import os
import py_compile
import subprocess
import sys

import pytest

from bench import ensure_pages_parquet, scaling_ladder

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class FakeLeg:
    """Records each call and answers from ``dps[cpus]`` in call order."""

    def __init__(self, dps: dict[int, list[float]], parity=None):
        self.dps = {c: list(v) for c, v in dps.items()}
        self.parity = parity or {}
        self.calls: list[tuple[int, dict, bool]] = []

    def __call__(self, cpus: int, env: dict) -> dict:
        self.calls.append((cpus, env, os.path.isdir(env["SPARK_LOCAL_DIRS"])))
        return {
            "cpus": cpus,
            "docs_per_sec": self.dps[cpus].pop(0),
            "parity": self.parity.get(len(self.calls), "same"),
        }


@pytest.fixture
def cores(monkeypatch):
    def set_cores(n: int) -> None:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", str(n))

    return set_cores


@pytest.mark.parametrize("n, ladder", [(4, (1, 4)), (32, (8, 32))])
def test_ladder_is_derived_from_the_host(cores, n, ladder):
    cores(n)
    lo, hi = ladder
    got = scaling_ladder(FakeLeg({lo: [100.0, 100.0], hi: [400.0, 400.0]}))
    assert list(got["ladder"]) == [str(lo), str(hi)]
    assert got["from_to"] == f"local[{lo}] -> local[{hi}]"
    assert got["scaling_efficiency"] == 1.0
    assert got["pass"] is True
    assert got["target"] == 0.8
    assert got["parity"] == "same"


def test_ladder_needs_two_cores(cores):
    cores(1)
    leg = FakeLeg({})
    with pytest.raises(RuntimeError, match="at least 2 cores"):
        scaling_ladder(leg)
    assert leg.calls == []


def test_ladder_interleaves_legs_with_the_same_env(cores, monkeypatch):
    cores(4)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    leg = FakeLeg({1: [1.0, 1.0], 4: [4.0, 4.0]})
    scaling_ladder(leg)
    assert [c for c, _, _ in leg.calls] == [1, 4, 1, 4]
    dirs = [env["SPARK_LOCAL_DIRS"] for _, env, _ in leg.calls]
    assert len(set(dirs)) == 4  # a fresh one per run
    assert all(existed for _, _, existed in leg.calls)
    assert not any(os.path.exists(d) for d in dirs)  # removed afterwards
    for cpus, env, _ in leg.calls:
        assert env["SPARK_GRAFT_CPUS"] == str(cpus)
        assert env["SPARK_GRAFT_SHUFFLE"] == "32"
        assert env["SPARK_GRAFT_DRIVER_MEM"] == "3g"  # the caller's heap


def test_ladder_keeps_the_best_run_per_leg(cores):
    cores(4)
    got = scaling_ladder(FakeLeg({1: [100.0, 150.0], 4: [500.0, 420.0]}))
    assert got["ladder"]["1"]["docs_per_sec"] == 150.0
    assert got["ladder"]["4"]["docs_per_sec"] == 500.0
    assert got["scaling_efficiency"] == round(500.0 / (4 * 150.0), 3)
    assert got["pass"] is True


def test_ladder_raises_on_a_parity_mismatch(cores):
    cores(4)
    leg = FakeLeg({1: [1.0, 1.0], 4: [4.0, 4.0]}, parity={3: "other"})
    with pytest.raises(RuntimeError, match="changed the output"):
        scaling_ladder(leg)
    assert len(leg.calls) == 3


def test_ladder_propagates_a_failing_leg(cores):
    cores(4)
    seen = []

    def leg(cpus, env):
        seen.append(env["SPARK_LOCAL_DIRS"])
        raise ValueError("leg died")

    with pytest.raises(ValueError, match="leg died"):
        scaling_ladder(leg)
    assert len(seen) == 1
    assert not os.path.exists(seen[0])


def test_ensure_pages_parquet_leaves_the_active_session_alone(spark, tmp_path):
    keys = ("spark.sql.shuffle.partitions", "spark.sql.files.maxPartitionBytes")
    before = {k: spark.conf.get(k) for k in keys}
    path = ensure_pages_parquet(640, str(tmp_path / "pages"))
    assert spark.read.parquet(path).count() == 640
    assert {k: spark.conf.get(k) for k in keys} == before


@pytest.mark.parametrize(
    "path", sorted(glob.glob(os.path.join(REPO, "scripts", "*.py"))), ids=os.path.basename
)
def test_script_compiles(path, tmp_path):
    py_compile.compile(path, cfile=str(tmp_path / "out.pyc"), doraise=True)


@pytest.mark.parametrize("script", ["bench.py", "scripts/atscale.py", "scripts/diag_dupe_stages.py"])
def test_tool_help_runs(script):
    proc = subprocess.run(
        [sys.executable, script, "--help"], cwd=REPO, capture_output=True, text=True, timeout=120
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.startswith("usage:")
