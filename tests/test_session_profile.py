"""The benched config must BE the shipped config (VERDICT r8 item 1).

Round 8's committed bench numbers were measured with AQE off and 8 reduce
partitions set locally in bench.py — legitimate small-input tuning, but it
lived in the benchmark harness, so `get_session()` users got a different
config than the committed number.  Round 9 moved the dials into the engine
(session.profile_for_corpus, keyed on corpus size); these tests pin the
contract:

1. the size-aware profile itself (small corpus -> the measured dials,
   large/unknown -> the scale defaults);
2. the precedence chain (defaults < profile < env dials < overrides);
3. the benchmark harnesses use ONLY public engine entry points — no
   bench-local `spark.*` conf literals anywhere in bench.py or
   tools/bench_ratio.py, asserted at source level;
4. the driver heap default: half the host's memory, clamped to [2g, 48g],
   below SPARK_GRAFT_DRIVER_MEM and explicit overrides.
"""

from __future__ import annotations

import os
import re

import pytest

from shuttle_spark import session as S
from shuttle_spark.session import (
    _DEFAULTS,
    _SMALL_CORPUS_BYTES,
    corpus_bytes,
    profile_for_corpus,
    resolve_conf,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF01 = "/root/testdata/sf0.1"


def test_small_corpus_gets_small_profile():
    # the driver's bench SF is MB-scale: the profile must activate
    assert 0 < corpus_bytes(SF01) < _SMALL_CORPUS_BYTES
    prof = profile_for_corpus(SF01)
    assert prof == {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "8",
    }


def test_large_or_unknown_corpus_keeps_scale_defaults(tmp_path):
    assert profile_for_corpus(None) == {}
    assert profile_for_corpus("/nonexistent/dir") == {}
    # empty dir (no data files) -> unknown -> scale defaults
    assert profile_for_corpus(str(tmp_path)) == {}
    # a corpus past the threshold -> scale defaults (sparse file: size
    # without writing 256 MiB of real bytes)
    big = tmp_path / "big.parquet"
    with open(big, "wb") as f:
        f.seek(_SMALL_CORPUS_BYTES + 1)
        f.write(b"\0")
    assert corpus_bytes(str(tmp_path)) > _SMALL_CORPUS_BYTES
    assert profile_for_corpus(str(tmp_path)) == {}


def test_resolve_conf_precedence(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_AQE", raising=False)
    # no data_dir: pure defaults (AQE on, 32 partitions — the scale posture)
    base = resolve_conf()
    assert base["spark.sql.adaptive.enabled"] == "true"
    assert base["spark.sql.shuffle.partitions"] == "32"
    # small corpus: profile overlays the defaults
    small = resolve_conf(SF01)
    assert small["spark.sql.adaptive.enabled"] == "false"
    assert small["spark.sql.shuffle.partitions"] == "8"
    # env dials beat the profile (the documented escape hatch)
    monkeypatch.setenv("SPARK_GRAFT_AQE", "true")
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "16")
    env = resolve_conf(SF01)
    assert env["spark.sql.adaptive.enabled"] == "true"
    assert env["spark.sql.shuffle.partitions"] == "16"
    # explicit overrides beat everything
    over = resolve_conf(SF01, {"spark.sql.shuffle.partitions": "4"})
    assert over["spark.sql.shuffle.partitions"] == "4"
    # non-dial defaults always survive
    assert small["spark.shuffle.checksum.enabled"] == "true"
    assert small["spark.sql.session.timeZone"] == "UTC"


@pytest.mark.parametrize(
    "path", ["bench.py", os.path.join("tools", "bench_ratio.py")]
)
def test_bench_harnesses_use_only_engine_entry_points(path):
    """No bench-local Spark conf: the harness must measure the session the
    engine ships.  A `spark.sql...` (or any `spark.*` conf key) literal in
    the harness source means a dial drifted back out of the engine."""
    with open(os.path.join(ROOT, path)) as f:
        src = f.read()
    # strip comments and docstrings: prose may legitimately mention confs
    src = re.sub(r'"""(?:[^"]|"(?!""))*"""', "", src, flags=re.S)
    src = re.sub(r"#[^\n]*", "", src)
    hits = re.findall(r"[\"']spark\.[A-Za-z0-9_.]+[\"']", src)
    assert hits == [], f"{path} sets Spark conf locally: {hits}"
    assert "data_dir=" in src, f"{path} must pass data_dir= to get_session"


def test_defaults_unchanged_by_profile_module_state():
    # profile_for_corpus must not mutate the shared defaults dict
    before = dict(_DEFAULTS)
    profile_for_corpus(SF01)
    resolve_conf(SF01, {"spark.sql.shuffle.partitions": "2"})
    assert _DEFAULTS == before


@pytest.mark.parametrize(
    "host_gib, want",
    [(1, "2g"), (4, "2g"), (15.6, "7g"), (64, "32g"), (128, "48g"), (512, "48g")],
)
def test_driver_memory_is_half_the_host_clamped(monkeypatch, host_gib, want):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(S, "_host_memory_bytes", lambda: int(host_gib * 2**30))
    assert resolve_conf()["spark.driver.memory"] == want
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert resolve_conf()["spark.driver.memory"] == "3g"
    over = resolve_conf(overrides={"spark.driver.memory": "5g"})
    assert over["spark.driver.memory"] == "5g"
