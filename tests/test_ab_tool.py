"""tools/ab.py, the one interleaved A/B tool: run order, the equality gate
before timing, cleared caches before every run, variant resolution and the
streaming layer fields; plus a guard that every tools/<name>.py the code
cites exists."""

from __future__ import annotations

import importlib.util
import json
import os
import re

import pytest

from shuttle_spark import observability as O

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ab():
    spec = importlib.util.spec_from_file_location(
        "ab", os.path.join(REPO, "tools", "ab.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _runs(out: str) -> list[dict]:
    return [
        r for r in map(json.loads, out.splitlines()) if "summary" not in r
    ]


def test_ab_interleaves_rounds_and_summarizes(spark, sf_dir, capsys):
    """Two equal variants (a contract and its builder by module path):
    2 rounds x 2 runs, forward then reversed, and a summary per variant."""
    summary = _ab().main([
        "agg_tpch_q1", "shuttle_spark.contracts:q_agg_tpch_q1",
        "--sf", sf_dir, "--rounds", "2",
    ])
    runs = _runs(capsys.readouterr().out)
    assert [(r["round"], r["variant"]) for r in runs] == [
        (0, 0), (0, 1), (1, 1), (1, 0),
    ]
    for r in runs:
        assert r["wall_s"] > 0 and r["jobs"] >= 1 and r["stages"] >= 1
        assert r["executor_cpu_s"] > 0 and r["executor_run_s"] > 0
    first, second = summary["summary"]
    assert first["wins_vs_first"] == 0 and 0 <= second["wins_vs_first"] <= 2
    for v in (first, second):
        assert v["rounds"] == 2
        assert v["wall_s_q1"] <= v["wall_s_median"] <= v["wall_s_q3"]
        assert v["medians"]["stages"] >= 1
    # the tool never stops a session it did not create
    assert spark.range(3).count() == 3


def test_ab_times_staged_contracts_from_cleared_caches(spark, sf_dir, capsys):
    """ngram_jaccard_pairs reads a session-cached pair relation: the tool
    clears every cache before each run, so every round builds it again
    (the same nonzero stage count, and shuffle bytes, in every round)
    instead of reading what the warm-up left."""
    _ab().main(["ngram_jaccard_pairs", "--sf", sf_dir, "--rounds", "3"])
    runs = _runs(capsys.readouterr().out)
    assert len(runs) == 3
    assert len({r["stages"] for r in runs}) == 1 and runs[0]["stages"] > 0
    assert all(r["shuffle_write_bytes"] > 0 for r in runs)


def test_ab_refuses_to_time_variants_whose_rows_differ(spark, sf_dir, capsys, tmp_path):
    variants = tmp_path / "variants.py"
    variants.write_text(
        "def one(spark, sf):\n    return spark.range(1)\n\n"
        "def two(spark, sf):\n    return spark.range(2)\n"
    )
    with pytest.raises(SystemExit) as e:
        _ab().main([f"{variants}:one", f"{variants}:two", "--sf", sf_dir,
                    "--rounds", "2"])
    assert "differ" in str(e.value.code)
    assert capsys.readouterr().out == ""


def test_ab_counts_each_calls_own_jobs(spark, sf_dir, capsys, tmp_path):
    """Two main() calls in one process read the same per-run job count:
    the second call's job groups hold none of the first call's jobs."""
    variants = tmp_path / "variants.py"
    variants.write_text("def one(spark, sf):\n    return spark.range(10)\n")
    jobs = []
    for _ in range(2):
        _ab().main([f"{variants}:one", "--sf", sf_dir, "--rounds", "2"])
        jobs.append([r["jobs"] for r in _runs(capsys.readouterr().out)])
    assert jobs[0] == jobs[1] == [jobs[0][0]] * 2
    assert jobs[0][0] >= 1


def test_ab_names_an_unknown_contract():
    with pytest.raises(SystemExit) as e:
        _ab().main(["no_such_contract_xyz"])
    assert "no_such_contract_xyz" in str(e.value.code)


def test_ab_reports_streaming_phases(spark, sf_dir, capsys):
    """A stream replay's runs carry its micro-batch phase durations and
    state-store commit/update time from observability.last_replay()."""
    _ab().main(["stream_window_agg", "--sf", sf_dir, "--rounds", "2"])
    runs = _runs(capsys.readouterr().out)
    assert len(runs) == 2
    for r in runs:
        assert r["batches"] >= 1
        assert r["triggerExecution_ms"] > 0 and "addBatch_ms" in r
        assert r["state_commit_ms"] >= 0 and r["state_update_ms"] >= 0
    assert O.last_replay().query_name.startswith("swa_")


_CITED = re.compile(r"(?<![\w:/.-])tools/(\w+)\.py")


def test_cited_tools_exist():
    """Every tools/<name>.py the code cites exists (a citation of a retired
    script names its git revision: ``git show <rev>:tools/<name>.py``)."""
    files = [os.path.join(REPO, "bench.py")]
    for top in ("shuttle_spark", "tools", "tests", "perfbench"):
        for root, _, names in os.walk(os.path.join(REPO, top)):
            files += [os.path.join(root, n) for n in names if n.endswith(".py")]
    cited, missing = set(), []
    for path in files:
        with open(path, encoding="utf-8") as f:
            for name in _CITED.findall(f.read()):
                cited.add(name)
                if not os.path.exists(os.path.join(REPO, "tools", f"{name}.py")):
                    missing.append(f"{os.path.relpath(path, REPO)}: tools/{name}.py")
    assert {"ab", "plan_report"} <= cited
    assert not missing, missing
