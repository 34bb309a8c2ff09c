"""scripts/ab.py, the A/B-and-profile tool: it runs on the test session,
reports wall time, the benchmark's job counters and the build's cost per
arm, leaves the session's conf as it found it, and refuses arms whose rows
differ."""

from __future__ import annotations

import importlib.util
import os

import pytest

from tests.conftest import SF_DIR

_AB_PATH = os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "ab.py")


@pytest.fixture(scope="module")
def ab():
    spec = importlib.util.spec_from_file_location("ab", _AB_PATH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_compare_reports_counters_per_arm_and_restores_conf(spark, ab, monkeypatch):
    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    assert before == "true"
    seen, real_run = [], ab.run

    def recording_run(name, session, sf_dir):
        seen.append(session.conf.get(key))
        return real_run(name, session, sf_dir)

    monkeypatch.setattr(ab, "run", recording_run)
    arms = [{}, {key: "false"}]
    res = ab.compare(spark, SF_DIR, ["q1_pricing_summary"], arms, reps=1)
    assert spark.conf.get(key) == before
    # rows, warmup, one timed rep: every run of the default arm sees the
    # entry value, not the conf the other arm left behind
    assert seen == [before, "false"] * 3
    per_arm = res["q1_pricing_summary"]
    assert list(per_arm) == ["default", f"{key}=false"]
    for rec in per_arm.values():
        assert set(rec) == {
            "rows", "wall_s", "wall_median", "wall_q1", "wall_q3", *ab.COUNTERS, *ab.BUILD
        }
        assert rec["rows"] > 0 and len(rec["wall_s"]) == 1
        assert rec["jobs"] >= 1
        assert rec["shuffle_write_bytes"] > 0
        # the build census: a SQL query's build is driver-side work only
        assert rec["build_round_trips"] > 0 and rec["build_jobs"] == 0
        assert 0 < rec["build_s"] < rec["wall_median"]
    # a second call counts only its own jobs
    again = ab.compare(spark, SF_DIR, ["q1_pricing_summary"], [{}], reps=1)
    assert again["q1_pricing_summary"]["default"]["jobs"] == per_arm["default"]["jobs"]


def test_arms_with_different_rows_fail(ab):
    ab.check_equal("q", {"a": [(1, "x")], "b": [(1, "x")]})
    with pytest.raises(SystemExit, match="rows differ"):
        ab.check_equal("q", {"a": [(1, "x")], "b": [(1, "y")]})
