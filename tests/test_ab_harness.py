"""scripts/ab.py, the interleaved A/B harness: every arm gets its reps,
arm order rotates by rep, touched confs return to their session values
(also when an arm raises), builder arms replace the registered plan, and
the event-log parser maps job descriptions to stages."""

from __future__ import annotations

import importlib.util
import json
import os
import re

import pytest

from spotify_serverless_etl_pipeline_engineering_with_azure_spark import registry

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location("ab", os.path.join(ROOT, "scripts", "ab.py"))
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

QUERY = "q6_forecast_revenue"
REGISTERED = registry.queries()[QUERY]
SMJ = "spark.sql.join.preferSortMergeJoin"
PARTS = "spark.sql.shuffle.partitions"
ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

# (job description, SMJ conf seen at build time, which builder) per run.
RUNS: list[tuple[str, str | None, str]] = []


def _record(spark, who: str) -> None:
    desc = spark.sparkContext.getLocalProperty("spark.job.description")
    RUNS.append((desc, spark.conf.get(SMJ, None), who))


def candidate(spark, sf_dir):
    """Test-owned builder arm: the registered plan, recorded as its own."""
    _record(spark, "candidate")
    return REGISTERED(spark, sf_dir)


def _recording_registry(probe=None):
    def build(spark, sf_dir):
        _record(spark, "registry")
        if probe is not None:
            probe(spark)
        return REGISTERED(spark, sf_dir)

    return lambda: {QUERY: build}


def _confs(spark, keys):
    return {k: spark.conf.get(k, None) for k in keys}


def test_arm_specs_parse_as_confs_or_builders():
    assert ab.parse_arm("off=spark.a=1; spark.b = x") == (
        "off",
        {"spark.a": "1", "spark.b": "x"},
    )
    assert ab.parse_arm("cand=pkg.mod:fn") == ("cand", "pkg.mod:fn")
    with pytest.raises(ValueError, match="not 'key=value'"):
        ab.parse_arm("bad=spark.foo")
    with pytest.raises(ValueError, match="NAME=SPEC"):
        ab.parse_arm("noname")


def test_conf_aa_and_builder_arms_rotate_and_restore(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(ab.registry, "queries", _recording_registry())
    RUNS.clear()
    before = _confs(spark, (SMJ, PARTS))
    arms = {
        "smj_off": ab.parse_arm(f"smj_off={SMJ}=false")[1],
        "aa": {PARTS: spark.conf.get(PARTS)},  # A/A: the current value
        "cand": f"{__name__}:candidate",
    }
    reps = 3
    rec = ab.run_ab(spark, sf_dir, [QUERY], arms, reps)

    names = ["default", "smj_off", "aa", "cand"]
    assert list(rec["arms"]) == names
    assert rec["reps"] == reps and rec["sf_dir"] == sf_dir
    assert rec["cpus_effective"] == spark.sparkContext.defaultParallelism
    for arm in rec["arms"].values():
        q = arm["queries"][QUERY]
        assert len(q["walls_s"]) == reps
        assert q["min_s"] == min(q["walls_s"]) and q["spread_s"] >= 0
        assert q["min_s"] <= q["median_s"] <= q["min_s"] + q["spread_s"] + 1e-9
        assert arm["sum_median_s"] == q["median_s"] and arm["sum_min_s"] == q["min_s"]

    # One warm-up per arm, then each rep's arm order rotated by one.
    expected = [f"{a}/{QUERY}/warmup" for a in names]
    for rep in range(reps):
        order = names[rep % 4:] + names[: rep % 4]
        expected += [f"{a}/{QUERY}/{rep}" for a in order]
    assert [d for d, _, _ in RUNS] == expected
    # The builder arm ran its own builder, and only it did.
    for desc, smj, who in RUNS:
        arm = desc.split("/")[0]
        assert who == ("candidate" if arm == "cand" else "registry")
        # The conf arm's value is live during its runs only.
        assert smj == ("false" if arm == "smj_off" else before[SMJ])
    assert _confs(spark, (SMJ, PARTS)) == before


def test_touched_confs_restored_after_an_arm_raises(spark, sf_dir, monkeypatch):
    def fail_under_arm(spark):
        if spark.conf.get(ADVISORY, None) == "1m":
            raise RuntimeError("arm failed")

    monkeypatch.setattr(ab.registry, "queries", _recording_registry(fail_under_arm))
    keys = (ADVISORY, SMJ, PARTS)
    before = _confs(spark, keys)
    arms = {"bad": {SMJ: "false", PARTS: "3", ADVISORY: "1m"}}
    with pytest.raises(RuntimeError, match="arm failed"):
        ab.run_ab(spark, sf_dir, [QUERY], arms, 2)
    assert _confs(spark, keys) == before
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None


@pytest.mark.parametrize(
    "key",
    [
        "spark.hadoop.fs.file.impl",
        "spark.hadoop.fs.AbstractFileSystem.file.impl",
        "spark.sql.streaming.checkpointFileManagerClass",
        "spark.python.sql.dataFrameDebugging.enabled",
        "spark.driver.extraClassPath",
    ],
)
def test_conf_arm_fixed_at_boot_is_refused(spark, sf_dir, monkeypatch, key):
    """A conf the session fixed at boot would silently measure the
    default under its arm, so run_ab refuses it before any run."""
    monkeypatch.setattr(ab.registry, "queries", _recording_registry())
    RUNS.clear()
    arms = {"ok": {SMJ: "false"}, "boot": {key: "x"}}
    with pytest.raises(ValueError, match=rf"{re.escape(key)}.*SPARK_GRAFT_EXTRA_CONFS"):
        ab.run_ab(spark, sf_dir, [QUERY], arms, 1)
    assert RUNS == []


def test_builder_arm_needs_exactly_one_query(spark, sf_dir):
    with pytest.raises(ValueError, match="exactly one query"):
        ab.run_ab(spark, sf_dir, [QUERY, QUERY], {"c": f"{__name__}:candidate"}, 1)


def test_stage_parser_reads_synthetic_event_log(tmp_path):
    def acc(name, value):
        return {"ID": 1, "Name": name, "Value": value}

    m = "internal.metrics."
    events = [
        {"Event": "SparkListenerApplicationStart", "App Name": "t"},
        {
            "Event": "SparkListenerJobStart",
            "Job ID": 0,
            "Stage IDs": [0, 1],
            "Properties": {"spark.job.description": "arm/q/0"},
        },
        # A later job of the same run lists an already-run stage again.
        {
            "Event": "SparkListenerJobStart",
            "Job ID": 1,
            "Stage IDs": [1, 2],
            "Properties": {"spark.job.description": "arm/q/0"},
        },
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
        {
            "Event": "SparkListenerStageCompleted",
            "Stage Info": {
                "Stage ID": 0,
                "Stage Name": "scan",
                "Number of Tasks": 4,
                "Submission Time": 1000,
                "Completion Time": 3500,
                "Accumulables": [
                    acc(m + "input.bytesRead", "2048"),
                    acc(m + "shuffle.write.bytesWritten", 512),
                    acc(m + "memoryBytesSpilled", "128"),
                    acc(m + "diskBytesSpilled", "64"),
                    acc("number of output rows", "17"),
                    acc("peak memory", "n/a"),
                ],
            },
        },
        {
            "Event": "SparkListenerStageCompleted",
            "Stage Info": {
                "Stage ID": 1,
                "Stage Name": "agg",
                "Number of Tasks": 8,
                "Submission Time": 4000,
                "Completion Time": 4250,
                "Accumulables": [
                    acc(m + "shuffle.read.localBytesRead", "100"),
                    acc(m + "shuffle.read.remoteBytesRead", "20"),
                ],
            },
        },
        {  # failed stage: never completed
            "Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": 2, "Stage Name": "sink", "Number of Tasks": 2,
                           "Submission Time": 5000, "Accumulables": []},
        },
        {
            "Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": 3, "Stage Name": "other", "Number of Tasks": 1,
                           "Submission Time": 0, "Completion Time": 9000},
        },
    ]
    log = tmp_path / "local-1"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n{truncated")

    got = ab.parse_event_log(str(tmp_path))
    assert list(got) == ["arm/q/0"]  # the undescribed job is dropped
    scan, agg, sink = got["arm/q/0"]
    assert scan == {
        "stage": 0,
        "name": "scan",
        "duration_s": 2.5,
        "tasks": 4,
        "input_b": 2048,
        "shuffle_read_b": 0,
        "shuffle_write_b": 512,
        "spill_b": 192,
    }
    assert (agg["stage"], agg["duration_s"], agg["tasks"]) == (1, 0.25, 8)
    assert agg["shuffle_read_b"] == 120
    assert (sink["stage"], sink["duration_s"], sink["tasks"]) == (2, None, 2)
