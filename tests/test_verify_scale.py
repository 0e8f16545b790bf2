"""The scale verifier's contract: its name tables name registered
queries, its one frame compare catches a single changed value or a
dropped row, and check_parity's shards partition the registry."""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)

from verify_scale import HEAVY, REFERENCES, verdict  # noqa: E402

from check_parity import SKIP, shard_names  # noqa: E402
from spotify_serverless_etl_pipeline_engineering_with_azure_spark import registry  # noqa: E402


def test_reference_and_heavy_names_are_registered():
    registered = set(registry.load_all())
    assert set(REFERENCES) <= registered
    assert set(HEAVY) <= registered
    assert len(HEAVY) == len(set(HEAVY)) == 28
    # every oracle the journaled sweep skips has a scale reference
    assert set(SKIP) <= set(REFERENCES)


def test_frame_compare_fails_on_one_changed_value_or_dropped_row():
    want = pd.DataFrame(
        {
            "doc_id": np.arange(50, dtype=np.int64),
            "score": np.linspace(0.0, 1.0, 50),
            "keep": np.arange(50) % 3 == 0,
        }
    )
    # the engine's frame arrives in another row order: still a pass
    same = verdict("q", want.iloc[::-1].reset_index(drop=True), want, 0.0, 0.0)
    assert same["status"] == "pass" and same["rows"] == 50

    perturbed = want.copy()
    perturbed.loc[17, "score"] = np.nextafter(perturbed.loc[17, "score"], 2.0)
    rec = verdict("q", perturbed, want, 0.0, 0.0)
    assert rec["status"] == "fail" and rec["problems"]

    rec = verdict("q", want.drop(index=31), want, 0.0, 0.0)
    assert rec["status"] == "fail" and rec["problems"]


def test_shards_partition_registry():
    names = list(registry.load_all())
    shards = [shard_names(names, f"{i}/3") for i in range(3)]
    assert sorted(sum(shards, [])) == sorted(names)
    assert sum(map(len, shards)) == len(names)
    assert shard_names(names, "0/1") == names
    for bad in ("3/3", "1", "-1/3", "a/3"):
        with pytest.raises(ValueError):
            shard_names(names, bad)
