"""bench.families is the one definition of the bench families: every
family's prebuild and plan must build, and the family set is the one
the committed bench artifacts report (30 names under the feature
freeze). Plans are resolved, never materialized; maintained-index
state goes under tmp_path."""

from __future__ import annotations

import json
import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402


def test_family_names_match_the_committed_artifact(spark, sf_dir):
    with open(os.path.join(REPO, "BENCH_r16.json")) as fh:
        committed = json.load(fh)["parsed"]["queries"]
    names = list(bench.families(spark, sf_dir))
    assert len(names) == 30
    assert set(names) == set(committed)


def test_every_family_builds(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for name, (run, prebuild) in bench.families(spark, sf_dir).items():
        if prebuild:
            prebuild()
        assert run().schema.fields, name
