"""tools/ladder.py without a Spark session: the scenario table, the
registry names its sweeps run, and the row a missing fixture prints."""

from __future__ import annotations

import importlib.util
import json
import os
import re
import subprocess
import sys

from pyspark.sql import SparkSession

LADDER = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "ladder.py")


def _load():
    spec = importlib.util.spec_from_file_location("ladder", LADDER)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


ladder = _load()


def test_import_starts_no_session(monkeypatch):
    def no_session(self):
        raise AssertionError("loading tools/ladder.py started a Spark session")

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", no_session)
    _load()


def test_list_names_every_scenario():
    out = subprocess.run([sys.executable, LADDER, "--list"], capture_output=True,
                         text=True, timeout=120, check=True).stdout
    assert [line.split()[0] for line in out.splitlines()] == list(ladder.SCENARIOS)


def test_bad_arguments_exit_before_spark():
    assert ladder.main(["fuzzy", "3"]) == 2
    assert ladder.main(["queries"]) == 2
    assert ladder.main(["no_such_scenario"]) == 2
    assert ladder.main(["er", "1e6"]) == 2
    assert ladder.main(["er_union", "10000", "10k"]) == 2


def test_swept_registry_names_exist():
    from pos_pipeline_core_etl_spark import registry

    sweeps = re.findall(r"tools/ladder\.py queries (\S+)", ladder.__doc__)
    assert len(sweeps) == 4  # rounds 7, 8, 9 and the round-9 second pass
    swept = {q for csv in sweeps for q in csv.split(",")} | {q for _, q in ladder.S2_LEGS}
    assert swept - set(registry.all_queries()) == set()


def test_missing_fixture_prints_skipped_row(tmp_path, capsys):
    calls = []

    class Result:
        def count(self):
            return 7

    def stub(spark, path):
        calls.append(path)
        return Result()

    here, absent = str(tmp_path), str(tmp_path / "absent")
    ladder.queries(None, "stub", qs={"stub": stub}, notches={"1x": here, "10x": absent})
    rows = [json.loads(line) for line in capsys.readouterr().out.splitlines()]
    assert rows[0]["leg"] == "stub" and rows[0]["notch"] == "1x" and rows[0]["rows"] == 7
    assert rows[1] == {"leg": "stub", "notch": "10x", "skipped": f"fixture missing: {absent}"}
    assert absent not in calls
