"""Tests of the CDC ingest benchmark.

    python3 -m pytest perfbench/test_perfbench.py -q

Small-size runs of every workload must print every metric named in
BENCHMARK.json with its unit, and a deliberately corrupted table or view
must fail the output checks.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)



def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


WORKLOADS = [w["name"] for w in _bench()["workloads"]]


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_small_run_prints_every_metric(workload, trace):
    proc = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "2",
                "--trace", str(trace), "--size", "small")
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    wanted = _bench()["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in wanted}
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values()), result["metrics"]


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run(str(tmp_path), "--workload", "feed_view", "--seed", "1", "--seconds", "1",
                "--trace", "0")
    assert proc.returncode != 0
    assert not proc.stdout.strip()


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyetl_spark.session import get_spark

    local = tmp_path_factory.mktemp("spark-local")
    spark = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2,
                      extra_conf={"spark.ui.showConsoleProgress": "false",
                                  "spark.local.dir": str(local),
                                  "spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=1"})
    yield spark


def _bogus_upsert(events, repo: str, path: str, content: str):
    """An upsert of an existing key that no generated batch holds, with a
    seq above them all."""
    from pyspark.sql import functions as F

    row = events.filter((F.col("repo") == repo) & (F.col("path") == path)).limit(1)
    return row.withColumns({"seq": F.lit(10**9).cast("long"), "op": F.lit("upsert"),
                            "content": F.lit(content)})


def test_corrupted_table_fails_the_oracle_check(spark, tmp_path):
    from jobs.cdc_ingest import default_rules
    from perfbench import checks
    from perfbench.workloads import KEYS
    from pyetl_spark.cdc.datagen import change_events
    from pyetl_spark.cdc.tableio import SnapshotTable
    from pyetl_spark.rules import RuleContext, compile_rules

    events = change_events(spark, 3000, n_repos=20, paths_per_repo=20, seed=5)
    transform = compile_rules(default_rules(), RuleContext())
    table = SnapshotTable.create(spark, str(tmp_path / "t"), keys=KEYS, nbuckets=4)
    table.merge(transform(events), batch_id="b:0", prune=False)
    assert checks.check_against_oracle(events, table.read()) == []

    victim = checks.sample_keys(table.read()).select(*KEYS).first()
    table.merge(transform(_bogus_upsert(events, victim.repo, victim.path, "not what the events say")),
                batch_id="b:1")
    errors = checks.check_against_oracle(events, table.read())
    assert errors and "1 wrong" in errors[0]


def test_corrupted_view_fails_the_view_check(spark, tmp_path):
    from pyspark.sql import functions as F

    from jobs.cdf_view import consume
    from perfbench import checks
    from perfbench.workloads import KEYS
    from pyetl_spark.cdc.datagen import change_events
    from pyetl_spark.cdc.ivm import IncrementalAgg
    from pyetl_spark.cdc.tableio import SnapshotTable

    events = change_events(spark, 2000, n_repos=20, paths_per_repo=20, seed=6).withColumn(
        "bytes", F.length("content").cast("long"))
    base = SnapshotTable.create(spark, str(tmp_path / "base"), keys=KEYS, nbuckets=4)
    base.merge(events, batch_id="b:0", prune=False)
    consume(spark, base.root, str(tmp_path / "view"), ["repo"], ["bytes"])
    view = IncrementalAgg(spark, str(tmp_path / "view"), ["repo"], ["bytes"])
    assert checks.check_view(base.read(), view.state()) == []

    wrong = view.state().limit(1).select(
        "repo", (F.col("count") + 1).alias("count"), "sum_bytes",
        F.lit("upsert").alias("op"), F.lit(10**9).cast("int").alias("seq"))
    view.table.merge(wrong, batch_id="corrupt:0")
    errors = checks.check_view(base.read(), view.state())
    assert errors and errors[0].startswith("view: 1 groups")
