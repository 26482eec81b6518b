"""What one committed ``run_pipeline`` cycle leaves behind: every job
labelled with its step, no fold cache left persisted, a returned frame
that outlives the pruning of the version it was folded from, and a
state the next cycle opens without a schema-inference job (while a
state committed without a recorded schema still reads through the
inferring path)."""

from __future__ import annotations

import glob
import os
import shutil

import pytest

from rental_data_pipeline_spark.jobs import PipelineConfig, run_pipeline
from rental_data_pipeline_spark.streaming.incremental import (
    _bucket_sources,
    read_state,
    state_version_log,
)
from tests.test_pipeline import _fixtures

# offers 16-20 vanish on cycle 2 (tombstones), 21-25 appear on cycle 3
CYCLE_IDS = [range(1, 21), range(1, 16), range(1, 26), range(3, 26)]
STEPS = {"fold", "write_state_json", "write_csv_snapshot",
         "write_filtered_csv", "commit"}


def _group_jobs(spark, group: str) -> list:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    return [store.job(j) for j in sc.statusTracker().getJobIdsForGroup(group)]


def _rows(df) -> list:
    return sorted(df.collect(), key=repr)


@pytest.fixture(scope="module")
def chain(spark, tmp_path_factory):
    """Four committed cycles on one state; the second runs under a job
    group with the session's caches recorded around it."""
    root = str(tmp_path_factory.mktemp("cycle"))
    state_path = f"{root}/state"
    sc = spark.sparkContext
    jsc = sc._jsc
    cache = spark._jsparkSession.sharedState().cacheManager()
    out: dict = {"state_path": state_path}
    for c, ids in enumerate(CYCLE_IDS):
        args = _fixtures(spark, list(ids))
        if c == 1:
            spark.catalog.clearCache()
            rdds_before = set(jsc.getPersistentRDDs().keys())
            sc.setJobGroup("steady_cycle", "caller's label")
        res = run_pipeline(
            spark, *args, PipelineConfig(), state_path=state_path,
            output_dir=f"{root}/out{c}",
        )
        if c == 1:
            out["description_after"] = sc.getLocalProperty(
                "spark.job.description"
            )
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            out["new_rdds"] = set(jsc.getPersistentRDDs().keys()) - rdds_before
            out["cache_empty"] = cache.isEmpty()
            out["jobs"] = [
                j.description().get() if j.description().isDefined() else None
                for j in _group_jobs(spark, "steady_cycle")
            ]
            out["held"] = res["state"]
            out["held_rows"] = _rows(res["state"])
            out["held_from"] = state_version_log(state_path)[0]["version"]
    return out


def test_steady_cycle_jobs_name_their_step(chain):
    descs = chain["jobs"]
    assert descs, "the steady cycle ran no job under its group"
    assert all(d and d.startswith("pipeline: ") for d in descs), descs
    assert {d.split(": ", 1)[1] for d in descs} >= STEPS, descs
    # the caller's own label is back once the cycle returns
    assert chain["description_after"] == "caller's label"


def test_cycle_leaves_only_its_checkpoint_persisted(chain):
    assert chain["cache_empty"], "a fold cache stayed registered"
    assert len(chain["new_rdds"]) == 1, chain["new_rdds"]


def test_returned_state_outlives_pruning_of_its_source(chain):
    versions = [e["version"] for e in state_version_log(chain["state_path"])]
    assert chain["held_from"] not in versions, versions
    assert _rows(chain["held"]) == chain["held_rows"]


def test_recorded_schema_opens_state_without_a_job(spark, chain):
    state_path = chain["state_path"]
    sc = spark.sparkContext
    sc.setJobGroup("read_state", "read_state")
    try:
        st = read_state(spark, state_path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert _group_jobs(spark, "read_state") == []
    paths, flat = _bucket_sources(state_path, None)
    assert paths and flat is None
    inferred = spark.read.option("mergeSchema", "true").parquet(*paths)
    assert st.schema == inferred.schema  # field order included
    assert _rows(st) == _rows(inferred)


def test_state_without_recorded_schema_reads_through_inference(
    spark, chain, tmp_path
):
    """The layout older commits left: no ``_schema.json`` in any version."""
    state_path = chain["state_path"]
    legacy = str(tmp_path / "state")
    shutil.copytree(state_path, legacy)
    gone = glob.glob(f"{legacy}/v_*/_schema.json")
    assert gone
    for f in gone:
        os.remove(f)
    assert _rows(read_state(spark, legacy)) == _rows(read_state(spark, state_path))
    for entry in state_version_log(legacy):
        v = entry["version"]
        assert _rows(read_state(spark, legacy, as_of_version=v)) == _rows(
            read_state(spark, state_path, as_of_version=v)
        ), v
