"""The bucketed store's snapshot memo: a resolved snapshot frame is reused
for as long as the manifest publish it came from is live, so repeat reads
of an unchanged store run no Spark listing job, and any publish (commit,
no-op batch, or a store re-created at the same path) is seen at once.

The stores here have more live buckets than Spark's parallel
partition-discovery threshold (32 paths), so building a fresh relation
over them runs a listing job — the cost the memo removes."""

from __future__ import annotations

import itertools
import re
import shutil

import pytest

from hierarchical_graph_db_spark.streaming.store import BucketedParquetStore

N_BUCKETS = 40  # > parallelPartitionDiscovery.threshold (32)

_groups = itertools.count()


def _jobs_during(spark, fn):
    """(result of ``fn()``, ids of the Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"store-snapshot-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job ids reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _rows_scanned(spark, df) -> int:
    """Input records the scan of ``df`` read in one collect; a partition
    filter that is not pruned at planning reads every bucket's rows."""
    _, jobs = _jobs_during(spark, df.collect)
    sc = spark.sparkContext
    status = sc._jsc.sc().statusStore()
    return sum(status.lastStageAttempt(sid).inputRecords()
               for jid in jobs
               for sid in sc.statusTracker().getJobInfo(jid).stageIds)


def _batch(spark, tag: str, buckets=range(N_BUCKETS)):
    return spark.createDataFrame(
        [(b, f"{tag}{b}") for b in buckets], "bucket_id int, val string")


def _rows(df) -> set:
    return {(r["bucket_id"], r["val"]) for r in df.collect()}


def _store(spark, tmp_path):
    st = BucketedParquetStore(spark, str(tmp_path / "st"))
    st.commit(0, _batch(spark, "a"))
    return st


def test_second_read_of_unchanged_store_launches_no_job(spark, tmp_path):
    st = _store(spark, tmp_path)
    _, first = _jobs_during(spark, st.read)
    assert len(first) >= 1  # a cold read lists its 40 version dirs with a job
    # a new store object on the same path shares the memo (the lookup path)
    again = BucketedParquetStore(spark, st.path)
    df, second = _jobs_during(spark, again.read)
    assert second == []
    assert _rows(df) == {(b, f"a{b}") for b in range(N_BUCKETS)}


def test_commit_invalidates_memo(spark, tmp_path):
    st = _store(spark, tmp_path)
    assert _rows(st.read()) == {(b, f"a{b}") for b in range(N_BUCKETS)}
    st.commit(1, _batch(spark, "b", [3, 5]))
    want = {(b, "b%d" % b if b in (3, 5) else f"a{b}")
            for b in range(N_BUCKETS)}
    assert _rows(st.read()) == want
    # a no-op batch is a publish too, and still reads the same rows
    st.mark_committed(2)
    assert _rows(st.read()) == want


def test_recreated_store_at_same_path_is_not_served_from_memo(spark,
                                                              tmp_path):
    st = _store(spark, tmp_path)
    assert _rows(st.read()) == {(b, f"a{b}") for b in range(N_BUCKETS)}
    shutil.rmtree(st.path)
    fresh = BucketedParquetStore(spark, st.path)
    fresh.commit(0, _batch(spark, "z", range(4)))  # same path, same batch id
    assert _rows(fresh.read()) == {(b, f"z{b}") for b in range(4)}


def test_bucket_read_from_memo_equals_path_selected_read(spark, tmp_path):
    st = _store(spark, tmp_path)
    wanted = [2, 7, 11]
    cold = st.read(buckets=wanted)  # miss: path-selected, fills nothing
    _, jobs = _jobs_during(spark, st.read)
    assert len(jobs) >= 1  # so the bucket read above did not fill the memo
    warm, jobs = _jobs_during(spark, lambda: st.read(buckets=wanted))
    assert jobs == []
    assert warm.schema == cold.schema
    assert _rows(warm) == _rows(cold) == {(b, f"a{b}") for b in wanted}
    # the partition filter prunes at planning: one row per wanted bucket
    plan = warm._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*bucket_id", plan), plan
    assert _rows_scanned(spark, warm) == _rows_scanned(spark, cold) == 3
    # buckets the store has never seen still give an empty typed frame
    assert st.read(buckets=[999]).count() == 0


def test_as_of_vacuumed_snapshot_still_raises(spark, tmp_path):
    st = _store(spark, tmp_path)
    assert _rows(st.read(as_of=0)) == {(b, f"a{b}") for b in range(N_BUCKETS)}
    st.commit(1, _batch(spark, "b", [0]))
    st.commit(2, _batch(spark, "c", [1]))
    st.vacuum(keep_last=1)
    with pytest.raises(ValueError, match="no snapshot for batch 0"):
        st.read(as_of=0)
    want = {(b, {0: "b0", 1: "c1"}.get(b, f"a{b}")) for b in range(N_BUCKETS)}
    assert _rows(st.read(as_of=2)) == _rows(st.read()) == want


def test_first_read_without_partition_type_inference_keeps_int_bucket(
        spark, tmp_path):
    """The store is read for the first time with inference off, so the
    frame comes from a fresh relation, not from a memoized one built
    while inference was on."""
    st = _store(spark, tmp_path)
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    orig = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df, jobs = _jobs_during(spark, st.read)
        assert len(jobs) >= 1  # a fresh relation, not a memo hit
        assert dict(df.dtypes)["bucket_id"] == "int"
        assert _rows(df) == {(b, f"a{b}") for b in range(N_BUCKETS)}
        part = st.read(buckets=[4, 9])
        assert dict(part.dtypes)["bucket_id"] == "int"
        assert _rows(part) == {(4, "a4"), (9, "a9")}
    finally:
        spark.conf.set(key, orig)
