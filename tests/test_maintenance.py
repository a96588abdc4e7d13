"""Index-maintenance safety (round 13): compaction crash recovery and
stream-server probes surviving a concurrent compaction's swap window."""

import os
import threading

import pytest

from sgdnet_spark.operators import bm25
from sgdnet_spark.operators.maintenance import recover_partitioned
from sgdnet_spark.streaming.bm25_stream import Bm25StreamServer


@pytest.fixture(scope="module")
def corpus(spark):
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": [
            "spark table scan fast fast",
            "table join join join slow",
            "window agg group by window",
            "unrelated words entirely here now",
        ],
    }))


def _queries(spark):
    return spark.createDataFrame(
        [("qa", "table fast"), ("qb", "join window")],
        "query_id string, q_text string",
    )


def test_recover_partitioned_repairs_crash_state(spark, corpus, tmp_path):
    """A compaction that died between the two renames leaves <dir>
    missing and <dir>.old intact; recover_partitioned restores it, and
    simply re-running the compaction ALSO restores it (the docstring's
    recovery claim, now true at entry)."""
    path = str(tmp_path / "bm25_crash")
    bm25.write_bm25_index(corpus, path)
    q = _queries(spark)
    want, _ = bm25.bm25_topk_indexed(spark, path, q, k=3)
    want = {tuple(r) for r in want.collect()}

    postings = f"{path}/postings"
    # healthy dir: recovery is a no-op
    assert recover_partitioned(spark, postings) is False
    # simulate the crash window: live dir staged aside, install never ran
    os.rename(postings, f"{postings}.old")
    assert recover_partitioned(spark, postings) is True
    got, _ = bm25.bm25_topk_indexed(spark, path, q, k=3)
    assert {tuple(r) for r in got.collect()} == want

    # same crash state, repaired by re-running the compaction itself
    os.rename(postings, f"{postings}.old")
    bm25.compact_bm25_index(spark, path)
    assert not os.path.exists(f"{postings}.old")
    got2, _ = bm25.bm25_topk_indexed(spark, path, q, k=3)
    assert {tuple(r) for r in got2.collect()} == want


def test_stream_probe_retries_through_crash_window(spark, corpus, tmp_path):
    """A foreachBatch probe landing after a crashed swap (live dir
    missing, .old intact) must not fail the batch: the bounded retry
    repairs the directory via recover_partitioned and answers equal
    batch results."""
    path = str(tmp_path / "bm25_retry")
    bm25.write_bm25_index(corpus, path)
    q = _queries(spark)
    batch, _ = bm25.bm25_topk_indexed(spark, path, q, k=3)
    want = {tuple(r) for r in batch.collect()}

    server = Bm25StreamServer(spark, path, k=3)
    postings = f"{path}/postings"
    os.rename(postings, f"{postings}.old")
    server.respond(q, batch_id=0)
    assert {tuple(r) for r in server.results} == want
    assert os.path.exists(postings)


def test_compact_mid_stream_results_stable(spark, corpus, tmp_path):
    """Compaction running concurrently with streamed probes: every
    micro-batch still answers, and streamed == batch throughout
    (values never change — compaction is layout-only; transient
    missing-path windows are absorbed by the probe retry)."""
    path = str(tmp_path / "bm25_midstream")
    bm25.write_bm25_index(corpus, path)
    # a few appends fragment the layout so compaction has work to do
    for _ in range(3):
        bm25.append_bm25_index(spark, path, corpus.limit(0))
    q = _queries(spark)
    batch, _ = bm25.bm25_topk_indexed(spark, path, q, k=3)
    want = {tuple(r) for r in batch.collect()}

    server = Bm25StreamServer(spark, path, k=3)
    err: list = []

    def compact():
        try:
            bm25.compact_bm25_index(spark, path)
        except Exception as e:  # pragma: no cover — fail the test below
            err.append(e)

    t = threading.Thread(target=compact)
    t.start()
    for i in range(6):
        server.results.clear()
        server.respond(q, batch_id=i)
        assert {tuple(r) for r in server.results} == want
    t.join()
    assert not err
    got, _ = bm25.bm25_topk_indexed(spark, path, q, k=3)
    assert {tuple(r) for r in got.collect()} == want


def test_clear_table_cache_invalidates_rewritten_dir(spark, tmp_path):
    """_t pins a table's file listing at handle creation (the immutable-
    input invariant); clear_table_cache(path) must drop the handle so a
    reader after an in-place rewrite sees the new files, and
    compact_partitioned must invoke it automatically (round 14)."""
    from sgdnet_spark import queries as Q
    from sgdnet_spark.operators.maintenance import compact_partitioned

    sf_dir = str(tmp_path)
    tdir = os.path.join(sf_dir, "t.parquet")
    spark.range(5).coalesce(2).write.parquet(tdir)
    assert Q._t(spark, sf_dir, "t").count() == 5
    key = (spark.sparkContext.applicationId, sf_dir, "t")
    assert key in Q._T_CACHE

    # targeted invalidation by table-file path and by sf_dir both hit,
    # whatever the spelling of the path
    Q.clear_table_cache(tdir)
    assert key not in Q._T_CACHE
    Q._t(spark, sf_dir, "t")
    Q.clear_table_cache(sf_dir)
    assert key not in Q._T_CACHE
    for spelling in (tdir + "/", os.path.join(sf_dir, "..", os.path.basename(sf_dir), "t.parquet")):
        Q._t(spark, sf_dir, "t")
        Q.clear_table_cache(spelling)
        assert key not in Q._T_CACHE, spelling

    # compact_partitioned rewrites the dir in place and must clear the
    # handle itself: the fresh _t read sees the compacted layout
    h = Q._t(spark, sf_dir, "t")
    assert h.count() == 5
    compact_partitioned(spark, tdir, None)
    assert key not in Q._T_CACHE
    assert Q._t(spark, sf_dir, "t").count() == 5

    # clear_table_cache(None) drops everything for this app
    Q._t(spark, sf_dir, "t")
    Q.clear_table_cache()
    assert not any(k[0] == spark.sparkContext.applicationId and k[1] == sf_dir
                   for k in Q._T_CACHE)
