"""RclipServerApi's pinned live (id, vector) frame: one cached frame per
instance, keyed on the table directory's identity, re-pinned after every
engine write, and safe beside a concurrent censor."""

import json
import threading

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameReader

from conftest import spark_jobs
from rclip_server_spark import pipelines
from rclip_server_spark.api import RclipServerApi
from rclip_server_spark.plans.combinator import resolve_query
from rclip_server_spark.plans.embedder import DeterministicEmbedder
from rclip_server_spark.sources import writer

E = DeterministicEmbedder(64)


def _index(spark, d, names, table=None):
    meta = d / f"meta_{names[0]}.ndjson"
    with open(meta, "w") as f:
        for n in names:
            f.write(json.dumps({"url": f"http://img.example/commons/600px-{n}.jpg"}) + "\n")
    table = table or str(d / "images")
    pipelines.index_images(spark, str(meta), table)
    return table


@pytest.fixture()
def api(spark, tmp_path):
    table = _index(spark, tmp_path, [f"pic_{i}" for i in range(24)])
    a = RclipServerApi(spark, table, E, censorship_key="k")
    yield a
    a.close()


def _pinned_rdds(spark, before: set) -> list:
    """Cached RDDs (id, cached partitions, partitions) created since
    ``before`` was taken."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    storage = sc._jsc.sc().getRDDStorageInfo()
    return [(s.id(), s.numCachedPartitions(), s.numPartitions())
            for s in storage if s.id() not in before]


def _rdd_ids(spark) -> set:
    return {s.id() for s in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_repeat_search_runs_one_job_and_opens_nothing(spark, api, monkeypatch):
    first = api.search_api("zebra -stripes")
    opens = []
    real = DataFrameReader.parquet
    monkeypatch.setattr(DataFrameReader, "parquet",
                        lambda self, *a, **k: opens.append(a) or real(self, *a, **k))
    with spark_jobs(spark) as jobs:
        again = api.search_api("zebra -stripes")
    assert again == first
    assert len(jobs) == 1
    assert opens == []


def test_external_writes_are_seen_by_the_next_request(spark, api, tmp_path):
    assert len(api.search_api("zebra", num=100)) == 24
    _index(spark, tmp_path, [f"more_{i}" for i in range(6)], table=api.table_path)
    assert len(api.search_api("zebra", num=100)) == 30
    row = spark.read.parquet(api.table_path).limit(1)
    twin = row.first()["id"]  # 424242 copies its vector
    new = (row.withColumn("id", F.lit(424242).cast("long"))
           .withColumn("filepath", F.lit("http://img.example/commons/600px-new.jpg")))
    writer.upsert_parquet(spark, api.table_path, new, key="filepath")
    assert 424242 in {i for i, _ in api.search_api("zebra", num=100)}
    # and the image_id point lookup reads the new pin too
    top = api.search_api('{"image_id": 424242}', num=2)
    assert {i for i, _ in top} == {424242, twin}


def test_cycles_hold_one_pin_and_close_drops_it(spark, api):
    before = _rdd_ids(spark)
    ids = [i for i, _ in api.search_api("zebra", num=100)]
    for i in ids[:20]:
        assert i in {j for j, _ in api.search_api("zebra", num=100)}
        api.censor(i, "k")
    pinned = _pinned_rdds(spark, before)
    assert len(pinned) == 1
    _, cached, parts = pinned[0]
    assert cached == parts > 0
    assert api.reload() == len(ids) - 20
    assert len(_pinned_rdds(spark, before)) == 1
    api.close()
    assert _pinned_rdds(spark, before) == []


def test_reload_keeps_the_sessions_other_cached_frames(spark, api):
    api.search_api("zebra")
    before = _rdd_ids(spark)
    other = spark.range(10).cache()
    other.count()
    (held,) = _pinned_rdds(spark, before)
    api.reload()
    assert held in _pinned_rdds(spark, before)
    other.unpersist()


def test_search_beside_censor_loop_answers_from_one_table_state(spark, api):
    """Two search threads beside a censor loop: no request fails, and
    every answer is the exact top-k of the live set before or after some
    censor."""
    tbl = pq.read_table(api.table_path, columns=["id", "vector"])
    ids = np.asarray(tbl.column("id").to_numpy(), dtype=np.int64)
    m = np.asarray(tbl.column("vector").to_pylist(), dtype=np.float64)
    censored = [int(i) for i in ids[::3][:8]]
    queries = ["zebra", "lion -cat", "dog +2bird", "fish -zebra", "cat"]
    k = 5

    def exact(q, gone):
        qv = resolve_query(q, E)
        live = ~np.isin(ids, list(gone))
        s = m[live] @ qv
        order = np.lexsort((ids[live], -s))[:k]
        return [int(i) for i in ids[live][order]], s[order]

    states = [censored[:n] for n in range(len(censored) + 1)]
    answers, errors = [], []
    done = threading.Event()

    def reader(r):
        n = 0
        while not done.is_set() or n < 2:
            q = queries[(n + r) % len(queries)]
            try:
                answers.append((q, api.search_api(q, num=k)))
            except Exception as e:  # noqa: BLE001 — every failure counts
                errors.append(repr(e))
            n += 1

    threads = [threading.Thread(target=reader, args=(r,)) for r in range(2)]
    for t in threads:
        t.start()
    try:
        for i in censored:
            api.censor(i, "k")
    finally:
        done.set()
        for t in threads:
            t.join()
    assert errors == []
    assert len(answers) >= 4
    for q, got in answers:
        got_ids = [i for i, _ in got]
        match = [exact(q, gone) for gone in states]
        hit = [s for want, s in match if want == got_ids]
        assert hit, f"{q}: {got_ids} is no censor state's top-{k}"
        assert np.allclose([s for _, s in got], hit[0], atol=1e-9)
