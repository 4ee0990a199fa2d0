"""Partition-count invariance: the determinism contract says results
are identical regardless of parallelism (fixed-point/decimal
accumulation, content-addressed sampling). Certify it by running
representative queries under two different shuffle-partition settings
and comparing full sorted results — the property that makes the
sf0.01 oracle gate transfer to a 100k-partition cluster."""

from __future__ import annotations

import pytest

from geoparquet_python_spark import registry
from geoparquet_python_spark.operators import kmeans as kmeans_mod

registry.load_all()

CASES = [
    "q_kmeans_centroids",  # driver-loop training, int fixed point
    "q_pq_codes",  # per-subspace codebooks + packed codes
    "q_minhash_lsh_neardup",  # banded LSH + refine
    "q_token_entropy",  # fixed-point ln accumulation
    "q_hash_split_stats",  # content-addressed membership
    # round-5 operators with float scoring / tie-breaks
    "q_bm25_topk",  # fixed-point BM25 contributions + int64 rank order
    "q_mmr_diverse_topk",  # greedy argmax with (score, vec_id) tie-break
    "q_events_gapfill_hourly",  # (ts, event_id) bucket-last + LOCF window
    "q_jaccard_prefix_filter_pairs",  # rarity-ordered prefixes, exact refine
    "q_containment_prefix_filter_pairs",  # asymmetric prefix, direction rule
    "q_neardup_clusters",  # star contraction over the Jaccard pair graph
    # round-5 (late) operators
    "q_semdedup_dropped",  # trained cells + Arrow fixed-point refine
    "q_cdc_merge_upsert",  # (ts, event_id) total-order compaction
    "q_pmi_collocations",  # integer probability-ratio ranking
    "q_pagerank_neardup",  # unrolled int64 power iterations
    "q_weighted_priority_sample",  # A-ES keys, 1e-6-rounded ln, top-k
    "q_maxsim_late_interaction",  # int64 1e-9 max/sum interaction
    # the shared (cosine DESC, cid) top-k order (functions/vector.py)
    "q_ann_topk_ivf",  # trained cells + probe + exact re-rank
    "q_vector_knn_graph",  # corpus-wide in-cell top-k
    "q_hard_negative_mining",  # top-k keyed on neg_id
]


@pytest.mark.parametrize("name", CASES)
def test_partition_count_invariance(spark, sf_dir, name):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    results = []
    try:
        for parts in ("7", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            # the Lloyd trainer's centroid cache memoizes across runs —
            # clear it so each parallelism level actually retrains
            kmeans_mod._CENT_CACHE.clear()
            rows = registry.QUERIES[name](spark, sf_dir).collect()
            results.append(sorted(map(tuple, rows)))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert results[0] == results[1], (
        f"{name} changed results under a different shuffle partition count"
    )


def test_release_dead_checkpoints_frees_only_dead(spark):
    """The dead-checkpoint sweeper (round 12) must free blocks whose
    Python wrapper is gone and must NOT touch a live wrapper (the
    module-cache contract: _ENC_CACHE/_KNN_EDGE_CACHE hold the
    materialized DataFrame itself). A live frame must stay queryable
    after the sweep — its blocks were never unpersisted."""
    from geoparquet_python_spark.functions.exact import (
        materialize,
        release_dead_checkpoints,
    )

    release_dead_checkpoints()  # drain whatever earlier tests left
    live = materialize(spark.range(1000).selectExpr("id", "id * 2 AS y"))
    dead = materialize(spark.range(1000).selectExpr("id", "id * 3 AS z"))
    del dead
    freed = release_dead_checkpoints()
    assert freed >= 1, "the dropped wrapper's blocks were not released"
    # live survived the sweep and is still fully queryable
    assert live.count() == 1000
    freed_again = release_dead_checkpoints()
    assert freed_again == 0, "sweep freed a still-live checkpoint"
    del live
    assert release_dead_checkpoints() >= 1


class _FakeRDD:
    unpersisted = False

    def unpersist(self, blocking):
        self.unpersisted = True


class _FakeFrame:
    """Stands in for a DataFrame in materialize(): localCheckpoint()
    returns a frame whose analyzed plan's rdd() is a _FakeRDD."""

    def localCheckpoint(self):
        from types import SimpleNamespace

        out = _FakeFrame()
        out.rdd = rdd = _FakeRDD()
        plan = SimpleNamespace(rdd=lambda: rdd)
        qe = SimpleNamespace(analyzed=lambda: plan)
        out._jdf = SimpleNamespace(queryExecution=lambda: qe)
        return out


def test_checkpoint_registry_survives_concurrent_sweeps(monkeypatch):
    """ADVICE r13 #3: materialize() from many threads while
    release_dead_checkpoints() sweeps. Every live frame's entry must
    survive — without _LIVE_LOCK, an entry appended between a sweep's
    scan and its rewrite of _LIVE_CHECKPOINTS would be dropped and its
    blocks leaked — and no live frame may be unpersisted. Spark-free:
    fake frames stand in for DataFrames."""
    import sys
    import threading

    from geoparquet_python_spark.functions import exact

    # skip the sweep's full gc pass so sweeps run back to back: every
    # wrapper here stays live, so there is nothing for gc to clear
    monkeypatch.setattr(exact.gc, "collect", lambda: 0)
    live: list = []
    stop = threading.Event()

    def build():
        for _ in range(200):
            live.append(exact.materialize(_FakeFrame()))

    def sweep():
        while not stop.is_set():
            exact.release_dead_checkpoints()

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        sweeper = threading.Thread(target=sweep)
        sweeper.start()
        builders = [threading.Thread(target=build) for _ in range(8)]
        for t in builders:
            t.start()
        for t in builders:
            t.join(timeout=120)
        stop.set()
        sweeper.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not sweeper.is_alive()
    assert not any(t.is_alive() for t in builders)
    assert len(live) == 8 * 200
    registered = {id(ref()) for ref, _ in exact._LIVE_CHECKPOINTS}
    lost = [f for f in live if id(f) not in registered]
    assert not lost, f"{len(lost)} live checkpoints dropped by a sweep"
    assert not any(f.rdd.unpersisted for f in live)
    live.clear()
    exact.release_dead_checkpoints()


def _gen2_collections(fn) -> int:
    """Run ``fn`` with automatic collection off and count the
    generation-2 (full-heap) collections it starts itself."""
    import gc

    starts = []

    def probe(phase, info):
        if phase == "start" and info["generation"] == 2:
            starts.append(info)

    was_enabled = gc.isenabled()
    gc.disable()
    gc.callbacks.append(probe)
    try:
        fn()
    finally:
        gc.callbacks.remove(probe)
        if was_enabled:
            gc.enable()
    return len(starts)


def test_release_frees_a_wrapper_held_only_by_a_cycle(monkeypatch):
    """A wrapper kept alive only by a reference cycle is freed by one
    release: the sweep collects when some wrapper is still alive."""
    from geoparquet_python_spark.functions import exact

    monkeypatch.setattr(exact, "_LIVE_CHECKPOINTS", [])
    monkeypatch.setattr(exact, "_drop_sink_views", lambda: None)
    frame = exact.materialize(_FakeFrame())
    frame.cycle = frame
    rdd = frame.rdd
    del frame
    assert exact.release_dead_checkpoints() == 1
    assert rdd.unpersisted
    assert exact._LIVE_CHECKPOINTS == []


def test_release_skips_full_collection_when_nothing_is_alive(monkeypatch):
    """An empty registry, or one whose wrappers are all dead by
    refcount, is swept without a generation-2 collection, and every dead
    checkpoint is still freed."""
    from geoparquet_python_spark.functions import exact

    monkeypatch.setattr(exact, "_LIVE_CHECKPOINTS", [])
    monkeypatch.setattr(exact, "_drop_sink_views", lambda: None)
    freed = []
    assert _gen2_collections(lambda: freed.append(exact.release_dead_checkpoints())) == 0
    assert freed == [0]

    frames = [exact.materialize(_FakeFrame()) for _ in range(5)]
    rdds = [f.rdd for f in frames]
    del frames
    assert _gen2_collections(lambda: freed.append(exact.release_dead_checkpoints())) == 0
    assert freed == [0, 5]
    assert all(r.unpersisted for r in rdds)
    assert exact._LIVE_CHECKPOINTS == []


def test_release_collects_outside_the_registry_lock(monkeypatch):
    """With a live wrapper the sweep still collects, but never while it
    holds ``_LIVE_LOCK``: a threaded ``materialize()`` must not wait
    behind a full-heap collection."""
    from geoparquet_python_spark.functions import exact

    monkeypatch.setattr(exact, "_LIVE_CHECKPOINTS", [])
    monkeypatch.setattr(exact, "_drop_sink_views", lambda: None)
    held = []
    monkeypatch.setattr(exact.gc, "collect", lambda: held.append(exact._LIVE_LOCK.locked()))
    live = exact.materialize(_FakeFrame())
    assert exact.release_dead_checkpoints() == 0
    assert held == [False]
    assert not live.rdd.unpersisted


def test_prepare_is_atomic_across_threads(spark):
    """ADVICE r13 #2: build_concurrently legs reach session.prepare (via
    load_table) from several threads at once. On a session reset to the
    stock "200", every thread must return without error and then read
    the same sized shuffle-partition count."""
    import sys
    import threading

    from geoparquet_python_spark.session import prepare

    key = "spark.sql.shuffle.partitions"
    want = str(max(2 * spark.sparkContext.defaultParallelism, 16))
    start = threading.Barrier(8)
    seen: list = []
    errors: list = []

    def run():
        try:
            start.wait()
            prepare(spark)
            seen.append(spark.conf.get(key))
        except BaseException as e:  # noqa: BLE001 — asserted below
            errors.append(e)

    old = spark.conf.get(key)
    old_switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    spark.conf.set(key, "200")
    try:
        threads = [threading.Thread(target=run) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old_switch)
        spark.conf.set(key, old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert seen == [want] * 8, seen


def test_spread_skips_exchange_when_splits_suffice(spark):
    """The r12 spread() guard: a source that already plans >= default
    parallelism partitions passes through untouched (no round-robin
    exchange), while a narrow source is still repartitioned up."""
    from geoparquet_python_spark.functions.exact import spread

    par = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 10_000, 1, numPartitions=par * 2)
    assert spread(wide) is wide
    narrow = spark.range(0, 10_000, 1, numPartitions=1)
    out = spread(narrow)
    assert out is not narrow
    assert out.rdd.getNumPartitions() == par
    assert out.agg({"id": "sum"}).collect()[0][0] == narrow.agg(
        {"id": "sum"}
    ).collect()[0][0]


def test_star_contraction_releases_round_checkpoints(spark):
    """Every round of star_contraction_components checkpoints through
    materialize(), so once its result is dropped the dead-checkpoint
    sweep frees those blocks: no RDD persisted during the run stays
    persistent. (Ids, not a count: RDDs that earlier tests left to
    Spark's asynchronous cleaner may vanish meanwhile.)"""
    import gc

    from geoparquet_python_spark.functions.exact import release_dead_checkpoints
    from geoparquet_python_spark.operators.dedup import star_contraction_components

    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    gc.collect()
    release_dead_checkpoints()  # drain whatever earlier tests left
    before = persistent()
    chain = spark.createDataFrame([(i, i + 1) for i in range(20)], ["a", "b"])
    labels = star_contraction_components(chain)
    assert {r.label for r in labels.collect()} == {0}
    assert persistent() - before, "the run persisted no checkpoint"
    del labels
    gc.collect()
    assert release_dead_checkpoints() >= 1
    assert not persistent() - before


def test_sql_queries_leave_no_temp_views(spark, sf_dir):
    """The spark.sql-over-frames queries bind their inputs by name, so
    running them leaves the session's temp views as they were."""
    catalog = spark._jsparkSession.sessionState().catalog()

    def views():
        v = catalog.listLocalTempViews("*")
        return sorted(v.apply(i).table() for i in range(v.size()))

    before = views()
    for name in (
        "q_correlated_subquery_balance",
        "q_lateral_topk_suppliers",
        "q_udtf_tokens",
        "q_reachable_event_types",
        "q_grouping_sets_sql",
        "q_geo_sql_pushdown_window",
    ):
        registry.QUERIES[name](spark, sf_dir).collect()
    assert views() == before
