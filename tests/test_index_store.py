"""Atomic-compaction + writer-fencing tests for the persisted-index
manifest layer (operators/index_store.py) across all three index
families (dedup, BM25, ANN).

The crash-injection tests kill the compaction between EVERY pair of
filesystem operations (_fault_point cut points) and prove the
invariant the manifest design guarantees: a reader always resolves a
complete, consistent key set — the pre-compaction layout or the
post-compaction layout, never a torn middle — and a subsequent clean
compaction plus a further ingest epoch still work.

The fencing tests prove the committed high-water mark discipline:
epoch gaps RAISE, duplicate/out-of-order deliveries of an already
committed epoch are VERIFIED no-ops (identical data passes and
returns identical results; different data under a committed batch_id
raises), and a replay older than the compaction floor raises because
its as-of state no longer exists.
"""

from __future__ import annotations

import shutil

import pytest

from graphlite_spark.operators import index_store


@pytest.fixture(autouse=True)
def _disarm_faults():
    yield
    index_store._FAULT_AFTER = None
    index_store._ops_seen = 0


def _arm(n: int) -> None:
    index_store._FAULT_AFTER = n
    index_store._ops_seen = 0


def _count_ops(fn) -> int:
    """Run fn with a never-firing fault counter and report how many
    cut points it passed."""
    _arm(10 ** 9)
    try:
        fn()
    finally:
        n = index_store._ops_seen
        index_store._FAULT_AFTER = None
        index_store._ops_seen = 0
    return n


# ---------------------------------------------------------------------------
# family harnesses: build + 2 epochs, an answer probe, a next epoch
# ---------------------------------------------------------------------------

def _dedup_setup(spark, path):
    from pyspark.sql import functions as F  # noqa: F401

    from graphlite_spark.operators.dedup import (
        build_dedup_index,
        dedup_index_ingest_batch,
    )

    hist = spark.createDataFrame(
        [(1, "alpha bravo common words here"),
         (2, "entirely different sentence content")],
        "doc_id long, text string")
    build_dedup_index(hist, path, n=3, num_hashes=64, bands=16)
    ep1 = spark.createDataFrame(
        [(10, "fresh epoch one content okay")],
        "doc_id long, text string")
    ep2 = spark.createDataFrame(
        [(20, "brand new second epoch text")],
        "doc_id long, text string")
    dedup_index_ingest_batch(ep1, path, batch_id=1)
    dedup_index_ingest_batch(ep2, path, batch_id=2)


def _dedup_probe(spark, path):
    from graphlite_spark.operators.dedup import dedup_against_index

    probe = spark.createDataFrame(
        [(90, "fresh epoch one content okay"),
         (91, "alpha bravo common words here"),
         (92, "brand new second epoch text"),
         (93, "never seen text at all here")],
        "doc_id long, text string")
    return sorted(r.doc_id for r in
                  dedup_against_index(probe, path).collect())


def _dedup_compact(spark, path):
    from graphlite_spark.operators.dedup import compact_dedup_index

    compact_dedup_index(spark, path)


def _dedup_next_epoch(spark, path):
    from graphlite_spark.operators.dedup import dedup_index_ingest_batch

    ep3 = spark.createDataFrame(
        [(30, "a third epoch novel document")],
        "doc_id long, text string")
    return sorted(r.doc_id for r in dedup_index_ingest_batch(
        ep3, path, batch_id=3).collect())


def _bm25_setup(spark, path):
    from graphlite_spark.operators.text import (
        bm25_index_ingest_batch,
        build_bm25_index,
    )

    c1 = spark.createDataFrame(
        [(1, "spark shuffles data across executors"),
         (2, "parquet stores columnar data")],
        "doc_id long, text string")
    build_bm25_index(c1, path)
    c2 = spark.createDataFrame(
        [(3, "spark reads parquet data fast")],
        "doc_id long, text string")
    c3 = spark.createDataFrame(
        [(4, "executors cache data in memory")],
        "doc_id long, text string")
    bm25_index_ingest_batch(c2, path, batch_id=1)
    bm25_index_ingest_batch(c3, path, batch_id=2)


def _bm25_probe(spark, path):
    from graphlite_spark.operators.text import bm25_search_indexed

    return [(r.doc_id, r.score) for r in bm25_search_indexed(
        spark, path, ["spark", "data"], k=10).collect()]


def _bm25_compact(spark, path):
    from graphlite_spark.operators.text import compact_bm25_index

    compact_bm25_index(spark, path)


def _bm25_next_epoch(spark, path):
    from graphlite_spark.operators.text import bm25_index_ingest_batch

    c4 = spark.createDataFrame(
        [(5, "memory pressure spills data to disk")],
        "doc_id long, text string")
    return bm25_index_ingest_batch(c4, path, batch_id=3)


def _ann_vecs(spark, ids):
    return spark.createDataFrame(
        [(i, [float(i % 3) + 0.25, float(i % 5) - 1.5, 0.5 * i]) for i in ids],
        "vec_id long, embedding array<double>")


def _ann_setup(spark, path):
    from graphlite_spark.operators.similarity import (
        ann_index_ingest_batch,
        build_rescore_index,
    )

    build_rescore_index(_ann_vecs(spark, range(8)), path, bits=8)
    ann_index_ingest_batch(_ann_vecs(spark, range(8, 12)), path, batch_id=1)
    ann_index_ingest_batch(_ann_vecs(spark, range(12, 15)), path, batch_id=2)


def _ann_probe(spark, path):
    from graphlite_spark.operators.similarity import rescore_topk_indexed

    items = _ann_vecs(spark, range(15))
    queries = spark.createDataFrame(
        [(100, [1.0, 0.5, 2.0])], "query_id long, embedding array<double>")
    return [(r.query_id, r.item_id, r.score) for r in rescore_topk_indexed(
        items, queries, path, k=4, candidate_fraction=1.0).collect()]


def _ann_compact(spark, path):
    from graphlite_spark.operators.similarity import compact_ann_index

    compact_ann_index(spark, path)


def _ann_next_epoch(spark, path):
    from graphlite_spark.operators.similarity import ann_index_ingest_batch

    return ann_index_ingest_batch(_ann_vecs(spark, range(15, 17)), path,
                                  batch_id=3)


_FAMILIES = {
    "dedup": (_dedup_setup, _dedup_probe, _dedup_compact,
              _dedup_next_epoch),
    "bm25": (_bm25_setup, _bm25_probe, _bm25_compact, _bm25_next_epoch),
    "ann": (_ann_setup, _ann_probe, _ann_compact, _ann_next_epoch),
}


@pytest.mark.full_tier
@pytest.mark.parametrize("family", sorted(_FAMILIES))
def test_compaction_crash_injection_every_cut_point(
        spark, tmp_path, family):
    """Kill the compaction between every pair of FS operations: after
    every cut the reader still sees the full, consistent key set
    (answers unchanged), and a clean re-run of the compaction plus a
    further ingest epoch both succeed."""
    setup, probe, compact, next_epoch = _FAMILIES[family]
    golden = str(tmp_path / "golden")
    setup(spark, golden)
    expected = probe(spark, golden)
    assert expected  # the probe must actually measure something
    n_ops = _count_ops(lambda: compact(spark, golden))
    assert n_ops >= 3  # writes + manifest commit + GC are all cut points
    assert probe(spark, golden) == expected  # compaction preserved answers

    for cut in range(n_ops):
        trial = str(tmp_path / f"trial_{cut}")
        shutil.rmtree(trial, ignore_errors=True)
        setup(spark, trial)
        _arm(cut)
        with pytest.raises(index_store.InjectedCrash):
            compact(spark, trial)
        index_store._FAULT_AFTER = None
        # invariant: a reader post-crash sees a complete layout
        assert probe(spark, trial) == expected, f"cut {cut}: torn read"
        # recovery: a clean compaction just works (self-healing GC)
        compact(spark, trial)
        assert probe(spark, trial) == expected, f"cut {cut}: post-recover"
        # and the epoch loop keeps going on the compacted index
        next_epoch(spark, trial)


def test_manifest_commit_is_one_rename_and_readers_skip_tmp(
        spark, tmp_path):
    path = str(tmp_path / "idx")
    _dedup_setup(spark, path)
    m = index_store.read_manifest(spark, path)
    assert m is not None and m["hwm"] == 2
    # a leftover temp file from a crashed commit is ignored by readers
    jvm, fs = index_store._fs(spark, path)
    tmp = index_store._jp(
        jvm, f"{path}/{index_store.MANIFEST_DIR}/.tmp-99999.json")
    index_store._write_small_file(fs, tmp, b"{ partial garbage")
    assert index_store.read_manifest(spark, path)["hwm"] == 2
    # committing an already-taken sequence number raises (lost race)
    with pytest.raises(RuntimeError, match="concurrent index writer"):
        index_store.commit_manifest(spark, path, dict(m))


def test_epoch_gap_raises(spark, tmp_path):
    from graphlite_spark.operators.dedup import dedup_index_ingest_batch

    path = str(tmp_path / "idx")
    _dedup_setup(spark, path)  # hwm = 2
    ep = spark.createDataFrame([(40, "gap epoch text content")],
                               "doc_id long, text string")
    with pytest.raises(ValueError, match="epoch gap"):
        dedup_index_ingest_batch(ep, path, batch_id=4)


def test_replay_identical_is_verified_noop(spark, tmp_path):
    from graphlite_spark.operators.dedup import dedup_index_ingest_batch

    path = str(tmp_path / "idx")
    _dedup_setup(spark, path)
    ep2 = spark.createDataFrame(
        [(20, "brand new second epoch text")],
        "doc_id long, text string")
    before = _dedup_probe(spark, path)
    hwm_before = index_store.read_manifest(spark, path)["hwm"]
    # out-of-order re-delivery of the committed epoch 2 with the SAME
    # data: verified no-op, identical survivors, no new commit
    got = sorted(r.doc_id for r in dedup_index_ingest_batch(
        ep2, path, batch_id=2).collect())
    assert got == [20]
    assert _dedup_probe(spark, path) == before
    assert index_store.read_manifest(spark, path)["hwm"] == hwm_before


def test_replay_with_different_data_raises(spark, tmp_path):
    from graphlite_spark.operators.dedup import dedup_index_ingest_batch

    path = str(tmp_path / "idx")
    _dedup_setup(spark, path)
    imposter = spark.createDataFrame(
        [(99, "an imposter batch under a committed id")],
        "doc_id long, text string")
    with pytest.raises(ValueError, match="replay verification failed"):
        dedup_index_ingest_batch(imposter, path, batch_id=2)
    # and the failed delivery wrote NOTHING
    assert _dedup_probe(spark, path) == _dedup_probe(spark, path)
    assert index_store.read_manifest(spark, path)["hwm"] == 2


def test_replay_below_compaction_floor_raises(spark, tmp_path):
    from graphlite_spark.operators.dedup import (
        compact_dedup_index,
        dedup_index_ingest_batch,
    )

    path = str(tmp_path / "idx")
    _dedup_setup(spark, path)
    compact_dedup_index(spark, path)  # delta_floor = 2
    ep2 = spark.createDataFrame(
        [(20, "brand new second epoch text")],
        "doc_id long, text string")
    with pytest.raises(ValueError, match="folded into the compacted"):
        dedup_index_ingest_batch(ep2, path, batch_id=2)


@pytest.mark.full_tier
def test_epoch_crash_before_commit_replays_as_run(spark, tmp_path):
    """Crash an ingest epoch between its delta writes and its manifest
    commit: the partitions sit above hwm (invisible to readers), and
    the re-delivery runs as a NORMAL epoch, overwrites them, and
    commits — final state identical to one clean run."""
    from graphlite_spark.operators.dedup import dedup_index_ingest_batch

    path = str(tmp_path / "idx")
    golden = str(tmp_path / "golden")
    _dedup_setup(spark, path)
    _dedup_setup(spark, golden)
    ep3 = spark.createDataFrame(
        [(30, "a third epoch novel document")],
        "doc_id long, text string")
    dedup_index_ingest_batch(ep3, golden, batch_id=3)
    golden_probe = _dedup_probe(spark, golden)

    _arm(0)  # crash at the first manifest cut point (tmp write)
    with pytest.raises(index_store.InjectedCrash):
        dedup_index_ingest_batch(ep3, path, batch_id=3)
    index_store._FAULT_AFTER = None
    # uncommitted epoch is invisible
    assert index_store.read_manifest(spark, path)["hwm"] == 2
    # re-delivery completes the epoch
    got = sorted(r.doc_id for r in dedup_index_ingest_batch(
        ep3, path, batch_id=3).collect())
    assert got == [30]
    assert index_store.read_manifest(spark, path)["hwm"] == 3
    assert _dedup_probe(spark, path) == golden_probe


@pytest.mark.parametrize("family", ["bm25", "ann"])
def test_fencing_applies_to_all_families(spark, tmp_path, family):
    setup, probe, _compact, _next = _FAMILIES[family]
    path = str(tmp_path / "idx")
    setup(spark, path)  # hwm = 2
    before = probe(spark, path)
    if family == "bm25":
        from graphlite_spark.operators.text import bm25_index_ingest_batch

        replay = spark.createDataFrame(
            [(4, "executors cache data in memory")],
            "doc_id long, text string")
        assert bm25_index_ingest_batch(replay, path, batch_id=2) == 1
        imposter = spark.createDataFrame(
            [(9, "not the committed epoch at all")],
            "doc_id long, text string")
        with pytest.raises(ValueError,
                           match="replay verification failed"):
            bm25_index_ingest_batch(imposter, path, batch_id=2)
        with pytest.raises(ValueError, match="epoch gap"):
            bm25_index_ingest_batch(imposter, path, batch_id=7)
    else:
        from graphlite_spark.operators.similarity import (
            ann_index_ingest_batch,
        )

        assert ann_index_ingest_batch(
            _ann_vecs(spark, range(12, 15)), path, batch_id=2) == 3
        with pytest.raises(ValueError,
                           match="replay verification failed"):
            ann_index_ingest_batch(
                _ann_vecs(spark, range(40, 42)), path, batch_id=2)
        with pytest.raises(ValueError, match="epoch gap"):
            ann_index_ingest_batch(
                _ann_vecs(spark, range(40, 42)), path, batch_id=9)
    assert probe(spark, path) == before
    assert index_store.read_manifest(spark, path)["hwm"] == 2


@pytest.mark.full_tier
def test_streaming_ingest_with_scheduled_compaction(spark, tmp_path):
    """compact_every=N inside the exactly-once maintenance stream:
    >= 2 compactions across 6 epochs, survivors and against-index
    answers byte-identical to the never-compacted loop, and a
    crash-replay of the final epoch after the stream is a verified
    no-op."""
    from pyspark.sql import functions as F  # noqa: F401

    from graphlite_spark.operators.dedup import (
        build_dedup_index,
        dedup_against_index,
        dedup_index_ingest_batch,
    )
    from graphlite_spark.streaming.stateful import (
        streaming_dedup_index_maintenance,
    )

    hist = spark.createDataFrame(
        [(1, "alpha bravo common words here")],
        "doc_id long, text string")
    epochs = []
    for k in range(6):
        rows = [(100 * k + 1, f"epoch {k} unique document number one"),
                (100 * k + 2, f"epoch {k} unique document number two")]
        if k >= 2:
            # planted cross-epoch dup: repeats an epoch k-2 text, must
            # be dropped by keys that may already be COMPACTED into
            # the base when it arrives
            rows.append((100 * k + 9,
                         f"epoch {k - 2} unique document number one"))
        epochs.append(spark.createDataFrame(
            rows, "doc_id long, text string"))

    def run(idx_name, out_name, compact_every):
        idx = str(tmp_path / idx_name)
        build_dedup_index(hist, idx, n=3, num_hashes=64, bands=16)
        d = str(tmp_path / (idx_name + "_src"))
        for k, ep in enumerate(epochs):
            ep.coalesce(1).write.parquet(f"{d}/f{k}")
        out = str(tmp_path / out_name)
        stream = (spark.readStream.schema(epochs[0].schema)
                  .option("recursiveFileLookup", "true")
                  .option("maxFilesPerTrigger", 1).parquet(d))
        streaming_dedup_index_maintenance(
            stream, idx, checkpoint=str(tmp_path / (idx_name + "_ck")),
            survivors_path=out, compact_every=compact_every)
        kept = sorted(r.doc_id for r in spark.read.parquet(out).collect())
        return idx, kept

    idx_c, kept_c = run("idx_c", "out_c", compact_every=2)
    idx_n, kept_n = run("idx_n", "out_n", compact_every=None)
    assert kept_c == kept_n
    # every cross-epoch dup dropped
    assert all(d % 100 != 9 for d in kept_c)

    # two compactions actually ran (epochs 2 and 4): version 1 (build)
    # + 2 -> 3, floor = last compaction's hwm = 3
    m = index_store.read_manifest(spark, idx_c)
    assert m["version"] == 3
    assert m["delta_floor"] == 3
    assert m["hwm"] == 5

    # answers identical between the compacted and never-compacted index
    probe = spark.createDataFrame(
        [(900, "epoch 0 unique document number one"),
         (901, "epoch 5 unique document number two"),
         (902, "never seen probe text here")],
        "doc_id long, text string")
    a = sorted(r.doc_id for r in dedup_against_index(probe, idx_c).collect())
    b = sorted(r.doc_id for r in dedup_against_index(probe, idx_n).collect())
    assert a == b == [902]

    # crash-replay at the epoch boundary: re-deliver the final epoch
    # -> verified no-op with identical survivors, state unchanged
    surv5 = [d for d in kept_c if 500 <= d < 600]
    replay = sorted(r.doc_id for r in dedup_index_ingest_batch(
        epochs[5], idx_c, batch_id=5).collect())
    assert replay == surv5
    assert index_store.read_manifest(spark, idx_c)["version"] == 3
    assert index_store.read_manifest(spark, idx_c)["hwm"] == 5


@pytest.mark.full_tier
def test_reader_racing_compaction_never_sees_torn_layout(
        spark, tmp_path):
    """The r9 hazard, tested literally: a reader thread hammers
    dedup_against_index WHILE another thread runs compaction + a
    further ingest epoch. Under the manifest layer every probe must
    return the full, correct answer — the old multi-rename swap could
    expose a missing base dir mid-swap."""
    import threading

    from graphlite_spark.operators.dedup import (
        compact_dedup_index,
        dedup_index_ingest_batch,
    )

    path = str(tmp_path / "idx")
    _dedup_setup(spark, path)  # base + epochs 1..2
    expected = _dedup_probe(spark, path)

    stop = threading.Event()
    failures: list = []

    def reader():
        while not stop.is_set():
            try:
                got = _dedup_probe(spark, path)
                if got != expected:
                    failures.append(("wrong answer", got))
                    return
            except Exception as e:  # a torn layout raises here
                failures.append(("reader raised", repr(e)))
                return

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    try:
        for k in range(3, 6):
            compact_dedup_index(spark, path)
            ep = spark.createDataFrame(
                [(100 + k, f"writer epoch {k} fresh text content")],
                "doc_id long, text string")
            got = sorted(r.doc_id for r in dedup_index_ingest_batch(
                ep, path, batch_id=k).collect())
            assert got == [100 + k]
    finally:
        stop.set()
        t.join(timeout=120)
    assert not failures, failures
    # and the final state is exactly base + all epochs
    assert _dedup_probe(spark, path) == expected


def test_manifest_log_stays_bounded(spark, tmp_path):
    """The manifest log a reader must list is bounded by
    RETAIN_MANIFESTS regardless of epoch count: each commit O(1)-trims
    the file RETAIN generations back (no directory listing on the
    commit path)."""
    import os

    path = str(tmp_path / "idx")
    index_store.commit_manifest(spark, path, {
        "seq": 1, "version": 1, "tiers": {}, "hwm": None,
        "delta_floor": None})
    for seq in range(2, index_store.RETAIN_MANIFESTS + 30):
        index_store.commit_manifest(spark, path, {
            "seq": seq, "version": 1, "tiers": {}, "hwm": seq - 1,
            "delta_floor": None})
    files = [f for f in os.listdir(f"{path}/{index_store.MANIFEST_DIR}")
             if f.endswith(".json")]
    assert len(files) <= index_store.RETAIN_MANIFESTS
    m = index_store.read_manifest(spark, path)
    assert m["seq"] == index_store.RETAIN_MANIFESTS + 29
    assert m["hwm"] == index_store.RETAIN_MANIFESTS + 28


@pytest.mark.full_tier
def test_ingest_loop_co_maintains_bm25_search_index(spark, tmp_path):
    """streaming_ingest_loop(bm25_index_path=): each exactly-once
    epoch appends its dedup SURVIVORS' postings to the persisted
    search index — after the stream, indexed search equals
    bm25_search over historical ∪ survivors, and a re-delivered
    epoch is a verified no-op on BOTH indexes."""
    from pyspark.sql import functions as F  # noqa: F401

    from graphlite_spark.operators.dedup import (
        build_dedup_index,
        dedup_index_ingest_batch,
    )
    from graphlite_spark.operators.text import (
        bm25_search,
        bm25_search_indexed,
        build_bm25_index,
    )
    from graphlite_spark.streaming.stateful import streaming_ingest_loop

    def body(tag):
        return " ".join(f"w{tag}{i} the data" for i in range(20))

    def page(b):
        return ("<html><body><nav><a href='/'>Home</a></nav><p>" + b
                + "</p><footer><a href='/t'>T</a></footer></body></html>")

    hist = spark.createDataFrame([(1, body("a"))],
                                 "doc_id long, text string")
    eps = [
        spark.createDataFrame(
            [(10, page(body("a"))),   # dup of hist -> dropped
             (11, page(body("b")))],  # survivor
            "doc_id long, html string"),
        spark.createDataFrame(
            [(20, page(body("b"))),   # dup of epoch-1 delta -> dropped
             (21, page(body("c")))],  # survivor
            "doc_id long, html string"),
    ]
    didx, bidx = str(tmp_path / "didx"), str(tmp_path / "bidx")
    build_dedup_index(hist, didx, n=3, num_hashes=64, bands=8)
    build_bm25_index(hist, bidx)

    d = str(tmp_path / "src")
    for k, ep in enumerate(eps):
        ep.coalesce(1).write.parquet(f"{d}/f{k}")
    stream = (spark.readStream.schema(eps[0].schema)
              .option("recursiveFileLookup", "true")
              .option("maxFilesPerTrigger", 1).parquet(d))
    out = str(tmp_path / "surv")
    streaming_ingest_loop(stream, didx,
                          checkpoint=str(tmp_path / "ck"),
                          survivors_path=out, min_words=15,
                          bm25_index_path=bidx)
    kept = spark.read.parquet(out).select("doc_id", "text")
    assert sorted(r.doc_id for r in kept.collect()) == [11, 21]

    q = ["the", "wb3", "wc7"]
    got = [(r.doc_id, r.score, r.n_terms_hit) for r in
           bm25_search_indexed(spark, bidx, q, k=10).collect()]
    want = [(r.doc_id, r.score, r.n_terms_hit) for r in
            bm25_search(hist.unionByName(kept), q, k=10).collect()]
    assert got == want and len(got) == 3

    # re-delivered final epoch: verified no-op on BOTH indexes
    from graphlite_spark.operators.html import extract_html_text
    from graphlite_spark.operators.text import gopher_quality_filters

    ext = extract_html_text(eps[1], html_col="html", id_col="doc_id")
    kept2 = gopher_quality_filters(
        ext, id_col="doc_id", min_words=15, min_stop_words=1,
        keep=("text",)).filter("gopher_pass").select("doc_id", "text")
    surv = dedup_index_ingest_batch(kept2, didx, batch_id=1, near=False)
    assert sorted(r.doc_id for r in surv.collect()) == [21]
    from graphlite_spark.operators.text import bm25_index_ingest_batch

    assert bm25_index_ingest_batch(surv, bidx, batch_id=1) == 1
    assert [(r.doc_id, r.score, r.n_terms_hit) for r in
            bm25_search_indexed(spark, bidx, q, k=10).collect()] == want
