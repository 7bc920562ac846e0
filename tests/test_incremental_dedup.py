"""dedup_minhash_store_write / dedup_minhash_incremental pins: the
persisted band-bucket store and its batch probe, and the one store
builder (``_util.ensure_store``) every derived store goes through.

Proofs:
  1. the probe's store read is PARTITION-PRUNED — the scan plan carries
     the (band, bpfx) predicates as PartitionFilters (the
     ivf_store_probe evidence class);
  2. candidate counts: every banded candidate pair shares at least one
     (band, bucket) key (no false drops vs an in-memory recompute), and
     the candidate set is exactly the cross-split bucket collisions —
     the banded join never degenerates to all-pairs;
  3. recall against the one-shot key: every dedup_minhash_lsh verified
     pair that straddles the split is found by the incremental probe
     (same bands, same verify threshold — the store layout loses
     nothing);
  4. store hygiene: a stale/incomplete store is rewritten, a fresh one
     is reused (ensure_store's freshness guard), and each of the six
     derived stores keeps its fingerprinted warehouse path.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_store_probe_is_partition_pruned(spark, tmp_path):
    from mergeextractor_spark.operators.dedup import (
        minhash_store_read,
        minhash_store_write,
    )

    path = str(tmp_path / "bands")
    minhash_store_write(spark, SF, path)
    got = minhash_store_read(spark, path).filter(
        F.col("band").isin([0, 2]) & F.col("bpfx").isin(["a", "b", "c"])
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "band" in pf and "bpfx" in pf, pf
    assert "IN(0,2" in pf.replace(" ", ""), pf
    rows = got.collect()
    assert rows and all(
        r.band in (0, 2) and r.bpfx in ("a", "b", "c") for r in rows
    )


def test_candidates_are_exactly_cross_split_bucket_collisions(spark):
    """The probe's candidate set == the in-memory banded recompute
    restricted to batch x committed — the store is a layout, not a
    semantics change; and candidates stay far below all-pairs."""
    from mergeextractor_spark.operators.dedup import (
        INCR_BATCH_MOD,
        _bands_of,
        _doc_shingles,
        _minhash_agg_cols,
        dedup_minhash_store_write,
    )
    from mergeextractor_spark.operators._util import t

    d = t(spark, SF, "documents")
    sig = _doc_shingles(d).groupBy("doc_id").agg(*_minhash_agg_cols())
    bands = _bands_of(sig)
    b = bands.filter(F.col("doc_id") % INCR_BATCH_MOD == 0)
    s = bands.filter(F.col("doc_id") % INCR_BATCH_MOD != 0)
    want = {
        (r.doc_id, r.dup_of)
        for r in b.join(
            s.select("band", "bucket", F.col("doc_id").alias("dup_of")),
            ["band", "bucket"],
        )
        .select("doc_id", "dup_of")
        .distinct()
        .collect()
    }

    # the store path: written by the key's own ingest, probed via read
    store = dedup_minhash_store_write(spark, SF)
    got = {
        (r.doc_id, r.dup_of)
        for r in b.join(
            store.select("band", "bucket", F.col("doc_id").alias("dup_of")),
            ["band", "bucket"],
        )
        .select("doc_id", "dup_of")
        .distinct()
        .collect()
    }
    assert got == want
    n_batch = d.filter(F.col("doc_id") % INCR_BATCH_MOD == 0).count()
    n_committed = d.count() - n_batch
    assert 0 < len(got) < 0.05 * n_batch * n_committed, (
        f"{len(got)} candidates vs {n_batch}x{n_committed} all-pairs"
    )


def test_incremental_finds_every_cross_split_lsh_pair(spark):
    """Recall vs the one-shot snapshot key: the incremental probe must
    report exactly the dedup_minhash_lsh verified pairs that straddle
    the batch/committed split (orientation: batch doc first)."""
    from mergeextractor_spark.operators.dedup import INCR_BATCH_MOD
    from mergeextractor_spark.registry import load_all

    reg = load_all()
    lsh = reg["dedup_minhash_lsh"].spark(spark, SF).collect()
    want = set()
    for r in lsh:
        a_batch = r.doc_a % INCR_BATCH_MOD == 0
        b_batch = r.doc_b % INCR_BATCH_MOD == 0
        if a_batch != b_batch:
            want.add((r.doc_a, r.doc_b) if a_batch else (r.doc_b, r.doc_a))
    got = {
        (r.doc_id, r.dup_of)
        for r in reg["dedup_minhash_incremental"].spark(spark, SF).collect()
    }
    assert want, "fixture must plant cross-split near-dups"
    assert got == want


def test_ensure_store_reuses_fresh_and_rewrites_stale(spark):
    import os

    from mergeextractor_spark.operators.dedup import ensure_minhash_store

    p1 = ensure_minhash_store(spark, SF)
    stamp = os.path.getmtime(os.path.join(p1, "_SUCCESS"))
    p2 = ensure_minhash_store(spark, SF)
    assert p1 == p2
    assert os.path.getmtime(os.path.join(p2, "_SUCCESS")) == stamp  # reused
    os.remove(os.path.join(p1, "_SUCCESS"))  # husk: incomplete write
    p3 = ensure_minhash_store(spark, SF)
    assert os.path.isfile(os.path.join(p3, "_SUCCESS"))  # rewritten


def _stub_writer(calls):
    """A store writer that writes nothing but ``_SUCCESS``."""
    import os

    def write(path):
        calls.append(path)
        os.makedirs(path)
        open(os.path.join(path, "_SUCCESS"), "w").close()

    return write


def _stub_sf(tmp_path):
    import os

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for name in ("documents", "embeddings"):
        open(os.path.join(sf, f"{name}.parquet"), "w").close()
    return sf


def test_ensure_store_rewrites_husks_and_stores_older_than_sources(spark, tmp_path):
    import os
    import shutil

    from mergeextractor_spark.operators._util import ensure_store

    sf = _stub_sf(tmp_path)
    calls = []
    write = _stub_writer(calls)

    def ensure():
        return ensure_store(spark, sf, "stub_store", "|x1", ("documents",), write)

    path = ensure()
    try:
        success = os.path.join(path, "_SUCCESS")
        assert calls == [path]
        assert ensure() == path and len(calls) == 1  # fresh: reused
        os.remove(success)  # husk of an interrupted write
        assert ensure() == path and len(calls) == 2
        # the source fixture is newer than the store: cleared and rewritten,
        # together with the store's partition-swap leftovers
        open(os.path.join(path, "stale"), "w").close()
        os.makedirs(f"{path}__merge_old_0")
        old = os.path.getmtime(os.path.join(sf, "documents.parquet")) - 10
        os.utime(success, (old, old))
        assert ensure() == path and len(calls) == 3
        assert not os.path.exists(os.path.join(path, "stale"))
        assert not os.path.exists(f"{path}__merge_old_0")
        assert ensure() == path and len(calls) == 3
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_derived_stores_keep_their_fingerprinted_paths(spark, tmp_path, monkeypatch):
    """Each store's path is <warehouse>/<name>_<md5(sf_dir + params)[:8]>
    with the name and parameter string it has always had, so no existing
    store is orphaned by the shared builder."""
    import hashlib
    import os
    import shutil

    from mergeextractor_spark.operators import dedup, scale_queries
    from mergeextractor_spark.plans import bpe_pipeline, classifier_pipeline

    sf = _stub_sf(tmp_path)
    calls = []
    write = _stub_writer(calls)

    def stub(spark, sf_dir, path, **params):
        write(path)

    for mod, fn in (
        (scale_queries, "ivf_store_write"),
        (scale_queries, "pq_codes_write"),
        (dedup, "minhash_store_write"),
        (bpe_pipeline, "bpe_store_write"),
        (classifier_pipeline, "clf_store_write"),
    ):
        monkeypatch.setattr(mod, fn, stub)
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")

    def at(name, params):
        return os.path.join(wh, f"{name}_{hashlib.md5(params.encode()).hexdigest()[:8]}")

    band = f"{sf}|n{dedup.N_HASHES}r{dedup.BAND_SIZE}m{dedup.INCR_BATCH_MOD}p1s3"
    clf = classifier_pipeline
    want = {
        "ivf": at("ivf_store", f"{sf}|c{scale_queries.N_CENTROIDS}"),
        "pq": at("pq_codes", sf),
        "band": at("minhash_band_store", band),
        "commit": at("minhash_commit_store", f"{band}|c"),
        "cycle": at("minhash_commit_store", f"{band}|cycle"),
        "bpe": at("bpe_merge_store", f"{sf}|r{bpe_pipeline.BPE_TRAIN_ROUNDS}v1"),
        "clf": at(
            "clf_weight_store",
            f"{sf}|b{clf.CLF_BUCKETS}s{clf.CLF_SCALE}r{clf.CLF_ROUNDS}h3",
        ),
    }
    try:
        got = {
            "ivf": scale_queries.ensure_ivf_store(spark, sf),
            "pq": scale_queries.ensure_pq_store(spark, sf),
            "band": dedup.ensure_minhash_store(spark, sf),
            "commit": dedup.ensure_minhash_commit_store(spark, sf),
            "cycle": dedup.ensure_minhash_commit_store(spark, sf, tag="cycle"),
            "bpe": bpe_pipeline.ensure_bpe_store(spark, sf),
            "clf": classifier_pipeline.ensure_clf_store(spark, sf),
        }
        assert got == want
        assert sorted(calls) == sorted(want.values())
    finally:
        for p in want.values():
            shutil.rmtree(p, ignore_errors=True)
