"""dedup_minhash_store_compact pins: the index COMMIT that closes the
incremental-dedup ingest cycle.

Proofs:
  1. the post-commit store equals the full-corpus band index (the
     registered rollup matches an in-memory recompute over ALL docs);
  2. re-commit is idempotent (DISTINCT union: identical rollup and
     identical store row count on a second run);
  3. the rewrite is PARTITION-SCOPED: committing one document's
     bands into a scratch store rewrites only the partitions that
     document's keys land in — every other partition's files keep
     their mtimes;
  4. a commit killed after its staging write, mid-swap (one partition
     parked, its new version not placed) or after every swap but before
     cleanup is repaired by replay: both commit keys return their
     fault-free rows and no ``__merge_*`` sibling survives.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
COMMIT_KEYS = ("dedup_minhash_store_compact", "pipeline_ingest_cycle")


def _rollup(spark):
    from mergeextractor_spark.registry import load_all

    return {
        (r.band, r.bpfx): (r.n_keys, r.n_docs)
        for r in load_all()["dedup_minhash_store_compact"].spark(spark, SF).collect()
    }


def _full_corpus_index(spark):
    from mergeextractor_spark.operators._util import t
    from mergeextractor_spark.operators.dedup import (
        _bands_of,
        _minhash_agg_cols,
        _spread_doc_shingles,
    )

    sh = _spread_doc_shingles(t(spark, SF, "documents"))
    bands = _bands_of(sh.groupBy("doc_id").agg(*_minhash_agg_cols()))
    return {
        (r.band, r.bpfx): (r.n_keys, r.n_docs)
        for r in bands.withColumn("bpfx", F.substring("bucket", 1, 1))
        .groupBy("band", "bpfx")
        .agg(
            F.count("*").alias("n_keys"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .collect()
    }


def test_post_commit_store_equals_full_corpus_index(spark):
    got = _rollup(spark)
    assert got == _full_corpus_index(spark)
    assert got


def test_recommit_is_idempotent(spark):
    from mergeextractor_spark.operators.dedup import (
        ensure_minhash_commit_store,
        minhash_store_read,
    )

    first = _rollup(spark)
    path = ensure_minhash_commit_store(spark, SF)
    n_rows = minhash_store_read(spark, path).count()
    assert _rollup(spark) == first
    assert minhash_store_read(spark, path).count() == n_rows


def test_commit_rewrites_only_touched_partitions(spark, tmp_path):
    from mergeextractor_spark.operators._util import t
    from mergeextractor_spark.operators.dedup import (
        _bands_of,
        _minhash_agg_cols,
        _spread_doc_shingles,
        minhash_store_commit,
        minhash_store_write,
    )

    path = str(tmp_path / "store")
    minhash_store_write(spark, SF, path)

    def part_mtimes():
        out = {}
        for d in glob.glob(os.path.join(path, "band=*", "bpfx=*")):
            files = [
                os.path.getmtime(f)
                for f in glob.glob(os.path.join(d, "*.parquet"))
            ]
            out[os.path.relpath(d, path)] = tuple(sorted(files))
        return out

    before = part_mtimes()
    one = t(spark, SF, "documents").filter(F.col("doc_id") == 5)
    sh = _spread_doc_shingles(one)
    bands = _bands_of(sh.groupBy("doc_id").agg(*_minhash_agg_cols()))
    n_parts = minhash_store_commit(spark, path, bands)
    assert 1 <= n_parts <= 3  # one doc -> at most one key per band
    after = part_mtimes()
    touched = {
        f"band={r.band}/bpfx={r.bucket[:1]}"
        for r in bands.collect()
    }
    assert touched, "doc 5 must produce band keys"
    untouched = set(before) - touched
    assert untouched, "fixture store must have partitions doc 5 misses"
    for p in untouched:
        assert after[p] == before[p], f"untouched partition {p} rewritten"
    for p in touched:
        assert after[p] != before.get(p), f"touched partition {p} not rewritten"


class _Killed(RuntimeError):
    pass


def _kill_after_staging_write(real):
    def swap(fs, P, store, tmp, backup, part):
        raise _Killed("after the staging write")

    return swap


def _kill_mid_swap(real):
    calls = []

    def swap(fs, P, store, tmp, backup, part):
        calls.append(part)
        if len(calls) == 2:
            bak = P(f"{backup}/{part}")
            assert fs.mkdirs(bak.getParent())
            assert fs.rename(P(f"{store}/{part}"), bak)
            raise _Killed("one partition parked, its new version not placed")
        real(fs, P, store, tmp, backup, part)

    return swap


def _kill_before_cleanup(real):
    def swap(fs, P, store, tmp, backup, part):
        real(fs, P, store, tmp, backup, part)
        if not glob.glob(os.path.join(tmp, "band=*", "bpfx=*")):
            raise _Killed("after every swap, before cleanup")

    return swap


def _rows(spark, key):
    from mergeextractor_spark.registry import load_all

    return sorted(tuple(r) for r in load_all()[key].spark(spark, SF).collect())


@pytest.fixture(scope="module")
def fault_free(spark):
    return {key: _rows(spark, key) for key in COMMIT_KEYS}


@pytest.mark.parametrize(
    "kill", [_kill_after_staging_write, _kill_mid_swap, _kill_before_cleanup]
)
@pytest.mark.parametrize("killed_key", COMMIT_KEYS)
def test_killed_commit_is_repaired_by_replay(
    spark, monkeypatch, fault_free, killed_key, kill
):
    from mergeextractor_spark.operators.dedup import ensure_minhash_commit_store
    from mergeextractor_spark.sources import sinks

    tag = "c" if killed_key == "dedup_minhash_store_compact" else "cycle"
    path = ensure_minhash_commit_store(spark, SF, tag=tag)
    monkeypatch.setattr(sinks, "_swap_partition", kill(sinks._swap_partition))
    with pytest.raises(_Killed):
        _rows(spark, killed_key)
    monkeypatch.undo()
    assert glob.glob(f"{path}__merge_*"), "the kill must land inside the swap"

    for key in COMMIT_KEYS:
        assert _rows(spark, key) == fault_free[key], key
    assert _rollup(spark) == _full_corpus_index(spark)
    for t in ("c", "cycle"):
        assert not glob.glob(f"{ensure_minhash_commit_store(spark, SF, tag=t)}__merge_*")
