"""pipeline_ingest_cycle pins: exact gate → minhash near-dup probe →
partition-scoped index commit, composed end-to-end.

Proofs:
  1. stage arithmetic against independent recomputation: the exact gate
     drops exactly the planted re-keyed copies, appended = fresh -
     near-dup, and the post-commit store holds committed + appended
     distinct docs;
  2. the cycle's near-dup set equals dedup_minhash_incremental's
     verified batch docs (same probe semantics through the composed
     path — the shared minhash_verify_pairs tail);
  3. idempotence: a second construction returns the identical row and
     the store row count is stable (distinct-union commit).
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _cycle_row(spark):
    from mergeextractor_spark.registry import load_all

    return load_all()["pipeline_ingest_cycle"].spark(spark, SF).collect()[0]


def test_stage_arithmetic(spark):
    from mergeextractor_spark.operators._util import t
    from mergeextractor_spark.operators.dedup import INCR_BATCH_MOD
    from mergeextractor_spark.plans.incremental_pipeline import REKEY_BELOW

    r = _cycle_row(spark)
    d = t(spark, SF, "documents")
    n_committed = d.filter(F.col("doc_id") % INCR_BATCH_MOD != 0).count()
    n_b = d.filter(F.col("doc_id") % INCR_BATCH_MOD == 0).count()
    n_rekeyed = d.filter(
        (F.col("doc_id") % INCR_BATCH_MOD != 0) & (F.col("doc_id") < REKEY_BELOW)
    ).count()
    assert r.n_batch == n_b + n_rekeyed
    # fixture fact (verified via DuckDB): no ORIGINAL batch doc
    # exact-matches committed text, so the exact gate drops exactly the
    # planted re-keyed copies
    assert r.n_exact_dup == n_rekeyed > 0
    assert r.n_near_dup > 0, "fixture plants cross-split near-dups"
    assert r.n_appended == (r.n_batch - r.n_exact_dup) - r.n_near_dup
    assert r.n_store_docs == n_committed + r.n_appended


def test_near_dup_set_matches_incremental_key(spark):
    from mergeextractor_spark.registry import load_all

    reg = load_all()
    incr = {
        r.doc_id
        for r in reg["dedup_minhash_incremental"].spark(spark, SF).collect()
    }
    r = _cycle_row(spark)
    assert r.n_near_dup == len(incr)


def test_cycle_is_idempotent(spark):
    from mergeextractor_spark.operators.dedup import (
        ensure_minhash_commit_store,
        minhash_store_read,
    )

    first = tuple(_cycle_row(spark))
    path = ensure_minhash_commit_store(spark, SF, tag="cycle")
    n_rows = minhash_store_read(spark, path).count()
    assert tuple(_cycle_row(spark)) == first
    assert minhash_store_read(spark, path).count() == n_rows
