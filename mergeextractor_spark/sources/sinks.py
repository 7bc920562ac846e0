"""Sinks (SURVEY §2.1): ordered CSV append, bucketed keyed store, per-row
file dump.

The reference's MongoDB store shards collections by ``main_index // 100``
(DatabaseHandler.py:24-34, hard-coded at 5 more call sites); here that is
a single partition column and Catalyst prunes it (O3). The "update" site
(patchabbrev.py:224-229) becomes dynamic partition overwrite.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET_SIZE = 100  # ref DatabaseHandler.py:24-34


def with_bucket(df: DataFrame, key: str = "main_index") -> DataFrame:
    return df.withColumn("bucket", F.floor(F.col(key) / BUCKET_SIZE).cast("long"))


def sink_kv_store(df: DataFrame, path: str, mode: str = "append") -> None:
    """Keyed document store: parquet partitioned by bucket (replaces the
    Mongo batch_{k*100}_{k*100+99} collections; insert sites
    Processor.py:288-297, 375-390, SeperatorHandler.py:80-88)."""
    with_bucket(df).write.mode(mode).partitionBy("bucket").parquet(path)


def scan_kv_point(spark: SparkSession, path: str, main_index: int) -> DataFrame:
    """Point lookup (ref find_one at SeperatorHandler.py:53-64): the bucket
    predicate prunes to one partition directory before the key filter."""
    bucket = main_index // BUCKET_SIZE
    return (
        spark.read.parquet(path)
        .filter((F.col("bucket") == bucket) & (F.col("main_index") == main_index))
    )


def update_kv_partition(df: DataFrame, path: str) -> None:
    """Partition-wholesale update (ref patchabbrev.py:224-229 update_one):
    overwrite only the partitions present in ``df`` (dynamic partition
    overwrite). Correct when the caller rewrites whole buckets; for
    row-level semantics use :func:`merge_kv_store`."""
    (
        with_bucket(df)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(path)
    )


def merge_kv_store(
    spark: SparkSession, updates: DataFrame, path: str, key: str = "main_index"
) -> None:
    """Row-level upsert into the bucketed store — MERGE INTO semantics
    (WHEN MATCHED → replace row, WHEN NOT MATCHED → insert) on plain
    parquet, the exact behavior of the reference's Mongo ``update_one(...,
    upsert=True)`` (patchabbrev.py:224-229) without Delta/Iceberg jars.

    Plan: bucket the updates → list affected buckets (metadata-sized
    driver collect, bounded by the partition count, same class as a
    filesystem listing) → read ONLY those partitions (partition pruning) →
    anti-join out the rows being replaced → union the updates → publish
    the merged buckets with :func:`swap_partitions`.  At 100 TB the read
    and rewrite both touch |affected buckets| directories, never the full
    table; the anti-join shuffles on ``key`` within those buckets only.
    A merge killed at any step is repaired by re-running it: recovery
    runs first, and the merge itself is idempotent.

    Single-writer assumption: without a transaction log there is no
    concurrent-merge isolation (the reference's Mongo had per-document
    atomicity; a production deployment wanting concurrent writers should
    layer Delta/Iceberg on the same plan shape).
    """
    up = with_bucket(updates, key)
    buckets = [r[0] for r in up.select("bucket").distinct().collect()]
    if not buckets:
        return
    up = up.cache()  # read twice (anti-join + union); tiny vs the table
    # Only the store-missing case may fall back to a plain first write
    # (ADVICE r2: a bare except here turned ANY transient failure into
    # "first write", silently dropping the kept rows of touched buckets).
    # Existence is checked through the Hadoop FS API so the same code holds
    # for hdfs://, s3a://, and local paths; every other error propagates.
    recover_partition_swaps(spark, path)
    fs, P = _hadoop_fs(spark, path)
    if not fs.exists(P(path)):
        # First write: build in temp, one atomic rename publishes the store.
        tmp = f"{path}__merge_tmp_{uuid.uuid4().hex[:12]}"
        up.write.mode("overwrite").partitionBy("bucket").parquet(tmp)
        if not fs.rename(P(tmp), P(path)):
            raise IOError(f"merge_kv_store: rename {tmp} -> {path} failed")
        up.unpersist()
        return
    target = spark.read.parquet(path).filter(F.col("bucket").isin(buckets))
    kept = target.join(up.select(key), on=key, how="left_anti")
    swap_partitions(
        spark, path, kept.unionByName(up), ("bucket",),
        [f"bucket={b}" for b in buckets],
    )
    up.unpersist()


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path class) for ``path`` — the Hadoop FS API, so the
    swap protocol holds for hdfs://, s3a:// and local paths alike."""
    P = spark._jvm.org.apache.hadoop.fs.Path
    return P(path).getFileSystem(spark._jsc.hadoopConfiguration()), P


def swap_partitions(
    spark: SparkSession, path: str, merged: DataFrame, partition_cols, parts
) -> None:
    """Publish ``merged`` — the complete new contents of the partition
    directories ``parts`` (relative paths such as ``bucket=3`` or
    ``band=0/bpfx=a``) — into the partitioned parquet store at ``path``.
    Every other partition is left untouched.

    Write phase: ``merged`` lands in a sibling ``__merge_tmp_*`` dir, so
    an executor or job death costs nothing but that dir, and no task
    reads a file this call replaces.  Swap phase, driver-side: each
    partition's old version is renamed into a sibling ``__merge_old_*``
    dir, then its new version is renamed into place; both dirs are
    deleted only after every partition has swapped.  A kill at any point
    leaves every partition at its old or new version except at most one
    whose old version is parked — callers run
    :func:`recover_partition_swaps` before reading the store, which
    restores it.

    Single writer: the caller must have read the rows it merges after
    recovery and must not race another writer on ``path``."""
    path = path.rstrip("/")
    fs, P = _hadoop_fs(spark, path)
    token = uuid.uuid4().hex[:12]
    tmp, backup = f"{path}__merge_tmp_{token}", f"{path}__merge_old_{token}"
    merged.write.mode("overwrite").partitionBy(*partition_cols).parquet(tmp)
    fs.mkdirs(P(backup))
    for part in parts:
        _swap_partition(fs, P, path, tmp, backup, part)
    fs.delete(P(backup), True)
    fs.delete(P(tmp), True)


def _swap_partition(fs, P, store: str, tmp: str, backup: str, part: str) -> None:
    """Publish one partition directory: park the old ``<store>/<part>``
    under ``backup``, rename ``<tmp>/<part>`` into place."""
    src, dst, bak = P(f"{tmp}/{part}"), P(f"{store}/{part}"), P(f"{backup}/{part}")
    if fs.exists(dst):
        fs.mkdirs(bak.getParent())
        if not fs.rename(dst, bak):
            raise IOError(f"partition swap: backup rename of {part} failed")
    else:
        fs.mkdirs(dst.getParent())
    if not fs.rename(src, dst):
        raise IOError(f"partition swap: publish rename of {part} failed")


def recover_partition_swaps(spark: SparkSession, path: str) -> None:
    """Heal a store left by a :func:`swap_partitions` killed mid-way:
    restore every partition whose old version sits in a
    ``__merge_old_*`` dir but is missing from the store (the at-most-one
    mid-swap partition), then clear the leftover dirs.  Partitions
    present in the store (old or new version) win over backups —
    re-running the write re-applies it idempotently."""
    path = path.rstrip("/")
    fs, P = _hadoop_fs(spark, path)
    for status in fs.globStatus(P(f"{path}__merge_old_*")) or []:
        _restore_parked(fs, P, status.getPath(), P(path))
        fs.delete(status.getPath(), True)
    for status in fs.globStatus(P(f"{path}__merge_tmp_*")) or []:
        fs.delete(status.getPath(), True)


def _restore_parked(fs, P, parked, store) -> None:
    """Move each partition dir under ``parked`` that ``store`` lacks into
    place, descending through the partition levels ``store`` has."""
    for entry in fs.listStatus(parked) or []:
        name = entry.getPath().getName()
        if not (entry.isDirectory() and "=" in name):
            continue
        dst = P(store, name)
        if fs.exists(dst):
            _restore_parked(fs, P, entry.getPath(), dst)
            continue
        fs.mkdirs(store)
        if not fs.rename(entry.getPath(), dst):
            raise IOError(f"partition swap: recovery rename of {name} failed")


def sink_csv_ordered(df: DataFrame, path: str, order_col: str = "main_index") -> None:
    """Ordered CSV sink with header (ref CrawlerHandler.py:21-49 sort at
    139; InitiatorIdentifier.py:26-50 sort at 166). coalesce(1) gives the
    reference's single-file layout — callers that don't need one file
    should drop it and keep the parallel write."""
    df.orderBy(order_col).coalesce(1).write.mode("overwrite").option("header", True).csv(path)


def sink_fs_dump(df: DataFrame, path: str) -> None:
    """Store → one text file per row, directory per bucket (ref
    tools/dumpdata.py:4-38: filename {index}_{A}_&_{B}.txt, body
    'URL: ...\\n\\n{content}'). Expressed as a partitioned text write of
    pre-formatted lines — the scalable form of a per-row file dump."""
    body = F.concat(
        F.lit("FILE: "),
        F.col("main_index").cast("string"),
        F.lit("_"),
        F.col("company_a"),
        F.lit("_&_"),
        F.col("company_b"),
        F.lit(".txt\nURL: "),
        F.col("url"),
        F.lit("\n\n"),
        F.col("content"),
    )
    with_bucket(df).select("bucket", body.alias("value")).write.mode(
        "overwrite"
    ).partitionBy("bucket").text(path)


def sink_log(
    audit: DataFrame, path: str, ts: str = "2025-06-14 05:35:46"
) -> None:
    """Audit rows → the reference's logs.txt line taxonomy, appended as a
    text sink (ref src/utils/Logger.py:12-24: ``[YYYY-MM-DD HH:MM:SS]``
    prefix + message + newline; LOG_FILE_PATH append mode).

    One line per deal, formats byte-exact to the five outcome classes:
      accepted               → Processor.py:299
      no_document            → CrawlerSupport.py:414
      no_relevant_document   → CrawlerSupport.py:435
      no_background_section  → CrawlerSupport.py:445
      flagged_manual_inspection → SeperatorHandler.py:70

    ``ts`` is a fixed timestamp string: the engine is a deterministic
    batch system, so the stamp is an input (a pipeline-run id), not
    wall-clock — re-running a registered query must be byte-stable.
    ``audit`` needs (main_index, status, company_a, company_b)."""
    i = F.col("main_index").cast("string")
    a, b = F.col("company_a"), F.col("company_b")
    pair = F.concat(a, F.lit(" & "), b)
    msg = (
        F.when(
            F.col("status") == "accepted",
            F.concat(F.lit("[+] Successfully created document for: "), pair),
        )
        .when(
            F.col("status") == "no_document",
            F.concat(F.lit("[-] No document found for: "), pair),
        )
        .when(
            F.col("status") == "no_relevant_document",
            F.concat(
                F.lit("[-] No relevant document found for index "), i, F.lit(": "), pair
            ),
        )
        .when(
            F.col("status") == "no_background_section",
            F.concat(
                F.lit("[-] Confirmed no background section found for index "),
                i,
                F.lit(": "),
                pair,
                F.lit("."),
            ),
        )
        .otherwise(
            F.concat(
                F.lit(
                    "[x] FLAGGED for Manual Inspection: Failed to locate a "
                    "background chunk for index: "
                ),
                i,
                F.lit("; Companies: "),
                pair,
            )
        )
    )
    line = F.concat(F.lit(f"[{ts}] "), msg)
    audit.select(line.alias("value")).write.mode("append").text(path)
