"""Warehouse table maintenance: compaction and sort-for-skipping.

Two operational realities of the reference's append-only loading
pattern (K3) at 100 TB that the reference never had to face at Postgres
scale:

- **Small files.** Every incremental run appends a few files; after
  thousands of runs a partition holds tens of thousands of tiny files
  and scan planning dominates query time. ``compact`` rewrites a
  partition to size-targeted files.
- **Data skipping.** Parquet stores per-row-group min/max; a scan with
  a predicate on a column the file is SORTED by prunes row groups (and
  whole files) without reading them. ``write_sorted`` makes the
  ordering explicit at write time so the watermark column's min/max
  actually discriminates.

Both are plain Spark — no table format required. (On Delta/Iceberg the
same jobs are OPTIMIZE / rewrite_data_files; these helpers are the
format-free equivalent.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .sinks import TARGET_FILE_BYTES, WAREHOUSE_CODEC, file_count


def compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
) -> int:
    """Rewrite a FLAT parquet directory to ~``target_file_bytes`` files.

    Returns the new file count. Uses total on-disk size to choose the
    count (cheap driver-side listing) by ``sinks.file_count``, the rule
    warehouse appends follow, then one shuffle-free coalesce when
    shrinking; pages are ``sinks.WAREHOUSE_CODEC``, as appends write them.

    Crash-safety: the new files are written to a temp sibling, the
    original directory is renamed ASIDE (not deleted), the temp is
    renamed into place, and only then is the old data removed — at
    every instant either ``path`` or the aside copy holds a complete
    copy (rmtree-before-rename would leave nothing). Both siblings are
    DOT-prefixed (``.<name>__compacting`` / ``.<name>__old``) so a
    concurrent Spark scan of the PARENT directory (the partitioned-
    table case — see :func:`compact_partitioned`) never reads them as
    data. A previous crash is recovered on entry: a stale temp is
    discarded, a stale aside copy is restored or cleaned depending on
    whether the swap completed.

    Partitioned layouts (``partitionBy`` output) are rejected:
    a flat rewrite would silently destroy the partition directories —
    use :func:`compact_partitioned`.
    """
    import glob
    import os
    import shutil

    path = path.rstrip("/")
    parent, base = os.path.split(path)
    tmp = os.path.join(parent, f".{base}__compacting")
    old = os.path.join(parent, f".{base}__old")
    # crash recovery from a previous interrupted compact
    if os.path.exists(tmp):
        shutil.rmtree(tmp)  # incomplete rewrite — original is intact
    if os.path.exists(old):
        if os.path.exists(path):
            shutil.rmtree(old)  # swap completed; cleanup was interrupted
        else:
            os.rename(old, path)  # crash between the two renames
    subdirs = [
        e
        for e in os.listdir(path)
        if os.path.isdir(os.path.join(path, e)) and not e.startswith((".", "_"))
    ]
    if subdirs:
        raise ValueError(
            f"compact: {path} is a partitioned table (subdirs {subdirs[:3]}…); "
            "a flat rewrite would destroy the partition layout — use "
            "compact_partitioned"
        )
    files = glob.glob(os.path.join(path, "*.parquet"))
    total = sum(os.path.getsize(f) for f in files)
    n = file_count(total, target_file_bytes)
    df = spark.read.parquet(path)
    (df.coalesce(n) if n < len(files) else df.repartition(n)).write.mode(
        "overwrite"
    ).option("compression", WAREHOUSE_CODEC).parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return len(glob.glob(os.path.join(path, "*.parquet")))


def compact_partitioned(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
) -> dict[str, int]:
    """Compact every LEAF partition of a ``partitionBy`` layout — each
    leaf is rewritten independently with :func:`compact`'s rename-aside
    crash-safety, so a crash mid-table loses at most the leaf being
    rewritten (and that leaf still has its ``__old`` copy). Returns
    {relative partition path: new file count}.

    Partition values stay encoded in the directory names, so rewriting
    a leaf's files flat preserves the table exactly. At warehouse
    scale, leaves are compacted after each incremental-load run
    touching them — not the whole table sweep this helper does."""
    import os

    path = path.rstrip("/")
    results: dict[str, int] = {}
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        if dirnames or not any(f.endswith(".parquet") for f in filenames):
            continue  # not a leaf data directory
        results[os.path.relpath(dirpath, path)] = compact(
            spark, dirpath, target_file_bytes
        )
    return results


def merge_upsert(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    keys: list[str],
    delete_col: str | None = None,
    return_stats: bool = False,
) -> dict[str, int] | None:
    """SCD-1 MERGE into a FLAT parquet table: change rows REPLACE
    target rows with the same key, unmatched change rows INSERT, and —
    when ``delete_col`` names a boolean column — flagged rows DELETE
    their key instead. The lakehouse-format-free equivalent of Delta's
    ``MERGE INTO`` (copy-on-write): the surviving target rows are the
    key anti-join, the new table is ``(target ▷ change_keys) ∪
    upserts``, and the rewrite swaps in with :func:`compact`'s
    rename-aside crash-safety (at every instant ``path`` or the aside
    holds a complete copy; a previous crash is recovered on entry).

    One anti-join (broadcast when the change-key set is small — the
    size-gated ``dedup_against``) + one rewrite of the table; no
    driver-side row handling. For big partitioned tables use
    :func:`merge_upsert_partitioned`, which rewrites ONLY the leaves
    the changes touch.

    ``return_stats`` adds a pre-swap pass counting
    {updated, inserted, deleted} (three cheap key-join counts).
    """
    import os
    import shutil

    from ..operators.incremental import dedup_against

    path = path.rstrip("/")
    parent, base = os.path.split(path)
    tmp = os.path.join(parent, f".{base}__merging")
    old = os.path.join(parent, f".{base}__old")
    if os.path.exists(tmp):
        shutil.rmtree(tmp)  # incomplete rewrite — original intact
    if os.path.exists(old):
        if os.path.exists(path):
            shutil.rmtree(old)  # swap completed; cleanup interrupted
        else:
            os.rename(old, path)  # crash between the two renames

    target = spark.read.parquet(path)
    upserts = changes
    if delete_col is not None:
        from pyspark.sql import functions as F

        upserts = changes.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)
    missing = set(target.columns) - set(upserts.columns)
    if missing:
        raise ValueError(f"merge_upsert: changes missing columns {sorted(missing)}")
    change_keys = changes.select(*keys).distinct()
    survivors = dedup_against(target, change_keys, keys)
    merged = survivors.unionByName(upserts.select(*target.columns))

    stats: dict[str, int] | None = None
    if return_stats:
        matched = changes.join(target.select(*keys).distinct(), keys, "left_semi")
        if delete_col is not None:
            from pyspark.sql import functions as F

            flag = F.coalesce(F.col(delete_col), F.lit(False))
            stats = {
                "deleted": matched.filter(flag).count(),
                "updated": matched.filter(~flag).count(),
                "inserted": changes.filter(~flag)
                .join(target.select(*keys).distinct(), keys, "left_anti")
                .count(),
            }
        else:
            stats = {
                "deleted": 0,
                "updated": matched.count(),
                "inserted": changes.join(
                    target.select(*keys).distinct(), keys, "left_anti"
                ).count(),
            }

    merged.write.mode("overwrite").parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return stats


def merge_upsert_partitioned(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    keys: list[str],
    part_col: str,
    delete_col: str | None = None,
) -> dict[str, str]:
    """MERGE into a ``partitionBy(part_col)`` layout, rewriting ONLY
    the leaves whose partition value appears in ``changes`` — untouched
    leaves keep their files byte-identical, which is what makes MERGE
    affordable at 100 TB (a day's changes touch a handful of date
    partitions, not the table). New partition values create new leaves.

    Constraint (same as every copy-on-write merge without a global key
    index): ``part_col`` must be immutable per key — a change row is
    routed to ITS partition value and cannot find the key under any
    other. Returns {partition value: 'merged' | 'created'}.
    """
    import os

    from pyspark.sql import functions as F

    vals = [
        r[0] for r in changes.select(part_col).distinct().collect()
    ]  # affected partitions only — a small driver list by construction
    results: dict[str, str] = {}
    for v in sorted(vals, key=str):
        leaf = os.path.join(path.rstrip("/"), f"{part_col}={v}")
        ch = changes.filter(F.col(part_col) == F.lit(v)).drop(part_col)
        if delete_col is not None:
            inserts = ch.filter(
                ~F.coalesce(F.col(delete_col), F.lit(False))
            ).drop(delete_col)
        else:
            inserts = ch
        if not os.path.isdir(leaf):
            inserts.write.parquet(leaf)
            results[str(v)] = "created"
        else:
            merge_upsert(spark, leaf, ch, keys, delete_col=delete_col)
            results[str(v)] = "merged"
    return results


def write_sorted(
    df: DataFrame, path: str, sort_cols: list[str], n_files: int | None = None
) -> None:
    """Append parquet files sorted WITHIN each file by ``sort_cols`` so
    row-group min/max on those columns is tight and range predicates
    (the watermark filter F1) skip row groups. ``repartitionByRange``
    additionally makes file-level ranges disjoint — a filter then prunes
    whole files, not just row groups."""
    out = df
    if n_files:
        out = out.repartitionByRange(n_files, *sort_cols)
    out.sortWithinPartitions(*sort_cols).write.mode("append").parquet(path)


def _spread_bits(col, n_dims: int = 2):
    """Spread a 21-bit value so its bits land every ``n_dims`` positions
    (Morton/Z-curve encoding, the classic shift-and-mask cascade as
    pure bitwise expressions — whole-stage codegen, no UDF). 21 bits ×
    up to 3 dims stays inside the int64 sign bit. Masks are the
    standard magic numbers for 64-bit bit interleaving."""
    from pyspark.sql import functions as F

    x = col.cast("bigint").bitwiseAND(F.lit((1 << 21) - 1))
    if n_dims == 2:
        steps = [
            (16, 0x0000FFFF0000FFFF),
            (8, 0x00FF00FF00FF00FF),
            (4, 0x0F0F0F0F0F0F0F0F),
            (2, 0x3333333333333333),
            (1, 0x5555555555555555),
        ]
    else:  # 3 dims: bits every 3rd position
        steps = [
            (32, 0x001F00000000FFFF),
            (16, 0x001F0000FF0000FF),
            (8, 0x100F00F00F00F00F),
            (4, 0x10C30C30C30C30C3),
            (2, 0x1249249249249249),
        ]
    for shift, mask in steps:
        x = x.bitwiseOR(F.shiftleft(x, shift)).bitwiseAND(F.lit(mask))
    return x


def zorder_value(cols: list, bits: int = 21):
    """Interleave the low ``bits`` of 2-3 non-negative int columns into
    one Morton (Z-order) key. Sorting by this key clusters rows that are
    close in EVERY dimension, so parquet min/max file skipping works for
    predicates on any subset of the dimensions — the multi-dim
    complement of ``write_sorted``'s single-key clustering."""
    from functools import reduce

    from pyspark.sql import functions as F

    assert 2 <= len(cols) <= 3, "z-order supports 2 or 3 dimensions"
    spread = [
        F.shiftleft(_spread_bits(c, n_dims=len(cols)), i)
        for i, c in enumerate(cols)
    ]
    return reduce(lambda a, b: a.bitwiseOR(b), spread)


def write_zordered(
    df: DataFrame, path: str, zorder_cols: list[str], n_files: int = 8
) -> None:
    """Append parquet files clustered on the Z-curve over
    ``zorder_cols``: range-partition + sort by the interleaved key, then
    drop it (the layout, not the column, carries the clustering). At
    100 TB this is how a table serves selective filters on two
    independent dimensions (e.g. date × customer) from one physical
    copy — either predicate alone prunes ~sqrt-proportionally, both
    together prune multiplicatively."""
    from pyspark.sql import functions as F

    z = zorder_value([F.col(c) for c in zorder_cols]).alias("__z")
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("append")
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a table hash-BUCKETED on the join/agg key — the
    co-location layout that removes the shuffle from every later join
    or aggregation on that key.

    ``bucketBy`` records the hash partitioning in the catalog; when two
    tables share (bucket key, bucket count), Catalyst plans their join
    as a zero-Exchange sort-merge (each task reads bucket i of both
    sides), and a groupBy on the key needs no exchange either. At
    100 TB this converts the nightly fact⋈fact join from the cluster's
    biggest shuffle into a co-located streaming merge — the layout is
    paid ONCE at write time, then every consumer skips its shuffle
    (pinned by tests/test_scale_layout.py: bucketed-join plan contains
    no Exchange, unbucketed twin contains two).

    ``sort_cols`` additionally sorts within buckets so the merge side
    skips its per-task sort. Bucket count is a layout contract: pick it
    for target file sizes (total/n_buckets ≈ 128-512 MB) and keep it
    stable across tables that join together.
    """
    w = (
        df.write.mode(mode)
        .bucketBy(n_buckets, bucket_cols[0], *bucket_cols[1:])
    )
    if sort_cols:
        w = w.sortBy(sort_cols[0], *sort_cols[1:])
    w.format("parquet").saveAsTable(table)
