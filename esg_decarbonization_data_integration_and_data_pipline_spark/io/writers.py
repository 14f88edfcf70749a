"""Idempotent table writers (SURVEY.md §2.1 S6-S9, §4.2.1).

The reference's core load semantics is DELETE-the-target-slice then
append (reference: jobs/source_to_raw/fem_ratio.py:53-57 key-tuple
IN-lists; jobs/raw_to_staging.py:201-205,833-835 date ranges;
Model/Factory_elect_simulator_update.py:129-142 truncate+load). Here
each policy is a set-based write against a partitioned parquet
warehouse:

- ``append``       -> plain append (S6)
- ``overwrite``    -> truncate-and-load (S8)
- ``replace_range``-> dynamic partition overwrite: only the month
  partitions present in the batch are replaced (S7 date-range flavor;
  the reference's per-month DELETE loop collapses into ONE write)
- ``replace_keys`` -> MERGE-flavored: rewrite = old rows anti-joined
  on the key tuple + new rows (S7 key-tuple flavor, S9's per-site
  loop without the loop)

``staged`` is no write policy but the jobs' helper for an
intermediate with more than one consumer: written once, read back by
each consumer.

At 100 TB the partitioned policies touch only the affected partitions
(partition pruning on read, dynamic overwrite on write); only
``replace_keys`` on an unpartitioned key requires a rewrite, which is
why tables carrying a period column should always be partitioned by
it (see ``month_partitioned``).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator, Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType


def table_path(warehouse: str, schema: str, name: str) -> str:
    """<warehouse>/<schema>.db/<name> -- one database dir per layer
    (raw/staging/app), mirroring the reference's Postgres schemas."""
    return os.path.join(warehouse, f"{schema}.db", name)


def append(df: DataFrame, path: str, partition_by: Sequence[str] = ()) -> None:
    w = df.write.mode("append")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def overwrite(df: DataFrame, path: str, partition_by: Sequence[str] = ()) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def replace_range(df: DataFrame, path: str,
                  partition_by: Sequence[str]) -> None:
    """Dynamic partition overwrite: replaces exactly the partitions
    present in ``df`` and leaves every other partition untouched --
    the set-based equivalent of `DELETE WHERE period_start BETWEEN
    ... ; INSERT` (requires
    spark.sql.sources.partitionOverwriteMode=dynamic, set in
    session.py; asserted here because static mode would silently
    truncate the whole table).
    """
    spark = df.sparkSession
    mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    if mode.lower() != "dynamic":
        raise RuntimeError(
            "replace_range requires spark.sql.sources.partitionOverwriteMode="
            "dynamic (static mode would truncate unrelated partitions)")
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)


def replace_keys(df: DataFrame, path: str, keys: Sequence[str],
                 partition_by: Sequence[str] = ()) -> None:
    """Upsert by natural key over plain parquet: keep old rows whose
    key tuple does NOT appear in the batch (left_anti), add the
    batch, swap. On Delta/Iceberg this maps to MERGE; on parquet both
    halves land in one staging dir that is then moved into place with
    directory renames (metadata-only), so every row is written ONCE.

    The batch is staged first and its key set is read back from the
    stage: the batch plan runs once (deriving the keys from ``df``
    would run it again for the anti join -- column pruning makes the
    two subtrees differ, so Spark reuses no exchange), and the keys
    that decide which old rows survive come from the very bytes the
    swap publishes, so a nondeterministic batch cannot disagree with
    itself.  Both writes cast to ``old.unionByName(df)``'s schema
    (stored column order, widened types; analysis only, no job), so
    the stage's files agree on column order and types.  Their footers
    can still differ in nullability, which each write takes from its
    own plan; Spark reads them under one schema either way.

    When ``partition_by`` is set it must be a subset of ``keys``:
    partition columns outside the key tuple would let a batch row
    supersede an old row living in a different partition, and that
    partition would never be rewritten -- the "deleted" rows resurrect
    on the next read. With the invariant held, every superseded row
    lives in a partition the batch also touches, so the read AND the
    rewrite prune to exactly the batch's partitions.
    """
    spark = df.sparkSession
    if partition_by and not set(partition_by) <= set(keys):
        raise ValueError(
            f"replace_keys requires partition_by ⊆ keys (got partition_by="
            f"{list(partition_by)}, keys={list(keys)}): a partition column "
            "outside the key tuple lets superseded rows survive in "
            "partitions the batch never rewrites")
    # the merge decision rides on os.path existence checks and the
    # rename dance -- on a URI path those silently see "no table" and
    # the overwrite branch drops every prior row, so reject up front
    _assert_local_fs(path)
    heal_swap(path)  # a crash mid-swap must not look like "no table"
    if not os.path.exists(path):
        overwrite(df, path, partition_by)
        return
    tmp = path.rstrip("/") + ".__staging__"
    _rm(tmp)  # leftover from a crashed prior run
    old = read_table(spark, path)
    target = old.unionByName(df).schema
    overwrite(_cast(df, target), tmp, partition_by)  # the batch, once
    staged = spark.read.schema(target).parquet(tmp)
    if partition_by:
        # prune the merge to the partitions present in the batch;
        # untouched partitions are never read or rewritten
        pvals = staged.select(*partition_by).distinct()
        old = old.join(F.broadcast(pvals), list(partition_by), "left_semi")
    # no distinct() on the key side: an anti join keeps the same rows
    # whether or not it sees a key twice, and the dedup is a shuffle
    keep = old.join(staged.select(*keys), list(keys), "left_anti")
    append(_cast(keep, target), tmp, partition_by)  # the surviving rows
    if partition_by:
        _swap_partition_dirs(tmp, path, len(partition_by))
        _rm(tmp)
    else:
        swap_into_place(tmp, path)


def _cast(df: DataFrame, schema: StructType) -> DataFrame:
    """``df`` in ``schema``'s column order, names and types (a join
    USING keys moves the key columns first; this restores the stored
    order too)."""
    return df.select(*[F.col(f.name).cast(f.dataType).alias(f.name)
                       for f in schema])


def delete_keys(spark: SparkSession, path: str, keys_df: DataFrame,
                keys: Sequence[str],
                partition_by: Sequence[str] = ()) -> None:
    """DELETE by key tuple over plain parquet: rewrite = old rows
    anti-joined against ``keys_df``'s key tuples, staged and
    renamed into place like every keyed writer.  The removal twin of
    ``replace_keys`` -- a snapshot-diff driven recompute needs both
    (merge the added/changed, delete the removed).  No-op when the
    table does not exist.

    ``partition_by`` must name the table's partition layout so the
    rewrite PRESERVES it (a flat rewrite would silently strip
    partition pruning from every later reader); the whole table is
    still rewritten -- a key can live in any partition, and a leaf
    emptied by the delete must disappear, which a partition-scoped
    swap cannot express on raw parquet.  On Delta/Iceberg this maps
    to ``DELETE WHERE`` (which does prune); on parquet batch
    removals into one call rather than looping per key (the
    reference's per-key DELETE loop, S9).  No broadcast hint on the
    key set: a mass removal can be arbitrarily large, and AQE
    broadcasts the small case by itself."""
    _assert_local_fs(path)  # URI paths would silently delete nothing
    heal_swap(path)
    if not os.path.exists(path):
        return
    tmp = path.rstrip("/") + ".__staging__"
    _rm(tmp)
    old = read_table(spark, path)
    keep = (old.join(keys_df.select(*keys), list(keys), "left_anti")
            .select(*old.columns))  # the join moved the keys first
    overwrite(keep, tmp, partition_by)
    swap_into_place(tmp, path)


@contextmanager
def staged(df: DataFrame, stage_path: str) -> Iterator[DataFrame]:
    """Write ``df`` once to ``stage_path`` and yield it read back from
    there, for a job that derives more than one output (or one output
    and a scalar over it) from the same intermediate.  Every consumer
    of the yielded frame scans the stage instead of running ``df``'s
    plan again -- column pruning makes each consumer's copy of that
    plan differ, so Spark reuses no exchange across them.  The read
    declares ``df``'s schema, so it starts no inference job.

    The stage is wiped on entry (a crashed prior run may have left it)
    and removed on exit, also when the block raises.  Name it after an
    output table, ``<table>.__shared__``, next to that table's
    ``.__staging__``; like the keyed writers it takes local paths
    only."""
    _assert_local_fs(stage_path)
    _rm(stage_path)
    try:
        overwrite(df, stage_path)
        yield df.sparkSession.read.schema(df.schema).parquet(stage_path)
    finally:
        _rm(stage_path)


def swap_into_place(tmp: str, path: str) -> None:
    """Retire ``path`` and move the fully-written ``tmp`` into place
    -- the rename dance every unpartitioned rewrite uses (one audited
    implementation: replace_keys and the signature-index compaction
    both call it). Renames are metadata-only; a crash at any point
    leaves either the old table, the old table under ``.__retired__``
    (healed by :func:`heal_swap`, which every keyed writer runs
    first; ``read_table`` never heals), or the fully-committed new
    table -- never a half-written one.

    POSIX-ONLY CONTRACT (asserted): ``os.rename`` atomicity does not
    exist on object stores -- S3 "renames" are copy+delete and a
    prefix can be observed half-moved.  At 100 TB on an object store
    this tier must be replaced by a manifest-commit table format
    (Delta/Iceberg -- SURVEY §4.2.1 maps replace_keys to MERGE); see
    SCALE.md's writer section.  Rejecting URI schemes loudly here
    beats silently corrupting a bucket."""
    _assert_local_fs(tmp)
    _assert_local_fs(path)
    heal_swap(path)
    retired = path.rstrip("/") + ".__retired__"
    os.rename(path, retired)
    os.rename(tmp, path)
    _rm(retired)


def heal_swap(path: str) -> None:
    """Repair a table whose last :func:`swap_into_place` crashed
    mid-dance.  States (the dance is rm-retired, rename path->retired,
    rename tmp->path, rm retired):

    - ``path`` missing, ``.__retired__`` present: crashed between the
      two renames.  Roll BACK (retired -> path): the old table
      returns, the caller's rewrite simply re-runs.  Without this, a
      rerun of replace_keys would see "no table" and overwrite with
      the batch alone -- silently dropping every pre-existing row.
    - both present: crashed after the commit rename; the swap already
      happened, the retired copy is garbage -> remove it.
    - ``path`` present alone: healthy, no-op.

    Race-tolerant: two post-crash healers can race on the rollback
    rename; the loser's ``os.rename`` raises and is swallowed iff the
    winner's rollback made ``path`` appear.  (The swap tier itself is
    single-writer by contract -- see :func:`swap_into_place` -- this
    only keeps concurrent RECOVERY from a crashed writer safe.)
    """
    retired = path.rstrip("/") + ".__retired__"
    if not os.path.exists(retired):
        return
    if os.path.exists(path):
        _rm(retired)
    else:
        try:
            os.rename(retired, path)
        except OSError:
            if not os.path.exists(path):
                raise


def _assert_local_fs(path: str) -> None:
    """The keyed-rewrite tier decides through ``os.path`` existence
    checks and commits through ``os.rename`` -- URI paths (including
    ``file://``, which ``os`` cannot parse) would make every check
    silently answer "no table" and the overwrite branch would drop
    all prior rows.  Reject them loudly; at 100 TB on an object
    store this tier is replaced by a manifest-committing table
    format (Delta/Iceberg MERGE / DELETE WHERE) -- see SCALE.md
    (writers)."""
    if "://" in path:
        raise ValueError(
            f"keyed parquet rewrites are local-path-only (got {path!r}): "
            f"os.rename cannot commit atomically there; pass a plain "
            f"filesystem path, or use a manifest-committing table format "
            f"(Delta/Iceberg) on object stores -- see SCALE.md (writers)")


def _swap_partition_dirs(src: str, dst: str, depth: int) -> None:
    """Move every leaf partition directory (``col=value/...`` nested
    ``depth`` levels) from ``src`` into ``dst``, replacing the
    corresponding leaf in ``dst`` if present. Rename-only: no data is
    copied. Swapping at leaf level (not top level) preserves sibling
    partitions that share a prefix value but were not in the batch."""
    import shutil

    def leaves(root: str, level: int) -> list[str]:
        if level == 0:
            return [""]
        out = []
        for entry in os.listdir(root):
            full = os.path.join(root, entry)
            if os.path.isdir(full) and "=" in entry:
                out.extend(os.path.join(entry, rest).rstrip("/")
                           for rest in leaves(full, level - 1))
        return out

    for rel in leaves(src, depth):
        target = os.path.join(dst, rel)
        if os.path.exists(target):
            shutil.rmtree(target)
        os.makedirs(os.path.dirname(target), exist_ok=True)
        os.rename(os.path.join(src, rel), target)


def _rm(path: str) -> None:
    import shutil

    shutil.rmtree(path, ignore_errors=True)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a table the writers wrote, declaring the schema Spark
    stored in its footer.  ``spark.read.parquet(path)`` without a
    schema starts a one-task Spark job to read one footer; the same
    footer read here on the driver starts none.  Partition columns
    are still discovered from the directory names, exactly as before,
    and a path with no data file reads as before, so Spark raises the
    same error for it.

    Reads NEVER mutate the table dir.  Healing here looked convenient
    but cannot distinguish a crashed swap from a LIVE one: a reader
    racing a writer mid-swap would rename the retired dir back and
    make the writer's commit rename fail (ENOTEMPTY) -- turning
    "reader fails during a swap" (the documented raw-parquet contract)
    into "reader breaks the writer".  After a crash, recovery runs at
    any WRITER entry point (replace_keys/delete_keys/compaction) or via
    an explicit heal_swap(path) call."""
    schema = _footer_schema(path)
    if schema is None:
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(path: str) -> StructType | None:
    """The Spark schema in the footer of the file Spark's own schema
    inference reads (``ParquetUtils.inferSchema``, mergeSchema off):
    the first data file in full-path order, skipping what Spark's
    file index skips -- names starting with ``_`` (unless a
    ``col=value`` dir) or ``.``.  None when there is no data file."""
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    if "://" in path or path.startswith("file:"):
        fs, root = pafs.FileSystem.from_uri(path)
    else:
        fs, root = pafs.LocalFileSystem(), os.path.abspath(path)
    info = fs.get_file_info(root)
    if info.type == pafs.FileType.File:
        files = [root]
    elif info.type == pafs.FileType.Directory:
        files = [f.path for f in fs.get_file_info(
                     pafs.FileSelector(root, recursive=True))
                 if f.type == pafs.FileType.File and not any(
                     (n.startswith("_") and "=" not in n)
                     or n.startswith(".")
                     for n in f.path[len(root):].split("/"))]
    else:
        files = []
    if not files:
        return None
    first = min(files)
    meta = pq.read_metadata(first, filesystem=fs).metadata or {}
    if _SPARK_SCHEMA_KEY not in meta:
        raise ValueError(
            f"{first}: no Spark schema in the parquet footer (key "
            f"{_SPARK_SCHEMA_KEY.decode()}); read_table reads tables "
            f"Spark wrote -- read other parquet with spark.read")
    return StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))


def month_partitioned(df: DataFrame, period_col: str = "period_start",
                      out_col: str = "period_month") -> DataFrame:
    """Attach the month partition column (yyyy-MM string) used by the
    warehouse layout, so replace_range prunes to month slices --
    the Spark shape of the reference's month-window DELETEs."""
    return df.withColumn(out_col,
                         F.date_format(F.col(period_col), "yyyy-MM"))
