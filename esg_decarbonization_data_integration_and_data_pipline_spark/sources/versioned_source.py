"""Spark-4 Python DataSource over versioned tables: ``spark.read
.format("versioned_table")`` for batch time travel and
``spark.readStream.format("versioned_table")`` for an append-only
streaming tail -- the Delta ``spark.read.format("delta")`` /
``readStream`` surface, built on the public Python Data Source API
(pyspark.sql.datasource, Spark 4.x).

Why a DataSource when ``read_version`` exists: the function API needs
our Python package on the CALLER's path and a direct call; the
DataSource face plugs into everything that speaks ``format(...)`` --
third-party tooling, SQL via temp views
(``spark.read.format(...).load().createOrReplaceTempView``), and
crucially Structured Streaming, where the engine owns offset
checkpointing so a restart resumes the tail exactly where it stopped
without the consumer managing a cursor file (:func:`~..io.versioned
.consume_changes` is the batch-side alternative).  Catalog ``CREATE
TABLE ... USING versioned_table`` is NOT usable on this Spark build:
its table path instantiates the Python source with EMPTY options at
read planning (verified -- the stored path never reaches reader()),
so register SQL names as temp views over a format() read instead
(tests/test_versioned_source_sql.py).  ``file:`` URIs in the path
option are accepted and resolved to the local path.

Throughput trade-off, measured (SCALE.md): rows cross a Python
worker as Arrow batches instead of staying in the JVM parquet
reader, costing ~3.7x on a raw 1.5M-row scan -- use
``read_version`` / ``read_current`` for bulk BATCH scans; this face
is for format() integration and the streaming tail, where
per-trigger deltas are small and the checkpointed offsets are the
point.

Batch (``DataSourceReader``): options ``path`` (table dir) and
optional ``version`` (time travel; default current).  Planning reads
only manifests (driver-side file I/O, no Spark jobs); one
InputPartition per data file; executors read their file through
pyarrow and emit Arrow RecordBatches aligned to the version's pinned
schema (pre-evolution files surface missing columns as NULLs, the
same name-based resolution the schema-pinned parquet read performs).

Filter pushdown (Spark 4.1; opt in per read with ``.option(
"pushdown", "true")`` -- and the session must have ``spark.sql
.python.filterPushdown.enabled`` on, which :func:`register` sets):
pushed =/</>/in/IS NULL/IS NOT NULL/startswith conjuncts prune
FILES at planning time through the one file pruner shared with the
function API, io.versioned._prune (partition and hidden-transform
directories, manifest min/max stats and null counts, and the bloom
index / sidecars for equality probes), and pre-filter ROWS
executor-side before the Arrow transfer -- the boundary this face
actually pays for.  Every
filter is returned to Spark for re-evaluation, so pushdown is pure
pruning: it can never change results, only skip I/O.  It is an
explicit option (not the default) because Spark 4.1 hard-errors on
a pushFilters-defining reader whenever the conf is off, and reader()
runs in the planning worker where the conf cannot be probed.

Streaming (``DataSourceStreamReader``): offsets are committed version
numbers; each micro-batch covers the versions in ``(start, end]``.
Append commits emit their ADDED files' rows; a commit that REWROTE
files (merge/delete/compaction) is not expressible as an append tail,
so it raises by default -- set ``skipChangeCommits true`` to skip
such commits entirely (rows arriving through them are never emitted),
exactly Delta's streaming-source contract.  A deletion-vector delete
(io.versioned.delete_keys_dv) counts as a rewrite here: the file set
is unchanged but rows are gone.  Partition planning is
deterministic from the immutable manifests, so checkpoint replays
re-emit identical batches (exactly-once downstream with an
idempotent/txn sink).  Retention caveat (also Delta's): vacuum must
keep every version a lagging checkpoint may still need -- a reaped
manifest inside ``(start, end]`` raises rather than silently skipping
data.

Write face (``df.write`` / ``df.writeStream`` with this format):
append commits an inheriting version, ``mode("overwrite")`` a
snapshot version (truncate-and-load WITH history); executors stream
Arrow batches straight into staged parquet parts and commit() runs
the SAME claim -> manifest -> pointer loop as append_version
(io.versioned._commit_staged_dir -- one commit protocol, two
stagers), entirely session-free.  Batch writes take an optional
``txn`` idempotence marker; streaming writes REQUIRE ``txnAppId``
and commit one version per micro-batch exactly-once (marker =
txnAppId:batchId, the io/scd + matview foreachBatch discipline
behind the standard sink API).  COMPLETE output mode commits each
batch as a snapshot version (the engine passes truncate semantics;
appending would union stale and fresh snapshots).  Batch commits
publish exactly the parts the successful task attempts messaged --
a failed-then-retried or speculative task's leftover partial part
is dropped, never manifested.  Constraint-bearing tables are
refused loudly (no session to run the write-time scan) -- use
append_version.  Schema enforcement/evolution (``mergeSchema``) and
``statsColumns`` file-skipping stats work exactly as on the
function API, because the commit path IS the function API's.

Change feed (``readChangeFeed true``, Delta's CDF face): every commit
surfaces as ROW-LEVEL changes -- the table's columns plus
``_change_type`` (``insert`` | ``delete``; an update is
delete+insert, the read_changes convention -- the table declares no
key) and ``_commit_version`` attributing each change to its commit.
Works on BOTH faces: ``spark.read`` with ``startingVersion``
(exclusive base) and optional ``endingVersion`` (default current),
and ``spark.readStream``, where the same version-number offsets now
carry rewrite commits instead of refusing them
(mutually exclusive with ``skipChangeCommits``).  Planning stays
driver-side manifest metadata: append commits plan one insert
partition per added file; a compaction (recorded row-identical
``#base``) plans to NOTHING -- auto-compactions never wake the
consumer; any other rewrite plans executor-side multiset-diff
partitions over its removed+added files (O(rewritten bytes) --
commit-sized for keyed merges/deletes; a rewrite past 256 MiB shards
into hash-bucketed partitions so even a full-table overwrite diffs
with bounded per-task memory).  Deletion vectors: every read face
applies them executor-side (each partition carries its file's
encoded sidecar; readers mask rows by file offset); a dv-only commit
plans O(changed-rows) position partitions in the feed, and diff
partitions carry per-side masks so a merge of a dv-bearing file
never re-emits already-deleted rows as spurious deletes.  Diff rows
compare with the same equality as io.versioned.read_changes' typed
grouping: NULLs equal, -0.0 equal to 0.0, NaN equal to NaN, map
entries compared sorted by key.
Semantics note: this face is PER-COMMIT (Delta's CDF -- a row
inserted then deleted inside a multi-commit range surfaces as BOTH
changes, each attributed to its commit), whereas read_changes nets a
multi-commit range against its endpoints; their folds always agree,
and on single-commit ranges they are row-identical
(property-tested in tests/test_versioned_source_cdf_property.py).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)


_CHANGE_TYPE = "_change_type"
_COMMIT_VERSION = "_commit_version"


class _FilePart(InputPartition):
    def __init__(self, abs_path: str, arrow_schema_bytes: bytes,
                 dv_bytes: bytes | None = None):
        self.abs_path = abs_path
        self.arrow_schema_bytes = arrow_schema_bytes
        # encoded deletion-vector sidecar (io.versioned._encode_dv)
        # for this file, or None -- decoded executor-side
        self.dv_bytes = dv_bytes


class _ChangeFilePart(InputPartition):
    """One data file whose every row is one change of ``change_type``
    at ``version`` (the append fast path of the change feed)."""

    def __init__(self, abs_path: str, arrow_schema_bytes: bytes,
                 change_type: str, version: int):
        self.abs_path = abs_path
        self.arrow_schema_bytes = arrow_schema_bytes
        self.change_type = change_type
        self.version = version


class _DvChangePart(InputPartition):
    """One file's deletion-vector delta within one commit: rows at
    positions newly marked deleted emit as ``delete``; positions
    unmarked (a restore rewound past the delete) as ``insert``.
    O(changed rows), no multiset diff."""

    def __init__(self, abs_path: str, arrow_schema_bytes: bytes,
                 version: int, del_pos: list, ins_pos: list):
        self.abs_path = abs_path
        self.arrow_schema_bytes = arrow_schema_bytes
        self.version = version
        self.del_pos = del_pos
        self.ins_pos = ins_pos


def _read_dv_change(part: "_DvChangePart"):
    import bisect

    import pyarrow as pa
    import pyarrow.ipc as ipc
    import pyarrow.parquet as pq

    schema = ipc.read_schema(pa.BufferReader(part.arrow_schema_bytes))
    phys = {f.name: _field_physical(f) for f in schema}
    out_schema = _cdf_arrow_schema(part.arrow_schema_bytes)
    pf = pq.ParquetFile(part.abs_path)
    present = [phys[f.name] for f in schema
               if phys[f.name] in pf.schema_arrow.names]
    pv = _path_partition_values(part.abs_path)
    off = 0
    for batch in pf.iter_batches(columns=present):
        n = batch.num_rows
        for positions, tag in ((part.del_pos, "delete"),
                               (part.ins_pos, "insert")):
            i = bisect.bisect_left(positions, off)
            j = bisect.bisect_left(positions, off + n)
            if i == j:
                continue
            taken = batch.take(
                pa.array([p - off for p in positions[i:j]],
                         pa.int64()))
            m = taken.num_rows
            cols = []
            for f in schema:
                if phys[f.name] in taken.schema.names:
                    cols.append(taken.column(phys[f.name])
                                .cast(f.type))
                else:
                    cols.append(_part_column(pv, phys[f.name],
                                             m, f.type))
            yield _with_change_cols(
                pa.RecordBatch.from_arrays(cols, schema=schema),
                out_schema, tag, part.version)
        off += n


class _ChangeDiffPart(InputPartition):
    """One REWRITE commit's row-level multiset diff (removed vs
    added files), computed executor-side -- O(rewritten bytes), which
    is the commit's own size for keyed merges/deletes (compactions
    never reach here: row-identical #base commits plan to zero
    partitions).  A LARGE rewrite (full overwrite of a big table)
    would hold its whole Counter in one task, so the planner shards
    it into ``n_buckets`` partitions, each diffing only the rows
    whose canonical-key hash lands in its ``bucket`` -- bounded
    memory per task at the price of re-reading the commit's files
    once per bucket (a deliberate IO-for-memory trade, and only for
    commits past the shard threshold)."""

    def __init__(self, removed_abs: list[str], added_abs: list[str],
                 arrow_schema_bytes: bytes, version: int,
                 bucket: int = 0, n_buckets: int = 1,
                 removed_dv: dict | None = None,
                 added_dv: dict | None = None):
        self.removed_abs = removed_abs
        self.added_abs = added_abs
        self.arrow_schema_bytes = arrow_schema_bytes
        self.version = version
        self.bucket = bucket
        self.n_buckets = n_buckets
        # {abs_path: encoded dv sidecar} per side: each side's rows
        # must be its LOGICAL rows (deletion-vector-filtered), or a
        # rewrite of a dv-bearing file re-emits already-deleted rows
        # as spurious deletes
        self.removed_dv = removed_dv or {}
        self.added_dv = added_dv or {}


def _path_partition_values(abs_path: str) -> dict[str, str]:
    """Hive-style ``col=value`` directory segments below the LAST
    ``v_NNNNNNNN`` version dir of a data file's path -- delegates to
    io.versioned._partition_values (ONE parser for both the planner
    and the executors, r13 review finding #3), so every per-file
    face (batch, pushdown, change feed, dv delta) re-attaches
    partition columns without planner or partition-class changes."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        _partition_values,
    )

    return _partition_values(abs_path)


_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"  # = io.versioned's


def _part_column(pv: dict, phys_name: str, m: int, typ):
    """A length-``m`` arrow column for a field ABSENT from the file:
    the path's constant partition value cast to the field type, or
    nulls (no partition dir for it / the Hive null marker).  A
    partition value that cannot cast raises -- silently nulling a
    known value would corrupt the read."""
    import pyarrow as pa

    v = pv.get(phys_name)
    if v is None or v == _NULL_PARTITION:
        return pa.nulls(m, type=typ)
    return pa.array([v] * m, type=pa.string()).cast(typ)


def _field_physical(f) -> str:
    """The parquet-file column behind one arrow field: the
    column-mapping physical name the planner stored in the field's
    arrow metadata (_arrow_schema_bytes), else the field name."""
    md = f.metadata or {}
    phys = md.get(b"physical")
    return phys.decode("utf-8") if phys is not None else f.name


def _dv_local_mask(positions, off: int, n: int):
    """Boolean keep-mask for a batch spanning file rows
    [off, off+n) given the file's sorted deleted positions, or None
    when nothing in range."""
    import bisect

    i = bisect.bisect_left(positions, off)
    j = bisect.bisect_left(positions, off + n)
    if i == j:
        return None
    import numpy as np

    mask = np.ones(n, dtype=bool)
    for p in positions[i:j]:
        mask[p - off] = False
    return mask


def _read_aligned(abs_path: str, arrow_schema_bytes: bytes,
                  dv_bytes: bytes | None = None):
    """Executor-side: stream one parquet file as RecordBatches
    aligned to the pinned schema (missing columns -> NULL, extras
    dropped, order fixed).  Files speak PHYSICAL column names; each
    field's physical name travels in the arrow schema's field
    metadata, so a column-mapped table reads correctly through every
    face that funnels here (batch, pushdown, change feed, stream)."""
    import pyarrow as pa
    import pyarrow.ipc as ipc
    import pyarrow.parquet as pq

    schema = ipc.read_schema(pa.BufferReader(arrow_schema_bytes))
    phys = {f.name: _field_physical(f) for f in schema}
    positions = None
    if dv_bytes is not None:
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import _decode_dv

        positions = _decode_dv(dv_bytes)
    pf = pq.ParquetFile(abs_path)
    present = [phys[f.name] for f in schema
               if phys[f.name] in pf.schema_arrow.names]
    pv = _path_partition_values(abs_path)
    off = 0
    for batch in pf.iter_batches(columns=present):
        n = batch.num_rows
        if positions is not None:
            mask = _dv_local_mask(positions, off, n)
            off += n
            if mask is not None:
                batch = batch.filter(pa.array(mask))
                if batch.num_rows == 0:
                    continue
        else:
            off += n
        m = batch.num_rows
        cols = []
        for f in schema:
            if phys[f.name] in batch.schema.names:
                cols.append(batch.column(phys[f.name]).cast(f.type))
            else:
                cols.append(_part_column(pv, phys[f.name], m, f.type))
        yield pa.RecordBatch.from_arrays(cols, schema=schema)


def _dv_payloads(path: str, n: int) -> dict:
    """data relpath -> ENCODED dv sidecar bytes for version ``n``
    (empty dict when the version has no deletion vectors).  The
    compressed sidecar travels in the partition; executors decode."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import _read_dvs

    out = {}
    for f, (d, _cnt) in _read_dvs(path, n).items():
        with open(os.path.join(path, d), "rb") as fh:
            out[f] = fh.read()
    return out


def _cdf_arrow_schema(arrow_schema_bytes: bytes):
    import pyarrow as pa
    import pyarrow.ipc as ipc

    base = ipc.read_schema(pa.BufferReader(arrow_schema_bytes))
    return (base.append(pa.field(_CHANGE_TYPE, pa.string()))
                .append(pa.field(_COMMIT_VERSION, pa.int64())))


def _with_change_cols(batch, out_schema, change_type: str,
                      version: int):
    import pyarrow as pa

    n = batch.num_rows
    cols = list(batch.columns)
    cols.append(pa.array([change_type] * n, pa.string()))
    cols.append(pa.array([version] * n, pa.int64()))
    return pa.RecordBatch.from_arrays(cols, schema=out_schema)


def _read_change_file(part: "_ChangeFilePart"):
    out_schema = _cdf_arrow_schema(part.arrow_schema_bytes)
    for batch in _read_aligned(part.abs_path,
                               part.arrow_schema_bytes):
        yield _with_change_cols(batch, out_schema, part.change_type,
                                part.version)


def _read_change_diff(part: "_ChangeDiffPart"):
    """Executor-side multiset diff of one rewrite commit: rows are
    keyed by a JSON list in pinned-schema field order, with the same
    equality as io.versioned.read_changes' grouped diff (-0.0 keyed
    as 0.0, NaN equal to NaN, NULLs equal, map entries sorted by key
    -- see :func:`_canonicalizer`), and the per-side count difference
    is emitted as |delta| copies of delete/insert.  With
    ``n_buckets > 1`` (a sharded large commit) only the rows whose
    key hash lands in this partition's bucket are counted -- the
    per-key hash assignment is identical on both sides, so each
    distinct row is diffed by exactly one partition."""
    import hashlib
    import json
    from collections import Counter

    import pyarrow as pa
    import pyarrow.ipc as ipc

    base = ipc.read_schema(pa.BufferReader(part.arrow_schema_bytes))
    canon = [(f.name, _canonicalizer(f.type)) for f in base]
    out_schema = _cdf_arrow_schema(part.arrow_schema_bytes)
    nb, mine = part.n_buckets, part.bucket

    def side(paths, dv):
        cnt: Counter = Counter()
        rep: dict = {}
        for p in paths:
            for batch in _read_aligned(p, part.arrow_schema_bytes,
                                       dv.get(p)):
                for row in batch.to_pylist():
                    k = json.dumps(
                        [row.get(f) if c is None else c(row.get(f))
                         for f, c in canon],
                        default=str, ensure_ascii=False)
                    if nb > 1 and int.from_bytes(
                            hashlib.md5(k.encode("utf-8"))
                            .digest()[:4], "little") % nb != mine:
                        continue
                    cnt[k] += 1
                    if k not in rep:
                        rep[k] = row
        return cnt, rep

    rem_cnt, rem_rep = side(part.removed_abs,
                            getattr(part, "removed_dv", {}))
    add_cnt, add_rep = side(part.added_abs,
                            getattr(part, "added_dv", {}))
    for change_type, mine, other, rep in (
            ("delete", rem_cnt, add_cnt, rem_rep),
            ("insert", add_cnt, rem_cnt, add_rep)):
        rows = []
        for k, c in mine.items():
            d = c - other.get(k, 0)
            if d > 0:
                rows.extend([rep[k]] * d)
        if rows:
            tbl = pa.Table.from_pylist(rows, schema=base)
            for batch in tbl.to_batches():
                yield _with_change_cols(batch, out_schema,
                                        change_type, part.version)


def _canonicalizer(t):
    """The key function of one arrow type's values for the change
    diff, or None where a value keys as itself: floats map -0.0 to
    0.0 (NaN keys as NaN), maps sort their entries by key, and
    structs and lists canonicalize their children -- SQL grouping
    equality, as read_changes' typed aggregate applies it."""
    import json

    import pyarrow as pa

    if pa.types.is_floating(t):
        return lambda v: None if v is None else v + 0.0
    if pa.types.is_map(t):
        kc = _canonicalizer(t.key_type) or (lambda v: v)
        vc = _canonicalizer(t.item_type) or (lambda v: v)
        return lambda v: None if v is None else sorted(
            ([kc(k), vc(x)] for k, x in v),
            key=lambda e: json.dumps(e[0], default=str))
    if pa.types.is_struct(t):
        subs = [(f.name, _canonicalizer(f.type)) for f in t]
        if all(c is None for _, c in subs):
            return None
        return lambda v: None if v is None else {
            n: v[n] if c is None else c(v[n]) for n, c in subs}
    if (pa.types.is_list(t) or pa.types.is_large_list(t)
            or pa.types.is_fixed_size_list(t)):
        ec = _canonicalizer(t.value_type)
        if ec is None:
            return None
        return lambda v: None if v is None else [ec(x) for x in v]
    return None


def _read_change_part(part):
    if part is None:
        # an empty partitions() list (e.g. a range holding only a
        # row-identical compaction) still gets one read(None) call
        # from the engine
        return
    if isinstance(part, _ChangeDiffPart):
        yield from _read_change_diff(part)
    elif isinstance(part, _DvChangePart):
        yield from _read_dv_change(part)
    else:
        yield from _read_change_file(part)


def _walk_commit_diffs(path: str, s: int, e: int, snapshot: bool,
                       who: str):
    """The shared commit walk behind the append-tail planner and the
    change-feed planner: yields ``(n, prev_set, prev_n, cur_list,
    cur_set)`` for each committed version in ``(s, e]``, with ONE
    copy of the vacuum-retention guards (a reaped version or diff
    base raises -- silently mis-attributing rows is never an option)
    and of the diff-base resolution, including the fresh-checkpoint
    ``snapshot`` distinction (an unreadable base at a genuine start
    means "everything is new"; at a LAGGING checkpoint it means the
    emitted set is unknowable)."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        _data_files, _read_dvs, committed_versions,
    )

    committed = [n for n in committed_versions(path) if s < n <= e]
    prev: set | None = None
    prev_n: int | None = None
    prev_dvs: dict = {}
    for n in committed:
        if not os.path.isdir(os.path.join(path, f"v_{n:08d}")):
            raise ValueError(
                f"{who} needs v_{n} of {path} but it was vacuumed "
                f"-- retention must outlive the checkpoint lag "
                f"(restart from a fresh checkpoint/startingVersion)")
        if prev is None:
            base = n - 1
            if base >= 1 and os.path.isdir(
                    os.path.join(path, f"v_{base:08d}")):
                prev = set(_data_files(path, base))
                prev_n = base
                prev_dvs = _read_dvs(path, base)
            elif base < 1 or snapshot:
                prev = set()
                prev_n = base
                prev_dvs = {}
            else:
                raise ValueError(
                    f"{who} needs v_{base} of {path} as its diff "
                    f"base but it was vacuumed -- retention must "
                    f"outlive the checkpoint lag (restart from a "
                    f"fresh checkpoint/startingVersion, accepting "
                    f"re-emission)")
        cur = _data_files(path, n)
        cur_dvs = _read_dvs(path, n)
        yield n, prev, prev_n, cur, set(cur), prev_dvs, cur_dvs
        prev, prev_n, prev_dvs = set(cur), n, cur_dvs


def _plan_change_commits(path: str, s: int, e: int,
                         schema_bytes: bytes,
                         snapshot: bool = False) -> list:
    """Driver-side change-feed planning over the commits in
    ``(s, e]``: manifests only, no Spark jobs.  Append commits plan
    one insert partition per ADDED file; a rewrite commit whose
    recorded #base is the previous commit (compaction) is
    row-identical and plans to nothing; any other rewrite plans ONE
    multiset-diff partition over its removed+added files.  The
    vacuum-retention guards live in :func:`_walk_commit_diffs`,
    shared with the append-tail planner."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        _base_of, _decode_dv,
    )

    def _pos(dvs, f):
        if f not in dvs:
            return []
        with open(os.path.join(path, dvs[f][0]), "rb") as fh:
            return _decode_dv(fh.read())

    root = os.path.abspath(path)
    parts: list = []
    for n, prev, prev_n, cur, cur_set, prev_dvs, cur_dvs in \
            _walk_commit_diffs(path, s, e, snapshot, "change feed"):
        added = [f for f in cur if f not in prev]
        removed = sorted(prev - cur_set)
        # deletion-vector deltas on files COMMON to both sides: rows
        # newly marked emit as deletes, unmarked (restore) as inserts
        # -- O(changed rows) per file, planned from metadata
        for f in sorted(prev & cur_set):
            if prev_dvs.get(f) == cur_dvs.get(f):
                continue  # sidecars immutable: (rel, n) equality is exact
            a = set(_pos(prev_dvs, f))
            b = set(_pos(cur_dvs, f))
            if a == b:
                continue
            parts.append(_DvChangePart(
                os.path.join(root, f), schema_bytes, n,
                sorted(b - a), sorted(a - b)))
        if not removed:
            parts.extend(
                _ChangeFilePart(os.path.join(root, f), schema_bytes,
                                "insert", n)
                for f in added if f not in cur_dvs)
            # an added file already dv-bearing in the same commit
            # cannot happen from our writers; plan it as a masked
            # diff-side if it ever does.  (cur_dvs comes from the
            # walk -- no per-commit manifest/sidecar re-read, review
            # r12e-4)
            for f in added:
                if f in cur_dvs:
                    abs_f = os.path.join(root, f)
                    with open(os.path.join(path, cur_dvs[f][0]),
                              "rb") as fh:
                        payload = fh.read()
                    parts.append(_ChangeDiffPart(
                        [], [abs_f], schema_bytes, n,
                        added_dv={abs_f: payload}))
        elif _base_of(path, n) == prev_n:
            pass  # compaction: row-identical to the previous commit
        else:
            rem_abs = [os.path.join(root, f) for f in removed]
            add_abs = [os.path.join(root, f) for f in added]
            rem_dv = {}
            for f in removed:
                if f in prev_dvs:
                    with open(os.path.join(path, prev_dvs[f][0]),
                              "rb") as fh:
                        rem_dv[os.path.join(root, f)] = fh.read()
            add_dv = {}
            for f in added:
                if f in cur_dvs:
                    with open(os.path.join(path, cur_dvs[f][0]),
                              "rb") as fh:
                        add_dv[os.path.join(root, f)] = fh.read()
            nb = _diff_buckets(rem_abs + add_abs)
            parts.extend(_ChangeDiffPart(rem_abs, add_abs,
                                         schema_bytes, n,
                                         bucket=b, n_buckets=nb,
                                         removed_dv=rem_dv,
                                         added_dv=add_dv)
                         for b in range(nb))
    return parts


# one diff task holds its bucket's Counter in memory; shard commits
# whose on-disk bytes exceed this so a full-table overwrite's diff
# stays bounded per task (IO-for-memory trade: the commit's files are
# re-read once per bucket -- small commits keep the single-partition
# fast path)
_DIFF_SHARD_BYTES = 256 * 1024 * 1024


def _diff_buckets(abs_paths: list) -> int:
    total = 0
    for p in abs_paths:
        try:
            total += os.path.getsize(p)
        except OSError:
            pass
    return max(1, -(-total // _DIFF_SHARD_BYTES))


def _arrow_schema_bytes(spark_schema) -> bytes:
    """Serialize a Spark schema for the partition payload.  The
    Spark->arrow conversion drops StructField metadata, so the
    column-mapping physical names are re-attached as arrow FIELD
    metadata (arrow IPC round-trips those); executor readers resolve
    them via _field_physical."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    sch = to_arrow_schema(spark_schema)
    fields, changed = [], False
    for sf, af in zip(spark_schema.fields, sch):
        phys = (sf.metadata or {}).get("physical")
        if phys and phys != sf.name:
            af = af.with_metadata({b"physical":
                                   phys.encode("utf-8")})
            changed = True
        fields.append(af)
    if changed:
        sch = pa.schema(fields)
    return sch.serialize().to_pybytes()


def _pinned_schema(path: str, n: int):
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import table_schema

    st = table_schema(path, n)
    if st is None:
        raise ValueError(
            f"{path} v_{n} has no pinned schema (legacy table): "
            f"read it with io.versioned.read_version instead")
    return st


def _table_path(options) -> str:
    path = options.get("path")
    if not path:
        raise ValueError(
            "versioned_table needs .option('path', <table dir>)")
    if path[:5].lower() == "file:":
        # external tooling passes qualified file: URIs (the catalog
        # CREATE TABLE route never delivers options on this build --
        # see the module doc); the manifest machinery wants the plain
        # local path.  Scheme match is case-insensitive (RFC 3986)
        # and a non-local authority is refused rather than silently
        # resolved against the local filesystem.
        from urllib.parse import unquote, urlparse

        u = urlparse(path)
        if u.netloc not in ("", "localhost"):
            raise ValueError(
                f"versioned_table path {path!r} names a non-local "
                f"authority {u.netloc!r}: only local file: paths are "
                f"supported")
        path = unquote(u.path)
    return path


def _parse_ts_option(raw: str) -> float:
    """A ``timestampAsOf`` option value as epoch seconds: a numeric
    string is epoch seconds directly; anything else parses as an ISO
    timestamp.  A timezone-NAIVE timestamp is interpreted in the
    system-local timezone -- Delta's timestampAsOf resolves naive
    values in ``spark.sql.session.timeZone``, which defaults to the
    JVM (= system) timezone, and this parser runs in the DataSource
    planning Python worker where no SparkSession exists to probe an
    overridden conf (r13 ADVICE: the old naive-as-UTC convention
    silently time-traveled ported Delta workloads to a different
    version).  Sessions that override the timezone away from the
    system's must pass an explicit offset (``...+08:00``) or epoch
    seconds.  Bare numerics below 1e8 (~1973) are refused: commit
    clocks are ``time.time()`` so no real version exists down there,
    and ``timestampAsOf=2024`` is far more plausibly a truncated
    date than a request for 1970-01-01T00:33:44Z."""
    num: float | None = None
    try:
        num = float(raw)
    except (TypeError, ValueError):
        pass
    if num is not None:
        if num < 1e8:
            raise ValueError(
                f"timestampAsOf={raw!r} parses as epoch seconds "
                f"before 1973, where no commit clock can point -- "
                f"this looks like a truncated date (e.g. a bare "
                f"year); pass a full ISO timestamp or real epoch "
                f"seconds")
        return num
    import datetime

    try:
        dt = datetime.datetime.fromisoformat(str(raw))
    except ValueError as exc:
        raise ValueError(
            f"timestampAsOf must be epoch seconds or an ISO "
            f"timestamp, got {raw!r}") from exc
    if dt.tzinfo is None:
        dt = dt.astimezone()  # system-local, matching the default
        # spark.sql.session.timeZone (see docstring)
    return dt.timestamp()


def _cdf_requested(options) -> bool:
    raw = str(options.get("readChangeFeed",
                          options.get("readchangefeed",
                                      "false"))).lower()
    return raw in ("true", "1", "yes")


def _pushdown_requested(options) -> bool:
    raw = str(options.get("pushdown", "false")).lower()
    return raw in ("true", "1", "yes")


class _BatchReader(DataSourceReader):
    def __init__(self, options, n: int):
        # ``n`` is resolved ONCE by the owning DataSource (schema()
        # and reader() share it): resolving current_version here as
        # well would let a commit landing between the two calls pin
        # the schema to one version and plan partitions from another
        # (r11 advisor).
        self.path = _table_path(options)
        self.n = n
        self.schema_bytes = _arrow_schema_bytes(
            _pinned_schema(self.path, self.n))

    def partitions(self) -> Sequence[InputPartition]:
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import _data_files

        root = os.path.abspath(self.path)
        dv = _dv_payloads(self.path, self.n)
        return [_FilePart(os.path.join(root, f), self.schema_bytes,
                          dv.get(f))
                for f in _data_files(self.path, self.n)]

    def read(self, partition: _FilePart) -> Iterator:
        yield from _read_aligned(partition.abs_path,
                                 partition.arrow_schema_bytes,
                                 getattr(partition, "dv_bytes", None))


class _FilteredFilePart(InputPartition):
    def __init__(self, abs_path: str, arrow_schema_bytes: bytes,
                 filters: list, dv_bytes: bytes | None = None):
        self.abs_path = abs_path
        self.arrow_schema_bytes = arrow_schema_bytes
        self.filters = filters  # [(op, col, value)] -- picklable
        self.dv_bytes = dv_bytes


def _apply_row_filters(batch, filters: list):
    """Executor-side pre-filter of one aligned batch: drops rows the
    pushed conjuncts exclude BEFORE they cross the Python->JVM Arrow
    boundary.  Advisory only -- Spark re-applies every filter after
    the scan (pushFilters returns them all), so a skipped or
    type-mismatched conjunct costs transfer, never correctness."""
    import pyarrow as pa
    import pyarrow.compute as pc

    mask = None
    for op, col, val in filters:
        if col not in batch.schema.names:
            continue
        c = batch.column(col)
        try:
            if op == "eq":
                m = pc.equal(c, val)
            elif op == "gt":
                m = pc.greater(c, val)
            elif op == "ge":
                m = pc.greater_equal(c, val)
            elif op == "lt":
                m = pc.less(c, val)
            elif op == "le":
                m = pc.less_equal(c, val)
            elif op == "in":
                m = pc.is_in(c, value_set=pa.array(list(val),
                                                   type=c.type))
            elif op == "isnull":
                m = pc.is_null(c)
            elif op == "notnull":
                m = pc.is_valid(c)
            elif op == "prefix":
                m = pc.starts_with(c, pattern=val)
            else:
                continue
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError,
                pa.ArrowTypeError, TypeError, ValueError):
            continue
        m = pc.fill_null(m, False)
        mask = m if mask is None else pc.and_(mask, m)
    if mask is None:
        return batch
    return batch.filter(mask)


class _PushdownBatchReader(_BatchReader):
    """The batch reader with Spark-4.1 filter pushdown: pushed
    conjuncts prune FILES driver-side through the one file pruner,
    io.versioned._prune (partition and hidden-transform directories,
    manifest min/max stats and null counts, bloom filters for
    equality probes -- the same rules read_where and lookup_files
    apply), and pre-filter ROWS executor-side before the Arrow
    transfer.  Every
    filter is returned to Spark for re-evaluation, so the pushdown is
    pure pruning -- it can never drop a row the plain reader keeps.
    Selected by reader() only when
    ``spark.sql.python.filterPushdown.enabled`` is true (a reader
    that defines pushFilters under a false conf is a hard error in
    Spark 4.1, so the plain reader stays the default).

    Sharp edge (observed r15, pinned by
    tests/test_versioned_source_pushdown.py::
    test_unioned_probes_need_one_load_per_filter): two DIFFERENTLY
    filtered scans of ONE shared ``.load()`` relation inside a
    single action can collapse to a single pushdown scan -- the
    second probe's pruned file set replaces the first's and
    under-reads it.  Callers that union several filtered probes
    must take a fresh ``.load()`` per probe so each scan plans its
    own pushdown state."""

    def __init__(self, options, n: int):
        super().__init__(options, n)
        self._pushed: list = []

    def pushFilters(self, filters):
        from pyspark.sql.datasource import (
            EqualTo, GreaterThan, GreaterThanOrEqual, In, IsNotNull,
            IsNull, LessThan, LessThanOrEqual, StringStartsWith,
        )

        ops = {EqualTo: "eq", GreaterThan: "gt",
               GreaterThanOrEqual: "ge", LessThan: "lt",
               LessThanOrEqual: "le", In: "in",
               IsNull: "isnull", IsNotNull: "notnull",
               StringStartsWith: "prefix"}
        for f in filters:
            op = ops.get(type(f))
            attr = getattr(f, "attribute", ())
            val = getattr(f, "value", None)
            if op and len(attr) == 1:
                scalar_ok = isinstance(val, (int, float, str)) \
                    and not isinstance(val, bool)
                in_ok = (op == "in" and isinstance(val, tuple)
                         and val and all(
                             isinstance(v, (int, float, str))
                             and not isinstance(v, bool)
                             for v in val))
                null_ok = op in ("isnull", "notnull")
                prefix_ok = op == "prefix" and isinstance(val, str) \
                    and val
                if scalar_ok or in_ok or null_ok or prefix_ok:
                    self._pushed.append((op, attr[0], val))
        return filters  # Spark re-applies all: pruning-only contract

    def partitions(self) -> Sequence[InputPartition]:
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import _prune

        if not self._pushed:
            return super().partitions()
        root = os.path.abspath(self.path)
        dv = _dv_payloads(self.path, self.n)
        kept, _total = _prune(self.path, self.n, self._pushed)
        return [_FilteredFilePart(os.path.join(root, f),
                                  self.schema_bytes, self._pushed,
                                  dv.get(f))
                for f in kept]

    def read(self, partition) -> Iterator:
        if partition is None:
            return  # every file pruned: engine still calls read once
        filters = getattr(partition, "filters", None)
        for batch in _read_aligned(partition.abs_path,
                                   partition.arrow_schema_bytes,
                                   getattr(partition, "dv_bytes",
                                           None)):
            out = _apply_row_filters(batch, filters) if filters \
                else batch
            if out.num_rows:
                yield out


class _ChangeBatchReader(DataSourceReader):
    """Batch change feed: the row-level delta over ``(startingVersion,
    endingVersion]`` -- the format() face of io.versioned.read_changes
    (same EXCLUSIVE-start convention), plus a ``_commit_version``
    column attributing each change to its commit."""

    def __init__(self, options, e: int):
        self.path = _table_path(options)
        s_opt = options.get("startingVersion",
                            options.get("startingversion"))
        if s_opt is None:
            raise ValueError(
                "batch readChangeFeed needs .option('startingVersion',"
                " n): the EXCLUSIVE base version -- changes AFTER it "
                "are emitted (io.versioned.read_changes convention)")
        self.s, self.e = int(s_opt), e
        self.schema_bytes = _arrow_schema_bytes(
            _pinned_schema(self.path, e))

    def partitions(self) -> Sequence[InputPartition]:
        return _plan_change_commits(self.path, self.s, self.e,
                                    self.schema_bytes)

    def read(self, partition) -> Iterator:
        yield from _read_change_part(partition)


class _CDFStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self.path = _table_path(options)
        skip = str(options.get("skipChangeCommits",
                               options.get("skipchangecommits",
                                           "false"))).lower()
        self.skip_change_commits = skip in ("true", "1", "yes")
        self.read_change_feed = _cdf_requested(options)
        if self.read_change_feed and self.skip_change_commits:
            raise ValueError(
                "readChangeFeed and skipChangeCommits are mutually "
                "exclusive: the change feed EMITS rewrite commits as "
                "row-level deletes/inserts, skipChangeCommits drops "
                "them")
        self._start_opt = options.get("startingVersion",
                                      options.get("startingversion"))

    def initialOffset(self) -> dict:
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import committed_versions

        if self._start_opt is not None:
            # exclusive base: changes AFTER this version are emitted
            return {"version": int(self._start_opt)}
        readable = [n for n in committed_versions(self.path)
                    if os.path.isdir(os.path.join(self.path,
                                                  f"v_{n:08d}"))]
        # first micro-batch = the whole readable table as an initial
        # snapshot (Delta's default), i.e. start BEFORE the first
        # readable version.  The snapshot marker tells partitions()
        # that an unreadable diff base here is EXPECTED (nothing was
        # ever emitted on this checkpoint), as opposed to a lagging
        # checkpoint whose base got vacuumed -- where assuming
        # "everything is new" would silently re-emit inherited files.
        return {"version": (readable[0] - 1) if readable else 0,
                "snapshot": True}

    def latestOffset(self) -> dict:
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import current_version

        cur = current_version(self.path)
        return {"version": cur if cur is not None else 0}

    def partitions(self, start: dict, end: dict
                   ) -> Sequence[InputPartition]:
        s, e = int(start["version"]), int(end["version"])
        if e <= s:
            return []
        schema_bytes = _arrow_schema_bytes(_pinned_schema(self.path, e))
        snapshot = bool(start.get("snapshot"))
        if self.read_change_feed:
            return _plan_change_commits(self.path, s, e,
                                        schema_bytes,
                                        snapshot=snapshot)
        root = os.path.abspath(self.path)
        parts: list[InputPartition] = []
        for n, prev, _prev_n, cur, cur_set, prev_dvs, cur_dvs in \
                _walk_commit_diffs(self.path, s, e, snapshot,
                                   "stream"):
            common = prev & cur_set
            dv_changed = any(prev_dvs.get(f) != cur_dvs.get(f)
                             for f in common)
            if not prev <= cur_set or dv_changed:
                if self.skip_change_commits:
                    continue  # the walk advances its diff base anyway
                raise ValueError(
                    f"v_{n} of {self.path} rewrote data "
                    f"(merge/delete/compaction or a deletion-vector "
                    f"delete): an append-only stream cannot express "
                    f"it -- set .option('skipChangeCommits', 'true') "
                    f"to skip such commits, or consume the row-level "
                    f"feed with readChangeFeed / io.versioned"
                    f".consume_changes")
            # added files never carry a vector in their own commit
            # (cur_dvs would say so); attach one only if present --
            # no per-commit sidecar sweep (review r12e-4)
            for f in cur:
                if f in prev:
                    continue
                payload = None
                if f in cur_dvs:
                    with open(os.path.join(self.path,
                                           cur_dvs[f][0]),
                              "rb") as fh:
                        payload = fh.read()
                parts.append(_FilePart(os.path.join(root, f),
                                       schema_bytes, payload))
        return parts

    def read(self, partition) -> Iterator:
        if self.read_change_feed:
            yield from _read_change_part(partition)
        elif partition is not None:
            # None = the engine's read(None) call for an empty
            # partitions() list (e.g. every in-range commit was
            # skipped via skipChangeCommits)
            yield from _read_aligned(partition.abs_path,
                                     partition.arrow_schema_bytes,
                                     getattr(partition, "dv_bytes",
                                             None))

    def commit(self, end: dict) -> None:
        pass  # offsets live in the engine's checkpoint


class _PartNames(WriterCommitMessage):
    def __init__(self, names: list):
        self.names = names


def _hive_dir_value(v) -> str:
    """One partition value as a Hive directory component: the null
    marker for None, lowercase booleans, percent-escaping for
    path-hostile characters (the reader unquotes -- io.versioned
    ._partition_values)."""
    if v is None:
        return _NULL_PARTITION
    if isinstance(v, bool):
        return "true" if v else "false"
    from urllib.parse import quote

    return quote(str(v), safe=" ._-")


def _derive_batches(iterator, spec: list[dict],
                    physical: dict | None):
    """Executor-side: append each Arrow batch's derived layout
    columns (io/transforms.derive_arrow) so the partition stager
    groups by them; the stager drops them from the file bytes like
    every partition column."""
    import pyarrow as pa

    from esg_decarbonization_data_integration_and_data_pipline_spark.io.transforms import derive_arrow

    for batch in iterator:
        tbl, _cols = derive_arrow(pa.Table.from_batches([batch]),
                                  spec, physical)
        yield from tbl.to_batches()


def _write_stage_part(iterator, stage_dir: str,
                      part_cols: tuple = ()) -> "_PartNames":
    """Executor-side: stream this task's Arrow batches into one
    parquet part file under ``stage_dir`` -- or, with ``part_cols``
    (PHYSICAL partition column names), into one part per partition
    value under Hive-style ``col=value`` subdirs, the partition
    columns dropped from the file bytes like Spark's own layout.
    Returns the stage-relative names (nothing for an empty task).
    Memory is bounded by one open writer per partition value the
    task touches -- writes repartitioned by the partition key touch
    one."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    if not part_cols:
        name = f"part-{uuid.uuid4().hex}.parquet"
        writer = None
        try:
            for batch in iterator:
                if writer is None:
                    writer = pq.ParquetWriter(
                        os.path.join(stage_dir, name), batch.schema)
                writer.write_batch(batch)
        finally:
            if writer is not None:
                writer.close()
        return _PartNames([name] if writer is not None else [])
    writers: dict[str, object] = {}
    names: list[str] = []
    try:
        for batch in iterator:
            tbl = pa.Table.from_batches([batch])
            key_rows = list(zip(*[tbl.column(c).to_pylist()
                                  for c in part_cols]))
            groups: dict[tuple, list[int]] = {}
            for i, kr in enumerate(key_rows):
                groups.setdefault(kr, []).append(i)
            data = tbl.drop_columns(list(part_cols))
            for kr, rows in groups.items():
                rel_dir = "/".join(
                    f"{c}={_hive_dir_value(v)}"
                    for c, v in zip(part_cols, kr))
                w = writers.get(rel_dir)
                sub = data.take(pa.array(rows, pa.int64()))
                if w is None:
                    os.makedirs(os.path.join(stage_dir, rel_dir),
                                exist_ok=True)
                    name = f"{rel_dir}/part-{uuid.uuid4().hex}.parquet"
                    w = pq.ParquetWriter(
                        os.path.join(stage_dir, name), sub.schema)
                    writers[rel_dir] = w
                    names.append(name)
                w.write_table(sub)
    finally:
        for w in writers.values():
            w.close()
    return _PartNames(names)


def _ensure_schema_part(stage_dir: str, arrow_schema_bytes: bytes
                        ) -> None:
    """An all-empty write still needs ONE schema-carrying part so the
    committed version stays readable (the Spark staging path forces
    the same)."""
    import pyarrow as pa
    import pyarrow.ipc as ipc
    import pyarrow.parquet as pq

    if any(not f.startswith(("_", "."))
           for f in os.listdir(stage_dir)):
        return
    schema = ipc.read_schema(pa.BufferReader(arrow_schema_bytes))
    pq.write_table(pa.table(
        {f.name: pa.array([], type=f.type) for f in schema},
        schema=schema),
        os.path.join(stage_dir, "part-empty.parquet"))


def _parse_write_options(options):
    """(path, merge_schema, stats_columns, partition_by, dynamic)
    shared by both writers -- one copy of the option parsing (r12
    review pass 2).  ``partitionBy`` takes comma-separated LOGICAL
    column names; the writers map them to staged physical names.
    ``partitionOverwriteMode=dynamic`` (with ``mode("overwrite")`` +
    ``partitionBy``) selects dynamic partition overwrite -- the
    io.versioned.replace_partitions shape through the writer face;
    ``static`` (Spark's default) is the plain snapshot overwrite.  A
    Delta-style ``replaceWhere`` predicate option is refused loudly:
    this face has no expression parser, and a half-understood
    predicate that silently replaced the wrong slice would be data
    loss -- dynamic mode (batch-derived partitions) covers the
    reference's idempotent month reload."""
    path = _table_path(options)
    merge = str(options.get("mergeSchema",
                            options.get("mergeschema",
                                        "false"))).lower() in (
        "true", "1", "yes")
    sc = options.get("statsColumns", options.get("statscolumns"))
    stats = tuple(s.strip() for s in sc.split(",")
                  if s.strip()) if sc else ()
    pb = options.get("partitionBy", options.get("partitionby"))
    # paren-aware split: "year(d),bucket(4, id)" has a comma INSIDE
    # the bucket transform's argument list
    part: tuple = ()
    if pb:
        entries, buf, depth = [], [], 0
        for ch in str(pb):
            if ch == "," and depth == 0:
                entries.append("".join(buf))
                buf = []
                continue
            depth += ch == "("
            depth -= ch == ")"
            buf.append(ch)
        entries.append("".join(buf))
        part = tuple(s.strip() for s in entries if s.strip())
    if options.get("replaceWhere",
                   options.get("replacewhere")) is not None:
        raise ValueError(
            "replaceWhere is not supported on "
            "format('versioned_table'): this write face has no "
            "predicate parser, and guessing would risk replacing "
            "the wrong slice -- use "
            ".option('partitionOverwriteMode', 'dynamic') with "
            "partitionBy (replaces exactly the partitions the batch "
            "touches), or io.versioned.replace_partitions")
    pom = str(options.get("partitionOverwriteMode",
                          options.get("partitionoverwritemode",
                                      "static"))).lower()
    if pom not in ("static", "dynamic"):
        raise ValueError(
            f"partitionOverwriteMode must be 'static' or 'dynamic', "
            f"got {pom!r}")
    return path, merge, stats, part, pom == "dynamic"


def _mapped_write_state(path: str, schema, seed: str | None = None):
    """(staged_physical, physical_names | None, commit batch schema)
    for a write landing on ``path`` -- a thin wrapper over
    io.versioned._physical_staging_plan, the ONE staging policy
    shared with the function API (review r12c-7).  ``seed`` (the
    streaming writer's txnAppId) makes NEW-column physical names
    deterministic across the engine's separate write/commit writer
    instances; it is salted with the base version, so a later
    drop + re-add of the same logical name can never reuse the
    retired physical (review r12c-2).  physical_names is None when
    no rename is needed."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        _physical_staging_plan,
        current_version,
        table_schema,
    )

    cur = current_version(path)
    base_st = table_schema(path, cur) if cur is not None else None
    staged, batch = _physical_staging_plan(
        base_st, schema,
        seed=None if seed is None else f"{seed}:v{cur}")
    names = [staged.get(f.name, f.name) for f in schema.fields]
    if names == [f.name for f in schema.fields]:
        names = None
    return staged, names, batch


def _physical_arrow_bytes(schema, staged: dict) -> bytes:
    """Arrow bytes describing the STAGED (physical) part layout --
    what _ensure_schema_part must write for an all-empty batch."""
    from pyspark.sql.types import StructField, StructType

    if not staged:
        return _arrow_schema_bytes(schema)
    phys = StructType([
        StructField(staged.get(f.name, f.name), f.dataType, True)
        for f in schema.fields])
    return _arrow_schema_bytes(phys)


def _attach_staged(schema, staged: dict):
    """The commit batch schema for a write whose staged map is KNOWN
    (read back from the write phase's marker file): every staged
    entry pins its physical name in field metadata (identity entries
    included -- the mapped marker must propagate); an empty map
    strips stray physical metadata, mirroring _physical_staging_plan's
    unmapped branch."""
    from pyspark.sql.types import StructField, StructType

    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import _strip_physical

    if not staged:
        return _strip_physical(schema)
    return StructType([
        StructField(f.name, f.dataType, f.nullable,
                    {**{k: v for k, v in (f.metadata or {}).items()
                        if k != "physical"},
                     "physical": staged.get(f.name, f.name)})
        for f in schema.fields])


def _remap_batches(iterator, names: list):
    """Rename each incoming Arrow batch's columns to the staged
    physical names (order = writer schema order)."""
    import pyarrow as pa

    for b in iterator:
        yield pa.RecordBatch.from_arrays(list(b.columns), names=names)


def _refuse_constraints(path: str, staged: str | None) -> None:
    """The write face has no SparkSession, so it cannot run the
    write-time constraint scan -- refuse constraint-bearing tables
    loudly instead of silently publishing unvalidated rows (use
    io.versioned.append_version, whose commit validates the staged
    bytes)."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.constraints import table_constraints

    if table_constraints(path):
        if staged is not None:
            shutil.rmtree(staged, ignore_errors=True)
        raise ValueError(
            f"{path} declares write-time constraints; the "
            f"format('versioned_table') write face has no "
            f"SparkSession to validate them -- write through "
            f"io.versioned.append_version / write_version instead")


def _plan_dynamic_replace(path: str, partition_by: tuple, schema,
                          overwrite: bool) -> int:
    """Plan-time validation of ``partitionOverwriteMode=dynamic``
    (the io.versioned.replace_partitions shape through the writer
    face -- the reference's idempotent month reload,
    jobs/csr_etl.py:157 / jobs/raw_to_staging.py:203, on the API a
    Spark user actually writes).  Every refusal the function face
    makes fires HERE, before any task stages a byte; returns the
    PINNED base version the commit's drop set is computed against."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        _replace_drop_set, current_version, table_schema,
    )

    if not overwrite:
        raise ValueError(
            "partitionOverwriteMode=dynamic needs mode('overwrite') "
            "-- with mode('append') nothing would be replaced; drop "
            "the option or switch the save mode")
    if not partition_by:
        raise ValueError(
            "partitionOverwriteMode=dynamic needs .option("
            "'partitionBy', <cols>): the replaced set is the "
            "batch's distinct partition tuples, so without a "
            "partition layout there is nothing to key the replace "
            "on (a full truncate-and-load WITH history is plain "
            "mode('overwrite'))")
    bad = [c for c in partition_by if "(" in str(c)]
    if bad:
        raise ValueError(
            f"partitionOverwriteMode=dynamic takes bare partition "
            f"COLUMN names in partitionBy, got transform spec(s) "
            f"{bad}: a dynamic replace over a hidden-transform "
            f"layout (io/transforms) is not supported yet")
    missing = [c for c in partition_by if c not in schema.names]
    if missing:
        raise ValueError(
            f"batch lacks partition columns {missing}")
    base = current_version(path)
    if base is None:
        raise FileNotFoundError(
            f"{path} has no committed version; dynamic partition "
            f"overwrite replaces slices of an EXISTING layout -- "
            f"write the first load with mode('overwrite') + "
            f"partitionBy (or write_version(partition_by=...))")
    st = table_schema(path, base)
    for c in partition_by:
        dt = st[c].dataType if st is not None \
            and c in st.fieldNames() else None
        if dt is not None and dt.typeName() in ("timestamp",
                                                "timestamp_ntz"):
            raise ValueError(
                f"partition column {c!r} is {dt.simpleString()}: "
                f"the Arrow write face renders zoned timestamps "
                f"ambiguously in partition paths, so a dynamic "
                f"replace could key on the wrong instant -- use "
                f"io.versioned.replace_partitions (session-zone "
                f"canonical comparison) or partition by a "
                f"date/string projection of the timestamp")
    # empty replaced set: validates the base layout AND every path
    # value's parseability under the pinned types up front
    _replace_drop_set(path, base, partition_by, set(), st)
    return base


def _dynamic_replace_spec(path: str, base: int, staged: str,
                          partition_by: tuple,
                          staged_physical: dict) -> dict:
    """The (pinned base, inherit_drop, n_partitions) of a dynamic
    partition overwrite, derived from the STAGED layout itself: the
    stage's ``col=value`` dirs ARE the batch's distinct partition
    tuples (the executors grouped rows into them), so the commit
    needs no SparkSession and no second pass over the data.  Both
    sides -- staged values and base path values -- parse through
    io.versioned._replace_partition_key under the base's pinned
    types, so a value that cannot be compared raises instead of
    silently appending (ADVICE r13)."""
    from urllib.parse import unquote

    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        _NULL_PARTITION, _replace_drop_set, _replace_partition_key,
        _walk_rel_files, table_schema,
    )

    st = table_schema(path, base)
    dts = {c: st[c].dataType for c in partition_by
           if st is not None and c in st.fieldNames()}
    phys = {c: staged_physical.get(c, c) for c in partition_by}
    replaced: set[tuple] = set()
    for f in _walk_rel_files(staged):
        pv: dict[str, str] = {}
        for seg in f.split("/")[:-1]:
            if "=" in seg:
                k, _, v = seg.partition("=")
                pv[k] = unquote(v)
        if not pv and f == "part-empty.parquet":
            # the all-empty batch's flat schema carrier (zero rows,
            # no partition tuple -- an empty reload replaces nothing)
            continue
        key = []
        for c in partition_by:
            raw = pv.get(phys[c])
            if raw is None:
                raise ValueError(
                    f"staged part {f!r} carries no '{c}=' path "
                    f"segment -- dynamic overwrite tasks must lay "
                    f"every row out under the partition columns")
            key.append(None if raw == _NULL_PARTITION
                       else _replace_partition_key(
                           raw, dts.get(c), c, f"staged part {f!r}"))
        replaced.add(tuple(key))
    drop = _replace_drop_set(path, base, partition_by, replaced, st)
    return {"pinned_base": base, "inherit_drop": frozenset(drop),
            "partition_by": list(partition_by),
            "n_partitions": len(replaced)}


def _commit_stage(path: str, staged: str, schema, txn: str | None,
                  overwrite: bool, merge_schema: bool,
                  stats_columns: tuple,
                  staged_physical: dict | None = None,
                  replace: dict | None = None) -> None:
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        _DEFAULT_BACKEND, _commit_staged_dir,
    )

    if replace is not None:
        _commit_staged_dir(
            path, staged, txn,
            pinned_base=replace["pinned_base"], inherit_files=True,
            max_attempts=20, backend=_DEFAULT_BACKEND,
            merge_schema=merge_schema, stats_columns=stats_columns,
            inherit_drop=replace["inherit_drop"],
            row_identical_base=None,
            batch_schema=schema, staged_physical=staged_physical,
            op_name="REPLACE_PARTITIONS",
            op_params={"partition_by": replace["partition_by"],
                       "n_partitions": replace["n_partitions"],
                       "face": "format(versioned_table)"})
        return
    _commit_staged_dir(
        path, staged, txn,
        pinned_base=None, inherit_files=not overwrite,
        max_attempts=20, backend=_DEFAULT_BACKEND,
        merge_schema=merge_schema, stats_columns=stats_columns,
        inherit_drop=frozenset(), row_identical_base=None,
        batch_schema=schema, staged_physical=staged_physical,
        op_name="OVERWRITE" if overwrite else "WRITE",
        op_params={"face": "format(versioned_table)"})


def _txn_already_visible(path: str, txn: str | None) -> bool:
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        _txns, current_version,
    )

    if txn is None:
        return False
    cur = current_version(path)
    return cur is not None and txn in _txns(path, cur)


class _VersionedBatchWriter(DataSourceArrowWriter):
    """``df.write.format("versioned_table")`` -- append commits a new
    inheriting version; ``mode("overwrite")`` commits a snapshot
    version (only its own files -- truncate-and-load WITH history,
    the write_version shape).  Options: ``txn`` (idempotence marker:
    a replayed job with the same marker no-ops), ``mergeSchema``,
    ``statsColumns`` (comma-separated file-skipping columns),
    ``partitionBy`` (comma-separated columns: parts land under
    Hive-style ``col=value`` dirs, the function API's
    ``partition_by`` through the format() face).
    Executors stream Arrow batches straight into staged parquet
    parts; commit() runs the same claim -> manifest -> pointer loop
    as append_version (shared _commit_staged_dir), entirely
    session-free."""

    def __init__(self, options, schema, overwrite: bool):
        import uuid

        (self.path, self.merge_schema, self.stats_columns,
         self._partition_by, self.dynamic) = \
            _parse_write_options(options)
        # hidden partition transforms (io/transforms) through the
        # write face: the spec parses against the LOGICAL schema;
        # temporal transforms are refused over TIMESTAMP sources on
        # THIS face only -- the Arrow batches' wall rendering would
        # depend on the session timezone and could lay the same row
        # out differently from the JVM face (date sources are
        # zone-free, bucket/truncate are string/int by contract)
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.transforms import (
            has_transforms, parse_partition_spec,
        )

        self._part_spec = parse_partition_spec(
            self._partition_by, schema) if self._partition_by else []
        self._has_transforms = has_transforms(self._part_spec)
        if self._has_transforms:
            if self.dynamic:
                raise ValueError(
                    "partitionOverwriteMode=dynamic takes bare "
                    "partition COLUMN names in partitionBy: a "
                    "dynamic replace keyed by a transform goes "
                    "through io.versioned.replace_partitions "
                    "(supported there), not the format() face")
            ts_src = [s["src"] for s in self._part_spec
                      if s["transform"] in ("year", "month", "day")
                      and s.get("src_type") != "date"]
            if ts_src:
                raise ValueError(
                    f"format('versioned_table') temporal partition "
                    f"transforms need DATE source columns, got "
                    f"timestamp(s) {ts_src}: the Arrow write face "
                    f"cannot render a zoned instant consistently "
                    f"with the JVM face -- partition by a date "
                    f"projection, or write through "
                    f"io.versioned.write_version/append_version")
        # column-mapped base: stage under physical names, commit the
        # logical schema with its mapping metadata
        self._staged_physical, self._phys_names, self.schema = \
            _mapped_write_state(self.path, schema)
        self.overwrite = overwrite
        self.txn = options.get("txn")
        os.makedirs(self.path, exist_ok=True)
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import _STAGE_PREFIX

        self.staged = os.path.join(
            self.path,
            f"{_STAGE_PREFIX}{os.getpid()}-{uuid.uuid4().hex}")
        # a replayed job (visible txn marker) is detected HERE, at
        # planning time, so its tasks skip recomputing and staging
        # the whole batch only for commit() to delete it -- the same
        # pre-stage short-circuit append_version performs.  commit()
        # re-checks anyway (the marker can land mid-job).
        self._noop = _txn_already_visible(self.path, self.txn)
        # dynamic partition overwrite: validate AFTER the replay
        # check (a replayed reload must no-op even if the table has
        # since been compacted flat) and pin the base version the
        # commit's drop set is computed against -- a concurrent
        # commit raises VersionConflictError instead of silently
        # resurrecting rows the other writer replaced.
        self._pinned_base: int | None = None
        if self.dynamic and not self._noop:
            self._pinned_base = _plan_dynamic_replace(
                self.path, self._partition_by, self.schema,
                overwrite)
        if not self._noop:
            os.makedirs(self.staged)
        self.arrow_schema_bytes = _physical_arrow_bytes(
            self.schema, self._staged_physical)

    def write(self, iterator):
        if self._noop:
            return _PartNames([])
        os.makedirs(self.staged, exist_ok=True)
        if self._phys_names is not None:
            iterator = _remap_batches(iterator, self._phys_names)
        if self._has_transforms:
            part_phys = tuple(
                self._staged_physical.get(s["src"], s["src"])
                if s["transform"] == "identity" else s["dir"]
                for s in self._part_spec)
            iterator = _derive_batches(iterator, self._part_spec,
                                       self._staged_physical)
        else:
            part_phys = tuple(self._staged_physical.get(c, c)
                              for c in self._partition_by)
        return _write_stage_part(iterator, self.staged, part_phys)

    def commit(self, messages) -> None:
        # replay no-op FIRST: a replayed batch must drain even if the
        # table gained constraints since the original commit (its
        # rows are already published; refusing forever would wedge
        # the retrying job -- r12 review pass 2)
        if self._noop or _txn_already_visible(self.path, self.txn):
            shutil.rmtree(self.staged, ignore_errors=True)
            return
        _refuse_constraints(self.path, self.staged)
        # commit EXACTLY the parts the successful task attempts
        # messaged: a failed-then-retried or speculatively-executed
        # task leaves a valid-footer partial part behind in the
        # shared stage dir, and listdir-committing it would publish
        # duplicate/partial rows (r12 review pass 2)
        named = {n for m in messages if m is not None
                 for n in getattr(m, "names", [])}
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import _walk_rel_files

        try:
            for f in _walk_rel_files(self.staged):
                if f not in named:
                    os.remove(os.path.join(self.staged, f))
        except OSError:
            pass
        _ensure_schema_part(self.staged, self.arrow_schema_bytes)
        if self._has_transforms:
            from esg_decarbonization_data_integration_and_data_pipline_spark.io.transforms import (
                write_partspec,
            )

            write_partspec(self.staged, self._part_spec)
        replace = None
        if self.dynamic:
            replace = _dynamic_replace_spec(
                self.path, self._pinned_base, self.staged,
                self._partition_by, self._staged_physical)
        _commit_stage(self.path, self.staged, self.schema, self.txn,
                      self.overwrite, self.merge_schema,
                      self.stats_columns,
                      staged_physical=self._staged_physical,
                      replace=replace)

    def abort(self, messages) -> None:
        shutil.rmtree(self.staged, ignore_errors=True)


class _VersionedStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("versioned_table")`` -- every
    micro-batch commits one appending version, EXACTLY-ONCE: the
    required ``txnAppId`` option plus the engine's batchId form the
    commit's transaction marker, so a crash between the version
    commit and the checkpoint advance replays the batch into a
    visible-marker no-op (the io/scd + matview foreachBatch
    discipline, behind the standard sink API).

    Tasks write parts into a PENDING dir named DETERMINISTICALLY
    from txnAppId (write() does not know the batch id, and the
    engine constructs separate writer instances for the write and
    commit phases, so an instance-random name would dangle);
    commit(batchId) moves exactly the messaged parts into a fresh
    stage dir and runs the shared session-free commit loop.  A
    crashed query's pending leftovers start with the ``.stage-``
    prefix, so vacuum's aged-stage sweep reaps them."""

    def __init__(self, options, schema, overwrite: bool):
        import hashlib

        (self.path, self.merge_schema, self.stats_columns,
         self._partition_by, dynamic) = _parse_write_options(options)
        if any("(" in str(c) for c in self._partition_by):
            raise ValueError(
                "hidden partition transforms in partitionBy are a "
                "batch-write shape on this face; a streaming sink "
                "deriving layout per micro-batch is not supported "
                "yet -- partition by bare columns, or sink via "
                "foreachBatch with io.versioned.append_version("
                "partition_by=('year(ts)', ...))")
        if dynamic:
            raise ValueError(
                "partitionOverwriteMode=dynamic is a batch-write "
                "shape; a continuous sink replacing partitions per "
                "micro-batch would let a restarted query replace a "
                "partition twice with different slices -- run the "
                "reload as a batch write "
                "(df.write.format('versioned_table')"
                ".mode('overwrite')) or via foreachBatch with "
                "io.versioned.replace_partitions(txn=...)")
        self.schema = schema
        # (self.schema is remapped below once txnAppId is known --
        # the mapped-base physical names must be DETERMINISTIC across
        # the engine's separate write/commit writer instances)
        # Spark passes overwrite=True per batch for COMPLETE output
        # mode (each batch is the full result): committed as a
        # snapshot version, exactly mode("overwrite")'s
        # truncate-WITH-history semantics.  Silently appending would
        # union stale and fresh snapshots (r12 review pass 2).
        self.overwrite = overwrite
        app = options.get("txnAppId", options.get("txnappid"))
        if not app:
            raise ValueError(
                "versioned_table streaming writes need .option("
                "'txnAppId', <stable id>): it keys the per-batch "
                "transaction marker that makes restarts exactly-once"
                " -- without it a checkpoint replay would double-"
                "append")
        self.app = str(app)
        os.makedirs(self.path, exist_ok=True)
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import _STAGE_PREFIX

        digest = hashlib.md5(self.app.encode("utf-8")).hexdigest()[:16]
        self.pending = os.path.join(
            self.path, f"{_STAGE_PREFIX}pending-{digest}")
        os.makedirs(self.pending, exist_ok=True)
        self._raw_schema = schema
        self._staged_physical, self._phys_names, self.schema = \
            _mapped_write_state(self.path, schema, seed=self.app)
        self.arrow_schema_bytes = _physical_arrow_bytes(
            self.schema, self._staged_physical)

    def _marker_path(self) -> str:
        return os.path.join(self.pending, "_physmap.json")

    def write(self, iterator):
        # recreate the pending dir: it is idle-empty between batches
        # and carries the vacuum-reapable .stage- prefix, so an aged
        # sweep under a long-idle query may have removed it (r12
        # review pass 2 -- the write must survive that, not crash
        # the query)
        os.makedirs(self.pending, exist_ok=True)
        # record the map these parts are ACTUALLY staged under: the
        # engine constructs separate writer instances for the write
        # and commit phases, so the commit side must not recompute
        # the map from the (possibly renamed-under-us) current base
        # -- it reads this marker instead (review r12c-5).  Written
        # unconditionally ({} = identity-staged) so commit can tell
        # "write saw an unmapped base" from "no information".
        import json
        import uuid

        tmp = self._marker_path() + \
            f".tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w", encoding="ascii") as fh:
            json.dump({"staged": self._staged_physical}, fh)
        os.replace(tmp, self._marker_path())
        if self._phys_names is not None:
            iterator = _remap_batches(iterator, self._phys_names)
        part_phys = tuple(self._staged_physical.get(c, c)
                          for c in self._partition_by)
        return _write_stage_part(iterator, self.pending, part_phys)

    def _commit_plan(self):
        """(staged_physical, commit schema, staged-layout arrow
        bytes) for THIS batch: the write phase's marker wins; the
        init-computed state is only the fallback for a batch whose
        write phase never ran a task (zero partitions)."""
        import json

        try:
            with open(self._marker_path(), encoding="ascii") as fh:
                staged = json.load(fh)["staged"]
        except (OSError, ValueError, KeyError):
            return (self._staged_physical, self.schema,
                    self.arrow_schema_bytes)
        schema = _attach_staged(self._raw_schema, staged)
        return (staged, schema,
                _physical_arrow_bytes(schema, staged))

    def _drop_marker(self) -> None:
        # the marker describes THIS batch's staged parts only: every
        # commit/replay/abort outcome consumes it, so a later
        # ZERO-PARTITION batch (write() never runs, marker never
        # refreshed) falls back to fresh init-computed state instead
        # of a stale map that wedges the query with a spurious
        # conflict after an interleaved rename (review r12d-1)
        try:
            os.remove(self._marker_path())
        except OSError:
            pass

    def _named(self, messages) -> list:
        return [n for m in messages if m is not None
                for n in getattr(m, "names", [])]

    def _drop_parts(self, names) -> None:
        for n in names:
            try:
                os.remove(os.path.join(self.pending, n))
            except OSError:
                pass

    def commit(self, messages, batchId: int) -> None:
        import uuid

        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import _STAGE_PREFIX

        names = self._named(messages)
        txn = f"{self.app}:{batchId}"
        # replay no-op BEFORE the constraint refusal: an
        # already-committed batch must drain even if the table gained
        # constraints since (its rows are published; refusing forever
        # would wedge the query's recovery -- r12 review pass 2)
        if _txn_already_visible(self.path, txn):
            # checkpoint replay of an already-committed batch: the
            # re-written parts must go too, or they leak in pending
            self._drop_parts(names)
            self._drop_marker()
            return
        try:
            _refuse_constraints(self.path, None)
        except BaseException:
            self._drop_parts(names)  # no orphan parts per attempt
            raise
        staged_physical, schema, arrow_bytes = self._commit_plan()
        staged = os.path.join(
            self.path,
            f"{_STAGE_PREFIX}{os.getpid()}-{uuid.uuid4().hex}")
        os.makedirs(staged)
        for n in names:
            dst = os.path.join(staged, n)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(os.path.join(self.pending, n), dst)
        _ensure_schema_part(staged, arrow_bytes)
        _commit_stage(self.path, staged, schema, txn,
                      overwrite=self.overwrite,
                      merge_schema=self.merge_schema,
                      stats_columns=self.stats_columns,
                      staged_physical=staged_physical)
        self._drop_marker()

    def abort(self, messages, batchId: int) -> None:
        self._drop_parts(self._named(messages))
        self._drop_marker()


class VersionedTableDataSource(DataSource):
    """``format("versioned_table")`` -- see the module docstring."""

    @classmethod
    def name(cls) -> str:
        return "versioned_table"

    def _resolve_version(self) -> int:
        """The batch version this read is pinned to, resolved ONCE
        per DataSource instance: schema() and reader() must agree, or
        a commit landing between the engine's two calls would pin the
        schema to one version and plan partitions from another (r11
        advisor).  In change-feed mode this is the ENDING version
        (``endingVersion`` option, default current)."""
        n = getattr(self, "_resolved_n", None)
        if n is None:
            from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import current_version

            path = _table_path(self.options)
            if _cdf_requested(self.options):
                v = self.options.get("endingVersion",
                                     self.options.get("endingversion"))
            else:
                v = self.options.get("version")
                ts = self.options.get("timestampAsOf",
                                      self.options.get("timestampasof"))
                if ts is not None:
                    if v is not None:
                        raise ValueError(
                            "pass version OR timestampAsOf, not both")
                    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
                        version_as_of,
                    )

                    v = version_as_of(path, _parse_ts_option(ts))
            n = int(v) if v is not None else current_version(path)
            if n is None:
                raise ValueError(f"{path} has no committed version")
            self._resolved_n = n
        return n

    def schema(self):
        st = _pinned_schema(_table_path(self.options),
                            self._resolve_version())
        if _cdf_requested(self.options):
            from pyspark.sql.types import (
                LongType, StringType, StructField, StructType,
            )

            clash = [c for c in (_CHANGE_TYPE, _COMMIT_VERSION)
                     if c in st.fieldNames()]
            if clash:
                # the Delta contract: CDF column names are reserved.
                # A duplicate-name schema would fail far from the
                # cause (ambiguous reference) or silently bind
                # positionally (r12 review finding).
                raise ValueError(
                    f"readChangeFeed reserves column names {clash}; "
                    f"the table already has them -- rename the "
                    f"business columns before consuming the change "
                    f"feed")
            st = StructType(list(st.fields)
                            + [StructField(_CHANGE_TYPE, StringType()),
                               StructField(_COMMIT_VERSION,
                                           LongType())])
        return st

    def reader(self, schema) -> DataSourceReader:
        if _cdf_requested(self.options):
            return _ChangeBatchReader(self.options,
                                      self._resolve_version())
        # pushdown is OPT-IN per read (.option('pushdown', 'true')):
        # reader() runs in the planning Python worker, where no
        # SparkSession exists to probe the conf, and Spark 4.1
        # hard-errors (DATA_SOURCE_PUSHDOWN_DISABLED) on a reader
        # that defines pushFilters while
        # spark.sql.python.filterPushdown.enabled is false -- so the
        # plain reader must stay the default and the option makes the
        # contract explicit (register() enables the conf so the
        # option works on sessions that register through it)
        cls = _PushdownBatchReader if _pushdown_requested(self.options) \
            else _BatchReader
        return cls(self.options, self._resolve_version())

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _CDFStreamReader(self.options)

    def writer(self, schema, overwrite: bool):
        return _VersionedBatchWriter(self.options, schema, overwrite)

    def streamWriter(self, schema, overwrite: bool):
        return _VersionedStreamWriter(self.options, schema, overwrite)


def register(spark) -> None:
    """Register the format on a session:
    ``sources.versioned_source.register(spark)`` then
    ``spark.read.format("versioned_table")...``.  Also enables
    ``spark.sql.python.filterPushdown.enabled`` so batch reads get
    the stats/bloom file pruning + executor-side row pre-filter
    (sessions registering the class directly keep the plain reader
    until they set the conf themselves).  A session that refuses the
    conf raises here: a pushdown read on it would fail anyway."""
    spark.dataSource.register(VersionedTableDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
