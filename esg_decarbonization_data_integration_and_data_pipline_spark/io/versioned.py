"""Versioned tables with a manifest-committed CURRENT pointer -- the
snapshot-isolation tier the in-place rename swap cannot provide.

``io.writers.swap_into_place`` rewrites a table in place: correct for
the single-writer, no-concurrent-reader maintenance jobs it serves,
but a reader overlapping the swap window fails mid-scan (raw parquet
has no snapshot) and recovery semantics live in `heal_swap`.  This
module is the other protocol, the one every modern table format
(Delta, Iceberg, Hive ACID) is built on:

- every write lands in a NEW immutable version directory
  (``v_00000042``), staged under a process-unique ``.stage-*`` dir
  and dir-renamed into place when fully written;
- commit = atomically replacing the tiny ``_CURRENT`` pointer file
  (``os.replace`` of a same-directory temp file -- atomic on POSIX);
  the pointer is an append-only COMMIT LOG: one ``v_NNNNNNNN`` line
  per commit, last line = current.  Version numbers can legitimately
  skip (a claim superseded before its flip, or a crashed appender,
  leaves an on-disk dir that never committed), so "n <= current" is
  NOT commit-time truth -- the log is (r8 advisor finding: an orphan
  below current must not be readable as a snapshot).  At ~11 bytes
  per commit the log stays pointer-sized for any realistic table; an
  object-store deployment would checkpoint it exactly like Delta's
  log checkpoints;
- readers resolve through ``_CURRENT`` and only ever see a fully
  committed version; a reader holding version N keeps a consistent
  snapshot while version N+1 commits (old dirs survive until
  ``vacuum``);
- a crash at ANY point leaves either the old pointer (garbage
  staging/orphan dirs, cleaned by ``vacuum``) or the new pointer
  (commit happened) -- there is no heal step because no state is
  ever half-committed.

On an object store the data-dir writes work as-is (immutable puts);
the pointer flip is the one primitive to swap -- a conditional put /
put-if-match on the manifest key (S3 now supports this natively), or
a real table format.  That seam is now explicit: the flip runs
through a pluggable :class:`CommitBackend` whose single method is
exactly the conditional put, with :class:`PosixCommitBackend`
(TTL-stealable lock + ``os.replace``) as the local default --
subclass it with a put-if-match call and the protocol is
object-store-safe unchanged.  The point of this module is that the
COMMIT SURFACE is one tiny file, not a prefix rename.

Schema is part of the commit: every version pins its read schema in
a ``_SCHEMA.json`` beside the manifest, appends are ENFORCED against
the current base by default (:class:`SchemaMismatchError` on drift)
and evolve additively with ``merge_schema=True`` (new columns append
as nullable; pre-evolution files read NULL for them, with no
mergeSchema footer pass at read time), and time travel returns each
version under the schema it committed with.  Type changes are never
mergeable -- rewrite via a :func:`write_version` snapshot.

Column mapping (the Delta ``name``-mode shape) rides on the pinned
schema: :func:`rename_column` is a metadata-only commit whose field
metadata records the renamed column's stable PHYSICAL name.
Manifests and every metadata query keep speaking LOGICAL names (the
rename re-keys the inherited stats/rowmeta lines); parquet files
keep speaking physical names, resolved by :func:`_read_files` on
every read and staged by every writer (a rename racing a staged
write raises :class:`VersionConflictError`).  New columns on a
mapped table get fresh never-reused physical names, so re-adding a
renamed-away name cannot resurface old bytes.  An unmapped table --
no rename ever -- is bit-identical to the pre-mapping format.
Snapshots through :func:`write_version` (free-schema overwrite)
reset to identity mapping; the format() write face's
``mode("overwrite")`` snapshot is schema-ENFORCED against the base,
so it keeps the base's mapping -- two deliberately different
overwrite contracts.

Data skipping is part of the commit too: appends/compactions record
per-file min/max for requested columns (``stats_columns`` -- a
footer read at commit time, no data scan; inherited files keep their
recorded stats, and the tracked-column set persists across appends
that don't repeat it).  :func:`read_where` prunes whole files whose
range provably misses the predicate before Spark ever lists them,
and ``compact_table(sort_by=...)`` range-clusters the table so a
narrow range touches O(slice) files.  Pruning is never a filter:
the predicate is re-applied, so results are exact with or without
stats.

Row-level mutation is :func:`merge_version` (upsert) /
:func:`delete_keys_version`: copy-on-write at FILE granularity --
the recorded key stats select the files that may contain a matched
key, only those are rewritten, the rest inherit by reference.  On a
key-clustered table a narrow merge rewrites O(slice) files.

Deletes also come in MERGE-ON-READ form (:func:`delete_keys_dv` /
:func:`delete_where_dv`, the Delta deletion-vector shape): the
commit holds only per-file row-position sidecars (``#dv`` manifest
lines), no data file is rewritten, and readers anti-filter on the
scan's (file, row_index) identity until a compaction materializes
the vectors.  Vectors ride manifest inheritance through every
writer; the metadata tiers subtract recorded counts or fall back to
scans; the change feed emits dv deltas as O(changed-rows) position
reads; :func:`~.purge.purge_keys_history` remaps positions when it
physically rewrites a referenced file.  DV for frequent selective
deletes, COW for bulk -- Delta's rule of thumb.

Concurrent writers are serialized optimistically: both stage, the
first `os.rename` to claim a version number wins, the loser retries
under the next number (bounded retries).  The pointer flip itself is
a check-then-replace critical section under a TTL-stealable
``._CURRENT.lock`` -- the pointer only moves FORWARD, and a claim
superseded by a higher committed version raises
:class:`VersionConflictError` instead of silently losing the write
(callers needing merge semantics still route one writer per table,
same as the reference's per-table load jobs).
"""

from __future__ import annotations

import errno
import os
import re
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

# pointer-LOG lines: "v_N" with an optional commit wall-clock.
_V_RE = re.compile(r"^v_(\d{8})(?:\s+(\d+(?:\.\d+)?))?$")
# DIRECTORY / manifest-path names: strictly "v_N" -- a stray dir
# named like "v_00000001 5" must NOT parse as a version (the
# timestamped form exists only inside the pointer log).
_VDIR_RE = re.compile(r"^v_(\d{8})$")
_CURRENT = "_CURRENT"
_STAGE_PREFIX = ".stage-"
_FLIP_LOCK = "._CURRENT.lock"
_FLIP_LOCK_TTL = 60.0  # s; a flip is two tiny file ops -- a lock older
#                        than this belongs to a crashed writer


class VersionConflictError(RuntimeError):
    """A claimed version was superseded by a higher committed version
    before its pointer flip; the write is not visible."""


class SchemaMismatchError(RuntimeError):
    """An appended batch's schema is incompatible with the table's
    current schema (enforcement is the default; pass
    ``merge_schema=True`` to evolve by adding nullable columns --
    same-name TYPE conflicts are never mergeable)."""


class CommitBackend:
    """The pluggable commit primitive: a conditional put on the
    ``_CURRENT`` pointer.

    ``try_commit(table_dir, pointer, expected)`` must atomically write
    ``pointer`` as the table's pointer IF AND ONLY IF the pointer's
    current content equals ``expected`` (``None`` = pointer must not
    exist yet), returning False on precondition failure.  That single
    primitive is exactly S3 put-if-match / GCS generation-match /
    Azure ETag -- so pointing a subclass at an object store makes the
    whole protocol object-store-safe without touching the staging or
    claim steps (immutable puts work everywhere).  The default
    :class:`PosixCommitBackend` realizes the conditional with a
    TTL-stealable lock file plus ``os.replace``."""

    def read_pointer(self, table_dir: str) -> bytes | None:
        """Current raw pointer content, or None if never committed."""
        raise NotImplementedError

    def try_commit(self, table_dir: str, pointer: bytes,
                   expected: bytes | None) -> bool:
        """Conditionally replace the pointer; True iff committed."""
        raise NotImplementedError


class PosixCommitBackend(CommitBackend):
    """Default backend for POSIX filesystems: the conditional put is a
    check-then-``os.replace`` made atomic by the ``._CURRENT.lock``
    critical section (local FS has no native compare-and-swap)."""

    def read_pointer(self, table_dir: str) -> bytes | None:
        try:
            with open(os.path.join(table_dir, _CURRENT), "rb") as fh:
                return fh.read()
        except FileNotFoundError:
            return None

    def try_commit(self, table_dir: str, pointer: bytes,
                   expected: bytes | None) -> bool:
        with _flip_lock(table_dir) as lk:
            if self.read_pointer(table_dir) != expected:
                return False
            tmp = os.path.join(
                table_dir, f".{_CURRENT}.tmp.{os.getpid()}")
            with open(tmp, "wb") as fh:
                fh.write(pointer)
            # ownership fence immediately before the flip: if a TTL
            # steal yanked our lock (and another writer may now be
            # inside its own critical section), abort as a plain
            # precondition failure -- the caller re-reads and retries,
            # so no write is lost and no backwards flip can land
            if not lk.owns():
                try:
                    os.remove(tmp)
                except OSError:
                    pass
                return False
            os.replace(tmp, os.path.join(table_dir, _CURRENT))
            return True


_DEFAULT_BACKEND = PosixCommitBackend()


def _committed_from(raw: bytes | None) -> list[int]:
    """All version numbers the pointer log records as committed, in
    commit order.  A single-line pre-log pointer parses as a
    one-entry log: the table stays fully readable and writable, but
    its pre-upgrade history is UNKNOWN to the log -- read_version /
    history only see the current version until
    :func:`adopt_legacy_history` explicitly registers the older dirs
    (the log cannot tell a pre-log committed version from a
    superseded-claim orphan, so it refuses to guess)."""
    return [n for n, _ in _committed_with_ts(raw)]


def _parse_pointer(raw: bytes | None) -> int | None:
    """Current version = the log's LAST committed line."""
    committed = _committed_from(raw)
    return committed[-1] if committed else None


def _next_pointer(raw: bytes | None, vname: str) -> bytes:
    """The pointer content that commits ``vname``: the existing log
    with one line appended (the conditional put swaps full content, so
    log appends are exactly as atomic as the old single-line flip).
    Each NEW line carries the wall-clock commit time ("v_N <epoch>"),
    the basis for timestamp time travel (:func:`version_as_of`);
    pre-timestamp bare lines stay valid, their commit time unknown."""
    import time

    base = raw or b""
    if base and not base.endswith(b"\n"):
        base += b"\n"
    return base + f"{vname} {time.time():.6f}\n".encode("ascii")


def _committed_with_ts(raw: bytes | None) -> list[tuple[int,
                                                        float | None]]:
    """(version, commit epoch or None for pre-timestamp lines) in
    commit order -- the timestamped view of _committed_from."""
    if raw is None:
        return []
    out: list[tuple[int, float | None]] = []
    for line in raw.decode("utf-8", "replace").splitlines():
        m = _V_RE.match(line.strip())
        if m:
            out.append((int(m.group(1)),
                        float(m.group(2)) if m.group(2) else None))
    return out


def version_as_of(table_dir: str, ts: float,
                  backend: CommitBackend | None = None) -> int:
    """The version a reader at wall-clock time ``ts`` (epoch seconds)
    would have seen: the LAST log line whose commit time is <= ts
    (Delta's TIMESTAMP AS OF).  Commit times are assigned inside the
    commit critical section, so log order and time order agree up to
    host clock skew -- the resolution is the log line, not a
    sub-second ordering guarantee.

    Raises when ``ts`` predates the first TIMESTAMPED commit: if
    earlier pre-timestamp lines exist their times are unknown and
    any answer would be a guess (use version numbers for that span);
    if none exist, ``ts`` simply predates the table."""
    entries = _committed_with_ts(
        (backend or _DEFAULT_BACKEND).read_pointer(table_dir))
    if not entries:
        raise FileNotFoundError(
            f"{table_dir} has no committed version (_CURRENT missing)")
    best = None
    for n, cts in entries:
        if cts is not None and cts <= ts:
            best = n
    if best is None:
        legacy = [n for n, cts in entries if cts is None]
        if legacy:
            raise ValueError(
                f"ts {ts} predates the first timestamped commit and "
                f"{len(legacy)} pre-timestamp lines exist -- their "
                f"commit times are unknown; read those by version "
                f"number (read_version)")
        raise ValueError(f"ts {ts} predates the table's first commit")
    return best


class _flip_lock:
    """O_EXCL lock file serializing the check-then-flip critical
    section (the only non-idempotent step).  Crash-safe: a holder
    that dies leaves a lock whose mtime ages past ``_FLIP_LOCK_TTL``
    and the next writer steals it.  Contention is a handful of
    writers for two file ops -- a short spin is plenty.

    Every lock file carries a process-unique TOKEN.  A holder must
    re-verify ownership (:meth:`owns`) immediately before the
    non-idempotent step it guards: a TTL steal that mistakenly yanks
    a live lock (the holder replaced a stale lock inside the
    stealer's check-to-rename window) then surfaces as an ownership
    failure at the holder, which backs off and retries, instead of
    two writers silently running the critical section.  The residual
    window -- owns() passing and the flip landing while a stealer
    yanks in between -- is two tiny file ops wide and requires a
    stealer to judge a microseconds-old lock as >TTL stale, i.e. a
    process suspended for ~the whole TTL between its age check and
    its rename; that bounded-clock assumption is the standard
    TTL-lock contract (a stronger guarantee needs fencing at the
    committed resource, which the object-store CommitBackend's
    conditional put provides natively)."""

    def __init__(self, table_dir: str):
        import uuid

        self.path = os.path.join(table_dir, _FLIP_LOCK)
        self.token = f"{os.getpid()}:{uuid.uuid4().hex}".encode()

    def owns(self) -> bool:
        """True iff the lock file still holds OUR token."""
        try:
            with open(self.path, "rb") as fh:
                return fh.read() == self.token
        except OSError:
            return False

    def __enter__(self):
        import time

        deadline = time.time() + 2 * _FLIP_LOCK_TTL
        while True:
            try:
                fd = os.open(self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, self.token)
                os.close(fd)
                return self
            except FileExistsError:
                try:
                    age = time.time() - os.path.getmtime(self.path)
                except OSError:
                    continue  # holder just released; retry immediately
                if age >= _FLIP_LOCK_TTL:
                    self._steal()
                    continue
                if time.time() >= deadline:
                    raise TimeoutError(
                        f"could not acquire {self.path} within "
                        f"{2 * _FLIP_LOCK_TTL:.0f}s")
                time.sleep(0.05)

    def _steal(self) -> None:
        """Remove a crashed holder's stale lock -- atomically.

        A bare check-then-remove is racy: between the getmtime check
        and the remove, the stale lock can be stolen by a COMPETING
        stealer which then acquires, and our remove would delete the
        competitor's FRESH lock -- two writers inside the critical
        section at once (the r7 advisor catch).  Renaming the lock to
        a process-unique name first makes the steal atomic: os.rename
        moves whatever is at the path exactly once, so of N stealers
        exactly one succeeds and the rest fall back to re-acquisition.
        The mtime is then RE-verified on the renamed file (frozen --
        no other process touches the unique name) purely for
        diagnosis; the yanked file is removed either way.  A yanked
        LIVE lock is NOT restored: an os.link restore would resurrect
        an unowned lock whenever the displaced holder released inside
        the yank window (stalling every later writer for a full TTL),
        and could still lose the restore race to a third writer.  The
        displaced holder instead discovers the yank through its own
        pre-flip :meth:`owns` check and retries -- detection at the
        holder is the only spot that cannot race."""
        import uuid

        yanked = f"{self.path}.steal.{os.getpid()}.{uuid.uuid4().hex}"
        try:
            os.rename(self.path, yanked)  # atomic: one stealer wins
        except OSError:
            return  # lost the steal race (or holder released); re-acquire
        try:
            os.remove(yanked)
        except OSError:
            pass

    def __exit__(self, *exc):
        # remove only OUR lock: if a TTL steal yanked it, the path may
        # now hold a successor's lock, which a blind remove would kill
        if self.owns():
            try:
                os.remove(self.path)
            except OSError:
                pass
        return False


def _versions(table_dir: str) -> list[int]:
    if not os.path.isdir(table_dir):
        return []
    out = []
    for entry in os.listdir(table_dir):
        m = _VDIR_RE.match(entry)
        if m and os.path.isdir(os.path.join(table_dir, entry)):
            out.append(int(m.group(1)))
    return sorted(out)


def current_version(table_dir: str,
                    backend: CommitBackend | None = None) -> int | None:
    """The committed version number, or None for a table that has
    never committed (missing/empty pointer; orphan ``v_*`` dirs from
    crashed writers do NOT count -- only the pointer commits)."""
    return _parse_pointer((backend or _DEFAULT_BACKEND)
                          .read_pointer(table_dir))


def committed_versions(table_dir: str,
                       backend: CommitBackend | None = None) -> list[int]:
    """Every version number that EVER committed (the pointer log), in
    commit order -- includes versions since reaped by ``vacuum``.
    This, not directory numbering, is the ground truth for "could a
    reader once have resolved v_n": claimed-but-superseded and
    crashed-appender dirs below current never appear here."""
    return _committed_from((backend or _DEFAULT_BACKEND)
                           .read_pointer(table_dir))


def adopt_legacy_history(table_dir: str,
                         backend: CommitBackend | None = None) -> list[int]:
    """One-time migration for a table created before the pointer
    became a commit log: registers every on-disk version dir at or
    below the current version as committed, restoring time travel /
    history over the pre-upgrade chain.  Returns the adopted numbers.

    Explicit by design: the log cannot distinguish a genuinely
    committed pre-log version from a superseded-claim orphan (the
    ambiguity the commit log exists to remove), so adopting is an
    operator decision -- EVERY dir below current becomes readable as
    a snapshot, orphans included, which is exactly the pre-log
    behavior the operator lived with.  Only call this on tables known
    to predate the commit log: on a post-log table that happens to
    hold a single commit, the same ambiguity applies and a crashed
    claim below current would be adopted too.  Refuses (returns [])
    when the log already holds more than one entry -- such a table's
    history is known and needs no adoption."""
    backend = backend or _DEFAULT_BACKEND
    raw = backend.read_pointer(table_dir)
    committed = _committed_from(raw)
    if len(committed) != 1:
        return []  # never-committed table, or a real multi-entry log
    cur = committed[0]
    adopt = [n for n in _versions(table_dir) if n < cur]
    if not adopt:
        return []
    # prepend the adopted bare lines and keep the existing log bytes
    # VERBATIM: re-serializing the current line would drop its commit
    # timestamp (breaking read_as_of/version_as_of for every instant
    # until the next commit and nulling history()'s committed_at)
    tail = raw if raw.endswith(b"\n") or not raw else raw + b"\n"
    lines = b"".join(f"v_{n:08d}\n".encode("ascii")
                     for n in adopt) + tail
    if not backend.try_commit(table_dir, lines, raw):
        raise VersionConflictError(
            f"{table_dir} advanced while adopting its legacy "
            f"history; re-run adopt_legacy_history")
    return adopt


def write_version(df: DataFrame, table_dir: str,
                  partition_by: Sequence[str] = (),
                  max_attempts: int = 20,
                  backend: CommitBackend | None = None,
                  stats_columns: Sequence[str] = ()) -> int:
    """Write ``df`` as the table's next immutable version and commit
    it; returns the committed version number.  If a competitor
    commits a HIGHER version between our claim and our pointer flip,
    :class:`VersionConflictError` raises (the pointer never moves
    backwards; the superseded dir stays unreferenced until
    ``vacuum``) -- re-run the write, or route one writer per table
    for merge semantics.

    Stage -> claim -> commit: the parquet lands once under a
    process-unique ``.stage-*`` dir (never referenced by any reader,
    never contended by another writer), a metadata-only dir rename
    claims ``v_N`` (losing a concurrent claim race just retries the
    rename at N+1 -- the staged data is NOT rewritten), and the
    ``_CURRENT`` pointer flips via ``os.replace`` -- the single
    atomic operation in the protocol.  Readers concurrently holding
    the previous version keep reading its immutable dir.

    The committed dir carries a manifest (the :func:`compact_table`
    snapshot-with-manifest shape -- own-file lines only, so
    ``history`` still reports ``kind="snapshot"``) recording per-file
    row/null counts plus min/max for ``stats_columns`` and the exact
    ``[v, v]`` stat for every partition-path column (r13 verdict
    task 3: snapshots previously recorded NO manifest, so bounded
    ``count_where``/min-max on a partitioned snapshot answered
    metadata-flat only for the partition column and paid a
    footer-read fan-out on everything else -- the cost that matters
    at 100 TB).  ``table_rowcount`` is metadata-flat on every
    snapshot as a result.

    ``backend`` selects the commit primitive (default: POSIX lock +
    ``os.replace``); see :class:`CommitBackend` for the object-store
    conditional-put contract."""
    import uuid

    from esg_decarbonization_data_integration_and_data_pipline_spark.io.constraints import (
        enforce_on_write,
    )

    from esg_decarbonization_data_integration_and_data_pipline_spark.io.transforms import (
        derive_columns, has_transforms, parse_partition_spec,
        write_partspec,
    )

    backend = backend or _DEFAULT_BACKEND
    os.makedirs(table_dir, exist_ok=True)
    # snapshot writers pass through the table's write-time
    # constraints like every other NEW-data path -- the 'every row
    # ever readable under a constraint passed it' contract
    df = enforce_on_write(df, table_dir)
    # a snapshot's read schema is the batch's own, pinned at commit
    # time BEFORE any hidden partition columns are derived: a
    # transform's directory value lives only in the layout
    # (io/transforms -- Iceberg hidden partitioning), never in the
    # logical schema.  Any column-mapping metadata is STRIPPED: the
    # snapshot's files are staged under the batch's own logical
    # names, so a snapshot resets the table to identity mapping by
    # construction.
    schema = _strip_physical(df.schema)
    spec = parse_partition_spec(partition_by, df.schema) \
        if partition_by else []
    staged_df, part_cols = derive_columns(df, spec) \
        if spec else (df, [])
    staged = os.path.join(
        table_dir, f"{_STAGE_PREFIX}{os.getpid()}-{uuid.uuid4().hex}")
    try:
        w = staged_df.write.mode("overwrite")
        if part_cols:
            w = w.partitionBy(*part_cols)
        w.parquet(staged)
        _write_schema_file(staged, schema)
        if has_transforms(spec):
            write_partspec(staged, spec)
        # footer metadata is collected ONCE against the staged layout
        # (paths are staged-relative here; the claim loop re-prefixes
        # them with whatever v_N the rename lands on)
        rel_files = _walk_rel_files(staged)
        stats, rowmeta = _snapshot_meta(staged, rel_files, schema,
                                        stats_columns)
        n = (max(_versions(table_dir), default=0)) + 1
        for _ in range(max_attempts):
            target = os.path.join(table_dir, f"v_{n:08d}")
            try:
                os.rename(staged, target)
            except OSError as exc:
                # ONLY target-exists means "lost the claim race";
                # anything else (EACCES, a reaped stage dir) is a
                # real error that retrying would mask
                if exc.errno not in (errno.EEXIST, errno.ENOTEMPTY):
                    raise
                n += 1
                continue
            # the claimed dir is invisible until the pointer flips --
            # writing the manifest here (file lines prefixed with the
            # version name the claim actually landed on) keeps the
            # single-atomic-op protocol intact
            vname = f"v_{n:08d}"
            lines = (_stats_lines(
                         {f"{vname}/{f}": s for f, s in stats.items()})
                     + _rows_lines(
                         {f"{vname}/{f}": r
                          for f, r in rowmeta.items()})
                     + [f"{vname}/{f}" for f in rel_files])
            _write_manifest(target, lines)
            # monotonic pointer via optimistic conditional put: read
            # the pointer, reject if a HIGHER version already
            # committed (a bare blind write would flip the pointer
            # backwards over it, which vacuum could then mistake for
            # an uncommitted orphan), and commit iff the pointer is
            # still what we read.  A precondition failure means a
            # competitor committed inside our read-to-commit window --
            # re-read and re-judge; the loop terminates because each
            # failure implies someone ELSE committed (system-wide
            # progress), and versions only grow toward either our
            # commit or our supersession.
            while True:
                raw = backend.read_pointer(table_dir)
                cur = _parse_pointer(raw)
                if cur is not None and cur > n:
                    raise VersionConflictError(
                        f"version v_{n:08d} of {table_dir} was "
                        f"superseded by v_{cur:08d} before its commit; "
                        f"the write is NOT visible (dir kept until "
                        f"vacuum) -- re-run it, or route one writer "
                        f"per table for merge semantics")
                if backend.try_commit(table_dir,
                                      _next_pointer(raw, f"v_{n:08d}"),
                                      raw):  # THE commit
                    return n
        raise RuntimeError(
            f"could not claim a version under {table_dir} after "
            f"{max_attempts} attempts")
    finally:
        shutil.rmtree(staged, ignore_errors=True)


_MANIFEST = "_MANIFEST"
_TXN_PREFIX = "#txn "
_SCHEMA_FILE = "_SCHEMA.json"


def _write_schema_file(dir_path: str, schema) -> None:
    """Pin ``schema`` (all fields forced nullable -- an evolved read
    surfaces pre-evolution rows as NULL) as the version's read schema.
    Field METADATA is part of the pin: column mapping stores each
    renamed field's stable physical name there."""
    from pyspark.sql.types import StructField, StructType

    st = StructType([StructField(f.name, f.dataType, True, f.metadata)
                     for f in schema.fields])
    tmp = os.path.join(dir_path, f".{_SCHEMA_FILE}.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(st.json())
    os.replace(tmp, os.path.join(dir_path, _SCHEMA_FILE))


def table_schema(table_dir: str, n: int):
    """The read schema version ``n`` committed with (``StructType``),
    or None for a pre-schema-pinning version (readable, but its read
    schema comes from parquet footers as before)."""
    import json

    from pyspark.sql.types import StructType

    p = os.path.join(table_dir, f"v_{n:08d}", _SCHEMA_FILE)
    try:
        with open(p, encoding="utf-8") as fh:
            return StructType.fromJson(json.load(fh))
    except OSError:
        return None


_PHYSICAL_KEY = "physical"


def _physical_map(st) -> dict[str, str]:
    """logical -> physical name for the fields of a pinned schema
    whose metadata records a non-identity physical name (the column-
    mapping state).  Empty dict = unmapped table, where every reader
    and writer behaves exactly as before mapping existed."""
    out: dict[str, str] = {}
    for f in st.fields:
        p = (f.metadata or {}).get(_PHYSICAL_KEY)
        if p is not None and p != f.name:
            out[f.name] = p
    return out


def _physical_name(st, col: str) -> str:
    """The parquet-file column name behind logical ``col`` under
    pinned schema ``st`` (identity when unmapped)."""
    if st is not None and col in st.fieldNames():
        return (st[col].metadata or {}).get(_PHYSICAL_KEY, col)
    return col


def _is_mapped(st) -> bool:
    """Whether the table is under column mapping: ANY field carries a
    physical-name pin, identity ones included.  rename_column stamps
    EVERY field (identity pins on the unrenamed ones) exactly so this
    marker survives the renamed column's later drop -- deriving
    mappedness from non-identity entries alone would let
    rename -> drop -> re-add silently bind the re-added logical name
    to the old files' physical bytes (review finding r12c-1)."""
    return st is not None and any(
        _PHYSICAL_KEY in (f.metadata or {}) for f in st.fields)


def _physical_staging_plan(base_st, schema, seed: str | None = None):
    """THE one policy for staging a batch onto a mapped base, shared
    by the function API (_manifest_commit) and both DataSource
    writers: (staged_physical logical->physical, batch schema with
    the mapping pinned in field metadata).  Existing columns keep the
    base's physical; NEW columns get fresh never-reused names --
    ``seed``-derived when given (a caller whose write and commit
    phases run on different instances needs determinism), salted
    instance-random otherwise.  Returns ``({}, stripped schema)``
    for an unmapped base: stray physical metadata in the incoming
    schema is dropped, because the staged files carry the batch's own
    logical names (review finding r12c-3)."""
    import hashlib
    import uuid

    from pyspark.sql.types import StructField, StructType

    if not _is_mapped(base_st):
        return {}, _strip_physical(schema)
    pmap = _physical_map(base_st)
    base_names = set(base_st.fieldNames())
    staged: dict[str, str] = {}
    for f in schema.fields:
        if f.name in base_names:
            staged[f.name] = pmap.get(f.name, f.name)
        elif seed is not None:
            staged[f.name] = "{}__p{}".format(
                f.name,
                hashlib.md5(f"{seed}:{f.name}".encode("utf-8"))
                .hexdigest()[:8])
        else:
            staged[f.name] = f"{f.name}__p{uuid.uuid4().hex[:8]}"
    batch = StructType([
        StructField(f.name, f.dataType, f.nullable,
                    {**{k: v for k, v in (f.metadata or {}).items()
                        if k != _PHYSICAL_KEY},
                     _PHYSICAL_KEY: staged[f.name]})
        for f in schema.fields])
    return staged, batch


def _strip_physical(st):
    """``st`` without any column-mapping metadata -- the schema a
    snapshot overwrite pins (its files are staged under the batch's
    own logical names, so carrying a stale physical pin would point
    readers at columns the new files don't have).  Strips IDENTITY
    pins too: they are the mapped marker (_is_mapped), and a
    snapshot resets the table to the unmapped format."""
    from pyspark.sql.types import StructField, StructType

    if not _is_mapped(st):
        return st
    return StructType([
        StructField(f.name, f.dataType, f.nullable,
                    {k: v for k, v in (f.metadata or {}).items()
                     if k != _PHYSICAL_KEY})
        for f in st.fields])


def _read_files(spark: SparkSession, table_dir: str, rel_files,
                st, with_pos: bool = False) -> DataFrame:
    """THE schema-pinned file reader: read manifest-relative parquet
    files under pinned schema ``st``.  On a column-mapped table the
    scan runs under the PHYSICAL schema (the names the files carry)
    and a projection aliases each column back to its logical name --
    Catalyst pushes filters and pruning through the aliases, so the
    mapped read plans identically to the unmapped one.

    Hive-partitioned layouts (``partition_by`` commits): the
    partition column lives in the DIRECTORY name, not the file, so
    the scan gets ``basePath = table_dir`` and Spark's partition
    discovery re-attaches it (the non-``k=v`` ``v_N`` segment
    terminates the upward walk, verified behavior on Spark 4.x); a
    final projection restores pinned-schema column order, since
    discovery appends partition columns last.  A MIXED chain (flat
    and partitioned commits inheriting each other) cannot share one
    discovery pass (Spark raises CONFLICTING_DIRECTORY_STRUCTURES),
    so files group by their partition-directory signature -- one
    scan per layout shape, unioned under the pinned schema.

    ``with_pos`` adds the scan-generated row identity the deletion
    vector readers key on: ``__dv_file`` (= ``_metadata.file_path``)
    and ``__dv_pos`` (= ``_metadata.row_index``), projected straight
    off each scan (the ``_metadata`` struct is only reachable
    there)."""
    if not rel_files:
        # a zero-file version (e.g. a snapshot of a zero-partition
        # frame): the pinned schema IS the read, there is nothing to
        # scan
        if st is None:
            raise ValueError(
                f"version under {table_dir} lists no data files and "
                f"pins no schema -- nothing to derive a read from")
        return spark.createDataFrame([], st)
    groups = _layout_groups(rel_files)
    frames = [_read_files_single(spark, table_dir, fs, st,
                                 base_rel=base, with_pos=with_pos)
              for base, fs in groups]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def _layout_groups(rel_files) -> list[tuple[str | None, list[str]]]:
    """Files grouped by partition-structure root -- the path prefix
    BEFORE the first ``k=v`` segment (None = flat file, no partition
    dirs) -- in deterministic order.  Spark's partition discovery
    demands ONE structural root per scan (files under
    ``v_1/yr=x`` and ``v_2/yr=x`` raise
    CONFLICTING_DIRECTORY_STRUCTURES even though the columns agree),
    so each version dir's partitioned files scan separately with
    that dir as ``basePath``."""
    groups: dict[str | None, list[str]] = {}
    for f in rel_files:
        segs = f.split("/")
        base: str | None = None
        for i, seg in enumerate(segs[:-1]):
            if "=" in seg:
                base = "/".join(segs[:i])
                break
        groups.setdefault(base, []).append(f)
    return sorted(groups.items(),
                  key=lambda kv: (kv[0] is not None, kv[0] or ""))


def _read_files_single(spark: SparkSession, table_dir: str,
                       rel_files, st, base_rel: str | None,
                       with_pos: bool = False) -> DataFrame:
    """One scan of one layout group (see :func:`_read_files`)."""
    from pyspark.sql import functions as F

    paths = [os.path.join(table_dir, f) for f in rel_files]
    reader = spark.read
    partitioned = base_rel is not None
    if partitioned:
        reader = reader.option(
            "basePath",
            os.path.abspath(os.path.join(table_dir, base_rel)))
    meta = ([F.col("_metadata.file_path").alias("__dv_file"),
             F.col("_metadata.row_index").alias("__dv_pos")]
            if with_pos else [])
    if st is None:
        df = reader.parquet(*paths)
        return (df.select([F.col(c) for c in df.columns] + meta)
                if with_pos else df)
    pmap = _physical_map(st)
    if not pmap and not with_pos:
        df = reader.schema(st).parquet(*paths)
        return (df.select([F.col(f.name) for f in st.fields])
                if partitioned else df)
    from pyspark.sql.types import StructField, StructType

    phys_st = StructType([
        StructField(pmap.get(f.name, f.name), f.dataType, True)
        for f in st.fields])
    df = reader.schema(phys_st).parquet(*paths)
    return df.select([F.col(pmap.get(f.name, f.name)).alias(f.name)
                      for f in st.fields] + meta)


def _read_files_dv(spark: SparkSession, table_dir: str, n: int,
                   rel_files, st) -> DataFrame:
    """THE version-aware file reader: :func:`_read_files`, minus the
    rows version ``n``'s deletion vectors mark deleted.  Files
    without a DV take the plain scan; dv-bearing files scan with row
    identity and LEFT ANTI join the deleted (file, position) pairs --
    broadcast below ``_DV_BROADCAST_ROWS`` (a deletion vector is
    control-plane sized by contract: a delete touching a large
    fraction of the table should be :func:`delete_keys_version`'s
    copy-on-write rewrite instead)."""
    dvs = _read_dvs(table_dir, n)
    files = list(rel_files)
    hit = [f for f in files if f in dvs]
    if not hit:
        return _read_files(spark, table_dir, files, st)
    # crash-window guard (r12 ADVICE): a purge journals a rewritten
    # file's position shifts into .dvremap-<name>.json BEFORE the
    # swap and remaps referencing sidecars AFTER it -- a crash
    # between the two leaves this version's deletion vectors
    # anti-filtering on mis-pointed positions, which a plain read
    # would silently honor.
    if _heal_pending_dv_remaps(table_dir, hit):
        dvs = _read_dvs(table_dir, n)
        hit = [f for f in files if f in dvs]
        if not hit:
            return _read_files(spark, table_dir, files, st)
    clean = [f for f in files if f not in dvs]
    masked = _apply_dv(
        spark, table_dir,
        _read_files(spark, table_dir, hit, st, with_pos=True),
        {f: dvs[f] for f in hit})
    if not clean:
        return masked
    return _read_files(spark, table_dir, clean, st).unionByName(masked)


_DV_BROADCAST_ROWS = 4_000_000


def _apply_dv(spark: SparkSession, table_dir: str,
              df_with_pos: DataFrame,
              dvs: dict[str, tuple[str, int]]) -> DataFrame:
    """Anti-filter ``df_with_pos`` (a ``with_pos`` :func:`_read_files`
    frame) against the given deletion vectors and drop the row-identity
    columns.  The (scan key, position) pairs frame is built
    driver-side through Arrow (positions are control-plane sized;
    manifest-recorded counts pick broadcast vs shuffle without
    decoding first)."""
    import pandas as pd
    from pyspark.sql import functions as F

    scan_key = _dv_scan_keys(df_with_pos, dvs)
    keys, poss = [], []
    for f, (dv_rel, _cnt) in sorted(dvs.items()):
        for p in _dv_positions(table_dir, dv_rel):
            keys.append(scan_key[f])
            poss.append(p)
    if not keys:  # all-empty vectors: nothing to filter
        return df_with_pos.drop("__dv_file", "__dv_pos")
    pairs = spark.createDataFrame(
        pd.DataFrame({"__dv_key": pd.Series(keys, dtype="object"),
                      "__dv_pos": pd.Series(poss, dtype="int64")}))
    total = sum(cnt for _d, cnt in dvs.values())
    if total <= _DV_BROADCAST_ROWS:
        pairs = F.broadcast(pairs)
    out = (df_with_pos
           .withColumn("__dv_key", _dv_key_col())
           .join(pairs, ["__dv_key", "__dv_pos"], "left_anti"))
    return out.drop("__dv_file", "__dv_pos", "__dv_key")


def _heal_pending_dv_remaps(table_dir: str, dv_files) -> bool:
    """Apply any pending purge ``.dvremap`` journals beside the given
    dv-bearing files (a crash window between a purged file's atomic
    swap and its sidecar remap -- r12 ADVICE; r13 review finding #4
    extended the guard to the METADATA tiers, whose manifest count
    and sidecar witness go stale TOGETHER in that window).  The
    existence probe is O(dv-bearing files) -- control-plane sized by
    contract; only a pending journal triggers the idempotent,
    all-versions apply.  Returns True when an apply ran, so callers
    re-read manifest state."""
    pending = [f for f in dv_files if os.path.exists(os.path.join(
        table_dir, os.path.dirname(f),
        f".dvremap-{os.path.basename(f)}.json"))]
    if not pending:
        return False
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.purge import (
        _apply_dv_remap_journals,
    )

    try:
        _apply_dv_remap_journals(table_dir,
                                 committed_versions(table_dir))
    except OSError as exc:
        raise RuntimeError(
            f"{table_dir} has pending deletion-vector remap "
            f"journals from an interrupted purge ({pending}) and "
            f"they could not be auto-applied ({exc}); re-run the "
            f"purge or io.fsck before reading dv-bearing "
            f"versions") from exc
    return True


def _resolve_commit_schema(base, batch, merge_schema: bool,
                           table_dir: str):
    """The schema the new version commits with.  Enforcement
    (default): the batch must carry exactly the base's field names
    with equal types (nullability ignored) -- the Delta-style guard
    against a typo'd producer silently forking the table.  With
    ``merge_schema=True``: batch-only fields are APPENDED to the base
    schema as nullable columns (old files read NULL for them), and
    base fields missing from the batch stay (the batch's files read
    NULL).  A same-name TYPE conflict is never mergeable -- parquet
    cannot read an int64 file column as string -- so it always
    raises; rewrite via a fresh :func:`write_version` snapshot to
    change a column's type."""
    if base is None:
        return batch
    base_t = {f.name: f.dataType for f in base.fields}
    batch_t = {f.name: f.dataType for f in batch.fields}
    conflicts = sorted(n for n in base_t.keys() & batch_t.keys()
                       if base_t[n] != batch_t[n])
    if conflicts:
        raise SchemaMismatchError(
            f"append to {table_dir}: column type conflict for "
            f"{conflicts} (table: "
            f"{[(c, base_t[c].simpleString()) for c in conflicts]}, "
            f"batch: {[(c, batch_t[c].simpleString()) for c in conflicts]}); "
            f"a type change needs a full write_version snapshot rewrite")
    added = [f for f in batch.fields if f.name not in base_t]
    missing = sorted(base_t.keys() - batch_t.keys())
    if not merge_schema and (added or missing):
        raise SchemaMismatchError(
            f"append to {table_dir}: batch schema differs from the "
            f"table's (new columns {sorted(f.name for f in added)}, "
            f"missing columns {missing}); pass merge_schema=True to "
            f"evolve the table by adding nullable columns")
    if not added:
        return base
    from pyspark.sql.types import StructField, StructType

    # physical names are NEVER reused within a table: an added field
    # whose physical (metadata-pinned, else its own name) collides
    # with a live physical would make old files' bytes resurface
    # under the new logical column
    live_phys = {(f.metadata or {}).get(_PHYSICAL_KEY, f.name)
                 for f in base.fields}
    clash = sorted(
        f.name for f in added
        if (f.metadata or {}).get(_PHYSICAL_KEY, f.name) in live_phys)
    if clash:
        raise SchemaMismatchError(
            f"append to {table_dir}: new column(s) {clash} would "
            f"reuse a physical column name already live in this "
            f"column-mapped table -- a rename may have raced this "
            f"append; re-run it")
    return StructType(list(base.fields)
                      + [StructField(f.name, f.dataType, True,
                                     f.metadata)
                         for f in added])


_STATS_PREFIX = "#stats "


def _file_meta(path: str, columns) -> tuple[dict[str, tuple], dict]:
    """ONE footer read of a parquet file -> (per-column (min, max)
    stats, ``{"n": num_rows, "nn": {col: null_count}}``).  Only
    JSON-encodable primitive min/max are kept; a column whose footer
    lacks usable min/max is absent from stats ('cannot prune'), one
    whose null count is unknown in ANY row group is absent from nn
    ('cannot answer from metadata') -- the two are tracked
    independently so a partial footer degrades each reader
    separately, never wrongly."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    stats: dict[str, tuple] = {}
    nn: dict[str, int] = {}
    for col in columns:
        if col not in idx:
            continue
        lo = hi = None
        ok_mm = ok_nn = True
        nulls = 0
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[col]).statistics
            if st is None:
                ok_mm = ok_nn = False
                break
            if ok_nn:
                if st.null_count is None:
                    ok_nn = False
                else:
                    nulls += st.null_count
            if ok_mm:
                if not st.has_min_max:
                    ok_mm = False
                else:
                    mn, mx = st.min, st.max
                    if not isinstance(mn, (int, float, str, bool)) \
                            or not isinstance(mx,
                                              (int, float, str, bool)):
                        ok_mm = False
                    else:
                        lo = mn if lo is None or mn < lo else lo
                        hi = mx if hi is None or mx > hi else hi
            if not ok_mm and not ok_nn:
                break
        if ok_mm and lo is not None:
            stats[col] = (lo, hi)
        if ok_nn:
            nn[col] = nulls
    return stats, {"n": md.num_rows, "nn": nn}


def _file_stats(path: str, columns) -> dict[str, tuple]:
    """Per-column (min, max) of one parquet file (see _file_meta)."""
    return _file_meta(path, columns)[0]


def _snapshot_meta(staged: str, rel_files, schema, stats_columns
                   ) -> tuple[dict[str, dict[str, tuple]],
                              dict[str, dict]]:
    """(stats, rowmeta) of a freshly STAGED snapshot, keyed by
    stage-relative path (:func:`write_version`'s claim loop
    re-prefixes with the final version dir): per-file row/null
    counts always, footer min/max for ``stats_columns``, and the
    exact ``[v, v]`` stat + 0-or-all null count for every
    ``col=value`` partition path segment -- the same records the
    append path keeps for its own files, so every metadata tier
    (``table_rowcount`` / ``count_where`` / pruning) answers
    snapshots and appends identically.  A snapshot has no base to
    inherit tracking from, so only the REQUESTED columns get
    footer min/max."""
    from urllib.parse import unquote

    want = sorted(set(stats_columns) & set(schema.fieldNames()))
    stats: dict[str, dict[str, tuple]] = {}
    rowmeta: dict[str, dict] = {}
    for rel in rel_files:
        fs, rm = _file_meta(os.path.join(staged, rel), want)
        # stage-relative: every directory segment is below the
        # version dir
        pvals = {k: unquote(v) for k, _, v in (
            seg.partition("=") for seg in rel.split("/")[:-1]
            if "=" in seg)}
        _record_partition_meta(pvals, schema, {}, fs, rm)
        if fs:
            stats[rel] = fs
        rowmeta[rel] = rm
    return stats, rowmeta


def _manifest(table_dir: str, n: int) -> dict[str, list[str]] | None:
    """THE manifest reader: ONE read of ``v_n``'s ``_MANIFEST``, its
    lines split by prefix -- ``""`` holds the data-file lines, each
    metadata tag (``#txn ``, ``#stats ``, ``#rows ``, ``#base ``,
    ``#op ``, ``#dv ``) the payloads after it, in file order; blank
    lines and unknown ``#`` tags are skipped.  None for a snapshot
    version (no manifest: the dir's own files ARE the version --
    :func:`write_version`'s layout).  Every manifest accessor
    decodes from this."""
    lines = _manifest_lines(os.path.join(table_dir, f"v_{n:08d}"))
    if lines is None:
        return None
    out: dict[str, list[str]] = {
        t: [] for t in ("", _TXN_PREFIX, _STATS_PREFIX, _ROWS_PREFIX,
                        _BASE_PREFIX, _OP_PREFIX, _DV_PREFIX)}
    for line in lines:
        if not line.strip():
            continue
        if not line.startswith("#"):
            out[""].append(line)
            continue
        tag, sp, payload = line.partition(" ")
        if tag + sp in out:
            out[tag + sp].append(payload)
    return out


def _manifest_lines(vdir: str) -> list[str] | None:
    """The raw lines of ``vdir``'s ``_MANIFEST`` in file order, or
    None when it has none (a snapshot version)."""
    try:
        with open(os.path.join(vdir, _MANIFEST), encoding="utf-8") as fh:
            return fh.read().splitlines()
    except OSError:
        return None


def _write_manifest(vdir: str, lines: list[str]) -> None:
    """THE manifest writer: ``lines`` become ``vdir``'s ``_MANIFEST``
    through a tmp file and ``os.replace``, so a reader sees the old
    manifest or the new one, never a torn one.  New versions write
    theirs into a still-invisible staged dir; :func:`_edit_manifest`
    rewrites committed ones in place."""
    p = os.path.join(vdir, _MANIFEST)
    tmp = p + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    os.replace(tmp, p)


def _edit_manifest(table_dir: str, n: int, edit) -> bool:
    """Read-edit-replace of committed ``v_n``'s manifest: ``edit``
    maps its lines to the new lines, or returns None for "no change"
    (nothing is written).  Returns whether it wrote; a snapshot
    version (no manifest) is a no-op.  Purge's metadata phases and
    fsck's repair edit manifests only through here."""
    vdir = os.path.join(table_dir, f"v_{n:08d}")
    lines = _manifest_lines(vdir)
    if lines is None:
        return False
    out = edit(lines)
    if out is None:
        return False
    _write_manifest(vdir, out)
    return True


def _refresh_file_meta(table_dir: str, n: int,
                       fresh: dict[str, tuple[dict, dict]]) -> bool:
    """Replace ``v_n``'s #stats/#rows records of the files in
    ``fresh`` (``{relpath: (stats, rowmeta)}`` from their footers,
    keyed by PHYSICAL column names) with those facts under ``v_n``'s
    LOGICAL names; columns ``v_n``'s schema lacks are dropped (a
    schema-less legacy version keeps them all).  A file the manifest
    does not list gets no record.  Existing records are replaced,
    never accumulated: a duplicate line for one file would make the
    last-occurrence parse winner arbitrary.  A manifest whose
    records already match is left unwritten."""
    import json

    st = table_schema(table_dir, n)
    pm = _physical_map(st) if st is not None else {}
    inv = ({pm.get(f.name, f.name): f.name for f in st.fields}
           if st is not None else None)

    def logical(cols: dict) -> dict:
        if inv is None:
            return dict(cols)
        return {inv[c]: v for c, v in cols.items() if c in inv}

    def edit(lines: list[str]) -> list[str] | None:
        kept = [ln for ln in lines if ln.strip() and not (
            ln.startswith((_STATS_PREFIX, _ROWS_PREFIX))
            and json.loads(ln.partition(" ")[2])["f"] in fresh)]
        listed = [ln for ln in kept
                  if not ln.startswith("#") and ln in fresh]
        stats = {f: logical(fresh[f][0]) for f in listed}
        rows = {f: {"n": fresh[f][1]["n"],
                    "nn": logical(fresh[f][1]["nn"])} for f in listed}
        out = (_stats_lines({f: s for f, s in stats.items() if s})
               + _rows_lines(rows) + kept)
        return out if out != lines else None

    return _edit_manifest(table_dir, n, edit)


def _stats_of(mf: dict[str, list[str]]) -> dict[str, dict[str, tuple]]:
    import json

    out: dict[str, dict[str, tuple]] = {}
    for rec in map(json.loads, mf[_STATS_PREFIX]):
        out.setdefault(rec["f"], {})[rec["c"]] = (rec["lo"], rec["hi"])
    return out


def _rowmeta_of(mf: dict[str, list[str]]) -> dict[str, dict]:
    import json

    return {rec["f"]: {"n": rec["n"], "nn": rec.get("nn", {})}
            for rec in map(json.loads, mf[_ROWS_PREFIX])}


def _read_stats(table_dir: str, n: int) -> dict[str, dict[str, tuple]]:
    """relpath -> {col: (min, max)} recorded in ``v_n``'s manifest
    (empty for snapshot versions and stats-less commits)."""
    mf = _manifest(table_dir, n)
    return _stats_of(mf) if mf is not None else {}


def _version_meta(table_dir: str, n: int
                  ) -> tuple[list[str], dict, dict]:
    """ONE manifest parse of ``v_n`` -> (data_files, stats, rowmeta)
    -- the combined form of :func:`_data_files` + :func:`_read_stats`
    + :func:`_read_rowmeta` for planners that need all three (the
    file pruner :func:`_prune` opens the manifest once instead of
    three times per read).  Falls back to the snapshot-dir listing
    (no stats/rowmeta) exactly like ``_data_files``."""
    mf = _manifest(table_dir, n)
    if mf is None:
        return _data_files(table_dir, n), {}, {}
    return mf[""], _stats_of(mf), _rowmeta_of(mf)


def _stats_lines(stats: dict[str, dict[str, tuple]]) -> list[str]:
    import json

    return [_STATS_PREFIX + json.dumps(
                {"f": f, "c": c, "lo": lo, "hi": hi}, ensure_ascii=True)
            for f in sorted(stats)
            for c, (lo, hi) in sorted(stats[f].items())]


_ROWS_PREFIX = "#rows "
# a compaction's manifest records the version it is row-identical to
# ("#base N"): read_changes uses the link to answer deltas across
# compactions from the neighbouring segments instead of proving the
# empty diff with two full scans
_BASE_PREFIX = "#base "
# deletion vectors (the Delta DV / merge-on-read delete shape): a
# "#dv {f, d, n}" line marks `n` rows of data file `f` as deleted,
# their file-relative row indices stored in sidecar `d` (committed
# inside the deleting version's dir, immutable like data files).
# Readers anti-filter on (file, _metadata.row_index); rowmeta "n"
# stays the PHYSICAL rowcount and every metadata tier subtracts or
# falls back to a scan for dv-bearing files.  At most one #dv line
# per file per manifest (deletes merge at commit time).
# commit provenance (the Delta DESCRIBE HISTORY shape): one
# "#op {name, params, metrics}" line per manifest records WHICH
# operation committed the version, its parameters, and cheap
# metrics (file/row counts already in hand at commit time).
# Absent on legacy manifests and on write_version snapshots (no
# manifest); purely informational -- no reader depends on it.
_OP_PREFIX = "#op "
_DV_PREFIX = "#dv "
_DV_MAGIC = b"DV2\x00"
# the manifest-side identity of a data file for deletion vectors: the
# trailing version-dir path of a data file reference, INCLUDING any
# Hive partition segments between the version dir and the file name
# (r13: 'v_N/yr=2000/part.parquet' must key whole, or partitioned
# dv-deletes mis-join).  The negative lookahead anchors the match at
# the LAST v_N segment, so an ancestor directory that happens to be
# v_N-shaped cannot desynchronize a manifest ref from a scan path.
# The pattern runs only in Python, on the driver (_dv_suffix): it
# maps a scan's file URIs back to manifest entries once per file,
# never per row -- the per-row side is _dv_key_col's plain string
# expression.
_DV_SUFFIX_PATTERN = r"(v_\d{8}/(?:(?!v_\d{8}/)[^/]+/)*[^/]+)$"


def _dv_key_col(file_col: str = "__dv_file"):
    """The SCAN-side dv join key as a Column: the text of
    ``_metadata.file_path`` after its last ``/v_``, left URI-encoded
    (no regex, no decode per row).  :func:`_dv_scan_keys` computes the
    same key from each file's URI on the driver."""
    from pyspark.sql import functions as F

    return F.substring_index(file_col, "/v_", -1)


def _dv_scan_keys(scan: DataFrame, rel_files) -> dict[str, str]:
    """manifest-relative path -> scan-side dv join key, for every
    file of ``rel_files`` in the ``with_pos`` scan ``scan``, resolved
    once per file on the driver.  ``scan.inputFiles()`` holds the
    same URI-encoded paths as ``_metadata.file_path`` (scheme prefix
    aside); each maps back to its manifest entry through its decoded
    :func:`_dv_suffix` -- ``file_path`` is a URI, so a partition dir
    like ``reg=north region`` surfaces as ``reg=north%20region``
    (r13 review finding #1).  A dv-bearing file the scan does not
    list, or two files sharing a key, raise: either would make the
    anti-join silently filter nothing (review r12e-5)."""
    from urllib.parse import unquote

    sfx_to_rel = _dv_suffix_map(rel_files)
    keys: dict[str, str] = {}
    owner: dict[str, str] = {}
    for uri in scan.inputFiles():
        rel = sfx_to_rel.get(_dv_suffix(unquote(uri)))
        if rel is None:
            continue
        key = uri.rsplit("/v_", 1)[-1]
        other = owner.setdefault(key, rel)
        if other != rel:
            raise RuntimeError(
                f"deletion-vector scan-key collision: {rel!r} and "
                f"{other!r} share the scan key {key!r}")
        keys[rel] = key
    missing = sorted(set(rel_files) - keys.keys())
    if missing:
        raise RuntimeError(
            f"deletion-vector files {missing} have no scan key: the "
            f"scan lists none of them, so their masks cannot be "
            f"applied")
    return keys


def _encode_dv(positions, nrows: int) -> bytes:
    """Sidecar bytes for a sorted iterable of file-relative row
    indices: magic + the data file's PHYSICAL rowcount at encode time
    (int64 LE) + zlib of little-endian int64 positions.  The recorded
    rowcount is the consistency witness: a sidecar is valid for its
    file iff the counts agree, which makes the purge's position remap
    idempotent and crash-recoverable and lets fsck convict a
    mis-pointed vector (review r12e-1)."""
    import struct
    import zlib
    from array import array

    arr = array("q", sorted(set(int(p) for p in positions)))
    return (_DV_MAGIC + struct.pack("<q", int(nrows))
            + zlib.compress(arr.tobytes()))


def _decode_dv_full(data: bytes) -> tuple[list[int], int]:
    """(positions, recorded physical rowcount)."""
    import struct
    import zlib
    from array import array

    if not data.startswith(_DV_MAGIC):
        raise ValueError("not a DV sidecar (bad magic)")
    nrows = struct.unpack("<q", data[4:12])[0]
    arr = array("q")
    arr.frombytes(zlib.decompress(data[12:]))
    return list(arr), nrows


def _decode_dv(data: bytes) -> list[int]:
    return _decode_dv_full(data)[0]


def _dv_header_rows(table_dir: str, dv_rel: str) -> int | None:
    """The data-file rowcount WITNESS from a sidecar's 12-byte header
    (magic + int64, no decompression) -- the count the vector was
    encoded against.  None when the sidecar is unreadable (callers
    fall back to the manifest record; fsck owns diagnosis)."""
    import struct

    try:
        with open(os.path.join(table_dir, dv_rel), "rb") as fh:
            head = fh.read(12)
    except OSError:
        return None
    if len(head) < 12 or not head.startswith(_DV_MAGIC):
        return None
    return struct.unpack("<q", head[4:12])[0]


def _read_dvs(table_dir: str, n: int) -> dict[str, tuple[str, int]]:
    """data relpath -> (dv sidecar relpath, deleted count) recorded
    in ``v_n``'s manifest (empty for snapshots / dv-less versions)."""
    import json

    mf = _manifest(table_dir, n)
    if mf is None:
        return {}
    return {rec["f"]: (rec["d"], int(rec["n"]))
            for rec in map(json.loads, mf[_DV_PREFIX])}


def _read_op(table_dir: str, n: int) -> dict | None:
    """The ``#op`` provenance record of ``v_n``'s manifest, or None
    (legacy manifest / snapshot version)."""
    import json

    mf = _manifest(table_dir, n)
    if mf is None or not mf[_OP_PREFIX]:
        return None
    return json.loads(mf[_OP_PREFIX][0])


def _op_line(name: str, params: dict | None = None,
             metrics: dict | None = None) -> str:
    import json

    return _OP_PREFIX + json.dumps(
        {"name": name, "params": params or {},
         "metrics": metrics or {}}, sort_keys=True)


def _dv_positions(table_dir: str, dv_rel: str) -> list[int]:
    with open(os.path.join(table_dir, dv_rel), "rb") as fh:
        return _decode_dv(fh.read())


def _dv_lines(dvs: dict[str, tuple[str, int]]) -> list[str]:
    import json

    return [_DV_PREFIX + json.dumps(
                {"f": f, "d": d, "n": n}, sort_keys=True)
            for f, (d, n) in sorted(dvs.items())]


def _dv_suffix(rel_or_path: str) -> str:
    """The trailing ``v_NNNNNNNN/<name>`` of a data file reference --
    what matches a decoded scan path (absolute) to a manifest-relative
    ref (including a shallow clone's ``../``-external ones).
    Uniqueness rides on uuid part names, the same reliance deep_clone
    documents."""
    m = re.search(_DV_SUFFIX_PATTERN, rel_or_path)
    return m.group(1) if m else rel_or_path


def _dv_suffix_map(rel_files) -> dict[str, str]:
    """suffix -> manifest-relative path for every file of one
    dv-keyed scan, ASSERTING injectivity (r12 ADVICE): a
    basename collision between a clone-local file and a shallow
    clone's ``../``-external ref in the same scan would otherwise
    silently join deletion masks onto the wrong file's rows.  UUID
    part naming makes collisions unobserved in practice; this makes
    one fail loudly instead of corrupting a read."""
    out: dict[str, str] = {}
    for f in rel_files:
        sfx = _dv_suffix(f)
        other = out.get(sfx)
        if other is not None and other != f:
            raise RuntimeError(
                f"deletion-vector scan-key collision: {f!r} and "
                f"{other!r} share the join suffix {sfx!r}; the "
                f"position masks cannot be attributed safely. "
                f"Deep-clone or compact the table so file names are "
                f"unique within the scan")
        out[sfx] = f
    return out


def _file_rowmeta(path: str, columns) -> dict:
    """``{"n": num_rows, "nn": {col: null_count}}`` of one parquet
    file (see _file_meta)."""
    return _file_meta(path, columns)[1]


def _read_rowmeta(table_dir: str, n: int) -> dict[str, dict]:
    """relpath -> {"n": rows, "nn": {col: nulls}} recorded in
    ``v_n``'s manifest (empty for snapshots / pre-rows commits)."""
    mf = _manifest(table_dir, n)
    return _rowmeta_of(mf) if mf is not None else {}


def _rows_lines(rowmeta: dict[str, dict]) -> list[str]:
    import json

    return [_ROWS_PREFIX + json.dumps(
                {"f": f, "n": rowmeta[f]["n"], "nn": rowmeta[f]["nn"]},
                ensure_ascii=True, sort_keys=True)
            for f in sorted(rowmeta)]


def table_rowcount(table_dir: str, n: int | None = None,
                   backend: CommitBackend | None = None) -> int:
    """``count(*)`` of version ``n`` (default: current) answered from
    METADATA: the manifest's per-file row counts, falling back to a
    parquet-footer read for files a pre-rows commit or a snapshot
    version recorded no count for.  No Spark job, no data scan,
    either way -- at 100 TB this is one small-file read vs a
    full-table count, the Delta/Iceberg metadata-count shape."""
    if n is None:
        n = current_version(table_dir, backend=backend)
        if n is None:
            raise FileNotFoundError(
                f"{table_dir} has no committed version (_CURRENT missing)")
    return sum(rows for _f, rows in _live_rows(table_dir, n))


def _live_rows(table_dir: str, n: int) -> list[tuple[str, int]]:
    """``[(data file, live rows)]`` of version ``n`` from METADATA:
    the manifest's per-file row count (a parquet-footer read for
    files a pre-rows commit or a snapshot version recorded none
    for) minus the deletion vector's recorded deleted count.  The
    one per-file count behind :func:`table_rowcount` and
    :func:`show_partitions`."""
    rowmeta = _read_rowmeta(table_dir, n)
    dvs = _read_dvs(table_dir, n)
    if dvs and _heal_pending_dv_remaps(table_dir, dvs):
        rowmeta = _read_rowmeta(table_dir, n)
        dvs = _read_dvs(table_dir, n)
    out = []
    for f in _data_files(table_dir, n):
        rec = rowmeta.get(f)
        phys = rec["n"] if rec is not None else _file_rowmeta(
            os.path.join(table_dir, f), ())["n"]
        if f in dvs:
            # rowmeta "n" is the PHYSICAL count; the manifest's
            # deletion-vector line records how many of them are
            # logically gone -- still zero data I/O.  Cross-check
            # the sidecar's 12-byte rowcount witness against the
            # recorded physical count (r12 ADVICE): a purge on a
            # shallow clone's SOURCE remaps the SHARED sidecar in
            # place but only fixes the source's manifests, so a
            # stale clone-side record silently returns wrong counts
            # until verify_table.  A witness mismatch re-derives
            # both numbers from the sidecar itself.
            d_rel, cnt = dvs[f]
            witness = _dv_header_rows(table_dir, d_rel)
            if witness is not None and witness != phys:
                phys = witness
                cnt = len(_dv_positions(table_dir, d_rel))
            elif rec is None:
                # footer-derived phys always matches the witness;
                # the manifest's deleted count could still be stale
                # -- a control-plane-sized decode settles it
                cnt = len(_dv_positions(table_dir, d_rel))
            phys -= cnt
        out.append((f, phys))
    return out


def show_partitions(table_dir: str, n: int | None = None,
                    backend: CommitBackend | None = None
                    ) -> list[dict]:
    """The partitions of version ``n`` (default: current) as
    ``{"values": {dir_col: raw_string_or_None}, "n_files": int,
    "n_rows": int}``, sorted by values -- Delta's
    ``SHOW PARTITIONS`` / per-partition ``DESCRIBE DETAIL`` shape,
    answered from METADATA alone: directory names give the grouping,
    manifest rowmeta gives counts (parquet footers for files a
    pre-rows commit recorded none for), and deletion-vector counts
    subtract.  No SparkSession, no data scan -- at 100 TB this is
    the partition inventory an orchestrator polls per cycle, priced
    at one manifest read.  Hidden transform layouts (io/transforms)
    list their DERIVED directories (e.g. ``{"d_month": "1996-03"}``)
    -- the values a :func:`replace_partitions` reload would key on.
    Unpartitioned layouts return one entry with empty values.  The
    null-marker directory surfaces as ``None``."""
    if n is None:
        n = current_version(table_dir, backend=backend)
        if n is None:
            raise FileNotFoundError(
                f"{table_dir} has no committed version "
                f"(_CURRENT missing)")
    groups: dict[tuple, dict] = {}
    for f, rows in _live_rows(table_dir, n):
        pv = _partition_values(f)
        key = tuple(sorted(
            (k, None if v == _NULL_PARTITION else v)
            for k, v in pv.items()))
        g = groups.setdefault(key, {"n_files": 0, "n_rows": 0})
        g["n_files"] += 1
        g["n_rows"] += rows
    return [{"values": dict(k), **g}
            for k, g in sorted(
                groups.items(),
                key=lambda kv: tuple(
                    (c, v is None, v) for c, v in kv[0]))]


def count_where(spark: SparkSession, table_dir: str, col: str,
                lo=None, hi=None, n: int | None = None,
                backend: CommitBackend | None = None) -> int:
    """Exact ``count(*) WHERE lo <= col <= hi`` over version ``n``,
    scanning only BOUNDARY files.  Per file, the recorded stats
    classify it: provably outside the range -> contributes 0;
    provably interior (``lo <= min`` and ``max <= hi``, null count
    known) -> contributes ``rows - nulls`` from metadata alone;
    anything else (straddles an endpoint, or stats/null counts
    missing) -> scanned with the predicate re-applied.  On a
    key-sorted table (:func:`compact_table` ``sort_by``) at most two
    files straddle the endpoints, so the count is metadata + an
    O(2-file) scan regardless of table size; correctness never
    depends on stats existing."""
    if n is None:
        n = current_version(table_dir, backend=backend)
        if n is None:
            raise FileNotFoundError(
                f"{table_dir} has no committed version (_CURRENT missing)")
    meta_rows, boundary = _count_where_plan(table_dir, n, col, lo, hi)
    if not boundary:
        return meta_rows
    st = table_schema(table_dir, n)
    df = _read_files_dv(spark, table_dir, n, boundary, st)
    df = _apply_range(df, col, lo, hi)
    if lo is None and hi is None:
        df = df.filter(df[col].isNotNull())
    return meta_rows + df.count()


def _count_where_plan(table_dir: str, n: int, col: str,
                      lo, hi) -> tuple[int, list[str]]:
    """(rows answerable from metadata, files needing a scan) -- the
    classification :func:`count_where` executes; split out so tests
    can pin that a sorted table's boundary set is O(endpoints)."""
    stats = _read_stats(table_dir, n)
    rowmeta = _read_rowmeta(table_dir, n)
    dvs = _read_dvs(table_dir, n)
    if dvs and _heal_pending_dv_remaps(table_dir, dvs):
        stats = _read_stats(table_dir, n)
        rowmeta = _read_rowmeta(table_dir, n)
        dvs = _read_dvs(table_dir, n)
    st = table_schema(table_dir, n)
    phys = _physical_name(st, col)
    part_dt = (st[col].dataType
               if st is not None and col in st.fieldNames() else None)
    meta_rows = 0
    boundary: list[str] = []
    for f in _data_files(table_dir, n):
        rec = rowmeta.get(f)
        # a partition-directory column's path value is an exact
        # [v, v] stat (and the null marker proves all-null)
        s, all_null = _file_range(_partition_values(f), phys, part_dt,
                                  stats.get(f, {}).get(col))
        if all_null:
            continue  # no row can match any range
        if all_null is False and (rec is None or col not in rec["nn"]):
            # the path also proves zero nulls; row count comes from
            # rowmeta or one footer read
            n_rows = (rec["n"] if rec is not None else _file_rowmeta(
                os.path.join(table_dir, f), ())["n"])
            rec = {"n": n_rows, "nn": {col: 0}}
        if s is not None and ((hi is not None and s[0] > hi)
                              or (lo is not None and s[1] < lo)):
            continue  # provably outside (dv rows are a subset:
            #           removing rows cannot bring the file INTO
            #           range, so dv-bearing exclusion stays valid)
        if (rec is not None and col in rec["nn"]
                and rec["nn"][col] == rec["n"] and f not in dvs):
            # provably ALL-NULL for col (e.g. a null-partition
            # directory): no row matches any range, bounded or not
            continue
        # an unbounded side needs no stat to prove containment: with
        # both sides open EVERY non-null row is in range, so the file
        # is interior whenever its null count is known
        inside = ((lo is None or (s is not None and s[0] >= lo))
                  and (hi is None or (s is not None and s[1] <= hi)))
        if inside and rec is None and f not in dvs:
            # no manifest rowmeta (e.g. a snapshot or pre-rows
            # commit): one footer read still beats a scan -- and an
            # empty part file is provably zero either way
            frows = _file_meta(os.path.join(table_dir, f),
                               (phys,))[1]
            if frows["n"] == 0:
                continue
            if phys in frows["nn"]:
                rec = {"n": frows["n"],
                       "nn": {col: frows["nn"][phys]}}
        if (inside and rec is not None and col in rec["nn"]
                and f not in dvs):
            # a deletion vector makes the interior count unanswerable
            # from metadata (which surviving rows are in range is
            # unknown) -- the file joins the scanned boundary set
            meta_rows += rec["n"] - rec["nn"][col]
        else:
            boundary.append(f)
    return meta_rows, boundary


def _file_null_count(path: str, col: str) -> int | None:
    """Null count of ``col`` in one parquet file from its FOOTER:
    the summed per-row-group null stat when every row group records
    one; the file's row count when the column is absent from the
    file's schema (an evolved column reads back all-null there);
    None when any row group lacks the stat (caller must scan)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    if col not in idx:
        return md.num_rows
    total = 0
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx[col]).statistics
        if st is None or st.null_count is None:
            return None
        total += st.null_count
    return total


def _null_count_plan(table_dir: str, n: int,
                     col: str, st=None) -> tuple[int, list[str]]:
    """(nulls answerable from metadata, files needing a scan) for
    ``count_nulls`` -- split out so tests can pin that a table whose
    commits recorded #rows lines scans NOTHING.  Manifest rowmeta is
    keyed by LOGICAL name; the footer fallback reads the file's
    PHYSICAL column.  ``st``: the version's pinned schema when the
    caller already holds it (skips a re-parse)."""
    rowmeta = _read_rowmeta(table_dir, n)
    dvs = _read_dvs(table_dir, n)
    phys = _physical_name(
        st if st is not None else table_schema(table_dir, n), col)
    meta_nulls = 0
    scan: list[str] = []
    for f in _data_files(table_dir, n):
        if f in dvs:
            # how many of the file's nulls the deletion vector
            # removed is unknowable from metadata -- scan it
            scan.append(f)
            continue
        rec = rowmeta.get(f)
        if rec is not None and col in rec["nn"]:
            meta_nulls += rec["nn"][col]
            continue
        # a partition-directory column lives in the PATH, not the
        # footer: the footer's column-absent fallback would wrongly
        # report the file all-null, when the path value proves it
        # all-NON-null (or the null marker proves the opposite)
        _rng, all_null = _file_range(_partition_values(f), phys, None)
        if all_null is not None:
            if all_null:
                meta_nulls += (rec["n"] if rec is not None else
                               _file_rowmeta(
                                   os.path.join(table_dir, f),
                                   ())["n"])
            continue
        fc = _file_null_count(os.path.join(table_dir, f), phys)
        if fc is None:
            scan.append(f)
        else:
            meta_nulls += fc
    return meta_nulls, scan


def count_nulls(spark: SparkSession, table_dir: str, col: str,
                n: int | None = None,
                backend: CommitBackend | None = None) -> int:
    """Exact ``count(*) WHERE col IS NULL`` over version ``n``
    (default current) from commit metadata: manifest #rows null
    counts first, parquet-footer stats next (including the
    all-null contribution of files predating an evolved column),
    a data scan only for files whose footers carry no null stat --
    the zero-I/O half of a metadata-answered not_null check.

    A column that is not part of version ``n``'s schema at all
    raises (every file would otherwise report all-null -- a
    confident wrong answer for a typo); the all-null fallback is
    only for files PREDATING an evolved column."""
    if n is None:
        n = current_version(table_dir, backend=backend)
        if n is None:
            raise FileNotFoundError(
                f"{table_dir} has no committed version (_CURRENT missing)")
    st = table_schema(table_dir, n)
    if st is not None and col not in st.fieldNames():
        raise ValueError(
            f"column {col!r} is not in v_{n}'s schema "
            f"({st.fieldNames()})")
    meta_nulls, scan = _null_count_plan(table_dir, n, col, st=st)
    if not scan:
        return meta_nulls
    df = _read_files_dv(spark, table_dir, n, scan, st)
    return meta_nulls + df.filter(df[col].isNull()).count()


# spark typeName()s whose parquet min/max stats are exact (strings/
# binary may be writer-truncated; timestamps/dates excluded from the
# manifest stats tier already)
RANGE_STAT_KINDS = ("byte", "short", "integer", "long", "float",
                    "double", "decimal", "boolean")
_ARROW_RANGE_KINDS = {"int8": "byte", "int16": "short",
                      "int32": "integer", "int64": "long",
                      "float": "float", "double": "double",
                      "bool": "boolean"}


def _minmax_plan(table_dir: str, n: int,
                 col: str, st=None) -> tuple[tuple, list[str]]:
    """((min, max) mergeable from metadata -- (None, None) if no
    file contributed, files needing a scan) for :func:`column_range`.
    Manifest stats first, parquet-footer min/max next; a file whose
    footer carries no usable min/max for ``col`` (including files
    predating an evolved column, which contribute nothing anyway)
    lands in the scan set."""
    stats = _read_stats(table_dir, n)
    dvs = _read_dvs(table_dir, n)
    st = st if st is not None else table_schema(table_dir, n)
    phys = _physical_name(st, col)
    part_dt = (st[col].dataType
               if st is not None and col in st.fieldNames() else None)
    lo = hi = None
    scan: list[str] = []
    for f in _data_files(table_dir, n):
        if f in dvs:
            # the recorded extremum may be a deleted row -- exactness
            # needs the scan (pruning elsewhere still uses the
            # conservative recorded range)
            scan.append(f)
            continue
        # partition-directory column: the path value IS the file's
        # exact [v, v] stat (all-null marker contributes nothing,
        # like an empty file)
        s, all_null = _file_range(_partition_values(f), phys, part_dt,
                                  stats.get(f, {}).get(col))
        if all_null:
            continue
        if s is None:
            fstats, frows = _file_meta(os.path.join(table_dir, f),
                                       (phys,))
            s = fstats.get(phys)
            if s is None and frows["n"] == 0:
                continue  # empty part file: contributes nothing
        if s is None:
            scan.append(f)
            continue
        lo = s[0] if lo is None or s[0] < lo else lo
        hi = s[1] if hi is None or s[1] > hi else hi
    return (lo, hi), scan


def column_range(spark: SparkSession, table_dir: str, col: str,
                 n: int | None = None,
                 backend: CommitBackend | None = None) -> tuple:
    """Exact (min, max) of a NUMERIC/boolean column over version
    ``n`` (default current) from commit metadata: manifest per-file
    stats first, parquet footers next, a data scan only for files
    whose footers carry no min/max.  ``(None, None)`` when every row
    is null or the table is empty (SQL min/max of nothing).

    Restricted to numeric/bool columns BY DESIGN: parquet string
    statistics may be truncated by writers, so a footer-derived
    string min/max is not guaranteed exact -- strings raise with
    guidance to aggregate over a read instead.  (The file-skipping
    readers still USE string stats; pruning only needs conservative
    bounds, exactness needs true ones.)

    NaN caveat (float/double): parquet stats ignore NaN, so the
    result follows SQL min/max-skip-NaN semantics -- Spark's
    ``F.max`` instead orders NaN above every value, so on a
    NaN-bearing column this differs from an in-engine aggregate
    (the Iceberg-without-nan-counts limitation).  Columns that use
    NaN sentinels should aggregate over a read."""
    if n is None:
        n = current_version(table_dir, backend=backend)
        if n is None:
            raise FileNotFoundError(
                f"{table_dir} has no committed version (_CURRENT missing)")
    st = table_schema(table_dir, n)
    if st is not None:
        if col not in st.fieldNames():
            raise ValueError(
                f"column {col!r} is not in v_{n}'s schema "
                f"({st.fieldNames()})")
        kind = st[col].dataType.typeName()
    else:
        # pre-schema-pinning version: the guard must still hold, so
        # sniff the type from the first file footer carrying the
        # column (one metadata read; legacy tables predate schema
        # evolution, so files agree)
        kind = None
        import pyarrow.parquet as pq

        for f in _data_files(table_dir, n):
            sch = pq.ParquetFile(
                os.path.join(table_dir, f)).schema_arrow
            if col in sch.names:
                kind = _ARROW_RANGE_KINDS.get(
                    str(sch.field(col).type), "unsupported")
                break
        if kind is None:
            raise ValueError(
                f"column {col!r} appears in no file of v_{n}")
    if kind not in RANGE_STAT_KINDS:
        raise ValueError(
            f"column_range supports numeric/bool columns; "
            f"{col!r} is {kind} (parquet string stats may be "
            f"truncated -- aggregate over read_version instead)")
    (lo, hi), scan = _minmax_plan(table_dir, n, col, st=st)
    if scan:
        from pyspark.sql import functions as F

        row = (_read_files_dv(spark, table_dir, n, scan, st)
               .agg(F.min(col), F.max(col)).first())
        if row[0] is not None:
            lo = row[0] if lo is None or row[0] < lo else lo
            hi = row[1] if hi is None or row[1] > hi else hi
    return lo, hi


def _file_range(pvals: dict[str, str], phys: str, dt, s=None):
    """ONE file's known extent of a column: ``s`` (its recorded
    ``(min, max)`` stats, if any) or else its Hive partition
    directory -- ``pvals`` is :func:`_partition_values` of the file,
    ``phys`` the directory's column name, ``dt`` the pinned Spark
    type the path string parses under.  A ``col=v`` segment is the
    exact ``[v, v]`` for every row and proves the column non-null;
    the null marker proves it NULL throughout.  Returns ``(range or
    None, all_null)``, ``all_null`` True (every row NULL), False (no
    row NULL) or None (unknown).  The one place a directory value
    becomes a range: the pruner and the metadata planners read it
    here."""
    pv = pvals.get(phys)
    if pv is None:
        return s, None
    if pv == _NULL_PARTITION:
        return None, True
    if s is None and dt is not None:
        tv = _typed_partition_value(pv, dt)
        if tv is not None:
            s = (tv, tv)
    return s, False


def _record_partition_meta(pvals: dict[str, str], schema,
                           inv: dict[str, str], fs: dict,
                           rm: dict) -> None:
    """Record one own file's Hive partition directories (``pvals``,
    keyed by physical name; ``inv`` maps physical -> logical) into
    its commit-time stats ``fs`` and rowmeta ``rm``: Spark's
    partitionBy strips partition columns from the footers, so the
    path value is the exact ``[v, v]`` stat and the (0 or all) null
    count -- every metadata tier then answers partition columns
    exactly as footer-backed ones."""
    for pc in pvals:
        lc = inv.get(pc, pc)
        if lc not in schema.fieldNames():
            continue
        rng, all_null = _file_range(pvals, pc, schema[lc].dataType)
        rm["nn"][lc] = rm["n"] if all_null else 0
        if rng is not None and isinstance(rng[0],
                                          (int, float, str, bool)):
            fs[lc] = rng


def _prefix_next(p: str) -> str | None:
    """The smallest string GREATER than every string starting with
    ``p`` (increment the last non-max char), or None when no finite
    bound exists (trailing max code points)."""
    for i in range(len(p) - 1, -1, -1):
        if ord(p[i]) < 0x10FFFF:
            return p[:i] + chr(ord(p[i]) + 1)
    return None


def _range_excludes(op: str, val, lo, hi) -> bool:
    """True when no value in ``[lo, hi]`` satisfies ``col <op> val``.
    A bound whose type does not compare with the range keeps the
    file.  ``prefix`` takes ``(p, next(p))``: strings starting with
    ``p`` live in ``[p, next(p))``, and footer string stats are true
    bounds even when truncated (parquet increments a truncated
    max)."""
    try:
        if op == "eq":
            return not lo <= val <= hi
        if op == "gt":
            return not hi > val
        if op == "ge":
            return not hi >= val
        if op == "lt":
            return not lo < val
        if op == "le":
            return not lo <= val
        if op == "in":
            return not any(lo <= v <= hi for v in val)
        if op == "prefix":
            p, nxt = val
            return hi < p or (nxt is not None and lo >= nxt)
    except TypeError:
        pass
    return False


def _transform_keeps(op: str, val, raw: str, spec: dict) -> bool:
    """Whether a HIDDEN transform directory value ``raw`` (io/
    transforms) may hold a source value satisfying ``src <op> val``:
    eq/in map to point probes (the only probes a bucket prunes),
    ge/gt and le/lt to one-sided ranges; any other op, or a bound
    that does not parse, keeps the file."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.transforms import keep_file

    if op in ("eq", "in"):
        probes = [(v, v) for v in ((val,) if op == "eq" else val)]
    elif op in ("ge", "gt"):
        probes = [(val, None)]
    elif op in ("le", "lt"):
        probes = [(None, val)]
    else:
        return True
    try:
        return any(keep_file(raw, spec["transform"], spec["param"],
                             lo, hi, src_type=spec.get("src_type"))
                   for lo, hi in probes)
    except TypeError:
        return True


def _bloom_probe_ok(v, dt) -> bool:
    """Whether a bloom filter can answer an equality probe for ``v``:
    the hash encodes ``str(value)``, which only int and str keys
    share with the stored column values, and only when the probe is
    the column's own kind (an int column holding 5 hashes "5", but
    ``'05'`` compares equal to it)."""
    if isinstance(v, bool) or not isinstance(v, (int, str)):
        return False
    return dt is None or isinstance(v, str) == (
        dt.typeName() == "string")


def _prune(table_dir: str, n: int, conjuncts, st=None
           ) -> tuple[list[str], int]:
    """THE file pruner: ``(data files of v_n that may hold a row
    matching every conjunct, total file count)``, kept files in
    manifest order.  ``conjuncts`` are ``(op, col, val)`` over
    LOGICAL column names, ``op`` one of eq/gt/ge/lt/le/in/isnull/
    notnull/prefix (``in`` takes a tuple).  ``st``: the version's
    pinned schema when the caller holds it.

    A file is excluded only when metadata PROVES no row matches --
    pruning is an optimization, never a filter; every caller
    re-applies its predicate.  One manifest parse serves the rules,
    cheapest first:

    - identity partition directories (:func:`_file_range`): the
      ``col=v`` value under the pinned type, or the null marker;
    - hidden transforms from the version's ``_PARTSPEC``: a predicate
      on the SOURCE column maps to a directory-value check, and a
      transform directory proves the source all-NULL (the null
      marker) or non-NULL (any other value; transforms
      null-propagate);
    - manifest min/max stats;
    - manifest null counts (isnull needs a null; every other op, a
      comparison or notnull, needs a non-null value);
    - bloom filters for int/str eq/in probes: the consolidated index
      first, then the per-file sidecar (a file the index does not
      cover, or covered as unindexed, falls through to its sidecar).

    Every rule stays valid on files with a deletion vector: a vector
    only REMOVES rows, so the recorded ranges and counts are
    conservative supersets."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.transforms import read_partspec

    files, stats, rowmeta = _version_meta(table_dir, n)
    if not conjuncts:
        return files, len(files)
    if st is None:
        st = table_schema(table_dir, n)
    types = ({f.name: f.dataType for f in st.fields}
             if st is not None else {})
    phys = {c: _physical_name(st, c) for _op, c, _v in conjuncts}
    conj = [(op, col, (val, _prefix_next(val)) if op == "prefix"
             else val) for op, col, val in conjuncts]
    hidden: dict[str, list[dict]] = {}
    for h in read_partspec(table_dir, n):
        if h["transform"] != "identity":
            hidden.setdefault(h["src"], []).append(h)

    def excluded(f: str) -> bool:
        pvals = _partition_values(f)
        fstats = stats.get(f, {})
        rec = rowmeta.get(f)
        for op, col, val in conj:
            rng, all_null = _file_range(pvals, phys[col],
                                        types.get(col),
                                        fstats.get(col))
            no_value, no_null = all_null is True, all_null is False
            for h in hidden.get(col, ()):
                raw = pvals.get(h["dir"])
                if raw == _NULL_PARTITION:
                    no_value = True
                elif raw is not None:
                    no_null = True
                    if not _transform_keeps(op, val, raw, h):
                        return True
            nulls = rec["nn"].get(col) if rec is not None else None
            if op == "isnull":
                if no_null or nulls == 0:
                    return True
            elif no_value or (nulls is not None and nulls == rec["n"]):
                return True  # all NULL: no comparison matches a NULL
            elif rng is not None and _range_excludes(op, val, *rng):
                return True
        return False

    kept = [f for f in files if not excluded(f)]
    probes = []
    for op, col, val in conj:
        values = [val] if op == "eq" else list(val) if op == "in" \
            else []
        if values and all(_bloom_probe_ok(v, types.get(col))
                          for v in values):
            probes.append((phys[col], values))
    if probes and kept:
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.bloom_index import _prober

        maybe = _prober(table_dir, n)
        kept = [f for f in kept
                if all(any(maybe(f, pc, v) for v in values)
                       for pc, values in probes)]
    return kept, len(files)


def _range_conjuncts(col: str, lo, hi) -> list[tuple]:
    """``lo <= col <= hi`` (None = unbounded side) as pruner
    conjuncts; ``lo == hi`` is an equality probe, so bucket
    transforms and bloom filters prune it too."""
    if lo is not None and lo == hi:
        return [("eq", col, lo)]
    return ([("ge", col, lo)] if lo is not None else []) + \
        ([("le", col, hi)] if hi is not None else [])


def pruned_files(table_dir: str, n: int, col: str,
                 lo=None, hi=None) -> tuple[list[str], int]:
    """(data files of ``v_n`` that may contain rows with ``lo <= col
    <= hi``, total file count) -- :func:`_prune` over the range's
    conjuncts.  A file is skipped ONLY when its metadata provably
    misses the range (recorded [min, max] stats, a Hive partition
    directory value or null marker, a hidden transform directory, or
    a bloom filter for ``lo == hi``); pruning is an
    optimization, never a filter, and a bound whose type does not
    compare with the metadata keeps the file."""
    return _prune(table_dir, n, _range_conjuncts(col, lo, hi))


def read_where_all(spark: SparkSession, table_dir: str,
                   predicates: dict[str, tuple],
                   n: int | None = None,
                   backend: CommitBackend | None = None) -> DataFrame:
    """Read with a CONJUNCTION of range predicates ``{col: (lo, hi)}``
    (None = unbounded side): a file survives only if EVERY predicate's
    recorded range may overlap -- the reader Z-order clustering exists
    for (a 2-D tile query prunes on both dimensions at once, where
    single-column pruning keeps every file the first column admits).
    Same exactness contract as :func:`read_where`: every predicate is
    re-applied after the prune."""
    if n is None:
        n = current_version(table_dir, backend=backend)
        if n is None:
            raise FileNotFoundError(
                f"{table_dir} has no committed version (_CURRENT missing)")
    st = table_schema(table_dir, n)
    files, _total = _prune(
        table_dir, n, [c for col, (lo, hi) in predicates.items()
                       for c in _range_conjuncts(col, lo, hi)], st)
    if not files:
        if st is None:
            files = _data_files(table_dir, n)[:1]
        else:
            df = spark.createDataFrame([], st)
            for col, (lo, hi) in predicates.items():
                df = _apply_range(df, col, lo, hi)
            return df
    df = _read_files_dv(spark, table_dir, n, files, st)
    for col, (lo, hi) in predicates.items():
        df = _apply_range(df, col, lo, hi)
    return df


def _apply_range(df: DataFrame, col: str, lo, hi) -> DataFrame:
    from pyspark.sql import functions as F

    if lo is not None:
        df = df.filter(F.col(col) >= F.lit(lo))
    if hi is not None:
        df = df.filter(F.col(col) <= F.lit(hi))
    return df


def read_where(spark: SparkSession, table_dir: str, col: str,
               lo=None, hi=None, n: int | None = None,
               backend: CommitBackend | None = None) -> DataFrame:
    """Read version ``n`` (default: current) keeping only rows with
    ``lo <= col <= hi``, SKIPPING whole data files whose commit-time
    [min, max] stats miss the range -- the Delta/Iceberg data-skipping
    shape.  At 100 TB this is the difference between scanning the
    table and scanning the slice: on a time- or key-sorted table
    (:func:`compact_table` with ``sort_by``) file ranges are disjoint
    and a narrow range touches O(slice) files.  The range predicate is
    re-applied to the surviving files, so results are exact whether or
    not stats exist; Spark additionally pushes it down into each
    file's row-group stats as usual."""
    return read_where_all(spark, table_dir, {col: (lo, hi)}, n=n,
                          backend=backend)


def _read_manifest(table_dir: str,
                   n: int) -> tuple[list[str], set[str]] | None:
    """(data-file lines, txn ids) of ``v_n``'s manifest, or None for a
    snapshot version."""
    mf = _manifest(table_dir, n)
    return (mf[""], set(mf[_TXN_PREFIX])) if mf is not None else None


def _base_of(table_dir: str, n: int) -> int | None:
    """The version ``v_n`` is row-identical to (its compaction base),
    or None -- parsed from the manifest's #base line."""
    mf = _manifest(table_dir, n)
    if mf is None or not mf[_BASE_PREFIX]:
        return None
    try:
        return int(mf[_BASE_PREFIX][0].strip())
    except ValueError:
        return None


def _data_files(table_dir: str, n: int) -> list[str]:
    """Relative data-file paths making up version ``n``: the manifest
    lines when one exists, else the snapshot dir's own part files --
    walked RECURSIVELY so Hive-partitioned snapshots
    (:func:`write_version` with ``partition_by``) list their
    ``col=value/part-*.parquet`` leaves."""
    mf = _read_manifest(table_dir, n)
    if mf is not None:
        return mf[0]
    vname = f"v_{n:08d}"
    return sorted(f"{vname}/{f}" for f in
                  _walk_rel_files(os.path.join(table_dir, vname)))


def _walk_rel_files(vdir: str) -> list[str]:
    """Data files under a version/stage dir, RELATIVE to it, walked
    recursively so Hive-partitioned layouts (``partition_by``) list
    their ``col=value/part-*.parquet`` leaves; ``_``/``.`` entries
    (schema file, manifests, crcs) are skipped at every level."""
    out = []
    for root, dirs, fs in os.walk(vdir):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        rel = os.path.relpath(root, vdir)
        for f in fs:
            if f.startswith(("_", ".")):
                continue
            out.append(f if rel == "." else f"{rel}/{f}")
    return sorted(out)


_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _partition_values(rel_or_path: str) -> dict[str, str]:
    """Hive-style ``col=value`` directory segments BELOW the LAST
    ``v_NNNNNNNN`` segment of a data file reference
    (percent-unescaped), keyed by the column name the DIRECTORY
    carries (= the physical name on a column-mapped table).  Empty
    for unpartitioned layouts.  Anchoring below the last version dir
    matters for shallow-clone external refs: a ``../``-relative
    source path whose ANCESTOR chain contains a ``k=v``-shaped
    directory must not be misread as a partition value (r13 review
    finding #3)."""
    import re
    from urllib.parse import unquote

    segs = rel_or_path.split("/")
    idx = None
    for i, seg in enumerate(segs):
        if re.fullmatch(r"v_\d{8}", seg):
            idx = i
    if idx is None:
        return {}
    out: dict[str, str] = {}
    for seg in segs[idx + 1:-1]:
        if "=" in seg:
            k, _, v = seg.partition("=")
            out[k] = unquote(v)
    return out


def _typed_partition_value(v: str, dt):
    """The path-string partition value as a comparable Python value
    under Spark type ``dt``, or None when the type has no safe
    parse (pruning then keeps the file -- never a filter)."""
    name = dt.typeName()
    try:
        if name in ("integer", "long", "short", "byte"):
            return int(v)
        if name in ("double", "float"):
            return float(v)
        if name == "string":
            return v
        if name == "boolean":
            return v.lower() == "true"
        if name == "date":
            import datetime
            return datetime.date.fromisoformat(v)
    except ValueError:
        return None
    return None


# partition column types replace_partitions compares as parsed Python
# values (a path string that fails to parse under one of these RAISES
# -- see _replace_partition_key)
_REPLACE_TYPED = frozenset((
    "integer", "long", "short", "byte", "double", "float",
    "string", "boolean", "date"))


def _canon_timestamp(raw: str) -> str:
    """A timestamp partition value re-rendered in Spark's
    CAST(ts AS STRING) form -- ``yyyy-MM-dd HH:mm:ss`` plus a
    trailing-zero-trimmed fraction -- so path strings written by
    EITHER writer face (Spark's partitionBy renderer, which IS the
    string cast, or the DataSource stage's ``str(datetime)``) compare
    equal to the batch's Spark-cast values.  Raises ValueError on
    anything unparseable or timezone-aware (a zoned dir value cannot
    be compared to a session-zone-rendered batch value without
    guessing -- refuse loudly, ADVICE r13)."""
    import datetime

    v = datetime.datetime.fromisoformat(raw)
    if v.tzinfo is not None:
        raise ValueError(
            f"timezone-aware partition path value {raw!r}")
    s = v.strftime("%Y-%m-%d %H:%M:%S")
    if v.microsecond:
        s += ("." + format(v.microsecond, "06d")).rstrip("0")
    return s


def _replace_partition_key(raw: str, dt, col: str, where: str):
    """ONE non-null partition path value as a comparable key under
    the table's pinned type ``dt`` -- raises instead of EVER
    returning None (ADVICE r13: the old _typed_partition_value
    fallback returned None for timestamp/decimal and unparseable
    values, so a timestamp-partitioned replace silently degraded to
    an append, and with a null partition tuple in the batch the
    None-keyed files compared equal to it and were DROPPED).
    Pruning keeps its own tolerant parser (None there means "keep
    the file" -- safe); a replace decides what gets deleted, so
    every value must parse or the whole call must fail."""
    name = dt.typeName() if dt is not None else "string"
    cause: Exception | None = None
    if name in _REPLACE_TYPED:
        v = _typed_partition_value(raw, dt)
        if v is not None:
            return v
    elif name in ("timestamp", "timestamp_ntz"):
        try:
            return _canon_timestamp(raw)
        except ValueError as exc:
            cause = exc
    elif name == "decimal":
        import decimal

        try:
            return decimal.Decimal(raw)
        except ArithmeticError as exc:
            cause = exc
    else:
        raise ValueError(
            f"replace_partitions does not support partition "
            f"column type {dt.simpleString()!r} for column "
            f"{col!r}; supported: int/long/short/byte, "
            f"float/double, string, boolean, date, timestamp, "
            f"decimal")
    raise ValueError(
        f"partition path value {raw!r} for column {col!r} "
        f"({where}) cannot be interpreted under the table's pinned "
        f"type {name!r}; refusing to guess -- a mistyped comparison "
        f"would silently leave stale rows in place (replace "
        f"degrading to append) or drop the wrong files") from cause


def _replace_batch_keys(batch: DataFrame,
                        part_cols: Sequence[str],
                        dts: dict) -> set[tuple]:
    """The batch's DISTINCT partition tuples as comparable keys
    (control-plane sized -- one tiny aggregate).  Timestamp columns
    are cast to string IN SPARK so the rendering uses the session
    timezone exactly like the partition-directory writer (a
    driver-local-timezone ``collect()`` of raw timestamps would
    shift values whenever driver tz != session tz); columns absent
    from the pinned schema are string-cast too, matching the raw
    path strings they will be compared against."""
    from pyspark.sql import functions as F

    canon: set[str] = set()
    sel = []
    for c in part_cols:
        dt = dts.get(c)
        name = dt.typeName() if dt is not None else None
        if name in ("timestamp", "timestamp_ntz") or dt is None:
            canon.add(c)
            sel.append(F.col(c).cast("string").alias(c))
        else:
            sel.append(F.col(c))
    out: set[tuple] = set()
    for r in batch.select(*sel).distinct().collect():
        key = []
        for c in part_cols:
            v = r[c]
            if v is not None and c in canon \
                    and dts.get(c) is not None:
                v = _canon_timestamp(v)
            key.append(v)
        out.add(tuple(key))
    return out


def _replace_drop_set(table_dir: str, base: int,
                      part_cols: Sequence[str],
                      replaced: set, st,
                      spec: list[dict] | None = None) -> set[str]:
    """The base-version data files whose TYPED partition key is in
    ``replaced`` -- the inherit_drop set of a dynamic partition
    overwrite.  Shared by the function face
    (:func:`replace_partitions`) and the
    ``format("versioned_table")`` writer's
    ``partitionOverwriteMode=dynamic`` commit so both compare path
    values identically.  Raises when the base is not fully laid out
    by ``part_cols`` or any path value fails to parse under the
    pinned type.  With ``spec`` (io/transforms partition spec), a
    HIDDEN transform entry keys on its derived directory's RAW
    string -- both sides of that comparison are rendered by the
    engine's own transform, so string equality IS value equality."""
    pmap = _physical_map(st) if st is not None else {}
    if spec is None:
        spec = [{"dir": c, "transform": "identity", "src": c,
                 "param": None} for c in part_cols]
    dts = {s["src"]: st[s["src"]].dataType for s in spec
           if s["transform"] == "identity" and st is not None
           and s["src"] in st.fieldNames()}
    drop: set[str] = set()
    for f in _data_files(table_dir, base):
        pv = _partition_values(f)
        key = []
        for s in spec:
            dname = pmap.get(s["src"], s["src"]) \
                if s["transform"] == "identity" else s["dir"]
            raw = pv.get(dname)
            if raw is None:
                raise ValueError(
                    f"current version of {table_dir} is not laid out "
                    f"by {list(part_cols)}: {f!r} carries no "
                    f"'{dname}=' path segment, so a partition "
                    f"replace could smuggle stale rows past the "
                    f"batch -- run compact_table(spark, table_dir, "
                    f"partition_by={list(part_cols)}) first")
            if raw == _NULL_PARTITION:
                key.append(None)
            elif s["transform"] == "identity":
                key.append(_replace_partition_key(
                    raw, dts.get(s["src"]), s["src"],
                    f"data file {f!r}"))
            else:
                key.append(raw)
        if tuple(key) in replaced:
            drop.add(f)
    return drop


def _replace_batch_keys_spec(batch: DataFrame, spec: list[dict],
                             dts: dict) -> set[tuple]:
    """The batch's DISTINCT partition tuples under a TRANSFORM spec
    (io/transforms): derived entries compute in Spark with the SAME
    expressions the stager lays directories out with, and key on the
    canonical string rendering the directory will carry; identity
    entries keep :func:`_replace_batch_keys`'s typed semantics."""
    from pyspark.sql import functions as F

    from esg_decarbonization_data_integration_and_data_pipline_spark.io.transforms import (
        derive_columns,
    )

    d, _cols = derive_columns(batch, spec)
    sel, names, canon_ts = [], [], set()
    for s in spec:
        if s["transform"] == "identity":
            c = s["src"]
            dt = dts.get(c)
            nm = dt.typeName() if dt is not None else None
            if nm in ("timestamp", "timestamp_ntz") or dt is None:
                canon_ts.add(c)
                sel.append(F.col(c).cast("string").alias(c))
            else:
                sel.append(F.col(c))
            names.append(c)
        else:
            sel.append(F.col(s["dir"]))
            names.append(s["dir"])
    out: set[tuple] = set()
    for r in d.select(*sel).distinct().collect():
        key = []
        for s, nmk in zip(spec, names):
            v = r[nmk]
            if v is None:
                key.append(None)
            elif s["transform"] == "identity":
                if nmk in canon_ts and dts.get(nmk) is not None:
                    v = _canon_timestamp(v)
                key.append(v)
            else:
                key.append(str(v))
        out.add(tuple(key))
    return out


def _txns(table_dir: str, n: int) -> set[str]:
    mf = _read_manifest(table_dir, n)
    return mf[1] if mf is not None else set()


def append_version(df: DataFrame, table_dir: str, txn: str | None = None,
                   max_attempts: int = 20,
                   backend: CommitBackend | None = None,
                   merge_schema: bool = False,
                   stats_columns: Sequence[str] = (),
                   partition_by: Sequence[str] = ()) -> int:
    """Commit ``df`` as a new version APPENDED to the current one --
    O(batch) per commit, not O(table): the new version dir holds only
    the batch's parquet files plus a tiny ``_MANIFEST`` listing the
    base version's data files (inherited by reference) followed by its
    own.  Readers resolving the new version scan old and new files
    together; nothing is rewritten or copied.  This is the Delta/
    Iceberg append shape, and the piece :func:`write_version` (full
    snapshot) cannot give a continuously-ingesting stream.

    ``txn``: optional idempotence token.  Manifests inherit txn
    markers forward, so "was this transaction already applied" is one
    read of the CURRENT manifest -- if present, the append is a
    replay and returns the current version unchanged.  That makes a
    crash-rerun of the same micro-batch exactly-once (the streaming
    sink keys txn on the checkpoint's batch id).  The token dedups
    against the committed CHAIN, not against concurrent in-flight
    writers -- route one streaming writer per (table, checkpoint),
    which Structured Streaming already guarantees.

    Unlike :func:`write_version`, supersession by a concurrent
    committer is NOT fatal: an append invalidates nothing, so the
    claim is renumbered above the new base, the manifest is rebuilt
    against it, and the commit retries (bounded by ``max_attempts``).
    Compaction is :func:`compact_table`: it snapshots the chain while
    CARRYING the txn-marker set forward (a bare ``write_version``
    snapshot would drop it, letting a crash-replayed micro-batch that
    interleaved with compaction double-append -- r8 advisor finding);
    ``vacuum`` then reaps the no-longer-referenced dirs once
    retention passes.

    Declared write-time constraints (io/constraints) validate the
    batch FIRST -- one O(batch) scan, CheckFailedError before
    anything stages; a no-op on unconstrained tables.

    ``partition_by``: stage the batch's files under Hive-style
    ``col=value`` directories inside the version dir.  The manifest
    lists the nested paths; partition columns get EXACT path-derived
    [v, v] stats plus null-count rowmeta lines, so read_where / the
    pushdown face prune appended partitions the same way they prune
    a :func:`write_version` snapshot layout.  Mixed layouts are fine
    -- partitioned and flat commits coexist in one chain (each
    file's partition values resolve from its own path).
    """
    return _manifest_commit(df, table_dir, txn=txn, pinned_base=None,
                            inherit_files=True, max_attempts=max_attempts,
                            backend=backend, merge_schema=merge_schema,
                            stats_columns=stats_columns,
                            enforce_constraints=True,
                            partition_by=partition_by,
                            op_name="APPEND",
                            op_params={"merge_schema": merge_schema}
                            if merge_schema else None)


def maybe_compact(spark: SparkSession, table_dir: str,
                  max_files: int = 64,
                  backend: CommitBackend | None = None,
                  max_dv_fraction: float | None = None,
                  **compact_kwargs) -> int | None:
    """Auto-optimize policy: :func:`compact_table` iff the CURRENT
    version reads more than ``max_files`` data files OR (when
    ``max_dv_fraction`` is set) its deletion vectors mark more than
    that fraction of the physical rows deleted -- the Delta
    tombstone-threshold hygiene: every read of a dv-heavy table pays
    the anti-join for rows that are long gone, and a compaction
    materializes the vectors away.  Both checks are pure metadata
    (one manifest read), so calling this after every ingest batch or
    delete is free until it fires -- the small-file compactor a
    long-lived streaming append chain needs (each micro-batch adds
    its own files; reads degrade as the chain grows).  Naturally
    crash-safe under replay: once a compaction lands, the file count
    is small and the dv fraction zero, so a re-run is a no-op.  ``compact_kwargs`` pass through to :func:`compact_table`
    (sort_by / zorder_by / target_file_bytes / stats_columns); when
    none of them specifies a layout, ``target_file_bytes`` defaults
    to 128 MiB so the compaction actually merges the small files it
    was triggered by (a bare snapshot would keep the input partition
    count).  Returns the new version number, or None when below
    threshold."""
    if max_files < 1:
        raise ValueError(f"max_files must be >= 1, got {max_files}")
    if max_dv_fraction is not None \
            and not 0.0 < max_dv_fraction < 1.0:
        raise ValueError(
            f"max_dv_fraction must be in (0, 1), got "
            f"{max_dv_fraction}")
    n = current_version(table_dir, backend=backend)
    if n is None:
        return None
    fire = len(_data_files(table_dir, n)) > max_files
    if not fire and max_dv_fraction is not None:
        dvs = _read_dvs(table_dir, n)
        if dvs:
            deleted = sum(c for _d, c in dvs.values())
            rowmeta = _read_rowmeta(table_dir, n)
            physical = sum(
                rowmeta[f]["n"] if f in rowmeta
                else _file_rowmeta(os.path.join(table_dir, f),
                                   ())["n"]
                for f in _data_files(table_dir, n))
            fire = physical > 0 \
                and deleted / physical > max_dv_fraction
    if not fire:
        return None
    if not any(compact_kwargs.get(k) for k in
               ("sort_by", "zorder_by", "target_file_bytes",
                "sort_partitions")):
        compact_kwargs["target_file_bytes"] = 128 * 1024 * 1024
    return compact_table(spark, table_dir, backend=backend,
                         **compact_kwargs)


def compact_where(spark: SparkSession, table_dir: str, col: str,
                  lo=None, hi=None,
                  sort_by: Sequence[str] = (),
                  target_file_bytes: int = 128 * 1024 * 1024,
                  max_attempts: int = 20,
                  backend: CommitBackend | None = None) -> int | None:
    """PARTIAL compaction (the Delta ``OPTIMIZE ... WHERE`` shape):
    re-cluster only the files whose recorded ``col`` stats overlap
    [``lo``, ``hi``] (either bound optional, not both; stats-less
    files are conservatively included), leaving the rest of the
    table inherited by reference -- on a 100 TB table whose last few
    ingest days are fragmented, this rewrites O(slice), where
    :func:`compact_table` would rewrite everything.

    The slice is sorted by ``sort_by`` (default: ``[col]``) into
    ~``target_file_bytes`` files sized from the CANDIDATES' on-disk
    bytes (metadata; no scan).  Rows are unchanged, so the commit
    records its base as row-identical -- the change-data-feed and
    incremental matviews keep their fast path across it, exactly
    like a full compaction.  Returns the new version, or None when
    no file overlaps (nothing to do).  Pinned-base concurrency, like
    every rewrite."""
    backend = backend or _DEFAULT_BACKEND
    if lo is None and hi is None:
        raise ValueError(
            "compact_where needs lo and/or hi -- for the whole "
            "table use compact_table")
    base = current_version(table_dir, backend=backend)
    if base is None:
        raise FileNotFoundError(
            f"{table_dir} has no committed version to compact")
    st = table_schema(table_dir, base)
    if st is not None:
        bad = [c for c in ([col] + list(sort_by))
               if c not in st.fieldNames()]
        if bad:
            raise ValueError(
                f"compact_where on {table_dir}: {bad} not in the "
                f"current schema {st.fieldNames()}")
    stats = _read_stats(table_dir, base)
    if not any(col in cols for cols in stats.values()):
        # with zero recorded stats the 'conservative include' would
        # silently degrade to the full-table rewrite this function
        # exists to avoid -- demand stats or the honest full compact
        raise ValueError(
            f"compact_where on {table_dir}: no file records stats "
            f"for {col!r} -- commit with stats_columns=[{col!r}] "
            f"(or compact_table(sort_by=[{col!r}])) first, or run "
            f"the full compact_table if rewriting everything is "
            f"intended")
    cand, _total = _prune(table_dir, base,
                          _range_conjuncts(col, lo, hi), st)
    if not cand:
        return None
    df = _read_files_dv(spark, table_dir, base, cand, st)
    total = sum(os.path.getsize(os.path.join(table_dir, f))
                for f in cand
                if os.path.exists(os.path.join(table_dir, f)))
    parts = max(1, -(-total // target_file_bytes))
    keys = list(sort_by) or [col]
    df = (df.repartitionByRange(parts, *keys)
            .sortWithinPartitions(*keys))
    return _manifest_commit(
        df, table_dir, txn=None, pinned_base=base,
        inherit_files=True, max_attempts=max_attempts,
        backend=backend, stats_columns=tuple(keys),
        inherit_drop=frozenset(cand), row_identical_base=base,
        op_name="OPTIMIZE_WHERE",
        op_params={"col": col, "lo": lo, "hi": hi})


def compact_table(spark: SparkSession, table_dir: str,
                  max_attempts: int = 20,
                  backend: CommitBackend | None = None,
                  sort_by: Sequence[str] = (),
                  stats_columns: Sequence[str] = (),
                  sort_partitions: int | None = None,
                  zorder_by: Sequence[str] = (),
                  target_file_bytes: int | None = None,
                  partition_by: Sequence[str] = ()) -> int:
    """Snapshot the current append chain into one self-contained
    version: reads the current version, rewrites it as a new version
    whose manifest lists ONLY its own files (terminating the
    inheritance chain, so ``vacuum`` can reap the superseded dirs)
    while carrying the base version's txn-marker set forward --
    exactly-once replay detection survives compaction, unlike a bare
    ``write_version`` snapshot whose manifest-less dir forgets every
    marker.  Concurrent appends are NOT rebased over (the staged data
    is a copy of the base, so committing it over a newer base would
    silently drop that append): if the pointer moves past the base
    mid-compaction, :class:`VersionConflictError` raises and the
    compaction should simply be re-run.

    ``partition_by`` re-lays the snapshot out under Hive-style
    directories (composable with ``sort_by``/``zorder_by`` clustering
    WITHIN partitions) -- the OPTIMIZE path that converts a flat
    append chain into a partition-pruned layout in one commit."""
    base = current_version(table_dir, backend=backend)
    if base is None:
        raise FileNotFoundError(
            f"{table_dir} has no committed version to compact")
    df = _read_resolved(spark, table_dir, base)
    if target_file_bytes is not None:
        if sort_partitions is not None:
            raise ValueError(
                "pass sort_partitions OR target_file_bytes, not both")
        # size the clustered layout from METADATA (the base version's
        # on-disk file sizes -- no data scan): small tables get few,
        # big tables get many, and the explicit count keeps AQE from
        # collapsing a small table's layout to one file
        total = sum(
            os.path.getsize(os.path.join(table_dir, rel))
            for rel in _data_files(table_dir, base)
            if os.path.exists(os.path.join(table_dir, rel)))
        sort_partitions = max(1, -(-total // target_file_bytes))
    if zorder_by:
        if sort_by:
            raise ValueError("pass sort_by OR zorder_by, not both")
        # multi-dimensional clustering: cluster on the interleaved-bit
        # key so a narrow range on ANY of the zorder columns prunes --
        # linear sort_by clusters only its leading column
        df = df.withColumn("__z", _zorder_column(df, zorder_by))
        if sort_partitions is not None:
            df = df.repartitionByRange(sort_partitions, "__z")
        else:
            df = df.repartitionByRange("__z")
        df = df.sortWithinPartitions("__z").drop("__z")
    if sort_by:
        # range-partition + sort so each output file covers a narrow,
        # disjoint slice of the sort key: commit-time min/max stats
        # then let read_where skip all but O(slice) files -- the
        # Z-order-lite clustering every table format pairs with data
        # skipping.  sort_partitions pins the output file count (an
        # explicit repartition is exempt from AQE small-shuffle
        # coalescing, which on a small table collapses the layout to
        # one file and with it the skipping); default lets AQE size
        # the files to the data
        if sort_partitions is not None:
            df = df.repartitionByRange(sort_partitions, *sort_by)
        else:
            df = df.repartitionByRange(*sort_by)
        df = df.sortWithinPartitions(*sort_by)
    if not zorder_by and not sort_by and sort_partitions is not None:
        # layout-only compaction (small-file merge): coalesce is a
        # NARROW merge -- no shuffle, no ordering change -- which is
        # exactly what collapsing a long append chain's small files
        # wants; before this branch a bare target_file_bytes computed
        # the count and silently kept the input partitioning
        df = df.coalesce(sort_partitions)
    return _manifest_commit(
        df, table_dir, txn=None,
        pinned_base=base, inherit_files=False,
        max_attempts=max_attempts, backend=backend,
        stats_columns=(tuple(stats_columns) or tuple(sort_by)
                       or tuple(zorder_by)),
        row_identical_base=base,
        partition_by=partition_by,
        op_name="OPTIMIZE",
        op_params={k: list(v) for k, v in
                   (("sort_by", sort_by), ("zorder_by", zorder_by),
                    ("partition_by", partition_by))
                   if v})


def _zorder_column(df: DataFrame, cols: Sequence[str], bits: int = 10):
    """A single interleaved-bit Z-order key over ``cols``: each
    column is bucketed into 2^bits uniform-width cells over its
    [min, max] (one tiny agg -- commit-path cost), and the bucket
    bits are interleaved so sorting by the key clusters rows that
    are close in EVERY dimension.  All codegen'd built-ins
    (width_bucket / shifts / bitwise) -- no Python, no higher-order
    exprs.  Uniform cells degrade on heavily skewed keys (a quantile
    variant would fix that at the cost of a per-column quantile
    pass); file-skipping still prunes via the per-file min/max of
    the ORIGINAL columns, so a bad layout only costs pruning
    efficiency, never correctness."""
    from pyspark.sql import functions as F

    n = 1 << bits
    agg = df.agg(*[f(c).alias(f"{w}_{c}") for c in cols
                   for w, f in (("lo", F.min), ("hi", F.max))]).first()
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        lo, hi = agg[f"lo_{c}"], agg[f"hi_{c}"]
        if lo is None or lo == hi:  # constant/all-null: contributes 0
            continue
        b = F.least(
            F.greatest(F.width_bucket(F.col(c), F.lit(lo), F.lit(hi),
                                      F.lit(n)) - 1, F.lit(0)),
            F.lit(n - 1))
        b = F.coalesce(b, F.lit(0)).cast("long")
        for j in range(bits):
            z = z.bitwiseOR(F.shiftleft(
                F.shiftright(b, j).bitwiseAND(F.lit(1)),
                j * len(cols) + i))
    return z


def _touched_files(spark: SparkSession, table_dir: str, base: int,
                   keys: DataFrame, key: str) -> tuple[list[str], int]:
    """(data files of ``v_base`` that MAY contain a row whose ``key``
    appears in ``keys``, total file count).  Files with recorded
    [min, max] stats on ``key`` are checked with a broadcast range
    join (the file list is metadata-sized); files without stats are
    conservatively included.  This is the file-level pruning that
    makes copy-on-write merge O(touched files), not O(table)."""
    from pyspark.sql import functions as F

    files = _data_files(table_dir, base)
    stats = _read_stats(table_dir, base)
    ranged = [(f, *stats[f][key]) for f in files
              if key in stats.get(f, {})]
    touched = {f for f in files if key not in stats.get(f, {})}
    if ranged:
        # pure-JVM literal frame: a createDataFrame from a Python
        # list is an RDD-backed scan whose every task pays a
        # Python-worker round-trip -- measured ~1.5 s/task cold
        # across defaultParallelism partitions, dwarfing the actual
        # metadata join (see operators/scale.local_literal_df)
        from esg_decarbonization_data_integration_and_data_pipline_spark.operators.scale import (
            local_literal_df,
        )

        sample = ranged[0][1]
        lo_t = ("bigint" if isinstance(sample, (int, bool))
                else "double" if isinstance(sample, float) else "string")
        rng = local_literal_df(
            spark, ranged, f"__f string, __lo {lo_t}, __hi {lo_t}")
        # one global collect_set: the partial agg dedups to at most
        # the file list per input partition, so this runs in the
        # updates frame's OWN partitioning -- no pre-shuffle.  (A
        # distinct() here cost two 32-partition shuffle stages of a
        # 3-row frame -- measured seconds of pure scheduling overhead
        # on a small merge.)
        hit = (keys.select(F.col(key).alias("__k"))
                   .join(F.broadcast(rng),
                         (F.col("__k") >= F.col("__lo"))
                         & (F.col("__k") <= F.col("__hi")))
                   .agg(F.collect_set("__f").alias("__fs"))
                   .first()["__fs"])
        touched |= set(hit)
    return [f for f in files if f in touched], len(files)


def replace_partitions(spark: SparkSession, table_dir: str,
                       batch: DataFrame,
                       partition_by: Sequence[str],
                       txn: str | None = None,
                       merge_schema: bool = False,
                       stats_columns: Sequence[str] = (),
                       max_attempts: int = 20,
                       backend: CommitBackend | None = None) -> int:
    """DYNAMIC PARTITION OVERWRITE (the Delta ``replaceWhere`` /
    Spark ``partitionOverwriteMode=dynamic`` shape, versioned):
    commit ``batch`` laid out under ``partition_by`` directories,
    REPLACING exactly the partitions the batch touches -- every
    other partition inherits by reference, and the superseded
    partition files stay readable through time travel.  This is the
    idempotent month-reload the reference runs as truncate-and-load
    (jobs/csr_etl.py:157 deletes a month then re-inserts it) made
    atomic WITH history: re-running a slice load converges instead
    of double-appending, and no reader ever sees the
    deleted-but-not-yet-reloaded state.

    Requirements and semantics:

    - the CURRENT version must be fully laid out by ``partition_by``
      (every data file carries ``col=value`` path segments for all
      the columns) -- otherwise a flat file straddling partitions
      would smuggle stale rows past the replace, so this raises with
      guidance to ``compact_table(partition_by=...)`` first;
    - the replaced set is the batch's DISTINCT partition tuples
      (control-plane sized -- one tiny aggregate), compared TYPED
      against the path values, null partition included;
    - deletion vectors on dropped files shed with their data lines;
      untouched files keep theirs;
    - ``txn`` gives the same exactly-once replay contract as
      :func:`append_version`; the base is PINNED (a concurrent
      commit raises :class:`VersionConflictError` -- re-run).

    O(batch + touched partitions) work: nothing outside the replaced
    partitions is read or rewritten, whatever the table size."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.transforms import (
        has_transforms, parse_partition_spec,
    )

    part_cols = tuple(partition_by)
    if not part_cols:
        raise ValueError("replace_partitions needs partition_by")
    backend = backend or _DEFAULT_BACKEND
    base = current_version(table_dir, backend=backend)
    if base is None:
        raise FileNotFoundError(
            f"{table_dir} has no committed version; use "
            f"append_version/write_version(partition_by=...) for the "
            f"first load")
    # HIDDEN transform entries (io/transforms, e.g.
    # "month(o_orderdate)") reload the slice keyed by the DERIVED
    # directory value -- the reference's month reload without a
    # materialized month column; parse validates source columns and
    # collisions against the batch's schema
    spec = parse_partition_spec(part_cols, batch.schema)
    missing = [s["src"] for s in spec if s["src"] not in batch.columns]
    if missing:
        raise ValueError(
            f"batch lacks partition columns {missing}")
    st = table_schema(table_dir, base)
    if has_transforms(spec):
        dts = {s["src"]: st[s["src"]].dataType for s in spec
               if s["transform"] == "identity" and st is not None
               and s["src"] in st.fieldNames()}
        replaced = _replace_batch_keys_spec(batch, spec, dts)
        drop = _replace_drop_set(table_dir, base, part_cols,
                                 replaced, st, spec=spec)
    else:
        dts = {c: st[c].dataType for c in part_cols
               if st is not None and c in st.fieldNames()}
        replaced = _replace_batch_keys(batch, part_cols, dts)
        drop = _replace_drop_set(table_dir, base, part_cols,
                                 replaced, st)
    return _manifest_commit(
        batch, table_dir, txn=txn, pinned_base=base,
        inherit_files=True, inherit_drop=frozenset(drop),
        max_attempts=max_attempts, backend=backend,
        merge_schema=merge_schema,
        stats_columns=tuple(stats_columns),
        enforce_constraints=True,
        partition_by=part_cols,
        op_name="REPLACE_PARTITIONS",
        op_params={"partition_by": list(part_cols),
                   "n_partitions": len(replaced)})


def merge_version(spark: SparkSession, table_dir: str,
                  updates: DataFrame, key: str,
                  delete_only: bool = False,
                  merge_schema: bool = False,
                  max_attempts: int = 20,
                  backend: CommitBackend | None = None,
                  txn: str | None = None,
                  delete_keys: DataFrame | None = None,
                  pinned_base: int | None = None) -> int:
    """Copy-on-write MERGE (the Delta ``MERGE``/upsert shape): rows
    of the current version whose ``key`` appears in ``updates`` are
    replaced by the update rows (ALL update rows land as given --
    de-duplicate upstream if one-row-per-key matters); unmatched
    update rows insert; with ``delete_only`` the matched rows simply
    disappear and ``updates`` contributes nothing.

    Only data files that MAY contain a matched key are rewritten --
    candidates come from the commit-time file stats on ``key``
    (:func:`_touched_files`), so on a key-clustered table
    (``compact_table(sort_by=[key])``) a merge touching one key range
    rewrites O(slice) files and inherits the rest by reference.
    Files without stats on ``key`` are conservatively rewritten;
    keeping the key in ``stats_columns``/``sort_by`` is what makes
    merges cheap.

    ``delete_keys``: optional extra keys to MATCH (their base rows
    disappear) without contributing replacement rows -- the
    upsert-some-and-delete-others shape the incremental MV refresh
    needs in ONE atomic commit (two commits would expose a state
    where a drained-to-zero group still shows its stale row).

    ``txn``: same idempotence token as :func:`append_version` -- a
    replayed merge (the token already in the current manifest)
    returns the current version unchanged, making a crash-rerun of a
    deterministic read-modify-write exactly-once.

    Concurrency: the base is PINNED like compaction's -- a concurrent
    commit between our read and our flip raises
    :class:`VersionConflictError` (rebasing would silently drop that
    writer's rows from the files we rewrote); re-run the merge.
    Txn markers carry forward; the rewritten version keeps exactly-
    once replay detection for the append stream.

    ``pinned_base``: extend the conflict guard back to a caller's own
    earlier read.  When the ``updates`` frame was DERIVED from a
    specific version of this table (the incremental-MV refresh folds
    accumulator rows it read at its base), pass that version here so
    a commit landing between the caller's read and this merge raises
    instead of silently folding over stale rows; ``None`` (default)
    pins only merge's own read-to-flip window."""
    from pyspark.sql import functions as F

    backend = backend or _DEFAULT_BACKEND
    if txn is not None:
        cur0 = current_version(table_dir, backend=backend)
        if cur0 is not None and txn in _txns(table_dir, cur0):
            return cur0  # replayed transaction -- already applied
    if not delete_only:
        # write-time constraints validate the UPDATES only (survivor
        # rows passed when they were written) -- O(batch), and a
        # violating upsert fails before any file is touched
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.constraints import (
            enforce_on_write,
        )

        updates = enforce_on_write(updates, table_dir)
    if pinned_base is not None:
        base: int | None = pinned_base
    else:
        base = current_version(table_dir, backend=backend)
    if base is None:
        raise FileNotFoundError(
            f"{table_dir} has no committed version to merge into")
    match_keys = updates.select(key)
    if delete_keys is not None:
        match_keys = match_keys.unionByName(delete_keys.select(key))
    touched, _total = _touched_files(spark, table_dir, base,
                                     match_keys, key)
    st = table_schema(table_dir, base)
    if touched:
        # no distinct on the anti-join's right side: left_anti is
        # insensitive to duplicates there, and the distinct's shuffle
        # is pure overhead on a small update.  DV-aware read: a
        # touched file's deletion-vector rows must not resurface in
        # its rewrite (the rewrite sheds the vector with the file)
        survivors = (_read_files_dv(spark, table_dir, base, touched,
                                    st)
                     .join(match_keys, key, "left_anti"))
    else:
        survivors = None
    if delete_only:
        new_df = survivors
        if new_df is None:  # nothing touched: a no-op delete
            new_df = _read_resolved(spark, table_dir, base).limit(0)
    else:
        new_df = (survivors.unionByName(updates,
                                        allowMissingColumns=True)
                  if survivors is not None else updates)
    if touched:
        # keep the file count at O(touched): the anti-join scrambles
        # partitioning and would otherwise fan each rewritten file
        # into shuffle-partition-many small parts, degrading the
        # layout (and its stats ranges) a little more on every merge
        new_df = new_df.coalesce(max(1, len(touched)))
    return _manifest_commit(
        new_df, table_dir, txn=txn, pinned_base=base,
        inherit_files=True, max_attempts=max_attempts, backend=backend,
        merge_schema=merge_schema, inherit_drop=frozenset(touched),
        op_name="DELETE" if delete_only else "MERGE",
        op_params={"key": key,
                   "numTouchedFiles": len(touched)})


class MergeCardinalityError(RuntimeError):
    """A target row matched MULTIPLE source rows in a clause merge --
    the update/delete outcome would be nondeterministic (which source
    row's expressions apply?).  The Delta MERGE contract raises here;
    de-duplicate the source on the merge key first."""


def merge_clauses(spark: SparkSession, table_dir: str,
                  source: DataFrame, key: str,
                  clauses: Sequence[dict],
                  max_attempts: int = 20,
                  backend: CommitBackend | None = None,
                  txn: str | None = None,
                  merge_schema: bool = False) -> int:
    """Conditional multi-clause MERGE -- the full Delta ``MERGE INTO``
    clause surface that :func:`merge_version`'s whole-row upsert
    cannot express.  ``clauses`` is an ORDERED list; for each row the
    FIRST clause of its class whose condition holds applies:

    - ``{"when": "matched", "action": "update", "set": {col: expr},
      "condition": expr?}`` -- partial-column update; unset columns
      keep the target value.
    - ``{"when": "matched", "action": "delete", "condition": expr?}``
    - ``{"when": "not_matched", "action": "insert",
      "values": {col: expr}?, "condition": expr?}`` -- default values
      insert the source column of the same name (missing -> NULL).
    - ``{"when": "not_matched_by_source", "action": "update"/"delete",
      "set"/"condition"}`` -- conditions/sets here may reference the
      TARGET only (``t.``): the source side of these rows is all-NULL
      by construction, so an ``s.`` reference is refused loudly.

    Expressions are SQL strings over ``s.<col>`` (source) and
    ``t.<col>`` (target).  A row whose class has no applying clause
    passes through unchanged (matched / by-source) or is dropped
    (not-matched source rows without an insert clause).  A target row
    matching MULTIPLE source rows raises
    :class:`MergeCardinalityError` BEFORE anything is staged (the
    Delta contract -- the outcome would be nondeterministic); source
    duplicates on UNMATCHED keys are fine (each inserts).

    Scale shape: without ``not_matched_by_source`` clauses the
    rewrite set is :func:`_touched_files` on the source keys -- the
    same stats-pruned O(touched) copy-on-write as
    :func:`merge_version`, so a key-clustered table pays O(slice).
    An INSERT-ONLY merge (no matched/by-source clause) rewrites
    NOTHING: candidate files are read only to subtract matched keys
    (anti-join) and the commit is a pure append of the surviving
    source rows -- matched source rows simply do not insert, so the
    cardinality check does not apply (the Delta contract: only a
    source row that would MODIFY a target row must be unique).
    WITH a by-source clause every data file is rewritten (any target
    row may change -- Delta scans the full target for these clauses
    too); keep such merges for small dimension tables or pair them
    with a partition-scoped pre-filter.  All clause logic runs as one
    full-outer join + codegen'd CASE chains -- one pass, no
    per-clause jobs.  Every update/insert value is cast to the
    target column's pinned type, so the committed schema never
    drifts.  Output columns are the TARGET schema; with
    ``merge_schema=True`` source-only columns APPEND as nullable
    (Delta's automatic schema evolution under MERGE: untouched and
    by-source rows read NULL for them, inserts/updates may set them,
    same-name type conflicts raise) -- without it, extra source
    columns are simply not part of the output.

    ``txn``: same idempotence token as :func:`append_version`.
    Concurrency: base pinned read-to-flip like :func:`merge_version`
    (a conflicting commit raises :class:`VersionConflictError`).

    The reference's closest shape is the per-key delete loop + concat
    (jobs/staging_to_app.py) -- one unconditional replace; this is
    what those jobs need when the reload must update some columns,
    drop stale rows, and insert the rest in ONE atomic commit."""
    import re as _re

    from pyspark.sql import functions as F

    backend = backend or _DEFAULT_BACKEND
    if txn is not None:
        cur0 = current_version(table_dir, backend=backend)
        if cur0 is not None and txn in _txns(table_dir, cur0):
            return cur0  # replayed transaction -- already applied

    def _refs(expr: str, side: str) -> bool:
        """Does ``expr`` reference ``side.<col>``?  String literals
        are stripped first -- single-quoted AND double-quoted (the
        default non-ANSI Spark parser reads both as strings), so a
        literal like 's. dept' or "s. dept" must not trigger.
        Backtick-quoted identifiers are stripped too (a column
        literally NAMED ``s.x`` is one identifier, not a source
        reference) UNLESS the quoted name is the alias itself:
        ``\\`s\\`.op`` binds to the source exactly like ``s.op``.
        The match is case-insensitive (Spark resolves the s/t
        aliases case-insensitively, so ``S.op`` would bind to the
        source just like ``s.op``)."""
        bare = _re.sub(r"'(?:[^'\\]|\\.)*'", "''", expr)
        bare = _re.sub(r'"(?:[^"\\]|\\.)*"', "''", bare)
        bare = _re.sub(
            r"`([^`]*)`",
            lambda m: m.group(1) if m.group(1).lower() in ("s", "t")
            else "__qid__", bare)
        return bool(_re.search(rf"(?i)\b{side}\s*\.", bare))

    matched_cl, insert_cl, bysrc_cl = [], [], []
    for i, c in enumerate(clauses):
        when = c.get("when")
        action = c.get("action")
        if when == "matched":
            if action not in ("update", "delete"):
                raise ValueError(
                    f"clause {i}: matched action must be "
                    f"update/delete, got {action!r}")
            matched_cl.append(c)
        elif when == "not_matched":
            if action != "insert":
                raise ValueError(
                    f"clause {i}: not_matched action must be "
                    f"insert, got {action!r}")
            for expr in ([c.get("condition") or ""]
                         + list((c.get("values") or {}).values())):
                if _refs(expr, "t"):
                    raise ValueError(
                        f"clause {i}: not_matched expressions may "
                        f"reference the source only (the target side "
                        f"is all-NULL there, so the clause would "
                        f"silently never fire): {expr!r}")
            insert_cl.append(c)
        elif when == "not_matched_by_source":
            if action not in ("update", "delete"):
                raise ValueError(
                    f"clause {i}: not_matched_by_source action must "
                    f"be update/delete, got {action!r}")
            for expr in ([c.get("condition") or ""]
                         + list((c.get("set") or {}).values())):
                if _refs(expr, "s"):
                    raise ValueError(
                        f"clause {i}: not_matched_by_source "
                        f"expressions may reference the target only "
                        f"(the source side is all-NULL there): "
                        f"{expr!r}")
            bysrc_cl.append(c)
        else:
            raise ValueError(
                f"clause {i}: when must be matched / not_matched / "
                f"not_matched_by_source, got {when!r}")
    if not clauses:
        raise ValueError("merge_clauses needs at least one clause")

    base = current_version(table_dir, backend=backend)
    if base is None:
        raise FileNotFoundError(
            f"{table_dir} has no committed version to merge into")
    st = table_schema(table_dir, base)
    if st is None:
        raise FileNotFoundError(
            f"{table_dir} v_{base} has no pinned schema")
    if merge_schema:
        # additive evolution: source-only columns append as nullable
        # (type conflicts raise); the evolved schema drives the file
        # reads (pre-evolution files surface NULLs), the output
        # projection, and the commit
        st = _resolve_commit_schema(st, source.schema, True,
                                    table_dir)
    tcols = st.fieldNames()
    if key not in tcols or key not in source.columns:
        raise ValueError(
            f"merge key {key!r} must exist on both sides")
    # unresolvable assignment columns raise (the Delta analysis
    # contract) -- a typo'd set/values key would otherwise commit a
    # version with the intended change silently dropped
    for i, c in enumerate(clauses):
        for col in {**(c.get("set") or {}),
                    **(c.get("values") or {})}:
            if col not in tcols:
                raise ValueError(
                    f"clause {i}: assignment column {col!r} is not "
                    f"a target column (target has {tcols})")

    insert_only = not matched_cl and not bysrc_cl
    if bysrc_cl:
        # any target row may change: every file is in the rewrite set
        touched = _data_files(table_dir, base)
    elif insert_only:
        # nothing in the target changes: candidate files are read
        # ONLY to subtract matched keys; every file inherits by
        # reference and the commit is a pure append of the insert
        # survivors (no copy-on-write at all)
        touched = []
    else:
        touched, _total = _touched_files(spark, table_dir, base,
                                         source.select(key), key)
    if insert_only:
        cand, _ = _touched_files(spark, table_dir, base,
                                 source.select(key), key)
        tdf = (_read_files_dv(spark, table_dir, base, cand, st)
               if cand else spark.createDataFrame([], st))
    elif touched:
        tdf = _read_files_dv(spark, table_dir, base, touched, st)
    else:
        tdf = spark.createDataFrame([], st)

    # Delta's cardinality contract, checked eagerly: restrict to
    # source keys that exist in the (touched slice of the) target --
    # duplicates among unmatched keys are legal multi-inserts, and
    # an insert-only merge (no matched clause) is deterministic
    # whatever the source cardinality, so it skips the check too.
    # Every OTHER merge runs the full-outer join, where a duplicate
    # matched source key would silently DUPLICATE the target row even
    # when no matched clause exists (e.g. by-source-only sync merges:
    # the matched row "passes through" once per joined source row) --
    # so the guard keys on the join path, not on matched_cl (r15
    # advisor finding)
    if not insert_only:
        dup = (source.select(F.col(key).alias("__k"))
               .join(tdf.select(F.col(key).alias("__k")).distinct(),
                     "__k")
               .groupBy("__k").agg(F.count(F.lit(1)).alias("__c"))
               .filter(F.col("__c") > 1).limit(1).collect())
        if dup:
            raise MergeCardinalityError(
                f"source has {int(dup[0]['__c'])} rows for merge key "
                f"{dup[0]['__k']!r}, which matches a target row -- "
                f"de-duplicate the source first")

    def _idx(cls: list[dict]):
        """Index of the first clause whose condition holds, else -1
        (NULL conditions count as not-holding, per SQL)."""
        e = F.lit(-1)
        for i in reversed(range(len(cls))):
            cond = cls[i].get("condition")
            c = (F.coalesce(F.expr(cond), F.lit(False))
                 if cond else F.lit(True))
            e = F.when(c, F.lit(i)).otherwise(e)
        return e

    scols = set(source.columns)

    def _ival(c: str, i_idx):
        """Insert-clause value chain for target column ``c``."""
        idefault = F.col(f"s.{c}") if c in scols else F.lit(None)
        e = F.lit(None)
        for i in reversed(range(len(insert_cl))):
            vals = insert_cl[i].get("values")
            v = (F.expr(vals[c]) if vals and c in vals
                 else idefault if not vals else F.lit(None))
            e = F.when(i_idx == i, v).otherwise(e)
        return e

    if insert_only:
        # anti-join append: matched source rows simply do not insert
        # (the target row is never joined, so it can never duplicate)
        s = source.alias("s")
        j = s.join(tdf.select(F.col(key).alias("__tk")).distinct(),
                   F.expr(f"s.{key} = __tk"), "left_anti")
        i_idx = _idx(insert_cl)
        new_df = j.filter(i_idx >= 0).select(
            *[_ival(f.name, i_idx).cast(f.dataType.simpleString())
              .alias(f.name) for f in st.fields])
    else:
        t = tdf.withColumn("__t_m", F.lit(True)).alias("t")
        s = source.withColumn("__s_m", F.lit(True)).alias("s")
        j = t.join(s, F.expr(f"t.{key} = s.{key}"), "full_outer")
        t_here = F.col("t.__t_m").isNotNull()
        s_here = F.col("s.__s_m").isNotNull()
        m_idx, i_idx, b_idx = (_idx(matched_cl), _idx(insert_cl),
                               _idx(bysrc_cl))

        def _keep(cls: list[dict], idx):
            """False only when the selected clause is a delete."""
            e = F.lit(True)
            for i, c in enumerate(cls):
                if c["action"] == "delete":
                    e = F.when(idx == i, F.lit(False)).otherwise(e)
            return e

        keep = (F.when(t_here & s_here, _keep(matched_cl, m_idx))
                 .when(t_here, _keep(bysrc_cl, b_idx))
                 .otherwise(i_idx >= 0))  # source-only: insert iff a clause applies

        out = []
        for f in st.fields:
            c, dt = f.name, f.dataType.simpleString()
            tval = F.col(f"t.{c}")
            mval = tval
            for i in reversed(range(len(matched_cl))):
                cl = matched_cl[i]
                if (cl["action"] == "update"
                        and c in (cl.get("set") or {})):
                    mval = F.when(m_idx == i,
                                  F.expr(cl["set"][c])).otherwise(mval)
            bval = tval
            for i in reversed(range(len(bysrc_cl))):
                cl = bysrc_cl[i]
                if (cl["action"] == "update"
                        and c in (cl.get("set") or {})):
                    bval = F.when(b_idx == i,
                                  F.expr(cl["set"][c])).otherwise(bval)
            out.append(F.when(t_here & s_here, mval)
                        .when(t_here, bval)
                        .otherwise(_ival(c, i_idx)).cast(dt).alias(c))

        new_df = j.filter(keep).select(*out)
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.constraints import (
        enforce_on_write,
    )

    # validates the REWRITTEN rows (survivors included -- clause
    # expressions may change any of them): O(touched + inserts),
    # the same order as the rewrite itself
    new_df = enforce_on_write(new_df, table_dir)
    if touched:
        new_df = new_df.coalesce(max(1, len(touched)))
    return _manifest_commit(
        new_df, table_dir, txn=txn, pinned_base=base,
        inherit_files=True, max_attempts=max_attempts,
        backend=backend, inherit_drop=frozenset(touched),
        merge_schema=merge_schema,
        op_name="MERGE",
        op_params={"key": key, "numTouchedFiles": len(touched),
                   "clauses": [f"{c['when']}:{c['action']}"
                               for c in clauses]})


def delete_keys_version(spark: SparkSession, table_dir: str,
                        keys: DataFrame, key: str,
                        max_attempts: int = 20,
                        backend: CommitBackend | None = None) -> int:
    """Delete every row whose ``key`` appears in ``keys`` -- the
    delete-only face of :func:`merge_version` (same file-level
    pruning, same pinned-base concurrency contract)."""
    return merge_version(spark, table_dir, keys.select(key), key,
                         delete_only=True, max_attempts=max_attempts,
                         backend=backend)


def _dv_delete_commit(spark: SparkSession, table_dir: str,
                      matched: DataFrame, candidates: list[str],
                      base: int, op_name: str, txn: str | None,
                      backend: CommitBackend) -> int | None:
    """Shared tail of the deletion-vector delete ops: ``matched`` is
    a (``__dv_file``, ``__dv_pos``) frame of the rows to mark
    deleted within ``candidates`` (stats-pruned file list).  Collects
    the positions (a delete request is control-plane sized by
    contract -- a delete touching a large fraction of the table
    should be the copy-on-write rewrite), merges them with the
    base's existing vectors, and commits a metadata-only version
    whose sidecars hold the unions.  Returns the new version, or
    None when nothing new matched."""
    from urllib.parse import unquote

    hits = matched.select("__dv_file", "__dv_pos").collect()
    sfx_to_rel = _dv_suffix_map(candidates)
    rel_of: dict[str, str | None] = {}
    by_rel: dict[str, set[int]] = {}
    for r in hits:
        uri = r["__dv_file"]
        if uri not in rel_of:
            rel_of[uri] = sfx_to_rel.get(_dv_suffix(unquote(uri)))
        rel = rel_of[uri]
        if rel is None:
            raise RuntimeError(
                f"{op_name}: scan returned a file outside the "
                f"candidate set ({uri})")
        by_rel.setdefault(rel, set()).add(int(r["__dv_pos"]))
    dvs = _read_dvs(table_dir, base)
    rowmeta = _read_rowmeta(table_dir, base)
    staged_meta: dict[str, tuple[str, int]] = {}
    stage_files: dict[str, bytes] = {}
    import uuid

    for rel, new_pos in sorted(by_rel.items()):
        merged = set(new_pos)
        if rel in dvs:
            merged |= set(_dv_positions(table_dir, dvs[rel][0]))
        if rel in dvs and len(merged) == dvs[rel][1]:
            continue  # nothing new for this file (idempotent replay)
        rec = rowmeta.get(rel)
        nrows = rec["n"] if rec is not None else _file_rowmeta(
            os.path.join(table_dir, rel), ())["n"]
        name = f"dv-{uuid.uuid4().hex}.dv"
        stage_files[name] = _encode_dv(merged, nrows)
        staged_meta[rel] = (name, len(merged))
    if not staged_meta:
        return None  # every match was already deleted
    inherited = _data_files(table_dir, base)
    stats = _read_stats(table_dir, base)
    txns = _txns(table_dir, base)
    if txn is not None:
        txns = txns | {txn}

    def lines_fn(vname: str) -> list[str]:
        out_dvs = {f: d for f, d in dvs.items()
                   if f not in staged_meta}
        for rel, (name, cnt) in staged_meta.items():
            out_dvs[rel] = (f"{vname}/{name}", cnt)
        return ([_TXN_PREFIX + t for t in sorted(txns)]
                + _stats_lines(stats) + _rows_lines(rowmeta)
                + _dv_lines(out_dvs) + inherited)

    st = table_schema(table_dir, base)
    if st is None:  # legacy base: pin once, like the other DDL ops
        st = _read_resolved(spark, table_dir, base).schema
    return _metadata_only_commit(
        table_dir, base, st, [], op_name, backend,
        stage_files=stage_files, lines_fn=lines_fn,
        op_metrics={"numDeletedRows": sum(
            len(p2) for p2 in by_rel.values()),
            "numVectorFiles": len(staged_meta)})


def delete_keys_dv(spark: SparkSession, table_dir: str,
                   keys: DataFrame, key: str, txn: str | None = None,
                   backend: CommitBackend | None = None) -> int | None:
    """MERGE-ON-READ delete (the Delta deletion-vector shape): mark
    every row whose ``key`` appears in ``keys`` as deleted by
    committing per-file position sidecars -- NO data file is read
    back, rewritten or copied, however large the table; only the
    stats-pruned candidate files are scanned once to locate the
    matched row positions.  The dual of
    :func:`delete_keys_version` (copy-on-write): COW pays a file
    rewrite per touched file at write time and nothing at read time;
    a DV pays one tiny sidecar at write time and a broadcast
    anti-join on the dv-bearing files at read time, until a
    compaction (:func:`compact_table` or :func:`maybe_compact`)
    materializes the vectors away.  Delta's rule of thumb applies:
    DVs for frequent selective deletes, COW for bulk deletes.

    NOT erasure: the deleted rows' bytes remain in the files and the
    rows stay visible to time travel before the delete --
    GDPR-grade removal is :func:`~.purge.purge_keys_history` (which
    understands and remaps deletion vectors).

    ``txn``: idempotence marker with :func:`append_version`
    semantics (a replayed delete with a visible marker no-ops).
    Returns the committed version, or None when nothing (new)
    matched.  Pinned to the current version: a commit landing
    mid-delete raises :class:`VersionConflictError`."""
    backend = backend or _DEFAULT_BACKEND
    base = current_version(table_dir, backend=backend)
    if base is None:
        raise FileNotFoundError(
            f"{table_dir} has no committed version")
    if txn is not None and txn in _txns(table_dir, base):
        return base  # replayed transaction -- already applied
    match_keys = keys.select(key)
    touched, _total = _touched_files(spark, table_dir, base,
                                     match_keys, key)
    if not touched:
        return None
    st = table_schema(table_dir, base)
    scan = _read_files(spark, table_dir, touched, st, with_pos=True)
    matched = scan.join(match_keys, key, "left_semi") \
                  .select("__dv_file", "__dv_pos")
    return _dv_delete_commit(spark, table_dir, matched, touched,
                             base, "DELETE_DV", txn, backend)


def delete_where_dv(spark: SparkSession, table_dir: str, col: str,
                    lo=None, hi=None, txn: str | None = None,
                    backend: CommitBackend | None = None
                    ) -> int | None:
    """Predicate form of :func:`delete_keys_dv`: mark every row with
    ``lo <= col <= hi`` deleted via deletion vectors.  File
    candidates come from the recorded min/max stats
    (:func:`pruned_files`); only those are scanned to locate
    positions.  Same contracts as the keyed form."""
    from pyspark.sql import functions as F

    if lo is None and hi is None:
        raise ValueError("delete_where_dv needs lo and/or hi (an "
                         "unbounded delete is compact/truncate work)")
    backend = backend or _DEFAULT_BACKEND
    base = current_version(table_dir, backend=backend)
    if base is None:
        raise FileNotFoundError(
            f"{table_dir} has no committed version")
    if txn is not None and txn in _txns(table_dir, base):
        return base
    st = table_schema(table_dir, base)
    cand, _total = _prune(table_dir, base,
                          _range_conjuncts(col, lo, hi), st)
    if not cand:
        return None
    scan = _read_files(spark, table_dir, cand, st, with_pos=True)
    pred = F.lit(True)
    if lo is not None:
        pred = pred & (F.col(col) >= F.lit(lo))
    if hi is not None:
        pred = pred & (F.col(col) <= F.lit(hi))
    matched = scan.filter(pred).select("__dv_file", "__dv_pos")
    return _dv_delete_commit(spark, table_dir, matched, cand,
                             base, "DELETE_WHERE_DV", txn, backend)


def drop_columns(spark: SparkSession, table_dir: str, cols,
                 backend: CommitBackend | None = None) -> int:
    """ZERO-COPY column drop (the Iceberg ``ALTER TABLE DROP COLUMN``
    shape): commit a new version whose manifest inherits every data
    file of the current one BY REFERENCE and whose pinned schema
    simply omits ``cols`` -- no file is read or rewritten, however
    large the table; readers project the narrowed schema and the
    parquet scan never materializes the dropped physical columns
    (schema-pinned reads do name-based projection).  Earlier versions
    keep THEIR schemas: time travel before the drop still shows the
    column -- the data itself is not erased (that is
    :func:`~.purge.purge_keys_history`'s job, or a compaction after
    the drop, which rewrites under the narrow schema).

    Stats/row-metadata lines for the dropped columns leave the new
    manifest (null counts for a gone column must not answer
    metadata queries); everything else -- txn markers, per-file rows
    and surviving-column stats -- carries forward verbatim.

    Name-based caveat (the Delta legacy column-mapping semantics,
    pinned in tests): parquet columns resolve BY NAME, so RE-ADDING
    a dropped column's name later (merge_schema append) makes
    pre-drop files surface their old physical values again.  If the
    name may return, ``compact_table`` right after the drop -- the
    rewrite is under the narrow schema, physically removing the
    column.

    Concurrency: pinned to the current version like compaction's --
    a commit landing mid-drop raises :class:`VersionConflictError`
    (our manifest is a copy of that exact base); re-run."""
    from pyspark.sql.types import StructField, StructType

    backend = backend or _DEFAULT_BACKEND
    drop = {cols} if isinstance(cols, str) else set(cols)
    if not drop:
        raise ValueError("drop_columns needs at least one column")
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.constraints import (
        table_constraints,
    )

    referenced = [c.label for c in table_constraints(table_dir)
                  if set(c.columns) & drop]
    if referenced:
        # Delta's rule: a column under a CHECK/NOT NULL constraint
        # cannot be dropped -- a not_null on a gone column would
        # brick every later write, and a range/set/regex constraint
        # would silently stop being enforced
        raise ValueError(
            f"drop_columns on {table_dir}: constraints {referenced} "
            f"reference the dropped column(s) -- "
            f"drop_table_constraints first")
    base = current_version(table_dir, backend=backend)
    if base is None:
        raise FileNotFoundError(
            f"{table_dir} has no committed version")
    st = table_schema(table_dir, base)
    if st is None:  # legacy/snapshot base: pin from its parquet once
        st = _read_resolved(spark, table_dir, base).schema
    missing = sorted(drop - set(st.fieldNames()))
    if missing:
        raise ValueError(
            f"drop_columns on {table_dir}: {missing} not in the "
            f"current schema {st.fieldNames()}")
    keep_fields = [f for f in st.fields if f.name not in drop]
    if not keep_fields:
        raise ValueError(
            f"drop_columns would leave {table_dir} with no columns")
    if _is_mapped(st):
        # the mapped marker must survive even when the dropped column
        # was the ONLY pinned field (a table renamed before identity
        # stamping existed): stamp every kept field explicitly, or a
        # later re-add of the dropped name would bind the old files'
        # physical bytes (review r12d-3, closing r12c-1 for legacy
        # mapped tables too)
        keep_fields = [
            StructField(f.name, f.dataType, True,
                        {**(f.metadata or {}),
                         _PHYSICAL_KEY: (f.metadata or {}).get(
                             _PHYSICAL_KEY, f.name)})
            for f in keep_fields]
    new_schema = StructType(keep_fields)
    inherited = _data_files(table_dir, base)
    txns = _txns(table_dir, base)
    stats = {f: {c: v for c, v in cols_.items() if c not in drop}
             for f, cols_ in _read_stats(table_dir, base).items()}
    stats = {f: c for f, c in stats.items() if c}
    rowmeta = {f: {"n": m["n"],
                   "nn": {c: v for c, v in m["nn"].items()
                          if c not in drop}}
               for f, m in _read_rowmeta(table_dir, base).items()}
    lines = ([_TXN_PREFIX + t for t in sorted(txns)]
             + [f"{_BASE_PREFIX}{base}"]
             + _stats_lines(stats) + _rows_lines(rowmeta)
             + _dv_lines(_read_dvs(table_dir, base))
             + inherited)
    return _metadata_only_commit(table_dir, base, new_schema, lines,
                                 "DROP_COLUMNS", backend,
                                 op_params={"cols": sorted(drop)})


def rename_column(spark: SparkSession, table_dir: str, old: str,
                  new: str,
                  backend: CommitBackend | None = None) -> int:
    """ZERO-COPY column rename (the Delta ``ALTER TABLE RENAME
    COLUMN`` shape under column-mapping ``name`` mode): commit a new
    version whose manifest inherits every data file of the current
    one BY REFERENCE and whose pinned schema carries the field under
    its new logical name with its stable PHYSICAL name recorded in
    the field metadata (``{"physical": ...}``) -- no file is read or
    rewritten, however large the table.

    Contract, pinned in tests/test_column_mapping.py:
    - manifests and every metadata query (stats, rowmeta, bloom
      consult, pruning) speak LOGICAL names: this commit re-keys the
      inherited stats/rowmeta lines from ``old`` to ``new``, so
      count_where/column_range/read_where answer under the new name
      with the same file-skipping plans as before.
    - parquet files speak PHYSICAL names: readers resolve the map in
      ``_read_files``; writers stage logical->physical
      (``_manifest_commit``), so appends and compactions after the
      rename keep the table physically consistent.  A write that was
      staged before a rename and commits after it raises
      :class:`VersionConflictError`.
    - earlier versions keep THEIR schemas: time travel before the
      rename shows the old name.
    - a column under a declared constraint cannot be renamed (the
      constraint would silently stop being enforced) -- drop and
      re-declare it under the new name.
    - re-adding ``old`` later (merge_schema append) creates a FRESH
      physical column: pre-rename bytes never resurface (fixes the
      unmapped format's documented drop/re-add caveat for mapped
      tables).
    - a ``write_version`` snapshot resets the table to identity
      mapping (its files are rewritten under the batch's own names).

    Row-identical to its base (``#base`` manifest line): the change
    feed plans a rename to NOTHING, like a compaction.

    Concurrency: pinned to the current version -- a commit landing
    mid-rename raises :class:`VersionConflictError`; re-run."""
    from pyspark.sql.types import StructField, StructType

    backend = backend or _DEFAULT_BACKEND
    if old == new:
        raise ValueError(
            f"rename_column on {table_dir}: cannot rename {old!r} to "
            f"itself")
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.constraints import (
        table_constraints,
    )

    referenced = [c.label for c in table_constraints(table_dir)
                  if old in c.columns]
    if referenced:
        raise ValueError(
            f"rename_column on {table_dir}: constraints {referenced} "
            f"reference {old!r} -- drop_table_constraints and "
            f"re-declare them under the new name first")
    base = current_version(table_dir, backend=backend)
    if base is None:
        raise FileNotFoundError(
            f"{table_dir} has no committed version")
    st = table_schema(table_dir, base)
    if st is None:  # legacy/snapshot base: pin from its parquet once
        st = _read_resolved(spark, table_dir, base).schema
    if old not in st.fieldNames():
        raise ValueError(
            f"rename_column on {table_dir}: {old!r} not in the "
            f"current schema {st.fieldNames()}")
    if new in st.fieldNames():
        raise ValueError(
            f"rename_column on {table_dir}: {new!r} is already a "
            f"column ({st.fieldNames()})")
    # EVERY field gets an explicit physical pin (identity for the
    # unrenamed ones): the mapped marker must survive a later drop of
    # the renamed column itself, or a drop+re-add of its old name
    # would silently bind to the old files' physical bytes
    # (_is_mapped; review finding r12c-1)
    fields = []
    for f in st.fields:
        md = dict(f.metadata or {})
        if f.name == old:
            md[_PHYSICAL_KEY] = md.get(_PHYSICAL_KEY, old)
            fields.append(StructField(new, f.dataType, True, md))
        else:
            md[_PHYSICAL_KEY] = md.get(_PHYSICAL_KEY, f.name)
            fields.append(StructField(f.name, f.dataType, True, md))
    new_schema = StructType(fields)
    inherited = _data_files(table_dir, base)
    txns = _txns(table_dir, base)
    stats = {f: {(new if c == old else c): v
                 for c, v in cols_.items()}
             for f, cols_ in _read_stats(table_dir, base).items()}
    rowmeta = {f: {"n": m["n"],
                   "nn": {(new if c == old else c): v
                          for c, v in m["nn"].items()}}
               for f, m in _read_rowmeta(table_dir, base).items()}
    lines = ([_TXN_PREFIX + t for t in sorted(txns)]
             + [f"{_BASE_PREFIX}{base}"]
             + _stats_lines(stats) + _rows_lines(rowmeta)
             + _dv_lines(_read_dvs(table_dir, base))
             + inherited)
    return _metadata_only_commit(table_dir, base, new_schema, lines,
                                 "RENAME_COLUMN", backend,
                                 op_params={"from": old, "to": new})


# parquet-upcast-safe widenings: Spark's vectorized reader (and
# pyarrow's cast, which the DataSource face uses) read the narrow
# physical type under the wider pinned schema natively -- verified
# against Spark 4.1 in tests/test_type_widening.py.  Anything else
# (narrowing, numeric->string, int->float reinterpretations beyond
# these) is NOT a metadata operation: rewrite via write_version.
_WIDENINGS = {
    "byte": ("short", "integer", "long"),
    "short": ("integer", "long"),
    "integer": ("long",),
    "float": ("double",),
}


def widen_column_type(spark: SparkSession, table_dir: str, col: str,
                      new_type,
                      backend: CommitBackend | None = None) -> int:
    """ZERO-COPY type widening (the Delta ``ALTER TABLE ... ALTER
    COLUMN ... TYPE`` shape, restricted to parquet-upcast-safe
    pairs): commit a new version whose manifest inherits every data
    file BY REFERENCE and whose pinned schema carries ``col`` under
    the wider type -- no file is read or rewritten; readers upcast
    the narrow physical columns in the scan (int32 under a bigint
    schema, float under double), and files written AFTER the widening
    carry the wide type natively (schema enforcement demands it).
    Allowed: byte -> short/int/long, short -> int/long, int -> long,
    float -> double.  Values never change, so the commit is
    row-identical (``#base``): the change feed plans it to nothing,
    and stats/rowmeta/deletion-vector lines carry verbatim (JSON
    numbers are width-agnostic).  Earlier versions keep THEIR
    schemas: time travel before the widening shows the narrow type.

    ``new_type``: a Spark ``DataType`` or its ``typeName()`` string
    (``"long"``, ``"double"``, ...).  Raises :class:`ValueError` for
    a non-widening change.  Pinned to the current version
    (:class:`VersionConflictError` on a racing commit)."""
    from pyspark.sql import types as T

    backend = backend or _DEFAULT_BACKEND
    by_name = {"byte": T.ByteType(), "short": T.ShortType(),
               "integer": T.IntegerType(), "int": T.IntegerType(),
               "long": T.LongType(), "bigint": T.LongType(),
               "float": T.FloatType(), "double": T.DoubleType()}
    if isinstance(new_type, str):
        if new_type.lower() not in by_name:
            raise ValueError(
                f"widen_column_type: unknown target type "
                f"{new_type!r} (one of {sorted(by_name)})")
        new_type = by_name[new_type.lower()]
    base = current_version(table_dir, backend=backend)
    if base is None:
        raise FileNotFoundError(
            f"{table_dir} has no committed version")
    st = table_schema(table_dir, base)
    if st is None:  # legacy/snapshot base: pin from its parquet once
        st = _read_resolved(spark, table_dir, base).schema
    if col not in st.fieldNames():
        raise ValueError(
            f"widen_column_type on {table_dir}: {col!r} not in the "
            f"current schema {st.fieldNames()}")
    cur_kind = st[col].dataType.typeName()
    new_kind = new_type.typeName()
    if new_kind == cur_kind:
        return base  # already that type: no-op
    if new_kind not in _WIDENINGS.get(cur_kind, ()):
        raise ValueError(
            f"widen_column_type on {table_dir}: {cur_kind} -> "
            f"{new_kind} is not a parquet-upcast-safe widening "
            f"({_WIDENINGS.get(cur_kind, ())}); a general type "
            f"change needs a write_version snapshot rewrite")
    from pyspark.sql.types import StructField, StructType

    new_schema = StructType([
        StructField(f.name, new_type if f.name == col else f.dataType,
                    True, f.metadata)
        for f in st.fields])
    inherited = _data_files(table_dir, base)
    lines = ([_TXN_PREFIX + t for t in sorted(_txns(table_dir, base))]
             + [f"{_BASE_PREFIX}{base}"]
             + _stats_lines(_read_stats(table_dir, base))
             + _rows_lines(_read_rowmeta(table_dir, base))
             + _dv_lines(_read_dvs(table_dir, base))
             + inherited)
    return _metadata_only_commit(
        table_dir, base, new_schema, lines, "WIDEN_COLUMN_TYPE",
        backend, op_params={"col": col, "from": cur_kind,
                            "to": new_kind})


def _metadata_only_commit(table_dir: str, pinned_base: int,
                          schema, lines: list[str], op_name: str,
                          backend: CommitBackend,
                          stage_files: dict[str, bytes] | None = None,
                          lines_fn=None,
                          op_params: dict | None = None,
                          op_metrics: dict | None = None) -> int:
    """Commit a version that holds NO data files of its own -- just a
    pinned schema and pre-built manifest lines (the DDL shape behind
    :func:`drop_columns`, :func:`restore_table`,
    :func:`rename_column` and the deletion-vector commits).  Pinned
    to ``pinned_base``: the lines are derived from that exact state,
    so a commit landing in between raises
    :class:`VersionConflictError`.

    ``stage_files``: small metadata payloads (DV sidecars) written
    into the staged dir before the claim -- they travel with the
    version dir through renumbering.  ``lines_fn(vname)``: manifest
    lines that must reference the version's FINAL name (a renumbered
    claim re-derives them); overrides ``lines`` when given."""
    import uuid

    staged = os.path.join(
        table_dir, f"{_STAGE_PREFIX}{os.getpid()}-{uuid.uuid4().hex}")
    os.makedirs(staged)
    for name, payload in (stage_files or {}).items():
        with open(os.path.join(staged, name), "wb") as fh:
            fh.write(payload)
    claimed: str | None = None
    try:
        n = max(_versions(table_dir), default=0) + 1
        for _ in range(20):
            target = os.path.join(table_dir, f"v_{n:08d}")
            try:
                os.rename(claimed or staged, target)
            except OSError as exc:
                if exc.errno not in (errno.EEXIST, errno.ENOTEMPTY):
                    raise
                n += 1
                continue
            claimed = target
            raw = backend.read_pointer(table_dir)
            if _parse_pointer(raw) != pinned_base:
                raise VersionConflictError(
                    f"{op_name} on {table_dir} staged from "
                    f"v_{pinned_base:08d} but the table advanced "
                    f"before its commit -- re-run")
            if schema is not None:
                _write_schema_file(claimed, schema)
            out_lines = lines_fn(f"v_{n:08d}") if lines_fn \
                else lines
            out_lines = [_op_line(op_name, op_params,
                                  op_metrics)] + out_lines
            _write_manifest(claimed, out_lines)
            if backend.try_commit(table_dir,
                                  _next_pointer(raw, f"v_{n:08d}"),
                                  raw):
                claimed = None
                return n
        raise RuntimeError(
            f"could not commit {op_name} under {table_dir}")
    finally:
        # success sets claimed=None (the dir IS the version); any
        # failure leaves either the claimed dir or the stage to reap
        if claimed is not None:
            shutil.rmtree(claimed, ignore_errors=True)
        elif os.path.isdir(staged):
            shutil.rmtree(staged, ignore_errors=True)


def restore_table(spark: SparkSession, table_dir: str, to_version: int,
                  backend: CommitBackend | None = None) -> int:
    """ZERO-COPY rollback (the Delta ``RESTORE TABLE ... VERSION AS
    OF`` shape): commit a NEW version that references exactly the
    data files, schema and stats of committed version ``to_version``
    -- current becomes the old state while history stays intact (the
    bad versions remain time-travelable for forensics until
    ``vacuum`` retention reaps them; the pointer never moves
    backwards).  No file is read or rewritten.

    Txn markers: the restored version carries ``to_version``'s
    marker set, NOT the rolled-back tip's -- a streaming batch whose
    append is being rolled back must be REDELIVERABLE afterwards
    (its marker leaving the current manifest is what re-admits it),
    which is exactly the semantics a sink crash-replay expects.

    Raises :class:`ValueError` for a never-committed or reaped
    ``to_version`` and no-ops (returns current) when the table is
    already at that state.  Pinned to the current version: a commit
    landing mid-restore raises :class:`VersionConflictError`."""
    backend = backend or _DEFAULT_BACKEND
    cur = current_version(table_dir, backend=backend)
    if cur is None:
        raise FileNotFoundError(
            f"{table_dir} has no committed version")
    committed = committed_versions(table_dir, backend=backend)
    if to_version not in committed:
        raise ValueError(
            f"v_{to_version} of {table_dir} was never committed "
            f"(committed: {committed})")
    if to_version == cur:
        return cur
    if not os.path.isdir(os.path.join(table_dir,
                                      f"v_{to_version:08d}")):
        raise ValueError(
            f"v_{to_version} of {table_dir} was vacuumed; only "
            f"readable versions can be restored")
    st = table_schema(table_dir, to_version)
    if st is None:  # legacy/snapshot target: pin from its parquet
        st = _read_resolved(spark, table_dir, to_version).schema
    stats = _read_stats(table_dir, to_version)
    rowmeta = _read_rowmeta(table_dir, to_version)
    lines = ([_TXN_PREFIX + t
              for t in sorted(_txns(table_dir, to_version))]
             + [f"{_BASE_PREFIX}{to_version}"]
             + _stats_lines(stats) + _rows_lines(rowmeta)
             + _dv_lines(_read_dvs(table_dir, to_version))
             + _data_files(table_dir, to_version))
    return _metadata_only_commit(table_dir, cur, st, lines,
                                 "RESTORE", backend,
                                 op_params={"to_version": to_version})


def _manifest_commit(df: DataFrame, table_dir: str, txn: str | None,
                     pinned_base: int | None, inherit_files: bool,
                     max_attempts: int,
                     backend: CommitBackend | None,
                     merge_schema: bool = False,
                     stats_columns: Sequence[str] = (),
                     inherit_drop: frozenset[str] = frozenset(),
                     row_identical_base: int | None = None,
                     enforce_constraints: bool = False,
                     partition_by: Sequence[str] = (),
                     op_name: str = "WRITE",
                     op_params: dict | None = None) -> int:
    """Shared stage -> claim -> manifest -> commit loop behind
    :func:`append_version` (``inherit_files=True``, rebases freely),
    :func:`compact_table` (``pinned_base`` set: raises
    :class:`VersionConflictError` if the base advances, since the
    staged data is a copy of that exact base), and
    :func:`merge_version` (``pinned_base`` + ``inherit_drop``: the
    rewritten files leave the inheritance, their replacements are the
    staged batch)."""
    import uuid

    backend = backend or _DEFAULT_BACKEND
    os.makedirs(table_dir, exist_ok=True)
    base0 = current_version(table_dir, backend=backend)
    if txn is not None and base0 is not None \
            and txn in _txns(table_dir, base0):
        return base0  # replayed transaction -- already visible
    # column-mapped base: stage the batch under PHYSICAL names so
    # every file of the table stays physically consistent across
    # renames.  New columns get fresh, never-reused physical names
    # (uuid suffix) -- re-adding a renamed-away or dropped logical
    # name can never resurface old files' bytes on a mapped table.
    # The map used here is re-verified against the base at commit
    # time (_commit_staged_dir): a rename racing this write raises
    # VersionConflictError instead of committing misnamed files.
    # On an UNMAPPED base the plan strips stray physical metadata the
    # incoming schema may carry (e.g. a df built from a mapped
    # table's pinned schema) -- the staged files speak the batch's
    # own logical names, so pinning someone else's physicals would
    # make the column read all-NULL.
    base_st0 = table_schema(table_dir, base0) if base0 is not None \
        else None
    staged_physical, logical_schema = _physical_staging_plan(
        base_st0, df.schema)
    # hidden partition transforms (io/transforms): the spec parses
    # against the LOGICAL schema, the derived layout columns compute
    # from the PHYSICAL ones after the aliasing below, and the spec
    # sidecar rides the staged dir into the committed version
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.transforms import (
        derive_columns, has_transforms, parse_partition_spec,
        write_partspec,
    )

    spec = parse_partition_spec(partition_by, logical_schema) \
        if partition_by else []
    if any(p != c for c, p in staged_physical.items()):
        from pyspark.sql import functions as F

        df = df.select([F.col(c).alias(staged_physical[c])
                        for c in df.columns])
    if spec:
        df, part_cols = derive_columns(df, spec,
                                       physical=staged_physical)
    else:
        part_cols = []
    staged = os.path.join(
        table_dir, f"{_STAGE_PREFIX}{os.getpid()}-{uuid.uuid4().hex}")
    claimed: str | None = None
    try:
        w = df.write.mode("overwrite")
        if part_cols:
            # identity entries speak PHYSICAL names like the files;
            # derived entries use their spec directory names
            w = w.partitionBy(*part_cols)
        w.parquet(staged)
        if has_transforms(spec):
            write_partspec(staged, spec)
        if not _walk_rel_files(staged):
            # an empty batch can plan away to zero part files; force
            # one schema-carrying part so the version stays readable
            # (unpartitioned: an empty flat part needs no layout)
            df.limit(0).repartition(1).write.mode("overwrite") \
                .parquet(staged)
        if enforce_constraints:
            # write-time constraints validate NEW data only (append /
            # write_version / MV full refresh); rewrites of already-
            # validated rows (compaction, merge survivors) skip the
            # scan.  Validation reads back the STAGED parquet, not
            # the incoming plan (r10 ADVICE): a nondeterministic
            # batch (rand(), current_timestamp, a re-read of a
            # changing source) could pass a pre-write check yet
            # persist violating rows, and an uncached batch would be
            # computed twice.  The staged bytes ARE what the pointer
            # flip publishes, so "every row readable under a
            # constraint passed it" holds by construction; a
            # violation raises here and the finally reaps the stage
            # before anything becomes a version.
            from esg_decarbonization_data_integration_and_data_pipline_spark.io.constraints import (
                enforce_on_write, table_constraints,
            )

            if table_constraints(table_dir):
                back = df.sparkSession.read.parquet(staged)
                if staged_physical:
                    # constraints speak logical names; the staged
                    # bytes are physical -- alias back for the scan
                    from pyspark.sql import functions as F

                    inv = {p: c for c, p in staged_physical.items()}
                    back = back.select(
                        [F.col(c).alias(inv.get(c, c))
                         for c in back.columns])
                enforce_on_write(back, table_dir)
        return _commit_staged_dir(
            table_dir, staged, txn, pinned_base, inherit_files,
            max_attempts, backend, merge_schema, stats_columns,
            inherit_drop, row_identical_base,
            batch_schema=logical_schema,
            legacy_schema_reader=lambda cur: _read_resolved(
                df.sparkSession, table_dir, cur).schema,
            staged_physical=staged_physical,
            op_name=op_name, op_params=op_params)
    except BaseException:
        shutil.rmtree(staged, ignore_errors=True)
        raise


def _commit_staged_dir(table_dir: str, staged: str, txn: str | None,
                       pinned_base: int | None, inherit_files: bool,
                       max_attempts: int,
                       backend: CommitBackend,
                       merge_schema: bool,
                       stats_columns: Sequence[str],
                       inherit_drop: frozenset[str],
                       row_identical_base: int | None,
                       batch_schema,
                       legacy_schema_reader=None,
                       staged_physical: dict[str, str] | None = None,
                       op_name: str = "WRITE",
                       op_params: dict | None = None) -> int:
    """The claim -> renumber -> manifest -> pointer-flip loop shared
    by :func:`_manifest_commit` (Spark-staged batches) and the
    DataSource write face (pyarrow-staged parts): pure file metadata,
    NO SparkSession.  ``batch_schema`` is the staged data's Spark
    schema; ``legacy_schema_reader(cur)`` resolves a pinned-schema-
    less legacy base from its parquet footers (callers with a session
    pass it; session-free callers get a loud error instead of a
    silent wrong-schema commit).  Owns the staged dir: reaps it (and
    any claimed-but-uncommitted dir) on every exit path."""
    claimed: str | None = None
    try:
        n = max(_versions(table_dir), default=0) + 1
        for _ in range(max_attempts):
            target = os.path.join(table_dir, f"v_{n:08d}")
            try:
                # claims AND re-claims: on renumbering, the already-
                # claimed dir moves to the higher number (metadata-only;
                # rename onto itself after a failed commit is a no-op)
                os.rename(claimed or staged, target)
            except OSError as exc:
                if exc.errno not in (errno.EEXIST, errno.ENOTEMPTY):
                    raise
                n += 1
                continue
            claimed = target
            vname = f"v_{n:08d}"
            raw = backend.read_pointer(table_dir)
            cur = _parse_pointer(raw)
            if pinned_base is not None and cur != pinned_base:
                # cur can even be None here (pointer torn down / a
                # misbehaving backend) -- still a conflict, and the
                # message must not crash formatting it
                moved = f"v_{cur:08d}" if cur is not None \
                    else "no committed version"
                raise VersionConflictError(
                    f"rewrite of {table_dir} staged from "
                    f"v_{pinned_base:08d} but the table advanced to "
                    f"{moved} before its commit; committing the "
                    f"stale copy would drop that write -- re-run "
                    f"(claimed dir reaped now)")
            if cur is not None and cur >= n:
                # base advanced past our number; pointer monotonicity
                # forbids committing n -- renumber above the new base
                n = max(cur, max(_versions(table_dir), default=0)) + 1
                continue
            own = sorted(f"{vname}/{f}"
                         for f in _walk_rel_files(claimed))
            inherited = ([f for f in _data_files(table_dir, cur)
                          if f not in inherit_drop]
                         if cur is not None and inherit_files else [])
            txns = _txns(table_dir, cur) if cur is not None else set()
            if txn is not None:
                txns = txns | {txn}
            # schema enforcement/evolution against the CURRENT base
            # (re-resolved on every rebase retry -- the base may have
            # evolved inside our read-to-commit window).  A legacy
            # base without a pinned schema falls back to its parquet
            # footers once, here on the commit path, so readers never
            # pay it.
            base_schema = None
            if cur is not None:
                base_schema = table_schema(table_dir, cur)
                if base_schema is None:
                    if legacy_schema_reader is None:
                        raise ValueError(
                            f"{table_dir} v_{cur:08d} has no pinned "
                            f"schema (legacy table) and this write "
                            f"path has no SparkSession to resolve "
                            f"footers -- append once through "
                            f"io.versioned.append_version to pin it")
                    base_schema = legacy_schema_reader(cur)
            if base_schema is not None:
                # column-mapping race check: the physical names the
                # batch was STAGED under must still be what the base
                # maps those logical columns to -- a rename_column
                # landing between stage and commit would otherwise
                # publish files whose bytes sit under the wrong
                # physical column
                bmap = _physical_map(base_schema)
                smap = staged_physical or {}
                bnames = set(base_schema.fieldNames())
                # a batch column ABSENT from the base whose staged
                # physical is live under a DIFFERENT logical is the
                # other face of the same race: the column was renamed
                # under us between stage and commit
                live_by_phys = {bmap.get(n2, n2): n2 for n2 in bnames}
                raced = sorted(
                    f.name for f in batch_schema.fields
                    if (f.name in bnames
                        and bmap.get(f.name, f.name)
                        != smap.get(f.name, f.name))
                    or (f.name not in bnames
                        and live_by_phys.get(
                            smap.get(f.name, f.name)) is not None))
                if raced:
                    raise VersionConflictError(
                        f"append to {table_dir}: column(s) {raced} "
                        f"were staged under a different physical "
                        f"name than the current base maps them to "
                        f"(a rename_column raced this write, or the "
                        f"writer cannot stage physical names) -- "
                        f"re-run the write")
            commit_schema = _resolve_commit_schema(
                base_schema, batch_schema, merge_schema, table_dir)
            _write_schema_file(claimed, commit_schema)
            # file-skipping stats: inherit the base's recorded stats
            # for inherited files verbatim, and record OWN-file
            # min/max (footer read, no data scan) for the union of
            # the requested columns and every column the base already
            # tracks -- an append without stats_columns must not
            # silently stop the table's skipping at its version
            base_stats = (_read_stats(table_dir, cur)
                          if cur is not None else {})
            stats = {f: base_stats[f] for f in inherited
                     if f in base_stats}
            track = set(stats_columns).union(
                *(base_stats[f].keys() for f in base_stats)) \
                if base_stats else set(stats_columns)
            # per-file row/null counts share the min/max footer read
            # (_file_meta: ONE ParquetFile open per own file);
            # inherited files keep the base's records, so count(*)
            # and interior count_where files never touch data at
            # read time
            base_rows = (_read_rowmeta(table_dir, cur)
                         if cur is not None else {})
            rowmeta = {f: base_rows[f] for f in inherited
                       if f in base_rows}
            # manifests speak LOGICAL names; own files speak PHYSICAL
            # -- footer reads go through the commit schema's map and
            # the results are re-keyed back
            cmap = _physical_map(commit_schema)
            inv_p = {p: c for c, p in cmap.items()}
            want = sorted({cmap.get(c, c) for c in track})
            for rel in own:
                fs, rm = _file_meta(os.path.join(table_dir, rel),
                                    want)
                fs = {inv_p.get(c, c): v for c, v in fs.items()}
                rm = {"n": rm["n"],
                      "nn": {inv_p.get(c, c): v
                             for c, v in rm["nn"].items()}}
                _record_partition_meta(_partition_values(rel),
                                       commit_schema, inv_p, fs, rm)
                if fs:
                    stats[rel] = fs
                rowmeta[rel] = rm
            # deletion vectors ride the inheritance: an append/merge
            # must carry the base's #dv lines for every file it
            # inherits, or the deleted rows would resurface.
            # Rewritten files (inherit_drop) shed their vectors with
            # their data lines; a compaction (inherit_files=False)
            # materializes them away by construction.
            base_dvs = (_read_dvs(table_dir, cur)
                        if cur is not None and inherit_files else {})
            inh_set = set(inherited)
            dv_carry = {f: d for f, d in base_dvs.items()
                        if f in inh_set}
            lines = ([_op_line(
                          op_name, op_params,
                          {"numFiles": len(own),
                           "numRows": sum(rowmeta[f]["n"]
                                          for f in own),
                           "numInheritedFiles": len(inherited)})]
                     + [_TXN_PREFIX + t for t in sorted(txns)]
                     + ([f"{_BASE_PREFIX}{row_identical_base}"]
                        if row_identical_base is not None else [])
                     + _stats_lines(stats)
                     + _rows_lines(rowmeta)
                     + _dv_lines(dv_carry)
                     + inherited + own)
            _write_manifest(claimed, lines)
            # hidden partition spec rides the inheritance: an
            # INHERITING commit (append/merge/replace) carries the
            # base's _PARTSPEC entries forward -- a spec-less append
            # copies it whole, a commit with its OWN spec unions in
            # the base entries its directories do not shadow (spec
            # EVOLUTION: inherited files laid out under the old
            # transform keep their tight pruning; the new files
            # keep-conservatively under the old entries since they
            # carry no such directory).  Snapshots/compactions
            # (inherit_files=False) RESET the spec like they reset
            # column mapping, unless they laid out one of their own.
            if inherit_files and cur is not None:
                import json as _json

                from esg_decarbonization_data_integration_and_data_pipline_spark.io.transforms import (
                    _PARTSPEC_FILE, read_partspec, write_partspec,
                )

                base_spec = read_partspec(table_dir, cur)
                if base_spec:
                    spec_dst = os.path.join(claimed, _PARTSPEC_FILE)
                    own_spec = []
                    if os.path.exists(spec_dst):
                        with open(spec_dst,
                                  encoding="utf-8") as fh:
                            own_spec = _json.load(fh)
                    own_dirs = {s["dir"] for s in own_spec}
                    merged = own_spec + [s for s in base_spec
                                         if s["dir"] not in own_dirs]
                    if merged != own_spec:
                        write_partspec(claimed, merged)
            if backend.try_commit(table_dir, _next_pointer(raw, vname),
                                  raw):
                claimed = None  # committed -- nothing to clean up
                return n
            # a competitor committed inside our read-to-commit window;
            # loop re-reads the pointer and rebuilds the manifest over
            # the new base (each failure implies system-wide progress)
        raise RuntimeError(
            f"could not append a version under {table_dir} after "
            f"{max_attempts} attempts")
    finally:
        shutil.rmtree(staged, ignore_errors=True)
        if claimed is not None:
            # claimed but never committed: no reader can have resolved
            # it (the pointer is monotonic), so reap it now instead of
            # leaving an orphan for vacuum's TTL
            shutil.rmtree(claimed, ignore_errors=True)


def _read_resolved(spark: SparkSession, table_dir: str, n: int) -> DataFrame:
    # the version's commit-time schema (when pinned) drives the read:
    # files predating an added column surface it as NULL, with NO
    # footer-merge pass over the (at scale, very long) file list --
    # the mergeSchema=true tax every read would otherwise pay
    return _read_files_dv(spark, table_dir, n, _data_files(table_dir, n),
                          table_schema(table_dir, n))


def read_current(spark: SparkSession, table_dir: str,
                 backend: CommitBackend | None = None) -> DataFrame:
    """Resolve ``_CURRENT`` and read that version -- the only reader
    entry point; never lists or touches version dirs directly.
    Manifest-append versions read their listed files (old dirs + new);
    snapshot versions read their own dir."""
    n = current_version(table_dir, backend=backend)
    if n is None:
        raise FileNotFoundError(
            f"{table_dir} has no committed version (_CURRENT missing)")
    return _read_resolved(spark, table_dir, n)


def read_as_of(spark: SparkSession, table_dir: str, ts: float,
               backend: CommitBackend | None = None) -> DataFrame:
    """Timestamp time travel: :func:`read_version` of
    :func:`version_as_of` ``ts`` -- the table as a reader at that
    wall-clock moment saw it."""
    return read_version(spark, table_dir,
                        version_as_of(table_dir, ts, backend=backend),
                        backend=backend)


def read_version(spark: SparkSession, table_dir: str, n: int,
                 backend: CommitBackend | None = None) -> DataFrame:
    """Time-travel: read committed version ``n`` as the consistent
    snapshot it was at commit time (the Delta ``versionAsOf`` shape).

    Only versions the pointer LOG records are readable -- commit-time
    truth, not directory numbering: version numbers legitimately skip
    (a claim superseded before its flip, or a crashed appender,
    leaves a dir that never committed), so an on-disk ``v_n`` below
    current is NOT evidence any reader could once have resolved it
    (``ValueError``).  A committed version already reaped by
    :func:`vacuum` raises ``FileNotFoundError`` -- retention, not
    correctness, bounds how far back travel reaches (same contract as
    every table format)."""
    committed = committed_versions(table_dir, backend=backend)
    if not committed:
        raise FileNotFoundError(
            f"{table_dir} has no committed version (_CURRENT missing)")
    if n not in committed:
        raise ValueError(
            f"version v_{n:08d} of {table_dir} was never committed "
            f"(current is v_{committed[-1]:08d}; committed versions: "
            f"{committed}); an on-disk dir with that number is a "
            f"crashed or superseded claim no reader ever resolved")
    if not os.path.isdir(os.path.join(table_dir, f"v_{n:08d}")):
        raise FileNotFoundError(
            f"version v_{n:08d} of {table_dir} was committed but has "
            f"been vacuumed; raise vacuum's keep_last to travel this "
            f"far back")
    return _read_resolved(spark, table_dir, n)


def read_versions(spark: SparkSession, table_dir: str, versions,
                  version_col: str = "__version",
                  backend: CommitBackend | None = None) -> DataFrame:
    """Multi-version read: the union of
    ``read_version(n).withColumn(version_col, lit(n))`` over
    ``versions``, ONE lazy frame (so a multi-version audit runs one
    Spark job), with ``version_col`` (int) first and the versions'
    shared pinned schema after it.  Each version scans its own file
    list -- a file shared by several versions is read once per
    referencing version -- and carries its own deletion-vector mask.

    Every requested version must pin the SAME schema (field names,
    types and physical mapping); a schema-changing history raises
    ``SchemaMismatchError`` -- callers group versions by schema first
    (:func:`read_version`'s "this version's pinned schema drives its
    read" cannot hold across differing schemas in one frame).
    Duplicate or empty ``versions`` raise ``ValueError``; commit and
    vacuum checks are :func:`read_version`'s."""
    from pyspark.sql import functions as F

    versions = list(versions)
    if not versions:
        raise ValueError("read_versions: no versions requested")
    if len(set(versions)) != len(versions):
        raise ValueError(f"read_versions: duplicate versions in "
                         f"{versions}")
    frames = [read_version(spark, table_dir, n, backend=backend)
              for n in versions]
    sjs = [st.json() if st is not None else None
           for st in (table_schema(table_dir, n) for n in versions)]
    for n, sj in zip(versions, sjs):
        if sj != sjs[0]:
            raise SchemaMismatchError(
                f"read_versions needs one shared pinned schema; "
                f"v_{versions[0]:08d} and v_{n:08d} of {table_dir} "
                f"differ -- group versions by schema and read each "
                f"group separately")
    out = None
    for n, df in zip(versions, frames):
        df = df.select(F.lit(int(n)).cast("int").alias(version_col),
                       *[c for c in df.columns if c != version_col])
        out = df if out is None else out.unionByName(df)
    return out


def _dv_change_rows(spark: SparkSession, table_dir: str, st,
                    from_dvs: dict, to_dvs: dict,
                    files: list[str]) -> DataFrame:
    """The change-feed rows of a deletion-vector-only delta: per
    file, positions in ``to`` but not ``from`` emit as ``delete``,
    positions in ``from`` but not ``to`` (a restore rewound past the
    delete) as ``insert``.  Rows are fetched by (file, position)
    semi-join against the affected files only, under the TO side's
    schema (current logical names)."""
    from pyspark.sql import functions as F

    del_pairs: list[tuple[str, int]] = []
    ins_pairs: list[tuple[str, int]] = []
    affected: list[str] = []
    for f in files:
        a = set(_dv_positions(table_dir, from_dvs[f][0])) \
            if f in from_dvs else set()
        b = set(_dv_positions(table_dir, to_dvs[f][0])) \
            if f in to_dvs else set()
        if a == b:
            continue
        affected.append(f)
        del_pairs += [(f, p) for p in sorted(b - a)]
        ins_pairs += [(f, p) for p in sorted(a - b)]
    empty = (spark.createDataFrame([], st)
             .withColumn("_change_type", F.lit("insert")))
    if not affected:
        return empty
    scan = _read_files(spark, table_dir, affected, st, with_pos=True)
    scan_key = _dv_scan_keys(scan, affected)
    scan = scan.withColumn("__dv_key", _dv_key_col())
    import pandas as pd

    frames = []
    for pairs, tag in ((del_pairs, "delete"), (ins_pairs, "insert")):
        if not pairs:
            continue
        pdf = spark.createDataFrame(pd.DataFrame(
            {"__dv_key": pd.Series([scan_key[f] for f, _ in pairs],
                                   dtype="object"),
             "__dv_pos": pd.Series([p for _, p in pairs],
                                   dtype="int64")}))
        frames.append(
            scan.join(F.broadcast(pdf), ["__dv_key", "__dv_pos"],
                      "left_semi")
                .drop("__dv_file", "__dv_pos", "__dv_key")
                .withColumn("_change_type", F.lit(tag)))
    if not frames:
        return empty
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


def read_changes(spark: SparkSession, table_dir: str, from_n: int,
                 to_n: int | None = None,
                 backend: CommitBackend | None = None) -> DataFrame:
    """Rows that changed between committed versions ``from_n``
    (exclusive) and ``to_n`` (inclusive, default current) -- the
    Delta CDF shape: the table's columns plus ``_change_type``
    (``insert`` | ``delete``; an update surfaces as delete+insert,
    since the table has no declared key).  The downstream-consumption
    primitive: a training job that processed version N reads exactly
    the delta to N+k instead of rescanning the table.

    Two tiers, picked from METADATA:
    - append fast path: when ``to_n`` still references every data
      file of ``from_n`` (pure append chain between them -- nothing
      was rewritten), the delta IS the extra files: read them, tag
      ``insert``, done.  O(changed files), exact, no join.
    - row-level multiset diff otherwise (a merge/compaction rewrote
      files): ONE typed aggregate -- ``from_n``'s rows tagged -1 and
      ``to_n``'s +1 (a column both sides carry is cast to its ``to``
      type first), unioned by name, grouped by every column and
      summed; each group with a non-zero sum is emitted as |sum|
      copies of insert/delete, projected to the ``to`` schema.  Rows
      compare with SQL grouping semantics: NULLs are equal, -0.0
      equals 0.0 and NaN equals NaN.  A top-level map column groups
      through its entries sorted by key and comes back as a map; a
      column Spark cannot group (a map nested in a struct or array,
      an interval, a variant) raises ``TypeError`` naming it.  A
      compaction that changed no rows diffs empty."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    committed = committed_versions(table_dir, backend=backend)
    if to_n is None:
        to_n = committed[-1] if committed else None
    for n in (from_n, to_n):
        if n not in committed:
            raise ValueError(
                f"version v_{n} of {table_dir} was never committed "
                f"(committed: {committed})")
    to_schema = table_schema(table_dir, to_n)
    if from_n == to_n:
        base = (spark.createDataFrame([], to_schema) if to_schema
                else _read_resolved(spark, table_dir, to_n).limit(0))
        return base.withColumn("_change_type", F.lit("insert"))
    f_files = set(_data_files(table_dir, from_n))
    t_files = _data_files(table_dir, to_n)
    # deletion vectors change rows WITHOUT changing the file set, so
    # every file-set-based tier must also compare the dv state of the
    # COMMON files.  Equality by (sidecar rel, count) is exact:
    # sidecars are immutable and carried verbatim through
    # inheritance/DDL/restore; merged deletes always mint a new one.
    from_dvs = _read_dvs(table_dir, from_n)
    to_dvs = _read_dvs(table_dir, to_n)
    common_dv_same = (
        {f: from_dvs[f] for f in f_files if f in from_dvs}
        == {f: to_dvs[f] for f in f_files if f in to_dvs})
    if f_files <= set(t_files) and common_dv_same:
        added = [f for f in t_files if f not in f_files]
        if not added:
            return read_changes(spark, table_dir, to_n, to_n,
                                backend=backend)
        return (_read_files_dv(spark, table_dir, to_n, added,
                               to_schema)
                .withColumn("_change_type", F.lit("insert")))
    if f_files <= set(t_files):
        # dv delta, possibly composed with appends (the
        # delete-then-append stream pattern): positions newly marked
        # on the COMMON files emit as deletes (unmarked -- a rewound
        # restore -- as inserts) and ADDED files emit dv-filtered
        # inserts.  Still O(changed rows + added files), never the
        # two-sided table diff (review r12f-3).
        dv_part = _dv_change_rows(
            spark, table_dir,
            to_schema if to_schema is not None
            else _read_resolved(spark, table_dir, to_n).schema,
            from_dvs, to_dvs, sorted(f_files))
        added = [f for f in t_files if f not in f_files]
        if not added:
            return dv_part
        ins = (_read_files_dv(spark, table_dir, to_n, added,
                              to_schema)
               .withColumn("_change_type", F.lit("insert")))
        return dv_part.unionByName(ins)

    # compaction-aware tier: a compaction in (from_n, to_n] is
    # row-identical to its recorded #base, so the delta splits into
    # changes(from_n -> base) + changes(compaction -> to_n) -- each
    # segment resolves recursively (usually to append fast paths),
    # and a streaming sink's auto-compactions no longer knock the
    # matview refresh off the O(delta) path into a full two-sided
    # diff.  Scan newest-first so one split covers nested cases via
    # the recursion.
    for c in sorted((x for x in committed
                     if from_n < x <= to_n), reverse=True):
        b = _base_of(table_dir, c)
        if (b is not None and b in committed and from_n <= b < c
                and os.path.isdir(os.path.join(table_dir,
                                               f"v_{b:08d}"))):
            left = read_changes(spark, table_dir, from_n, b,
                                backend=backend)
            right = read_changes(spark, table_dir, c, to_n,
                                 backend=backend)
            # a rename_column commit in (b, c] changes logical names
            # while the physical column is continuous: re-alias the
            # pre-split segment to the TO schema's logical names via
            # the physical chain, so the feed speaks current names
            # (the Delta CDF column-mapping contract) instead of
            # unioning old- and new-named halves
            left_st = table_schema(table_dir, b)
            if left_st is not None and to_schema is not None:
                lmap = _physical_map(left_st)
                tmap = _physical_map(to_schema)
                to_logical = {tmap.get(f.name, f.name): f.name
                              for f in to_schema.fields}
                ren = {}
                for f in left_st.fields:
                    tgt = to_logical.get(lmap.get(f.name, f.name))
                    if tgt is not None and tgt != f.name:
                        ren[f.name] = tgt
                if ren:
                    # left.columns can hold STALE columns beyond
                    # left_st's fields (a deeper allowMissingColumns
                    # union keeps dropped-era columns null-filled);
                    # a stale column colliding with a rename target
                    # must be dropped, not duplicated (select with
                    # two same-named outputs is an AnalysisException)
                    targets = set(ren.values())
                    sel = []
                    for c2 in left.columns:
                        if c2 in ren:
                            sel.append(F.col(c2).alias(ren[c2]))
                        elif c2 not in targets:
                            sel.append(F.col(c2))
                    left = left.select(sel)
            return left.unionByName(right,
                                    allowMissingColumns=True)

    to_df = _read_resolved(spark, table_dir, to_n)
    schema = to_schema or to_df.schema
    want = {f.name: f.dataType for f in schema.fields}

    def q(c: str) -> str:
        return "`" + c.replace("`", "``") + "`"

    def tagged(df: DataFrame, sign: int) -> DataFrame:
        cols = []
        for f in df.schema.fields:
            c, dt = F.col(q(f.name)), want.get(f.name, f.dataType)
            if dt != f.dataType:
                c = c.try_cast(dt)
            key_dt = dt
            if isinstance(dt, T.MapType):
                c = F.array_sort(F.map_entries(c))
                key_dt = T.StructType([T.StructField("key", dt.keyType),
                                       T.StructField("value",
                                                     dt.valueType)])
            if not _groupable(key_dt):
                raise TypeError(
                    f"read_changes cannot diff {table_dir} between "
                    f"v_{from_n} and v_{to_n}: column {f.name!r} of "
                    f"type {dt.simpleString()} cannot be grouped")
            cols.append(c.alias(f.name))
        return df.select(*cols, F.lit(sign).alias("__d"))

    both = tagged(_read_resolved(spark, table_dir, from_n), -1) \
        .unionByName(tagged(to_df, 1), allowMissingColumns=True)
    delta = (both.groupBy(*[q(c) for c in both.columns if c != "__d"])
             .agg(F.sum("__d").alias("__d"))
             .filter(F.col("__d") != 0))
    out = []
    for f in schema.fields:
        c = F.col(q(f.name))
        if isinstance(f.dataType, T.MapType):
            c = F.map_from_entries(c)
        out.append(c.cast(f.dataType).alias(f.name))
    return (delta
            .withColumn("__i", F.explode(
                F.sequence(F.lit(1), F.abs(F.col("__d")))))
            .select(*out, F.when(F.col("__d") > 0, "insert")
                    .otherwise("delete").alias("_change_type")))


def _groupable(dt) -> bool:
    """Whether Spark can group by a column of type ``dt`` (its
    ordering rule: maps, intervals and variants anywhere inside are
    not)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return all(_groupable(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _groupable(dt.elementType)
    if isinstance(dt, T.UserDefinedType):
        return _groupable(dt.sqlType())
    return not isinstance(dt, (T.MapType, T.CalendarIntervalType,
                               T.VariantType))


def consume_changes(spark: SparkSession, table_dir: str,
                    cursor_path: str,
                    backend: CommitBackend | None = None):
    """At-least-once incremental consumption: reads the delta from
    the cursor's last-acknowledged version to current, and returns
    ``(changes_df, ack)`` where calling ``ack()`` AFTER durably
    processing the batch advances the cursor (one tiny file).  A
    consumer that crashes mid-batch re-reads the same delta next
    call -- downstream must be idempotent or keyed, the same contract
    as every at-least-once feed.  First call (no cursor yet) starts
    from the FIRST committed version still on disk, i.e. the whole
    readable table surfaces as inserts."""
    committed = committed_versions(table_dir, backend=backend)
    if not committed:
        raise FileNotFoundError(
            f"{table_dir} has no committed version (_CURRENT missing)")
    cur = committed[-1]
    # the full-resend fallback is ONLY for a missing/corrupt cursor
    # FILE -- a cursor that parses but names a version absent from
    # the commit log (wrong table_dir, rewritten log) must surface
    # through read_changes, not silently re-emit the whole table
    try:
        with open(cursor_path, encoding="ascii") as fh:
            last = int(fh.read().strip())
    except (OSError, ValueError):
        last = None
    if last is not None:
        changes = read_changes(spark, table_dir, last, cur,
                               backend=backend)
    else:
        # no cursor yet: the whole readable table is the first batch.
        # read_changes(first, cur) excludes v_first's own rows, so
        # union them in as inserts.
        from pyspark.sql import functions as F

        readable = [n for n in committed
                    if os.path.isdir(os.path.join(table_dir, f"v_{n:08d}"))]
        first = readable[0] if readable else cur
        changes = (_read_resolved(spark, table_dir, first)
                   .withColumn("_change_type", F.lit("insert"))
                   .unionByName(read_changes(spark, table_dir, first,
                                             cur, backend=backend)))

    def ack() -> int:
        tmp = cursor_path + ".tmp"
        os.makedirs(os.path.dirname(cursor_path) or ".", exist_ok=True)
        with open(tmp, "w", encoding="ascii") as fh:
            fh.write(f"{cur}\n")
        os.replace(tmp, cursor_path)
        return cur

    return changes, ack


def describe_table(table_dir: str,
                   backend: CommitBackend | None = None) -> dict:
    """One-call operational summary: current version, committed
    count, readable (un-vacuumed) count, file count and on-disk bytes
    of the current version, pinned schema field names, and the
    stats-tracked columns -- everything from metadata, no data scan."""
    committed = committed_versions(table_dir, backend=backend)
    if not committed:
        return {"current": None, "committed": 0}
    cur = committed[-1]
    files = _data_files(table_dir, cur)
    st = table_schema(table_dir, cur)
    stats = _read_stats(table_dir, cur)
    dvs = _read_dvs(table_dir, cur)
    return {
        "current": cur,
        "committed": len(committed),
        "readable": sum(
            1 for n in committed
            if os.path.isdir(os.path.join(table_dir, f"v_{n:08d}"))),
        "n_files": len(files),
        "bytes": sum(os.path.getsize(os.path.join(table_dir, f))
                     for f in files
                     if os.path.exists(os.path.join(table_dir, f))),
        "schema": [f.name for f in st.fields] if st else None,
        # non-identity logical -> physical pins (column mapping);
        # empty dict for identity-marked or unmapped tables
        "column_mapping": _physical_map(st) if st else {},
        # deletion-vector load of the current version: files carrying
        # a vector and total logically-deleted rows (metadata only)
        "dv_files": len(dvs),
        "dv_rows": sum(c for _d, c in dvs.values()),
        "stats_columns": sorted({c for per in stats.values()
                                 for c in per}),
        "txns": len(_txns(table_dir, cur)),
    }


def history(table_dir: str,
            backend: CommitBackend | None = None) -> list[dict]:
    """The table's committed, still-on-disk versions, oldest first:
    ``{"version", "kind" ("snapshot"|"append"), "n_files", "txns",
    "current", "committed_at" (epoch seconds; None for lines
    predating commit timestamps)}``.  ``n_files`` counts the files a reader of that
    version scans (inherited + own for appends); ``txns`` is the
    sorted idempotence-token set carried by that version's manifest.
    Claimed-but-uncommitted dirs (never visible to any reader --
    including ones BELOW current, from superseded or crashed writers)
    are excluded via the pointer's commit log -- this is the audit
    surface for "what would read_version(n) give me", not a directory
    listing.  A :func:`compact_table` version reports as
    ``"snapshot"`` (its manifest, kept for the carried txn set,
    references no other version's files)."""
    entries = _committed_with_ts(
        (backend or _DEFAULT_BACKEND).read_pointer(table_dir))
    committed = [n for n, _ in entries]
    when = {n: cts for n, cts in entries}
    if not committed:
        return []
    cur = committed[-1]
    out: list[dict] = []
    for n in sorted(committed):
        vname = f"v_{n:08d}"
        if not os.path.isdir(os.path.join(table_dir, vname)):
            continue  # committed but vacuumed -- no longer readable
        mf = _read_manifest(table_dir, n)
        inherits = mf is not None and any(
            not rel.startswith(f"{vname}/") for rel in mf[0])
        op = _read_op(table_dir, n)
        out.append({
            "version": n,
            "kind": "append" if inherits else "snapshot",
            "n_files": len(_data_files(table_dir, n)),
            "txns": sorted(mf[1]) if mf is not None else [],
            "current": n == cur,
            "committed_at": when.get(n),
            # Delta DESCRIBE HISTORY shape: which operation committed
            # this version, with what parameters/metrics.  None for
            # legacy manifests and write_version snapshots.
            "operation": op["name"] if op else None,
            "operation_params": op.get("params") if op else None,
            "operation_metrics": op.get("metrics") if op else None,
        })
    return out


def vacuum(table_dir: str, keep_last: int = 2,
           stage_ttl_seconds: float = 6 * 3600,
           backend: CommitBackend | None = None,
           dry_run: bool = False) -> list[int]:
    """Remove crash leftovers (aged ``.stage-*`` dirs, orphan claimed
    versions) and versions older than the ``keep_last`` most recent;
    NEVER the current version.  Returns the removed version numbers.
    ``dry_run=True`` (the Delta ``VACUUM ... DRY RUN`` shape) reports
    the version numbers that WOULD be removed and touches nothing --
    crash leftovers included.

    The ``stage_ttl_seconds`` age gate protects everything a LIVE
    writer may still touch: ``.stage-*`` dirs mid-write, orphan
    ``._CURRENT.tmp.*`` pointer files, and claimed-but-uncommitted
    version dirs (a writer stalled between its claim rename and its
    pointer flip -- reaping those would let its eventual flip point
    at a deleted dir).  Set the TTL above any plausible write
    duration.  Version retention must exceed the longest reader (a
    reader holds its resolved version dir, exactly like every table
    format's vacuum contract)."""
    import time

    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1: {keep_last}")
    clog = committed_versions(table_dir, backend=backend)
    cset = set(clog)
    cur = clog[-1] if clog else None
    removed: list[int] = []
    if not os.path.isdir(table_dir):
        return removed
    now = time.time()

    def aged(p: str) -> bool:
        try:
            return now - os.path.getmtime(p) >= stage_ttl_seconds
        except OSError:
            return False
    if not dry_run:
        for entry in os.listdir(table_dir):
            full = os.path.join(table_dir, entry)
            if entry.startswith(_STAGE_PREFIX) and aged(full):
                shutil.rmtree(full, ignore_errors=True)
            elif entry.startswith(f".{_CURRENT}.tmp.") and aged(full):
                try:
                    os.remove(full)  # crashed-before-flip pointer temp
                except OSError:
                    pass
            elif entry.startswith(f"{_FLIP_LOCK}.steal.") \
                    and aged(full):
                try:
                    os.remove(full)  # killed between rename+remove
                except OSError:
                    pass
    vs = _versions(table_dir)
    # commit-log truth, not numbering: an orphan dir below current
    # (superseded claim / crashed appender) must not count toward
    # retention, or it would evict a REAL committed version earlier
    # than keep_last implies (r8 advisor finding)
    committed = [n for n in vs if n in cset]
    keep = set(committed[-keep_last:])
    if cur is not None:
        keep.add(cur)
    # manifest-append versions hold data BY REFERENCE into older
    # dirs: every dir a kept version's manifest points into must
    # survive, however old, or the kept version dangles.  One level
    # suffices -- manifests list concrete data files, never other
    # manifests.
    for n in sorted(keep):
        mf = _read_manifest(table_dir, n)
        if mf is None:
            continue
        for rel in mf[0]:
            m = _VDIR_RE.match(rel.split("/", 1)[0])
            if m:
                keep.add(int(m.group(1)))
        # deletion-vector sidecars are references into older version
        # dirs exactly like data files -- a kept version's vectors
        # must survive or its reads resurface the deleted rows
        for _f, (d, _cnt) in _read_dvs(table_dir, n).items():
            m = _VDIR_RE.match(d.split("/", 1)[0])
            if m:
                keep.add(int(m.group(1)))
    for n in vs:
        full = os.path.join(table_dir, f"v_{n:08d}")
        if n in keep:
            # the keep set MUST win over the orphan check below: a
            # kept version's manifest can reference files in a dir
            # the pointer log never recorded as committed -- e.g. a
            # legacy single-line pointer upgraded mid-chain, where
            # the log knows only the current version but its manifest
            # inherits earlier dirs.  Reaping such a dir as an
            # "orphan" would destroy the CURRENT table's data
            # (r9 review finding, reproduced).
            continue
        if n not in cset:
            # NEVER committed per the pointer log, so no reader ever
            # resolved it -- a claim superseded before its flip or a
            # crashed appender, at ANY number (orphans sit below
            # current too).  Fresh means a live writer's
            # claim-to-flip window -- spare; aged means a crashed
            # claim -- reap regardless of keep_last (no reader to
            # protect)
            if aged(full):
                if not dry_run:
                    shutil.rmtree(full, ignore_errors=True)
                removed.append(n)
            continue
        if not dry_run:
            shutil.rmtree(full, ignore_errors=True)
        removed.append(n)
    # root-level consolidated bloom indexes (io/bloom_index) of reaped
    # versions are now dead metadata -- drop them with their version
    # (one listdir for the whole removed set, matched on the same
    # name shape consolidated_candidates centralizes)
    if removed and not dry_run:
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.bloom_index import (
            consolidated_candidates,
        )

        suffixes = tuple(f"-v_{n:08d}.json" for n in removed)
        for p in consolidated_candidates(table_dir):
            if p.endswith(suffixes):
                try:
                    os.remove(p)
                except OSError:
                    pass
    return removed
