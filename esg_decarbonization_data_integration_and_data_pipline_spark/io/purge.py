"""Right-to-be-forgotten purge across a versioned table's HISTORY.

``delete_keys_version`` removes rows from the CURRENT version, but a
versioned table keeps every older version readable for time travel --
so the deleted subject's rows survive in history, which is exactly
what a GDPR/CCPA erasure request forbids.  Delta's answer is "wait
out the retention window and VACUUM" (erasure destroys time travel
for everyone); :func:`purge_keys_history` instead rewrites the
matched rows out of EVERY readable version in place, preserving the
version chain, manifests, commit timestamps, txn markers, schemas and
file-skipping stats -- time travel keeps working, minus the purged
subject.

The reference has no versioned tier at all (its pandas jobs
truncate-and-reload, e.g. jobs/csr_etl.py:157 -- erasure there is
"the next run simply drops the rows"); this operator is what that
contract becomes once history exists.

Mechanics (three crash-ordered phases over metadata + atomic swaps):

1. candidate files = the union of every readable version's data
   files, pruned by the recorded per-file [min, max] stats on the
   key (a file provably outside every purge value is untouched --
   the same pruning that makes copy-on-write merge O(slice)).
2. phase 1 -- every readable manifest DROPS its ``#stats`` /
   ``#rows`` lines for the candidates (metadata readers fall back to
   parquet footers: slower, never wrong).
3. each candidate file is rewritten WITHOUT the matched rows under
   its own physical schema and atomically ``os.replace``d -- a
   shared file (manifest inheritance) is rewritten ONCE however many
   versions reference it; a reader holding the old inode keeps a
   consistent pre-purge view.
4. phase 3 -- every readable manifest re-records fresh footer
   metadata for its candidates.

A crash at ANY point leaves the table correct: before a swap the
data is unchanged and metadata merely degraded to footer reads;
after a swap the rows are gone and metadata is degraded until a
re-run's phase 3 repairs it.  Re-running the purge is always safe
and completes any interrupted repair.

Scale shape: the key set is an erasure request -- human-scale
(thousands of subjects), so it travels as a broadcast-sized Python
set; the file rewrites are independent per file and run as one Spark
job (``parallelize(candidates).map``), each task streaming one
parquet file through pyarrow -- O(touched files) work, never
O(history x table).

Concurrency: the pointer is checked at start and end; a commit
landing mid-purge raises :class:`VersionConflictError` AFTER the
historical repair (the new version may carry stale copied metadata
for swapped files) -- re-running the purge repairs it, because the
stale stats are conservatively wide and re-candidate the files.

CDF caveat (inherent to retroactive erasure, same as Delta): a
change-feed consumer that read version n BEFORE the purge and diffs
against it afterwards sees the purge as spurious deletes.  Erasure
is retroactive by definition; re-sync consumers that must agree.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession

from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
    _DEFAULT_BACKEND,
    _ROWS_PREFIX,
    _STATS_PREFIX,
    CommitBackend,
    VersionConflictError,
    _data_files,
    _edit_manifest,
    _physical_map,
    _physical_name,
    _read_files,
    _read_stats,
    committed_versions,
    current_version,
    table_schema,
)
# phase 3 for one manifest: re-record the candidates' fresh footer
# facts (named for its place in the crash-ordered protocol)
from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
    _refresh_file_meta as _readd_meta_lines,
)


class PurgeInProgressError(Exception):
    """Another purge holds this table's purge lock."""


class ExternalFilesError(RuntimeError):
    """The purge was refused because the table references files
    outside its own root (a shallow clone -- io/clone): an in-place
    rewrite through such a reference would erase rows from the
    SOURCE table behind its owners' backs.  Purge the source table,
    or ``deep_clone`` first."""


_PURGE_LOCK = ".purge.lock"


def _acquire_purge_lock(table_dir: str, ttl_seconds: float) -> str:
    """Single-purger mutual exclusion: two overlapping purges could
    each footer-read a shared file between the other's swap and
    phase 3, leaving stale #rows/#stats with NO pointer movement to
    detect it (r10 review finding #3).  O_EXCL create; a lock older
    than ``ttl_seconds`` (a crashed purger) is stolen."""
    import time

    p = os.path.join(table_dir, _PURGE_LOCK)
    for _ in range(2):
        try:
            fd = os.open(p, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            with os.fdopen(fd, "w") as fh:
                fh.write(f"{os.getpid()} {time.time()}\n")
            return p
        except FileExistsError:
            try:
                age = time.time() - os.path.getmtime(p)
            except OSError:
                continue  # holder just released -- retry the create
            if age < ttl_seconds:
                raise PurgeInProgressError(
                    f"{table_dir} has a purge in progress "
                    f"({_PURGE_LOCK} is {age:.0f}s old); re-run when "
                    f"it finishes, or after ttl_seconds if it "
                    f"crashed") from None
            try:
                os.remove(p)  # stale: crashed purger -- steal
            except OSError:
                pass
    raise PurgeInProgressError(
        f"could not acquire {table_dir}/{_PURGE_LOCK}")


def _readable_versions(table_dir: str,
                       backend: CommitBackend) -> list[int]:
    return [n for n in committed_versions(table_dir, backend=backend)
            if os.path.isdir(os.path.join(table_dir, f"v_{n:08d}"))]


class AmbiguousKeyBindingError(ValueError):
    """The logical purge key bound MORE THAN ONE physical column
    across readable versions (rename a->b followed by re-adding a
    fresh logical ``a``): purging under the newest binding alone
    would silently leave the older column's historical values in
    place -- a partial erasure.  The caller runs one purge per
    binding, passing ``key_version`` to pin the schema that defines
    each intended column."""


def _key_physical(table_dir: str, versions: list[int],
                  key: str, key_version: int | None = None) -> str:
    """The stable PHYSICAL parquet column behind logical ``key`` --
    resolved across EVERY readable schema that carries the logical
    name (a purge may lawfully target a column already dropped from
    current).  Identity for unmapped/legacy tables.  Physical names
    are never reused within a table (versioned.py's commit guard),
    so filtering every historical file on this one name is complete
    across renames -- but a logical name REBOUND to a second
    physical column (rename + re-add) makes a single-name purge a
    partial erasure, so that raises
    :class:`AmbiguousKeyBindingError` instead of guessing
    (r12 ADVICE).  ``key_version`` pins the schema that defines the
    intended column -- the explicit disambiguator for rebound
    names."""
    if key_version is not None:
        st = table_schema(table_dir, key_version)
        if st is None or key not in st.fieldNames():
            raise ValueError(
                f"key {key!r} is not in v_{key_version}'s schema "
                f"of {table_dir}")
        return _physical_name(st, key)
    bindings: dict[str, int] = {}  # physical -> newest version seen
    for n in versions:
        st = table_schema(table_dir, n)
        if st is not None and key in st.fieldNames():
            bindings[_physical_name(st, key)] = n
    if len(bindings) > 1:
        described = []
        for phys, newest in sorted(bindings.items(),
                                   key=lambda kv: kv[1]):
            logi = _key_logicals(table_dir, versions, phys)
            cur = next((logi[n] for n in reversed(versions)
                        if logi.get(n) is not None), key)
            described.append(
                f"physical {phys!r} (newest schema v_{newest}, "
                f"current logical name {cur!r})")
        raise AmbiguousKeyBindingError(
            f"logical key {key!r} of {table_dir} is bound to "
            f"{len(bindings)} physical columns across readable "
            f"versions: {'; '.join(described)}. A single-name purge "
            f"would erase only one of them -- run one "
            f"purge_keys_history per binding, passing "
            f"key_version=<n> to pin the schema that defines each "
            f"intended column")
    if bindings:
        return next(iter(bindings))
    return key


def _key_logicals(table_dir: str, versions: list[int],
                  phys: str) -> dict[int, str | None]:
    """Per readable version, the LOGICAL name that version's pinned
    schema uses for physical column ``phys`` (the purge subject under
    renames: manifests speak each version's logical names).  None =
    the column does not exist in that version's schema; identity for
    legacy versions without a pinned schema."""
    out: dict[int, str | None] = {}
    for n in versions:
        st = table_schema(table_dir, n)
        if st is None:
            out[n] = phys
            continue
        pm = _physical_map(st)
        inv = {pm.get(f.name, f.name): f.name for f in st.fields}
        out[n] = inv.get(phys)
    return out


def _candidate_files(table_dir: str, versions: list[int],
                     key: str, values: list,
                     key_version: int | None = None
                     ) -> tuple[list[str], dict[int, list[str]]]:
    """(union of maybe-containing files across ``versions``,
    per-version candidate lists).  A file with recorded stats on
    the key in ANY manifest is pruned by them (stats are inherited
    verbatim, so every manifest agrees); a file with no recorded
    stats anywhere is conservatively a candidate.  Stats are keyed
    by each version's own LOGICAL name for the key (it changes
    across renames), resolved through the stable physical name."""
    phys = _key_physical(table_dir, versions, key, key_version)
    logicals = _key_logicals(table_dir, versions, phys)
    stats: dict[str, tuple] = {}
    per_version_files: dict[int, list[str]] = {}
    for n in versions:
        per_version_files[n] = _data_files(table_dir, n)
        k_n = logicals[n]
        if k_n is None:
            continue
        for f, cols in _read_stats(table_dir, n).items():
            if k_n in cols:
                stats[f] = cols[k_n]

    def maybe(f: str) -> bool:
        if f not in stats:
            return True
        lo, hi = stats[f]
        return any(lo <= v <= hi for v in values)

    union: list[str] = []
    seen: set[str] = set()
    for n in versions:
        for f in per_version_files[n]:
            if f not in seen:
                seen.add(f)
                if maybe(f):
                    union.append(f)
    cand = set(union)
    per_version = {n: [f for f in fs if f in cand]
                   for n, fs in per_version_files.items()}
    return union, per_version


def _rewrite_file(abs_path: str, key: str,
                  values: frozenset) -> int:
    """Rewrite one parquet file without the matched rows, atomically,
    preserving its physical schema; returns rows removed (0 = file
    untouched).  Runs inside an executor task.

    Deletion-vector coordination: BEFORE the swap, the task journals
    the removed rows' ORIGINAL file-relative indices plus the old and
    new physical rowcounts into ``.dvremap-<name>.json`` beside the
    file.  Sidecars referencing the file must shift their positions
    past the removed rows; the journal survives a crash at any point,
    and the driver-side :func:`_apply_dv_remap_journals` applies it
    idempotently (each sidecar carries the rowcount it was encoded
    against, so "already remapped" vs "pending" is decidable -- the
    crash-safety review finding r12e-1)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(abs_path)
    if key not in t.schema.names:
        # pre-evolution file: its rows read back NULL for the key and
        # purge values are non-null by contract -- nothing to match
        return 0
    mask = pc.fill_null(pc.is_in(t.column(key),
                                 value_set=pa.array(sorted(values))),
                        False)
    n_hit = pc.sum(mask).as_py() or 0
    if n_hit == 0:
        return 0
    purged_pos = [int(i) for i in
                  pc.indices_nonzero(mask).to_pylist()]
    kept = t.filter(pc.invert(mask))
    d, base = os.path.split(abs_path)
    jrn = os.path.join(d, f".dvremap-{base}.json")
    jtmp = jrn + ".tmp"
    with open(jtmp, "w", encoding="ascii") as fh:
        json.dump({"old": t.num_rows, "new": kept.num_rows,
                   "pos": purged_pos}, fh)
    os.replace(jtmp, jrn)
    tmp = os.path.join(d, f".purge-tmp-{base}")
    pq.write_table(kept, tmp)
    # Sidecar cleanup happens BEFORE the swap (r10 ADVICE, medium): a
    # crash between a swap and a trailing cleanup would leave the
    # purged file behind a stale Hadoop .crc (local-FS reads fail on
    # the mismatch) and bloom sidecars retaining hashed evidence of
    # the erased subject -- and a re-run could never repair either,
    # because the rows are already gone and the n_hit == 0 early
    # return above skips this block.  Deleting first is crash-safe in
    # both directions: a crash after the deletes but before the swap
    # leaves the data file unchanged with its sidecars gone, which
    # only degrades (no checksum verification, conservative bloom
    # reads) and the re-run's n_hit > 0 completes the swap.
    #
    # Hadoop's ChecksumFileSystem keeps a ".<name>.crc" sidecar for
    # files Spark wrote; it would no longer match the swapped bytes
    # -- removing it disables verification for this file (the
    # standard out-of-band-rewrite remedy; object stores have none).
    try:
        os.remove(os.path.join(d, f".{base}.crc"))
    except OSError:
        pass
    # bloom point-lookup sidecars of the rewritten file: row removal
    # keeps them false-negative-free (a stale bloom is a superset),
    # but they'd retain HASHED EVIDENCE of the erased subject --
    # erasure means the sidecars go too (rebuild_bloom_index later)
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.bloom_index import (
        sidecar_candidates,
    )

    for sidecar in sidecar_candidates(abs_path):
        try:
            os.remove(sidecar)
        except OSError:
            pass
    os.replace(tmp, abs_path)
    return n_hit


def _apply_dv_remap_journals(table_dir: str,
                             versions: list[int]) -> int:
    """Apply every pending deletion-vector remap journal, idempotently
    (see :func:`_rewrite_file`): for each journaled data file whose
    swap has landed (footer rowcount == journal "new"), every
    referencing sidecar still encoded against the OLD rowcount drops
    the purged positions and shifts the rest; manifests' #dv counts
    are then fixed and fully-applied journals removed.  A journal
    whose swap never landed (crash before the replace) is left for
    the re-run's rewrite to supersede.  Returns sidecars remapped."""
    import bisect

    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        _data_files,
        _decode_dv_full,
        _encode_dv,
        _file_rowmeta,
        _read_dvs,
    )

    journals: dict[str, tuple[str, int, int, list[int]]] = {}
    seen: set[str] = set()
    for n in versions:
        for f in _data_files(table_dir, n):
            if f in seen:
                continue
            seen.add(f)
            d, base = os.path.split(os.path.join(table_dir, f))
            jp = os.path.join(d, f".dvremap-{base}.json")
            try:
                with open(jp, encoding="ascii") as fh:
                    rec = json.load(fh)
                journals[f] = (jp, int(rec["old"]), int(rec["new"]),
                               [int(x) for x in rec["pos"]])
            except (OSError, ValueError, KeyError):
                continue
    if not journals:
        return 0
    swap_done: dict[str, bool] = {}
    for f, (_jp, _old, new, _pos) in journals.items():
        try:
            swap_done[f] = _file_rowmeta(
                os.path.join(table_dir, f), ())["n"] == new
        except OSError:
            swap_done[f] = False
    remapped = 0
    pending: set[str] = set()
    new_counts: dict[str, int] = {}
    handled: set[str] = set()
    for n in versions:
        for f, (d_rel, _cnt) in _read_dvs(table_dir, n).items():
            if f not in journals or d_rel in handled:
                continue
            handled.add(d_rel)
            jp, old, new, P = journals[f]
            if not swap_done[f]:
                pending.add(f)
                continue
            dpath = os.path.join(table_dir, d_rel)
            try:
                with open(dpath, "rb") as fh:
                    positions, rec_n = _decode_dv_full(fh.read())
            except (OSError, ValueError):
                pending.add(f)  # unreadable: leave for fsck
                continue
            if rec_n == new:
                new_counts[d_rel] = len(positions)
                continue  # already remapped by an earlier run
            if rec_n != old:
                pending.add(f)  # unknown era: never guess
                continue
            pset = set(P)
            out = [q - bisect.bisect_left(P, q)
                   for q in positions if q not in pset]
            tmp = dpath + ".remap-tmp"
            with open(tmp, "wb") as fh:
                fh.write(_encode_dv(out, new))
            os.replace(tmp, dpath)
            new_counts[d_rel] = len(out)
            remapped += 1
    if new_counts:
        for n in versions:
            _update_dv_counts(table_dir, n, new_counts)
    for f, (jp, _old, _new, _pos) in journals.items():
        if f not in pending and swap_done[f]:
            try:
                os.remove(jp)
            except OSError:
                pass
    return remapped


def _strip_meta_lines(table_dir: str, n: int,
                      files: set[str]) -> dict[str, set[str]]:
    """Phase 1 for one manifest: drop the #stats/#rows lines whose
    file is in ``files``; returns the per-file column set those lines
    tracked (so phase 3 re-records the same surface).  A manifest
    with no such line is left unwritten."""
    tracked: dict[str, set[str]] = {}

    def edit(lines: list[str]) -> list[str] | None:
        kept: list[str] = []
        for line in lines:
            if line.startswith((_STATS_PREFIX, _ROWS_PREFIX)):
                rec = json.loads(line.partition(" ")[2])
                if rec["f"] in files:
                    tracked.setdefault(rec["f"], set()).update(
                        [rec["c"]] if line.startswith(_STATS_PREFIX)
                        else rec.get("nn", {}).keys())
                    continue
            kept.append(line)
        return kept if tracked else None

    _edit_manifest(table_dir, n, edit)
    return tracked


def _update_dv_counts(table_dir: str, n: int,
                      new_counts: dict[str, int]) -> None:
    """Fix the ``#dv`` lines' recorded counts in one manifest after a
    purge remapped the named sidecars (a manifest whose counts are
    already right is left unwritten)."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import _DV_PREFIX

    def edit(lines: list[str]) -> list[str] | None:
        out = []
        changed = False
        for line in lines:
            if line.startswith(_DV_PREFIX):
                rec = json.loads(line[len(_DV_PREFIX):])
                if (rec["d"] in new_counts
                        and rec["n"] != new_counts[rec["d"]]):
                    rec["n"] = new_counts[rec["d"]]
                    line = _DV_PREFIX + json.dumps(rec, sort_keys=True)
                    changed = True
            out.append(line)
        return out if changed else None

    _edit_manifest(table_dir, n, edit)


def purge_keys_history(spark: SparkSession, table_dir: str, key: str,
                       values,
                       backend: CommitBackend | None = None,
                       lock_ttl_seconds: float = 6 * 3600,
                       key_version: int | None = None) -> dict:
    """Physically remove every row whose ``key`` is in ``values``
    from EVERY readable version of the table (see the module doc for
    the crash-ordered protocol).  ``values`` must be non-null
    primitives (an erasure request is control-plane-sized by nature).
    One purge per table at a time (:class:`PurgeInProgressError`;
    ``lock_ttl_seconds`` bounds a crashed purger's lock).  Returns
    ``{"rows_purged", "files_rewritten", "files_candidates",
    "versions"}``.

    ``key_version``: disambiguator for a logical key name bound to
    more than one physical column across readable versions (rename +
    re-add) -- resolution under that version's schema; without it
    such a table raises :class:`AmbiguousKeyBindingError` rather
    than partially erasing."""
    backend = backend or _DEFAULT_BACKEND
    vals = list(values)
    if not vals:
        raise ValueError("purge needs at least one key value")
    if any(v is None for v in vals):
        raise ValueError(
            "purge values must be non-null (NULL keys identify no "
            "subject; delete them with a predicate merge instead)")
    start_cur = current_version(table_dir, backend=backend)
    if start_cur is None:
        raise FileNotFoundError(
            f"{table_dir} has no committed version")
    lock = _acquire_purge_lock(table_dir, lock_ttl_seconds)
    try:
        versions = _readable_versions(table_dir, backend)
        # recover any deletion-vector remap a crashed purge left
        # half-applied BEFORE selecting candidates (idempotent)
        _apply_dv_remap_journals(table_dir, versions)
        union, _per_version = _candidate_files(table_dir, versions,
                                               key, vals,
                                               key_version)
        if not union:
            # nothing can match (stats prove it): no metadata strip,
            # no manifest churn -- the common sweeping-many-tables
            # no-op costs only the metadata reads above
            return {"rows_purged": 0, "files_rewritten": 0,
                    "files_candidates": 0, "versions": versions}
        abs_root = os.path.abspath(table_dir)
        external = [f for f in union
                    if not os.path.abspath(os.path.join(abs_root, f))
                    .startswith(abs_root + os.sep)]
        if external:
            # a shallow clone (io/clone) references the SOURCE's
            # files by path; rewriting them in place would erase rows
            # from the source table too.  Refuse BEFORE phase 1 so
            # the clone's manifests are untouched.
            raise ExternalFilesError(
                f"purge on {table_dir} would rewrite files outside "
                f"the table root (e.g. {external[0]}): this is a "
                f"shallow clone -- purge the source table, or "
                f"deep_clone first")
        # consolidated bloom indexes (io/bloom_index) aggregate the
        # per-file sidecars at the table root and would retain hashed
        # evidence of the erased subject after the per-file sidecars
        # are deleted -- drop them all BEFORE any rewrite, the same
        # crash ordering as the per-file deletes inside _rewrite_file
        # (a crash after this but before the rewrites only degrades
        # probes to the per-file path)
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.bloom_index import (
            consolidated_candidates,
        )

        for idx_path in consolidated_candidates(table_dir):
            try:
                os.remove(idx_path)
            except OSError:
                pass
        # phase 1: candidate metadata degrades to footer truth.
        # tracked columns stay PER VERSION -- each manifest records
        # stats under that version's own logical names (renames
        # change them)
        tracked: dict[int, dict[str, set[str]]] = {}
        for n in versions:
            tracked[n] = _strip_meta_lines(table_dir, n, set(union))
        # phase 2: independent per-file rewrites, one Spark job (each
        # task streams one file through pyarrow; local == executors).
        # Files speak PHYSICAL names: filter on the key's stable
        # physical column, which is what every file ever written
        # carries regardless of renames since.  (Resolved here once;
        # _candidate_files resolved its own copy for the stats prune
        # before any manifest was touched.)
        phys = _key_physical(table_dir, versions, key, key_version)
        vset = frozenset(vals)
        sc = spark.sparkContext
        purged_counts = (
            sc.parallelize(union, len(union))
              .map(lambda rel: (rel, _rewrite_file(
                  os.path.join(abs_root, rel), phys, vset)))
              .collect())
        rows_purged = sum(c for _, c in purged_counts)
        rewritten = sorted(rel for rel, c in purged_counts if c > 0)
        # deletion-vector remap: each rewrite journaled its removed
        # positions BEFORE its swap; apply the journals (idempotent,
        # crash-recoverable -- a re-run or the next purge completes
        # any half-applied remap)
        _apply_dv_remap_journals(table_dir, versions)
        # phase 3: re-record fresh footer metadata for every
        # candidate (unchanged files get identical lines back).
        # Footers are read ONCE per file under the union of PHYSICAL
        # column names; _readd_meta_lines translates them back to
        # each version's logical names.
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import _file_meta

        to_phys: dict[int, dict[str, str]] = {}
        for n in versions:
            st_n = table_schema(table_dir, n)
            to_phys[n] = _physical_map(st_n) if st_n is not None \
                else {}
        phys_cols: dict[str, set[str]] = {rel: set() for rel in union}
        for n in versions:
            pm = to_phys[n]
            for f, cols in tracked[n].items():
                phys_cols[f].update(pm.get(c, c) for c in cols)
        for rel in union:
            if not phys_cols[rel]:
                phys_cols[rel] = {phys}
        fresh_phys = {rel: _file_meta(os.path.join(abs_root, rel),
                                      sorted(phys_cols[rel]))
                      for rel in union}
        for n in versions:
            _readd_meta_lines(table_dir, n, fresh_phys)
    finally:
        try:
            os.remove(lock)
        except OSError:
            pass
    end_cur = current_version(table_dir, backend=backend)
    if end_cur != start_cur:
        raise VersionConflictError(
            f"{table_dir} advanced from v_{start_cur:08d} to "
            f"{'v_%08d' % end_cur if end_cur is not None else 'none'} "
            f"during the purge; the new version may carry stale "
            f"copied metadata for the rewritten files -- re-run "
            f"purge_keys_history (history is already repaired; the "
            f"re-run re-candidates via the stale-but-wide stats and "
            f"fixes the new version's records)")
    return {"rows_purged": rows_purged,
            "files_rewritten": len(rewritten),
            "files_candidates": len(union),
            "versions": versions}


def count_keys_all_versions(spark: SparkSession, table_dir: str,
                            key: str, values,
                            backend: CommitBackend | None = None,
                            key_version: int | None = None,
                            ) -> dict[int, int]:
    """Erasure verification: per readable version, how many rows
    still match ``values`` -- the audit a DPO runs after
    :func:`purge_keys_history` (all-zero = forgotten).  Scans only
    the stats-pruned candidate files of each version -- one scan per
    version, a shared file read once per referencing version -- and
    all versions in ONE Spark job: one count keyed by version.  Each
    version filters on its own logical name for the subject column;
    a version whose schema or files lack it counts zero."""
    from pyspark.sql import functions as F

    backend = backend or _DEFAULT_BACKEND
    vals = list(values)
    if not vals or any(v is None for v in vals):
        raise ValueError("values must be non-empty and non-null")
    versions = _readable_versions(table_dir, backend)
    _union, per_version = _candidate_files(table_dir, versions, key,
                                           vals, key_version)
    phys = _key_physical(table_dir, versions, key, key_version)
    logicals = _key_logicals(table_dir, versions, phys)
    out: dict[int, int] = {n: 0 for n in versions}
    frames = []
    for n in versions:
        # the version's OWN logical name for the subject column
        # (renames change it); None = column absent from that
        # version's schema, so no row can match
        k_n = logicals[n]
        if not per_version[n] or k_n is None:
            continue
        df = _read_files(spark, table_dir, per_version[n],
                         table_schema(table_dir, n))
        if k_n not in df.columns:
            # pre-evolution version (pinned schema without the
            # column) or a schema-less one whose files lack it
            continue
        frames.append(df.filter(df[k_n].isin(vals))
                        .select(F.lit(n).alias("__v")))
    if frames:
        u = frames[0]
        for f in frames[1:]:
            u = u.unionByName(f)
        for r in u.groupBy("__v").count().collect():
            out[int(r["__v"])] = int(r["count"])
    return out


def assert_keys_absent(spark: SparkSession, table_dir: str, key: str,
                       values,
                       backend: CommitBackend | None = None,
                       key_version: int | None = None) -> None:
    """Raise if any readable version still holds a matching row."""
    leftover = {n: c for n, c in count_keys_all_versions(
        spark, table_dir, key, values, backend=backend,
        key_version=key_version).items() if c}
    if leftover:
        raise AssertionError(
            f"purge incomplete for {table_dir}: matching rows remain "
            f"in versions {leftover}")
