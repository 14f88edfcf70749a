"""Table cloning for versioned tables (the Delta ``CLONE`` shape).

``shallow_clone`` creates a NEW table whose first version references
the source version's data files BY PATH -- zero bytes copied, O(1)
in table size -- after which the two tables diverge independently:
every mutation is copy-on-write, so a merge/delete/compaction on the
clone writes replacement files into the CLONE's own version dirs and
the source bytes are never touched (and vice versa).  The canonical
uses are dev/test sandboxes over production data, point-in-time
forks (``n=`` clones a historical version), and what-if pipelines.

``deep_clone`` copies the referenced files into the clone (one
executor task per file), yielding a fully self-contained table with
no dependency on the source -- archival, cross-environment promotion.

What carries over (both kinds): the source version's pinned schema,
its per-file stats/rowcount metadata (file-skipping works on the
clone immediately), its txn markers (a streaming writer's replay
detection keeps working against the clone -- the Delta
``CLONE``-carries-appIds semantics), and the table's declared
write-time constraints (``_CONSTRAINTS.json``), because a clone that
silently dropped its contract would admit rows the source refuses.
What does NOT: the source's OTHER versions (the clone's history
starts at v1 -- time travel beyond the clone point belongs to the
source), and bloom sidecars need no copying at all for shallow
clones (they live beside the physical files, so the clone's
point lookups find them by path).  The flip side: building a bloom
index THROUGH a shallow clone writes sidecars beside the SOURCE
files -- benign (byte-identical to what the source would build, and
immediately shared by both tables) but it does require the source
dir to be writable; build on the source when it is not.

Shallow-clone caveats, inherent and documented (same as Delta's):

- ``vacuum`` on the SOURCE can reap files a shallow clone still
  references -- retention on the source must outlive its clones, or
  ``deep_clone`` first.  ``vacuum`` on the CLONE only ever touches
  the clone's own version dirs, so the source is safe by
  construction.
- :func:`~.purge.purge_keys_history` rewrites files IN PLACE, which
  through a shallow clone would erase rows from the SOURCE table
  behind its owners' backs -- purge therefore REFUSES tables whose
  candidate files resolve outside the table root
  (:class:`~.purge.ExternalFilesError`); purge the source, or
  deep-clone first.
- deletion vectors (io/versioned ``#dv``) travel by REFERENCE in a
  shallow clone, like the data files.  A purge on the SOURCE remaps
  the shared sidecars in place but only fixes the SOURCE manifests'
  recorded counts -- the clone's ``#dv`` lines go stale.  The
  metadata tiers defend themselves (r13): ``table_rowcount``
  cross-checks each sidecar's 12-byte rowcount witness against the
  manifest's physical count and re-derives both numbers from the
  sidecar on mismatch, so clone-side counts stay correct; reads were
  already correct (positions are decoded fresh).  ``verify_table``
  still flags the stale manifest lines for repair, and deep_clone
  remains the isolation-from-source-maintenance remedy.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession

from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
    _DEFAULT_BACKEND,
    _STAGE_PREFIX,
    _TXN_PREFIX,
    CommitBackend,
    _data_files,
    _dv_lines,
    _next_pointer,
    _op_line,
    _read_dvs,
    _read_rowmeta,
    _read_stats,
    _rows_lines,
    _stats_lines,
    _txns,
    _write_manifest,
    _write_schema_file,
    current_version,
    table_schema,
)


def _resolve_source(spark, src_dir: str, n, backend):
    cur = current_version(src_dir, backend=backend)
    if cur is None:
        raise FileNotFoundError(
            f"{src_dir} has no committed version to clone")
    if n is None:
        n = cur
    if not os.path.isdir(os.path.join(src_dir, f"v_{n:08d}")):
        raise ValueError(
            f"v_{n} of {src_dir} is not readable (never committed "
            f"or vacuumed)")
    st = table_schema(src_dir, n)
    if st is None:
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import _read_resolved

        st = _read_resolved(spark, src_dir, n).schema
    return n, st


def _fresh_dst(dst_dir: str, backend) -> None:
    if current_version(dst_dir, backend=backend) is not None:
        raise ValueError(
            f"{dst_dir} already has a committed version -- clone "
            f"targets must be fresh tables")


def _clone_stage_dir(dst_dir: str) -> str:
    """A PRIVATE staging dir for one clone attempt.  Reuses
    versioned's ``.stage-`` prefix (pid+uuid) so a crashed clone's
    leftover staging dir is reaped by the same aged-stage sweep
    ``vacuum`` already runs."""
    import uuid

    staged = os.path.join(
        dst_dir, f"{_STAGE_PREFIX}{os.getpid()}-{uuid.uuid4().hex}")
    os.makedirs(staged)
    return staged


def _commit_v1(dst_dir: str, schema, lines: list[str],
               backend: CommitBackend, staged: str | None = None) -> int:
    # Stage into a PRIVATE temp dir and claim v_00000001 by atomic
    # rename -- never write into the literal version dir (r11
    # advisor): two clones racing a fresh dst would both populate
    # v_00000001 in place, the second overwriting the first's
    # manifest/schema, and the loser's cleanup rmtree would then
    # delete the WINNER's committed data.  With rename-claiming the
    # loser's rename fails (EEXIST/ENOTEMPTY -- the winner's dir is
    # never empty: schema + manifest precede the rename) and it only
    # ever reaps its OWN staging dir.  ``staged``: a dir from
    # :func:`_clone_stage_dir` that deep_clone already filled with
    # data files; omitted for the zero-copy shallow manifest.
    import errno

    if staged is None:
        staged = _clone_stage_dir(dst_dir)
    vdir = os.path.join(dst_dir, "v_00000001")
    try:
        _write_schema_file(staged, schema)
        _write_manifest(staged, lines)
        try:
            os.rename(staged, vdir)
        except OSError as exc:
            if exc.errno not in (errno.EEXIST, errno.ENOTEMPTY):
                raise
            raise ValueError(
                f"{dst_dir} gained a commit while cloning -- clone "
                f"targets must be fresh tables")
    except BaseException:
        shutil.rmtree(staged, ignore_errors=True)
        raise
    # the rename succeeded, so this process owns v_00000001: no other
    # committer can claim it (their rename fails on the non-empty
    # target), which makes the conflict cleanup below safe.
    raw = backend.read_pointer(dst_dir)
    if raw is not None or not backend.try_commit(
            dst_dir, _next_pointer(None, "v_00000001"), None):
        shutil.rmtree(vdir, ignore_errors=True)
        raise ValueError(
            f"{dst_dir} gained a commit while cloning -- clone "
            f"targets must be fresh tables")
    return 1


def _copy_constraints(src_dir: str, dst_dir: str) -> None:
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.constraints import _FILE

    src = os.path.join(src_dir, _FILE)
    if os.path.exists(src):
        shutil.copyfile(src, os.path.join(dst_dir, _FILE))


def shallow_clone(spark: SparkSession, src_dir: str, dst_dir: str,
                  n: int | None = None,
                  backend: CommitBackend | None = None) -> int:
    """Zero-copy clone of source version ``n`` (default: current)
    into the fresh table ``dst_dir``; returns the clone's version
    (always 1).  See the module doc for caveats."""
    backend = backend or _DEFAULT_BACKEND
    n, st = _resolve_source(spark, src_dir, n, backend)
    src_abs, dst_abs = os.path.abspath(src_dir), os.path.abspath(dst_dir)
    if src_abs == dst_abs:
        raise ValueError("cannot clone a table onto itself")
    os.makedirs(dst_dir, exist_ok=True)
    _fresh_dst(dst_dir, backend)

    def ref(f: str) -> str:
        return os.path.relpath(os.path.join(src_abs, f), dst_abs)

    files = _data_files(src_dir, n)
    stats = {ref(f): c for f, c in _read_stats(src_dir, n).items()
             if f in set(files)}
    rows = {ref(f): m for f, m in _read_rowmeta(src_dir, n).items()
            if f in set(files)}
    # deletion vectors travel by reference like the data files (the
    # sidecars are immutable; the source's purge remaps them in
    # place, which the clone then sees too -- shared-bytes semantics,
    # same as the data)
    dvs = {ref(f): (ref(d), cnt)
           for f, (d, cnt) in _read_dvs(src_dir, n).items()
           if f in set(files)}
    lines = ([_op_line("CLONE", {"source_version": n,
                                 "deep": False})]
             + [_TXN_PREFIX + t for t in sorted(_txns(src_dir, n))]
             + _stats_lines(stats) + _rows_lines(rows)
             + _dv_lines(dvs)
             + [ref(f) for f in files])
    v = _commit_v1(dst_dir, st, lines, backend)
    _copy_constraints(src_dir, dst_dir)
    return v


def deep_clone(spark: SparkSession, src_dir: str, dst_dir: str,
               n: int | None = None,
               backend: CommitBackend | None = None) -> int:
    """Physical clone of source version ``n`` (default: current): the
    referenced files are COPIED into the clone's v_00000001 (one
    executor task per file), so the result has no dependency on the
    source -- safe to vacuum/purge/delete the source afterwards.
    Returns the clone's version (always 1)."""
    backend = backend or _DEFAULT_BACKEND
    n, st = _resolve_source(spark, src_dir, n, backend)
    src_abs, dst_abs = os.path.abspath(src_dir), os.path.abspath(dst_dir)
    if src_abs == dst_abs:
        raise ValueError("cannot clone a table onto itself")
    os.makedirs(dst_dir, exist_ok=True)
    _fresh_dst(dst_dir, backend)
    files = _data_files(src_dir, n)
    # flatten into v_00000001; spark part names carry a per-job uuid
    # so collisions are theoretical, but guard anyway with an index
    # prefix on the second occurrence
    seen: dict[str, int] = {}
    names: list[tuple[str, str]] = []
    for f in files:
        base = os.path.basename(f)
        k = seen.get(base, 0)
        seen[base] = k + 1
        names.append((f, base if k == 0 else f"c{k}-{base}"))
    # data files are copied into the PRIVATE staging dir (executor-
    # parallel) and only reach v_00000001 through _commit_v1's atomic
    # rename-claim -- the manifest's v_00000001/ prefixes become true
    # at that moment
    staged = _clone_stage_dir(dst_dir)
    try:
        rename = dict(names)
        # deletion-vector sidecars are copied too: a deep clone must
        # reproduce the source's LOGICAL rows with zero dependency on
        # the source's dirs
        src_dvs = {f: (d, cnt)
                   for f, (d, cnt) in _read_dvs(src_dir, n).items()
                   if f in rename}
        dv_names = {f: f"dv{i}-{os.path.basename(d)}"
                    for i, (f, (d, _c))
                    in enumerate(sorted(src_dvs.items()))}
        pairs = [(os.path.join(src_abs, f), os.path.join(staged, name))
                 for f, name in names]
        pairs += [(os.path.join(src_abs, src_dvs[f][0]),
                   os.path.join(staged, dv_names[f]))
                  for f in src_dvs]
        if pairs:
            spark.sparkContext.parallelize(pairs, len(pairs)).foreach(
                lambda p: shutil.copyfile(p[0], p[1]))
        stats = {f"v_00000001/{rename[f]}": c
                 for f, c in _read_stats(src_dir, n).items()
                 if f in rename}
        rows = {f"v_00000001/{rename[f]}": m
                for f, m in _read_rowmeta(src_dir, n).items()
                if f in rename}
        dvs = {f"v_00000001/{rename[f]}":
               (f"v_00000001/{dv_names[f]}", src_dvs[f][1])
               for f in src_dvs}
        lines = ([_op_line("CLONE", {"source_version": n,
                                     "deep": True})]
                 + [_TXN_PREFIX + t for t in sorted(_txns(src_dir, n))]
                 + _stats_lines(stats) + _rows_lines(rows)
                 + _dv_lines(dvs)
                 + [f"v_00000001/{name}" for _f, name in names])
    except BaseException:
        shutil.rmtree(staged, ignore_errors=True)
        raise
    v = _commit_v1(dst_dir, st, lines, backend, staged=staged)
    _copy_constraints(src_dir, dst_dir)
    return v
