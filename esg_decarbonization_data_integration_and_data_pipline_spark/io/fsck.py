"""Integrity verification (fsck) for versioned tables.

A versioned table's correctness rests on invariants that nothing
re-checks during normal reads: every manifest-listed file exists,
the recorded per-file rowcounts/null-counts match the parquet
footers (metadata-answered count(*) / not_null audits depend on
them), and the recorded min/max stats CONTAIN the footer truth
(file skipping depends on them -- stats may be conservatively WIDE,
e.g. after a purge re-candidates files, but a stats range NARROWER
than the data silently drops rows from pruned reads, the worst
corruption class).  Bit rot, a partial restore from backup, manual
tampering, or a bug all break these silently.

:func:`verify_table` re-derives the truth from the parquet footers
(one executor task per unique physical file -- files shared across
versions by manifest inheritance are opened ONCE) and compares every
readable version's manifest records against it.  ``deep=True`` adds
a full data read per file (rowcount by scan), catching body
corruption that leaves the footer intact.

The report is data, not an exception: orchestration decides whether
a finding is fatal.  ``ok`` is True iff no finding in any ERROR
category; external file references (a shallow clone -- io/clone) and
unreferenced files awaiting vacuum are informational, not errors.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
    _DEFAULT_BACKEND,
    CommitBackend,
    _data_files,
    _decode_dv_full,
    _physical_map,
    _read_dvs,
    _read_rowmeta,
    _read_stats,
    _refresh_file_meta,
    committed_versions,
    current_version,
    table_schema,
)

# numeric/bool footer stats are exact; string min/max may be
# writer-truncated, so containment there would false-positive
_EXACT_STAT_KINDS = ("int8", "int16", "int32", "int64", "uint8",
                     "uint16", "uint32", "uint64", "float", "double",
                     "bool")


def _file_facts(abs_path: str) -> dict:
    """Footer truth for one file (executor task): rowcount and exact
    per-column (min, max, null_count) where parquet records them."""
    import pyarrow.parquet as pq

    try:
        pf = pq.ParquetFile(abs_path)
    except Exception as exc:  # noqa: BLE001 -- unreadable IS the finding
        return {"error": f"{type(exc).__name__}: {exc}"[:200]}
    md = pf.metadata
    cols: dict = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            c = g.column(ci)
            name = c.path_in_schema
            kind = str(pf.schema_arrow.field(name).type) \
                if name in pf.schema_arrow.names else "?"
            st = c.statistics
            lo = hi = nn = None
            if st is not None:
                nn = st.null_count if st.has_null_count else None
                if st.has_min_max and kind in _EXACT_STAT_KINDS:
                    lo, hi = st.min, st.max
            prev = cols.get(name)
            if prev is None:
                cols[name] = [lo, hi, nn]
            else:
                if lo is not None and prev[0] is not None:
                    prev[0] = min(prev[0], lo)
                    prev[1] = max(prev[1], hi)
                else:
                    prev[0] = prev[1] = None
                prev[2] = (None if nn is None or prev[2] is None
                           else prev[2] + nn)
    return {"n_rows": md.num_rows, "cols": cols}


def verify_table(spark: SparkSession, table_dir: str,
                 n: int | None = None, deep: bool = False,
                 backend: CommitBackend | None = None) -> dict:
    """Verify version ``n`` (default: every readable version) against
    footer truth.  Returns::

        {"ok": bool,
         "versions": {v: {"missing_files": [...],     # ERROR
                          "unreadable_files": [...],  # ERROR
                          "rowcount_mismatch": [...], # ERROR
                          "nullcount_mismatch": [...],# ERROR
                          "stats_too_narrow": [...],  # ERROR
                          "deep_rowcount_mismatch": [...],  # ERROR
                          "external_refs": int,       # info
                          "n_files": int}},
         "unreferenced_files": [...]}                 # info

    Footer facts are computed ONCE per unique physical file in one
    executor-parallel job; ``deep`` adds a second job that re-counts
    every file's rows by scan."""
    backend = backend or _DEFAULT_BACKEND
    if n is not None:
        versions = [n]
    else:
        versions = [v for v in committed_versions(table_dir,
                                                  backend=backend)
                    if os.path.isdir(os.path.join(table_dir,
                                                  f"v_{v:08d}"))]
    root = os.path.abspath(table_dir)
    per_version_files = {v: _data_files(table_dir, v)
                         for v in versions}
    uniq = sorted({f for fs in per_version_files.values() for f in fs})
    present = [f for f in uniq
               if os.path.exists(os.path.join(root, f))]
    facts: dict[str, dict] = {}
    if present:
        sc = spark.sparkContext
        pairs = (sc.parallelize(present, len(present))
                 .map(lambda rel: (rel, _file_facts(
                     os.path.join(root, rel)))).collect())
        facts = dict(pairs)
    deep_counts: dict[str, int] = {}
    if deep and present:
        def _scan_count(rel: str) -> tuple[str, int]:
            import pyarrow.parquet as pq

            try:
                t = pq.read_table(os.path.join(root, rel))
                return rel, t.num_rows
            except Exception:  # noqa: BLE001
                return rel, -1

        deep_counts = dict(
            spark.sparkContext.parallelize(present, len(present))
            .map(_scan_count).collect())

    report: dict = {"ok": True, "versions": {},
                    "unreferenced_files": []}
    # table-level sidecar: an unparseable _CONSTRAINTS.json would
    # brick every constrained write with a raw decode error, so its
    # health is part of the table's (absent file = healthy,
    # unconstrained)
    try:
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.constraints import (
            table_constraints,
        )

        table_constraints(table_dir)
        report["constraints_ok"] = True
    except Exception as exc:  # noqa: BLE001 -- the finding itself
        report["constraints_ok"] = False
        report["constraints_error"] = f"{type(exc).__name__}: {exc}"[:200]
        report["ok"] = False
    for v in versions:
        files = per_version_files[v]
        stats = _read_stats(table_dir, v)
        rowmeta = _read_rowmeta(table_dir, v)
        st = table_schema(table_dir, v)
        # manifests speak the version's LOGICAL names; footer facts
        # are keyed by the files' PHYSICAL names (column mapping)
        pm = _physical_map(st) if st is not None else {}
        vr = {"missing_files": [], "unreadable_files": [],
              "rowcount_mismatch": [], "nullcount_mismatch": [],
              "stats_too_narrow": [], "deep_rowcount_mismatch": [],
              "dv_errors": [],
              "external_refs": 0, "n_files": len(files)}
        # deletion vectors are metadata claims about their data file:
        # the sidecar must exist, decode, match its recorded count,
        # never point past the file's physical rowcount, and carry
        # the rowcount WITNESS that matches the file (a purge-remap
        # left half-applied shows up here as a witness mismatch --
        # review r12e-1).  Any decode failure is a finding, never a
        # crash of the scrubber (zlib.error is not a ValueError --
        # review r12e-2).
        for f, (d, cnt) in _read_dvs(table_dir, v).items():
            try:
                with open(os.path.join(table_dir, d), "rb") as fh:
                    pos, rec_n = _decode_dv_full(fh.read())
            except Exception as exc:  # noqa: BLE001 -- the finding
                vr["dv_errors"].append(
                    (f, f"vector {d} unreadable: "
                        f"{type(exc).__name__}: {exc}"[:200]))
                continue
            if len(pos) != cnt:
                vr["dv_errors"].append(
                    (f, f"vector {d} holds {len(pos)} positions, "
                        f"manifest records {cnt}"))
            fact = facts.get(f)
            if fact and "error" not in fact:
                if pos and pos[-1] >= fact["n_rows"]:
                    vr["dv_errors"].append(
                        (f, f"vector {d} points at row {pos[-1]} of "
                            f"a {fact['n_rows']}-row file"))
                if rec_n != fact["n_rows"]:
                    vr["dv_errors"].append(
                        (f, f"vector {d} was encoded against a "
                            f"{rec_n}-row file, the file holds "
                            f"{fact['n_rows']} rows (positions may "
                            f"be mis-pointed; a purge remap did not "
                            f"complete -- re-run the purge)"))
        for f in files:
            abs_f = os.path.abspath(os.path.join(root, f))
            if not abs_f.startswith(root + os.sep):
                vr["external_refs"] += 1
            if f not in facts:
                if not os.path.exists(os.path.join(root, f)):
                    vr["missing_files"].append(f)
                continue
            fact = facts[f]
            if "error" in fact:
                vr["unreadable_files"].append((f, fact["error"]))
                continue
            rm = rowmeta.get(f)
            if rm is not None:
                if rm["n"] != fact["n_rows"]:
                    vr["rowcount_mismatch"].append(
                        (f, rm["n"], fact["n_rows"]))
                for col, rec_nn in rm.get("nn", {}).items():
                    true_nn = fact["cols"].get(pm.get(col, col),
                                               [None, None, None])[2]
                    if true_nn is not None and rec_nn != true_nn:
                        vr["nullcount_mismatch"].append(
                            (f, col, rec_nn, true_nn))
            for col, (lo, hi) in stats.get(f, {}).items():
                kind = (st[col].dataType.typeName()
                        if st is not None and col in st.fieldNames()
                        else None)
                if kind in ("string", "date", "timestamp", None):
                    continue  # exactness not guaranteed -> skip
                t_lo, t_hi, _nn = fact["cols"].get(
                    pm.get(col, col), (None, None, None))
                if t_lo is None:
                    continue
                if lo > t_lo or hi < t_hi:
                    vr["stats_too_narrow"].append(
                        (f, col, (lo, hi), (t_lo, t_hi)))
            if deep and f in deep_counts:
                dc = deep_counts[f]
                if dc < 0:
                    vr["unreadable_files"].append(
                        (f, "deep read failed"))
                elif dc != fact["n_rows"]:
                    vr["deep_rowcount_mismatch"].append(
                        (f, fact["n_rows"], dc))
        if (vr["missing_files"] or vr["unreadable_files"]
                or vr["rowcount_mismatch"] or vr["nullcount_mismatch"]
                or vr["stats_too_narrow"]
                or vr["deep_rowcount_mismatch"] or vr["dv_errors"]):
            report["ok"] = False
        report["versions"][v] = vr
    # unreferenced data files inside readable version dirs: vacuum
    # fodder (informational -- e.g. superseded pre-purge tmp files).
    # Live deletion-vector sidecars count as referenced (an operator
    # deleting "vacuum fodder" must never reap one -- review r12e-3).
    referenced = {f for fs in per_version_files.values() for f in fs}
    for v in versions:
        for _f, (d, _cnt) in _read_dvs(table_dir, v).items():
            referenced.add(d)
    # walked RECURSIVELY (r13 review finding #2): a Hive-partitioned
    # version's live files sit under col=value subdirs -- the flat
    # listdir sweep reported every live partition DIRECTORY as
    # vacuum fodder and never saw a genuine orphan nested inside one
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import _walk_rel_files

    for v in versions:
        vdir = os.path.join(table_dir, f"v_{v:08d}")
        if not os.path.isdir(vdir):
            continue
        for e in _walk_rel_files(vdir):
            rel = f"v_{v:08d}/{e}"
            if rel not in referenced:
                report["unreferenced_files"].append(rel)
    return report


def repair_table(spark: SparkSession, table_dir: str,
                 backend: CommitBackend | None = None) -> dict:
    """Re-derive every readable version's #stats / #rows manifest
    records from footer truth -- the FIX for what
    :func:`verify_table` convicts (tampered or bit-rotted metadata,
    stale counts after an out-of-band file mutation).  Data files
    are never touched: this is the purge's phase-3 repair applied to
    the whole table.  Records keep their current column surface (a
    column tracked before is tracked after); missing/unreadable
    files cannot be repaired and are returned for human triage.

    One executor task per unique present file computes the footer
    facts; each manifest whose records change is then rewritten
    atomically (tmp + replace).
    Guarded by the table's admin lock (shared with the purge -- both
    rewrite committed manifests in place) and a pointer check: a
    commit landing mid-repair raises
    :class:`~.versioned.VersionConflictError`; re-run.

    Returns ``{"files_refreshed": int, "versions": [..],
    "unrepairable": [missing/unreadable files]}``."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.purge import (
        _acquire_purge_lock,
    )
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        VersionConflictError, _file_meta,
    )

    backend = backend or _DEFAULT_BACKEND
    start_cur = current_version(table_dir, backend=backend)
    if start_cur is None:
        raise FileNotFoundError(
            f"{table_dir} has no committed version")
    lock = _acquire_purge_lock(table_dir, 6 * 3600)
    try:
        versions = [v for v in committed_versions(table_dir,
                                                  backend=backend)
                    if os.path.isdir(os.path.join(table_dir,
                                                  f"v_{v:08d}"))]
        root = os.path.abspath(table_dir)
        # column surface per file = union of what ANY manifest
        # tracks, held PER VERSION (manifests speak each version's
        # logical names; renames change them) and translated to the
        # files' PHYSICAL names for the footer read
        tracked: dict[int, dict[str, set[str]]] = {}
        pmaps: dict[int, dict[str, str]] = {}
        for v in versions:
            st_v = table_schema(table_dir, v)
            pmaps[v] = _physical_map(st_v) if st_v is not None else {}
            t_v: dict[str, set[str]] = {}
            for f, cols in _read_stats(table_dir, v).items():
                t_v.setdefault(f, set()).update(cols)
            for f, m in _read_rowmeta(table_dir, v).items():
                t_v.setdefault(f, set()).update(m.get("nn", {}))
            tracked[v] = t_v
        phys_cols: dict[str, set[str]] = {}
        for v in versions:
            pm_v = pmaps[v]
            for f, cols in tracked[v].items():
                phys_cols.setdefault(f, set()).update(
                    pm_v.get(c, c) for c in cols)
        uniq = sorted({f for v in versions
                       for f in _data_files(table_dir, v)})
        present = [f for f in uniq
                   if os.path.exists(os.path.join(root, f))]
        unrepairable = [f for f in uniq if f not in set(present)]

        def _meta(rel: str):
            cols = sorted(phys_cols.get(rel, ()))
            try:
                st, rm = _file_meta(os.path.join(root, rel), cols)
                return rel, (st, rm)
            except Exception as exc:  # noqa: BLE001
                return rel, ("error", str(exc)[:200])

        fresh: dict[str, tuple] = {}
        if present:
            fresh = dict(spark.sparkContext
                         .parallelize(present, len(present))
                         .map(_meta).collect())
        unrepairable += sorted(f for f, m in fresh.items()
                               if m[0] == "error")
        fresh = {f: m for f, m in fresh.items() if m[0] != "error"}

        for v in versions:
            _refresh_file_meta(table_dir, v, fresh)
    finally:
        try:
            os.remove(lock)
        except OSError:
            pass
    end_cur = current_version(table_dir, backend=backend)
    if end_cur != start_cur:
        raise VersionConflictError(
            f"{table_dir} advanced during repair_table; the new "
            f"version may carry records derived from pre-repair "
            f"metadata -- re-run repair_table")
    return {"files_refreshed": len(fresh), "versions": versions,
            "unrepairable": sorted(set(unrepairable))}
