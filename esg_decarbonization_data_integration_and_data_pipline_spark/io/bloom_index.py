"""Per-file Bloom point-lookup index for versioned tables.

File-skipping stats (min/max) prune range queries on CLUSTERED
columns, but a point lookup on a high-cardinality column the table is
NOT sorted by gets no help: every file's [min, max] spans the probe
value, so the lookup scans the table.  A per-file Bloom filter fixes
exactly that -- the Delta "bloom filter index" / Parquet
bloom-filter shape: each data file gets a tiny sidecar summarizing
its distinct column values; a probe consults the sidecars (pure
metadata, no data I/O) and reads only files whose bloom says MAYBE.
False positives cost one extra file read (the predicate re-applies);
false negatives are impossible by construction.

Layout: the sidecar lives NEXT TO its physical data file
(``.bloom-<col>-<datafile>.json``), so manifest-inherited versions
share it automatically and ``vacuum`` reaps it with its dir.  Hidden
name (leading dot) keeps it out of every data-file listing.

Hashing is engine-independent (md5 of the value's canonical utf-8
encoding, split into two 64-bit lanes for double hashing -- the
operators/bloom.py discipline) so build (pyarrow in executor tasks)
and probe (driver-side, control-plane) always agree.  Supported key
types: integers and strings (the id-shaped columns point lookups
target); the canonical encoding is ``str(value)`` utf-8.

Mutation interplay:
- append/merge/compact create NEW files -> no sidecar until the next
  :func:`build_bloom_index` (missing sidecar = conservatively read).
- :func:`~.purge.purge_keys_history` rewrites files in place; row
  REMOVAL can never introduce a false negative (the stale bloom is a
  superset), but the sidecar would retain hashed evidence of the
  erased subject -- purge therefore deletes rewritten files'
  sidecars (see ``sidecar_candidates``); rebuild afterwards.
"""

from __future__ import annotations

import base64
import hashlib
import json
import math
import os

from pyspark.sql import DataFrame, SparkSession

from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
    _DEFAULT_BACKEND,
    CommitBackend,
    _data_files,
    _physical_name,
    _prune,
    _read_files_dv,
    current_version,
    table_schema,
)


def _sidecar_path(abs_data_path: str, col: str) -> str:
    d, base = os.path.split(abs_data_path)
    return os.path.join(d, f".bloom-{col}-{base}.json")


def sidecar_candidates(abs_data_path: str) -> list[str]:
    """Every bloom, ndv-sketch AND histogram sidecar of one data
    file, any column -- the purge hook uses this to drop evidence of
    erased keys (HLL registers retain value-hash evidence exactly
    like bloom bits, and histogram bucket counts retain value-
    distribution evidence, so io/ndv and io/histogram sidecars purge
    together).  Listing + suffix match, NOT glob: glob
    metacharacters in the table path (``tables[prod]``) would
    silently match nothing and leave the erased subject's hashes
    behind (r10 review finding #4)."""
    d, base = os.path.split(abs_data_path)
    suffix = f"-{base}.json"
    try:
        entries = os.listdir(d)
    except OSError:
        return []
    return [os.path.join(d, e) for e in entries
            if e.startswith((".bloom-", ".ndv-", ".hist-"))
            and e.endswith(suffix)]


def _lanes(value) -> tuple[int, int]:
    """Two independent 64-bit hash lanes from the canonical encoding
    (md5 is plenty for double hashing and identical everywhere)."""
    h = hashlib.md5(str(value).encode("utf-8")).digest()
    return (int.from_bytes(h[:8], "little"),
            int.from_bytes(h[8:16], "little"))


# the str(value) canonical encoding is only stable for integers and
# strings (str(100.0) != str(100), decimals carry trailing zeros,
# dates/timestamps vary by type) -- anything else would produce
# SILENT false negatives, so both build and probe enforce the list
_SUPPORTED_PA_TYPES = ("int8", "int16", "int32", "int64",
                       "uint8", "uint16", "uint32", "uint64",
                       "string", "large_string")


def _check_probe_type(value) -> None:
    if not isinstance(value, (int, str)) or isinstance(value, bool):
        raise TypeError(
            f"bloom point lookups support int and str keys only "
            f"(got {type(value).__name__}): the canonical str() "
            f"encoding is unstable for floats/decimals/dates and "
            f"would return silent false negatives")


def _positions(h1: int, h2: int, n_hashes: int, m_bits: int):
    h2 |= 1  # odd stride so probes never collapse on even m_bits
    return [((h1 + i * h2) % (1 << 64)) % m_bits
            for i in range(n_hashes)]


def _build_sidecar(abs_path: str, col: str, bits_per_key: int) -> int:
    """Build one file's sidecar (executor task); returns the distinct
    key count, or -1 if the file's physical schema lacks the column
    (pre-evolution file: its rows are all-NULL there, and NULL never
    matches a point probe -- recorded as an always-prune sidecar)."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(abs_path)
    if col not in pf.schema_arrow.names:
        payload = {"m_bits": 0, "n_hashes": 0, "n_keys": 0,
                   "bits": ""}
    else:
        pa_type = str(pf.schema_arrow.field(col).type)
        if pa_type not in _SUPPORTED_PA_TYPES:
            raise TypeError(
                f"bloom index on {col!r} ({pa_type}): only integer "
                f"and string columns are supported -- the canonical "
                f"str() hash encoding is unstable for other types "
                f"and would yield silent false negatives")
        t = pq.read_table(abs_path, columns=[col])
        vals = {v for v in t.column(col).to_pylist() if v is not None}
        n_hashes = max(1, round(math.log(2) * bits_per_key))
        m_bits = max(64, len(vals) * bits_per_key)
        bits = bytearray((m_bits + 7) // 8)
        for v in vals:
            h1, h2 = _lanes(v)
            for p in _positions(h1, h2, n_hashes, m_bits):
                bits[p >> 3] |= 1 << (p & 7)
        payload = {"m_bits": m_bits, "n_hashes": n_hashes,
                   "n_keys": len(vals),
                   "bits": base64.b64encode(bytes(bits)).decode()}
    tmp = _sidecar_path(abs_path, col) + ".tmp"
    with open(tmp, "w", encoding="ascii") as fh:
        json.dump(payload, fh)
    os.replace(tmp, _sidecar_path(abs_path, col))
    return payload["n_keys"] if payload["m_bits"] else -1


def build_bloom_index(spark: SparkSession, table_dir: str, col: str,
                      n: int | None = None, bits_per_key: int = 10,
                      backend: CommitBackend | None = None) -> int:
    """Build the missing sidecars for version ``n``'s (default:
    current) data files -- one executor task per file, each streaming
    one parquet column; files that already have a sidecar are skipped
    (immutable bytes -> the sidecar stays valid; the purge deletes
    sidecars when it rewrites).  Returns how many were built."""
    backend = backend or _DEFAULT_BACKEND
    if n is None:
        n = current_version(table_dir, backend=backend)
        if n is None:
            raise FileNotFoundError(
                f"{table_dir} has no committed version")
    st = table_schema(table_dir, n)
    if st is not None and col not in st.fieldNames():
        # a typo'd column would otherwise write always-prune sidecars
        # per file (the per-file builder treats an absent column as
        # "all-NULL here"), after which point_lookup silently returns
        # zero rows instead of the AnalysisException an unindexed
        # scan raises (r10 ADVICE)
        raise ValueError(
            f"bloom index on {col!r}: not a column of {table_dir} "
            f"v_{n:08d} (schema: {st.fieldNames()})")
    if st is not None and col in st.fieldNames() \
            and st[col].dataType.typeName() not in (
                "byte", "short", "integer", "long", "string"):
        raise TypeError(
            f"bloom index on {col!r} "
            f"({st[col].dataType.typeName()}): only integer and "
            f"string columns are supported -- the canonical str() "
            f"hash encoding is unstable for other types and would "
            f"yield silent false negatives")
    # sidecars are keyed by the column's stable PHYSICAL name: a
    # rename_column invalidates nothing (files and their sidecars are
    # untouched); probes under the new logical name resolve the same
    # physical
    phys = _physical_name(st, col)
    root = os.path.abspath(table_dir)
    todo = [f for f in _data_files(table_dir, n)
            if not os.path.exists(
                _sidecar_path(os.path.join(root, f), phys))]
    if not todo:
        return 0
    bpk = int(bits_per_key)
    spark.sparkContext.parallelize(todo, len(todo)).foreach(
        lambda rel: _build_sidecar(os.path.join(root, rel), phys,
                                   bpk))
    return len(todo)


def _consolidated_path(table_dir: str, col: str, n: int) -> str:
    return os.path.join(os.path.abspath(table_dir),
                        f".bloomidx-{col}-v_{n:08d}.json")


def consolidated_candidates(table_dir: str) -> list[str]:
    """Every consolidated index of the table, any column/version --
    the purge hook uses this to drop hashed evidence of erased keys
    (same listing-not-glob discipline as :func:`sidecar_candidates`)."""
    root = os.path.abspath(table_dir)
    try:
        entries = os.listdir(root)
    except OSError:
        return []
    return [os.path.join(root, e) for e in entries
            if e.startswith(".bloomidx-") and e.endswith(".json")]


def consolidate_bloom_index(table_dir: str, col: str,
                            n: int | None = None,
                            backend: CommitBackend | None = None) -> int:
    """Merge version ``n``'s per-file sidecars into ONE root-level
    index file (``.bloomidx-<col>-v_<n>.json``), so a probe costs one
    (cached) file read instead of one open per data file -- the 100
    TB / millions-of-files driver-latency fix for the measured
    ~0.16 ms-per-(probe, file) sidecar-consult cost (SCALE.md
    bloom_lookup row).  Returns the number of files covered.

    A file without a sidecar is recorded as ``null`` (conservative
    must-read, exactly like the per-file path); re-run after
    :func:`build_bloom_index` to tighten.  The version's FILESET is
    immutable (manifests never change), so the index can only go
    stale one way: :func:`~.purge.purge_keys_history` rewriting files
    in place -- purge deletes every consolidated index
    (:func:`consolidated_candidates`) for the same hashed-evidence
    reason it deletes per-file sidecars.  Pure driver-side metadata;
    no Spark job."""
    backend = backend or _DEFAULT_BACKEND
    if n is None:
        n = current_version(table_dir, backend=backend)
        if n is None:
            raise FileNotFoundError(
                f"{table_dir} has no committed version")
    st = table_schema(table_dir, n)
    if st is not None and col not in st.fieldNames():
        raise ValueError(
            f"bloom index on {col!r}: not a column of {table_dir} "
            f"v_{n:08d} (schema: {st.fieldNames()})")
    phys = _physical_name(st, col)
    root = os.path.abspath(table_dir)
    files = _data_files(table_dir, n)
    external = [f for f in files
                if not os.path.abspath(os.path.join(root, f))
                .startswith(root + os.sep)]
    if external:
        # a shallow clone references the SOURCE's files by path; a
        # clone-root consolidated index would copy the source blooms
        # somewhere the source's purge evidence-removal hook cannot
        # see (purge deletes per-file sidecars -- shared by path --
        # and ITS OWN root's .bloomidx files, never another table's
        # root), so an erased subject's hashes would survive here.
        # Refuse, exactly like purge does (r12 review finding).
        raise ValueError(
            f"consolidate_bloom_index on {table_dir}: v_{n:08d} "
            f"references files outside the table root (e.g. "
            f"{external[0]}) -- this is a shallow clone; consolidate "
            f"the source table (clones share its per-file sidecars "
            f"by path), or deep_clone first")
    entries: dict = {}
    for f in files:
        try:
            with open(_sidecar_path(os.path.join(root, f), phys),
                      encoding="ascii") as fh:
                entries[f] = json.load(fh)
        except OSError:
            entries[f] = None  # unindexed: conservative must-read
    out = _consolidated_path(table_dir, phys, n)
    tmp = out + f".tmp.{os.getpid()}"
    with open(tmp, "w", encoding="ascii") as fh:
        json.dump({"col": phys, "version": n, "files": entries}, fh)
    os.replace(tmp, out)
    return len(entries)


# (abs consolidated path) -> (mtime_ns, decoded files map); repeated
# probes against an unchanged index pay ZERO file I/O after the first.
# Bounded two ways (r12 review finding): a stat-miss EVICTS the dead
# entry (vacuum/purge deleted the file), and inserting a version's
# index drops the same (table, col)'s other versions -- a long-lived
# driver compacting hourly otherwise accumulates one full bitmap set
# per version forever.
_IDX_CACHE: dict = {}


def _consolidated(table_dir: str, col: str, n: int) -> dict | None:
    """The decoded consolidated index for (col, version), mtime-cached
    in-process, or None when absent (fall back to per-file sidecars)."""
    p = _consolidated_path(table_dir, col, n)
    try:
        mt = os.stat(p).st_mtime_ns
    except OSError:
        _IDX_CACHE.pop(p, None)  # deleted on disk: drop the bitmaps
        return None
    hit = _IDX_CACHE.get(p)
    if hit is not None and hit[0] == mt:
        return hit[1]
    try:
        with open(p, encoding="ascii") as fh:
            raw = json.load(fh)
    except (OSError, ValueError):
        return None
    files = {}
    for f, sc in raw.get("files", {}).items():
        if sc is None or not sc.get("m_bits"):
            # None = unindexed (must-read); m_bits 0 = column absent
            # from the file (all-NULL there, prune)
            files[f] = None if sc is None else False
        else:
            files[f] = (sc["m_bits"], sc["n_hashes"],
                        base64.b64decode(sc["bits"]))
    # one live version per (table, col): evict this prefix's other
    # versions before inserting
    prefix = p.rsplit("-v_", 1)[0] + "-v_"
    for stale in [k for k in _IDX_CACHE
                  if k.startswith(prefix) and k != p]:
        _IDX_CACHE.pop(stale, None)
    _IDX_CACHE[p] = (mt, files)
    return files


def _maybe_contains(abs_path: str, col: str, value) -> bool:
    """Driver-side probe of one sidecar; True when the file must be
    read (sidecar missing, or bloom says maybe)."""
    try:
        with open(_sidecar_path(abs_path, col),
                  encoding="ascii") as fh:
            sc = json.load(fh)
    except OSError:
        return True  # unindexed file: conservative
    if not sc["m_bits"]:
        return False  # column absent from the file: all-NULL there
    bits = base64.b64decode(sc["bits"])
    h1, h2 = _lanes(value)
    return all(bits[p >> 3] & (1 << (p & 7))
               for p in _positions(h1, h2, sc["n_hashes"],
                                   sc["m_bits"]))


def _prober(table_dir: str, n: int):
    """``maybe(rel, phys_col, value) -> bool`` for version ``n``:
    False only when a bloom filter proves ``value`` absent from data
    file ``rel``.  The consolidated index answers first; a file it
    does not cover, or recorded as unindexed (it may have a sidecar
    by now), falls through to the per-file sidecar.  Indexes and
    per-value hash lanes are memoized across calls -- O(values)
    digests, not O(files x values)."""
    root = os.path.abspath(table_dir)
    idx_cache: dict = {}
    lanes_cache: dict = {}

    def maybe(rel: str, col: str, value) -> bool:
        if col not in idx_cache:
            idx_cache[col] = _consolidated(table_dir, col, n) or {}
        entry = idx_cache[col].get(rel)
        if entry is False:
            return False  # column physically absent: all-NULL there
        if entry is None:
            return _maybe_contains(os.path.join(root, rel), col, value)
        if value not in lanes_cache:
            lanes_cache[value] = _lanes(value)
        m_bits, n_hashes, bits = entry
        return all(bits[p >> 3] & (1 << (p & 7))
                   for p in _positions(*lanes_cache[value], n_hashes,
                                       m_bits))

    return maybe


def lookup_files(table_dir: str, col: str, value,
                 n: int | None = None,
                 backend: CommitBackend | None = None) -> list[str]:
    """The files of version ``n`` a point probe must read: the one
    file pruner (:func:`~.versioned._prune`) over ``col == value``
    -- partition directories and min/max stats first (free --
    already in the manifest), then the bloom index and sidecars.
    Pure metadata; no Spark job."""
    backend = backend or _DEFAULT_BACKEND
    if value is None:
        raise ValueError("point lookup on NULL: filter isNull instead")
    _check_probe_type(value)
    if n is None:
        n = current_version(table_dir, backend=backend)
        if n is None:
            raise FileNotFoundError(
                f"{table_dir} has no committed version")
    st = table_schema(table_dir, n)
    if st is not None and col not in st.fieldNames():
        # mirror build_bloom_index: a typo'd column must error like
        # the unindexed scan would, not return "no files to read"
        raise ValueError(
            f"bloom lookup on {col!r}: not a column of {table_dir} "
            f"v_{n:08d} (schema: {st.fieldNames()})")
    return _prune(table_dir, n, [("eq", col, value)], st)[0]


def point_lookup(spark: SparkSession, table_dir: str, col: str,
                 value, n: int | None = None,
                 backend: CommitBackend | None = None) -> DataFrame:
    """All rows of version ``n`` (default: current) where ``col ==
    value``, reading only the stats- and bloom-surviving files (the
    predicate re-applies, so a bloom false positive costs one file
    read, never a wrong row)."""
    backend = backend or _DEFAULT_BACKEND
    if n is None:
        n = current_version(table_dir, backend=backend)
        if n is None:
            raise FileNotFoundError(
                f"{table_dir} has no committed version")
    files = lookup_files(table_dir, col, value, n=n, backend=backend)
    st = table_schema(table_dir, n)
    if not files:
        if st is not None:
            base = spark.createDataFrame([], st)
        else:
            from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import _read_resolved

            base = _read_resolved(spark, table_dir, n).limit(0)
        return base.filter(base[col] == value) if col in base.columns \
            else base
    df = _read_files_dv(spark, table_dir, n, files, st)
    return df.filter(df[col] == value)
