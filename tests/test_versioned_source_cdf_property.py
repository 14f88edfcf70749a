"""Model-based property test for the change-feed face
(sources/versioned_source readChangeFeed): over a RANDOM interleaving
of appends, upserts, keyed deletes and compactions,

1. the streamed change feed drained over the whole history must FOLD
   (apply inserts, retract deletes) to exactly read_current -- every
   multiset-diff partition, compaction skip, and per-commit
   attribution composing correctly end-to-end;
2. the batch CDF face over random (from, to] ranges must equal
   io.versioned.read_changes row-for-row (the executor-side pyarrow
   diff vs the Spark-side grouped multiset diff).

Derandomized seeds, same discipline as the merge/DDL property
sweeps."""

from __future__ import annotations

import os
import random
from collections import Counter

import pytest

from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
    append_version,
    committed_versions,
    compact_table,
    delete_keys_version,
    merge_version,
    read_changes,
    read_current,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.sources.versioned_source import (
    register,
)


# long-tail suite: skipped by the default run (pytest.ini addopts -m "not slow");
# select with `-m slow`
pytestmark = pytest.mark.slow

KEYS = list(range(30))


def _df(spark, rows):
    return spark.createDataFrame(rows, "k bigint, v string")


def _mutate(spark, t, rng, model, stats, step):
    op = rng.choice(["append", "upsert", "delete", "compact"])
    if op == "append":
        new = {k: f"a{step}_{k}" for k in rng.sample(KEYS, 5)
               if k not in model}
        if not new:
            return
        append_version(_df(spark, sorted(new.items())).coalesce(1),
                       t, stats_columns=stats)
        model.update(new)
    elif op == "upsert":
        rows = {k: f"u{step}_{k}"
                for k in rng.sample(KEYS, rng.randint(1, 6))}
        merge_version(spark, t, _df(spark, sorted(rows.items())), "k")
        model.update(rows)
    elif op == "delete":
        ks = rng.sample(sorted(model) or [0],
                        min(2, max(1, len(model))))
        delete_keys_version(
            spark, t, spark.createDataFrame([(k,) for k in ks],
                                            "k bigint"), "k")
        for k in ks:
            model.pop(k, None)
    else:
        compact_table(spark, t)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_streamed_cdf_folds_to_current(spark, tmp_path, seed):
    register(spark)
    rng = random.Random(seed)
    t = str(tmp_path / f"t{seed}")
    stats = ["k"] if seed % 2 == 0 else []
    model = {k: f"s{k}" for k in rng.sample(KEYS, 8)}
    append_version(_df(spark, sorted(model.items())).coalesce(2), t,
                   stats_columns=stats)
    for step in range(7):
        _mutate(spark, t, rng, model, stats, step)

    out, ck = (str(tmp_path / f"out{seed}"),
               str(tmp_path / f"ck{seed}"))
    q = (spark.readStream.format("versioned_table")
         .option("path", t).option("readChangeFeed", "true").load()
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()

    folded: Counter = Counter()
    changes = (spark.read.parquet(out).collect()
               if os.path.isdir(out) else [])
    # fold in commit order -- a delete may only retract a row already
    # inserted by an earlier (or the same) commit
    for r in sorted(changes, key=lambda r: r._commit_version):
        if r._change_type == "insert":
            folded[(r.k, r.v)] += 1
        else:
            folded[(r.k, r.v)] -= 1
            assert folded[(r.k, r.v)] >= 0, (
                f"seed {seed}: delete of never-inserted row "
                f"{(r.k, r.v)} at v{r._commit_version}")
    got = +folded  # drop zero entries
    assert dict(got) == {(k, v): 1 for k, v in model.items()}, (
        f"seed {seed}: folded CDF != current table")


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_batch_cdf_matches_read_changes_on_ranges(spark, tmp_path,
                                                  seed):
    register(spark)
    rng = random.Random(100 + seed)
    t = str(tmp_path / f"t{seed}")
    stats = ["k"] if seed % 2 == 0 else []
    model = {k: f"s{k}" for k in rng.sample(KEYS, 8)}
    append_version(_df(spark, sorted(model.items())).coalesce(2), t,
                   stats_columns=stats)
    for step in range(6):
        _mutate(spark, t, rng, model, stats, step)
    committed = committed_versions(t)
    cur = {r.k: r.v for r in read_current(spark, t).collect()}
    assert cur == model

    def face_rows(a, b):
        return [(r.k, r.v, r._change_type)
                for r in spark.read.format("versioned_table")
                .option("path", t).option("readChangeFeed", "true")
                .option("startingVersion", str(a))
                .option("endingVersion", str(b)).load().collect()]

    def net(rows):
        c: Counter = Counter()
        for k, v, ct in rows:
            c[(k, v)] += 1 if ct == "insert" else -1
        return {kv: n for kv, n in c.items() if n}

    # single-commit ranges: the two faces agree EXACTLY
    for a, b in zip(committed, committed[1:]):
        face = sorted(face_rows(a, b))
        direct = sorted((r.k, r.v, r._change_type)
                        for r in read_changes(spark, t, a, b)
                        .collect())
        assert face == direct, f"seed {seed} commit ({a}, {b}]"
    # multi-commit ranges: the face is PER-COMMIT (Delta CDF -- a row
    # inserted then deleted inside the range surfaces as both), while
    # read_changes nets the range endpoints; their FOLDS must agree
    for _ in range(3):
        a, b = sorted(rng.sample(committed, 2))
        direct = [(r.k, r.v, r._change_type)
                  for r in read_changes(spark, t, a, b).collect()]
        assert net(face_rows(a, b)) == net(direct), (
            f"seed {seed} range ({a}, {b}]")
