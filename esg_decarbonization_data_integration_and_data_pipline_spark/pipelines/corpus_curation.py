"""End-to-end training-corpus curation: the canonical LLM-data
pipeline assembled from the engine's first-class operators.

    PII scrub -> lang-id -> quality gates (score, repetition,
    char-entropy, boilerplate share) -> benchmark decontamination ->
    near-dup clustering -> canonical doc per cluster ->
    deterministic train/eval/test split

Every stage is one of the oracle-checked operators (text.scrub_pii,
text.lang_scores, text.quality_features, text.char_entropy,
text.boilerplate_share, text.decontaminate_flags,
dedup.minhash_verified_pairs + dedup.dup_clusters,
sampling.deterministic_split); this module only composes them, so
the 100 TB properties compose too: narrow scrub/scoring passes, two
partial-agg gram shuffles per optional gate, a broadcast benchmark
join, the banded LSH candidate join, O(diameter) cluster rounds, and
a shuffle-free split. The canonical-doc pick is min doc id per
cluster -- deterministic, and exactly the reference's keep-first
convention for duplicate uploads (jobs/csr_etl.py:75-119 keeps the
authoritative row per key the same way).

Cache note: the near-dup fixpoint labels stay cached (the
``dup_clusters`` contract); long-lived sessions should clear it
after materializing the curated output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from esg_decarbonization_data_integration_and_data_pipline_spark.operators.dedup import (
    dup_clusters, minhash_verified_pairs,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.operators.sampling import (
    deterministic_split,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.operators.text import (
    GOPHER_FLAG_COLS, GOPHER_METRIC_COLS, PII_PATTERNS, boilerplate_share,
    char_entropy, decontaminate_flags, gopher_rules, lang_scores,
    quality_features, repetition_stats, unigram_nll,
)


def curate(docs: DataFrame, keep_langs: list[str] | None = None,
           min_quality: float = 0.3, near_dup_threshold: float = 0.5,
           max_repetition: float | None = 0.9,
           fractions: dict[str, float] | None = None,
           scrub: bool = True,
           min_entropy: float | None = None,
           max_boilerplate: float | None = None,
           boilerplate_n: int = 3, boilerplate_min_docs: int = 2,
           benchmark: DataFrame | None = None,
           decontam_n: int = 5,
           max_nll: float | None = None,
           gopher: dict | None = None,
           normalize: bool = False,
           cluster_consistent_splits: bool = False) -> DataFrame:
    """documents(doc_id, text, ...) -> curated corpus with
    (predicted_lang, quality_score, cluster_id, is_canonical, split).

    Rows failing the language, quality, repetition, entropy, or
    boilerplate gate drop; docs sharing any ``decontam_n``-gram with
    ``benchmark`` (an eval set) drop; every survivor keeps its
    near-dup cluster id and the canonical flag, so callers can either
    train on canonicals only or weight by cluster size.

    - ``scrub`` (default on): PII/URL redaction BEFORE anything else
      sees the text -- fingerprints, dedup signatures, and the split
      hash all key on the scrubbed text, so two docs differing only
      in redacted emails dedup together and can't straddle splits.
    - ``min_entropy``: drop docs whose character-level Shannon
      entropy falls below it (base64 blobs, padding spam; natural
      text sits ~4-4.5 bits). None disables.
    - ``max_boilerplate``: drop docs whose share of distinct word
      ``boilerplate_n``-grams shared by >= ``boilerplate_min_docs``
      docs exceeds it (template chrome). None disables. Docs too
      short to have n-grams count as share 0.
    - ``max_repetition``: docs whose duplicate-bigram ratio exceeds
      it are boilerplate/spam; None disables.
    - ``benchmark``: decontamination eval set (same doc_id/text
      shape); its n-grams broadcast, the corpus is never shuffled on
      gram strings. None disables.
    - ``max_nll``: drop docs whose mean token NLL under the corpus's
      own unigram LM exceeds it (perplexity-proxy gate: vocabulary-
      mismatched / gibberish docs score high). None disables. Docs
      with no tokens count as failing (no evidence of fluency).
    - ``gopher``: kwargs for :func:`gopher_rules` (e.g.
      ``{"min_words": 25}``); docs failing the composite rule set
      drop. ``{}`` applies the published defaults; None disables.
      A pure narrow map -- no join, no shuffle.
    - ``cluster_consistent_splits`` (opt-in): key the train/eval/test
      split hash on each near-dup cluster's CANONICAL text instead of
      the doc's own, so a cluster can never straddle splits (per-doc
      text hashing only protects exact dups -- a near-duplicate of a
      training doc landing in eval is classic leakage).  Off by
      default for split parity with the per-doc streaming ingest
      twin; audit the default with :func:`split_leakage_report`.
    - ``normalize`` (opt-in): canonical text normalization
      (operators/text.NORMALIZE_STEPS) applied in-place FIRST, so
      every downstream signal -- scrubbing, fingerprints, dedup
      signatures, the split hash -- sees one spelling of the same
      content (two docs differing only in line endings or whitespace
      runs dedup together and cannot straddle splits). Off by
      default: normalization rewrites the text a trainer ultimately
      sees, which is a corpus-policy decision, not a gate.
    """
    if normalize:
        from esg_decarbonization_data_integration_and_data_pipline_spark.operators.text import normalize_expr

        docs = docs.withColumn("text", normalize_expr("text"))
    if scrub:
        docs = docs.withColumn("text", _scrub_expr())
    kept = docs
    for _name, step in _gate_steps(
            keep_langs=keep_langs, min_quality=min_quality,
            max_repetition=max_repetition, min_entropy=min_entropy,
            max_boilerplate=max_boilerplate, boilerplate_n=boilerplate_n,
            boilerplate_min_docs=boilerplate_min_docs,
            benchmark=benchmark, decontam_n=decontam_n,
            max_nll=max_nll, scrub=scrub, gopher=gopher,
            normalize=normalize):
        kept = step(kept)

    # Second (post-gate) materialization: the surviving working set
    # feeds FIVE consumers (minhash signatures, the cluster id list,
    # the final label join, and -- through them -- every convergence
    # round), each of which would otherwise replay the whole gate
    # join/aggregate chain; measured at sf0.1/local[32], the replay
    # multiplied the nll gate's one-pass ~5 s into ~60 s. Two
    # corpus-sized block sets total (pre-gate kernels + post-gate
    # survivors); both freed on session GC.
    kept = kept.localCheckpoint()
    pairs = minhash_verified_pairs(kept, threshold=near_dup_threshold,
                                   max_bucket=512)
    clusters = dup_clusters(kept, pairs)
    # canonical pick as a per-cluster WINDOW (min (doc_id, text)
    # struct orders on doc_id): dup_clusters labels EVERY doc, so the
    # old groupBy + F.broadcast(canonical) join shipped a
    # corpus-sized frame to every executor -- a guaranteed broadcast
    # OOM at real scale (r8 review catch). The window is one
    # cluster_id shuffle of the already-joined frame instead.
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id")
    joined = kept.join(clusters, "doc_id")
    if cluster_consistent_splits:
        # leakage-proof split: every cluster member keys the split
        # hash on the CANONICAL member's text, so a near-dup cluster
        # can never straddle train/eval (per-doc text hashing only
        # protects exact dups). Opt-in because the streaming ingest
        # twin (streaming/docs_gate) assigns splits per arriving doc
        # without cluster context -- batch/streaming split parity
        # only holds for the default per-doc keying. The window
        # struct carries text only on this path.
        labeled = (joined
                   .withColumn("__canon",
                               F.min(F.struct("doc_id", "text")).over(w))
                   .withColumn("is_canonical",
                               F.col("doc_id") == F.col("__canon.doc_id"))
                   .withColumn("__split_key", F.col("__canon.text"))
                   .drop("__canon"))
        split_col = "__split_key"
    else:
        labeled = (joined
                   .withColumn("is_canonical",
                               F.col("doc_id")
                               == F.min("doc_id").over(w)))
        split_col = "text"
    out = deterministic_split(
        labeled, split_col,
        fractions or {"train": 0.8, "eval": 0.1, "test": 0.1})
    return out.select("doc_id", "text", "predicted_lang",
                      "quality_score", "cluster_id", "is_canonical",
                      "split")


def _scrub_expr(text_col: str = "text"):
    """The in-place PII redaction chain -- the same regexp chain
    scrub_pii applies (one shared pattern table, no join-back
    shuffle)."""
    clean = F.col(text_col)
    for _name, pat, token in PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, token)
    return clean


def _gate_steps(*, keep_langs, min_quality, max_repetition, min_entropy,
                max_boilerplate, boilerplate_n, boilerplate_min_docs,
                benchmark, decontam_n, max_nll, scrub, gopher=None,
                normalize=False):
    """THE gate chain, as an ordered [(stage, transform)] list --
    the single source consumed by ``curate`` (data path) and
    ``curation_funnel`` (per-stage counts), so the two can never
    drift. The ``__checkpoint__`` pseudo-stage marks where the
    working set materializes and truncates its lineage
    (localCheckpoint): every later gate joins ``kept`` against an
    aggregate OF ``kept``, and the downstream dup-cluster fixpoint
    loop re-ANALYZES its input plan with the labels subtree doubling
    per round, so a deep gate lineage under it makes Catalyst
    planning the dominant cost (measured 58 s -> 9 s at sf0.1 from
    this one truncation); ~1x corpus bytes in MEMORY_AND_DISK
    blocks, freed on session GC, replaced by a reliable checkpoint
    dir under executor loss on a real cluster."""
    steps: list[tuple[str, object]] = []

    def quality(df):
        scored = quality_features(lang_scores(df))
        return scored.filter(F.col("quality_score") >= min_quality)

    steps.append(("quality", quality))
    if keep_langs:
        steps.append(("language", lambda df: df.filter(
            F.col("predicted_lang").isin(keep_langs))))
    if gopher is not None:
        steps.append(("gopher", lambda df: (
            gopher_rules(df, **gopher)
            .filter(F.col("gopher_pass") == 1)
            .drop(*GOPHER_METRIC_COLS, *GOPHER_FLAG_COLS))))
    if max_repetition is not None:
        steps.append(("repetition", lambda df: (
            repetition_stats(df)
            .filter(F.coalesce(F.col("repetition_ratio"), F.lit(0.0))
                    <= max_repetition)
            .drop("total_bigrams", "distinct_bigrams",
                  "repetition_ratio", "top_gram_share"))))
    steps.append(("__checkpoint__", lambda df: df.localCheckpoint()))
    if min_entropy is not None:
        def entropy(df):
            ent = char_entropy(df).select(
                "doc_id", F.col("entropy").alias("__ent"))
            return (df.join(ent, "doc_id", "left")
                      .filter(F.coalesce(F.col("__ent"), F.lit(0.0))
                              >= min_entropy)
                      .drop("__ent"))
        steps.append(("entropy", entropy))
    if max_boilerplate is not None:
        def boiler(df):
            bshare = boilerplate_share(
                df, n=boilerplate_n,
                min_docs=boilerplate_min_docs).select(
                "doc_id", F.col("boiler_share").alias("__bshare"))
            return (df.join(bshare, "doc_id", "left")
                      .filter(F.coalesce(F.col("__bshare"), F.lit(0.0))
                              <= max_boilerplate)
                      .drop("__bshare"))
        steps.append(("boilerplate", boiler))
    if max_nll is not None:
        def nll_gate(df):
            nll = unigram_nll(df).select(
                "doc_id", F.col("nll").alias("__nll"))
            return (df.join(nll, "doc_id", "left")
                      .filter(F.coalesce(F.col("__nll"),
                                         F.lit(float("inf")))
                              <= max_nll)
                      .drop("__nll"))
        steps.append(("unigram_nll", nll_gate))
    if benchmark is not None:
        # compare like with like: the corpus text was normalized
        # and/or scrubbed, so the benchmark runs through the SAME
        # chain in the SAME order (an eval item whose shared span
        # contains a control char or a URL would otherwise never
        # match the transformed corpus grams)
        bench = benchmark
        if normalize:
            from esg_decarbonization_data_integration_and_data_pipline_spark.operators.text import normalize_expr

            bench = bench.withColumn("text", normalize_expr("text"))
        if scrub:
            bench = bench.withColumn("text", _scrub_expr())

        def decontam(df):
            # external eval sets have unrelated id spaces, so the
            # id-collision exemption is off -- scan everything
            contaminated = decontaminate_flags(
                df, bench, n=decontam_n, exclude_benchmark_ids=False)
            return df.join(contaminated.select("doc_id"), "doc_id",
                           "left_anti")
        steps.append(("decontaminated", decontam))
    return steps


def _bound_gate_chain(docs: DataFrame, curate_kwargs: dict):
    """Shared plumbing of :func:`curation_funnel` and
    :func:`rejection_audit`: bind ``curate_kwargs`` against
    ``curate``'s signature (unknown/misspelled kwargs raise exactly
    as ``curate`` would), apply the normalize-then-scrub pre-rewrites
    in ``curate``'s order, and return ``(rewritten_docs, steps)``
    with the ``_gate_steps`` chain bound to the same arguments.  One
    source for the kwargs threading, so a new gate parameter cannot
    silently de-synchronize the reporting tools from the data path
    (r8 review finding)."""
    import inspect

    bound = inspect.signature(curate).bind(docs, **curate_kwargs)
    bound.apply_defaults()
    a = dict(bound.arguments)
    if a["normalize"]:
        from esg_decarbonization_data_integration_and_data_pipline_spark.operators.text import normalize_expr

        docs = docs.withColumn("text", normalize_expr("text"))
    if a["scrub"]:
        docs = docs.withColumn("text", _scrub_expr())
    steps = _gate_steps(
        keep_langs=a["keep_langs"], min_quality=a["min_quality"],
        max_repetition=a["max_repetition"],
        min_entropy=a["min_entropy"],
        max_boilerplate=a["max_boilerplate"],
        boilerplate_n=a["boilerplate_n"],
        boilerplate_min_docs=a["boilerplate_min_docs"],
        benchmark=a["benchmark"], decontam_n=a["decontam_n"],
        max_nll=a["max_nll"], scrub=a["scrub"], gopher=a["gopher"],
        normalize=a["normalize"])
    return docs, steps


def curation_funnel(docs: DataFrame, **curate_kwargs) -> list[tuple[str, int]]:
    """Per-gate funnel counts for a ``curate`` configuration -- the
    observability a production curation run reports (how many docs
    each gate dropped), computed WITHOUT running the expensive dedup
    stage. The stages come from the SAME ``_gate_steps`` chain
    ``curate`` executes (unknown/misspelled kwargs raise exactly as
    ``curate`` would), so the final count is exactly the corpus the
    dedup/split stages would see.

    Returns [(stage, surviving_docs), ...] in pipeline order,
    starting with ('input', N). The scoring kernels run ONCE: the
    quality stage's output is checkpointed before the remaining
    counts, so each later stage is one cheap job over materialized
    data. A reporting tool, not a data path.
    """
    out = [("input", docs.count())]
    # _bound_gate_chain mirrors curate's pre-gate text rewrites
    # EXACTLY (normalize, then scrub) -- a drifted text shape here
    # would make every text-sensitive gate count (entropy,
    # repetition, boilerplate, gopher) disagree with the corpus
    # curate actually keeps
    kept, steps = _bound_gate_chain(docs, curate_kwargs)
    first_gate = True
    for name, step in steps:
        kept = step(kept)
        if name == "__checkpoint__":
            continue
        if first_gate:
            # materialize the kernel-scored frame once; every later
            # stage (and count) builds on these blocks
            kept = kept.localCheckpoint()
            first_gate = False
        out.append((name, kept.count()))
    return out


def split_leakage_report(curated: DataFrame) -> DataFrame:
    """Train/eval leakage audit over a :func:`curate` result: the
    near-dup clusters whose members landed in MORE than one split --
    each row is a leaking (cluster, split) membership a user can act
    on (drop the eval-side members, or re-run curate with
    ``cluster_consistent_splits=True``, which makes this report empty
    by construction).

    Output: (cluster_id, n_splits, split, doc_id, is_canonical) for
    every member of every straddling cluster.  Cost: one window over
    the already-computed cluster labels -- no re-clustering, no text
    scan; the report is empty on a leak-free corpus.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id")
    return (curated
            .withColumn("n_splits",
                        F.size(F.collect_set("split").over(w)))
            .filter(F.col("n_splits") > 1)
            .select("cluster_id", "n_splits", "split", "doc_id",
                    "is_canonical"))


def rejection_audit(docs: DataFrame, **curate_kwargs) -> DataFrame:
    """Per-document rejection accountability: (doc_id, rejected_at)
    naming the FIRST gate that dropped each rejected doc -- the audit
    artifact a production curation run ships next to the funnel
    counts (the funnel answers "how many did each gate cost"; this
    answers "why is doc X missing from the corpus", which is what a
    data owner actually asks).

    Reuses the SAME ``_gate_steps`` chain ``curate`` executes (same
    kwargs contract, same normalize/scrub pre-rewrites), so the
    attribution can never drift from the data path: a doc appears at
    most once, under the first gate whose output it vanished from,
    and ``input_count - count(audit) == gate-survivor count``
    (cross-checked against :func:`curation_funnel` in tests).

    Scale shape: one localCheckpoint per gate (the working set
    materializes once per stage, exactly like the funnel) and one
    id-only anti-join per gate -- O(stages) extra passes over ids,
    never over text. An audit/reporting tool, not a data path; docs
    surviving every gate produce no row (the dedup/split stages after
    the gates never DROP docs, so gate survivors ARE the curated
    id set).
    """
    kept, steps = _bound_gate_chain(docs, curate_kwargs)
    dropped_frames: list[DataFrame] = []
    for name, step in steps:
        if name == "__checkpoint__":
            # every gate output below is already localCheckpointed;
            # applying the chain's own checkpoint pseudo-stage would
            # re-materialize the same blocks back-to-back
            continue
        nxt = step(kept)
        # every stage output materializes: each is consumed TWICE
        # (the anti-join and the next gate), and the join-based
        # gates would otherwise replay their aggregate-of-kept
        # subtree per consumer
        nxt = nxt.localCheckpoint()
        dropped_frames.append(
            kept.select("doc_id")
                .join(nxt.select("doc_id"), "doc_id", "left_anti")
                .withColumn("rejected_at", F.lit(name)))
        kept = nxt
    out = dropped_frames[0]
    for f in dropped_frames[1:]:
        out = out.unionByName(f)
    return out


def incremental_curate(old_snapshot: DataFrame, new_snapshot: DataFrame,
                       corpus_path: str, index_path: str, *,
                       gopher: dict | None = None, scrub: bool = True,
                       normalize: bool = False,
                       threshold: float = 0.5, id_col: str = "doc_id",
                       text_col: str = "text") -> dict:
    """Snapshot-diff driven recompute: instead of re-curating 100 TB
    nightly, process only what changed between two RAW snapshots.

    1. ``dataset_diff`` classifies ids (narrow hashes + one join).
    2. REMOVED and CHANGED ids are deleted from the curated corpus
       and the signature index (one keyed rewrite each -- a changed
       doc's stale signature would otherwise keep matching future
       batches against text that no longer exists).
    3. ADDED and CHANGED docs run the stateless gates (normalize +
       scrub + gopher -- the same split as ``streaming/docs_gate``:
       the corpus-statistics gates need the full corpus and belong
       to periodic full passes).  ``normalize`` MUST match the full
       pass's setting: signatures computed on raw text never match a
       corpus whose signatures were built on normalized text.
    4. Survivors dedup against the index AND within the batch
       (``incremental_pairs_from_base``: O(batch + candidate-term),
       historical text never rescanned); known dups drop, in-batch
       groups keep min id.
    5. Keepers merge into the corpus (``replace_keys`` -- re-runs
       converge) and their signatures append to the index.

    Returns the run report: counts per diff status, per stage drop,
    and the final merged count."""
    import os

    from esg_decarbonization_data_integration_and_data_pipline_spark.operators.dedup import (
        dedup_merge_batch, minhash_delete_index,
    )
    from esg_decarbonization_data_integration_and_data_pipline_spark.operators.diff import (
        dataset_diff,
    )
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.writers import (
        delete_keys,
    )
    from esg_decarbonization_data_integration_and_data_pipline_spark.operators.text import (
        GOPHER_FLAG_COLS, GOPHER_METRIC_COLS, gopher_rules,
    )

    # fail BEFORE any mutation: discovering a missing index after the
    # corpus delete would leave a torn nightly state
    if not os.path.exists(index_path):
        raise ValueError(
            f"signature index not found at {index_path}; seed it first "
            f"(streaming.docs_dedup.seed_index -- empty is fine)")
    spark = new_snapshot.sparkSession
    diff = dataset_diff(old_snapshot, new_snapshot, id_col=id_col,
                        compare_cols=[text_col]).localCheckpoint()
    n_by_status = {r["status"]: r["n"] for r in
                   diff.groupBy("status")
                       .agg(F.count(F.lit(1)).alias("n")).collect()}

    # every write below is guarded by the already-collected counts: a
    # quiet night (nothing changed) must cost zero table rewrites
    n_stale = (n_by_status.get("removed", 0)
               + n_by_status.get("changed", 0))
    if n_stale:
        stale = (diff.filter(F.col("status").isin("removed", "changed"))
                     .select(id_col))
        delete_keys(spark, corpus_path, stale, [id_col])
        minhash_delete_index(spark, index_path, stale, id_col=id_col)

    n_todo = (n_by_status.get("added", 0)
              + n_by_status.get("changed", 0))
    if not n_todo:
        return {"added": 0, "changed": n_by_status.get("changed", 0),
                "removed": n_by_status.get("removed", 0),
                "unchanged": n_by_status.get("unchanged", 0),
                "reprocessed": 0, "gated_out": 0, "dup_dropped": 0,
                "merged": 0}
    todo_ids = (diff.filter(F.col("status").isin("added", "changed"))
                    .select(id_col))
    # no broadcast hint: at bootstrap (empty old snapshot) todo_ids is
    # corpus-sized; AQE broadcasts the small case by itself
    batch = new_snapshot.join(todo_ids, id_col, "left_semi")
    if normalize:
        from esg_decarbonization_data_integration_and_data_pipline_spark.operators.text import normalize_expr

        batch = batch.withColumn(text_col, normalize_expr(text_col))
    if scrub:
        batch = batch.withColumn(text_col, _scrub_expr(text_col))
    if gopher is not None:
        kw = dict(gopher)
        kw.setdefault("text_col", text_col)
        batch = (gopher_rules(batch, **kw)
                 .filter(F.col("gopher_pass") == 1)
                 .drop(*GOPHER_METRIC_COLS, *GOPHER_FLAG_COLS))
    batch = batch.localCheckpoint()
    n_gated = batch.count()

    n_keep, _pairs = dedup_merge_batch(
        spark, batch, corpus_path, index_path, threshold,
        id_col=id_col, text_col=text_col)
    return {"added": n_by_status.get("added", 0),
            "changed": n_by_status.get("changed", 0),
            "removed": n_by_status.get("removed", 0),
            "unchanged": n_by_status.get("unchanged", 0),
            "reprocessed": n_todo,
            "gated_out": n_todo - n_gated,
            "dup_dropped": n_gated - n_keep,
            "merged": n_keep}


def curate_and_export(docs: DataFrame, out_dir: str, *,
                      seq_len: int = 2048, n_shards: int = 16,
                      canonical_only: bool = True,
                      train_split: str = "train",
                      **curate_kwargs) -> DataFrame:
    """The full last mile: ``curate`` -> keep the training split's
    canonical docs -> pack into fixed-length token sequences ->
    write shard-partitioned parquet + manifest (returned).

    ``canonical_only`` drops non-canonical near-dup cluster members
    before packing (train on one copy per cluster); eval/test splits
    are NOT exported -- they are held out by construction, and a
    trainer must never stream them. Composition keeps each stage's
    scale shape: the curation working set is already checkpointed, so
    packing adds exactly one window shuffle and one write."""
    curated = curate(docs, **curate_kwargs)
    train = curated.filter(F.col("split") == train_split)
    if canonical_only:
        train = train.filter(F.col("is_canonical"))
    from esg_decarbonization_data_integration_and_data_pipline_spark.operators.packing import (
        export_packed_shards,
    )

    return export_packed_shards(train, out_dir, seq_len=seq_len,
                                n_shards=n_shards)
