"""Deduplication operators for large-scale text corpora.

Five tiers, increasing recall for near-duplicates (SURVEY.md §2B, LLM-data ops):

  exact_dedup          content-hash groupBy — one shuffle on a 128-bit key
  ngram_jaccard_pairs  exact n-gram Jaccard via shingle self-join (candidate
                       pairs share ≥1 shingle — no all-pairs blowup)
  minhash_lsh_pairs    MinHashLSH banding (pyspark.ml) — sub-quadratic
  simhash              64-bit SimHash fingerprints (hamming-near dupes)
  embedding near-dup   see operators/similarity.py

Scale notes: exact dedup shuffles only (hash, id) pairs, not the text; the
shingle self-join keys the shuffle on shingle hash (hot shingles are the skew
risk — mitigated by dropping top-frequency shingles, the standard stopword-
shingle cut); MinHashLSH's band join is the classic sub-quadratic LSH plan.
All hashes are seeded/keyed deterministically — never Python's salted hash().
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import index_lifecycle

# semanticHash -> scan partition count (decision-only, see _fanout_narrow)
_FANOUT_PROBE_CACHE: dict[int, int] = {}


def _pair_task_source(spark, n_tasks: int) -> DataFrame:
    """JVM-only task-id source for the block-pair GEMM kernels: one row per
    task id, spread over min(n_tasks, parallelism) partitions. ``spark.range``
    is a pure JVM scan; the previous ``createDataFrame(local_pairs)`` built a
    pickled-RDD-backed plan whose evaluation is itself a Python-runner stage
    (~0.2 s per run on local[32]), plus a repartition exchange to spread the
    rows. The (bi, bj) pair for an id is reconstructed inside the kernel from
    the same enumeration order — partitioning of task ids cannot affect which
    pairs are computed, so results are identical."""
    ncores = spark.sparkContext.defaultParallelism
    return spark.range(0, n_tasks, 1, min(max(n_tasks, 1), ncores))


def _fanout_narrow(df: DataFrame) -> DataFrame:
    """Scale-adaptive fan-out for CPU-heavy projections (guide §2: derive
    partitioning from the input, don't hard-code either deployment): when the
    source scan yields fewer partitions than the session's parallelism (the
    single-row-group local fixtures → 1 scan task, so every per-doc transform
    downstream would run on one core), round-robin repartition FIRST so the
    compute runs wide; a production table with ≥cores splits passes through
    untouched — no exchange added at scale. The partition-count probe is
    memoized per logical plan (semanticHash), like the strategy-stats caches:
    decision-only, results identical either way."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    key = None
    try:
        key = df.semanticHash()
    except Exception:
        pass
    n = _FANOUT_PROBE_CACHE.get(key) if key is not None else None
    if n is None:
        n = df.rdd.getNumPartitions()
        if key is not None:
            if len(_FANOUT_PROBE_CACHE) >= 256:
                _FANOUT_PROBE_CACHE.clear()
            _FANOUT_PROBE_CACHE[key] = n
    return df.repartition(target) if n < target else df


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the min-id row per distinct content hash (md5 over the raw text).
    Returns (hash, keeper_id, n_copies)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col).alias("id"))
        .groupBy("content_hash")
        .agg(F.min("id").alias("keeper_id"), F.count("*").alias("n_copies"))
    )


def word_bigrams(text_col) -> "F.Column":
    """Positional word bigrams "w_i w_{i+1}" via zip of the array with its own
    tail — pure JVM higher-order functions, no Python crossing."""
    words = F.split(text_col, " ")
    n = F.size(words)
    return F.zip_with(
        F.slice(words, 1, n - 1),
        F.slice(words, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, threshold: float = 0.5
) -> DataFrame:
    """Exact Jaccard over distinct word-bigram shingle sets.

    Plan: explode distinct shingles → self-join on shingle (only co-shingled
    pairs are candidates) → |A∩B| by pair count → Jaccard from per-doc set
    sizes. The self-join shuffles on the shingle value; candidate pairs — not
    all pairs — reach the aggregate."""
    shingled = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(word_bigrams(F.col(text_col))).alias("shingles"),
    ).localCheckpoint(eager=False)  # computed once, reused by 3 branches
    sizes = shingled.select("id", F.size("shingles").alias("set_size"))
    exploded = shingled.select("id", F.explode("shingles").alias("shingle"))
    # The candidate-pair stream (Σ per-shingle |postings|²) dwarfs the posting
    # list itself; the probe side must be spread across cores BEFORE the join
    # or one task generates every pair (a small corpus file arrives as one
    # partition). Partitioning on id_a is skew-free (uniform docs per task).
    a = exploded.select(F.col("id").alias("id_a"), "shingle").repartition("id_a")
    b = exploded.select(F.col("id").alias("id_b"), "shingle")
    # The exploded posting list is O(docs × shingles-per-doc) — small relative
    # to the pair blowup. Broadcasting it turns the candidate join into a
    # map-side hash join and lets partial aggregation absorb the pair stream
    # before any shuffle. This is the SMALL-corpus fast path; the corpus-scale
    # plan (shuffle join bucketed on shingle hash + top-frequency-shingle cut)
    # is ngram_jaccard_pairs_shuffle below.
    pair_counts = (
        a.join(F.broadcast(b), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("set_size").alias("size_b"))
    return (
        pair_counts.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_shared").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("n_shared")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def hashed_shingle_sets(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, shingles: array<long>) — each doc's DISTINCT word-bigram shingles
    hashed to int64 by JVM-side xxhash64. The shared first stage of every
    Jaccard strategy; callers that run several dedup stages over one batch
    (the streaming ingestion service) compute this ONCE, localCheckpoint it,
    and pass it (or its exploded posting form) into each stage instead of
    re-shingling the text per stage.

    The two Columns are DataFrame-independent (unresolved expressions over
    the given column NAMES) and cost a few hundred py4j round trips to
    build — memoized per (JVM, text_col, id_col) via util.session_exprs
    (r14): a memo hit returns the identical Column objects, so the plan is
    unchanged by construction."""
    from ..util import session_exprs

    def build() -> tuple:
        return (
            F.col(id_col).alias("id"),
            F.transform(
                F.array_distinct(word_bigrams(F.col(text_col))), lambda s: F.xxhash64(s)
            ).alias("shingles"),
        )

    id_c, sh_c = session_exprs(df.sparkSession, ("dedup_shingle_cols", text_col, id_col), build)
    return df.select(id_c, sh_c)


def ngram_jaccard_pairs_shuffle(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
    posting: DataFrame | None = None,
) -> DataFrame:
    """Corpus-scale posting-list Jaccard: every join is a bucketed SHUFFLE
    join keyed on the shingle hash (or doc id) — no broadcast of any
    corpus-sized side anywhere, so the plan holds when the posting list is
    terabytes. This is the declared 100-TB fallback for vocabularies too wide
    for the dense GEMM blocks.

    Plan: shingles → xxhash64 posting list (8-byte join keys, the string
    never shuffles) → optional top-frequency-shingle cut (``max_shingle_df``:
    shingles present in more documents are dropped BEFORE the self-join — the
    standard stopword-shingle skew cut; set sizes are recomputed post-cut so
    Jaccard stays exact over the cut universe, and any SQL oracle must apply
    the same cut) → sort-merge self-join on the hash → partial-aggregated
    pair counts → sort-merge joins against the per-doc size table.

    Residual hot-key skew after the cut is AQE's skew-join territory
    (sort-merge joins split oversized partitions at runtime). With
    ``max_shingle_df=None`` the result is identical to
    ``ngram_jaccard_pairs`` (same integer counts, same float64 division).

    ``posting``: optional precomputed (id, h) posting list — the exploded
    form of ``hashed_shingle_sets`` — so a multi-stage caller shingles the
    text once. When given, ``df``/``text_col``/``id_col`` are ignored."""
    if posting is None:
        posting = hashed_shingle_sets(df, text_col, id_col).select(
            "id", F.explode("shingles").alias("h")
        )
    if max_shingle_df is not None:
        keep = (
            posting.groupBy("h")
            .agg(F.count("*").alias("doc_freq"))
            .filter(F.col("doc_freq") <= max_shingle_df)
            .select("h")
        )
        posting = posting.hint("merge").join(keep.hint("merge"), "h")
    posting = posting.localCheckpoint(eager=False)  # computed once, used 3×
    sizes = posting.groupBy("id").agg(F.count("*").alias("set_size"))
    a = posting.select(F.col("id").alias("id_a"), "h")
    b = posting.select(F.col("id").alias("id_b"), "h")
    pair_counts = (
        a.hint("merge")
        .join(b.hint("merge"), "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("set_size").alias("size_b"))
    return (
        pair_counts.hint("merge")
        .join(sa.hint("merge"), "id_a")
        .hint("merge")
        .join(sb.hint("merge"), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_shared").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("n_shared")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    posting: DataFrame | None = None,
) -> DataFrame:
    """Exact word-bigram Jaccard pairs via the prefix filter (All-Pairs /
    PPJoin family: Bayardo et al. WWW'07, Xiao et al. WWW'08 — public
    algorithms). Result-identical to ``ngram_jaccard_pairs``; this is the
    default corpus-scale exact plan.

    Why: the plain posting-list self-join generates one candidate row per
    shared-shingle occurrence — Σ df(shingle)² rows, which explodes on
    dense-overlap corpora (hot shingles). The prefix filter bounds that mass:
    order every doc's shingles by ascending global doc-frequency (rarest
    first; ties by hash) and join only each doc's PREFIX — the first
    ``n − ⌈t·n⌉ + 1`` shingles. Two sets with Jaccard ≥ t must share at least
    one element lying in BOTH prefixes under any common global order, so the
    candidate set is complete; hot shingles sort to the back and fall out of
    most prefixes, collapsing the df² mass exactly where it is worst.
    Candidates are then verified exactly from the full (sorted, distinct)
    shingle arrays via ``array_intersect``.

    Scale shape: every join is keyed shuffle (shingle hash / doc id) — no
    broadcast of any corpus-sized side; per-candidate verify cost is
    O(|a| + |b|); doc arrays ship only to their own candidates. Same int64
    xxhash64 shingle representation (and the same negligible-collision
    caveat) as the GEMM kernels.

    ``posting``: optional precomputed (id, h) posting list (the exploded
    ``hashed_shingle_sets`` form); when given, text is never re-shingled and
    ``df``/``text_col``/``id_col`` are ignored."""
    from pyspark.sql import Window

    if posting is None:
        posting = hashed_shingle_sets(df, text_col, id_col).select(
            "id", F.explode("shingles").alias("h")
        )
    posting = posting.localCheckpoint(eager=False)  # computed once: prefix + verify
    doc_freq = posting.groupBy("h").agg(F.count("*").alias("df"))
    ranked = posting.hint("merge").join(doc_freq.hint("merge"), "h")
    by_rarity = Window.partitionBy("id").orderBy("df", "h")
    whole_doc = Window.partitionBy("id")
    sized = ranked.withColumn("rn", F.row_number().over(by_rarity)).withColumn(
        "n", F.count("*").over(whole_doc)
    )
    prefix = sized.filter(
        F.col("rn") <= F.col("n") - F.ceil(F.lit(float(threshold)) * F.col("n")) + 1
    ).select("id", "h")
    cand = (
        prefix.select(F.col("id").alias("id_a"), "h")
        .hint("merge")
        .join(prefix.select(F.col("id").alias("id_b"), "h").hint("merge"), "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sets = posting.groupBy("id").agg(
        F.sort_array(F.collect_list("h")).alias("hs"), F.count("*").alias("set_size")
    )
    return (
        cand.hint("merge")
        .join(
            sets.select(
                F.col("id").alias("id_a"),
                F.col("hs").alias("hs_a"),
                F.col("set_size").alias("size_a"),
            ).hint("merge"),
            "id_a",
        )
        .hint("merge")
        .join(
            sets.select(
                F.col("id").alias("id_b"),
                F.col("hs").alias("hs_b"),
                F.col("set_size").alias("size_b"),
            ).hint("merge"),
            "id_b",
        )
        .withColumn("n_shared", F.size(F.array_intersect("hs_a", "hs_b")))
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_shared").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("n_shared")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _jaccard_gemm_broadcast(
    shingled: DataFrame, threshold: float, n_blocks: int
) -> DataFrame:
    """Broadcast form of the blocked Jaccard GEMM for corpora that fit in a
    broadcast (the analog of broadcast-join selection): the CSR-ified shingle
    table ships once per executor, the shuffle carries only (block_i, block_j)
    task ids, and each task densifies its two row blocks from the broadcast.
    Eliminates the 2×(n_blocks+1)-fold row duplication and the per-group
    Arrow array-of-array conversion that dominate the shuffle path locally.
    Bit-identical results: same 0/1 counts, same float64 division."""
    import numpy as np
    import pyarrow.compute as pc

    # Arrow collect (guarded by the caller's size check): one columnar
    # transfer instead of per-row pickled Rows + a Python conversion loop —
    # the flattened shingle values and per-doc lengths come straight out of
    # the list array's buffers (r13 measurement: the row-collect path
    # dominated this operator's per-run constant).
    tbl = shingled.toArrow()
    ids = tbl.column("id").to_numpy().astype(np.int64, copy=False)
    sh_col = tbl.column("shingles").combine_chunks()
    lens = pc.list_value_length(sh_col).to_numpy().astype(np.int64, copy=False)
    flat = sh_col.flatten().to_numpy().astype(np.int64, copy=False)
    vocab, cols_flat = np.unique(flat, return_inverse=True)
    offsets = np.concatenate([[0], np.cumsum(lens)])
    # block assignment mirrors the shuffle path: id mod n_blocks
    block_of = (ids % n_blocks).astype(np.int64)
    order = np.argsort(block_of, kind="stable")
    spark = shingled.sparkSession
    bc = spark.sparkContext.broadcast(
        {
            "ids": ids,
            "cols": cols_flat.astype(np.int32),
            "offsets": offsets,
            "lens": lens,
            "n_vocab": len(vocab),
            "by_block": {int(b): order[block_of[order] == b] for b in range(n_blocks)},
        }
    )

    pairs = [(i, j) for i in range(n_blocks) for j in range(n_blocks) if i <= j]

    def run_pairs(batches):
        import pyarrow as pa

        # this closure references no package global, so unpickling it does not
        # import the package — install the per-task boundary guard explicitly
        # (idempotent, soft: never fail the kernel for an optimization;
        # see pyboundary.py)
        try:
            from snapshot_sender_spark.pyboundary import install_zipimport_guard

            install_zipimport_guard()
        except Exception:
            pass
        d = bc.value

        def dense(rowsel):
            m = np.zeros((len(rowsel), d["n_vocab"]), dtype=np.float32)
            rr = np.repeat(np.arange(len(rowsel)), d["lens"][rowsel])
            cc = np.concatenate(
                [d["cols"][d["offsets"][r] : d["offsets"][r + 1]] for r in rowsel]
            ) if len(rowsel) else np.empty(0, dtype=np.int32)
            m[rr, cc] = 1.0
            return m

        for batch in batches:
            outs = []
            for pid in batch.column(0).to_pylist():
                bi, bj = pairs[pid]
                ra_sel = d["by_block"].get(int(bi), np.empty(0, dtype=np.int64))
                rb_sel = d["by_block"].get(int(bj), np.empty(0, dtype=np.int64))
                if not len(ra_sel) or not len(rb_sel):
                    continue
                ma, mb = dense(ra_sel), (None if bi == bj else dense(rb_sel))
                counts = (ma @ (ma if mb is None else mb).T).astype(np.float64)
                sa = d["lens"][ra_sel].astype(np.float64)[:, None]
                sb = d["lens"][rb_sel].astype(np.float64)[None, :]
                jac = counts / (sa + sb - counts)
                ids_a, ids_b = d["ids"][ra_sel], d["ids"][rb_sel]
                if bi == bj:
                    mask = (jac >= threshold) & (ids_a[:, None] < ids_b[None, :])
                else:
                    mask = jac >= threshold
                ra, cb = np.nonzero(mask)
                if len(ra):
                    outs.append((np.minimum(ids_a[ra], ids_b[cb]),
                                 np.maximum(ids_a[ra], ids_b[cb]),
                                 jac[ra, cb]))
            if outs:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate([o[0] for o in outs]), type=pa.int64()),
                        pa.array(np.concatenate([o[1] for o in outs]), type=pa.int64()),
                        pa.array(np.concatenate([o[2] for o in outs]), type=pa.float64()),
                    ],
                    names=["id_a", "id_b", "jaccard"],
                )

    # task source: JVM-only range of pair ids (see _pair_task_source); the
    # kernel crosses to Python exactly once, via Arrow
    pair_df = _pair_task_source(spark, len(pairs))
    return pair_df.mapInArrow(run_pairs, schema="id_a long, id_b long, jaccard double")


def incremental_jaccard_pairs(
    existing: DataFrame,
    new: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact CROSS-SET Jaccard: every (new-doc, existing-doc) pair with
    J ≥ threshold — the continuous-ingestion shape of corpus dedup, where
    each incoming batch is checked against the standing corpus instead of
    re-running a quadratic self-join over everything.

    Plan: the existing corpus's posting list joins the NEW batch's posting
    list on the shingle hash — never existing×existing, so per-batch cost is
    proportional to the batch's shingle mass times per-shingle corpus df,
    not corpus². At production scale the existing posting list is a
    maintained bucketed table (write it partitioned by ``h`` range once,
    append each accepted batch), making the per-batch join a co-located
    shuffle on 8-byte keys; document text never shuffles. All joins are
    keyed shuffles — nothing corpus-sized broadcasts. Returns
    (id_new, id_existing, jaccard)."""

    def posting(d: DataFrame, out: str) -> DataFrame:
        sh = d.select(
            F.col(id_col).alias(out),
            F.array_distinct(word_bigrams(F.col(text_col))).alias("sh"),
        )
        return sh.select(out, F.explode("sh").alias("shingle")).select(
            out, F.xxhash64("shingle").alias("h")
        )

    pn = posting(new, "id_new")
    pe = posting(existing, "id_existing")
    sn = pn.groupBy("id_new").agg(F.count("*").alias("size_new"))
    se = pe.groupBy("id_existing").agg(F.count("*").alias("size_existing"))
    pair_counts = (
        pn.hint("merge")
        .join(pe.hint("merge"), "h")
        .groupBy("id_new", "id_existing")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        pair_counts.hint("merge")
        .join(sn.hint("merge"), "id_new")
        .hint("merge")
        .join(se.hint("merge"), "id_existing")
        .select(
            "id_new",
            "id_existing",
            (
                F.col("n_shared").cast("double")
                / (
                    F.col("size_new") + F.col("size_existing") - F.col("n_shared")
                ).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def incremental_jaccard_pairs_prefix(
    existing: DataFrame,
    new: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Prefix-filtered CROSS-SET Jaccard (the All-Pairs/PPJoin prefix filter
    adapted to batch-vs-corpus): result-identical to
    ``incremental_jaccard_pairs``, but candidate generation joins only each
    doc's rarest ``n − ⌈t·n⌉ + 1`` shingles — the completeness theorem holds
    under ANY global order common to both sides, so the rarity order is
    ascending doc-frequency over the UNION of both posting lists. On
    boilerplate-heavy corpora (hot shared shingles) this collapses the
    Σ df_new·df_corpus candidate mass exactly where it is worst; candidates
    are verified exactly from the full sorted shingle arrays. Every join is
    a keyed shuffle — nothing corpus-sized broadcasts."""
    from pyspark.sql import Window

    def posting(d: DataFrame, out: str) -> DataFrame:
        return (
            d.select(
                F.col(id_col).alias(out),
                F.array_distinct(word_bigrams(F.col(text_col))).alias("sh"),
            )
            .select(out, F.explode("sh").alias("shingle"))
            .select(out, F.xxhash64("shingle").alias("h"))
        )

    pn = posting(new, "id").withColumn("side", F.lit("n"))
    pe = posting(existing, "id").withColumn("side", F.lit("e"))
    both = pn.unionByName(pe).localCheckpoint(eager=False)
    doc_freq = both.groupBy("h").agg(F.count("*").alias("df"))
    ranked = both.hint("merge").join(doc_freq.hint("merge"), "h")
    by_rarity = Window.partitionBy("side", "id").orderBy("df", "h")
    whole_doc = Window.partitionBy("side", "id")
    sized = ranked.withColumn("rn", F.row_number().over(by_rarity)).withColumn(
        "n", F.count("*").over(whole_doc)
    )
    prefix = sized.filter(
        F.col("rn") <= F.col("n") - F.ceil(F.lit(float(threshold)) * F.col("n")) + 1
    ).select("side", "id", "h")
    cand = (
        prefix.filter(F.col("side") == "n")
        .select(F.col("id").alias("id_new"), "h")
        .hint("merge")
        .join(
            prefix.filter(F.col("side") == "e")
            .select(F.col("id").alias("id_existing"), "h")
            .hint("merge"),
            "h",
        )
        .select("id_new", "id_existing")
        .distinct()
    )
    sets = both.groupBy("side", "id").agg(
        F.sort_array(F.collect_list("h")).alias("hs"), F.count("*").alias("set_size")
    )
    return (
        cand.hint("merge")
        .join(
            sets.filter(F.col("side") == "n")
            .select(
                F.col("id").alias("id_new"),
                F.col("hs").alias("hs_n"),
                F.col("set_size").alias("size_new"),
            )
            .hint("merge"),
            "id_new",
        )
        .hint("merge")
        .join(
            sets.filter(F.col("side") == "e")
            .select(
                F.col("id").alias("id_existing"),
                F.col("hs").alias("hs_e"),
                F.col("set_size").alias("size_existing"),
            )
            .hint("merge"),
            "id_existing",
        )
        .withColumn("n_shared", F.size(F.array_intersect("hs_n", "hs_e")))
        .select(
            "id_new",
            "id_existing",
            (
                F.col("n_shared").cast("double")
                / (
                    F.col("size_new") + F.col("size_existing") - F.col("n_shared")
                ).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def build_dedup_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    table: str,
    n_buckets: int = 64,
    mode: str = "overwrite",
) -> None:
    """Persist the corpus shingle posting list as a BUCKETED, sorted table
    (``table``: (id, h) bucketed by h; ``table + "_sizes"``: per-doc set
    sizes) — the standing dedup index for continuous ingestion.

    Why bucketed: every subsequent batch dedup joins on ``h``; with the
    corpus side bucketed+sorted on the join key, the sort-merge join reads
    the corpus buckets IN PLACE — no Exchange, no sort on the corpus side,
    ever (pinned by test). Only the incoming batch (tiny by comparison)
    shuffles to match the bucket layout. This is the posting-list analog of
    the persisted IVF index (operators/similarity.py): pay the layout once,
    amortize over every batch. ``mode="append"`` adds an accepted batch's
    postings to the index (bucket spec is preserved by Spark on append)."""
    posting = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(word_bigrams(F.col(text_col)))).alias("shingle"),
    ).select("id", F.xxhash64("shingle").alias("h"))
    spark = df.sparkSession
    if mode == "overwrite":
        # clear a stale location left by a previous process (in-memory
        # catalog starts empty; see _drop_stale_table_location)
        _drop_stale_table_location(spark, table)
        _drop_stale_table_location(spark, table + "_sizes")
    (
        posting.write.bucketBy(n_buckets, "h")
        .sortBy("h")
        .mode(mode)
        .saveAsTable(table)
    )
    sizes = posting.groupBy("id").agg(F.count("*").alias("set_size"))
    sizes.write.mode(mode).saveAsTable(table + "_sizes")


# Shared epoch-lifecycle core (round 8): create / dynamic-overwrite append /
# crash-curative fold live ONCE in operators/index_lifecycle.py; the
# per-family functions below are thin wrappers. The private aliases keep
# every pre-round-8 internal call site and test import working unchanged.
_drop_stale_table_location = index_lifecycle.drop_stale_table_location
_fold_epoch_partitions = index_lifecycle.fold_epoch_partitions


def refresh_index(spark, table: str) -> bool:
    """Refresh ``spark``'s cached file listings of an index ``table`` and its
    ``_sizes`` side table (posting mode only) so appends made through
    another session are visible. False when the index does not exist yet."""
    if not spark.catalog.tableExists(table):
        return False
    spark.catalog.refreshTable(table)
    if spark.catalog.tableExists(table + "_sizes"):
        spark.catalog.refreshTable(table + "_sizes")
    return True


def append_dedup_index_epoch(
    spark,
    table: str,
    df: DataFrame,
    text_col: str,
    id_col: str,
    epoch: int,
    n_buckets: int = 8,
    posting: DataFrame | None = None,
) -> None:
    """REPLAY-IDEMPOTENT per-epoch index append for the streaming ingestion
    service: postings and sizes are bucketed on their join keys AND
    partitioned by epoch; re-running an epoch DYNAMICALLY OVERWRITES its own
    partition instead of double-appending, so a crash between the corpus
    write and the index write cannot duplicate postings on replay (blind
    ``mode("append")`` would). Bucketed scans survive the partitioning —
    batch joins still read corpus buckets with no Exchange (probed and
    pinned in tests). ``insertInto`` resolves columns BY POSITION, hence the
    fixed column order here. ``posting``: optional precomputed (id, h) batch
    posting list (exploded ``hashed_shingle_sets``); when given,
    ``df``/``text_col``/``id_col`` are ignored and text is not re-shingled."""
    if posting is not None:
        posting = posting.select("id", "h")
    else:
        posting = (
            df.select(
                F.col(id_col).alias("id"),
                F.explode(F.array_distinct(word_bigrams(F.col(text_col)))).alias("s"),
            )
            .select("id", F.xxhash64("s").alias("h"))
        )
    sizes = posting.groupBy("id").agg(F.count("*").alias("set_size"))
    index_lifecycle.append_epoch_partition(
        spark, table, posting, epoch, bucket_cols=["h"], n_buckets=n_buckets
    )
    index_lifecycle.append_epoch_partition(spark, table + "_sizes", sizes, epoch)


COMPACTED_EPOCH = index_lifecycle.COMPACTED_EPOCH  # re-export (see there)


def compact_dedup_index(
    spark,
    table: str,
    epochs: list[int],
    target_epoch: int = COMPACTED_EPOCH,
    write_tasks: int = 1,
) -> int:
    """Fold COMMITTED epoch partitions of an epoch-partitioned dedup index
    (``append_dedup_index_epoch``) into the single reserved
    ``epoch = COMPACTED_EPOCH`` partition — the small-file compaction the
    standing index needs at scale: a long-running ingestion service
    accretes one partition (× n_buckets files) per epoch forever, and
    after thousands of epochs every batch probe pays an open/list tax per
    tiny file even though partition pruning never prunes them (the probe
    wants the WHOLE standing corpus). Returns the number of posting rows
    folded.

    Result-identical by construction: the probe reads the union of all
    non-excluded partitions, and compaction only moves rows between
    partitions (the target partition's existing rows are folded too, so
    repeated compaction is stable). The bucket spec survives — insertInto
    on a bucketed table re-clusters by the table's spec, so the
    bucket-aligned no-Exchange probe plan is unchanged (pinned by test).

    DURABILITY CONTRACT: compact only epochs whose ``_epochs`` markers are
    committed and retained. A compacted epoch's own partition disappears,
    so the crash-replay path that rebuilds an epoch via dynamic partition
    overwrite (marker lost) would DUPLICATE its postings — marker files
    must live at least as long as the index, exactly as the service already
    requires for its fast-skip contract. The service's current epoch must
    never be in ``epochs`` (its partition is the replay-exclusion target).

    CRASH RECOVERY: a crash between the target-partition overwrite and the
    source-partition drops leaves folded rows in BOTH places — probes in
    that window double-count n_shared. Rows are globally unique by key
    ((id, h) postings: one epoch per doc, distinct shingles per doc; (id)
    sizes), so the fold dedups by key and RE-RUNNING the compaction with
    the same epochs is curative, not amplifying (pinned by test). Run it
    from the service (``compact_after``) or any context that retries on
    failure.
    """
    return _fold_epoch_partitions(
        spark,
        [(table, ["id", "h"]), (table + "_sizes", ["id", "set_size"])],
        epochs,
        target_epoch,
        write_tasks,
    )


def incremental_jaccard_against_index(
    spark,
    table: str,
    new: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    exclude_epoch: int | None = None,
    posting: DataFrame | None = None,
) -> DataFrame:
    """Exact cross-set Jaccard of an incoming batch against a persisted
    dedup index (see ``build_dedup_index``). Result-identical to
    ``incremental_jaccard_pairs(corpus, new, ...)``; the difference is
    physical: the corpus posting list is read bucket-aligned on the join
    key, so the plan has NO Exchange and no sort on the corpus side — the
    per-batch cost is shuffling the batch itself plus a merge against
    pre-sorted corpus buckets. Returns (id_new, id_existing, jaccard).

    ``exclude_epoch`` (epoch-partitioned indexes only, see
    ``append_dedup_index_epoch``): drop that epoch's partition from the
    corpus side — partition-pruned, no data read. The streaming service
    passes its CURRENT epoch id so a replay after a crash *between* the
    index append and the epoch marker doesn't see the crashed attempt's own
    postings (every accepted doc would self-match at Jaccard 1.0 and be
    dropped, and the empty re-accept would then strand the stale index
    partition — phantom postings suppressing future accepts)."""
    pe = spark.table(table)
    se = spark.table(table + "_sizes")
    if exclude_epoch is not None:
        if "epoch" not in pe.columns:
            raise ValueError(
                f"exclude_epoch requires an epoch-partitioned index "
                f"(append_dedup_index_epoch); table {table!r} has no epoch column"
            )
        pe = pe.filter(F.col("epoch") != F.lit(int(exclude_epoch)))
        se = se.filter(F.col("epoch") != F.lit(int(exclude_epoch)))
    pe = pe.select(F.col("id").alias("id_existing"), "h")
    se = se.select(
        F.col("id").alias("id_existing"), F.col("set_size").alias("size_existing")
    )
    # ``posting``: optional precomputed (id, h) batch posting list (exploded
    # ``hashed_shingle_sets``) so a multi-stage caller shingles once; when
    # given, ``new``/``text_col``/``id_col`` are ignored.
    if posting is not None:
        pn = posting.select(F.col("id").alias("id_new"), "h")
    else:
        pn = new.select(
            F.col(id_col).alias("id_new"),
            F.explode(F.array_distinct(word_bigrams(F.col(text_col)))).alias("shingle"),
        ).select("id_new", F.xxhash64("shingle").alias("h"))
    sn = pn.groupBy("id_new").agg(F.count("*").alias("size_new"))
    pair_counts = (
        pn.hint("merge")
        .join(pe.hint("merge"), "h")
        .groupBy("id_new", "id_existing")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        pair_counts.hint("merge")
        .join(sn.hint("merge"), "id_new")
        .hint("merge")
        .join(se.hint("merge"), "id_existing")
        .select(
            "id_new",
            "id_existing",
            (
                F.col("n_shared").cast("double")
                / (
                    F.col("size_new") + F.col("size_existing") - F.col("n_shared")
                ).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# corpus-stats memo for the Jaccard strategy selector: semanticHash → stats
_JACCARD_STATS_CACHE: dict[int, tuple] = {}


def ngram_jaccard_pairs_gemm(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    n_blocks: int = 16,
    max_vocab: int = 65536,
    broadcast_max_elems: int = 16_000_000,
    max_dense_flops: float = 5e10,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Exact word-bigram Jaccard pairs via blocked matrix multiply.

    |A∩B| for every pair is one GEMM: with B the doc×shingle 0/1 matrix,
    counts = B·Bᵀ. Distributed as the standard blocked similarity join: docs
    are split into ``n_blocks`` row blocks; every block pair (i ≤ j) becomes
    one task that multiplies its two sub-matrices (Arrow-shipped via
    applyInPandas, dense float32 — counts ≤ vocab size are exact in float32).
    No 36M-row candidate stream: the pair space is materialized only inside
    the kernel and filtered to survivors before leaving the task.

    Result-identical to ``ngram_jaccard_pairs`` (same threshold semantics), so
    it shares the same SQL oracle: shingles are mapped to int64 by JVM-side
    xxhash64 before shipping (4× smaller Arrow payload, integer unique/
    searchsorted in the kernel) — a hash collision *within one doc-pair's
    union* would be needed to perturb a count, P < 1e-9 at the dense-width
    guard's vocabulary cap.

    Strategy selection is COST-BASED (the physical-plan analog of a CBO's
    join selection): two count-only stats passes estimate GEMM work
    (docs² · vocab / 2 dense flops — quadratic in docs regardless of
    blocking, BLAS constant) and posting-join work (Σ df² candidate rows —
    output-sensitive, shuffle-row constant), and the cheaper plan runs.
    Within the posting branch, a df-skew statistic picks
    ``ngram_jaccard_pairs_prefix`` (skewed df → prefixes drop hot shingles)
    vs ``ngram_jaccard_pairs_shuffle`` (uniform df → prefix filter can't
    prune; skip its window + verify overhead). Within the GEMM branch the
    driver-collect broadcast kernel additionally requires the corpus under
    ``broadcast_max_elems`` AND the flops under ``max_dense_flops``; else the
    distributed blocked kernel runs (dense width capped by ``max_vocab``).
    Measured on the key-offset scale tiers (tools/scale_run.py): at 1× the
    GEMM kernel wins 1.5 s vs 12 s; at 10× the posting join wins 41 s vs
    67 s — the crossover the cost model encodes."""
    import numpy as np
    import pandas as pd

    # No global shingle vocabulary: shingles hash to int64 in the JVM and each
    # block-pair task factorizes the hashes it actually sees (local index
    # width ≤ union of two blocks' vocabularies). Avoids the global-distinct +
    # window + back-join prep pass. ``shingled``: optional precomputed
    # ``hashed_shingle_sets`` output (multi-stage callers shingle once); the
    # posting-branch strategies below then consume its exploded form instead
    # of re-shingling the text.
    if shingled is None:
        # project to the two needed columns, then fan the per-doc shingle
        # compute across cores when the scan is narrower than the session
        # parallelism (no-op at scale — see _fanout_narrow)
        shingled = hashed_shingle_sets(
            _fanout_narrow(df.select(id_col, text_col)), text_col, id_col
        )
    # Two count-only stats passes decide the physical strategy — the same
    # role table statistics play in a cost-based optimizer's join selection.
    # Cheap at any corpus size (aggregates over the shingle column only), and
    # memoized per logical plan (semanticHash) the way an engine caches table
    # stats — repeated runs of the same query skip the stats jobs. Staleness
    # caveat: like any cached statistic, a table REWRITTEN IN PLACE under the
    # same plan within one session reuses the old stats (decision quality
    # only — every strategy is result-identical).
    cache_key = None
    try:
        cache_key = shingled.semanticHash()
    except Exception:
        pass
    if cache_key is not None and cache_key in _JACCARD_STATS_CACHE:
        n_docs, total_elems, vocab, sum_df2 = _JACCARD_STATS_CACHE[cache_key]
    else:
        stats = shingled.agg(
            F.count("*").alias("docs"), F.sum(F.size("shingles")).alias("elems")
        ).first()
        total_elems = stats["elems"] or 0
        n_docs = stats["docs"] or 0
        dstats = (
            shingled.select(F.explode("shingles").alias("s"))
            .groupBy("s")
            .agg(F.count("*").alias("df"))
            .agg(
                F.count("*").alias("vocab"),
                F.sum(F.col("df") * F.col("df")).alias("sum_df2"),
            )
            .first()
            if n_docs
            else None
        )
        vocab = (dstats["vocab"] if dstats else 0) or 0
        sum_df2 = (dstats["sum_df2"] if dstats else 0) or 0
        if cache_key is not None:
            if len(_JACCARD_STATS_CACHE) >= 256:
                _JACCARD_STATS_CACHE.clear()
            _JACCARD_STATS_CACHE[cache_key] = (n_docs, total_elems, vocab, sum_df2)
    # Cost model (calibrated on the key-offset scale tiers, tools/scale_run.py):
    #   GEMM total work  = docs² · vocab / 2 dense flops — QUADRATIC in docs no
    #     matter how the blocks are cut, but with a BLAS-kernel constant;
    #   posting-join work ≈ Σ df(shingle)² candidate rows — output-sensitive,
    #     but each row is a shuffled+aggregated record, ~10³ flops-equivalent.
    # Measured: sf0.1 (1.25e10 flops vs 7.5e7 rows) GEMM wins 1.5 s vs 12 s;
    # 10× tier (1e13 flops vs 7.5e8 rows) posting wins 41 s vs 67 s.
    POSTING_ROW_FLOPS = 2000.0
    cost_gemm = n_docs * n_docs * max(vocab, 1) / 2
    cost_posting = POSTING_ROW_FLOPS * max(sum_df2, 1)
    if cost_gemm > cost_posting or vocab > max_vocab:
        # Posting-join territory. Prefix filtering (All-Pairs/PPJoin) prunes
        # the Σ df² mass only when the df distribution is skewed (hot shingles
        # sort out of prefixes); on uniform-df corpora it adds a window + a
        # verify join for no candidate reduction. Skew statistic: Σ df²
        # relative to the uniform-df corpus with the same elems/vocab.
        uniform_df2 = (total_elems * total_elems) / max(vocab, 1)
        posting = shingled.select("id", F.explode("shingles").alias("h"))
        if sum_df2 > 2.0 * uniform_df2:
            return ngram_jaccard_pairs_prefix(
                df, text_col, id_col, threshold, posting=posting
            )
        return ngram_jaccard_pairs_shuffle(
            df, text_col, id_col, threshold, posting=posting
        )
    if total_elems <= broadcast_max_elems and cost_gemm <= max_dense_flops:
        # driver-collect + rebroadcast is bounded by BOTH size and flops
        return _jaccard_gemm_broadcast(shingled, threshold, n_blocks)
    indexed = shingled.withColumn("block", F.pmod(F.col("id"), F.lit(n_blocks)).cast("int"))
    blocks = list(range(n_blocks))
    pair_rows = [(i, j, side) for i in blocks for j in blocks if i <= j for side in ("a", "b")]
    # assignment table: block-pair (i,j) pulls block i as side a, block j as side b
    assign = indexed.sparkSession.createDataFrame(
        [(i, j, s, i if s == "a" else j) for (i, j, s) in pair_rows],
        "bi int, bj int, side string, block int",
    )
    grouped = indexed.join(F.broadcast(assign), "block").repartition("bi", "bj")

    def densify(rows: pd.DataFrame, vocab: "np.ndarray"):
        # vectorized 0/1 matrix build: one searchsorted over the flattened
        # hashes, row ids by repeat — no per-row Python loop
        arrs = [np.asarray(v, dtype=np.int64) for v in rows["shingles"]]
        lens = np.array([len(x) for x in arrs], dtype=np.int64)
        flat = np.concatenate(arrs) if arrs else np.empty(0, dtype=np.int64)
        m = np.zeros((len(arrs), len(vocab)), dtype=np.float32)
        m[np.repeat(np.arange(len(arrs)), lens), np.searchsorted(vocab, flat)] = 1.0
        return m, lens

    def gemm(pdf: pd.DataFrame) -> pd.DataFrame:
        a = pdf[pdf["side"] == "a"]
        b = pdf[pdf["side"] == "b"]
        same_block = pdf["bi"].iat[0] == pdf["bj"].iat[0]
        if same_block:
            b = a
        if a.empty or b.empty:
            return pd.DataFrame(columns=["id_a", "id_b", "jaccard"])

        vocab = np.unique(
            np.concatenate(
                [np.concatenate(a["shingles"].to_numpy()), np.concatenate(b["shingles"].to_numpy())]
            ).astype(np.int64, copy=False)
        )
        ma, lens_a = densify(a, vocab)
        mb, lens_b = densify(b, vocab)
        counts = (ma @ mb.T).astype(np.float64)  # |A∩B| — exact ints ≤ vocab ≪ 2^24
        # set sizes are the (pre-distinct) shingle-array lengths
        sa = lens_a.astype(np.float64)[:, None]
        sb = lens_b.astype(np.float64)[None, :]
        # float64 division of exact integers — bit-identical to the SQL oracle
        jac = counts / (sa + sb - counts)
        ids_a = a["id"].to_numpy()
        ids_b = b["id"].to_numpy()
        if same_block:
            # each unordered pair appears as (r,c) and (c,r): keep one
            mask = (jac >= threshold) & (ids_a[:, None] < ids_b[None, :])
        else:
            # distinct blocks: each unordered pair appears exactly once, but
            # the smaller id may sit on either side — normalize below
            mask = jac >= threshold
        ra, cb = np.nonzero(mask)
        lo = np.minimum(ids_a[ra], ids_b[cb])
        hi = np.maximum(ids_a[ra], ids_b[cb])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "jaccard": jac[ra, cb]})

    return (
        grouped.groupBy("bi", "bj")
        .applyInPandas(lambda _, pdf: gemm(pdf), schema="id_a long, id_b long, jaccard double")
    )


def minhash_lsh_pairs(
    df: DataFrame, text_col: str, id_col: str, jaccard_threshold: float = 0.5,
    num_hash_tables: int = 8, num_features: int = 1 << 18, seed: int = 42,
) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs via pyspark.ml: shingle → HashingTF
    (binary) → MinHashLSH → approxSimilarityJoin. Returns (id_a, id_b,
    jaccard_distance). Sub-quadratic: only hash-band collisions are joined."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    shingled = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(word_bigrams(F.col(text_col))).alias("shingles"),
    ).filter(F.size("shingles") > 0)
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=num_features, binary=True
    )
    feats = tf.transform(shingled)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=seed)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 1.0 - jaccard_threshold, distCol="jaccard_dist")
    return (
        pairs.select(
            F.col("datasetA.id").alias("id_a"),
            F.col("datasetB.id").alias("id_b"),
            F.col("jaccard_dist"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )


def simhash64_plan(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash signatures computed ENTIRELY JVM-side (same md5-prefix
    token hash as ``simhash64``/``simhash64_np``, bit-identical signatures,
    pinned by a parity test). Kept as the zero-Python alternative; measured
    SLOWER locally than the numpy kernel (10× tier warm: 2.6 s vs 0.6-1.0 s —
    the md5-hex→conv string path plus the 64-buffer aggregate costs more than
    the Arrow crossing it avoids), so ``simhash64_np`` is the production
    default. On a cluster where Python workers are the bottleneck (or
    unavailable), this plan is the drop-in replacement.

    Plan: explode whitespace tokens → JVM ``md5`` → the first 16 hex chars
    parsed as two 32-bit halves via ``conv`` and recombined with
    ``shiftleft|bitwiseOR`` (conv's unsigned decimal string can't cast to a
    signed 64-bit long directly; each half fits) → ONE groupBy(id) with 64
    conditional-sum aggregates (±1 per bit) → the signature reassembled by
    OR-ing ``1 << i`` for every positive accumulator. Everything stays inside
    whole-stage codegen; partial aggregation absorbs the token stream
    map-side, so only 64 longs per doc shuffle — no Python crossing at all.

    Matches the UDF's edge semantics: NULL text → NULL signature; token-less
    text → 0; duplicate tokens each contribute. Returns (id_col, simhash)."""
    from functools import reduce

    ids = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    # tokenization must equal Python's str.split(): that set is Unicode
    # White_Space PLUS the C0 separators \x1c-\x1f. Java's default \s is
    # ASCII-only, so NBSP/em-space text would tokenize differently and break
    # bit-parity; (?U) switches \s to White_Space and the class adds \x1c-\x1f.
    toks = ids.select(
        "id", F.explode(F.split(F.col("t"), r"(?U)[\s\x1c-\x1f]+")).alias("tok")
    ).filter(F.col("tok") != "")
    # materialize the md5 prefix in its own projection so the digest runs
    # once per token (hi and lo both derive from it)
    hx = toks.select("id", F.substring(F.md5(F.col("tok")), 1, 16).alias("x"))
    hi = F.conv(F.substring(F.col("x"), 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(F.col("x"), 9, 8), 16, 10).cast("long")
    hashed = hx.select("id", F.shiftleft(hi, 32).bitwiseOR(lo).alias("h"))
    accs = hashed.groupBy("id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(64)
        ]
    )
    zero = F.lit(0).cast("long")
    sig = reduce(
        lambda a, b: a.bitwiseOR(b),
        [
            F.when(F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(zero)
            for i in range(64)
        ],
    )
    sigs = accs.select("id", sig.alias("simhash"))
    return (
        ids.select("id", F.col("t").isNull().alias("t_null"))
        .join(sigs, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.when(F.col("t_null"), F.lit(None).cast("long"))
            .otherwise(F.coalesce(F.col("simhash"), zero))
            .alias("simhash"),
        )
    )


@F.pandas_udf(T.LongType())
def simhash64_np(text: pd.Series) -> pd.Series:
    """Numpy-vectorized 64-bit SimHash — the PRODUCTION kernel (bit-identical
    to ``simhash64``/``simhash64_plan``, pinned by parity test; measured the
    fastest of the three at the 10× tier — see the module's simhash notes).

    The whole Arrow batch is processed as flat arrays: one concatenated
    digest buffer for every token in the batch (hashlib.md5 is a C call; the
    first 8 digest bytes big-endian == the first 16 hex chars as an int),
    ``np.unpackbits`` to a (tokens, 64) 0/1 matrix, per-doc ±1 accumulators
    via ``np.add.reduceat`` segment sums (acc = 2·ones − n), and the
    signature reassembled as a weighted bit-dot. The only per-token Python
    is the md5 call itself — no 64-iteration inner loop."""
    import numpy as np

    toks_per = [None if t is None else t.split() for t in text]
    lens = np.array([len(ts) for ts in toks_per if ts], dtype=np.int64)
    out = np.zeros(len(text), dtype=np.int64)
    if lens.size:
        buf = b"".join(
            hashlib.md5(tok.encode()).digest()[:8]
            for ts in toks_per
            if ts
            for tok in ts
        )
        bytes_ = np.frombuffer(buf, dtype=np.uint8).reshape(-1, 8)
        # unpackbits emits MSB-first per byte; big-endian bytes → bit 63..0,
        # so flip to get column i == bit i of the 64-bit integer
        bits = np.unpackbits(bytes_, axis=1)[:, ::-1]
        starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
        ones = np.add.reduceat(bits, starts, axis=0, dtype=np.int64)
        acc_pos = (2 * ones - lens[:, None]) > 0
        weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
        sigs = (acc_pos * weights).sum(axis=1, dtype=np.uint64).astype(np.int64)
        out[np.array([ts is not None and len(ts) > 0 for ts in toks_per])] = sigs
    result = pd.Series(out, dtype="object")
    result[[t is None for t in text]] = None
    return result


@F.pandas_udf(T.LongType())
def simhash64(text: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens — the REFERENCE kernel (pure
    Python, row-at-a-time) kept for the bit-parity tests against the numpy
    kernel (``simhash64_np``, the production path) and the all-JVM plan
    (``simhash64_plan``). The token hash is the first 16
    hex chars of md5 — deterministic across processes AND reproducible in
    plain SQL (unlike Python's salted hash() or keyed blake2b), which is what
    lets the whole signature computation be oracle-checked."""
    out = []
    for t in text:
        if t is None:
            out.append(None)
            continue
        acc = [0] * 64
        for tok in t.split():
            h = int(hashlib.md5(tok.encode()).hexdigest()[:16], 16)
            for i in range(64):
                acc[i] += 1 if (h >> i) & 1 else -1
        sig = 0
        for i in range(64):
            if acc[i] > 0:
                sig |= 1 << i
        # wrap to signed 64-bit for LongType
        out.append(sig - (1 << 64) if sig >= (1 << 63) else sig)
    return pd.Series(out, dtype="object")


def simhash_dedup(df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming, blocked on
    16-bit bands (a pair within hamming 3 of 64 bits must agree on ≥1 of 4
    bands — pigeonhole), so the join is band-equality, not all-pairs.
    Signatures come from the numpy-vectorized kernel (``simhash64_np``, the
    measured-fastest of the three bit-identical implementations)."""
    sig = df.select(F.col(id_col).alias("id"), simhash64_np(F.col(text_col)).alias("sig"))
    return banded_hamming_pairs(sig, max_hamming=max_hamming)


def banded_hamming_pairs_cross(
    batch: DataFrame,
    corpus: DataFrame,
    max_hamming: int = 3,
    max_band_df: int | None = None,
) -> DataFrame:
    """Cross-set banded hamming: every (batch, corpus) pair within
    ``max_hamming`` of 64 bits — the incremental shape where a new epoch's
    signatures probe the standing signature index instead of self-joining.
    Inputs: (id, sig) each; output (batch_id, corpus_id, hamming). Same
    4×16-bit pigeonhole blocking as ``banded_hamming_pairs`` (exact ≤ 3);
    the corpus side is exploded once per band, which is what you'd persist
    bucketed by band for epoch-over-epoch reuse.

    Same-id pairs are dropped: if a caller's id spaces overlap (e.g. a
    replayed epoch probing a corpus it was already folded into), every such
    signature would otherwise pair with itself at hamming 0. Two DIFFERENT
    media sharing one id across the sets is caller error — ids are assumed
    globally unique, as everywhere in the dedup family.

    ``max_band_df`` (default None = exact): same opt-in hot-band cut as
    ``banded_hamming_pairs`` — bands whose CORPUS-side population exceeds
    the threshold leave blocking (candidate mass per band is df_batch ×
    df_corpus, and the corpus is the unbounded side); a pair agreeing only
    on a cut band is missed (documented subset semantics)."""
    if max_hamming > 3:
        raise ValueError("4x16-bit banding is exact only for max_hamming <= 3")
    a = _sig_bands(batch).select(
        F.col("id").alias("batch_id"), F.col("sig").alias("sig_a"), "band"
    )
    b = _sig_bands(corpus).select(
        F.col("id").alias("corpus_id"), F.col("sig").alias("sig_b"), "band"
    )
    if max_band_df is not None:
        b = _cut_hot_bands(b, max_band_df)
    pairs = (
        a.join(b, "band")
        .filter(F.col("batch_id") != F.col("corpus_id"))
        .select("batch_id", "corpus_id", "sig_a", "sig_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return pairs.select("batch_id", "corpus_id", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def _cut_hot_bands(bands: DataFrame, max_band_df: int) -> DataFrame:
    """The ONE implementation of the opt-in ``max_band_df`` hot-band cut
    shared by the self-join, cross, and index-probe forms (documented
    subset semantics at each caller): bands whose population in ``bands``
    exceeds the threshold leave blocking."""
    hot = (
        bands.groupBy("band")
        .agg(F.count("*").alias("band_df"))
        .filter(F.col("band_df") > max_band_df)
        .select("band")
    )
    return bands.join(F.broadcast(hot), "band", "left_anti")


def _sig_bands(sig: DataFrame) -> DataFrame:
    """Explode (id, sig) into its 4 labelled 16-bit bands."""
    return sig.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.concat(F.lit(f"{i}:"), F.conv(F.shiftright("sig", 16 * i).bitwiseAND(F.lit(0xFFFF)).cast("string"), 10, 16))
                    for i in range(4)
                ]
            )
        ).alias("band"),
    )


def banded_hamming_pairs(
    sig: DataFrame, max_hamming: int = 3, max_band_df: int | None = None
) -> DataFrame:
    """Near-dup pairs by hamming distance ≤ max_hamming over 64-bit
    signatures — any signature family (SimHash text, aHash images, …).
    Input: (id, sig) with sig a signed 64-bit long. Blocked on 16-bit
    bands (a pair within hamming 3 of 64 bits must agree on ≥1 of 4 bands —
    pigeonhole, so the blocking is EXACT for max_hamming ≤ 3); the join is
    band-equality, never an all-pairs product.

    ``max_band_df`` (default None = exact): DOCUMENTED APPROXIMATION for
    adversarial corpora of DISTINCT signatures crowding one 16-bit band
    while sitting pairwise beyond the budget — the residual the hot-band
    guard's identical-sig collapse cannot touch. Bands whose population
    exceeds the threshold are dropped from blocking, bounding candidate
    mass at df² per surviving band; a pair agreeing ONLY on a cut band is
    missed (results are a subset of the exact answer). The same knob and
    semantics as the index probe's cut and the text family's
    ``max_shingle_df``."""
    if max_hamming > 3:
        raise ValueError("4x16-bit banding is exact only for max_hamming <= 3")
    bands = _sig_bands(sig)
    if max_band_df is not None:
        bands = _cut_hot_bands(bands, max_band_df)
    a = bands.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"), "band")
    b = bands.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"), "band")
    pairs = (
        a.join(b, "band")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return pairs.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def collapse_identical_sigs(sigs: DataFrame) -> DataFrame:
    """HOT-BAND GUARD stage 1: collapse identical 64-bit signatures to one
    representative — (sig, id = min member id, n_members). One shuffle on the
    8-byte sig with map-side partial aggregation; the output is bounded by
    the number of DISTINCT signatures, which is what makes the banded join
    downstream immune to degenerate corpora (millions of blank pages / black
    frames / silent clips collapsing to ONE signature would otherwise flood
    one 16-bit band and make the band-equality join's candidate mass
    quadratic in the hot-band population — AQE can split the partitions but
    cannot shrink the logical pair mass)."""
    return sigs.groupBy("sig").agg(
        F.min("id").alias("id"), F.count("*").alias("n_members")
    )


def banded_hamming_dropped(
    sigs: DataFrame, max_hamming: int = 3, max_band_df: int | None = None
) -> DataFrame:
    """Ids DROPPED under the keeper rule "drop the higher id of every pair
    within ``max_hamming``" — the decision every dedup service actually
    needs — computed with the HOT-BAND GUARD: identical signatures collapse
    to their min-id representative BEFORE banding, so the banded self-join
    runs over DISTINCT signatures only and a corpus of N identical media
    costs one aggregation plus a 1-signature band join instead of an
    N²-candidate explosion. Returns a single-column (id) frame.

    EXACT — result-identical to
    ``banded_hamming_pairs(sigs).select(id_b).distinct()`` by this argument:
      * every non-representative member m pairs with its group's rep at
        hamming 0 with rep = min(group) < m, so m is dropped in both forms;
      * a representative r is dropped in the unguarded form iff some x < r
        exists with hamming(sig_x, sig_r) <= h; x's group rep min(G_x) <= x
        < r witnesses the same signature pair, so checking REP pairs only
        (distinct sigs) reaches the identical drop set — hamming depends
        only on the signature values, never on which member carries them;
      * r is never dropped by its own group (r is the group minimum);
      * NULL signatures survive in both forms — null keys match nothing in
        the equi-joins here exactly as null bands match nothing in the
        unguarded band join (pinned by test).
    Pinned by tests/test_hotband.py's brute-force equivalence test."""
    reps = collapse_identical_sigs(sigs)
    non_reps = (
        sigs.join(reps.select("sig", F.col("id").alias("rep_id")), "sig")
        .filter(F.col("id") != F.col("rep_id"))
        .select("id")
    )
    # max_band_df applies at the REP level: identical-sig floods are
    # already collapsed, so the cut only fires on DISTINCT signatures
    # crowding a band (documented approximation; None = exact)
    dropped_reps = banded_hamming_pairs(
        reps.select("id", "sig"), max_hamming=max_hamming, max_band_df=max_band_df
    ).select(F.col("id_b").alias("id"))
    return non_reps.unionByName(dropped_reps).distinct()


def banded_hamming_survivors(
    sigs: DataFrame, max_hamming: int = 3, max_band_df: int | None = None
) -> DataFrame:
    """Keeper rows of ``sigs`` under the drop-higher-id rule, via the
    hot-band-guarded ``banded_hamming_dropped``. Survivors carry DISTINCT
    signatures by construction (every duplicate signature's non-min members
    are dropped at hamming 0), so downstream index probes are already
    collapsed on the batch side."""
    return sigs.join(
        banded_hamming_dropped(sigs, max_hamming=max_hamming, max_band_df=max_band_df),
        "id",
        "left_anti",
    )


def sig_index_band_stats(spark, table: str, top: int = 20) -> DataFrame:
    """TELEMETRY for the persisted signature index: per-band population,
    hottest first — (band, band_df, n_distinct_sigs). The service-built
    index is pairwise > max_hamming apart by construction (an accepted
    signature never lands within the budget of an earlier one), so band_df
    > n_distinct_sigs is impossible there; on a hand-built index this is
    how you spot a hot band before probing it."""
    idx = spark.table(table)
    return (
        idx.groupBy("band")
        .agg(
            F.count("*").alias("band_df"),
            F.countDistinct("sig").alias("n_distinct_sigs"),
        )
        .orderBy(F.desc("band_df"), "band")
        .limit(top)
    )


# =============================================================================
# Exact substring (duplicated k-token span) dedup — Lee et al., "Deduplicating
# Training Data Makes Language Models Better" (ACL 2022), re-expressed as a
# declarative shingle-position plan instead of the paper's suffix array.
# =============================================================================


def _positional_shingles(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(id, pos, shingle_hash) for every k-token window, 0-based pos.

    All-JVM: split → transform(sequence) builds the k-gram at each start
    position → posexplode. Docs shorter than k tokens produce no rows — the
    LOAD-BEARING guard is the ``df.filter(n >= k)`` below, NOT the sequence
    expression: Spark's ``sequence(start, stop)`` defaults to step -1 when
    stop < start and would happily emit bogus negative positions, so a
    refactor must never drop that filter.

    The key is md5 UNHEXed to 16-byte binary: the positional-shingle stream
    is the dominant exchange of both span plans (one row per token), so
    halving the key vs the 32-char hex string halves its shuffle width while
    keeping 128-bit collision safety (a 64-bit hash would see birthday
    collisions at ~10^10 distinct shingles — real at the 100 TB corpus
    tier — and a collision silently marks a span duplicated)."""
    words = F.split(F.col(text_col), " ")
    n = F.size(words)
    grams = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.unhex(F.md5(F.array_join(F.slice(words, i + 1, k), " "))),
    )
    return (
        df.filter(n >= k)
        .select(F.col(id_col).alias("id"), F.posexplode(grams).alias("pos", "shingle_hash"))
    )


def duplicate_span_stats(
    df: DataFrame, text_col: str, id_col: str, k: int = 5, min_count: int = 2
) -> DataFrame:
    """Per-document duplicated-substring statistics.

    A k-token span is *duplicated* when its exact token sequence occurs
    ``min_count``+ times corpus-wide (within- or cross-document). Overlapping
    duplicated windows merge into maximal spans (equal-length intervals sorted
    by start ⇒ a new span begins exactly when ``pos − lag(pos) > k`` — the
    running-max-end island rule degenerates to a single lag).

    Returns (doc_id, n_tokens, n_spans, dup_tokens, dup_fraction) for EVERY
    input doc (zero-span docs included via the left join).

    Scale: the only wide exchanges are the shingle-hash groupBy/join (16-byte
    binary keys, never text) and one per-doc window; hot shingles behave like
    the stopword-shingle skew in the Jaccard plans (AQE skew-split applies)."""
    pos = _positional_shingles(df, text_col, id_col, k)
    dup_hashes = (
        pos.groupBy("shingle_hash")
        .agg(F.count("*").alias("occ"))
        .filter(F.col("occ") >= min_count)
        .select("shingle_hash")
    )
    return _span_stats(pos, dup_hashes, df, text_col, id_col, k)


def _span_stats(
    pos: DataFrame, dup_hashes: DataFrame, docs: DataFrame,
    text_col: str, id_col: str, k: int,
) -> DataFrame:
    """Shared tail of the span plans: duplicated positions → maximal-span
    islands → per-doc stats, zero-span docs included via the left join."""
    dup_pos = pos.join(dup_hashes, "shingle_hash").select("id", "pos")
    return _span_stats_from_dup_pos(dup_pos, docs, text_col, id_col, k)


def _span_stats_from_dup_pos(
    dup_pos: DataFrame, docs: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """Island stage of the span plans, entered directly by the persisted-index
    probe (which builds ``dup_pos`` from two semi-joins instead of one hash
    join): duplicated (id, pos) → maximal spans → per-doc stats."""
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy("pos")
    islands = dup_pos.withColumn(
        "new_span",
        F.when(F.col("pos") - F.lag("pos").over(w) > k, 1)
        .when(F.lag("pos").over(w).isNull(), 1)
        .otherwise(0),
    ).withColumn("span_id", F.sum("new_span").over(w))
    spans = islands.groupBy("id", "span_id").agg(
        F.min("pos").alias("start"), (F.max("pos") + k).alias("end")
    )
    per_doc = spans.groupBy("id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("end") - F.col("start")).alias("dup_tokens"),
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"), F.size(F.split(F.col(text_col), " ")).alias("n_tokens")
    )
    joined = base.join(per_doc, base.doc_id == per_doc.id, "left")
    return joined.select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
        F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
        (F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens")).alias("dup_fraction"),
    )


def incremental_span_stats(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Cross-set exact-substring dedup: per BATCH document, the duplicated
    k-token spans counting occurrences across the batch (``min_count``+
    within the batch) OR anywhere in the standing corpus (one corpus hit
    suffices — the corpus is the already-kept history). Same output shape as
    ``duplicate_span_stats``, restricted to batch docs.

    Scale: the corpus side collapses to DISTINCT shingle hashes (no
    positions) with map-side partial distinct — this is the substring
    analog of the service's posting index and is what you'd persist as a
    bucketed table for epoch-over-epoch reuse; the batch side is one
    positional-shingle stream. Both exchanges carry 16-byte keys, never
    text."""
    pos = _positional_shingles(batch, text_col, id_col, k)
    batch_dup = (
        pos.groupBy("shingle_hash")
        .agg(F.count("*").alias("occ"))
        .filter(F.col("occ") >= min_count)
        .select("shingle_hash")
    )
    corpus_hashes = (
        _positional_shingles(corpus, text_col, id_col, k)
        .select("shingle_hash")
        .distinct()
    )
    dup_hashes = batch_dup.union(corpus_hashes).distinct()
    return _span_stats(pos, dup_hashes, batch, text_col, id_col, k)


def _chunk_units(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(id, pos, unit) — the fixed k-token chunk decomposition shared by the
    chunk-dedup family (batch, incremental, and the persisted chunk index)."""
    words = F.split(F.col(text_col), " ")
    n_units = F.ceil(F.size(words) / F.lit(float(k)))
    chunks = F.transform(
        F.sequence(F.lit(0).cast("long"), n_units - 1),
        lambda i: F.array_join(F.slice(words, (i * k + 1).cast("int"), k), " "),
    )
    return df.select(
        F.col(id_col).alias("id"), F.posexplode(chunks).alias("pos", "unit")
    )


def chunk_level_dedup(
    df: DataFrame, text_col: str, id_col: str, k: int = 8
) -> DataFrame:
    """C4/Dolma-style LINE-level dedup at fixed k-token chunk granularity:
    the corpus keeps only the FIRST occurrence (ordered by doc id, then
    chunk position) of every distinct chunk and each document is rewritten
    from its surviving chunks. Line/paragraph dedup in the public pipelines
    (C4 removed repeated 3-sentence spans; Dolma dedups paragraphs) uses
    newline units; this corpus is single-line, so the unit is the
    positional k-token chunk — same first-occurrence-wins semantics.

    Returns (doc_id, n_units, kept_units, clean_hash) for every input doc;
    fully-deduplicated docs get clean_hash = md5('').

    Scale: the winner window partitions on the 16-byte binary md5 of the
    chunk (not the raw text — same key-width argument as the span plans);
    chunk text crosses that exchange once and the per-doc reassembly
    groupBy once, both keyed shuffles. No driver-side state, no UDFs."""
    from pyspark.sql import Window

    units = _chunk_units(df, text_col, id_col, k)
    w = Window.partitionBy(F.unhex(F.md5("unit"))).orderBy("id", "pos")
    kept = units.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    per_doc = kept.groupBy("id").agg(
        F.count("*").alias("kept_units"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "unit"))),
                    lambda s: s["unit"],
                ),
                " ",
            )
        ).alias("clean_hash"),
    )
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.ceil(F.size(F.split(F.col(text_col), " ")) / F.lit(float(k)))
        .cast("int")
        .alias("n_units"),
    )
    joined = base.join(per_doc, base.doc_id == per_doc.id, "left")
    return joined.select(
        "doc_id",
        "n_units",
        F.coalesce(F.col("kept_units").cast("int"), F.lit(0)).alias("kept_units"),
        F.coalesce("clean_hash", F.md5(F.lit(""))).alias("clean_hash"),
    )


def incremental_chunk_dedup(
    batch: DataFrame, corpus: DataFrame, text_col: str, id_col: str, k: int = 8
) -> DataFrame:
    """Cross-set chunk-level dedup: rewrite each BATCH document keeping a
    chunk only if it is absent from the standing corpus AND it is the
    batch's own first occurrence (ordered by doc id, position) — the
    epoch-over-epoch form of ``chunk_level_dedup``, matching the ingestion
    services' keeper semantics (the corpus is already-kept history, so one
    corpus hit kills a chunk outright).

    Same output shape as ``chunk_level_dedup``; scale shape: the corpus
    collapses to DISTINCT 16-byte chunk hashes (the persistable chunk
    index) probed with a left_anti join; only batch chunks pay the winner
    window and the reassembly groupBy."""
    from pyspark.sql import Window

    corpus_hashes = (
        _chunk_units(corpus, text_col, id_col, k)
        .select(F.unhex(F.md5("unit")).alias("h"))
        .distinct()
    )
    units = _chunk_units(batch, text_col, id_col, k).withColumn(
        "h", F.unhex(F.md5("unit"))
    )
    fresh = units.join(corpus_hashes, "h", "left_anti")
    w = Window.partitionBy("h").orderBy("id", "pos")
    kept = fresh.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    per_doc = kept.groupBy("id").agg(
        F.count("*").alias("kept_units"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "unit"))),
                    lambda s: s["unit"],
                ),
                " ",
            )
        ).alias("clean_hash"),
    )
    words = F.split(F.col(text_col), " ")
    base = batch.select(
        F.col(id_col).alias("doc_id"),
        F.ceil(F.size(words) / F.lit(float(k))).cast("int").alias("n_units"),
    )
    joined = base.join(per_doc, base.doc_id == per_doc.id, "left")
    return joined.select(
        "doc_id",
        "n_units",
        F.coalesce(F.col("kept_units").cast("int"), F.lit(0)).alias("kept_units"),
        F.coalesce("clean_hash", F.md5(F.lit(""))).alias("clean_hash"),
    )


def remove_duplicate_spans(
    df: DataFrame, text_col: str, id_col: str, k: int = 5, min_count: int = 2
) -> DataFrame:
    """Rewrite each document with every duplicated k-token span removed
    (the destructive half of exact substring dedup).

    Plan: the duplicated window STARTS per doc collapse to one small int array
    (collect_set — bounded by tokens/doc), which joins back to the original
    row; the token filter is then a per-row JVM higher-order function
    (token i survives iff no duplicated start p covers it: p ≤ i < p+k).
    The document text itself crosses exactly one exchange (the id join) and
    never enters a groupBy."""
    pos = _positional_shingles(df, text_col, id_col, k)
    dup_hashes = (
        pos.groupBy("shingle_hash")
        .agg(F.count("*").alias("occ"))
        .filter(F.col("occ") >= min_count)
        .select("shingle_hash")
    )
    # Reserved __-names so a caller whose id_col is literally "id" (or who
    # carries a "dup_starts" column) can't collide with the join-back side —
    # a string .drop("id") would remove ALL same-named columns, theirs too.
    dup_starts = (
        pos.join(dup_hashes, "shingle_hash")
        .groupBy("id")
        .agg(F.collect_set("pos").alias("__dup_starts"))
        .withColumnRenamed("id", "__span_doc")
    )
    joined = df.join(dup_starts, df[id_col] == dup_starts["__span_doc"], "left").drop(
        "__span_doc"
    )
    words = F.split(F.col(text_col), " ")
    starts = F.coalesce("__dup_starts", F.array().cast("array<int>"))
    indexed = F.transform(words, lambda x, i: F.struct(i.alias("i"), x.alias("w")))
    kept = F.filter(
        indexed,
        lambda s: ~F.exists(starts, lambda p: (p <= s["i"]) & (s["i"] < p + F.lit(k))),
    )
    clean = F.array_join(F.transform(kept, lambda s: s["w"]), " ")
    return joined.select(
        F.col(id_col).alias("doc_id"),
        F.size(kept).alias("kept_tokens"),
        F.md5(clean).alias("clean_hash"),
    )


# ---------------------------------------------------------------------------
# Persisted distinct-hash index (round 7): the substring/chunk analog of the
# jaccard family's posting index. The incremental span/chunk operators above
# take the standing corpus as a DataFrame OF TEXT and re-hash it every epoch —
# correct, but a full corpus re-scan per epoch at 100 TB. These give the two
# newest dedup families the same build/append/compact/probe lifecycle the
# jaccard index has had since round 3: pay the shingle/chunk hashing once per
# epoch, persist only DISTINCT 16-byte hashes bucketed on the probe key, and
# read them bucket-aligned (no Exchange, no sort on the corpus side) forever.
# ---------------------------------------------------------------------------


def substring_index_hashes(
    df: DataFrame, text_col: str, id_col: str, k: int = 5
) -> DataFrame:
    """An epoch's contribution to the persisted substring index: the DISTINCT
    16-byte positional-shingle hashes (column ``h``). Positions and doc ids
    are deliberately dropped — the cross-set span rule needs only membership
    (one corpus hit marks a batch window duplicated), so the index stores the
    smallest sufficient statistic."""
    return (
        _positional_shingles(df, text_col, id_col, k)
        .select(F.col("shingle_hash").alias("h"))
        .distinct()
    )


def chunk_index_hashes(
    df: DataFrame, text_col: str, id_col: str, k: int = 8
) -> DataFrame:
    """An epoch's contribution to the persisted chunk index: DISTINCT 16-byte
    chunk-text hashes (column ``h``). Appending ALL of an epoch's chunk hashes
    (not only kept ones) is equivalent for every future probe: a chunk that
    lost within-epoch still has its first occurrence kept somewhere, and a
    chunk killed by a corpus hit is already in the index."""
    return (
        _chunk_units(df, text_col, id_col, k)
        .select(F.unhex(F.md5("unit")).alias("h"))
        .distinct()
    )


def append_hash_index_epoch(
    spark,
    table: str,
    hashes: DataFrame,
    epoch: int,
    n_buckets: int = 8,
) -> None:
    """REPLAY-IDEMPOTENT per-epoch append to a persisted distinct-hash index:
    schema (h binary, epoch int), bucketed+sorted by ``h`` and partitioned by
    ``epoch``. Re-running an epoch dynamically overwrites its own partition
    (never double-appends); probes read corpus buckets in place with no
    Exchange and exclude the current epoch for crash-replay safety — the
    exact contract of ``append_dedup_index_epoch``, minus the sizes table
    (membership needs no per-doc statistics)."""
    index_lifecycle.append_epoch_partition(
        spark, table, hashes.select("h"), epoch,
        bucket_cols=["h"], n_buckets=n_buckets,
    )


def compact_hash_index(
    spark,
    table: str,
    epochs: list[int],
    target_epoch: int = COMPACTED_EPOCH,
    write_tasks: int = 1,
) -> int:
    """Fold committed epoch partitions of a distinct-hash index into the
    reserved ``epoch = COMPACTED_EPOCH`` partition — same durability and
    crash-recovery contract as ``compact_dedup_index`` (the fold dedups by
    ``h``, so re-running after a crash is curative; cross-epoch duplicate
    hashes — legal, since distinctness is per-epoch — also collapse here,
    shrinking the standing index). Returns hash rows folded."""
    return _fold_epoch_partitions(
        spark, [(table, ["h"])], epochs, target_epoch, write_tasks
    )


def _index_hashes(spark, table: str, exclude_epoch: int | None) -> DataFrame:
    idx = spark.table(table)
    if exclude_epoch is not None:
        if "epoch" not in idx.columns:
            raise ValueError(
                f"exclude_epoch requires an epoch-partitioned index; "
                f"table {table!r} has no epoch column"
            )
        idx = idx.filter(F.col("epoch") != F.lit(int(exclude_epoch)))
    return idx.select("h")


def incremental_span_stats_against_index(
    spark,
    table: str,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    min_count: int = 2,
    exclude_epoch: int | None = None,
) -> DataFrame:
    """``incremental_span_stats`` with the standing corpus read from the
    persisted substring index instead of re-shingled text — result-identical
    when the index holds the corpus's distinct shingle hashes (pinned by
    test). Physical difference: the corpus side is a bucket-aligned scan of
    16-byte hashes (no Exchange, no sort — the sort-merge semi join reads
    corpus buckets in place); per-epoch cost is shingling the BATCH only.

    The duplicated-position set is built from two semi joins (within-batch
    ``min_count``+ OR corpus membership) instead of one join against a
    unioned hash set — a union+distinct would re-shuffle the corpus hashes,
    defeating the bucket layout. The union of the two hit sets repartitions
    on ``id`` once: hash(id) clusters (id, pos), so the dedup AND the islands
    window both reuse that single exchange."""
    pos = _positional_shingles(batch, text_col, id_col, k)
    batch_dup = (
        pos.groupBy("shingle_hash")
        .agg(F.count("*").alias("occ"))
        .filter(F.col("occ") >= min_count)
        .select("shingle_hash")
    )
    idx = _index_hashes(spark, table, exclude_epoch).withColumnRenamed(
        "h", "shingle_hash"
    )
    batch_hits = pos.join(batch_dup, "shingle_hash", "left_semi").select("id", "pos")
    corpus_hits = (
        pos.hint("merge")
        .join(idx.hint("merge"), "shingle_hash", "left_semi")
        .select("id", "pos")
    )
    dup_pos = (
        batch_hits.union(corpus_hits)
        .repartition("id")
        .dropDuplicates(["id", "pos"])
    )
    return _span_stats_from_dup_pos(dup_pos, batch, text_col, id_col, k)


def incremental_chunk_dedup_against_index(
    spark,
    table: str,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    exclude_epoch: int | None = None,
) -> DataFrame:
    """``incremental_chunk_dedup`` with the standing corpus read from the
    persisted chunk index — result-identical when the index holds the
    corpus's distinct chunk hashes (pinned by test). The left_anti probe
    sort-merges against pre-sorted corpus buckets (no Exchange on the index
    side); only batch chunks pay the winner window and reassembly."""
    from pyspark.sql import Window

    idx = _index_hashes(spark, table, exclude_epoch)
    units = _chunk_units(batch, text_col, id_col, k).withColumn(
        "h", F.unhex(F.md5("unit"))
    )
    fresh = units.hint("merge").join(idx.hint("merge"), "h", "left_anti")
    w = Window.partitionBy("h").orderBy("id", "pos")
    kept = fresh.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    per_doc = kept.groupBy("id").agg(
        F.count("*").alias("kept_units"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "unit"))),
                    lambda s: s["unit"],
                ),
                " ",
            )
        ).alias("clean_hash"),
    )
    base = batch.select(
        F.col(id_col).alias("doc_id"),
        F.ceil(F.size(F.split(F.col(text_col), " ")) / F.lit(float(k)))
        .cast("int")
        .alias("n_units"),
    )
    joined = base.join(per_doc, base.doc_id == per_doc.id, "left")
    return joined.select(
        "doc_id",
        "n_units",
        F.coalesce(F.col("kept_units").cast("int"), F.lit(0)).alias("kept_units"),
        F.coalesce("clean_hash", F.md5(F.lit(""))).alias("clean_hash"),
    )


# ---------------------------------------------------------------------------
# Persisted per-band SIGNATURE index (round 7): the media analog of the
# distinct-hash index above. Perceptual signatures (image aHash, video frame
# hashes, audio energy fingerprints, text SimHash) are 64-bit longs probed by
# banded hamming join on 16-bit bands; a media ingestion service persists the
# corpus side EXPLODED per band, bucketed on the band key, so each epoch's
# probe reads corpus bands in place — the keeper/append/compact lifecycle the
# text families already have.
# ---------------------------------------------------------------------------


def append_sig_index_epoch(
    spark,
    table: str,
    sigs: DataFrame,
    epoch: int,
    n_buckets: int = 8,
) -> None:
    """REPLAY-IDEMPOTENT per-epoch append to a persisted signature index:
    schema (id long, sig long, band string), bucketed+sorted by ``band`` and
    partitioned by ``epoch`` — each signature stored once per 16-bit band
    (×4). ``sigs``: (id, sig). Same dynamic-partition-overwrite contract as
    ``append_hash_index_epoch``."""
    index_lifecycle.append_epoch_partition(
        spark, table, _sig_bands(sigs).select("id", "sig", "band"), epoch,
        bucket_cols=["band"], n_buckets=n_buckets,
    )


def compact_sig_index(
    spark,
    table: str,
    epochs: list[int],
    target_epoch: int = COMPACTED_EPOCH,
    write_tasks: int = 1,
) -> int:
    """Fold committed epoch partitions of a signature index into the reserved
    ``epoch = COMPACTED_EPOCH`` partition — the (id, sig, band) rows are
    globally unique by key (one epoch per media id, distinct bands per sig),
    so the fold's key-dedup is crash-curative exactly as in
    ``compact_dedup_index``. Returns band rows folded."""
    return _fold_epoch_partitions(
        spark, [(table, ["id", "sig", "band"])], epochs, target_epoch, write_tasks
    )


def banded_hamming_pairs_against_index(
    spark,
    table: str,
    batch: DataFrame,
    max_hamming: int = 3,
    exclude_epoch: int | None = None,
    max_band_df: int | None = None,
) -> DataFrame:
    """``banded_hamming_pairs_cross`` with the corpus side read from the
    persisted signature index — result-identical on disjoint id spaces
    (pinned by test). The batch explodes to 4 band rows and exchanges once
    on the band key; the corpus bands sort-merge in place (no Exchange, no
    sort).

    UNLIKE the cross form, same-id pairs are NOT dropped here: an id
    re-delivered in a later epoch (same media re-ingested under its
    original id) must match its own indexed signature at hamming 0 and be
    deduplicated — exactly the text service's behavior for re-delivered
    content. Crash-replay safety does not need an id guard: the service
    passes ``exclude_epoch`` (the current epoch's partition is pruned) and
    its epoch markers fast-skip committed replays, so a probe can only see
    its own id when the id genuinely arrived before — which IS a
    duplicate.

    ``max_band_df`` (default None = exact): DOCUMENTED APPROXIMATION — the
    signature analog of the text family's ``max_shingle_df`` stopword cut.
    When set, corpus bands whose population exceeds the threshold are
    dropped from blocking, bounding per-band candidate mass on adversarial
    indexes (a hand-built index with many near-identical signatures sharing
    one 16-bit band). A pair agreeing ONLY on a cut band is then missed, so
    results are a subset of the exact answer. The SERVICE-built index never
    needs this: accepted signatures are pairwise > max_hamming apart by
    construction (see ``sig_index_band_stats`` for telemetry), and
    identical-signature floods are collapsed batch-side by the hot-band
    guard (``banded_hamming_survivors``) before they can reach the index."""
    idx = spark.table(table)
    if exclude_epoch is not None:
        if "epoch" not in idx.columns:
            raise ValueError(
                f"exclude_epoch requires an epoch-partitioned index; "
                f"table {table!r} has no epoch column"
            )
        idx = idx.filter(F.col("epoch") != F.lit(int(exclude_epoch)))
    if max_band_df is not None:
        idx = _cut_hot_bands(idx, max_band_df)
    if max_hamming > 3:
        raise ValueError("4x16-bit banding is exact only for max_hamming <= 3")
    a = _sig_bands(batch).select(
        F.col("id").alias("batch_id"), F.col("sig").alias("sig_a"), "band"
    )
    b = idx.select(
        F.col("id").alias("corpus_id"), F.col("sig").alias("sig_b"), "band"
    )
    pairs = (
        a.hint("merge")
        .join(b.hint("merge"), "band")
        .select("batch_id", "corpus_id", "sig_a", "sig_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return pairs.select("batch_id", "corpus_id", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def takedown_dedup_index(spark, table: str, ids: DataFrame) -> int:
    """TAKEDOWN for the jaccard posting index family (GDPR / data-removal):
    delete every posting and size row of the given ids — both the ``table``
    postings and the ``table_sizes`` side table — rewriting only the
    affected epoch partitions (``index_lifecycle.remove_ids_from_epoch_table``;
    convergent on crash re-run). After a takedown, re-submitting the SAME
    content under a NEW id is ACCEPTED by the services — the removed
    member's fingerprints are gone, which is exactly the demanded
    semantics. Returns posting rows removed. The caller owns removing the
    id from its accepted-corpus store (the services' epoch-partitioned
    parquet dirs rewrite the same way)."""
    removed = index_lifecycle.remove_ids_from_epoch_table(spark, table, ids)
    index_lifecycle.remove_ids_from_epoch_table(spark, table + "_sizes", ids)
    return removed


def takedown_sig_index(spark, table: str, ids: DataFrame) -> int:
    """TAKEDOWN for the per-band signature index: delete the 4 band rows of
    every given id, rewriting only affected epoch partitions. Same contract
    and re-submission semantics as ``takedown_dedup_index``. Returns band
    rows removed. (The substring/chunk DISTINCT-HASH index deliberately has
    no takedown — it stores no ids; see remove_ids_from_epoch_table.)"""
    return index_lifecycle.remove_ids_from_epoch_table(spark, table, ids)
