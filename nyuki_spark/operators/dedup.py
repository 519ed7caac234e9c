"""Deduplication family for LLM-data pipelines (SURVEY.md §2.10).

Four tiers, cheapest first — a 100 TB corpus runs them as a funnel:

1. **Exact** (`exact_dedup_groups`): hash-groupBy on a content fingerprint.
   One shuffle on the md5 key with map-side partial aggregation; AQE
   handles the (rare) skew of a massively-duplicated boilerplate doc.
2. **SimHash** (`simhash_pairs`): 60-bit sketch per doc (pure Column math,
   computed during the scan), then candidate pairs at small Hamming
   distance. Candidate generation here is banded like classic simhash
   dedup: split the 60 bits into ``bands`` chunks, equi-join on any equal
   chunk (a dup pair at Hamming <= bands-1 must share one chunk — the
   pigeonhole guarantee), then verify the true distance. Equi-join ->
   shuffle-hash/SMJ, never a cross join.
3. **MinHash + LSH** (`minhash_neardup_pairs`): shingle sets -> MLlib
   MinHashLSH ``approxSimilarityJoin`` (band-bucket equi-join under the
   hood). Approximate-recall tier; seeded, so deterministic per run.
4. **Exact n-gram Jaccard** (`ngram_jaccard_pairs`): the ground truth the
   approximate tiers are measured against. Per-doc shingle sets (one
   Arrow stage) + self-join on shingle + count ratio. Quadratic in the
   worst case — at scale it runs only on LSH-candidate pairs (pass
   ``candidates``).

Embedding-space near-dup (`embedding_neardup_pairs`) closes the family:
cosine similarity over ``array<float>`` columns, JVM-side fold (zip_with +
aggregate), exact over all pairs or LSH-pruned.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nyuki_spark.functions.text import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    fingerprint_md5,
    simhash60,
    word_ngram_array,
    word_ngrams,
)

__all__ = [
    "exact_dedup_groups",
    "exact_dedup_keep_first",
    "simhash_chunks",
    "simhash_pairs",
    "minhash_band_pairs",
    "minhash_neardup_pairs",
    "ngram_jaccard_pairs",
    "containment_pairs",
    "embedding_neardup_pairs",
]


def exact_dedup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", normalize: bool = False
) -> DataFrame:
    """Duplicate groups: (keep_id, dupes) for every text seen >1 times.

    Grouping on the md5 fingerprint, not the raw text, keeps shuffle rows
    small (16 bytes vs document bodies) — the difference between a cheap
    and an impossible shuffle at 100 TB.
    """
    return (
        df.select(F.col(id_col), fingerprint_md5(text_col, normalize).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dupes"))
        .where(F.col("dupes") > 1)
        .select("keep_id", "dupes")
    )


def exact_dedup_keep_first(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", normalize: bool = False
) -> DataFrame:
    """The corpus with exact duplicates removed (lowest id wins).

    Window-free formulation: min-id per fingerprint then semi-join back —
    two narrow shuffles on the 16-byte key, no sort, no per-group state.
    """
    keep = (
        df.select(F.col(id_col), fingerprint_md5(text_col, normalize).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


def simhash_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
    sketch_col: str | None = None,
) -> DataFrame:
    """(id, sh, band, chunk) rows — ``bands`` per document — the build
    side of every banded SimHash candidate join (within-corpus pairs,
    cross-shard ingestion checks, the streaming dedup index). Docs with
    NULL text carry a NULL sketch and never match a band key. Pass
    ``sketch_col`` to band a precomputed 60-bit sketch instead of
    hashing ``text_col``.
    """
    width = 60 // bands
    sketch = F.col(sketch_col) if sketch_col else simhash60(text_col)
    sh = df.select(F.col(id_col).alias("id"), sketch.alias("sh"))
    return sh.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("sh", b * width)
                        .bitwiseAND((1 << width) - 1)
                        .alias("chunk"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bc"),
    ).select("id", "sh", "bc.band", "bc.chunk")


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
) -> DataFrame:
    """Candidate near-dup pairs by SimHash banding, verified by true
    Hamming distance: (id_a, id_b, hamming), id_a < id_b.

    ``bands`` must be > max_hamming for the pigeonhole guarantee (a pair
    within max_hamming differs in <= max_hamming bands, so at least one of
    bands > max_hamming chunks is identical).
    """
    assert bands > max_hamming, "need bands > max_hamming for exact recall"
    # Materialize the (id, sketch) table ONCE before the band self-join
    # (r12, guide §2.4): the join broadcasts one side, so without this both
    # sides re-run the full tokenize -> md5 -> Arrow-vote pipeline (the
    # plan showed the ArrowEvalPython chain twice). The sketch table is two
    # longs per unique doc — localCheckpoint is block-manager-sized at any
    # corpus scale and also truncates lineage for downstream CC loops.
    sh_tbl = df.select(
        F.col(id_col).alias("id"), simhash60(text_col).alias("sh")
    ).localCheckpoint()
    chunks = simhash_chunks(sh_tbl, id_col="id", bands=bands, sketch_col="sh")
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
        )
        .distinct()
    )
    return cand.where(F.col("hamming") <= max_hamming)


def minhash_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    num_hash_tables: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
) -> DataFrame:
    """Approximate Jaccard near-dup pairs via MLlib MinHashLSH:
    (id_a, id_b, jaccard_est), id_a < id_b, est >= threshold.

    Shingles are hashed into a sparse indicator vector (2^20 dims) —
    MinHashLSH wants Vector input. The vector is built JVM-side by
    ``HashingTF(binary=True)`` over the shingle set (no Python UDF in the
    path: Arrow cannot carry VectorUDT, so a pandas_udf is impossible, and
    a row-wise ``F.udf`` pays per-row Python dispatch — the r3 wart).
    approxSimilarityJoin expands each side by num_hash_tables band keys
    and equi-joins: candidate volume scales with collisions, not with
    |corpus|^2.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    dims = 1 << 20
    shingled = (
        word_ngrams(df, n=n, id_col=id_col, text_col=text_col)
        .groupBy(id_col)
        .agg(F.collect_set("shingle").alias("shingles"))
    )
    htf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=dims, binary=True
    )
    vecs = htf.transform(shingled).select(F.col(id_col).alias("id"), "features")
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=seed
    )
    model = lsh.fit(vecs)
    joined = model.approxSimilarityJoin(vecs, vecs, 1.0 - threshold, distCol="jdist")
    return (
        joined.where(F.col("datasetA.id") < F.col("datasetB.id"))
        .select(
            F.col("datasetA.id").alias("id_a"),
            F.col("datasetB.id").alias("id_b"),
            F.round(1.0 - F.col("jdist"), 4).alias("jaccard_est"),
        )
        .orderBy("id_a", "id_b")
    )


def _pair_shared_counts(
    pairs: DataFrame, sh: DataFrame, id_col: str
) -> DataFrame:
    """Exact |shingles(a) ∩ shingles(b)| for an explicit candidate-pair
    list: (id_a, id_b, shared).

    Cost is |pairs| x shingles-per-doc — proportional to the candidate
    list, never to per-shingle pair fanout. Pairs with an empty
    intersection drop out (inner join), which is fine for every caller:
    thresholds are > 0. This is the verification stage of the funnel; the
    shingle self-join only ever has to NOMINATE pairs.

    The candidate list is normalized first (r7 advice): pairs are swapped
    to id_a < id_b, self-pairs dropped, and duplicates collapsed — an
    unnormalized list ((b, a), (x, x), or repeats) would otherwise emit
    contract-violating rows or double-counted intersections. The
    dropDuplicates shuffle is on the candidate list, the small side of
    the funnel by construction.
    """
    norm = (
        pairs.select(
            F.least(F.col("id_a"), F.col("id_b")).alias("id_a"),
            F.greatest(F.col("id_a"), F.col("id_b")).alias("id_b"),
        )
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    sh_b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    return (
        norm.join(sh_a, "id_a")
        .join(sh_b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )


def _all_shared_counts(sh: DataFrame, id_col: str) -> DataFrame:
    """Plain exact shingle self-join: (id_a, id_b, shared) over ALL pairs
    sharing >= 1 shingle. The uncapped ground-truth form — quadratic in
    per-shingle document frequency, so callers at scale go through
    :func:`_capped_shared_counts` unless the corpus is known skew-free.
    """
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )


def _capped_shared_counts(
    sh: DataFrame,
    sizes: DataFrame,
    id_col: str,
    df_cap: int,
    bound_pred,
    require_lossless: bool = False,
) -> DataFrame:
    """df-capped nomination + lossless upper-bound prefilter + exact hot
    verification: (id_a, id_b, shared), exact for every pair surviving
    ``bound_pred``.

    Shared by every set-overlap metric that is MONOTONE in ``shared``
    (Jaccard, containment, overlap coefficient, Dice): nomination runs the
    shingle self-join on cold shingles only (document frequency <= df_cap,
    bounding per-shingle fanout at C(df_cap, 2)); a pair's true shared
    count is at most s_cold + min(hot_a, hot_b) (it cannot share more hot
    shingles than either side HAS), so ``bound_pred(_smax, _na, _nb)`` —
    the metric's threshold test evaluated at that upper bound — discards
    pairs losslessly before the exact hot-intersection count runs on the
    few survivors. A true pair is missed only when EVERY shared shingle is
    corpus-hot, i.e. the pair is indistinguishable from boilerplate
    overlap.

    **Adaptive fall-through (r8 verdict #1):** the hot-key census is the
    funnel's own first aggregate, so its emptiness is known for one cheap
    job. When NO shingle exceeds ``df_cap`` — every shingle is cold — the
    capped funnel is the plain self-join plus pure overhead (hot/cold
    split, bound prefilter, hot verification of an empty set), so this
    falls through to :func:`_all_shared_counts`, which is identical by
    definition. Under skew (census non-empty) the capped stages run
    exactly as before.

    ``require_lossless=True`` (r8 advice): callers for whom the capped
    output MUST equal the exact uncapped truth — e.g. the ground-truth
    tier of a dedup evaluation — raise instead of silently capping when
    hot keys exist. On such corpora the operator must either raise
    ``df_cap`` above the max true-cluster shingle frequency or accept the
    uncapped cost; an audit metric that silently drops truth pairs
    inflates the precision of the tier it is supposed to measure.

    ``bound_pred(smax, na, nb) -> Column[boolean]`` must be monotone
    non-decreasing in its first argument for the prefilter to be lossless.
    """
    hot_keys = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > df_cap)
        .select("shingle")
        .persist()
    )
    # One job over the shingle table (map-side partial agg + a LIMIT-1
    # probe, same shape as collapse_text_groups' has_dups check). The
    # persist feeds both join sides below when the funnel does run.
    if hot_keys.limit(1).count() == 0:
        hot_keys.unpersist()
        return _all_shared_counts(sh, id_col)
    if require_lossless:
        hot = hot_keys.limit(5).collect()
        hot_keys.unpersist()
        raise ValueError(
            f"require_lossless: {len(hot)}+ shingle(s) exceed df_cap="
            f"{df_cap} (e.g. {hot[0]['shingle']!r}); the capped funnel "
            "could drop true pairs whose overlap is carried entirely by "
            "hot shingles. Raise df_cap above the max true-cluster "
            "shingle document frequency, or run uncapped."
        )
    cold = sh.join(hot_keys, "shingle", "left_anti")
    hot = sh.join(hot_keys, "shingle", "left_semi")
    s_cold = _all_shared_counts(cold, id_col)
    hcnt = hot.groupBy(id_col).agg(F.count(F.lit(1)).alias("h"))
    ha = hcnt.select(F.col(id_col).alias("id_a"), F.col("h").alias("ha"))
    hb = hcnt.select(F.col(id_col).alias("id_b"), F.col("h").alias("hb"))
    na_ = sizes.select(F.col(id_col).alias("id_a"), F.col("ns").alias("_na"))
    nb_ = sizes.select(F.col(id_col).alias("id_b"), F.col("ns").alias("_nb"))
    # The cold count keeps the self-join's ``shared`` name until the
    # final sum adds the hot part.
    bounded = (
        s_cold.join(na_, "id_a")
        .join(nb_, "id_b")
        .join(ha, "id_a", "left")
        .join(hb, "id_b", "left")
        .withColumn(
            "_smax",
            F.col("shared")
            + F.least(
                F.coalesce(F.col("ha"), F.lit(0)),
                F.coalesce(F.col("hb"), F.lit(0)),
            ),
        )
        .where(bound_pred(F.col("_smax"), F.col("_na"), F.col("_nb")))
        .select("id_a", "id_b", "shared")
    )
    hot_shared = _pair_shared_counts(bounded, hot, id_col).withColumnRenamed(
        "shared", "s_hot"
    )
    return bounded.join(hot_shared, ["id_a", "id_b"], "left").select(
        "id_a",
        "id_b",
        (F.col("shared") + F.coalesce(F.col("s_hot"), F.lit(0))).alias("shared"),
    )


def _shingle_pair_funnel(
    df: DataFrame,
    metric,
    name: str,
    threshold: float,
    n: int,
    id_col: str,
    text_col: str,
    candidates: DataFrame | None,
    df_cap: int | None,
    require_lossless: bool,
) -> DataFrame:
    """The one body of the shingle-overlap pair operators: (id_a, id_b,
    ``name``), id_a < id_b, where ``name`` = round(metric(shared, na,
    nb), 4) >= ``threshold`` over the docs' word ``n``-gram sets.

    Shingles -> per-doc set sizes -> shared counts (an explicit candidate
    list, the df-capped funnel, or the plain self-join) -> size joins ->
    score. ``metric(shared, na, nb) -> Column`` must be monotone
    non-decreasing in ``shared``: the capped funnel's lossless prefilter
    is the metric's threshold test at the shared upper bound.
    """
    # NOT materialized (r12 A/B): a localCheckpoint of the shingle table
    # here REGRESSED the family (llm_ngram_jaccard 2.12 -> 2.37 s,
    # llm_subset_containment 1.64 -> 2.53 s, llm_dedup_eval 3.53 -> 4.97 s
    # isolated medians at sf0.1) — ReusedExchange already dedupes the
    # repeated identical shingle subtrees inside the final job, so the
    # checkpoint only added a serial block-manager write of the widest
    # (string-heavy) table in the funnel.
    sh = word_ngrams(df, n=n, id_col=id_col, text_col=text_col)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("ns"))
    if candidates is not None:
        shared = _pair_shared_counts(candidates, sh, id_col)
    elif df_cap is not None:
        # Shared capped funnel (bounded nomination fanout C(df_cap, 2) per
        # shingle + lossless monotone upper-bound prefilter + exact hot
        # verification of the survivors — the r7 re-plan that took
        # llm_ngram_jaccard_capped 24.5 s -> 4.25 s at sf0.1). The 5e-5
        # slack covers the final filter's round-4 half-boundary (a true
        # value of t - 0.00004 rounds UP to t and must survive the
        # prefilter); slack only admits extra candidates, exact
        # verification still decides.
        shared = _capped_shared_counts(
            sh,
            sizes,
            id_col,
            df_cap,
            lambda smax, na, nb: metric(smax, na, nb) >= threshold - 5e-5,
            require_lossless=require_lossless,
        )
    else:
        shared = _all_shared_counts(sh, id_col)
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("ns").alias("na"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("ns").alias("nb"))
    return (
        shared.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(metric(F.col("shared"), F.col("na"), F.col("nb")), 4).alias(
                name
            ),
        )
        .where(F.col(name) >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    candidates: DataFrame | None = None,
    df_cap: int | None = None,
    require_lossless: bool = False,
) -> DataFrame:
    """Exact word-n-gram Jaccard pairs: (id_a, id_b, jaccard), id_a < id_b.

    Self-join on shingle finds only pairs sharing >= 1 shingle — disjoint
    docs never meet, so the join output is |shared-shingle incidences|,
    not |corpus|^2. That bound has one failure mode at 100 TB: a single
    viral shingle (boilerplate header/footer) shared by k documents
    contributes C(k,2) join rows — quadratic in the duplication factor
    (r6 verdict #3). Two scale escapes, composable:

    ``candidates``
        Verify only an explicit (id_a, id_b) list (e.g. from an LSH
        tier). The verification is a bounded per-pair intersection count
        (:func:`_pair_shared_counts`) — the shingle self-join is skipped
        entirely, so no per-shingle fanout is ever paid.
    ``df_cap``
        Candidate NOMINATION ignores shingles whose document frequency
        exceeds the cap, bounding per-shingle fanout at C(df_cap, 2);
        nominated pairs are then verified with their FULL shingle sets
        (hot shingles included), so every emitted jaccard value is exact.
        The cap applies to candidate generation only: a true pair is
        missed only when EVERY shared shingle is corpus-hot (df > cap) —
        i.e. the pair is indistinguishable from boilerplate overlap.
        Identical texts never reach this operator in the registry funnel
        (collapse_text_groups removes them first), so the capped mode's
        recall loss is confined to distinct documents whose entire
        overlap is viral boilerplate — exactly the pairs a dedup pipeline
        does not want. Uncapped (default) behavior is byte-identical to
        the exact oracle.
    """
    return _shingle_pair_funnel(
        df, lambda s, na, nb: s / (na + nb - s), "jaccard", threshold, n,
        id_col, text_col, candidates, df_cap, require_lossless,
    )


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    candidates: DataFrame | None = None,
    df_cap: int | None = None,
    require_lossless: bool = False,
) -> DataFrame:
    """Near-subset containment pairs: (id_a, id_b, containment), id_a <
    id_b, where containment = |shingles(a) ∩ shingles(b)| / min(|a|, |b|)
    — the overlap measure Jaccard misses when sizes differ (a paragraph
    quoted inside a 10x larger doc has Jaccard ~0.1 but containment ~1.0).

    Same scale posture as :func:`ngram_jaccard_pairs`, with which it
    shares the whole funnel: ``candidates`` verifies an explicit pair list
    with no self-join at all; ``df_cap`` bounds per-shingle nomination
    fanout at C(df_cap, 2) and prefilters with the lossless monotone bound
    shared <= s_cold + min(hot_a, hot_b) evaluated at containment's
    threshold test smax / min(na, nb) >= t (containment is monotone in
    shared, so the prefilter loses nothing); uncapped default is the exact
    all-shared-shingle self-join for oracle verification only.
    """
    return _shingle_pair_funnel(
        df, lambda s, na, nb: s / F.least(na, nb), "containment", threshold, n,
        id_col, text_col, candidates, df_cap, require_lossless,
    )


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float | None = None,
    top: int | None = None,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Cosine-similar pairs over an embedding column, JVM-side only.

    Per-row norms are precomputed before the join so the pair stage does a
    single zip_with/aggregate fold per pair. ``candidates`` (id_a, id_b,
    e.g. from :func:`nyuki_spark.operators.similarity.
    embedding_candidates_lsh`) is the scale path: sims are computed only
    for candidate pairs via two equi-joins on the ids — no theta join
    anywhere in the plan. Without it the exact all-pairs O(n^2) form runs —
    keep that for verification/recall passes only. ``top`` returns the k
    most similar pairs; ``threshold`` filters.
    """
    emb_d = F.transform(F.col(emb_col), lambda x: x.cast("double"))
    base = df.select(
        F.col(id_col).alias("id"),
        emb_d.alias("e"),
        F.sqrt(F.aggregate(emb_d, F.lit(0.0), lambda a, x: a + x * x)).alias("nrm"),
    )
    a, b = base.alias("a"), base.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.e"), F.col("b.e"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sim_cols = [
        F.col("id_a"),
        F.col("id_b"),
        F.round(dot / (F.col("a.nrm") * F.col("b.nrm")), 4).alias("sim"),
    ]
    if candidates is not None:
        # Equi-join the embeddings onto the (already pruned) candidate list.
        pairs = (
            candidates.select("id_a", "id_b")
            .join(a, F.col("id_a") == F.col("a.id"))
            .join(b, F.col("id_b") == F.col("b.id"))
            .select(*sim_cols)
        )
    else:
        pairs = (
            a.join(b, F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), sim_cols[2])
        )
    if threshold is not None:
        pairs = pairs.where(F.col("sim") >= threshold)
    if top is not None:
        pairs = pairs.orderBy(F.col("sim").desc(), "id_a", "id_b").limit(top)
    return pairs


def collapse_text_groups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
):
    """Exact-duplicate collapse for the pair-search funnels: returns
    ``(groups, uniq, has_dups)`` where ``groups`` is one row per distinct
    text — ``(text, rep_id=min(id), members=sorted ids, m=count)`` — and
    ``uniq`` carries only the representatives.

    Identical texts collide in every simhash/minhash band and share every
    shingle, so any pair join over the raw corpus grows with the SQUARE
    of the duplication factor; joining unique texts and expanding member
    pairs afterwards keeps it proportional to unique-text overlap.

    NULL texts are excluded: they carry no simhash/shingles on either
    engine (the oracles' UNNEST emits no token rows), so their
    duplicates must not surface as fabricated pairs. ``groups`` is
    persisted — the funnel probes it (has_dups) and expands from it;
    callers run under the bench/driver convention of clearing the cache
    between query invocations.
    """
    groups = (
        docs.where(F.col(text_col).isNotNull())
        .groupBy(text_col)
        .agg(
            F.min(id_col).alias("rep_id"),
            F.sort_array(F.collect_list(id_col)).alias("members"),
            F.count(F.lit(1)).alias("m"),
        )
        .persist()
    )
    uniq = groups.select(F.col("rep_id").alias(id_col), text_col)
    has_dups = groups.where(F.col("m") >= 2).limit(1).count() > 0
    return groups, uniq, has_dups


def expand_collapsed_pairs(
    rep_pairs: DataFrame,
    groups: DataFrame,
    score_col: str,
    intra_score: Column,
    intra_pred: Column | None = None,
) -> DataFrame:
    """Expand representative-level pairs back to member-level pairs.

    Cross-group pairs inherit their representatives' score (members are
    bit-identical texts); intra-duplicate pairs get ``intra_score`` (the
    score of a self-comparison: hamming 0 / jaccard 1.0). ``intra_pred``
    gates WHICH duplicate groups emit intra pairs — e.g. only texts with
    at least one shingle, since a score is undefined for shingle-less
    texts and the oracles emit nothing for them.
    """
    ga = groups.select(F.col("rep_id").alias("id_a"), F.col("members").alias("_ma"))
    gb = groups.select(F.col("rep_id").alias("id_b"), F.col("members").alias("_mb"))
    inter = (
        rep_pairs.join(ga, "id_a")
        .join(gb, "id_b")
        .select(F.explode("_ma").alias("_u"), "_mb", score_col)
        .select("_u", F.explode("_mb").alias("_v"), score_col)
        .select(
            F.least("_u", "_v").alias("id_a"),
            F.greatest("_u", "_v").alias("id_b"),
            score_col,
        )
    )
    gsel = groups.where(F.col("m") >= 2)
    if intra_pred is not None:
        gsel = gsel.where(intra_pred)
    intra = (
        gsel.select(F.col("members").alias("_ms"))
        .select(F.explode("_ms").alias("_u"), "_ms")
        .select("_u", F.explode("_ms").alias("_v"))
        .where(F.col("_u") < F.col("_v"))
        .select(
            F.col("_u").alias("id_a"),
            F.col("_v").alias("id_b"),
            intra_score.alias(score_col),
        )
    )
    return inter.unionByName(intra)


def minhash_band_pairs(
    docs: DataFrame,
    n_perm: int = 16,
    bands: int = 4,
    shingle: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Candidate near-dup pairs from a PORTABLE MinHash (tier 3's
    oracle-verifiable sibling): salted-md5 min-wise signatures
    (:func:`~nyuki_spark.functions.text.minhash_from_grams`), banded into
    ``bands`` chunks of ``n_perm // bands`` rows; docs agreeing on any
    whole band become a pair, scored by the matching-component fraction
    (the unbiased Jaccard estimate).

    Same scale shape as :func:`simhash_pairs`: signature computed during
    the scan (fold, no shuffle), candidate generation is an equi-join on
    (band index, band hash) — collision volume, never all-pairs. Unlike
    MLlib's ``MinHashLSH`` (JVM-private seeded hash family), every value
    here is reproducible in any engine with md5, so the whole funnel —
    signature, banding, estimate — hash-matches a DuckDB twin.

    Docs with < ``shingle`` tokens carry no shingles and are excluded
    (Jaccard is undefined for an empty set), mirroring the other tiers.
    """
    rows = n_perm // bands
    assert rows * bands == n_perm, "bands must divide n_perm"
    # Signature via explode + n_perm min-aggregates rather than the array
    # fold of ``minhash_from_grams``: identical values (same base hash,
    # same A/B/P arithmetic), but every expression runs in whole-stage
    # codegen instead of interpreted higher-order-function evaluation, and
    # the mins collapse map-side (partial agg) so the one shuffle moves a
    # single n_perm-value row per (partition, doc). The fold form also
    # silently re-inlines the md5 stage into each permutation when the
    # hash array is referenced once (CollapseProject), paying
    # n_perm x shingles digests — this shape pays exactly |shingles|.
    h = (
        docs.select(F.col(id_col), word_ngram_array(text_col, shingle).alias("g"))
        .where(F.col("g").isNotNull())
        .select(id_col, F.explode("g").alias("s"))
        .select(
            id_col,
            F.conv(F.substring(F.md5("s"), 1, 7), 16, 10)
            .cast("bigint")
            .alias("h"),
        )
    )
    mins = [
        F.min(
            (F.lit(MINHASH_A[p]) * F.col("h") + F.lit(MINHASH_B[p]))
            % F.lit(MINHASH_P)
        ).alias(f"m{p}")
        for p in range(n_perm)
    ]
    # One narrow (id, n_perm bigints) row per doc; both sides of the band
    # self-join read it — persist so the shingle explode + digest stage
    # runs once, not once per join side. The cache feeds the RETURNED
    # lazy DataFrame, so unpersisting here would defeat it; cleanup is
    # centralized at the sweep surfaces (bench.py / correctness exporter
    # clear per query, tests/conftest.py per module — r4 ADVICE).
    sig = (
        h.groupBy(id_col)
        .agg(*mins)
        .select(id_col, F.array(*[f"m{p}" for p in range(n_perm)]).alias("sig"))
        .persist()
    )
    banded = sig.select(
        id_col,
        "sig",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("b"),
    ).select(
        id_col,
        "sig",
        "b",
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.slice("sig", F.col("b") * rows + 1, rows),
                    lambda x: x.cast("string"),
                ),
            )
        ).alias("bk"),
    )
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("sig").alias("sa"), "b", "bk"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("sig").alias("sb"), "b", "bk"
    )
    cand = (
        a.join(b, ["b", "bk"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sa", "sb")
        .distinct()
    )
    est = F.round(
        F.size(F.filter(F.zip_with("sa", "sb", lambda x, y: x == y), lambda v: v))
        / F.lit(float(n_perm)),
        4,
    )
    return cand.select("id_a", "id_b", est.alias("est_jaccard"))
