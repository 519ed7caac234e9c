"""Similarity-search tests: ANN recall vs brute force.

The brute-force path is oracle-checked (llm_knn_cosine vs DuckDB
LIST_COSINE_SIMILARITY); here we measure the approximate tier against it.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyuki_spark.catalog import load_table
from nyuki_spark.operators.similarity import knn_cosine, knn_cosine_lsh


def test_lsh_knn_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    qv = [float(x) for x in q]
    pool = emb.where(F.col("vec_id") != 0)
    exact = [r.vec_id for r in knn_cosine(pool, qv, k=10).collect()]
    approx = [r.vec_id for r in knn_cosine_lsh(pool, qv, k=10).collect()]
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall >= 0.9, f"LSH kNN recall {recall:.2f} vs brute force"


def test_ivf_knn_recall(spark, sf_dir):
    from nyuki_spark.operators.similarity import knn_cosine_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    qv = [float(x) for x in q]
    pool = emb.where(F.col("vec_id") != 0)
    exact = [r.vec_id for r in knn_cosine(pool, qv, k=10).collect()]
    approx = [r.vec_id for r in knn_cosine_ivf(pool, qv, k=10, n_cells=8, n_probe=4).collect()]
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall >= 0.7, f"IVF kNN recall {recall:.2f} vs brute force"
    # Determinism: same seed, same result set.
    again = [r.vec_id for r in knn_cosine_ivf(pool, qv, k=10, n_cells=8, n_probe=4).collect()]
    assert approx == again


def test_ivf_index_build_query_split(spark, sf_dir, tmp_path):
    """Fit-once index build + fit-free query: the scale path. The probe
    must hit only its cells' partitions (directory-level pruning)."""
    from nyuki_spark.operators.similarity import build_ivf_index, knn_cosine_ivf_indexed

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    qv = [float(x) for x in q]
    pool = emb.where(F.col("vec_id") != 0)
    index_dir = str(tmp_path / "ivf")
    build_ivf_index(pool, index_dir, n_cells=8)

    probed = (
        spark.read.parquet(f"{index_dir}/vectors")
        .where(F.col("cell").isin([0, 1]))
        .select("vec_id")
    )
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan, plan[:800]

    exact = [r.vec_id for r in knn_cosine(pool, qv, k=10).collect()]
    approx = [r.vec_id for r in knn_cosine_ivf_indexed(spark, index_dir, qv, k=10, n_probe=4).collect()]
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall >= 0.7, f"indexed IVF recall {recall:.2f} vs brute force"
    again = [r.vec_id for r in knn_cosine_ivf_indexed(spark, index_dir, qv, k=10, n_probe=4).collect()]
    assert approx == again


def test_lsh_candidate_pairs_total_recall_on_fixture(spark, sf_dir):
    """The registered llm_cosine_pairs path: LSH candidates + exact verify
    must reproduce the exact all-pairs top-10 on fixture data (the
    all-pairs form survives only here, as the recall oracle)."""
    from nyuki_spark.operators.dedup import embedding_neardup_pairs
    from nyuki_spark.operators.similarity import embedding_candidates_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    exact = embedding_neardup_pairs(emb, top=10).collect()
    cands = embedding_candidates_lsh(emb, sim_floor=0.35)
    pruned = embedding_neardup_pairs(emb, top=10, candidates=cands).collect()
    assert sorted(map(tuple, exact)) == sorted(map(tuple, pruned))


def test_lsh_giant_bucket_tiled_pairs_identical(spark, sf_dir, monkeypatch):
    """r13 (VERDICT #2): a degenerate bucketLength puts EVERY vector in one
    (table, bucket) group; the per-group pairwise pass must tile, not
    allocate O(n^2) at once, and tiling must not change the emitted set.

    Forces giant buckets with a huge bucket_length — projections floor to
    the two sign buckets (0 / -1), each holding ~half the corpus — and a
    tile far smaller than any group (block=7), and asserts: (a) the tiled
    pair set equals the effectively-untiled run (block >> group) — the
    invariant the tiling must preserve; (b) candidates never invent a
    pair outside the true radius (tiled is a subset of brute force on the
    same float64 operands); (c) the degenerate buckets really did exceed
    the tile, so the tiled path was exercised.
    """
    import nyuki_spark.operators.similarity as S

    emb = load_table(spark, sf_dir, "embeddings")

    def pairs(block: int) -> set:
        monkeypatch.setattr(S, "_GRAM_BLOCK", block)
        got = S.embedding_candidates_lsh(
            emb, sim_floor=0.35, bucket_length=1e9, num_hash_tables=2
        ).collect()
        return {(r.id_a, r.id_b) for r in got}

    tiled = pairs(7)
    assert tiled == pairs(1_000_000)

    import numpy as np

    rows = emb.select("vec_id", "embedding").collect()
    n_vecs = len(rows)
    assert n_vecs > 4 * 7  # sign buckets (~n/2 each) far exceed the tile
    ids = np.array([r.vec_id for r in rows])
    m = np.array([r.embedding for r in rows], dtype=np.float64)
    sq = np.einsum("ij,ij->i", m, m)
    d2 = sq[:, None] + sq[None, :] - 2.0 * (m @ m.T)
    ia, ib = np.where(np.triu(d2 < (2.0 - 2.0 * 0.35), k=1))
    brute = {
        (min(a, b), max(a, b))
        for a, b in zip(ids[ia].tolist(), ids[ib].tolist())
        if a != b
    }
    assert tiled and tiled <= brute


def test_ts_profile_lsh_recall_at_floor(spark, sf_dir):
    """ADVICE r3: assert LSH recall vs brute force for the 24-dim COUNT-
    profile shape ts_similar_users feeds through embedding_candidates_lsh
    (integer count vectors, unit-normalised — a much lumpier distribution
    than the synthetic float embeddings the other recall tests use).

    Every true pair with cosine >= the registered sim_floor (0.5) must
    appear in the candidate set; a miss here is exactly the silent
    hash-fail mode the recall guard in _ts_similar_fn defends against.
    """
    from pyspark.sql import functions as F

    from nyuki_spark.operators.similarity import embedding_candidates_lsh

    events = load_table(spark, sf_dir, "events")
    counts = (
        events.select("user_id", F.hour("ts").alias("h"))
        .groupBy("user_id", "h")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    grid = (
        events.select("user_id")
        .distinct()
        .select("user_id", F.explode(F.sequence(F.lit(0), F.lit(23))).alias("h"))
    )
    prof = (
        grid.join(counts, ["user_id", "h"], "left")
        .withColumn("n", F.coalesce("n", F.lit(0)))
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_list(F.struct("h", "n"))).getField("n").alias("v"))
    )
    sq = F.aggregate(F.col("v"), F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double"))
    prof = prof.withColumn("_n", F.sqrt(sq)).withColumn(
        "vn", F.transform("v", lambda x: x.cast("double") / F.col("_n"))
    ).where(F.col("_n") > 0)

    # Brute-force truth: all pairs with cosine >= floor (profile table is
    # entity-sized, so the all-pairs join is affordable in a test).
    a = prof.select(F.col("user_id").alias("ua"), F.col("vn").alias("va"))
    b = prof.select(F.col("user_id").alias("ub"), F.col("vn").alias("vb"))
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    floor = 0.5
    truth = {
        (r.ua, r.ub)
        for r in a.join(b, F.col("ua") < F.col("ub"))
        .select("ua", "ub", dot.alias("cos"))
        .where(F.col("cos") >= floor)
        .collect()
    }
    cand = {
        (r.id_a, r.id_b)
        for r in embedding_candidates_lsh(
            prof, sim_floor=floor, id_col="user_id", emb_col="vn", num_hash_tables=8
        ).collect()
    }
    assert truth, "fixture produced no pairs above the floor — test is vacuous"
    missed = truth - cand
    recall = 1 - len(missed) / len(truth)
    assert recall >= 0.9, f"count-profile LSH recall {recall:.3f}; missed {sorted(missed)[:5]}"


@pytest.mark.slow  # two full index builds + append compaction (~11 s)
def test_ivf_append_equals_bulk_same_quantizer(spark, sf_dir, tmp_path):
    """Daily maintenance invariant: appending new vectors to a prebuilt
    index (frozen centroids, incremental files) yields BYTE-IDENTICAL
    search results to bulk-writing the same corpus against the same
    quantizer in one shot — and identical index CONTENTS (id -> cell).
    The quantizer is frozen by contract (FAISS train-then-add): a full
    re-FIT on base+new would move centroids, which is a retrain, not an
    append."""
    from nyuki_spark.operators.similarity import (
        append_ivf_index,
        assign_to_frozen_cells,
        build_ivf_index,
        knn_cosine_ivf_indexed,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    qv = [float(x) for x in q]
    base = emb.where((F.col("vec_id") != 0) & (F.col("vec_id") % 5 != 0))
    new = emb.where((F.col("vec_id") != 0) & (F.col("vec_id") % 5 == 0))

    inc_dir = str(tmp_path / "inc")
    build_ivf_index(base, inc_dir, n_cells=8)
    append_ivf_index(new, inc_dir)

    bulk_dir = str(tmp_path / "bulk")
    build_ivf_index(base, bulk_dir, n_cells=8)
    cent = spark.read.parquet(f"{bulk_dir}/centroids")
    bulk_all = assign_to_frozen_cells(
        emb.where(F.col("vec_id") != 0), cent
    )
    bulk_all.select("vec_id", "embedding", "cell").write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(f"{bulk_dir}/vectors")

    inc_res = [tuple(r) for r in knn_cosine_ivf_indexed(spark, inc_dir, qv, k=10).collect()]
    bulk_res = [tuple(r) for r in knn_cosine_ivf_indexed(spark, bulk_dir, qv, k=10).collect()]
    assert inc_res == bulk_res

    inc_cells = {
        (r.vec_id, r.cell)
        for r in spark.read.parquet(f"{inc_dir}/vectors").select("vec_id", "cell").collect()
    }
    bulk_cells = {
        (r.vec_id, r.cell)
        for r in spark.read.parquet(f"{bulk_dir}/vectors").select("vec_id", "cell").collect()
    }
    assert inc_cells == bulk_cells
    # And the appended vectors are actually searchable: a planted copy of
    # the query vector appended post-build must surface as top-1 sim 1.0.
    planted = spark.createDataFrame([(999_999, list(q))], "vec_id long, embedding array<float>")
    append_ivf_index(planted, inc_dir)
    top = knn_cosine_ivf_indexed(spark, inc_dir, qv, k=1).collect()[0]
    assert top.vec_id == 999_999 and top.sim == 1.0


def test_ivf_compaction_threshold(spark, sf_dir, tmp_path):
    """Repeated appends accumulate small files; compaction rewrites only
    the oversized cells and search results are unchanged."""
    from nyuki_spark.operators.similarity import (
        append_ivf_index,
        build_ivf_index,
        compact_ivf_cells,
        knn_cosine_ivf_indexed,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    qv = [float(x) for x in q]
    base = emb.where((F.col("vec_id") != 0) & (F.col("vec_id") % 5 != 0))
    d = str(tmp_path / "idx")
    build_ivf_index(base, d, n_cells=4)
    # 6 daily appends of small slices -> many files per cell.
    for day in range(6):
        slice_df = emb.where(
            (F.col("vec_id") != 0) & (F.col("vec_id") % 30 == day)
        )
        append_ivf_index(slice_df, d)
    before = [tuple(r) for r in knn_cosine_ivf_indexed(spark, d, qv, k=10).collect()]
    stats = compact_ivf_cells(spark, d, max_files_per_cell=3)
    assert stats["cells_compacted"] >= 1
    assert stats["files_after"] < stats["files_before"]
    after = [tuple(r) for r in knn_cosine_ivf_indexed(spark, d, qv, k=10).collect()]
    # Some appended slices overlap the base split (vec_id%30==day with
    # day!=0 intersects %5!=0), so the index deliberately holds duplicate
    # ids — compaction must preserve the multiset exactly: same rows,
    # same duplicates, same top-k.
    assert before == after


def test_ivf_index_key_staleness_fingerprint(spark, sf_dir, tmp_path):
    """r9 verdict "What's wrong #2": the persisted-index key must fold in
    a data fingerprint so regenerating the fixture parquet IN PLACE
    (same path, new rows) invalidates the cached index instead of
    silently serving stale neighbors off a bare `_SUCCESS` check."""
    import shutil

    from nyuki_spark.queries.llm import _ivf_index_dir

    local = str(tmp_path / "sf")
    shutil.copytree(sf_dir, local)
    emb = load_table(spark, local, "embeddings")
    d1 = _ivf_index_dir(spark, local, emb)
    # Unchanged data, same path -> same key (the build-once payoff).
    assert _ivf_index_dir(spark, local, load_table(spark, local, "embeddings")) == d1

    # Rewrite the parquet in place with one row dropped: same path, new
    # rows. The key must change.
    trimmed = emb.where(F.col("vec_id") != emb.agg(F.max("vec_id")).head()[0])
    trimmed.write.mode("overwrite").parquet(str(tmp_path / "emb2"))
    import os

    os.remove(f"{local}/embeddings.parquet")  # fixture is a single file
    shutil.copytree(str(tmp_path / "emb2"), f"{local}/embeddings.parquet")
    d2 = _ivf_index_dir(spark, local, load_table(spark, local, "embeddings"))
    assert d2 != d1, "in-place fixture rewrite must invalidate the index key"


def test_ivf_index_key_value_sensitive(spark, sf_dir, tmp_path):
    """r10 ADVICE (medium): a rewrite that keeps the SAME row count and
    SAME vec_id range but different embedding VALUES (fixture
    regenerated with a new seed) must also change the key — count+max
    alone is blind to it; the xxhash64 value sum is not."""
    import os
    import shutil

    from nyuki_spark.queries.llm import _ivf_index_dir

    local = str(tmp_path / "sf")
    shutil.copytree(sf_dir, local)
    emb = load_table(spark, local, "embeddings")
    d1 = _ivf_index_dir(spark, local, emb)
    n1 = emb.count()

    # Same ids, same count — perturb one component of every vector.
    mutated = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x, i: F.when(i == 0, x + F.lit(0.5)).otherwise(x).cast("float"),
        ).alias("embedding"),
        *[c for c in emb.columns if c not in ("vec_id", "embedding")],
    )
    mutated.write.mode("overwrite").parquet(str(tmp_path / "emb2"))
    os.remove(f"{local}/embeddings.parquet")  # fixture is a single file
    shutil.copytree(str(tmp_path / "emb2"), f"{local}/embeddings.parquet")
    emb2 = load_table(spark, local, "embeddings")
    assert emb2.count() == n1  # the scenario: identical count + id range
    d2 = _ivf_index_dir(spark, local, emb2)
    assert d2 != d1, "same-count/same-ids value rewrite must invalidate the key"


def test_ivf_index_colocated_and_reused(spark, sf_dir, tmp_path):
    """r10 verdict Next #6: the persisted IVF index lives beside the data
    it indexes (`<sf_dir>/.nyuki_index/`) when the dataset dir is
    writable, so a second session reuses the build instead of refitting
    after tempdir cleanup; a read-only sf_dir (the driver's testdata
    contract) falls back to tempdir."""
    import os
    import shutil

    from nyuki_spark.queries.llm import _ivf_index_dir, _knn_ivf_fn

    local = str(tmp_path / "sf")
    shutil.copytree(sf_dir, local)
    # copytree preserves the driver fixture's read-only 555 bits; this
    # half of the test models a USER-WRITABLE dataset dir, so restore
    # the write bit explicitly (the read-only path is the second half).
    os.chmod(local, 0o755)
    r1 = [tuple(r) for r in _knn_ivf_fn(spark, local).collect()]
    d = _ivf_index_dir(spark, local, load_table(spark, local, "embeddings"))
    assert d.startswith(os.path.join(local, ".nyuki_index"))
    success = os.path.join(d, "vectors", "_SUCCESS")
    assert os.path.exists(success)
    m1 = os.path.getmtime(success)
    # "Second session": a fresh call path re-deriving the key from disk —
    # must hit the co-located cache (same hashes, no rebuild).
    r2 = [tuple(r) for r in _knn_ivf_fn(spark, local).collect()]
    assert r2 == r1
    assert os.path.getmtime(success) == m1, "index was rebuilt, not reused"
    # Read-only dataset root -> tempdir fallback, never a write attempt.
    ro = str(tmp_path / "ro")
    shutil.copytree(sf_dir, ro)
    os.chmod(ro, 0o555)
    try:
        d_ro = _ivf_index_dir(spark, ro, load_table(spark, ro, "embeddings"))
        assert not d_ro.startswith(ro)
    finally:
        os.chmod(ro, 0o755)


def test_ivf_index_key_is_path_free(spark, sf_dir, tmp_path):
    """r11 ADVICE #2: the index key is derived from the VALUE fingerprint
    only — the same dataset copied to a different absolute path maps to
    the same `nyuki-ivf-<key>` leaf, so a co-located `.nyuki_index`
    carried along with a copied/re-mounted dataset dir HITS the cache
    instead of refitting."""
    import os
    import shutil

    from nyuki_spark.queries.llm import _ivf_index_dir

    a = str(tmp_path / "mount_a")
    b = str(tmp_path / "mount_b")
    shutil.copytree(sf_dir, a)
    shutil.copytree(sf_dir, b)
    os.chmod(a, 0o755)
    os.chmod(b, 0o755)
    da = _ivf_index_dir(spark, a, load_table(spark, a, "embeddings"))
    db = _ivf_index_dir(spark, b, load_table(spark, b, "embeddings"))
    assert os.path.basename(da) == os.path.basename(db), (
        "same data at different mount paths must map to the same index key"
    )
    assert da != db  # each mount keeps its own co-located root


def test_ivf_fingerprint_memoized_on_file_metadata(spark, sf_dir, tmp_path, monkeypatch):
    """r11 ADVICE #3: the value fingerprint is computed ONCE per (path,
    file-metadata) in a session — a pure cache-hit query pays a stat()
    walk, not a full (vec_id, embedding) scan; touching the parquet
    (metadata change) forces a recompute."""
    import os
    import shutil

    from nyuki_spark.queries import llm as llm_mod

    local = str(tmp_path / "sf")
    shutil.copytree(sf_dir, local)
    os.chmod(local, 0o755)
    emb = load_table(spark, local, "embeddings")

    calls = {"n": 0}
    real = llm_mod._ivf_fingerprint

    def counting(df):
        calls["n"] += 1
        return real(df)

    monkeypatch.setattr(llm_mod, "_ivf_fingerprint", counting)
    llm_mod._FP_MEMO.clear()
    d1 = llm_mod._ivf_index_dir(spark, local, emb)
    assert calls["n"] == 1
    d2 = llm_mod._ivf_index_dir(spark, local, emb)
    assert d2 == d1
    assert calls["n"] == 1, "unchanged files must not re-scan the corpus"
    # Metadata change (mtime bump, same bytes): recompute fires, but the
    # VALUE key — the index identity — is unchanged.
    p = f"{local}/embeddings.parquet"
    target = p if os.path.isfile(p) else os.path.join(
        p, next(f for f in os.listdir(p) if f.endswith(".parquet"))
    )
    st = os.stat(target)
    os.utime(target, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    d3 = llm_mod._ivf_index_dir(spark, local, emb)
    assert calls["n"] == 2, "metadata change must force a fingerprint recompute"
    assert d3 == d1, "same values => same key, even after a metadata change"


def test_publish_index_atomic_and_race_safe(tmp_path):
    """r11 ADVICE #4: _publish_index builds into a temp sibling and
    renames into place — a stale PARTIAL dir (no marker) is cleared and
    replaced; a COMPLETE dir (marker present) wins the race and the
    loser's build is discarded; no temp residue survives either way."""
    import os

    from nyuki_spark.queries.llm import _publish_index

    idx = str(tmp_path / "nyuki-ivf-abc")

    def build(d, tag):
        os.makedirs(os.path.join(d, "vectors"))
        with open(os.path.join(d, "vectors", "_SUCCESS"), "w") as f:
            f.write(tag)

    # 1. Stale partial occupies index_dir (crashed pre-r12 build): the
    # publish must clear it and install the complete build.
    os.makedirs(os.path.join(idx, "vectors"))  # no _SUCCESS marker
    _publish_index(idx, os.path.join("vectors", "_SUCCESS"), lambda d: build(d, "one"))
    with open(os.path.join(idx, "vectors", "_SUCCESS")) as f:
        assert f.read() == "one"
    # 2. Complete index already present: the second builder loses and the
    # winner's content stands untouched.
    _publish_index(idx, os.path.join("vectors", "_SUCCESS"), lambda d: build(d, "two"))
    with open(os.path.join(idx, "vectors", "_SUCCESS")) as f:
        assert f.read() == "one", "a complete index must never be clobbered"
    # 3. No temp siblings left behind.
    residue = [d for d in os.listdir(tmp_path) if ".tmp-" in d]
    assert residue == [], f"temp build dirs must be cleaned up: {residue}"
