"""Text analysis for LLM-data pipelines (SURVEY.md §2.10).

Nearly everything here is pure Column expressions — JVM-side,
whole-stage-codegen friendly. At 100 TB that matters: a row-at-a-time
Python UDF would serialize every document across the Arrow boundary; these
compile into the same generated code as any built-in function and scan at
parquet-reader speed with full predicate/column pushdown intact. The one
deliberate exception (r12): simhash60's 60-bit vote is an Arrow pandas_udf
over the token-hash ARRAY — Spark never codegens higher-order-function
lambdas, so the expression fold ran interpreted at ~0.4 ms/doc, while the
vectorized numpy vote moves only the 8-byte hashes (never text) across the
boundary; tokenization and hashing stay JVM/portable.

Determinism: the token hash is md5-derived (first 15 hex chars -> 60-bit
int), which is identical in any engine with md5 — the DuckDB oracle
reproduces it exactly (`('0x' || SUBSTR(MD5(w),1,15))::BIGINT`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "tokens",
    "token_count",
    "token_hash60",
    "quality_features",
    "lang_id",
    "fingerprint_md5",
    "rolling_hash",
    "simhash60",
    "word_ngrams",
    "word_ngram_array",
    "gram_hashes",
    "minhash_from_grams",
]

# Stopword votes per language for the heuristic language-ID. Tiny on
# purpose: broadcast as literals into the plan, no lookup table needed.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to"),
    "de": ("der", "die", "das", "und", "ein"),
    "es": ("el", "la", "los", "y", "un"),
    "fr": ("le", "la", "les", "et", "un"),
    "zh": ("的", "是", "了", "在", "我"),
}


def tokens(text: Column | str, sep: str = " ") -> Column:
    """Whitespace tokenization -> array<string>."""
    return F.split(F.col(text) if isinstance(text, str) else text, sep)


def token_count(text: Column | str, sep: str = " ") -> Column:
    return F.size(tokens(text, sep))


def token_hash60(tok: Column) -> Column:
    """Deterministic 60-bit token hash (md5 prefix), portable across engines.

    60 bits (15 hex chars) keeps the value inside a signed BIGINT with
    headroom, so the same arithmetic works in Spark, DuckDB, anything.
    """
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("bigint")


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features: token count, average token length,
    stopword ratio, and a composite [0,1] score.

    The score is a deterministic blend — the point is the *machinery*
    (pure-Column feature extraction a filter can push through), not the
    specific weights, which a real pipeline would fit on labels.
    """
    t = tokens(text_col)
    n_tok = F.size(t)
    stop = F.size(F.filter(t, lambda x: x.isin("the", "a", "and", "of", "to")))
    avg_len = (F.length(text_col) - (n_tok - F.lit(1))) / n_tok
    stop_ratio = stop / n_tok
    score = F.round(
        F.least(n_tok / F.lit(100.0), F.lit(1.0)) * 0.5
        + F.least(avg_len / F.lit(8.0), F.lit(1.0)) * 0.3
        + (F.lit(1.0) - F.least(stop_ratio * 4, F.lit(1.0))) * 0.2,
        4,
    )
    return df.withColumns(
        {
            "n_tokens": n_tok,
            "avg_token_len": F.round(avg_len, 4).cast("double"),
            "stopword_ratio": F.round(stop_ratio, 4).cast("double"),
            "quality": score.cast("double"),
        }
    )


def lang_id(text_col: Column | str, langs: dict[str, tuple[str, ...]] | None = None) -> Column:
    """Heuristic language-ID: stopword votes per language, argmax with a
    deterministic tie-break (lexicographic language code).

    Tokenization stays a JVM ``split`` (engine-exact, shared with every
    text oracle); the VOTE is an Arrow pandas_udf (r12, guide §4.2). The
    former shape built a nested when-chain whose per-language
    ``F.filter(tokens, isin(...))`` HOFs re-evaluated interpreted inside
    every branch — the same never-codegens-HOF-lambdas trap as the
    simhash fold (~0.5 ms/doc measured; llm_lang_id was scan -> project
    -> TakeOrdered with 2.3 s of pure expression cost at sf0.1). The UDF
    computes the identical integer counts (each token occurrence votes
    for every language whose stopword set contains it) and the identical
    argmax: strictly-greater update over lexicographic codes == first
    smallest code wins ties; all-zero (or NULL text) -> 'und' — exactly
    the old expression's decisions, so the oracle contract is unchanged.
    """
    langs = langs or LANG_STOPWORDS
    lang_codes = sorted(langs)
    n_langs = len(lang_codes)
    # Factorized lookup (r13, VERDICT #8): one vocab row per distinct
    # stopword, a 0/1 (vocab x lang) vote matrix — the whole batch's vote
    # is then two numpy gathers + n_langs bincounts instead of a Python
    # loop per token (the pattern every Arrow vote should copy).
    vocab = sorted({w for ws in langs.values() for w in ws})
    vocab_pos = {w: i for i, w in enumerate(vocab)}
    vote_rows = [[0] * n_langs for _ in vocab]
    for j, code in enumerate(lang_codes):
        for w in langs[code]:
            vote_rows[vocab_pos[w]][j] = 1

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _vote(toks):  # pd.Series of list<string> -> pd.Series of string
        import numpy as np
        import pandas as pd

        n = len(toks)
        out = np.full(n, "und", dtype=object)
        idx = [i for i in range(n) if toks.iloc[i] is not None]
        if not idx:
            return pd.Series(out)
        arrs = [np.asarray(toks.iloc[i], dtype=object) for i in idx]
        lens = np.fromiter((a.size for a in arrs), dtype=np.int64, count=len(arrs))
        if int(lens.sum()) == 0:
            return pd.Series(out)
        flat = np.concatenate(arrs)
        votes = np.asarray(vote_rows, dtype=np.int64)
        codes = pd.Index(vocab).get_indexer(flat)  # -1 for non-stopwords
        doc_of = np.repeat(np.arange(len(idx)), lens)
        hit = codes >= 0
        counts = np.zeros((len(idx), n_langs), dtype=np.int64)
        if hit.any():
            d, c = doc_of[hit], codes[hit]
            for j in range(n_langs):
                counts[:, j] = np.bincount(
                    d, weights=votes[c, j], minlength=len(idx)
                ).astype(np.int64)
        m = counts.max(axis=1)
        # argmax takes the FIRST maximum == lexicographically smallest
        # code (lang_codes is sorted) — the old loop's counts.index(m).
        best = np.take(np.asarray(lang_codes, dtype=object), counts.argmax(axis=1))
        decided = m > 0
        out[np.asarray(idx)[decided]] = best[decided]
        return pd.Series(out)

    return _vote(tokens(text_col))


def fingerprint_md5(text_col: Column | str, normalize: bool = True) -> Column:
    """Content fingerprint: md5 of the (optionally normalized) text.

    Normalization = lowercase + collapse whitespace — the standard exact-dup
    key after superficial formatting differences.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    if normalize:
        c = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return F.md5(c)


def rolling_hash(text_col: Column | str, sep: str = " ") -> Column:
    """Polynomial rolling hash over tokens: acc = (acc*31 + h(w)) mod 2^31-1.

    Order-sensitive (unlike a bag-of-words hash) and streaming-friendly: the
    same recurrence updates incrementally as tokens arrive. Token values are
    reduced mod 1e9+7 first so every intermediate stays far from BIGINT
    overflow (ANSI mode would reject a wrap).
    """
    t = tokens(text_col, sep)
    return F.aggregate(
        t,
        F.lit(0).cast("bigint"),
        lambda acc, w: (acc * 31 + token_hash60(w) % 1000000007) % 2147483647,
    )


def _simhash_vote_udf():
    """Arrow-vectorized 60-bit SimHash vote: array<bigint> token hashes ->
    bigint sketch. Defined as a closure (worker-side unpickling must not
    import nyuki_spark — the driver may run from /tmp).

    Exact integer semantics of the r1-r11 expression fold, reproduced
    op-for-op in numpy: votes[b] = sum over hashes of (+1 if bit b set
    else -1); sketch = sum of (1<<b) where votes[b] > 0. NULL hash array
    (NULL text) -> NULL sketch; an empty array -> 0 (the fold's init —
    no positive votes).
    """
    import pandas as pd  # noqa: F401 (signature type)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def _vote(hs):  # pd.Series of list<int64> -> pd.Series of int64
        import numpy as np
        import pandas as pd

        n = len(hs)
        out = [None] * n
        idx = [i for i in range(n) if hs.iloc[i] is not None]
        if not idx:
            return pd.Series(out, dtype="object")
        arrs = [np.asarray(hs.iloc[i], dtype=np.int64) for i in idx]
        lens = np.fromiter((a.size for a in arrs), dtype=np.int64, count=len(arrs))
        flat_len = int(lens.sum())
        flat = np.concatenate(arrs) if flat_len else np.empty(0, np.int64)
        shifts = np.arange(60, dtype=np.int64)
        # +-1 votes as int8 (15 MB per 250k tokens), prefix-summed per bit
        # so ragged per-doc segments reduce with two gathers (handles
        # zero-length docs exactly like the fold's init).
        votes = ((flat[:, None] >> shifts) & 1).astype(np.int8) * 2 - 1
        cs = np.zeros((flat_len + 1, 60), dtype=np.int64)
        np.cumsum(votes, axis=0, out=cs[1:])
        ends = np.cumsum(lens)
        starts = ends - lens
        seg = cs[ends] - cs[starts]
        masks = (np.int64(1) << shifts)
        sk = (seg > 0).astype(np.int64) @ masks
        for j, i in enumerate(idx):
            out[i] = int(sk[j])
        return pd.Series(out, dtype="object")

    return _vote


def simhash60(text_col: Column | str, sep: str = " ") -> Column:
    """60-bit SimHash over whitespace tokens (Charikar 2002, public).

    For each bit b: sum +-1 over tokens by whether bit b of the token hash
    is set; the output bit is 1 iff the sum is positive. Near-duplicate
    texts land at small Hamming distance.

    Tokenization and the md5-derived token hash stay PURE JVM Column
    expressions (portable, engine-exact — the DuckDB oracle reproduces
    them bit-for-bit). The 60-bit VOTE, previously an interpreted
    higher-order-function fold (zip_with over a 60-wide accumulator per
    token — Spark never codegens HOF lambdas, and the boxed per-token
    per-bit arithmetic measured ~0.4 ms/doc, 2.1 s for 5k docs at sf0.1),
    is an Arrow pandas_udf over the hash ARRAY doing the same integer
    ops vectorized in numpy (guide §4.2: hand whole batches to native
    code). Only (id-side columns, hash array) cross the boundary, never
    document text.
    """
    t = tokens(text_col, sep)
    hashes = F.transform(t, token_hash60)
    return _simhash_vote_udf()(hashes)


def _token_spans_kernel():
    """The byte-span tokenizer of the Arrow text stages: ``spans(tb, n)``
    takes one text's UTF-8 bytes and returns the (starts, ends) int64
    arrays of its single-space-separated tokens, or None when it has
    fewer than ``n`` tokens. Tokens are exactly ``text.split(" ")``: the
    space byte never occurs inside a multibyte sequence, so one numpy
    pass over the bytes finds every separator, and the gram of tokens
    ``i .. i+n-1`` is the byte slice ``tb[starts[i]:ends[i+n-1]]`` — the
    tokens joined by the separator, with no join.

    Returned from a factory so the closure pickles by value (worker-side
    unpickling must not import nyuki_spark). Callers keep their own
    per-doc loop and per-gram step.
    """
    import numpy as np

    def spans(tb: bytes, n: int):
        seps = np.where(np.frombuffer(tb, dtype=np.uint8) == 32)[0]
        n_tok = seps.size + 1
        if n_tok < n:
            return None
        starts = np.empty(n_tok, dtype=np.int64)
        ends = np.empty(n_tok, dtype=np.int64)
        starts[0] = 0
        starts[1:] = seps + 1
        ends[:-1] = seps
        ends[-1] = len(tb)
        return starts, ends

    return spans


def word_ngrams(df: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle) rows.

    The shingle set is the input to Jaccard / MinHash dedup — the most
    widely shared stage of the dedup family (jaccard/containment funnels,
    decontamination, source overlap, shingle novelty, bigram counts).

    r13 (guide §4.2 — the substring_spans playbook): the former shape was
    a sequence+transform HOF (interpreted per gram, with O(n) element_at
    concats each) exploded and then GLOBALLY de-duplicated by a
    (id, shingle) exchange. Now a `mapInPandas` stage emits the identical
    shingle set with zero string joins: each shingle is a byte slice of
    the original text (:func:`_token_spans_kernel`); per-doc set-dedup
    makes the (id, shingle) rows distinct BY CONSTRUCTION, so the
    downstream distinct exchange is gone from every consumer. Order of
    rows within a doc is unspecified, as before (every consumer
    aggregates or joins).
    """
    from pyspark.sql.types import StringType, StructField, StructType

    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [StructField(id_col, id_type), StructField("shingle", StringType())]
    )
    spans = _token_spans_kernel()

    def _shingle_rows(batches):
        import pandas as pd

        for pdf in batches:
            out_id, out_sh = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                tb = text.encode("utf-8")
                se = spans(tb, n)
                if se is None:
                    continue
                starts, ends = se
                uniq = {
                    tb[starts[i] : ends[i + n - 1]]
                    for i in range(starts.size - n + 1)
                }
                out_sh.extend(s.decode("utf-8") for s in uniq)
                out_id.extend([did] * len(uniq))
            yield pd.DataFrame(
                {
                    id_col: pd.Series(out_id),
                    "shingle": pd.Series(out_sh, dtype=object),
                }
            )

    return df.select(id_col, text_col).mapInPandas(_shingle_rows, out_schema)


# PII redaction rules: (tag, pattern, replacement), applied IN ORDER.
# Patterns are restricted to the Java-regex ∩ RE2 subset (no lookaround, no
# backrefs) so the DuckDB oracle can run the identical pattern; order is
# part of the contract (the oracle must chain REGEXP_REPLACE the same way).
PII_RULES: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def redact_pii(text_col: Column | str) -> Column:
    """Replace emails / SSN-like ids / phone-like numbers / IPv4 literals
    with typed placeholder tags. A chain of ``regexp_replace`` — pure
    Column, codegen'd, no Python per row; at corpus scale this runs inside
    the same generated stage as the parquet scan.
    """
    out = F.col(text_col) if isinstance(text_col, str) else text_col
    for _tag, pattern, repl in PII_RULES:
        out = F.regexp_replace(out, pattern, repl)
    return out


def pii_counts(text_col: Column | str) -> list[Column]:
    """Per-rule match counts (on the ORIGINAL text — count before you
    redact, or earlier replacements mask later patterns). One aliased
    ``regexp_count`` column per rule: ``n_email, n_ssn, n_phone, n_ipv4``.
    """
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return [
        F.regexp_count(col, F.lit(pattern)).alias(f"n_{tag}")
        for tag, pattern, _repl in PII_RULES
    ]


def word_ngram_array(
    text_col: Column | str, n: int = 3, sep: str = " "
) -> Column:
    """Word ``n``-gram shingles of one text as ``array<string>`` (with
    duplicates, in order); NULL when the text has < ``n`` tokens.

    Column-valued sibling of :func:`word_ngrams` (which explodes to rows):
    keeping the shingles as an array lets a per-document fold (MinHash)
    consume them without any explode/shuffle.
    """
    t = tokens(text_col, sep)
    return F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - n),
            lambda i: F.concat_ws(
                sep, *[F.element_at(t, i + j + 1) for j in range(n)]
            ),
        ),
    )


# Universal-hash permutation constants for the portable MinHash: the p-th
# permutation is h_p(x) = (A[p]*x + B[p]) mod MINHASH_P over 28-bit base
# hashes (md5 prefix). Products stay < 2^58, inside BIGINT on every engine.
# The constants are md5-derived (deterministic, engine-independent) so the
# DuckDB oracle can inline the very same numbers.
MINHASH_P = 1073741789  # largest prime < 2^30


def _mh_const(tag: str, p: int) -> int:
    import hashlib

    return int(hashlib.md5(f"{tag}|{p}".encode()).hexdigest()[:7], 16)


MINHASH_A = [_mh_const("a", p) | 1 for p in range(64)]
MINHASH_B = [_mh_const("b", p) for p in range(64)]


def minhash_from_grams(grams: Column | str, n_perm: int = 16) -> Column:
    """Portable MinHash signature over pre-hashed shingles: ``sig[p] =
    min over hashes h of (A[p]*h + B[p]) mod P`` — Broder 1997 min-wise
    permutations via the standard universal-hash family. ``grams`` must be
    the :func:`gram_hashes` column (28-bit md5 prefixes), materialised at
    its own select boundary; the per-permutation work is then two integer
    ops, so the fold costs O(shingles) digests total, not
    O(perms x shingles) (the first cut salted an md5 per permutation and
    was the slowest query in the registry's bench).

    Everything is a Column fold over the hash array — no explode, no
    shuffle, no UDF — and every primitive (md5, substr, base-16 to
    decimal, %) is bit-identical across engines, so the signature is
    oracle-verifiable, unlike MLlib's ``MinHashLSH`` whose hash family is
    seeded JVM-private (that path stays as the library variant in
    ``operators/dedup.py``).
    """
    hs = F.col(grams) if isinstance(grams, str) else grams
    perms = F.array(
        *[
            F.struct(
                F.lit(MINHASH_A[p]).alias("a"), F.lit(MINHASH_B[p]).alias("b")
            )
            for p in range(n_perm)
        ]
    )
    return F.transform(
        perms,
        lambda ab: F.array_min(
            F.transform(
                hs, lambda h: (ab.getField("a") * h + ab.getField("b")) % MINHASH_P
            )
        ),
    )


def gram_hashes(grams: Column | str) -> Column:
    """28-bit md5-prefix hash per shingle (``array<bigint>``), the input
    contract of :func:`minhash_from_grams`. Materialise this at its OWN
    select boundary: CollapseProject keeps a non-cheap multiply-referenced
    projection, so the md5s evaluate once instead of once per permutation
    fold.
    """
    g = F.col(grams) if isinstance(grams, str) else grams
    return F.transform(
        g,
        lambda s: F.conv(F.substring(F.md5(s), 1, 7), 16, 10).cast("bigint"),
    )
