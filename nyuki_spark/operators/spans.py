"""Cross-document duplicated-substring span detection.

The "substring dedup" pass of a training-data pipeline (Lee et al. 2022,
*Deduplicating Training Data Makes Language Models Better*) removes exact
token spans that recur across documents — boilerplate headers, license
blocks, templated paragraphs — which survive document-level dedup because
the *containing* documents differ. The published approach builds a corpus
suffix array; that is a single-machine construction. The distributed
re-expression here keeps the same detection contract for spans of at least
``l`` tokens using only shuffle-friendly primitives:

1. every document emits its token ``l``-grams as (doc, position, hash)
   rows — a narrow Arrow ``mapInPandas`` stage that hashes byte slices of
   the original text (the shared tokenizer of ``functions/text.py``),
   shuffling a 16-hex-char hash instead of the gram text;
2. grams whose hash appears in >= 2 *distinct* documents are duplicated —
   one hash-partitioned aggregate with map-side partial
   ``count(distinct)`` collapse;
3. each document's duplicated gram positions are merged into maximal
   spans with the classic gaps-and-islands rewrite (``pos - row_number``)
   — one window partitioned by doc, never global.

Every stage partitions by either the gram hash or the doc id, so the plan
is three shuffles of narrow rows regardless of corpus size; no stage
materialises a suffix array or an all-pairs comparison. A 16-hex (64-bit)
hash stands in for gram equality — at 100 TB the birthday bound makes a
false merge possible but it only ever *joins* two true spans, never
invents text; the tradeoff is the same one the exact-dedup operator
documents for content hashes.

Intra-document repetition is deliberately out of scope (>= 2 *distinct*
docs): that signal is covered by ``llm_repetition_stats``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nyuki_spark.functions.text import _token_spans_kernel

__all__ = ["duplicated_substring_spans"]


def duplicated_substring_spans(
    docs: DataFrame,
    l: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Maximal token spans of length >= ``l`` shared by >= 2 documents.

    Returns (id_col, start_pos, span_tokens): ``start_pos`` is the 0-based
    token offset of the span's first token, ``span_tokens`` its length in
    tokens (= merged gram run + ``l`` - 1). Tokens are split on a single
    space, as ``text.split(" ")``.
    """
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    id_type = docs.schema[id_col].dataType
    gram_schema = StructType(
        [
            StructField(id_col, id_type),
            StructField("pos", IntegerType()),
            StructField("g", StringType()),
        ]
    )
    spans = _token_spans_kernel()

    # r13 (VERDICT #4, guide §4.2): the gram stage was an interpreted HOF
    # (`transform(sequence, i -> substring(md5(concat_ws(slice(t,i,l)))))`)
    # — Spark never codegens HOF lambdas, and each element re-sliced and
    # re-concatenated l tokens (O(tokens * l) char copying per doc at
    # ~1 interpreted lambda call per gram). The Arrow stage computes the
    # IDENTICAL hashes: each gram md5 runs over a byte slice of the
    # original UTF-8 text (:func:`_token_spans_kernel`) with no join at
    # all; md5 hex prefix matches Spark's md5/substring contract. pos
    # stays the 0-based posexplode index.
    def _gram_rows(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        md5 = hashlib.md5
        for pdf in batches:
            out_id, out_pos, out_g = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                tb = text.encode("utf-8")
                se = spans(tb, l)
                if se is None:
                    continue
                starts, ends = se
                m = starts.size - l + 1
                for i in range(m):
                    out_g.append(
                        md5(tb[starts[i] : ends[i + l - 1]]).hexdigest()[:16]
                    )
                out_id.extend([did] * m)
                out_pos.extend(range(m))
            yield pd.DataFrame(
                {
                    id_col: pd.Series(out_id),
                    "pos": pd.Series(out_pos, dtype=np.int32),
                    "g": pd.Series(out_g, dtype=object),
                }
            )

    grams = docs.select(id_col, text_col).mapInPandas(_gram_rows, gram_schema)
    # Duplicated = the gram hash occurs in >= 2 distinct docs, i.e.
    # min(doc_id) != max(doc_id) over the gram's rows — the same predicate
    # as COUNT(DISTINCT doc_id) >= 2 with CONSTANT per-key state. r13
    # (guide §2.4): the former countDistinct-aggregate + left-semi-join
    # shape evaluated the gram stage TWICE (the agg subtree and the probe
    # subtree differ, so ReusedExchange cannot fire) and paid a second
    # join exchange; one gram-partitioned window serves the whole
    # decision (measured 1.48 -> 0.72 s at sf0.1, hit set identical).
    wg = Window.partitionBy("g")
    hits = (
        grams.withColumn(
            "_dup", F.min(id_col).over(wg) != F.max(id_col).over(wg)
        )
        .where(F.col("_dup"))
        .select(id_col, "pos")
    )
    # Gaps-and-islands: consecutive duplicated positions share (pos - rn).
    w = Window.partitionBy(id_col).orderBy("pos")
    isl = hits.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return (
        isl.groupBy(id_col, "grp")
        .agg(
            F.min("pos").alias("start_pos"),
            (F.max("pos") - F.min("pos") + l).cast("long").alias("span_tokens"),
        )
        .select(id_col, "start_pos", "span_tokens")
    )
