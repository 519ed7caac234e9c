"""Adversarial properties of the shared byte-span n-gram kernel.

``_token_spans_kernel`` tokenizes by scanning UTF-8 bytes for the space
byte, and both ``word_ngrams`` and ``duplicated_substring_spans`` slice
their grams out of the original bytes. The contract is plain
``text.split(" ")``: every other whitespace (tab, newline, U+3000) is
part of a token, doubled / leading / trailing spaces make empty tokens,
and multibyte characters never split. The kernel is checked in-process
against that reference, then one generated corpus runs through both
Spark operators and is compared with pure-Python references of their
contracts.
"""

from __future__ import annotations

import random

from hypothesis import given, settings
from hypothesis import strategies as st

from nyuki_spark.functions.text import _token_spans_kernel, word_ngrams
from nyuki_spark.operators.spans import duplicated_substring_spans

# Single characters that stress the byte scan: multibyte UTF-8 of 2, 3 and
# 4 bytes, the ideographic space (3 bytes, not a separator), other ASCII
# whitespace, and the separator itself.
_CHARS = ["a", "b", "é", "日", "本", "😀", "\u3000", "\t", "\n", " "]
_TEXTS = st.text(alphabet=st.sampled_from(_CHARS), max_size=40)


def _ref_grams(text: str, n: int) -> list[str] | None:
    toks = text.split(" ")
    if len(toks) < n:
        return None
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


@settings(max_examples=300, deadline=None)
@given(text=_TEXTS)
def test_kernel_matches_split_reference(text):
    spans = _token_spans_kernel()
    tb = text.encode("utf-8")
    for n in (1, 2, 3, 5, 8):
        ref = _ref_grams(text, n)
        se = spans(tb, n)
        if ref is None:
            assert se is None
            continue
        starts, ends = se
        assert starts.size == ends.size == len(text.split(" "))
        got = [
            tb[starts[i] : ends[i + n - 1]].decode("utf-8")
            for i in range(starts.size - n + 1)
        ]
        assert got == ref


# Tokens for the Spark corpus: multibyte, empty (doubled spaces), tab /
# newline / U+3000 inside a token.
_TOKENS = ["a", "b", "é", "日本", "😀", "", "x\ty", "p\nq", "\u3000", "日\u3000本"]


def _corpus(seed: int = 7, n_docs: int = 120) -> list[tuple[int, str | None]]:
    """Random docs over ``_TOKENS``; a few shared 10-token passages are
    spliced into many docs so the span operator has cross-doc hits, and
    NULL, empty and too-short texts are mixed in."""
    rng = random.Random(seed)
    passages = [[rng.choice(_TOKENS) for _ in range(10)] for _ in range(4)]
    docs: list[tuple[int, str | None]] = [(0, None), (1, ""), (2, " "), (3, "a b")]
    for i in range(4, n_docs):
        toks = [rng.choice(_TOKENS) for _ in range(rng.randint(0, 14))]
        if rng.random() < 0.5:
            at = rng.randint(0, len(toks))
            toks[at:at] = rng.choice(passages)
        docs.append((i, " ".join(toks)))
    return docs


def _ref_shingles(docs, n: int) -> set:
    out = set()
    for did, text in docs:
        if text is not None:
            out |= {(did, g) for g in _ref_grams(text, n) or []}
    return out


def _ref_spans(docs, l: int) -> set:
    grams = {}  # did -> [gram tuple per position]
    owners: dict[tuple, set] = {}
    for did, text in docs:
        if text is None:
            continue
        toks = text.split(" ")
        grams[did] = [tuple(toks[i : i + l]) for i in range(len(toks) - l + 1)]
        for g in grams[did]:
            owners.setdefault(g, set()).add(did)
    out = set()
    for did, gs in grams.items():
        run_start = None
        for pos, g in enumerate(gs + [None]):
            dup = g is not None and len(owners[g]) >= 2
            if dup and run_start is None:
                run_start = pos
            elif not dup and run_start is not None:
                out.add((did, run_start, pos - run_start + l - 1))
                run_start = None
    return out


def test_spark_operators_match_split_reference(spark):
    docs = _corpus()
    df = spark.createDataFrame(docs, "doc_id long, text string")

    rows = [(r.doc_id, r.shingle) for r in word_ngrams(df, n=3).collect()]
    assert len(rows) == len(set(rows))  # distinct per doc by construction
    assert set(rows) == _ref_shingles(docs, 3)

    got_spans = {
        (r.doc_id, r.start_pos, r.span_tokens)
        for r in duplicated_substring_spans(df, l=8).collect()
    }
    ref_spans = _ref_spans(docs, 8)
    assert ref_spans  # the spliced passages must produce cross-doc spans
    assert got_spans == ref_spans
