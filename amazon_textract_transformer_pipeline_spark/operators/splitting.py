"""Sequence splitting Q1-Q4 (SURVEY §2.5): long pages → model windows.

Algorithm re-derived from the reference's NaiveExampleSplitter contract
(``notebooks/src/code/data/splitting.py:63-144``): split on word boundaries,
greedy-fill each window up to ``max_content_seq_len`` tokens; if the final
window lands under 50% full, pull its start backward (creating overlap) to
pack in context; a single word longer than the whole window is skipped with a
warning (splitting.py:118-127). Windows are word-index ``[start, end)``
slices. ``n_examples`` estimate = ``ceil(n_tokens / max_len)``
(splitting.py:72-74).

Tokenizer: the reference uses a HuggingFace tokenizer's ``word_ids`` map
(Q1, splitting.py:286-297). This sandbox has no transformers, so the default
is a deterministic BPE-ish stub (regex word-piece chunks, ≤4 chars) behind
the same interface — only per-word token *counts* matter to the splitter.

This is UDF family (b) (SURVEY §2.12): Arrow-batched ``mapInPandas`` at page
grain. One page in → ≥1 window rows out; map-only, no shuffle. The window
budget reserves 2 tokens for CLS/SEP (max_seq_len − 2, ner.py:439).
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator
from math import ceil

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import WORD_SCHEMA

#: max_position_embeddings=512 minus CLS+SEP (config.py:325-331; ner.py:439)
DEFAULT_MAX_CONTENT_SEQ_LEN = 510

_PIECE_RE = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9]")
_CHUNK = 4


def stub_tokenize(word: str) -> list[str]:
    """Deterministic BPE-ish word-piece stub: alpha/digit/symbol runs, long
    runs chopped to 4-char pieces. Every word yields ≥1 token."""
    pieces: list[str] = []
    for m in _PIECE_RE.finditer(word):
        s = m.group(0)
        pieces.extend(s[i:i + _CHUNK] for i in range(0, len(s), _CHUNK))
    return pieces or [word]


def n_examples(n_tokens: int, max_content_seq_len: int) -> int:
    return int(ceil(n_tokens / max_content_seq_len))


def hf_tokenize_adapter(tokenizer, cache_size: int = 65536):
    """Adapt a HuggingFace-style tokenizer to the per-word ``tokenize``
    interface the splitter/collator consume (Q1, reference
    ``splitting.py:286-297``: tokenizer called with pre-split words, the
    ``word_ids()`` map ties pieces back to words).

    Accepts any object with the HF fast-tokenizer surface:
    ``tokenizer(words, is_split_into_words=True, add_special_tokens=False)``
    returning an encoding with ``tokens()`` and ``word_ids()``. Pieces whose
    word_id is None (specials) are dropped; every real word is guaranteed
    ≥1 piece (UNK fallback), matching stub_tokenize's contract.

    Per-word results are memoized — web text repeats words heavily. The
    adapter is a picklable object (lru_cache closures are not
    cloudpickle-able), so the cache ships empty to each executor and fills
    per-worker; ``cache_size`` bounds worker memory.
    """
    return _HFWordTokenize(tokenizer, cache_size)


class _HFWordTokenize:
    def __init__(self, tokenizer, cache_size: int):
        self.tokenizer = tokenizer
        self.cache_size = cache_size
        self._cache: dict[str, list[str]] = {}

    def __call__(self, word: str) -> list[str]:
        hit = self._cache.get(word)
        if hit is None:
            enc = self.tokenizer([word], is_split_into_words=True,
                                 add_special_tokens=False)
            hit = [t for t, w in zip(enc.tokens(), enc.word_ids())
                   if w is not None]
            if not hit:
                hit = [getattr(self.tokenizer, "unk_token", "[UNK]")]
            if len(self._cache) >= self.cache_size:
                self._cache.clear()
            self._cache[word] = hit
        return list(hit)

    def __getstate__(self):  # ship the tokenizer, not the warmed cache
        return {"tokenizer": self.tokenizer, "cache_size": self.cache_size}

    def __setstate__(self, state):
        self.tokenizer = state["tokenizer"]
        self.cache_size = state["cache_size"]
        self._cache = {}


def token_counter(tokenize=stub_tokenize) -> Callable[[str], int]:
    """Per-word token count, memoized for the lifetime of one task: web
    text repeats words heavily (bounded: vocabulary ≪ corpus)."""
    cache: dict[str, int] = {}

    def n_toks(word: str) -> int:
        c = cache.get(word)
        if c is None:
            if len(cache) >= 1 << 20:
                cache.clear()
            cache[word] = c = len(tokenize(word))
        return c

    return n_toks


def split_words(token_counts: list[int], max_len: int) -> list[tuple[int, int]]:
    """Word-boundary splits per the NaiveExampleSplitter contract.

    ``token_counts[i]`` = tokens in word i. Returns [start, end) word slices.
    """
    n_words = len(token_counts)
    # word i starts at token word_start[i]; total tokens = word_start[n]
    word_start = [0] * (n_words + 1)
    for i, c in enumerate(token_counts):
        word_start[i + 1] = word_start[i] + c
    n_tokens_total = word_start[n_words]

    splits: list[tuple[int, int]] = []
    ix_start = 0
    while ix_start < n_words:
        start_tok = word_start[ix_start]
        end_tok = start_tok
        ix_end = ix_start
        while ix_end < n_words:
            nxt = ix_end + 1
            nxt_tok = word_start[nxt] if nxt < n_words else n_tokens_total
            if nxt_tok - start_tok > max_len:
                break
            ix_end, end_tok = nxt, nxt_tok
        if end_tok == start_tok:
            # single word longer than the window: skip (warn path)
            ix_start += 1
            continue
        if end_tok - start_tok < max_len * 0.5:
            while ix_start > 0:
                prev = ix_start - 1
                if end_tok - word_start[prev] > max_len:
                    break
                ix_start = prev
        splits.append((ix_start, ix_end))
        ix_start = ix_end
    return splits


WINDOW_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("page_num", T.IntegerType(), False),
        T.StructField("window_ix", T.IntegerType(), False),
        T.StructField("start_word", T.IntegerType(), False),
        T.StructField("end_word", T.IntegerType(), False),
        T.StructField("n_tokens", T.IntegerType(), False),
        T.StructField("words", T.ArrayType(WORD_SCHEMA), False),
        # per-word token counts within the slice (reused by inference I1)
        T.StructField("token_counts", T.ArrayType(T.IntegerType()), False),
    ]
)


def split_pages_to_windows(
    pages: DataFrame,
    max_content_seq_len: int = DEFAULT_MAX_CONTENT_SEQ_LEN,
    tokenize=stub_tokenize,
) -> DataFrame:
    """Q1-Q3: page rows (from assembly.pages_view) → window rows.

    Map-only Arrow stage; downstream inference batches whole windows.
    """
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_toks = token_counter(tokenize)
        for b in batches:
            out: dict[str, list] = {f.name: [] for f in WINDOW_SCHEMA}
            for url, page_num, words in zip(b["url"], b["page_num"], b["words"]):
                counts = [n_toks(w["text"]) for w in words]
                for wix, (s, e) in enumerate(
                    split_words(counts, max_content_seq_len)
                ):
                    out["url"].append(url)
                    out["page_num"].append(page_num)
                    out["window_ix"].append(wix)
                    out["start_word"].append(s)
                    out["end_word"].append(e)
                    out["n_tokens"].append(sum(counts[s:e]))
                    out["words"].append(list(words[s:e]))
                    out["token_counts"].append(counts[s:e])
            # an all-empty frame defaults its columns to float64, which Arrow
            # can't cast to list<struct> — yield nothing instead
            if out["url"]:
                yield pd.DataFrame(out)

    return pages.mapInPandas(run, schema=WINDOW_SCHEMA)


WINDOW_BOUNDS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("page_num", T.IntegerType(), False),
        T.StructField("window_ix", T.IntegerType(), False),
        T.StructField("start_word", T.IntegerType(), False),
        T.StructField("end_word", T.IntegerType(), False),
        T.StructField("n_tokens", T.IntegerType(), False),
    ]
)


def split_pages_to_window_bounds(
    pages: DataFrame,
    max_content_seq_len: int = DEFAULT_MAX_CONTENT_SEQ_LEN,
    tokenize=stub_tokenize,
) -> DataFrame:
    """Bounds-only splitter: same windows as
    :func:`split_pages_to_windows`, but the Arrow stage ships ONLY word
    *texts* in (array<string>, projected JVM-side) and bounds out — no
    word structs (conf/id/line_id/4-double box) cross the Python boundary
    in either direction, and no window-overlap duplication of payloads.

    Use when downstream needs window geometry, not collated content
    (monitoring, n_examples audits, the driver gate). Measured ~2× on the
    split_windows bench query at sf0.1 — serialization, not splitting, was
    the cost (BENCH r2 regression investigation).
    """
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_toks = token_counter(tokenize)
        for b in batches:
            out: dict[str, list] = {f.name: [] for f in WINDOW_BOUNDS_SCHEMA}
            for url, page_num, texts in zip(b["url"], b["page_num"],
                                            b["texts"]):
                counts = [n_toks(t) for t in texts]
                for wix, (s, e) in enumerate(
                    split_words(counts, max_content_seq_len)
                ):
                    out["url"].append(url)
                    out["page_num"].append(page_num)
                    out["window_ix"].append(wix)
                    out["start_word"].append(s)
                    out["end_word"].append(e)
                    out["n_tokens"].append(sum(counts[s:e]))
            if out["url"]:
                yield pd.DataFrame(out)

    narrow = pages.select(
        "url", "page_num",
        F.expr("transform(words, w -> w.text)").alias("texts"))
    return narrow.mapInPandas(run, schema=WINDOW_BOUNDS_SCHEMA)


TOKENIZED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("page_num", T.IntegerType(), False),
        T.StructField("window_ix", T.IntegerType(), False),
        T.StructField("tokens", T.ArrayType(T.StringType()), False),
        # token -> word index within the window (HF word_ids; -1 for CLS/SEP)
        T.StructField("word_ids", T.ArrayType(T.IntegerType()), False),
        # per-token 0-1000 boxes; CLS=(0,0,0,0), SEP=(1000,)*4 (ner.py:187-275)
        T.StructField("boxes1000", T.ArrayType(T.ArrayType(T.IntegerType())), False),
    ]
)

CLS_BOX = [0, 0, 0, 0]
SEP_BOX = [1000, 1000, 1000, 1000]


def tokenize_windows(windows: DataFrame, tokenize=stub_tokenize) -> DataFrame:
    """I1 collation (SURVEY §2.7): window rows → model-ready token records.

    Word-level boxes index-select to token level via the word_ids map;
    special tokens get the reference's CLS/SEP box conventions
    (``ner.py:187-275``). The 0-1000 boxes truncate like P2
    (``geometry.py:50-69``). This is the exact tensor-input shape a real
    LayoutLM collator consumes; the stub model skips it (its logits don't
    depend on boxes) but the plumbing is exercised by tests.
    """
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out: dict[str, list] = {f.name: [] for f in TOKENIZED_SCHEMA}
            for url, page, wix, words in zip(
                b["url"], b["page_num"], b["window_ix"], b["words"]
            ):
                toks: list[str] = ["[CLS]"]
                wids: list[int] = [-1]
                boxes: list[list[int]] = [CLS_BOX]
                for i, w in enumerate(words):
                    box = w["box"]
                    b1000 = [int(box["left"] * 1000), int(box["top"] * 1000),
                             int((box["left"] + box["width"]) * 1000),
                             int((box["top"] + box["height"]) * 1000)]
                    for piece in tokenize(w["text"]):
                        toks.append(piece)
                        wids.append(i)
                        boxes.append(b1000)
                toks.append("[SEP]")
                wids.append(-1)
                boxes.append(SEP_BOX)
                out["url"].append(url)
                out["page_num"].append(int(page))
                out["window_ix"].append(int(wix))
                out["tokens"].append(toks)
                out["word_ids"].append(wids)
                out["boxes1000"].append(boxes)
            if out["url"]:  # see split_pages_to_windows: empty-frame dtype trap
                yield pd.DataFrame(out)

    return windows.select("url", "page_num", "window_ix", "words") \
        .mapInPandas(run, schema=TOKENIZED_SCHEMA)
