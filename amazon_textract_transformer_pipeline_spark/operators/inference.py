"""Inference stage I1-I4 (SURVEY §2.7): window rows → word-level predictions.

Rebuilds the reference's SageMaker NER endpoint pipeline
(``notebooks/src/code/inference.py:363-500``) as a two-step Spark stage:

1. **Forward pass per window** (UDF family (c), Arrow ``mapInPandas``): a
   token-classifier maps each window's tokens to per-class probability
   vectors, then averages token-probs *within* each word locally (cheap,
   same Arrow batch). The model is pluggable: :class:`StubModel` is the
   deterministic CI model (seeded PCG64 logits, biased so argmax classes
   form realistic multi-word runs); a transformers checkpoint drops into the
   same interface when the runtime has one.
2. **Cross-window aggregation** (relational): the splitter's <50%-backfill
   rule duplicates words across windows, and the reference resolves this by
   collecting every token's prob vector under its WORD block and taking the
   mean (inference.py:449-492 — token→block collect, ``np.mean`` across
   tokens AND windows). Token counts per word are tokenizer-deterministic,
   hence identical in every window that contains the word — so the global
   token mean equals the mean over window-level word means, which is what
   the groupBy computes (element-wise array average via zip_with fold).

``PredictedClass`` = argmax (first-max, numpy semantics);
``PredictedClassConfidence`` = probs[argmax] (inference.py:487-492).

The extraction pipeline runs the stub through ``operators/fused.py``, which
calls :meth:`StubModel.predict_window` per page inside its per-document
kernel; the two relational steps here are the reference it is tested
against, and the real-model collation in
:func:`transformer_window_predictions`.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .enrich import RUN_LEN as _RUN_LEN
from .enrich import _hash64_py
from .enrich import stub_cls_py as _stub_cls_py

#: reference endpoint batch size (inference.py:68)
INFERENCE_BATCH_SIZE = 8


class StubModel:
    """Deterministic stand-in for the LayoutLM token classifier.

    Per-token probs are a pure function of (url, page, window, token_ix):
    seeded PCG64 uniforms with +1.2 logit bias on a word-pos-derived class,
    normalized to sum 1. Window-dependent on purpose — duplicated words get
    *different* probs per window, so the cross-window mean is actually
    exercised by tests.
    """

    n_classes = 20
    _bias = 1.2

    def predict_window(self, url: str, page_num: int, window_ix: int,
                       start_word: int, token_counts: list[int],
                       boost_classes: list[int]) -> np.ndarray:
        """Return per-word mean prob matrix, shape (n_words, n_classes).

        One draw of every token's uniforms (word after word, the order a
        per-word loop would draw them in), then the per-word mean taken
        over words of equal token count at once: ``mean(axis=1)`` of a
        ``(n_words, k, C)`` block sums each word's k rows in the same
        order as ``mean(axis=0)`` of one word's ``(k, C)`` rows, so the
        result is bit-identical to that loop."""
        seed = _hash64_py(f"{url}|{page_num}|{window_ix}")
        rng = np.random.Generator(np.random.PCG64(seed))
        counts = np.asarray(token_counts, dtype=np.intp)
        n_tok = int(counts.sum())
        logits = rng.random((n_tok, self.n_classes))
        boost = np.repeat(np.asarray(boost_classes, dtype=np.intp), counts)
        logits[np.arange(n_tok), boost] += self._bias
        probs = logits / logits.sum(axis=1, keepdims=True)
        first = np.cumsum(counts) - counts
        out = np.empty((len(counts), self.n_classes))
        for k in np.unique(counts).tolist():
            words = np.flatnonzero(counts == k)
            tok = (first[words, None] + np.arange(k)).ravel()
            out[words] = probs[tok].reshape(words.size, k, self.n_classes) \
                .mean(axis=1)
        return out


WINDOW_PRED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("page_num", T.IntegerType(), False),
        T.StructField("window_ix", T.IntegerType(), False),
        T.StructField("word_pos", T.IntegerType(), False),  # page-level index
        T.StructField("word_id", T.StringType(), False),
        T.StructField("probs", T.ArrayType(T.DoubleType()), False),
    ]
)


def predict_windows(windows: DataFrame, model: StubModel | None = None) -> DataFrame:
    """Step 1: per-(window, word) mean probability vectors."""
    mdl = model or StubModel()
    n_classes = mdl.n_classes

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # model would be lazily loaded once per executor here (broadcast
        # weights / local checkpoint); the stub has no weights.
        for b in batches:
            out: dict[str, list] = {f.name: [] for f in WINDOW_PRED_SCHEMA}
            for url, page, wix, sw, words, counts in zip(
                b["url"], b["page_num"], b["window_ix"], b["start_word"],
                b["words"], b["token_counts"],
            ):
                # boost class mirrors enrich.stub_cls run structure so the
                # stub produces realistic multi-word class runs
                boosts = [
                    _stub_cls_py(url, int(page), int(sw) + i, n_classes, _RUN_LEN)
                    for i in range(len(counts))
                ]
                probs = mdl.predict_window(url, int(page), int(wix), int(sw),
                                           list(counts), boosts)
                for i, w in enumerate(words):
                    out["url"].append(url)
                    out["page_num"].append(int(page))
                    out["window_ix"].append(int(wix))
                    out["word_pos"].append(int(sw) + i)
                    out["word_id"].append(w["id"])
                    out["probs"].append(probs[i].tolist())
            if out["url"]:  # empty frames default to float64 → Arrow cast error
                yield pd.DataFrame(out)

    return windows.mapInPandas(run, schema=WINDOW_PRED_SCHEMA)


def aggregate_word_predictions(window_preds: DataFrame,
                               n_classes: int = StubModel.n_classes) -> DataFrame:
    """Step 2 (I3): mean probs across windows per word → class + confidence.

    Element-wise array mean: fold collect_list with zip_with (the per-word
    window list is tiny — ≤ a few windows), then argmax/first-max.
    """
    zeros = F.array_repeat(F.lit(0.0), n_classes)
    summed = F.aggregate(
        F.collect_list("probs"),
        zeros,
        lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
    )
    agg = (
        window_preds.groupBy("url", "page_num", "word_pos")
        .agg(
            F.first("word_id").alias("word_id"),
            summed.alias("_sum"),
            F.count("*").alias("_n"),
        )
        .withColumn("probs", F.expr("transform(_sum, x -> x / _n)"))
        .drop("_sum", "_n")
    )
    return (
        agg.withColumn("pcc", F.array_max("probs"))
        .withColumn(
            "pred_cls",
            (F.array_position(F.col("probs"), F.col("pcc")) - 1).cast("int"),
        )
    )


def transformer_window_predictions(windows: DataFrame, load_fn,
                                   tokenize=None,
                                   batch_size: int = INFERENCE_BATCH_SIZE,
                                   pad_to_multiple_of: int = 8) -> DataFrame:
    """Step 1 with a *real* token-classification model (I2).

    Mirrors the reference endpoint's predict loop
    (``notebooks/src/code/inference.py:435-492``): windows are collated via
    :func:`..splitting.tokenize_windows` semantics (CLS/SEP framing,
    ``word_ids`` token→word map, token-level 0-1000 boxes), batched
    ``batch_size`` windows at a time (inference.py:68), right-padded to the
    longest window in the batch rounded up to ``pad_to_multiple_of``
    (inference.py:68-70, tensor-core alignment), forwarded once per batch,
    softmaxed, and token probs are averaged per word within the window.
    Cross-window averaging stays in :func:`aggregate_word_predictions`.

    ``load_fn() -> (tokenizer, forward_fn, n_classes)`` runs once per Arrow
    worker (the executor-local model load). ``tokenizer`` needs only
    ``convert_tokens_to_ids`` + ``pad_token_id``; ``forward_fn(input_ids,
    attention_mask, bbox) -> logits`` takes/returns numpy ``(B, L, ·)``
    arrays — a thin torch ``no_grad`` wrapper in the real deployment (see
    enrich.model_predictions), a plain function in tests.
    """
    from .splitting import CLS_BOX, SEP_BOX, stub_tokenize

    tok_fn = tokenize or stub_tokenize

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tokenizer, forward_fn, n_classes = load_fn()  # once per worker
        pad_id = int(getattr(tokenizer, "pad_token_id", 0) or 0)

        pending: list[dict] = []

        def flush() -> Iterator[pd.DataFrame]:
            if not pending:
                return
            max_len = max(len(w["ids"]) for w in pending)
            L = -(-max_len // pad_to_multiple_of) * pad_to_multiple_of
            ids = np.full((len(pending), L), pad_id, dtype=np.int64)
            mask = np.zeros((len(pending), L), dtype=np.int64)
            bbox = np.zeros((len(pending), L, 4), dtype=np.int64)
            for i, w in enumerate(pending):
                n = len(w["ids"])
                ids[i, :n] = w["ids"]
                mask[i, :n] = 1
                bbox[i, :n] = w["boxes"]
            logits = np.asarray(forward_fn(ids, mask, bbox), dtype=np.float64)
            assert logits.shape[:2] == (len(pending), L), logits.shape
            # softmax over classes (inference.py:451-462)
            z = logits - logits.max(axis=-1, keepdims=True)
            probs = np.exp(z)
            probs /= probs.sum(axis=-1, keepdims=True)

            out: dict[str, list] = {f.name: [] for f in WINDOW_PRED_SCHEMA}
            for i, w in enumerate(pending):
                wp = probs[i, : len(w["ids"])]
                # token→word collect + mean within the window
                for local_ix, (sw_pos, wid) in enumerate(
                    zip(w["word_pos"], w["word_id"])
                ):
                    sel = wp[np.asarray(w["word_ids"]) == local_ix]
                    out["url"].append(w["url"])
                    out["page_num"].append(w["page_num"])
                    out["window_ix"].append(w["window_ix"])
                    out["word_pos"].append(sw_pos)
                    out["word_id"].append(wid)
                    out["probs"].append(sel.mean(axis=0).tolist())
            pending.clear()
            # all-empty column lists default to float64 and Arrow can't
            # cast that to list<struct> — same guard as predict_windows;
            # reachable when every pending window carries zero words.
            if out["url"]:
                yield pd.DataFrame(out)

        for b in batches:
            for url, page, wix, sw, words in zip(
                b["url"], b["page_num"], b["window_ix"], b["start_word"],
                b["words"],
            ):
                toks, wids, boxes = ["[CLS]"], [-1], [list(CLS_BOX)]
                for i, w in enumerate(words):
                    box = w["box"]
                    b1000 = [int(box["left"] * 1000), int(box["top"] * 1000),
                             int((box["left"] + box["width"]) * 1000),
                             int((box["top"] + box["height"]) * 1000)]
                    for piece in tok_fn(w["text"]):
                        toks.append(piece)
                        wids.append(i)
                        boxes.append(b1000)
                toks.append("[SEP]")
                wids.append(-1)
                boxes.append(list(SEP_BOX))
                pending.append({
                    "url": url, "page_num": int(page), "window_ix": int(wix),
                    "ids": tokenizer.convert_tokens_to_ids(toks),
                    "word_ids": wids, "boxes": boxes,
                    "word_pos": [int(sw) + i for i in range(len(words))],
                    "word_id": [w["id"] for w in words],
                })
                if len(pending) >= batch_size:
                    yield from flush()
        yield from flush()

    return windows.mapInPandas(run, schema=WINDOW_PRED_SCHEMA)
