"""Token-classification enrichment stage (SURVEY §2.7 I1-I4).

Adds ``PredictedClass`` / ``PredictedClassConfidence`` to every word — the
reference writes these onto WORD blocks via a SageMaker LayoutLM endpoint
(``notebooks/src/code/inference.py:449-492``); here the model sits behind an
interface:

* :func:`stub_predictions` — the CI/test model: a deterministic pure-column
  classifier (portable md5 hash → class). Being pure SQL it (a) runs inside
  whole-stage codegen with zero Python cost and (b) is replicable in DuckDB,
  so the *entire* downstream entity path is oracle-checkable by the driver.
* :func:`model_predictions` — the real path: Arrow-batched ``mapInPandas``
  (UDF family (c), SURVEY §2.12) loading a token-classifier once per
  executor. Gated behind import-try since no transformers lib ships in this
  sandbox; the Spark plumbing (batching, schema, window-overlap averaging) is
  the same code path exercised by the stub-backed tests in
  tests/test_inference.py.
"""

from __future__ import annotations

import struct
from hashlib import md5 as _md5

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.portable import spark_hash64

#: Stub model width (reference demo uses 19 configured classes + other).
N_STUB_CLASSES = 20
#: Words per pseudo-run: consecutive words share a class ~this often, so the
#: run-grouping operator (E1) sees realistic multi-word mentions.
RUN_LEN = 3

_U64 = struct.Struct(">Q").unpack_from


def stub_class_sql(url: str = "url", page: str = "page_num",
                   word_pos: str = "word_pos",
                   n_classes: int = N_STUB_CLASSES) -> str:
    """Portable SQL for the stub class: hash of (url, page, word_pos//RUN_LEN)."""
    key = (f"concat({url}, '#', cast({page} as string), '#', "
           f"cast(cast(floor({word_pos} / {RUN_LEN}) as bigint) as string))")
    # hash64 is non-negative (15 hex digits < 2^60) so plain % is portable
    return f"cast({spark_hash64(key)} % {n_classes} as int)"


def stub_conf_sql(url: str = "url", page: str = "page_num",
                  word_pos: str = "word_pos") -> str:
    """Portable SQL for the stub confidence: 0.5-0.999999.

    int/1e6 division is bit-identical IEEE double math on both engines —
    no rounding function (Spark HALF_UP vs Python HALF_EVEN would diverge).
    """
    key = (f"concat('c', {url}, '#', cast({page} as string), '#', "
           f"cast({word_pos} as string))")
    return (f"(cast(0.5 as double) + "
            f"({spark_hash64(key)} % 500000) / cast(1000000 as double))")


def _hash64_py(key: str) -> int:
    """Python twin of ``spark_hash64``: the first 15 hex digits of md5,
    read as the top 60 bits of the digest's first 8 bytes."""
    return _U64(_md5(key.encode()).digest())[0] >> 4


def stub_cls_py(url: str, page: int, word_pos: int,
                n_classes: int = N_STUB_CLASSES, run_len: int = RUN_LEN) -> int:
    """Python twin of :func:`stub_class_sql`, bit for bit."""
    return _hash64_py(f"{url}#{page}#{word_pos // run_len}") % n_classes


def stub_conf_py(url: str, page: int, word_pos: int) -> float:
    """Python twin of :func:`stub_conf_sql`, bit for bit."""
    return 0.5 + (_hash64_py(f"c{url}#{page}#{word_pos}") % 500000) / 1000000.0


def stub_predictions(words_df: DataFrame,
                     n_classes: int = N_STUB_CLASSES) -> DataFrame:
    """Enrich the word relation (from assembly.words_view) with deterministic
    predictions. Pure projection — no shuffle, no Python."""
    return words_df.withColumn(
        "pred_cls", F.expr(stub_class_sql(n_classes=n_classes))
    ).withColumn("pcc", F.expr(stub_conf_sql()))


def transformers_loader(model_path: str):
    """Executor-side load_fn for a HF token-classification checkpoint.

    Returns the ``(tokenizer, forward_fn, n_classes)`` triple consumed by
    inference.transformer_window_predictions; the forward_fn is the thin
    numpy↔torch bridge around ``model(input_ids, attention_mask, bbox)``
    (reference ``notebooks/src/code/inference.py:451-462``). Imports happen
    inside so the closure is picklable and the heavyweight load runs once
    per Arrow worker, not on the driver.
    """
    def load():
        import torch
        from transformers import AutoModelForTokenClassification, AutoTokenizer

        tokenizer = AutoTokenizer.from_pretrained(model_path)
        model = AutoModelForTokenClassification.from_pretrained(model_path)
        model.eval()

        def forward_fn(input_ids, attention_mask, bbox):
            kwargs = {
                "input_ids": torch.as_tensor(input_ids),
                "attention_mask": torch.as_tensor(attention_mask),
            }
            # LayoutLM-family models take token boxes; plain text models
            # (e.g. bert) don't — feed bbox only when accepted.
            if "bbox" in model.forward.__code__.co_varnames:
                kwargs["bbox"] = torch.as_tensor(bbox)
            with torch.no_grad():
                return model(**kwargs).logits.numpy()

        return tokenizer, forward_fn, model.config.num_labels

    return load


def model_predictions(doc_words: DataFrame, model_path: str,
                      batch_size: int = 8,
                      max_content_seq_len: int = 510) -> DataFrame:
    """Real-model path (I2): HF tokenizer splits + collation + batched
    forward + token→word→window prob averaging, joined back onto the word
    relation. Requires a transformers+torch runtime on the executors; the
    Spark plumbing is inference.transformer_window_predictions, which tests
    exercise with a mocked module (tests/test_inference.py).
    """
    try:
        import transformers  # noqa: F401
    except ImportError as e:  # pragma: no cover - sandbox has no transformers
        raise NotImplementedError(
            "model_predictions needs the `transformers` runtime; in this "
            "environment use stub_predictions / operators.inference with the "
            "built-in deterministic stub model."
        ) from e
    from transformers import AutoConfig, AutoTokenizer

    from .assembly import pages_view
    from .inference import (
        aggregate_word_predictions,
        transformer_window_predictions,
    )
    from .splitting import hf_tokenize_adapter, split_pages_to_windows

    # driver-side tokenizer only computes per-word piece counts for the
    # splitter; the executor-side load happens inside transformers_loader
    tokenize = hf_tokenize_adapter(AutoTokenizer.from_pretrained(model_path))
    windows = split_pages_to_windows(
        pages_view(doc_words), max_content_seq_len=max_content_seq_len,
        tokenize=tokenize)
    preds = transformer_window_predictions(
        windows, transformers_loader(model_path), tokenize=tokenize,
        batch_size=batch_size)
    from .assembly import words_view

    n_classes = int(AutoConfig.from_pretrained(model_path).num_labels)
    return words_view(doc_words).join(
        aggregate_word_predictions(preds, n_classes=n_classes)
        .select("url", "page_num", "word_pos", "pred_cls", "pcc", "probs"),
        ["url", "page_num", "word_pos"], "left")
