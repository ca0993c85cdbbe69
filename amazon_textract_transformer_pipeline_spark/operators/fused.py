"""Per-document extraction kernel: page bytes → words → predictions →
mentions → fields.

The reference has no cross-document operator: the words, the text,
mentions, fields and the doc-confidence gate are functions of one page
(SURVEY §2.8-§2.9, ``fn-postprocess/main.py:84-180``). This module computes
all of them in ONE ``mapInArrow`` call over the input's ``(url, html)``
columns, so the extraction plan is scan → this kernel → sink with one Python
map operator and no shuffle (operator fusion: *ML Inference Pipeline
Execution Using Pure SQL Based on Operator Fusion*, ICDE 2025). It is the
path ``plans.pipeline.extract_pipeline`` runs.

Per document, in reading order:

* **Words and text.** ``frontend.document_words`` (HTML main-content
  parser or native PDF parse, the same words ``frontend.html_to_words``
  maps) gives each page's geometry-only word tuples, which do not depend
  on the url; :func:`text_of`, the Python twin of
  ``assembly.doc_text_col``, gives ``extracted_text``. A word's conf and
  block id (and the md5 stub's pcc) are hashed only when a mention reads
  the word (:func:`_scorer`).
* **Predictions.** ``sql-stub``: the md5 stub (``enrich.stub_cls_py`` /
  ``stub_conf_py``, the Python twins of ``enrich.stub_predictions``).
  ``window-stub``: per page ``splitting.split_words`` →
  ``inference.StubModel.predict_window`` → the per-word mean over the
  windows that cover the word, so a page's windows never leave their task.
  A word no window covers (an oversize word) gets no prediction.
* **E1-E4** runs and mentions, **E7-E11** values, selectors and noisy-OR,
  **E12-E13** doc confidence and the review flag — the rules documented in
  ``operators/entities.py`` and ``operators/consolidate.py``, whose
  relational operators remain the reference implementation the tests
  compare this kernel against.

Output rows nest the relational operators' columns (same names, same
types) per document; :func:`document_mentions` and
:func:`document_fields` explode them back into those relations.
"""

from __future__ import annotations

import functools
import math
import os
import sys
import zipimport
from collections.abc import Iterable, Iterator
from itertools import groupby, repeat
from operator import itemgetter

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import field_config_rows
from ..schemas import MENTION_SCHEMA
from .enrich import RUN_LEN, stub_cls_py, stub_conf_py
from .frontend import document_words, word_conf_id
from .inference import StubModel
from .splitting import DEFAULT_MAX_CONTENT_SEQ_LEN, split_words, token_counter

MODELS = ("sql-stub", "window-stub")

#: one mention: the columns of ``entities.extract_mentions`` minus url
DOC_MENTION_SCHEMA = T.StructType(
    [T.StructField("run_id", T.LongType(), False)]
    + [f for f in MENTION_SCHEMA.fields if f.name != "url"]
    + [T.StructField("ixe", T.IntegerType(), False)])

#: one field: the columns of ``consolidate.consolidate_fields`` minus url
DOC_FIELD_SCHEMA = T.StructType([
    T.StructField("ClassId", T.IntegerType(), False),
    T.StructField("FieldName", T.StringType(), False),
    T.StructField("SortOrder", T.IntegerType(), False),
    T.StructField("Optional", T.BooleanType(), True),
    T.StructField("NumDetections", T.LongType(), False),
    T.StructField("NumDetectedValues", T.LongType(), False),
    T.StructField("Value", T.StringType(), True),
    T.StructField("Values", T.ArrayType(T.StructType([
        T.StructField("Value", T.StringType(), False),
        T.StructField("Confidence", T.DoubleType(), False),
    ]), False), True),
    T.StructField("Confidence", T.DoubleType(), False),
])

DOC_RESULT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("n_pages", T.IntegerType(), False),
    T.StructField("extracted_text", T.StringType(), True),
    T.StructField("mentions", T.ArrayType(DOC_MENTION_SCHEMA, False), False),
    T.StructField("fields", T.ArrayType(DOC_FIELD_SCHEMA, False), False),
    T.StructField("Confidence", T.DoubleType(), True),
    T.StructField("needs_human_review", T.BooleanType(), False),
])


# ---------------------------------------------------------------------------
# Predictions, one page at a time: (url, page_num, word tuples) →
# (class per word, confidence per word); None where a word has none, and
# for every word of the md5 stub, whose confidence the scorer hashes.
# ---------------------------------------------------------------------------
def _stub_page(url: str, page_num: int, words: list[tuple]):
    """The md5 stub's classes; its per-word confidence is hashed on demand
    by :func:`_scorer`, for the words of a mention only."""
    n = len(words)
    runs = [stub_cls_py(url, page_num, i) for i in range(0, n, RUN_LEN)]
    return [runs[i // RUN_LEN] for i in range(n)], repeat(None, n)


def _window_page_fn():
    """I1-I3 for one page: the same windows, forward passes and
    cross-window mean as ``split_pages_to_windows`` → ``predict_windows``
    → ``aggregate_word_predictions``, without leaving the task."""
    mdl = StubModel()
    n_toks = token_counter()

    def predict(url: str, page_num: int, words: list[tuple]):
        n = len(words)
        counts = [n_toks(w[2]) for w in words]
        # the boost class is constant over each RUN_LEN run of words
        boosts = np.repeat([stub_cls_py(url, page_num, i, mdl.n_classes)
                            for i in range(0, n, RUN_LEN)], RUN_LEN)[:n]
        acc = np.zeros((n, mdl.n_classes))
        cover = np.zeros(n)
        windows = split_words(counts, DEFAULT_MAX_CONTENT_SEQ_LEN)
        for wix, (s, e) in enumerate(windows):
            acc[s:e] += mdl.predict_window(url, page_num, wix, s,
                                           counts[s:e], boosts[s:e])
            cover[s:e] += 1
        hit = np.flatnonzero(cover)
        probs = acc[hit] / cover[hit, None]
        arg = probs.argmax(axis=1)  # first max, like array_position
        top = probs[np.arange(hit.size), arg]
        if hit.size == n:
            return arg.tolist(), top.tolist()
        cls: list[int | None] = [None] * n
        pcc: list[float | None] = [None] * n
        for i, c, p in zip(hit.tolist(), arg.tolist(), top.tolist()):
            cls[i], pcc[i] = c, p
        return cls, pcc

    return predict


# ---------------------------------------------------------------------------
# E1-E13 over one document. A word is the front-end's tuple
# (page_num, line_id, text, line_pos, page_pos, left, top, width, height)
# plus (pred_cls, pcc), in reading order. A scorer maps a word to its
# (conf, word_id, pcc); only the words of a mention are scored.
# ---------------------------------------------------------------------------
#: words that carry their scores: (conf, word_id) in place of the two
#: positions, and pcc
_carried = itemgetter(3, 4, 10)


def _scorer(url: str, model: str):
    """The kernel's scorer: conf and id from the front-end key scheme
    (``frontend.word_conf_id``) and, for the md5 stub, the per-word pcc
    (``enrich.stub_conf_py`` at the word's page position)."""
    stub = model == "sql-stub"

    def score(w: tuple) -> tuple:
        conf, wid = word_conf_id(url, w)
        return conf, wid, stub_conf_py(url, w[0], w[4]) if stub else w[10]

    return score


def _mention(run: list[tuple], cls: int, name: str, run_id: int,
             flush_page: int, ixe: int, score) -> dict:
    """One mention from its run of words, in one pass: the text (words of
    a line joined by " ", lines by "\\n"), the box, the minimum confidence
    and the block ids."""
    first = run[0]
    page, line = first[0], first[1]
    left, top = first[5], first[6]
    right, bottom = left + first[7], top + first[8]
    parts: list[str] = []
    blocks: list[str] = []
    conf = math.inf
    for w in run:
        if w[1] != line or w[0] != page:
            page, line = w[0], w[1]
            parts.append("\n")
        else:
            parts.append(" ")
        parts.append(w[2])
        x, y = w[5], w[6]
        if x < left:
            left = x
        if y < top:
            top = y
        x, y = x + w[7], y + w[8]
        if x > right:
            right = x
        if y > bottom:
            bottom = y
        c, wid, p = score(w)
        blocks.append(wid)
        # the reference mixes the 0-1 and 0-100 scales (extract.py:46-54)
        if p is None:
            p = 1.0
        if p <= c:
            c = p
        if c < conf:
            conf = c
    return {
        "run_id": run_id, "ClassId": cls, "ClassName": name,
        "Confidence": conf, "Blocks": blocks,
        "BoundingBox": {"left": left, "top": top, "width": right - left,
                        "height": bottom - top},
        "PageNum": flush_page, "Text": "".join(parts[1:]), "RawText": None,
        "ixe": ixe,
    }


def mentions_of(words: Iterable[tuple], classes: dict[int, str],
                score=_carried) -> list[dict]:
    """E1-E4. ``run_id`` counts class changes, the first word counting as
    one when its class is configured; a run becomes a mention only when a
    later word of another class flushes it (the trailing run is dropped),
    with PageNum = the flushing word's page (extract.py:101-129).
    ``score`` gives a mention word's (conf, word_id, pcc)."""
    out: list[dict] = []
    ixe: dict[int, int] = {}
    run_id, cur, run = 0, None, []
    for w in words:
        cls = w[9] if w[9] in classes else None
        if cls != cur:
            if cur is not None:
                out.append(_mention(run, cur, classes[cur], run_id, w[0],
                                    ixe.get(cur, 0), score))
                ixe[cur] = ixe.get(cur, 0) + 1
            run_id, cur, run = run_id + 1, cls, []
        if cls is not None:
            run.append(w)
    return out


#: E10 sort key per selector (config.py:23-28) over a value
#: [text, n_detections, ix_first, ix_last, conf]; ties go to ix_first
_SELECTOR_KEY = {
    "confidence": lambda v: -v[4],
    "first": lambda v: float(v[2]),
    "last": lambda v: -float(v[3]),
    "longest": lambda v: -float(len(v[0])),
    "shortest": lambda v: float(len(v[0])),
}


def fields_of(mentions: list[dict], fields_cfg: list[dict]) -> list[dict]:
    """E7-E11 for every non-ignored configured field, in SortOrder."""
    by_class: dict[int, list[dict]] = {}
    for m in mentions:
        by_class.setdefault(m["ClassId"], []).append(m)
    out = []
    for fc in fields_cfg:
        by_text: dict[str, list[dict]] = {}
        for m in by_class.get(fc["ClassId"], ()):
            by_text.setdefault(m["Text"], []).append(m)
        vals = []
        for text, ms in by_text.items():
            cs = [m["Confidence"] for m in ms]
            # noisy-OR 1 − exp(Σ log1p(−c)), in detection order
            raw = 1.0 if max(cs) >= 1.0 else \
                1.0 - math.exp(sum(math.log1p(-c) for c in cs))
            vals.append([text, len(ms), ms[0]["ixe"], ms[-1]["ixe"], raw])
        norm = max(1.0, sum(v[4] for v in vals))
        for v in vals:
            v[4] = v[4] / norm
        select = fc["Select"]
        if select is None:
            value = None
            conf = sum(v[4] for v in vals) / len(vals) if vals else 0.0
        elif vals:
            key = _SELECTOR_KEY[select]
            win = min(vals, key=lambda v: (key(v), v[2]))
            value, conf = win[0], win[4]
        else:
            value, conf = "", 0.0
        out.append({
            "ClassId": fc["ClassId"], "FieldName": fc["Name"],
            "SortOrder": fc["SortOrder"], "Optional": fc["Optional"],
            "NumDetections": sum(v[1] for v in vals),
            "NumDetectedValues": len(vals),
            "Value": value,
            "Values": [{"Value": v[0], "Confidence": v[4]}
                       for v in sorted(vals, key=lambda v: (-v[4], v[2]))]
            or None,
            "Confidence": conf,
        })
    return out


def doc_confidence_of(fields: list[dict]) -> float | None:
    """E12: min field confidence, zero-confidence Optional fields
    excluded; None when every field is excluded."""
    kept = [f["Confidence"] for f in fields
            if not (f["Confidence"] == 0.0 and f["Optional"])]
    return min(kept) if kept else None


# ---------------------------------------------------------------------------
# The Arrow kernel
# ---------------------------------------------------------------------------
def skip_unchanged_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive changed; once per process, on CPython
    < 3.13.

    pyspark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task (``worker_util.setup_spark_files``). On CPython 3.11 and
    3.12 each ``zipimporter`` then re-reads its archive's whole central
    directory (3.13 only drops the cached entry and reads lazily). A
    reused local-mode worker holds 16 such importers:
    12 on ``pyspark.zip`` (1,328 entries, 11 ms a read), 2 on the Spark
    core jar (5,359 entries, 46 ms) and 2 on py4j, about 0.2 s of every
    task on a 4-vCPU host: from task launch to the kernel's ``run``, a
    warm task took 0.14-0.32 s with the re-reads and 0.01-0.07 s without.
    A ``--py-files`` package zip adds its own.

    The stat-checked version re-reads when the archive's
    ``(st_ino, st_size, st_mtime_ns)`` differs from the stamp taken before
    that importer's last read, when it has no stamp, or when the stat
    fails; otherwise it keeps the directory it has. Installed from a task,
    it first takes effect on the worker's next task."""
    zi = zipimport.zipimporter
    if sys.version_info >= (3, 13) or hasattr(zi.invalidate_caches,
                                              "__wrapped__"):
        return
    reread = zi.invalidate_caches

    @functools.wraps(reread)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_stat_stamp", None):
            reread(self)
            self._stat_stamp = stamp

    zi.invalidate_caches = invalidate_caches


def text_of(pages: list[tuple[int, list[tuple]]]) -> str:
    """Python twin of ``assembly.doc_text_col``, byte for byte: words of a
    line joined by " ", consecutive lines and non-empty pages by "\\n"."""
    return "\n".join(
        "\n".join(" ".join(w[2] for w in line)
                  for _, line in groupby(words, key=itemgetter(1)))
        for _, words in pages if words)


def extract_documents(pages: DataFrame, config: list[dict],
                      model: str = "window-stub") -> DataFrame:
    """Input pages (url, html) → one row per document of
    ``DOC_RESULT_SCHEMA``: text, mentions, fields, doc confidence and the
    human-review flag. Map-only: one ``mapInArrow`` that parses, predicts
    and extracts each document in one Python pass. An input ``bucket``
    column (``LineageStore.with_buckets``) is passed through as the last
    output column, so a bucketed write needs no join back onto the pages.
    Rows with a NULL url are dropped."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from ..plans.partitioning import spread_if_narrow

    if model not in MODELS:
        raise ValueError(f"unknown model mode {model!r}")
    fields_cfg = [c for c in field_config_rows(config) if not c["Ignore"]]
    classes = {c["ClassId"]: c["Name"] for c in fields_cfg}
    keep = ["bucket"] if "bucket" in pages.columns else []
    out_schema = T.StructType(DOC_RESULT_SCHEMA.fields
                              + [pages.schema[c] for c in keep])
    arrow_schema = to_arrow_schema(out_schema)
    mentions_type = arrow_schema.field("mentions").type
    fields_type = arrow_schema.field("fields").type

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        skip_unchanged_zip_rereads()
        predict = _stub_page if model == "sql-stub" else _window_page_fn()
        for b in batches:
            col = dict(zip(b.schema.names, b.columns))
            n_pages, texts, mentions, fields, confs = [], [], [], [], []
            for url, html in zip(col["url"].to_pylist(),
                                 col["html"].to_pylist()):
                pages = document_words(html)
                words: list[tuple] = []
                for page_num, page in pages:
                    cls, pcc = predict(url, page_num, page)
                    words.extend(w + (c, p) for w, c, p in zip(page, cls, pcc))
                ms = mentions_of(words, classes, _scorer(url, model))
                fs = fields_of(ms, fields_cfg)
                n_pages.append(len(pages))
                texts.append(text_of(pages))
                mentions.append(ms)
                fields.append(fs)
                confs.append(doc_confidence_of(fs))
            yield pa.RecordBatch.from_arrays(
                [col["url"], pa.array(n_pages, type=pa.int32()),
                 pa.array(texts, type=pa.string()),
                 pa.array(mentions, type=mentions_type),
                 pa.array(fields, type=fields_type),
                 pa.array(confs, type=pa.float64()),
                 pa.array([c is None or not c >= 0.5 for c in confs],
                          type=pa.bool_())] + [col[c] for c in keep],
                schema=arrow_schema)

    # a row without a url has no identity to key text, fields or a bucket
    # by (and the result's url is non-null): it is dropped here.
    # CPU-bound parse: a source with fewer splits than cores (e.g. a
    # handful of unsplittable .warc.gz archives) serializes it; one
    # url-keyed exchange buys full parallelism, no-op at corpus scale
    src = spread_if_narrow(pages.select("url", "html", *keep)
                           .filter(F.col("url").isNotNull()), "url")
    return src.mapInArrow(run, schema=out_schema)


def document_mentions(documents: DataFrame) -> DataFrame:
    """Kernel output → the mention relation of ``extract_mentions``."""
    return documents.select("url", F.explode("mentions").alias("m")) \
        .select("url", "m.*")


def document_fields(documents: DataFrame) -> DataFrame:
    """Kernel output → the field relation of ``consolidate_fields``."""
    return documents.select("url", F.explode("fields").alias("f")) \
        .select("url", "f.*")
