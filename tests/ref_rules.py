"""Rule-for-rule pure-Python oracle for the entity/consolidation path.

Implements the pinned semantics of fn-postprocess/util/extract.py:93-131 and
fn-postprocess/main.py:84-180 directly over plain word dicts (written fresh
from SURVEY.md §2.8 — this is the test oracle the reference never shipped,
SURVEY.md §5). Quirks intentionally reproduced: no final flush (trailing run
dropped), PageNum = page of the flushing word, min() mixing 0-1 and 0-100
confidence scales, stable-sort tie-breaks.
"""

from __future__ import annotations

import hashlib
from functools import reduce

import numpy as np

# --- stub model (must mirror operators/enrich.py exactly) -----------------
N_STUB_CLASSES = 20
RUN_LEN = 3


def _h64(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def stub_cls(url: str, page: int, word_pos: int, n: int = N_STUB_CLASSES) -> int:
    return _h64(f"{url}#{page}#{word_pos // RUN_LEN}") % n


def stub_conf(url: str, page: int, word_pos: int) -> float:
    return 0.5 + (_h64(f"c{url}#{page}#{word_pos}") % 500000) / 1000000.0


# --- window stub forward pass (must mirror inference.StubModel) -------------
STUB_BIAS = 1.2


def stub_window_probs(url: str, page: int, window_ix: int,
                      token_counts: list[int],
                      boost_classes: list[int]) -> np.ndarray:
    """One word at a time: draw the word's tokens' uniforms, boost its
    class, normalize each token row, average the rows."""
    key = f"{url}|{page}|{window_ix}".encode()
    seed = int(hashlib.md5(key).hexdigest()[:15], 16) & ((1 << 63) - 1)
    rng = np.random.Generator(np.random.PCG64(seed))
    out = np.empty((len(token_counts), N_STUB_CLASSES))
    for wix, (cnt, boost) in enumerate(zip(token_counts, boost_classes)):
        logits = rng.random((cnt, N_STUB_CLASSES))
        logits[:, boost] += STUB_BIAS
        probs = logits / logits.sum(axis=1, keepdims=True)
        out[wix] = probs.mean(axis=0)
    return out


# --- E1-E4 ------------------------------------------------------------------
def extract_entities_ref(doc_words: list[dict], entity_classes: dict[int, str]) -> list[dict]:
    """doc_words: reading-ordered dicts with keys page_num, line_id, text,
    conf, word_id, box(l,t,w,h), pred_cls, pcc."""
    detections = []
    current_cls = None
    current_entity: list[list[dict]] = []
    # regroup into pages->lines to mirror the reference's loop nesting
    pages: dict[int, dict[int, list[dict]]] = {}
    for w in doc_words:
        pages.setdefault(w["page_num"], {}).setdefault(w["line_id"], []).append(w)
    for page_num in sorted(pages):
        for line_id in sorted(pages[page_num]):
            current_entity.append([])
            for word in pages[page_num][line_id]:
                pred_cls = word["pred_cls"]
                if pred_cls not in entity_classes:
                    pred_cls = None
                if pred_cls != current_cls:
                    if current_cls is not None:
                        groups = [g for g in current_entity if g]
                        flat = [w2 for g in groups for w2 in g]
                        detections.append(
                            {
                                "ClassId": current_cls,
                                "ClassName": entity_classes[current_cls],
                                "Confidence": min(
                                    min(w2.get("pcc", 1.0), w2["conf"]) for w2 in flat
                                ),
                                "Blocks": [w2["word_id"] for w2 in flat],
                                "BoundingBox": _agg_box([w2["box"] for w2 in flat]),
                                "PageNum": page_num,
                                "Text": "\n".join(
                                    " ".join(w2["text"] for w2 in g) for g in groups
                                ),
                                "RawText": None,
                            }
                        )
                    current_cls = pred_cls
                    current_entity = [[]] if pred_cls is None else [[word]]
                elif pred_cls is not None:
                    current_entity[-1].append(word)
    return detections


def _agg_box(boxes: list[dict]) -> dict:
    left = min(b["left"] for b in boxes)
    top = min(b["top"] for b in boxes)
    right = max(b["left"] + b["width"] for b in boxes)
    bottom = max(b["top"] + b["height"] for b in boxes)
    return {"left": left, "top": top, "width": right - left, "height": bottom - top}


# --- E7-E13 -----------------------------------------------------------------
_SELECTOR = {
    "confidence": (lambda v: v["Confidence"], True),
    "first": (lambda v: v["IxFirstDetection"], False),
    "last": (lambda v: v["IxLastDetection"], True),
    "longest": (lambda v: len(v["Text"]), True),
    "shortest": (lambda v: len(v["Text"]), False),
}


def consolidate_ref(entities: list[dict], config: list[dict]) -> dict:
    """config rows: ClassId, Name, Ignore, Optional, Select (lowercase)."""
    result_fields = {}
    active = [c for c in config if not c.get("Ignore")]
    for ixtype, cfg in enumerate(active):
        field_entities = [e for e in entities if e["ClassId"] == cfg["ClassId"]]
        field_values: dict[str, dict] = {}
        for ixe, e in enumerate(field_entities):
            if e["Text"] in field_values:
                field_values[e["Text"]]["Detections"].append(e)
                field_values[e["Text"]]["IxLastDetection"] = ixe
            else:
                field_values[e["Text"]] = {
                    "Text": e["Text"],
                    "Detections": [e],
                    "IxFirstDetection": ixe,
                    "IxLastDetection": ixe,
                }
        fvl = list(field_values.values())
        for v in fvl:
            v["Confidence"] = 1 - reduce(
                lambda acc, nxt: acc * (1 - nxt["Confidence"]), v["Detections"], 1.0
            )
        norm = sum(v["Confidence"] for v in fvl)
        for v in fvl:
            v["Confidence"] = v["Confidence"] / max(1.0, norm)

        fr = {
            "ClassId": cfg["ClassId"],
            "Confidence": 0.0,
            "NumDetections": len(field_entities),
            "NumDetectedValues": len(field_values),
            "SortOrder": ixtype,
        }
        result_fields[cfg["Name"]] = fr
        if cfg.get("Optional") is not None:
            fr["Optional"] = cfg["Optional"]
        sel = cfg.get("Select")
        if sel is not None:
            key, desc = _SELECTOR[sel]
            s = sorted(fvl, key=key, reverse=desc)
            if s:
                fr["Value"] = s[0]["Text"]
                fr["Confidence"] = s[0]["Confidence"]
            else:
                fr["Value"] = ""
        else:
            fr["Values"] = [
                {"Confidence": v["Confidence"], "Value": v["Text"]}
                for v in sorted(fvl, key=lambda v: v["Confidence"], reverse=True)
            ]
            if fr["Values"]:
                fr["Confidence"] = sum(v["Confidence"] for v in fr["Values"]) / len(
                    fr["Values"]
                )
    kept = [
        r["Confidence"]
        for r in result_fields.values()
        if not (r["Confidence"] == 0 and r.get("Optional"))
    ]
    return {
        "Confidence": min(kept) if kept else None,
        "Fields": result_fields,
    }
