"""Cross-engine (Spark SQL ↔ DuckDB) text and similarity expression builders.

The driver's correctness gate (CORRECTNESS_r{N}.json) runs each query on
PySpark and its oracle on DuckDB and value-hashes both results. Rather than
hand-writing two divergent implementations, every text-pipeline primitive is
generated here for both dialects from one template — so the oracle *is* the
same computation, modulo engine.

The builders: ``h64`` (portable hash), ``words`` (whitespace tokens),
``norm_text`` (lowercased, whitespace-collapsed) and ``shingles`` (word
n-grams), which the operators, driver queries and oracles use; ``jaccard``
and ``cosine``, which only their parity tests use.

Dialect differences handled: size/len, concat_ws/array_to_string,
sequence(inclusive)/range(exclusive), slice(pos,len)/list_slice(begin,end),
filter/list_filter, array_intersect/list_intersect, aggregate/list_sum forms.

All hashes route through the md5-based portable hash64
(functions/portable.py).
"""

from __future__ import annotations

from .portable import duck_hash64, spark_hash64


def h64(expr: str, engine: str) -> str:
    return spark_hash64(expr) if engine == "spark" else duck_hash64(expr)


def words(text_expr: str, engine: str) -> str:
    """Whitespace tokens, empties dropped (leading/trailing ws safe)."""
    if engine == "spark":
        return f"filter(split({text_expr}, '\\\\s+'), w -> w <> '')"
    return f"list_filter(string_split_regex({text_expr}, '\\s+'), w -> w != '')"


def norm_text(text_expr: str, engine: str) -> str:
    """Whitespace-collapsed lowercase — the exact-dedup normal form."""
    join = "concat_ws(' ', {})" if engine == "spark" else "array_to_string({}, ' ')"
    return join.format(words(f"lower({text_expr})", engine))


def shingles(ws_expr: str, n: int, engine: str) -> str:
    """Word n-grams as strings; falls back to the whole token list joined
    when there are fewer than n words (so every doc has ≥1 shingle)."""
    if engine == "spark":
        gram = f"transform(sequence(0, size({ws_expr}) - {n}), " \
               f"i -> concat_ws(' ', slice({ws_expr}, i + 1, {n})))"
        fallback = f"array(concat_ws(' ', {ws_expr}))"
        return f"CASE WHEN size({ws_expr}) >= {n} THEN {gram} ELSE {fallback} END"
    gram = (f"list_transform(range(0, len({ws_expr}) - {n - 1}), "
            f"i -> array_to_string(list_slice({ws_expr}, i + 1, i + {n}), ' '))")
    fallback = f"[array_to_string({ws_expr}, ' ')]"
    return f"CASE WHEN len({ws_expr}) >= {n} THEN {gram} ELSE {fallback} END"


def jaccard(ws_a: str, ws_b: str, n: int, engine: str) -> str:
    """n-gram Jaccard similarity between two word arrays (distinct shingles)."""
    sa, sb = shingles(ws_a, n, engine), shingles(ws_b, n, engine)
    if engine == "spark":
        return (f"cast(size(array_intersect({sa}, {sb})) as double) / "
                f"size(array_union({sa}, {sb}))")
    return (f"len(list_intersect({sa}, {sb}))::DOUBLE / "
            f"len(list_distinct(list_concat({sa}, {sb})))")


def cosine(a: str, b: str, engine: str) -> str:
    """Cosine over float arrays; explicit double fold (same association
    order both engines → bit-comparable after rounding)."""
    if engine == "spark":
        dot = (f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * y), "
               f"cast(0 as double), (acc, v) -> acc + v)")
        na = (f"sqrt(aggregate({a}, cast(0 as double), "
              f"(acc, v) -> acc + cast(v as double) * v))")
        nb = (f"sqrt(aggregate({b}, cast(0 as double), "
              f"(acc, v) -> acc + cast(v as double) * v))")
        return f"({dot}) / nullif(({na}) * ({nb}), 0.0)"
    dot = (f"list_sum(list_transform(list_zip({a}, {b}), "
           f"p -> p[1]::DOUBLE * p[2]::DOUBLE))")
    na = f"sqrt(list_sum(list_transform({a}, v -> v::DOUBLE * v)))"
    nb = f"sqrt(list_sum(list_transform({b}, v -> v::DOUBLE * v)))"
    return f"({dot}) / nullif(({na}) * ({nb}), 0.0)"
