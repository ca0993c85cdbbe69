"""Cross-engine (Spark SQL ↔ DuckDB) text/sketch expression builders.

The driver's correctness gate (CORRECTNESS_r{N}.json) runs each query on
PySpark and its oracle on DuckDB and value-hashes both results. Rather than
hand-writing two divergent implementations, every text-pipeline primitive is
generated here for both dialects from one template — so the oracle *is* the
same computation, modulo engine.

Dialect differences handled: size/len, concat_ws/array_to_string,
sequence(inclusive)/range(exclusive), slice(pos,len)/list_slice(begin,end),
filter/list_filter, aggregate/list_sum forms, xor()/^.

All hashes route through the md5-based portable hash64
(functions/portable.py); integer arithmetic stays under 2^62 so BIGINT math
is exact on both engines.
"""

from __future__ import annotations

from .portable import (
    INT64_MIN_SQL,
    duck_hash32,
    duck_hash64,
    spark_hash32,
    spark_hash64,
)

MINHASH_PRIME = 2147483647  # 2^31 - 1; products stay < 2^62


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


def sentences(text_expr: str, engine: str) -> str:
    """Sentence array, portable across engines: whitespace-normalized text
    split after ``.``/``!``/``?`` + space. Implemented as literal
    replaces to a control-char separator + a split — RE2 (DuckDB) has no
    lookbehind, so the C4-style boundary rule is expressed without regex.
    Empties are dropped (empty doc → empty array)."""
    t = norm_join(words(text_expr, engine), engine)
    m = t
    for p in (".", "!", "?"):
        m = f"replace({m}, '{p} ', concat('{p}', chr(1)))"
    if engine == "spark":
        return f"filter(split({m}, chr(1)), s -> s <> '')"
    return f"list_filter(string_split({m}, chr(1)), s -> s != '')"


def norm_join(arr_expr: str, engine: str) -> str:
    """Join a string array with single spaces (engine-dialect)."""
    if engine == "spark":
        return f"concat_ws(' ', {arr_expr})"
    return f"array_to_string({arr_expr}, ' ')"


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


def minhash_signature(shingles_expr: str, k: int, engine: str) -> str:
    """k-permutation MinHash over shingle hashes.

    perm_j(h) = ((2j+1)·(h mod P) + 7+3j) mod P with P = 2^31−1 — affine
    permutations over exact BIGINT math (MMDS ch.3 construction).
    """
    P = MINHASH_PRIME
    base = h64("s", engine)
    if engine == "spark":
        hs = f"transform({shingles_expr}, s -> {base} % {P})"
        return (f"transform(sequence(0, {k - 1}), j -> "
                f"aggregate({hs}, cast({P} as bigint), "
                f"(acc, h) -> least(acc, ((2*j + 1) * h + 7 + 3*j) % {P})))")
    hs = f"list_transform({shingles_expr}, s -> {base} % {P})"
    return (f"list_transform(range(0, {k}), j -> "
            f"list_min(list_transform({hs}, "
            f"h -> ((2*j + 1) * h + 7 + 3*j) % {P})))")


def band_hashes(sig_expr: str, n_bands: int, rows_per_band: int, engine: str) -> str:
    """LSH banding: hash each band of ``rows_per_band`` signature values →
    array of n_bands band-bucket keys (band index baked into the hash)."""
    r = rows_per_band
    if engine == "spark":
        band = (f"concat(cast(b as string), ':', "
                f"concat_ws(',', transform(slice({sig_expr}, b * {r} + 1, {r}), "
                f"x -> cast(x as string))))")
        return f"transform(sequence(0, {n_bands - 1}), b -> {h64(band, 'spark')})"
    band = (f"concat(cast(b as varchar), ':', "
            f"array_to_string(list_transform(list_slice({sig_expr}, b * {r} + 1, "
            f"b * {r} + {r}), x -> cast(x as varchar)), ','))")
    return f"list_transform(range(0, {n_bands}), b -> {h64(band, 'duck')})"


def simhash_bit_weight(b: int) -> str:
    """Signed-BIGINT weight of sketch bit ``b`` — bit 63 is Long.MIN (the
    two's-complement top bit), emitted as an overflow-safe literal because
    ``1 << 63`` errors on DuckDB and wraps on Spark."""
    return INT64_MIN_SQL if b == 63 else str(1 << b)


def simhash(ws_expr: str, engine: str, bits: int = 64) -> str:
    """``bits``-wide SimHash over word hashes: bit b set iff Σ_tokens ±1 > 0.

    Word-hash bits come from two md5-derived 32-bit halves (hex chars 1-8 /
    9-16 of ONE digest) so the sketch widens to 64 bits without a second
    digest; the packed sketch is a signed BIGINT (bit 63 = sign bit). Wider
    sketches are the N²/B lever of the near-dup join: the block-join bucket
    space must grow with the corpus, and a 32-bit sketch caps it (VERDICT
    r2 #4). Inline single-expression form for the parity tests.
    """
    assert 1 <= bits <= 64
    if engine == "spark":
        lo, hi = spark_hash32("w", 1), spark_hash32("w", 9)
        terms = []
        for b in range(bits):
            src, sh = (lo, b) if b < 32 else (hi, b - 32)
            bitsum = (f"aggregate({ws_expr}, cast(0 as bigint), "
                      f"(acc, w) -> acc + ((({src} >> {sh}) & 1) * 2 - 1))")
            terms.append(f"CASE WHEN ({bitsum}) > 0 THEN "
                         f"cast({simhash_bit_weight(b)} as bigint) "
                         f"ELSE cast(0 as bigint) END")
        return "(" + " + ".join(terms) + ")"
    lo, hi = duck_hash32("w", 1), duck_hash32("w", 9)
    terms = []
    for b in range(bits):
        src, sh = (lo, b) if b < 32 else (hi, b - 32)
        # DuckDB list_sum returns HUGEINT which lands in pandas as float64
        # and breaks the driver's value-hash vs Spark's int64 — CAST result.
        bitsum = (f"list_sum(list_transform({ws_expr}, "
                  f"w -> (({src} >> {sh}) & 1) * 2 - 1))")
        terms.append(f"CASE WHEN coalesce({bitsum}, 0) > 0 THEN "
                     f"CAST({simhash_bit_weight(b)} AS BIGINT) "
                     f"ELSE 0::BIGINT END")
    return "CAST((" + " + ".join(terms) + ") AS BIGINT)"


def simhash32(ws_expr: str, engine: str) -> str:
    """Legacy 32-bit form (kept for parity tests; engine default is 64)."""
    return simhash(ws_expr, engine, bits=32)


def hamming(a: str, b: str, engine: str, bits: int = 64) -> str:
    """Hamming distance between two packed sketches. Arithmetic right shift
    + ``& 1`` extracts each bit correctly even for negative (bit-63-set)
    sketches on both engines."""
    if engine == "spark":
        return (f"aggregate(transform(sequence(0, {bits - 1}), bb -> "
                f"(({a} ^ {b}) >> bb) & 1), cast(0 as bigint), (x, y) -> x + y)")
    return (f"list_sum(list_transform(range(0, {bits}), bb -> "
            f"(xor({a}, {b}) >> bb) & 1))")


def hamming32(a: str, b: str, engine: str) -> str:
    return hamming(a, b, engine, bits=32)


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
