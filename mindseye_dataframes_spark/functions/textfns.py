"""Text-analysis column functions (north-star §2B "Text analysis").

Everything here is built from built-in ``pyspark.sql.functions`` so it
runs JVM-side at full scan speed; each helper has an exact DuckDB SQL
twin used by the oracle queries (same tokenization, same hash).

Design notes for 100 TB:
- token/shingle/minhash work is per-row array math — embarrassingly
  parallel, no shuffle;
- MinHash uses md5-hex *string minima* (k independent salts) so Spark
  and any oracle engine agree without sharing a custom hash function;
- SimHash is 16-bit (nibble arithmetic on md5 hex) — wide enough to
  cluster, small enough to stay SQL-expressible on both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

STOPWORDS = ("the", "a", "of", "to", "and", "in", "is")

MINHASH_K = 16
LSH_BANDS = 4  # 4 bands x 4 rows


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(text: Column | str) -> Column:
    """Whitespace tokens (single-space split — matches the oracle's
    ``string_split(text, ' ')``)."""
    return F.split(_c(text), " ")


def distinct_tokens(text: Column | str) -> Column:
    return F.array_distinct(tokens(text))


def lsh_band_keys(sig: Column | str, bands: int = LSH_BANDS, k: int = MINHASH_K) -> Column:
    """Banding for LSH: ``bands`` keys, each ``band_idx:md5(rows)``.
    Docs sharing any band key are candidate duplicates."""
    rows = k // bands
    s = _c(sig)
    return F.array(
        *[
            F.concat(
                F.lit(f"{j}:"),
                F.md5(F.concat_ws(",", F.slice(s, j * rows + 1, rows))),
            )
            for j in range(bands)
        ]
    )


def bag_fingerprint(text: Column | str) -> Column:
    """Order-insensitive content fingerprint: md5 of the sorted
    distinct token set. Catches shuffled/reordered duplicates."""
    return F.md5(F.concat_ws(" ", F.array_sort(distinct_tokens(text))))


def simhash16(text: Column | str) -> Column:
    """16-bit SimHash over the distinct token set.

    Bit b of md5(token): nibble ``b div 4`` of the hex digest, bit
    ``3 - b % 4`` (MSB-first). Each token votes ±1 per bit; the sign
    of the sum sets the output bit. Pure integer arithmetic on both
    engines — see ``simhash16_sql`` for the DuckDB twin.
    """
    def vote_fn(npos: int, sh: int):
        def vote(t):
            nibble = F.conv(F.substring(F.md5(t), npos, 1), 16, 10).cast("int")
            return ((nibble / F.lit(sh)).cast("int") % 2) * 2 - 1

        return vote

    toks = distinct_tokens(text)
    total = F.lit(0)
    for b in range(16):
        vote = vote_fn(b // 4 + 1, 2 ** (3 - b % 4))
        bit_sum = F.aggregate(toks, F.lit(0), lambda acc, t: acc + vote(t))
        total = total + F.when(bit_sum > 0, F.lit(2**b)).otherwise(F.lit(0))
    return total


# ---------------------------------------------------------------------------
# Python twins for Arrow-batched (pandas UDF) execution.
#
# Shingling and MinHash as column expressions need higher-order
# functions (transform/aggregate), which execute interpreted — no
# codegen, no common-subexpression elimination — measured ~25ms/doc for
# MinHash at sf0.1. Shingling + hashing is doc-local work, so it runs
# as a pandas UDF: Arrow batches in, tight Python loop (hashlib.md5 is
# C), zero shuffle. Same tokenization and hash as the oracle SQL
# (``q31_minhash_signatures``) → oracle-identical results.
# ---------------------------------------------------------------------------


def py_shingles(text: str, n: int = 3) -> list[str]:
    """Word n-gram shingles in first-seen dedup order; documents
    shorter than n fall back to the whole text as a single shingle.
    Matches the oracle SQL's ``list_distinct(list_transform(range(1,
    len(toks) - n + 2), ...))`` with its ``ELSE [text]`` branch
    (``q31_minhash_signatures``)."""
    toks = text.split(" ")
    if len(toks) < n:
        return [text]
    seen: set[str] = set()
    out: list[str] = []
    for i in range(len(toks) - n + 1):
        s = " ".join(toks[i : i + n])
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


def py_distinct_tokens(text: str) -> list[str]:
    seen: set[str] = set()
    out: list[str] = []
    for t in text.split(" "):
        if t not in seen:
            seen.add(t)
            out.append(t)
    return out


def py_minhash(items: list[str], k: int = MINHASH_K) -> list[str]:
    """k-element MinHash signature over a set of strings: element i is
    ``min(md5(i || ':' || item))``, a salted-hash minimum that the
    oracle SQL reproduces exactly (``list_aggregate(list_transform(t,
    s -> md5(concat(i, ':', s))), 'min')``, lexicographic min of hex
    strings; ``q31_minhash_signatures``).

    Bit-identical to md5(f"{i}:{s}") per (band, item); items are
    encoded once and the band prefix reused (measured ~13% faster —
    the hot loop of the whole dedup family)."""
    import hashlib

    md5 = hashlib.md5
    items_b = [s.encode() for s in items]
    return [
        min(md5(prefix + s).hexdigest() for s in items_b)
        for prefix in (f"{i}:".encode() for i in range(k))
    ]


def py_minhash_many(
    feats_seq: list[list[str]], k: int = MINHASH_K
) -> list[list[str]]:
    """Batch form of :func:`py_minhash` — one md5 per (band, DISTINCT
    shingle) per Arrow batch instead of per (band, shingle, doc):
    shingles repeat heavily across a corpus batch, and re-hashing a
    shared shingle per doc was the hot loop of the dedup family
    (r14: q32 is bench-headline and rebuilds signatures every pass).

    Bit-identical to the per-doc form: same md5 inputs, and the min
    runs over 16-byte DIGESTS instead of hex strings — fixed-length
    lowercase hex is a byte-order-preserving encoding, so
    min(digest).hex() == min(hexdigest) exactly. Memory is bounded by
    processing bands OUTER: one 16-byte digest per distinct shingle
    held at a time (~16 B × distinct-per-batch), cleared per band —
    never the k × distinct table."""
    import hashlib

    md5 = hashlib.md5
    index: dict[bytes, int] = {}
    docs_idx: list[list[int]] = []
    for feats in feats_seq:
        idxs = []
        for s in feats:
            b = s.encode()
            j = index.get(b)
            if j is None:
                j = len(index)
                index[b] = j
            idxs.append(j)
        docs_idx.append(idxs)
    shingles_b = list(index.keys())
    out: list[list[str]] = [[] for _ in feats_seq]
    for i in range(k):
        prefix = f"{i}:".encode()
        digs = [md5(prefix + s).digest() for s in shingles_b]
        for d, idxs in enumerate(docs_idx):
            # empty feature lists raise ValueError exactly like the
            # per-doc form's min() over no items
            out[d].append(min(digs[j] for j in idxs).hex())
    return out


def py_char_ngrams(text: str, n: int = 8) -> list[str]:
    """Distinct character n-grams, first-seen order. Shorter texts
    collapse to the whole string (same degenerate-input rule as
    :func:`py_shingles`)."""
    if len(text) < n:
        return [text]
    seen: set[str] = set()
    out: list[str] = []
    for i in range(len(text) - n + 1):
        g = text[i : i + n]
        if g not in seen:
            seen.add(g)
            out.append(g)
    return out


def simhash_band_sql(text_expr: str, band: int = 0) -> str:
    """DuckDB SQL for one 16-bit band of the 64-bit SimHash: band
    ``j`` votes from md5-hex nibbles ``4j+1..4j+4`` (MSB-first within
    each nibble, same bit math as :func:`simhash16` /
    :func:`py_simhash_bands`). ``band=0`` is exactly the 16-bit
    fingerprint q120 replays."""
    terms = []
    for b in range(16):
        nibble_pos = 4 * band + b // 4 + 1
        shift = 2 ** (3 - b % 4)
        vote = (
            f"(((strpos('0123456789abcdef', substr(md5(t), {nibble_pos}, 1)) - 1)"
            f" // {shift}) % 2) * 2 - 1"
        )
        bit_sum = (
            f"list_aggregate(list_transform(list_distinct(string_split({text_expr}, ' ')),"
            f" t -> {vote}), 'sum')"
        )
        terms.append(f"CASE WHEN ({bit_sum}) > 0 THEN {2**b} ELSE 0 END")
    return "(" + " + ".join(terms) + ")"


def simhash16_sql(text_expr: str) -> str:
    """DuckDB SQL computing the same 16-bit SimHash as
    :func:`simhash16` (generated to keep the bit math in one place);
    band 0 of the production 64-bit fingerprint."""
    return simhash_band_sql(text_expr, 0)


def py_simhash_bands(text: str, n_bands: int = 4) -> list[int]:
    """Python twin of the 64-bit production SimHash, as ``n_bands``
    16-bit band values (band j from md5 nibbles ``4j..4j+3``) —
    band 0 is bit-identical to :func:`simhash16`. Returning the
    fingerprint pre-split into bands keeps every value in int16 range
    (no BIGINT sign-bit trap at bit 63) and makes the pigeonhole
    band join a plain equi-join on (band, value).

    Per-token votes are memoized (Zipf: the same tokens recur across
    docs) as ±1 numpy vectors, so a doc is ~|tokens| vectorized adds,
    not |tokens|·64 Python-level bit extractions."""
    import numpy as np

    votes = _token_votes(16 * n_bands)
    seen: set[str] = set()
    total = np.zeros(16 * n_bands, dtype=np.int32)
    for tok in text.split(" "):
        if tok in seen:
            continue
        seen.add(tok)
        total += votes(tok)
    out = []
    for j in range(n_bands):
        v = 0
        for b in range(16):
            if total[16 * j + b] > 0:
                v |= 1 << b
        out.append(v)
    return out


import functools


@functools.lru_cache(maxsize=8)
def _token_votes(n_bits: int):
    """Memoized token → ±1 vote vector (one entry per fingerprint
    bit; bit b reads hex digit ``b//4``, MSB-first). The outer cache
    keys on ``n_bits`` so every document in an executor shares ONE
    token-vote cache."""
    import hashlib

    import numpy as np

    @functools.lru_cache(maxsize=1 << 16)
    def votes(tok: str):
        digest = hashlib.md5(tok.encode()).hexdigest()
        return np.array(
            [
                1 if (int(digest[b // 4], 16) >> (3 - b % 4)) & 1 else -1
                for b in range(n_bits)
            ],
            dtype=np.int32,
        )

    return votes


# ---------------------------------------------------------------------------
# Language identification (north-star "language-ID (n-gram heuristic)").
# ---------------------------------------------------------------------------

# Marker function-words per language — the classic closed-class-word
# heuristic: function words are the highest-frequency tokens of any
# natural-language text, so counting marker hits per candidate language
# and taking the argmax identifies the language of even short documents
# without a trained model. Counts are per occurrence (not distinct), so
# longer texts score proportionally and ties are rare.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is", "in", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "es": ("el", "los", "las", "una", "que", "y", "por", "con"),
    "fr": ("le", "les", "des", "une", "est", "et", "dans", "pour"),
    "zh": ("的", "是", "在", "了", "我", "不", "有", "和"),
}
# deterministic argmax precedence on ties (checked first wins)
LANG_ORDER = ("en", "de", "es", "fr", "zh")


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Per-language marker-hit counts (one JVM-side array filter per
    language over the whitespace tokens — no UDF, no shuffle)."""
    toks = tokens(text)
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(*markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(text: Column | str) -> Column:
    """Predicted language code, or 'und' (undetermined) when no marker
    of any language occurs. Ties break by LANG_ORDER precedence, so
    the result is deterministic on both engines."""
    scores = lang_scores(text)
    mx = F.greatest(*scores.values())
    out = F.when(mx == 0, F.lit("und"))
    for lang in LANG_ORDER:
        out = out.when(scores[lang] == mx, F.lit(lang))
    return out.otherwise(F.lit("und"))


def lang_id_sql(text_expr: str) -> str:
    """DuckDB SQL twin of :func:`lang_id` (generated so marker lists
    and precedence live in exactly one place)."""

    def score(markers: tuple[str, ...]) -> str:
        inlist = ", ".join(f"'{m}'" for m in markers)
        return (
            f"len(list_filter(string_split({text_expr}, ' '), "
            f"x -> x IN ({inlist})))"
        )

    scores = {lang: score(m) for lang, m in LANG_MARKERS.items()}
    mx = "greatest(" + ", ".join(scores.values()) + ")"
    whens = "\n         ".join(
        f"WHEN {scores[lang]} = {mx} THEN '{lang}'" for lang in LANG_ORDER
    )
    return f"CASE WHEN {mx} = 0 THEN 'und'\n         {whens}\n         ELSE 'und' END"


def py_word_ngrams(text: str, n: int) -> list[str]:
    """All word n-grams in order (duplicates kept — callers dedup
    relationally when needed). Shorter docs yield no grams."""
    toks = text.split(" ")
    if len(toks) < n:
        return []
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def word_ngrams_udf(n: int):
    """Arrow-batched word n-gram extraction — measured 3× faster than
    the interpreted SQL ``transform(sequence(...))`` form at sf0.1
    (0.46s vs 1.35s for 8-grams over 5000 docs)."""
    from pyspark.sql import functions as F

    return F.pandas_udf(
        lambda texts: texts.map(lambda t: py_word_ngrams(t, n)), "array<string>"
    )
