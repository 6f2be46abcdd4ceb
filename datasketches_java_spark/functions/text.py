"""Text analysis columns.

Tokenization, token counts, quality scores, the language-ID heuristic
and string w-shingles are Catalyst expressions inside whole-stage
codegen; each has a matching ANSI-SQL oracle formulation in
__spark_entry__.oracle_sql().

Shingle hashes are the exception: Catalyst hashes each token once
(``token_hashes``, F.xxhash64 — the reference ships the same family,
hash/XxHash.java:44), and an Arrow UDF combines each run of w token
hashes in numpy (functions/minhash.shingle_hashes_flat, the one
definition of a shingle hash).  Exact murmur3 reference-parity is only
needed for sketch update hashes, which hash these int64s again
Python-side (SURVEY.md §2.8).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from ..config import SHINGLE_W

# Unicode-aware "word" separator: anything that is not letter/digit.
_SEP_RE = r"[^\p{L}\p{N}]+"

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with", "for", "was"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein", "nicht", "auf"],
    "fr": ["le", "la", "les", "et", "est", "des", "une", "dans", "que", "pour"],
    "es": ["el", "la", "los", "de", "que", "en", "una", "por", "con", "para"],
}


def tokens(text: Column | str) -> Column:
    """Lowercased word tokens; deterministic normalization."""
    c = F.col(text) if isinstance(text, str) else text
    raw = F.split(F.lower(c), _SEP_RE)
    return F.filter(raw, lambda t: t != F.lit(""))


def shingles(toks: Column, w: int = SHINGLE_W) -> Column:
    """w-word shingles as strings; short docs fall back to one shingle
    of all tokens (keeps every doc LSH-able).  The oracle-expressible
    form: the hashed pipeline uses ``shingle_hashes``.

    NOTE: the lambdas read ``toks``, and inside higher-order-function
    lambdas a non-trivial argument subtree is re-evaluated per element
    — O(tokens²) per doc if the tokenizer rides inside.  Bind the token
    array to a real column first."""
    n = F.size(toks)
    full = F.transform(
        F.sequence(F.lit(0), n - F.lit(w)),
        lambda i: F.concat_ws(" ", F.slice(toks, i + F.lit(1), F.lit(w))))
    short = F.array(F.concat_ws(" ", toks))
    return F.when(n >= F.lit(w), full).otherwise(short)


def token_hashes(toks: Column | str) -> Column:
    """xxhash64 of each token, in document order — O(tokens)."""
    c = F.col(toks) if isinstance(toks, str) else toks
    return F.transform(c, lambda t: F.xxhash64(t))


def shingle_hashes(text: Column | str, w: int = SHINGLE_W) -> Column:
    """Distinct int64 shingle-set of a document — the input to MinHash,
    SimHash and exact-Jaccard verification.  Sorted ascending as signed
    int64; NULL and empty texts get one shingle, like short docs."""
    return shingle_hashes_from_tokens(tokens(text), w)


def shingle_hashes_from_tokens(toks: Column | str, w: int = SHINGLE_W) -> Column:
    """Same as shingle_hashes but over a token-array column."""
    from .minhash import list_udf, shingle_hashes_flat
    return list_udf(shingle_hashes_flat, w=w)(token_hashes(toks))


def ordered_shingle_hashes(toks: Column | str, w: int = SHINGLE_W) -> Column:
    """Shingle hashes in DOCUMENT ORDER (not sorted/deduped) — the
    input winnowing fingerprints require."""
    from .minhash import list_udf, shingle_runs
    return list_udf(shingle_runs, w=w)(token_hashes(toks))


def exact_jaccard(inter: Column, uni: Column) -> Column:
    """Exact Jaccard |A∩B| / |A∪B| from the two set sizes, 1.0 for two
    empty sets (verification join; counterpart of
    theta/JaccardSimilarity.java:55 exact mode).  The sizes come from
    operators/lsh.verify_pairs, which evaluates one ``array_union``
    per pair."""
    return F.when(uni > 0, inter.cast("double") / uni.cast("double")).otherwise(F.lit(1.0))


# ---------------------------------------------------------------------------
# quality / stats columns (training-data pipeline ops)
# ---------------------------------------------------------------------------

def token_count(text: Column | str) -> Column:
    """Whitespace/punct token count — pure codegen Column."""
    return F.size(tokens(text))


def char_count(text: Column | str) -> Column:
    """Character length — pure codegen Column."""
    c = F.col(text) if isinstance(text, str) else text
    return F.length(c)


# GPT-2-style pre-tokenizer pattern, lookahead-free so it runs
# identically under Java regex (Spark) and RE2 (DuckDB oracle):
# contraction suffixes | space?letters | space?digits | space?punct-run.
BPE_TOKEN_RE = (r"'s|'t|'re|'ve|'m|'ll|'d"
                r"| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+")


def bpe_token_count(text: Column | str) -> Column:
    """BPE-ish token count: number of pre-tokenizer segments under the
    GPT-2-style pattern — the standard cheap proxy for LLM token
    budgeting (each segment maps to ≥ 1 BPE token).  Pure codegen
    (regexp_extract_all + size)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_RE), 0))


def punct_ratio(text: Column | str) -> Column:
    """Punctuation chars / total chars."""
    c = F.col(text) if isinstance(text, str) else text
    total = F.length(c)
    punct = total - F.length(F.regexp_replace(c, r"[\.,;:!\?]", ""))
    return F.when(total > 0, punct.cast("double") / total.cast("double")).otherwise(F.lit(0.0))


def stopword_ratio(text: Column | str, lang: str = "en") -> Column:
    """Fraction of tokens in the language's stopword list (a
    quality-filter feature) — pure codegen Column."""
    toks = tokens(text)
    sw = F.array(*[F.lit(s) for s in STOPWORDS[lang]])
    hits = F.size(F.array_intersect(F.array_distinct(toks), sw))
    # ratio of distinct stopwords present (0..1) — cheap quality proxy
    return hits.cast("double") / float(len(STOPWORDS[lang]))


def quality_score(text: Column | str) -> Column:
    """Deterministic [0,1] quality proxy: length band + stopword
    presence − punctuation excess.  SQL-oracle-expressible."""
    tc = token_count(text).cast("double")
    len_term = F.least(tc / F.lit(100.0), F.lit(1.0))
    sw_term = stopword_ratio(text, "en")
    punct_term = F.least(punct_ratio(text) * F.lit(5.0), F.lit(1.0))
    return F.round(F.greatest(
        F.least(F.lit(0.5) * len_term + F.lit(0.5) * sw_term
                - F.lit(0.2) * punct_term, F.lit(1.0)),
        F.lit(0.0)), 6)


def lang_guess(text: Column | str) -> Column:
    """Stopword-hit language ID over {en,de,fr,es}; 'und' when no hits.
    Deterministic tie-break: highest hits, then alphabetical lang."""
    toks = F.array_distinct(tokens(text))
    best = None
    for lg in sorted(STOPWORDS):
        sw = F.array(*[F.lit(s) for s in STOPWORDS[lg]])
        hits = F.size(F.array_intersect(toks, sw))
        entry = F.struct(hits.alias("hits"), F.lit(lg).alias("lang"))
        best = entry if best is None else F.when(
            entry["hits"] > best["hits"], entry).otherwise(best)
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def text_sha256(text: Column | str) -> Column:
    """Byte-identity invariant column (BASELINE.json input_hint:
    byte-identical extracted text per url)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.sha2(c.cast("binary"), 256)
