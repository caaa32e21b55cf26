"""Text analysis: tokenization, quality scoring, language ID, fingerprints.

All operators are pure Column-expression plans (JVM-side, whole-stage
codegen, no Python in the hot path) over a document table with columns
``(doc_id: long, text: string, ...)``. Every expression is chosen to
have an exact DuckDB-SQL mirror so results are oracle-checkable
bit-for-bit (strings/longs) or to 1e-6 (doubles).

The reference engine (BenBrock/ALP) has no text layer — these are the
web-pipeline operators the north star adds around the link-graph core
(BASELINE.json input_hint: Common-Crawl-style pages).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: small English function-word set used for quality scoring
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]

#: per-language marker words for the n-gram/stopword language heuristic
LANG_MARKERS = {
    "en": ["the", "a", "of", "and", "is"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "y", "es"],
}
#: deterministic priority order for argmax ties
LANG_ORDER = ["en", "de", "fr", "es"]


def tokens_col(text: Column) -> Column:
    """Whitespace tokens with empties dropped.

    Mirror SQL: ``list_filter(string_split(text, ' '), x -> x <> '')``.
    """
    return F.filter(F.split(text, " "), lambda x: x != "")


def token_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_chars, avg_token_len) per document."""
    toks = tokens_col(F.col("text"))
    total_len = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    n = F.size(toks)
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        F.when(n > 0, F.round(total_len.cast("double") / n, 6))
        .otherwise(F.lit(0.0))
        .alias("avg_token_len"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic document quality: length saturation × stopword presence.

    score = min(n_tokens/100, 1) * (0.5 + 0.5 * stopword_ratio), the
    classic "long enough and looks like natural language" filter.
    """
    toks = tokens_col(F.col("text"))
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda x: x.isin(STOPWORDS)))
    ratio = F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))
    score = F.least(n.cast("double") / 100.0, F.lit(1.0)) * (0.5 + 0.5 * ratio)
    return docs.select(
        "doc_id",
        F.round(ratio, 6).alias("stopword_ratio"),
        F.round(score, 6).alias("score"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-marker language heuristic → (doc_id, lang_pred).

    Deterministic argmax over per-language marker-word hit counts with
    priority order ``LANG_ORDER`` on ties; 'und' when no marker hits.
    """
    toks = tokens_col(F.col("text"))

    def marker_hits(words: list[str]) -> Column:
        # NB: the lambda must stay unary — a second parameter would make
        # pyspark pass the array index as the filter's (x, i) form
        return F.size(F.filter(toks, lambda x: x.isin(words)))

    hits = {lang: marker_hits(words) for lang, words in LANG_MARKERS.items()}
    best = F.greatest(*[hits[lang] for lang in LANG_ORDER])
    pred = F.when(best <= 0, F.lit("und"))
    for lang in LANG_ORDER:
        pred = pred.when(hits[lang] == best, F.lit(lang))
    return docs.select("doc_id", pred.alias("lang_pred"))


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021, appendix A —
    public): per document, the duplicate-token fraction
    ``1 − |distinct tokens| / |tokens|`` and the top-bigram fraction
    (occurrences of the most frequent token bigram / all bigrams) —
    the workhorse pre-training quality signals for boilerplate and
    machine-generated repetition.

    The duplicate fraction is pure Column math on the token array (no
    shuffle). The bigram mode needs a frequency table, so bigrams are
    exploded and aggregated twice keyed by (doc_id, bigram) then doc_id
    — both enjoy map-side partial aggregation, and keys are
    per-document so no corpus-level hot key exists; cost is
    token-proportional, the same currency as the scan itself.
    """
    toks = tokens_col(F.col("text"))
    stats = (
        docs.select("doc_id", toks.alias("_toks"))
        .select(
            "doc_id",
            F.size("_toks").alias("_n"),
            F.when(
                F.size("_toks") > 0,
                1.0
                - F.size(F.array_distinct("_toks")).cast("double")
                / F.size("_toks"),
            )
            .otherwise(F.lit(0.0))
            .alias("_dup"),
            F.expr("slice(_toks, 1, greatest(size(_toks) - 1, 0))").alias("_h"),
            F.expr("slice(_toks, 2, greatest(size(_toks) - 1, 0))").alias("_t"),
        )
        .select(
            "doc_id",
            "_n",
            "_dup",
            F.zip_with("_h", "_t", lambda x, y: F.concat_ws(" ", x, y)).alias(
                "_bgs"
            ),
        )
    )
    top = (
        stats.select("doc_id", F.explode("_bgs").alias("_bg"))
        .groupBy("doc_id", "_bg")
        .agg(F.count("*").alias("_c"))
        .groupBy("doc_id")
        .agg((F.max("_c").cast("double") / F.sum("_c")).alias("_top"))
    )
    return stats.join(top, on="doc_id", how="left").select(
        "doc_id",
        F.col("_n").cast("long").alias("n_tokens"),
        F.round("_dup", 6).alias("dup_token_frac"),
        F.round(F.coalesce("_top", F.lit(0.0)), 6).alias("top_bigram_frac"),
    )


def doc_fingerprint(docs: DataFrame) -> DataFrame:
    """Whitespace-normalised lowercase MD5 fingerprint per document.

    The cheap exact-dup / near-identical key: collapse runs of
    whitespace, trim, lowercase, hash.
    """
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    return docs.select("doc_id", F.md5(norm).alias("fingerprint"))


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """32-bit SimHash per document as a '0'/'1' string of length 32.

    Bit i comes from the high bit of hex digit i of md5(token): weight
    +1 when the digit is in [8..f], else -1; bit i is '1' iff the sum
    of weights over all tokens is > 0. String representation keeps the
    result engine-portable (no 64-bit hex→int conversion needed) while
    preserving Hamming-distance semantics via per-char comparison.

    Plan shape: explode(tokens) → 32 conditional sums in ONE groupBy
    (map-side partial agg; one shuffle keyed by doc_id).
    """
    tok = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("tok")
    ).select("doc_id", F.md5("tok").alias("h"))
    high = list("89abcdef")
    sums = [
        F.sum(
            F.when(F.substring("h", i + 1, 1).isin(high), 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(32)
    ]
    agg = tok.groupBy("doc_id").agg(*sums)
    bits = F.concat(
        *[F.when(F.col(f"s{i}") > 0, F.lit("1")).otherwise(F.lit("0")) for i in range(32)]
    )
    return agg.select("doc_id", bits.alias("simhash"))


#: BPE-ish pre-tokenizer: letter runs, digit runs, punctuation runs —
#: deliberately lookahead-free so the Java-regex plan and the RE2/DuckDB
#: oracle match byte-for-byte (GPT-2's pre-tokenizer needs lookahead,
#: which RE2 lacks; class runs are the portable core of it)
BPE_PRETOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"


def bpe_token_count(docs: DataFrame) -> DataFrame:
    """(doc_id, n_pretokens, n_pieces): subword token estimate.

    Pre-tokens come from :data:`BPE_PRETOKEN_RE`; each pre-token
    contributes ``ceil(len/4)`` pieces (the ~4-chars-per-BPE-token
    heuristic, ≥1 per pre-token). Pure Column plan — one
    ``regexp_extract_all`` + one array fold per row, no shuffle.

    Mirror SQL: ``coalesce(list_sum(list_transform(
    regexp_extract_all(text, RE), t -> ceil(length(t) / 4.0)::BIGINT)),
    0)``.
    """
    # lit() pattern, not an F.expr SQL literal — SQL string literals eat
    # the \s backslash, silently turning the class into [^A-Za-z0-9s]
    toks = F.regexp_extract_all(F.col("text"), F.lit(BPE_PRETOKEN_RE), F.lit(0))
    pieces = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.ceil(F.length(t) / 4.0).cast("long"),
    )
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_pretokens"),
        pieces.alias("n_pieces"),
    )
