"""Text-analysis operators for large-scale training-data pipelines:
token counting, quality scoring, language-ID heuristic, fingerprinting.

All pure Spark expressions (whole-stage codegen; no UDFs) so they hold up
at 100 TB: a scan + map, no shuffle unless the caller aggregates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny marker lexicons for the language-ID heuristic (deterministic;
# real deployments swap in proper n-gram models)
LANG_MARKERS = {
    "en": ["the", "a", "of", "and", "is"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "la", "los", "y", "es"],
}

STOPWORDS = ["the", "a", "of", "and", "is", "to", "in"]


def ws_tokens_expr(text: Column) -> Column:
    """Whitespace tokens with empties filtered — THE shared
    token-count definition (masking plans, sentence windows, snippet
    matching and citation rates all quote this one expression, so
    their 'same token count' contracts cannot drift)."""
    return F.filter(
        F.split(F.trim(text), r"\s+"), lambda w: F.length(w) > 0
    )


def tokens_expr(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def token_count_expr(text: Column) -> Column:
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(tokens_expr(text))
    )


# GPT-2-style pre-tokenizer alternation, simplified to the subset shared
# by Java regex (Spark) and RE2 (DuckDB oracle): no lookahead, ASCII
# classes. Counts contractions, letter runs, digit runs, punctuation runs
# — the "BPE-ish" token estimate for LLM-budget accounting (whitespace
# itself is not a token).
SUBWORD_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def subword_count_expr(text: Column) -> Column:
    """BPE-ish token count: number of pre-tokenizer matches. A cheap,
    deterministic proxy for LLM tokenizer counts (true BPE merges need
    the vocab; the pre-tokenizer segmentation is the dominant term)."""
    return F.regexp_count(text, F.lit(SUBWORD_RE))


def stopword_ratio_expr(text: Column) -> Column:
    toks = tokens_expr(F.lower(text))
    hits = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def punct_ratio_expr(text: Column) -> Column:
    punct = F.length(text) - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    return punct / F.greatest(F.length(text), F.lit(1))


def quality_score_expr(text: Column) -> Column:
    """Composite quality score in [0,1]: length band + stopword presence +
    low punctuation (Gopher/C4-style heuristics, simplified and
    deterministic)."""
    n_tok = token_count_expr(text)
    len_ok = F.when((n_tok >= 10) & (n_tok <= 100000), F.lit(0.4)).otherwise(F.lit(0.0))
    stop_ok = F.when(stopword_ratio_expr(text) >= 0.05, F.lit(0.3)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio_expr(text) <= 0.2, F.lit(0.3)).otherwise(F.lit(0.0))
    return F.round(len_ok + stop_ok + punct_ok, 1)


def langid_expr(text: Column) -> Column:
    """Marker-word language ID: argmax of per-language hit counts, ties to
    the lexicographically-first language code, 'und' when no hits."""
    toks = tokens_expr(F.lower(text))

    def _hits(markers):
        # closure factory — a two-arg lambda would make F.filter pass the
        # array INDEX as the second arg
        return F.size(F.filter(toks, lambda t: t.isin(markers)))

    scores = [(lang, _hits(markers)) for lang, markers in sorted(LANG_MARKERS.items())]
    best = None
    best_score = None
    for lang, score in scores:
        if best is None:
            best, best_score = F.lit(lang), score
        else:
            cond = score > best_score
            best = F.when(cond, F.lit(lang)).otherwise(best)
            best_score = F.when(cond, score).otherwise(best_score)
    return F.when(best_score > 0, best).otherwise(F.lit("und"))


def fingerprint_expr(text: Column) -> Column:
    """Normalized-content MD5 (document fingerprint): lowercase, strip
    non-alphanumerics, collapse whitespace."""
    norm = F.regexp_replace(F.lower(text), r"[^a-z0-9 ]", "")
    norm = F.trim(F.regexp_replace(norm, r" +", " "))
    return F.md5(norm)


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    ns: tuple = (2, 3),
) -> DataFrame:
    """Gopher/MassiveText-style repetition filter signals, per document:
    for each n in `ns`, the fraction of all n-gram occurrences taken by
    the single most frequent n-gram (`top{n}gram_ratio`) and the
    fraction of occurrences whose n-gram appears more than once
    (`dup{n}gram_frac`). High values flag boilerplate/spam for removal.

    Shape at scale: token split is map-side; each n adds one explode ->
    per-(doc, gram) count -> per-doc aggregate — the same
    shuffle-then-combine pattern as the shingle pipeline, with partial
    aggregation before each exchange. Empty/short docs yield 0.0 (no
    n-grams => nothing repeated)."""
    tokenized = df.select(id_col, tokens_expr(F.col(text_col)).alias("_toks"))
    toks = F.col("_toks")
    out = df.select(id_col)
    for n in ns:
        grams = F.when(
            F.size(toks) >= n,
            F.transform(
                F.slice(toks, 1, F.size(toks) - (n - 1)),
                lambda _x, i: F.concat_ws(
                    " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        per_gram = (
            tokenized.select(id_col, F.explode(grams).alias("g"))
            .groupBy(id_col, "g")
            .agg(F.count("*").alias("c"))
        )
        stats = per_gram.groupBy(id_col).agg(
            F.round(F.max("c") / F.sum("c"), 6).alias(f"top{n}gram_ratio"),
            F.round(
                F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0)))
                / F.sum("c"),
                6,
            ).alias(f"dup{n}gram_frac"),
        )
        out = out.join(stats, id_col, "left")
    fills = {}
    for n in ns:
        fills[f"top{n}gram_ratio"] = 0.0
        fills[f"dup{n}gram_frac"] = 0.0
    return out.fillna(fills)


def char_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document character-level Shannon entropy (nats) — the cheap
    garbage detector: binary blobs mis-tagged as text and key-mash spam
    score HIGH, repeated-template filler scores LOW; natural language
    sits in a narrow band, so both tails are filter candidates.

    Returns (id_col, n_chars, n_distinct, entropy), entropy rounded to
    1e-6 nats.

    Shape at scale: pure map-side expression — for each DISTINCT
    character c of the doc, count(c) = len - len(replace(text, c, ''))
    and the -p·ln p terms are snapped to integer micro-nats BEFORE
    summation, so the fold over the distinct-char array is an integer
    sum: order-independent, engine-portable (DuckDB's list_distinct
    does not promise the same element ORDER as Spark's array_distinct —
    only the same set, which is all an integer sum needs). Cost is
    O(distinct_chars × len) per doc with zero shuffle; distinct chars
    are bounded (~100 for real text), so this runs at scan speed."""
    text = F.col(text_col)
    n = F.length(text)
    # guard against empty-string elements (engine-dependent artifacts of
    # splitting on ""): ln(0) terms would NaN-poison the integer fold
    chars = F.filter(
        F.array_distinct(F.split(text, "")), lambda c: F.length(c) > 0
    )

    def term_micro(c: Column) -> Column:
        cnt = n - F.length(F.replace(text, c))
        p = cnt.cast("double") / n.cast("double")
        return F.round(p * F.log(p) * F.lit(1e6)).cast("long")

    micro_sum = F.aggregate(
        chars, F.lit(0).cast("long"), lambda acc, c: acc + term_micro(c)
    )
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_chars"),
        F.when(n == 0, F.lit(0))
        .otherwise(F.size(chars))
        .cast("long")
        .alias("n_distinct"),
        F.when(n == 0, F.lit(0.0))
        .otherwise(-micro_sum / F.lit(1e6))
        .alias("entropy"),
    )


def top_ngrams(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    n: int = 2, k: int = 20,
) -> DataFrame:
    """Corpus-wide most frequent word n-grams: (gram, n_occurrences,
    n_docs), the top k by occurrence count with a deterministic (count
    desc, gram asc) tie-break. The vocabulary/boilerplate-survey query a
    corpus audit starts with; n_docs separates corpus-wide boilerplate
    (high doc spread) from one spammy document repeating itself.

    Shape at scale: explode -> per-(doc, gram) pre-aggregate (map-side
    combine collapses within-doc repeats before any Exchange) -> one
    hash aggregate keyed by gram (count distinct docs is a plain count
    here because the pre-aggregate made (doc, gram) unique) -> global
    top-k via TakeOrderedAndProject (per-partition heap of k, never a
    full sort). Hot grams ("of the") are ONE reduce-side row each —
    heavy but bounded; there is no join for them to skew."""
    tokenized = df.select(id_col, tokens_expr(F.col(text_col)).alias("_toks"))
    toks = F.col("_toks")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.slice(toks, 1, F.size(toks) - (n - 1)),
            lambda _x, i: F.concat_ws(
                " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    per_doc = (
        tokenized.select(id_col, F.explode(grams).alias("gram"))
        .groupBy(id_col, "gram")
        .agg(F.count("*").alias("c"))
    )
    return (
        per_doc.groupBy("gram")
        .agg(
            F.sum("c").alias("n_occurrences"),
            F.count("*").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("gram"))
        .limit(k)
    )


def zipf_fit(
    docs: DataFrame,
    text_col: str = "text",
    top_k: int = 10_000,
) -> DataFrame:
    """Zipf power-law fit of the corpus token distribution — the
    corpus-health diagnostic: natural text follows freq ~ rank^s with
    s near -1; a much flatter slope signals shuffled/templated junk, a
    much steeper one signals boilerplate domination or a collapsed
    vocabulary. Fits least-squares on (ln rank, ln count) over the TOP
    top_k tokens (standard practice — the unigram tail bends away from
    the power law and would bias the fit; and bounding k keeps every
    moment sum within DECIMAL(38,0)/HUGEINT exactly).

    Determinism: counts are exact longs; ln values are rounded once to
    integer micro-nats; every moment (Sx, Sy, Sxy, Sxx) is an exact
    DECIMAL(38,0) sum; and the closed-form slope
        (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)
    is evaluated with SIGN-MAGNITUDE integer division (the q130 deskew
    convention) so Spark's truncate-toward-zero and the oracle's floor
    division cannot diverge on the negative slope.

    Shape at scale: ONE token-count aggregation (map-side combine) ->
    TakeOrdered top_k (per-partition top-k, no global sort) -> a window
    + moment sums over the k-bounded set. Returns one row
    (n_ranks:long, slope_micro:long — e.g. -987654 means s ~ -0.9877);
    slope is NULL when fewer than 2 distinct ranks exist."""
    from pyspark.sql import Window

    if top_k < 2:
        raise ValueError(f"need top_k >= 2, got {top_k}")
    toks = F.explode(
        F.filter(
            tokens_expr(F.lower(F.trim(F.coalesce(F.col(text_col), F.lit(""))))),
            lambda x: x != "",
        )
    ).alias("token")
    counts = docs.select(toks).groupBy("token").agg(F.count("*").alias("c"))
    top = counts.orderBy(F.col("c").desc(), F.col("token").asc()).limit(
        int(top_k)
    )
    ranked = top.withColumn(
        "r",
        F.row_number().over(
            Window.orderBy(F.col("c").desc(), F.col("token").asc())
        ),
    )
    xy = ranked.select(
        F.round(F.log(F.col("r").cast("double")) * 1e6)
        .cast("long")
        .alias("x"),
        F.round(F.log(F.col("c").cast("double")) * 1e6)
        .cast("long")
        .alias("y"),
    )
    mom = xy.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0))")).alias("sx"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0))")).alias("sy"),
        F.sum(
            F.expr("CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))")
        ).alias("sxy"),
        F.sum(
            F.expr("CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))")
        ).alias("sxx"),
    )
    return mom.select(
        F.col("n").alias("n_ranks"),
        F.expr(
            """
            CASE WHEN n < 2 OR (n * sxx - sx * sx) = 0 THEN NULL
                 WHEN (n * sxy - sx * sy) < 0
                 THEN -CAST((-(n * sxy - sx * sy) * 1000000)
                            div (n * sxx - sx * sx) AS BIGINT)
                 ELSE CAST(((n * sxy - sx * sy) * 1000000)
                           div (n * sxx - sx * sx) AS BIGINT)
            END
            """
        ).alias("slope_micro"),
    )


def citation_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Citation-marker density — the cheap academic/reference-document
    detector (scholarly text routes to different cleaning: reference
    sections, inline markers, hyphenated identifiers):

      n_bracket_cites  occurrences of [N] with N of 1-3 digits
                       (numeric citation style);
      n_paren_years    occurrences of a parenthesized 19xx/20xx year
                       (author-year style);
      n_etal           occurrences of 'et al.' (word-bounded);
      cite_rate_ppm    all markers per token, integer ppm (NULL for
                       empty docs).

    Regexes are RE2-portable (the oracle replays them); '(123)' and
    '[notanum]' style lookalikes do not fire. Pure map-side
    expressions, ZERO shuffle."""
    toks = ws_tokens_expr(F.col(text_col))
    t = F.col(text_col)
    brackets = F.regexp_count(t, F.lit(r"\[[0-9]{1,3}\]"))
    years = F.regexp_count(t, F.lit(r"\((?:19|20)[0-9][0-9]\)"))
    etal = F.regexp_count(t, F.lit(r"\bet al\."))
    staged = df.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.size(toks), F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce(brackets, F.lit(0)).cast("long").alias("n_bracket_cites"),
        F.coalesce(years, F.lit(0)).cast("long").alias("n_paren_years"),
        F.coalesce(etal, F.lit(0)).cast("long").alias("n_etal"),
    )
    return staged.select(
        "id",
        "n_tokens",
        "n_bracket_cites",
        "n_paren_years",
        "n_etal",
        F.when(
            F.col("n_tokens") > 0,
            F.expr(
                "CAST((n_bracket_cites + n_paren_years + n_etal)"
                " * CAST(1000000 AS BIGINT) div n_tokens AS BIGINT)"
            ),
        ).alias("cite_rate_ppm"),
    )
