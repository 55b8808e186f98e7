"""Text-analysis operators for large-scale training-data pipelines.

Beyond-reference extensions (SURVEY.md §7.2 M7): token counting,
quality scoring, document fingerprinting, and a heuristic language
identifier — all pure ``pyspark.sql.functions`` column expressions, so
every operator stays inside whole-stage codegen (no Python in the hot
path) and scales to 100 TB as a narrow, shuffle-free projection.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Ordered stopword profiles for the heuristic language identifier.
# First profile wins ties, so order is part of the contract.
LANG_PROFILES: list[tuple[str, str]] = [
    ("en", r"\b(the|of|and|to|a|in)\b"),
    ("es", r"\b(el|la|de|que|los|las)\b"),
    ("de", r"\b(der|die|das|und|ist|nicht)\b"),
    ("fr", r"\b(le|les|des|est|une|dans)\b"),
    ("zh", r"[一-鿿]"),
]


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def token_count(col: Column | str) -> Column:
    """Whitespace token count (``size(split(trim(text), '\\s+'))``)."""
    return F.size(F.split(F.trim(_c(col)), r"\s+"))


def avg_word_length(col: Column | str, ndigits: int = 4) -> Column:
    """Mean token length: (chars - spaces) / tokens."""
    c = _c(col)
    non_space = F.length(F.regexp_replace(c, r"\s", ""))
    return F.round(non_space / token_count(c), ndigits)


def stopword_ratio(
    col: Column | str, pattern: str = r"\b(the|a|of|and|to)\b", ndigits: int = 4
) -> Column:
    """Stopword hits per token — a cheap fluency signal."""
    c = _c(col)
    return F.round(F.regexp_count(c, F.lit(pattern)) / token_count(c), ndigits)


def punctuation_ratio(col: Column | str, ndigits: int = 4) -> Column:
    """Non-alphanumeric, non-space chars per char."""
    c = _c(col)
    punct = F.length(F.regexp_replace(c, r"[a-zA-Z0-9\s]", ""))
    return F.round(punct / F.length(c), ndigits)


def fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of whitespace-normalized text.

    Whitespace runs collapse to single spaces and the text is
    lower-cased + trimmed first, so trivially-reformatted copies map to
    the same fingerprint (exact-dedup key).
    """
    norm = F.regexp_replace(F.lower(F.trim(_c(col))), r"\s+", " ")
    return F.md5(norm)


def quality_tag(
    df,
    text_col: Column | str,
    min_tokens: int = 5,
    word_len_range: tuple[float, float] = (2.0, 12.0),
    max_stopword_ratio: float = 0.5,
    max_punct_ratio: float = 0.3,
    reason_col: str = "quality_reject_reason",
):
    """Tag each document with its FIRST failing quality rule (NULL = keep).

    The text-family composition of the engine's P5 validation idiom: a
    single CASE chain over the quality signals (token count, average
    word length, stopword spam, punctuation density) — one shuffle-free
    projection, so the filter runs at scan speed in front of any
    training-data pipeline stage.
    """
    c = _c(text_col)
    lo, hi = word_len_range
    reason = (
        F.when(token_count(c) < min_tokens, "too_short")
        .when((avg_word_length(c) < lo) | (avg_word_length(c) > hi), "word_length")
        .when(stopword_ratio(c) > max_stopword_ratio, "stopword_spam")
        .when(punctuation_ratio(c) > max_punct_ratio, "punctuation")
    )
    return df.withColumn(reason_col, reason)


def quality_filter(df, text_col: Column | str, **thresholds):
    """Drop documents failing any quality threshold (see :func:`quality_tag`)."""
    reason_col = thresholds.pop("reason_col", "quality_reject_reason")
    tagged = quality_tag(df, text_col, reason_col=reason_col, **thresholds)
    return tagged.filter(F.col(reason_col).isNull()).drop(reason_col)


def language_id(
    col: Column | str,
    profiles: list[tuple[str, str]] | None = None,
    out_unknown: str = "und",
) -> Column:
    """Heuristic language ID: argmax of stopword-profile hit counts.

    A chained ``when`` over ``regexp_count`` scores — first profile in
    the list wins ties (deterministic). Rows with zero hits across all
    profiles get ``out_unknown``. This is the classic n-gram/function-
    word heuristic; swap profiles for real corpora.
    """
    c = _c(col)
    profiles = profiles or LANG_PROFILES
    scores = {lang: F.regexp_count(c, F.lit(pat)) for lang, pat in profiles}
    best = F.greatest(*scores.values()) if len(scores) > 1 else next(iter(scores.values()))
    expr = F.when(best == 0, F.lit(out_unknown))
    for lang, _ in profiles:
        expr = expr.when(scores[lang] == best, F.lit(lang))
    return expr.otherwise(F.lit(out_unknown))


def word_ngrams(
    df,
    id_col: str,
    text_col: Column | str,
    n: int = 2,
    out_col: str = "ngram",
):
    """(id, ngram) pairs: word n-grams of the lowercased text.

    The token array is materialized in its own projection FIRST, then
    the n-gram lambda only references that plain column — higher-order
    -function lambdas are interpreted, so referencing a computed
    ``split()`` inside the lambda would re-split per array element.
    Docs with fewer than ``n`` tokens yield no rows (``sequence`` with
    a descending stop would otherwise silently count backwards).
    """
    toks = F.split(F.trim(F.lower(_c(text_col))), r"\s+")
    with_toks = df.select(F.col(id_col), toks.alias("__toks"))
    positions = F.when(
        F.size("__toks") >= n,
        F.sequence(F.lit(1), F.size("__toks") - (n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        positions,
        lambda i: F.array_join(F.slice(F.col("__toks"), i, n), " "),
    )
    return with_toks.select(
        F.col(id_col), F.explode(grams).alias(out_col)
    )


def ngram_repetition_scores(
    df,
    id_col: str,
    text_col: Column | str,
    n: int = 2,
    ndigits: int = 4,
):
    """Per-document n-gram repetition signals (the Gopher/MassiveText
    repetition filters, Rae et al. 2021 §A1.1): documents dominated by
    a single repeated n-gram, or whose n-grams are mostly duplicated,
    are boilerplate/spam candidates.

    Returns (id, n_ngrams, top_ngram, top_ngram_frac, dup_ngram_frac):
    ``top_ngram_frac`` = occurrences of the most frequent n-gram over
    all n-gram occurrences (ties -> lexicographically smallest n-gram),
    ``dup_ngram_frac`` = occurrences belonging to any n-gram seen more
    than once. Occurrence-fractions, not Gopher's char-fractions — the
    same signal with a cleaner cross-engine contract.

    Shape at 100 TB: explode -> hash-aggregate on (doc, ngram) with
    map-side combine, then a per-DOC window for the deterministic
    top-1 — partitioned by doc id, so no global sort and no skew
    (a document's n-gram vocabulary is bounded by its length).
    """
    from pyspark.sql import Window

    counts = (
        word_ngrams(df, id_col, text_col, n)
        .groupBy(id_col, "ngram")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("__c"), F.asc("ngram"))
    ranked = counts.withColumn("__rn", F.row_number().over(w))
    return ranked.groupBy(id_col).agg(
        F.sum("__c").alias("n_ngrams"),
        F.max(F.when(F.col("__rn") == 1, F.col("ngram"))).alias("top_ngram"),
        F.round(
            F.max(F.when(F.col("__rn") == 1, F.col("__c"))) / F.sum("__c"), ndigits
        ).alias("top_ngram_frac"),
        F.round(
            F.sum(F.when(F.col("__c") > 1, F.col("__c")).otherwise(0)) / F.sum("__c"),
            ndigits,
        ).alias("dup_ngram_frac"),
    )


# GPT-2-style pre-tokenizer pattern, restricted to constructs valid in
# BOTH Java regex (Spark) and RE2 (DuckDB oracle): common English
# contraction suffixes, then space-prefixed letter runs, digit runs, and
# punctuation runs. (The original GPT-2 pattern's `(?!\S)`/`\s+$`
# lookaround pieces are dropped — RE2 has no lookahead; on
# whitespace-normalized text the simplified pattern segments
# identically.)
BPE_TOKEN_RE = r"'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def token_count_bpe(col: Column | str) -> Column:
    """Subword-style token count via the GPT-2 pre-tokenizer regex —
    the cheap LLM-token estimator (a real BPE merge table refines the
    segments but the pre-tokenizer split dominates the count; each
    pre-token maps to >= 1 BPE token, so this is a tight lower bound).
    One ``regexp_extract_all`` + ``size``: codegen, no Python."""
    return F.size(F.regexp_extract_all(_c(col), F.lit(BPE_TOKEN_RE), F.lit(0)))


def unigram_logprob_scores(
    df,
    id_col: str,
    text_col: Column | str,
    ndigits: int = 4,
):
    """Per-document mean token log-likelihood under the corpus's own
    unigram language model — the classic cheap "does this read like
    the rest of the corpus" score (the KenLM-perplexity filter's
    one-gram little sibling). Gibberish, character soup, and
    boilerplate-free random strings score far below prose because
    their tokens are corpus-rare.

    Self-trained: P(t) = count(t) / total over THIS corpus, so there
    is no OOV and no external model. Returns
    ``(id_col, n_tokens, avg_logprob)`` with natural-log probabilities.

    Plan shape: one explode to (doc, token) (lowercased, whitespace),
    one hash-aggregate for the global counts (map-side combined: the
    shuffle carries (token, partial) pairs), the count table joined
    BACK by token, then a per-doc mean. The count table is
    vocabulary-sized — broadcast it and the (doc, token) side never
    shuffles for the join; the only data-proportional exchange is the
    final per-doc aggregation keyed by id. At 100 TB floor the
    vocabulary first (min_count) if broadcast size is a concern —
    rare-token mass then folds into an explicit floor probability.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.split(F.trim(F.lower(_c(text_col))), r"\s+")
        ).alias("__tok"),
    ).where(F.col("__tok") != "")
    counts = toks.groupBy("__tok").agg(F.count(F.lit(1)).alias("__tc"))
    total = toks.agg(F.count(F.lit(1)).alias("__n"))
    scored = (
        toks.join(F.broadcast(counts), "__tok")
        .join(F.broadcast(total))
        .withColumn("__lp", F.log(F.col("__tc") / F.col("__n")))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("__lp"), ndigits).alias("avg_logprob"),
    )


def bigram_logprob_scores(
    df,
    id_col: str,
    text_col: Column | str,
    lam: float = 0.7,
    ndigits: int = 4,
):
    """Per-document mean bigram log-likelihood under a corpus-self-
    trained Jelinek-Mercer interpolated model:

        P(w2 | w1) = lam * c(w1 w2) / c(w1 .) + (1 - lam) * c(w2) / N

    The next step up from :func:`unigram_logprob_scores` toward the
    KenLM-style perplexity filter: word-salad whose TOKENS are common
    but whose TRANSITIONS are not (shuffled prose, keyword stuffing)
    scores low here while passing the unigram screen. Interpolation
    with the unigram term means no zero probabilities and no OOV
    (self-trained), so every document gets a finite score.

    Plan: one projection materializes the token array (HOF lambdas
    re-evaluate computed inputs per element, so the split is pinned
    first); adjacent pairs come from a ``zip_with`` over two slices —
    no positional self-join. The expensive interpreted pair stream is
    immediately reduced to per-doc bigram-TYPE counts whose single
    Exchange every downstream consumer reads (ReusedExchange: bigram
    totals, context totals, and the scoring join all share it — the
    pair explode runs ONCE; the naive three-branch formulation
    re-executed it per branch and measured 3-8x worse at the 10x
    stress scale). The model folds into one (w1, w2) -> ln p table
    joined back with no hint: AQE broadcasts it at runtime when small
    and shuffles when corpus diversity outgrows broadcast.

    Returns ``(id_col, n_bigrams, avg_logprob)`` over documents with
    >= 2 tokens, natural log, rounded to ``ndigits``. ``avg_logprob``
    is the occurrence-weighted mean sum(c * ln p) / sum(c).
    """
    toks = df.select(
        F.col(id_col),
        F.filter(
            F.split(F.trim(F.lower(_c(text_col))), r"\s+"), lambda x: x != ""
        ).alias("__t"),
    )
    # adjacent pairs via zip_with over two slices — TOTAL expression
    # (empty result for 0/1-token docs), so no filter-ordering hazard:
    # the optimizer may evaluate projections before a preceding where,
    # which crashes any formulation doing positional element_at
    pairs = (
        toks.withColumn(
            "__bg",
            F.expr(
                "zip_with("
                " slice(__t, 1, greatest(size(__t) - 1, 0)),"
                " slice(__t, 2, greatest(size(__t) - 1, 0)),"
                " (a, b) -> struct(a AS w1, b AS w2))"
            ),
        )
        .select(F.col(id_col), F.explode("__bg").alias("__p"))
        .select(F.col(id_col), F.col("__p.w1").alias("__w1"), F.col("__p.w2").alias("__w2"))
    )
    # the single data-proportional reduction: per-doc bigram-type
    # counts. Three consumers (bigram totals, context totals, scoring
    # join) branch from here; canonicalization differences keep Spark
    # from emitting a ReusedExchange across them, so the interpreted
    # pair explode would re-run per branch (measured 3x at the 10x
    # stress scale) — localCheckpoint materializes it exactly once
    pairsc = (
        pairs.groupBy(id_col, "__w1", "__w2")
        .agg(F.count(F.lit(1)).alias("__c"))
        .localCheckpoint(eager=False)
    )
    uni = toks.select(F.explode("__t").alias("__w"))
    cu = uni.groupBy("__w").agg(F.count(F.lit(1)).alias("__uc"))
    n = cu.agg(F.sum("__uc").cast("double").alias("__nn"))
    cb = pairsc.groupBy("__w1", "__w2").agg(F.sum("__c").alias("__cb"))
    c1 = pairsc.groupBy("__w1").agg(F.sum("__c").alias("__ctx"))
    p = F.lit(lam) * (F.col("__cb") / F.col("__ctx")) + F.lit(1.0 - lam) * (
        F.col("__uc") / F.col("__nn")
    )
    lp_table = (
        cb.join(F.broadcast(c1), "__w1")
        .join(F.broadcast(cu), cb["__w2"] == F.col("__w"))
        .join(F.broadcast(n))
        .select("__w1", "__w2", F.log(p).alias("__lp"))
    )
    scored = pairsc.join(lp_table, ["__w1", "__w2"])
    return scored.groupBy(id_col).agg(
        F.sum("__c").alias("n_bigrams"),
        F.round(F.sum(F.col("__c") * F.col("__lp")) / F.sum("__c"), ndigits).alias(
            "avg_logprob"
        ),
    )


def source_divergence(
    df,
    source_col: str,
    text_col: Column | str,
    ndigits: int = 4,
):
    """Per-source Jensen-Shannon divergence of the token distribution
    vs the WHOLE corpus — the data-mixture drift monitor: a source
    whose language suddenly shifts (spam influx, scraper breakage,
    template change) moves away from the corpus mixture long before
    human review notices, and JS (unlike KL) is finite, symmetric and
    bounded in [0, ln 2].

        JSD(P_s || P_c) = 0.5 * KL(P_s || M) + 0.5 * KL(P_c || M),
        M = (P_s + P_c) / 2

    Token support is the corpus vocabulary, P_s is 0 on tokens the
    source never uses (those terms drop out of KL(P_s||M) and appear
    only via P_c in KL(P_c||M)), so no smoothing is needed.

    Plan: one token explode -> one (source, token) hash aggregate (the
    data-proportional shuffle, map-side combined) -> corpus totals
    derived FROM that aggregate (no second pass) -> per-source sum.
    State after the first aggregate is vocabulary x sources, never the
    corpus.
    """
    toks = df.select(
        F.col(source_col).alias("__src"),
        F.explode(
            F.split(F.trim(F.lower(_c(text_col))), r"\s+")
        ).alias("__tok"),
    ).where(F.col("__tok") != "")
    st = toks.groupBy("__src", "__tok").agg(F.count(F.lit(1)).alias("__sc"))
    src_tot = st.groupBy("__src").agg(F.sum("__sc").alias("__sn"))
    corp = st.groupBy("__tok").agg(F.sum("__sc").alias("__cc"))
    corp_tot = corp.agg(F.sum("__cc").cast("double").alias("__cn"))
    # full support per source: (sources x corpus vocab) grid, LEFT JOIN
    # the source's own counts — both factors are metadata-sized
    st2 = st.select(
        F.col("__src").alias("__s2"), F.col("__tok").alias("__t2"), "__sc"
    )
    grid = (
        src_tot.crossJoin(corp)
        .crossJoin(F.broadcast(corp_tot))
        .join(
            st2,
            (F.col("__src") == F.col("__s2")) & (F.col("__tok") == F.col("__t2")),
            "left",
        )
        .select(
            "__src",
            "__tok",
            (F.coalesce(F.col("__sc"), F.lit(0)) / F.col("__sn")).alias("__p"),
            (F.col("__cc") / F.col("__cn")).alias("__q"),
        )
    )
    m = (F.col("__p") + F.col("__q")) / F.lit(2.0)
    term = F.when(F.col("__p") > 0, F.col("__p") * F.log(F.col("__p") / m)).otherwise(
        F.lit(0.0)
    ) * F.lit(0.5) + F.lit(0.5) * (F.col("__q") * F.log(F.col("__q") / m))
    return grid.groupBy(F.col("__src").alias(source_col)).agg(
        F.round(F.sum(term), ndigits).alias("js_divergence")
    )


def strip_html(col: Column | str) -> Column:
    """Extract readable text from raw HTML: drop script/style/head
    blocks and comments, strip tags, decode the common entities,
    collapse whitespace — the ingest-side boilerplate step every
    web-crawl corpus runs before any quality scoring or dedup.

    Pure codegen ``regexp_replace`` chain (RE2-portable patterns, no
    backreferences), so at 100 TB it costs a scan projection — no
    Python, no shuffle. ``(?is)`` makes the block patterns match
    across newlines and case-insensitively. This is a pragmatic
    regex extractor, not an HTML5 parser: malformed markup degrades
    to extra whitespace, never to an error — acceptable for corpus
    curation, where a full DOM parse would buy little and cost a
    Python UDF.
    """
    x = _c(col)
    # script/style/head/noscript/template blocks: content is never
    # prose. One replace per tag, NOT a (tag).*?</\1> backreference —
    # RE2 (DuckDB, Go, Rust) has no backreferences, and oracle-
    # portability of every pattern is a module contract.
    for tag in ("script", "style", "head", "noscript", "template"):
        x = F.regexp_replace(x, rf"(?is)<{tag}\b.*?</{tag}\s*>", " ")
    x = F.regexp_replace(x, r"(?s)<!--.*?-->", " ")        # comments
    x = F.regexp_replace(x, r"(?is)<br\s*/?>|</p\s*>|</div\s*>|</li\s*>|</h[1-6]\s*>", "\n")
    x = F.regexp_replace(x, r"(?s)<[^>]+>", " ")           # any remaining tag
    # decode &amp; LAST: doing it first turns the double-escaped
    # '&amp;lt;' (a page DISPLAYING '&lt;') into '&lt;' and then '<',
    # re-introducing markup characters the function promises are gone
    for ent, rep in [("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
                     ("&quot;", "\""), ("&#39;", "'"), ("&apos;", "'"),
                     ("&amp;", "&")]:
        x = F.replace(x, F.lit(ent), F.lit(rep))
    x = F.regexp_replace(x, r"[ \t\x0B\f\r]+", " ")        # collapse runs
    x = F.regexp_replace(x, r" ?\n ?", "\n")
    x = F.regexp_replace(x, r"\n{2,}", "\n")
    # trim() strips only spaces; block closers leave edge newlines
    return F.regexp_replace(x, r"^\s+|\s+$", "")


def hashed_features(df, id_col: str, text_col: Column | str, n_buckets: int = 4096, seed: str = "qclf"):
    """(id, bucket) hashed text features: unigrams + word bigrams of
    the lowercased whitespace tokens, md5-bucketed into
    ``[0, n_buckets)`` — the fastText feature map (hashing trick), in
    a PORTABLE construction (md5, not xxhash) so any engine
    reproduces bucket ids bit-for-bit.

    One row per feature OCCURRENCE (not distinct): fastText averages
    over all n-gram slots, so repeats weigh more. The token array is
    materialized in a projection before the bigram ``zip_with`` —
    HOF lambdas are interpreted and would re-split per element.
    """
    toks = F.filter(
        F.split(F.trim(F.lower(_c(text_col))), r"\s+"),
        lambda t: t != F.lit(""),
    )
    base = df.select(F.col(id_col), toks.alias("__toks"))
    n = F.size("__toks")
    bigrams = F.zip_with(
        F.slice(F.col("__toks"), 1, F.greatest(n - 1, F.lit(0))),
        F.slice(F.col("__toks"), 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    feats = base.select(
        F.col(id_col),
        F.explode(F.concat(F.col("__toks"), bigrams)).alias("__feat"),
    )
    key = F.concat(F.col("__feat"), F.lit(":" + seed))
    return feats.select(
        F.col(id_col),
        (F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")
         % n_buckets).alias("bucket"),
    )


def quality_classifier_scores(
    df,
    id_col: str,
    text_col: Column | str,
    weights,
    n_buckets: int = 4096,
    seed: str = "qclf",
    scale: int = 1000,
    bias: float = 0.0,
    threshold: float = 0.0,
    ndigits: int = 4,
    include_sum: bool = False,
):
    """fastText-style linear quality classifier inference: hashed
    n-gram features -> averaged bucket weights -> thresholded score.

    ``weights`` is a (bucket, w) DataFrame with INTEGER fixed-point
    weights (true weight = w / ``scale``) — the offline collapse of
    the embedding matrix and the output layer into one scalar per
    bucket, which is exactly what a binary fastText classifier's
    score reduces to: ``score = mean_g(w[h(g)]) + bias``. A learned
    model exports to this table losslessly (quantize to ``scale``).

    Plan shape: feature explode (codegen) -> broadcast hash join on
    the weight table (bucket-count-sized, ~KBs) -> one per-doc
    aggregate. The integer weight sum is EXACT (no float accumulation
    order), divided once at the end — the cross-engine-parity
    discipline this repo uses for every merged-sum score. Returns
    ``(id, n_features, quality_score, accept)``; docs with no
    features score the bare bias. ``include_sum=True`` appends the
    raw fixed-point ``weight_sum`` (BIGINT) — the integer-exact
    column any cross-engine compare should hash instead of the
    rounded float (Spark rounds HALF_UP on the decimal string view,
    other engines round the binary double; they diverge by 1 ulp at
    boundary scores).
    """
    feats = hashed_features(df, id_col, text_col, n_buckets, seed)
    scored = (
        feats.join(F.broadcast(weights), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_features"),
            F.sum(F.coalesce(F.col("w"), F.lit(0))).alias("__sw"),
        )
    )
    score = F.round(
        F.col("__sw") / (F.lit(float(scale)) * F.col("n_features"))
        + F.lit(bias),
        ndigits,
    )
    sum_cols = (
        [F.col("__sw").cast("long").alias("weight_sum")] if include_sum else []
    )
    out = scored.select(
        F.col(id_col),
        F.col("n_features").cast("long").alias("n_features"),
        score.alias("quality_score"),
        (score > F.lit(threshold)).alias("accept"),
        *sum_cols,
    )
    empty_sum = (
        [F.lit(0).cast("long").alias("weight_sum")] if include_sum else []
    )
    empties = df.select(F.col(id_col)).join(
        out.select(id_col), id_col, "left_anti"
    ).select(
        F.col(id_col),
        F.lit(0).cast("long").alias("n_features"),
        F.round(F.lit(bias), ndigits).alias("quality_score"),
        (F.lit(bias) > F.lit(threshold)).alias("accept"),
        *empty_sum,
    )
    return out.unionByName(empties)


def corpus_diversity_stats(
    df,
    id_col: str,
    text_col: Column | str,
    group_col: str,
    n: int = 2,
):
    """Per-source distinct-n corpus diversity — the template/
    boilerplate detector at SOURCE granularity (the per-document
    repetition filter above can't see a source whose documents are
    individually clean but mutually near-identical; a collapsing
    ``distinct/total`` n-gram ratio can).

    Returns ``(group, n_docs, total_ngrams, distinct_ngrams)`` —
    integer-exact columns; consumers derive the distinct-n ratio.
    Shape at 100 TB: one codegen explode to (group, ngram), then a
    single hash aggregate with partial count-distinct per group — the
    n-gram stream never materializes, and no per-document state.
    Documents with fewer than ``n`` tokens contribute no n-grams but
    still count in ``n_docs``.
    """
    toks = F.split(F.trim(F.lower(_c(text_col))), r"\s+")
    base = df.select(F.col(group_col), toks.alias("__toks"))
    positions = F.when(
        F.size("__toks") >= n,
        F.sequence(F.lit(1), F.size("__toks") - (n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    grams = base.select(
        F.col(group_col),
        F.explode(
            F.transform(
                positions,
                lambda i: F.array_join(F.slice(F.col("__toks"), i, n), " "),
            )
        ).alias("__g"),
    )
    per = grams.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("total_ngrams"),
        F.count_distinct(F.col("__g")).alias("distinct_ngrams"),
    )
    docs = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    return docs.join(per, group_col, "left").select(
        F.col(group_col),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.coalesce("total_ngrams", F.lit(0)).cast("long")
        .alias("total_ngrams"),
        F.coalesce("distinct_ngrams", F.lit(0)).cast("long")
        .alias("distinct_ngrams"),
    )
