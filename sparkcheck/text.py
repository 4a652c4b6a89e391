"""Text-analysis operators for large-scale training-data pipelines.

All operators are pure Column expressions (JVM-side, whole-stage codegen) —
no Python in the hot path — so they scan at parquet speed and compose with
the fused validation agg pass. Designed for a documents table
(doc_id, text) at 10^11+ rows: every op is embarrassingly parallel per row
(narrow, zero shuffle), so throughput scales linearly with executors.

Tokenization contract (shared by dedup/similarity): lowercase, split on
runs of whitespace. Kept deliberately simple and SQL-replicable so the
DuckDB oracle can reproduce it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword profiles for the n-gram/stopword language-ID
# heuristic. Real pipelines use fastText/CLD3; the *Spark plumbing* (argmax
# over per-language token-hit ratios, computed as native Columns) is what
# matters here and is identical at any profile size.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "for", "on"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "fr": ("le", "la", "les", "et", "est", "pas", "pour", "une", "dans", "que"),
    "es": ("el", "la", "los", "y", "es", "no", "por", "una", "en", "que"),
    "zh": ("de", "shi", "bu", "le", "zai", "you", "wo", "ta", "men", "zhe"),
}

DEFAULT_QUALITY_STOPWORDS = STOPWORDS["en"]


def _member_of(words: tuple[str, ...]):
    """Closure factory for HOF lambdas: pyspark inspects lambda signatures,
    so default-arg captures (``lambda t, w=words:``) break — bind via
    closure instead."""
    return lambda t: t.isin(*words)


def tokens(col: str | Column = "text") -> Column:
    """lowercased whitespace tokens; empty string -> empty array."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != "")


def token_count(col: str | Column = "text") -> Column:
    return F.size(tokens(col))


def char_count(col: str | Column = "text") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c)


def mean_token_length(col: str | Column = "text") -> Column:
    """Average token length (characters / token), null-safe on empty docs."""
    toks = tokens(col)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return F.when(F.size(toks) > 0, total.cast("double") / F.size(toks))


def stopword_ratio(
    col: str | Column = "text", stopwords: tuple[str, ...] = DEFAULT_QUALITY_STOPWORDS
) -> Column:
    """Fraction of tokens that are stopwords — a standard quality signal
    (too low => gibberish/boilerplate, too high => junk)."""
    toks = tokens(col)
    hits = F.size(F.filter(toks, _member_of(stopwords)))
    return F.when(F.size(toks) > 0, hits.cast("double") / F.size(toks))


def non_alnum_ratio(col: str | Column = "text") -> Column:
    """Fraction of characters outside [a-z0-9 ] after lowercasing —
    punctuation/control-char density."""
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    kept = F.length(F.regexp_replace(c, "[^a-z0-9 ]", ""))
    return F.when(
        F.length(c) > 0, (F.length(c) - kept).cast("double") / F.length(c)
    )


def _quality_from_tokens(
    toks: Column,
    raw: str | Column,
    stopwords: tuple[str, ...] = DEFAULT_QUALITY_STOPWORDS,
) -> Column:
    """The quality formula over a PRE-BUILT token array — the single copy
    of the weights, shared by ``quality_score`` (which tokenizes for you)
    and ``domain_quality_report`` (which reuses one projected array for
    several metrics). ``raw`` is the untokenized text for the
    punctuation-noise term."""
    n = F.size(toks).cast("double")
    length_term = F.least(n / F.lit(20.0), F.lit(1.0))  # saturates at 20 tokens
    sw_ratio = F.when(
        F.size(toks) > 0,
        F.size(F.filter(toks, _member_of(stopwords))).cast("double")
        / F.size(toks),
    )
    sw_term = F.least(
        F.coalesce(sw_ratio, F.lit(0.0)) * F.lit(5.0), F.lit(1.0)
    )  # saturates at 20% stopwords
    noise_term = F.lit(1.0) - F.least(
        F.coalesce(non_alnum_ratio(raw), F.lit(1.0)) * F.lit(2.0), F.lit(1.0)
    )
    return length_term * F.lit(0.5) + sw_term * F.lit(0.25) + noise_term * F.lit(0.25)


def quality_score(col: str | Column = "text") -> Column:
    """Composite [0,1] quality score: length sweet-spot x stopword presence
    x low punctuation noise. Weights are arbitrary but fixed; what the
    engine guarantees is a deterministic, fully vectorized scalar per doc."""
    return _quality_from_tokens(tokens(col), col)


def langid_scores(col: str | Column = "text") -> list[Column]:
    """One hit-ratio Column per language profile, aliased lang_<code>."""
    toks = tokens(col)
    out = []
    for code, words in STOPWORDS.items():
        hits = F.size(F.filter(toks, _member_of(words)))
        out.append(
            F.when(F.size(toks) > 0, hits.cast("double") / F.size(toks))
            .otherwise(F.lit(0.0))
            .alias(f"lang_{code}")
        )
    return out


def langid(col: str | Column = "text") -> Column:
    """Predicted language = argmax over profiles; 'und' when no profile
    scores > 0. Ties broken by language-code order (deterministic)."""
    toks = tokens(col)
    scored = []
    for code, words in sorted(STOPWORDS.items()):
        hits = F.size(F.filter(toks, _member_of(words)))
        score = F.when(F.size(toks) > 0, hits.cast("double") / F.size(toks)).otherwise(
            F.lit(0.0)
        )
        scored.append(F.struct(score.alias("score"), F.lit(code).alias("code")))
    # array_max on struct compares field-by-field: highest score wins; on
    # score ties the *latest* code wins — match that in the oracle.
    best = F.array_max(F.array(*scored))
    return F.when(best["score"] > 0, best["code"]).otherwise(F.lit("und"))


def fingerprint(col: str | Column = "text") -> Column:
    """Document fingerprint: md5 of the normalized token stream. Identical
    logic is expressible in any SQL engine (md5 of the joined tokens), which
    makes cross-engine dedup joins possible."""
    return F.md5(F.array_join(tokens(col), " "))


def shingles(col: str | Column = "text", n: int = 3) -> Column:
    """Word n-gram shingles as an array<string> (may contain duplicates;
    wrap in array_distinct for set semantics). No explode, no shuffle.

    Built as a chain of ``zip_with`` concats against progressively shifted
    copies of the token array: shingle_i = tok_i + ' ' + tok_(i+1) + ... .
    ``zip_with`` pads the shorter side with null and ``concat`` is
    null-propagating, so the trailing (n-1) entries fall out in the final
    null filter. This is O(n) array passes; the obvious
    ``transform(i -> array_join(slice(toks, i, n)))`` form is O(len)
    slice-copies *per element* (quadratic per doc) and measured ~5x slower."""
    return _shingles_from_tokens(tokens(col), n)


def _shingles_from_tokens(toks: Column, n: int) -> Column:
    """``shingles`` over a PRE-BUILT token array — the single copy of the
    zip_with construction, for callers that project the token array once
    and feed it to several metrics."""
    acc = toks
    for k in range(1, n):
        shifted = F.slice(toks, k + 1, F.size(toks))
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.filter(acc, lambda x: x.isNotNull())


def _word_hits(joined: Column, words: tuple[str, ...]) -> Column:
    """Count of tokens in ``words`` inside a single-space-joined token
    string — zero-width lookarounds so adjacent hits ("of the") both count.
    A flat JVM regexp (whole-stage codegen) replacing the interpreted
    ``size(filter(toks, isin))`` HOF pass."""
    pat = "(?<=^| )(?:" + "|".join(words) + ")(?= |$)"
    return F.regexp_count(joined, F.lit(pat))


def text_profile(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document text-analysis profile — one narrow scan, no shuffle,
    ZERO higher-order functions.

    Round-2 materialized the token array once (4.4s -> 1.7s at sf0.1); the
    residual cost was seven interpreted HOF passes over that array (filter
    per language profile + length fold). This version never builds an array:
    the normalized token stream is ONE string column ``__joined``
    (lowercase, whitespace runs collapsed to single spaces, trimmed —
    exactly ``array_join(tokens(text), ' ')``), and every token statistic
    is a flat regexp/length expression over it, all inside whole-stage
    codegen:
      - n_tokens        = spaces + 1 (0 for empty)
      - sum(token len)  = length - spaces
      - stopword hits   = regexp_count with zero-width space lookarounds
      - fingerprint     = md5(__joined)  (same value as the array_join form)
    Value-identical to the HOF formulation — the DuckDB oracle is unchanged
    and stays hash-exact."""
    # small-file fan-out: a profile over a one-file input otherwise runs
    # its whole regex scan on ONE core (sources.ensure_parallelism; no-op
    # at scale)
    from .sources import ensure_parallelism

    docs = ensure_parallelism(docs)
    low = F.lower(F.col(text_col))
    base = docs.select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("__nchars"),
        F.btrim(F.regexp_replace(low, r"\s+", " "), F.lit(" ")).alias("__joined"),
        # punctuation density comes off the raw lowered text, not __joined
        (
            F.length(low) - F.length(F.regexp_replace(low, "[^a-z0-9 ]", ""))
        ).alias("__nonalnum"),
        F.length(low).alias("__nlow"),
    )
    joined = F.col("__joined")
    spaces = F.length(joined) - F.length(F.replace(joined, F.lit(" "), F.lit("")))
    n = F.when(F.length(joined) > 0, spaces + 1).otherwise(F.lit(0))
    nd = n.cast("double")
    mean_tok = F.when(n > 0, (F.length(joined) - spaces).cast("double") / nd)
    sw_ratio = F.when(
        n > 0, _word_hits(joined, DEFAULT_QUALITY_STOPWORDS).cast("double") / nd
    )
    na_ratio = F.when(
        F.col("__nlow") > 0, F.col("__nonalnum").cast("double") / F.col("__nlow")
    )
    quality = (
        F.least(nd / F.lit(20.0), F.lit(1.0)) * F.lit(0.5)
        + F.least(F.coalesce(sw_ratio, F.lit(0.0)) * F.lit(5.0), F.lit(1.0))
        * F.lit(0.25)
        + (
            F.lit(1.0)
            - F.least(F.coalesce(na_ratio, F.lit(1.0)) * F.lit(2.0), F.lit(1.0))
        )
        * F.lit(0.25)
    )
    scored = []
    for code, words in sorted(STOPWORDS.items()):
        score = F.when(
            n > 0, _word_hits(joined, words).cast("double") / nd
        ).otherwise(F.lit(0.0))
        scored.append(F.struct(score.alias("score"), F.lit(code).alias("code")))
    best = F.array_max(F.array(*scored))
    pred_lang = F.when(best["score"] > 0, best["code"]).otherwise(F.lit("und"))
    return base.select(
        F.col(id_col),
        n.alias("n_tokens"),
        F.col("__nchars").alias("n_chars"),
        F.round(F.coalesce(mean_tok, F.lit(0.0)), 4).alias("mean_token_len"),
        F.round(F.coalesce(sw_ratio, F.lit(0.0)), 4).alias("stopword_ratio"),
        F.round(F.coalesce(na_ratio, F.lit(0.0)), 4).alias("non_alnum_ratio"),
        F.round(quality, 4).alias("quality"),
        pred_lang.alias("pred_lang"),
        F.md5(joined).alias("fingerprint"),
    )


# BPE-ish pre-tokenization pattern (GPT-2-style contractions / letter runs /
# digit runs / punctuation runs / whitespace), restricted to constructs both
# Java regex (Spark) and RE2 (DuckDB oracle) support — i.e. no lookahead, so
# the trailing-space nicety of the original GPT-2 pattern is simplified to a
# plain \s+ branch. This measures *pre-token* counts, the standard proxy for
# BPE token budgets in training-data pipelines.
BPE_SPLIT_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_token_count(col: str | Column = "text") -> Column:
    """Count of BPE-ish pre-tokens — regexp_extract_all length, JVM-side."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_SPLIT_PATTERN), F.lit(0)))


# ---------------------------------------------------------------------------
# Repetition metrics (Gopher-style repeated n-gram fractions)
# ---------------------------------------------------------------------------


def dup_ngram_frac(col: str | Column = "text", n: int = 1) -> Column:
    """Fraction of word n-grams that are repeats of an earlier n-gram in
    the same document: 1 - distinct/total, NULL when the doc has no
    n-grams. n=1 is the repeated-token fraction; n=2/3 are the repeated
    bigram/trigram fractions used as boilerplate/spam signals in
    training-data quality filters (cf. the Gopher repetition rules).

    Doc-local by construction — array_distinct over the shingle array, no
    explode, no shuffle; scales embarrassingly with executors."""
    return _dup_frac_of(tokens(col) if n == 1 else shingles(col, n))


def _dup_frac_of(g: Column) -> Column:
    """1 - distinct/total over a PRE-BUILT n-gram array (NULL when empty) —
    the single copy of the repeat-fraction formula."""
    total = F.size(g)
    return F.when(
        total > 0,
        F.lit(1.0) - F.size(F.array_distinct(g)).cast("double") / total,
    )


def repetition_profile(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition metrics: (id, n_tokens, dup_token_frac,
    dup_2gram_frac, dup_3gram_frac), fractions rounded to 4 dp. One narrow
    scan, zero shuffle."""
    from .sources import ensure_parallelism

    docs = ensure_parallelism(docs)
    return docs.select(
        F.col(id_col),
        token_count(text_col).alias("n_tokens"),
        F.round(dup_ngram_frac(text_col, 1), 4).alias("dup_token_frac"),
        F.round(dup_ngram_frac(text_col, 2), 4).alias("dup_2gram_frac"),
        F.round(dup_ngram_frac(text_col, 3), 4).alias("dup_3gram_frac"),
    )


# ---------------------------------------------------------------------------
# PII detection / scrubbing (C4-style regex redaction)
# ---------------------------------------------------------------------------

# Patterns deliberately restricted to the Java-regex ∩ RE2 subset (no
# lookbehind) so the DuckDB oracle runs them verbatim. Order matters for
# scrubbing: emails first (so their digits never feed the phone pattern),
# then IPs, then phones, then SSNs.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+\d[\d() -]{6,}\d",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
}


def pii_counts(col: str | Column = "text") -> list[Column]:
    """One match-count Column per PII class, aliased pii_<class> — flat
    JVM regexp_count expressions, whole-stage codegen."""
    c = F.col(col) if isinstance(col, str) else col
    return [
        F.regexp_count(c, F.lit(pat)).alias(f"pii_{name}")
        for name, pat in PII_PATTERNS.items()
    ]


def scrub_pii(col: str | Column = "text", replacement: str = "[PII]") -> Column:
    """Redact every PII match with ``replacement`` — chained
    regexp_replace in the fixed PII_PATTERNS order."""
    c = F.col(col) if isinstance(col, str) else col
    for pat in PII_PATTERNS.values():
        c = F.regexp_replace(c, pat, replacement)
    return c


def boilerplate_ngrams(
    docs: DataFrame,
    n: int = 3,
    min_docs: int = 2,
    top_k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide boilerplate discovery: word n-grams that appear in at
    least ``min_docs`` DISTINCT documents, ranked by document frequency
    (ties broken by the n-gram string so the top-k is deterministic).
    Headers, footers, cookie banners, and licence blurbs surface here —
    the blocklist input to line/passage-level dedup in web-corpus
    pipelines (cf. RefinedWeb/C4 boilerplate removal).

    Scale shape: the per-doc ``array_distinct`` runs BEFORE the explode,
    so document frequency is a plain count — no (doc, ngram) distinct
    shuffle. The exploded frame aggregates with map-side partial combine
    on the n-gram key; only (ngram, partial_count) pairs cross the
    exchange, and the min_docs filter plus top-k cap bound what survives.
    The global orderBy runs on the already-filtered aggregate, which for
    any real min_docs is orders of magnitude smaller than the corpus."""
    from .sources import ensure_parallelism

    docs = ensure_parallelism(docs)
    per_doc = docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                tokens(text_col) if n == 1 else shingles(text_col, n)
            )
        ).alias("ngram"),
    )
    return (
        per_doc.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .where(F.col("doc_freq") >= min_docs)
        .orderBy(F.desc("doc_freq"), F.asc("ngram"))
        .limit(top_k)
    )


def scrub_boilerplate(
    col: str | Column, ngrams: list[str], replacement: str = ""
) -> Column:
    """Remove every occurrence of the given boilerplate n-grams (longest
    first, so sub-phrases of an already-removed phrase don't leave
    fragments), collapsing the leftover double spaces. The list comes from
    ``boilerplate_ngrams`` — bounded by its top_k, so folding it into a
    chain of literal ``replace`` calls keeps the scrub a pure projection
    (no UDF, no join).

    Semantics are SINGLE-PASS per phrase: every occurrence present in the
    input text is removed, but when a removal makes the surrounding words
    adjacent, the join can spell the phrase anew ("filter data <phrase>
    batch" with phrase "filter data batch" collapses to a fresh "filter
    data batch") and that spliced occurrence stays. This is the standard
    regexp_replace contract; corpus pipelines that need guaranteed-absent
    phrases remove whole lines/passages instead (the line-dedup domain),
    not substrings."""
    c = F.col(col) if isinstance(col, str) else col
    for g in sorted(ngrams, key=lambda s: (-len(s), s)):
        c = F.replace(c, F.lit(g), F.lit(replacement))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def curation_funnel(
    docs: DataFrame, stages: list[tuple[str, Column]]
) -> DataFrame:
    """Single-pass funnel accounting for a chained curation pipeline: one
    row per stage with how many documents survive every filter up to and
    including it (stage_idx, stage, surviving, dropped_here). The question
    a pipeline owner actually asks — "which filter ate my corpus?" —
    answered without N passes: every cumulative condition becomes one
    ``sum(when)`` in a SINGLE aggregation over a SINGLE scan.

    A NULL condition (e.g. a ratio on an empty doc) counts as failing that
    stage, matching filter semantics exactly: the funnel row equals
    ``docs.where(c1 & ... & ci).count()`` for every prefix.

    Perf note: conditions are caller-built Columns, so shared
    subexpressions (tokenization, shingle arrays) should be pre-projected
    once with ``.select(..., tokens(...).alias("__toks"))`` and referenced
    by alias — Catalyst keeps a multiply-referenced non-cheap alias
    materialized in its own projection, where inlining the same
    ``split(lower(...))`` into every stage re-tokenizes per condition
    (measured 1.4x on a 4-stage text funnel at sf0.1)."""
    from pyspark.sql import Window

    from .sources import ensure_parallelism

    if not stages:
        raise ValueError("curation_funnel needs at least one stage")
    docs = ensure_parallelism(docs)
    aggs = [F.count(F.lit(1)).alias("__total")]
    acc = None
    for i, (_, cond) in enumerate(stages):
        acc = cond if acc is None else (acc & cond)
        # sum over ZERO rows is NULL; an empty corpus has 0 survivors,
        # not unknown — keep the documented "equals chained .where
        # counts" invariant on empty input too
        aggs.append(
            F.coalesce(
                F.sum(F.coalesce(acc, F.lit(False)).cast("long")), F.lit(0)
            ).alias(f"__s{i}")
        )
    wide = docs.agg(*aggs)
    rows = F.array(
        F.struct(
            F.lit(0).alias("stage_idx"),
            F.lit("input").alias("stage"),
            F.col("__total").alias("surviving"),
        ),
        *[
            F.struct(
                F.lit(i + 1).alias("stage_idx"),
                F.lit(name).alias("stage"),
                F.col(f"__s{i}").alias("surviving"),
            )
            for i, (name, _) in enumerate(stages)
        ],
    )
    exploded = wide.select(F.explode(rows).alias("r")).select("r.*")
    prev = F.lag("surviving", 1).over(Window.orderBy("stage_idx"))
    return exploded.select(
        "stage_idx",
        "stage",
        "surviving",
        F.coalesce(prev - F.col("surviving"), F.lit(0)).alias("dropped_here"),
    ).orderBy("stage_idx")


def curate(docs: DataFrame, stages: list[tuple[str, Column]]) -> DataFrame:
    """Apply the full curation pipeline: rows passing EVERY stage
    condition (NULL = fail, as in ``curation_funnel``). Pure conjunctive
    filter — one narrow scan, every predicate eligible for pushdown."""
    acc = F.lit(True)
    for _, cond in stages:
        acc = acc & F.coalesce(cond, F.lit(False))
    return docs.where(acc)


def class_balance(df, label_col: str):
    """Label-distribution health for a training table: one row per label
    (label, n, frac) plus the whole-table stats every class-imbalance
    triage starts from, folded into each row: entropy_bits (Shannon, of
    the label distribution), n_classes, imbalance_ratio (majority/minority
    count). One groupBy pass; the per-label frame is dimension-sized, so
    the window computing the totals never sees data volume. NULL labels
    count as a class of their own (surfacing them IS the check)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    g = df.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy()
    total = F.sum("n").over(w)
    frac = F.col("n") / total
    # Shannon entropy in bits over the label fractions
    ent = F.sum(-frac * F.log2(frac)).over(w)
    return g.select(
        "label",
        "n",
        F.round(frac, 6).alias("frac"),
        F.round(ent, 6).alias("entropy_bits"),
        F.count(F.lit(1)).over(w).alias("n_classes"),
        F.round(F.max("n").over(w) / F.min("n").over(w), 4).alias(
            "imbalance_ratio"
        ),
    ).orderBy("label")


def concentration_profile(df, group_col: str):
    """Corpus-concentration summary of a grouping column — "how dominated
    is the corpus by its biggest sources?": one row (column, n, n_groups,
    gini, hhi, top1_share). ``gini`` is the Gini coefficient of the
    group-size distribution (0 = perfectly even, →1 = one group holds
    everything), via the rank identity
    G = (2·Σ i·x_(i) − (n_g+1)·Σx) / (n_g·Σx) with x sorted ascending;
    ``hhi`` the Herfindahl–Hirschman index Σ share² (1/n_g at evenness,
    1 at full concentration); ``top1_share`` the largest group's share.
    The scalar companions to :func:`class_balance`'s per-label frame —
    a mixture-health expectation can threshold them directly. NULL labels
    count as a group of their own (same rule as class_balance: surfacing
    them IS the check).

    Plan: one groupBy shuffle with map-side combine; ranking and the
    final fold run over the dimension-sized (#groups-row) count frame.
    The global row_number sort is a single-task window over that narrow
    frame — fine up to millions of groups; a doc-cardinality grouping
    wants the histogram-states approximation instead, not an exact Gini.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    g = df.groupBy(F.col(group_col).alias("label")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # deterministic total order: by count, then label (ties don't change
    # the Gini sum — coefficients over a tie range are permutation-
    # invariant — but a total order keeps the plan reproducible)
    wo = Window.partitionBy().orderBy(
        F.col("cnt").asc(), F.col("label").asc_nulls_first()
    )
    ranked = g.select("cnt", F.row_number().over(wo).alias("i"))
    folded = ranked.agg(
        F.sum("cnt").alias("n"),
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.col("i").cast("double") * F.col("cnt")).alias("_ix"),
        F.sum(F.col("cnt").cast("double") * F.col("cnt")).alias("_x2"),
        F.max("cnt").alias("_mx"),
    )
    n = F.col("n").cast("double")
    ng = F.col("n_groups").cast("double")
    gini = (F.lit(2.0) * F.col("_ix") - (ng + 1) * n) / (ng * n)
    return folded.select(
        F.lit(group_col).alias("column"),
        "n",
        "n_groups",
        F.round(gini, 6).alias("gini"),
        F.round(F.col("_x2") / (n * n), 6).alias("hhi"),
        F.round(F.col("_mx") / n, 6).alias("top1_share"),
    )


def zipf_profile(df, text_col: str = "text", top_n: int = 5000):
    """Zipf-law conformity of the corpus token distribution — one row
    (n_tokens, vocab_size, top_n, alpha, r2): ``alpha`` is the OLS slope
    of ln(count) on ln(rank) over the ``top_n`` most frequent tokens
    (natural text sits near −1; templated/boilerplate corpora flatten
    toward 0 at the head, spam with exploded vocabularies steepen), and
    ``r2`` how well a power law fits at all. A corpus-health metric the
    length/stopword heuristics miss: a million identical boilerplate
    pages have perfect per-doc quality scores and a catastrophic Zipf
    curve. NULL alpha/r2 when fewer than 3 distinct tokens exist (no
    regression to fit).

    Plan: one explode + groupBy(token) shuffle with map-side combine
    (the only data-volume pass); total/vocab fold over the vocab-sized
    count frame; rank = TakeOrdered top_n by (count DESC, token ASC —
    deterministic), then the OLS sums run over ≤ top_n rows. The oracle
    replays rank, logs, and the closed-form slope/r² exactly."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    counts = (
        df.select(F.explode(tokens(text_col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = counts.agg(
        F.sum("c").alias("n_tokens"), F.count(F.lit(1)).alias("vocab_size")
    )
    top = counts.orderBy(F.desc("c"), F.asc("tok")).limit(top_n)
    w = Window.partitionBy().orderBy(F.desc("c"), F.asc("tok"))
    ranked = top.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    fit = ranked.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    k = F.col("k").cast("double")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / k
    varx = F.col("sxx") - F.col("sx") * F.col("sx") / k
    vary = F.col("syy") - F.col("sy") * F.col("sy") / k
    alpha = F.when((F.col("k") >= 3) & (varx > 0), cov / varx)
    r2 = F.when(
        (F.col("k") >= 3) & (varx > 0) & (vary > 0),
        (cov * cov) / (varx * vary),
    )
    return totals.crossJoin(fit).select(  # two dimension-free scalar frames
        "n_tokens",
        "vocab_size",
        F.col("k").alias("top_n"),
        F.round(alpha, 6).alias("alpha"),
        F.round(r2, 6).alias("r2"),
    )


class ClassBalanceExpectation:
    """expect_column_class_balance_to_match(column=..., target_shares={...},
    tolerance=0.05, allow_unexpected_labels=False): success iff every
    target label's observed fraction (of non-null rows) is within
    ``tolerance`` of its target share, and — unless
    ``allow_unexpected_labels`` — no label outside the target set appears.
    The suite-level form of the class-balance profile: "is the training
    mix still the mix we shipped?" as a checkpointable expectation.

    Rides the fused-eager ``column.value_counts`` metric (one groupBy,
    driver-capped by its max_groups guard), so label cardinality stays
    dimension-sized by construction. No reference analog
    (expect_column_kl_divergence approximates it with a partition
    object); registered as a sparkcheck extension."""

    name = "expect_column_class_balance_to_match"
    condition_name = None

    def _metric_cfg(self, cfg):
        from .expectations import build_domain
        from .metrics import MetricConfiguration

        return MetricConfiguration("column.value_counts", build_domain(cfg))

    def metric_requests(self, cfg, rf):
        return {"vc": self._metric_cfg(cfg)}

    def stage2_requests(self, cfg, rf, resolver):
        return {}

    def validate(self, cfg, rf, resolver):
        shares = cfg.get("target_shares")
        if not shares:
            raise ValueError(
                "expect_column_class_balance_to_match needs target_shares"
            )
        tol = float(cfg.get("tolerance", 0.05))
        allow_extra = bool(cfg.get("allow_unexpected_labels", False))
        vc = resolver[self._metric_cfg(cfg)]
        total = sum(c for _, c in vc)
        # compare label identities as strings: suite JSON round-trips
        # (checkpoint files) stringify dict keys, and int-labeled columns
        # must still match their targets rather than all reading as 0.0
        fracs = {str(v): (c / total if total else 0.0) for v, c in vc}
        shares = {str(k): v for k, v in shares.items()}
        deviations = {
            label: round(fracs.get(label, 0.0) - float(want), 6)
            for label, want in sorted(shares.items())
        }
        off = {k: d for k, d in deviations.items() if abs(d) > tol}
        extra = sorted(str(v) for v in fracs if v not in shares)
        success = not off and (allow_extra or not extra)
        ret = {"success": success}
        if rf["result_format"] != "BOOLEAN_ONLY":
            ret["result"] = {
                "observed_value": {
                    str(v): round(f, 6) for v, f in sorted(fracs.items())
                },
                "details": {
                    "deviations": deviations,
                    "out_of_tolerance": off,
                    "unexpected_labels": extra,
                    "n_rows": total,
                },
            }
        return ret


class ConcentrationExpectation:
    """expect_column_concentration_to_be_below(column=..., max_gini=...,
    max_hhi=..., max_top_share=...): success iff every provided bound
    holds over the column's non-null label distribution — the
    checkpointable form of :func:`concentration_profile`'s scalars
    ("no single crawl may exceed 40% of the mix" is
    ``max_top_share=0.4``). At least one bound is required.

    Rides the fused-eager ``column.value_counts`` metric like
    ClassBalanceExpectation — one max_groups-capped groupBy shared with
    every other expectation on the column; the Gini/HHI/top-share fold
    runs driver-side over the dimension-sized counts list (the same rank
    identity as concentration_profile). Note the domain difference from
    the standalone profile: the metric excludes NULL labels (GX
    value_counts semantics), while concentration_profile counts NULL as
    a group. No reference analog; a sparkcheck extension."""

    name = "expect_column_concentration_to_be_below"
    condition_name = None

    _BOUNDS = ("max_gini", "max_hhi", "max_top_share")

    def _metric_cfg(self, cfg):
        from .expectations import build_domain
        from .metrics import MetricConfiguration

        return MetricConfiguration("column.value_counts", build_domain(cfg))

    def metric_requests(self, cfg, rf):
        return {"vc": self._metric_cfg(cfg)}

    def stage2_requests(self, cfg, rf, resolver):
        return {}

    def validate(self, cfg, rf, resolver):
        bounds = {
            b: float(cfg.get(b)) for b in self._BOUNDS if cfg.get(b) is not None
        }
        if not bounds:
            raise ValueError(
                "expect_column_concentration_to_be_below needs at least one "
                f"of {self._BOUNDS}"
            )
        vc = resolver[self._metric_cfg(cfg)]
        counts = sorted(int(c) for _, c in vc)
        n = sum(counts)
        ng = len(counts)
        if n == 0:
            obs = {"gini": None, "hhi": None, "top_share": None}
            success = True  # vacuous truth: no labels, nothing concentrated
        else:
            ix = sum((i + 1) * x for i, x in enumerate(counts))
            obs = {
                "gini": round((2.0 * ix - (ng + 1) * n) / (ng * n), 6),
                "hhi": round(sum(x * x for x in counts) / (n * n), 6),
                "top_share": round(counts[-1] / n, 6),
            }
            success = all(
                obs[b[len("max_"):]] < want for b, want in bounds.items()
            )
        ret = {"success": success}
        if rf["result_format"] != "BOOLEAN_ONLY":
            ret["result"] = {
                "observed_value": obs,
                "details": {"n_rows": n, "n_labels": ng, "bounds": bounds},
            }
        return ret


def _register_class_balance():
    from .expectations import register_expectation

    register_expectation(ClassBalanceExpectation())
    register_expectation(ConcentrationExpectation())


_register_class_balance()


def unigram_model(
    docs: DataFrame,
    text_col: str = "text",
    add_k: float = 0.5,
) -> "tuple[DataFrame, float]":
    """Corpus unigram language model with add-k smoothing: returns
    ``(logprobs, oov_logp)`` where logprobs is (token, logp) with
    logp = ln((count + k) / (N + k*(V+1))) and oov_logp is the same
    formula at count 0 — the reserved out-of-vocabulary mass.

    One explode + one token-keyed groupBy (map-side combine; the vocab
    frame is bounded by distinct tokens, not corpus size), plus a single
    2-scalar aggregate for (N, V). The scalars fold into the plan as
    literals via plain binary float ops, so any engine rebuilds the
    identical probabilities from the same counts."""
    tok = docs.select(F.explode(tokens(text_col)).alias("token"))
    # persist the vocab-sized counts: both the (N, V) collect below and
    # the returned logprob frame consume it — without this the corpus-wide
    # explode+groupBy scan runs twice (same pattern as jaccard_pairs'
    # shingle cache)
    counts = (
        tok.groupBy("token").agg(F.count(F.lit(1)).alias("c")).persist()
    )
    row = counts.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")
    ).collect()[0]
    n, v = float(row["n"] or 0), float(row["v"] or 0)
    denom = n + float(add_k) * (v + 1.0)
    logp = F.log((F.col("c").cast("double") + F.lit(float(add_k))) / F.lit(denom))
    import math

    return counts.select("token", logp.alias("logp")), math.log(
        float(add_k) / denom
    )


def lm_quality(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 0.5,
    model: "tuple[DataFrame, float] | None" = None,
) -> DataFrame:
    """Per-document mean negative log-likelihood under a unigram LM — the
    KenLM-style quality signal: junk (gibberish, rare-token soup, wrong
    language) scores far above the corpus mode, templated boilerplate far
    below. ``model`` defaults to self-scoring (the corpus's own unigram
    model, the standard curation setup); pass a held-out model to score a
    delivery against a reference corpus.

    Returns (id, n_tokens, mean_nll); empty docs come back with 0/NULL
    via the left join. Scale shape: one token explode, one broadcast-able
    join against the vocab-sized logprob table, one per-doc aggregate —
    the document payload never shuffles."""
    lp, oov = model if model is not None else unigram_model(
        docs, text_col, add_k
    )
    tok = docs.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("token")
    )
    # no forced broadcast: the logprob table is vocab-sized, which for a
    # web corpus can run to billions of distinct tokens — let AQE
    # broadcast it when it is actually small and shuffle-join otherwise
    # (the same rule as the quarantine dup-key join)
    scored = tok.join(lp, "token", "left")
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(-F.avg(F.coalesce(F.col("logp"), F.lit(oov))), 4).alias(
            "mean_nll"
        ),
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            "mean_nll",
        )
    )


def domain_quality_report(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-domain quality ranking — the "which sources do we blocklist or
    downweight?" table every web-corpus curation loop maintains: one row
    per group with document/token volume, mean heuristic quality, mean
    bigram repetition (NULL ratios count as 0, like the profile), the
    fraction of documents containing PII, and the exact-duplicate load
    (docs minus distinct content fingerprints). Sorted worst-quality
    first.

    One pass, TWO-LEVEL aggregation (groupBy (group, fingerprint) then
    groupBy group): every metric is a sum that composes through both
    levels, and the distinct-fingerprint count falls out of level two's
    row count — no countDistinct Expand, no second scan. The level-one
    frame is bounded by distinct (group, content) pairs. The token and
    bigram arrays are pre-projected ONCE and every per-doc metric reads
    the alias (the curation_funnel re-tokenization trap); the quality /
    repeat-fraction arithmetic is the SAME helper the per-doc profile
    uses (_quality_from_tokens / _dup_frac_of), so the weights cannot
    desynchronize between the two reports."""
    from .sources import ensure_parallelism

    docs = ensure_parallelism(docs)
    toks = F.col("__toks")
    pre = docs.select(
        F.col(group_col).alias("grp"),
        F.col(text_col).alias("__text"),
        tokens(text_col).alias("__toks"),
    ).select(
        "grp",
        "__text",
        "__toks",
        _shingles_from_tokens(toks, 2).alias("__bg"),
    )
    quality = _quality_from_tokens(toks, "__text")
    d2 = _dup_frac_of(F.col("__bg"))
    pii_total = None
    for c in pii_counts("__text"):
        pii_total = c if pii_total is None else pii_total + c
    lvl1 = (
        pre.select(
            "grp",
            F.md5(F.array_join(toks, " ")).alias("fp"),
            quality.alias("q"),
            F.size(toks).cast("long").alias("tk"),
            F.coalesce(d2, F.lit(0.0)).alias("d2"),
            (pii_total > 0).cast("long").alias("pii"),
        )
        .groupBy("grp", "fp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("q").alias("sq"),
            F.sum("tk").alias("stk"),
            F.sum("d2").alias("sd2"),
            F.sum("pii").alias("spii"),
        )
    )
    n_docs = F.sum("n")
    return (
        lvl1.groupBy(F.col("grp").alias(group_col))
        .agg(
            n_docs.alias("n_docs"),
            F.sum("stk").alias("total_tokens"),
            F.round(F.sum("sq") / n_docs, 4).alias("mean_quality"),
            F.round(F.sum("sd2") / n_docs, 4).alias("mean_dup_2gram"),
            F.round(F.sum("spii") / n_docs, 4).alias("pii_doc_rate"),
            (n_docs - F.count(F.lit(1))).alias("exact_dup_docs"),
        )
        .orderBy("mean_quality", group_col)
    )


def bigram_model(
    docs: DataFrame,
    text_col: str = "text",
) -> "tuple[DataFrame, DataFrame, float]":
    """Corpus bigram language model: returns ``(bigram_counts,
    context_counts, vocab)`` where bigram_counts is (bg, c12) over the
    "w1 w2" strings, context_counts is (token, c1) unigram counts, and
    vocab is V (distinct unigrams). The model is RAW counts — add-k
    smoothing is applied at scoring time (``bigram_lm_quality``'s
    ``add_k``), so one stored model serves any smoothing strength:
    P(w2|w1) = (c12 + k) / (c1 + k*(V+1)) covers seen and unseen pairs
    uniformly (c12 or c1 default to 0 at scoring time), no OOV branch.

    Two groupBys (bigram- and token-keyed, map-side combine); both result
    frames are vocabulary-sized, not corpus-sized. The context-count
    frame stays persisted (it feeds both the V count here and the
    scoring join later); call ``.unpersist()`` on it when the model is
    retired."""
    uni = (
        docs.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c1"))
        .persist()
    )
    v = float(uni.count())
    big = (
        docs.select(F.explode(shingles(text_col, 2)).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    return big, uni, v


def bigram_lm_quality(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 0.5,
    model: "tuple[DataFrame, DataFrame, float] | None" = None,
) -> DataFrame:
    """Per-document mean negative log-likelihood under a bigram LM — one
    order deeper than ``lm_quality``: word-salad documents whose unigrams
    are individually common but never co-occur (shuffled text, keyword
    stuffing) score high here while passing the unigram filter. Returns
    (id, n_bigrams, mean_nll); docs with fewer than two tokens come back
    with 0/NULL.

    Scale shape: the per-doc bigram stream joins the vocabulary-sized
    bigram-count and context-count tables (both left UN-hinted — AQE
    broadcasts them while they fit and shuffle-joins a web corpus's
    billions of bigrams), then one per-doc aggregate. The smoothed
    conditional is computed AFTER the joins from raw counts, so unseen
    bigrams and unseen contexts need no second lookup path."""
    big, uni, v = model if model is not None else bigram_model(
        docs, text_col
    )
    k = float(add_k)
    stream = docs.select(
        F.col(id_col), F.explode(shingles(text_col, 2)).alias("bg")
    ).withColumn("__w1", F.substring_index("bg", " ", 1))
    joined = (
        stream.join(big, "bg", "left")
        .join(uni.withColumnRenamed("token", "__w1"), "__w1", "left")
    )
    logp = F.log(
        (F.coalesce(F.col("c12"), F.lit(0)).cast("double") + F.lit(k))
        / (
            F.coalesce(F.col("c1"), F.lit(0)).cast("double")
            + F.lit(k) * F.lit(v + 1.0)
        )
    )
    per_doc = joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(-F.avg(logp), 4).alias("mean_nll"),
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "mean_nll",
        )
    )


def novelty_scores(
    delivery,
    reference,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Per-document n-gram novelty against a reference corpus: the
    fraction of each delivery doc's DISTINCT word n-grams that appear
    nowhere in ``reference``. The inverse of decontamination's question —
    contamination asks "does this doc overlap the eval set", novelty asks
    "does tomorrow's crawl add anything the corpus doesn't already have"
    (near-zero novelty = recrawled boilerplate; use it to drop stale
    deliveries before the expensive dedup stages).

    Shape: both sides reduce to (shingle) / (doc, shingle) keys —
    array_distinct BEFORE explode so a doc's repeated n-gram costs one
    key, then one distinct on the reference side (map-side combined) and
    one shingle-keyed left join (AQE broadcasts when the reference set is
    small; at 100 TB it is a plain shuffle join on string keys, no
    payload). Every delivery doc comes back: docs with fewer than n
    tokens have n_shingles=0 and a NULL novelty (no evidence either
    way — callers decide the policy, we refuse to invent a score)."""
    ref_sh = (
        reference.select(
            F.explode(F.array_distinct(shingles(text_col, n))).alias("shingle")
        )
        .distinct()
        .withColumn("__seen", F.lit(True))
    )
    del_sh = delivery.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(text_col, n))).alias("shingle"),
    )
    per_doc = (
        del_sh.join(ref_sh, "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("__seen").isNull(), 1).otherwise(0)).alias(
                "n_novel"
            ),
        )
    )
    return (
        delivery.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            F.round(F.col("n_novel") / F.col("n_shingles"), 4).alias("novelty"),
        )
    )


# ---------------------------------------------------------------------------
# Sliding-window chunking — context-length preparation for training
# ---------------------------------------------------------------------------


def chunk_documents(
    docs: DataFrame,
    max_tokens: int = 512,
    stride: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split long documents into overlapping fixed-width token windows —
    the context-length preparation step of a training pipeline (the
    complement of sampling.pack_sequences, which packs SHORT docs; this
    op splits LONG ones). Output one row per chunk:

        (id, chunk_index, start_tok, n_tokens_chunk, chunk_text)

    Chunk ``i`` covers tokens ``[i*stride, i*stride + max_tokens)`` of the
    lowercased whitespace token stream (the shared :func:`tokens`
    convention), so consecutive chunks overlap by ``max_tokens - stride``
    tokens — the standard HF-tokenizer ``return_overflowing_tokens``
    layout. The chunk count is the closed form

        n_chunks = 1 + ceil(max(n - max_tokens, 0) / stride)

    i.e. exactly enough windows that the last one reaches the end of the
    document without emitting trailing windows fully contained in their
    predecessor. Empty documents (no tokens) produce no chunks.

    Scale: this is a pure narrow projection — tokenize, build the start
    offsets with ``sequence``, ``posexplode``, ``slice`` — ZERO shuffles
    at any corpus size; output rows ≈ Σ ceil(n_i/stride). Spark's
    fan-out explode keeps memory per task bounded by one document's
    chunks. At 10^12 docs this pipelines straight into a partitioned
    writer with no exchange in the plan.
    """
    if max_tokens < 1:
        raise ValueError("max_tokens must be >= 1")
    stride = max_tokens if stride is None else stride
    if not 1 <= stride <= max_tokens:
        raise ValueError(
            f"stride must be in [1, max_tokens]; got stride={stride}, "
            f"max_tokens={max_tokens} (stride > max_tokens would skip tokens)"
        )
    toks = tokens(text_col)
    n = F.size(toks)
    # integer ceil(max(n - max_tokens, 0) / stride) without float traffic
    n_chunks = F.lit(1) + (
        (F.greatest(n - F.lit(max_tokens), F.lit(0)) + F.lit(stride - 1))
        .cast("bigint") / F.lit(stride)
    ).cast("bigint")
    with_toks = docs.select(
        F.col(id_col), toks.alias("__toks"), n_chunks.alias("__nc"), n.alias("__n")
    ).where(F.col("__n") > 0)
    exploded = with_toks.select(
        id_col,
        "__toks",
        "__n",
        F.posexplode(F.sequence(F.lit(0), F.col("__nc") - 1)).alias(
            "chunk_index", "__ci"
        ),
    )
    start = F.col("chunk_index").cast("bigint") * F.lit(stride)
    chunk = F.slice(F.col("__toks"), (start + 1).cast("int"), max_tokens)
    return exploded.select(
        id_col,
        F.col("chunk_index").cast("bigint").alias("chunk_index"),
        start.alias("start_tok"),
        F.size(chunk).cast("bigint").alias("n_tokens_chunk"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# TF-IDF distinctive terms per group — corpus composition analysis
# ---------------------------------------------------------------------------


def distinctive_terms(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    top_k: int = 10,
    min_tf: int = 1,
) -> DataFrame:
    """Top-``k`` most DISTINCTIVE terms per group by a TF-IDF score over
    group-level term frequencies: for group g and token t,

        score(g, t) = tf(g, t) · ln(N_groups / df(t))

    with df(t) = number of groups containing t. Terms every group shares
    score 0 (ln 1); terms concentrated in one group score highest — the
    standard corpus-composition diagnostic ("what is source X actually
    full of?") run before mixing corpora.

    Returns (group, token, tf, df, score, rank), rank 1..top_k per group
    ordered by (score DESC, token ASC) on the score ROUNDED to 6 dp —
    rounding before ranking makes the cut deterministic across engines
    whose ``ln`` differs in the last ulp.

    Scale: one explode + groupBy(group, token) with map-side combine
    collapses the corpus to the (group × vocab) frame; df is a window
    over that dimension-sized frame (not the corpus), and N_groups rides
    in as a broadcast 1×1 aggregate — no driver collect, no second scan
    of the data. ``min_tf`` prunes the hapax tail AFTER the df window, so df keeps its true meaning.

    Rows with a NULL group are dropped before tokenizing: a NULL group is
    not a group, so it counts toward neither df nor N_groups (df <= N, and
    every score is >= 0).
    """
    from pyspark.sql import Window

    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    docs = docs.where(F.col(group_col).isNotNull())
    tok = docs.select(
        F.col(group_col).alias("group"), F.explode(tokens(text_col)).alias("token")
    )
    tf = tok.groupBy("group", "token").agg(F.count(F.lit(1)).alias("tf"))
    # df counts (group, token) rows per token — the frame is distinct by
    # construction, so a window count over it IS the document frequency.
    # Computed BEFORE the min_tf prune: df is the true "groups containing
    # t" of the docstring (a token every group shares scores 0 even when
    # some group uses it rarely); min_tf then prunes CANDIDATE rows only
    scored = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("token"))
    )
    if min_tf > 1:
        scored = scored.where(F.col("tf") >= min_tf)
    ng = docs.agg(F.count_distinct(F.col(group_col)).alias("__ng"))
    scored = scored.crossJoin(F.broadcast(ng)).withColumn(
        "score",
        F.round(
            F.col("tf").cast("double")
            * F.log(F.col("__ng").cast("double") / F.col("df").cast("double")),
            6,
        ),
    )
    w = Window.partitionBy("group").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select(
            F.col("group").alias(group_col),
            "token",
            "tf",
            F.col("df").cast("bigint").alias("df"),
            "score",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# Text normalization — the always-first curation stage
# ---------------------------------------------------------------------------

#: single-character folds applied FIRST via translate() — a 1:1 char
#: map, available identically in Spark and DuckDB, so the oracle replays
#: it verbatim: curly single/double quotes -> ASCII quotes, en/em/
#: horizontal-bar dashes -> '-', NBSP/en/em/thin/zero-width/narrow-nbsp/
#: ideographic spaces -> plain space. Escapes keep the source ASCII.
NORMALIZE_FROM = (
    "\u2018\u2019\u201a\u201b"
    "\u201c\u201d\u201e\u201f"
    "\u2013\u2014\u2015"
    "\u00a0\u2002\u2003\u2009\u202f\u3000"
    # zero-width characters LAST, beyond NORMALIZE_TO's length: translate
    # DELETES unmatched trailing chars (identical semantics in Spark and
    # DuckDB) — ZWSP/BOM inside a word must vanish, not split it
    "\u200b\ufeff"
)
NORMALIZE_TO = "\'\'\'\'" + '""""' + "---" + " " * 6

#: (pattern, replacement) regex pairs applied IN ORDER after the
#: translate fold. ASCII-only patterns, valid and identical in both
#: java.util.regex (Spark) and RE2 (DuckDB) — kept as data so the
#: oracle replays the exact sequence.
NORMALIZE_RULES: "tuple[tuple[str, str], ...]" = (
    # control characters (except \t \n) -> space
    (r"[\x00-\x08\x0b-\x1f\x7f]", " "),
    # collapse horizontal whitespace runs
    (r"[ \t]+", " "),
    # spaces hugging newlines
    (r" ?\n ?", "\n"),
    # 3+ newlines -> one blank line
    (r"\n{3,}", "\n\n"),
)


def normalize_text(col: "str | Column" = "text") -> Column:
    """Canonical text cleanup, fully JVM-side (translate + chained
    native regexp_replace, whole-stage codegen — no Python anywhere):
    fold curly quotes/dashes/exotic spaces to ASCII (NORMALIZE_FROM/_TO,
    a 1:1 translate map), strip control characters, collapse whitespace
    runs, trim. Both the char map and the regex list are data, each
    valid verbatim in Spark AND DuckDB (translate is 1:1 in both;
    patterns are ASCII-only so java.util.regex and RE2 agree), so any
    engine replays the identical normalization — the always-first
    curation stage that makes downstream hashing (exact dedup, minhash
    shingles, fingerprints) insensitive to cosmetic encoding noise.

    Scale: a narrow per-row projection; chains into any scan with zero
    cost beyond the regex engine itself."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.translate(c, NORMALIZE_FROM, NORMALIZE_TO)
    for pat, rep in NORMALIZE_RULES:
        c = F.regexp_replace(c, pat, rep)
    return F.trim(c)


def _register_normalized_condition() -> None:
    """Register ``column_values.normalized`` + the
    ``expect_column_values_to_be_normalized`` expectation: a text column
    passes when it is a fixed point of :func:`normalize_text` — the QC
    gate that catches unnormalized deliveries (curly quotes, zero-width
    characters, NBSP, collapsed-whitespace drift) BEFORE they poison
    dedup fingerprints and shingle hashes downstream. Pure Column
    comparison, agg-bundleable like every map condition; no reference
    analog (GX has no text-canonicalization surface)."""
    from .conditions import condition
    from .expectations import ColumnMapExpectation, register_expectation

    @condition("column_values.normalized")
    def _normalized(domain, kw):
        c = F.col(domain.column)
        return normalize_text(c) == c

    register_expectation(
        ColumnMapExpectation(
            "expect_column_values_to_be_normalized",
            "column_values.normalized",
            (),
        )
    )


_register_normalized_condition()
