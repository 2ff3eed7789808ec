"""Text analysis operators: language-ID, quality scoring, token counting,
document fingerprinting.

Everything is a Catalyst expression (codegen'd, pushdown-friendly) — these
run as a single projection over the corpus scan, no shuffle at all. The
definitions are deliberately simple and *portable* (identical results are
expressible in ANSI SQL — see the DuckDB oracles in __spark_entry__.py),
because at 100 TB the value of a quality score is its stability, not its
sophistication.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: tiny stopword lists for n-gram-free language ID (top function words)
_LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "sich"],
    "fr": ["le", "la", "les", "et", "des", "est", "dans", "que", "une", "pour"],
    "es": ["el", "la", "los", "las", "es", "en", "que", "una", "por", "con"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokens, empties removed (portable definition)."""
    return F.filter(F.split(text, r"\s+"), lambda x: x != "")


def _stopword_hits(toks: Column, words: list[str]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, F.lower(t))))


def lang_id(text: Column, *, toks: Column | None = None) -> Column:
    """Stopword-vote language guess over {en,de,fr,es}; 'und' (undetermined)
    when nothing matches.

    One ``array_max`` over ``(score, tie_rank)`` structs (r13): the previous
    when-cascade referenced the running best twice per language, doubling
    the expression tree each step — the en score (a full tokenize+filter)
    appeared 8x in the final plan. Ties keep the earlier language, and a
    rank-1 ``(0, 'und')`` sentinel wins exactly when every score is 0 —
    identical to the cascade's strict ``>``. Pass a pre-tokenized ``toks``
    column to share one split with sibling projections."""
    toks = tokens(text) if toks is None else toks
    langs = list(_LANG_STOPWORDS)
    entries = [
        F.struct(
            _stopword_hits(toks, _LANG_STOPWORDS[lang]).alias("s"),
            F.lit(-i).alias("ni"),  # ties -> max(-i) == earliest lang
        )
        for i, lang in enumerate(langs)
    ]
    entries.append(F.struct(F.lit(0).alias("s"), F.lit(1).alias("ni")))
    best = F.array_max(F.array(*entries))
    # ni=1 -> position 1 ('und'); lang i (ni=-i) -> position i+2
    lang_arr = F.array(F.lit("und"), *[F.lit(lang) for lang in langs])
    return F.element_at(lang_arr, F.lit(2) - best["ni"])


def quality_features(
    df: DataFrame, text_col: str = "text", *, toks: Column | None = None
) -> DataFrame:
    """Append the standard quality-signal columns:

    n_chars, n_tokens, avg_token_len, punct_ratio, digit_ratio,
    upper_ratio, stopword_ratio (en), quality_score in [0,1].

    ``toks``: optionally a pre-staged token-array COLUMN (from
    :func:`tokens`) to share one split with sibling projections.
    """
    t = F.col(text_col)
    if toks is None:
        # stage the token array as a real column: referenced by three
        # signals below, a collapsed Project would otherwise re-split the
        # document per signal (HOFs are CodegenFallback — no subexpression
        # sharing; r13)
        df = df.withColumn("__qf_toks", tokens(t))
        toks = F.col("__qf_toks")
    n_chars = F.length(t)
    n_tokens = F.size(toks)
    # regexp_count of a single-char class == chars removed by the old
    # length-diff-of-regexp_replace form, without materializing a replaced
    # copy of the document per signal (guide §1.2 per-task work)
    punct = F.regexp_count(t, F.lit(r"[^\w\s]"))
    digits = F.regexp_count(t, F.lit(r"[0-9]"))
    uppers = F.regexp_count(t, F.lit(r"[A-Z]"))
    stop_hits = _stopword_hits(toks, _LANG_STOPWORDS["en"])

    nz = F.when(n_chars > 0, n_chars.cast("double")).otherwise(F.lit(1.0))
    ntz = F.when(n_tokens > 0, n_tokens.cast("double")).otherwise(F.lit(1.0))

    out = (
        df.withColumn("n_chars_calc", n_chars.cast("long"))
        .withColumn("n_tokens", n_tokens.cast("long"))
        .withColumn(
            "avg_token_len",
            F.round(
                F.when(
                    n_tokens > 0,
                    F.aggregate(toks, F.lit(0), lambda a, x: a + F.length(x)).cast("double") / ntz,
                ).otherwise(F.lit(0.0)),
                4,
            ),
        )
        .withColumn("punct_ratio", F.round(punct.cast("double") / nz, 4))
        .withColumn("digit_ratio", F.round(digits.cast("double") / nz, 4))
        .withColumn("upper_ratio", F.round(uppers.cast("double") / nz, 4))
        .withColumn("stopword_ratio", F.round(stop_hits.cast("double") / ntz, 4))
    )
    # quality score: length-sane, punctuation-sane, has stopwords
    score = (
        F.when((F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 100000), 0.4).otherwise(0.0)
        + F.when((F.col("punct_ratio") <= 0.2), 0.2).otherwise(0.0)
        + F.when((F.col("digit_ratio") <= 0.3), 0.1).otherwise(0.0)
        + F.when(F.col("stopword_ratio") >= 0.05, 0.3).otherwise(0.0)
    )
    return out.withColumn("quality_score", F.round(score, 4)).drop("__qf_toks")


def _word_ngrams(toks: Column, n: int) -> Column:
    """All (non-distinct) word n-grams of a token array, space-joined.
    Short docs (< n tokens) yield an empty array."""
    if n == 1:
        return toks
    k = F.size(toks) - (n - 1)
    return F.when(
        k >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _run_stats(arr: Column) -> Column:
    """``struct(best, nd)`` of ``arr``: the highest multiplicity of any
    element (longest run of equal adjacent elements after a sort) and the
    distinct-element count (number of runs) — both from ONE O(n log n)
    sort + O(n) fold per row, vs the naive O(n*distinct) count-each-element
    scan — the difference between fine and pathological on book-length
    docs. Counting distincts as runs replaces a separate per-row
    ``array_distinct`` hash-set build (r13)."""
    srt = F.array_sort(arr)
    st = F.aggregate(
        srt,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
            F.lit(0).alias("nd"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x.eqNullSafe(acc.prev), acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(x.eqNullSafe(acc.prev), acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
            (acc.nd + F.when(x.eqNullSafe(acc.prev), 0).otherwise(1)).alias("nd"),
        ),
    )
    # return the raw fold state (NOT re-wrapped in F.struct): extraction
    # over a CreateNamedStruct is rewritten by SimplifyExtractValueOps into
    # one copy of the aggregate per extracted field — the raw fold behind a
    # multiply-referenced alias stays a single evaluation
    return st


def repetition_features(
    df: DataFrame,
    text_col: str = "text",
    *,
    ngram: int = 2,
    method: str = "array",
    id_col: str | None = None,
) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1), the
    standard 'is this doc degenerate boilerplate?' filters for a
    pretraining pipeline:

    - ``dup_token_ratio``   = 1 - distinct_tokens / n_tokens
    - ``top_token_ratio``   = count(most frequent token) / n_tokens
    - ``dup_ngram_ratio``   = 1 - distinct_ngrams / n_ngrams   (word n-grams)
    - ``top_ngram_ratio``   = count(most frequent n-gram) / n_ngrams

    All lowercased, rounded to 4 decimals; 0.0 on empty docs.

    Two physical strategies, identical results (pinned by test):

    - ``method='array'`` (default): per-row Catalyst array expressions,
      zero shuffle — a pure projection over the corpus scan. The top-count
      is an O(n log n) sort + run-length fold, safe for book-length docs.
    - ``method='explode'``: posexplode n-grams -> one partial-aggregated
      shuffle on (id-ish hash, gram) -> per-doc max/sum. Use when rows are
      huge enough that per-row arrays pressure executor memory (the
      100 TB long-document path); requires every metric column to be
      re-joined back, so it requires ``id_col`` — a deterministic unique
      row key (a synthetic monotonically_increasing_id would be
      re-evaluated differently on each side of the join and silently
      mis-assign metrics).
    """
    t = F.lower(F.col(text_col))
    toks = F.filter(F.split(t, r"\s+"), lambda x: x != "")
    if method == "array":
        # Stage the expensive arrays as real columns so each is built ONCE
        # per row (r13). A single collapsed Project would textually
        # duplicate the split/ngram trees into every output column (HOFs
        # are CodegenFallback — no subexpression sharing), and the old
        # withColumn chain re-built the token array ~4x and the gram array
        # ~3x per row. CollapseProject keeps a Project boundary when an
        # alias is non-cheap and referenced more than once, which every
        # stage below guarantees.
        base = df.withColumn("__rf_toks", toks)
        tk = F.col("__rf_toks")
        base = base.withColumn("__rf_grams", _word_ngrams(tk, ngram)).withColumn(
            "__rf_ntok", F.size(tk)
        )
        gr = F.col("__rf_grams")
        base = base.withColumn("__rf_st_t", _run_stats(tk)).withColumn(
            "__rf_st_g", _run_stats(gr)
        ).withColumn("__rf_ngr", F.size(gr))
        n_tok, n_gr = F.col("__rf_ntok"), F.col("__rf_ngr")
        st_t, st_g = F.col("__rf_st_t"), F.col("__rf_st_g")
        ntz = F.when(n_tok > 0, n_tok.cast("double")).otherwise(F.lit(1.0))
        ngz = F.when(n_gr > 0, n_gr.cast("double")).otherwise(F.lit(1.0))
        return (
            base.withColumn("n_tokens", n_tok.cast("long"))
            .withColumn(
                "dup_token_ratio",
                F.round(
                    F.when(n_tok > 0, 1.0 - st_t["nd"] / ntz).otherwise(0.0), 4
                ),
            )
            .withColumn(
                "top_token_ratio",
                F.round(st_t["best"].cast("double") / ntz, 4),
            )
            .withColumn(
                "dup_ngram_ratio",
                F.round(
                    F.when(n_gr > 0, 1.0 - st_g["nd"] / ngz).otherwise(0.0), 4
                ),
            )
            .withColumn(
                "top_ngram_ratio",
                F.round(st_g["best"].cast("double") / ngz, 4),
            )
            .drop("__rf_toks", "__rf_grams", "__rf_ntok", "__rf_ngr", "__rf_st_t", "__rf_st_g")
        )
    if method != "explode":
        raise ValueError(f"repetition_features: unknown method {method!r}")
    if id_col is None:
        raise ValueError("repetition_features(method='explode') requires id_col")

    base = df.withColumn("__rf_id", F.col(id_col))

    def _stats(gram_col: Column, out_prefix: str) -> DataFrame:
        ex = base.select("__rf_id", F.explode(gram_col).alias("__g"))
        per_gram = ex.groupBy("__rf_id", "__g").agg(F.count("*").alias("__c"))
        return per_gram.groupBy("__rf_id").agg(
            F.sum("__c").alias(f"{out_prefix}_n"),
            F.count("*").alias(f"{out_prefix}_distinct"),
            F.max("__c").alias(f"{out_prefix}_top"),
        )

    tok_stats = _stats(toks, "__t")
    gr_stats = _stats(_word_ngrams(toks, ngram), "__g")
    joined = (
        base.join(tok_stats, "__rf_id", "left")
        .join(gr_stats, "__rf_id", "left")
        .withColumn("n_tokens", F.coalesce(F.col("__t_n"), F.lit(0)).cast("long"))
    )
    ntz = F.when(F.col("__t_n") > 0, F.col("__t_n").cast("double")).otherwise(F.lit(1.0))
    ngz = F.when(F.col("__g_n") > 0, F.col("__g_n").cast("double")).otherwise(F.lit(1.0))
    out = (
        joined.withColumn(
            "dup_token_ratio",
            F.round(F.coalesce(1.0 - F.col("__t_distinct") / ntz, F.lit(0.0)), 4),
        )
        .withColumn("top_token_ratio", F.round(F.coalesce(F.col("__t_top") / ntz, F.lit(0.0)), 4))
        .withColumn(
            "dup_ngram_ratio",
            F.round(F.coalesce(1.0 - F.col("__g_distinct") / ngz, F.lit(0.0)), 4),
        )
        .withColumn("top_ngram_ratio", F.round(F.coalesce(F.col("__g_top") / ngz, F.lit(0.0)), 4))
    )
    return out.drop("__rf_id", "__t_n", "__t_distinct", "__t_top", "__g_n", "__g_distinct", "__g_top")


#: portable PII patterns — deliberately restricted to syntax that means the
#: same thing in Java regex (Spark) and RE2 (DuckDB/Go): char classes,
#: bounded repetition, \b word boundaries. No lookaround, no backrefs.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "phone": (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    "ip": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
}


def pii_scrub(df: DataFrame, text_col: str = "text", *, out_col: str = "text_scrubbed") -> DataFrame:
    """Redact emails, NANP-style phone numbers, and IPv4 addresses,
    appending ``out_col`` plus per-kind match counts (``n_email``,
    ``n_phone``, ``n_ip``). Pure Catalyst (regexp_count + regexp_replace)
    — a zero-shuffle projection; at 100 TB this is scan-bound.

    Order matters: emails are scrubbed before phones/IPs so a phone-shaped
    email local part (``a.b-555-010-1234@x.com``) stays ONE ``<EMAIL>``
    instead of being torn apart by ``<PHONE>``. A numeric-host address
    (``a.b@10.0.0.1``) is NOT an email — the pattern requires an alphabetic
    TLD — so its embedded IPv4 is scrubbed instead. Counts are taken on the
    same intermediate the corresponding replace sees.
    """
    t = F.col(text_col)
    order = ["email", "phone", "ip"]
    counts = {}
    cur = t
    for kind in order:
        pat, repl = PII_PATTERNS[kind]
        counts[kind] = F.regexp_count(cur, F.lit(pat))
        cur = F.regexp_replace(cur, pat, repl)
    return (
        df.withColumn(out_col, cur)
        .withColumn("n_email", counts["email"].cast("long"))
        .withColumn("n_phone", counts["phone"].cast("long"))
        .withColumn("n_ip", counts["ip"].cast("long"))
    )


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint (md5 hex — portable across engines
    for oracle checks; xxhash64 is the cheaper in-engine alternative)."""
    return F.md5(text)
