"""Text-analysis operators for the training-data pipeline: language ID,
quality scoring, token counting, document fingerprinting.

Every operator is pure Column expressions (whole-stage codegen; no UDF) and
deterministic — each has a DuckDB-oracle SQL twin in __spark_entry__.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_int60

# tiny per-language stopword marker sets for the n-gram/stopword heuristic
# language-ID (public-knowledge wordlists, truncated to high-frequency
# function words that rarely collide across these languages)
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "that", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit"],
    "fr": ["le", "la", "les", "et", "est", "que", "dans"],
    "es": ["el", "los", "las", "es", "que", "por", "una"],
}


def _tokens(text_col: str) -> Column:
    return F.split(F.trim(F.lower(F.col(text_col))), r"\s+")


def lang_id(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: score = count of marker-word hits per
    language; argmax with deterministic tie-break (alphabetical), 'und'
    (undetermined) when no marker hits."""
    toks = _tokens(text_col)
    df = documents
    for lang, markers in _LANG_MARKERS.items():
        marker_arr = F.array(*[F.lit(m) for m in markers])
        df = df.withColumn(
            f"_score_{lang}", F.size(F.array_intersect(toks, marker_arr))
        )
    # argmax via greatest + chained when (alphabetical order = tie-break)
    langs = sorted(_LANG_MARKERS)
    best = F.greatest(*[F.col(f"_score_{l}") for l in langs])
    pred: Column = F.lit("und")
    for lang in reversed(langs):
        pred = F.when((best > 0) & (F.col(f"_score_{lang}") == best), F.lit(lang)).otherwise(pred)
    return df.withColumn("lang_pred", pred).drop(
        *[f"_score_{l}" for l in langs]
    )


def quality_score(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite quality signals (Gopher/C4-style heuristics, public
    literature): length, mean word length, punctuation ratio, stopword
    ratio, alpha ratio; plus a single 0..1 score."""
    toks = _tokens(text_col)
    n_chars = F.length(F.col(text_col))
    n_tokens = F.size(toks)
    en_stop = F.array(*[F.lit(m) for m in _LANG_MARKERS["en"]])
    n_stop = F.size(F.array_intersect(toks, en_stop))
    n_punct = n_chars - F.length(F.regexp_replace(F.col(text_col), r"[.,;:!?]", ""))
    n_alpha = F.length(F.regexp_replace(F.col(text_col), r"[^A-Za-z]", ""))
    df = documents.select(
        "*",
        n_chars.alias("q_n_chars"),
        n_tokens.alias("q_n_tokens"),
        (n_chars / F.greatest(n_tokens, F.lit(1))).alias("q_mean_word_len"),
        (n_punct / F.greatest(n_chars, F.lit(1))).cast("double").alias("q_punct_ratio"),
        (n_stop / F.greatest(n_tokens, F.lit(1))).cast("double").alias("q_stopword_ratio"),
        (n_alpha / F.greatest(n_chars, F.lit(1))).cast("double").alias("q_alpha_ratio"),
    )
    score = (
        F.when((F.col("q_n_tokens") >= 5) & (F.col("q_n_tokens") <= 100000), 0.4).otherwise(0.0)
        + F.when((F.col("q_mean_word_len") >= 3) & (F.col("q_mean_word_len") <= 12), 0.2).otherwise(0.0)
        + F.when(F.col("q_alpha_ratio") >= 0.6, 0.2).otherwise(0.0)
        + F.when(F.col("q_punct_ratio") <= 0.1, 0.2).otherwise(0.0)
    )
    return df.withColumn("q_score", score.cast("double"))


def token_count_cols(text_col: str = "text") -> list:
    """The token-count metric expressions (pure columns — composable
    onto any frame carrying the text column without a join)."""
    ws = F.size(_tokens(text_col))
    runs = F.regexp_count(F.col(text_col), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"))
    return [ws.alias("ws_tokens"), runs.alias("bpe_tokens")]


def token_counts(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish subword estimate: count of
    alternating letter/digit/punct runs (regexp-based proxy for a BPE
    pre-tokenizer; deterministic and SQL-portable)."""
    return documents.select("doc_id", *token_count_cols(text_col))


def fingerprint_cols(text_col: str = "text", window: int = 8) -> list:
    """The fingerprint metric expressions (pure columns, see
    fingerprint)."""
    kgrams = F.expr(
        f"transform(sequence(1, greatest(length({text_col}) - {window - 1}, 1)),"
        f" i -> substr({text_col}, i, {window}))"
    )
    hashes = F.transform(kgrams, lambda x: md5_int60(x))
    return [
        F.array_min(hashes).alias("winnow_min"),
        md5_int60(F.col(text_col)).alias("content_hash"),
    ]


def fingerprint(documents: DataFrame, text_col: str = "text", window: int = 8) -> DataFrame:
    """Document fingerprint: rolling-hash winnowing (Schleimer et al.
    MOSS, SIGMOD'03): hash every `window`-gram (md5-based, portable),
    keep per-document min — a 1-value sketch sufficient for exact-ish
    containment grouping; plus the full-text content hash."""
    return documents.select("doc_id", *fingerprint_cols(text_col, window))


# --------------------------------------------------------------- round 2:
# corpus-hygiene operators a Common-Crawl-scale training pipeline needs
# before tokenization. All native Column expressions (codegen, no UDFs).

_PII_PATTERNS = [
    # email addresses
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # IPv4 addresses BEFORE phones (dotted digit runs would otherwise
    # match the phone pattern)
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    # international-ish phone numbers (7+ digits with separators)
    (r"\+?\d[\d\s().-]{6,}\d", "<PHONE>"),
]


def redact_pii(
    documents: DataFrame, text_col: str = "text", out_col: str | None = None
) -> DataFrame:
    """Replace emails / phone numbers / IPv4s with typed placeholder
    tokens — the standard pre-training scrub pass. Chained
    regexp_replace stays inside whole-stage codegen; at 100 TB this is a
    pure map stage with zero shuffle."""
    col = F.col(text_col)
    for pat, token in _PII_PATTERNS:
        col = F.regexp_replace(col, pat, token)
    return documents.withColumn(out_col or text_col, col)


def url_domain(url: Column) -> Column:
    """Registrable host of a URL (scheme/userinfo/port/path stripped),
    lowercased — the standard per-domain grouping key."""
    return F.lower(
        F.regexp_extract(url, r"^(?:[a-z][a-z0-9+.-]*://)?(?:[^/@]*@)?([^/:?#]+)", 1)
    )


def cap_per_domain(
    documents: DataFrame,
    url_col: str = "url",
    max_docs: int = 1000,
    order_col: str = "doc_id",
    n_salt: int = 32,
) -> DataFrame:
    """Keep at most `max_docs` documents per domain (deterministic: lowest
    `order_col` first) — bounds any single host's share of the corpus.

    Skew-safe (round-2 VERDICT finding 2): a plain row_number() over
    partitionBy(domain) ships a mega-domain's ENTIRE row set to one task
    before filtering. Instead:
      1. per-domain counts (one partial+final agg — small shuffle of keys),
      2. domains at/under the cap — the vast majority — PASS THROUGH with
         no window at all (anti join against the oversized-domain list,
         broadcast when the is_small gate allows),
      3. only oversized domains are windowed, and in two salted stages:
         stage 1 keeps the per-(domain, salt) lowest `max_docs` rows, so
         stage 2's per-domain input is bounded by n_salt * max_docs rows
         regardless of how large the mega-domain is.
    Output is identical to the single-window formulation whenever
    `order_col` is unique per domain (doc_id is)."""
    from pyspark.sql.window import Window

    from ..data_model import is_small, maybe_broadcast

    with_dom = documents.withColumn("_domain", url_domain(F.col(url_col)))
    over = (
        with_dom.groupBy("_domain")
        .agg(F.count(F.lit(1)).alias("_dn"))
        .filter(F.col("_dn") > max_docs)
        .select("_domain")
    )
    # |over| <= |corpus| / max_docs by construction — usually tiny
    over_hinted = maybe_broadcast(over, is_small(over))
    under = with_dom.join(over_hinted, on="_domain", how="left_anti")
    overflow = with_dom.join(over_hinted, on="_domain", how="left_semi")

    salted = overflow.withColumn(
        "_salt", F.pmod(F.hash(F.col(order_col)), F.lit(n_salt))
    )
    w1 = Window.partitionBy("_domain", "_salt").orderBy(F.col(order_col))
    stage1 = (
        salted.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= max_docs)
        .drop("_rn", "_salt")
    )
    w2 = Window.partitionBy("_domain").orderBy(F.col(order_col))
    capped = (
        stage1.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= max_docs)
        .drop("_rn")
    )
    return under.unionByName(capped).drop("_domain")


def repetition_ratio(
    documents: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Fraction of duplicated lines within each document (1 - distinct
    lines / lines) — the classic boilerplate/repetition quality signal.
    Array expressions only; zero shuffle."""
    lines = F.filter(F.split(F.col(text_col), "\n"), lambda s: F.trim(s) != "")
    n = F.size(lines)
    distinct_n = F.size(F.array_distinct(lines))
    return documents.withColumn(
        "repetition_ratio",
        F.when(n > 0, F.round(1.0 - distinct_n / n, 6)).otherwise(F.lit(0.0)),
    )


def _word_ngram_hashes(text_col: str, n: int) -> Column:
    """xxhash64 over each word n-gram of the normalized text (lowercase,
    punctuation stripped) — empty array when the document is shorter than
    n words. One transform() over an index sequence; each gram hashes a
    slice of the shared token array, so token normalization runs once per
    document, not once per gram."""
    toks = F.filter(
        F.split(
            F.lower(F.regexp_replace(F.col(text_col), r"[^\w\s]", " ")),
            r"\s+",
        ),
        lambda t: t != "",
    )
    return F.when(F.size(toks) >= n, F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i + 1, n))),
    )).otherwise(F.array().cast("array<bigint>"))


def decontaminate(
    documents: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    min_hits: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    benchmark_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination — the standard LLM-training-data hygiene
    step: flag every document sharing at least min_hits word n-grams
    (default 13-grams, the published GPT-3/Llama convention) with a
    benchmark/eval corpus, so evaluation text can be held out of
    training. Returns the documents with `contamination_hits` and
    `contaminated` columns appended.

    Scale posture: the benchmark side (eval suites — thousands of
    documents, not billions) reduces to DISTINCT gram hashes and is
    broadcast only when the is_small gate allows (never a blind
    hint); the corpus side explodes to (doc, gram) pairs, LEFT SEMI joins
    the benchmark grams, and aggregates hit counts partial+final. The
    corpus is never collected and never self-joined; normalization and
    hashing are pure Column expressions (no UDFs)."""
    from ..data_model import is_small, maybe_broadcast

    bench_grams = (
        benchmark.select(
            F.explode(_word_ngram_hashes(benchmark_text_col, n)).alias("_gh")
        ).distinct()
    )
    bench_grams = maybe_broadcast(bench_grams, is_small(bench_grams))
    doc_grams = documents.select(
        F.col(id_col),
        F.explode(_word_ngram_hashes(text_col, n)).alias("_gh"),
    )
    hits = (
        doc_grams.join(bench_grams, on="_gh", how="left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("contamination_hits"))
    )
    return (
        documents.join(hits, on=id_col, how="left")
        .withColumn(
            "contamination_hits",
            F.coalesce(F.col("contamination_hits"), F.lit(0)),
        )
        .withColumn(
            "contaminated", F.col("contamination_hits") >= F.lit(min_hits)
        )
    )


def chunk_documents(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 256,
    overlap: int = 32,
) -> DataFrame:
    """Fixed-size token chunking with overlap — the standard shaping step
    for training/RAG corpora. Tokens are whitespace words (the same
    convention as token_counts); chunks start every ``chunk_tokens -
    overlap`` tokens, each carrying ``overlap`` tokens of left context,
    and a trailing window that would add no NEW tokens beyond the
    overlap is dropped.

    Returns one row per chunk: id_col, chunk_id (0-based per document),
    tok_begin (0-based token offset), n_tokens, chunk_text.

    Scale posture: a narrow per-row generator — split + sequence +
    posexplode + slice are all JVM-side Column expressions, zero
    shuffle, no Python workers; output partitioning follows the input,
    so a downstream repartition is the caller's choice."""
    if overlap < 0 or chunk_tokens <= overlap:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    # split(trim(''), '\s+') yields [''] (and other whitespace-only text
    # yields several empty strings — trim strips only spaces, not tabs),
    # so drop empty tokens and zero-token documents explicitly, matching
    # build_vocab's empty-token filter: no phantom chunks
    base = (
        documents.select(
            F.col(id_col),
            F.filter(_tokens(text_col), lambda t: t != "").alias("_toks"),
        )
        .withColumn("_n", F.size("_toks"))
        .filter(F.col("_n") > 0)
    )
    out = base.select(
        id_col,
        "_toks",
        "_n",
        F.posexplode(
            F.sequence(
                F.lit(0), F.greatest(F.col("_n") - 1, F.lit(0)), F.lit(stride)
            )
        ).alias("chunk_id", "tok_begin"),
    ).filter(
        (F.col("tok_begin") == 0)
        | (F.col("tok_begin") + F.lit(overlap) < F.col("_n"))
    )
    return out.select(
        id_col,
        "chunk_id",
        "tok_begin",
        F.least(
            F.lit(chunk_tokens), F.col("_n") - F.col("tok_begin")
        ).alias("n_tokens"),
        F.array_join(
            F.slice("_toks", F.col("tok_begin") + 1, F.lit(chunk_tokens)), " "
        ).alias("chunk_text"),
    )


def build_vocab(
    documents: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    top_k: int | None = None,
) -> DataFrame:
    """Corpus token-frequency table (the vocabulary step of a tokenizer
    build): explode whitespace-lowered tokens, count per token, keep
    tokens with count >= min_count, optionally the top_k most frequent
    (ties broken by token for determinism).

    Returns DataFrame[token, count] — sorted only when top_k is set.

    Scale posture: the canonical word count — one shuffle with map-side
    partial aggregation; top_k compiles to TakeOrdered (per-partition
    heap + driver merge of k rows), never a full sort of the vocabulary."""
    counts = (
        documents.select(F.explode(_tokens(text_col)).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    if min_count > 1:
        counts = counts.filter(F.col("count") >= min_count)
    if top_k is not None:
        counts = counts.orderBy(
            F.col("count").desc(), F.col("token")
        ).limit(top_k)
    return counts


def sample_stratified(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str,
    id_col: str,
    default_rate: float = 0.0,
    seed: int = 0,
) -> DataFrame:
    """Deterministic per-stratum subsampling — the mixture-weighting step
    of a training-data pipeline (e.g. downsample boilerplate domains,
    keep all rare-language rows). A row is kept when
    ``pmod(xxhash64(id, seed), 1_000_000) < rate * 1_000_000`` for its
    stratum's rate, so the decision is a pure function of (id, seed):
    re-runs, retries, and different cluster sizes select the SAME rows —
    unlike df.sample, whose per-partition RNG changes with partitioning.

    Scale posture: a narrow filter, zero shuffle; the rate lookup is a
    when-chain over the (query-sized) rates dict, not a join."""
    expr = None
    for k, r in rates.items():
        cond = F.col(stratum_col) == k
        expr = F.when(cond, F.lit(float(r))) if expr is None else expr.when(
            cond, F.lit(float(r))
        )
    rate = expr.otherwise(F.lit(float(default_rate))) if expr is not None else F.lit(
        float(default_rate)
    )
    bucket = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(1_000_000))
    return df.filter(bucket < (rate * F.lit(1_000_000.0)).cast("bigint"))
