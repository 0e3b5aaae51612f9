"""Text-analysis operators for training-data pipelines.

All pure Catalyst expressions (split/regexp/aggregate) — no Python in
the hot path; at 100 TB these run inside whole-stage codegen next to
the parquet scan.

Cross-engine determinism: hashing uses md5 (identical in Spark and
DuckDB); ratios divide exact integer counts so the doubles match
bit-for-bit against the SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from graphdb_neo4j_spark.operators.order import checkpoint_eager

# small multilingual stopword table for the n-gram/stopword language vote
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "a"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
    "zh": ["的", "是", "了", "在", "我"],
}

_WORD_RE = r"[^\s]+"


def tokens(text: Column) -> Column:
    """Whitespace tokenization, empty tokens dropped (split on \\s+ after
    trim — matches ``regexp_split_to_array(trim(x), '\\s+')``)."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.when(F.trim(text) == "", F.lit(0)).otherwise(F.size(tokens(text)))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: splits runs of letters, digits, and
    individual punctuation (a cheap BPE stand-in for budget estimates)."""
    return F.size(
        F.filter(
            F.split(text, r"(?<=[^A-Za-z0-9])|(?=[^A-Za-z0-9])"),
            lambda t: (t != "") & (t != " "),
        )
    )


def char_len(text: Column) -> Column:
    return F.length(text)


def word_ngrams_of(text: Column, toks: Column, n: int = 3) -> Column:
    """:func:`word_ngrams` over a PRE-TOKENIZED column.  ``toks`` must
    be (a column holding) ``tokens(text)``; pass a materialized
    attribute, not the raw expression — a Catalyst lambda re-evaluates
    every outer non-attribute expression once PER ELEMENT, so inlining
    ``tokens(text)`` here costs O(n_tokens²) regex splits per row (the
    r10 profile charged ~60 % of the curation pipeline's CPU to exactly
    that).  Values are identical either way."""
    cnt = F.size(toks) - F.lit(n - 1)
    return F.when(
        (F.trim(text) == "") | (cnt < 1), F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), cnt),
            lambda i: F.array_join(F.slice(toks, i, F.lit(n)), " "),
        )
    )


def word_ngrams(text: Column, n: int = 3) -> Column:
    """Word n-grams of the whitespace-tokenized text, space-joined, in
    order, duplicates kept (array<string>).  Texts with fewer than n
    tokens produce an empty array (guarded: Spark's ``sequence(1, 0)``
    DESCENDS instead of returning empty).  Mirrors the DuckDB idiom
    ``list_transform(range(1, len(t)-n+2), i -> array_to_string(t[i:i+n-1], ' '))``.

    NOTE the inner tokenization is re-evaluated per n-gram element by
    Catalyst (lambda bodies see expressions, not values) — hot paths
    should tokenize into a column once and use :func:`word_ngrams_of`.
    """
    return word_ngrams_of(text, tokens(text), n)


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Within-document repetition signals (Gopher-style quality filters):

    * ``n_tokens`` — whitespace token count;
    * ``distinct_token_ratio`` — distinct tokens / tokens (type-token
      ratio; low = repetitive);
    * ``dup_bigram_ratio`` — 1 − distinct bigrams / bigrams (high =
      repeated phrases).

    Pure map-side codegen projections next to the scan — no shuffle, no
    UDF; at 100 TB this is a projection chain fused into the parquet
    read.  Empty / one-token documents get 0.0 ratios (guarded on both
    the Spark and oracle side).

    The token and bigram arrays are materialized into intermediate
    columns (r10): every stat then reads the ATTRIBUTE instead of
    re-evaluating the regex split per reference (and per lambda
    element) — values bit-identical, per-row work O(len) instead of
    O(len²).  CollapseProject keeps the stages separate because the
    hoisted arrays are non-cheap and multiply referenced.
    """
    t = F.col(text_col)
    toks = F.col("__rs_toks")
    bigrams = F.col("__rs_bi")
    n_tok = F.when(F.trim(t) == "", F.lit(0)).otherwise(F.size(toks))
    n_bi = F.size(bigrams)
    return (
        df.withColumns({"__rs_toks": tokens(t)})
        .withColumns({"__rs_bi": word_ngrams_of(t, toks, 2)})
        .withColumns(
            {
                "n_tokens": n_tok.cast("bigint"),
                "distinct_token_ratio": F.when(
                    n_tok == 0, F.lit(0.0)
                ).otherwise(
                    F.size(F.array_distinct(toks)).cast("double") / n_tok
                ),
                "dup_bigram_ratio": F.when(n_bi <= 0, F.lit(0.0)).otherwise(
                    F.lit(1.0)
                    - F.size(F.array_distinct(bigrams)).cast("double") / n_bi
                ),
            }
        )
        .drop("__rs_toks", "__rs_bi")
    )


def tfidf_top_terms(
    df: DataFrame, k: int = 5, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document:
    ``(doc_id, term, tf, dfreq, tfidf)``.

    ``tf`` = in-document term count, ``dfreq`` = number of documents
    containing the term, ``tfidf = round(tf · ln((N+1)/(dfreq+1)), 6)``
    (smoothed idf).  Ranking is on the ROUNDED score with a term-name
    tiebreak so both engines rank identical values identically.

    100 TB shape: two hash-aggregates with map-side partial combine —
    (id, term) for tf, then (term) for dfreq computed FROM the tf
    aggregate (no second corpus scan).  The tf⋈dfreq join shuffles on
    the term key (AQE handles stop-word skew; a df-capped vocabulary
    prune is the manual fallback), and the final per-doc top-k is one
    window over the id partition.  The corpus itself is scanned once.
    """
    n_docs = df.groupBy().agg(F.count("*").alias("n_docs"))
    toks = (
        df.repartition(df.sparkSession.sparkContext.defaultParallelism)
        .filter(F.trim(F.col(text_col)) != "")
        .select(
            F.col(id_col).alias("id"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
        )
    )
    tf = toks.groupBy("id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("dfreq"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col("id").alias(id_col),
            "term",
            "tf",
            "dfreq",
            F.round(
                F.col("tf")
                * F.log(
                    (F.col("n_docs") + F.lit(1.0)) / (F.col("dfreq") + F.lit(1.0))
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """RAG-style overlapping chunking on whitespace-token boundaries:
    ``(doc_id, chunk_id, tok_start, n_chunk_tokens, chunk_text)``.

    Chunk ``c`` covers tokens ``[c·step + 1, c·step + chunk_tokens]``
    (1-based, ``step = chunk_tokens − overlap``); the number of chunks
    is ``max(1, ceil((n_tok − overlap) / step))`` so every token is
    covered and the final chunk may be short.  Empty documents produce
    no chunks.

    Pure map-side explode fused into the scan — no shuffle, no UDF; at
    100 TB this runs at parquet-read speed and the output inherits the
    input partitioning.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    step = chunk_tokens - overlap
    t = F.col("__toks")
    n_tok = F.size(t)
    # floor() explicitly on BOTH engines: Spark's double→int cast
    # truncates but DuckDB's ROUNDS, so the oracle must mirror floor
    n_chunks = F.greatest(
        F.lit(1),
        F.floor(((n_tok - F.lit(overlap)) + F.lit(step - 1)) / F.lit(step)),
    ).cast("int")
    start = F.col("__c") * F.lit(step) + F.lit(1)
    piece = F.slice(t, start, F.lit(chunk_tokens))
    return (
        df.filter(F.trim(F.col(text_col)) != "")
        .select(
            F.col(id_col),
            tokens(F.col(text_col)).alias("__toks"),
        )
        .select(
            id_col,
            "__toks",
            F.explode(F.sequence(F.lit(0), n_chunks - F.lit(1))).alias("__c"),
        )
        .select(
            id_col,
            F.col("__c").alias("chunk_id"),
            start.alias("tok_start"),
            F.size(piece).alias("n_chunk_tokens"),
            F.array_join(piece, " ").alias("chunk_text"),
        )
    )


def punct_ratio(text: Column) -> Column:
    """punctuation chars / total chars (0.0 for empty)."""
    total = F.length(text)
    punct = total - F.length(F.regexp_replace(text, r"[\p{Punct}]", ""))
    return F.when(total == 0, F.lit(0.0)).otherwise(punct / total)


def stopword_ratio_of(
    ltoks: Column, stopwords: list[str] | None = None
) -> Column:
    """:func:`stopword_ratio` over a PRE-TOKENIZED lowered-token column
    (``tokens(lower(text))``); pass an attribute so the split is not
    re-evaluated per reference."""
    sw = stopwords if stopwords is not None else LANG_STOPWORDS["en"]
    hits = F.size(F.filter(ltoks, lambda t: t.isin(*sw)))
    n = F.size(ltoks)
    return F.when(n == 0, F.lit(0.0)).otherwise(hits / n)


def stopword_ratio(text: Column, stopwords: list[str] | None = None) -> Column:
    return stopword_ratio_of(tokens(F.lower(text)), stopwords)


def quality_score_of(text: Column, toks: Column, ltoks: Column) -> Column:
    """:func:`quality_score` over pre-tokenized raw/lowered token
    columns (attributes — see :func:`word_ngrams_of` for why)."""
    n_tok = F.when(F.trim(text) == "", F.lit(0)).otherwise(F.size(toks))
    len_ok = (n_tok >= 10) & (n_tok <= 100000)
    punct_ok = punct_ratio(text) < 0.3
    sw_ok = stopword_ratio_of(ltoks) > 0.01
    return (
        len_ok.cast("int") + punct_ok.cast("int") + sw_ok.cast("int")
    ) / F.lit(3.0)


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + low punctuation +
    some stopwords (the classic Gopher-style trio, simplified)."""
    return quality_score_of(text, tokens(text), tokens(F.lower(text)))


def lang_scores_of(ltoks: Column) -> list[tuple[str, Column]]:
    """Per-language stopword-hit counts over a pre-tokenized
    lowered-token column, sorted by language code."""
    return [
        (code, F.size(F.filter(ltoks, lambda t: t.isin(*sw))))
        for code, sw in sorted(LANG_STOPWORDS.items())
    ]


def lang_guess_from_scores(scores: list[tuple[str, Column]]) -> Column:
    """Argmax over already-computed per-language hit columns, ties
    broken by language code order; 'und' when no hits.  Pass ATTRIBUTE
    columns: the when-chain references every score ~3×, so inline
    score expressions get re-evaluated per reference."""
    best = F.greatest(*[s for _, s in scores])
    guess = F.lit("und")
    for code, s in reversed(scores):  # earlier codes win ties → apply last
        guess = F.when((s == best) & (best > 0), F.lit(code)).otherwise(guess)
    return guess


def lang_guess(text: Column) -> Column:
    """Stopword-vote language ID: argmax over per-language stopword hits,
    ties broken by language code order; 'und' when no hits."""
    return lang_guess_from_scores(lang_scores_of(tokens(F.lower(text))))


def shingles_all(text: Column, n: int = 3) -> Column:
    """All character n-grams of the lowercased text, in order, duplicates
    kept (array<string>).  Texts shorter than n produce an empty array.
    Prefer this + a relational ``distinct`` over :func:`shingles` when
    the array is about to be exploded — ``array_distinct`` is O(len²)
    per row and shows up hard on long documents."""
    lowered = F.lower(text)
    count = F.length(lowered) - F.lit(n - 1)
    # guarded: Spark's sequence(1, 0) DESCENDS instead of returning
    # empty, so an unguarded short text would emit two bogus shingles
    return F.when(count < 1, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), count),
            lambda i: F.substring(lowered, i, F.lit(n)),
        )
    )


def exploded_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, sh) — one row per character n-gram, duplicates kept.

    Relational formulation of ``explode(shingles_all(...))``: lower the
    text ONCE into a column, explode a position sequence, then one
    codegen'd substring per row.  The higher-order-transform variant
    re-evaluates the outer ``lower(text)`` expression per array element
    (O(len²) per document) — measured ~10× slower on a 1.5M-shingle
    corpus.  Texts shorter than n produce no rows.
    """
    # the shingle-count guard must FILTER, not rely on sequence(1, 0):
    # Spark's two-arg sequence is descending when stop < start, so a
    # text shorter than n would wrongly emit positions [1, 0] (and a
    # NULL text a NULL shingle) instead of no rows
    return (
        df.repartition(df.sparkSession.sparkContext.defaultParallelism)
        .select(F.col(id_col).alias("id"), F.lower(F.col(text_col)).alias("__lt"))
        .withColumn(
            "__cnt", F.greatest(F.length("__lt") - F.lit(n - 1), F.lit(0))
        )
        .filter(F.col("__cnt") >= 1)
        .select(
            "id",
            "__lt",
            F.explode(F.sequence(F.lit(1), F.col("__cnt"))).alias("__i"),
        )
        .select("id", F.expr(f"substring(__lt, __i, {int(n)})").alias("sh"))
    )


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct character n-grams of the lowercased text (array<string>).
    Texts shorter than n produce an empty array."""
    return F.array_distinct(shingles_all(text, n))


def fingerprint_of(lowered: Column, n: int = 8) -> Column:
    """:func:`fingerprint` over a PRE-LOWERED text column (pass an
    attribute holding ``lower(text)``).  Skips the former
    ``array_distinct`` — the minimum over a multiset equals the
    minimum over its set, so deduping before ``array_min`` was O(len²)
    pure overhead.  Values identical."""
    count = F.length(lowered) - F.lit(n - 1)
    all_hashes = F.when(
        count < 1, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), count),
            lambda i: F.md5(F.substring(lowered, i, F.lit(n))),
        )
    )
    return F.array_min(all_hashes)


def fingerprint(text: Column, n: int = 8) -> Column:
    """Winnowing-style document fingerprint: the minimum md5 over the
    text's character n-grams (deterministic, portable to SQL as
    ``min(md5(shingle))``); NULL for texts shorter than n."""
    return fingerprint_of(F.lower(text), n)


# --- normalization / scrubbing (training-data cleanup) ---------------------
# Patterns stay in the RE2 ∩ Java-regex common dialect so the SQL oracle
# (DuckDB/RE2) and Catalyst (Java) agree byte-for-byte.

URL_RE = r"https?://[^\s]+"
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"


def strip_urls(text: Column) -> Column:
    """Remove http(s) URLs (replaced with a space so adjacent tokens
    don't fuse)."""
    return F.regexp_replace(text, URL_RE, " ")


def mask_emails(text: Column) -> Column:
    """Replace e-mail addresses with the ``<email>`` sentinel — the
    cheap PII scrub every public-corpus pipeline applies."""
    return F.regexp_replace(text, EMAIL_RE, "<email>")


IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\+\d{1,3}[ -]\d{3}[ -]\d{4}\b"
SSN_RE = r"\b\d{3}-\d{2}-\d{4}\b"

# scrub order matters (emails contain dots/digits; SSNs before the
# looser phone shape); counts are taken on the RAW text so they are
# independent of replacement order
_PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", EMAIL_RE, "<email>"),
    ("ssn", SSN_RE, "<ssn>"),
    ("ipv4", IPV4_RE, "<ip>"),
    ("phone", PHONE_RE, "<phone>"),
]


def pii_scrub(
    df: DataFrame, text_col: str = "text", keep_cols: list[str] | None = None
) -> DataFrame:
    """PII scrub pass — the redaction stage of a public-corpus training
    pipeline (C4/CCNet-style): masks e-mails, SSN-shaped ids, IPv4
    addresses, and international-format phone numbers with typed
    sentinels, and emits per-document match counts for audit.

    Every pattern uses only constructs with identical semantics in
    Java regex (Spark codegen) and RE2 (the DuckDB oracle): character
    classes, bounded quantifiers, ``\\b`` — so the SQL mirror
    reproduces both counts and masked text byte-for-byte.  Pure
    ``regexp_count``/``regexp_replace`` next to the scan: no UDF, no
    shuffle, trivially pipeline-parallel at any scale.

    Returns ``keep_cols`` + ``{text_col}_scrubbed`` +
    ``n_email/n_ssn/n_ipv4/n_phone``.
    """
    t = F.col(text_col)
    cols = list(keep_cols or [c for c in df.columns if c != text_col])
    out_cols: list[Column] = [F.col(c) for c in cols]
    scrubbed = t
    for name, pat, repl in _PII_PATTERNS:
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    out_cols.append(scrubbed.alias(f"{text_col}_scrubbed"))
    for name, pat, _ in _PII_PATTERNS:
        out_cols.append(
            F.regexp_count(t, F.lit(pat)).cast("bigint").alias(f"n_{name}")
        )
    return df.select(*out_cols)


def pii_scrub_sql(text_sql: str) -> dict[str, str]:
    """DuckDB SQL fragments mirroring :func:`pii_scrub` on a text
    expression: ``{"scrubbed": ..., "n_email": ..., ...}``."""
    scrubbed = text_sql
    for name, pat, repl in _PII_PATTERNS:
        escaped = pat.replace("'", "''")
        scrubbed = f"regexp_replace({scrubbed}, '{escaped}', '{repl}', 'g')"
    out = {"scrubbed": scrubbed}
    for name, pat, _ in _PII_PATTERNS:
        escaped = pat.replace("'", "''")
        out[f"n_{name}"] = (
            f"CAST(len(regexp_extract_all({text_sql}, '{escaped}')) AS BIGINT)"
        )
    return out


def collapse_whitespace(text: Column) -> Column:
    return F.trim(F.regexp_replace(text, r"\s+", " "))


def normalize_text(text: Column) -> Column:
    """strip URLs → mask e-mails → collapse whitespace; pure codegen
    (three regexp passes next to the scan, no UDF)."""
    return collapse_whitespace(mask_emails(strip_urls(text)))


def count_pattern(text: Column, pattern: str) -> Column:
    """Occurrences of ``pattern`` — ``split`` produces n+1 pieces for n
    matches, identical logic in the SQL oracle."""
    return F.size(F.split(text, pattern)) - F.lit(1)


# --- HTML → text (crawl-response cleanup) -----------------------------------
# The step between a raw WARC "response" record and text curation:
# deterministic tag stripping, PURE Catalyst codegen (a chain of
# regexp_replace/replace expressions next to the scan — zero UDF, so a
# 100 TB pass stays whole-stage-generated).  Patterns live in the
# RE2 ∩ Java-regex common dialect (no \s, no backrefs, no lookaround)
# so the DuckDB oracle applies the byte-identical chain; block-level
# closing tags become newlines to preserve paragraph structure for the
# downstream chunkers.  Entity decoding covers the fixed named set
# below — numeric &#NNN; forms are out of scope (documented), as is
# full HTML5 tree correction: this is crawl cleanup, not a browser.

_HTML_STEPS: list[tuple[str, str]] = [
    (r"(?is)<!--.*?-->", " "),
    (r"(?is)<script[^>]*>.*?</script[ \t\r\n]*>", " "),
    (r"(?is)<style[^>]*>.*?</style[ \t\r\n]*>", " "),
    (r"(?is)<noscript[^>]*>.*?</noscript[ \t\r\n]*>", " "),
    (r"(?i)<(br|hr)[^>]*>", "\n"),
    (
        r"(?i)</(p|div|li|ul|ol|h1|h2|h3|h4|h5|h6|tr|table|blockquote|pre)>",
        "\n",
    ),
    (r"(?s)<[^>]*>", " "),
    # whitespace discipline: explicit classes, never \s (Java includes
    # \x0B in \s, RE2 does not — the one dialect divergence that bites)
    (r"[ \t\r]+", " "),
    (r"[ ]*\n[ ]*", "\n"),
    (r"\n\n+", "\n\n"),
    (r"^[ \n]+", ""),
    (r"[ \n]+$", ""),
]

# order matters: &amp; must decode LAST or it re-creates entities
_HTML_ENTITIES: list[tuple[str, str]] = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&amp;", "&"),
]

_HREF_RE = r"""(?i)href[ \t]*=[ \t]*["']([^"'>]+)"""


def html_to_text(text: Column) -> Column:
    """Visible text of an HTML document: comments and
    script/style/noscript blocks die, block-level closing tags become
    newlines, remaining tags become spaces, the fixed named-entity set
    decodes, whitespace collapses.  One codegen chain, no UDF."""
    out = text
    for pat, rep in _HTML_STEPS[:7]:
        out = F.regexp_replace(out, pat, rep)
    for ent, ch in _HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    for pat, rep in _HTML_STEPS[7:]:
        out = F.regexp_replace(out, pat, rep)
    return out


def extract_links(text: Column) -> Column:
    """array<string> of href targets, document order (crawl-graph
    edges before any parse tree exists)."""
    return F.regexp_extract_all(text, F.lit(_HREF_RE), 1)


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def html_to_text_sql(expr: str) -> str:
    """DuckDB mirror of :func:`html_to_text` — the SAME pattern chain
    (RE2 ∩ Java dialect) with the 'g' flag RE2 needs for global
    replacement; newlines spliced as chr(10) so the SQL literal stays
    escape-free."""
    out = expr
    for i, (pat, rep) in enumerate(_HTML_STEPS):
        rep_sql = "chr(10)" if rep == "\n" else _sql_quote(rep)
        out = f"regexp_replace({out}, {_sql_quote(pat)}, {rep_sql}, 'g')"
        if i == 6:  # entities decode between tag-strip and whitespace
            for ent, ch in _HTML_ENTITIES:
                out = f"replace({out}, {_sql_quote(ent)}, {_sql_quote(ch)})"
    return out


def extract_links_sql(expr: str) -> str:
    """DuckDB mirror of :func:`extract_links`."""
    return f"regexp_extract_all({expr}, {_sql_quote(_HREF_RE)}, 1)"


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    # tokenize/lower ONCE into attributes, then compute every stat from
    # them (see word_ngrams_of for the per-reference re-evaluation trap)
    t = F.col(text_col)
    toks, ltoks, lt = F.col("__ts_toks"), F.col("__ts_ltoks"), F.col("__ts_lt")
    pre = df.withColumns(
        {
            "__ts_toks": tokens(t),
            "__ts_ltoks": tokens(F.lower(t)),
            "__ts_lt": F.lower(t),
        }
    )
    scored = pre.withColumns(
        {f"__ts_s_{code}": s for code, s in lang_scores_of(ltoks)}
    )
    lang = lang_guess_from_scores(
        [
            (code, F.col(f"__ts_s_{code}"))
            for code in sorted(LANG_STOPWORDS)
        ]
    )
    return scored.withColumns(
        {
            "n_tokens": F.when(F.trim(t) == "", F.lit(0)).otherwise(
                F.size(toks)
            ),
            "n_chars_calc": char_len(t),
            "punct_ratio": punct_ratio(t),
            "stopword_ratio": stopword_ratio_of(ltoks),
            "quality": quality_score_of(t, toks, ltoks),
            "lang_guess": lang,
            "fingerprint": fingerprint_of(lt),
        }
    ).drop(
        "__ts_toks",
        "__ts_ltoks",
        "__ts_lt",
        *[f"__ts_s_{code}" for code in sorted(LANG_STOPWORDS)],
    )


def quality_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 10,
    min_mean_word_len: float = 2.5,
    max_mean_word_len: float = 12.0,
    max_dup_bigram_ratio: float = 0.30,
    max_punct_ratio: float = 0.50,
    min_stopword_hits: int = 2,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Composite Gopher/C4-style document quality gate:
    ``(doc_id, n_tokens, mean_word_len, dup_bigram_ratio, stop_hits,
    flag_short, flag_word_len, flag_repeat, flag_punct, flag_stopword,
    passed)``.

    Rules (each an INT flag, 1 = reject signal):

    * ``flag_short``    — fewer than ``min_tokens`` whitespace tokens;
    * ``flag_word_len`` — mean token length outside
      [``min_mean_word_len``, ``max_mean_word_len``] (garbled or
      boilerplate text);
    * ``flag_repeat``   — duplicated-bigram ratio above
      ``max_dup_bigram_ratio`` (template/repetition);
    * ``flag_punct``    — punctuation chars above ``max_punct_ratio``
      of all chars;
    * ``flag_stopword`` — fewer than ``min_stopword_hits`` DISTINCT
      English stopwords present (non-linguistic content).

    ``passed`` = 1 iff no flag fires.  Every signal is a pure Catalyst
    expression over the tokenized text — the 100 TB plan is a chain of
    map-side projections with no shuffle and no UDF, and every ratio
    divides exact integer counts so the doubles (and therefore the
    flags) are bit-identical to the SQL oracle.

    r10: the token/bigram arrays and every heavy scalar are hoisted
    into materialized intermediate columns, so each regex split, array
    build and array scan runs ONCE per row — the previous single
    fused projection re-evaluated ``tokens(text)`` per reference and
    (inside the bigram lambda) per element, O(n_tokens²) per row,
    measured as the dominant CPU term of the curation pipeline at
    sf0.1.  Values are bit-identical; CollapseProject keeps the stages
    apart because the hoisted columns are non-cheap and multiply
    referenced.

    ``keep_cols`` (r11): extra input columns carried through the chain
    and appended to the output — lets a pipeline attach the verdict to
    the text (or audit columns) WITHOUT an id self-join of two full-
    text frames (the old ``docs.join(quality_filter(docs), id)`` in
    pipeline.curate shuffled the corpus text a second time just to
    re-attach it).  ``text_col`` itself is allowed in ``keep_cols`` and
    re-emitted from the already-carried attribute, not recomputed.
    """
    t = F.col(text_col)
    keep = [c for c in (keep_cols or []) if c != text_col]
    keep_text = keep_cols is not None and text_col in keep_cols
    sw = LANG_STOPWORDS["en"]
    toks = F.col("__qf_toks")
    bigrams = F.col("__qf_bi")
    # stage 1: tokenize once (raw + lowered); stage 2: bigram array
    # from the token ATTRIBUTE (lambda sees an attribute, not a split)
    pre = df.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        t.alias("__qf_t"),
        tokens(t).alias("__qf_toks"),
        tokens(F.lower(t)).alias("__qf_ltoks"),
    )
    tt = F.col("__qf_t")
    mid = pre.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        "__qf_t",
        "__qf_toks",
        "__qf_ltoks",
        word_ngrams_of(tt, toks, 2).alias("__qf_bi"),
    )
    # stage 3: every heavy scalar exactly once
    n_tok = F.when(F.trim(tt) == "", F.lit(0)).otherwise(F.size(toks))
    scal = mid.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        *([tt.alias("__qf_t")] if keep_text else []),
        n_tok.alias("__n_tok"),
        F.aggregate(toks, F.lit(0), lambda a, x: a + F.length(x)).alias(
            "__char_sum"
        ),
        F.size(bigrams).alias("__n_bi"),
        F.size(F.array_distinct(bigrams)).alias("__n_bi_distinct"),
        F.size(
            F.array_intersect(
                F.col("__qf_ltoks"), F.array(*[F.lit(s) for s in sw])
            )
        ).alias("__stop_hits"),
        punct_ratio(tt).alias("__p_ratio"),
    )
    # stage 4: cheap arithmetic over the scalar attributes
    n_tok = F.col("__n_tok")
    mean_wl = F.when(n_tok == 0, F.lit(0.0)).otherwise(
        F.col("__char_sum").cast("double") / n_tok
    )
    n_bi = F.col("__n_bi")
    dup_bi = F.when(n_bi <= 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.col("__n_bi_distinct").cast("double") / n_bi
    )
    stop_hits = F.col("__stop_hits")
    p_ratio = F.col("__p_ratio")
    flag_short = (n_tok < min_tokens).cast("int")
    flag_word_len = (
        (n_tok > 0)
        & ((mean_wl < min_mean_word_len) | (mean_wl > max_mean_word_len))
    ).cast("int")
    flag_repeat = (dup_bi > max_dup_bigram_ratio).cast("int")
    flag_punct = (p_ratio > max_punct_ratio).cast("int")
    flag_stopword = (stop_hits < min_stopword_hits).cast("int")
    return scal.select(
        F.col(id_col),
        n_tok.cast("bigint").alias("n_tokens"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(dup_bi, 6).alias("dup_bigram_ratio"),
        stop_hits.cast("bigint").alias("stop_hits"),
        flag_short.alias("flag_short"),
        flag_word_len.alias("flag_word_len"),
        flag_repeat.alias("flag_repeat"),
        flag_punct.alias("flag_punct"),
        flag_stopword.alias("flag_stopword"),
        (
            (flag_short + flag_word_len + flag_repeat + flag_punct + flag_stopword)
            == 0
        ).cast("int").alias("passed"),
        *[F.col(c) for c in keep],
        *([F.col("__qf_t").alias(text_col)] if keep_text else []),
    )


def bpe_learn(
    df: DataFrame,
    num_merges: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """(step, left, right, merged, pair_count) — byte-pair-encoding
    vocabulary induction over the corpus, the standard subword-tokenizer
    training loop (Sennrich et al. 2016), distributed:

    1. aggregate the corpus to a (word, count) table — vocabulary-sized,
       NOT corpus-sized: 100 TB of text collapses to a few million rows
       and every later step runs on that table;
    2. split words into character symbols + a ``</w>`` end marker;
    3. per merge step: count adjacent symbol pairs (weighted by word
       count, overlapping pairs counted, the reference convention),
       take the most frequent (ties → lexicographically smallest, so
       the result is deterministic), fetch that ONE row to the driver,
       and fold the merge into every word's symbol array with a
       left-to-right greedy ``aggregate`` (non-overlapping application,
       e.g. merging (a,a) turns ``aaaa`` into ``aa aa``);
    4. repeat.

    Each step is one vocabulary-table shuffle + a 1-row driver fetch +
    a map-side array fold; a freeze per step truncates the lineage
    and releases the previous step's vocabulary.  The merge table IS the tokenizer artifact.
    """
    spark = df.sparkSession
    words = (
        df.filter(F.trim(F.col(text_col)) != "")
        .select(F.explode(tokens(F.lower(F.col(text_col)))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    w = F.col("word")
    syms = F.concat(
        F.transform(
            F.sequence(F.lit(1), F.length(w)), lambda i: F.substring(w, i, F.lit(1))
        ),
        F.array(F.lit("</w>")),
    )
    vocab, handle = checkpoint_eager(words.select("cnt", syms.alias("syms")))
    merges = []
    for step in range(1, num_merges + 1):
        pairs = (
            vocab.filter(F.size("syms") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("syms") - 1),
                        lambda i: F.struct(
                            F.element_at("syms", i).alias("l"),
                            F.element_at("syms", i + 1).alias("r"),
                        ),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("pair_count"))
        )
        top = pairs.orderBy(F.col("pair_count").desc(), "l", "r").limit(1).collect()
        if not top:
            break
        l, r, cnt = top[0]["l"], top[0]["r"], top[0]["pair_count"]
        merges.append((step, l, r, l + r, cnt))
        ll, rr = F.lit(l), F.lit(r)
        folded = F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0) & (F.element_at(acc, -1) == ll) & (x == rr),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.concat(ll, rr))
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        vocab, nxt = checkpoint_eager(vocab.select("cnt", folded.alias("syms")))
        handle.release()
        handle = nxt
    handle.release()
    return spark.createDataFrame(
        merges, ["step", "left", "right", "merged", "pair_count"]
    )


def bpe_encode_words(words: DataFrame, merges_df: DataFrame) -> DataFrame:
    """(word, syms) — apply a learned merge table (:func:`bpe_learn`'s
    output) to a word vocabulary, replaying every merge in step order
    with the SAME left-to-right greedy non-overlapping fold used during
    learning, so encode(learn-corpus) reproduces the training-time
    segmentation exactly.  Vocabulary-sized work: each merge is one
    map-side array fold over the (distinct-word) table, never the
    corpus.  Words must be non-empty (the :func:`bpe_learn` universe).
    """
    merges = [
        (r["left"], r["right"])
        for r in merges_df.orderBy("step").select("left", "right").collect()
    ]
    w = F.col("word")
    syms = F.concat(
        F.transform(
            F.sequence(F.lit(1), F.length(w)), lambda i: F.substring(w, i, F.lit(1))
        ),
        F.array(F.lit("</w>")),
    )
    vocab, handle = checkpoint_eager(words.select("word", syms.alias("syms")))
    for l, r in merges:
        ll, rr = F.lit(l), F.lit(r)
        folded = F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0) & (F.element_at(acc, -1) == ll) & (x == rr),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.concat(ll, rr))
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        vocab, nxt = checkpoint_eager(vocab.select("word", folded.alias("syms")))
        handle.release()
        handle = nxt
    return vocab


def bpe_encode(
    df: DataFrame,
    merges_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, bpe_tokens) — encode each document with a learned BPE merge
    table: the tokenizer-apply stage the merge table exists for.

    100 TB shape: the expensive merge replay runs ONCE per distinct
    word (:func:`bpe_encode_words` — vocabulary-sized), then the corpus
    is one posexplode + equi-join + ordered reassembly (array_sort on
    (pos, syms) structs, flatten).  The corpus-side shuffle carries
    (id, pos, word) and the joined symbol arrays; no per-document merge
    folds.  Empty/whitespace documents encode to an empty array.
    """
    ids = df.select(F.col(id_col).alias("id")).distinct()
    exploded = (
        df.filter(F.trim(F.col(text_col)) != "")
        .select(
            F.col(id_col).alias("id"),
            F.posexplode(tokens(F.lower(F.col(text_col)))).alias("pos", "word"),
        )
    )
    encoded = bpe_encode_words(
        exploded.select("word").distinct(), merges_df
    )
    per_doc = (
        exploded.join(encoded, "word")
        .groupBy("id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "syms"))),
                    lambda s: s["syms"],
                )
            ).alias("bpe_tokens")
        )
    )
    return ids.join(per_doc, "id", "left").select(
        "id",
        F.coalesce(
            F.col("bpe_tokens"), F.array().cast("array<string>")
        ).alias("bpe_tokens"),
    )


def bpe_token_counts(
    df: DataFrame,
    merges_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_tokens) — per-document BPE token counts under a learned
    merge table, without materializing the token arrays: per-word
    symbol counts join the exploded corpus and sum per document.  The
    real-tokenizer replacement for the :func:`bpe_ish_token_count`
    heuristic in packing/budgeting pipelines."""
    ids = df.select(F.col(id_col).alias("id")).distinct()
    exploded = (
        df.filter(F.trim(F.col(text_col)) != "")
        .select(
            F.col(id_col).alias("id"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("word"),
        )
    )
    word_counts = bpe_encode_words(
        exploded.select("word").distinct(), merges_df
    ).select("word", F.size("syms").alias("n_syms"))
    per_doc = (
        exploded.join(word_counts, "word")
        .groupBy("id")
        .agg(F.sum("n_syms").alias("n_tokens"))
    )
    return ids.join(per_doc, "id", "left").select(
        "id", F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint").alias("n_tokens")
    )


# fixed demo weights for the linear quality scorer (a trained model
# would broadcast its own); order: [log_tokens, mean_word_len,
# dup_bigram_ratio, punct_ratio, stopword_ratio, bias]
QUALITY_WEIGHTS = [0.15, 0.08, -1.2, -0.9, 2.0, -0.5]


def quality_feature_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    weights: list[float] | None = None,
) -> DataFrame:
    """(doc_id, f_log_tokens, f_mean_word_len, f_dup_bigram,
    f_punct, f_stopword, score) — the quality-classifier feature vector
    as ONE wide projection plus a broadcast-weight linear score.

    This is the standard shape for model-based corpus filtering at
    scale: features are pure Catalyst expressions fused into the scan,
    the model is a handful of literals (or a broadcast array for a real
    trained model), and the score is a fixed-association dot product —
    so the whole classifier runs inside whole-stage codegen with no
    Python and no shuffle, and the doubles are bit-identical to the SQL
    oracle (each feature divides exact integer counts; the dot product
    adds terms in a fixed left-to-right order).
    """
    t = F.col(text_col)
    # tokens/bigrams hoisted into attribute columns (r10, see
    # word_ngrams_of) — values identical, O(len) per row
    toks = F.col("__fv_toks")
    pre = df.select(
        F.col(id_col),
        t.alias("__fv_t"),
        tokens(t).alias("__fv_toks"),
        tokens(F.lower(t)).alias("__fv_ltoks"),
    )
    tt = F.col("__fv_t")
    mid = pre.select(
        F.col(id_col),
        "__fv_t",
        "__fv_toks",
        "__fv_ltoks",
        word_ngrams_of(tt, toks, 2).alias("__fv_bi"),
    )
    bigrams = F.col("__fv_bi")
    n_tok = F.when(F.trim(tt) == "", F.lit(0)).otherwise(F.size(toks))
    char_sum = F.aggregate(toks, F.lit(0), lambda a, x: a + F.length(x))
    mean_wl = F.when(n_tok == 0, F.lit(0.0)).otherwise(
        char_sum.cast("double") / n_tok
    )
    n_bi = F.size(bigrams)
    dup_bi = F.when(n_bi <= 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(bigrams)).cast("double") / n_bi
    )
    p_ratio = punct_ratio(tt)
    sw_ratio = stopword_ratio_of(F.col("__fv_ltoks"))
    log_tok = F.log(F.lit(1.0) + n_tok.cast("double"))
    # heavy scalars once, then the cheap dot product over attributes
    scal = mid.select(
        F.col(id_col),
        log_tok.alias("__f_lt"),
        mean_wl.alias("__f_wl"),
        dup_bi.alias("__f_db"),
        p_ratio.alias("__f_pr"),
        sw_ratio.alias("__f_sw"),
    )
    w = QUALITY_WEIGHTS if weights is None else list(weights)
    score = (
        F.lit(w[0]) * F.col("__f_lt")
        + F.lit(w[1]) * F.col("__f_wl")
        + F.lit(w[2]) * F.col("__f_db")
        + F.lit(w[3]) * F.col("__f_pr")
        + F.lit(w[4]) * F.col("__f_sw")
        + F.lit(w[5])
    )
    return scal.select(
        F.col(id_col),
        F.round(F.col("__f_lt"), 6).alias("f_log_tokens"),
        F.round(F.col("__f_wl"), 6).alias("f_mean_word_len"),
        F.round(F.col("__f_db"), 6).alias("f_dup_bigram"),
        F.round(F.col("__f_pr"), 6).alias("f_punct"),
        F.round(F.col("__f_sw"), 6).alias("f_stopword"),
        F.round(score, 6).alias("score"),
    )


def fuzzy_match_pairs(
    df: DataFrame, col: str, max_dist: int = 2
) -> DataFrame:
    """Fuzzy self-match over a string column: (val_a, val_b, dist) for
    distinct value pairs with ``levenshtein(val_a, val_b) <= max_dist``
    and val_a < val_b — the entity-resolution / catalog-dedup
    primitive.

    Scale shape: the expensive step is pushed onto the DISTINCT VALUE
    SPACE, not the row count — a hash-agg distinct-project first (name
    spaces are orders of magnitude smaller than fact tables), then an
    all-pairs join over the distinct set pruned by the SOUND length
    filter ``|len(a)-len(b)| <= max_dist`` (edit distance can never be
    below the length difference).  ``levenshtein`` runs JVM-side inside
    codegen.  For value spaces too large for the pruned all-pairs,
    block first with `dedup.minhash_signatures` n-gram LSH and feed the
    candidate pairs through the same levenshtein verify."""
    names = (
        df.select(F.col(col).alias("val"))
        .where(F.col("val").isNotNull())
        .distinct()
    )
    return (
        names.alias("a")
        .join(
            names.alias("b"),
            (F.col("a.val") < F.col("b.val"))
            & (
                F.abs(F.length(F.col("a.val")) - F.length(F.col("b.val")))
                <= max_dist
            ),
        )
        .select(
            F.col("a.val").alias("val_a"),
            F.col("b.val").alias("val_b"),
            # bounded form: gives up on a pair once the distance
            # provably exceeds max_dist (O(len*k) band, -1 = over)
            F.levenshtein(F.col("a.val"), F.col("b.val"), int(max_dist))
            .cast("int")
            .alias("dist"),
        )
        .filter(F.col("dist") >= 0)
    )


def load_model_weights(path: str) -> list[float]:
    """Load a trained linear-classifier weight vector from a JSON model
    artifact ``{"weights": [...], "bias": b}`` (the fastText/logreg
    quality-classifier deployment shape: the model is a tiny driver-side
    artifact, broadcast into the plan as literals — no model server, no
    UDF)."""
    import json

    with open(path) as fh:
        m = json.load(fh)
    return [float(x) for x in m["weights"]] + [float(m.get("bias", 0.0))]


def classifier_score(
    df: DataFrame,
    weights: list[float],
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.0,
) -> DataFrame:
    """Apply a TRAINED quality classifier (externally learned weights,
    e.g. from `load_model_weights`) over the standard feature
    projection and emit a keep/drop decision: quality_feature_score
    columns plus ``keep = score > threshold``.

    The decision threshold compares the 6-decimal-rounded score so the
    boundary is bit-identical cross-engine (see workloads q84 oracle).
    Same 100 TB shape as q69: one wide codegen projection fused into
    the scan, zero shuffle, zero Python."""
    scored = quality_feature_score(
        df, id_col=id_col, text_col=text_col, weights=weights
    )
    return scored.withColumn("keep", F.col("score") > F.lit(float(threshold)))


def bigram_logprob_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Self-trained bigram language-model score per document —
    ``(doc_id, n_bigrams, avg_logp)`` where ``avg_logp`` is the mean of
    ``ln(count(w1 w2) / count(w1 ·))`` over the document's word
    bigrams, with counts taken from the WHOLE corpus.  The
    perplexity-filter shape of CCNet/Wenzek-style pipelines (docs whose
    transitions are atypical for the corpus score low), without
    shipping a KenLM binary: two hash-aggregates and two broadcast-able
    joins, no UDFs.

    Determinism: each per-bigram ``ln`` is snapped to 6 decimals and
    summed as exact integer micro-nats (the float-sum order across
    partitions/engines can differ; the snapped-integer sum cannot),
    then divided back out — bit-identical to the SQL oracle.  Documents
    with <2 tokens get no row (no bigrams).

    100 TB shape: ONE corpus scan (the q50/TF-IDF trick) — explode to
    per-doc bigram counts once, then BOTH the LM table (bigram/prefix
    totals summed from the per-doc counts) and the scoring join derive
    from that persisted aggregate; the corpus text itself is never
    re-read.  All aggregates partial-combine map-side; the score join
    shuffles (id, bg, n) on the bigram key (the LM side is much smaller
    and AQE broadcasts it).
    """
    per_doc = (
        # lower + tokenize into attributes before the bigram lambda
        # (r10, see word_ngrams_of) — values identical, O(len) per row
        df.select(
            F.col(id_col).alias("id"),
            F.lower(F.col(text_col)).alias("__lt"),
        )
        .select("id", "__lt", tokens(F.col("__lt")).alias("__toks"))
        .select(
            "id",
            F.explode(
                word_ngrams_of(F.col("__lt"), F.col("__toks"), 2)
            ).alias("bg"),
        )
        .groupBy("id", "bg")
        .agg(F.count("*").alias("n"))
        .persist()
    )
    bi_counts = per_doc.groupBy("bg").agg(F.sum("n").alias("c_bg"))
    prefix_counts = (
        bi_counts.withColumn(
            "w1", F.substring_index(F.col("bg"), " ", 1)
        )
        .groupBy("w1")
        .agg(F.sum("c_bg").alias("c_w1"))
    )
    lm = bi_counts.withColumn(
        "w1", F.substring_index(F.col("bg"), " ", 1)
    ).join(prefix_counts, "w1")
    logp_micro = F.round(
        F.log(F.col("c_bg").cast("double") / F.col("c_w1")) * 1e6
    ).cast("bigint")
    scored = per_doc.join(lm.select("bg", logp_micro.alias("lp")), "bg")
    return (
        scored.groupBy(F.col("id").alias(id_col))
        .agg(
            F.sum("n").cast("bigint").alias("n_bigrams"),
            (
                F.sum(F.col("n") * F.col("lp")).cast("double")
                / 1e6
                / F.sum("n")
            ).alias("avg_logp"),
        )
    )


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
    k1_micro: int = 1_200_000,
    b_micro: int = 750_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Disjunctive BM25 retrieval over the corpus, top-``k`` as
    ``(doc_id, score_micro)`` — the lexical-ranking baseline of every
    modern retrieval / RAG stack (Robertson & Zaragoza, "The
    Probabilistic Relevance Framework: BM25 and Beyond", FnTIR 2009),
    expressed as pure integer Catalyst arithmetic.

    Formula (per matched term, all in exact micro-units, M = 1e6):

    * length norm: ``norm = M - b + (b * dl * M) div avgdl_micro``
      with ``avgdl_micro = (Σ dl * M) div N`` — the k1/b saturation is
      BM25-exact up to the fixed-point grid.
    * saturation: ``sat = (tf * (k1 + M) * M) div (tf * M + (k1 * norm)
      div M)``.
    * idf surrogate: ``1e9 div df`` — the same rank-preserving
      integer-idf policy as the q129 tf·idf search (float ``ln`` is
      deliberately avoided: libm last-ulp differences break cross-engine
      hash equality; 1/df orders terms identically to the Robertson idf
      for df ≪ N).

    Integer-overflow bounds (int64): ``tf ≤ 4e6`` tokens of one term in
    one document, ``dl ≤ 1e6`` tokens — both far above any real
    document; overflow would need a single doc of multiple GB.

    100 TB shape: tokenization is ONE scan-fused explode; ``tf`` only
    keeps postings for the |terms| query terms (the IN-filter pushes
    below the first aggregate), ``df`` and the corpus stats are
    broadcast scalars, and the final top-k is a TakeOrdered — no global
    sort, no UDFs.  For repeated queries materialize the postings with
    ``doc_length`` attached and skip straight to the broadcast joins.
    """
    M = 1_000_000
    tok = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    )
    dl = tok.groupBy("id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.expr(f"(sum(dl) * {M}) div count(*)").alias("avgdl_micro")
    )
    tf = (
        tok.filter(F.col("term").isin(list(terms)))
        .groupBy("id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "id")
        .crossJoin(F.broadcast(stats))
        .withColumn("idf_micro", F.expr("1000000000 div df"))
        .withColumn(
            "norm_micro",
            F.expr(
                f"{M} - {b_micro} + ({b_micro} * dl * {M}) div avgdl_micro"
            ),
        )
        .withColumn(
            "sat_micro",
            F.expr(
                f"(tf * ({k1_micro} + {M}) * {M})"
                f" div (tf * {M} + ({k1_micro} * norm_micro) div {M})"
            ),
        )
    )
    return (
        scored.groupBy("id")
        .agg(
            F.sum(F.expr(f"(idf_micro * sat_micro) div {M}"))
            .cast("bigint")
            .alias("score_micro")
        )
        .orderBy(F.col("score_micro").desc(), "id")
        .limit(int(k))
        .select(F.col("id").alias(id_col), "score_micro")
    )


def bm25_topk_sql(
    terms: list[str],
    k: int = 10,
    k1_micro: int = 1_200_000,
    b_micro: int = 750_000,
    table: str = "documents",
    id_sql: str = "doc_id",
    text_sql: str = "text",
) -> str:
    """DuckDB oracle for :func:`bm25_topk` — the identical integer
    micro-unit arithmetic (`//` mirrors Spark's `div` exactly on
    non-negative bigints)."""
    M = 1_000_000
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
    WITH tok AS (
      SELECT {id_sql} AS id, unnest(string_split({text_sql}, ' ')) AS term
      FROM {table}
    ),
    dl AS (SELECT id, COUNT(*) AS dl FROM tok GROUP BY id),
    st AS (SELECT (SUM(dl) * {M}) // COUNT(*) AS avgdl_micro FROM dl),
    tf AS (
      SELECT id, term, COUNT(*) AS tf FROM tok
      WHERE term IN ({in_list}) GROUP BY id, term
    ),
    dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    parts AS (
      SELECT tf.id,
             (1000000000 // dfq.df) AS idf_micro,
             ({M} - {b_micro}
              + ({b_micro} * dl.dl * {M}) // st.avgdl_micro) AS norm_micro,
             tf.tf AS tf
      FROM tf JOIN dfq USING (term) JOIN dl USING (id), st
    ),
    sat AS (
      SELECT id, idf_micro,
             (tf * ({k1_micro} + {M}) * {M})
               // (tf * {M} + ({k1_micro} * norm_micro) // {M}) AS sat_micro
      FROM parts
    )
    SELECT id AS {id_sql},
           CAST(SUM((idf_micro * sat_micro) // {M}) AS BIGINT) AS score_micro
    FROM sat GROUP BY id
    ORDER BY score_micro DESC, id LIMIT {int(k)}
    """


def positional_postings(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Positional inverted-index postings ``(id, pos, term)`` — the
    physical layout of every phrase-capable search index (Lucene's
    .pos files, Manning IR ch. 2.4).  One scan-fused posexplode; at
    100 TB this is the table you materialize ONCE, bucketed by term,
    and reuse across every phrase/proximity query."""
    return docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "term"),
    )


def phrase_match(
    postings: DataFrame,
    phrase_terms: list[str],
) -> DataFrame:
    """Exact phrase search over positional postings: documents where
    ``phrase_terms`` occur as consecutive tokens, with the exact
    occurrence count — the positional-adjacency join, not a substring
    scan.

    Plan: every phrase term filters the postings to a tiny relation
    (the IN-filter pushes to the index scan); term k is joined on
    ``(id, pos - k)`` so all joins share one equi-join key family.
    Surviving (id, pos) rows ARE the phrase starts; one hash-agg
    counts them per document.  No UDFs, no regex over text.

    100 TB shape: each join moves only the postings of ONE term
    (Zipf-bounded), keyed identically — with the postings table
    bucketed by term the filters are partition-pruned scans; the
    heaviest phrase term bounds the shuffle, never the corpus.
    """
    if not phrase_terms:
        raise ValueError("phrase_terms must be non-empty")
    cur = (
        postings.filter(F.col("term") == phrase_terms[0])
        .select("id", "pos")
    )
    for k, t in enumerate(phrase_terms[1:], start=1):
        nxt = postings.filter(F.col("term") == t).select(
            "id", (F.col("pos") - F.lit(k)).alias("pos")
        )
        cur = cur.join(nxt, ["id", "pos"])
    return cur.groupBy("id").agg(
        F.count("*").cast("bigint").alias("n_occurrences")
    )


def phrase_match_sql(
    phrase_terms: list[str],
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB mirror of :func:`phrase_match` (array-scan formulation —
    same semantics: count of positions where the phrase's tokens are
    consecutive)."""
    n = len(phrase_terms)
    conds = " AND ".join(
        "w[i + {off}] = '{t}'".format(off=k, t=t.replace("'", "''"))
        for k, t in enumerate(phrase_terms)
    )
    return f"""
    WITH words AS (
      SELECT {id_col} AS id, string_split({text_col}, ' ') AS w
      FROM {table}
    ),
    hits AS (
      SELECT id,
             CAST(len(list_filter(range(1, greatest(len(w) - {n - 1}, 0) + 1),
                                  i -> {conds})) AS BIGINT) AS n_occurrences
      FROM words
    )
    SELECT id AS {id_col}, n_occurrences FROM hits WHERE n_occurrences > 0
    """
