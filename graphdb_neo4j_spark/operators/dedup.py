"""Deduplication operators for training-data pipelines.

Four families, all shuffle-conscious and oracle-checkable:

* **exact** — md5-hash groupBy; one shuffle on the hash, survivors =
  min id per group.  At 100 TB: hash is computed next to the scan,
  the shuffle carries (hash, id) only — never the payload.
* **n-gram Jaccard** — explode distinct shingles → self-join on shingle
  → per-pair intersection counts → Jaccard filter.  The shingle join is
  the scale risk (hot shingles fan out); mitigated by hashing shingles
  to fixed width and by the LSH variant below for big corpora.
* **MinHash + LSH** — per-doc signature of K minhashes (min over
  md5(seed‖shingle)); band into B groups of R, bucket-join on
  (band, band-signature).  Only same-bucket pairs are candidates —
  the crossjoin never happens.  Candidates verified with true Jaccard.
* **SimHash** — 64-bit sign-sum fingerprint over token hashes; near-dups
  = equal simhash (or low Hamming distance via band rotation).

Portability: md5 is the only hash used (bit-identical in DuckDB), so
every operator here has an exact SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphdb_neo4j_spark.operators.text import (
    exploded_shingles,
    shingles,
    shingles_all,
    tokens,
)

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per distinct text: (text_hash, keep_id = min id, dup_count).

    ``dup_count > 1`` rows are clusters; downstream keeps ``keep_id``.
    """
    h = F.md5(F.col(text_col)).alias("text_hash")
    return (
        df.select(h, F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("dup_count"),
        )
    )


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------


def contaminated_docs(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 3,
    min_shared: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing word
    n-grams with an evaluation set (the standard 13-gram-overlap scheme
    of public LLM pipelines, n configurable for short corpora).

    Returns ``(doc_id, n_shared)`` — distinct shared n-grams per
    contaminated corpus document, ``n_shared >= min_shared``, eval
    documents themselves excluded.

    100 TB shape: an eval suite is MB-scale, so its distinct-gram set is
    **broadcast** — the corpus side is one scan that explodes grams and
    hash-joins against the broadcast set map-side; the only shuffle
    carries the (id, matched-gram) hits (tiny) into the per-doc count.
    """
    from graphdb_neo4j_spark.operators.text import tokens, word_ngrams_of

    # tokenize into an attribute first (r10): word_ngrams over the raw
    # text re-evaluates the regex split once per n-gram element inside
    # the transform lambda — O(n_tokens²) per row.  Values identical.
    def _grams(df: DataFrame, *keep):
        pre = df.select(
            *keep, F.col(text_col), tokens(F.col(text_col)).alias("__toks")
        )
        return pre.select(
            *keep,
            F.explode(
                F.array_distinct(
                    word_ngrams_of(F.col(text_col), F.col("__toks"), n)
                )
            ).alias("g"),
        )

    eval_grams = _grams(eval_docs).distinct()
    corpus_grams = _grams(
        docs.join(eval_docs.select(id_col), on=id_col, how="left_anti"),
        id_col,
    )
    return (
        corpus_grams.join(F.broadcast(eval_grams), on="g")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def contamination_profile(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document contamination *fraction* against an eval suite —
    the graded companion to :func:`contaminated_docs` (which only
    counts hits): for every corpus document, what share of its
    distinct word n-grams appears anywhere in the eval set?  Public
    pipelines drop above a threshold (e.g. >80 % 13-gram overlap) and
    audit the mid band; this emits the whole profile so the threshold
    is a downstream filter, not baked in.

    Returns ``(doc_id, n_grams, n_shared, shared_micro)`` for docs
    with ≥1 gram, eval docs excluded; ``shared_micro`` is the exact
    integer floor of ``n_shared·10⁶ / n_grams``.

    100 TB shape: identical to :func:`contaminated_docs` — the eval
    gram set is broadcast; the corpus scan explodes distinct grams
    once and counts total + matched in ONE aggregation (the broadcast
    left join marks hits map-side), so the only shuffle carries
    (id, 1, hit) triples into the per-doc count.
    """
    from graphdb_neo4j_spark.operators.text import tokens, word_ngrams_of

    # tokens hoisted to an attribute before the n-gram lambda (r10,
    # see contaminated_docs) — values identical, O(len) per row
    def _grams(df: DataFrame, *keep):
        pre = df.select(
            *keep, F.col(text_col), tokens(F.col(text_col)).alias("__toks")
        )
        return pre.select(
            *keep,
            F.explode(
                F.array_distinct(
                    word_ngrams_of(F.col(text_col), F.col("__toks"), n)
                )
            ).alias("g"),
        )

    eval_grams = _grams(eval_docs).distinct().withColumn("__hit", F.lit(1))
    corpus = (
        _grams(
            docs.join(eval_docs.select(id_col), on=id_col, how="left_anti"),
            id_col,
        )
        .join(F.broadcast(eval_grams), on="g", how="left")
    )
    return (
        corpus.groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.coalesce(F.sum("__hit"), F.lit(0))
            .cast("bigint")
            .alias("n_shared"),
        )
        .select(
            id_col,
            "n_grams",
            "n_shared",
            F.expr("n_shared * 1000000 div n_grams")
            .cast("bigint")
            .alias("shared_micro"),
        )
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard pairs
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """(id_a, id_b, jaccard) for id_a < id_b with shingle-set Jaccard ≥
    threshold.  Exact (no approximation) by default — quadratic in docs
    sharing a shingle, so reserve for post-LSH verification or small
    corpora.

    ``max_doc_freq`` is the hot-shingle guard for real corpora: a
    shingle shared by d documents emits d²/2 join rows, so one
    stop-shingle ("the", "ing") makes the self-join explode.  With the
    cap set, shingles whose document frequency exceeds it are dropped
    from BOTH the join and the set sizes — Jaccard is then computed
    over the informative-shingle universe (consistent on both sides of
    the ratio, and a standard, well-behaved approximation: stop-shingles
    carry no dedup signal).  Candidate fan-out per shingle is bounded by
    max_doc_freq²/2.
    """
    # relational shingle explode then relational distinct — both the
    # higher-order transform and array_distinct are O(len²) per row
    sh = exploded_shingles(df, id_col=id_col, text_col=text_col, n=n).distinct()
    if max_doc_freq is not None:
        hot = (
            sh.groupBy("sh")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("sh")
        )
        # hot shingles are by definition few — broadcast the anti side
        sh = sh.join(F.broadcast(hot), "sh", "left_anti")
    sizes = sh.groupBy("id").agg(F.count("*").alias("size"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("size").alias("size_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("size").alias("size_b"))
    jac = F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def repeated_passages(
    df: DataFrame,
    n: int = 5,
    min_grams: int = 2,
    max_doc_freq: int | None = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_a, id_b, start_a, start_b, length) — repeated token passages
    WITHIN and ACROSS documents (substring-level dedup: the
    suffix-array repeated-substring stage of Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL 2022, re-expressed
    relationally): a passage of L tokens repeated at (a, start_a) and
    (b, start_b) is exactly a run of L−n+1 consecutive shared word
    n-grams at constant offset.

    1. positional word n-grams per document (md5'd to fixed width) —
       one posexplode scan;
    2. grams in more than ``max_doc_freq`` documents are dropped via a
       broadcast anti-join (stop-phrases carry no dedup signal and
       their pair fan-out is quadratic — the
       :func:`ngram_jaccard_pairs` guard);
    3. postings equi-join on gram, (a < b) cross-doc or ordered
       positions within one doc — candidates are bucketed by gram,
       never an all-pairs product;
    4. runs via the pos − row_number trick per (a, b, offset) group;
       passage length = run + n − 1 tokens.

    Returns runs of ≥ ``min_grams`` shared grams (= passages of ≥
    min_grams + n − 1 tokens), start positions 0-based in token space.
    Mirror image of each cross-doc passage is emitted once (a < b).
    Runs are maximal up to df-capped grams (a dropped hot gram inside a
    long passage splits it in two).  After step 1 only (id, pos, 32-hex
    gram) rows cross the wire — never the text.
    """
    from pyspark.sql import Window

    from graphdb_neo4j_spark.operators.text import tokens, word_ngrams_of

    # lower + tokenize into attributes before the n-gram lambda (r10,
    # see contaminated_docs) — values identical, O(len) per row
    grams = df.select(
        F.col(id_col).alias("id"),
        F.lower(F.col(text_col)).alias("__lt"),
    ).select(
        "id", "__lt", tokens(F.col("__lt")).alias("__toks")
    ).select(
        "id",
        F.posexplode(
            word_ngrams_of(F.col("__lt"), F.col("__toks"), n)
        ).alias("pos", "g"),
    ).select("id", "pos", F.md5("g").alias("g"))
    if max_doc_freq is not None:
        hot = (
            grams.groupBy("g")
            .agg(F.count_distinct("id").alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("g")
        )
        grams = grams.join(F.broadcast(hot), "g", "left_anti")
    a = grams.select(F.col("id").alias("id_a"), F.col("pos").alias("pos_a"), "g")
    b = grams.select(F.col("id").alias("id_b"), F.col("pos").alias("pos_b"), "g")
    pairs = a.join(b, "g").filter(
        (F.col("id_a") < F.col("id_b"))
        | ((F.col("id_a") == F.col("id_b")) & (F.col("pos_a") < F.col("pos_b")))
    )
    w = Window.partitionBy("id_a", "id_b", "diff").orderBy("pos_a")
    return (
        pairs.withColumn("diff", F.col("pos_a") - F.col("pos_b"))
        .withColumn("run", F.col("pos_a") - F.row_number().over(w))
        .groupBy("id_a", "id_b", "diff", "run")
        .agg(
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
            F.count("*").alias("n_grams"),
        )
        .filter(F.col("n_grams") >= min_grams)
        .select(
            "id_a", "id_b", "start_a", "start_b",
            (F.col("n_grams") + F.lit(n - 1)).cast("bigint").alias("length"),
        )
    )


def jaccard_verify_pairs(
    df: DataFrame,
    pairs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact shingle-Jaccard for a GIVEN candidate pair set: (id_a,
    id_b, jaccard) filtered to ≥ threshold.

    Unlike :func:`ngram_jaccard_pairs` (a full self-join, quadratic in
    docs-per-shingle), this only touches the candidates: each pair
    pulls its two shingle sets through equi-joins, so cost is
    O(|pairs| · shingles-per-doc) — the right verify step after LSH
    candidate generation at scale.
    """
    sh = exploded_shingles(df, id_col=id_col, text_col=text_col, n=n).distinct().persist()
    sizes = sh.groupBy("id").agg(F.count("*").alias("size"))
    a_sh = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh"))
    b_sh = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh"))
    inter = (
        pairs.select("id_a", "id_b")
        .join(a_sh, "id_a")
        .join(b_sh, ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("size").alias("size_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("size").alias("size_b"))
    jac = F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, mh_0..mh_{K-1}) minhash signature columns.

    The executable mirror of the oracle SQL: explode all shingles
    (duplicates are harmless under min), then ONE codegen'd
    hash-aggregate computes all K mins — measured ~7× faster than K per-row array traversals through
    interpreted higher-order lambdas, and it scales (the shuffle carries
    (id, shingle) rows with map-side partial mins, never the documents).
    Docs shorter than n chars have no shingles and are absent from the
    output (an empty shingle set has no meaningful minhash).

    Hash budget: ONE md5 per shingle, expanded to K lanes by
    Kirsch–Mitzenmacher double hashing — split the digest into two
    32-bit halves h1, h2 and take lane i = (h1 + i·h2) mod 2³².  This
    preserves minwise-independence in practice (the standard Bloom/
    minhash result) and replaces ⌈K/4⌉ crypto hashes per shingle with
    one hash + K integer multiply-adds; lanes are BIGINT so the min agg
    is a numeric min, not a string min.  At 10¹⁴ shingles (100 TB of
    text) the saved md5 calls are the dominant CPU term.  Portable to
    the DuckDB oracle via ``('0x' || substr(md5(s), …))::BIGINT``.
    """
    sh = exploded_shingles(df, id_col=id_col, text_col=text_col, n=n)
    h = F.md5(F.col("sh"))
    hashed = sh.select(
        "id",
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint").alias("h1"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint").alias("h2"),
    )
    m = F.lit(4294967296)  # 2^32; h1 + 15*h2 < 2^36 fits a bigint
    aggs = [
        F.min((F.col("h1") + F.lit(i) * F.col("h2")) % m).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return hashed.groupBy("id").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b, band) via banded minhash.

    Two docs collide if ALL ``rows_per_band`` minhashes in some band are
    equal.  The bucket key is md5 over the band's minhashes, so the
    shuffle carries (bucket, id) only.  Verify candidates with
    :func:`ngram_jaccard_pairs` semantics downstream if exactness is
    needed.
    """
    k = bands * rows_per_band
    sig = minhash_signatures(df, n=n, num_hashes=k, text_col=text_col, id_col=id_col)
    # one pass over the signature: (band, bucket) pairs via array+explode
    # (a per-band select would recompute the signature `bands` times)
    band_structs = []
    for b in range(bands):
        cols = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_structs.append(
            F.struct(
                F.lit(b).alias("band"), F.md5(F.concat_ws("|", *cols)).alias("bucket")
            )
        )
    stacked = (
        sig.select("id", F.explode(F.array(*band_structs)).alias("bb"))
        .select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
        .persist()  # read twice by the self-join below
    )
    a = stacked.alias("a")
    b_ = stacked.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
        )
        .distinct()
    )


def cross_corpus_neardup(
    new_docs: DataFrame,
    corpus: DataFrame,
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicates of ``new_docs`` against an EXISTING ``corpus``
    (the production shape: dedup each incoming crawl batch against the
    accumulated corpus before admitting it) — ``(new_id, corpus_id)``
    pairs colliding in some minhash band.

    Unlike the self-join in :func:`minhash_lsh_pairs` there is no
    ``id_a < id_b`` ordering: the sides are different tables.  At
    100 TB the corpus-side signatures are computed ONCE and persisted
    (bucketed by (band, bucket)); each new batch computes only its own
    signatures — batch-side cost is proportional to the batch, and the
    join shuffles only (band, bucket, id) keys.  Identical ids on both
    sides are excluded (a batch re-crawling an already-admitted URL is
    "known", not "near-dup").
    """
    k = bands * rows_per_band

    def _buckets(df: DataFrame, out_id: str) -> DataFrame:
        sig = minhash_signatures(
            df, n=n, num_hashes=k, text_col=text_col, id_col=id_col
        )
        band_structs = []
        for b in range(bands):
            cols = [
                F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)
            ]
            band_structs.append(
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(F.concat_ws("|", *cols)).alias("bucket"),
                )
            )
        return (
            sig.select("id", F.explode(F.array(*band_structs)).alias("bb"))
            .select(
                F.col("id").alias(out_id),
                F.col("bb.band").alias("band"),
                F.col("bb.bucket").alias("bucket"),
            )
        )

    new_b = _buckets(new_docs, "new_id")
    corp_b = _buckets(corpus, "corpus_id")
    return (
        new_b.join(corp_b, ["band", "bucket"])
        .filter(F.col("new_id") != F.col("corpus_id"))
        .select("new_id", "corpus_id")
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_hex(text: Column) -> Column:
    """64-bit SimHash of the token multiset, as a 16-hex-digit string.

    Token hash = md5; each of the 16 output nibbles is built from the
    sign of the per-bit vote (count of tokens with bit set minus count
    with bit clear).  Pure expression — portable to the SQL oracle via
    the same instr('0123456789abcdef', …) nibble trick.
    """
    toks = tokens(F.lower(text))
    hexdigits = "0123456789abcdef"

    def _vote(pos: int, bit: int) -> Column:
        # +1 when the token's md5 nibble at `pos` has `bit` set, else -1,
        # summed over all tokens (integer fold — order-free, oracle-safe)
        def step(acc: Column, t: Column) -> Column:
            nib = F.instr(F.lit(hexdigits), F.substring(F.md5(t), pos, 1)) - F.lit(1)
            is_set = F.shiftright(nib, bit).bitwiseAND(F.lit(1)) == 1
            return acc + F.when(is_set, 1).otherwise(-1)

        return F.aggregate(toks, F.lit(0), step)

    nibble_cols = []
    for pos in range(1, 17):  # 16 nibbles = 64 bits
        bits = [
            F.when(_vote(pos, bit) > 0, F.lit(1 << bit)).otherwise(F.lit(0))
            for bit in range(4)
        ]
        nibble_val = bits[0] + bits[1] + bits[2] + bits[3]
        nibble_cols.append(F.substring(F.lit(hexdigits), nibble_val + 1, 1))
    return F.concat(*nibble_cols)


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    impl: str = "arrow",
) -> DataFrame:
    """(id, simhash) — per-document 64-bit simhash.

    ``impl="arrow"`` (default): Arrow-batched ``mapInPandas`` kernel —
    md5 per DISTINCT token (batch-local cache), numpy bit-count votes,
    ZERO shuffle (a pure map; the relational form pays an explode +
    exchange + 64-sum hash aggregate).  Token semantics mirror the
    expression form exactly (lower → TRIM of spaces → split on Java
    ``\\s``), md5 is md5 — signatures are bit-identical (equality
    pinned in tests) and oracle-compatible.

    ``impl="relational"``: the pure-DataFrame formulation (the
    executable mirror of the SQL oracle; same rewrite as minhash):
    explode tokens once, md5 each token ONCE, one codegen'd
    hash-aggregate computes all 64 bit votes as integer conditional
    sums — order-free, so partial-aggregation combine order cannot
    perturb the result.  The shuffle carries (id, 64 small ints) with
    map-side partial sums, never the documents.  NULL-text rows drop
    out in BOTH impls (explode of a NULL array / explicit skip),
    matching the SQL oracle's ``unnest``.  Shared by the batch dedup
    and the streaming foreachBatch path.
    """
    if impl == "arrow":
        import hashlib
        import re as _re

        import numpy as np
        import pandas as pd

        split_re = _re.compile(r"[ \t\n\x0b\f\r]+")
        shifts = np.arange(64, dtype=np.uint64)
        hexdigits = "0123456789abcdef"

        def sig(batches):
            cache: dict[str, int] = {}
            for pdf in batches:
                ids_out, sims = [], []
                for rid, txt in zip(pdf[id_col], pdf[text_col]):
                    if txt is None:
                        continue
                    toks = split_re.split(txt.lower().strip(" "))
                    hs = np.empty(len(toks), dtype=np.uint64)
                    for j, tok in enumerate(toks):
                        v = cache.get(tok)
                        if v is None:
                            v = int(
                                hashlib.md5(tok.encode("utf-8")).hexdigest()[:16],
                                16,
                            )
                            cache[tok] = v
                        hs[j] = v
                    bits = (hs[:, None] >> shifts) & np.uint64(1)
                    votes = 2 * bits.sum(axis=0).astype(np.int64) - len(toks)
                    bitset = votes > 0
                    chars = []
                    for i16 in range(16):
                        nib = 0
                        for b in range(4):
                            if bitset[4 * (15 - i16) + b]:
                                nib |= 1 << b
                        chars.append(hexdigits[nib])
                    ids_out.append(rid)
                    sims.append("".join(chars))
                yield pd.DataFrame({"id": ids_out, "simhash": sims})

        id_type = df.schema[id_col].dataType.simpleString()
        return (
            df.select(id_col, text_col)
            .repartition(df.sparkSession.sparkContext.defaultParallelism)
            .mapInPandas(sig, schema=f"id {id_type}, simhash string")
        )
    if impl != "relational":
        raise ValueError(f"unknown impl {impl!r}")
    spread = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    # md5 → ONE 64-bit integer per token row BEFORE the aggregate (r10):
    # the previous form re-derived nibble/bit values from the md5 hex
    # string inside each of the 64 vote aggregates, re-hashing the token
    # per aggregate expression; materializing the packed bigint makes
    # every vote update a shift-and-add.  Two 32-bit conv halves avoid
    # the ANSI string→bigint overflow a full 16-hex-digit conv would
    # risk; shiftLeft wraps bitwise (no overflow check), giving the
    # exact two's-complement bit pattern of the digest's first 8 bytes.
    toks = spread.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("t"),
    ).select(
        "id", F.md5(F.col("t")).alias("h")
    ).select(
        "id",
        F.shiftleft(
            F.conv(F.substring(F.col("h"), 1, 8), 16, 10).cast("bigint"), 32
        ).bitwiseOR(
            F.conv(F.substring(F.col("h"), 9, 8), 16, 10).cast("bigint")
        ).alias("hv"),
    )
    hexdigits = "0123456789abcdef"
    # bit (pos, b) of the hex form = bit (16-pos)*4 + b of the bigint;
    # vote = Σ±1 = 2·Σbit − n, sign preserved exactly
    vote_aggs = [F.count(F.lit(1)).alias("n")]
    for pos in range(1, 17):  # 16 md5 nibbles = 64 bits
        for bit in range(4):
            k = (16 - pos) * 4 + bit
            vote_aggs.append(
                F.sum(
                    F.shiftright(F.col("hv"), k).bitwiseAND(F.lit(1))
                ).alias(f"c{pos}_{bit}")
            )
    votes = toks.groupBy("id").agg(*vote_aggs)
    nibble_cols = []
    for pos in range(1, 17):
        bits = [
            F.when(
                F.lit(2) * F.col(f"c{pos}_{bit}") > F.col("n"),
                F.lit(1 << bit),
            ).otherwise(F.lit(0))
            for bit in range(4)
        ]
        nibble_val = bits[0] + bits[1] + bits[2] + bits[3]
        nibble_cols.append(F.substring(F.lit(hexdigits), nibble_val + 1, 1))
    return votes.select("id", F.concat(*nibble_cols).alias("simhash"))


def simhash_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of documents sharing an identical 64-bit simhash:
    (simhash, keep_id, dup_count) — :func:`simhash_signatures` plus one
    grouped min/count."""
    sim = simhash_signatures(df, text_col=text_col, id_col=id_col)
    return sim.groupBy("simhash").agg(
        F.min("id").alias("keep_id"), F.count("*").alias("dup_count")
    )


# ---------------------------------------------------------------------------
# embedding near-dup
# ---------------------------------------------------------------------------


def _normalized(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, vn) with vn L2-normalized in float64 (left-fold norm —
    bit-identical to the SQL oracle's list_reduce)."""
    from graphdb_neo4j_spark.operators.similarity import norm_expr

    return (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("norm", norm_expr(F.col("v")))
        .select(
            "id",
            F.transform(
                F.col("v"), lambda x: x.cast("double") / F.col("norm")
            ).alias("vn"),
        )
    )


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    method: str = "lsh",
    bands: int = 8,
    rows_per_band: int = 8,
    seed: int = 42,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_a, id_b, cos) pairs with cosine ≥ threshold.

    ``method="lsh"`` (default, the scale path): banded random-hyperplane
    LSH — ``bands × rows_per_band`` sign bits per vector from ONE
    explode + hash-agg pass (integer fixed-point projections, see
    :func:`~graphdb_neo4j_spark.operators.similarity.hyperplane_bits`),
    candidates = pairs agreeing on ALL bits of some band (equi-join on
    (band, bucket) — never an all-pairs join), then exact-cosine verify
    of candidates only.  Recall < 1 by construction (standard LSH
    trade: p_agree = 1 − θ/π per plane, pair recall = 1−(1−p^R)^B —
    high for near-duplicate cosines, measured against the exact path in
    tests).  At scale, bucket width is the knob: rows_per_band should
    grow ~log2(n) to keep per-bucket populations (and the quadratic
    within-bucket join) bounded.

    ``method="exact"``: the O(n²) brute-force baseline (normalized
    once map-side, single dot fold per pair).  Exact but quadratic —
    only for small corpora or recall measurement.

    ``cos`` is rounded to 6 decimals and the threshold applies to the
    rounded value (oracle-stable) in both methods.
    """
    from graphdb_neo4j_spark.operators.similarity import dot_expr, hyperplane_bits

    normed = _normalized(df, id_col, vec_col)
    if method == "exact":
        spread = normed.repartition(df.sparkSession.sparkContext.defaultParallelism)
        a = spread.select(F.col("id").alias("id_a"), F.col("vn").alias("va"))
        b = spread.select(F.col("id").alias("id_b"), F.col("vn").alias("vb"))
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
        cos = F.round(dot_expr(F.col("va"), F.col("vb")), 6)
        return pairs.select("id_a", "id_b", cos.alias("cos")).filter(
            F.col("cos") >= threshold
        )
    if method != "lsh":
        raise ValueError(f"unknown method {method!r}")

    bits = hyperplane_bits(
        df, dims=dims, n_planes=bands * rows_per_band, seed=seed,
        id_col=id_col, vec_col=vec_col,
    )
    band_structs = []
    for b in range(bands):
        bit_cols = [F.col(f"bit_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_structs.append(
            F.struct(F.lit(b).alias("band"), F.concat(*bit_cols).alias("bucket"))
        )
    stacked = (
        bits.select("id", F.explode(F.array(*band_structs)).alias("bb"))
        .select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
        .persist()
    )
    cand = (
        stacked.alias("a")
        .join(
            stacked.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # exact-cosine verify is CPU-bound (an interpreted 64-element fold
    # per pair) while the candidate rows are a few BYTES each — AQE's
    # byte-based partition coalescing collapses the post-distinct
    # exchange to one task and serializes the whole verify (measured:
    # a single 14s-CPU task at sf0.1).  Re-spread candidates by pair id
    # before attaching vectors so the verify keeps the session's
    # parallelism; the exchange moves only (id_a, id_b) pairs.
    cand = cand.repartition(
        df.sparkSession.sparkContext.defaultParallelism, "id_a", "id_b"
    )
    normed = normed.persist()  # read twice by the verify joins below
    na = normed.select(F.col("id").alias("id_a"), F.col("vn").alias("va"))
    nb = normed.select(F.col("id").alias("id_b"), F.col("vn").alias("vb"))
    cos = F.round(dot_expr(F.col("va"), F.col("vb")), 6)
    return (
        cand.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", cos.alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def neardup_clusters(
    df: DataFrame,
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 4,
    jaccard_threshold: float | None = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Document-level near-dup clustering: LSH candidates (optionally
    verified by true Jaccard) → connected components → (id, cluster_id,
    is_keeper).

    The end-to-end shape of a production dedup pass: keep one doc per
    cluster (the minimum id), drop the rest.  Cluster closure uses the
    iterative HashMin components operator, so chains of pairwise
    near-dups (A~B~C with A≁C) land in ONE cluster — pair-level dedup
    alone would keep too much.
    """
    from graphdb_neo4j_spark.operators.traversal import connected_components

    pairs = minhash_lsh_pairs(
        df, n=n, bands=bands, rows_per_band=rows_per_band,
        text_col=text_col, id_col=id_col,
    )
    if jaccard_threshold is not None:
        # exact Jaccard computed ONLY over the LSH candidates — never the
        # full quadratic self-join
        pairs = jaccard_verify_pairs(
            df, pairs, n=n, threshold=jaccard_threshold,
            text_col=text_col, id_col=id_col,
        ).select("id_a", "id_b")
    ids = df.select(F.col(id_col).cast("string").alias("key")).distinct()
    edges = pairs.select(
        F.col("id_a").cast("string").alias("src"),
        F.col("id_b").cast("string").alias("dst"),
    )
    comp = connected_components(ids, edges)
    return comp.select(
        F.col("key").alias("id"),
        F.col("component").alias("cluster_id"),
        (F.col("key") == F.col("component")).alias("is_keeper"),
    )


def semdedup(
    df: DataFrame,
    k: int = 8,
    threshold: float = 0.55,
    round_sim: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster, cent_cos) — SemDeDup-style SEMANTIC dedup (Abbas
    et al. 2023, arXiv:2303.09540): cluster the embedding space, then
    prune near-duplicates inside each cluster only, so the quadratic
    verify never crosses cluster boundaries.

    Deterministic, iteration-free variant:

    * centroids = the ``k`` rows with the smallest ``md5(id)`` (a
      hash-seeded sample standing in for k-means — exactly mirrorable
      in SQL, no Lloyd iterations to replay);
    * assignment = max rounded cosine to a centroid, ties to the
      smaller centroid id (round-BEFORE-rank, the engine rule);
    * prune = drop every row with a smaller-id near-duplicate
      (pairwise cosine ≥ ``threshold``) in its cluster — a single
      relational pass, not a sequential greedy loop.

    100 TB shape: the k-row centroid table broadcasts (n·k fold dot
    products, zero shuffle); assignment shuffles once on id for the
    rank; the all-pairs verify is bounded per cluster — pick
    ``k ~ n / target_cluster_size`` so cluster populations stay
    executor-sized.  All cosine math is the deterministic float64
    left fold (similarity.dot_expr), bit-identical to the DuckDB
    oracle's list_reduce.
    """
    normed = _normalized(df, id_col, vec_col).persist()
    assign = semantic_assign(normed, k, round_sim).persist()
    return _semantic_prune(assign, normed, threshold, round_sim).select(
        "id", F.col("cid").alias("cluster"), "cent_cos"
    )


def semantic_assign(normed: DataFrame, k: int, round_sim: int = 6) -> DataFrame:
    """(id, cid, cent_cos) — deterministic hash-seeded cluster
    assignment shared by :func:`semdedup` and the cluster-balanced
    sampler: centroids = the k smallest-md5(id) rows, assignment = max
    rounded cosine (round BEFORE rank), ties to the smaller centroid
    id.  ``normed`` is :func:`_normalized` output; the k-row centroid
    table broadcasts, so assignment is one fold-dot pass plus one
    per-id rank."""
    from pyspark.sql import Window

    from graphdb_neo4j_spark.operators.similarity import dot_expr

    cent = (
        normed.withColumn("h", F.md5(F.col("id").cast("string")))
        .orderBy("h", "id")
        .limit(k)
        .select(F.col("id").alias("cid"), F.col("vn").alias("cvn"))
    )
    sc = normed.crossJoin(F.broadcast(cent)).withColumn(
        "cos", F.round(dot_expr(F.col("vn"), F.col("cvn")), round_sim)
    )
    w = Window.partitionBy("id").orderBy(F.col("cos").desc(), "cid")
    return (
        sc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("id", "cid", F.col("cos").alias("cent_cos"))
    )


def _semantic_prune(
    assign: DataFrame, normed: DataFrame, threshold: float, round_sim: int
) -> DataFrame:
    """Drop every row with a smaller-id near-duplicate (rounded cosine
    ≥ threshold) in its cluster.  ``assign``: (id, cid, ...); the
    quadratic verify joins only within a cid."""
    from graphdb_neo4j_spark.operators.similarity import dot_expr

    pairs = (
        assign.select(F.col("id").alias("id_a"), "cid")
        .join(assign.select(F.col("id").alias("id_b"), "cid"), "cid")
        .filter(F.col("id_a") < F.col("id_b"))
    )
    dropped = (
        pairs.join(
            normed.select(F.col("id").alias("id_a"), F.col("vn").alias("vna")),
            "id_a",
        )
        .join(
            normed.select(F.col("id").alias("id_b"), F.col("vn").alias("vnb")),
            "id_b",
        )
        .withColumn("pcos", F.round(dot_expr(F.col("vna"), F.col("vnb")), round_sim))
        .filter(F.col("pcos") >= threshold)
        .select(F.col("id_b").alias("id"))
        .distinct()
    )
    return assign.join(dropped, "id", "left_anti")


def semdedup_kmeans(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    threshold: float = 0.35,
    round_sim: int = 6,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster) — SemDeDup with the paper's ACTUAL clustering
    stage: deterministic Lloyd k-means (similarity.ivf_index — md5-
    seeded init, broadcast centroid matrix, a few iterations), then the
    same intra-cluster smaller-id prune as :func:`semdedup`.

    The rows-only sibling of the oracle-gated hash-centroid variant:
    k-means assignments depend on iterative float averaging, which is
    deliberately NOT mirrored in SQL — correctness is pinned by the
    exact Python replay in tests (same init, same Lloyd updates, same
    prune rule).  100 TB shape: clustering cost is the IVF index
    build; the prune is cluster-bounded exactly as in semdedup.
    """
    from graphdb_neo4j_spark.operators.similarity import ivf_index

    assigned, _cents = ivf_index(
        df, n_centroids=k, dims=dims, iters=iters,
        id_col=id_col, vec_col=vec_col,
    )
    assign = assigned.select(
        F.col(id_col).alias("id"), F.col("centroid_id").alias("cid")
    ).persist()
    normed = _normalized(df, id_col, vec_col).persist()
    return _semantic_prune(assign, normed, threshold, round_sim).select(
        "id", F.col("cid").alias("cluster")
    )


def remove_passages(
    df: DataFrame,
    passages: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_before, n_after, cleaned_hash) — SCRUB the repeated
    passages :func:`repeated_passages` found: for every (id_b,
    start_b, length) span, the SECOND occurrence's tokens are cut from
    the corpus (the Lee et al. substring-dedup removal stage — keep
    the first occurrence, delete the repeat).

    Token space = the detector's (whitespace tokens of the lowered,
    trimmed text, 0-based positions), so spans line up exactly;
    overlapping spans union naturally (a position is dropped once).
    The cleaned document is returned as md5(space-joined remaining
    tokens) — enough for the oracle gate and dedup bookkeeping without
    materializing text twice.

    100 TB shape: one posexplode scan; the span anti-join is an
    id-equi join with a range residual (spans per doc are few);
    reassembly is one grouped sort-collect per SCRUBBED doc only —
    untouched docs never shuffle their tokens.
    """
    t = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    base = df.select(F.col(id_col).alias("id"), t.alias("t")).persist()
    spans = (
        passages.select(
            F.col("id_b").alias("id"),
            F.col("start_b").alias("s"),
            (F.col("start_b") + F.col("length")).alias("e"),
        )
        .distinct()
        .persist()
    )
    touched = spans.select("id").distinct()
    tok = base.join(touched, "id", "left_semi").select(
        "id", F.posexplode("t").alias("pos", "tok")
    )
    kept = tok.alias("tk").join(
        spans.alias("sp"),
        (F.col("tk.id") == F.col("sp.id"))
        & (F.col("tk.pos") >= F.col("sp.s"))
        & (F.col("tk.pos") < F.col("sp.e")),
        "left_anti",
    )
    rebuilt = kept.groupBy("id").agg(
        F.count("*").cast("bigint").alias("n_after_t"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            )
        ).alias("h_t"),
    )
    return (
        base.select("id", F.size("t").cast("bigint").alias("n_before"),
                    F.md5(F.array_join("t", " ")).alias("h_orig"))
        .join(touched.withColumn("__touched", F.lit(True)), "id", "left")
        .join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_before",
            F.when(F.col("__touched").isNotNull(),
                   F.coalesce(F.col("n_after_t"), F.lit(0)))
            .otherwise(F.col("n_before"))
            .cast("bigint")
            .alias("n_after"),
            F.when(F.col("__touched").isNotNull(),
                   F.coalesce(F.col("h_t"), F.md5(F.lit(""))))
            .otherwise(F.col("h_orig"))
            .alias("cleaned_hash"),
        )
    )


# ---------------------------------------------------------------------------
# Hamming-LSH near-dup pairs over 64-bit fingerprints (pHash / SimHash)
# ---------------------------------------------------------------------------


def _band_entries(
    hashes: DataFrame, id_col: str, hash_col: str, bands: int
) -> DataFrame:
    """(id, h, band, slice) — each 64-bit fingerprint exploded into its
    ``bands`` equal bit-slices, the shared LSH keying step of
    :func:`hamming_neardup_pairs` / :func:`hamming_neardup_join`.
    NULL fingerprints (undersized media) are filtered out here, before
    the explode."""
    if bands < 2 or 64 % bands != 0:
        # bands=1 is degenerate (exact-equality LSH) and its 64-bit
        # all-ones slice mask does not fit a Spark long literal
        raise ValueError(f"bands must divide 64 and be >= 2, got {bands}")
    bits = 64 // bands
    mask = (1 << bits) - 1
    band_structs = [
        F.struct(
            F.lit(i).alias("band"),
            F.shiftrightunsigned(F.col("h"), 64 - bits * (i + 1))
            .bitwiseAND(F.lit(mask))
            .alias("slice"),
        )
        for i in range(bands)
    ]
    return (
        hashes.select(F.col(id_col).alias("id"), F.col(hash_col).alias("h"))
        .filter(F.col("h").isNotNull())
        .select("id", "h", F.explode(F.array(*band_structs)).alias("bb"))
        .select(
            "id", "h",
            F.col("bb.band").alias("band"),
            F.col("bb.slice").alias("slice"),
        )
    )


def _cap_buckets(stacked: DataFrame, bucket_cap: int | None) -> DataFrame:
    """Drop (band, slice) buckets larger than the cap — the df-cap
    escape hatch for adversarial constant-background skew (cap math in
    :func:`hamming_neardup_pairs`'s docstring)."""
    if bucket_cap is None:
        return stacked
    sizes = stacked.groupBy("band", "slice").agg(F.count("*").alias("__n"))
    return (
        stacked.join(sizes, ["band", "slice"])
        .filter(F.col("__n") <= bucket_cap)
        .drop("__n")
    )


def hamming_neardup_pairs(
    hashes: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "phash",
    bands: int = 8,
    max_hamming: int | None = None,
    out_col: str = "hamming",
    bucket_cap: int | None = None,
):
    """``((id_a, id_b, out_col) DataFrame, CheckpointHandle)`` — pairs
    whose 64-bit fingerprints (signed bigint: pHash, dHash, SimHash)
    differ in at most ``max_hamming`` bits, found via banded Hamming
    LSH, never all pairs: the hash splits into ``bands`` equal
    bit-slices, candidates are the pairs that COLLIDE on at least one
    (band, slice) key (pigeonhole: any pair within Hamming distance
    < ``bands`` shares an untouched band, so recall is EXACT for
    ``max_hamming <= bands - 1`` — the default), and candidates are
    verified with a real popcount.  NULL fingerprints (the undersized
    -media class :func:`~graphdb_neo4j_spark.operators.multimodal.
    perceptual_hashes` emits) never enter bucketing.

    ``bucket_cap`` (optional) drops (band, slice) buckets with more
    members than the cap before the join — the df-cap escape hatch for
    adversarial skew.  Cap math: a bucket of size m contributes
    m·(m−1)/2 candidate pairs, so ONE degenerate bucket goes quadratic
    — a scraped-image corpus with millions of near-identical
    blank/logo frames lands them all in the same slice values.  With
    ``bucket_cap=B`` per-bucket work is ≤ B·(B−1)/2 and total
    candidates ≤ (entries/B)·B·(B−1)/2 ≈ n·bands·(B−1)/2 — linear in
    corpus size.  Production guidance: first collapse EXACT-hash
    duplicates (a plain groupBy on the 64-bit hash — the blank-image
    mass dedups there for free, no LSH needed), then run this with
    ``B`` a few × the largest legitimate near-dup cluster you want
    paired exactly (e.g. ``B = 10_000`` bounds any bucket to ≤ 5·10⁷
    comparisons); recall loss is confined to clusters larger than B,
    which after exact-dedup are almost always adversarial.  Leave
    ``None`` for pigeonhole-exact recall on bounded corpora (the
    fixture-gated q225-q228 path).

    100 TB shape: the explode carries (id, hash, band, slice) — 8-byte
    keys, never content; the self-join is an equi-join on
    (band, slice); verification is JVM-side ``bit_count(a ^ b)``.
    The exploded frame is read twice by the self-join, so it is
    frozen via :func:`~graphdb_neo4j_spark.operators.order.
    checkpoint_eager`; call ``handle.release()`` after the final
    consuming action (the repo's materializing-operator contract —
    ADVICE r9 retired the bare ``persist()`` that accumulated cache
    entries across DISTINCT inputs in long sessions).
    """
    if max_hamming is None:
        max_hamming = bands - 1
    stacked = _band_entries(hashes, id_col, hash_col, bands)
    stacked = _cap_buckets(stacked, bucket_cap)
    from graphdb_neo4j_spark.operators.order import checkpoint_eager

    # frozen, not persist()-ed: read twice by the self-join, and the
    # handle gives callers deterministic block release (ADVICE r9)
    stacked, handle = checkpoint_eager(stacked)
    a = stacked.alias("a")
    b = stacked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.slice") == F.col("b.slice"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.h").alias("__ha"),
            F.col("b.h").alias("__hb"),
        )
        .distinct()
    )
    pairs = (
        cand.withColumn(
            out_col,
            F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb"))).cast("int"),
        )
        .filter(F.col(out_col) <= max_hamming)
        .drop("__ha", "__hb")
    )
    return pairs, handle


def hamming_neardup_join(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "phash",
    right_id_col: str | None = None,
    right_hash_col: str | None = None,
    bands: int = 8,
    max_hamming: int | None = None,
    out_col: str = "hamming",
    bucket_cap: int | None = None,
) -> DataFrame:
    """(id_a, id_b, ``out_col``) — CROSS-FRAME banded Hamming LSH:
    every (left row, right row) pair whose 64-bit fingerprints differ
    in at most ``max_hamming`` bits, with ``id_a`` from ``left`` and
    ``id_b`` from ``right``.  The asymmetric sibling of
    :func:`hamming_neardup_pairs` for new-vs-seen shapes: incremental
    dedup of an arriving batch against a kept-fingerprint ledger
    (:func:`~graphdb_neo4j_spark.streaming.media.
    streaming_fingerprint_neardup`), or image/audio decontamination
    against an eval-set fingerprint frame.

    Same construction and the same pigeonhole guarantee (exact recall
    for ``max_hamming <= bands - 1``, the default): both sides explode
    into (band, slice) keys, candidates come from the equi-join,
    verification is JVM-side ``bit_count(xor)``.  No ``id_a < id_b``
    ordering is applied (the frames are different sets); if an id
    appears on BOTH sides it will pair with itself at distance 0 —
    keep the sides disjoint or filter after.  ``bucket_cap`` applies
    to each side independently, bounding per-bucket join work by
    cap²; the cap-math/production guidance in
    :func:`hamming_neardup_pairs` applies unchanged.

    Unlike the self-join sibling, each exploded side is read exactly
    ONCE, so nothing is materialized and there is no release handle —
    the return is a plain lazy DataFrame.  100 TB shape: only (id,
    hash, band, slice) integer keys shuffle; the ledger side is
    re-exploded per call (cheap codegen over an 8-byte column) — at
    extreme ledger sizes, pre-materializing the exploded ledger
    partitioned by ``band`` is a pure storage-side optimization.
    """
    if max_hamming is None:
        max_hamming = bands - 1
    lhs = _cap_buckets(_band_entries(left, id_col, hash_col, bands), bucket_cap)
    rhs = _cap_buckets(
        _band_entries(
            right, right_id_col or id_col, right_hash_col or hash_col, bands
        ),
        bucket_cap,
    )
    cand = (
        lhs.alias("a")
        .join(
            rhs.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.slice") == F.col("b.slice")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.h").alias("__ha"),
            F.col("b.h").alias("__hb"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            out_col,
            F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb"))).cast("int"),
        )
        .filter(F.col(out_col) <= max_hamming)
        .drop("__ha", "__hb")
    )


def hamming_neardup_clusters(
    hashes: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "phash",
    bands: int = 8,
    max_hamming: int | None = None,
    bucket_cap: int | None = None,
) -> DataFrame:
    """(id, cluster_id, is_keeper) — the end-to-end fingerprint dedup
    pass: :func:`hamming_neardup_pairs` candidates → connected
    components → keep one member per cluster (the lexicographic-min
    id, :func:`neardup_clusters`' contract — ids are compared as
    STRINGS by the components operator).

    Cluster closure matters: perceptual/SimHash near-duplication is
    not transitive (A~B~C within threshold with A≁C), and pair-level
    dedup alone keeps too much — the components pass lands the chain
    in ONE cluster.  Same scale shape as its text sibling: the only
    per-pair work happens on LSH candidates, the component loop moves
    (key, label) pairs only."""
    from graphdb_neo4j_spark.operators.traversal import connected_components

    pairs, handle = hamming_neardup_pairs(
        hashes,
        id_col=id_col,
        hash_col=hash_col,
        bands=bands,
        max_hamming=max_hamming,
        bucket_cap=bucket_cap,
    )
    ids = hashes.select(F.col(id_col).cast("string").alias("key")).distinct()
    edges = pairs.select(
        F.col("id_a").cast("string").alias("src"),
        F.col("id_b").cast("string").alias("dst"),
    )
    comp = connected_components(ids, edges)
    # the components loop eagerly checkpoints its edge frame up front,
    # so the LSH intermediate is fully consumed here — release it (the
    # pairs-handle contract, ADVICE r9)
    handle.release()
    return comp.select(
        F.col("key").alias("id"),
        F.col("component").alias("cluster_id"),
        (F.col("key") == F.col("component")).alias("is_keeper"),
    )
