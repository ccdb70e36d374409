"""Text analysis for training-data curation: language ID, quality scoring,
token counting, document fingerprinting.

All pure column expressions (whole-stage codegen; zero UDFs) and all
deterministic, so each has an exact DuckDB oracle. Heuristics are simple on
purpose — the value here is the distributed shape (single projection over the
scan, aggregations with partial combine), not NLP sophistication.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from rio_spark.operators.dedup import normalize_text, tokens_col

# tiny stopword profiles for the n-gram/stopword language heuristic
LANG_PROFILES = {
    "en": ["the", "and", "of", "to", "in"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
}

EN_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"]


def _passthrough_cols(docs: DataFrame, id_col: str, produced: tuple):
    """Columns a passthrough scorer carries: every input column except
    ``id_col``. Collisions are an error, not silent shadowing — an input
    that already holds a column this scorer is about to emit (or a stray
    'doc_id' when ``id_col`` differs) would otherwise yield duplicate
    names and AMBIGUOUS_REFERENCE failures far downstream."""
    carried = [c for c in docs.columns if c != id_col]
    clash = set(carried) & (set(produced) | {"doc_id"})
    if clash:
        raise ValueError(
            f"passthrough input already has column(s) {sorted(clash)} that "
            "this scorer emits (or 'doc_id'); rename or drop them first"
        )
    return [F.col(c) for c in carried]


def _padded(col):
    return F.concat(F.lit(" "), normalize_text(col), F.lit(" "))


def _hits_on(padded, words: list[str]):
    """Total occurrences of profile words with token boundaries over an
    ALREADY-BOUND padded-normalized column (callers let-bind it — see
    language_id) — counted via length difference under replace (vectorized,
    no explode)."""
    hits = None
    for w in words:
        token = f" {w} "
        # overlapping occurrences don't exist for space-delimited tokens;
        # replace with a shorter marker and divide the length delta
        n = (
            F.length(padded)
            - F.length(F.replace(padded, F.lit(token), F.lit(" ")))
        ) / F.lit(len(token) - 1)
        hits = n if hits is None else hits + n
    return hits.cast("double")


def language_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                passthrough: bool = False) -> DataFrame:
    """-> (doc_id, lang_pred, lang_score): argmax of stopword-profile hit
    counts, deterministic tie-break by language code.  ``passthrough=True``
    additionally carries every input column except ``id_col`` through, so a
    gating caller can FILTER on the prediction in the same corpus pass
    instead of joining the id-list back onto the corpus (r7: the
    corpus-clean chain's gate joins re-shuffled the text payload once per
    gate — guide §8), and scorers can CHAIN into one fused projection
    (corpus_mix_report); unused carried columns are pruned by Catalyst.

    Plan shape matters more than the heuristic here: the padded normalized
    text is LET-BOUND (one regexp_replace per row, not one per profile-word
    reference — Catalyst's CollapseProject would otherwise inline it ~40x),
    and the result struct is expanded through ``inline`` (a Generate), the
    one barrier projection collapse cannot reach through, so the whole
    scoring expression evaluates exactly once per row however many output
    columns read it. Measured 7.5s -> sub-second on the sf0.1 gate."""
    from rio_spark.operators.dedup import let_col

    c = F.col(text_col)
    langs = sorted(LANG_PROFILES)  # tie-break: alphabetical

    def build(p):
        arr = F.array(
            *[
                F.struct(
                    (-_hits_on(p, LANG_PROFILES[l])).alias("neg"),
                    F.lit(l).alias("lang"),
                )
                for l in langs
            ]
        )
        return let_col(
            F.array_min(arr),
            lambda b: F.struct(
                b["lang"].alias("lang_pred"), (-b["neg"]).alias("lang_score")
            ),
        )

    cols = [F.col(id_col).alias("doc_id")]
    if passthrough:
        cols += _passthrough_cols(docs, id_col, ("lang_pred", "lang_score"))
    return docs.select(*cols, F.inline(F.array(let_col(_padded(c), build))))


def token_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                passthrough: bool = False) -> DataFrame:
    """-> (doc_id, n_tokens, n_chars, avg_token_len) — whitespace+regex
    tokenizer (the BPE-ish split is the normalize_text regex); tokenization
    let-bound + inline barrier so it runs once per row, not once per
    reference (see language_id — including the passthrough contract)."""
    from rio_spark.operators.dedup import let_col

    st = let_col(
        tokens_col(F.col(text_col)),
        lambda toks: F.struct(
            F.size(toks).alias("n_tokens"),
            F.length(F.col(text_col)).alias("n_chars"),
            F.round(
                F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
                / F.greatest(F.size(toks), F.lit(1)),
                4,
            ).alias("avg_token_len"),
        ),
    )
    cols = [F.col(id_col).alias("doc_id")]
    if passthrough:
        cols += _passthrough_cols(
            docs, id_col, ("n_tokens", "n_chars", "avg_token_len")
        )
    return docs.select(*cols, F.inline(F.array(st)))


def quality_score(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  passthrough: bool = False) -> DataFrame:
    """-> (doc_id, punct_ratio, stopword_ratio, upper_ratio, quality)
    length/punctuation/stopword heuristics; quality in [0,1].
    ``passthrough=True`` carries every input column except ``id_col``
    through for join-free gating and scorer chaining (see language_id).

    Same let-bind + ``inline`` barrier as language_id: the normalization and
    every ratio evaluate once per row regardless of how many output columns
    reference them (the token array reuses the bound padded text — its
    space-split equals tokens_col on the raw text by construction)."""
    from rio_spark.operators.dedup import let_col

    c = F.col(text_col)
    n_chars = F.greatest(F.length(c), F.lit(1))
    punct = (F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))) / n_chars
    upper = (F.length(c) - F.length(F.regexp_replace(c, r"[A-Z]", ""))) / n_chars

    def build(p):
        n_toks = F.greatest(F.size(F.split(F.trim(p), " ")), F.lit(1))
        stop = _hits_on(p, EN_STOPWORDS) / n_toks
        return let_col(
            stop,
            lambda s: let_col(
                punct,
                lambda pu: F.struct(
                    F.round(pu, 4).alias("punct_ratio"),
                    F.round(s, 4).alias("stopword_ratio"),
                    F.round(upper, 4).alias("upper_ratio"),
                    F.round(
                        F.greatest(
                            F.lit(0.0),
                            F.least(
                                F.lit(1.0),
                                F.lit(0.5) + s - pu * 2
                                - F.when(F.length(c) < 20, 0.5).otherwise(0.0),
                            ),
                        ),
                        4,
                    ).alias("quality"),
                ),
            ),
        )

    cols = [F.col(id_col).alias("doc_id")]
    if passthrough:
        cols += _passthrough_cols(
            docs, id_col,
            ("punct_ratio", "stopword_ratio", "upper_ratio", "quality"),
        )
    return docs.select(*cols, F.inline(F.array(let_col(_padded(c), build))))


def fingerprint(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """-> (doc_id, fp): md5 of normalized text (whole-doc fingerprint) plus
    a rolling 5-token shingle min-hash (content-shift tolerant)."""
    from rio_spark.operators.dedup import shingles_col

    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(normalize_text(F.col(text_col))).alias("fp"),
        F.array_min(F.transform(shingles_col(F.col(text_col), 5), F.md5)).alias("rolling_fp"),
    )


def bpe_token_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                    piece: int = 4) -> DataFrame:
    """BPE-ish token counting: a GPT-2-style regex pre-tokenizer (letter runs
    / digit runs / single punctuation) plus a subword estimate that splits
    each letter run into ceil(len/piece) pieces — the standard cheap stand-in
    for a real BPE vocab when budgeting token counts over a 100 TB corpus.
    Pure column ops (regexp_extract_all + higher-order functions); the regex
    is deliberately RE2-safe so the DuckDB oracle evaluates it identically.

    -> (doc_id, n_pretokens, n_words, n_numbers, n_punct, n_subwords).
    The three regex extractions are let-bound behind an inline barrier —
    each scans the text once per row however many counts reference it."""
    from rio_spark.operators.dedup import let_col

    lowered = F.lower(F.col(text_col))
    pre = F.regexp_extract_all(lowered, F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
    words = F.regexp_extract_all(lowered, F.lit(r"[a-z]+"), 0)
    numbers = F.regexp_extract_all(lowered, F.lit(r"[0-9]+"), 0)
    st = let_col(pre, lambda pr: let_col(words, lambda wd: let_col(
        numbers,
        lambda nu: F.struct(
            F.size(pr).alias("n_pretokens"),
            F.size(wd).alias("n_words"),
            F.size(nu).alias("n_numbers"),
            (F.size(pr) - F.size(wd) - F.size(nu)).alias("n_punct"),
            F.aggregate(
                wd, F.lit(0),
                lambda acc, w: acc + F.ceil(F.length(w) / F.lit(piece)).cast("int"),
            ).alias("n_subwords"),
        ),
    )))
    return docs.select(
        F.col(id_col).alias("doc_id"), F.inline(F.array(st))
    )


# PII patterns deliberately RE2-safe (no backrefs/lookaround) so the DuckDB
# oracle evaluates the SAME regex — masking must be reproducible across
# engines for a lineage-audited corpus. Order matters: emails are masked
# before phone-like digit runs so an address's digits can't be half-eaten.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("phone", r"\+?[0-9][0-9()\-\s]{7,}[0-9]", "<PHONE>"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
]


def pii_mask(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Training-data PII scrub: mask emails / SSN-shaped ids / phone-like
    digit runs / IPv4s with typed placeholders, and count each kind (the
    counts feed a redaction-rate metric per corpus shard). Pure column ops —
    regexp_replace / regexp_count chain, whole-stage codegen, no shuffle.

    -> (doc_id, masked, n_email, n_ssn, n_phone, n_ipv4).

    Each masking stage is let-bound (count + replace computed once on the
    bound intermediate, nested so stage i+1 reads stage i's output variable)
    and the final struct leaves through an inline barrier — one regex count
    and one replace per pattern per row, where the naive chained-column form
    re-ran the whole growing replace chain under every count column."""
    from rio_spark.operators.dedup import let_col

    def build(i, m, counts):
        if i == len(PII_PATTERNS):
            return F.struct(m.alias("masked"), *counts)
        name, pat, token = PII_PATTERNS[i]
        return let_col(
            F.struct(
                F.regexp_count(m, F.lit(pat)).alias("c"),
                F.regexp_replace(m, pat, token).alias("m"),
            ),
            lambda st: build(i + 1, st["m"], [*counts, st["c"].alias(f"n_{name}")]),
        )

    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.inline(F.array(build(0, F.col(text_col), []))),
    )


def stratified_sample(
    docs: DataFrame, strata_col, k: int, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic per-stratum top-k sample: rank by md5(doc_id) inside
    each stratum (a seedless, engine-reproducible shuffle order) and keep k.
    The standard down-sampling step of a training-data mix (k docs per
    language/source/quality bucket); one shuffle on the stratum key, and the
    rank is a window on that same key — no second exchange.

    -> (doc_id, stratum, rank)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("stratum").orderBy(F.md5(F.col(id_col).cast("string")), id_col)
    return (
        docs.select(F.col(id_col).alias("doc_id"), strata_col.alias("stratum"))
        .select("*", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= k)
    )


def vocab_top_df(
    docs: DataFrame, k: int = 100, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Vocabulary building: top-k tokens by document frequency (distinct
    docs containing the token), deterministic tie-break on the token itself.
    The first step of any tokenizer/vocab pipeline over a 100 TB corpus:
    explode distinct per-doc tokens (map-side dedup before the shuffle),
    one hash-aggregate on the token key, top-k.

    -> (token, df) ordered by (df desc, token asc)."""
    from rio_spark.operators.dedup import tokens_col

    ex = docs.select(
        F.explode(F.array_distinct(tokens_col(F.col(text_col)))).alias("token")
    ).filter(F.col("token") != "")
    return (
        ex.groupBy("token")
        .agg(F.count("*").alias("df"))
        .orderBy(F.col("df").desc(), F.col("token").asc())
        .limit(k)
    )


def tfidf_top(
    docs: DataFrame, k: int = 100, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """TF-IDF-style term salience with a LINEAR idf: score = tf * N / df.

    The classic ln(N/df) is deliberately avoided on the oracle-checked
    surface: libm ln() is not bit-reproducible across engines, while counts
    are exact integers and the score here is two IEEE double ops (multiply,
    divide) in a fixed order — bit-identical everywhere, so the result needs
    no rounding and can never hit a rounding-grid tie.  Plan: one explode ->
    (doc, token) hash agg (map-side combinable) -> token-level df agg
    (vocabulary-sized, broadcast back) -> global top-k with a total
    (score desc, doc_id, token) order.
    """
    from rio_spark.operators.dedup import tokens_col

    toks = docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.explode(tokens_col(F.col(text_col))).alias("token"),
    ).filter(F.col("token") != "")
    # tf feeds BOTH the df derivation and the scored join: without the
    # cache the corpus explode + (doc, token) aggregation ran twice (r7,
    # plan-verified: two Scan+Generate+HashAggregate subtrees). Cache
    # lifecycle is caller-owned per the catalog convention; at a scale
    # where tf outgrows memory the cache spills — still cheaper than
    # re-exploding the corpus.
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf")).cache()
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    # N is a bounded scalar constant (one driver count; parquet sources
    # answer it from footer metadata) — a lit beats a degenerate 1-row join
    n_docs = docs.count()
    score = (
        F.col("tf").cast("double") * F.lit(float(n_docs))
        / F.col("df").cast("double")
    )
    return (
        tf.join(F.broadcast(df), "token")
        .select("doc_id", "token", "tf", "df", score.alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc(), F.col("token").asc())
        .limit(k)
    )


def ngram_top(
    docs: DataFrame, n: int = 2, k: int = 100, text_col: str = "text"
) -> DataFrame:
    """Corpus-wide top-k token n-grams by occurrence (LM-style n-gram
    statistics over a training corpus).  One explode + one hash aggregate
    on the n-gram key (map-side combinable), deterministic
    (count desc, gram asc) tie-break.  Documents shorter than n tokens
    contribute nothing (unlike dedup shingles, which keep a whole-doc
    fallback shingle — different contract, hence not shingles_col)."""
    from rio_spark.operators.dedup import let_col, tokens_col

    grams = let_col(
        tokens_col(F.col(text_col)),
        lambda toks: F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    return (
        docs.select(F.explode(grams).alias("gram"))
        .filter(F.col("gram") != "")
        .groupBy("gram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("gram").asc())
        .limit(k)
    )


def pack_sequences(
    docs: DataFrame,
    budget: int = 2048,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    numeric_ids: bool = True,
) -> DataFrame:
    """Sequence packing: assign documents to training batches ("bins") so
    each bin holds ~``budget`` tokens, without splitting a document — the
    batch-construction step of an LLM training pipeline.

    -> (doc_id, n_tokens, bin_id) with bin_id = global_tokens_before // budget
    over the deterministic (doc_id % n_buckets, doc_id) total order.

    Scale shape — a DISTRIBUTED PREFIX SUM: a global ordered cumsum window
    would serialize onto one task, so instead documents are bucketed
    (doc_id % n_buckets), each bucket cumsums in parallel under a window,
    and the n_buckets per-bucket totals (a bounded constant) are collected
    and prefix-summed on the driver into per-bucket offsets that are
    broadcast back.  Offset-packing is the standard parallel approximation:
    each bin may overflow ``budget`` by at most one document (a document
    straddling a boundary lands wholly in the bin its first token falls
    in); integer arithmetic end-to-end, so the assignment is
    engine-exact.

    Cache lifetime: the slim (id, count, bucket, cumsum) projection is
    ``.cache()``d because both the totals collect and the returned plan
    consume it; the RETURNED DataFrame reads that cache, so the caller
    owns ``unpersist`` — call ``spark.catalog.clearCache()`` (or unpersist
    via the plan) after the last action if running many packings in one
    long-lived session."""
    from rio_spark.operators.dedup import tokens_col

    spark = docs.sparkSession
    # numeric ids bucket by modulo; string ids by a cross-engine-stable
    # md5-derived hash (the (bucket, doc_id) pair is still a total order)
    id_expr = F.col(id_col).cast("long" if numeric_ids else "string")
    d = docs.select(
        id_expr.alias("doc_id"),
        F.size(tokens_col(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    if numeric_ids:
        d = d.withColumn("bucket", (F.col("doc_id") % n_buckets).cast("long"))
    else:
        d = d.withColumn(
            "bucket",
            (F.ascii(F.substring(F.md5("doc_id"), 1, 1)) % n_buckets).cast("long"),
        )
    w = W.partitionBy("bucket").orderBy("doc_id")
    # consumed by the totals collect AND the final join: cache the slim
    # (id, count, bucket, cumsum) projection so upstream runs once
    d = d.withColumn("local_cum", F.sum("n_tokens").over(w)).cache()
    totals = sorted(
        d.groupBy("bucket").agg(F.sum("n_tokens").alias("tot")).collect(),
        key=lambda r: r["bucket"],
    )
    offsets, running = [], 0
    for r in totals:
        offsets.append((r["bucket"], running))
        running += r["tot"]
    off_df = spark.createDataFrame(offsets, "bucket long, off long")
    return (
        d.join(F.broadcast(off_df), "bucket")
        .select(
            "doc_id",
            "n_tokens",
            F.expr("(off + local_cum - n_tokens) div " + str(int(budget))).alias("bin_id"),
        )
    )


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Repetition quality signal: the fraction of duplicated token n-grams
    per document — the standard "repetitious document" filter of LLM corpus
    cleaning (boilerplate, keyword stuffing, decoding loops score high).

    Pure column ops over the shared shingle derivation (dedup.shingles_col,
    so the signal is definitionally consistent with the near-dup family);
    whole-stage codegen end-to-end, no shuffle — embarrassingly parallel at
    any scale. Shingles and the dup count are let-bound and the result
    struct expanded through an inline barrier: Catalyst inlines duplicated
    alias expressions into every use site, which would otherwise
    re-tokenize the text once per output column.
    """
    from rio_spark.operators.dedup import let_col, shingles_col

    stats = let_col(
        shingles_col(F.col(text_col), n),
        lambda sh: let_col(
            F.size(sh) - F.size(F.array_distinct(sh)),
            lambda dups: F.struct(
                F.size(sh).cast("int").alias("n_grams"),
                dups.cast("int").alias("n_dup_grams"),
                F.round(dups / F.size(sh), 4).alias("dup_fraction"),
            ),
        ),
    )
    return docs.select(
        F.col(id_col).cast("string").alias("doc_id"), F.inline(F.array(stats))
    )


def corpus_mix_report(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bins: int = 5,
) -> DataFrame:
    """The corpus composition ("data recipe") report a training run is
    steered by: documents bucketed by predicted language x quality band ->
    (lang_pred, q_bucket, n_docs, total_tokens, doc_share).

    Composes the audited scorers unchanged (language_id, quality_score,
    token_stats — all let-bound single-pass projections) CHAINED through
    their passthrough mode into one fused corpus pass (r7, guide §2.4/§8:
    the former doc_id equi-join formulation scanned the corpus three times
    and shuffled the per-doc scores twice; doc_ids are unique and every
    scorer emits exactly one deterministic row per input row, so the fused
    projection is row-identical to the inner joins — pinned by the
    unchanged oracle), then one map-side-combinable aggregate and a 1-row
    broadcast join for the share denominator; nothing here materializes
    per-token state, so the report costs ~one scan at any corpus size.
    ``q_bucket`` = least(floor(quality * bins), bins-1) — identical float
    arithmetic on both engines given the scorers' rounded quality.

    Cache lifetime: the tiny per-(lang, band) aggregate is ``.cache()``d
    because both the share denominator and the returned plan consume it;
    the RETURNED DataFrame reads that cache, so the caller owns
    ``unpersist`` — call ``spark.catalog.clearCache()`` (or unpersist via
    the plan) after the last action if running many reports in one
    long-lived session."""
    # the scorers alias their id output to "doc_id" regardless of input —
    # normalize here so any (id_col, text_col) works
    docs = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    j = token_stats(
        quality_score(language_id(docs, passthrough=True), passthrough=True),
        passthrough=True,
    ).select("doc_id", "lang_pred", "quality", "n_tokens")
    bucket = F.least(F.floor(F.col("quality") * bins), F.lit(bins - 1)).cast("int")
    # per is tiny (<= n_langs * bins rows) but its subtree is the whole
    # corpus pass, and BOTH the share denominator and the returned plan
    # consume it — cache it so the corpus scans once (catalog cache-lifetime
    # convention: the returned plan reads the cache, caller owns eviction)
    per = j.groupBy(F.col("lang_pred"), bucket.alias("q_bucket")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    ).cache()
    tot = per.agg(F.sum("n_docs").alias("__t")).withColumn("__k", F.lit(1))
    return (
        per.withColumn("__k", F.lit(1))
        .join(F.broadcast(tot), "__k")
        .select(
            "lang_pred", "q_bucket", "n_docs", "total_tokens",
            F.round(F.col("n_docs") / F.col("__t"), 6).alias("doc_share"),
        )
    )
