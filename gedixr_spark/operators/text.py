"""Text-analysis operators for large-scale training-data pipelines
(SURVEY.md §7.4; driver north star). All pure built-in column
expressions — JVM-side, whole-stage-codegen friendly, no UDFs.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gedixr_spark.session import local_frame

# small fixed marker sets for the n-gram/stopword language heuristic;
# deterministic and engine-portable (the point is the operator shape,
# not linguistic accuracy)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of"),
    "es": ("el", "la", "los", "de"),
    "fr": ("le", "la", "les", "des"),
    "de": ("der", "die", "das", "und"),
}

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization with empty-token removal."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, " "), lambda t: t != "")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def regex_token_count(col: Column | str, pattern: str = "[a-z0-9]+") -> Column:
    """Regex tokenization count over the lowercased text — the
    'BPE-ish regex' counting path (engine-portable pattern, so the
    DuckDB oracle replays it)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(F.lower(c), F.lit(pattern), F.lit(0)))


def bpe_ish_token_count(col: Column | str) -> Column:
    """Sub-word-ish token estimate: word-boundary pieces plus one extra
    token per 6 chars of long words (a cheap BPE proxy that only needs
    built-ins)."""
    c = F.col(col) if isinstance(col, str) else col
    words = tokens(c)
    extra = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.floor(F.length(w) / 6).cast("int")
    )
    return F.size(words) + extra


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring features: token count, char count, mean token
    length, stopword ratio, uppercase ratio — the standard cheap
    filters a 100 TB corpus pass computes in one scan."""
    toks = tokens(text_col)
    n_tok = F.size(toks)
    sum_len = F.aggregate(F.transform(toks, F.length), F.lit(0), lambda a, x: a + x)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, F.lower(t))))
    n_upper = F.length(F.regexp_replace(F.col(text_col), "[^A-Z]", ""))
    return df.select(
        "*",
        n_tok.alias("n_tokens"),
        F.length(text_col).alias("n_chars_measured"),
        (sum_len.cast("double") / n_tok).alias("mean_token_len"),
        (n_stop.cast("double") / n_tok).alias("stopword_ratio"),
        (n_upper.cast("double") / F.length(text_col)).alias("upper_ratio"),
    )


def lang_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Marker-word language ID with a deterministic preference order on
    ties (en > es > fr > de). Pure column math: per-language marker hit
    counts, then a when-chain argmax."""
    toks = F.transform(tokens(text_col), F.lower)
    scores = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        scores[lang] = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
    langs = list(LANG_MARKERS)
    # CASE chain in preference order: lang k only needs >= vs LATER
    # langs — if an earlier lang lost its own WHEN, it can't exceed k
    # (it lost to something k already dominates). First-true-wins gives
    # a deterministic tie-break identical to the SQL oracle's CASE.
    expr = None
    for i, lang in enumerate(langs[:-1]):
        cond = None
        for other in langs[i + 1 :]:
            ge = scores[lang] >= scores[other]
            cond = ge if cond is None else (cond & ge)
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    return df.withColumn(out_col, expr.otherwise(langs[-1]))


def rolling_hash(col: Column | str, base: int = 31, mod: int = 1_000_000_007) -> Column:
    """Order-SENSITIVE polynomial rolling hash over tokens (Rabin-Karp
    style): h = Σ h·base + digest16(token) (mod p). Complements the
    order-insensitive doc_fingerprint; pure integer fold, so the SQL
    oracle replays it exactly. digest16 = first 4 hex chars of the
    token's md5 (engine-portable)."""
    digits = F.transform(
        tokens(col), lambda t: F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("long")
    )
    return F.aggregate(
        digits, F.lit(0).cast("long"), lambda acc, d: (acc * base + d) % mod
    )


def tfidf_topk(
    df: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-k characteristic terms per document by tf-idf rank.

    idf is the RATIO N/df(term) instead of log(N/df): a monotone
    transform, so the per-doc ranking is identical, while the score
    tf·N/df stays an exact-integer product into one IEEE division —
    deterministic across engines (log's last-ulp differs between
    libms, which would break oracle hash-parity).

    Plan: one explode→(doc,term) count shuffle, a term-keyed join onto
    the doc-frequency table (AQE broadcasts it when the vocabulary is
    small; at 100 TB vocab it stays a shuffle join — never forced), a
    broadcast 1-row corpus count, then a per-doc window top-k. Ties
    break by term ascending, so row_number is deterministic.
    """
    from pyspark.sql import Window

    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    total = df.agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            "term",
            "tf",
            "df",
            ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(id_col, "term", "tf", "df", "tfidf", "rnk")
    )


def repetition_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1), the
    per-document filters a pretraining corpus pass applies before any
    cross-doc dedup:

    - ``dup_token_ratio``: 1 − distinct/total tokens — fraction of the
      doc that is repeated tokens.
    - ``top_bigram_ratio``: occurrences of the single most frequent
      word bigram over all bigram slots.

    SHUFFLE-FREE by design: the natural formulation (explode bigrams →
    groupBy(doc, bigram) → max) shuffles the whole corpus twice; at
    100 TB that dominates the job. Instead the max-frequency bigram is
    computed per row as sort-then-longest-run — ``array_sort`` puts
    equal bigrams adjacent, one ``aggregate`` fold counts the longest
    run — keeping the whole operator inside whole-stage codegen with
    zero exchanges. Ratios are exact-int divisions (single IEEE op),
    NULL when the doc is too short to have bigrams.
    """
    toks = tokens(text_col)
    n = F.size(toks)
    # guard: sequence(1, 0) would be DESCENDING, not empty
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    run = F.aggregate(
        F.array_sort(bigrams),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return df.select(
        "*",
        F.when(n > 0, 1.0 - F.size(F.array_distinct(toks)).cast("double") / n).alias(
            "dup_token_ratio"
        ),
        F.when(n >= 2, run.cast("double") / (n - 1)).alias("top_bigram_ratio"),
    )


def contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    min_overlap: int = 1,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: per corpus doc, how many of its word
    n-gram shingles appear anywhere in the benchmark set, and a
    ``contaminated`` flag at ``min_overlap``. The standard eval-leakage
    sweep a training corpus runs before a model sees it.

    Plan: the benchmark's distinct shingles are a SMALL table (eval
    suites are MBs against a 100 TB corpus) — broadcast it, so the
    corpus side stays a map-only scan: explode shingles, broadcast-hash
    semi-count, partial-aggregated groupBy on doc id. One shuffle total
    (the per-doc count), no corpus self-join anywhere. Docs with zero
    overlap are kept (left join) so the output is a full audit column.
    """
    from gedixr_spark.operators.dedup import word_shingles

    bench_sh = F.broadcast(
        benchmark.select(F.explode(word_shingles(text_col, n)).alias("shingle")).distinct()
    )
    corpus_sh = corpus.select(
        F.col(id_col), F.explode(word_shingles(text_col, n)).alias("shingle")
    )
    hits = (
        corpus_sh.join(bench_sh, "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) >= min_overlap).alias("contaminated"),
        )
    )


def word_shingle_positions(col: Column | str, n: int = 3) -> Column:
    """POSITIONAL word n-gram shingles: array of struct(pos, shingle)
    where pos is the 0-based token index the shingle starts at. Unlike
    ``dedup.word_shingles`` this keeps duplicates and order — the form
    span-level decontamination needs."""
    toks = tokens(col)
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.struct(
            i.alias("pos"), F.array_join(F.slice(toks, i + 1, n), " ").alias("shingle")
        ),
    )
    empty = F.array().cast("array<struct<pos:int,shingle:string>>")
    return F.when(F.size(toks) >= n, grams).otherwise(empty)


def contamination_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-level decontamination: WHICH token ranges of each corpus doc
    overlap the benchmark — the actionable output a real pipeline
    redacts (doc-level flags from ``contamination`` only say drop/keep).

    Returns (doc_id, span_start, span_end): 0-based token index ranges,
    end exclusive, with overlapping/touching hit ranges merged into
    maximal contaminated spans.

    Plan: positional shingles explode (map-side), broadcast-join the
    (small) benchmark shingle set, then the classic interval-merge —
    one window per doc ordered by span_start (running max of prior
    span_end → island ids → min/max per island). Exactly one shuffle
    of the HIT positions (tiny vs the corpus), never the corpus text.
    All-integer arithmetic → oracle-replayable."""
    from pyspark.sql.window import Window

    from gedixr_spark.operators.dedup import word_shingles

    bench_sh = F.broadcast(
        benchmark.select(F.explode(word_shingles(text_col, n)).alias("shingle")).distinct()
    )
    pos_sh = corpus.select(
        F.col(id_col), F.explode(word_shingle_positions(text_col, n)).alias("ps")
    ).select(id_col, F.col("ps.pos").alias("span_start"), F.col("ps.shingle").alias("shingle"))
    hits = pos_sh.join(bench_sh, "shingle").select(
        id_col, "span_start", (F.col("span_start") + n).alias("span_end")
    )
    return _merge_spans(hits, id_col)


def _merge_spans(hits: DataFrame, id_col: str) -> DataFrame:
    """Interval-merge (doc_id, span_start, span_end) hit rows into
    maximal non-overlapping spans: one window per doc ordered by
    span_start (running max of prior span_end → island ids → min/max
    per island). span_start values are unique per doc (one shingle per
    token position), so the ordering is deterministic."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col).orderBy("span_start")
    prev_end = F.max("span_end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    new_island = F.when(prev_end.isNull() | (F.col("span_start") > prev_end), 1).otherwise(0)
    islands = hits.withColumn(
        "island",
        F.sum(new_island).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return (
        islands.groupBy(id_col, "island")
        .agg(F.min("span_start").alias("span_start"), F.max("span_end").alias("span_end"))
        .select(id_col, "span_start", "span_end")
    )


def substring_dedup_spans(
    corpus: DataFrame,
    n: int = 5,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document exact substring duplication: WHICH token ranges
    of each doc are verbatim n-gram runs shared with ≥ ``min_docs-1``
    OTHER docs — the distributed n-gram approximation of
    suffix-array exact-substring dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): every shared
    substring of ≥ n tokens is covered by shared n-grams, and merged
    hit runs recover the maximal duplicated spans.

    Returns (doc_id, span_start, span_end): 0-based token ranges, end
    exclusive, overlapping hits merged. Repeats WITHIN a single doc
    don't count (that is ``repetition_signals``'s job).

    Plan: positional shingles explode map-side with the shingle
    md5-hashed immediately (compact 128-bit keys through every
    exchange — never the raw text, the codegen/shuffle-width rule);
    one hash agg finds shingles in ≥ min_docs distinct docs; hits
    join back on the hash; then the per-doc interval merge. Three
    shuffles, all on compact keys, corpus text never shuffles. The
    duplicated-shingle set is NOT broadcast — at 100 TB it is
    corpus-sized, and the equi-join handles it; AQE/salting cover
    hot shingles (boilerplate n-grams are the classic skew key)."""
    pos = corpus.select(
        F.col(id_col), F.explode(word_shingle_positions(text_col, n)).alias("ps")
    ).select(
        id_col,
        F.col("ps.pos").alias("span_start"),
        F.md5(F.col("ps.shingle")).alias("h"),
    )
    dup = (
        pos.groupBy("h")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("h")
    )
    hits = pos.join(dup, "h").select(
        id_col, "span_start", (F.col("span_start") + n).alias("span_end")
    )
    return _merge_spans(hits, id_col)


# PII patterns chosen for engine portability: the same pattern strings
# compile identically under Java regex (Spark) and RE2 (DuckDB) — no
# lookaround, no backrefs — so oracle parity holds.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


def pii_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc PII hit counts (``n_email``, ``n_ipv4``) — the audit
    pass before redaction. Pure regexp column math, one scan, counts
    are independent per pattern."""
    c = F.col(text_col)
    return df.select(
        "*",
        *[
            F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0))).alias(f"n_{name}")
            for name, pat in PII_PATTERNS.items()
        ],
    )


def redact_pii(df: DataFrame, text_col: str = "text", out_col: str = "text_redacted") -> DataFrame:
    """Replace every PII match with a typed placeholder (``<EMAIL>``,
    ``<IPV4>``), email first so address-embedded dotted quads redact as
    part of the email. Map-side regexp_replace chain — at 100 TB this
    is a single codegen'd projection, no UDF, no shuffle."""
    out = F.col(text_col)
    for name, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{name.upper()}>")
    return df.withColumn(out_col, out)


def blocklist_filter(
    df: DataFrame, blocked: list[str], col: str = "source"
) -> DataFrame:
    """Drop rows whose ``col`` appears in a blocklist (domain/source
    exclusion — the C4-style cleanup step). Implemented as a BROADCAST
    anti-join rather than ``isin``: real blocklists are millions of
    domains — far past literal-predicate limits but tiny next to the
    corpus, exactly the broadcast-anti-join sweet spot. The blocklist
    arrives as a one-column DataFrame, so at true scale it can also be
    read from storage instead of the driver."""
    spark = df.sparkSession
    bl = F.broadcast(spark.createDataFrame([(b,) for b in blocked], [col]))
    return df.join(bl, on=col, how="left_anti")


def filter_documents(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 5,
    max_tokens: int | None = None,
    min_mean_token_len: float = 2.0,
    max_mean_token_len: float = 12.0,
    min_stopword_ratio: float | None = 0.01,
    max_upper_ratio: float = 0.3,
    max_dup_token_ratio: float | None = 0.6,
) -> DataFrame:
    """C4/Gopher-style document quality gate: composes the
    quality/repetition features into ONE conjunctive predicate —
    length band, mean-token-length band (OCR garbage / code blobs),
    minimum stopword ratio (natural-language-ness), uppercase cap,
    duplicate-token cap. All built-in column math: at 100 TB this is a
    single codegen'd filter on the ingest scan, no UDF, no shuffle.
    Thresholds are the knobs; None disables a clause."""
    toks = tokens(text_col)
    n = F.size(toks)
    sum_len = F.aggregate(F.transform(toks, F.length), F.lit(0), lambda a, x: a + x)
    mean_len = sum_len.cast("double") / n
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_ratio = (
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, F.lower(t)))).cast("double") / n
    )
    upper_ratio = (
        F.length(F.regexp_replace(F.col(text_col), "[^A-Z]", "")).cast("double")
        / F.length(text_col)
    )
    dup_ratio = F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / n
    pred = (n >= min_tokens) & (mean_len >= min_mean_token_len) & (
        mean_len <= max_mean_token_len
    ) & (upper_ratio <= max_upper_ratio)
    if max_tokens is not None:
        pred = pred & (n <= max_tokens)
    if min_stopword_ratio is not None:
        pred = pred & (stop_ratio >= min_stopword_ratio)
    if max_dup_token_ratio is not None:
        pred = pred & (dup_ratio <= max_dup_token_ratio)
    return df.filter(pred)


def segment_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_tokens: int = 10,
    delimiter: str | None = None,
    min_docs: int = 2,
) -> DataFrame:
    """CCNet-style segment-level dedup: remove segments (paragraphs)
    that occur verbatim in ≥ ``min_docs`` distinct documents —
    boilerplate headers, licence blocks, navigation chrome — and
    reassemble each document from its surviving segments in original
    order.

    Segmentation: ``delimiter`` (e.g. ``"\\n"``) splits on it;
    otherwise fixed ``seg_tokens``-token chunks (the paragraph proxy
    for corpora without explicit structure). Reassembly joins surviving
    segments with the delimiter (or a single space in chunk mode).

    100 TB plan: posexplode segments (map-side, ~1× corpus),
    ONE hash shuffle of (md5-key, doc_id) with map-side partial
    distinct for the boilerplate census, an anti-join of segments
    against the boilerplate keys (only REPEATED segments survive the
    census, so the key table is corpus-sparse and AQE broadcasts it),
    then one doc_id shuffle for ordered reassembly. The corpus text
    rides exactly one exchange; decisions travel as 16-byte keys.
    Every input doc appears in the output (fully-boilerplate docs get
    ``text_clean = ''``).
    """
    if delimiter is not None:
        segments = F.split(F.col(text_col), delimiter)
        sep = delimiter
    else:
        toks = tokens(text_col)
        nseg = F.floor((F.size(toks) + seg_tokens - 1) / seg_tokens).cast("int")
        segments = F.when(
            F.size(toks) > 0,
            F.transform(
                F.sequence(F.lit(0), nseg - 1),
                lambda i: F.array_join(F.slice(toks, i * seg_tokens + 1, seg_tokens), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
        sep = " "
    base = df.select(F.col(id_col), segments.alias("__segs"))
    counts = base.select(F.col(id_col), F.size("__segs").alias("n_segs"))
    segs = base.select(
        F.col(id_col), F.posexplode("__segs").alias("pos", "seg")
    ).withColumn("__key", F.md5("seg"))
    boiler = (
        segs.filter(F.length("seg") > 0)
        .groupBy("__key")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__key")
    )
    kept = segs.join(boiler, "__key", "left_anti")
    reasm = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                lambda s: s["seg"],
            ),
            sep,
        ).alias("text_clean"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return counts.join(reasm, id_col, "left").select(
        F.col(id_col),
        F.col("n_segs").cast("long").alias("n_segs"),
        F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
    )


def doc_fingerprint(col: Column | str) -> Column:
    """Order-insensitive document fingerprint: md5 over the sorted
    distinct token set (bag-of-words signature). Used for fuzzy-exact
    dedup where token order/dup noise shouldn't matter."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(tokens(col))), " "))


def train_bigram_lm(
    corpus: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """Train the CCNet-style quality LM: bigram + unigram counts over a
    reference corpus (lowercased whitespace tokens). Pure
    explode+groupBy — two shuffles over token pairs, at any scale. The
    returned count tables are the model; persist them like any other
    table and broadcast at scoring time (a real deployment trains on a
    trusted corpus — e.g. Wikipedia — and scores the crawl)."""
    toks = F.transform(tokens(text_col), F.lower)
    pairs = corpus.select(
        F.explode(
            F.when(
                F.size(toks) >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - 2),
                    lambda i: F.struct(
                        F.element_at(toks, i + 1).alias("w1"),
                        F.element_at(toks, i + 2).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    bigrams = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    unigrams = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("n1"))
    return bigrams, unigrams


def lm_bits_per_token(
    df: DataFrame,
    bigrams: DataFrame,
    unigrams: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_smoothing: int = 1000,
) -> DataFrame:
    """Per-doc pseudo-perplexity: mean -log2 P(w2|w1) over the doc's
    bigrams under add-one smoothing (P = (n12+1)/(n1+V)). The CCNet
    quality signal — natural text that resembles the LM's training
    corpus scores low; gibberish/boilerplate scores high.

    Plan: explode doc bigrams → broadcast-join the count tables (an
    LM over a trusted corpus is small next to a crawl) → one per-doc
    agg. No UDF; log2 is the only float op, applied per bigram then
    averaged (scoring is a heuristic, not an oracle surface). Docs
    with <2 tokens get NULL bits (nothing to score)."""
    toks = F.transform(tokens(text_col), F.lower)
    exploded = df.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size(toks) >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - 2),
                    lambda i: F.struct(
                        F.element_at(toks, i + 1).alias("w1"),
                        F.element_at(toks, i + 2).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("bg"),
    ).select(id_col, "bg.w1", "bg.w2")
    joined = (
        exploded.join(F.broadcast(bigrams), ["w1", "w2"], "left")
        .join(F.broadcast(unigrams), ["w1"], "left")
        .select(
            id_col,
            (
                -F.log2(
                    (F.coalesce("n12", F.lit(0)) + 1).cast("double")
                    / (F.coalesce("n1", F.lit(0)) + vocab_smoothing).cast("double")
                )
            ).alias("bits"),
        )
    )
    scored = joined.groupBy(id_col).agg(F.avg("bits").alias("lm_bits_per_token"))
    return df.join(scored, id_col, "left")


def perplexity_filter(
    df: DataFrame,
    bigrams: DataFrame,
    unigrams: DataFrame,
    max_bits: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_unscorable: bool = False,
) -> DataFrame:
    """Keep docs whose LM bits/token is at most ``max_bits`` (CCNet
    keeps the head/middle of the perplexity distribution). Docs too
    short to score (<2 tokens) are dropped unless keep_unscorable."""
    scored = lm_bits_per_token(df, bigrams, unigrams, text_col, id_col)
    pred = F.col("lm_bits_per_token") <= max_bits
    if keep_unscorable:
        pred = pred | F.col("lm_bits_per_token").isNull()
    return scored.filter(pred)


def perplexity_cutoffs(
    scored: DataFrame,
    fractions: Sequence[float] = (1 / 3, 2 / 3),
    col: str = "lm_bits_per_token",
    accuracy: int = 10_000,
) -> list[float]:
    """Corpus-percentile cutoffs for the perplexity gate — CCNet splits
    the crawl into head/middle/tail at distribution terciles, not at
    fixed bit values. ``percentile_approx`` is the scale path: one
    pass, bounded-memory sketch per partition, no sort. Returns the
    cutoff value per requested fraction (driver-side: len(fractions)
    floats)."""
    row = scored.filter(F.col(col).isNotNull()).agg(
        F.percentile_approx(col, list(fractions), accuracy).alias("cuts")
    ).collect()[0]
    return [float(c) for c in row["cuts"]]


def compression_ratio(
    df: DataFrame, text_col: str = "text", out_col: str = "compression_ratio"
) -> DataFrame:
    """zlib compression ratio per document (compressed/raw bytes) — a
    classic model-free quality signal complementary to the bigram LM
    gate above: near-0 ratios flag template/boilerplate/repeated spam
    (highly compressible), ratios near or above 1 flag random or
    already-compressed noise (base64 blobs, minified bundles); human
    prose sits in a stable mid band. Used as a Gopher-style filter
    rail by real crawl pipelines.

    Arrow-batched pandas UDF (zlib is C-speed; the per-doc cost is the
    bytes themselves) — map-only, no shuffle, safe at any scale. Empty
    or null text → null ratio (no signal, caller decides)."""
    import zlib

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def _ratio(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if not t:
                out.append(None)
                continue
            raw = t.encode("utf-8")
            out.append(len(zlib.compress(raw, 6)) / len(raw))
        return pd.Series(out, dtype="float64")

    return df.withColumn(out_col, _ratio(F.col(text_col)))


def unicode_normalize(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
    form: str = "NFKC",
    strip_control: bool = True,
) -> DataFrame:
    """Unicode normalization (NFKC by default) + control-character
    strip — the canonicalization pass that makes hash-based dedup
    robust: full-width forms, compatibility ligatures and combining
    sequences all render identically but hash differently, so without
    this the exact-dedup md5 misses visually-identical duplicates
    (e.g. ＡＢＣ vs ABC, ﬁ vs fi). Run it BEFORE dedup.exact_dedup /
    signature_store.

    Spark SQL has no NFC/NFKC builtin, so this is an Arrow-batched
    pandas UDF over stdlib unicodedata — map-only, no shuffle;
    normalization is the rare text op where per-row Python-C work is
    unavoidable and Arrow batching keeps it ~µs/doc."""
    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"form must be a unicodedata form, got {form!r}")
    import unicodedata

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    @pandas_udf(StringType())
    def _norm(texts: pd.Series) -> pd.Series:
        def one(t):
            if t is None:
                return None
            s = unicodedata.normalize(form, t)
            if strip_control:
                s = "".join(
                    ch for ch in s if ch == "\n" or unicodedata.category(ch) != "Cc"
                )
            return s

        return texts.map(one, na_action="ignore")

    return df.withColumn(out_col or text_col, _norm(F.col(text_col)))


def build_inverted_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Posting-list inverted index: (term, df, postings sorted id
    array) per distinct lowercase token. THE retrieval-side artifact —
    persist it and term lookups/boolean search never scan the corpus
    again (same persist-the-derivative pattern as signature_store and
    the HLL sketch table).

    One explode + one groupBy (shuffle keyed by term; boilerplate
    terms are the canonical skew keys — AQE splits them, and postings
    for stopword-class terms are the rows a production deployment
    would cap or drop). sort_array makes the array deterministic, so
    the index is hash-stable for testing."""
    return (
        df.select(
            F.col(id_col), F.explode(F.array_distinct(tokens(F.lower(F.col(text_col))))).alias("term")
        )
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sort_array(F.collect_list(id_col)).alias("postings"),
        )
    )


def search_index(
    index: DataFrame, terms: Sequence[str], mode: str = "all"
) -> DataFrame:
    """Boolean term search against a `build_inverted_index` table:
    returns (doc_id) rows matching ALL (intersection) or ANY (union)
    of the lowercase ``terms``. Touches only the |terms| index rows
    (pushed-down IN filter on the term key) and explodes their
    postings — corpus-independent cost, the point of the index.

    ALL-mode intersects via a doc-level count: a doc matching k of the
    k requested DISTINCT terms appears k times after the explode
    (postings are per-term distinct by construction)."""
    if mode not in ("all", "any"):
        raise ValueError(f"mode must be all|any, got {mode!r}")
    want = sorted({t.lower() for t in terms})
    if not want:
        raise ValueError("terms must be non-empty")
    hits = (
        index.filter(F.col("term").isin(want))
        .select(F.explode("postings").alias("doc_id"))
    )
    if mode == "any":
        return hits.distinct()
    counts = hits.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__k"))
    return counts.filter(F.col("__k") == len(want)).select("doc_id")


def build_positional_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Positional inverted index: one row per (term, doc_id) with the
    sorted 0-based token positions — the structure phrase queries
    need (`build_inverted_index` answers boolean queries only).

    posexplode carries the position through the same explode+groupBy
    shape as the boolean index; the extra cost is the positions array
    (corpus token count in total) — the classic space/capability trade
    every search engine makes."""
    return (
        df.select(
            F.col(id_col),
            F.posexplode(tokens(F.lower(F.col(text_col)))).alias("pos", "term"),
        )
        .groupBy("term", id_col)
        .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
    )


def phrase_search(
    index: DataFrame, phrase: Sequence[str], id_col: str = "doc_id"
) -> DataFrame:
    """Exact consecutive-phrase search against a
    `build_positional_index` table: docs where ``phrase``'s tokens
    occur at consecutive positions. Returns (doc_id, n_matches).

    Plan: |phrase| index-row lookups (IN-filter on the term key), one
    equi-join per subsequent term on (doc, aligned position) — the
    position arithmetic ``pos_i == pos_0 + i`` rides the join key, so
    this is |phrase|−1 equi-joins over posting-sized inputs, never a
    corpus scan. Duplicate words in the phrase are handled naturally
    (each occurrence joins on its own alignment)."""
    want = [t.lower() for t in phrase]
    if not want:
        raise ValueError("phrase must be non-empty")
    legs = []
    for i, term in enumerate(want):
        legs.append(
            index.filter(F.col("term") == term)
            .select(F.col(id_col), F.explode("positions").alias("__p"))
            .select(F.col(id_col), (F.col("__p") - i).alias("__anchor"))
        )
    matched = legs[0]
    for leg in legs[1:]:
        matched = matched.join(leg, [id_col, "__anchor"])
    return matched.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_matches"))


def build_tf_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Term-frequency inverted index: one row per term with its
    document frequency and a posting array of (doc_id, tf) structs —
    the ranked-retrieval sibling of `build_inverted_index` (whose
    boolean postings can't score). Same plan shape: one explode +
    groupBy(term, doc) for tf, one groupBy(term) to assemble; postings
    sorted by doc_id so the index is hash-stable.

    Persist it once and BM25 queries never touch the corpus again —
    the same persist-the-derivative pattern as signature_store."""
    tf = (
        df.select(
            F.col(id_col),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
        )
        .groupBy("term", id_col)
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sort_array(
            F.collect_list(F.struct(F.col(id_col).alias("doc_id"), "tf"))
        ).alias("postings"),
    )


def doc_lengths(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, dl) token lengths — BM25's length-normalization input;
    one map-side pass, no shuffle."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        token_count(F.lower(F.col(text_col))).alias("dl"),
    )


def bm25_topk(
    tf_index: DataFrame,
    lengths: DataFrame,
    terms: Sequence[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 top-k over a `build_tf_index` table: (doc_id, score,
    rank), score descending, ties broken by ascending doc_id (fully
    deterministic output order).

    Uses the Lucene idf variant ``ln(1 + (N - df + 0.5)/(df + 0.5))``
    (never negative, so a stop-word-frequency query term cannot
    subtract relevance). Cost is corpus-independent past the index:
    |terms| index rows are touched (pushed-down IN filter), their
    postings exploded, one broadcast of the per-query idf map is
    implicit in the row itself, and the doc-length join runs on the
    candidate set, not the corpus. Top-k compiles to
    TakeOrderedAndProject — no full sort.

    Scoring is float (log/divide), so cross-engine hash oracles don't
    apply; correctness is pinned by the numpy differential in
    tests/test_bm25.py."""
    want = sorted({t.lower() for t in terms})
    if not want:
        raise ValueError("terms must be non-empty")
    if k1 < 0 or not 0 <= b <= 1:
        raise ValueError(f"need k1 >= 0 and 0 <= b <= 1, got k1={k1}, b={b}")
    # corpus stats (N, avgdl) stay IN-PLAN as a one-row broadcast
    # instead of a blocking driver collect (guide §5):
    # same aggregates, same double expression tree, so scores are
    # bit-identical to the literal form — and the whole retrieval is
    # one lazy DAG with zero pre-actions. An empty corpus flows
    # through as an empty result with the same schema.
    stats = lengths.agg(
        F.count(F.lit(1)).alias("__n_docs"), F.avg("dl").alias("__avgdl")
    )
    hits = (
        tf_index.filter(F.col("term").isin(want))
        .select("df", F.explode("postings").alias("p"))
        .crossJoin(F.broadcast(stats))
        .select(
            F.col("p.doc_id").alias("doc_id"),
            F.col("p.tf").alias("tf"),
            F.log(
                F.lit(1.0)
                + (F.col("__n_docs").cast("double") - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
            ).alias("idf"),
            "__avgdl",
        )
    )
    scored = (
        hits.join(lengths, "doc_id")
        .select(
            "doc_id",
            (
                F.col("idf")
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (1.0 - b + b * F.col("dl") / F.col("__avgdl"))
                )
            ).alias("s"),
        )
        .groupBy("doc_id")
        .agg(F.sum("s").alias("score"))
    )
    w_ordered = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    from pyspark.sql import Window

    return w_ordered.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.desc("score"), F.asc("doc_id"))
        ),
    )


def bm25_topk_multi(
    tf_index: DataFrame,
    lengths: DataFrame,
    queries: dict[int, Sequence[str]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 top-k for MANY queries in ONE index pass:
    (query_id, doc_id, score, rank), rank per query, score descending,
    ties broken by ascending doc_id. Identical scoring math to
    `bm25_topk` (Lucene idf variant); the single-query form is the
    special case ``queries={qid: terms}``.

    Scale shape — this is the batch-retrieval operator a serving or
    eval pipeline wants: Q queries cost ONE pushed-down IN scan over
    the union of their terms (not Q index scans), one broadcast
    hash-join against the tiny (query_id, term) table fans each
    posting out to only the queries that asked for that term, and one
    groupBy(query_id, doc_id) + per-query window ranks everything in a
    single shuffle over candidate rows (bounded by Σ_q |postings of
    q's terms|, never corpus-sized). Running `bm25_topk` Q times
    instead costs Q scans, Q doc-length joins, and Q jobs.

    Float scoring ⇒ differential-pinned vs the single-query operator
    (itself numpy-pinned) in tests/test_bm25.py."""
    for qid, ts in queries.items():
        if not ts:
            raise ValueError(f"query {qid} has no terms")
    pairs = sorted(
        {(int(q), t.lower()) for q, ts in queries.items() for t in ts}
    )
    if not pairs:
        raise ValueError("queries must be non-empty")
    if k1 < 0 or not 0 <= b <= 1:
        raise ValueError(f"need k1 >= 0 and 0 <= b <= 1, got k1={k1}, b={b}")
    spark = tf_index.sparkSession
    # corpus stats in-plan (one-row constant-key broadcast, zero
    # pre-actions) — same trees as the literal form, bit-identical
    # scores; see bm25_topk
    stats = lengths.agg(
        F.count(F.lit(1)).alias("__n_docs"), F.avg("dl").alias("__avgdl")
    )
    qt = local_frame(spark, pairs, "query_id long, term string")
    want = sorted({t for _, t in pairs})
    hits = (
        tf_index.filter(F.col("term").isin(want))
        .join(F.broadcast(qt), "term")
        .select(
            "query_id",
            "df",
            F.explode("postings").alias("p"),
        )
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            F.col("p.doc_id").alias("doc_id"),
            F.col("p.tf").alias("tf"),
            F.log(
                F.lit(1.0)
                + (F.col("__n_docs").cast("double") - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
            ).alias("idf"),
            "__avgdl",
        )
    )
    scored = (
        hits.join(lengths, "doc_id")
        .select(
            "query_id",
            "doc_id",
            (
                F.col("idf")
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (1.0 - b + b * F.col("dl") / F.col("__avgdl"))
                )
            ).alias("s"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("s").alias("score"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def init_tf_index_table(spark, path: str, docs: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id") -> dict:
    """Materialize `build_tf_index` output as a VERSIONED table
    (sinks/versioned.py) keyed by term — the transactional home for an
    index that must stay fresh as batches land (see
    `update_tf_index`)."""
    from gedixr_spark.sinks.versioned import commit_append, init_versioned

    init_versioned(spark, path)
    return commit_append(
        spark, path, build_tf_index(docs, text_col=text_col, id_col=id_col)
    )


def update_tf_index(
    spark,
    path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    meta: dict | None = None,
) -> dict:
    """Incremental index maintenance: fold a NEW batch of documents
    into a versioned tf-index table without rebuilding it. The delta's
    terms are computed from the batch alone; current postings for
    exactly those terms are read back (semi-join on the term key),
    merged (concat, re-sort, df recomputed from the merged posting
    set), and committed as one file-granularity upsert — untouched
    terms' files are never rewritten, and a reader mid-update sees
    either the old or the new snapshot, never a half-merged index.

    Contract: ``new_docs`` ids must be previously UNSEEN (the standard
    append-only ingest); re-sending a doc would double-count its tf.
    The differential test pins incremental == from-scratch equality.

    At 100 TB this is the retrieval-derivative lifecycle: the corpus
    is touched once per batch (the delta build), the index rewrite is
    proportional to the batch's term footprint, and the commit log
    gives the index time travel for free (query yesterday's index
    while today's builds)."""
    from gedixr_spark.sinks.versioned import commit_upsert, read_versioned

    delta = build_tf_index(new_docs, text_col=text_col, id_col=id_col)
    cur = read_versioned(spark, path)
    touched = cur.join(delta.select("term"), "term", "semi")
    merged = (
        touched.unionByName(delta)
        .select("term", F.explode("postings").alias("p"))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sort_array(F.collect_list("p")).alias("postings"),
        )
    )
    # commit_upsert drives FOUR actions over `updates` (key-cardinality
    # gate, touched-file discovery, keep-side anti-join, final write);
    # without this the full tokenize+merge plan — a corpus-batch scan —
    # re-executes for each. Lazy localCheckpoint materializes it once
    # on the first action and the rest reuse the blocks (the pagerank/
    # kmeans discipline; measured 4.6 → ~2 s at sf0.1).
    merged = merged.localCheckpoint(eager=False)
    return commit_upsert(spark, path, merged, keys=["term"], meta=meta)


def update_tf_index_from_changes(
    spark,
    index_path: str,
    corpus_path: str,
    since_version: int,
    version: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    meta: dict | None = None,
) -> dict:
    """Index maintenance driven by the CORPUS table's row-level CDC
    feed (`sinks.versioned.table_changes`): inserts add postings,
    deletes retract them, updates do both — so the index tracks a
    corpus taking upserts/deletes/merges, which `update_tf_index`
    (append-only, unseen-ids contract) cannot. The feed's
    update_preimage/delete rows carry the documents' OLD text, which
    identifies exactly the (term, doc) postings to retract — no
    old-corpus snapshot read needed.

    One commit on the index table: touched terms' current postings
    are read back (semi-join on the term key), retracted postings
    anti-joined out, new postings unioned in, df recomputed — then
    `commit_merge` applies it atomically: terms whose posting list
    emptied are DELETED from the index (when_matched_delete), the
    rest full-row updated, brand-new terms inserted. Work is
    proportional to the CHANGED docs' term footprint; untouched terms'
    files are never rewritten (commit_merge's file-granularity).

    Differential-pinned: feed-driven maintenance over any
    upsert/delete history equals `build_tf_index` over the corpus
    snapshot, bit-for-bit."""
    from gedixr_spark.sinks.versioned import (
        commit_merge, read_versioned, table_changes,
    )

    from pyspark.sql.window import Window

    # the feed fans out THREE ways below (bounds, added, removed) — pin
    # it once so the per-commit diff machinery doesn't re-execute per
    # branch (r11 VERDICT #3; job count asserted in the tests)
    ch = table_changes(
        spark, corpus_path, since_version, version
    ).localCheckpoint(eager=False)
    # NET the feed per doc FIRST. A doc changed several times in the
    # consumed range emits a pre/post pair PER COMMIT; summing every
    # postimage would double-count its tf and retracting only against
    # the pre-refresh index would leave intermediate versions' postings
    # stale (r11 review finding, empirically confirmed). What the index
    # needs is exactly two rows per doc: its INITIAL text (to retract —
    # only if the doc existed at since_version, i.e. its earliest
    # change is a preimage/delete no later than any insert) and its
    # FINAL text (to add — only if the doc still exists at the end,
    # i.e. its latest change is an insert/postimage no earlier than any
    # delete).
    is_plus = F.col("_change_type").isin("insert", "update_postimage")
    v = F.col("_commit_version")
    bounds = ch.groupBy(id_col).agg(
        F.max(F.when(is_plus, v)).alias("__maxp"),
        F.min(F.when(is_plus, v)).alias("__minp"),
        F.max(F.when(~is_plus, v)).alias("__maxm"),
        F.min(F.when(~is_plus, v)).alias("__minm"),
    )
    w_desc = Window.partitionBy(id_col).orderBy(v.desc())
    w_asc = Window.partitionBy(id_col).orderBy(v.asc())
    added = (
        ch.filter(is_plus)
        .withColumn("__rn", F.row_number().over(w_desc))
        .filter(F.col("__rn") == 1)
        .join(
            bounds.filter(
                F.col("__maxp").isNotNull()
                & (F.col("__maxm").isNull() | (F.col("__maxp") >= F.col("__maxm")))
            ).select(id_col),
            id_col,
            "left_semi",
        )
    )
    removed = (
        ch.filter(~is_plus)
        .withColumn("__rn", F.row_number().over(w_asc))
        .filter(F.col("__rn") == 1)
        .join(
            bounds.filter(
                F.col("__minm").isNotNull()
                & (F.col("__minp").isNull() | (F.col("__minm") <= F.col("__minp")))
            ).select(id_col),
            id_col,
            "left_semi",
        )
    )
    add_tf = (
        added.select(
            F.col(id_col),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
        )
        .groupBy("term", id_col)
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    rem_docs = (
        removed.select(
            F.col(id_col),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
        )
        .select("term", id_col)
        .distinct()
    )
    touched_terms = (
        add_tf.select("term").union(rem_docs.select("term")).distinct()
    )
    cur = read_versioned(spark, index_path)
    cur_post = (
        cur.join(touched_terms, "term", "semi")
        .select("term", F.explode("postings").alias("p"))
        .select(
            "term",
            F.col("p.doc_id").alias(id_col),
            F.col("p.tf").alias("tf"),
        )
    )
    # retract by CHANGED DOC across the touched terms, not by the old
    # text's (term, doc) pairs: the result is identical on first apply
    # (a doc's current postings are exactly its old-text terms, all
    # inside the touched set) but doc-keyed retraction is IDEMPOTENT —
    # a crash-replay of the same range finds the new-text postings,
    # removes them, and re-adds the same thing, instead of keeping
    # new-only terms' postings AND re-adding them (double-counted df).
    # That idempotence is what makes the at-least-once cursor loop
    # (maintain_tf_index) exactly-once end-to-end.
    changed_docs = (
        added.select(id_col).union(removed.select(id_col)).distinct()
    )
    merged = (
        cur_post.join(changed_docs, [id_col], "left_anti")
        .unionByName(add_tf)
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sort_array(
                F.collect_list(F.struct(F.col(id_col).alias("doc_id"), "tf"))
            ).alias("postings"),
        )
    )
    # terms whose postings all retracted produce no merged row — they
    # must be DELETED from the index, not left stale
    postings_t = dict(cur.dtypes)["postings"]
    emptied = (
        touched_terms.join(merged.select("term"), "term", "left_anti")
        # only terms PRESENT in the index get a delete marker — on a
        # crash-replay the term already left, and an unmatched 'D' row
        # would INSERT a NULL tombstone via when_not_matched_insert
        .join(cur.select("term"), "term", "left_semi")
        .select(
            "term",
            F.lit(None).cast("long").alias("df"),
            F.lit(None).cast(postings_t).alias("postings"),
            F.lit("D").alias("__op"),
        )
    )
    source = merged.withColumn("__op", F.lit("U")).unionByName(emptied)
    # merge drives several actions (discovery, contract aggregate,
    # write) — materialize the corpus-slice + index-join plan once
    source = source.localCheckpoint(eager=False)
    return commit_merge(
        spark,
        index_path,
        source,
        keys=["term"],
        when_matched_delete="s.__op = 'D'",
        when_matched_update="all",
        when_not_matched_insert=True,
        meta=meta,
    )


def maintain_tf_index(
    spark,
    index_path: str,
    corpus_path: str,
    consumer_id: str = "tf_index",
    max_versions: int | None = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """The production loop for an index tracking a churning corpus:
    one cursor-driven poll/apply/ack cycle. Polls the corpus table's
    unconsumed CDC range through `sinks.cursor` (named offsets, CAS
    advance), applies it with `update_tf_index_from_changes`, then
    commits the cursor. A crash between apply and ack re-delivers the
    same range; the doc-keyed retraction makes re-application a no-op,
    so the loop is exactly-once END-TO-END without any coordination
    beyond the two tables' own logs. N indexes (or any other
    consumers) track the same corpus under different ``consumer_id``s
    without interfering.

    Returns {"from_version", "to_version", "consumed": bool}."""
    from gedixr_spark.sinks.cursor import commit_cursor, next_changes

    batch = next_changes(
        spark, corpus_path, consumer_id, max_versions=max_versions
    )
    if batch["changes"] is None:
        return {
            "from_version": batch["from_version"],
            "to_version": batch["to_version"],
            "consumed": False,
        }
    update_tf_index_from_changes(
        spark, index_path, corpus_path,
        since_version=batch["from_version"],
        version=batch["to_version"],
        text_col=text_col, id_col=id_col,
        meta={"cdc_consumer": consumer_id,
              "cdc_range": [batch["from_version"], batch["to_version"]]},
    )
    commit_cursor(spark, corpus_path, consumer_id, batch["to_version"])
    return {
        "from_version": batch["from_version"],
        "to_version": batch["to_version"],
        "consumed": True,
    }


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fixed-size overlapping token windows per document — the
    RAG/embedding-ingest chunker: (doc_id, chunk_id, chunk_start,
    n_tokens, chunk_text), chunk i covering tokens
    [i·stride, i·stride+chunk_tokens) with stride = chunk_tokens −
    overlap; the final window is allowed to run short rather than
    re-anchoring to the end (stable chunk ids under document edits
    past the mutation point).

    Map-side explode, no shuffle: the token array is built once per
    row and every window is a slice of it in whole-stage codegen.
    Chunk ids are (doc_id, chunk_id) — deterministic, so re-chunking
    an unchanged doc reproduces identical keys (what makes a chunk
    store incrementally maintainable)."""
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be > 0, got {chunk_tokens}")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"need 0 <= overlap < chunk_tokens, got overlap={overlap}"
        )
    stride = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    n_chunks = F.when(
        n <= chunk_tokens, F.when(n > 0, F.lit(1)).otherwise(F.lit(0))
    ).otherwise(
        F.ceil((n - chunk_tokens) / F.lit(float(stride))).cast("int") + 1
    )
    # sequence(0, -1) DESCENDS — guard the empty-doc case explicitly
    ids = F.when(
        n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)
    ).otherwise(F.array().cast("array<int>"))
    exploded = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.explode(ids).alias("__i"),
    )
    piece = F.slice(
        F.col("__toks"), F.col("__i") * stride + 1, chunk_tokens
    )
    return exploded.select(
        id_col,
        F.col("__i").cast("long").alias("chunk_id"),
        (F.col("__i") * stride).cast("long").alias("chunk_start"),
        F.size(piece).cast("long").alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def rrf_fuse(
    rankings: Sequence[DataFrame],
    rrf_k: int = 60,
    topk: int | None = None,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    query_col: str | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR'09) of N ranked
    lists: score(d) = Σ_lists 1/(rrf_k + rank_d), documents absent
    from a list contributing nothing. The standard way to fuse a
    lexical (BM25) and a dense (ANN) retriever without score
    calibration — ranks are comparable where raw scores are not.

    Inputs are (id, rank[, query]) DataFrames (1-based ranks, as
    bm25_topk / cosine_topk emit). With ``query_col``, fusion is
    per-query. Output: (query?, id, rrf_score, rank), rank ascending,
    ties broken by ascending id — fully deterministic.

    Scale shape: one unionByName (no shuffle) + one groupBy on the id
    key over |lists|·k candidate rows — the fused set is bounded by
    the retrievers' k, never corpus-sized; top-k compiles to
    TakeOrderedAndProject. The retrievers do the heavy lifting; the
    fusion is O(candidates)."""
    if not rankings:
        raise ValueError("rankings must be non-empty")
    if rrf_k < 0:
        raise ValueError(f"rrf_k must be >= 0, got {rrf_k}")
    from pyspark.sql import Window

    keys = ([query_col] if query_col else []) + [id_col]
    parts = [
        r.select(
            *keys,
            (1.0 / (F.lit(float(rrf_k)) + F.col(rank_col).cast("double"))).alias(
                "__c"
            ),
        )
        for r in rankings
    ]
    fused = parts[0]
    for p in parts[1:]:
        fused = fused.unionByName(p)
    scored = fused.groupBy(*keys).agg(F.sum("__c").alias("rrf_score"))
    w = Window.partitionBy(*([query_col] if query_col else [])).orderBy(
        F.desc("rrf_score"), F.asc(id_col)
    )
    out = scored.withColumn("rank", F.row_number().over(w))
    if topk is not None:
        out = out.filter(F.col("rank") <= topk)
    return out.select(*keys, "rrf_score", "rank")
