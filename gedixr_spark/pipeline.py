"""High-level corpus-preparation pipeline — one call chaining the
standard passes the tests compose by hand (quality gates → exact +
near dedup → leakage-safe splits), with a stats dict for the run
report. This is the "switch to this repo and run your pipeline today"
entry point for the training-data surface, the way ``api.extract_data``
is for the reference's GEDI surface.

Everything inside is the audited operators; this module adds ONLY
sequencing + bookkeeping (no new plan shapes, no new semantics — each
stage's guarantees are its own module's tests). Laziness is preserved:
the returned DataFrames are unevaluated plans except where a stage is
inherently iterative (CC) or the caller asks for counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gedixr_spark.operators import dedup, text
from gedixr_spark.operators.sampling import leakage_safe_split
from gedixr_spark.session import local_frame


def prepare_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 3,
    compression_band: tuple[float, float] | None = (0.05, 0.98),
    near_dedup: bool = True,
    minhash_k: int = 8,
    bands: int = 2,
    split_fractions: dict[str, float] | None = None,
    count_stages: bool = False,
    token_budget: int | None = None,
    budget_score_col: str | None = None,
    budget_group_cols: list[str] | None = None,
) -> dict:
    """Run the standard preparation pipeline; returns::

        {"splits": DataFrame,      # docs + bucket/split columns
         "clusters": DataFrame,    # near-dup components (may be empty)
         "stats": {stage: rows}}   # only when count_stages=True

    Stages: (1) token-count quality gate; (2) zlib compression-ratio
    rail (``compression_band=None`` skips); (3) exact dedup to min-id
    survivors; (4) MinHash-LSH near-dedup via star CC + anti-join
    (``near_dedup=False`` skips); (5) leakage-safe train/val/test
    assignment at cluster granularity, so surviving near-dup
    neighborhoods never straddle a boundary.

    ``token_budget`` adds the recipe's final quota stage between dedup
    and splitting: keep the best-scored survivors (default score =
    stopword ratio; override with ``budget_score_col``, a column that
    must already exist) while the running whitespace-token total stays
    ≤ the budget — per ``budget_group_cols`` group if given
    (per-language / per-source caps). Runs on SURVIVORS so the budget
    is never spent on rows dedup would have discarded, and before
    splitting so the caps bind the whole corpus, not each split.
    """
    stats: dict[str, int] = {}

    def note(name: str, df: DataFrame) -> DataFrame:
        if count_stages:
            stats[name] = df.count()
        return df

    note("input", docs)
    clean = text.filter_documents(
        docs, min_tokens=min_tokens, min_stopword_ratio=None,
        text_col=text_col,
    )
    note("after_quality_gate", clean)

    if compression_band is not None:
        lo, hi = compression_band
        scored = text.compression_ratio(clean, text_col=text_col)
        # the rail only means something for docs with enough bytes for
        # the codec to bite — a 50-byte doc "compresses" to >1.0 from
        # header overhead alone; below the floor the doc passes and
        # the token gate above is the relevant filter
        short = F.length(text_col) < 256
        clean = scored.filter(
            short
            | F.col("compression_ratio").isNull()
            | F.col("compression_ratio").between(lo, hi)
        ).drop("compression_ratio")
        note("after_compression_rail", clean)

    survivors = clean.join(
        dedup.exact_dedup(clean, text_col=text_col, id_col=id_col).select(id_col),
        id_col,
        "semi",
    )
    note("after_exact_dedup", survivors)

    if near_dedup:
        # LSH band-candidate pairs feed CC directly (the registry's
        # checked shape); callers needing exact-Jaccard confirmation
        # run ngram_jaccard_pairs on the candidate neighborhoods —
        # bounded input, so the quadratic guard stays honest
        pairs = dedup.minhash_lsh_pairs(
            survivors, k=minhash_k, bands=bands, text_col=text_col, id_col=id_col
        )
        clusters = dedup.dedup_clusters_star(pairs)
        survivors = dedup.apply_dedup(survivors, clusters, id_col=id_col)
        note("after_near_dedup", survivors)
    else:
        clusters = local_frame(
            docs.sparkSession, [], "doc_id long, cluster_id long, is_survivor boolean"
        )

    if token_budget is not None:
        from gedixr_spark.operators.sampling import budget_select

        scored = survivors
        score_col = budget_score_col
        drop_after = ["__n_tok"]
        if score_col is None:
            scored = text.quality_features(scored, text_col=text_col)
            score_col = "stopword_ratio"
            drop_after += [
                "n_tokens", "n_chars_measured", "mean_token_len",
                "stopword_ratio", "upper_ratio",
            ]
            scored = scored.withColumn("__n_tok", F.col("n_tokens"))
        else:
            scored = scored.withColumn(
                "__n_tok",
                F.size(
                    F.filter(
                        F.split(F.col(text_col), r"\s+"), lambda t: t != ""
                    )
                ),
            )
        survivors = budget_select(
            scored, token_budget, cost_col="__n_tok", score_col=score_col,
            id_col=id_col, group_cols=budget_group_cols,
        ).drop(*drop_after)
        note("after_token_budget", survivors)

    splits = leakage_safe_split(
        survivors, clusters, id_col=id_col, fractions=split_fractions
    )
    return {"splits": splits, "clusters": clusters, "stats": stats}


def prepare_training_shards(
    docs: DataFrame,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 64,
    budget: int = 512,
    n_groups: int = 8,
    docs_per_shard: int = 500,
    corpus_kwargs: dict | None = None,
) -> dict:
    """The full trainer-facing path in one call: `prepare_corpus`
    (quality gates → exact+near dedup → leakage-safe splits) → BPE
    train + vocab over the TRAIN split only (tokenizer fitting is
    training — letting val/test text shape the merges is leakage,
    same rule leakage_safe_split enforces for documents) → token-id
    materialization for every split with the frozen vocab (OOV → unk,
    never dropped) → `pack_sequences` under ``budget`` tokens →
    `materialize_packed` → one WebDataset shard directory per split
    (``{out_dir}/{split}/shard-*.tar``).

    Returns ``{"manifests": {split: DataFrame}, "splits": DataFrame,
    "merges": [...], "vocab": DataFrame}``.

    Scale shape: adds NOTHING beyond the audited operators — packing
    moves ids only, document bodies ride exactly two joins (token
    explode, packed-text assembly), shard writing is executor-local
    tar streaming. The BPE merge loop is the one driver-paced stage
    (bounded by ``n_merges``, each round distributed)."""
    from gedixr_spark.operators import bpe
    from gedixr_spark.operators.packing import materialize_packed, pack_sequences
    from gedixr_spark.sinks.webdataset import write_webdataset

    prep = prepare_corpus(
        docs, text_col=text_col, id_col=id_col, **(corpus_kwargs or {})
    )
    # reused per split below; eager=False — the BPE word-count job is
    # the first action and materializes it
    splits = prep["splits"].localCheckpoint(eager=False)

    train_docs = splits.filter(F.col("split") == "train")
    merges = bpe.bpe_train(
        bpe.word_counts(train_docs, text_col=text_col), n_merges=n_merges
    )
    vocab = bpe.build_vocab(train_docs, merges, text_col=text_col)

    manifests: dict[str, DataFrame] = {}
    for split in ("train", "val", "test"):
        part = splits.filter(F.col("split") == split)
        with_ids = bpe.bpe_encode_ids(
            part, merges, vocab, text_col=text_col, id_col=id_col
        )
        sized = part.join(with_ids, id_col).withColumn(
            "n_tokens", F.size("token_ids")
        )
        packed = pack_sequences(
            sized, budget=budget, n_groups=n_groups, id_col=id_col
        )
        seqs = materialize_packed(
            packed, sized, text_col=text_col, id_col=id_col
        ).select(
            F.concat_ws(
                "-", F.col("pack_group"), F.col("seq_id")
            ).alias("seq_key"),
            "seq_text",
            F.to_json("doc_ids").alias("doc_ids"),
            F.to_json("boundaries").alias("boundaries"),
        )
        manifests[split] = write_webdataset(
            seqs,
            f"{out_dir}/{split}",
            key_col="seq_key",
            text_col="seq_text",
            meta_cols=["doc_ids", "boundaries"],
            docs_per_shard=docs_per_shard,
        )
    return {
        "manifests": manifests,
        "splits": splits,
        "merges": merges,
        "vocab": vocab,
    }
