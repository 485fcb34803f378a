"""End-to-end web-curation pipeline: the published pass chain
(CCNet / Gopher-MassiveText / RefinedWeb / Lee-et-al-dedup lineage)
composed over this engine's operators as ONE checkpointed, exactly
resumable :class:`plans.pipeline.FeaturePipeline`.

Stage order follows the published pipelines — cheap structural passes
first (every later stage sees fewer bytes), content dedup before
model-based filters, sampling last:

  1. ``extract``     HTML -> visible text (skipped without an html col)
  2. ``url_dedup``   canonical-URL dedup + domain blocklist (skipped
                     without a url col)
  3. ``lang``        language-ID + allowed-language filter (optional)
  4. ``gopher``      MassiveText rule filter
  5. ``exact``       normalized-text exact dedup
  6. ``paragraphs``  sub-document (paragraph) dedup
  7. ``spans``       ExactSubstr duplicated-span removal (optional —
                     the heaviest pass; Lee et al. run it corpus-wide)
  8. ``neardup``     MinHash-band near-dup removal (first-seen keep)
  9. ``ppl``         CCNet perplexity bucketing, optionally dropping
                     the ``tail`` bucket
 10. ``mix``         temperature-based domain mixing (optional)
 11. ``shuffle``     deterministic training shuffle -> shard ids

Every stage materializes to parquet with a JSON manifest (per-partition
row counts + lineage fingerprints), so a crashed 100 TB run resumes at
the failed stage and an unchanged upstream is never recomputed — the
reference's stage-materialization discipline (``IVector.py:1719-1729``)
applied to data curation. Between materialization points Catalyst
fuses each stage's operators into as few shuffles as the pass allows.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from featureengineer_spark.plans.pipeline import FeaturePipeline, fingerprint


@dataclass
class WebCurationConfig:
    id_col: str = "doc_id"
    text_col: str = "text"
    lang_col: str = "lang"
    html_col: str | None = None
    url_col: str | None = None
    blocked_domains: tuple[str, ...] = ()
    allowed_langs: tuple[str, ...] | None = None
    gopher: bool = True
    paragraph_dedup: bool = True
    span_dedup: bool = False
    near_dup: bool = True
    min_words_after_clean: int = 1
    ppl_drop_tail: bool = False
    mix_total_tokens: int | None = None
    mix_alpha: float = 0.7
    token_col: str = "n_chars"
    shuffle_shards: int | None = 64
    seed: int = 0


def web_curation_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    root: str,
    config: WebCurationConfig | None = None,
    data_fingerprint: str | None = None,
) -> FeaturePipeline:
    """Build (not run) the pipeline; call ``.run()`` on the result.
    ``docs`` needs (id, text[, lang, html, url, token]) columns per the
    config. Each enabled stage appears in the manifest tree under
    ``root`` and resumes exactly.

    Resume identity = full config hash + optional ``data_fingerprint``.
    Pass a ``data_fingerprint`` that identifies the INPUT data (snapshot
    id, source path + version, max ingest ts) whenever the same root can
    see different inputs — the pipeline cannot derive one itself (a plan
    hash cannot see in-place file changes, and differs across equivalent
    local frames), so without it, resume assumes the root is dedicated
    to one input dataset, as before."""
    cfg = config or WebCurationConfig()
    # the FULL config: resume must miss when any value changes, including
    # ones that do not alter the stage list (blocked domain contents,
    # allowed langs, mix totals, min_words, shard count)
    pipe = FeaturePipeline(spark, root).source(
        lambda _spark: docs,
        fingerprint=fingerprint(
            "webcurate-src",
            [data_fingerprint] if data_fingerprint else [],
            asdict(cfg),
        ),
    )

    if cfg.html_col:

        def extract(df: DataFrame) -> DataFrame:
            from featureengineer_spark.operators.weburl import with_html_text

            return with_html_text(
                df, html_col=cfg.html_col, out_col=cfg.text_col
            ).drop(cfg.html_col)

        pipe.stage("extract", extract)

    if cfg.url_col:

        def url_dedup_stage(df: DataFrame) -> DataFrame:
            from featureengineer_spark.operators.weburl import (
                filter_blocked_domains,
                url_dedup,
            )

            out = url_dedup(df, url_col=cfg.url_col, id_col=cfg.id_col)
            if cfg.blocked_domains:
                out = filter_blocked_domains(
                    out, list(cfg.blocked_domains), url_col=cfg.url_col
                )
            return out

        pipe.stage("url_dedup", url_dedup_stage)

    if cfg.allowed_langs is not None:

        def lang(df: DataFrame) -> DataFrame:
            from featureengineer_spark.operators.textstats import with_lang_id

            return (
                with_lang_id(df, text_col=cfg.text_col)
                .filter(F.col("lang_pred").isin(*cfg.allowed_langs))
                .drop("lang_pred", "lang_hits")
            )

        pipe.stage("lang", lang)

    if cfg.gopher:

        def gopher(df: DataFrame) -> DataFrame:
            from featureengineer_spark.operators.quality import gopher_filter

            return gopher_filter(df, text_col=cfg.text_col)

        pipe.stage("gopher", gopher)

    def exact(df: DataFrame) -> DataFrame:
        from featureengineer_spark.operators.dedup import dedup_exact

        return dedup_exact(df, text_col=cfg.text_col, id_col=cfg.id_col)

    pipe.stage("exact", exact)

    if cfg.paragraph_dedup:

        def paragraphs(df: DataFrame) -> DataFrame:
            from featureengineer_spark.operators.paragraphs import (
                drop_duplicate_paragraphs,
            )

            rebuilt = drop_duplicate_paragraphs(
                df, text_col=cfg.text_col, id_col=cfg.id_col
            ).select(cfg.id_col, cfg.text_col)
            # rebuilt carries only (id, text): rejoin the other columns
            return df.drop(cfg.text_col).join(rebuilt, on=cfg.id_col)

        pipe.stage("paragraphs", paragraphs)

    if cfg.span_dedup:

        def spans(df: DataFrame) -> DataFrame:
            from featureengineer_spark.operators.spans import (
                drop_duplicated_spans,
            )

            return (
                drop_duplicated_spans(
                    df, text_col=cfg.text_col, id_col=cfg.id_col
                )
                .drop(cfg.text_col, "removed_words")
                .withColumnRenamed("clean_text", cfg.text_col)
            )

        pipe.stage("spans", spans)

    if cfg.min_words_after_clean and (cfg.paragraph_dedup or cfg.span_dedup):

        def reclean(df: DataFrame) -> DataFrame:
            # re-apply the length floor AFTER cleaning passes: pages
            # whose every paragraph/span was boilerplate come out empty
            # (CCNet re-filters post-cleaning for exactly this), and an
            # empty class must not reach the LSH stage
            words = F.split(F.trim(F.col(cfg.text_col)), r"\s+")
            return df.filter(
                (F.length(F.trim(F.col(cfg.text_col))) > 0)
                & (F.size(words) >= cfg.min_words_after_clean)
            )

        pipe.stage("reclean", reclean)

    if cfg.near_dup:

        def neardup(df: DataFrame) -> DataFrame:
            from featureengineer_spark.operators.dedup import (
                minhash_lsh_candidates,
                near_dedup_filter,
            )

            pairs = minhash_lsh_candidates(
                df, id_col=cfg.id_col, text_col=cfg.text_col
            )
            return near_dedup_filter(df, pairs, id_col=cfg.id_col)

        pipe.stage("neardup", neardup)

    if cfg.ppl_drop_tail:

        def ppl(df: DataFrame) -> DataFrame:
            from featureengineer_spark.operators.textstats import (
                with_perplexity_buckets,
            )

            scored = with_perplexity_buckets(
                df, text_col=cfg.text_col, id_col=cfg.id_col,
                group_col=cfg.lang_col,
            )
            return scored.filter(
                F.col("ppl_bucket").isNull()
                | (F.col("ppl_bucket") != "tail")
            ).drop(
                "mean_bigram_logprob", "n_scored_pairs", "perplexity",
                "ppl_bucket",
            )

        pipe.stage("ppl", ppl)

    if cfg.mix_total_tokens is not None:

        def mix(df: DataFrame) -> DataFrame:
            from featureengineer_spark.operators.curation import temperature_mix

            return temperature_mix(
                df,
                total_tokens=cfg.mix_total_tokens,
                alpha=cfg.mix_alpha,
                domain_col=cfg.lang_col,
                token_col=cfg.token_col,
                id_col=cfg.id_col,
                seed=cfg.seed,
            )

        pipe.stage("mix", mix)

    if cfg.shuffle_shards is not None:

        def shuffle(df: DataFrame) -> DataFrame:
            from featureengineer_spark.operators.curation import shuffle_shards

            return shuffle_shards(
                df, n_shards=cfg.shuffle_shards, id_col=cfg.id_col,
                seed=cfg.seed,
            )

        pipe.stage("shuffle", shuffle)

    return pipe
