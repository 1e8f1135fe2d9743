"""The benchmark workloads.

Each workload is one job over its generated input, written the way
``jobs/run_quality_filter.py`` runs it.  With a disabled tracer the spans
are no-ops and the job runs exactly its production calls.  With tracing
on, the fused map-side layers (WET scan, cleaning battery, text stats) are
timed as cumulative prefixes into a ``noop`` sink, taken in differences,
because the job runs them inside one Spark stage; the shuffle-bounded
layers are timed directly around their calls.

The traced filter_zh job also runs the job's curation recipe over the same
pages -- the CC-order dedup pre-passes, then ``quality_filter_full`` with
a fixed perplexity threshold and the repetition rules -- so the
operators.dedup, lm_perplexity and repetition layers are traced where the
planted duplicates give them work.
"""

from __future__ import annotations

import statistics
import time

from pyspark import StorageLevel
from pyspark.sql import functions as F

from harvesttext_spark.pipeline import resume
from harvesttext_spark.pipeline.quality_filter import (
    domain_metrics,
    extract_text,
    label,
    partition_lineage,
    quality_filter,
    quality_filter_full,
    scrub,
)

N_BUCKETS = resume.N_BUCKETS
CRASH_BUCKETS = N_BUCKETS // 2
NOOP_RUNS = 3
BOILERPLATE_MIN_DF = 50
MINHASH_JACCARD = 0.7
PPL_THRESHOLD = 2000.0


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _non_ascii(text):
    return (F.col(text).isNotNull() & ~F.col(text).rlike("^[\\x00-\\x7F]*$")).cast("int")


# --- filter_zh ----------------------------------------------------------------


def filter_zh(spark, tracer, inp: dict, out: str) -> dict:
    """Base mode: quality_filter (default route), parquet write, then
    domain_metrics and partition_lineage over the written table.  Traced,
    it then also runs ``curate``."""
    pages = spark.read.parquet(f"{inp['dir']}/pages")
    if tracer.enabled:
        _map_side_prefixes(tracer, pages, fast_path=False)
    with tracer.span("job.quality_filter.write"):
        quality_filter(pages).write.mode("overwrite").parquet(f"{out}/data")
    written = spark.read.parquet(f"{out}/data")
    with tracer.span("pipeline.quality_filter.domain_metrics"):
        domain_metrics(written).write.mode("overwrite").parquet(f"{out}/domain_metrics")
    with tracer.span("pipeline.quality_filter.partition_lineage"):
        partition_lineage(written).write.mode("overwrite").parquet(f"{out}/lineage")
    with tracer.span("job.census"):
        written.groupBy("drop_reason").agg(F.count("*")).collect()
    if tracer.enabled:
        with tracer.span("curate"):
            curate(spark, tracer, inp, f"{out}/curated")
    return {}


def _map_side_prefixes(tracer, pages, fast_path: bool) -> None:
    """extract -> +scrub -> +label, each into a noop sink: the differences
    time functions.cleaning and functions.textstats without a persist at
    the stage boundary.  Also counts the rows the Python battery cleans."""
    raw = extract_text(pages)
    with tracer.span("prefix.extract"):
        noop(raw)
    with tracer.span("prefix.scrub"):
        noop(scrub(raw, fast_path=fast_path))
    with tracer.span("prefix.label"):
        noop(label(scrub(raw, fast_path=fast_path)))
    with tracer.span("count.python_rows") as sp:
        routed = (
            _non_ascii("raw_text")
            if fast_path
            else F.col("raw_text").isNotNull().cast("int")
        )
        row = raw.agg(F.count("*").alias("n"), F.sum(routed).alias("py")).first()
        sp.counts = {"rows": row["n"], "python_rows": row["py"] or 0}


# --- wet_resume_latin -------------------------------------------------------------


def _fast_filter(df):
    return quality_filter(df, fast_path=True)


def wet_resume_latin(spark, tracer, inp: dict, out: str) -> dict:
    """read_wet -> run_with_resume(quality_filter fast path): one run
    capped to half the buckets (the simulated crash), the run that
    completes the rest, then NOOP_RUNS runs over the complete output."""
    from harvesttext_spark.sources.wet import read_wet

    pages = read_wet(spark, f"{inp['dir']}/wet")
    if tracer.enabled:
        with tracer.span("sources.wet.read_wet"):
            noop(pages)
        with tracer.span("count.read_wet") as sp:
            sp.counts = {"records_out": pages.count()}
        _map_side_prefixes(tracer, pages, fast_path=True)
    walls = {}
    phases = [("crash", CRASH_BUCKETS), ("resume", None)]
    phases += [(f"noop{k}", None) for k in range(NOOP_RUNS)]
    for phase, cap in phases:
        t0 = time.perf_counter()
        with tracer.span(f"pipeline.resume.run_with_resume.{phase}") as sp:
            r = resume.run_with_resume(
                spark, pages, out, n_buckets=N_BUCKETS,
                max_buckets_this_run=cap, filter_fn=_fast_filter,
            )
            if sp is not None:
                sp.counts = {"buckets_processed": len(r["processed"])}
        walls[phase] = time.perf_counter() - t0
    return {
        "commit_s": walls["crash"] + walls["resume"],
        "resume_s": walls["resume"],
        "noop_resume_s": statistics.median(walls[f"noop{k}"] for k in range(NOOP_RUNS)),
    }


# --- curation recipe (traced with filter_zh) ------------------------------------


def curate(spark, tracer, inp: dict, out: str) -> None:
    """The pre-passes with apply_pre_passes' operator order and stage
    materialization (url dedup, boilerplate lines, exact, MinHash), then
    quality_filter_full with a fixed ppl threshold and the repetition
    rules, then a parquet write."""
    pages = spark.read.parquet(f"{inp['dir']}/pages")
    pre = _traced_pre_passes(tracer, pages, inp["rows"])
    _traced_model_signals(tracer, pre)
    with tracer.span("job.quality_filter_full.write"):
        quality_filter_full(
            pre, ppl_threshold=PPL_THRESHOLD, repetition_rules=True
        ).write.mode("overwrite").parquet(f"{out}/data")


def _stage(df, prev):
    """apply_pre_passes' stage protocol: persist serialized, count, release
    the previous stage."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    n = df.count()
    if prev is not None:
        prev.unpersist()
    return df, n


def _traced_pre_passes(tracer, pages, n_in: int):
    """The operator sequence and stage protocol of
    ``jobs/run_quality_filter.apply_pre_passes(url_dedup=True,
    boilerplate_min_df=BOILERPLATE_MIN_DF, exact_dedup=True,
    minhash_jaccard=MINHASH_JACCARD)``, with one span per operator so rows
    in/out come from the stage counts."""
    from harvesttext_spark.operators.dedup import (
        drop_boilerplate_lines,
        drop_exact_dups,
        drop_near_dups,
        drop_url_dups,
        minhash_dup_pairs,
    )

    with tracer.span("operators.dedup.drop_url_dups") as sp:
        df, n = _stage(drop_url_dups(pages), None)
        sp.counts = {"rows_in": n_in, "rows_out": n}
    with tracer.span("operators.dedup.drop_boilerplate_lines") as sp:
        cleaned = drop_boilerplate_lines(
            df, text_col="text", id_col="url", min_df=BOILERPLATE_MIN_DF
        ).withColumnRenamed("text_clean", "_debo")
        joined = (
            df.join(cleaned, "url", "left")
            .withColumn("text", F.coalesce("_debo", "text"))
            .drop("_debo")
        )
        n_in = n
        df, n = _stage(joined, df)
        sp.counts = {"rows_in": n_in, "rows_out": n}
    nn = df.filter(F.col("text").isNotNull())
    nulls = df.filter(F.col("text").isNull()).persist(StorageLevel.MEMORY_AND_DISK)
    nulls.count()
    with tracer.span("operators.dedup.drop_exact_dups") as sp:
        n_in = n
        nn, n = _stage(drop_exact_dups(nn, text_col="text", id_col="url"), df)
        sp.counts = {"rows_in": n_in, "rows_out": n}
    with tracer.span("operators.dedup.minhash_dup_pairs") as sp:
        pairs = minhash_dup_pairs(
            nn, text_col="text", id_col="url", min_jaccard=MINHASH_JACCARD
        ).persist(StorageLevel.MEMORY_AND_DISK)
        n_pairs = pairs.count()
        n_in = n
        df, n = _stage(drop_near_dups(nn, pairs, id_col="url").unionByName(nulls), nn)
        pairs.unpersist()
        nulls.unpersist()
        sp.counts = {"rows_in": n_in, "rows_out": n, "pairs_out": n_pairs}
    return df


def _traced_model_signals(tracer, pre) -> None:
    """The labeled frame quality_filter_full persists (same plan slot, so
    the job reuses it), then the repetition and perplexity signals it
    joins, each into a noop sink."""
    from harvesttext_spark.functions.textstats import repetition_signals
    from harvesttext_spark.operators.lm_perplexity import perplexity_signal
    from harvesttext_spark.session import plan_keyed_persist

    with tracer.span("prefix.quality_filter"):
        labeled = plan_keyed_persist(quality_filter(pre), "qf_full_labeled")
        labeled.count()
    docs = labeled.select(F.col("url").alias("doc_id"), F.col("text_clean").alias("text"))
    with tracer.span("functions.textstats.repetition_signals"):
        noop(repetition_signals(docs))
    with tracer.span("operators.lm_perplexity.perplexity_signal"):
        noop(perplexity_signal(docs, text_col="text", id_col="doc_id"))


JOBS = {"filter_zh": filter_zh, "wet_resume_latin": wet_resume_latin}

DEFAULT_SIZES = {"filter_zh": 20_000, "wet_resume_latin": 16_000}
# untimed jobs before timing.  Job times keep falling while the JIT compiles
# each job's code paths, more slowly when the host is busy: filter_zh's
# first job costs ~7 s, its fifth ~2.6 s, and it levels out near 2.2 s
# about ten jobs in; wet_resume_latin's first costs ~18 s, its second ~9 s,
# the rest ~7 s
WARMUP_JOBS = {"filter_zh": 8, "wet_resume_latin": 2}
