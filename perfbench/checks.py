"""Output checks.  Each timed job's output is checked; a job whose output
fails any check counts as one failed operation.

* filter_zh, wet_resume_latin: every input url appears exactly once, the
  keep/drop F1 against the reference labels is >= 0.99 and no
  ``text_clean`` differs from the reference by a single byte.
* wet_resume_latin also: every bucket is committed exactly once in the
  manifest, manifest ``n_docs`` sums to the input count, and the snapshot
  chain is intact (ids 1..k, each the parent of the next, buckets added
  disjoint and adding up to every bucket present).
* curate_dedup_lm: no two output rows share a canonical url or an exact
  text, and every kept row is kept by the reference labeler run over its
  pre-filter text, with a byte-identical ``text_clean`` (the LM and
  repetition stages may only add drops).
"""

from __future__ import annotations

import zlib

from pyspark.sql import functions as F

MIN_F1 = 0.99
# drops the reference cascade does not know: they may only remove kept rows
MODEL_DROPS = ("high_ppl", "high_dup_lines", "high_top_bigram")


def _f1(tp: int, fp: int, fn: int) -> float:
    return 2 * tp / (2 * tp + fp + fn) if tp + fp + fn else 1.0


def label_check(spark, outputs: dict[int, str], ref_path: str) -> dict[int, dict]:
    """Per-output keep F1, text_clean byte mismatches and missing / extra /
    duplicate urls, in one Spark job over every output."""
    ref = spark.read.parquet(ref_path)
    out = None
    for i, path in outputs.items():
        df = spark.read.parquet(path).select(
            F.lit(i).alias("it"), "url", "keep", "text_clean"
        )
        out = df if out is None else out.unionByName(df)
    its = spark.createDataFrame([(i,) for i in outputs], "it int")
    exp = its.crossJoin(ref)
    j = out.join(exp, ["it", "url"], "full_outer")
    stats = j.groupBy("it").agg(
        F.sum((F.col("keep") & F.col("ref_keep")).cast("int")).alias("tp"),
        F.sum((F.col("keep") & ~F.col("ref_keep")).cast("int")).alias("fp"),
        F.sum((~F.col("keep") & F.col("ref_keep")).cast("int")).alias("fn"),
        F.sum(
            (F.col("ref_keep").isNotNull() & F.col("keep").isNotNull()
             & ~F.col("text_clean").eqNullSafe(F.col("ref_clean"))).cast("int")
        ).alias("mismatch"),
        F.sum(F.col("keep").isNull().cast("int")).alias("missing"),
        F.sum(F.col("ref_keep").isNull().cast("int")).alias("extra"),
        (F.count("*") - F.countDistinct("url")).alias("dup_urls"),
    )
    res = {}
    for r in stats.collect():
        f1 = _f1(r["tp"] or 0, r["fp"] or 0, r["fn"] or 0)
        ok = (
            f1 >= MIN_F1
            and r["mismatch"] == 0
            and r["missing"] == 0
            and r["extra"] == 0
            and r["dup_urls"] == 0
        )
        res[r["it"]] = {"ok": ok, "keep_f1": f1, **r.asDict()}
    for i in outputs:
        res.setdefault(i, {"ok": False, "keep_f1": 0.0, "error": "no rows"})
    return res


def resume_check(spark, out: str, n_docs: int, urls: list[str], n_buckets: int) -> list[str]:
    """Commit-protocol invariants of one run_with_resume output; returns
    the list of violations (empty when it holds)."""
    from harvesttext_spark.pipeline.resume import list_snapshots

    errors = []
    want = {zlib.crc32(u.encode("utf-8")) % n_buckets for u in urls}
    man = spark.read.parquet(f"{out}/manifest").select("bucket", "n_docs").collect()
    buckets = [int(r["bucket"]) for r in man]
    if len(buckets) != len(set(buckets)):
        errors.append("a bucket is committed more than once")
    if set(buckets) != want:
        errors.append(f"manifest buckets {len(set(buckets))} != input buckets {len(want)}")
    if sum(r["n_docs"] for r in man) != n_docs:
        errors.append("manifest n_docs does not sum to the input count")
    snaps = list_snapshots(out)
    added: list[int] = []
    for k, s in enumerate(snaps, start=1):
        if s["snapshot_id"] != k or s["parent_id"] != (k - 1 or None):
            errors.append(f"snapshot chain broken at {s['snapshot_id']}")
        added += s["buckets_added"]
    if len(added) != len(set(added)) or set(added) != want:
        errors.append("snapshot buckets_added are not a partition of the input buckets")
    if snaps and set(snaps[-1]["buckets_total"]) != want:
        errors.append("current snapshot does not cover every bucket")
    return errors


def _ref_rows(batches):
    import pandas as pd

    from tests.reference_impl import label_py

    for pdf in batches:
        rows = [(u, *label_py(t)[:2]) for u, t in zip(pdf["url"], pdf["text"])]
        yield pd.DataFrame(rows, columns=["url", "ref_clean", "ref_keep"])


def curate_check(spark, outputs: dict[int, str]) -> dict[int, dict]:
    from harvesttext_spark.functions.urls import canonical_url

    res = {}
    for i, path in outputs.items():
        df = spark.read.parquet(path)
        ref = df.select("url", "text").mapInPandas(
            _ref_rows, schema="url string, ref_clean string, ref_keep boolean"
        )
        j = df.join(ref, "url")
        base_keep = F.col("keep") | F.col("drop_reason").isin(*MODEL_DROPS)
        r = j.agg(
            F.count("*").alias("rows"),
            F.countDistinct(canonical_url(F.col("url"))).alias("curls"),
            F.countDistinct(F.md5("text")).alias("texts"),
            F.sum(F.col("text").isNull().cast("int")).alias("null_texts"),
            F.sum((F.col("keep") & ~F.col("ref_keep")).cast("int")).alias("kept_not_ref"),
            F.sum(
                (F.col("keep") & ~F.col("text_clean").eqNullSafe(F.col("ref_clean"))).cast("int")
            ).alias("mismatch"),
            F.sum((base_keep & F.col("ref_keep")).cast("int")).alias("tp"),
            F.sum((base_keep & ~F.col("ref_keep")).cast("int")).alias("fp"),
            F.sum((~base_keep & F.col("ref_keep")).cast("int")).alias("fn"),
        ).first().asDict()
        n_text_rows = r["rows"] - r["null_texts"]
        ok = (
            r["rows"] > 0
            and r["curls"] == r["rows"]
            and r["texts"] == n_text_rows
            and r["kept_not_ref"] == 0
            and r["mismatch"] == 0
        )
        res[i] = {"ok": ok, "keep_f1": _f1(r["tp"], r["fp"], r["fn"]), **r}
    return res
