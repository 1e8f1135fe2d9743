"""Seeded benchmark inputs, generated once per (workload, seed, size) and
cached on disk.  Generation runs before any timed window; the program under
test only ever sees the files written here.

Every input directory holds:

    pages/ or wet/   what the program reads (parquet pages table / WET segments)
    ref/             reference labels from ``tests/reference_impl.label_py``
                     (url, ref_clean, ref_keep)
    manifest.json    input properties (rows, bytes, language mix, dup shares,
                     segment count), written last: its presence marks the
                     cache entry complete.
"""

from __future__ import annotations

import json
import os
import random
import shutil

import pandas as pd
from pyspark.sql import functions as F

from harvesttext_spark.pipeline.pages import PAGES_SCHEMA, synthesize_pages

REF_SCHEMA = "url string, ref_clean string, ref_keep boolean"

# filter_zh planted duplication, as fractions of the base rows
URL_VARIANT_SHARE = 0.05
EXACT_COPY_SHARE = 0.05
NEAR_DUP_SHARE = 0.04
BOILERPLATE_SHARE = 0.25
BOILERPLATE_LINES = [
    "cookie settings | privacy policy | terms of use",
    "首页 | 关于我们 | 联系方式 | 网站地图",
    "share this page on social media",
    "copyright all rights reserved",
]
NEAR_DUP_MIN_TOKENS = 30
# parquet files per core: a stage over the pages has several tasks per core,
# so no one slow task or core sets its length
FILES_PER_CORE = 4
_URL_VARIANTS = [
    lambda u: u + "?utm_source=feed",
    lambda u: u + "#comments",
    lambda u: u.replace("https://site", "https://SITE", 1),
    lambda u: u + "?utm_medium=social&utm_campaign=spring",
]


def _ref_labels(batches):
    from tests.reference_impl import label_py

    for pdf in batches:
        rows = [(u, *label_py(t)[:2]) for u, t in zip(pdf["url"], pdf["raw"])]
        yield pd.DataFrame(rows, columns=["url", "ref_clean", "ref_keep"])


def reference_labels(pages):
    """(url, ref_clean, ref_keep) by the single-threaded reference labeler,
    run per partition (it costs ~0.1 ms/doc)."""
    raw = pages.select(
        "url", F.coalesce(F.col("text"), F.decode(F.col("html"), "UTF-8")).alias("raw")
    )
    return raw.mapInPandas(_ref_labels, schema=REF_SCHEMA)


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (not checksums or markers)."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


def _lang_mix(pdf: pd.DataFrame) -> dict:
    counts = pdf["lang"].fillna("none").value_counts()
    return {k: round(v / len(pdf), 4) for k, v in sorted(counts.items())}


def _gen_wet_resume_latin(spark, d: str, seed: int, size: int, nproc: int) -> dict:
    from harvesttext_spark.sources.wet import write_wet

    pages = synthesize_pages(spark, n=size, seed=seed, latin_frac=0.85)
    pdf = pages.select(
        "url", F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("iso"), "text", "lang"
    ).toPandas()
    n_seg = 2 * nproc
    os.makedirs(f"{d}/wet", exist_ok=True)
    rows = list(zip(pdf["url"], pdf["iso"], pdf["text"]))
    for s in range(n_seg):
        write_wet(rows[s::n_seg], f"{d}/wet/segment-{s:03d}.warc.wet")
    ref_in = spark.createDataFrame(pdf[["url", "text"]]).withColumn(
        "html", F.lit(None).cast("binary")
    )
    reference_labels(ref_in).write.mode("overwrite").parquet(f"{d}/ref")
    ascii_share = pdf["text"].map(lambda t: t.isascii()).mean()
    return {
        "rows": size,
        "bytes": dir_bytes(f"{d}/wet"),
        "segments": n_seg,
        "lang_mix": _lang_mix(pdf),
        "ascii_share": round(float(ascii_share), 4),
        "exact_dup_share": round(1 - pdf["text"].nunique() / size, 4),
    }


def _near_dup(text: str, rng: random.Random) -> str:
    """``text`` with one inner token replaced."""
    toks = text.split(" ")
    i = rng.randrange(1, len(toks) - 1)
    toks[i] = "variant"
    return " ".join(toks)


def _gen_filter_zh(spark, d: str, seed: int, size: int, nproc: int) -> dict:
    """Default zh-majority weibo mix plus planted crawl duplication: url
    variants that ``functions.urls.canonical_url`` collapses (tracking
    params, fragment, host case), exact text copies under new urls,
    one-token near-dups of long latin pages, and boilerplate lines appended
    to a share of rows.  ``size`` base pages; the planted rows come on top."""
    base = synthesize_pages(spark, n=size, seed=seed).toPandas()
    rng = random.Random(seed)
    rows = list(base.itertuples(index=False, name=None))
    extra = []
    n_url, n_exact = int(size * URL_VARIANT_SHARE), int(size * EXACT_COPY_SHARE)
    for k, i in enumerate(rng.sample(range(size), n_url)):
        url, ts, html, text, lang = rows[i]
        variant = _URL_VARIANTS[k % len(_URL_VARIANTS)](url)
        extra.append((variant, ts + pd.Timedelta(days=1), html, text, lang))
    for k, i in enumerate(rng.sample(range(size), n_exact)):
        url, ts, html, text, lang = rows[i]
        extra.append((f"https://mirror{k % 97}.net/copy/{i}", ts, html, text, lang))
    long_latin = [
        i for i, r in enumerate(rows)
        if r[4] != "zh" and len(r[3].split()) >= NEAR_DUP_MIN_TOKENS
    ]
    n_near = min(int(size * NEAR_DUP_SHARE), len(long_latin))
    for k, i in enumerate(rng.sample(long_latin, n_near)):
        url, ts, html, text, lang = rows[i]
        extra.append((f"https://near{k % 89}.org/n/{i}", ts, html, _near_dup(text, rng), lang))
    rows += extra
    n_boiler = int(len(rows) * BOILERPLATE_SHARE)
    for k, i in enumerate(rng.sample(range(len(rows)), n_boiler)):
        url, ts, html, text, lang = rows[i]
        rows[i] = (url, ts, html, text + "\n" + BOILERPLATE_LINES[k % len(BOILERPLATE_LINES)], lang)
    rng.shuffle(rows)
    pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    (
        spark.createDataFrame(pdf, schema=PAGES_SCHEMA)
        .repartition(FILES_PER_CORE * nproc)
        .write.mode("overwrite")
        .parquet(f"{d}/pages")
    )
    reference_labels(spark.read.parquet(f"{d}/pages")).write.mode("overwrite").parquet(f"{d}/ref")
    n = len(rows)
    return {
        "rows": n,
        "bytes": dir_bytes(f"{d}/pages"),
        "segments": FILES_PER_CORE * nproc,
        "lang_mix": _lang_mix(pdf),
        "url_variant_share": round(n_url / n, 4),
        "exact_copy_share": round(n_exact / n, 4),
        "near_dup_share": round(n_near / n, 4),
        "boilerplate_share": round(n_boiler / n, 4),
        "exact_dup_share": round(1 - pdf["text"].nunique() / n, 4),
    }


def ensure_inputs(spark, root: str, workload: str, seed: int, size: int, nproc: int) -> dict:
    """Generate (or reuse) the inputs for one (workload, seed, size)."""
    d = os.path.join(root, f"{workload}-seed{seed}-n{size}")
    manifest_path = os.path.join(d, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    if workload == "filter_zh":
        props = _gen_filter_zh(spark, d, seed, size, nproc)
    elif workload == "wet_resume_latin":
        props = _gen_wet_resume_latin(spark, d, seed, size, nproc)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    manifest = {"workload": workload, "seed": seed, "size": size, "dir": d, **props}
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.rename(tmp, manifest_path)
    return manifest
