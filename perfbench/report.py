"""Turns job timings, check results and spans into the metrics named in
BENCHMARK.json, and dispatches the output checks."""

from __future__ import annotations

import json
import os
import statistics

from perfbench import checks, workloads
from perfbench.inputs import dir_bytes

_SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")
with open(_SPEC) as _f:
    _BENCH = json.load(_f)
END_TO_END_UNITS = {m["name"]: m["unit"] for m in _BENCH["end_to_end"]}
PER_LAYER_UNITS = {m["name"]: m["unit"] for m in _BENCH["per_layer"]}

DEDUP_OPS = ("drop_url_dups", "drop_boilerplate_lines", "drop_exact_dups", "minhash_dup_pairs")


def _files(path: str) -> int:
    return sum(
        f.endswith(".parquet") for _, _, files in os.walk(path) for f in files
    )


def check(spark, workload: str, inp: dict, outputs: list[str]) -> dict[int, dict]:
    data = {i: f"{o}/data" for i, o in enumerate(outputs)}
    if not data:
        return {}
    res = checks.label_check(spark, data, f"{inp['dir']}/ref")
    curated = {i: f"{o}/curated/data" for i, o in enumerate(outputs)}
    curated = {i: p for i, p in curated.items() if os.path.isdir(p)}
    for i, r in checks.curate_check(spark, curated).items():
        if not r["ok"]:
            res[i] = {**res[i], "ok": False, "curate": r}
    if workload == "wet_resume_latin":
        urls = [r["url"] for r in spark.read.parquet(f"{inp['dir']}/ref").select("url").collect()]
        for i, out in enumerate(outputs):
            errors = checks.resume_check(spark, out, inp["rows"], urls, workloads.N_BUCKETS)
            if errors:
                res[i] = {**res[i], "ok": False, "resume_errors": errors}
    return res


def corrupt(spark, data_path: str, kind: str) -> None:
    """Rewrite one row of an output: flip its keep, or change one byte of
    its text_clean.  Used to show that the checks fire."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(data_path)
    target = df.filter(F.col("text_clean") != "").agg(F.min("url")).first()[0]
    hit = F.col("url") == target
    if kind == "keep":
        df = df.withColumn("keep", F.when(hit, ~F.col("keep")).otherwise(F.col("keep")))
    else:
        df = df.withColumn(
            "text_clean",
            F.when(hit, F.concat(F.lit("#"), F.expr("substring(text_clean, 2)")))
            .otherwise(F.col("text_clean")),
        )
    tmp = data_path + ".corrupt"
    parts = ["bucket"] if "bucket" in df.columns else []
    df.write.mode("overwrite").partitionBy(*parts).parquet(tmp)
    import shutil

    shutil.rmtree(data_path)
    os.rename(tmp, data_path)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def end_to_end(workload: str, inp: dict, timed: list, results: dict, job_peaks: list) -> dict:
    """Medians over the run's untraced jobs (0 when none succeeded)."""
    n = inp["rows"]
    if workload == "wet_resume_latin":
        commit = [s["commit_s"] for _, _, s in timed]
        resume = [s["resume_s"] for _, _, s in timed]
        noop = [s["noop_resume_s"] for _, _, s in timed]
    else:
        # base mode has no resume: a restart after a crash, or over a
        # finished output, re-runs the whole job
        commit = resume = noop = [w for _, w, _ in timed]
    f1 = [r["keep_f1"] for r in results.values()]
    return {
        "docs_per_s": median(n / w for w in commit),
        "resume_s": median(resume),
        "noop_resume_s": median(noop),
        "peak_rss_mb": median(job_peaks) / 2**20,
        "out_bytes_per_doc": median(dir_bytes(o) / n for o, _, _ in timed),
        "keep_f1": min(f1, default=0.0),
    }


def layer_metrics(spans: list, inp: dict, out: str) -> dict:
    """Per-layer metrics of one traced job.  Layers the workload does not
    run stay 0."""
    m = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    by = {s.name: s for s in spans}

    def met(name, key):
        return by[name].metrics[key]

    def diff(a, b, key):
        return met(a, key) - met(b, key)

    if "prefix.scrub" in by:
        ext, scr, lab = "prefix.extract", "prefix.scrub", "prefix.label"
        run_ms = diff(scr, ext, "exec_run_ms")
        cpu_ms = diff(scr, ext, "exec_cpu_ms")
        c = by["count.python_rows"].counts
        m.update({
            "functions.cleaning.wall_s": by[scr].wall_s - by[ext].wall_s,
            "functions.cleaning.exec_run_ms": run_ms,
            "functions.cleaning.exec_cpu_ms": cpu_ms,
            "functions.cleaning.python_wait_ms": run_ms - cpu_ms,
            "functions.cleaning.python_rows_frac": c["python_rows"] / max(c["rows"], 1),
            "functions.textstats.wall_s": by[lab].wall_s - by[scr].wall_s,
            "functions.textstats.exec_cpu_ms": diff(lab, scr, "exec_cpu_ms"),
            "functions.textstats.gc_ms": diff(lab, scr, "gc_ms"),
        })
    if "sources.wet.read_wet" in by:
        sp = by["sources.wet.read_wet"]
        m.update({
            "sources.wet.read_wet.wall_s": sp.wall_s,
            "sources.wet.read_wet.input_bytes": sp.metrics["input_bytes"],
            "sources.wet.read_wet.records_out": by["count.read_wet"].counts["records_out"],
        })
    dm = "pipeline.quality_filter.domain_metrics"
    if dm in by:
        m[f"{dm}.wall_s"] = by[dm].wall_s
        m[f"{dm}.shuffle_write_bytes"] = met(dm, "shuffle_write_bytes")
    phases = [s for s in spans if s.name.startswith("pipeline.resume.run_with_resume.")]
    if phases:
        rr = "pipeline.resume.run_with_resume"
        m.update({
            f"{rr}.wall_s": sum(s.wall_s for s in phases),
            f"{rr}.scan_rows_per_output_row": sum(s.metrics["input_records"] for s in phases)
            / inp["rows"],
            f"{rr}.shuffle_write_bytes": sum(s.metrics["shuffle_write_bytes"] for s in phases),
            f"{rr}.output_bytes": sum(s.metrics["output_bytes"] for s in phases),
            f"{rr}.files_written": _files(f"{out}/data"),
            f"{rr}.buckets_processed": sum(s.counts["buckets_processed"] for s in phases),
        })
    for op in DEDUP_OPS:
        name = f"operators.dedup.{op}"
        if name in by:
            sp = by[name]
            m.update({
                f"{name}.wall_s": sp.wall_s,
                f"{name}.rows_in": sp.counts["rows_in"],
                f"{name}.rows_out": sp.counts["rows_out"],
                f"{name}.shuffle_write_bytes": sp.metrics["shuffle_write_bytes"],
                f"{name}.spill_bytes": sp.metrics["spill_bytes"],
            })
            if "pairs_out" in sp.counts:
                m[f"{name}.pairs_out"] = sp.counts["pairs_out"]
    ppl = "operators.lm_perplexity.perplexity_signal"
    if ppl in by:
        m.update({
            f"{ppl}.wall_s": by[ppl].wall_s,
            f"{ppl}.shuffle_write_bytes": met(ppl, "shuffle_write_bytes"),
            f"{ppl}.spill_bytes": met(ppl, "spill_bytes"),
            f"{ppl}.gc_ms": met(ppl, "gc_ms"),
        })
    rep = "functions.textstats.repetition_signals"
    if rep in by:
        m[f"{rep}.wall_s"] = by[rep].wall_s
        m[f"{rep}.shuffle_write_bytes"] = met(rep, "shuffle_write_bytes")
    return m


def median_layers(rows: list[dict]) -> dict:
    return {k: median(r[k] for r in rows) for k in PER_LAYER_UNITS}
