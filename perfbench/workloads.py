"""The benchmark's three workloads as plans over the program's layers.

Each workload is a class built inside a live Spark session with:

- ``warm()``: the uncounted warm-up, the exact timed plan run
  ``warmups`` times;
- ``iteration(i)``: one closed-loop unit of work, timed by the caller;
  it returns the documents judged, the wall time of the re-run after a
  threshold change (``rerun_s``) and the outputs the checker needs;
- ``probes()``: traced runs only — separate jobs that time one layer on
  its own (a layer inside a fused job has no wall time of its own).

Every layer call sits in a ``tracer.span``; a disabled tracer costs
nothing.  ``warc_filter`` and ``near_dup`` keep no checkpoint, so a
threshold change there re-runs the whole plan: their ``rerun_s`` is the
iteration's wall time, under the default parameters.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

from dqmtools_spark.functions import textproc
from dqmtools_spark.functions.models import (
    langid_fn_from_path,
    load_arpa,
    load_fasttext_bin,
    ppl_fn_from_path,
)
from dqmtools_spark.operators.dedup import (
    drop_duplicate_clusters,
    global_line_dedup,
    minhash_lsh_pairs,
)
from dqmtools_spark.pipeline import (
    jvm_phase,
    python_phase,
    rule_metrics_from_results,
    run_pipeline,
    run_pipeline_staged,
)
from dqmtools_spark.rules.builtin import default_registry
from dqmtools_spark.rules.core import rule_level_results
from dqmtools_spark.rules.report import ResultsHistory
from dqmtools_spark.sources.checkpoint import CheckpointedRun
from dqmtools_spark.sources.tables import read_table, write_table
from dqmtools_spark.sources.warc import read_warc
from dqmtools_spark.synth import gen_page

LANGID_MODEL = "artifacts/langid_synth.bin"
ARPA_MODEL = "artifacts/webtext_en_3gram.arpa.gz"

# the "thresholds changed" resubmit: a stricter length and repetition gate
CHANGED_THRESHOLDS = {"min_word_count": 25, "max_repeated_line_fraction": 0.2}
# near_dup's Jaccard threshold: minhash_lsh_pairs' default
DEDUP_THRESHOLD = 0.8

N_BUCKETS = 8
SAMPLE_COLS = ("url", "keep", "reasons", "scrubbed_text", "lang_pred")
PROBE_DOCS = 200
PROBE_REPS = 3


def _dir_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _noop(df) -> None:
    """Run ``df`` to a sink that writes nothing."""
    df.write.format("noop").mode("overwrite").save()


def _per_doc_us(fn, items) -> float:
    t = time.perf_counter()
    for x in items:
        fn(x)
    return (time.perf_counter() - t) / len(items) * 1e6


def _sample_rows(rows) -> list[dict]:
    return [
        {k: (list(r[k]) if k == "reasons" else r[k]) for k in SAMPLE_COLS}
        for r in rows
    ]


class Workload:
    # uncounted runs of the timed plan before the timed loop
    warmups = 1

    def __init__(self, spark, manifest: dict, work_dir: str, tracer, root: str):
        self.spark = spark
        self.m = manifest
        self.work = work_dir
        self.tracer = tracer
        self.root = root
        self.n = manifest["records"]

    def warm(self) -> None:
        for i in range(self.warmups):
            self.iteration(i)
            self.cleanup()

    def cleanup(self) -> None:
        """Drop what an iteration left behind (untimed)."""

    def textproc_probes(self) -> dict:
        """Driver-side per-document cost of the stand-in text functions
        on a fixed seeded sample of this workload's pages."""
        pages = [gen_page(self.m["seed"], i) for i in self.m["sample_ids"][:PROBE_DOCS]]
        html = [p["html"] for p in pages]
        texts = [textproc.extract_text(h) for h in html]
        model, oov = textproc.lm_and_oov()
        return {
            "textproc.extract_us": _per_doc_us(textproc.extract_text, html),
            "textproc.scrub_us": _per_doc_us(textproc.scrub_text, texts),
            "textproc.langid_us": _per_doc_us(textproc.predict_lang, texts),
            "textproc.ppl_us": _per_doc_us(
                lambda t: textproc.perplexity(t, model, oov), texts
            ),
        }

    def sample_urls_of(self) -> list[str]:
        return [gen_page(self.m["seed"], i)["url"] for i in self.m["sample_ids"]]


class WarcFilter(Workload):
    """read_warc -> run_pipeline with the committed real models -> an
    aggregate that writes nothing."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.langid_path = os.path.join(self.root, LANGID_MODEL)
        self.arpa_path = os.path.join(self.root, ARPA_MODEL)
        self.models = {
            "langid_fn": langid_fn_from_path(self.langid_path),
            "ppl_fn": ppl_fn_from_path(self.arpa_path),
        }
        self.sample_urls = self.sample_urls_of()

    def iteration(self, i: int) -> dict:
        sampled = F.col("url").isin(self.sample_urls)
        t0 = time.perf_counter()
        with self.tracer.span("pipeline.run_pipeline"):
            result, _ = run_pipeline(
                self.spark,
                read_warc(self.spark, self.m["warc_dir"]),
                models=self.models,
            )
            row = result.agg(
                F.count(F.lit(1)).alias("docs"),
                F.count_if("keep").alias("kept"),
                F.collect_list(F.when(sampled, F.struct(*SAMPLE_COLS))).alias("sample"),
            ).collect()[0]
        wall = time.perf_counter() - t0
        return {
            "docs": self.n,
            "rerun_s": wall,
            "outputs": {
                "docs_out": row["docs"],
                "kept": row["kept"],
                "sample": _sample_rows(row["sample"]),
            },
        }

    def corrupt_members(self) -> int:
        files = (
            read_warc(self.spark, self.m["warc_dir"], keep_stats=True)
            .groupBy("_source_file")
            .agg(F.max("_corrupt_members").alias("c"))
            .agg(F.sum("c"))
            .collect()[0][0]
        )
        return int(files or 0)

    def probes(self) -> dict:
        out = {}
        with self.tracer.span("warc.read") as sp:
            read_warc(self.spark, self.m["warc_dir"]).agg(
                F.count(F.lit(1)), F.sum(F.length("html"))
            ).collect()
        dur = sp["end"] - sp["start"]
        out["warc.read_s"] = dur
        out["warc.mb_per_s"] = self.m["warc_mb"] / dur
        out["warc.corrupt_members"] = self.corrupt_members()
        with self.tracer.span("pipeline.python_phase") as sp:
            _noop(python_phase(read_warc(self.spark, self.m["warc_dir"]), models=self.models))
        out["pipeline.python_phase_s"] = sp["end"] - sp["start"]
        out.update(self.textproc_probes())
        with self.tracer.span("models.load") as sp:
            ft = load_fasttext_bin(self.langid_path)
            lm = load_arpa(self.arpa_path)
        out["models.load_s"] = sp["end"] - sp["start"]
        pages = [gen_page(self.m["seed"], i) for i in self.m["sample_ids"][:PROBE_DOCS]]
        texts = [textproc.extract_text(p["html"]) for p in pages]
        with self.tracer.span("models.score"):
            out["models.langid_us"] = _per_doc_us(ft.predict, texts)
            out["models.ppl_us"] = _per_doc_us(lm.text_perplexity, texts)
        return out


class StagedRerun(Workload):
    """The production ``--staged`` job as three steps: first submit,
    resubmit with changed thresholds reusing the text checkpoint, and
    an idempotent resubmit of the first output.

    Two warm-ups: after one, the next iteration's time still varied by
    about 8% from run to run on an idle 4-core host while the JVM kept
    compiling; after two, by about 4%."""

    warmups = 2

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.sample_urls = self.sample_urls_of()
        self.out_dirs: list[str] = []

    def _pages(self):
        return self.spark.read.parquet(self.m["pages_path"])

    def _submit(self, out: str, ckpt: str, thresholds, step: int) -> tuple[dict, float]:
        """One job submission: staged pipeline, checkpointed write,
        rule report.  Returns (CheckpointedRun summary, wall seconds)."""
        tr = self.tracer
        t0 = time.perf_counter()
        registry = default_registry(thresholds) if thresholds else None
        with tr.span("pipeline.run_pipeline_staged", step=step):
            result, outcomes = run_pipeline_staged(
                self.spark, self._pages(), ckpt, registry=registry, n_buckets=N_BUCKETS
            )
        ckpt_run = CheckpointedRun(self.spark, out, run_id=f"step{step}")
        with tr.span("checkpoint.run", step=step):
            summary = ckpt_run.run(result, n_buckets=N_BUCKETS)
        if not summary["skipped"]:
            applied = [o.rule.name for o in outcomes if o.column is not None]
            with tr.span("report.rule_metrics", step=step):
                written = read_table(self.spark, ckpt_run.results_path)
                write_table(
                    rule_metrics_from_results(written, applied),
                    os.path.join(out, "rule_metrics"),
                )
                passes = written.select(
                    *[(~F.array_contains("reasons", n)).alias(f"pass_{n}") for n in applied]
                )
                rows = rule_level_results(passes, outcomes)
            with tr.span("report.history_latest", step=step):
                history = ResultsHistory(self.spark, os.path.join(out, "history"))
                history.append(rows)
                history.latest().collect()
        return summary, time.perf_counter() - t0

    def iteration(self, i: int) -> dict:
        out1 = os.path.join(self.work, f"out-{i}")
        out2 = os.path.join(self.work, f"out-{i}-rerun")
        self.out_dirs = [out1, out2]
        ckpt = os.path.join(out1, "text_checkpoint")
        tr = self.tracer
        with tr.span("step1"):
            s1, _ = self._submit(out1, ckpt, None, 1)
        with tr.span("step2"):
            s2, rerun = self._submit(out2, ckpt, CHANGED_THRESHOLDS, 2)
        with tr.span("step3"):
            with tr.span("checkpoint.resume_noop"):
                s3, _ = self._submit(out1, ckpt, None, 3)
        return {
            "docs": self.n,
            "rerun_s": rerun,
            "outputs": {"summaries": [s1, s2, s3]},
        }

    def read_back(self, res: dict) -> None:
        """Untimed: the checked sample of both outputs and the rule
        counters' grand totals, read from what the steps wrote."""
        sampled = F.col("url").isin(self.sample_urls)
        for key, out, thr in (
            ("sample", self.out_dirs[0], None),
            ("sample_rerun", self.out_dirs[1], CHANGED_THRESHOLDS),
        ):
            rows = read_table(self.spark, os.path.join(out, "doc_results")).filter(sampled)
            res["outputs"][key] = {
                "thresholds": thr,
                "rows": _sample_rows(rows.select(*SAMPLE_COLS).collect()),
            }
            tot = (
                read_table(self.spark, os.path.join(out, "rule_metrics"))
                .filter(F.col("lang_pred").isNull())
                .select("docs_in")
                .collect()
            )
            res["outputs"][key]["docs_in_total"] = sum(r["docs_in"] for r in tot)
        files, size = _dir_stats(os.path.join(self.out_dirs[0], "doc_results"))
        _, ckpt_size = _dir_stats(os.path.join(self.out_dirs[0], "text_checkpoint"))
        res["layers"] = {
            "tables.files_written": files,
            "tables.bytes_per_doc": size / self.n,
            "pipeline.text_ckpt_mb": ckpt_size / 1e6,
        }

    def cleanup(self) -> None:
        for d in self.out_dirs:
            shutil.rmtree(d, ignore_errors=True)

    def probes(self) -> dict:
        """Layer times the fused steps hide, from one fresh checkpoint."""
        out = self.textproc_probes()
        ckpt = os.path.join(self.work, "probe_ckpt")
        with self.tracer.span("pipeline.python_phase") as sp:
            _noop(python_phase(self._pages()))
        out["pipeline.python_phase_s"] = sp["end"] - sp["start"]
        run_pipeline_staged(self.spark, self._pages(), ckpt, n_buckets=N_BUCKETS)
        stats, fold = [], []
        for _ in range(PROBE_REPS):
            with self.tracer.span("textstats.stats") as sp:
                _noop(jvm_phase(self.spark.read.parquet(ckpt), self.spark, n_buckets=N_BUCKETS))
            stats.append(sp["end"] - sp["start"])
            with self.tracer.span("rules.fold") as sp:
                result, _ = run_pipeline_staged(
                    self.spark, self._pages(), ckpt, n_buckets=N_BUCKETS
                )
                _noop(result)
            fold.append(sp["end"] - sp["start"])
        out["textstats.stats_s"] = statistics.median(stats)
        out["rules.fold_s"] = statistics.median(fold) - out["textstats.stats_s"]
        shutil.rmtree(ckpt, ignore_errors=True)
        return out


class NearDup(Workload):
    """minhash_lsh_pairs -> drop_duplicate_clusters -> global_line_dedup
    over the survivors, collected to the driver."""

    def iteration(self, i: int) -> dict:
        tr = self.tracer
        t0 = time.perf_counter()
        docs = self.spark.read.parquet(self.m["corpus_path"])
        with tr.span("dedup.minhash"):
            pairs = minhash_lsh_pairs(docs, "text", "doc_id", threshold=DEDUP_THRESHOLD, eager=True)
            pair_rows = pairs.collect()
        with tr.span("dedup.clusters"):
            survivors = drop_duplicate_clusters(docs, pairs, "doc_id")
        with tr.span("dedup.line_dedup"):
            deduped = global_line_dedup(survivors, "text", "doc_id").collect()
        pairs.unpersist()
        wall = time.perf_counter() - t0
        return {
            "docs": self.n,
            "rerun_s": wall,
            "outputs": {
                "threshold": DEDUP_THRESHOLD,
                "pairs": [[r["id_a"], r["id_b"], r["jaccard"]] for r in pair_rows],
                "deduped": [[r["doc_id"], r["deduped_text"], r["n_kept"]] for r in deduped],
            },
        }

    def probes(self) -> dict:
        return {}


WORKLOADS = {
    "warc_filter": WarcFilter,
    "staged_rerun": StagedRerun,
    "near_dup": NearDup,
}

# docs per workload: one iteration takes 3-8 s on a 4-core machine, so a
# run (cold set-up, warm-up, loop) ends in about 30-40 s
DOCS = {"warc_filter": 2000, "staged_rerun": 1500, "near_dup": 1500}

