"""Output checker: recomputes each workload's outputs independently and
counts the documents whose output is missing or disagrees.

- ``warc_filter`` and ``staged_rerun``: the sampled documents' keep,
  reasons, scrubbed text and language must equal the pandas reference
  labeler (``tests/reference_impl.py``), run with the same scorers and
  thresholds the workload used; the output document count must equal
  the records written.  A sampled mismatch stands for
  ``docs / sample`` documents.
- ``near_dup``: every reported pair's Jaccard is recomputed exactly over
  word-trigram sets; the surviving documents must be one per duplicate
  cluster of the reported pairs; a pure-Python first-occurrence line
  dedup over the survivors must equal ``global_line_dedup``'s output.
  Every planted copy whose exact Jaccard with its original is at least
  ``RECALL_MARGIN`` above the threshold must share a cluster with it:
  there the 8x4 banding misses a pair with probability below 2e-4, and
  inputs and hashing are seeded, so a seed's outcome does not change
  from run to run.
  Recall over all planted copies at or above the threshold is reported.

The reference is loaded as a private module instance per configuration
(its scorers and thresholds are module attributes), so no state leaks
between configurations.
"""

from __future__ import annotations

import importlib.util
import math
import os
import types

import pandas as pd

from dqmtools_spark.functions import textproc
from dqmtools_spark.functions.models import langid_fn_from_path, ppl_fn_from_path
from dqmtools_spark.synth import gen_page
from gen import jaccard, shingles

_REFERENCE = "tests/reference_impl.py"
RECALL_MARGIN = 0.1


def _reference_labeler(root: str, thresholds: dict | None, models: dict | None):
    spec = importlib.util.spec_from_file_location(
        "perfbench_reference", os.path.join(root, _REFERENCE)
    )
    ref = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ref)
    if thresholds:
        ref.THRESHOLDS = {**ref.THRESHOLDS, **thresholds}
    if models:
        langid, ppl = models["langid_fn"], models["ppl_fn"]
        ref.textproc = types.SimpleNamespace(
            extract_text=textproc.extract_text,
            scrub_text=textproc.scrub_text,
            predict_lang=langid,
            lm_and_oov=lambda: (None, None),
            perplexity=lambda text, _model, _oov: ppl(text),
        )
    return ref.label_pages


class Checker:
    def __init__(self, root: str, manifest: dict, real_models: bool = False):
        self.root = root
        self.m = manifest
        self.n = manifest["records"]
        self.models = None
        if real_models:
            from workloads import ARPA_MODEL, LANGID_MODEL

            self.models = {
                "langid_fn": langid_fn_from_path(os.path.join(root, LANGID_MODEL)),
                "ppl_fn": ppl_fn_from_path(os.path.join(root, ARPA_MODEL)),
            }
        self._expected: dict[str, dict] = {}
        self._sample_pages = None

    # ------------------------------------------------------ labelers

    def expected(self, thresholds: dict | None) -> dict[str, dict]:
        key = repr(sorted((thresholds or {}).items()))
        if key not in self._expected:
            if self._sample_pages is None:
                self._sample_pages = pd.DataFrame(
                    [gen_page(self.m["seed"], i) for i in self.m["sample_ids"]]
                )
            labels = _reference_labeler(self.root, thresholds, self.models)(
                self._sample_pages
            )
            self._expected[key] = {r["url"]: r for r in labels.to_dict("records")}
        return self._expected[key]

    def _sample_failures(self, rows: list[dict], thresholds: dict | None) -> tuple[int, list[str]]:
        """Mismatched or missing sampled documents, scaled to the corpus."""
        exp = self.expected(thresholds)
        got = {r["url"]: r for r in rows}
        bad = []
        for url, e in exp.items():
            g = got.get(url)
            if g is None:
                bad.append(f"{url}: missing")
                continue
            for k in ("keep", "reasons", "scrubbed_text", "lang_pred"):
                want, have = e[k], g[k]
                if k == "reasons":
                    want, have = list(want), list(have)
                if want != have:
                    bad.append(f"{url}: {k} {have!r} != {want!r}")
                    break
        extra = set(got) - set(exp)
        bad.extend(f"{u}: not in sample" for u in extra)
        n_bad = sum(1 for b in bad if not b.endswith("not in sample"))
        scaled = math.ceil(n_bad * self.n / max(len(exp), 1)) + len(extra)
        return min(scaled, self.n), bad

    # ------------------------------------------------------ workloads

    def warc_filter(self, out: dict) -> tuple[int, list[str], dict]:
        failed, notes = self._sample_failures(out["sample"], None)
        if out["docs_out"] != self.n:
            notes.append(f"docs_out {out['docs_out']} != records {self.n}")
            failed += abs(self.n - out["docs_out"])
        return min(failed, self.n), notes, {}

    def staged_rerun(self, out: dict) -> tuple[int, list[str], dict]:
        s1, s2, s3 = out["summaries"]
        failed, notes = 0, []
        for name, s in (("step1", s1), ("step2", s2)):
            if s["skipped"] or s["docs_written"] != self.n:
                notes.append(f"{name}: {s}")
                failed = self.n
        if not s3["skipped"] or s3["docs_written"] != 0:
            notes.append(f"step3 not a no-op: {s3}")
            failed = self.n
        for key in ("sample", "sample_rerun"):
            part = out[key]
            f, bad = self._sample_failures(part["rows"], part["thresholds"])
            failed = max(failed, f)
            notes.extend(bad)
            if part["docs_in_total"] != self.n:
                notes.append(f"{key}: rule_metrics docs_in {part['docs_in_total']}")
                failed = self.n
        return failed, notes, {}

    def near_dup(self, out: dict) -> tuple[int, list[str], dict]:
        thr = out["threshold"]
        texts = self._corpus()
        sh = {}

        def shingle_set(i: int):
            if i not in sh:
                sh[i] = shingles(texts[i])
            return sh[i]

        notes: list[str] = []
        bad_docs: set[int] = set()
        for a, b, j in out["pairs"]:
            exact = jaccard(shingle_set(a), shingle_set(b))
            if not (a < b and j >= thr and abs(exact - j) < 1e-12):
                notes.append(f"pair ({a},{b}) jaccard {j} exact {exact}")
                bad_docs.update((a, b))

        # one survivor per cluster of the reported pairs: the smallest id
        parent = list(range(self.n))

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b, _ in out["pairs"]:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expect_ids = {i for i in range(self.n) if find(i) == i}
        got = {d: (text, k) for d, text, k in out["deduped"]}
        wrong = expect_ids ^ set(got)
        if wrong:
            notes.append(f"{len(wrong)} documents wrongly kept or dropped")
            bad_docs |= wrong

        # pure-Python first-occurrence line dedup over the survivors
        seen: set[str] = set()
        kept_lines = 0
        for d in sorted(expect_ids):
            kept = []
            for line in texts[d].split("\n"):
                if not line:
                    kept.append(line)
                elif line not in seen:
                    seen.add(line)
                    kept.append(line)
            kept_lines += sum(1 for ln in kept if ln)
            if d in got and got[d] != ("\n".join(kept), len(kept)):
                notes.append(f"doc {d}: line dedup differs")
                bad_docs.add(d)

        planted = []
        for a, b, _ in self.m["planted"]:
            exact = jaccard(shingle_set(a), shingle_set(b))
            if exact < thr:
                continue
            planted.append((a, b))
            if exact >= thr + RECALL_MARGIN and find(a) != find(b):
                notes.append(f"planted pair ({a},{b}) jaccard {exact:.3f} not found")
                bad_docs.add(b)
        found = sum(1 for a, b in planted if find(a) == find(b))
        layers = {
            "dedup.pairs_found": len(out["pairs"]),
            "dedup.planted_recall": found / len(planted) if planted else 1.0,
            "dedup.lines_kept_frac": kept_lines / max(self.m["nonempty_lines"], 1),
        }
        return len(bad_docs), notes, layers

    def _corpus(self) -> list[str]:
        if not hasattr(self, "_texts"):
            df = pd.read_parquet(self.m["corpus_path"])
            self._texts = dict(zip(df["doc_id"].tolist(), df["text"].tolist()))
        return self._texts

    def check(self, workload: str, outputs: dict) -> tuple[int, list[str], dict]:
        """(failed documents, notes, per-layer values) of one iteration."""
        return getattr(self, workload)(outputs)
