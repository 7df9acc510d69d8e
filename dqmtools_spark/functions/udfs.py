"""The per-batch scoring body of phase 1 — the only Python in the hot
path.

:func:`process_pages` (html -> extract, then :func:`_process_texts`)
and :func:`_process_texts` (langid, perplexity and scrub over one
batch of texts) run inside ``pipeline.python_phase``'s one
``mapInArrow``, fused: chaining a Python evaluation per step would ship
the extracted text across the JVM<->Python boundary three extra times.
They call the canonical pure functions of ``textproc.py`` (the
byte-identical contract).  Models (unigram LM) are built lazily once
per executor process through the process model cache
(``models.process_cached``) — the reference's channel-map-per-decoder
pattern (``dataframe_creator.py:32-116``) re-expressed as
broadcast-free deterministic state; ``python_phase(models=...)``
injects real ones.

No per-row Spark UDFs (``F.udf``) anywhere (BASELINE input_hint).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import types as T

from dqmtools_spark.functions import textproc
from dqmtools_spark.functions.models import process_cached

# ---------------------------------------------------------------- fused

_PROC_FIELDS = (
    [
        T.StructField("text_ex", T.StringType()),
        T.StructField("lang_pred", T.StringType()),
        T.StructField("perplexity", T.DoubleType()),
        T.StructField("scrubbed_text", T.StringType()),
    ]
    + [T.StructField(f"hits_{k}", T.LongType()) for k in textproc.SCRUB_KINDS]
)
# the fused output's flat fields, in checkpoint order
PROC_SCHEMA = T.StructType(_PROC_FIELDS)


def _process_texts(texts: pd.Series, lm=None, langid_fn=None, ppl_fn=None) -> pd.DataFrame:
    if ppl_fn is None:
        model, oov = lm if lm is not None else process_cached(textproc.lm_and_oov)
        ppl_fn = lambda t: textproc.perplexity(t, model, oov)  # noqa: E731
    predict = langid_fn if langid_fn is not None else textproc.predict_lang
    if hasattr(predict, "batch") and hasattr(ppl_fn, "batch"):
        token_lists = [t.lower().split() if t else None for t in texts]
        langs = predict.batch(token_lists)
        ppls = ppl_fn.batch(token_lists)
    else:
        langs = [predict(t) for t in texts]
        ppls = [ppl_fn(t) for t in texts]
    scrubbed = []
    counters: dict[str, list[int]] = {k: [] for k in textproc.SCRUB_KINDS}
    for t in texts:
        out, hits = textproc.scrub_text(t)
        scrubbed.append(out)
        for k in textproc.SCRUB_KINDS:
            counters[k].append(hits[k])
    data = {
        "text_ex": texts.reset_index(drop=True),
        "lang_pred": langs,
        "perplexity": ppls,
        "scrubbed_text": scrubbed,
    }
    data.update({f"hits_{k}": v for k, v in counters.items()})
    return pd.DataFrame(data)


def process_pages(html: pd.Series, lm=None, langid_fn=None, ppl_fn=None) -> pd.DataFrame:
    """HTML bytes -> the fused output frame: extract, then
    :func:`_process_texts`."""
    return _process_texts(
        html.map(textproc.extract_text), lm=lm, langid_fn=langid_fn, ppl_fn=ppl_fn
    )
