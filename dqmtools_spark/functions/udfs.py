"""Vectorized pandas/Arrow UDFs — the only Python in the hot path.

Each UDF wraps a canonical pure function from ``textproc.py`` (the
byte-identical contract) in an Arrow-batched pandas UDF.  Models
(unigram LM) are built lazily once per executor process through the
process model cache (``models.process_cached``) — the reference's
channel-map-per-decoder pattern (``dataframe_creator.py:32-116``)
re-expressed as broadcast-free deterministic state.

No per-row Spark UDFs (``F.udf``) anywhere (BASELINE input_hint).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dqmtools_spark.functions import textproc
from dqmtools_spark.functions.models import process_cached

# ---------------------------------------------------------------- extract


@F.pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """HTML bytes -> extracted text (byte-identical per url)."""
    return html.map(textproc.extract_text)


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


def make_process_udfs(lm=None, langid_fn=None, ppl_fn=None):
    """THE model swap point: build the fused pipeline UDFs around
    injected models instead of the deterministic stand-ins.

    - ``lm``: a ``(logprob_dict, oov_logprob)`` pair, the shape
      :func:`textproc.lm_and_oov` returns — swap in a real KenLM-style
      table here (load it driver-side; the closure ships it to workers
      via cloudpickle, or broadcast it first for very large tables).
    - ``langid_fn``: ``text -> lang_code`` callable — swap in a real
      fastText ``model.predict`` wrapper here.  Must be picklable.
    - ``ppl_fn``: ``text -> float | None`` callable overriding the
      whole perplexity computation (takes precedence over ``lm``) —
      the hook for a full backoff LM like
      :class:`~dqmtools_spark.functions.models.ArpaLM.text_perplexity`,
      whose scoring recursion doesn't fit the flat dict shape.

    Batch protocol: when both ``langid_fn`` and ``ppl_fn`` also have a
    ``batch(token_lists)`` method, each Arrow batch is tokenized once
    (``text.lower().split()``, ``None`` for a missing or empty text)
    and each model scores the whole batch in one call, returning one
    value per text equal to what the per-text call returns.  The
    path-loaded models (``models.langid_fn_from_path`` and
    ``models.ppl_fn_from_path``) have it; any other callable is called
    once per text.

    Defaults (both ``None``) keep the lazy per-executor singletons, so
    nothing is shipped in the closure.  Returns
    ``(process_page_udf, process_text_udf)``.  The injection reaches
    the Python WORKERS (not just the driver) because the captured
    objects ride the serialized closure — asserted by
    ``tests/test_model_seam.py``.
    """

    @F.pandas_udf(PROC_SCHEMA)
    def page_udf(html: pd.Series) -> pd.DataFrame:
        return process_pages(html, lm=lm, langid_fn=langid_fn, ppl_fn=ppl_fn)

    @F.pandas_udf(PROC_SCHEMA)
    def text_udf(text: pd.Series) -> pd.DataFrame:
        return _process_texts(text, lm=lm, langid_fn=langid_fn, ppl_fn=ppl_fn)

    return page_udf, text_udf


# default instances — fused hot path: html -> (text, langid, perplexity,
# scrub) in ONE Arrow round-trip.  Chaining individual UDFs instead
# would ship the extracted text across the JVM<->Python boundary three
# extra times; fusing them is the single biggest pipeline win (~25%).
# They call the same textproc functions as the individual UDFs, so the
# byte-identical contract is unchanged.  process_text_udf is the
# pre-extracted-text form (reextract=False); text_ex passes through.
process_page_udf, process_text_udf = make_process_udfs()


def pii_hits_map_col(struct_col: str | None = None, prefix: str = "hits_") -> F.Column:
    """Build the map<string,long> hits column from the per-kind hit
    columns — flat ``hits_<kind>`` columns by default, or fields of a
    named struct column when ``struct_col`` is given."""
    base = f"{struct_col}." if struct_col else ""
    pairs = []
    for k in textproc.SCRUB_KINDS:
        pairs.append(F.lit(k))
        pairs.append(F.col(f"{base}{prefix}{k}"))
    return F.create_map(*pairs)
