"""WARC input through phase 1 in one Python pass.

``python_phase`` is one ``mapInArrow`` for every input.  On an
untransformed ``read_warc`` frame it reads the binaryFile scan, so
the same pass parses the files and scores the pages; every other
input (here ``read_warc``'s own ``mapInPandas`` explode behind a
transformation) feeds it page rows.  The two must give the same rows:
``text_ex`` and ``scrubbed_text`` byte-identical, ``lang_pred``,
``perplexity`` and ``hits_*`` equal.  The fixture holds several files,
non-``response`` records, a non-HTTP payload and a truncated member.
Both WARC explodes yield frames of at most
``spark.sql.execution.arrow.maxRecordsPerBatch`` rows.
"""

from __future__ import annotations

import gzip
import os
import re

import pandas as pd
import pytest

from dqmtools_spark.functions.models import langid_fn_from_path, ppl_fn_from_path
from dqmtools_spark.pipeline import python_phase
from dqmtools_spark.plans.audit import explain_str
from dqmtools_spark.sources.warc import (
    arrow_batch_rows,
    read_warc,
    warc_gz_to_pages,
    warc_page_frames,
    write_warc_gz,
)
from dqmtools_spark.synth import gen_page

ART = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "artifacts")
BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _recs(lo: int, hi: int) -> list[dict]:
    out = []
    for i in range(lo, hi):
        p = gen_page(5, i)
        out.append(
            {"uri": p["url"], "date": p["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ"), "body": p["html"]}
        )
    return out


PII = {
    "uri": "https://pii.example/p",
    "date": "2026-01-01T00:00:00Z",
    "body": (
        b"<html><body>mail bob@x.io from 10.0.0.1 about the frakking report "
        + b"with plain english words " * 12
        + b"</body></html>"
    ),
}
NON_HTTP = gzip.compress(
    b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://bad.example/\r\n"
    b"Content-Length: 5\r\n\r\nnotht\r\n\r\n"
)


@pytest.fixture(scope="module")
def warc_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("warcs")
    (d / "seg-00000.warc.gz").write_bytes(
        write_warc_gz(
            _recs(0, 8)
            + [
                {"uri": None, "type": "warcinfo", "body": b"software: fixture"},
                {"uri": "https://c.example/req", "type": "request", "body": b"GET / HTTP/1.1"},
                PII,
            ]
        )
    )
    (d / "seg-00001.warc.gz").write_bytes(
        write_warc_gz(_recs(8, 14)) + NON_HTTP + write_warc_gz(_recs(14, 20))
    )
    truncated = write_warc_gz(_recs(20, 30))
    (d / "seg-00002.warc.gz").write_bytes(truncated[:-40])
    (d / "notes.txt").write_bytes(b"ignored by pathGlobFilter")
    return str(d)


def _python_nodes(df) -> tuple[int, int]:
    """(MapInPandas, MapInArrow) node counts of ``df``'s plan: the
    ``read_warc`` explode and the phase-1 pass.  No plan here may hold
    an ``ArrowEvalPython``."""
    plan = explain_str(df)
    assert not re.findall(r"ArrowEvalPython \(\d+\)", plan)
    return (
        len(re.findall(r"MapInPandas \(\d+\)", plan)),
        len(re.findall(r"MapInArrow \(\d+\)", plan)),
    )


def _rows(df) -> list[dict]:
    return sorted((r.asDict() for r in df.collect()), key=lambda r: r["url"])


def _assert_same_phase1(one_pass, generic):
    assert one_pass.schema == generic.schema
    got, want = _rows(one_pass), _rows(generic)
    assert [r["url"] for r in got] == [r["url"] for r in want]
    for g, w in zip(got, want):
        for col in ("text_ex", "scrubbed_text"):
            assert (g[col] or "").encode() == (w[col] or "").encode(), (g["url"], col)
        assert g == w, g["url"]


@pytest.mark.parametrize("real_models", [False, True])
def test_one_pass_rows_equal_generic_path(spark, warc_dir, real_models):
    models = None
    if real_models:
        models = {
            "langid_fn": langid_fn_from_path(os.path.join(ART, "langid_synth.bin")),
            "ppl_fn": ppl_fn_from_path(os.path.join(ART, "webtext_en_3gram.arpa.gz")),
        }
    one_pass = python_phase(read_warc(spark, warc_dir), models=models)
    generic = python_phase(read_warc(spark, warc_dir).select("*"), models=models)
    assert _python_nodes(one_pass) == (0, 1)
    assert _python_nodes(generic) == (1, 1)
    _assert_same_phase1(one_pass, generic)
    rows = _rows(one_pass)
    # 8 pages + the PII page, 12 around the non-HTTP record, and the 9
    # pages before the truncated member
    assert len(rows) == 30
    assert "https://bad.example/" not in {r["url"] for r in rows}
    pii = next(r for r in rows if r["url"] == "https://pii.example/p")
    assert pii["hits_email"] == pii["hits_ipv4"] == pii["hits_toxicity"] == 1
    if real_models:
        assert all(r["perplexity"] is not None for r in rows if r["text_ex"])


def test_one_pass_with_small_batches_equals_generic_path(spark, warc_dir):
    """Several frames per file (3 rows each) give the same rows."""
    old = spark.conf.get(BATCH_CONF)
    spark.conf.set(BATCH_CONF, "3")
    try:
        assert arrow_batch_rows(spark) == 3
        _assert_same_phase1(
            python_phase(read_warc(spark, warc_dir)),
            python_phase(read_warc(spark, warc_dir).select("*")),
        )
    finally:
        spark.conf.set(BATCH_CONF, old)


def test_other_inputs_keep_the_arrow_udf(spark, warc_dir):
    """Every other input feeds page rows from ``read_warc``'s explode
    to the phase-1 ``mapInArrow``."""
    pages = read_warc(spark, warc_dir)
    for df in (
        read_warc(spark, warc_dir, keep_stats=True),
        pages.select("*"),
        pages.filter("url IS NOT NULL"),
    ):
        assert _python_nodes(python_phase(df)) == (1, 1)
    # reextract=False scores the text column, as for any other input
    assert _python_nodes(python_phase(pages, reextract=False)) == (1, 1)
    cached = read_warc(spark, warc_dir).cache()
    try:
        assert _python_nodes(python_phase(cached)) == (1, 1)
    finally:
        cached.unpersist()


def test_explode_frames_are_bounded_by_batch_rows():
    """A file of 3x the batch size in records yields at least 3
    frames, with and without the per-file stats."""
    batch = 4
    data = write_warc_gz(_recs(0, 3 * batch))
    files = [pd.DataFrame({"path": ["f.warc.gz"], "content": [data]})]
    want, corrupt = warc_gz_to_pages(data)
    assert corrupt == 0 and len(want) == 3 * batch
    for keep_stats in (False, True):
        frames = list(warc_page_frames(files, batch, keep_stats))
        assert len(frames) >= 3 and all(len(f) <= batch for f in frames)
        assert list(pd.concat(frames)["url"]) == [r["url"] for r in want]
    unbounded = list(warc_page_frames(files, None))
    assert len(unbounded) == 1 and len(unbounded[0]) == 3 * batch
