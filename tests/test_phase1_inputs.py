"""Phase 1 passes its input columns through untouched and scores the
same rows from either text source.

``warc_ts`` never has to be converted in Python: timestamps outside
pandas' nanosecond range (1677-2262) and ``TIMESTAMP_NTZ`` columns
come out of ``python_phase`` and the staged checkpoint as they went
in, with the input's type.  Year-1 values cannot be collected to
Python datetimes on the driver, so they are compared as strings.
"""

from __future__ import annotations

import pytest

from dqmtools_spark.pipeline import python_phase, run_pipeline_staged
from dqmtools_spark.sources.tables import read_table
from dqmtools_spark.sources.warc import read_warc, write_warc_gz
from dqmtools_spark.synth import synth_pages

BODY = "<html><body>plain english words for the quality filter to read</body></html>"


def _pages(spark, ts_type: str):
    """Three pages whose ``warc_ts`` is year 1, year 9999 and NULL."""
    return spark.sql(
        f"""
        SELECT concat('https://ts.example/', id) AS url,
               CAST(CASE id WHEN 0 THEN '0001-01-02 00:00:00'
                            WHEN 1 THEN '9999-12-31 00:00:00' END
                    AS {ts_type}) AS warc_ts,
               encode('{BODY}', 'utf-8') AS html,
               CAST(NULL AS STRING) AS text,
               'en' AS lang
        FROM range(3)
        """
    )


def _ts_strings(df) -> dict[str, str | None]:
    return {
        r["url"]: r["ts"]
        for r in df.selectExpr("url", "CAST(warc_ts AS STRING) AS ts").collect()
    }


@pytest.mark.parametrize("ts_type", ["TIMESTAMP", "TIMESTAMP_NTZ"])
def test_out_of_range_timestamps_pass_through(spark, tmp_path, ts_type):
    pages = _pages(spark, ts_type)
    want = _ts_strings(pages)
    assert sorted(want.values(), key=str) == [
        "0001-01-02 00:00:00",
        "9999-12-31 00:00:00",
        None,
    ]

    phase1 = python_phase(pages)
    assert phase1.schema["warc_ts"].dataType == pages.schema["warc_ts"].dataType
    assert _ts_strings(phase1) == want

    ck = str(tmp_path / "ck")
    res, _ = run_pipeline_staged(spark, pages, ck, n_buckets=2)
    assert res.count() == 3
    checkpoint = read_table(spark, ck, phase1.schema)
    assert checkpoint.schema["warc_ts"].dataType == pages.schema["warc_ts"].dataType
    assert _ts_strings(checkpoint) == want


def test_warc_date_9999_passes_through(spark, tmp_path):
    d = tmp_path / "warcs"
    d.mkdir()
    body = BODY.encode()
    (d / "seg.warc.gz").write_bytes(
        write_warc_gz(
            [
                {"uri": "https://w.example/max", "date": "9999-12-31T00:00:00Z", "body": body},
                {"uri": "https://w.example/now", "date": "2024-01-01T00:00:00Z", "body": body},
                {"uri": "https://w.example/none", "body": body},
            ]
        )
    )
    pages = read_warc(spark, str(d))
    phase1 = python_phase(pages)
    assert phase1.schema["warc_ts"].dataType == pages.schema["warc_ts"].dataType
    got = {
        r["url"]: r["us"]
        for r in phase1.selectExpr("url", "unix_micros(warc_ts) AS us").collect()
    }
    assert got == {
        "https://w.example/max": 253402214400 * 10**6,
        "https://w.example/now": 1704067200 * 10**6,
        "https://w.example/none": None,
    }


def test_no_reextract_scores_the_same_rows(spark):
    """Synth pages carry ``text == extract_text(html)``, so scoring
    the ``text`` column gives the rows that re-extracting does."""

    def rows(df):
        return sorted((r.asDict() for r in df.collect()), key=lambda r: r["url"])

    pages = synth_pages(spark, 120, seed=17)
    want = rows(python_phase(pages))
    assert len(want) == 120
    assert rows(python_phase(pages, reextract=False)) == want
