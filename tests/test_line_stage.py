"""extraction.line_stage: the one per-line Python stage behind every OCR
query — pass-through columns, the per-record error policy, empty input,
and independence from the Arrow batch size."""

import pytest

from calamari_spark.plans import extraction as X

# the extraction queries read the committed fixtures/interleaved/sf0.001
# corpus; only the scale-factor tail of the path selects it
SF = "sf0.001"

LINES = "doc_id string, offset int, media_ref string, png binary"


def _lines(spark):
    """Three media lines: two real fixture blobs and one corrupt blob."""
    _, media = X.load_interleaved(spark, SF)
    good = media.select("media_ref", "png").orderBy("media_ref").limit(2).collect()
    rows = [("d0", i, r["media_ref"], bytes(r["png"])) for i, r in enumerate(good)]
    rows.append(("d1", 7, "m-bad", b"not a png at all"))
    return spark.createDataFrame(rows, LINES)


def _size_setup():
    """setup() whose kernel returns the blob size and raises a 2005-char
    error on the corrupt line. Built inside a function so that cloudpickle
    ships it by value: workers cannot import this test module."""

    def setup():
        def kernel(row):
            if row.media_ref == "m-bad":
                raise ValueError("boom " + "x" * 2000)
            return (len(row.png),)

        return kernel

    return setup


def test_strict_mode_raises(spark):
    out = X.line_stage(_lines(spark), _size_setup(), "media_ref string, n_bytes int")
    with pytest.raises(Exception, match="boom"):
        out.collect()


def test_quarantine_keeps_pass_through_columns(spark):
    rec = X.recognize_media(_lines(spark), with_positions=False, on_error="quarantine")
    rows = {r["media_ref"]: r for r in rec.collect()}
    assert len(rows) == 3
    bad = rows.pop("m-bad")
    assert (bad["doc_id"], bad["offset"], bad["n_folds"]) == ("d1", 7, X.N_FOLDS)
    assert bad["sentence"] is None and bad["avg_char_probability"] is None
    assert bad["positions"] is None
    assert "not a PNG" in bad["error"] and len(bad["error"]) <= 500
    for r in rows.values():
        assert r["doc_id"] == "d0" and r["n_folds"] == X.N_FOLDS
        assert r["error"] is None and r["sentence"]


def test_quarantine_error_is_truncated(spark):
    out = X.line_stage(
        _lines(spark), _size_setup(), "media_ref string, n_bytes int", on_error="quarantine"
    )
    rows = {r["media_ref"]: r for r in out.collect()}
    assert rows["m-bad"]["n_bytes"] is None
    assert rows["m-bad"]["error"].startswith("ValueError: boom")
    assert len(rows["m-bad"]["error"]) == 500
    assert all(r["n_bytes"] > 0 and r["error"] is None
               for ref, r in rows.items() if ref != "m-bad")


def test_empty_input_gives_empty_frame_with_schema(spark):
    empty = spark.createDataFrame([], LINES)
    for on_error in ("fail", "quarantine"):
        rec = X.recognize_media(empty, on_error=on_error)
        want = X.RECOGNIZE_SCHEMA + (", error string" if on_error == "quarantine" else "")
        assert rec.schema == spark.createDataFrame([], want).schema
        assert rec.collect() == []


def test_extract_docs_independent_of_arrow_batch_size(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = X.x_extract_docs(spark, SF).collect()
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        small = X.x_extract_docs(spark, SF).collect()
    finally:
        spark.conf.set(key, old)
    assert len(default) == 24
    assert small == default
