"""Pixel parity reads the row index from fixture-shaped ids (img-NNN).
An id whose tail is digits int() cannot parse (a superscript such as
'²') is not fixture-shaped: the payload kernel skips its parity instead
of raising, and the id's own pattern facet reports it."""

import pyarrow as pa
import pytest

from xmlschema_spark import distribute, fakecodec
from xmlschema_spark.operators.payload import (_expected_id_index,
                                               payload_violations)
from xmlschema_spark.sources.fixtures import images_spec


@pytest.mark.parametrize("image_id,want", [
    ("img-000000000042", 42),
    ("img-٣", 3),            # Arabic-Indic three: decimal, int() reads it
    ("img-²", None),         # superscript two: a digit, but not decimal
    ("img-1²", None),
    ("img-", None),
    ("IMG_000000000042", None),
    (None, None),
])
def test_expected_id_index(image_id, want):
    assert _expected_id_index(image_id) == want


class _Frame:
    """Stands in for the DataFrame payload_violations builds its kernel
    over: mapInArrow hands the kernel back instead of planning it."""
    sparkSession = None

    def select(self, *cols):
        return self

    def mapInArrow(self, fn, schema):
        return fn


def _row(image_id, i, w=5, h=4, fmt="png"):
    px = fakecodec.gen_pixels(i, w, h)
    return image_id, fakecodec.encode(px, fmt), fmt, w, h


def test_payload_kernel_skips_parity_of_non_decimal_ids(monkeypatch):
    """One Arrow batch through the kernel itself, no Spark: 'img-²' has
    no expected pixels (no ValueError), and 'img-٣' is compared with
    row 3's pixels, so row 4's pixels under that id are a mismatch."""
    monkeypatch.setattr(distribute, "ensure_distributed", lambda spark: None)
    spec = images_spec().payload
    kernel = payload_violations(_Frame(), spec)
    rows = [_row("img-²", 2), _row("img-٣", 3), _row("img-٣", 4),
            _row("img-000000000007", 7)]
    cols = list(zip(*rows))
    batch = pa.record_batch(
        [pa.array(cols[0]), pa.array(cols[1], pa.binary()),
         pa.array(cols[2]), pa.array(cols[3], pa.int32()),
         pa.array(cols[4], pa.int32())],
        names=[spec.id_col, spec.bytes_col, spec.fmt_col, spec.w_col,
               spec.h_col])
    out = pa.Table.from_batches(list(kernel(iter([batch])))).to_pylist()
    assert [(r["row_key"], r["constraint"]) for r in out] == [
        ("img-٣", "payload:pixels")]


def test_validate_reports_superscript_id_by_pattern(spark):
    """Two rows through validate(): the 'img-²' row gets its pattern
    facet violation and the payload task runs to completion."""
    from xmlschema_spark import validate
    rows = [(*_row("img-000000000001", 1), "a caption", 11, 0),
            (*_row("img-²", 2), "a caption", 12, 0)]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string, w int, h int, "
              "caption string, phash bigint, part_key bigint")
    got = [(r.row_key, r.constraint)
           for r in validate(df, images_spec()).violations.collect()]
    assert ("img-²", "facet:pattern:image_id") in got
    assert [g for g in got if g[0] == "img-000000000001"] == []
    assert not [g for g in got if g[1].startswith("payload:")]
