"""Deterministic synthetic image+caption fixtures (FIXTURES.md F1-F5).

Generation is DISTRIBUTED and seed-free-pure: every cell is a pure
function of the row index i, built with spark.range (no driver-side
loops, no collected data) + an Arrow-batched mapInPandas for the binary
payload. This mirrors the reference's manifest corpus convention where
each case carries exact expected error counts
(/root/reference/tests/test_cases/testfiles, e.g. "--errors 1").

Violations are injected at i % 1009 == k selectors so expected counts
are exact at any scale.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fakecodec
from ..specs import (AssertSpec, ColumnSpec, KeyrefSpec, PayloadSpec,
                     TableSpec, UniqueSpec)

MOD = 1009
FMTS = ["jpeg", "png", "webp"]
_WORDS = ["amber", "basalt", "cobalt", "dune", "ember", "fjord", "glacier",
          "harbor", "indigo", "juniper", "krill", "lagoon", "meadow",
          "nectar", "onyx", "prairie", "quartz", "reef", "sierra", "tundra"]


def caption_for(i: int) -> str:
    n = 3 + (i % 13)
    toks = [_WORDS[(i * 7 + k * 31) % len(_WORDS)] for k in range(n)]
    return f"caption {i}: " + " ".join(toks)


def make_images(spark: SparkSession, n_rows: int,
                rows_per_partition: int = 10_000,
                dirty: bool = False,
                with_bytes: bool = True,
                skew_phash: bool = False) -> DataFrame:
    """F1 (clean) / F2 (dirty) / F4 (skewed) images table.

    Small test dims are used for pixel payloads (capped at 64x64 inside
    the encoder path) so fixtures stay fast; metadata w/h keep the full
    16..512 range and the payload encodes THOSE dims for consistency —
    except we cap actual pixel buffers: the codec encodes (w,h) headers
    with a downsampled buffer? No — headers must match buffers, so we cap
    BOTH to keep the invariant real: test fixtures use w,h <= 80.
    """
    from ..distribute import ensure_distributed, worker_kernel
    ensure_distributed(spark)   # mapInPandas closures need the pkg on executors
    base = spark.range(0, n_rows, 1).withColumnRenamed("id", "i")
    m = F.col("i") % MOD

    w = (F.lit(16) + (F.col("i") * 7) % 65).cast("int")
    h = (F.lit(16) + (F.col("i") * 13) % 65).cast("int")
    fmt = F.element_at(F.array(*[F.lit(x) for x in FMTS]),
                       (F.col("i") % 3 + 1).cast("int"))
    image_id = F.format_string("img-%012d", F.col("i"))
    part_key = (F.col("i") / rows_per_partition).cast("bigint")

    df = base.select(
        F.col("i"),
        image_id.alias("image_id"),
        w.alias("w"), h.alias("h"), fmt.alias("fmt"),
        part_key.alias("part_key"),
    )

    if dirty:
        df = (df
              .withColumn("w", F.when(m == 1, F.lit(-3)).otherwise(F.col("w")))
              .withColumn("h", F.when(m == 2, F.lit(0)).otherwise(F.col("h")))
              .withColumn("fmt", F.when(m == 3, F.lit("tiff")).otherwise(F.col("fmt")))
              .withColumn("image_id",
                          F.when(m == 6, F.format_string("IMG_%012d", F.col("i")))
                          # copy row i-2's id (i-1 is the k==6 row whose id
                          # is already pattern-broken — no collision there)
                          .when(m == 7, F.format_string("img-%012d", F.col("i") - 2))
                          .otherwise(F.col("image_id"))))

    # caption + phash + bytes via one Arrow batch pass (pure f(i))
    dirty_flag, skew_flag, with_b = dirty, skew_phash, with_bytes

    @worker_kernel
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            caps, phs, bufs = [], [], []
            for i, wv, hv, fv in zip(pdf["i"], pdf["w"], pdf["h"], pdf["fmt"]):
                i = int(i)
                k = i % MOD
                cap = caption_for(i)
                if dirty_flag:
                    if k == 4:
                        cap = ""
                    elif k == 5:
                        cap = "x" * 600
                    elif k == 11:
                        cap = cap + " [MISMATCH]"
                caps.append(cap)
                ew, eh = int(wv), int(hv)
                gw, gh = (max(ew, 1), max(eh, 1))
                px = fakecodec.gen_pixels(i, gw, gh)
                ph = fakecodec.stable_hash64(px)
                if skew_flag and i % 10 < 3:
                    ph = -4242424242424242424  # 30% constant hot key (F4)
                elif dirty_flag and k == 8:
                    ph = 4242424242424242420   # duplicated phash (distinct ids)
                phs.append(ph)
                if with_b:
                    enc_fmt = fv if fv in fakecodec.MAGIC else "png"
                    if dirty_flag and k == 9:
                        # re-encoded at wrong dims (payload:dims violation)
                        px2 = fakecodec.gen_pixels(i, gw + 1, gh)
                        bufs.append(fakecodec.encode(px2, enc_fmt))
                    elif dirty_flag and k == 10:
                        bufs.append(None)
                    elif dirty_flag and k == 12:
                        # pixel-parity defect: heavy quantization drops
                        # lossy PSNR below 40dB; for lossless (png) the
                        # exact-compare fails on a perturbed buffer
                        if enc_fmt == "png":
                            bufs.append(fakecodec.encode(
                                ((px.astype("int16") + 8) % 256).astype("uint8"),
                                enc_fmt))
                        else:
                            bufs.append(fakecodec.encode(px, enc_fmt, q=64))
                    else:
                        bufs.append(fakecodec.encode(px, enc_fmt))
                else:
                    bufs.append(None)
            out = pdf[["i", "image_id", "w", "h", "fmt", "part_key"]].copy()
            out["caption"] = caps
            out["phash"] = pd.array(phs, dtype="int64")
            out["bytes"] = pd.Series(bufs, dtype=object)
            yield out

    schema = ("i bigint, image_id string, w int, h int, fmt string, "
              "part_key bigint, caption string, phash bigint, bytes binary")
    df = df.mapInPandas(gen, schema=schema)
    return df.select("image_id", "bytes", "w", "h", "fmt", "caption",
                     "phash", "part_key", "i")


def make_captions_ref(spark: SparkSession, n_rows: int) -> DataFrame:
    """F3: all F1 ids except i % 1009 == 13 (keyref misses), with lang and
    the normalized reference caption (caption-equality sidecar)."""
    from ..distribute import ensure_distributed, worker_kernel
    ensure_distributed(spark)
    langs = F.array(F.lit("en"), F.lit("it"), F.lit("de"))
    base = (spark.range(0, n_rows, 1).withColumnRenamed("id", "i")
            .where(F.col("i") % MOD != 13))

    import pandas as pd  # noqa: F811

    @worker_kernel
    def gen(batches):
        for pdf in batches:
            out = pd.DataFrame({
                "i": pdf["i"],
                "caption_norm": [caption_for(int(i)) for i in pdf["i"]],
            })
            yield out

    caps = base.mapInPandas(gen, "i bigint, caption_norm string")
    return (base.join(caps, on="i")
            .select(
                F.format_string("img-%012d", F.col("i")).alias("image_id"),
                F.element_at(langs, (F.col("i") % 3 + 1).cast("int")).alias("lang"),
                F.col("caption_norm"),
            ))


def images_spec(with_payload: bool = True, with_keyref: bool = False,
                check_pixels: bool = True,
                check_phash: bool = False) -> TableSpec:
    """The flagship TableSpec for the (image_id, bytes, w, h, fmt,
    caption, phash) table — the full constraint suite of BASELINE.json."""
    return TableSpec(
        name="images",
        key_column="image_id",
        part_key="part_key",
        columns=[
            ColumnSpec("image_id", "string", nullable=False,
                       pattern=[r"img-[0-9]{12}"]),
            ColumnSpec("w", "int", nullable=False, min_exclusive=0,
                       max_inclusive=65535),
            ColumnSpec("h", "int", nullable=False, min_exclusive=0,
                       max_inclusive=65535),
            ColumnSpec("fmt", "string", nullable=False,
                       enum=["jpeg", "png", "webp"]),
            ColumnSpec("caption", "string", nullable=False,
                       min_length=1, max_length=512),
            ColumnSpec("phash", "bigint", nullable=False),
        ],
        uniques=[
            UniqueSpec("image_id", ["image_id"], is_key=True),
            UniqueSpec("phash", ["phash"]),
        ],
        keyrefs=[KeyrefSpec("captions_ref", ["image_id"],
                            "captions_ref", ["image_id"])] if with_keyref else [],
        asserts=[AssertSpec("max_pixels",
                            "w IS NULL OR h IS NULL OR CAST(w AS BIGINT) * h <= 16777216")],
        payload=PayloadSpec(check_pixels=check_pixels,
                            check_phash=check_phash)
        if with_payload else None,
    )
