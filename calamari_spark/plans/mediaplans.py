"""Driver-contract queries for the multimodal operators."""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from calamari_spark.functions.multimodal import (
    audio_features,
    image_stats,
    resize_images,
    sample_video_frames,
)
from calamari_spark.plans.golden import golden_oracle as _golden

N_CLIPS = 16


def x_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real PNG decode over the media store: stored-dimension check PLUS
    the aspect-preserving resize geometry in one fused decode (x_image_resize
    merged here — decode once, emit original dims and scale_to_h(32) dims;
    the standalone resize query, which also attests the PNG re-encode, stays
    in SHADOW_QUERIES; encode_png round-trips are also attested by
    x_pagexml_cutout). Oracle: stored dims + the round-half-even geometry.
    line_stage fans the media store out: it is a single parquet file at
    bench SFs, so the decode kernel would otherwise run on ONE core (the
    scan's one partition); PNG payloads are sub-KB line crops, so the
    spread is cheap."""
    from calamari_spark.plans.extraction import line_stage, load_interleaved

    _, media = load_interleaved(spark, sf_dir)

    def setup():
        from calamari_spark.operators.imaging import scale_to_h_dims
        from calamari_spark.sources.pngio import decode_png

        def kernel(row):
            h, w = decode_png(bytes(row.png)).shape[:2]
            # geometry only: the resize output of this query is the
            # (height, width) pair, so resampling the pixels just to
            # read .shape was ~4 ms/line of discarded work (guide §1.2:
            # don't compute things you throw away); scale_to_h_dims IS
            # scale_to_h's own geometry, factored out so the two cannot
            # drift. The real resample stays attested by x_image_resize
            # (shadow) and x_pagexml_cutout.
            rh, rw = scale_to_h_dims(int(h), int(w), 32)
            return int(w), int(h), rw, rh

        return kernel

    schema = "media_ref string, width int, height int, resized_width int, resized_height int"
    return line_stage(media.select("media_ref", "png"), setup, schema).orderBy("media_ref")


def x_image_stats_oracle(sf_dir: str) -> str:
    """Stored dims + resize geometry: w' = Python round((32/h)*w) with
    round-HALF-EVEN (DuckDB's round() is half-away, so the three-way CASE
    replicates bankers' rounding exactly; frac = y - floor(y) is exact in
    float64 for y < 2^52)."""
    from calamari_spark.plans.extraction import _fixture_glob

    return f"""
SELECT media_ref, width, height,
       CASE WHEN height = 32 THEN width
            ELSE greatest(CAST(
              CASE WHEN frac > 0.5 THEN fl + 1
                   WHEN frac < 0.5 THEN fl
                   ELSE fl + (CAST(fl AS BIGINT) % 2) END AS INTEGER), 1)
       END AS resized_width,
       CAST(32 AS INTEGER) AS resized_height
FROM (
  SELECT media_ref, width, height, floor(y) AS fl, y - floor(y) AS frac
  FROM (SELECT media_ref, width, height, (32.0 / height) * width AS y
        FROM read_parquet('{_fixture_glob(sf_dir, 'line_images')}'))
) ORDER BY media_ref
"""


def x_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode -> aspect-preserving resize to 32 px -> re-encode. The oracle
    derives the output dims from the stored ones (w' = round(32*w/h),
    h' = 32) — the resampled BYTES have no SQL oracle, but the geometry
    contract does."""
    from calamari_spark.plans.extraction import load_interleaved

    _, media = load_interleaved(spark, sf_dir)
    return (
        resize_images(media, 32)
        .select("media_ref", "width", "height")
        .orderBy("media_ref")
    )


def x_image_resize_oracle(sf_dir: str) -> str:
    """w' = Python round((32/h)*w) — round-HALF-EVEN, which DuckDB's
    half-away round() gets wrong at exact .5. Replicated exactly: y is
    computed with the same op order as scale_to_h ((32.0/h)*w), frac =
    y - floor(y) is exact in float64 for y < 2^52, and the three-way CASE
    is bankers' rounding."""
    from calamari_spark.plans.extraction import _fixture_glob

    return f"""
SELECT media_ref,
       CASE WHEN height = 32 THEN width
            ELSE greatest(CAST(
              CASE WHEN frac > 0.5 THEN fl + 1
                   WHEN frac < 0.5 THEN fl
                   ELSE fl + (CAST(fl AS BIGINT) % 2) END AS INTEGER), 1)
       END AS width,
       CAST(32 AS INTEGER) AS height
FROM (
  SELECT media_ref, width, height, floor(y) AS fl, y - floor(y) AS frac
  FROM (SELECT media_ref, width, height, (32.0 / height) * width AS y
        FROM read_parquet('{_fixture_glob(sf_dir, 'line_images')}'))
) ORDER BY media_ref
"""


N_AUGMENTATIONS = 2


def x_augment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic augmentation fan-out (AugmentationProcessor analog):
    every media line yields N_AUGMENTATIONS degraded variants. The oracle
    checks the contract the geometry preserves: one row per (line, variant)
    with the ORIGINAL dims (jitter/speckle/blur/contrast never resize)."""
    from calamari_spark.operators.augment import augment_media
    from calamari_spark.plans.extraction import load_interleaved

    _, media = load_interleaved(spark, sf_dir)
    return (
        augment_media(media, N_AUGMENTATIONS)
        .select("media_ref", "aug_id", "width", "height")
        .orderBy("media_ref", "aug_id")
    )


def x_augment_stats_oracle(sf_dir: str) -> str:
    from calamari_spark.plans.extraction import _fixture_glob

    variants = ", ".join(f"({k})" for k in range(N_AUGMENTATIONS))
    return f"""
SELECT media_ref, aug_id, width, height
FROM read_parquet('{_fixture_glob(sf_dir, 'line_images')}')
CROSS JOIN (VALUES {variants}) a(aug_id)
ORDER BY media_ref, aug_id
"""


def x_ctc_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTC negative log-likelihood of the ground truth under the template
    ensemble's softmax — the reference's training loss repurposed as an
    eval metric (tf.nn.ctc_loss analog; forward algorithm in numpy).
    Model-internal values, but per-line deterministic (no cross-row float
    sums): oracled against the committed golden fixture (plans/golden.py)."""
    from calamari_spark.plans.extraction import (
        _get_recognizers,
        line_stage,
        load_interleaved,
    )

    _, media = load_interleaved(spark, sf_dir)

    def setup():
        from calamari_spark.operators.ctc_loss import ctc_loss
        from calamari_spark.sources.pngio import decode_png

        codec, (rec,) = _get_recognizers(1)

        def kernel(row):
            sm = rec.forward_single(decode_png(bytes(row.png)))
            labels = [codec.char2code[c] for c in row.gt.replace(" ", "")]
            loss = ctc_loss(sm, labels)
            return len(labels), round(loss, 6), round(loss / max(len(labels), 1), 6)

        return kernel

    schema = "media_ref string, n_chars int, loss double, loss_per_char double"
    return line_stage(media.select("media_ref", "png", "gt"), setup, schema).orderBy("media_ref")


N_CUTOUT_LINES = 64
CUTOUT_MARGIN = 6


def x_pagexml_cutout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip attestation of the PAGE-XML cutout scan: fixture line
    images are composed into synthetic pages (stacked with margins, Coords
    = each line's exact box), `cutout_lines` cuts them back out, and every
    crop must be pixel-identical to its source line. Page composition is an
    applyInPandas group stage; the oracle is trivially GT-derivable (every
    line equal)."""
    from calamari_spark.plans.extraction import load_interleaved

    _, media = load_interleaved(spark, sf_dir)
    lines = (
        media.select("media_ref", "png", "width", "height")
        .orderBy("media_ref")
        .limit(N_CUTOUT_LINES)
        .withColumn("page_id", F.abs(F.xxhash64("media_ref")) % 16)
    )

    page_schema = "doc_id string, xml string, png binary"

    def compose(key, pdf):
        import numpy as np
        import pandas as pd

        from calamari_spark.sources.pngio import decode_png, encode_png

        pdf = pdf.sort_values("media_ref")
        imgs = [decode_png(bytes(p)) for p in pdf["png"]]
        m = CUTOUT_MARGIN
        pw = max(i.shape[1] for i in imgs) + 2 * m
        ph = sum(i.shape[0] for i in imgs) + m * (len(imgs) + 1)
        page = np.full((ph, pw), 255, dtype=np.uint8)
        y = m
        tl = []
        for ref, img in zip(pdf["media_ref"], imgs):
            h, w = img.shape[:2]
            page[y : y + h, m : m + w] = img
            coords = f"{m},{y} {m + w - 1},{y} {m + w - 1},{y + h - 1} {m},{y + h - 1}"
            tl.append(
                f'<TextLine id="{ref}"><Coords points="{coords}"/>'
                f"<TextEquiv index=\"0\"><Unicode>x</Unicode></TextEquiv></TextLine>"
            )
            y += h + m
        from calamari_spark.sources.pagexml import NS

        xml = (
            f'<?xml version="1.0"?><PcGts xmlns="{NS}"><Page>'
            f'<TextRegion id="r0" orientation="0">{"".join(tl)}</TextRegion>'
            f"</Page></PcGts>"
        )
        return pd.DataFrame(
            [{"doc_id": f"page_{int(key[0])}", "xml": xml, "png": encode_png(page)}]
        )

    pages = lines.groupBy("page_id").applyInPandas(compose, schema=page_schema)

    from calamari_spark.sources.pagexml import cutout_lines

    crops = cutout_lines(pages, cut_mode="polygon").select(
        F.col("line_id").alias("media_ref"), "line_png"
    )
    joined = crops.join(media.select("media_ref", "png"), "media_ref")

    eq_schema = "media_ref string, pixels_equal boolean"

    def check(batches):
        import pandas as pd

        from calamari_spark.sources.pngio import decode_png

        for b in batches:
            rows = []
            for ref, crop, orig in zip(b["media_ref"], b["line_png"], b["png"]):
                import numpy as np

                a = decode_png(bytes(crop))
                o = decode_png(bytes(orig))
                rows.append(
                    {
                        "media_ref": ref,
                        "pixels_equal": a.shape == o.shape and bool(np.array_equal(a, o)),
                    }
                )
            yield pd.DataFrame(rows, columns=["media_ref", "pixels_equal"])

    return joined.mapInPandas(check, schema=eq_schema).orderBy("media_ref")


def x_pagexml_cutout_oracle(sf_dir: str) -> str:
    from calamari_spark.plans.extraction import _fixture_glob

    media = _fixture_glob(sf_dir, "line_images")
    return f"""
SELECT media_ref, true AS pixels_equal
FROM (SELECT media_ref FROM read_parquet('{media}') ORDER BY media_ref LIMIT {N_CUTOUT_LINES})
ORDER BY media_ref
"""


def _clips_df(spark: SparkSession, kind: str) -> DataFrame:
    """Tiny deterministic binary-clip table (the audio/video decode itself
    is the documented stub; payloads just need to be stable bytes)."""
    rows = [
        (f"{kind}_{i:04d}", hashlib.sha256(f"{kind}|{i}".encode()).digest() * 8)
        for i in range(N_CLIPS)
    ]
    return spark.createDataFrame(rows, "media_ref string, payload binary")


def x_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return audio_features(_clips_df(spark, "audio")).orderBy("media_ref")


def x_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        sample_video_frames(_clips_df(spark, "video"), n_frames=4)
        .select("media_ref", "frame_idx", "frame_mean")
        .orderBy("media_ref", "frame_idx")
    )


def x_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio features + video frame sampling as ONE long-format driver row
    set (media_ref, feature, value): both stub-decode plumbing paths —
    per-clip scalar features and the per-frame UDTF-shaped explode — attested
    together (the wide-schema originals stay in SHADOW_QUERIES). Values are
    per-row deterministic (seeded stub decode), so the committed golden
    fixture is the oracle."""
    audio = audio_features(_clips_df(spark, "audio"))
    a_long = audio.selectExpr(
        "media_ref",
        "stack(4, 'n_samples', CAST(n_samples AS DOUBLE), 'rms', rms,"
        " 'zero_crossings', CAST(zero_crossings AS DOUBLE), 'peak', peak)"
        " AS (feature, value)",
    )
    video = sample_video_frames(_clips_df(spark, "video"), n_frames=4)
    v_long = video.select(
        "media_ref",
        F.concat(F.lit("frame_mean_"), F.col("frame_idx").cast("string")).alias("feature"),
        F.col("frame_mean").alias("value"),
    )
    return a_long.unionByName(v_long).orderBy("media_ref", "feature")


def _sfq(fn, oracle_fn=None):
    if oracle_fn is None:
        return (fn, None)
    return (fn, oracle_fn("/root/testdata/sf0.01"))


MEDIA_QUERIES = {
    "x_image_stats": _sfq(x_image_stats, x_image_stats_oracle),
    "x_augment_stats": _sfq(x_augment_stats, x_augment_stats_oracle),
    "x_pagexml_cutout": _sfq(x_pagexml_cutout, x_pagexml_cutout_oracle),
    "x_ctc_loss": (x_ctc_loss, _golden("x_ctc_loss")),
    "x_multimodal_features": (x_multimodal_features, _golden("x_multimodal_features")),
}

# merged into x_image_stats / x_multimodal_features; still pytest-verified.
# The audio/video wide-schema variants are seeded-stub deterministic (same
# argument as x_multimodal_features), so committed golden parquet is a
# legitimate oracle rather than a rows-only check.
MEDIA_SHADOW_QUERIES = {
    "x_image_resize": _sfq(x_image_resize, x_image_resize_oracle),
    "x_audio_features": (x_audio_features, _golden("x_audio_features")),
    "x_video_frames": (x_video_frames, _golden("x_video_frames")),
}
