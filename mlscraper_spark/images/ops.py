"""Image-payload operators: crawl pages → the input_hint images table.

The hot path of the graft (BASELINE.json north_star): fetched pages flow
through Arrow UDFs that apply extraction and emit
``(image_id, bytes, w, h, fmt, caption, phash)`` rows.  Embarrassingly
parallel — one ``mapInPandas`` stage, no shuffle; the w/h columns come from
the img attributes (dedicated columns, never value-matched — the dimensions
filter P4 exists precisely for this, matches.py:227-234).
"""
from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("phash", T.LongType(), True),
    ]
)


def default_fmt_policy(image_id: str, w: int, h: int) -> str:
    """Deterministic format choice: hash parity of the image id."""
    from mlscraper_spark.crawl.urlnorm import xxhash64

    return "ppm" if xxhash64(image_id.encode()) % 2 == 0 else "dctq"


def extract_images_table(pages_df: DataFrame, page_id_col: str = "url_canon",
                         html_col: str = "html", fmt_policy=None) -> DataFrame:
    """Pages (id, html) → images rows per input_hint.

    For each <img>: image_id = src path; pixels are materialized via the
    deterministic synthetic store (make_image — the stand-in for the binary
    fetch), encoded ppm (lossless) or dctq (lossy), phash computed from the
    *decoded* pixels.  ``fmt_policy(image_id, w, h) -> fmt`` picks the
    codec; the default is hash-parity of the id.  Oracle-checked queries
    pass a SQL-expressible policy so the encoded byte counts are verifiable
    end-to-end against DuckDB (the codec itself is policy-independent).
    """
    policy = fmt_policy or default_fmt_policy

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mlscraper_spark.crawl.synthweb import extract_images

        for pdf in batches:
            rows = []
            for html in pdf[html_col]:
                rows += image_rows(extract_images(bytes(html)), policy)
            yield pd.DataFrame(
                rows, columns=[f.name for f in IMAGES_SCHEMA.fields]
            )

    return pages_df.select(page_id_col, html_col).mapInPandas(_run, IMAGES_SCHEMA)


def image_rows(images: list[dict], fmt_policy=default_fmt_policy) -> list[tuple]:
    """IMAGES_SCHEMA rows for one page's ``<img>`` dicts
    (``synthweb.images_in`` / ``extract_images``): pixels from the
    synthetic store, the format ``fmt_policy(image_id, w, h)`` picks,
    phash of the decoded pixels.  Shared by ``extract_images_table``,
    ``fetch_and_extract_images`` and the crawl's fetch stage."""
    from mlscraper_spark.images.codec import decode, encode, make_image, phash

    rows = []
    for im in images:
        image_id = im["src"]
        w, h = im["w"], im["h"]
        fmt = fmt_policy(image_id, w, h)
        blob = encode(make_image(image_id, w, h), fmt)
        rows.append((image_id, blob, w, h, fmt, im["caption"],
                     phash(decode(blob, fmt))))
    return rows


def fetch_and_extract_images(urls_df: DataFrame, web, url_col: str = "url_canon") -> DataFrame:
    """Fused fetch → parse → images stage: one Arrow UDF, so raw HTML never
    crosses the JVM↔Python boundary and each task runs exactly one Python
    worker (two chained mapInPandas stages would run two workers per task —
    measured ~20% scaling loss from core oversubscription)."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mlscraper_spark.crawl.synthweb import extract_images, fetch

        for pdf in batches:
            rows = []
            for url in pdf[url_col]:
                status, html = fetch(url, web)
                if status == 200:
                    rows += image_rows(extract_images(html))
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGES_SCHEMA.fields])

    return urls_df.select(url_col).mapInPandas(_run, IMAGES_SCHEMA)


def resize_images(images_df: DataFrame, factor: int = 2) -> DataFrame:
    """Box-downsample every image by an integer ``factor`` and re-encode
    lossless ppm: the thumbnail stage of a training-data pipeline, emitting
    the same input_hint row shape with the new dims and the thumbnail's
    phash.  Arrow-batched decode → integer box-mean (sum // factor², exact
    and float-free, so bit-deterministic under retries) → encode; pure
    mapInPandas, no shuffle.  Caption is carried through unchanged.
    """
    if factor < 1:
        raise ValueError("factor must be >= 1")

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from mlscraper_spark.images.codec import decode, encode_ppm, phash

        for pdf in batches:
            rows = []
            for image_id, blob, fmt, caption in zip(
                pdf["image_id"], pdf["bytes"], pdf["fmt"], pdf["caption"]
            ):
                try:
                    img = decode(bytes(blob), fmt)
                except NotImplementedError:
                    rows.append((image_id, None, 0, 0, "ppm", caption, None))
                    continue
                h, w = img.shape[0], img.shape[1]
                th, tw = max(1, h // factor), max(1, w // factor)
                trimmed = img[: th * factor, : tw * factor].astype(np.int64)
                thumb = (
                    trimmed.reshape(th, factor, tw, factor, 3).sum(axis=(1, 3))
                    // (factor * factor)
                ).astype(np.uint8)
                tblob = encode_ppm(thumb)
                rows.append(
                    (image_id, tblob, tw, th, "ppm", caption, phash(thumb))
                )
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGES_SCHEMA.fields])

    return images_df.select(
        "image_id", "bytes", "fmt", "caption"
    ).mapInPandas(_run, IMAGES_SCHEMA)


def image_features(images_df: DataFrame) -> DataFrame:
    """Decode + feature-extract (multimodal column pattern): binary blobs →
    typed features, Arrow-batched.  The shape real pipelines use for
    embedding/classification stages."""
    schema = T.StructType(
        [
            T.StructField("image_id", T.StringType(), False),
            T.StructField("mean_lum", T.DoubleType(), True),
            T.StructField("phash_check", T.LongType(), True),
            T.StructField("decode_ok", T.BooleanType(), False),
        ]
    )

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from mlscraper_spark.images.codec import decode, phash

        for pdf in batches:
            rows = []
            for image_id, blob, fmt in zip(pdf["image_id"], pdf["bytes"], pdf["fmt"]):
                try:
                    img = decode(bytes(blob), fmt)
                    lum = float(
                        np.mean(img.astype(np.float64) @ np.array([0.299, 0.587, 0.114]))
                    )
                    rows.append((image_id, round(lum, 4), phash(img), True))
                except NotImplementedError:
                    rows.append((image_id, None, None, False))
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return images_df.select("image_id", "bytes", "fmt").mapInPandas(_run, schema)
