"""Multimodal (image/audio/video) column plumbing (SURVEY §7.3-7
north-star scope; no reference counterpart).

Media are opaque ``binary`` payload columns plus a typed metadata struct —
the storage model that scales: parquet stores blobs columnar-contiguous,
metadata predicates prune without touching payload bytes, and column
pruning means payloads are only read by stages that decode them.

Decode paths run as Arrow-batched ``mapInPandas`` (payload bytes cross to
Python once per batch, not per row). The actual pixel/sample decode is
STUBBED: image/audio libraries are not available in this container, so
the default decoder is a clearly-marked deterministic fake derived from
md5 arithmetic over the payload bytes. The fake is intentionally
SQL-reproducible, so the whole Python plumbing path (schema, Arrow batch
shape, partition distribution) is verified against a DuckDB oracle. Swap
in a real decoder via the ``decoder=`` injection point (e.g. PIL) without
touching any Spark plumbing.

Everything that does NOT need pixel access (byte stats, format sniffing,
frame indexing, PCM duration math) is pure Column arithmetic — no Python
in those paths at all.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("format", T.StringType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", MEDIA_META_SCHEMA),
    ]
)

# Magic-number prefixes (hex) → container format.
_MAGIC = [
    ("FFD8FF", "jpeg"),
    ("89504E47", "png"),
    ("47494638", "gif"),
    ("52494646", "riff"),  # wav/avi container
    ("664C6143", "flac"),
]


def sniff_format(payload: Column) -> Column:
    """Container sniff from the first 4 payload bytes — pure Column, never
    reads past the prefix."""
    hex8 = F.upper(F.hex(F.substring(payload, 1, 4)))
    expr = F.lit("unknown")
    for magic, fmt in reversed(_MAGIC):
        expr = F.when(hex8.startswith(magic), F.lit(fmt)).otherwise(expr)
    return expr


def payload_stats(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Byte-level stats (size, md5, sniffed format): pure Column ops, no
    decode, scans at parquet-read speed."""
    p = F.col(payload_col)
    return df.withColumns(
        {
            "n_bytes": F.length(p).cast("bigint"),
            "payload_md5": F.md5(p),
            "sniffed_format": sniff_format(p),
        }
    )


def fake_image_decode(payload: bytes) -> tuple[int, int, float]:
    """DETERMINISTIC FAKE decode (no image libs in this container): width,
    height and mean luma derived from md5 arithmetic over the payload.
    SQL-reproducible by design so the mapInPandas plumbing is
    oracle-checkable. Replace with a real decoder via ``decoder=``."""
    h = hashlib.md5(payload).hexdigest()
    width = int(h[0:8], 16) % 1920 + 1
    height = int(h[8:16], 16) % 1080 + 1
    mean_luma = (int(h[16:24], 16) % 256_000) / 1000.0
    return width, height, mean_luma


def _pil_decode(payload: bytes) -> tuple[int, int, float]:
    """Real decoder, used only when PIL is importable (not in this
    container)."""
    from io import BytesIO

    from PIL import Image  # noqa: F401 — gated import

    img = Image.open(BytesIO(payload)).convert("L")
    w, h = img.size
    hist = img.histogram()
    total = sum(i * c for i, c in enumerate(hist))
    return w, h, total / max(1, w * h)


def default_image_decoder() -> Callable[[bytes], tuple[int, int, float]]:
    try:
        import PIL  # noqa: F401

        return _pil_decode
    except ImportError:
        return fake_image_decode


def decode_image_features(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    decoder: Callable[[bytes], tuple[int, int, float]] | None = None,
) -> DataFrame:
    """Image feature extraction over Arrow-batched ``mapInPandas``: one
    Python crossing per batch of payloads, output schema declared up
    front. The plan stays a narrow projection — no shuffle — so decode
    throughput scales linearly with executors."""
    dec = decoder or default_image_decoder()
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("mean_luma", T.DoubleType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [dec(bytes(p)) for p in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "width": [f[0] for f in feats],
                    "height": [f[1] for f in feats],
                    "mean_luma": [f[2] for f in feats],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(run, out_schema)


def resize_images(
    df: DataFrame,
    target_w: int,
    target_h: int,
    id_col: str = "media_id",
    payload_col: str = "payload",
    resizer: Callable[[bytes, int, int], bytes] | None = None,
) -> DataFrame:
    """Resize plumbing: payload → payload transform in ``mapInPandas``.
    Default stub passes bytes through unchanged and records the intended
    geometry (real resize needs an image lib — inject via ``resizer=``);
    the batch shape, schema, and narrow-plan properties are the real
    thing."""

    def stub(p: bytes, w: int, h: int) -> bytes:
        return p  # STUB: no image lib in this container

    rs = resizer or stub
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField(payload_col, T.BinaryType()),
            T.StructField("target_width", T.IntegerType()),
            T.StructField("target_height", T.IntegerType()),
            T.StructField("resized", T.BooleanType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    payload_col: [
                        rs(bytes(p), target_w, target_h) for p in pdf[payload_col]
                    ],
                    "target_width": target_w,
                    "target_height": target_h,
                    "resized": rs is not stub,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(run, out_schema)


def sample_frames(
    df: DataFrame,
    every_n: int = 10,
    id_col: str = "media_id",
    n_frames_col: str = "meta.n_frames",
) -> DataFrame:
    """Video frame sampling plan: one row per sampled frame index
    (0, every_n, 2·every_n, …) — pure ``explode(sequence(...))``, no
    Python, no decode. The per-frame decode composes downstream as
    :func:`decode_image_features` over the frame payloads."""
    n = F.col(n_frames_col).cast("long")
    idx = F.explode(
        F.sequence(F.lit(0).cast("long"), n - 1, F.lit(int(every_n)).cast("long"))
    )
    return df.filter(n > 0).select(F.col(id_col), idx.alias("frame_idx"))


def audio_duration(
    df: DataFrame,
    payload_col: str = "payload",
    sample_rate_col: str = "meta.sample_rate",
    bytes_per_sample: int = 2,
) -> DataFrame:
    """PCM duration estimate from byte length alone (16-bit mono default):
    pure Column arithmetic, no decode."""
    n_samples = (F.length(F.col(payload_col)) / bytes_per_sample).cast("long")
    return df.withColumns(
        {
            "n_samples": n_samples,
            "duration_sec": n_samples / F.col(sample_rate_col).cast("double"),
        }
    )


# --- content-defined chunking (CDC) dedup ------------------------------------

CDC_WINDOW = 8
CDC_MASK_BITS = 6  # boundary odds 1/64 per position -> ~64-byte chunks


def _gear(bytehex: Column) -> Column:
    """Deterministic 52-bit gear value per byte, derived from md5 the
    engine-portable way (no RNG library, no literal table to ship —
    both engines compute the identical table inline)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit("gear-"), bytehex)), 1, 13), 16, 10
    ).cast("long")


def cdc_chunks(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    window: int = CDC_WINDOW,
    mask_bits: int = CDC_MASK_BITS,
) -> DataFrame:
    """Content-defined chunking of binary payloads — the gear-hash CDC
    family (Xia et al., "FastCDC", USENIX ATC '16; public): a rolling
    hash over the trailing ``window`` bytes declares a chunk boundary
    wherever its low ``mask_bits`` bits are zero, so chunk boundaries
    follow CONTENT, not offsets — insert one byte at the front of a
    payload and every fixed-size chunk shifts, but CDC boundaries
    re-synchronize within one window. That shift-resilience is why
    dedup storage (and multimodal training-data pipelines dropping
    re-encoded copies) chunk this way.

    Hash form: ``h_i = Σ_{j=0..w−1} gear(b_{i−j})·2^j`` — the windowed
    gear sum, expressed as ``w`` ``lag()`` terms over the byte stream
    (pure window arithmetic; the classic unbounded gear recurrence is
    sequential, the windowed form is not). Byte values travel as hex
    pairs (``F.hex`` is uppercase in both engines), and ``chunk_md5``
    is the md5 OF THE HEX SLICE — identity over the hex encoding
    sidesteps blob-md5 portability entirely.

    Returns ``(id_col, chunk_idx, start_byte, n_bytes, chunk_md5)``
    with 1-based ``start_byte``; a payload shorter than ``window``
    yields one whole-payload chunk.

    Scale shape: ONE payload-granular exchange (the byte-stream window
    shuffle) drives the lags, the boundary flags, the exclusive
    boundary count (= chunk id), and the per-chunk aggregate; chunk
    hashing joins the chunk table back to the payload row on the id
    equi-key and md5s a substring — payload bytes are never shuffled
    as rows, only the hex column rides the (narrow) join."""
    if window < 1:
        raise ValueError(f"cdc_chunks: window must be >= 1 (got {window})")
    if mask_bits < 1:
        raise ValueError(
            f"cdc_chunks: mask_bits must be >= 1 (got {mask_bits})"
        )
    hexed = df.select(
        F.col(id_col), F.hex(F.col(payload_col)).alias("__hx")
    )
    # A zero-length payload hexes to '' and F.split('', ' ') yields
    # [''] — one phantom token — so drop empty payloads BEFORE the
    # explode: they contribute zero chunks (ADVICE r9). `hexed` itself
    # stays unfiltered; the md5 join below only ever matches rows that
    # produced chunks.
    toks = hexed.filter(F.length("__hx") > 0).select(
        id_col,
        "__hx",
        F.posexplode(
            F.split(
                F.trim(F.regexp_replace(F.col("__hx"), "(..)", "$1 ")), " "
            )
        ).alias("__p", "__b"),
    ).select(
        id_col, (F.col("__p") + 1).alias("pos"), _gear(F.col("__b")).alias("g")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    h = None
    for j in range(window):
        term = (F.lag("g", j).over(w) if j else F.col("g")) * F.lit(1 << j)
        h = term if h is None else h + term
    mask = 1 << mask_bits
    flagged = toks.select(
        id_col,
        "pos",
        (
            (F.col("pos") >= F.lit(window)) & ((h % F.lit(mask)) == 0)
        ).alias("__bd"),
    )
    chunked = flagged.withColumn(
        "__cid",
        F.coalesce(
            F.sum(F.col("__bd").cast("int")).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    chunks = chunked.groupBy(id_col, "__cid").agg(
        F.min("pos").cast("bigint").alias("start_byte"),
        F.count("*").cast("bigint").alias("n_bytes"),
    )
    return (
        chunks.join(hexed, id_col)
        .select(
            F.col(id_col),
            (F.col("__cid") + 1).cast("int").alias("chunk_idx"),
            "start_byte",
            "n_bytes",
            F.md5(
                F.substring(
                    F.col("__hx"),
                    ((F.col("start_byte") - 1) * 2 + 1).cast("int"),
                    (F.col("n_bytes") * 2).cast("int"),
                )
            ).alias("chunk_md5"),
        )
    )


def cdc_dedup_stats(chunks: DataFrame) -> DataFrame:
    """Corpus-level CDC dedup accounting over :func:`cdc_chunks` output:
    how many chunks, how many DISTINCT chunk contents, raw vs deduped
    byte totals — the "what would a content-addressed store save"
    report. Chunk contents are identified by (chunk_md5, n_bytes);
    everything is a two-level aggregate (map-side combined), never a
    pair join."""
    per = chunks.groupBy("chunk_md5", "n_bytes").agg(
        F.count("*").cast("bigint").alias("n_copies")
    )
    return per.agg(
        F.sum("n_copies").cast("bigint").alias("n_chunks"),
        F.count("*").cast("bigint").alias("n_distinct_chunks"),
        F.sum(F.col("n_copies") * F.col("n_bytes")).cast("bigint").alias("total_bytes"),
        F.sum("n_bytes").cast("bigint").alias("deduped_bytes"),
    ).select(
        "n_chunks",
        "n_distinct_chunks",
        "total_bytes",
        "deduped_bytes",
        (F.col("total_bytes") - F.col("deduped_bytes")).alias("bytes_saved"),
    )
