"""Multimodal-column plumbing: opaque ``binary`` payloads + typed metadata,
processed with Arrow-batched ``mapInPandas``.

``decode_image`` REALLY decodes the two classic uncompressed raster
formats -- 24-bit BI_RGB Windows BMP (bottom-up or top-down rows,
4-byte row padding, BGR channel order) and binary PPM ``P6`` (top-down
RGB, whitespace/comment-tolerant header) -- dependency-free from the
published format layouts.  Codec formats (JPEG/PNG/...) need an image
library this container does not have, so those payloads raise
NotImplementedError per-row inside the UDF; ``fake=True`` keeps the
deterministic pseudo-feature stub for opaque payloads.  Everything
around the decoders -- binary column creation, schema, Arrow batch
iteration, partition-parallel UDF shape -- is what would carry a
100 TB image corpus (binary parquet columns,
``spark.sql.files.maxPartitionBytes`` tuned so a batch of payloads fits
executor memory).

``binary_stats`` is the oracle-checked byte-level entry (payloads are
UTF-8 text bytes there); ``image_decode_demo`` is the oracle-checked
PIXEL-level entry: it encodes a deterministic BMP/PPM image per
document, round-trips it through the real decoders, and every output
column (dimensions, payload size incl. headers+padding, top-left pixel,
mean intensity) is reproduced closed-form in SQL.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..sources import read_parquet

CHECKSUM_MOD = 997

BINARY_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("checksum", T.IntegerType()),
        T.StructField("first_byte", T.IntegerType()),
        T.StructField("modality", T.StringType()),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("mean_intensity", T.DoubleType()),
    ]
)


def with_binary_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with an opaque binary column (UTF-8 bytes of the text) and
    typed modality metadata -- the storage shape for multimodal corpora."""
    return read_parquet(spark, sf_dir, f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.lit("text/plain").alias("mime"),
    )


def binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-payload byte statistics via mapInPandas (Arrow batches of
    binary).  The pandas function is the template for any real decoder:
    it receives ``bytes`` objects batch-wise and emits typed rows."""
    df = with_binary_payload(spark, sf_dir)

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payloads.map(len).astype("int32"),
                    "checksum": payloads.map(
                        lambda b: sum(b) % CHECKSUM_MOD
                    ).astype("int32"),
                    "first_byte": payloads.map(
                        lambda b: b[0] if len(b) else -1
                    ).astype("int32"),
                    "modality": pdf["mime"].str.split("/").str[0],
                }
            )

    return df.mapInPandas(stats, BINARY_STATS_SCHEMA)


def binary_stats_oracle() -> str:
    """The payload is UTF-8 text, so byte stats are reproducible from the
    string column (the testdata text is pure ASCII; the test asserts it)."""
    return f"""
        SELECT doc_id,
               CAST(strlen(text) AS INT) AS n_bytes,
               CAST(coalesce(list_sum([ord(text[i]) for i in
                    generate_series(1, length(text))]), 0) % {CHECKSUM_MOD} AS INT)
                   AS checksum,
               CAST(CASE WHEN length(text) > 0 THEN ord(text[1]) ELSE -1 END AS INT)
                   AS first_byte,
               'text' AS modality
        FROM documents
    """


def encode_bmp(pixels: np.ndarray) -> bytes:
    """24-bit BI_RGB Windows BMP from an (h, w, 3) uint8 RGB array --
    the on-disk layout per the published BITMAPFILEHEADER/
    BITMAPINFOHEADER format: 54-byte header, rows BOTTOM-UP, pixels
    BGR, every row padded to a 4-byte boundary."""
    h, w, c = pixels.shape
    assert c == 3
    stride = (3 * w + 3) & ~3
    bgr = pixels[:, :, ::-1]
    pix = b"".join(
        bgr[y].tobytes() + b"\x00" * (stride - 3 * w)
        for y in range(h - 1, -1, -1)
    )
    file_header = struct.pack("<2sIHHI", b"BM", 54 + len(pix), 0, 0, 54)
    info_header = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 2835, 2835, 0, 0
    )
    return file_header + info_header + pix


def encode_ppm(pixels: np.ndarray) -> bytes:
    """Binary PPM (P6) from an (h, w, 3) uint8 RGB array: ASCII header
    ``P6 <w> <h> 255`` then raw top-down RGB bytes, no padding."""
    h, w, c = pixels.shape
    assert c == 3
    return f"P6\n{w} {h}\n255\n".encode("ascii") + pixels.tobytes()


def decode_bmp(b: bytes) -> np.ndarray:
    """(h, w, 3) uint8 RGB from an uncompressed 24-bit BMP: undoes the
    row padding, the bottom-up row order (negative height = top-down,
    also handled) and the BGR channel order."""
    if b[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (offset,) = struct.unpack_from("<I", b, 10)
    _hdr_size, w, h_signed = struct.unpack_from("<Iii", b, 14)
    _planes, bpp = struct.unpack_from("<HH", b, 26)
    (compression,) = struct.unpack_from("<I", b, 30)
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bit BMP is supported "
            f"(got bpp={bpp}, compression={compression})"
        )
    top_down = h_signed < 0
    h = -h_signed if top_down else h_signed
    stride = (3 * w + 3) & ~3
    rows = np.frombuffer(
        b, dtype=np.uint8, count=stride * h, offset=offset
    ).reshape(h, stride)[:, : 3 * w].reshape(h, w, 3)
    if not top_down:
        rows = rows[::-1]
    return rows[:, :, ::-1]  # BGR -> RGB


def decode_ppm(b: bytes) -> np.ndarray:
    """(h, w, 3) uint8 RGB from a binary PPM (P6).  The header is
    whitespace-separated and may carry ``#`` comments per the netpbm
    spec; maxval must be 255 (the 1-byte-per-sample case)."""
    if b[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(b) and b[pos : pos + 1].isspace():
            pos += 1
        if b[pos : pos + 1] == b"#":
            while pos < len(b) and b[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(b) and not b[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(b[start:pos]))
    pos += 1  # exactly one whitespace byte after maxval, per spec
    w, h, maxval = fields
    if maxval != 255:
        raise NotImplementedError(f"only maxval=255 PPM (got {maxval})")
    return np.frombuffer(
        b, dtype=np.uint8, count=3 * w * h, offset=pos
    ).reshape(h, w, 3)


def _decode_payload(b: bytes) -> np.ndarray:
    """Dispatch on magic bytes; codec formats raise (no image library
    in this container) with the magic named so the error is actionable."""
    if b[:2] == b"BM":
        return decode_bmp(b)
    if b[:2] == b"P6":
        return decode_ppm(b)
    raise NotImplementedError(
        "no codec for payload with magic %r: only uncompressed BMP and "
        "binary PPM decode dependency-free; JPEG/PNG/... need an image "
        "library this environment does not have" % b[:4]
    )


def decode_image(
    df: DataFrame, payload_col: str = "payload", fake: bool = False
) -> DataFrame:
    """Decode an image payload column into typed features.

    ``fake=False`` (default) REALLY decodes uncompressed BMP and binary
    PPM payloads (see the module docstring) and raises
    NotImplementedError per-payload for codec formats.  ``fake=True``
    derives deterministic pseudo-features from the raw bytes instead --
    the stub for payloads with no dependency-free decoder -- through
    the SAME mapInPandas plumbing, so schema, batching, and
    partitioning are identical either way.
    """

    def real_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_decode_payload(b) for b in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": pd.Series(
                        [a.shape[1] for a in feats], dtype="int32"
                    ),
                    "height": pd.Series(
                        [a.shape[0] for a in feats], dtype="int32"
                    ),
                    "n_channels": pd.Series(
                        [a.shape[2] for a in feats], dtype="int32"
                    ),
                    "mean_intensity": pd.Series(
                        [
                            round(int(a.sum(dtype=np.int64)) / a.size, 6)
                            for a in feats
                        ],
                        dtype="float64",
                    ),
                }
            )

    def fake_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            b = pdf[payload_col]
            n = b.map(len)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": (n % 640 + 1).astype("int32"),
                    "height": (n % 480 + 1).astype("int32"),
                    "n_channels": pd.Series([3] * len(pdf), dtype="int32"),
                    "mean_intensity": b.map(
                        lambda x: round(sum(x) / len(x), 6) if len(x) else 0.0
                    ),
                }
            )

    return df.mapInPandas(
        fake_decode if fake else real_decode, IMAGE_FEATURES_SCHEMA
    )


IMAGE_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("px00", T.IntegerType()),
        T.StructField("mean_intensity", T.DoubleType()),
    ]
)


def _demo_pixels(doc_id: int, text_len: int) -> np.ndarray:
    """The deterministic per-document test image: a (h, w, 3) ramp
    v(i) = (31*doc_id + i) % 256 over row-major image-space index i.
    Dimensions derive from the text length so the corpus covers every
    row-padding remainder (w in [2, 9] spans all four BMP pad widths)."""
    w = text_len % 8 + 2
    h = text_len % 5 + 2
    a = (doc_id * 31) % 256
    i = np.arange(w * h * 3, dtype=np.int64)
    return ((a + i) % 256).astype(np.uint8).reshape(h, w, 3)


def image_decode_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real pixel decode, end to end and oracle-checkable: every
    document gets a deterministic ramp image ENCODED to real bytes
    (even doc_id -> 24-bit BMP with bottom-up BGR rows + 4-byte
    padding; odd -> binary PPM), and the payload round-trips through
    the real decoders.  ``px00`` is the top-left pixel's R value --
    wrong iff the decoder mishandles the BMP row flip or BGR order;
    ``n_bytes`` is the full payload length incl. headers and padding --
    wrong iff the encoder's layout drifts from the published format.
    Both, plus the exact mean intensity, are reproduced closed-form in
    SQL from (doc_id, strlen(text)) alone.

    Scale shape: encode and decode are one Arrow-batched mapInPandas
    each, partition-parallel, nothing to the driver -- the template a
    real (library-backed) image pipeline drops its codec into."""
    base = read_parquet(spark, sf_dir, f"{sf_dir}/documents.parquet").select(
        "doc_id", F.length("text").alias("text_len")
    )

    enc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("fmt", T.StringType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, fmts = [], []
            for doc_id, tl in zip(pdf["doc_id"], pdf["text_len"]):
                px = _demo_pixels(int(doc_id), int(tl))
                if doc_id % 2 == 0:
                    payloads.append(encode_bmp(px))
                    fmts.append("bmp")
                else:
                    payloads.append(encode_ppm(px))
                    fmts.append("ppm")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "fmt": pd.Series(fmts, dtype="object"),
                    "payload": pd.Series(payloads, dtype="object"),
                }
            )

    encoded = base.mapInPandas(enc, enc_schema)

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in IMAGE_DECODE_SCHEMA.fields}
            for doc_id, fmt, payload in zip(
                pdf["doc_id"], pdf["fmt"], pdf["payload"]
            ):
                a = _decode_payload(bytes(payload))
                rows["doc_id"].append(doc_id)
                rows["fmt"].append(fmt)
                rows["width"].append(a.shape[1])
                rows["height"].append(a.shape[0])
                rows["n_channels"].append(a.shape[2])
                rows["n_bytes"].append(len(payload))
                rows["px00"].append(int(a[0, 0, 0]))
                rows["mean_intensity"].append(
                    round(int(a.sum(dtype=np.int64)) / a.size, 6)
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                    "fmt": pd.Series(rows["fmt"], dtype="object"),
                    "width": pd.Series(rows["width"], dtype="int32"),
                    "height": pd.Series(rows["height"], dtype="int32"),
                    "n_channels": pd.Series(
                        rows["n_channels"], dtype="int32"
                    ),
                    "n_bytes": pd.Series(rows["n_bytes"], dtype="int32"),
                    "px00": pd.Series(rows["px00"], dtype="int32"),
                    "mean_intensity": pd.Series(
                        rows["mean_intensity"], dtype="float64"
                    ),
                }
            )

    return encoded.mapInPandas(dec, IMAGE_DECODE_SCHEMA)


def image_decode_demo_oracle() -> str:
    """Closed form from (doc_id, strlen(text)): the ramp's pixel i is
    (31*doc_id + i) % 256, so the mean is an exact lateral sum; BMP
    n_bytes is 54 + stride*h with stride = (3w+3) & ~3; PPM n_bytes is
    the ASCII header plus 3wh."""
    return """
        WITH d AS (
            SELECT doc_id,
                   strlen(text) % 8 + 2 AS w,
                   strlen(text) % 5 + 2 AS h,
                   (doc_id * 31) % 256 AS a
            FROM documents
        ),
        m AS (
            -- fixed series + filter: this DuckDB build rejects lateral
            -- column bounds in generate_series; n <= 9*6*3 = 162
            SELECT d.doc_id,
                   sum((d.a + t.i) % 256) AS total,
                   count(*) AS n
            FROM d, generate_series(0, 161) t(i)
            WHERE t.i < d.w * d.h * 3
            GROUP BY d.doc_id
        )
        SELECT d.doc_id,
               CASE WHEN d.doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS fmt,
               CAST(d.w AS INT) AS width,
               CAST(d.h AS INT) AS height,
               3 AS n_channels,
               CAST(CASE WHEN d.doc_id % 2 = 0
                    THEN 54 + ((3 * d.w + 3) // 4) * 4 * d.h
                    ELSE 3 + length(CAST(d.w AS VARCHAR)) + 1
                         + length(CAST(d.h AS VARCHAR)) + 1 + 4
                         + 3 * d.w * d.h
                    END AS INT) AS n_bytes,
               CAST(d.a AS INT) AS px00,
               round(CAST(m.total AS DOUBLE) / m.n, 6) AS mean_intensity
        FROM d JOIN m USING (doc_id)
    """


N_FRAMES = 4
FRAME_BYTES = 32

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("off", T.IntegerType()),
        T.StructField("checksum", T.IntegerType()),
        T.StructField("preview", T.StringType()),
    ]
)


def frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling over an opaque payload: N_FRAMES
    evenly-spaced fixed-size byte windows per payload, emitted as one
    row per frame -- the fan-out shape (1 input row -> N output rows
    inside the Arrow batch) a real frame extractor uses.  Payloads
    shorter than one frame emit nothing.  A real video decoder drops
    into the same mapInPandas slot; these deterministic byte windows
    keep the plumbing oracle-checkable."""
    df = with_binary_payload(spark, sf_dir)

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "off": [],
                   "checksum": [], "preview": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload)
                if n < FRAME_BYTES:
                    continue
                step = (n - FRAME_BYTES) // (N_FRAMES - 1)
                for k in range(N_FRAMES):
                    off = k * step
                    window = payload[off:off + FRAME_BYTES]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(k)
                    out["off"].append(off)
                    out["checksum"].append(sum(window) % CHECKSUM_MOD)
                    out["preview"].append(window[:8].decode("ascii"))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                    "frame_idx": pd.Series(out["frame_idx"], dtype="int32"),
                    "off": pd.Series(out["off"], dtype="int32"),
                    "checksum": pd.Series(out["checksum"], dtype="int32"),
                    "preview": pd.Series(out["preview"], dtype="object"),
                }
            )

    return df.mapInPandas(frames, FRAME_SCHEMA)


def frame_sample_oracle() -> str:
    """Byte windows over ASCII text are substring windows."""
    return f"""
        WITH d AS (SELECT doc_id, text, strlen(text) AS n FROM documents
                   WHERE strlen(text) >= {FRAME_BYTES}),
        f AS (
            SELECT doc_id, k AS frame_idx,
                   k * ((n - {FRAME_BYTES}) // ({N_FRAMES} - 1)) AS off,
                   substring(text,
                             k * ((n - {FRAME_BYTES}) // ({N_FRAMES} - 1)) + 1,
                             {FRAME_BYTES}) AS win
            FROM d, generate_series(0, {N_FRAMES} - 1) t(k)
        )
        SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
               CAST(off AS INT) AS off,
               CAST(list_sum([ord(win[i]) for i in
                    generate_series(1, length(win))]) % {CHECKSUM_MOD} AS INT)
                   AS checksum,
               substring(win, 1, 8) AS preview
        FROM f
    """


def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed shard manifest: per source shard, payload
    count, total bytes, distinct content digests, and an
    ORDER-INDEPENDENT checksum (exact decimal sum of 48-bit digest
    prefixes, reduced mod 2^31-1) -- the dataset-versioning record a
    multimodal pipeline writes next to every shard so drift, silent
    corruption, and cross-shard duplication are detectable WITHOUT
    re-reading content.

    Shape for 100 TB: digests compute map-side from the binary payload;
    ONE hash aggregation on the shard key.  The checksum sum is kept in
    decimal(38,0) until the final mod so partial-aggregation order
    cannot change it (int64 would overflow at ~2^15 rows x 2^48;
    decimal and DuckDB's int128 both sum exactly).  The payload is the
    same opaque binary column the decode stubs consume (documents.text
    is ASCII, so md5(payload) == DuckDB's md5(text) byte-for-byte --
    guarded by test_text_is_ascii)."""
    return (
        with_binary_payload(spark, sf_dir)
        .join(
            read_parquet(spark, sf_dir, f"{sf_dir}/documents.parquet").select(
                "doc_id", "source"
            ),
            "doc_id",
        )
        .select(
            "source",
            F.expr("length(payload)").alias("nb"),
            F.md5("payload").alias("digest"),
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("int").alias("n_payloads"),
            F.sum("nb").cast("bigint").alias("total_bytes"),
            F.countDistinct("digest").cast("int").alias("n_distinct"),
            F.expr(
                "cast(sum(cast(conv(substring(digest, 1, 12), 16, 10)"
                " as decimal(38, 0))) % 2147483647 as bigint)"
            ).alias("checksum"),
        )
    )


def shard_manifest_oracle() -> str:
    return """
        SELECT source, CAST(count(*) AS INT) AS n_payloads,
               CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
               CAST(count(DISTINCT md5(text)) AS INT) AS n_distinct,
               CAST(sum(('0x' || substr(md5(text), 1, 12))::BIGINT)
                    % 2147483647 AS BIGINT) AS checksum
        FROM documents
        GROUP BY source
    """


# --- audio framing -------------------------------------------------------------

# PCM framing geometry: 64-sample windows, 32-sample hop (50% overlap --
# the standard STFT/feature-extraction shape).  The payload bytes act as
# deterministic synthetic 8-bit PCM: sample = byte - AUDIO_BIAS, with
# the bias inside the ASCII range so sign changes (zero crossings)
# actually occur in text-derived payloads.
AUDIO_WIN = 64
AUDIO_HOP = 32
AUDIO_BIAS = 80
# fixed frames-per-doc bound for the oracle's generate_series (this
# DuckDB build rejects lateral column bounds AND subquery-derived
# bounds -- "generate_series only accepts constant parameters"); max
# n_chars is ~553 -> <= 16 frames, 32 is safe headroom.  The Spark op
# ENFORCES the bound (r9 ADVICE): a payload long enough to exceed it
# raises instead of silently emitting frames the oracle's fixed
# series would drop.
AUDIO_MAX_FRAMES = 32


def audio_framing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-style overlapping framing over an opaque payload: the
    bytes are interpreted as 8-bit PCM samples and cut into AUDIO_WIN
    windows every AUDIO_HOP samples (50% overlap), one output row per
    frame with the classic integer frame features -- energy (sum of
    squared samples), zero-crossing count, peak amplitude.  A real
    audio decoder (wav/flac needs a codec library this container does
    not have) drops into the same ``mapInPandas`` slot; the synthetic
    byte->PCM mapping keeps every feature exact-integer and therefore
    oracle-checkable.

    Scale shape: framing is a map-side 1->N fan-out inside the Arrow
    batch (numpy stride windowing, no per-sample Python), zero
    shuffles; at 100 TB the frame stream feeds feature extraction
    without ever materializing per-sample rows."""
    df = with_binary_payload(spark, sf_dir)

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "energy": [],
                   "zero_crossings": [], "peak": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload)
                if n < AUDIO_WIN:
                    continue
                arr = (
                    np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
                    - AUDIO_BIAS
                )
                nf = 1 + (n - AUDIO_WIN) // AUDIO_HOP
                if nf > AUDIO_MAX_FRAMES:
                    raise ValueError(
                        f"doc {doc_id}: {nf} frames exceeds the oracle"
                        f" series bound AUDIO_MAX_FRAMES="
                        f"{AUDIO_MAX_FRAMES} (payload {n} B); raise the"
                        " constant on BOTH engines together"
                    )
                idx = (
                    np.arange(AUDIO_WIN)[None, :]
                    + AUDIO_HOP * np.arange(nf)[:, None]
                )
                fr = arr[idx]  # (nf, AUDIO_WIN)
                neg = fr < 0
                out["doc_id"].extend([doc_id] * nf)
                out["frame_idx"].extend(range(nf))
                out["energy"].extend((fr * fr).sum(1).tolist())
                out["zero_crossings"].extend(
                    (neg[:, 1:] != neg[:, :-1]).sum(1).tolist()
                )
                out["peak"].extend(np.abs(fr).max(1).tolist())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                    "frame_idx": pd.Series(out["frame_idx"], dtype="int32"),
                    "energy": pd.Series(out["energy"], dtype="int64"),
                    "zero_crossings": pd.Series(
                        out["zero_crossings"], dtype="int32"
                    ),
                    "peak": pd.Series(out["peak"], dtype="int32"),
                }
            )

    return df.mapInPandas(
        frames,
        "doc_id long, frame_idx int, energy long, "
        "zero_crossings int, peak int",
    )


def audio_framing_oracle() -> str:
    """Byte windows over ASCII text are substring windows; every frame
    feature is exact-integer arithmetic on ord() - AUDIO_BIAS."""
    return f"""
        WITH d AS (
            SELECT doc_id, text, strlen(text) AS n FROM documents
            WHERE strlen(text) >= {AUDIO_WIN}
        ),
        f AS (
            SELECT doc_id, k AS frame_idx,
                   substring(text, k * {AUDIO_HOP} + 1, {AUDIO_WIN}) AS win
            FROM d, generate_series(0, {AUDIO_MAX_FRAMES}) t(k)
            WHERE k < 1 + (n - {AUDIO_WIN}) // {AUDIO_HOP}
        ),
        s AS (
            SELECT doc_id, frame_idx,
                   [ord(win[i]) - {AUDIO_BIAS}
                    for i in generate_series(1, {AUDIO_WIN})] AS pcm
            FROM f
        )
        SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
               CAST(list_sum([x * x for x in pcm]) AS BIGINT) AS energy,
               CAST(list_sum([CASE WHEN (pcm[i] < 0) <> (pcm[i + 1] < 0)
                                   THEN 1 ELSE 0 END
                              for i in generate_series(1, {AUDIO_WIN} - 1)])
                    AS INT) AS zero_crossings,
               CAST(list_max([abs(x) for x in pcm]) AS INT) AS peak
        FROM s
    """
