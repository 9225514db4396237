"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata.

The decode/feature libraries (PIL, ffmpeg, torchaudio, …) are not in
this container, so the decode kernels are STUBBED — either raising
``NotImplementedError`` (live mode) or producing a deterministic fake
(test mode). The Spark-side plumbing is real and tested: schema,
``mapInPandas`` batch shape, Arrow transfer, partition sizing.

At 100 TB: binary payloads dominate partition size — the loader keys
``spark.sql.files.maxPartitionBytes`` down and never shuffles raw
bytes; derived features (small, columnar) are what flows into joins.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("content", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
    ]
)

FEATURE_DDL = "media_id long, kind string, n_bytes long, feature array<float>"
HIST_DDL = "media_id long, kind string, n_bytes long, hist array<long>"


def decode_image(content: bytes) -> "object":
    """STUB — real impl: PIL.Image.open(io.BytesIO(content))."""
    raise NotImplementedError("image decode requires PIL/opencv (not in container)")


def byte_hist(content: bytes, dim: int = 8) -> list[int]:
    """Exact integer byte-histogram: ``acc[i % dim] += byte``. The
    unnormalized core of :func:`fake_feature`; pure integer math, so
    it has a bit-equal SQL twin (the normalized float variant does
    not — float32 storage + round-half-even makes cross-engine
    equality fragile)."""
    acc = [0] * dim
    if content:
        for i, byte in enumerate(content):
            acc[i % dim] += byte
    return acc


def fake_feature(content: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in feature: byte-histogram moments. Lets
    the distributed plumbing be tested end-to-end without codecs."""
    if content is None or len(content) == 0:
        return [0.0] * dim
    acc = byte_hist(content, dim)
    total = float(sum(acc)) or 1.0
    return [round(v / total, 6) for v in acc]


def extract_features(media: DataFrame, deterministic_fake: bool = True) -> DataFrame:
    """binary media rows → small columnar features via Arrow-batched
    ``mapInPandas``. With ``deterministic_fake=False`` this calls the
    real (stubbed) decoder and raises until codecs are installed."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for content in pdf["content"]:
                if deterministic_fake:
                    feats.append(fake_feature(content))
                else:  # pragma: no cover - requires codecs
                    decode_image(content)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [
                        0 if c is None else len(c) for c in pdf["content"]
                    ],
                    "feature": feats,
                }
            )

    return media.select("media_id", "kind", "content").mapInPandas(run, FEATURE_DDL)


def extract_byte_histograms(media: DataFrame, dim: int = 8) -> DataFrame:
    """Same Arrow-batched ``mapInPandas`` plumbing as
    :func:`extract_features`, but emitting the exact integer
    ``byte_hist`` accumulators (``array<long>``) instead of the
    normalized float feature — this is the driver-oracle-checked
    face of the media-feature path (integer math is reproducible
    bit-for-bit in ANSI SQL)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [
                        0 if c is None else len(c) for c in pdf["content"]
                    ],
                    "hist": [byte_hist(c, dim) for c in pdf["content"]],
                }
            )

    return media.select("media_id", "kind", "content").mapInPandas(run, HIST_DDL)


def sample_frame_offsets(
    media: DataFrame, step_ms: int = 1000, id_col: str = "media_id"
) -> DataFrame:
    """Frame-sampling plumbing: one row per sampled frame offset,
    ``(media_id, frame_idx, offset_ms)`` for offsets
    0, step, 2·step, … < duration_ms.

    The *decode* of each frame is the stubbed kernel (`decode_image`);
    the offset fan-out itself is pure relational work
    (``explode(sequence(...))``) and runs JVM-side — at scale the
    explode multiplies rows before any binary touch, so the planner
    prunes the ``content`` column out of this path entirely unless a
    downstream stage asks for it."""
    return (
        media.filter(F.col("duration_ms").isNotNull())
        .select(
            F.col(id_col),
            F.posexplode(
                F.sequence(
                    F.lit(0),
                    F.col("duration_ms") - 1,
                    F.lit(step_ms),
                )
            ).alias("frame_idx", "offset_ms"),
        )
    )


RESIZE_DDL = (
    "media_id long, width int, height int, "
    "new_width int, new_height int, n_bytes long"
)


def resize_thumbnails(media: DataFrame, max_side: int = 224) -> DataFrame:
    """Thumbnail planning over binary media via ``mapInPandas``: fit
    (width, height) into a ``max_side`` box preserving aspect ratio.

    The pixel resample itself is the stubbed kernel (needs
    PIL/opencv); the dimension math is exact integer arithmetic
    (``new_w = w·max_side // max(w, h)``), so this stage — unlike the
    decode — has a SQL twin and is oracle-checked end-to-end through
    the Arrow batch path (`mm4_resize_plan`). Batches arrive
    columnar; content bytes are length-counted but never shuffled.
    """
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            w = pdf["width"].astype("int64")
            h = pdf["height"].astype("int64")
            m = np.maximum(w, h)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": w.astype("int32"),
                    "height": h.astype("int32"),
                    "new_width": (w * max_side // m).astype("int32"),
                    "new_height": (h * max_side // m).astype("int32"),
                    "n_bytes": pdf["content"].map(
                        lambda b: 0 if b is None else len(b)
                    ),
                }
            )

    return media.select(
        "media_id", "width", "height", "content"
    ).mapInPandas(run, RESIZE_DDL)


DHASH_DDL = "media_id long, dhash long"

# dHash grid: 8 rows x 9 cols -> 8x8 = 64 horizontal-gradient bits,
# the standard perceptual difference-hash layout (Krawetz's dHash).
_DHASH_ROWS = 8
_DHASH_COLS = 9


def dhash_signatures(
    media: DataFrame, id_col: str = "media_id"
) -> DataFrame:
    """64-bit perceptual difference-hash (dHash) per binary media row:
    ``(media_id, dhash: bigint)``.

    Real dHash resizes the decoded image to an 8×9 grayscale grid and
    emits one bit per horizontally adjacent cell pair
    (``grid[r][c] > grid[r][c+1]``) — near-duplicate images differ in
    few bits, so dedup is a Hamming-ball join over the signatures.
    The *decode+resize* step needs codecs this container doesn't have
    (same seam as :func:`decode_image`), so the grid here is the
    deterministic stand-in decode: cell ``k`` folds the payload bytes
    at positions ``i ≡ k (mod 72)`` (exact integer sums — the moral
    equivalent of box-downsampling a 1-D "image" of the bytes). The
    gradient-bit and banding machinery downstream is the real
    algorithm and is what carries over unchanged when a real decoder
    replaces the fold.

    Kernel shape: Arrow-batched ``mapInPandas``; per row one
    ``np.bincount`` over the byte positions — payload bytes never
    leave the scan task, only the 8-byte signature shuffles.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        n_cells = _DHASH_ROWS * _DHASH_COLS
        # bit j = r*8+c gets weight 2^j; build as uint64 then view as
        # signed int64 so bit 63 round-trips through the LongType
        # column exactly like Spark's/DuckDB's two's-complement BIGINT
        weights = (np.uint64(1) << np.arange(64, dtype=np.uint64))

        def one(content) -> int:
            if content is None or len(content) == 0:
                return 0
            arr = np.frombuffer(content, dtype=np.uint8).astype(np.int64)
            cells = np.bincount(
                np.arange(arr.size) % n_cells, weights=arr, minlength=n_cells
            ).astype(np.int64)
            grid = cells.reshape(_DHASH_ROWS, _DHASH_COLS)
            bits = (grid[:, :-1] > grid[:, 1:]).ravel().astype(np.uint64)
            return int((bits * weights).sum().astype(np.int64))

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "dhash": pd.array(
                        [one(c) for c in pdf["content"]], dtype="int64"
                    ),
                }
            )

    return media.select(
        F.col(id_col).alias(id_col), "content"
    ).mapInPandas(run, DHASH_DDL)


def phash_near_dup_pairs(
    media: DataFrame, max_hamming: int = 3, id_col: str = "media_id"
) -> DataFrame:
    """Perceptual near-duplicate image pairs
    ``(media_a, media_b, hamming)``: pairs of media rows whose dHash
    signatures differ in ≤ ``max_hamming`` bits.

    Same scale shape as text SimHash dedup
    (``datapipe/dedup.py:simhash_near_dup_pairs``): the 64-bit
    signature splits into 4 16-bit pigeonhole bands — any pair within
    Hamming distance 3 agrees exactly on ≥1 band — so candidates come
    from an equi-join on (band_idx, band_val), never an all-pairs
    product, and the exact ``bit_count(xor)`` Hamming filter runs on
    candidates only. With ``max_hamming ≤ 3`` the band join is a
    COMPLETE candidate generator (pigeonhole over 4 bands); beyond 3
    it is the usual recall-tradeoff heuristic. Signature generation is
    one Arrow kernel pass over the binary scan; everything that
    shuffles afterwards is 8-byte longs.
    """
    from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
        _pin,
        simhash_bands,
    )

    sig = _pin(
        dhash_signatures(media, id_col).withColumnRenamed("dhash", "simhash")
    )
    bands = simhash_bands(sig, "media_id")
    l, r = bands.alias("l"), bands.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col("l.media_id") < F.col("r.media_id")),
        )
        .select(
            F.col("l.media_id").alias("media_a"),
            F.col("r.media_id").alias("media_b"),
            F.col("l.simhash").alias("_sa"),
            F.col("r.simhash").alias("_sb"),
        )
        .dropDuplicates(["media_a", "media_b"])
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("media_a", "media_b", "hamming")
    )


FRAME_DHASH_DDL = "media_id long, frame_idx int, fhash long"
_FRAME_BYTES = 96


def frame_dhash_signatures(
    media: DataFrame, id_col: str = "media_id", frame_bytes: int = _FRAME_BYTES
) -> DataFrame:
    """Per-FRAME perceptual fingerprints for video-level dedup:
    ``(media_id, frame_idx, fhash)`` — the content-based
    video-retrieval primitive (frame-fingerprint inverted index).

    Frames are consecutive ``frame_bytes`` byte slices of the payload
    (the stand-in for decoded frame buffers — the codec seam of
    :func:`decode_image`; at frame f the slice is
    ``content[f·W : (f+1)·W)``, last frame ragged), each hashed with
    the SAME dHash fold as :func:`dhash_signatures` (positions mod 72
    → 8×9 grid → 64 gradient bits, bit 63 via two's complement).
    Everything downstream of the decode stand-in — slicing schedule,
    grid, gradient bits, the inverted-index join mm7 builds on —
    carries over unchanged under a real decoder.

    Kernel shape: one Arrow-batched ``mapInPandas``; payload bytes
    never leave the scan task, only (id, frame_idx, 8-byte hash) rows
    shuffle — per media that is ceil(bytes/W) rows, ∝ duration.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        n_cells = _DHASH_ROWS * _DHASH_COLS
        weights = np.uint64(1) << np.arange(64, dtype=np.uint64)

        ids, idxs, hashes = [], [], []
        for pdf in batches:
            for mid, content in zip(pdf[id_col], pdf["content"]):
                if content is None or len(content) == 0:
                    continue
                arr = np.frombuffer(content, dtype=np.uint8).astype(np.int64)
                n_frames = -(-arr.size // frame_bytes)
                for f in range(n_frames):
                    sl = arr[f * frame_bytes : (f + 1) * frame_bytes]
                    cells = np.bincount(
                        np.arange(sl.size) % n_cells,
                        weights=sl,
                        minlength=n_cells,
                    ).astype(np.int64)
                    grid = cells.reshape(_DHASH_ROWS, _DHASH_COLS)
                    bits = (grid[:, :-1] > grid[:, 1:]).ravel().astype(
                        np.uint64
                    )
                    ids.append(mid)
                    idxs.append(f)
                    hashes.append(int((bits * weights).sum().astype(np.int64)))
            yield pd.DataFrame(
                {
                    id_col: pd.array(ids, dtype="int64"),
                    "frame_idx": pd.array(idxs, dtype="int32"),
                    "fhash": pd.array(hashes, dtype="int64"),
                }
            )
            ids, idxs, hashes = [], [], []

    # output id column is named id_col (FRAME_DHASH_DDL is the
    # media_id-default instance) so non-default callers work
    ddl = f"{id_col} long, frame_idx int, fhash long"
    return media.select(F.col(id_col).alias(id_col), "content").mapInPandas(
        run, ddl
    )


def frame_match_pairs(
    media: DataFrame,
    min_shared: int = 2,
    max_media_per_hash: int = 64,
    id_col: str = "media_id",
) -> DataFrame:
    """Video near-duplicate candidates by shared frame fingerprints:
    ``(media_a, media_b, n_shared)`` for pairs sharing ≥
    ``min_shared`` DISTINCT frame-hash values — the inverted-index
    join a content-based video dedup actually runs (equality on the
    64-bit frame hash; no Hamming pass needed because near-identical
    frames collapse to equal hashes under the fold).

    Skew guard: hash values held by more than ``max_media_per_hash``
    distinct media are dropped BEFORE the self-join (dd5b's hot-key
    cap — an all-black/boilerplate frame would otherwise fan out
    n²/2 pairs from one bucket); per (media, hash) multiplicity
    collapses first, so only distinct postings shuffle.
    """
    fr = frame_dhash_signatures(media, id_col)
    postings = fr.select(id_col, "fhash").distinct()
    hot = (
        postings.groupBy("fhash")
        .agg(F.count(F.lit(1)).alias("_nm"))
        .filter(F.col("_nm") > max_media_per_hash)
        .select("fhash")
    )
    kept = postings.join(hot, "fhash", "left_anti")
    a = kept.select(F.col(id_col).alias("media_a"), "fhash")
    b = kept.select(F.col(id_col).alias("media_b"), "fhash")
    return (
        a.join(b, "fhash")
        .filter(F.col("media_a") < F.col("media_b"))
        .groupBy("media_a", "media_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
