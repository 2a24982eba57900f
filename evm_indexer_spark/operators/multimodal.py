"""Multimodal binary-column operators for training-data pipelines.

The reference engine has no media path; this extends the engine the way a
100 TB pretraining pipeline needs it: image/audio/video travel as opaque
``binary`` columns with typed metadata, and the per-item compute
(decode, feature-extract, resize, frame-sample) runs as Arrow-batched
``mapInPandas`` stages so each executor core streams record batches
without ever collecting to the driver.

Codec coverage is split honestly by what this container can run:
**WAV, BMP, PNG, baseline JPEG and FLAC decode are REAL** — RIFF
parsed with stdlib ``wave``, BMP headers parsed by hand, PNG
implemented from the public W3C specification on stdlib ``zlib`` (all
five scanline filters, 8-bit gray/RGB/RGBA, non-interlaced), baseline
JPEG implemented from ITU-T T.81 in pure numpy
(``functions/jpegcodec.py``: DCT, Annex K tables, Huffman entropy
coding, 4:4:4 subset), and a FLAC subset from the public format spec
(``functions/flaccodec.py``: fixed predictors, Rice residuals,
CRC-verified frames) — see ``wav_features`` / ``flac_features`` /
``image_pixel_stats`` / ``image_pixel_extremes`` /
``resize_image_payloads``, with synthesizers emitting genuine
containers so round-trips are testable against independently computed
expectations. H.264 is covered by the I_PCM subset
(``functions/h264codec.py``: Annex B framing, SPS/PPS Exp-Golomb
headers, IDR slices of raw-sample macroblocks — conforming, lossless
streams; see ``synthesize_h264`` / ``h264_frame_features``); entropy-
coded residual macroblocks (CAVLC/CABAC + motion compensation) remain
an honest ``NotImplementedError`` boundary — a pure-Python
motion-compensated decoder would be dishonest about 100 TB
throughput, so that part stays a native-codec job.
The byte-histogram feature extractor is genuine vectorized numpy work
with the same data movement profile as a real embedding model.

Scale notes: feature extraction is a narrow map (no shuffle); frame
sampling explodes rows but stays partition-local; only a downstream
groupBy/join would shuffle. Payloads stay in the executor — the driver
only ever sees aggregates.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

if TYPE_CHECKING:  # pragma: no cover
    pass

N_HIST_BINS = 32  # 256 byte values / 8 per bin

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("sample_rate", T.LongType()),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def synthesize_media(documents: DataFrame) -> DataFrame:
    """Deterministic fake media table derived from ``documents``.

    The payload is the UTF-8 bytes of the text; metadata is arithmetic on
    ``doc_id`` so a SQL oracle can reproduce it exactly. In production
    this stage is replaced by a parquet/lance scan of real blobs — the
    downstream operators only see the MEDIA_SCHEMA contract.
    """
    payload = F.encode(F.col("text"), "UTF-8")
    # pmod for the CLASSIFICATIONS (media_type, audio detection): the
    # sign-preserving % of a hostile negative doc_id would otherwise
    # drive element_at to index 0 — a runtime ERROR in Spark — while
    # the SQL CASE silently takes its ELSE arm (round-15 hostile-media
    # fixture find). The width/height/n_frames ARITHMETIC keeps plain %
    # on purpose: both engines truncate identically there, so parity
    # holds without rewriting the published formulas.
    return documents.select(
        F.col("doc_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.col("doc_id"), 3) + 1).cast("int"),
        ).alias("media_type"),
        payload.alias("payload"),
        F.length(payload).cast("long").alias("n_bytes"),
        (F.lit(64) + (F.col("doc_id") * 3) % 448).cast("long").alias("width"),
        (F.lit(64) + (F.col("doc_id") * 7) % 448).cast("long").alias("height"),
        (F.lit(1) + F.col("doc_id") % 16).cast("long").alias("n_frames"),
        F.when(F.pmod(F.col("doc_id"), 3) == 1, F.lit(16000))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("sample_rate"),
    )


def media_metadata(documents: DataFrame) -> DataFrame:
    """Metadata projection of the media table (payload pruned).

    Catalyst column pruning means the binary column is never read when
    only metadata is selected — on a real blob table this is the
    difference between a metadata-only scan and 100 TB of IO.
    """
    return synthesize_media(documents).drop("payload")


# -- decode (stubbed: codec libs not in this container) ---------------------


def decode_image_batch(payloads: pd.Series) -> pd.DataFrame:
    """Payload bytes → DataFrame[width int, height int, pixels
    array<float>] per batch, for use inside ``mapInPandas``.

    REAL for BMP, PNG and baseline JPEG (hand-parsed codecs below and
    in ``functions/jpegcodec.py``); other formats hit the honest stub."""
    widths, heights, pixels = [], [], []
    for buf in payloads:
        _, px = decode_image_payload(bytes(buf))
        heights.append(px.shape[0])
        widths.append(px.shape[1])
        pixels.append(px.astype(np.float32).ravel())
    return pd.DataFrame(
        {"width": widths, "height": heights, "pixels": pixels}
    )


# -- feature extraction (real, vectorized) ----------------------------------


def extract_byte_histogram(media: DataFrame, n_bins: int = N_HIST_BINS) -> DataFrame:
    """L1-normalized byte histogram per payload via Arrow-batched
    ``mapInPandas`` — the same executor-side batch shape as a real
    featurizer (decode → ndarray → fixed-width vector).
    """
    shift = 8 - (n_bins - 1).bit_length()  # bytes >> shift lands in [0, n_bins)

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for buf in pdf["payload"]:
                b = np.frombuffer(bytes(buf), dtype=np.uint8)
                if b.size == 0:
                    feats.append(np.zeros(n_bins, dtype=np.float32))
                    continue
                hist = np.bincount(b >> shift, minlength=n_bins).astype(np.float32)
                feats.append(hist / b.size)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["n_bytes"],
                    "features": feats,
                }
            )

    return media.select("doc_id", "n_bytes", "payload").mapInPandas(
        featurize, schema=FEATURES_SCHEMA
    )


def byte_histogram_bins(media: DataFrame, n_bins: int = N_HIST_BINS) -> DataFrame:
    """Exact-count byte histogram, one row per (doc, bin).

    Same Arrow ``mapInPandas`` batch shape as ``extract_byte_histogram``
    but emits integer counts (zero bins included) instead of normalized
    float features — an exactly-reproducible form any engine can verify,
    and the scan-friendly layout a feature store would ingest. Narrow
    map + partition-local posexplode; no shuffle.
    """
    shift = 8 - (n_bins - 1).bit_length()

    def count_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            counts = [
                np.bincount(
                    np.frombuffer(bytes(buf), dtype=np.uint8) >> shift,
                    minlength=n_bins,
                ).astype(np.int64)
                for buf in pdf["payload"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "counts": counts})

    counted = media.select("doc_id", "payload").mapInPandas(
        count_fn, schema="doc_id long, counts array<long>"
    )
    return counted.select(
        "doc_id", F.posexplode("counts").alias("bin", "bin_count")
    ).withColumn("bin", F.col("bin").cast("long"))


# -- frame sampling (real, native expressions) ------------------------------


def frame_offsets(media: DataFrame) -> DataFrame:
    """One row per sampled frame of each video: contiguous byte ranges
    ``[frame_off, frame_off + frame_len)`` over the payload.

    Pure narrow explode — no shuffle; a real pipeline feeds the offsets
    to a range-read decoder so only sampled frames are fetched.
    """
    v = media.filter(F.col("media_type") == "video")
    frame_len = F.floor(F.col("n_bytes") / F.col("n_frames")).cast("long")
    # sequence(0, k) DESCENDS when k < 0 (Spark defaults step to -1),
    # where SQL generate_series returns empty — a hostile negative
    # n_frames must yield zero frames, not phantom negative indices
    # (round-15 hostile-media fixture find)
    idx_seq = F.when(
        F.col("n_frames") >= 1,
        F.sequence(F.lit(0), (F.col("n_frames") - 1).cast("int")),
    ).otherwise(F.array().cast("array<int>"))
    return (
        v.select(
            "doc_id",
            "n_bytes",
            "n_frames",
            F.explode(idx_seq).alias("frame_idx"),
        )
        .select(
            "doc_id",
            F.col("frame_idx").cast("long").alias("frame_idx"),
            (F.col("frame_idx") * frame_len).alias("frame_off"),
            frame_len.alias("frame_len"),
        )
    )


def sample_frames(media: DataFrame) -> DataFrame:
    """Frame offsets joined back to actual payload slices (binary out).

    ``substring`` on binary stays JVM-side; the slice never crosses to
    Python.
    """
    offs = frame_offsets(media)
    return (
        offs.join(media.select("doc_id", "payload"), "doc_id")
        .select(
            "doc_id",
            "frame_idx",
            F.expr("substring(payload, cast(frame_off + 1 as int), cast(frame_len as int))").alias(
                "frame"
            ),
        )
    )


def audio_chunk_offsets(media: DataFrame, chunk_seconds: float = 1.0) -> DataFrame:
    """One row per fixed-duration chunk of each audio payload: byte
    ranges assuming 16-bit mono PCM at the row's ``sample_rate``.

    Same narrow-explode shape as ``frame_offsets``; a real pipeline
    range-reads only the sampled chunks. The final partial chunk is
    included (short ``chunk_len``).
    """
    a = media.filter(F.col("media_type") == "audio")
    bytes_per_chunk = (
        (F.col("sample_rate") * F.lit(2) * F.lit(chunk_seconds)).cast("long")
    )
    n_chunks = F.ceil(F.col("n_bytes") / bytes_per_chunk).cast("int")
    # empty payloads give n_chunks = 0: sequence(0, -1) would DESCEND
    # in Spark where SQL generate_series is empty — emit zero chunks
    # (round-15 hostile-media fixture find, same rule as frame_offsets)
    chunk_seq = F.when(
        n_chunks >= 1, F.sequence(F.lit(0), n_chunks - 1)
    ).otherwise(F.array().cast("array<int>"))
    return (
        a.filter(F.col("sample_rate") > 0)
        .select(
            "doc_id",
            "n_bytes",
            bytes_per_chunk.alias("_bpc"),
            F.explode(chunk_seq).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            (F.col("chunk_idx") * F.col("_bpc")).alias("chunk_off"),
            F.least(
                F.col("_bpc"), F.col("n_bytes") - F.col("chunk_idx") * F.col("_bpc")
            ).alias("chunk_len"),
        )
    )


# -- real codecs: WAV (stdlib wave) and BMP (manual header) ------------------
#
# WAV, BMP, PNG, baseline JPEG, the FLAC subset and the H.264 I_PCM
# subset need nothing beyond the stdlib and numpy, so their decode
# paths are GENUINE end to end: real containers are written by the
# synthesizers and parsed back by the decoders, all inside
# Arrow-batched mapInPandas stages. Motion-compensated H.264
# (CAVLC/CABAC residuals) stays honestly out of scope — native codecs
# are not in this container and pure-Python inter decode would
# misstate throughput.

WAV_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("peak", T.LongType()),
        T.StructField("rms", T.DoubleType()),
    ]
)

IMAGE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
    ]
)


def synthesize_wav(
    documents: DataFrame, n_samples: int = 160, sample_rate: int = 16_000
) -> DataFrame:
    """Real 16-bit mono PCM WAV payloads (RIFF container via stdlib
    ``wave``), samples derived arithmetically from ``doc_id`` so tests
    can recompute expected stats independently:
    ``s[i] = (doc_id*31 + i*7) % 2048 - 1024``."""
    import io
    import wave

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = np.arange(n_samples, dtype=np.int64)
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                samples = ((int(did) * 31 + idx * 7) % 2048 - 1024).astype("<i2")
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(sample_rate)
                    w.writeframes(samples.tobytes())
                payloads.append(buf.getvalue())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return documents.select("doc_id").mapInPandas(
        gen, schema="doc_id long, payload binary"
    )


def synthesize_flac(
    documents: DataFrame, n_samples: int = 2048, sample_rate: int = 16_000
) -> DataFrame:
    """Real FLAC payloads (pure-numpy subset codec in
    ``functions.flaccodec``: STREAMINFO, CRC-verified frames, fixed
    predictors + Rice residuals), mono 16-bit, samples derived from the
    SAME arithmetic formula as ``synthesize_wav`` (``s[i] = (doc_id*31
    + i*7) % 2048 - 1024``). FLAC is lossless, so decoded sample
    statistics are recomputable from the formula by a codec-blind
    oracle — the q69 gate strategy."""
    from evm_indexer_spark.functions.flaccodec import flac_encode

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = np.arange(n_samples, dtype=np.int64)
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                samples = ((int(did) * 31 + idx * 7) % 2048 - 1024).astype(
                    np.int16
                )
                payloads.append(flac_encode(samples, sample_rate))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return documents.select("doc_id").mapInPandas(
        gen, schema="doc_id long, payload binary"
    )


def flac_features(media: DataFrame) -> DataFrame:
    """REAL compressed-audio decode: parse the FLAC container, Rice-
    decode and re-integrate the fixed-predictor residuals, verify both
    CRCs, emit exact integer sample statistics (lossless ⇒ oracle-
    matchable): sample_rate, n_samples, peak = max|s|, s_sum = Σs."""
    from evm_indexer_spark.functions.flaccodec import flac_decode

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                k: []
                for k in ("doc_id", "sample_rate", "n_samples", "peak", "s_sum")
            }
            for did, buf in zip(pdf["doc_id"], pdf["payload"]):
                out["doc_id"].append(did)
                # PER-ROW refusal (round-15 adversarial-media rule):
                # one corrupt/truncated/CRC-broken payload in a 100-TB
                # corpus must never fail the job — the row degrades to
                # NULL features (the broad except is deliberate: the
                # codec raises ValueError by contract, but a hostile
                # container can surface library-level types too)
                try:
                    samples, rate = flac_decode(bytes(buf))
                    s = samples.astype(np.int64)
                    out["sample_rate"].append(rate)
                    out["n_samples"].append(s.size)
                    out["peak"].append(int(np.abs(s).max()) if s.size else 0)
                    out["s_sum"].append(int(s.sum()))
                except Exception:
                    for k in ("sample_rate", "n_samples", "peak", "s_sum"):
                        out[k].append(None)
            yield pd.DataFrame(out)

    return media.select("doc_id", "payload").mapInPandas(
        decode,
        schema=(
            "doc_id long, sample_rate long, n_samples long, "
            "peak long, s_sum long"
        ),
    )


def synthesize_h264(
    documents: DataFrame, width: int = 32, height: int = 16, n_frames: int = 2
) -> DataFrame:
    """Real H.264 Annex B payloads (pure-numpy I_PCM subset codec in
    ``functions.h264codec``: SPS/PPS, IDR slices, raw-sample
    macroblocks), one clip per document. Luma derives from the
    closed-form formula ``y[f, r, c] = (doc_id*13 + f*97 + r*5 + c*3)
    % 256``; chroma planes are per-frame constants ``cb = (doc_id*5 +
    f*11) % 256`` / ``cr = (doc_id*9 + f*7) % 256`` (constant chroma
    planes produce long zero runs on some doc_ids, so emulation
    prevention is exercised on real data, not just in unit tests).
    I_PCM is lossless, so decoded pixel statistics are recomputable
    from the formula by a codec-blind oracle — the q72 gate strategy."""
    from evm_indexer_spark.functions.h264codec import h264_encode

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        f = np.arange(n_frames, dtype=np.int64)[:, None, None]
        r = np.arange(height, dtype=np.int64)[None, :, None]
        c = np.arange(width, dtype=np.int64)[None, None, :]
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                y = ((did * 13 + f * 97 + r * 5 + c * 3) % 256).astype(np.uint8)
                cb = np.full(
                    (n_frames, height // 2, width // 2), 0, dtype=np.uint8
                )
                cr = cb.copy()
                for i in range(n_frames):
                    cb[i] = (did * 5 + i * 11) % 256
                    cr[i] = (did * 9 + i * 7) % 256
                payloads.append(h264_encode(y, cb, cr))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return documents.select("doc_id").mapInPandas(
        gen, schema="doc_id long, payload binary"
    )


def h264_frame_features(
    media: DataFrame, decode_budget_bytes: int | None = None
) -> DataFrame:
    """REAL compressed-video decode: parse Annex B NAL framing, strip
    emulation prevention, parse SPS/PPS and IDR slice headers, recover
    the I_PCM sample planes, emit exact integer luma statistics
    (lossless ⇒ oracle-matchable): n_frames, width, height,
    y_min/y_max/y_sum over all frames' luma samples.

    ``decode_budget_bytes`` is the same 100-TB cap route as
    ``image_pixel_extremes``: payloads larger than the budget take the
    SPS-only metadata path (``h264_header_dims``), emitting their true
    luma dimensions with NULL frame/sample stats and ``decoded=false``
    — which also gives CAVLC/CABAC streams (whose slices the I_PCM
    subset refuses) a labeled metadata row instead of a poisoned task,
    when routed by size. Default ``None`` = decode everything, schema
    unchanged."""
    from evm_indexer_spark.functions.h264codec import (
        h264_decode,
        h264_header_dims,
    )

    budgeted = decode_budget_bytes is not None

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                k: []
                for k in (
                    "doc_id", "n_frames", "width", "height",
                    "y_min", "y_max", "y_sum",
                )
            }
            if budgeted:
                out["decoded"] = []
            for did, buf in zip(pdf["doc_id"], pdf["payload"]):
                out["doc_id"].append(did)
                # PER-ROW refusal: corrupt/truncated/non-I_PCM streams
                # degrade to a NULL-stats row (decoded=false when
                # budgeted) instead of poisoning the task — one bad
                # clip must never fail a 100-TB job
                try:
                    raw = bytes(buf)
                    if budgeted and len(raw) > decode_budget_bytes:
                        h, w = h264_header_dims(raw)
                        out["n_frames"].append(None)
                        out["height"].append(h)
                        out["width"].append(w)
                        out["y_min"].append(None)
                        out["y_max"].append(None)
                        out["y_sum"].append(None)
                        out["decoded"].append(False)
                        continue
                    y, _, _ = h264_decode(raw)
                    out["n_frames"].append(y.shape[0])
                    out["height"].append(y.shape[1])
                    out["width"].append(y.shape[2])
                    out["y_min"].append(int(y.min()))
                    out["y_max"].append(int(y.max()))
                    out["y_sum"].append(int(y.astype(np.int64).sum()))
                    if budgeted:
                        out["decoded"].append(True)
                except Exception:
                    for k in (
                        "n_frames", "width", "height",
                        "y_min", "y_max", "y_sum",
                    ):
                        out[k].append(None)
                    if budgeted:
                        out["decoded"].append(False)
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, n_frames long, width long, height long, "
        "y_min long, y_max long, y_sum long"
    )
    if budgeted:
        schema += ", decoded boolean"
    return media.select("doc_id", "payload").mapInPandas(decode, schema=schema)


# -- fused synth+decode round-trips (round-15 optimization) ------------------
#
# The q68/q69/q72 catalog entries composed two back-to-back
# ``mapInPandas`` stages (synthesize, then decode): the payload bytes
# crossed the JVM<->Python Arrow boundary FOUR times per row
# (guide §4.1) purely to land back in the process that produced them.
# The fused kernels below run encode+decode inside ONE Python task —
# identical codec calls, identical per-row refusal, stats-only output —
# so the payload never crosses any boundary at all. Identity with the
# two-stage composition is pinned in tests/test_multimodal.py.
#
# Each kernel carries a CONTENT-keyed round-trip memo (the same
# per-task, capped, computed-on-demand pattern as dedup.py's shingle
# memo and the SimHash token memo): the key is the raw synthesized
# sample/pixel bytes, the value the decoded stats. On corpora with
# repeated content the encode+decode runs once per DISTINCT payload;
# on all-distinct corpora the memo fills to its cap and the kernel
# degrades to exactly the unmemoized cost plus one dict probe per row.
# Nothing persists across tasks or runs.

_ROUNDTRIP_MEMO_CAP = 1 << 14  # entries/task; keys are ~1-4 KB of content


def _class_partitioned_ids(documents: DataFrame, class_mod: int) -> DataFrame:
    """doc_id-only frame hash-partitioned by the synth formula's
    congruence class: every roundtrip operator's payload is a pure
    function of ``doc_id % class_mod`` (2048 for the FLAC waveform,
    256 for the JPEG/H.264 pixel formulas), so partitioning on the
    class lands every duplicate payload in the task whose memo already
    holds its round-trip. Distinct codec work per task drops from
    ~rows/tasks (round-robin spread) to ~class_mod/tasks — measured
    q69: ~156 → ~64 FLAC trips/task at sf0.1, and the ratio widens
    with SF since class_mod is fixed. This is the guide §2.3 move:
    shuffle 8 bytes of id per row to place the heavy compute, never
    the payloads. Placement only — the kernels' outputs are row-wise
    and memo-cached, so results are identical under any partitioning.
    ``class_mod ≫ partitions`` keeps the hash spread even (§2.5) — and
    that assumption is GUARDED (round-15 ADVICE): a pool wider than
    class_mod/8 falls back to the plain round-robin spread, because
    hashing a class_mod-key domain into that many partitions leaves a
    growing fraction empty (at partitions = keys, ~1/e of them) and
    skews the rest. local[32] stays on the class route for both codec
    families (256/8 = 32, 2048/8 = 256); a ≥33-way pool reverts the
    256-class codecs, a ≥257-way pool the FLAC 2048 classes. Results
    are identical either way — this is placement only."""
    target = documents.sparkSession.sparkContext.defaultParallelism
    ids = documents.select("doc_id")
    if target > class_mod // 8:
        # class-key hashing cannot fill this many partitions evenly;
        # round-robin keeps every core busy (memo hit rate drops, but
        # the per-task distinct-class count ~rows/tasks is still small
        # relative to a pool this wide)
        return ids.repartition(target)
    return ids.repartition(target, F.pmod(F.col("doc_id"), F.lit(class_mod)))


def flac_roundtrip_stats(
    documents: DataFrame, n_samples: int = 2048, sample_rate: int = 16_000
) -> DataFrame:
    """Fused ``synthesize_flac`` ∘ ``flac_features``: one Arrow task
    encodes each doc's waveform to a REAL FLAC stream and immediately
    Rice-decodes it back (both CRCs verified), emitting the exact
    integer sample statistics — byte-for-byte the two-stage pipeline's
    output, without shipping payloads through the JVM twice."""
    from evm_indexer_spark.functions.flaccodec import flac_decode, flac_encode

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = np.arange(n_samples, dtype=np.int64)
        memo: dict = {}
        for pdf in batches:
            out = {
                k: []
                for k in ("doc_id", "sample_rate", "n_samples", "peak", "s_sum")
            }
            for did in pdf["doc_id"]:
                samples = (
                    (int(did) * 31 + idx * 7) % 2048 - 1024
                ).astype(np.int16)
                key = samples.tobytes()
                st = memo.get(key)
                if st is None:
                    # PER-ROW refusal, same rule as flac_features: a
                    # row whose round-trip fails degrades to NULL stats
                    try:
                        dec, rate = flac_decode(
                            flac_encode(samples, sample_rate)
                        )
                        s = dec.astype(np.int64)
                        st = (
                            rate,
                            s.size,
                            int(np.abs(s).max()) if s.size else 0,
                            int(s.sum()),
                        )
                    except Exception:
                        st = (None, None, None, None)
                    if len(memo) < _ROUNDTRIP_MEMO_CAP:
                        memo[key] = st
                out["doc_id"].append(did)
                out["sample_rate"].append(st[0])
                out["n_samples"].append(st[1])
                out["peak"].append(st[2])
                out["s_sum"].append(st[3])
            yield pd.DataFrame(out)

    return _class_partitioned_ids(documents, 2048).mapInPandas(
        gen,
        schema=(
            "doc_id long, sample_rate long, n_samples long, "
            "peak long, s_sum long"
        ),
    )


def jpeg_roundtrip_stats(
    documents: DataFrame,
    width: int = 32,
    height: int = 24,
    quality: int = 100,
) -> DataFrame:
    """Fused ``synthesize_jpeg`` ∘ ``image_pixel_extremes``: one Arrow
    task encodes each doc's block-constant pixels to a REAL baseline
    JFIF payload and immediately Huffman+DCT-decodes it back, emitting
    the exact integer pixel statistics of the two-stage pipeline."""
    if width % 8 or height % 8:
        raise ValueError("jpeg_roundtrip_stats wants 8-multiple dimensions")
    from evm_indexer_spark.functions.jpegcodec import jpeg_encode

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bxs = np.arange(width // 8)
        bys = np.arange(height // 8)[:, None]
        ones = np.ones((8, 8), dtype=np.uint8)
        memo: dict = {}
        for pdf in batches:
            out = {
                k: []
                for k in ("doc_id", "width", "height",
                          "px_min", "px_max", "px_sum")
            }
            for did in pdf["doc_id"]:
                vals = ((int(did) * 7 + bxs * 13 + bys * 29) % 256).astype(
                    np.uint8
                )
                key = vals.tobytes()
                st = memo.get(key)
                if st is None:
                    try:
                        px = np.kron(vals, ones)
                        _, dec = decode_image_payload(
                            jpeg_encode(px, quality=quality)
                        )
                        st = (
                            dec.shape[1],
                            dec.shape[0],
                            int(dec.min()),
                            int(dec.max()),
                            int(dec.astype(np.int64).sum()),
                        )
                    except Exception:
                        st = (None, None, None, None, None)
                    if len(memo) < _ROUNDTRIP_MEMO_CAP:
                        memo[key] = st
                out["doc_id"].append(did)
                out["width"].append(st[0])
                out["height"].append(st[1])
                out["px_min"].append(st[2])
                out["px_max"].append(st[3])
                out["px_sum"].append(st[4])
            yield pd.DataFrame(out)

    return _class_partitioned_ids(documents, 256).mapInPandas(
        gen,
        schema=(
            "doc_id long, width long, height long, "
            "px_min long, px_max long, px_sum long"
        ),
    )


def h264_roundtrip_stats(
    documents: DataFrame,
    width: int = 32,
    height: int = 16,
    n_frames: int = 2,
) -> DataFrame:
    """Fused ``synthesize_h264`` ∘ ``h264_frame_features``: one Arrow
    task encodes each doc's luma/chroma planes to a REAL Annex B I_PCM
    stream and immediately parses it back (NAL framing, emulation
    prevention, SPS/PPS, slice headers), emitting the exact integer
    luma statistics of the two-stage pipeline."""
    from evm_indexer_spark.functions.h264codec import h264_decode, h264_encode

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        f = np.arange(n_frames, dtype=np.int64)[:, None, None]
        r = np.arange(height, dtype=np.int64)[None, :, None]
        c = np.arange(width, dtype=np.int64)[None, None, :]
        memo: dict = {}
        for pdf in batches:
            out = {
                k: []
                for k in ("doc_id", "n_frames", "width", "height",
                          "y_min", "y_max", "y_sum")
            }
            for did in pdf["doc_id"]:
                did_i = int(did)
                y = ((did_i * 13 + f * 97 + r * 5 + c * 3) % 256).astype(
                    np.uint8
                )
                cb = np.empty(
                    (n_frames, height // 2, width // 2), dtype=np.uint8
                )
                cr = np.empty_like(cb)
                for i in range(n_frames):
                    cb[i] = (did_i * 5 + i * 11) % 256
                    cr[i] = (did_i * 9 + i * 7) % 256
                key = y.tobytes() + cb.tobytes() + cr.tobytes()
                st = memo.get(key)
                if st is None:
                    try:
                        dy, _, _ = h264_decode(h264_encode(y, cb, cr))
                        st = (
                            dy.shape[0],
                            dy.shape[2],
                            dy.shape[1],
                            int(dy.min()),
                            int(dy.max()),
                            int(dy.astype(np.int64).sum()),
                        )
                    except Exception:
                        st = (None, None, None, None, None, None)
                    if len(memo) < _ROUNDTRIP_MEMO_CAP:
                        memo[key] = st
                out["doc_id"].append(did)
                out["n_frames"].append(st[0])
                out["width"].append(st[1])
                out["height"].append(st[2])
                out["y_min"].append(st[3])
                out["y_max"].append(st[4])
                out["y_sum"].append(st[5])
            yield pd.DataFrame(out)

    return _class_partitioned_ids(documents, 256).mapInPandas(
        gen,
        schema=(
            "doc_id long, n_frames long, width long, height long, "
            "y_min long, y_max long, y_sum long"
        ),
    )


def wav_features(media: DataFrame) -> DataFrame:
    """REAL audio decode: parse the RIFF/WAV container (stdlib ``wave``),
    recover sample rate and PCM frames, emit peak and RMS amplitude —
    the decode→ndarray→features shape of a production featurizer, with
    an actual decoder in the middle."""
    import io
    import wave

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "sample_rate", "n_samples", "peak", "rms")}
            for did, buf in zip(pdf["doc_id"], pdf["payload"]):
                out["doc_id"].append(did)
                # PER-ROW refusal: a malformed RIFF container (stdlib
                # wave raises wave.Error/EOFError) degrades to a NULL
                # row, never a dead task
                try:
                    with wave.open(io.BytesIO(bytes(buf)), "rb") as w:
                        rate = w.getframerate()
                        want = (
                            w.getnframes()
                            * w.getsampwidth()
                            * w.getnchannels()
                        )
                        frames = w.readframes(w.getnframes())
                    if len(frames) < want:
                        # stdlib wave trusts the data-chunk header and
                        # silently returns what bytes exist — a stream
                        # whose header promises more than its body
                        # (truncation, dims >> data) must refuse, not
                        # report partial audio as the whole clip
                        raise ValueError(
                            f"truncated WAV: {len(frames)} of {want} "
                            "data bytes"
                        )
                    samples = np.frombuffer(frames, dtype="<i2").astype(
                        np.float64
                    )
                    out["sample_rate"].append(rate)
                    out["n_samples"].append(samples.size)
                    out["peak"].append(
                        int(np.abs(samples).max()) if samples.size else 0
                    )
                    out["rms"].append(
                        float(np.sqrt((samples**2).mean()))
                        if samples.size
                        else 0.0
                    )
                except Exception:
                    for k in ("sample_rate", "n_samples", "peak", "rms"):
                        out[k].append(None)
            yield pd.DataFrame(out)

    return media.select("doc_id", "payload").mapInPandas(
        decode, schema=WAV_FEATURES_SCHEMA
    )


def _bmp_encode(pixels: np.ndarray) -> bytes:
    """24-bit uncompressed BMP from an (h, w, 3) RGB uint8 array —
    BITMAPFILEHEADER + BITMAPINFOHEADER + bottom-up BGR rows padded to
    4 bytes (the public BMP file format, no library needed)."""
    import struct

    h, w, _ = pixels.shape
    row = w * 3
    pad = (-row) % 4
    img_size = (row + pad) * h
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        body += pixels[y, :, ::-1].tobytes()  # RGB → BGR
        body += b"\x00" * pad
    return header + info + bytes(body)


def _bmp_decode(data: bytes) -> np.ndarray:
    """Parse a 24-bit uncompressed BMP back to (h, w, 3) RGB uint8."""
    import struct

    if data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (offset,) = struct.unpack_from("<I", data, 10)
    w, h = struct.unpack_from("<ii", data, 18)
    (bpp,) = struct.unpack_from("<H", data, 28)
    if bpp != 24:
        raise ValueError(f"only 24-bit BMP supported, got {bpp}")
    row = w * 3
    pad = (-row) % 4
    out = np.empty((abs(h), w, 3), dtype=np.uint8)
    for i in range(abs(h)):
        y = (abs(h) - 1 - i) if h > 0 else i  # bottom-up unless negative h
        start = offset + i * (row + pad)
        out[y] = np.frombuffer(data, dtype=np.uint8, count=row, offset=start).reshape(
            w, 3
        )[:, ::-1]
    return out


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type -> samples per pixel (8-bit depth only)
_PNG_CHANNELS = {0: 1, 2: 3, 6: 4}


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _png_encode(pixels: np.ndarray) -> bytes:
    """8-bit non-interlaced PNG from (h, w) gray, (h, w, 3) RGB or
    (h, w, 4) RGBA uint8 — IHDR/IDAT/IEND chunks per the public W3C
    PNG specification, zlib-deflated scanlines with filter type 0."""
    import struct
    import zlib

    if pixels.ndim == 2:
        color_type, arr = 0, pixels[:, :, None]
    elif pixels.shape[2] == 3:
        color_type, arr = 2, pixels
    elif pixels.shape[2] == 4:
        color_type, arr = 6, pixels
    else:
        raise ValueError(f"unsupported pixel shape {pixels.shape}")
    h, w = arr.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = bytearray()
    for y in range(h):
        raw.append(0)  # filter type None
        raw += arr[y].tobytes()
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def _png_unfilter_row(
    ftype: int, row: np.ndarray, prev: np.ndarray, bpp: int
) -> np.ndarray:
    """Reverse one scanline filter (spec §9: None/Sub/Up/Average/Paeth).

    Sub/Average/Paeth have a left-pixel dependency, so those run a
    per-pixel loop; rows are short and uint8 math is cheap."""
    out = row.astype(np.int32)
    if ftype == 0:
        return row.copy()
    if ftype == 2:  # Up — vectorized, no left dependency
        return ((out + prev) & 0xFF).astype(np.uint8)
    n = len(row)
    res = np.empty(n, dtype=np.uint8)
    for i in range(n):
        a = int(res[i - bpp]) if i >= bpp else 0  # left
        b = int(prev[i])  # up
        if ftype == 1:  # Sub
            v = out[i] + a
        elif ftype == 3:  # Average
            v = out[i] + ((a + b) >> 1)
        elif ftype == 4:  # Paeth
            c = int(prev[i - bpp]) if i >= bpp else 0  # upper-left
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            v = out[i] + pred
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        res[i] = v & 0xFF
    return res


def _png_decode(data: bytes) -> np.ndarray:
    """Parse an 8-bit non-interlaced gray/RGB/RGBA PNG back to a numpy
    array ((h, w) for gray, else (h, w, channels))."""
    import struct
    import zlib

    if not data.startswith(_PNG_SIG):
        raise ValueError("not a PNG payload")
    pos = len(_PNG_SIG)
    idat = bytearray()
    w = h = None
    color_type = None
    while pos + 8 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            w, h, depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8:
                raise ValueError(f"only 8-bit PNG supported, got depth {depth}")
            if color_type not in _PNG_CHANNELS:
                raise ValueError(f"unsupported PNG color type {color_type}")
            if interlace:
                raise ValueError("interlaced PNG not supported")
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
    if w is None:
        raise ValueError("PNG missing IHDR")
    ch = _PNG_CHANNELS[color_type]
    raw = zlib.decompress(bytes(idat))
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline data has wrong length")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        off = y * (stride + 1)
        ftype = raw[off]
        row = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=off + 1)
        prev = _png_unfilter_row(ftype, row, prev, ch)
        out[y] = prev
    return out.reshape(h, w) if ch == 1 else out.reshape(h, w, ch)


def decode_image_payload(buf: bytes) -> tuple[str, np.ndarray]:
    """Sniff the container format and decode: ``(format, pixels)``.

    BMP and PNG are decoded by the hand-parsed codecs above; anything
    else raises the honest codec stub."""
    if buf[:2] == b"BM":
        return "bmp", _bmp_decode(buf)
    if buf.startswith(_PNG_SIG):
        return "png", _png_decode(buf)
    if buf[:2] == b"\xff\xd8":
        from evm_indexer_spark.functions.jpegcodec import jpeg_decode

        return "jpeg", jpeg_decode(buf)
    raise NotImplementedError(
        "only BMP, PNG and baseline JPEG payloads decode in this "
        "container (H.264 needs native codec libraries, absent here)"
    )


def image_header_dims(buf: bytes) -> tuple[int, int]:
    """(height, width) from the container HEADER only — no pixel
    decode, O(header bytes) for every supported format. This is the
    metadata path the decode-budget cap routes oversized payloads to:
    bounded per-row CPU at any payload size."""
    import struct

    if buf[:2] == b"BM":
        w, h = struct.unpack_from("<ii", buf, 18)  # BITMAPINFOHEADER
        return abs(h), abs(w)
    if buf.startswith(_PNG_SIG):
        w, h = struct.unpack_from(">II", buf, 16)  # IHDR
        return int(h), int(w)
    if buf[:2] == b"\xff\xd8":
        from evm_indexer_spark.functions.jpegcodec import jpeg_header_dims

        h, w, _nc = jpeg_header_dims(buf)
        return h, w
    raise NotImplementedError("unknown image container")


def _encode_image_payload(fmt: str, pixels: np.ndarray) -> bytes:
    if fmt == "bmp":
        return _bmp_encode(pixels)
    if fmt == "png":
        return _png_encode(pixels)
    if fmt == "jpeg":
        from evm_indexer_spark.functions.jpegcodec import jpeg_encode

        return jpeg_encode(pixels)
    raise NotImplementedError(f"no encoder for format {fmt!r}")


def synthesize_png(
    documents: DataFrame, width: int = 8, height: int = 6, rgba: bool = False
) -> DataFrame:
    """Real PNG payloads with the same doc_id-derived pixel formula as
    ``synthesize_bmp`` (``(r,g,b)[y,x] = ((did+x)%256, (did*2+y)%256,
    (x*y+did)%256)``; alpha = (did+x+y)%256 when *rgba*), so pixel-stat
    expectations are recomputable independently of the codec."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        xs = np.arange(width)
        ys = np.arange(height)[:, None]
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                d = int(did)
                planes = [
                    np.broadcast_to((d + xs) % 256, (height, width)),
                    np.broadcast_to((d * 2 + ys) % 256, (height, width)),
                    (xs * ys + d) % 256,
                ]
                if rgba:
                    planes.append(
                        np.broadcast_to((d + xs + ys) % 256, (height, width))
                    )
                px = np.stack(planes, axis=-1).astype(np.uint8)
                payloads.append(_png_encode(px))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return documents.select("doc_id").mapInPandas(
        gen, schema="doc_id long, payload binary"
    )


def synthesize_jpeg(
    documents: DataFrame,
    width: int = 32,
    height: int = 24,
    quality: int = 100,
) -> DataFrame:
    """Real baseline-JPEG payloads (grayscale, 4:4:4-subset encoder in
    ``functions.jpegcodec``) whose pixels are CONSTANT on each 8x8
    block: ``px[by*8:by*8+8, bx*8:bx*8+8] = (did*7 + bx*13 + by*29) %
    256``. Block-constant grayscale at quality 100 round-trips
    bit-exactly through the lossy codec (integer DC, zero AC, unit
    quant — see the jpegcodec module docstring), so decoded pixel
    statistics are recomputable from this closed formula by an oracle
    that knows nothing about JPEG."""
    if width % 8 or height % 8:
        raise ValueError("synthesize_jpeg wants 8-multiple dimensions")
    from evm_indexer_spark.functions.jpegcodec import jpeg_encode

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bxs = np.arange(width // 8)
        bys = np.arange(height // 8)[:, None]
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                vals = ((int(did) * 7 + bxs * 13 + bys * 29) % 256).astype(
                    np.uint8
                )
                px = np.kron(vals, np.ones((8, 8), dtype=np.uint8))
                payloads.append(jpeg_encode(px, quality=quality))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return documents.select("doc_id").mapInPandas(
        gen, schema="doc_id long, payload binary"
    )


def synthesize_bmp(documents: DataFrame, width: int = 8, height: int = 6) -> DataFrame:
    """Real BMP payloads with doc_id-derived pixels:
    ``(r,g,b)[y,x] = ((did+x)%256, (did*2+y)%256, (x*y+did)%256)``."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        xs = np.arange(width)
        ys = np.arange(height)[:, None]
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                d = int(did)
                px = np.stack(
                    [
                        np.broadcast_to((d + xs) % 256, (height, width)),
                        np.broadcast_to((d * 2 + ys) % 256, (height, width)),
                        (xs * ys + d) % 256,
                    ],
                    axis=-1,
                ).astype(np.uint8)
                payloads.append(_bmp_encode(px))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return documents.select("doc_id").mapInPandas(
        gen, schema="doc_id long, payload binary"
    )


def image_pixel_stats(media: DataFrame) -> DataFrame:
    """REAL image decode: sniff BMP/PNG, recover the pixel matrix, emit
    per-channel means (grayscale reports its mean on all channels;
    alpha is ignored)."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "width", "height",
                                   "mean_r", "mean_g", "mean_b")}
            for did, buf in zip(pdf["doc_id"], pdf["payload"]):
                out["doc_id"].append(did)
                # PER-ROW refusal: wrong magic, truncated stream, bad
                # CRC — the row degrades to NULL features
                try:
                    _, px = decode_image_payload(bytes(buf))
                    px = px.astype(np.float64)
                    out["height"].append(px.shape[0])
                    out["width"].append(px.shape[1])
                    if px.ndim == 2:
                        m = float(px.mean())
                        means = (m, m, m)
                    else:
                        means = tuple(
                            float(px[:, :, i].mean()) for i in range(3)
                        )
                    for ch, m in zip("rgb", means):
                        out[f"mean_{ch}"].append(m)
                except Exception:
                    for k in (
                        "width", "height", "mean_r", "mean_g", "mean_b",
                    ):
                        out[k].append(None)
            yield pd.DataFrame(out)

    return media.select("doc_id", "payload").mapInPandas(
        decode, schema=IMAGE_STATS_SCHEMA
    )


def image_pixel_extremes(
    media: DataFrame, decode_budget_bytes: int | None = None
) -> DataFrame:
    """REAL decode (BMP/PNG/JPEG sniffed by magic) → exact integer
    pixel statistics per payload: min, max and sum over every sample of
    every channel. Integer outputs (unlike the float means of
    ``image_pixel_stats``) so a SQL oracle can match them hash-exactly
    when the pixels are recomputable — the q68 gate strategy.

    ``decode_budget_bytes`` is the 100-TB cap route: payloads LARGER
    than the budget skip the entropy/pixel decode entirely and take the
    header-only metadata path (``image_header_dims`` — O(header bytes)
    at any payload size), emitting their true dimensions with NULL
    pixel stats and ``decoded=false``. This bounds worst-case per-row
    CPU by the budget instead of by the largest payload in the corpus —
    the pure-python codec's measured ~0.5 µs/coefficient sequencing
    ceiling (SCALE.md §codec-boundary) makes unbounded decode of bulk
    photographic data a native-codec job, so oversized rows are
    labeled, not silently burned. With the default ``None`` every row
    decodes and the schema is unchanged (no ``decoded`` column)."""

    budgeted = decode_budget_bytes is not None

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "width", "height",
                                   "px_min", "px_max", "px_sum")}
            if budgeted:
                out["decoded"] = []
            for did, buf in zip(pdf["doc_id"], pdf["payload"]):
                out["doc_id"].append(did)
                # PER-ROW refusal: one corrupt image degrades to a
                # NULL-stats row (decoded=false when budgeted), never
                # a failed job
                try:
                    raw = bytes(buf)
                    if budgeted and len(raw) > decode_budget_bytes:
                        h, w = image_header_dims(raw)
                        out["height"].append(h)
                        out["width"].append(w)
                        out["px_min"].append(None)
                        out["px_max"].append(None)
                        out["px_sum"].append(None)
                        out["decoded"].append(False)
                        continue
                    _, px = decode_image_payload(raw)
                    out["height"].append(px.shape[0])
                    out["width"].append(px.shape[1])
                    out["px_min"].append(int(px.min()))
                    out["px_max"].append(int(px.max()))
                    out["px_sum"].append(int(px.astype(np.int64).sum()))
                    if budgeted:
                        out["decoded"].append(True)
                except Exception:
                    for k in (
                        "width", "height", "px_min", "px_max", "px_sum",
                    ):
                        out[k].append(None)
                    if budgeted:
                        out["decoded"].append(False)
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, width long, height long, "
        "px_min long, px_max long, px_sum long"
    )
    if budgeted:
        schema += ", decoded boolean"
    return media.select("doc_id", "payload").mapInPandas(decode, schema=schema)


def resize_image_payloads(media: DataFrame, width: int, height: int) -> DataFrame:
    """REAL resize: sniff BMP/PNG → decode → nearest-neighbor resample
    in numpy → re-encode in the same container format. Narrow Arrow
    map, payloads never leave executors."""

    def rz(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for buf in pdf["payload"]:
                # PER-ROW refusal: an undecodable input resizes to a
                # NULL payload instead of failing the batch
                try:
                    fmt, px = decode_image_payload(bytes(buf))
                    h0, w0 = px.shape[:2]
                    yi = (np.arange(height) * h0 // height).clip(0, h0 - 1)
                    xi = (np.arange(width) * w0 // width).clip(0, w0 - 1)
                    payloads.append(
                        _encode_image_payload(fmt, px[yi[:, None], xi])
                    )
                except Exception:
                    payloads.append(None)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return media.select("doc_id", "payload").mapInPandas(
        rz, schema="doc_id long, payload binary"
    )


def resize_bmp(media: DataFrame, width: int, height: int) -> DataFrame:
    """Backward-compatible alias of ``resize_image_payloads`` (which now
    also handles PNG)."""
    return resize_image_payloads(media, width, height)
