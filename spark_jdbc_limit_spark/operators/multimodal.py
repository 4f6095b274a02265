"""Multimodal column plumbing (north-star LLM pipeline, SURVEY.md §2B;
build plan M5): opaque binary payloads with typed metadata, processed by
Arrow-batched ``mapInPandas`` operators.

The container ships no codec LIBRARIES, so compressed formats (JPEG/PNG)
raise NotImplementedError — but uncompressed netpbm (PGM/PPM) decode,
box-downsample resize, frame sampling, and feature extraction are all
REAL: actual binary headers parsed from actual image payloads, verified
by a DuckDB oracle that recomputes pixels from the source data.

Scale design: binary payloads ride through relational ops untouched
(Tungsten treats them as byte arrays); decode/feature-extract runs once
per Arrow batch (10k rows default), not per row; output is a narrow typed
frame so downstream aggs never carry the blobs.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_jdbc_limit_spark.operators.registry import query
from spark_jdbc_limit_spark.sources.catalog import load_table

FEATURE_SCHEMA = "doc_id long, n_bytes long, codepoint_sum long, head_hex string"


def decode_image(payload: bytes) -> dict:
    """Decode an image payload to pixels.

    Binary PGM/PPM (netpbm P5/P6) decodes for real — a pure-Python header
    parse (magic, whitespace/``#``-comment tokens, width, height, maxval)
    plus a zero-copy numpy view of the raster. Compressed formats
    (JPEG/PNG/...) need codec libraries this container doesn't ship, so
    they raise NotImplementedError; in production that branch imports
    PIL/torchvision inside the executor — same return contract.

    Returns ``{"mode": "L"|"RGB", "width": w, "height": h, "pixels": arr}``
    with pixels shaped (h, w) for P5 and (h, w, 3) for P6.
    """
    magic = payload[:2]
    if magic not in (b"P5", b"P6"):
        raise NotImplementedError(
            f"unsupported image format (magic {magic!r}); only netpbm P5/P6 "
            "decode without codec libraries"
        )
    # tokenize the header: 3 ASCII integers after the magic, any
    # whitespace between tokens, '#' comments running to end of line
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(payload[start:pos]))
    pos += 1  # exactly one whitespace byte separates maxval from raster
    w, h, maxval = tokens
    if maxval > 255:
        raise NotImplementedError("16-bit netpbm rasters not supported")
    channels = 1 if magic == b"P5" else 3
    raster = np.frombuffer(payload, dtype=np.uint8, count=w * h * channels, offset=pos)
    if channels == 1:
        return {"mode": "L", "width": w, "height": h, "pixels": raster.reshape(h, w)}
    return {"mode": "RGB", "width": w, "height": h, "pixels": raster.reshape(h, w, 3)}


def box_downsample(pixels: np.ndarray, factor: int) -> np.ndarray:
    """Box-filter downsample by an integer factor: each output pixel is
    the floor-mean of its factor×factor input block (integer arithmetic,
    bit-for-bit reproducible). Trailing rows/cols that don't fill a block
    are cropped, as image resamplers do."""
    h, w = pixels.shape[:2]
    hc, wc = (h // factor) * factor, (w // factor) * factor
    a = pixels[:hc, :wc].astype(np.int64)
    if a.ndim == 2:
        blocks = a.reshape(hc // factor, factor, wc // factor, factor)
        return (blocks.sum(axis=(1, 3)) // (factor * factor)).astype(np.uint8)
    blocks = a.reshape(hc // factor, factor, wc // factor, factor, a.shape[2])
    return (blocks.sum(axis=(1, 3)) // (factor * factor)).astype(np.uint8)


def extract_binary_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas operator: per Arrow batch, compute deterministic
    features of each binary payload (stand-in for decode+featurize)."""
    for pdf in batches:
        payloads = pdf["payload"]
        texts = pdf["text"]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": payloads.map(len).astype("int64"),
                # codepoint sum of the ORIGINAL text — cheap deterministic
                # "feature" the oracle can recompute; a real pipeline would
                # decode `payload` here instead.
                # utf-32-le bytes ARE the codepoints — one numpy sum per
                # doc instead of a per-char Python loop
                "codepoint_sum": texts.map(
                    lambda t: int(
                        np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).sum(
                            dtype=np.int64
                        )
                    )
                    % 997
                ).astype("int64"),
                "head_hex": payloads.map(lambda b: b[:4].hex()),
            }
        )


@query(
    "multimodal_binary_features",
    category="llm_multimodal",
    description="Binary payload column → mapInPandas feature extraction",
    oracle="""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               CAST(list_sum(list_transform(regexp_extract_all(text, '.'),
                                            c -> unicode(c)::BIGINT)) % 997 AS BIGINT)
                   AS codepoint_sum,
               lower(hex(encode(SUBSTRING(text, 1, 4)))) AS head_hex
        FROM documents
        WHERE n_chars >= 4
        ORDER BY doc_id
    """,
)
def multimodal_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal shape: text → binary payload column (stands in
    for image/audio bytes) → Arrow-batched mapInPandas feature extraction.
    The oracle recomputes every feature from the source text, proving the
    binary roundtrip and the batch operator are lossless."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") >= 4)
    with_payload = d.select("doc_id", "text", F.encode("text", "utf-8").alias("payload"))
    return with_payload.mapInPandas(extract_binary_features, FEATURE_SCHEMA)


@query(
    "multimodal_payload_through_relational",
    category="llm_multimodal",
    description="Binary payloads survive join/filter/agg untouched",
    oracle="""
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
               CAST(MAX(octet_length(encode(text))) AS BIGINT) AS max_bytes
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """,
)
def multimodal_payload_through_relational(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blob columns flowing through relational ops: construct payloads,
    filter/aggregate by metadata, measure payload sizes with built-ins
    (octet-level ops never leave the JVM)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("lang", F.encode("text", "utf-8").alias("payload"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("payload")).alias("total_bytes"),
            F.max(F.length("payload")).alias("max_bytes"),
        )
        .orderBy("lang")
    )


FRAME_SIZE = 32     # bytes per "frame" of the opaque payload
FRAME_STRIDE = 4    # keep every 4th frame


def sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas operator: 1 payload row in → one row per SAMPLED frame
    out (the row-explosion shape video pipelines use: decode is per-frame,
    so sampling BEFORE decode is what makes 100 TB of video tractable).
    Frames are fixed-size byte slices here; a real pipeline would hand
    each slice to the codec (see decode_image) instead of hex-dumping it."""
    for pdf in batches:
        ids: list[int] = []
        idxs: list[int] = []
        hexes: list[str] = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            n_frames = len(payload) // FRAME_SIZE
            for i in range(0, n_frames, FRAME_STRIDE):
                ids.append(doc_id)
                idxs.append(i)
                hexes.append(payload[i * FRAME_SIZE : (i + 1) * FRAME_SIZE].hex())
        yield pd.DataFrame(
            {
                "doc_id": np.asarray(ids, dtype=np.int64),
                "frame_idx": np.asarray(idxs, dtype=np.int64),
                "frame_hex": pd.Series(hexes, dtype="object"),
            }
        )


@query(
    "multimodal_frame_sample",
    category="llm_multimodal",
    description=f"Strided frame sampling: every {FRAME_STRIDE}th {FRAME_SIZE}-byte frame",
    oracle=f"""
        SELECT doc_id, i AS frame_idx,
               lower(substring(hex(encode(text)),
                               CAST(i * {FRAME_SIZE} * 2 + 1 AS BIGINT),
                               {FRAME_SIZE} * 2)) AS frame_hex
        FROM documents,
             UNNEST(range(0, octet_length(encode(text)) // {FRAME_SIZE},
                          {FRAME_STRIDE})) t(i)
        ORDER BY doc_id, frame_idx
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling over opaque binary payloads: slice each
    payload into FRAME_SIZE-byte frames, keep every FRAME_STRIDE-th, one
    output row per kept frame. Runs embarrassingly parallel (frame
    extraction is payload-local, no shuffle); the oracle recomputes each
    kept slice from the source text via hex-string arithmetic, proving
    the byte-offset math end-to-end."""
    d = load_table(spark, sf_dir, "documents")
    with_payload = d.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    return with_payload.mapInPandas(
        sample_frames, "doc_id long, frame_idx long, frame_hex string"
    )


RESIZE_FACTOR = 2  # box-downsample factor of the image resize
# The resize oracle's checksum expression spells the 2x2 block offsets out
# longhand (w//2, *2, //4 literals) — changing RESIZE_FACTOR requires
# rewriting that expression to match, or the differential will (correctly)
# fail. The guard makes the coupling explicit.
if RESIZE_FACTOR != 2:  # not assert: must survive python -O
    raise RuntimeError("multimodal_image_resize oracle is written for factor 2")


def _img_dims(doc_id: int) -> tuple[int, int]:
    """Deterministic per-document image dimensions (even, 8..22) so the
    header parse is exercised on VARYING sizes and the oracle can
    recompute them from doc_id alone."""
    return 8 + (doc_id % 8) * 2, 8 + ((doc_id // 8) % 8) * 2


def _fused_payload_pass(render_fn, consume_fn):
    """Compose a payload renderer and its consumer into ONE mapInPandas
    kernel: the rendered blob is handed between the two generators as a
    pandas frame inside the SAME Python worker, so the payload bytes never
    cross the JVM↔Python Arrow boundary at all (previously they crossed
    twice — out of the render pass, back into the consume pass). Both
    kernels are row-local, so the only thing composition changes — batch
    boundaries seen by the consumer — cannot affect any output row."""

    def fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return consume_fn(render_fn(batches))

    return fused


def render_pgm_payloads(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas "camera": render each document's text into a REAL
    binary PGM (netpbm P5) image — proper header + raster whose pixel
    (r, c) is text byte (r*w + c) mod n. Deterministic, so the oracle can
    recompute every pixel from the source text."""
    for pdf in batches:
        payloads = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            w, h = _img_dims(int(doc_id))
            data = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
            pixels = data[np.arange(w * h) % len(data)]
            payloads.append(f"P5\n{w} {h}\n255\n".encode() + pixels.tobytes())
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def decode_and_resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas resize: decode each payload (REAL header parse — the
    operator trusts nothing but the bytes), box-downsample by
    RESIZE_FACTOR, emit dimensions + a checksum of the resized pixels.
    Swapping decode_image's netpbm branch for PIL turns this into a
    production JPEG/PNG resize with no change to the Spark plumbing."""
    for pdf in batches:
        ow, oh, rw, rh, sums = [], [], [], [], []
        for payload in pdf["payload"]:
            img = decode_image(bytes(payload))
            out = box_downsample(img["pixels"], RESIZE_FACTOR)
            ow.append(img["width"])
            oh.append(img["height"])
            rh.append(out.shape[0])
            rw.append(out.shape[1])
            sums.append(int(out.sum(dtype=np.int64)) % 997)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "orig_w": np.asarray(ow, dtype=np.int64),
                "orig_h": np.asarray(oh, dtype=np.int64),
                "out_w": np.asarray(rw, dtype=np.int64),
                "out_h": np.asarray(rh, dtype=np.int64),
                "resized_sum": np.asarray(sums, dtype=np.int64),
            }
        )


@query(
    "multimodal_image_resize",
    category="llm_multimodal",
    description=f"Real image decode (netpbm) + {RESIZE_FACTOR}x box downsample, checksum-verified",
    oracle=f"""
        WITH p AS (
            SELECT doc_id, text,
                   octet_length(encode(text)) AS n,
                   8 + (doc_id % 8) * 2 AS w,
                   8 + ((doc_id // 8) % 8) * 2 AS h
            FROM documents
            WHERE n_chars >= 1
        )
        SELECT doc_id,
               CAST(w AS BIGINT) AS orig_w,
               CAST(h AS BIGINT) AS orig_h,
               CAST(w // {RESIZE_FACTOR} AS BIGINT) AS out_w,
               CAST(h // {RESIZE_FACTOR} AS BIGINT) AS out_h,
               CAST(list_sum(list_transform(range(0, (w // 2) * (h // 2)), j ->
                   (  unicode(substring(text, ((((j // (w//2)) * 2    ) * w + (j % (w//2)) * 2    ) % n) + 1, 1))
                    + unicode(substring(text, ((((j // (w//2)) * 2    ) * w + (j % (w//2)) * 2 + 1) % n) + 1, 1))
                    + unicode(substring(text, ((((j // (w//2)) * 2 + 1) * w + (j % (w//2)) * 2    ) % n) + 1, 1))
                    + unicode(substring(text, ((((j // (w//2)) * 2 + 1) * w + (j % (w//2)) * 2 + 1) % n) + 1, 1))
                   ) // 4
               )) % 997 AS BIGINT) AS resized_sum
        FROM p
        ORDER BY doc_id
    """,
)
def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode/resize leg of the multimodal quartet, now REAL end to
    end: render text into binary PGM images (varying per-doc dimensions),
    decode via an actual header parse, box-downsample RESIZE_FACTOR×
    with integer floor-mean, and emit dimensions + pixel checksum. The
    corpus is ASCII, so the DuckDB twin recomputes every 2×2 block mean
    from the source text — decode, offset math, and filter arithmetic are
    all value-verified, not just shape-checked. Render and resize run as
    ONE fused payload-local mapInPandas (no shuffle); blobs are born and
    die inside the same Python pass and never cross the Arrow boundary."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") >= 1)
    return d.select("doc_id", "text").mapInPandas(
        _fused_payload_pass(render_pgm_payloads, decode_and_resize),
        "doc_id long, orig_w long, orig_h long, out_w long, out_h long, resized_sum long",
    )


WAV_RATE = 8000       # sample rate of the synthesized PCM
WAV_CENTER = 77       # byte value mapped to amplitude 0 ('M'; ASCII 32..126 spans both signs)


def _wav_n_samples(doc_id: int) -> int:
    """Deterministic per-document sample count (varying, 64..304) so the
    chunk-length math is exercised on different payload sizes."""
    return 64 + (doc_id % 16) * 16


def render_wav_payloads(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas "microphone": render each document's text into a REAL
    RIFF/WAVE file — canonical 44-byte header (PCM, mono, 16-bit,
    WAV_RATE Hz) + little-endian int16 samples where sample i is
    ``(text_byte[i mod n] - WAV_CENTER) * 256``. Deterministic, so the
    oracle can recompute every sample from the source text."""
    import struct

    for pdf in batches:
        payloads = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            n_samples = _wav_n_samples(int(doc_id))
            data = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
            samples = (
                (data[np.arange(n_samples) % len(data)].astype(np.int16) - WAV_CENTER)
                * 256
            ).astype("<i2")
            body = samples.tobytes()
            hdr = (
                b"RIFF"
                + struct.pack("<I", 36 + len(body))
                + b"WAVEfmt "
                + struct.pack("<IHHIIHH", 16, 1, 1, WAV_RATE, WAV_RATE * 2, 2, 16)
                + b"data"
                + struct.pack("<I", len(body))
            )
            payloads.append(hdr + body)
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def decode_wav(payload: bytes) -> dict:
    """Decode a RIFF/WAVE payload: walk the chunk list for real (fmt may
    be followed by LIST/fact chunks in the wild, so no fixed offsets),
    accept PCM mono 16-bit, return the sample array.

    Compressed codecs (MP3/AAC/Opus) need libraries this container
    doesn't ship and raise NotImplementedError — in production that
    branch hands the bytes to ffmpeg/soundfile inside the executor,
    same return contract."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError(
            "unsupported audio container; only RIFF/WAVE decodes without codec libraries"
        )
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("malformed WAV: missing fmt/data chunk")
    audio_format, channels, rate, _, _, bits = fmt
    if (audio_format, channels, bits) != (1, 1, 16):
        raise NotImplementedError("only PCM mono 16-bit supported without codec libraries")
    return {"rate": rate, "samples": np.frombuffer(data, dtype="<i2")}


def extract_audio_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas audio featurizer: REAL decode (chunk walk, no trusted
    offsets), then the classic cheap audio QA features — duration,
    mean absolute amplitude proxy (abs sum), zero-crossing count (pitch
    proxy), and peak — all integer arithmetic so the oracle matches
    bit-for-bit."""
    for pdf in batches:
        rates, ns, durs, abss, zcs, peaks = [], [], [], [], [], []
        for payload in pdf["payload"]:
            wav = decode_wav(bytes(payload))
            s = wav["samples"].astype(np.int64)
            rates.append(wav["rate"])
            ns.append(len(s))
            durs.append(len(s) * 1000 // wav["rate"])
            abss.append(int(np.abs(s).sum()))
            zcs.append(int((s[:-1] * s[1:] < 0).sum()))
            peaks.append(int(np.abs(s).max()) if len(s) else 0)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "sample_rate": np.asarray(rates, dtype=np.int64),
                "n_samples": np.asarray(ns, dtype=np.int64),
                "duration_ms": np.asarray(durs, dtype=np.int64),
                "abs_sum": np.asarray(abss, dtype=np.int64),
                "n_zero_crossings": np.asarray(zcs, dtype=np.int64),
                "peak": np.asarray(peaks, dtype=np.int64),
            }
        )


@query(
    "multimodal_audio_features",
    category="llm_multimodal",
    description="Real WAV decode (RIFF chunk walk) + integer audio QA features",
    oracle=f"""
        WITH p AS (
            SELECT doc_id, text,
                   octet_length(encode(text)) AS n,
                   64 + (doc_id % 16) * 16 AS ns
            FROM documents
            WHERE n_chars >= 1
        )
        SELECT doc_id,
               CAST({WAV_RATE} AS BIGINT) AS sample_rate,
               CAST(ns AS BIGINT) AS n_samples,
               CAST(ns * 1000 // {WAV_RATE} AS BIGINT) AS duration_ms,
               CAST(list_sum(list_transform(range(0, ns), i ->
                   abs((unicode(substring(text, (i % n) + 1, 1)) - {WAV_CENTER}) * 256)
               )) AS BIGINT) AS abs_sum,
               CAST(list_sum(list_transform(range(0, ns - 1), i ->
                   CASE WHEN (unicode(substring(text, (i % n) + 1, 1)) - {WAV_CENTER})
                           * (unicode(substring(text, ((i + 1) % n) + 1, 1)) - {WAV_CENTER}) < 0
                        THEN 1 ELSE 0 END
               )) AS BIGINT) AS n_zero_crossings,
               CAST(list_max(list_transform(range(0, ns), i ->
                   abs((unicode(substring(text, (i % n) + 1, 1)) - {WAV_CENTER}) * 256)
               )) AS BIGINT) AS peak
        FROM p
        ORDER BY doc_id
    """,
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio leg of the multimodal quartet, REAL end to end: render
    text into canonical RIFF/WAVE PCM16 payloads (varying sample counts),
    decode via an actual chunk walk (fmt/data located by id, word-aligned
    sizes — no trusted offsets), and emit the standard cheap audio QA
    features. The corpus is ASCII, so the DuckDB twin recomputes every
    int16 sample from the source text — container math, sample extraction,
    and feature arithmetic are all value-verified. Render and featurize run
    as ONE fused payload-local mapInPandas: no shuffle, blobs never cross
    the Arrow boundary, and the output frame is 7 longs per clip no matter
    how long the audio is."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") >= 1)
    return d.select("doc_id", "text").mapInPandas(
        _fused_payload_pass(render_wav_payloads, extract_audio_features),
        "doc_id long, sample_rate long, n_samples long, duration_ms long, "
        "abs_sum long, n_zero_crossings long, peak long",
    )


#: dHash window: DHASH_ROWS x (DHASH_COLS+1) pixels -> DHASH_ROWS*DHASH_COLS
#: gradient bits. 8x8 fits every synthesized image (dims are >= 8).
DHASH_ROWS = 8
DHASH_COLS = 7


def compute_dhash(batches):
    """mapInPandas: decode each image payload (REAL netpbm parse) and emit
    its difference hash — bit k set iff pixel(r, c+1) > pixel(r, c) over
    the top-left DHASH_ROWS x (DHASH_COLS+1) window, k = r*DHASH_COLS+c."""
    weights = np.int64(1) << np.arange(DHASH_ROWS * DHASH_COLS, dtype=np.int64)
    for pdf in batches:
        ids, hashes = [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            img = decode_image(bytes(payload))["pixels"]
            win = img[:DHASH_ROWS, : DHASH_COLS + 1].astype(np.int64)
            bits = (win[:, 1:] > win[:, :-1]).ravel()
            ids.append(doc_id)
            hashes.append(int((bits * weights).sum()))
        yield pd.DataFrame(
            {"doc_id": np.asarray(ids, dtype=np.int64),
             "dhash": np.asarray(hashes, dtype=np.int64)}
        )


#: shared oracle fragments — ONE definition of the decoded-image relation
#: and the dhash bit-packing expression, interpolated into BOTH dhash
#: oracles so they cannot drift apart on a future edit (ADVICE r6).
_DHASH_P_CTE = """
        WITH p AS (
            SELECT doc_id, text,
                   octet_length(encode(text)) AS n,
                   8 + (doc_id % 8) * 2 AS w
            FROM documents
            WHERE n_chars >= 1
        )"""

_DHASH_SQL = f"""
            CAST(list_sum(list_transform(range(0, {DHASH_ROWS * DHASH_COLS}), k ->
                CASE WHEN unicode(substring(text,
                              (((k // {DHASH_COLS}) * w + (k % {DHASH_COLS}) + 1) % n) + 1, 1))
                       > unicode(substring(text,
                              (((k // {DHASH_COLS}) * w + (k % {DHASH_COLS})) % n) + 1, 1))
                     THEN CAST(1 AS BIGINT) << k ELSE 0 END
            )) AS BIGINT)
"""


@query(
    "multimodal_image_dhash",
    category="llm_multimodal",
    description=f"Perceptual image hash (dHash, {DHASH_ROWS}x{DHASH_COLS} gradient bits) off the real decode path",
    oracle=f"""
        {_DHASH_P_CTE}
        SELECT doc_id, {_DHASH_SQL} AS dhash
        FROM p
        ORDER BY doc_id
    """,
)
def multimodal_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup fingerprinting — the visual sibling of SimHash:
    render -> REAL netpbm decode -> horizontal-gradient difference hash.
    dHash is the standard cheap perceptual hash (robust to brightness /
    scale shifts; here computed on the raw window since the synthetic
    corpus is already uniform). Pipeline shape is the 100 TB one: render
    and hash run as ONE fused payload-local mapInPandas (no shuffle, the
    image bytes never cross the Arrow boundary), the 56-bit hash
    replaces the image in every downstream join, and exact/banded
    Hamming dedup on it reuses the SimHash machinery in dedup.py
    verbatim. The DuckDB twin recomputes every gradient bit from the
    source text (the renderer's pixel (r, c) is text byte (r*w+c) mod n),
    value-verifying decode, offset math, and bit packing."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") >= 1)
    return d.select("doc_id", "text").mapInPandas(
        _fused_payload_pass(render_pgm_payloads, compute_dhash),
        "doc_id long, dhash long",
    )


DHASH_HAMMING_T = 3  #: near-dup radius (bits)
DHASH_BANDS = 4  #: 4 bands x 14 bits over the 56 dHash bits
_DHASH_BAND_BITS = (DHASH_ROWS * DHASH_COLS) // DHASH_BANDS
_DHASH_BAND_MASK = (1 << _DHASH_BAND_BITS) - 1


@query(
    "multimodal_dhash_near_dup",
    category="llm_multimodal",
    description=f"Image near-dup PAIRS: banded dHash blocking + exact Hamming ≤ {DHASH_HAMMING_T} verify (provably lossless)",
    oracle=f"""
        {_DHASH_P_CTE},
        h AS (SELECT doc_id, {_DHASH_SQL} AS dhash FROM p)
        SELECT a.doc_id AS d1, b.doc_id AS d2,
               CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
        FROM h a JOIN h b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.dhash, b.dhash)) <= {DHASH_HAMMING_T}
    """,
)
def multimodal_dhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JOIN that makes the perceptual hash useful: every image pair
    within Hamming distance 3 of each other's dHash — near-duplicate
    visual content (re-encodes, small crops/edits) that exact payload
    dedup misses. Candidate generation is banded blocking, and for this
    radius it is PROVABLY LOSSLESS, not approximate: the 56 hash bits
    split into 4 disjoint 14-bit bands, and ≤ 3 differing bits can
    touch at most 3 < 4 bands (pigeonhole), so every qualifying pair
    shares at least one intact band and survives the band-bucket
    equi-join. Exact ``bit_count(xor)`` verification then filters
    candidates — the same band-then-verify shape as the minhash-LSH and
    SimHash text dedups (dedup.py), never an all-pairs comparison.
    Physical plan: hashes are payload-local mapInPandas (no shuffle;
    blobs die in the scan stage), the band explode is codegen (4
    rows/doc), candidates shuffle on (band, value) — bucket-bounded —
    and the verify join touches candidate hashes only. The self-join
    stays: dedup's one-shuffle ``_band_pairs`` expansion measured ~30%
    slower on this entry at sf0.1 (0.79 vs 0.60 s median, 12
    alternating pairs, 4 cpus): on a 20,000-row band relation the extra
    aggregate costs more than the exchange it saves.
    At 100 TB a hot bucket (boilerplate images) is an AQE-splittable
    skew key, and the radius/bands trade recall lossless-ness for
    bucket size exactly like LSH bands do. The oracle brute-forces ALL
    pairs (feasible at oracle scale) — an independent formulation, so
    agreement proves the blocking lost nothing."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") >= 1)
    hashes = (
        d.select("doc_id", "text")
        .mapInPandas(
            _fused_payload_pass(render_pgm_payloads, compute_dhash),
            "doc_id long, dhash long",
        )
        .localCheckpoint(eager=False)  # reused by both candidate sides + verify
    )
    bands = hashes.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftright("dhash", b * _DHASH_BAND_BITS)
                        .bitwiseAND(F.lit(_DHASH_BAND_MASK))
                        .alias("band_val"),
                    )
                    for b in range(DHASH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.band_id", "b.band_val")
    b2 = bands.select(
        F.col("doc_id").alias("doc_id2"),
        F.col("band_id").alias("band_id2"),
        F.col("band_val").alias("band_val2"),
    )
    cand = (
        bands.join(
            b2,
            (F.col("band_id") == F.col("band_id2"))
            & (F.col("band_val") == F.col("band_val2"))
            & (F.col("doc_id") < F.col("doc_id2")),
        )
        .select(F.col("doc_id").alias("d1"), F.col("doc_id2").alias("d2"))
        .distinct()
    )
    h1 = hashes.select(F.col("doc_id").alias("d1"), F.col("dhash").alias("h1"))
    h2 = hashes.select(F.col("doc_id").alias("d2"), F.col("dhash").alias("h2"))
    return (
        cand.join(h1, "d1")
        .join(h2, "d2")
        .select(
            "d1",
            "d2",
            F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= DHASH_HAMMING_T)
    )


#: fingerprint framing: fixed-length frames; the bit string is the sign
#: of successive frame-energy deltas (the Shazam-family primitive).
FP_FRAME = 16


def compute_audio_fingerprint(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas fingerprinter: REAL decode, frame into FP_FRAME-sample
    windows, exact int64 energies, then one bit per successive-energy
    comparison packed little-endian. Integer arithmetic end to end."""
    for pdf in batches:
        nfs, tes, fps = [], [], []
        for payload in pdf["payload"]:
            s = decode_wav(bytes(payload))["samples"].astype(np.int64)
            nf = len(s) // FP_FRAME
            eng = (s[: nf * FP_FRAME] ** 2).reshape(nf, FP_FRAME).sum(axis=1)
            bits = (eng[1:] > eng[:-1]).astype(np.int64)
            fps.append(int((bits << np.arange(nf - 1)).sum()))
            nfs.append(nf)
            tes.append(int(eng.sum()))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_frames": np.asarray(nfs, dtype=np.int64),
                "total_energy": np.asarray(tes, dtype=np.int64),
                "fingerprint": np.asarray(fps, dtype=np.int64),
            }
        )


@query(
    "multimodal_audio_fingerprint",
    category="llm_multimodal",
    description=f"Audio fingerprint: sign-of-delta energies over {FP_FRAME}-sample frames, packed bits (exact int64)",
    oracle=f"""
        WITH p AS (
            SELECT doc_id, text,
                   octet_length(encode(text)) AS n,
                   (64 + (doc_id % 16) * 16) // {FP_FRAME} AS nf
            FROM documents
            WHERE n_chars >= 1
        ),
        e AS (
            SELECT doc_id, nf,
                   list_transform(range(0, nf), f ->
                       list_sum(list_transform(range(0, {FP_FRAME}), i ->
                           ((unicode(substring(text, ((f * {FP_FRAME} + i) % n) + 1, 1))
                             - {WAV_CENTER}) * 256)
                           * ((unicode(substring(text, ((f * {FP_FRAME} + i) % n) + 1, 1))
                              - {WAV_CENTER}) * 256)
                       ))) AS eng
            FROM p
        )
        SELECT doc_id,
               CAST(nf AS BIGINT) AS n_frames,
               CAST(list_sum(eng) AS BIGINT) AS total_energy,
               CAST(COALESCE(list_sum(list_transform(range(0, nf - 1), f ->
                   CASE WHEN eng[f + 2] > eng[f + 1]
                        THEN (CAST(1 AS BIGINT) << f) ELSE 0 END)), 0) AS BIGINT)
                   AS fingerprint
        FROM e ORDER BY doc_id
    """,
)
def multimodal_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup fingerprinting — the acoustic sibling of dHash:
    render → REAL RIFF decode → fixed frames → one bit per successive
    frame-energy comparison (the Shazam-family sign-of-delta primitive,
    robust to gain because energy ORDER survives uniform scaling). Every
    energy is an exact int64 sum of squared int16 samples, so unlike a
    spectral hash there is no float threshold to flip — the DuckDB twin
    recomputes every sample, energy, and packed bit from the source text
    and must match bit-for-bit. Downstream, exact/banded Hamming dedup
    on the fingerprint reuses the SimHash machinery in dedup.py, same as
    the image path.

    Plan shape: ONE fused payload-local mapInPandas (render + fingerprint
    in the same Python pass, no shuffle, waveform bytes never cross the
    Arrow boundary); the output is 3 longs per clip regardless of audio
    length. At 100 TB the fingerprint replaces the waveform in every
    downstream join."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") >= 1)
    return d.select("doc_id", "text").mapInPandas(
        _fused_payload_pass(render_wav_payloads, compute_audio_fingerprint),
        "doc_id long, n_frames long, total_energy long, fingerprint long",
    )
