"""Multimodal columns (north-star): image/audio/video as opaque `binary`
columns with typed metadata, decoded/feature-extracted via Arrow-batched
Pandas functions.

The testdata has no true media files, so the *payload* is the document text
encoded as bytes, wrapped in GENUINE container formats and decoded back by
real parsers — since round 9 every multimodal key runs a real codec, none
simulates one. One format per modality: AUDIO (RIFF/WAVE 8-bit-PCM
containers decoded by an actual chunk-walking parser — encode_wav_pcm8 /
decode_wav_pcm8, byte-identical to the stdlib `wave` writer, pinned by
test), IMAGE (binary Netpbm P5/PGM parsed by a real whitespace/
comment-tolerant header scanner — encode_pgm / decode_pgm; 1-row rasters
for the histogram rung, 2-D rasters for the box-filter resize rung) and
VIDEO (YUV4MPEG2 Cmono clips parsed by a real stream-parameter +
per-FRAME-marker walk — encode_y4m / decode_y4m; full walk for the stats
rung, strided keyframe sampling for the framesample rung).
q_multimodal_decode dispatches mixed payloads by MAGIC BYTES across all
three parsers. All three formats are byte-lossless for raw payloads,
which is what keeps the DuckDB oracles exact. Decoders for formats a
pure-numpy parser can't cover (PIL for color/compressed images, ffmpeg
for chroma/compressed video, soundfile for compressed audio) refuse
loudly with explicit NotImplementedError markers, exactly where a
production build would plug in.

PERMANENT BOUNDARY (by design, not a to-do): PERCEPTUAL codecs —
JPEG/MP3/H.264 and kin — stay refuse-paths forever in this repo. Both
LOSSLESS compression families are decoded natively (deflate via the PNG
rung, LZW via the GIF rung, G.711 µ-law companding for audio) because a
lossless decode has a closed-form byte oracle; a lossy decode does not —
its output is implementation-defined (IDCT precision, dithering, DSP
rounding differ across libjpeg/ffmpeg builds), so no DuckDB twin can
hash-grade it and a hand-rolled decoder would be unverifiable against
this repo's correctness bar. Production deployments plug PIL/ffmpeg into
the marked NotImplementedError sites; the Spark-side plumbing those
plugs inherit (schema, mapInPandas batch shape, magic-byte dispatch,
partitioning) is exactly what the real-codec rungs already exercise.

Scale notes: binary payloads ride through scans/joins untouched (Parquet
stores them as BYTE_ARRAY; column pruning keeps them out of queries that
don't reference them). Decoding runs in `mapInPandas` — per-partition Arrow
batches, zero driver involvement, linear scale-out; batch size is bounded by
`spark.sql.execution.arrow.maxRecordsPerBatch`, keeping executor memory flat
no matter the table size.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_aws_spark.registry import query
from data_pipeline_aws_spark.tables import table

WAV_RATE = 8000  # fixture sample rate (Hz) for the generated PCM containers
Y4M_W, Y4M_H = 8, 8  # fixture frame geometry (Cmono: frame = W*H bytes)
PGM_W = 16  # fixture raster width for the 2-D resize rung (whole rows kept)
PGM_MAX_ROWS = 64  # resize reads at most 16x64 = 1 KiB per asset


@query(
    "q_multimodal_meta",
    oracle="""
SELECT
  doc_id,
  octet_length(encode(text))  AS n_bytes,
  md5(text)                   AS checksum,
  lang                        AS media_lang,
  'application/octet-stream'  AS mime
FROM documents
""",
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column relational plumbing: payload size + content checksum +
    carried metadata, all JVM-side (no decode). The binary column itself is
    produced, measured, and hashed without ever surfacing to Python."""
    d = table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.octet_length(payload).alias("n_bytes"),
        F.md5(payload).alias("checksum"),
        F.col("lang").alias("media_lang"),
        F.lit("application/octet-stream").alias("mime"),
    )


@query(
    "q_multimodal_decode",
    oracle=f"""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n,
         CAST(doc_id % 3 AS INT) AS m
  FROM documents
),
keep AS (
  SELECT doc_id, hx, n, m,
         CASE WHEN m = 2 THEN (n // {Y4M_W * Y4M_H}) * {Y4M_W * Y4M_H}
              ELSE n END AS kept
  FROM b
),
agg AS (
  SELECT k.doc_id,
         CAST(SUM(CAST(concat('0x', substr(k.hx, 2 * p.p + 1, 2)) AS INT))
              AS BIGINT) AS byte_sum,
         CAST(MAX(CAST(concat('0x', substr(k.hx, 2 * p.p + 1, 2)) AS INT))
              AS INT) AS byte_peak
  FROM keep k, unnest(generate_series(0, k.kept - 1)) p(p)
  GROUP BY k.doc_id
)
SELECT k.doc_id,
       CASE k.m WHEN 0 THEN 'wav' WHEN 1 THEN 'pgm' ELSE 'y4m' END AS container,
       CAST(CASE k.m WHEN 0 THEN 0 WHEN 1 THEN k.n ELSE {Y4M_W} END AS INT) AS width,
       CAST(CASE k.m WHEN 0 THEN 0
                     WHEN 1 THEN CASE WHEN k.n > 0 THEN 1 ELSE 0 END
                     ELSE {Y4M_H} END AS INT) AS height,
       CAST(CASE k.m WHEN 2 THEN k.n // {Y4M_W * Y4M_H} ELSE 1 END AS INT) AS n_frames,
       CAST(k.kept AS BIGINT) AS n_units,
       COALESCE(a.byte_sum, 0) AS byte_sum,
       COALESCE(a.byte_peak, 0) AS byte_peak
FROM keep k LEFT JOIN agg a USING (doc_id)
""",
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media decode DISPATCHER over the three REAL container formats: each
    payload is a genuine RIFF/WAVE PCM file, binary Netpbm PGM, or
    YUV4MPEG2 clip (fixture assigns the modality by doc_id % 3 and wraps
    the text bytes in that container), and the worker routes each payload
    BY ITS MAGIC BYTES — 'RIFF', 'P5', 'YUV4MPEG2' — to the matching
    parser (decode_wav_pcm8 / decode_pgm / decode_y4m), exactly what a
    production decode stage facing a mixed-modality binary column does.
    Unified metadata row per asset: container tag, geometry, frame count,
    decoded unit count, integer content stats (cross-engine exact). The
    fixture containers are byte-lossless, so the DuckDB oracle replays
    every decoder's arithmetic from hex(encode(text)); Y4M drops trailing
    bytes that don't fill a whole frame, which the oracle mirrors with its
    `kept` truncation. Compressed/color formats refuse inside the parsers
    at their documented PIL/soundfile/ffmpeg plug points. Replaced the
    round-5 deterministic fake codec in round 9 — no simulated decode
    remains on any multimodal key."""
    d = table(spark, sf_dir, "documents")
    with_payload = d.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )

    # The closure imports the codec module ON THE WORKER from the package
    # zip tune_session ships via addPyFile — one definition repo-wide, no
    # inlined twins (the foreign-cwd parity sweep pins the import path).
    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from data_pipeline_aws_spark.multimodal.media import (
            Y4M_H,
            Y4M_W,
            decode_pgm,
            decode_wav_pcm8,
            decode_y4m,
            encode_pgm,
            encode_wav_pcm8,
            encode_y4m,
        )

        encoders = {0: encode_wav_pcm8, 1: encode_pgm, 2: encode_y4m}

        def dispatch(payload: bytes):
            """Route by container magic, never by out-of-band hints."""
            if payload[:4] == b"RIFF":
                samples = decode_wav_pcm8(payload)
                return ("wav", 0, 0, 1, samples)
            if payload[:2] == b"P5":
                w, h, _maxval, pixels = decode_pgm(payload)
                return ("pgm", w, h, 1, pixels)
            if payload[:9] == b"YUV4MPEG2":
                w, h, frames = decode_y4m(payload)
                import numpy as np

                units = (
                    np.concatenate(frames)
                    if frames
                    else np.empty(0, dtype=np.uint8)
                )
                return ("y4m", w, h, len(frames), units)
            raise ValueError("unrecognized container magic")

        for pdf in batches:
            doc, tag, wid, hei, nfr, nun, bsum, bpeak = ([] for _ in range(8))
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                container, w, h, n_frames, units = dispatch(
                    encoders[doc_id % 3](bytes(payload))
                )
                if container == "y4m":
                    w, h = Y4M_W, Y4M_H  # header geometry even for 0 frames
                doc.append(doc_id)
                tag.append(container)
                wid.append(w)
                hei.append(h)
                nfr.append(n_frames)
                nun.append(len(units))
                bsum.append(int(units.sum()) if len(units) else 0)
                bpeak.append(int(units.max()) if len(units) else 0)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc, dtype="int64"),
                    "container": pd.Series(tag, dtype="object"),
                    "width": pd.Series(wid, dtype="int32"),
                    "height": pd.Series(hei, dtype="int32"),
                    "n_frames": pd.Series(nfr, dtype="int32"),
                    "n_units": pd.Series(nun, dtype="int64"),
                    "byte_sum": pd.Series(bsum, dtype="int64"),
                    "byte_peak": pd.Series(bpeak, dtype="int32"),
                }
            )

    return with_payload.mapInPandas(
        extract,
        "doc_id long, container string, width int, height int, "
        "n_frames int, n_units long, byte_sum long, byte_peak int",
    )


@query(
    "q_multimodal_resize",
    oracle=f"""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
),
d AS (
  SELECT doc_id, hx,
         LEAST(n // {PGM_W}, {PGM_MAX_ROWS})
           - (LEAST(n // {PGM_W}, {PGM_MAX_ROWS}) % 2) AS h2
  FROM b
),
px AS (
  SELECT doc_id, h2,
         (p.p // {PGM_W}) // 2 AS bi,
         (p.p % {PGM_W}) // 2 AS bj,
         CAST(concat('0x', substr(hx, 2 * p.p + 1, 2)) AS INT) AS byte
  FROM d, unnest(generate_series(0, {PGM_W} * h2 - 1)) p(p)
  WHERE h2 > 0
),
blocks AS (
  SELECT doc_id, h2, bi, bj, SUM(byte) // 4 AS out_px
  FROM px GROUP BY doc_id, h2, bi, bj
)
SELECT doc_id,
       {PGM_W} AS in_w,
       CAST(h2 AS INT) AS in_h,
       {PGM_W // 2} AS out_w,
       CAST(h2 // 2 AS INT) AS out_h,
       CAST(COUNT(*) AS BIGINT) AS out_pixels,
       CAST(SUM(out_px) AS BIGINT) AS out_sum,
       CAST(MAX(out_px) AS INT) AS out_peak
FROM blocks GROUP BY doc_id, h2
""",
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image RESIZE over a REAL container — the PGM rung made 2-D: each
    payload is a genuine binary Netpbm P5 file whose raster is the first
    PGM_W x h slice of the text bytes (whole rows only, capped at
    PGM_MAX_ROWS and trimmed to an even row count so a 2x2 box filter
    tiles exactly), decoded by the actual header parser (decode_pgm), then
    downsampled 2x with an integer BOX FILTER — out[i][j] = floor(mean of
    the 2x2 input block) — the real thumbnailing math (PIL's
    Image.resize(BOX) on uint8 does the same block average), all
    vectorized numpy strided sums, no per-pixel Python. Emits per-asset
    geometry plus integer content stats of the RESIZED image, which the
    DuckDB oracle replays byte-exactly by grouping the raster bytes into
    2x2 blocks (PGM is byte-lossless). Docs shorter than 2 raster rows
    (n < 2*PGM_W bytes) have no resizable image and emit no row — the
    oracle's h2 > 0 filter mirrors that. Color/compressed formats refuse
    at decode_pgm's documented PIL plug point. Replaced the round-5 fake
    geometry stub in round 9."""
    d = table(spark, sf_dir, "documents")
    with_payload = d.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from data_pipeline_aws_spark.multimodal.media import (
            PGM_MAX_ROWS,
            PGM_W,
            decode_pgm,
            encode_pgm,
        )

        for pdf in batches:
            doc, inh, opix, osum, opeak = ([] for _ in range(5))
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                rows = min(len(payload) // PGM_W, PGM_MAX_ROWS)
                h2 = rows - rows % 2
                if h2 == 0:
                    continue
                raster = bytes(payload[: PGM_W * h2])
                w, h, _maxval, pixels = decode_pgm(encode_pgm(raster, width=PGM_W))
                img = pixels.reshape(h, w).astype(np.int32)
                out = (
                    img[0::2, 0::2] + img[0::2, 1::2]
                    + img[1::2, 0::2] + img[1::2, 1::2]
                ) // 4
                doc.append(doc_id)
                inh.append(h)
                opix.append(out.size)
                osum.append(int(out.sum()))
                opeak.append(int(out.max()))
            n = len(doc)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc, dtype="int64"),
                    "in_w": pd.Series([PGM_W] * n, dtype="int32"),
                    "in_h": pd.Series(inh, dtype="int32"),
                    "out_w": pd.Series([PGM_W // 2] * n, dtype="int32"),
                    "out_h": pd.Series([v // 2 for v in inh], dtype="int32"),
                    "out_pixels": pd.Series(opix, dtype="int64"),
                    "out_sum": pd.Series(osum, dtype="int64"),
                    "out_peak": pd.Series(opeak, dtype="int32"),
                }
            )

    return with_payload.mapInPandas(
        resize,
        "doc_id long, in_w int, in_h int, out_w int, out_h int, "
        "out_pixels long, out_sum long, out_peak int",
    )


FRAME_STRIDE = 4  # keep every 4th frame — the keyframe-sampling rate


@query(
    "q_multimodal_framesample",
    oracle=f"""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
),
fr AS (
  SELECT doc_id, hx, n // {Y4M_W * Y4M_H} AS n_frames, f.f AS frame_idx
  FROM b, unnest(generate_series(0, n // {Y4M_W * Y4M_H} - 1)) f(f)
  WHERE f.f % {FRAME_STRIDE} = 0
),
px AS (
  SELECT doc_id, n_frames, frame_idx,
         CAST(concat('0x',
              substr(hx, 2 * (frame_idx * {Y4M_W * Y4M_H} + p.p) + 1, 2))
              AS INT) AS byte
  FROM fr, unnest(generate_series(0, {Y4M_W * Y4M_H - 1})) p(p)
)
SELECT doc_id,
       CAST(frame_idx AS INT) AS frame_idx,
       CAST(n_frames AS INT) AS n_frames,
       CAST(SUM(byte) AS BIGINT) AS luma_sum,
       CAST(MAX(byte) AS INT) AS luma_peak
FROM px GROUP BY doc_id, n_frames, frame_idx
""",
)
def q_multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe SAMPLING over a REAL container — each payload is a genuine
    YUV4MPEG2 clip (text bytes as 8x8 Cmono frames), decoded by the actual
    stream-tag + per-FRAME-marker walk (decode_y4m), and every
    FRAME_STRIDE-th frame is kept — the ffmpeg `select=not(mod(n,4))`
    sampling pattern. mapInPandas emits a VARIABLE number of rows per
    asset (the 1:N fan-out a real keyframe extractor needs), each row
    carrying the sampled frame's integer luma stats plus the clip's total
    frame count, all cross-engine exact — the DuckDB oracle replays the
    sampled frames byte-exactly from hex(encode(text)) because Cmono
    frames are byte-lossless. Clips shorter than one whole frame emit no
    row on either side. Chroma-plane/compressed codecs refuse at
    decode_y4m's documented ffmpeg plug point. Replaced the round-5
    byte-probe fake in round 9."""
    d = table(spark, sf_dir, "documents")
    with_payload = d.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )

    def sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from data_pipeline_aws_spark.multimodal.media import (
            FRAME_STRIDE,
            decode_y4m,
            encode_y4m,
        )

        for pdf in batches:
            doc, idx, nfr, lsum, lpeak = ([] for _ in range(5))
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                _w, _h, frames = decode_y4m(encode_y4m(bytes(payload)))
                for i in range(0, len(frames), FRAME_STRIDE):
                    doc.append(doc_id)
                    idx.append(i)
                    nfr.append(len(frames))
                    lsum.append(int(frames[i].sum()))
                    lpeak.append(int(frames[i].max()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc, dtype="int64"),
                    "frame_idx": pd.Series(idx, dtype="int32"),
                    "n_frames": pd.Series(nfr, dtype="int32"),
                    "luma_sum": pd.Series(lsum, dtype="int64"),
                    "luma_peak": pd.Series(lpeak, dtype="int32"),
                }
            )

    return with_payload.mapInPandas(
        sample_frames,
        "doc_id long, frame_idx int, n_frames int, luma_sum long, luma_peak int",
    )


def encode_wav_pcm8(samples: bytes, rate: int = WAV_RATE) -> bytes:
    """Canonical 44-byte-header PCM WAV container (RIFF/WAVE, `fmt ` +
    `data` chunks, 8-bit unsigned mono) around raw samples — pure stdlib.
    Output is byte-identical to what Python's `wave` module writes for the
    same samples (pinned by test), i.e. a REAL container any audio tool
    opens, not a repo-private framing."""
    import struct

    n = len(samples)
    return b"".join(
        (
            b"RIFF",
            struct.pack("<I", 36 + n),
            b"WAVE",
            b"fmt ",
            # size=16, format=1 (PCM), channels=1, rate, byte_rate,
            # block_align=1, bits_per_sample=8
            struct.pack("<IHHIIHH", 16, 1, 1, rate, rate, 1, 8),
            b"data",
            struct.pack("<I", n),
            samples,
        )
    )


def decode_wav_pcm8(payload: bytes):
    """Genuine RIFF/WAVE parse: validates the RIFF/WAVE magics, walks the
    word-aligned chunk list (tolerating extra chunks like LIST/INFO), reads
    the `fmt ` fields, and decodes the `data` chunk as 8-bit unsigned PCM
    mono samples (numpy uint8 array). This replaced the round-7
    NotImplementedError plug — the audio rung now decodes an actual
    container format end-to-end. Non-PCM8 payloads (compressed codecs,
    multi-channel, 16/24-bit) still raise, documenting the soundfile/
    torchaudio plug point for formats a pure-numpy decoder can't cover."""
    import struct

    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    fmt = data = None
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack("<I", payload[pos + 4 : pos + 8])[0]
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) < size:
            # loud-truncation contract shared with decode_pgm/decode_y4m: a
            # chunk header promising more bytes than the payload carries
            # must not decode silently to a short sample array
            raise ValueError(
                f"truncated {cid!r} chunk: header promises {size} bytes, "
                f"payload carries {len(body)}"
            )
        if cid == b"fmt ":
            if len(body) < 16:  # short fmt must be a parse error, not a crash
                raise ValueError("truncated fmt chunk")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # RIFF chunks are 2-byte aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, n_channels, _rate, _byte_rate, _align, bits = fmt
    if (audio_format, n_channels, bits) != (1, 1, 8):
        raise NotImplementedError(
            "only PCM 8-bit mono is decoded in pure numpy; other formats "
            "require soundfile/torchaudio (production plug point)"
        )
    return np.frombuffer(data, dtype=np.uint8)


def encode_pgm(pixels: bytes, width: int | None = None) -> bytes:
    """Canonical binary Netpbm PGM (P5) container around raw 8-bit
    grayscale pixels — a REAL image format any viewer/ImageMagick opens,
    pure stdlib. Default layout is a single row (width = n, height = 1);
    the emitted comment line exercises parsers' comment handling. PGM has
    no row padding, so the container is byte-lossless for any payload —
    the same property that made the WAV rung's oracle exact."""
    n = len(pixels)
    w = n if width is None else width
    h = (n // w) if w else 0
    if w * h != n:
        raise ValueError(f"width {w} does not tile {n} pixels")
    return f"P5\n# dpas fixture\n{w} {h}\n255\n".encode("ascii") + pixels


def decode_pgm(payload: bytes):
    """Genuine Netpbm P5 parse: magic, then header tokens (width, height,
    maxval) separated by arbitrary whitespace with '#' comments running to
    end-of-line (the real grammar — written by hand here because the
    header is text while the raster is raw), a single whitespace byte,
    then exactly width*height raw bytes. Returns (width, height, maxval,
    numpy uint8 pixels). Refuses other Netpbm flavors (P2 ASCII, P6 color)
    and truncated rasters loudly — those are the PIL plug points."""
    import numpy as np

    if payload[:2] in (b"P2", b"P3"):
        raise NotImplementedError(
            "ASCII Netpbm flavors / compressed formats require PIL (plug "
            "point); binary P5/P6 decode natively (decode_pgm/decode_ppm)"
        )
    if payload[:2] == b"P6":
        raise ValueError("color P6 container: decode via decode_ppm")
    if payload[:2] != b"P5":
        raise ValueError("not a PGM (P5) container")
    pos, tokens = 2, []
    while len(tokens) < 3:
        if pos >= len(payload):
            raise ValueError("truncated PGM header")
        c = payload[pos : pos + 1]
        if c == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
        elif c.isspace():
            pos += 1
        else:
            start = pos
            while pos < len(payload) and not payload[pos : pos + 1].isspace():
                pos += 1
            tokens.append(int(payload[start:pos]))
    pos += 1  # the single whitespace byte after maxval
    w, h, maxval = tokens
    if maxval != 255:
        raise NotImplementedError("only 8-bit (maxval 255) PGM in pure numpy")
    raster = payload[pos : pos + w * h]
    if len(raster) != w * h:
        raise ValueError("truncated PGM raster")
    return w, h, maxval, np.frombuffer(raster, dtype=np.uint8)


@query(
    "q_multimodal_image",
    oracle="""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
),
px AS (
  SELECT doc_id, n,
         CAST(concat('0x', substr(hx, 2 * p + 1, 2)) AS INT) AS byte
  FROM b, (SELECT unnest(generate_series(0, 255)) AS p)
  WHERE n > p
)
SELECT doc_id,
       CAST(n AS INT)            AS width,
       1                         AS height,
       255                       AS maxval,
       CAST(byte // 32 AS INT)   AS bucket,
       CAST(COUNT(*) AS BIGINT)  AS n_pixels
FROM px
GROUP BY doc_id, n, byte // 32
""",
)
def q_multimodal_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image feature extraction over a REAL container format — the WAV
    rung's pattern applied to images: each payload is a genuine binary
    Netpbm PGM file (fixture generation renders the text bytes as a 1-row
    grayscale raster; PGM has no row padding, so the container is
    byte-lossless), decoded back by an actual header parser (magic,
    whitespace/comment-tolerant token scan, maxval check, exact-raster
    length validation — decode_pgm), then mapInPandas computes an 8-bin
    luminance histogram over the first 256 pixels per image — the 1:N
    fan-out and vectorized bincount a real thumbnail/stats pass has.
    Decoded pixels equal the original bytes, so the DuckDB oracle replays
    the histogram byte-exactly from hex(encode(text)). Color formats and
    ASCII Netpbm stay behind decode_pgm's documented PIL plug point."""
    d = table(spark, sf_dir, "documents")
    with_payload = d.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))

    # encode_pgm/decode_pgm twins inlined: worker closures must be
    # self-contained (see the WAV rung's note); the module-level originals
    # are pinned equal to these by the codec tests.
    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def enc(pixels: bytes) -> bytes:
            n = len(pixels)  # h matches module encode_pgm even at n=0
            return f"P5\n# dpas fixture\n{n} {1 if n else 0}\n255\n".encode(
                "ascii"
            ) + pixels

        def dec(payload: bytes):
            if payload[:2] != b"P5":
                raise ValueError("not a PGM (P5) container")
            pos, tokens = 2, []
            while len(tokens) < 3:
                if pos >= len(payload):  # EOF mid-header: raise, never spin
                    raise ValueError("truncated PGM header")
                c = payload[pos : pos + 1]
                if c == b"#":
                    while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                        pos += 1
                elif c.isspace():
                    pos += 1
                else:
                    start = pos
                    while pos < len(payload) and not payload[pos : pos + 1].isspace():
                        pos += 1
                    tokens.append(int(payload[start:pos]))
            pos += 1
            w, h, maxval = tokens
            raster = payload[pos : pos + w * h]
            if len(raster) != w * h:
                raise ValueError("truncated PGM raster")
            return w, h, maxval, np.frombuffer(raster, dtype=np.uint8)

        for pdf in batches:
            doc, wid, hei, mxv, bkt, cnt = [], [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if not len(payload):
                    continue
                w, h, maxval, pixels = dec(enc(bytes(payload)))
                hist = np.bincount(pixels[:256] >> 5, minlength=8)
                for b in range(8):
                    if hist[b]:
                        doc.append(doc_id)
                        wid.append(w)
                        hei.append(h)
                        mxv.append(maxval)
                        bkt.append(b)
                        cnt.append(int(hist[b]))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc, dtype="int64"),
                    "width": pd.Series(wid, dtype="int32"),
                    "height": pd.Series(hei, dtype="int32"),
                    "maxval": pd.Series(mxv, dtype="int32"),
                    "bucket": pd.Series(bkt, dtype="int32"),
                    "n_pixels": pd.Series(cnt, dtype="int64"),
                }
            )

    return with_payload.mapInPandas(
        extract,
        "doc_id long, width int, height int, maxval int, bucket int, n_pixels long",
    )


def encode_ppm(rgb: bytes, width: int | None = None) -> bytes:
    """Canonical binary Netpbm PPM (P6) container around raw interleaved
    RGB triplets — the COLOR sibling of encode_pgm, equally real (any
    viewer/ImageMagick opens it), pure stdlib. `rgb` must hold whole
    pixels (len divisible by 3); default layout is a single row. P6 has
    no row padding or channel alignment, so the container is byte-
    lossless for any whole-pixel payload — the property every multimodal
    oracle in this module rides."""
    n = len(rgb)
    if n % 3:
        raise ValueError(f"{n} bytes do not form whole RGB pixels")
    n_px = n // 3
    w = n_px if width is None else width
    h = (n_px // w) if w else 0
    if w * h != n_px:
        raise ValueError(f"width {w} does not tile {n_px} pixels")
    return f"P6\n# dpas fixture\n{w} {h}\n255\n".encode("ascii") + rgb


def decode_ppm(payload: bytes):
    """Genuine Netpbm P6 parse — the same hand-written header grammar as
    decode_pgm (magic, whitespace/'#'-comment-tolerant token scan, maxval
    check) but the raster carries 3*width*height interleaved RGB bytes.
    Returns (width, height, maxval, numpy uint8 array shaped (pixels, 3)).
    Grayscale P5 routes to decode_pgm; ASCII flavors (P2/P3) and 16-bit
    maxval stay behind the documented PIL plug point; truncated rasters
    raise loudly (the module-wide contract)."""
    import numpy as np

    if payload[:2] in (b"P2", b"P3"):
        raise NotImplementedError(
            "ASCII Netpbm flavors require PIL (plug point); binary P5/P6 "
            "decode natively via decode_pgm/decode_ppm"
        )
    if payload[:2] == b"P5":
        raise ValueError("grayscale P5 container: decode via decode_pgm")
    if payload[:2] != b"P6":
        raise ValueError("not a PPM (P6) container")
    pos, tokens = 2, []
    while len(tokens) < 3:
        if pos >= len(payload):
            raise ValueError("truncated PPM header")
        c = payload[pos : pos + 1]
        if c == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
        elif c.isspace():
            pos += 1
        else:
            start = pos
            while pos < len(payload) and not payload[pos : pos + 1].isspace():
                pos += 1
            tokens.append(int(payload[start:pos]))
    pos += 1  # the single whitespace byte after maxval
    w, h, maxval = tokens
    if maxval != 255:
        raise NotImplementedError("only 8-bit (maxval 255) PPM in pure numpy")
    raster = payload[pos : pos + 3 * w * h]
    if len(raster) != 3 * w * h:
        raise ValueError("truncated PPM raster")
    return w, h, maxval, np.frombuffer(raster, dtype=np.uint8).reshape(w * h, 3)


@query(
    "q_multimodal_color",
    oracle="""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
),
px AS (
  SELECT doc_id, CAST(n // 3 AS INT) AS width, p,
         CAST(concat('0x', substr(hx, 2 * p + 1, 2)) AS INT) AS byte
  FROM b, (SELECT unnest(generate_series(0, 767)) AS p)
  WHERE p < 3 * LEAST(n // 3, 256)
)
SELECT doc_id,
       width,
       1                           AS height,
       255                         AS maxval,
       CAST(p % 3 AS INT)          AS channel,
       CAST(SUM(byte) AS BIGINT)   AS ch_sum,
       CAST(MIN(byte) AS INT)      AS ch_min,
       CAST(MAX(byte) AS INT)      AS ch_max,
       CAST(COUNT(*) AS BIGINT)    AS n_px
FROM px
GROUP BY doc_id, width, p % 3
""",
)
def q_multimodal_color(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLOR image feature extraction over a real container — retires the
    grayscale-only caveat the P5 rung documented: each payload's whole-
    pixel prefix (3 bytes per pixel, sub-pixel tail dropped exactly like
    Y4M's sub-frame tail) is wrapped in a genuine binary Netpbm PPM (P6)
    file and decoded back by an actual parser (encode_ppm / decode_ppm —
    the same hand-written comment-tolerant header grammar as the P5 rung,
    now with a 3-channel interleaved raster), then mapInPandas emits one
    row per (image, channel) with integer per-channel statistics over the
    first 256 pixels — the per-band stats pass a real color thumbnailer
    runs. Interleaved P6 is byte-lossless, so the DuckDB oracle replays
    every channel's sum/min/max from hex(encode(text)) positions p with
    channel = p mod 3. ASCII Netpbm and 16-bit maxval still refuse at
    decode_ppm's documented PIL plug point."""
    d = table(spark, sf_dir, "documents")
    with_payload = d.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))

    # Worker imports the codec from the package zip tune_session ships
    # (the q_multimodal_decode pattern — one definition repo-wide).
    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from data_pipeline_aws_spark.multimodal.media import (
            decode_ppm,
            encode_ppm,
        )

        for pdf in batches:
            doc, wid, hei, mxv, chn, csum, cmin, cmax, npx = ([] for _ in range(9))
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                kept = (len(b) // 3) * 3
                if not kept:
                    continue
                w, h, maxval, px = decode_ppm(encode_ppm(b[:kept]))
                head = px[:256]
                for c in range(3):
                    col = head[:, c]
                    doc.append(doc_id)
                    wid.append(w)
                    hei.append(h)
                    mxv.append(maxval)
                    chn.append(c)
                    csum.append(int(col.sum()))
                    cmin.append(int(col.min()))
                    cmax.append(int(col.max()))
                    npx.append(len(col))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc, dtype="int64"),
                    "width": pd.Series(wid, dtype="int32"),
                    "height": pd.Series(hei, dtype="int32"),
                    "maxval": pd.Series(mxv, dtype="int32"),
                    "channel": pd.Series(chn, dtype="int32"),
                    "ch_sum": pd.Series(csum, dtype="int64"),
                    "ch_min": pd.Series(cmin, dtype="int32"),
                    "ch_max": pd.Series(cmax, dtype="int32"),
                    "n_px": pd.Series(npx, dtype="int64"),
                }
            )

    return with_payload.mapInPandas(
        extract,
        "doc_id long, width int, height int, maxval int, channel int, "
        "ch_sum long, ch_min int, ch_max int, n_px long",
    )


PNG_W = 16  # fixture raster width for the compressed-image (PNG) rung
PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    """The Paeth predictor (PNG spec §9.4) — exact integer arithmetic."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data))
    )


def encode_png(raw: bytes, width: int = PNG_W, channels: int = 1) -> bytes:
    """Genuine, pure-stdlib PNG encoder — the first COMPRESSED container
    in the module (zlib deflate is stdlib; everything else here is a raw
    container). 8-bit grayscale (color type 0) or truecolor RGB (type 2),
    non-interlaced. Each scanline's filter type cycles 0..4 with the row
    index, so a decoder of this fixture must implement ALL FIVE
    reconstruction rules (None/Sub/Up/Average/Paeth) — a filter-0-only
    shortcut decodes the second row wrong. Output opens in any viewer.
    `raw` must tile whole rows of width*channels bytes."""
    import struct
    import zlib

    bpp = channels
    stride = width * bpp
    if channels not in (1, 3):
        raise ValueError("channels must be 1 (grayscale) or 3 (RGB)")
    if stride == 0 or len(raw) % stride:
        raise ValueError(f"{len(raw)} bytes do not tile rows of {stride}")
    h = len(raw) // stride
    ihdr = struct.pack(">IIBBBBB", width, h, 8, 0 if channels == 1 else 2, 0, 0, 0)
    prior = bytes(stride)
    filtered = bytearray()
    for r in range(h):
        row = raw[r * stride : (r + 1) * stride]
        f = r % 5
        filtered.append(f)
        for i in range(stride):
            x = row[i]
            a = row[i - bpp] if i >= bpp else 0
            b = prior[i]
            c = prior[i - bpp] if i >= bpp else 0
            if f == 0:
                v = x
            elif f == 1:
                v = x - a
            elif f == 2:
                v = x - b
            elif f == 3:
                v = x - (a + b) // 2
            else:
                v = x - _paeth(a, b, c)
            filtered.append(v & 0xFF)
        prior = row
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(filtered), 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes):
    """Genuine PNG decode, pure stdlib: signature check, chunk walk with
    CRC32 verification on EVERY chunk, IHDR field validation, IDAT
    concatenation (multi-IDAT streams are legal and handled), zlib
    inflate, then per-scanline filter reconstruction — None/Sub/Up/
    Average/Paeth, exactly the PNG spec's integer rules. Returns
    (width, height, channels, numpy uint8 array of w*h*channels bytes).

    Refusals are the module-wide loud contract: Adam7 interlace, palette
    (color type 3), alpha (4/6) and 16-bit depth raise NotImplementedError
    at the documented PIL plug point; CRC mismatches, truncated chunks,
    short inflate output, and unknown filter types raise ValueError —
    never a silently short raster."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG stream")
    pos, ihdr, ended = 8, None, False
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) < length or pos + 12 + length > len(payload):
            raise ValueError(
                f"truncated {ctype!r} chunk: header promises {length} bytes"
            )
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(ctype + data) != crc:
            raise ValueError(f"CRC mismatch in {ctype!r} chunk")
        if ctype == b"IHDR":
            w, h, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if interlace:
                raise NotImplementedError(
                    "Adam7 interlaced PNG requires PIL (plug point)"
                )
            if depth != 8 or color not in (0, 2):
                raise NotImplementedError(
                    "only 8-bit grayscale/truecolor PNG in pure stdlib; "
                    "palette/alpha/16-bit require PIL (plug point)"
                )
            ihdr = (w, h, 1 if color == 0 else 3)
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            ended = True
            break
        pos += 12 + length
    if ihdr is None or not ended:
        raise ValueError("missing IHDR/IEND chunk")
    w, h, channels = ihdr
    raw = zlib.decompress(bytes(idat))
    bpp = channels
    stride = w * bpp
    if len(raw) != h * (1 + stride):
        raise ValueError(
            f"inflated stream is {len(raw)} bytes; {h} rows of "
            f"1+{stride} expected"
        )
    out = np.empty((max(h, 1), stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.int32)
    for r in range(h):
        f = raw[r * (1 + stride)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=r * (1 + stride) + 1
        ).astype(np.int32)
        if f == 0:
            recon = line
        elif f == 2:
            recon = (line + prior) & 0xFF
        elif f == 1:
            recon = line.copy()
            for i in range(bpp, stride):
                recon[i] = (recon[i] + recon[i - bpp]) & 0xFF
        elif f == 3:
            recon = line.copy()
            for i in range(stride):
                a = recon[i - bpp] if i >= bpp else 0
                recon[i] = (recon[i] + (int(a) + int(prior[i])) // 2) & 0xFF
        elif f == 4:
            recon = line.copy()
            for i in range(stride):
                a = int(recon[i - bpp]) if i >= bpp else 0
                c = int(prior[i - bpp]) if i >= bpp else 0
                recon[i] = (recon[i] + _paeth(a, int(prior[i]), c)) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {f}")
        out[r] = recon.astype(np.uint8)
        prior = recon
    return w, h, channels, out.reshape(-1)[: h * stride]


@query(
    "q_multimodal_png",
    oracle=f"""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
),
d AS (
  SELECT doc_id, hx,
         (n // {PNG_W}) * {PNG_W} AS kept,
         n // {PNG_W}             AS h
  FROM b
),
px AS (
  SELECT doc_id, h,
         CAST(concat('0x', substr(hx, 2 * p.p + 1, 2)) AS INT) AS byte
  FROM d, unnest(generate_series(0, kept - 1)) p(p)
)
SELECT doc_id,
       {PNG_W}                   AS width,
       CAST(h AS INT)            AS height,
       CAST(byte // 32 AS INT)   AS bucket,
       CAST(COUNT(*) AS BIGINT)  AS n_pixels
FROM px
GROUP BY doc_id, h, byte // 32
""",
)
def q_multimodal_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED image decode over a real codec — retires the 'compressed
    formats refuse' caveat for one genuinely compressed container: each
    payload's whole-row prefix is encoded as a real non-interlaced 8-bit
    grayscale PNG (stdlib zlib deflate; per-row filters cycling through
    None/Sub/Up/Average/Paeth so every reconstruction rule executes) and
    decoded back by an actual chunk-walking, CRC-checking, inflating,
    filter-reconstructing parser (encode_png / decode_png), then
    mapInPandas emits the 8-bin luminance histogram over the decoded
    raster. PNG is pixel-lossless, so the DuckDB oracle replays the
    histogram byte-exactly from hex(encode(text)) over the first
    16*(n div 16) bytes — the hash can only match if inflate AND all five
    filter reconstructions are exact. Palette/alpha/16-bit/interlaced
    PNGs and JPEG/video stay behind the documented PIL/ffmpeg plug
    points.

    Scale shape: identical to the other multimodal rungs — Arrow-batched
    mapInPandas, per-partition decode, zero driver involvement; payloads
    ride Parquet BYTE_ARRAY columns and prune away from queries that
    don't touch them. The scan is spread (tables.spread: layout-gated
    round-robin repartition, no-op on any >=cores-row-group layout) so the
    deflate+inflate+filter-reconstruction Python work parallelizes on the
    single-row-group bench fixture instead of running in one Python
    worker — measured 2.7 s -> 0.57 s isolated at sf0.1."""
    d = table(spark, sf_dir, "documents", spread_scan=True)
    with_payload = d.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )

    # Worker imports the codec from the package zip tune_session ships
    # (the q_multimodal_decode pattern — one definition repo-wide).
    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from data_pipeline_aws_spark.multimodal.media import (
            PNG_W,
            decode_png,
            encode_png,
        )

        for pdf in batches:
            doc, wid, hei, bkt, cnt = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                kept = (len(b) // PNG_W) * PNG_W
                if not kept:
                    continue
                w, h, _channels, pixels = decode_png(encode_png(b[:kept]))
                hist = np.bincount(pixels >> 5, minlength=8)
                for bk in range(8):
                    if hist[bk]:
                        doc.append(doc_id)
                        wid.append(w)
                        hei.append(h)
                        bkt.append(bk)
                        cnt.append(int(hist[bk]))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc, dtype="int64"),
                    "width": pd.Series(wid, dtype="int32"),
                    "height": pd.Series(hei, dtype="int32"),
                    "bucket": pd.Series(bkt, dtype="int32"),
                    "n_pixels": pd.Series(cnt, dtype="int64"),
                }
            )

    return with_payload.mapInPandas(
        extract,
        "doc_id long, width int, height int, bucket int, n_pixels long",
    )


def encode_y4m(samples: bytes, w: int = Y4M_W, h: int = Y4M_H) -> bytes:
    """Canonical YUV4MPEG2 (Y4M) container around raw monochrome frames —
    a REAL uncompressed video format (mpv/ffmpeg open it directly), pure
    stdlib. `Cmono` colorspace makes each frame exactly w*h luma bytes
    (no chroma planes, no padding — byte-lossless for the frames kept);
    trailing bytes that don't fill a frame are dropped, mirroring how a
    fixture clip ends on its last whole frame."""
    n_frames = len(samples) // (w * h)
    head = f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 Cmono\n".encode("ascii")
    body = b"".join(
        b"FRAME\n" + samples[i * w * h : (i + 1) * w * h] for i in range(n_frames)
    )
    return head + body


def decode_y4m(payload: bytes):
    """Genuine Y4M parse: the `YUV4MPEG2` magic, space-separated stream
    parameters (W/H required, C colorspace checked, unknown tags like
    X-metadata tolerated per spec), then a FRAME walk — each `FRAME`
    marker may carry its own parameters up to the newline, followed by
    exactly one frame of raw planes. Returns (w, h, [numpy uint8 frame
    arrays]). Non-mono colorspaces (C420 etc. — the chroma-plane formats)
    refuse at the documented ffmpeg plug point; a truncated frame raises."""
    import numpy as np

    if not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 container")
    nl = payload.find(b"\n")
    if nl < 0:
        raise ValueError("truncated Y4M stream header")
    w = h = None
    cspace = "420"  # the Y4M default when no C tag is present
    for tag in payload[9:nl].split(b" "):
        if not tag:
            continue
        key, val = tag[:1], tag[1:]
        if key == b"W":
            w = int(val)
        elif key == b"H":
            h = int(val)
        elif key == b"C":
            cspace = val.decode("ascii")
        # F/I/A/X tags are valid stream parameters this decoder can ignore
    if not w or not h:
        raise ValueError("Y4M header missing W/H")
    if cspace.startswith("420"):
        raise ValueError("4:2:0 chroma stream: decode via decode_y4m_420")
    if cspace != "mono":
        raise NotImplementedError(
            "only Cmono (here) and the C420 family (decode_y4m_420) are "
            "decoded in pure numpy; other chroma layouts and compressed "
            "video require ffmpeg (production plug point)"
        )
    frames = []
    pos = nl + 1
    size = w * h
    while pos < len(payload):
        if payload[pos : pos + 5] != b"FRAME":
            raise ValueError("missing FRAME marker")
        fnl = payload.find(b"\n", pos)
        if fnl < 0:
            raise ValueError("truncated FRAME header")
        raster = payload[fnl + 1 : fnl + 1 + size]
        if len(raster) != size:
            raise ValueError("truncated frame")
        frames.append(np.frombuffer(raster, dtype=np.uint8))
        pos = fnl + 1 + size
    return w, h, frames


@query(
    "q_multimodal_video",
    oracle=f"""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
),
fr AS (
  SELECT doc_id, hx, n, f.f AS frame_idx
  FROM b, unnest(generate_series(0, n // {Y4M_W * Y4M_H} - 1)) f(f)
),
px AS (
  SELECT doc_id, frame_idx,
         CAST(concat('0x', substr(hx, 2 * (frame_idx * {Y4M_W * Y4M_H} + p.p) + 1, 2))
              AS INT) AS byte
  FROM fr, unnest(generate_series(0, {Y4M_W * Y4M_H - 1})) p(p)
)
SELECT doc_id,
       CAST(frame_idx AS INT)                        AS frame_idx,
       {Y4M_W}                                       AS width,
       {Y4M_H}                                       AS height,
       CAST(SUM(byte) AS BIGINT)                     AS luma_sum,
       CAST(MAX(byte) AS INT)                        AS luma_peak
FROM px
GROUP BY doc_id, frame_idx
""",
)
def q_multimodal_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video feature extraction over a REAL container format — the third
    real codec rung (WAV audio, PGM image, now Y4M video): each payload is
    a genuine YUV4MPEG2 clip (fixture renders the text bytes as 8x8
    monochrome frames — Cmono frames are exactly w*h bytes, so the kept
    frames are byte-lossless), decoded by an actual parser (magic, stream
    parameter tags with unknown-tag tolerance, per-FRAME marker walk,
    exact-raster validation — decode_y4m), then mapInPandas emits one row
    per frame with integer luma statistics — the 1:N frame fan-out a real
    ffmpeg keyframe sampler has (q_multimodal_framesample's shape, now
    over a real container). Integer sums are cross-engine exact, so the
    DuckDB oracle replays every frame's stats from hex(encode(text)).
    Chroma-plane colorspaces and compressed codecs refuse at decode_y4m's
    documented ffmpeg plug point."""
    d = table(spark, sf_dir, "documents")
    with_payload = d.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    w_, h_ = Y4M_W, Y4M_H

    # encode_y4m/decode_y4m twins inlined: worker closures must be
    # self-contained (the WAV rung's note); pinned equal by the codec test.
    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        size = w_ * h_

        def enc(samples: bytes) -> bytes:
            n_frames = len(samples) // size
            head = f"YUV4MPEG2 W{w_} H{h_} F25:1 Ip A1:1 Cmono\n".encode("ascii")
            return head + b"".join(
                b"FRAME\n" + samples[i * size : (i + 1) * size]
                for i in range(n_frames)
            )

        def dec(payload: bytes):
            if not payload.startswith(b"YUV4MPEG2"):
                raise ValueError("not a YUV4MPEG2 container")
            nl = payload.find(b"\n")
            if nl < 0:
                raise ValueError("truncated Y4M stream header")
            frames, pos = [], nl + 1
            while pos < len(payload):
                if payload[pos : pos + 5] != b"FRAME":
                    raise ValueError("missing FRAME marker")
                fnl = payload.find(b"\n", pos)
                if fnl < 0:
                    raise ValueError("truncated FRAME header")
                raster = payload[fnl + 1 : fnl + 1 + size]
                if len(raster) != size:
                    raise ValueError("truncated frame")
                frames.append(np.frombuffer(raster, dtype=np.uint8))
                pos = fnl + 1 + size
            return frames

        for pdf in batches:
            doc, idx, lsum, lpeak = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                for i, frame in enumerate(dec(enc(bytes(payload)))):
                    doc.append(doc_id)
                    idx.append(i)
                    lsum.append(int(frame.sum()))
                    lpeak.append(int(frame.max()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc, dtype="int64"),
                    "frame_idx": pd.Series(idx, dtype="int32"),
                    "width": pd.Series([w_] * len(doc), dtype="int32"),
                    "height": pd.Series([h_] * len(doc), dtype="int32"),
                    "luma_sum": pd.Series(lsum, dtype="int64"),
                    "luma_peak": pd.Series(lpeak, dtype="int32"),
                }
            )

    return with_payload.mapInPandas(
        extract,
        "doc_id long, frame_idx int, width int, height int, luma_sum long, luma_peak int",
    )


def encode_y4m_420(samples: bytes, w: int = Y4M_W, h: int = Y4M_H) -> bytes:
    """Canonical YUV4MPEG2 container in the C420 colorspace — the format's
    DEFAULT planar layout (every real-world Y4M from ffmpeg is 4:2:0):
    each frame is w*h luma bytes followed by two (w/2)*(h/2) subsampled
    chroma planes (U then V), 3/2 * w*h bytes total. The payload bytes
    fill the planes in stream order, so kept frames stay byte-lossless;
    the sub-frame tail is dropped (the Cmono rung's convention)."""
    if w % 2 or h % 2:
        raise ValueError("C420 needs even frame dimensions")
    fs = w * h + 2 * ((w // 2) * (h // 2))
    n_frames = len(samples) // fs
    head = f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C420\n".encode("ascii")
    return head + b"".join(
        b"FRAME\n" + samples[i * fs : (i + 1) * fs] for i in range(n_frames)
    )


def decode_y4m_420(payload: bytes):
    """Genuine Y4M parse for the 4:2:0 chroma-plane family — retires the
    'chroma colorspaces refuse' caveat the Cmono rung documented: the same
    stream-parameter grammar as decode_y4m (W/H required, unknown tags
    tolerated), but the C tag must name a 420 variant (C420, C420jpeg,
    C420mpeg2, C420paldv — all share the plane geometry; they differ only
    in chroma SITING, which moves no bytes), and each FRAME carries three
    planes: w*h luma, then two (w/2)*(h/2) chroma. Returns (w, h,
    [(y, u, v) numpy uint8 plane triples]). Cmono routes to decode_y4m;
    4:2:2 / 4:4:4 and compressed codecs stay behind the documented ffmpeg
    plug point; truncated frames raise loudly."""
    import numpy as np

    if not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 container")
    nl = payload.find(b"\n")
    if nl < 0:
        raise ValueError("truncated Y4M stream header")
    w = h = None
    cspace = "420"  # the Y4M default when no C tag is present
    for tag in payload[9:nl].split(b" "):
        if not tag:
            continue
        key, val = tag[:1], tag[1:]
        if key == b"W":
            w = int(val)
        elif key == b"H":
            h = int(val)
        elif key == b"C":
            cspace = val.decode("ascii")
    if not w or not h:
        raise ValueError("Y4M header missing W/H")
    if cspace == "mono":
        raise ValueError("Cmono stream: decode via decode_y4m")
    if not cspace.startswith("420"):
        raise NotImplementedError(
            "only the 4:2:0 plane family is decoded in pure numpy; 4:2:2/"
            "4:4:4 and compressed video require ffmpeg (production plug point)"
        )
    if w % 2 or h % 2:
        raise ValueError("C420 needs even frame dimensions")
    ys, cs = w * h, (w // 2) * (h // 2)
    fs = ys + 2 * cs
    frames = []
    pos = nl + 1
    while pos < len(payload):
        if payload[pos : pos + 5] != b"FRAME":
            raise ValueError("missing FRAME marker")
        fnl = payload.find(b"\n", pos)
        if fnl < 0:
            raise ValueError("truncated FRAME header")
        raster = payload[fnl + 1 : fnl + 1 + fs]
        if len(raster) != fs:
            raise ValueError("truncated frame")
        arr = np.frombuffer(raster, dtype=np.uint8)
        frames.append((arr[:ys], arr[ys : ys + cs], arr[ys + cs :]))
        pos = fnl + 1 + fs
    return w, h, frames


_C420_FS = Y4M_W * Y4M_H + 2 * ((Y4M_W // 2) * (Y4M_H // 2))  # 96 for 8x8
_C420_YS = Y4M_W * Y4M_H  # 64
_C420_CS = (Y4M_W // 2) * (Y4M_H // 2)  # 16


@query(
    "q_multimodal_chroma",
    oracle=f"""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
),
fr AS (
  SELECT doc_id, hx, f.f AS frame_idx
  FROM b, unnest(generate_series(0, n // {_C420_FS} - 1)) f(f)
),
px AS (
  SELECT doc_id, frame_idx, p.p AS p,
         CAST(concat('0x', substr(hx, 2 * (frame_idx * {_C420_FS} + p.p) + 1, 2))
              AS INT) AS byte
  FROM fr, unnest(generate_series(0, {_C420_FS - 1})) p(p)
)
SELECT doc_id,
       CAST(frame_idx AS INT)  AS frame_idx,
       {Y4M_W}                 AS width,
       {Y4M_H}                 AS height,
       CAST(SUM(CASE WHEN p < {_C420_YS} THEN byte END) AS BIGINT)  AS y_sum,
       CAST(SUM(CASE WHEN p >= {_C420_YS} AND p < {_C420_YS + _C420_CS}
                     THEN byte END) AS BIGINT)                      AS u_sum,
       CAST(SUM(CASE WHEN p >= {_C420_YS + _C420_CS} THEN byte END)
            AS BIGINT)                                              AS v_sum,
       CAST(MAX(CASE WHEN p < {_C420_YS} THEN byte END) AS INT)     AS y_peak
FROM px
GROUP BY doc_id, frame_idx
""",
)
def q_multimodal_chroma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chroma-plane video feature extraction over a real container — the
    C420 rung the Cmono parser pointed at: each payload is a genuine
    YUV4MPEG2 clip in the format's DEFAULT 4:2:0 planar colorspace (8x8
    luma + two 4x4 subsampled chroma planes per frame, 96 bytes — what
    ffmpeg emits for `-pix_fmt yuv420p`), decoded by a real parser
    (encode_y4m_420 / decode_y4m_420 — stream-tag grammar, 420-family C
    check, per-FRAME three-plane walk, exact-raster validation), then
    mapInPandas emits one row per frame with integer per-PLANE statistics
    — the luma/chroma split a real video-quality or shot-detection pass
    reads. Plane fill is byte-lossless in stream order, so the DuckDB
    oracle replays every plane's sums from hex(encode(text)) byte
    positions (p < 64 luma, 64-79 U, 80-95 V within each 96-byte frame).
    Non-420 chroma and compressed codecs still refuse at decode_y4m_420's
    documented ffmpeg plug point."""
    d = table(spark, sf_dir, "documents")
    with_payload = d.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from data_pipeline_aws_spark.multimodal.media import (
            Y4M_H,
            Y4M_W,
            decode_y4m_420,
            encode_y4m_420,
        )

        for pdf in batches:
            doc, idx, ysum, usum, vsum, ypeak = ([] for _ in range(6))
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                _w, _h, frames = decode_y4m_420(encode_y4m_420(bytes(payload)))
                for i, (y, u, v) in enumerate(frames):
                    doc.append(doc_id)
                    idx.append(i)
                    ysum.append(int(y.sum()))
                    usum.append(int(u.sum()))
                    vsum.append(int(v.sum()))
                    ypeak.append(int(y.max()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc, dtype="int64"),
                    "frame_idx": pd.Series(idx, dtype="int32"),
                    "width": pd.Series([Y4M_W] * len(doc), dtype="int32"),
                    "height": pd.Series([Y4M_H] * len(doc), dtype="int32"),
                    "y_sum": pd.Series(ysum, dtype="int64"),
                    "u_sum": pd.Series(usum, dtype="int64"),
                    "v_sum": pd.Series(vsum, dtype="int64"),
                    "y_peak": pd.Series(ypeak, dtype="int32"),
                }
            )

    return with_payload.mapInPandas(
        extract,
        "doc_id long, frame_idx int, width int, height int, "
        "y_sum long, u_sum long, v_sum long, y_peak int",
    )


def decode_audio(payload: bytes) -> "object":
    """Audio decode entry point: genuine pure-numpy path for RIFF/WAVE
    8-bit PCM (see decode_wav_pcm8); anything else needs soundfile."""
    try:
        return decode_wav_pcm8(payload)
    except (ValueError, NotImplementedError):
        pass
    try:
        import soundfile  # noqa: F401
    except ImportError as exc:  # pragma: no cover - env without codecs
        raise NotImplementedError(
            "non-WAV-PCM8 audio decode requires soundfile/torchaudio"
        ) from exc
    raise NotImplementedError("wire the soundfile decode here when the codec lands")


@query(
    "q_multimodal_audio",
    oracle="""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
),
samples AS (
  SELECT doc_id, p,
         CAST(concat('0x', substr(hx, 2 * p + 1, 2)) AS INT) AS byte
  FROM b, (SELECT unnest(generate_series(0, 255)) AS p)
  WHERE n > p
)
SELECT
  doc_id,
  CAST(p // 64 AS INT)                  AS window_idx,
  CAST(COUNT(*) AS INT)                 AS n_samples,
  ROUND(SQRT(AVG(POW(byte, 2))), 4)     AS rms,
  CAST(MAX(byte) AS INT)                AS peak
FROM samples
GROUP BY doc_id, window_idx
""",
)
def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction over a REAL container format: each payload
    is a genuine RIFF/WAVE 8-bit-PCM-mono file (fixture generation wraps
    the text bytes as samples — the testdata has no recordings, so the
    container is built in-flight by the same canonical writer the `wave`
    stdlib module produces byte-identically), decoded back by an actual
    chunk-walking RIFF parser (magics validated, fmt fields checked, data
    chunk located by walk — decode_wav_pcm8), then mapInPandas computes
    windowed DSP features (RMS energy, peak) over fixed 64-sample windows
    of the first 256 samples — the 1:N row fan-out and vectorized numpy
    inner loop a real torchaudio/librosa featurizer has. Decoded samples
    equal the original bytes (PCM is lossless), so the byte-exact DuckDB
    oracle is unchanged. RMS is deterministic cross-engine: integer
    samples sum exactly in float64 and /64 is a power-of-two divide.
    Compressed codecs swap decode_wav_pcm8 for soundfile; schema,
    batching, and plan stay."""
    d = table(spark, sf_dir, "documents")
    with_payload = d.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))

    # encode_wav_pcm8/decode_wav_pcm8 twins inlined: worker closures must be
    # self-contained (module-ref pickling needs the package on executor
    # PYTHONPATH — absent under the driver's un-tuned smoke session); the
    # module-level originals are pinned equal to these by the codec test.
    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import numpy as np

        def enc(samples: bytes, rate: int = 8000) -> bytes:
            n = len(samples)
            return b"".join(
                (
                    b"RIFF", struct.pack("<I", 36 + n), b"WAVE",
                    b"fmt ", struct.pack("<IHHIIHH", 16, 1, 1, rate, rate, 1, 8),
                    b"data", struct.pack("<I", n), samples,
                )
            )

        def dec(payload: bytes) -> np.ndarray:
            if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
                raise ValueError("not a RIFF/WAVE container")
            fmt = data = None
            pos = 12
            while pos + 8 <= len(payload):
                cid = payload[pos : pos + 4]
                size = struct.unpack("<I", payload[pos + 4 : pos + 8])[0]
                body = payload[pos + 8 : pos + 8 + size]
                if cid == b"fmt ":
                    fmt = struct.unpack("<HHIIHH", body[:16])
                elif cid == b"data":
                    data = body
                pos += 8 + size + (size & 1)
            if fmt is None or data is None:
                raise ValueError("missing fmt/data chunk")
            if (fmt[0], fmt[1], fmt[5]) != (1, 1, 8):
                raise NotImplementedError("only PCM 8-bit mono in pure numpy")
            return np.frombuffer(data, dtype=np.uint8)

        win, n_win = 64, 4
        for pdf in batches:
            docs, widx, nsamp, rms, peak = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                wav = enc(bytes(payload))
                samples = dec(wav)[: win * n_win].astype(np.float64)
                for w in range(n_win):
                    seg = samples[w * win : (w + 1) * win]
                    if seg.size == 0:
                        break
                    docs.append(doc_id)
                    widx.append(w)
                    nsamp.append(seg.size)
                    rms.append(round(float(np.sqrt(np.mean(seg * seg))), 4))
                    peak.append(int(seg.max()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(docs, dtype="int64"),
                    "window_idx": pd.Series(widx, dtype="int32"),
                    "n_samples": pd.Series(nsamp, dtype="int32"),
                    "rms": pd.Series(rms, dtype="float64"),
                    "peak": pd.Series(peak, dtype="int32"),
                }
            )

    return with_payload.mapInPandas(
        extract, "doc_id long, window_idx int, n_samples int, rms double, peak int"
    )


def encode_wav_mulaw(codes: bytes, rate: int = WAV_RATE) -> bytes:
    """G.711 µ-law WAV container (RIFF format tag 7) around raw µ-law code
    bytes — the telephony COMPRESSION standard (logarithmic companding:
    8-bit codes carry 14-bit dynamic range, the 2:1 rung below ADPCM/MP3).
    Non-PCM WAV requires a `fact` chunk carrying the per-channel sample
    count; it is written here and cross-validated by the decoder. The code
    bytes are stored verbatim (µ-law's compressed form IS the byte stream),
    so the container is byte-lossless for the codes while the decoded
    waveform exercises a genuine lossy-codec expansion."""
    import struct

    n = len(codes)
    return b"".join(
        (
            b"RIFF",
            struct.pack("<I", 4 + (8 + 18) + (8 + 4) + (8 + n + (n & 1))),
            b"WAVE",
            b"fmt ",
            # size=18, format=7 (mulaw), mono, rate, byte_rate=rate,
            # block_align=1, bits=8, cbSize=0 (non-PCM fmt carries cbSize)
            struct.pack("<IHHIIHHH", 18, 7, 1, rate, rate, 1, 8, 0),
            b"fact",
            struct.pack("<II", 4, n),
            b"data",
            struct.pack("<I", n),
            codes,
            b"\x00" * (n & 1),  # RIFF 2-byte chunk alignment
        )
    )


def decode_wav_mulaw(payload: bytes):
    """Genuine G.711 µ-law WAV decode, pure numpy: RIFF walk (magics, fmt
    tag 7 with its 18-byte non-PCM layout, `fact` sample count
    cross-checked against the data chunk — a mismatch is a LOUD error,
    never a silently short waveform), then the CCITT expansion
        u = ~code;  t = (((u & 15) << 3) + 0x84) << ((u >> 4) & 7)
        sample = 0x84 - t  if sign bit else  t - 0x84
    vectorized over the whole code array. Returns int32 samples in
    [-32124, 32124]. PCM payloads route to decode_wav_pcm8; ADPCM/MP3/AAC
    refuse at the documented soundfile/torchaudio plug point."""
    import struct

    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    fmt = data = fact_n = None
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack("<I", payload[pos + 4 : pos + 8])[0]
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError(
                f"truncated {cid!r} chunk: header promises {size} bytes, "
                f"payload carries {len(body)}"
            )
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("truncated fmt chunk")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"fact":
            (fact_n,) = struct.unpack("<I", body[:4])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, n_channels, _rate, _byte_rate, _align, bits = fmt
    if audio_format == 1:
        raise ValueError("PCM container: decode via decode_wav_pcm8")
    if (audio_format, n_channels, bits) != (7, 1, 8):
        raise NotImplementedError(
            "only G.711 mu-law mono is expanded in pure numpy; ADPCM/MP3/"
            "AAC require soundfile/torchaudio (production plug point)"
        )
    if fact_n is None:
        raise ValueError("non-PCM WAV without the mandatory fact chunk")
    if fact_n != len(data):
        raise ValueError(
            f"fact chunk promises {fact_n} samples, data carries {len(data)}"
        )
    u = (~np.frombuffer(data, dtype=np.uint8)) & 0xFF
    t = (((u.astype(np.int32) & 0x0F) << 3) + 0x84) << ((u >> 4) & 0x07)
    return np.where(u & 0x80, 0x84 - t, t - 0x84)


@query(
    "q_multimodal_mulaw",
    oracle="""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
),
code AS (
  SELECT doc_id,
         xor(CAST(concat('0x', substr(hx, 2 * p.p + 1, 2)) AS INT), 255) AS u
  FROM b, unnest(generate_series(0, n - 1)) p(p)
),
dec AS (
  SELECT doc_id,
         CASE WHEN (u & 128) != 0
              THEN 132 - (((u & 15) * 8 + 132) * (1 << ((u & 112) // 16)))
              ELSE (((u & 15) * 8 + 132) * (1 << ((u & 112) // 16))) - 132
         END AS sample
  FROM code
)
SELECT doc_id,
       CAST((sample + 32768) // 8192 AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT)              AS n_samples,
       CAST(SUM(sample) AS BIGINT)           AS amp_sum
FROM dec
GROUP BY doc_id, bucket
""",
)
def q_multimodal_mulaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED audio decode over a real codec — the audio twin of the
    PNG rung: each payload's bytes are wrapped as a genuine G.711 µ-law
    WAV (format tag 7 + mandatory fact chunk), decoded by an actual
    RIFF-walking, fact-validating, CCITT-expanding parser
    (encode_wav_mulaw / decode_wav_mulaw), then mapInPandas emits the
    8-bin amplitude histogram with integer amplitude sums over the decoded
    14-bit-dynamic-range waveform. µ-law stores its compressed form as the
    code bytes themselves, so the DuckDB oracle replays the expansion
    closed-form from hex(encode(text)) — the hash can only match if the
    container walk AND the companding arithmetic are bit-exact. ADPCM and
    perceptual codecs (MP3/AAC) stay behind the documented soundfile plug
    point.

    Scale shape: identical to the other multimodal rungs — Arrow-batched
    mapInPandas, vectorized numpy expansion per batch, zero driver
    involvement, payload columns prune away from non-audio queries. The
    scan is spread (tables.spread: layout-gated round-robin repartition,
    no-op on any >=cores-row-group layout) so the companding arithmetic
    parallelizes on the single-row-group bench fixture."""
    d = table(spark, sf_dir, "documents", spread_scan=True)
    with_payload = d.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )

    # Worker imports the codec from the package zip tune_session ships
    # (the q_multimodal_png pattern — one definition repo-wide).
    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from data_pipeline_aws_spark.multimodal.media import (
            decode_wav_mulaw,
            encode_wav_mulaw,
        )

        for pdf in batches:
            doc, bkt, cnt, amp = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                if not b:
                    continue
                samples = decode_wav_mulaw(encode_wav_mulaw(b))
                buckets = (samples + 32768) // 8192
                for bk in range(8):
                    mask = buckets == bk
                    n = int(mask.sum())
                    if n:
                        doc.append(doc_id)
                        bkt.append(bk)
                        cnt.append(n)
                        amp.append(int(samples[mask].sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc, dtype="int64"),
                    "bucket": pd.Series(bkt, dtype="int32"),
                    "n_samples": pd.Series(cnt, dtype="int64"),
                    "amp_sum": pd.Series(amp, dtype="int64"),
                }
            )

    return with_payload.mapInPandas(
        extract, "doc_id long, bucket int, n_samples long, amp_sum long"
    )


GIF_W = 16  # fixture raster width for the LZW-compressed (GIF) rung


def _lzw_encode_gif(indices: bytes, min_code_size: int = 8) -> bytes:
    """GIF-variant LZW compression of an index stream, pure stdlib: codes
    packed LSB-first with the growing code width (min+1 … 12 bits), CLEAR
    emitted first and again on dictionary overflow at 4096 (the spec's
    reset protocol), END terminating the stream. Greedy longest-match via
    a dict keyed on (prefix_code, next_byte) — O(n), no string concat."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    acc = n_bits = 0

    def emit(code: int, size: int) -> None:
        nonlocal acc, n_bits
        acc |= code << n_bits
        n_bits += size
        while n_bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            n_bits -= 8

    def fresh():
        return {}, end + 1, min_code_size + 1

    table, next_code, size = fresh()
    emit(clear, size)
    prev = -1
    for b in indices:
        if prev < 0:
            prev = b
            continue
        key = (prev, b)
        if key in table:
            prev = table[key]
            continue
        emit(prev, size)
        table[key] = next_code
        next_code += 1
        if next_code - 1 == (1 << size) and size < 12:
            size += 1
        prev = b
        if next_code > 4095:
            emit(clear, size)
            table, next_code, size = fresh()
    if prev >= 0:
        emit(prev, size)
    emit(end, size)
    if n_bits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode_gif(data: bytes, min_code_size: int = 8) -> bytes:
    """Inverse of _lzw_encode_gif: LSB-first code reader with the growing
    width, CLEAR/END handling, and the KwKwK (code == next_code) case.
    Loud ValueError on out-of-range codes or a stream missing END."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    pos = 0  # bit cursor

    def read(size: int) -> int:
        nonlocal pos
        if pos + size > len(data) * 8:
            raise ValueError("LZW stream ended without END code")
        code = 0
        for i in range(size):
            byte = data[(pos + i) >> 3]
            code |= ((byte >> ((pos + i) & 7)) & 1) << i
        pos += size
        return code

    table: list[bytes] = []
    size = min_code_size + 1
    prev_seq = b""
    while True:
        code = read(size)
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            size = min_code_size + 1
            prev_seq = b""
            continue
        if code == end:
            return bytes(out)
        if not table:
            raise ValueError("LZW data before any CLEAR code")
        if code < len(table) and code != clear + 1:
            seq = table[code]
        elif code == len(table) and prev_seq:
            seq = prev_seq + prev_seq[:1]  # the KwKwK case
        else:
            raise ValueError(f"out-of-range LZW code {code}")
        out.extend(seq)
        if prev_seq:
            table.append(prev_seq + seq[:1])
            # decoder grows width one step EARLIER than the encoder's
            # next assignment would overflow — the spec's mirrored rule
            if len(table) == (1 << size) and size < 12:
                size += 1
        prev_seq = seq


def encode_gif(pixels: bytes, width: int = GIF_W) -> bytes:
    """Canonical GIF87a container around 8-bit grayscale pixels — a REAL
    LZW-compressed image format (any browser/viewer opens it), pure
    stdlib: logical screen descriptor, 256-entry grayscale global color
    table (identity palette: index i → (i,i,i), so the index stream IS
    the pixel bytes and the container is pixel-lossless), one image
    descriptor, LZW min-code-size 8, data sub-blocks ≤255 bytes, trailer.
    Whole-row prefix convention shared with encode_png."""
    import struct

    n = len(pixels)
    h = n // width
    kept = width * h
    if not kept:
        raise ValueError("payload shorter than one GIF row")
    palette = bytes(v for i in range(256) for v in (i, i, i))
    lzw = _lzw_encode_gif(pixels[:kept])
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks.extend(chunk)
    blocks.append(0)  # block terminator
    return (
        b"GIF87a"
        + struct.pack("<HHBBB", width, h, 0xF7, 0, 0)
        + palette
        + b"\x2c"
        + struct.pack("<HHHHB", 0, 0, width, h, 0)
        + bytes([8])
        + bytes(blocks)
        + b"\x3b"
    )


def decode_gif(payload: bytes):
    """Genuine GIF87a/89a parse: signature, logical screen descriptor,
    global color table walk, block dispatch (extensions skipped by their
    sub-block grammar — the 89a path), image descriptor, LZW inflate, and
    palette mapping back to grayscale bytes. Returns (width, height,
    numpy uint8 pixels). Refusals are the module contract: interlaced
    images, local color tables, and non-grayscale palettes raise
    NotImplementedError at the documented PIL plug point; truncated
    blocks, bad signatures, and broken LZW streams raise ValueError."""
    import struct

    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF container")
    if len(payload) < 13:
        raise ValueError("truncated GIF logical screen descriptor")
    w, h, packed, _bg, _aspect = struct.unpack("<HHBBB", payload[6:13])
    pos = 13
    palette = None
    if packed & 0x80:
        n_colors = 2 << (packed & 7)
        palette = payload[pos : pos + 3 * n_colors]
        if len(palette) < 3 * n_colors:
            raise ValueError("truncated global color table")
        pos += 3 * n_colors
    while pos < len(payload):
        block = payload[pos]
        if block == 0x3B:  # trailer
            raise ValueError("GIF trailer before any image data")
        if block == 0x21:  # extension: label + sub-blocks
            pos += 2
            while True:
                if pos >= len(payload):
                    raise ValueError("truncated GIF sub-block stream")
                if payload[pos] == 0:
                    break
                pos += 1 + payload[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        if pos + 10 > len(payload):
            raise ValueError("truncated GIF image descriptor")
        left, top, iw, ih, ipacked = struct.unpack(
            "<HHHHB", payload[pos + 1 : pos + 10]
        )
        if ipacked & 0x40:
            raise NotImplementedError(
                "interlaced GIF requires PIL (plug point)"
            )
        if ipacked & 0x80:
            raise NotImplementedError(
                "local color tables require PIL (plug point)"
            )
        pos += 10
        if pos >= len(payload):
            raise ValueError("truncated GIF sub-block stream")
        min_code = payload[pos]
        pos += 1
        lzw = bytearray()
        while True:
            if pos >= len(payload):
                raise ValueError("truncated GIF sub-block stream")
            if payload[pos] == 0:
                break
            ln = payload[pos]
            chunk = payload[pos + 1 : pos + 1 + ln]
            if len(chunk) < ln:
                raise ValueError(
                    f"truncated GIF sub-block: promises {ln} bytes"
                )
            lzw.extend(chunk)
            pos += 1 + ln
        indices = np.frombuffer(
            _lzw_decode_gif(bytes(lzw), min_code), dtype=np.uint8
        )
        if len(indices) != iw * ih:
            raise ValueError(
                f"LZW stream decodes to {len(indices)} indices; "
                f"{iw}*{ih} expected"
            )
        if palette is None:
            raise ValueError("image without a color table")
        pal = np.frombuffer(palette, dtype=np.uint8).reshape(-1, 3)
        if not (
            (pal[:, 0] == pal[:, 1]).all() and (pal[:, 1] == pal[:, 2]).all()
        ):
            raise NotImplementedError(
                "non-grayscale palettes require PIL (plug point)"
            )
        return iw, ih, pal[indices, 0]
    raise ValueError("GIF stream ended without image data")


@query(
    "q_multimodal_gif",
    oracle=f"""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
),
d AS (
  SELECT doc_id, hx,
         (n // {GIF_W}) * {GIF_W} AS kept,
         n // {GIF_W}             AS h
  FROM b
),
px AS (
  SELECT doc_id, h,
         CAST(concat('0x', substr(hx, 2 * p.p + 1, 2)) AS INT) AS byte
  FROM d, unnest(generate_series(0, kept - 1)) p(p)
)
SELECT doc_id,
       {GIF_W}                   AS width,
       CAST(h AS INT)            AS height,
       CAST(byte // 32 AS INT)   AS bucket,
       CAST(COUNT(*) AS BIGINT)  AS n_pixels
FROM px
GROUP BY doc_id, h, byte // 32
""",
)
def q_multimodal_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SECOND compressed image codec — LZW, the other foundational lossless
    family next to PNG's deflate: each payload's whole-row prefix becomes
    a real GIF87a (identity grayscale palette, so the index stream is
    pixel-lossless) and is decoded back by an actual parser — signature,
    screen descriptor, color-table walk, sub-block reassembly, a genuine
    growing-code-width LSB-first LZW decoder with CLEAR/END and the KwKwK
    case, palette mapping — then mapInPandas emits the same 8-bin
    luminance histogram as the PNG rung, replayed byte-exactly by the
    oracle. The hash can only match if sub-block framing AND the LZW
    state machine (width growth, dictionary resets past 4096) are exact.
    Interlace/local-tables/color palettes refuse at the PIL plug point.

    Scale shape: identical to every multimodal rung — Arrow-batched
    mapInPandas, per-batch codec work, zero driver involvement. The scan
    is spread (tables.spread: layout-gated round-robin repartition, no-op
    on any >=cores-row-group layout) so LZW encode+decode parallelizes on
    the single-row-group bench fixture — measured 3.0 s -> 0.62 s
    isolated at sf0.1."""
    d = table(spark, sf_dir, "documents", spread_scan=True)
    with_payload = d.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from data_pipeline_aws_spark.multimodal.media import (
            GIF_W,
            decode_gif,
            encode_gif,
        )

        for pdf in batches:
            doc, wid, hei, bkt, cnt = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                if len(b) < GIF_W:
                    continue
                w, h, pixels = decode_gif(encode_gif(b))
                hist = np.bincount(pixels >> 5, minlength=8)
                for bk in range(8):
                    if hist[bk]:
                        doc.append(doc_id)
                        wid.append(w)
                        hei.append(h)
                        bkt.append(bk)
                        cnt.append(int(hist[bk]))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc, dtype="int64"),
                    "width": pd.Series(wid, dtype="int32"),
                    "height": pd.Series(hei, dtype="int32"),
                    "bucket": pd.Series(bkt, dtype="int32"),
                    "n_pixels": pd.Series(cnt, dtype="int64"),
                }
            )

    return with_payload.mapInPandas(
        extract,
        "doc_id long, width int, height int, bucket int, n_pixels long",
    )


def phash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit perceptual-hash signature per document (doc_id, phash) — shared
    by q_multimodal_phash and the banding-completeness property test, so the
    test verifies the exact signatures the operator banded."""
    import numpy as np

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )

    weights = (np.uint64(1) << np.arange(64, dtype=np.uint64)).astype(np.uint64)

    def sign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sigs = np.empty(len(pdf), dtype=np.int64)
            for row, payload in enumerate(pdf["payload"]):
                b = np.frombuffer(bytes(payload), dtype=np.uint8)
                if len(b) < 64:
                    b = np.pad(b, (0, 64 - len(b)))
                # resample to exactly 64 cells: one bincount instead of 64
                # slice-sums; bit-pack with a vectorized shift dot product
                idx = np.arange(len(b)) * 64 // len(b)
                grid = np.bincount(idx, weights=b, minlength=64)
                bits = (grid > np.median(grid)).astype(np.uint64)
                sigs[row] = np.int64((bits * weights).sum().astype(np.uint64).astype(np.int64))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "phash": sigs})

    return d.mapInPandas(sign, "doc_id long, phash long")


@query(
    "q_multimodal_phash",
    oracle="""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n,
         GREATEST(octet_length(encode(text)), 64) AS m
  FROM documents
),
bytes AS (
  SELECT doc_id,
         CASE WHEN t.i < n
              THEN CAST(concat('0x', substr(hx, 2 * t.i + 1, 2)) AS INT)
              ELSE 0 END AS v,
         CAST((t.i * 64) // m AS INT) AS cell
  FROM b, unnest(generate_series(0, m - 1)) t(i)
),
grid AS (
  SELECT doc_id, cell, CAST(SUM(v) AS DOUBLE) AS g
  FROM bytes GROUP BY doc_id, cell
),
med AS (SELECT doc_id, median(g) AS md FROM grid GROUP BY doc_id),
sigu AS (
  SELECT g.doc_id,
         CAST(SUM(CASE WHEN g.g > m.md THEN (1::HUGEINT << g.cell)
                       ELSE 0::HUGEINT END) AS HUGEINT) AS s
  FROM grid g JOIN med m ON g.doc_id = m.doc_id
  GROUP BY g.doc_id
),
sig AS (
  SELECT doc_id, s,
         CAST(CASE WHEN s >= (1::HUGEINT << 63) THEN s - (1::HUGEINT << 64)
                   ELSE s END AS BIGINT) AS phash
  FROM sigu
),
bands AS (
  SELECT doc_id, phash, t.i AS band, CAST((s >> (8 * t.i)) & 255 AS INT) AS val
  FROM sig, unnest(generate_series(0, 7)) t(i)
)
SELECT DISTINCT d1, d2, hamming FROM (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
) WHERE hamming <= 6
""",
)
def q_multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection for binary media — the
    image twin of SimHash text dedup. Each payload is reduced to an 8×8
    luminance grid via byte sums over 64 equal payload slices — a genuine
    1-D box downsample of the raw bytes (for compressed formats a real
    build inserts PIL decode before the same grid math, nothing else
    changes), pHash-style: bits are grid-cells-above-median, packed
    to a 64-bit signature in numpy per Arrow batch. Pairs within hamming
    distance ≤ 6 are found via the same byte-pigeonhole banding as
    `q_dedup_simhash` (8 bands of 8 bits: distance ≤ 6 forces ≥ 1 equal
    band — pigeonhole over 7 flipped bits in 8 bands), then exact hamming
    verification.

    Scale shape: signatures are computed map-only in `mapInPandas`
    (payloads never shuffle); the band join shuffles 8 rows of 16 bytes
    per image — constant per item regardless of payload size, which is
    the entire point of sketch-first media dedup at 100 TB. Fully
    hash-verified since round 5: the grid is pure byte arithmetic
    + median, so the oracle replays it byte-accurately from
    hex(encode(text)), packs bits in HUGEINT, and maps through two's
    complement to Spark's signed 64-bit phash — every signature, band,
    and hamming distance is cross-engine exact."""
    sig = phash_signatures(spark, sf_dir)
    bands = sig.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftrightunsigned("phash", 8 * i).bitwiseAND(255).alias("val"),
                )
                for i in range(8)
            ])
        ).alias("b"),
    ).select("doc_id", "phash", "b.band", "b.val")
    a = bands.alias("a")
    b = bands.alias("b")
    hamming = F.bit_count(F.col("a.phash").bitwiseXOR(F.col("b.phash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            hamming.alias("hamming"),
        )
        .where(F.col("hamming") <= 6)
        .distinct()
    )
