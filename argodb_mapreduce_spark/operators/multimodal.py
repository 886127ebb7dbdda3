"""Multimodal column operators (SURVEY.md §2.C5).

Media (image/audio/video) is modeled as opaque ``binary`` columns with
typed metadata — the Spark-native layout for a multimodal training-data
lake. The decode/feature paths run as Arrow-batched ``mapInPandas``
pipelines (the real plumbing: schema, batch iteration, partition
parallelism). The AUDIO path is a real decoder: stdlib ``wave`` is
present, so ``multimodal_audio_decode`` round-trips genuine RIFF/WAVE
containers (encode 8-bit PCM → binary column → parse header + frames)
with oracle-checked amplitude features. The IMAGE path is ALSO a real
decoder: PNG is zlib-deflated filtered scanlines in CRC-32 chunks, all
stdlib, so ``multimodal_image_decode`` round-trips spec-conformant
grayscale-8 PNGs (encode with cycling None/Sub/Up filters → binary
column → full five-filter reader) with pixel stats oracle-checked
against the source bytes. The JPEG path is real too:
``multimodal_jpeg_decode`` is a full ITU T.81 baseline sequential codec
(batched DCT, Annex K Huffman, byte-stuffed JFIF) on stdlib+numpy.
Only codecs that genuinely need third-party libs (WebP entropy coding,
video containers) remain behind the ``decode_image`` import-try stub; the other registered image queries use deterministic
byte-level feature extractors whose results are SQL-expressible,
keeping even the Pandas-UDF path DuckDB-oracle-checked (fixture text
is ASCII, so byte ops == char ops).

At 100 TB: mapInPandas streams Arrow batches executor-side — no
driver involvement, no shuffle; per-file parallelism comes from the
scan. This is the correct shape for media feature extraction at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from argodb_mapreduce_spark.catalog import load_table
from argodb_mapreduce_spark.registry import register

FRAME_BYTES = 64
FRAME_STRIDE = 4  # sample every 4th frame


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, content binary, meta struct) media table."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.encode("text", "utf-8").alias("content"),
        F.struct(
            F.length(F.encode("text", "utf-8")).alias("byte_len"),
            F.lit("text/plain").alias("mime"),
            F.col("lang").alias("lang"),
        ).alias("meta"),
    )


def _codec_parallel(
    m: DataFrame, sf_dir: str, rows_per_partition: int = 256
) -> DataFrame:
    """Spread a CPU-bound pure-Python codec stage across cores (r14
    opt, guide §2.2: derive partitioning from the WORK, not the bytes).
    Spark's file-split planning is byte-based, so the few-MB documents
    fixture yields ONE scan partition and a chained mapInPandas codec
    runs single-threaded — measured 2.3 s + 2.3 s (encode + decode) of
    pure-Python JPEG work on one core at sf0.1 while 31 cores idled.
    The width derives from the table's footer row count (no job),
    clamped to the session parallelism: ~256 docs/partition keeps each
    codec task in the healthy range at any scale, real (large) media
    files get adequate byte-based splits anyway, and the clamp stops a
    huge corpus from over-partitioning the shuffle. Per-row transforms
    are partitioning-independent, so results are unchanged. Delegates
    to catalog.cpu_repartition, which hashes the spread on doc_id and
    gates it on the table's row-group count (r15: a multi-row-group
    corpus already scans in parallel, so the exchange is skipped
    entirely)."""
    from argodb_mapreduce_spark.catalog import cpu_repartition

    return cpu_repartition(m, sf_dir, "documents", "doc_id", rows_per_partition)


# -- stubbed real decoders (no media libs in this container) ---------------

try:  # pragma: no cover - PIL is absent in the v1 image
    from PIL import Image  # type: ignore  # noqa: F401

    _HAS_PIL = True
except ImportError:
    _HAS_PIL = False


def decode_image(df: DataFrame, content_col: str = "content") -> DataFrame:
    """STUB: WebP/video decode requires PIL/av (absent here).

    PNG does NOT need this stub — ``multimodal_image_decode`` is a real
    stdlib-zlib PNG codec — and neither does baseline JPEG anymore:
    ``multimodal_jpeg_decode`` is a real stdlib+numpy ITU T.81 baseline
    sequential codec (DCT + Annex K Huffman). This entry point covers
    only the formats whose containers genuinely need a third-party lib
    (WebP VP8 entropy coding, video demux); the Spark-side contract
    (binary in, struct of features out via mapInPandas) is what
    production code would keep — only the inner ``Image.open`` call is
    missing in this environment.
    """
    if not _HAS_PIL:
        raise NotImplementedError(
            "WebP/video decode requires PIL/av, which are not available "
            "in this environment; multimodal_image_decode (PNG) and "
            "multimodal_jpeg_decode (baseline JPEG) are real stdlib "
            "codec paths"
        )
    raise NotImplementedError("real decoder intentionally not implemented in v1")


@register(
    "multimodal_ingest",
    oracle="""
    SELECT doc_id,
           LENGTH(text) AS byte_len,
           'text/plain' AS mime,
           ascii(substring(text, 1, 1)) AS first_byte
    FROM documents
    """,
    tags=("multimodal",),
    doc="Binary-column ingest: encode to binary + typed metadata struct; projected back out for the oracle.",
)
def multimodal_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = media_table(spark, sf_dir)
    return m.select(
        "doc_id",
        F.col("meta.byte_len").cast("long").alias("byte_len"),
        F.col("meta.mime").alias("mime"),
        F.ascii(F.decode(F.substring("content", 1, 1), "utf-8")).alias("first_byte"),
    )


# NB: the mapInPandas callables below are defined as NESTED functions
# inside each query so cloudpickle serializes them by value — Spark's
# Python workers do not have this repo on their import path, so a
# module-level function (pickled by reference) would fail to unpickle.

_FEATURE_SCHEMA = "doc_id long, byte_len long, n_space long, checksum long"


@register(
    "multimodal_byte_features",
    oracle="""
    SELECT doc_id,
           LENGTH(text) AS byte_len,
           LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) AS n_space,
           CAST((SELECT SUM(ascii(substring(text, i, 1))) % 65536
            FROM UNNEST(range(1, LENGTH(text) + 1)) AS u(i)) AS BIGINT) AS checksum
    FROM documents
    """,
    tags=("multimodal", "pandas-udf"),
    doc=(
        "Arrow-batched mapInPandas feature extraction over a binary "
        "column — the real multimodal decode plumbing with a "
        "deterministic byte-level stand-in for the decoder, so the "
        "Pandas-UDF path itself is oracle-checked."
    ),
)
def multimodal_byte_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = media_table(spark, sf_dir).select("doc_id", "content")

    def run(batches):  # nested → pickled by value, import-path independent
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": [len(b) for b in pdf["content"]],
                    "n_space": [bytes(b).count(b" ") for b in pdf["content"]],
                    "checksum": [sum(bytes(b)) % 65536 for b in pdf["content"]],
                }
            )

    return m.mapInPandas(run, schema=_FEATURE_SCHEMA)


_AUDIO_SCHEMA = (
    "doc_id long, n_channels int, sample_width int, framerate int, "
    "n_frames long, duration_ms long, peak_amp int, sum_amp_sq long"
)
_AUDIO_RATE = 8000


@register(
    "multimodal_audio_decode",
    oracle=f"""
    SELECT doc_id,
           1 AS n_channels,
           1 AS sample_width,
           {_AUDIO_RATE} AS framerate,
           CAST(LENGTH(text) AS BIGINT) AS n_frames,
           CAST(LENGTH(text) * 1000 // {_AUDIO_RATE} AS BIGINT) AS duration_ms,
           CAST((SELECT MAX(ABS(ascii(substring(text, i, 1)) - 128))
                 FROM UNNEST(range(1, LENGTH(text) + 1)) AS u(i)) AS INT) AS peak_amp,
           CAST(COALESCE((SELECT SUM((ascii(substring(text, i, 1)) - 128)
                                     * (ascii(substring(text, i, 1)) - 128))
                 FROM UNNEST(range(1, LENGTH(text) + 1)) AS u(i)), 0) AS BIGINT) AS sum_amp_sq
    FROM documents
    """,
    tags=("multimodal", "pandas-udf", "audio"),
    doc=(
        "REAL audio decode path (no stub): build genuine RIFF/WAVE "
        "containers executor-side around the fixture bytes as 8-bit "
        "PCM mono, ship the wav binary column through Arrow, then "
        "parse it back with stdlib `wave` in a second mapInPandas "
        "stage — header fields (channels/width/rate/frames) plus "
        "amplitude features (peak |sample-128|, sum of squared "
        "amplitudes) from the decoded frames. The oracle recomputes "
        "the features from the source bytes, so the encode->decode "
        "round trip is verified end-to-end. Swapping the stdlib "
        "parser for soundfile/librosa changes only the inner call, "
        "not the Spark plumbing."
    ),
)
def multimodal_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Arrow-batched stages with a real wav binary column between
    them: encode (bytes -> WAV container) then decode (WAV -> header +
    amplitude stats). 8-bit WAV PCM is unsigned with a 128 offset, so
    amplitude = sample - 128. At 100 TB both stages stream executor-
    side with no shuffle; real media files skip the encode stage and
    enter at the decode contract."""
    # Work-derived spread (r15): same rationale as
    # multimodal_image_decode above — the fixture scan plans one
    # partition and the WAV encode/decode ran on one core.
    m = _codec_parallel(
        media_table(spark, sf_dir).select("doc_id", "content"), sf_dir
    )
    rate = _AUDIO_RATE

    def encode(batches):  # nested → pickled by value (see NB above)
        import io
        import wave as wave_mod

        import pandas as pd

        for pdf in batches:
            out = []
            for blob in pdf["content"]:
                buf = io.BytesIO()
                with wave_mod.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(1)
                    w.setframerate(rate)
                    w.writeframes(bytes(blob))
                out.append(buf.getvalue())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "wav": out})

    wav = m.mapInPandas(encode, schema="doc_id long, wav binary")

    def decode(batches):
        import io
        import wave as wave_mod

        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "n_channels", "sample_width", "framerate",
                "n_frames", "duration_ms", "peak_amp", "sum_amp_sq",
            )}
            for doc_id, blob in zip(pdf["doc_id"], pdf["wav"]):
                with wave_mod.open(io.BytesIO(bytes(blob)), "rb") as w:
                    nch, sw, fr, nf = (
                        w.getnchannels(), w.getsampwidth(),
                        w.getframerate(), w.getnframes(),
                    )
                    data = w.readframes(nf)
                amp = np.frombuffer(data, dtype=np.uint8).astype(np.int64) - 128
                rows["doc_id"].append(doc_id)
                rows["n_channels"].append(nch)
                rows["sample_width"].append(sw)
                rows["framerate"].append(fr)
                rows["n_frames"].append(nf)
                rows["duration_ms"].append(nf * 1000 // fr)
                rows["peak_amp"].append(int(np.abs(amp).max()) if amp.size else None)
                rows["sum_amp_sq"].append(int((amp * amp).sum()))
            pdf_out = pd.DataFrame(rows)
            pdf_out["peak_amp"] = pd.array(rows["peak_amp"], dtype="Int32")
            yield pdf_out

    return wav.mapInPandas(decode, schema=_AUDIO_SCHEMA)


#: PNG geometry: fixture bytes laid out as a PNG_WIDTH-wide 8-bit
#: grayscale image (color type 0), zero-padded to full scanlines. The
#: container IS a spec-conformant PNG — signature, IHDR, one IDAT of
#: zlib-deflated filtered scanlines, IEND, CRC-32 per chunk — built and
#: parsed with stdlib zlib/struct only. The encoder cycles filter types
#: None/Sub/Up per row so the decoder's unfiltering is exercised for
#: real (a filter-0-only "decoder" is just a memcpy).
PNG_WIDTH = 24

_IMAGE_SCHEMA = (
    "doc_id long, width int, height int, bit_depth int, color_type int, "
    "n_px long, sum_px long, mean_px double, max_px int"
)


def _png_encode_batches(width: int):
    """mapInPandas stage: raw bytes -> genuine PNG binary column.

    Nested so the closure pickles by value (executors have no repo on
    sys.path). Scanlines are filtered with type r%3 in {None, Sub, Up}
    before deflate — the same per-row filter dispatch a real PNG writer
    performs."""

    def encode(batches):
        import struct
        import zlib

        import numpy as np
        import pandas as pd

        def chunk(tag: bytes, payload: bytes) -> bytes:
            return (
                struct.pack(">I", len(payload))
                + tag
                + payload
                + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
            )

        for pdf in batches:
            out = []
            for blob in pdf["content"]:
                px = bytes(blob)
                h = max(1, -(-len(px) // width))
                px = px.ljust(width * h, b"\x00")
                # Vectorized filtering: compute Sub/Up deltas for the
                # whole grid at once, pick per row by type (r % 3).
                # uint8 wraparound IS mod-256 arithmetic.
                arr = np.frombuffer(px, dtype=np.uint8).reshape(h, width)
                sub = arr.copy()
                sub[:, 1:] -= arr[:, :-1]
                up = arr.copy()
                up[1:] -= arr[:-1]
                fts = np.arange(h) % 3
                lines = np.empty((h, width + 1), dtype=np.uint8)
                lines[:, 0] = fts
                lines[:, 1:] = np.where(
                    (fts == 0)[:, None], arr, np.where((fts == 1)[:, None], sub, up)
                )
                raw = lines.tobytes()
                ihdr = struct.pack(">IIBBBBB", width, h, 8, 0, 0, 0, 0)
                out.append(
                    b"\x89PNG\r\n\x1a\n"
                    + chunk(b"IHDR", ihdr)
                    + chunk(b"IDAT", zlib.compress(bytes(raw)))
                    + chunk(b"IEND", b"")
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "png": out})

    return encode


def _png_reader():
    """Build the ONE shared PNG parse function: chunk walk with CRC-32
    verification (fail-loud on corruption), IDAT concatenation, inflate,
    and full five-filter unfiltering (None/Sub/Up/Average/Paeth) even
    though the sibling encoder only emits 0-2 — the decode contract
    accepts any conformant grayscale-8 writer.

    Returned as a LOCAL function so cloudpickle ships it by value inside
    whichever mapInPandas closure captures it (executors have no repo on
    sys.path); the modules it references (struct/zlib/numpy) pickle by
    name and exist on every worker. Both the image-decode stage and the
    histogram partials use this single parser — the histogram previously
    re-implemented a reduced reader (no CRC check, filters 0-2 only), a
    divergence flagged by ADVICE r7."""
    import struct
    import zlib

    import numpy as np

    def unfilter(raw: bytes, w: int, h: int):
        out = np.zeros((h, w), dtype=np.int64)
        stride = w + 1
        for r in range(h):
            line = raw[r * stride : (r + 1) * stride]
            ft, data = line[0], np.frombuffer(line[1:], dtype=np.uint8).astype(np.int64)
            above = out[r - 1] if r else np.zeros(w, dtype=np.int64)
            if ft == 0:
                out[r] = data
            elif ft == 1:  # Sub: out[i] = (Σ_{j<=i} data[j]) mod 256
                out[r] = np.cumsum(data) & 0xFF
            elif ft == 2:  # Up
                out[r] = (data + above) & 0xFF
            elif ft in (3, 4):  # Average / Paeth: left-recurrent
                left = 0
                for i in range(w):
                    a, b = left, above[i]
                    c = out[r - 1][i - 1] if (r and i) else 0
                    if ft == 3:
                        pred = (a + b) // 2
                    else:
                        p = a + b - c
                        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                        pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    left = (data[i] + pred) & 0xFF
                    out[r][i] = left
            else:
                raise ValueError(f"unknown PNG filter type {ft}")
        return out

    def parse(buf: bytes):
        """PNG bytes -> ((width, height, bit_depth, color_type), pixel array)."""
        if buf[:8] != b"\x89PNG\r\n\x1a\n":
            raise ValueError("bad PNG signature")
        pos, idat, hdr = 8, b"", None
        while pos < len(buf):
            (length,) = struct.unpack(">I", buf[pos : pos + 4])
            tag = buf[pos + 4 : pos + 8]
            payload = buf[pos + 8 : pos + 8 + length]
            (crc,) = struct.unpack(">I", buf[pos + 8 + length : pos + 12 + length])
            if zlib.crc32(tag + payload) & 0xFFFFFFFF != crc:
                raise ValueError(f"CRC mismatch in {tag!r}")
            if tag == b"IHDR":
                hdr = struct.unpack(">IIBBBBB", payload)
            elif tag == b"IDAT":
                idat += payload
            elif tag == b"IEND":
                break
            pos += 12 + length
        w, h = hdr[0], hdr[1]
        return (w, h, hdr[2], hdr[3]), unfilter(zlib.decompress(idat), w, h)

    return parse


def _png_decode_batches():
    """mapInPandas stage: PNG binary -> header fields + pixel stats,
    via the shared `_png_reader` parser (CRC-verified, all 5 filters)."""
    parse = _png_reader()

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "width", "height", "bit_depth", "color_type",
                "n_px", "sum_px", "mean_px", "max_px",
            )}
            for doc_id, blob in zip(pdf["doc_id"], pdf["png"]):
                (w, h, depth, ctype), px = parse(bytes(blob))
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["bit_depth"].append(depth)
                rows["color_type"].append(ctype)
                rows["n_px"].append(w * h)
                rows["sum_px"].append(int(px.sum()))
                rows["mean_px"].append(px.sum() / (w * h))
                rows["max_px"].append(int(px.max()))
            yield pd.DataFrame(rows)

    return decode



@register(
    "multimodal_image_decode",
    oracle=f"""
    SELECT doc_id,
           {PNG_WIDTH} AS width,
           CAST(GREATEST(1, (LENGTH(text) + {PNG_WIDTH - 1}) // {PNG_WIDTH}) AS INT) AS height,
           8 AS bit_depth,
           0 AS color_type,
           CAST({PNG_WIDTH} * GREATEST(1, (LENGTH(text) + {PNG_WIDTH - 1}) // {PNG_WIDTH}) AS BIGINT) AS n_px,
           CAST(COALESCE((SELECT SUM(ascii(substring(text, i, 1)))
                 FROM UNNEST(range(1, LENGTH(text) + 1)) AS u(i)), 0) AS BIGINT) AS sum_px,
           CAST(COALESCE((SELECT SUM(ascii(substring(text, i, 1)))
                 FROM UNNEST(range(1, LENGTH(text) + 1)) AS u(i)), 0) AS DOUBLE)
             / ({PNG_WIDTH} * GREATEST(1, (LENGTH(text) + {PNG_WIDTH - 1}) // {PNG_WIDTH})) AS mean_px,
           CAST(COALESCE((SELECT MAX(ascii(substring(text, i, 1)))
                 FROM UNNEST(range(1, LENGTH(text) + 1)) AS u(i)), 0) AS INT) AS max_px
    FROM documents
    """,
    tags=("multimodal", "pandas-udf", "image"),
    doc=(
        "REAL image decode path (no stub, no image lib): fixture bytes "
        "become spec-conformant grayscale-8 PNGs (stdlib zlib deflate, "
        "CRC-32 chunks, per-row None/Sub/Up filters) in one Arrow "
        "stage, and a complete PNG reader — chunk walk + CRC verify + "
        "inflate + five-filter unfiltering — parses them back in a "
        "second. Pixel stats from the DECODED array are oracle-checked "
        "against the source bytes, so the encode->filter->deflate->"
        "inflate->unfilter round trip is verified end-to-end. A PIL/"
        "cv2-based decoder would replace only the inner parse, not the "
        "Spark plumbing."
    ),
)
def multimodal_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Arrow-batched mapInPandas stages with a real PNG binary
    column between them: encode (bytes -> PNG container) then decode
    (PNG -> header + pixel stats). Mirrors multimodal_audio_decode
    (multimodal.py:148): at 100 TB both stages stream executor-side
    with no shuffle and no driver hop; real image files skip the encode
    stage and enter at the decode contract."""
    # Work-derived spread (r15): the single-row-group fixture plans ONE
    # scan partition, so both codec stages ran on one core (the r14
    # JPEG/GIF finding — the x10 core-scaling ladder caught the PNG
    # pipeline at 2 of 32 cores). _codec_parallel spreads the small raw
    # bytes once, hashed on doc_id; its row-group gate makes it a
    # structural no-op on any real multi-row-group corpus.
    m = _codec_parallel(
        media_table(spark, sf_dir).select("doc_id", "content"), sf_dir
    )
    png = m.mapInPandas(_png_encode_batches(PNG_WIDTH), schema="doc_id long, png binary")
    return png.mapInPandas(_png_decode_batches(), schema=_IMAGE_SCHEMA)


_HIST_BINS = 16

_HIST_SCHEMA = "bin int, n_px long"


@register(
    "multimodal_image_histogram",
    oracle=f"""
    WITH real_px AS (
        SELECT ascii(substring(d.text, u.i, 1)) // {256 // _HIST_BINS} AS bin
        FROM documents d, UNNEST(range(1, LENGTH(d.text) + 1)) AS u(i)
    ),
    pad AS (
        SELECT COALESCE(SUM({PNG_WIDTH} * GREATEST(1, (LENGTH(text) + {PNG_WIDTH - 1}) // {PNG_WIDTH})
                            - LENGTH(text)), 0) AS n
        FROM documents
    ),
    counts AS (SELECT bin, COUNT(*) AS c FROM real_px GROUP BY bin)
    SELECT CAST(b.bin AS INT) AS bin,
           CAST(COALESCE(c.c, 0)
                + CASE WHEN b.bin = 0 THEN (SELECT n FROM pad) ELSE 0 END AS BIGINT) AS n_px
    FROM (SELECT UNNEST(range(0, {_HIST_BINS})) AS bin) b
    LEFT JOIN counts c ON b.bin = c.bin
    ORDER BY bin
    """,
    tags=("multimodal", "pandas-udf", "image", "agg"),
    doc=(
        "Corpus-wide pixel-intensity histogram over DECODED PNG pixels: "
        "the decode stage emits per-Arrow-batch partial (bin, count) "
        "rows (a hand-rolled map-side combine — output is O(bins) per "
        "batch, not O(pixels)), then one O(bins)-cardinality groupBy "
        "sums the partials. The 16-bin scaffold joins broadcast so "
        "empty bins survive with n_px=0. The oracle recounts source "
        "bytes plus the zero-padding mass in bin 0."
    ),
)
def multimodal_image_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode -> aggregate pipeline: per-batch partial histograms from
    the PNG reader, reduced by a bins-sized groupBy. At 100 TB the
    shuffle carries O(batches x bins) tiny rows — the pixel volume
    never leaves the executors."""
    m = media_table(spark, sf_dir).select("doc_id", "content")
    png = m.mapInPandas(_png_encode_batches(PNG_WIDTH), schema="doc_id long, png binary")
    # Bin math must mirror the oracle's integer division
    # `ascii // (256 // _HIST_BINS)` for ANY bin count that divides 256
    # (ADVICE r7: the old power-of-two bit shift silently diverged if
    # _HIST_BINS changed to a non-power-of-two divisor).
    assert 256 % _HIST_BINS == 0, f"_HIST_BINS={_HIST_BINS} must divide 256"
    div = 256 // _HIST_BINS
    parse = _png_reader()

    def bin_partials(batches):
        import numpy as np
        import pandas as pd

        nbins = _HIST_BINS

        for pdf in batches:
            acc = np.zeros(nbins, dtype=np.int64)
            for blob in pdf["png"]:
                _, px = parse(bytes(blob))
                acc += np.bincount(px.ravel() // div, minlength=nbins)
            yield pd.DataFrame({"bin": np.arange(nbins, dtype=np.int32), "c": acc})


    partials = png.mapInPandas(bin_partials, schema="bin int, c long")
    scaffold = spark.range(_HIST_BINS).select(F.col("id").cast("int").alias("bin"))
    counts = partials.groupBy("bin").agg(F.sum("c").alias("c"))
    return (
        scaffold.join(F.broadcast(counts), "bin", "left")
        .select("bin", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("n_px"))
        .orderBy("bin")
    )


#: Thumbnail geometry: bytes laid out as a WIDTH-wide grid, box-filter
#: pooled in BLOCK x BLOCK tiles (the real resize arithmetic — what an
#: image pipeline computes per channel after decode; only the decode
#: itself needs an image lib).
THUMB_WIDTH = 32
THUMB_BLOCK = 4

_THUMB_SCHEMA = "doc_id long, block_row int, block_col int, n_px long, mean_val double"


@register(
    "multimodal_byte_thumbnail",
    oracle=f"""
    SELECT doc_id,
           CAST(((i - 1) // {THUMB_WIDTH}) // {THUMB_BLOCK} AS INT) AS block_row,
           CAST(((i - 1) % {THUMB_WIDTH}) // {THUMB_BLOCK} AS INT) AS block_col,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(ascii(substring(text, i, 1))) AS DOUBLE) / COUNT(*) AS mean_val
    FROM documents, UNNEST(range(1, LENGTH(text) + 1)) AS u(i)
    GROUP BY doc_id, ((i - 1) // {THUMB_WIDTH}) // {THUMB_BLOCK},
             ((i - 1) % {THUMB_WIDTH}) // {THUMB_BLOCK}
    """,
    tags=("multimodal", "pandas-udf", "resize"),
    doc=(
        f"Image-style RESIZE arithmetic on opaque media bytes: lay the "
        f"byte stream out as a {THUMB_WIDTH}-wide pixel grid and "
        f"box-filter it in {THUMB_BLOCK}x{THUMB_BLOCK} tiles (partial "
        "edge tiles average their available pixels, like edge-clamped "
        "resampling). The pooling is vectorized numpy inside "
        "mapInPandas — the exact per-channel math a real thumbnailer "
        "runs after decode — and each tile mean is one exact "
        "integer-sum / count IEEE division, so the downsampled grid is "
        "oracle-checked bit-for-bit."
    ),
)
def multimodal_byte_thumbnail(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = media_table(spark, sf_dir).select("doc_id", "content")
    width, block = THUMB_WIDTH, THUMB_BLOCK

    def run(batches):  # nested → pickled by value (see NB above)
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, brs, bcs, ns, means = [], [], [], [], []
            for doc_id, blob in zip(pdf["doc_id"], pdf["content"]):
                a = np.frombuffer(bytes(blob), dtype=np.uint8).astype(np.int64)
                if a.size == 0:
                    continue
                pos = np.arange(a.size)
                br = (pos // width) // block
                bc = (pos % width) // block
                key = br * (width // block) + bc
                order = np.argsort(key, kind="stable")
                ks, starts = np.unique(key[order], return_index=True)
                sums = np.add.reduceat(a[order], starts)
                cnts = np.diff(np.append(starts, a.size))
                ids.extend([doc_id] * len(ks))
                brs.extend((ks // (width // block)).tolist())
                bcs.extend((ks % (width // block)).tolist())
                ns.extend(cnts.tolist())
                means.extend((sums / cnts).tolist())
            yield pd.DataFrame({
                "doc_id": ids,
                "block_row": pd.array(brs, dtype="int32"),
                "block_col": pd.array(bcs, dtype="int32"),
                "n_px": ns,
                "mean_val": means,
            })

    return m.mapInPandas(run, schema=_THUMB_SCHEMA)


_FRAME_SCHEMA = "doc_id long, frame_no int, frame_md5 string"


@register(
    "multimodal_frame_sample",
    oracle=f"""
    SELECT doc_id,
           CAST(fno AS INT) AS frame_no,
           md5(substring(text, fno * {FRAME_BYTES} + 1, {FRAME_BYTES})) AS frame_md5
    FROM documents,
         UNNEST(range(0, LENGTH(text) // {FRAME_BYTES}, {FRAME_STRIDE})) AS u(fno)
    """,
    tags=("multimodal", "pandas-udf"),
    doc=(
        f"Strided frame sampling over opaque media bytes ({FRAME_BYTES}-byte "
        f"frames, every {FRAME_STRIDE}th): 1→N mapInPandas batch transform, "
        "md5 fingerprint per sampled frame, oracle-checked byte-for-byte."
    ),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = media_table(spark, sf_dir).select("doc_id", "content")
    frame_bytes, frame_stride = FRAME_BYTES, FRAME_STRIDE

    def run(batches):  # fake video frame sampler; md5 == Spark md5 == DuckDB md5
        import hashlib

        import pandas as pd

        for pdf in batches:
            ids, frame_nos, hashes = [], [], []
            for doc_id, blob in zip(pdf["doc_id"], pdf["content"]):
                data = bytes(blob)
                for fno in range(0, len(data) // frame_bytes, frame_stride):
                    ids.append(doc_id)
                    frame_nos.append(fno)
                    hashes.append(hashlib.md5(data[fno * frame_bytes : (fno + 1) * frame_bytes]).hexdigest())
            yield pd.DataFrame({"doc_id": ids, "frame_no": frame_nos, "frame_md5": hashes})

    return m.mapInPandas(run, schema=_FRAME_SCHEMA)


#: Scene-change threshold: mean |byte delta| of 32 per position over a
#: FRAME_BYTES frame. English-like fixture text gives a mix of both
#: classes (verified in the edge tests); real video uses the identical
#: rule on per-channel pixel deltas after decode.
KEYFRAME_ENERGY = 32 * FRAME_BYTES


@register(
    "multimodal_keyframe_detect",
    oracle=f"""
    WITH codes AS (
        SELECT doc_id,
               list_transform(string_split_regex(text, ''), c -> ascii(c)) AS cs
        FROM documents
        WHERE LENGTH(text) >= 2 * {FRAME_BYTES}
    ),
    frames AS (
        SELECT doc_id, cs, CAST(LENGTH(cs) // {FRAME_BYTES} AS INT) AS nf FROM codes
    )
    SELECT doc_id,
           CAST(f AS INT) AS frame_no,
           CAST(list_sum(list_transform(
               range(1, {FRAME_BYTES} + 1),
               i -> abs(cs[(f - 1) * {FRAME_BYTES} + i] - cs[f * {FRAME_BYTES} + i])
           )) AS BIGINT) AS energy,
           CAST(list_sum(list_transform(
               range(1, {FRAME_BYTES} + 1),
               i -> abs(cs[(f - 1) * {FRAME_BYTES} + i] - cs[f * {FRAME_BYTES} + i])
           )) >= {KEYFRAME_ENERGY} AS BOOLEAN) AS is_keyframe
    FROM frames, UNNEST(range(1, nf)) AS u(f)
    """,
    tags=("multimodal", "video", "frames"),
    doc=(
        f"Scene-change / keyframe detection on the byte-frame stream: "
        f"inter-frame energy = Σ|byte delta| between consecutive "
        f"{FRAME_BYTES}-byte frames, keyframe where energy >= "
        f"{KEYFRAME_ENERGY} — the shot-boundary arithmetic a video "
        f"curation pipeline runs per channel after decode (frame "
        f"extraction itself is multimodal_frame_sample's contract). "
        f"Per-document work is one array expression; docs shorter than "
        f"two full frames have no inter-frame pair and drop out."
    ),
)
def multimodal_keyframe_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure per-row array algebra in codegen (no Python, no shuffle):
    codes array once per document, per-frame energies via zip_with over
    two slices. At 100 TB this is a map-only pass; the downstream
    keyframe filter prunes ~all frames before anything shuffles."""
    fb = FRAME_BYTES
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") >= 2 * fb)
    codes = d.select(
        "doc_id",
        F.expr("transform(split(text, ''), c -> ascii(c))").alias("cs"),
    )
    energies = codes.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(cs) div {fb} - 1), "
                f"f -> struct(f AS frame_no, "
                f"aggregate(zip_with(slice(cs, (f - 1) * {fb} + 1, {fb}), "
                f"                   slice(cs, f * {fb} + 1, {fb}), "
                f"                   (a, b) -> abs(a - b)), "
                f"          cast(0 as bigint), (acc, x) -> acc + x) AS energy))"
            )
        ).alias("fe"),
    )
    return energies.select(
        "doc_id",
        F.col("fe.frame_no").cast("int").alias("frame_no"),
        F.col("fe.energy").alias("energy"),
        (F.col("fe.energy") >= KEYFRAME_ENERGY).alias("is_keyframe"),
    )


# ---------------------------------------------------------------------------
# Baseline JPEG (ITU T.81 sequential DCT, grayscale) — stdlib + numpy
# ---------------------------------------------------------------------------

#: JPEG geometry: each of the first JPEG_MAX_BYTES fixture bytes becomes
#: one CONSTANT 8x8 tile (8 tiles per row -> a 64-wide grayscale image).
#: Constant tiles + an all-8s quantization table make the lossy codec
#: EXACT on this content — a constant block has only a DC coefficient
#: (8·(v-128)), and q=8 divides it, so quantize->dequantize->IDCT
#: returns the source value bit-for-bit. The codec itself is general
#: baseline JPEG (full DCT, zigzag, run-length + canonical Huffman with
#: the ITU T.81 Annex K typical tables, byte stuffing); the test
#: pattern is chosen so the DuckDB oracle can predict the decoded
#: stats, the same construction the PNG op uses. The byte cap bounds
#: per-doc codec cost (64 blocks/doc — each byte fans out to 64 px).
JPEG_TILE_COLS = 8
JPEG_MAX_BYTES = 64


def _jpeg_codec():
    """Build the shared baseline-JPEG (encode, parse) pair as LOCAL
    functions so cloudpickle ships them by value inside the mapInPandas
    closures (executors have no repo on sys.path).

    Encoder: level shift -> 8x8 orthonormal DCT (batched einsum) ->
    quantize -> zigzag -> DC differential + AC run-length canonical
    Huffman (Annex K typical luminance tables) -> byte-stuffed scan in
    a JFIF container (SOI/APP0/DQT/SOF0/DHTx2/SOS/EOI).

    Decoder: general baseline sequential grayscale — marker walk with
    truncation guards (fill bytes and standalone TEM/RSTn handled),
    DQT/DHT table parsing (any conformant tables, not just the
    encoder's), DRI/RSTn restart intervals (DC predictor reset +
    byte-aligned resync, sequence-validated), Huffman scan decode,
    dequantize, inverse zigzag, IDCT, clamp. Fails loud on: bad
    signature, cut-off segments, progressive/arithmetic SOF markers,
    multi-component scans, 16-bit quant tables, invalid codes,
    truncated entropy stream, out-of-sequence or DRI-less restart
    markers, missing EOI."""
    import struct

    import numpy as np

    DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
    DC_VALS = list(range(12))
    AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
    AC_VALS = [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
        0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
        0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
        0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
        0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ]
    ZIGZAG = [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ]
    A = np.zeros((8, 8))
    for u in range(8):
        s = np.sqrt(0.125) if u == 0 else 0.5
        for x in range(8):
            A[u, x] = s * np.cos((2 * x + 1) * u * np.pi / 16)

    def build_enc(bits, vals):
        codes, code, k = {}, 0, 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                codes[vals[k]] = (code, length)
                code += 1
                k += 1
            code <<= 1
        return codes

    def build_dec(bits, vals):
        if sum(bits) != len(vals):
            raise ValueError("truncated JPEG: DHT value list cut off")
        table, code, k = {}, 0, 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                table[(length, code)] = vals[k]
                code += 1
                k += 1
            code <<= 1
        return table

    dc_enc, ac_enc = build_enc(DC_BITS, DC_VALS), build_enc(AC_BITS, AC_VALS)
    _lut_cache: dict = {}  # DHT segment bytes -> 16-bit decode LUT

    def category(v):
        if v == 0:
            return 0, 0
        n = abs(v).bit_length()
        return n, (v if v > 0 else v + (1 << n) - 1)

    def encode(arr, qval: int = 8, restart_interval: int = 0):
        """np.uint8 (h, w), h/w multiples of 8 preferred (edge-replicated
        otherwise) -> baseline grayscale JFIF bytes. ``restart_interval``
        > 0 emits a DRI segment and RSTn markers every that many MCUs
        (DC predictor reset + byte-aligned resync, ITU T.81 §B.2.1.2) —
        the error-resilience feature real encoders default on for large
        images."""
        h, w = arr.shape
        q = np.full(64, qval, dtype=np.int64)
        bh, bw = -(-h // 8), -(-w // 8)
        padded = np.zeros((bh * 8, bw * 8), dtype=np.float64)
        padded[:h, :w] = arr
        if h % 8:
            padded[h:, :] = padded[h - 1, :]
        if w % 8:
            padded[:, w:] = padded[:, w - 1 : w]
        qnat = np.empty(64, dtype=np.int64)
        for zi, nat in enumerate(ZIGZAG):
            qnat[nat] = q[zi]
        # batched DCT over all blocks at once
        blocks = (
            padded.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8) - 128.0
        )
        D = A @ blocks @ A.T  # batched over blocks via broadcasting (BLAS)
        Qz = np.round(D.reshape(-1, 64) / qnat).astype(np.int64)[:, ZIGZAG]

        out = bytearray()
        acc, nbits = 0, 0

        def put(code, length):
            nonlocal acc, nbits
            acc = (acc << length) | (code & ((1 << length) - 1))
            nbits += length
            while nbits >= 8:
                nbits -= 8
                b = (acc >> nbits) & 0xFF
                out.append(b)
                if b == 0xFF:
                    out.append(0x00)

        prev_dc = 0
        for bi, zz in enumerate(Qz):
            if restart_interval and bi and bi % restart_interval == 0:
                if nbits:  # byte-align with 1-bits, then the raw marker
                    put((1 << (8 - nbits)) - 1, 8 - nbits)
                out.append(0xFF)
                out.append(0xD0 + ((bi // restart_interval - 1) % 8))
                prev_dc = 0
            diff = int(zz[0]) - prev_dc
            prev_dc = int(zz[0])
            cat, bits = category(diff)
            c, ln = dc_enc[cat]
            put(c, ln)
            if cat:
                put(bits, cat)
            nz = np.nonzero(zz[1:])[0]
            last = int(nz[-1]) + 1 if len(nz) else 0
            run = 0
            for i in range(1, last + 1):
                v = int(zz[i])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    c, ln = ac_enc[0xF0]
                    put(c, ln)
                    run -= 16
                cat, bits = category(v)
                c, ln = ac_enc[(run << 4) | cat]
                put(c, ln)
                put(bits, cat)
                run = 0
            if last < 63:
                c, ln = ac_enc[0x00]
                put(c, ln)
        if nbits:
            put((1 << (8 - nbits)) - 1, 8 - nbits)
        scan = bytes(out)

        def seg(marker, payload):
            return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

        return (
            b"\xff\xd8"
            + seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
            + seg(0xDB, b"\x00" + bytes(int(x) for x in q))
            + seg(0xC0, struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00")
            + seg(0xC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS))
            + seg(0xC4, b"\x10" + bytes(AC_BITS) + bytes(AC_VALS))
            + (seg(0xDD, struct.pack(">H", restart_interval)) if restart_interval else b"")
            + seg(0xDA, b"\x01\x01\x00\x00\x3f\x00")
            + scan
            + b"\xff\xd9"
        )

    def parse(buf):
        """JFIF bytes -> ((width, height, precision), np.int64 pixels)."""
        if buf[:2] != b"\xff\xd8":
            raise ValueError("bad JPEG signature (no SOI)")
        pos, qtabs, htabs, sof, scan_info, scan_start = 2, {}, {}, None, None, None
        restart_interval = 0
        while pos < len(buf):
            if buf[pos] != 0xFF:
                raise ValueError(f"expected marker at byte {pos}")
            while pos + 1 < len(buf) and buf[pos + 1] == 0xFF:
                pos += 1  # optional 0xFF fill bytes before a marker (§B.1.1.2)
            m = buf[pos + 1] if pos + 1 < len(buf) else None
            if m is None:
                raise ValueError("truncated JPEG: lone 0xFF at end")
            if m == 0xD9:
                break
            if m == 0x01 or 0xD0 <= m <= 0xD7:
                pos += 2  # TEM/RSTn are standalone: no length word follows
                continue
            if pos + 4 > len(buf):
                raise ValueError("truncated JPEG: marker length cut off")
            (length,) = struct.unpack(">H", buf[pos + 2 : pos + 4])
            payload = buf[pos + 4 : pos + 2 + length]
            if len(payload) != length - 2:
                raise ValueError("truncated JPEG: segment payload cut off")
            if m == 0xDB:
                p = 0
                while p < len(payload):
                    pq, tq = payload[p] >> 4, payload[p] & 0xF
                    if pq != 0:
                        raise ValueError("16-bit quantization tables unsupported")
                    if p + 65 > len(payload):
                        raise ValueError("truncated JPEG: DQT cut off")
                    qtabs[tq] = np.frombuffer(
                        payload[p + 1 : p + 65], dtype=np.uint8
                    ).astype(np.int64)
                    p += 65
            elif m == 0xC4:
                p = 0
                while p < len(payload):
                    tc, th = payload[p] >> 4, payload[p] & 0xF
                    bits = list(payload[p + 1 : p + 17])
                    n = sum(bits)
                    vals = list(payload[p + 17 : p + 17 + n])
                    # keep the raw segment as a cache key so identical
                    # tables across files build their decode LUT once
                    htabs[(tc, th)] = (bytes(payload[p : p + 17 + n]), bits, vals)
                    p += 17 + n
            elif m == 0xC0:
                precision, hh, ww, ncomp = struct.unpack(">BHHB", payload[:6])
                if ncomp != 1:
                    raise ValueError("only grayscale (1-component) JPEG supported")
                if payload[7] != 0x11:
                    raise ValueError("chroma subsampling invalid for grayscale")
                sof = (precision, hh, ww, payload[8])
            elif m in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                raise ValueError(
                    f"non-baseline SOF marker 0xFF{m:02X} (progressive/arithmetic unsupported)"
                )
            elif m == 0xDD:
                if length != 4:
                    raise ValueError("malformed DRI segment")
                (restart_interval,) = struct.unpack(">H", payload)
            elif m == 0xDA:
                if payload[0] != 1:
                    raise ValueError("interleaved multi-component scan unsupported")
                scan_info = (payload[2] >> 4, payload[2] & 0xF)
                scan_start = pos + 2 + length
                break
            pos += 2 + length
        if sof is None or scan_start is None:
            raise ValueError("missing SOF0/SOS segment")
        precision, hh, ww, qsel = sof
        end = buf.rfind(b"\xff\xd9")
        if end < 0 or end < scan_start:
            raise ValueError("truncated JPEG: no EOI after scan")
        data = buf[scan_start:end]
        qz = qtabs[qsel]
        qnat = np.empty(64, dtype=np.int64)
        for zi, nat in enumerate(ZIGZAG):
            qnat[nat] = qz[zi]
        dct, act = htabs[(0, scan_info[0])], htabs[(1, scan_info[1])]

        # --- scan decode: 16-bit-lookahead LUT (the libjpeg shape) ---
        # Unstuff each entropy segment vectorized, then decode each
        # symbol with ONE peek of the next 16 bits into a table mapping
        # every 16-bit window to (code length << 8 | symbol) — ~10x less
        # interpreter work than per-bit Huffman walking (measured 10.2 s
        # -> ~2 s for the sf0.1 query on the per-bit reader this
        # replaces). Entry 0 marks prefixes that are no valid code.
        #
        # Restart markers (DRI/RSTn, §B.2.1.2): the scan splits into
        # byte-aligned segments at each RSTn; every segment restarts the
        # DC predictor and covers exactly `restart_interval` MCUs (the
        # last may be short). Marker sequence numbers cycle D0..D7 and
        # are validated — a skipped or repeated marker fails loud.
        raw = np.frombuffer(data, dtype=np.uint8)
        if len(raw) == 0:
            raise ValueError("truncated JPEG entropy stream")
        is_ff = raw == 0xFF
        if is_ff[-1]:
            raise ValueError("truncated JPEG entropy stream at 0xFF")
        nxt = raw[1:]
        is_rst = is_ff[:-1] & (nxt >= 0xD0) & (nxt <= 0xD7)
        if (is_ff[:-1] & (nxt != 0x00) & ~is_rst).any():
            raise ValueError("unexpected marker inside scan")
        rst_at = np.nonzero(is_rst)[0]
        if len(rst_at) and restart_interval == 0:
            raise ValueError("RSTn marker in scan but no DRI segment")
        chunks = []  # (unstuffed bytes) per restart segment
        start = 0
        for i, p in enumerate(rst_at):
            expected = 0xD0 + (i % 8)
            if int(raw[p + 1]) != expected:
                raise ValueError(
                    f"RST marker out of sequence: got 0xFF{int(raw[p + 1]):02X}, "
                    f"expected 0xFF{expected:02X}"
                )
            chunks.append(raw[start:p])
            start = int(p) + 2
        chunks.append(raw[start:])

        def unstuff(seg):
            if len(seg) == 0:
                raise ValueError("truncated JPEG entropy stream")
            ff = seg == 0xFF
            drop = np.zeros(len(seg), dtype=bool)
            drop[1:] = ff[:-1] & (seg[1:] == 0x00)
            return seg[~drop].tobytes()

        def lut_of(key, bits, vals):
            cached = _lut_cache.get(key)
            if cached is None:
                lut = np.zeros(1 << 16, dtype=np.int32)
                for (length, code), sym in build_dec(bits, vals).items():
                    base = code << (16 - length)
                    lut[base : base + (1 << (16 - length))] = (length << 8) | sym
                cached = _lut_cache[key] = lut
            return cached

        dc_lut, ac_lut = lut_of(*dct), lut_of(*act)

        def extend(bits, cat):
            if cat == 0:
                return 0
            return bits if bits >> (cat - 1) else bits - (1 << cat) + 1

        def decode_segment(stream, coeffs, base, n_blocks):
            """Decode ``n_blocks`` MCUs from one byte-aligned restart
            segment into coeffs[base:base+n_blocks]; the DC predictor
            starts at 0 (reset semantics)."""
            total_bits = 8 * len(stream)
            spos, sacc, snbits = 0, 0, 0  # byte cursor, bit accumulator

            def ensure(n):
                # top up the accumulator to >= n bits; virtual 1-padding
                # past the segment end is allowed for LOOKAHEAD only —
                # consuming it is caught by the consumed-bits check below.
                nonlocal spos, sacc, snbits
                while snbits < n:
                    if spos < len(stream):
                        sacc = ((sacc & ((1 << snbits) - 1)) << 8) | stream[spos]
                        spos += 1
                    else:
                        sacc = ((sacc & ((1 << snbits) - 1)) << 8) | 0xFF
                    snbits += 8

            consumed = 0

            def read_sym(lut):
                nonlocal snbits, consumed
                ensure(16)
                entry = int(lut[(sacc >> (snbits - 16)) & 0xFFFF])
                if entry == 0:
                    raise ValueError("invalid Huffman code in scan")
                length = entry >> 8
                snbits -= length
                consumed += length
                return entry & 0xFF

            def read_bits(n):
                nonlocal snbits, consumed
                if n == 0:
                    return 0
                ensure(n)
                snbits -= n
                consumed += n
                return (sacc >> snbits) & ((1 << n) - 1)

            prev_dc = 0
            for n in range(n_blocks):
                zz = coeffs[base + n]
                cat = read_sym(dc_lut)
                prev_dc += extend(read_bits(cat), cat) if cat else 0
                zz[0] = prev_dc
                i = 1
                while i < 64:
                    sym = read_sym(ac_lut)
                    if sym == 0x00:
                        break
                    if sym == 0xF0:
                        i += 16
                        continue
                    run, cat = sym >> 4, sym & 0xF
                    i += run
                    if i > 63:
                        raise ValueError("AC coefficient run overruns block")
                    zz[i] = extend(read_bits(cat), cat)
                    i += 1
                if consumed > total_bits:
                    raise ValueError("truncated JPEG entropy stream")

        bh, bw = -(-hh // 8), -(-ww // 8)
        n_total = bh * bw
        coeffs = np.zeros((n_total, 64), dtype=np.int64)
        per = restart_interval if restart_interval else n_total
        expected_chunks = max(1, -(-n_total // per))
        if len(chunks) != expected_chunks:
            raise ValueError(
                f"restart segment count mismatch: {len(chunks)} segments "
                f"for {n_total} MCUs at interval {per}"
            )
        for ci, seg_raw in enumerate(chunks):
            base = ci * per
            decode_segment(unstuff(seg_raw), coeffs, base, min(per, n_total - base))
        nat = np.zeros_like(coeffs)
        nat[:, ZIGZAG] = coeffs
        D = (nat * qnat).reshape(-1, 8, 8).astype(np.float64)
        px = A.T @ D @ A + 128.0  # batched IDCT via broadcasting (BLAS)
        grid = (
            px.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
        )
        pixels = np.clip(np.round(grid), 0, 255).astype(np.int64)[:hh, :ww]
        return (ww, hh, precision), pixels

    return encode, parse


def _jpeg_encode_batches(tile_cols: int, max_bytes: int):
    """mapInPandas stage: doc bytes -> constant-tile grayscale JPEG."""
    encode, _ = _jpeg_codec()

    def run(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for blob in pdf["content"]:
                bs = bytes(blob)[:max_bytes]
                n = max(1, -(-len(bs) // tile_cols)) * tile_cols
                vals = np.zeros(n, dtype=np.uint8)
                vals[: len(bs)] = np.frombuffer(bs, dtype=np.uint8)
                tiles = vals.reshape(-1, tile_cols)
                img = np.repeat(np.repeat(tiles, 8, axis=0), 8, axis=1)
                out.append(encode(img))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "jpeg": out})

    return run


def _jpeg_decode_batches():
    """mapInPandas stage: JPEG binary -> header fields + pixel stats."""
    _, parse = _jpeg_codec()

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = {
                k: []
                for k in (
                    "doc_id", "width", "height", "precision",
                    "n_px", "sum_px", "mean_px", "max_px",
                )
            }
            for doc_id, blob in zip(pdf["doc_id"], pdf["jpeg"]):
                (w, h, prec), px = parse(bytes(blob))
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["precision"].append(prec)
                rows["n_px"].append(int(px.size))
                rows["sum_px"].append(int(px.sum()))
                rows["mean_px"].append(px.sum() / px.size)
                rows["max_px"].append(int(px.max()))
            yield pd.DataFrame(rows)

    return run


_JPEG_SCHEMA = (
    "doc_id long, width int, height int, precision int, "
    "n_px long, sum_px long, mean_px double, max_px int"
)

#: oracle helpers: first JPEG_MAX_BYTES of the doc, one 8x8 tile per byte
_J_LEN = f"LEAST(LENGTH(text), {JPEG_MAX_BYTES})"
_J_ROWS = f"GREATEST(1, ({_J_LEN} + {JPEG_TILE_COLS - 1}) // {JPEG_TILE_COLS})"


@register(
    "multimodal_jpeg_decode",
    oracle=f"""
    SELECT doc_id,
           {JPEG_TILE_COLS * 8} AS width,
           CAST({_J_ROWS} * 8 AS INT) AS height,
           8 AS precision,
           CAST({_J_ROWS} * {JPEG_TILE_COLS * 64} AS BIGINT) AS n_px,
           CAST(64 * COALESCE((SELECT SUM(ascii(substring(text, CAST(i AS INT), 1)))
                 FROM UNNEST(range(1, {_J_LEN} + 1)) AS u(i)), 0) AS BIGINT) AS sum_px,
           CAST(64 * COALESCE((SELECT SUM(ascii(substring(text, CAST(i AS INT), 1)))
                 FROM UNNEST(range(1, {_J_LEN} + 1)) AS u(i)), 0) AS DOUBLE)
             / ({_J_ROWS} * {JPEG_TILE_COLS * 64}) AS mean_px,
           CAST(COALESCE((SELECT MAX(ascii(substring(text, CAST(i AS INT), 1)))
                 FROM UNNEST(range(1, {_J_LEN} + 1)) AS u(i)), 0) AS INT) AS max_px
    FROM documents
    """,
    tags=("multimodal", "pandas-udf", "image", "jpeg"),
    doc=(
        "REAL baseline JPEG decode path, stdlib+numpy only (retires the "
        "package's last NotImplementedError): the first 64 doc bytes "
        "become constant 8x8 tiles of a grayscale image, encoded to a "
        "conformant ITU T.81 baseline sequential JFIF (batched 8x8 DCT, "
        "all-8s DQT, zigzag, DC-differential + AC run-length canonical "
        "Huffman with the Annex K typical tables, byte stuffing) and "
        "decoded back by a general baseline reader (any conformant "
        "tables; fails loud on progressive/arithmetic/truncation). "
        "Constant tiles + q=8 make the lossy pipeline exact on this "
        "content, so decoded pixel stats are oracle-checked against the "
        "source bytes — DCT->quantize->Huffman->parse->dequantize->IDCT "
        "verified end-to-end, the same construction the PNG op uses."
    ),
)
def multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Arrow-batched mapInPandas stages with a real JPEG binary
    column between them — the same zero-shuffle shape as
    multimodal_image_decode (PNG): both stages chain onto the scan, the
    pixel volume never leaves the executors, and real .jpg files would
    enter at the decode contract. Per-doc cost is bounded by the
    64-byte cap (64 DCT blocks/doc)."""
    m = _codec_parallel(
        media_table(spark, sf_dir).select("doc_id", "content"), sf_dir
    )
    jpg = m.mapInPandas(
        _jpeg_encode_batches(JPEG_TILE_COLS, JPEG_MAX_BYTES),
        schema="doc_id long, jpeg binary",
    )
    return jpg.mapInPandas(_jpeg_decode_batches(), schema=_JPEG_SCHEMA)


# ---------------------------------------------------------------------------
# Real GIF87a codec (stdlib struct + numpy; LZW IS the format's substance)
# ---------------------------------------------------------------------------
#
# Third image format with a REAL decoder: GIF87a is an LZW-compressed
# 8-bit indexed raster with a color table — entirely decodable with the
# stdlib, unlike WebP/video (the one remaining documented stub above).
# Fixture bytes lay out as a PNG_WIDTH-wide image over a 256-entry
# grayscale palette, so the decoded intensity stats are oracle-checkable
# against the source text exactly like the PNG/JPEG twins.

_GIF_SCHEMA = (
    "doc_id long, width int, height int, palette_size int, "
    "n_px long, sum_px long, mean_px double, max_px int"
)


def _lzw_codec():
    """Build the shared GIF-variant LZW (encode, decode) pair: variable
    width codes 9..12 bits packed LSB-first, CLEAR/EOI, table reset at
    4096 — the full coding layer of the GIF spec. Local so cloudpickle
    ships it by value into the mapInPandas closures."""

    def encode(data: bytes, min_code: int = 8) -> bytes:
        clear, eoi = 1 << min_code, (1 << min_code) + 1
        out = bytearray()
        acc = nbits = 0
        width = min_code + 1

        def emit(code, w):
            nonlocal acc, nbits
            acc |= code << nbits
            nbits += w
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8

        table = {bytes([i]): i for i in range(1 << min_code)}
        next_code = eoi + 1
        emit(clear, width)
        w = b""
        for ch in data:
            wc = w + bytes([ch])
            if wc in table:
                w = wc
                continue
            emit(table[w], width)
            table[wc] = next_code
            next_code += 1
            if next_code - 1 == (1 << width) and width < 12:
                width += 1
            elif next_code > 4095:
                emit(clear, width)
                table = {bytes([i]): i for i in range(1 << min_code)}
                next_code = eoi + 1
                width = min_code + 1
            w = bytes([ch])
        if w:
            emit(table[w], width)
        emit(eoi, width)
        if nbits:
            out.append(acc & 0xFF)
        return bytes(out)

    def decode(data: bytes, min_code: int = 8) -> bytes:
        clear, eoi = 1 << min_code, (1 << min_code) + 1
        out = bytearray()
        acc = nbits = pos = 0
        width = min_code + 1

        def read():
            nonlocal acc, nbits, pos
            while nbits < width:
                if pos >= len(data):
                    raise ValueError("LZW stream truncated before EOI")
                acc |= data[pos] << nbits
                pos += 1
                nbits += 8
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            return code

        table = [bytes([i]) for i in range(1 << min_code)] + [b"", b""]
        prev = None
        while True:
            code = read()
            if code == clear:
                table = table[: eoi + 1]
                width = min_code + 1
                prev = None
                continue
            if code == eoi:
                break
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):  # the KwKwK special case
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError(f"LZW code {code} out of range")
            out += entry
            if len(table) == (1 << width) and width < 12:
                width += 1
            prev = entry
        return bytes(out)

    return encode, decode


def _gif_encode_batches(width: int):
    """mapInPandas stage: raw bytes -> genuine GIF87a binary column
    (logical screen descriptor, 256-entry grayscale global color table,
    image descriptor, LZW sub-blocks, trailer)."""

    def encode_batches(batches):
        import struct

        import pandas as pd

        lzw_encode, _ = _lzw_codec()
        gct = b"".join(bytes((i, i, i)) for i in range(256))

        for pdf in batches:
            out = []
            for blob in pdf["content"]:
                px = bytes(blob)
                h = max(1, -(-len(px) // width))
                px = px.ljust(width * h, b"\x00")
                buf = bytearray(b"GIF87a")
                buf += struct.pack("<HHBBB", width, h, 0xF7, 0, 0)
                buf += gct
                buf += b"\x2c" + struct.pack("<HHHHB", 0, 0, width, h, 0)
                buf.append(8)  # LZW minimum code size
                comp = lzw_encode(px)
                for i in range(0, len(comp), 255):
                    block = comp[i : i + 255]
                    buf.append(len(block))
                    buf += block
                buf += b"\x00\x3b"
                out.append(bytes(buf))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "gif": out})

    return encode_batches


def _gif_reader():
    """Build the shared GIF parse function: signature (87a/89a), screen
    descriptor, global color table, extension-block skip, image
    descriptor, LZW sub-block reassembly + decode, trailer check.
    Fail-loud on interlace (row reordering this fixture never emits)
    and on pixel-count mismatch."""
    import struct

    import numpy as np

    _, lzw_decode = _lzw_codec()

    def parse(buf: bytes):
        """GIF bytes -> ((width, height, palette_size), index array)."""
        if buf[:6] not in (b"GIF87a", b"GIF89a"):
            raise ValueError("bad GIF signature")
        w, h, packed, _bg, _ar = struct.unpack("<HHBBB", buf[6:13])
        pos = 13
        n_pal = 0
        palette = None
        if packed & 0x80:
            n_pal = 2 << (packed & 0x07)
            palette = np.frombuffer(buf[pos : pos + 3 * n_pal], dtype=np.uint8).reshape(
                n_pal, 3
            )
            pos += 3 * n_pal
        while buf[pos] == 0x21:  # extension blocks (GIF89a GCE etc.)
            pos += 2
            while buf[pos]:
                pos += 1 + buf[pos]
            pos += 1
        if buf[pos] != 0x2C:
            raise ValueError(f"expected image descriptor, got {buf[pos]:#x}")
        _l, _t, iw, ih, ipacked = struct.unpack("<HHHHB", buf[pos + 1 : pos + 10])
        pos += 10
        if ipacked & 0x40:
            raise ValueError("interlaced GIF not supported")
        if ipacked & 0x80:  # local color table overrides the global one
            n_pal = 2 << (ipacked & 0x07)
            palette = np.frombuffer(buf[pos : pos + 3 * n_pal], dtype=np.uint8).reshape(
                n_pal, 3
            )
            pos += 3 * n_pal
        min_code = buf[pos]
        pos += 1
        comp = bytearray()
        while buf[pos]:
            n = buf[pos]
            comp += buf[pos + 1 : pos + 1 + n]
            pos += 1 + n
        pos += 1
        if buf[pos] != 0x3B:
            raise ValueError("missing GIF trailer")
        idx = np.frombuffer(lzw_decode(bytes(comp), min_code), dtype=np.uint8)
        if len(idx) != iw * ih:
            raise ValueError(f"pixel count {len(idx)} != {iw}x{ih}")
        return (w, h, n_pal), idx.reshape(ih, iw)

    return parse


def _gif_decode_batches():
    """mapInPandas stage: GIF binary -> header fields + intensity stats
    via the grayscale palette (intensity = palette[index].red, which for
    this fixture's identity-gray table equals the index)."""
    parse = _gif_reader()

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            rows = {
                k: []
                for k in (
                    "doc_id", "width", "height", "palette_size",
                    "n_px", "sum_px", "mean_px", "max_px",
                )
            }
            for doc_id, blob in zip(pdf["doc_id"], pdf["gif"]):
                (w, h, n_pal), idx = parse(bytes(blob))
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["palette_size"].append(n_pal)
                rows["n_px"].append(w * h)
                rows["sum_px"].append(int(idx.sum()))
                rows["mean_px"].append(idx.sum() / (w * h))
                rows["max_px"].append(int(idx.max()))
            yield pd.DataFrame(rows)

    return decode


@register(
    "multimodal_gif_decode",
    oracle=f"""
    SELECT doc_id,
           {PNG_WIDTH} AS width,
           CAST(GREATEST(1, (LENGTH(text) + {PNG_WIDTH - 1}) // {PNG_WIDTH}) AS INT) AS height,
           256 AS palette_size,
           CAST({PNG_WIDTH} * GREATEST(1, (LENGTH(text) + {PNG_WIDTH - 1}) // {PNG_WIDTH}) AS BIGINT) AS n_px,
           CAST(COALESCE((SELECT SUM(ascii(substring(text, i, 1)))
                 FROM UNNEST(range(1, LENGTH(text) + 1)) AS u(i)), 0) AS BIGINT) AS sum_px,
           CAST(COALESCE((SELECT SUM(ascii(substring(text, i, 1)))
                 FROM UNNEST(range(1, LENGTH(text) + 1)) AS u(i)), 0) AS DOUBLE)
             / ({PNG_WIDTH} * GREATEST(1, (LENGTH(text) + {PNG_WIDTH - 1}) // {PNG_WIDTH})) AS mean_px,
           CAST(COALESCE((SELECT MAX(ascii(substring(text, i, 1)))
                 FROM UNNEST(range(1, LENGTH(text) + 1)) AS u(i)), 0) AS INT) AS max_px
    FROM documents
    """,
    tags=("multimodal", "pandas-udf", "image", "gif"),
    doc=(
        "REAL GIF87a decode path (third real image codec after PNG and "
        "baseline JPEG): fixture bytes become spec-conformant GIFs — "
        "256-entry grayscale color table, LZW sub-blocks with variable "
        "9..12-bit codes, CLEAR/EOI, table reset at 4096 — and a full "
        "reader (header/descriptor walk, extension skip, sub-block "
        "reassembly, LZW decode, trailer check) parses them back. "
        "Intensity stats from the DECODED index array are oracle-checked "
        "against the source bytes, so the LZW encode->pack->unpack->"
        "decode round trip is verified end-to-end, including the KwKwK "
        "special case and code-width growth."
    ),
)
def multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Arrow-batched mapInPandas stages with a real GIF binary
    column between them, mirroring the PNG/JPEG twins: no shuffle, no
    driver hop; real GIF files skip the encode stage and enter at the
    decode contract. LZW is O(pixels) with dict ops per byte — ~100x
    cheaper than the JPEG DCT path per doc."""
    m = _codec_parallel(
        media_table(spark, sf_dir).select("doc_id", "content"), sf_dir
    )
    gif = m.mapInPandas(_gif_encode_batches(PNG_WIDTH), schema="doc_id long, gif binary")
    return gif.mapInPandas(_gif_decode_batches(), schema=_GIF_SCHEMA)
