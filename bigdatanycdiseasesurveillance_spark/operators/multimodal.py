"""Multimodal column plumbing: opaque binary payloads + typed metadata,
decode / feature-extract / resize / frame-sample as Arrow-batched
mapInPandas stages.

Real image/audio/video codecs are NOT in this container, so the byte-
level decode is a clearly-marked deterministic stub (`_fake_decode`) —
everything around it (schema, binary column handling, batch shape,
partitioning, the mapInPandas signature) is the real scale path: swap
`_fake_decode` for a PIL/ffmpeg call and nothing else changes.

Scale notes: mapInPandas streams Arrow batches — payloads never
materialize as one driver list; per-batch decode keeps executor memory
bounded by batch size (spark.sql.execution.arrow.maxRecordsPerBatch),
which is exactly how real media decode must run at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_TYPES = ("image", "audio", "video")

DECODED_SCHEMA = (
    "doc_id long, media_type string, n_bytes long, width long, height long, "
    "n_frames long, sample_rate long, checksum string"
)


def attach_media(docs: DataFrame) -> DataFrame:
    """Build the multimodal bronze shape from the documents table: the
    text bytes play the opaque binary payload; media_type cycles
    deterministically. Real pipelines get these columns from ingestion."""
    return docs.select(
        "doc_id",
        F.col("text").cast("binary").alias("payload"),
        F.element_at(
            F.array(*[F.lit(t) for t in MEDIA_TYPES]),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
    )


def _make_decoder():
    """Closure (pickle-by-value). STUB DECODE: derives deterministic
    pseudo-metadata from an md5 of the payload. Replace the body of
    `decode_one` with PIL/soundfile/ffmpeg for real media — the Spark
    plumbing is identical."""

    def decode_batches(batch_iter):
        import hashlib

        import pandas as _pd

        def decode_one(payload: bytes, media_type: str):
            digest = hashlib.md5(payload).hexdigest()
            seed = int(digest[:8], 16)
            width = 64 + seed % 1024 if media_type in ("image", "video") else 0
            height = 64 + (seed >> 10) % 1024 if media_type in ("image", "video") else 0
            n_frames = 1 if media_type == "image" else 24 + seed % 240
            sample_rate = 16000 if media_type == "audio" else 0
            return width, height, n_frames, sample_rate, digest

        for pdf in batch_iter:
            rows = []
            for _, r in pdf.iterrows():
                payload = bytes(r["payload"])
                w, h, nf, sr, digest = decode_one(payload, r["media_type"])
                rows.append(
                    {
                        "doc_id": r["doc_id"],
                        "media_type": r["media_type"],
                        "n_bytes": len(payload),
                        "width": w,
                        "height": h,
                        "n_frames": nf,
                        "sample_rate": sr,
                        "checksum": digest,
                    }
                )
            yield _pd.DataFrame(rows)

    return decode_batches


def decode_media(media: DataFrame) -> DataFrame:
    """Decode stage: mapInPandas over (doc_id, payload, media_type)."""
    from ..tables import parallelize_scan

    # decode is the canonical per-core bottleneck of a media pipeline —
    # rebalance single-split inputs so all cores decode
    return parallelize_scan(media).mapInPandas(_make_decoder(), DECODED_SCHEMA)


def resize_plan(decoded: DataFrame) -> DataFrame:
    """Resize planning to a 256-pixel longest side as native column math
    (the scale factor / target dims don't need Python): preserves aspect
    ratio, never upscales."""
    scale = F.least(
        F.lit(1.0),
        F.lit(256.0)
        / F.greatest(F.col("width"), F.col("height"), F.lit(1)).cast("double"),
    )
    return decoded.withColumn("scale", F.round(scale, 4)).withColumn(
        "target_w", F.floor(F.col("width") * scale).cast("long")
    ).withColumn("target_h", F.floor(F.col("height") * scale).cast("long"))


def frame_sample(decoded: DataFrame) -> DataFrame:
    """Every-10th-frame sampling for video rows: native sequence() — the sampled
    index list is plan-side; only actual frame extraction would be a
    mapInPandas decode."""
    return decoded.withColumn(
        "sampled_frames",
        F.when(
            F.col("media_type") == "video",
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(10)),
        ).otherwise(F.array().cast("array<long>")),
    ).withColumn("n_sampled", F.size("sampled_frames").cast("long"))


# ---------------------------------------------------------------------------
# Real-codec twin: actual bytes through actual stdlib parsers.
#
# The md5-stub decode above is value-checked end to end, but no real
# bytes are ever decoded. This trio closes that gap with pure-stdlib
# codecs: a header-only PNG (signature + IHDR + IEND, CRC32-verified),
# a canonical 44-byte-header WAV written and re-read by the `wave`
# module, and a header-only JPEG (SOI + JFIF APP0 + SOF0 + EOI, parsed
# by a real marker-segment walk — the dominant web-crawl image format).
# Every metadata field is a closed-form function of doc_id, so a
# SQL oracle replays the whole builder->parser round trip — a bug in
# either side (wrong endianness, wrong struct layout, bad CRC, RIFF size
# miscount, mis-walked marker lengths) breaks parity. Reference analog:
# the embedding consumer's real-model doc assembly
# (src/spark_consumers/embedding_consumer.py:97-170) — the production
# kernel whose plumbing the stub could not exercise.
# ---------------------------------------------------------------------------

REAL_MEDIA_SCHEMA = "doc_id long, media_type string, payload binary"

REAL_DECODED_SCHEMA = (
    "doc_id long, media_type string, n_bytes long, width long, height long, "
    "bit_depth long, channels long, sample_rate long, n_frames long, "
    "header_ok boolean"
)


def _media_params(doc_id: int):
    """Closed-form payload parameters — the single source of truth the
    builder, the parser test, and the SQL oracle all derive from."""
    if doc_id % 3 == 0:
        return {
            "media_type": "png",
            "width": 1 + doc_id % 16,
            "height": 1 + (doc_id // 16) % 16,
        }
    if doc_id % 3 == 1:
        return {
            "media_type": "wav",
            "channels": 1 + doc_id % 2,
            "sample_rate": 8000 + (doc_id % 4) * 4000,
            "n_frames": 1 + doc_id % 100,
        }
    return {
        "media_type": "jpeg",
        "width": 1 + doc_id % 300,
        "height": 1 + (doc_id // 3) % 200,
        # grayscale (1 component) vs YCbCr (3) both exercised
        "channels": 1 if doc_id % 2 == 1 else 3,
    }


def attach_real_media(docs: DataFrame) -> DataFrame:
    """Ingestion stand-in: build VALID media payloads (real PNG / real
    WAV bytes) deterministically from doc_id via mapInPandas. Real
    pipelines read these bytes from object storage; everything after
    this stage is production-shaped."""
    from ..tables import parallelize_scan

    def build_batches(batch_iter):
        import io
        import struct
        import wave as wave_mod
        import zlib

        import pandas as _pd

        def params(doc_id):
            # mirrors _media_params (closure copy: executors don't
            # import this repo)
            if doc_id % 3 == 0:
                return ("png", 1 + doc_id % 16, 1 + (doc_id // 16) % 16, 0, 0, 0)
            if doc_id % 3 == 1:
                return (
                    "wav",
                    0,
                    0,
                    1 + doc_id % 2,
                    8000 + (doc_id % 4) * 4000,
                    1 + doc_id % 100,
                )
            return (
                "jpeg",
                1 + doc_id % 300,
                1 + (doc_id // 3) % 200,
                1 if doc_id % 2 == 1 else 3,
                0,
                0,
            )

        def build_png(width, height):
            def chunk(ctype, data):
                return (
                    struct.pack(">I", len(data))
                    + ctype
                    + data
                    + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
                )

            ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
            return b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IEND", b"")

        def build_wav(channels, rate, n_frames):
            buf = io.BytesIO()
            with wave_mod.open(buf, "wb") as w:
                w.setnchannels(channels)
                w.setsampwidth(2)
                w.setframerate(rate)
                w.writeframes(b"\x00" * (n_frames * channels * 2))
            return buf.getvalue()

        def build_jpeg(width, height, ncomp):
            # SOI + JFIF APP0 (16-byte segment) + SOF0 + EOI: a valid
            # header-only JPEG stream (no scan data needed for header
            # parsing — exactly what a 100 TB metadata pass reads)
            app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + bytes(
                [1, 1, 0]
            ) + struct.pack(">HH", 1, 1) + bytes([0, 0])
            comps = b"".join(
                bytes([i + 1, 0x11, 0]) for i in range(ncomp)
            )
            sof0 = (
                b"\xff\xc0"
                + struct.pack(">H", 8 + 3 * ncomp)
                + bytes([8])
                + struct.pack(">HH", height, width)
                + bytes([ncomp])
                + comps
            )
            return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"

        for pdf in batch_iter:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                mt, w, h, ch, sr, nf = params(doc_id)
                if mt == "png":
                    payload = build_png(w, h)
                elif mt == "wav":
                    payload = build_wav(ch, sr, nf)
                else:
                    payload = build_jpeg(w, h, ch)
                rows.append(
                    {"doc_id": doc_id, "media_type": mt, "payload": payload}
                )
            yield _pd.DataFrame(rows)

    return parallelize_scan(docs.select("doc_id")).mapInPandas(
        build_batches, REAL_MEDIA_SCHEMA
    )


def decode_real_headers(media: DataFrame) -> DataFrame:
    """REAL decode: PNG signature + big-endian IHDR struct parse with
    CRC32 verification; WAV via the stdlib `wave` reader plus a RIFF
    chunk-size integrity check; JPEG via a real marker-segment walk
    (SOI, JFIF APP0 identifier, SOFn frame header for dimensions /
    precision / component count, EOI terminator). Same mapInPandas/
    Arrow shape as the production decode stage — swap the parser bodies
    for PIL/soundfile and nothing else changes."""

    def decode_batches(batch_iter):
        import io
        import struct
        import wave as wave_mod
        import zlib

        import pandas as _pd

        def parse_png(payload):
            ok = payload[:8] == b"\x89PNG\r\n\x1a\n"
            (length,) = struct.unpack(">I", payload[8:12])
            ctype = payload[12:16]
            ok = ok and ctype == b"IHDR" and length == 13
            data = payload[16 : 16 + length]
            (crc,) = struct.unpack(">I", payload[16 + length : 20 + length])
            ok = ok and crc == (zlib.crc32(ctype + data) & 0xFFFFFFFF)
            width, height, bit_depth, color_type = struct.unpack(">IIBB", data[:10])
            channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type, 0)
            return {
                "width": width,
                "height": height,
                "bit_depth": bit_depth,
                "channels": channels,
                "sample_rate": 0,
                "n_frames": 0,
                "header_ok": bool(ok),
            }

        def parse_wav(payload):
            with wave_mod.open(io.BytesIO(payload), "rb") as w:
                channels = w.getnchannels()
                sampwidth = w.getsampwidth()
                rate = w.getframerate()
                n_frames = w.getnframes()
            (riff_size,) = struct.unpack("<I", payload[4:8])
            ok = payload[:4] == b"RIFF" and riff_size == len(payload) - 8
            return {
                "width": 0,
                "height": 0,
                "bit_depth": sampwidth * 8,
                "channels": channels,
                "sample_rate": rate,
                "n_frames": n_frames,
                "header_ok": bool(ok),
            }

        # SOFn markers that carry frame dimensions (all sequential/
        # progressive/lossless variants; C4/C8/CC are DHT/JPG/DAC)
        SOF_MARKERS = frozenset(
            {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
             0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}
        )

        def parse_jpeg(payload):
            ok = payload[:2] == b"\xff\xd8"
            width = height = precision = ncomp = 0
            jfif = eoi = sof = False
            i = 2
            while i + 2 <= len(payload):
                if payload[i] != 0xFF:
                    ok = False
                    break
                marker = payload[i + 1]
                if marker == 0xD9:  # EOI
                    eoi = i + 2 == len(payload)
                    break
                if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # standalone
                    i += 2
                    continue
                (seg_len,) = struct.unpack(">H", payload[i + 2 : i + 4])
                seg = payload[i + 4 : i + 2 + seg_len]
                if len(seg) != seg_len - 2:
                    ok = False
                    break
                if marker == 0xE0 and seg[:5] == b"JFIF\x00":
                    jfif = True
                elif marker in SOF_MARKERS:
                    precision = seg[0]
                    height, width = struct.unpack(">HH", seg[1:5])
                    ncomp = seg[5]
                    sof = True
                i += 2 + seg_len
            ok = ok and jfif and sof and eoi
            return {
                "width": width,
                "height": height,
                "bit_depth": precision,
                "channels": ncomp,
                "sample_rate": 0,
                "n_frames": 0,
                "header_ok": bool(ok),
            }

        bad = {
            "width": 0,
            "height": 0,
            "bit_depth": 0,
            "channels": 0,
            "sample_rate": 0,
            "n_frames": 0,
            "header_ok": False,
        }

        for pdf in batch_iter:
            rows = []
            for _, r in pdf.iterrows():
                payload = bytes(r["payload"])
                # a truncated/malformed blob must yield header_ok=False,
                # never fail the job: wave.Error / struct.error / short
                # slices are data conditions, not code bugs
                try:
                    if r["media_type"] == "png":
                        meta = parse_png(payload)
                    elif r["media_type"] == "wav":
                        meta = parse_wav(payload)
                    else:
                        meta = parse_jpeg(payload)
                except Exception:
                    meta = dict(bad)
                meta.update(
                    doc_id=int(r["doc_id"]),
                    media_type=r["media_type"],
                    n_bytes=len(payload),
                )
                rows.append(meta)
            yield _pd.DataFrame(rows)

    return media.mapInPandas(decode_batches, REAL_DECODED_SCHEMA)
