"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched ``mapInPandas``
stages.

Decode support is tiered by what this environment can do honestly:

- **real codecs** (pure stdlib + numpy, public formats): PNG
  (zlib-inflate + scanline unfiltering per the PNG spec), BMP, baseline
  JPEG (SOF0 Huffman entropy decode; mean luma from the DC
  coefficients), and PCM WAV (RIFF parse via ``wave``). ``fake=False``
  decodes these for real.
- **stubbed**: progressive JPEG/WebP/MP4/etc. need codec libraries absent here —
  ``NotImplementedError`` for those payloads, and ``fake=True`` gives a
  deterministic pseudo-decode so the distributed plumbing is exercisable
  with any payload.

At 100 TB the design rules are: (a) keep binary payloads OUT of shuffle —
all decode/feature stages are narrow (mapInPandas over the scan
partitioning); (b) size partitions by bytes not rows
(``spark.sql.files.maxPartitionBytes``) since payloads dominate; (c) emit
compact features and drop the payload column as early as possible;
(d) per-row error isolation — corrupt/unsupported payloads yield NULL
features plus a ``decode_error`` reason column instead of failing the
task (a poison pill must not kill a 1000-executor job), with
:func:`decode_error_datasheet` as the observable error budget.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..worker import prune_zip_importers

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def decode_png(data: bytes) -> tuple[int, int, float]:
    """Minimal real PNG decoder (stdlib zlib + numpy): 8-bit depth,
    grayscale/RGB(A), non-interlaced — returns (width, height,
    mean_luma in [0,1]). Implements the five scanline filters from the
    PNG specification (None/Sub/Up/Average/Paeth); luma is ITU-R BT.601
    (0.299 R + 0.587 G + 0.114 B)."""
    import numpy as np

    if data[:8] != PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos, idat, meta = 8, [], None
    while pos + 8 <= len(data):
        length, ctype = struct.unpack(">I4s", data[pos:pos + 8])
        chunk = data[pos + 8:pos + 8 + length]
        if ctype == b"IHDR":
            w, h, bitd, colort, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", chunk
            )
            meta = (w, h, bitd, colort, interlace)
        elif ctype == b"IDAT":
            idat.append(chunk)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if meta is None:
        raise ValueError("PNG missing IHDR")
    w, h, bitd, colort, interlace = meta
    if bitd != 8 or interlace != 0 or colort not in (0, 2, 4, 6):
        raise NotImplementedError(
            f"PNG subset: 8-bit non-interlaced gray/RGB(A) only "
            f"(bit depth {bitd}, color type {colort}, interlace {interlace})"
        )
    channels = {0: 1, 2: 3, 4: 2, 6: 4}[colort]
    raw = zlib.decompress(b"".join(idat))
    stride = w * channels
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG IDAT size mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    pos = 0
    for y in range(h):
        ftype = raw[pos]
        cur = np.frombuffer(
            raw[pos + 1:pos + 1 + stride], dtype=np.uint8
        ).astype(np.int32)
        pos += 1 + stride
        if ftype == 0:
            pass
        elif ftype == 2:  # Up — vectorized
            cur = (cur + prev) & 0xFF
        elif ftype == 1:  # Sub — sequential in x
            cur = cur.copy()
            for x in range(channels, stride):
                cur[x] = (cur[x] + cur[x - channels]) & 0xFF
        elif ftype == 3:  # Average
            cur = cur.copy()
            for x in range(stride):
                a = cur[x - channels] if x >= channels else 0
                cur[x] = (cur[x] + ((a + prev[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            cur = cur.copy()
            for x in range(stride):
                a = int(cur[x - channels]) if x >= channels else 0
                b = int(prev[x])
                c = int(prev[x - channels]) if x >= channels else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (cur[x] + pred) & 0xFF
        else:
            raise ValueError(f"PNG: unknown filter type {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    px = out.reshape(h, w, channels).astype(np.float64)
    if colort in (0, 4):  # gray / gray+alpha
        luma = px[:, :, 0]
    else:  # RGB / RGBA
        luma = 0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
    return w, h, float(luma.mean() / 255.0)


class _JpegBitReader:
    """MSB-first bit reader over a JPEG entropy-coded segment, handling
    0xFF00 byte stuffing and stopping at markers."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bits = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    raise EOFError("marker inside entropy data")
            self.bits = b
            self.nbits = 8
        self.nbits -= 1
        return (self.bits >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_to_marker(self) -> int:
        """Skip to the next marker (for RSTn); returns the marker byte.

        The spec (B.1.1.2) permits any number of 0xFF fill bytes before
        the marker byte, so consecutive 0xFF are skipped — only the
        first non-0xFF byte after the run is the marker."""
        self.nbits = 0
        while self.data[self.pos] != 0xFF or self.data[self.pos + 1] == 0x00:
            self.pos += 1
        self.pos += 1
        while self.data[self.pos] == 0xFF:  # fill bytes
            self.pos += 1
        marker = self.data[self.pos]
        self.pos += 1
        return marker


def _jpeg_huff_table(counts: bytes, symbols: bytes) -> dict:
    """Build a (length, code) -> symbol map from DHT BITS/HUFFVAL."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _jpeg_huff_decode(reader: _JpegBitReader, table: dict) -> int:
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | reader.read_bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _jpeg_extend(v: int, size: int) -> int:
    """JPEG F.2.2.1 EXTEND: map a ``size``-bit magnitude to its signed
    value."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def decode_jpeg(data: bytes) -> tuple[int, int, float]:
    """Minimal real baseline-JPEG decoder (pure stdlib + the scan's
    Huffman entropy decode): SOF0 (baseline sequential, 8-bit), any
    component/sampling layout, DRI/RSTn restart markers — returns
    (width, height, mean_luma in [0,1]).

    The whole entropy-coded scan is Huffman-decoded (every DC and AC
    coefficient must be consumed to track the bit position), but only
    the luma DC coefficients are kept: the DCT DC basis function is
    constant, AC basis functions are zero-mean over a block, so the
    image mean equals ``mean(DC_dequant)/8 + 128`` (level shift) —
    exact for dimensions that are multiples of the MCU size, and a
    right/bottom-edge-padded approximation otherwise (padded blocks
    replicate edge content per the spec's encoder convention).
    Progressive (SOF2), arithmetic coding, and 12-bit precision raise
    ``NotImplementedError``."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qt: dict[int, list[int]] = {}
    dc_tables: dict[int, dict] = {}
    ac_tables: dict[int, dict] = {}
    frame = None  # (w, h, [(comp_id, h_samp, v_samp, tq)])
    restart_interval = 0
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD8, 0xD9, 0x01) or 0xD0 <= marker <= 0xD7:
            continue  # parameterless (incl. EOI — no length field)
        seglen = struct.unpack(">H", data[pos:pos + 2])[0]
        seg = data[pos + 2:pos + seglen]
        if marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                      0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG subset: baseline sequential (SOF0) only, got "
                f"SOF marker 0x{marker:02x} (progressive/extended/"
                f"arithmetic need a full codec)"
            )
        if marker == 0xC0:  # SOF0
            prec, h, w, ncomp = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise NotImplementedError("JPEG subset: 8-bit only")
            comps = []
            for ci in range(ncomp):
                cid, samp, tq = struct.unpack(
                    ">BBB", seg[6 + ci * 3:9 + ci * 3]
                )
                comps.append((cid, samp >> 4, samp & 0xF, tq))
            frame = (w, h, comps)
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc_th = seg[p]
                counts = seg[p + 1:p + 17]
                nsym = sum(counts)
                symbols = seg[p + 17:p + 17 + nsym]
                table = _jpeg_huff_table(counts, symbols)
                if tc_th >> 4 == 0:
                    dc_tables[tc_th & 0xF] = table
                else:
                    ac_tables[tc_th & 0xF] = table
                p += 17 + nsym
        elif marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                if pq == 0:
                    qt[tq] = list(seg[p + 1:p + 65])
                    p += 65
                else:
                    qt[tq] = [
                        struct.unpack(
                            ">H", seg[p + 1 + 2 * i:p + 3 + 2 * i]
                        )[0]
                        for i in range(64)
                    ]
                    p += 129
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS — entropy-coded scan follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF0")
            ns = seg[0]
            scan_comps = []
            for ci in range(ns):
                cs, tdta = seg[1 + ci * 2], seg[2 + ci * 2]
                scan_comps.append((cs, tdta >> 4, tdta & 0xF))
            w, h, comps = frame
            if ns < len(comps):
                # Spec-legal baseline can split components across
                # multiple SOS scans; the MCU walk below assumes one
                # interleaved scan covering every component.
                raise NotImplementedError(
                    "JPEG subset: non-interleaved (multi-scan) "
                    f"baseline unsupported (scan has {ns} of "
                    f"{len(comps)} components)"
                )
            by_id = {c[0]: c for c in comps}
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            reader = _JpegBitReader(data, pos + seglen)
            pred = {cs: 0 for cs, _, _ in scan_comps}
            luma_id = scan_comps[0][0]  # first scan component = Y
            luma_q0 = qt[by_id[luma_id][3]][0]
            dc_sum, dc_n = 0, 0
            mcu_count = 0
            for _my in range(mcuy):
                for _mx in range(mcux):
                    if restart_interval and mcu_count and (
                        mcu_count % restart_interval == 0
                    ):
                        m = reader.align_to_marker()
                        if not 0xD0 <= m <= 0xD7:
                            raise ValueError("expected RSTn marker")
                        pred = {cs: 0 for cs, _, _ in scan_comps}
                    for cs, td, ta in scan_comps:
                        _, hs, vs, _tq = by_id[cs]
                        for _b in range(hs * vs):
                            sym = _jpeg_huff_decode(reader, dc_tables[td])
                            diff = _jpeg_extend(
                                reader.read_bits(sym), sym
                            )
                            pred[cs] += diff
                            if cs == luma_id:
                                dc_sum += pred[cs]
                                dc_n += 1
                            k = 1
                            while k < 64:  # AC coefficients: consume
                                rs = _jpeg_huff_decode(
                                    reader, ac_tables[ta]
                                )
                                if rs == 0x00:  # EOB
                                    break
                                if rs == 0xF0:  # ZRL
                                    k += 16
                                    continue
                                k += (rs >> 4) + 1
                                reader.read_bits(rs & 0xF)
                    mcu_count += 1
            mean = (dc_sum * luma_q0 / max(dc_n, 1)) / 8.0 + 128.0
            return w, h, float(min(max(mean / 255.0, 0.0), 1.0))
        pos += seglen
    raise ValueError("JPEG missing SOS scan")


def decode_bmp(data: bytes) -> tuple[int, int, float]:
    """Minimal real BMP decoder (pure struct + numpy): uncompressed
    (BI_RGB) 24/32-bit BITMAPINFOHEADER files — the common case for the
    format. Rows are bottom-up and 4-byte padded per the spec; luma is
    the same BT.601 combination as :func:`decode_png`."""
    import struct

    import numpy as np

    if data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    pix_off = struct.unpack_from("<I", data, 10)[0]
    hdr_size = struct.unpack_from("<I", data, 14)[0]
    if hdr_size < 40:
        raise NotImplementedError("BMP: BITMAPCOREHEADER not supported")
    w, h_raw = struct.unpack_from("<ii", data, 18)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    compression = struct.unpack_from("<I", data, 30)[0]
    if compression != 0 or bpp not in (24, 32):
        raise NotImplementedError(
            f"BMP subset: uncompressed 24/32bpp only (bpp={bpp}, "
            f"compression={compression})"
        )
    h = abs(h_raw)
    nch = bpp // 8
    stride = ((w * nch) + 3) & ~3
    rows = np.frombuffer(
        data, dtype=np.uint8, count=stride * h, offset=pix_off
    ).reshape(h, stride)[:, : w * nch].reshape(h, w, nch)
    if h_raw > 0:  # bottom-up storage
        rows = rows[::-1]
    px = rows.astype(np.float64)
    # BMP channel order is BGR(A)
    luma = 0.299 * px[:, :, 2] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 0]
    return w, h, float(luma.mean() / 255.0)


def decode_wav(data: bytes) -> tuple[int, float]:
    """Real PCM WAV decoder (stdlib ``wave`` + numpy): returns
    (duration_ms, rms_level in [0,1] relative to full scale)."""
    import io
    import wave as _wave

    import numpy as np

    with _wave.open(io.BytesIO(data), "rb") as wf:
        n, rate, width = wf.getnframes(), wf.getframerate(), wf.getsampwidth()
        frames = wf.readframes(n)
    duration_ms = int(round(n * 1000 / rate))
    if width == 1:  # unsigned 8-bit
        x = np.frombuffer(frames, dtype=np.uint8).astype(np.float64) - 128.0
        full = 128.0
    elif width == 2:
        x = np.frombuffer(frames, dtype="<i2").astype(np.float64)
        full = 32768.0
    elif width == 4:
        x = np.frombuffer(frames, dtype="<i4").astype(np.float64)
        full = 2147483648.0
    else:
        raise NotImplementedError(f"WAV sample width {width} not supported")
    rms = float(np.sqrt(np.mean((x / full) ** 2))) if len(x) else 0.0
    return duration_ms, rms

#: A multimodal asset table schema: payload + typed metadata.
ASSET_SCHEMA = T.StructType([
    T.StructField("asset_id", T.LongType(), False),
    T.StructField("modality", T.StringType(), False),  # image|audio|video
    T.StructField("payload", T.BinaryType(), True),
    T.StructField("mime_type", T.StringType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("duration_ms", T.IntegerType(), True),
])

IMAGE_FEATURES_SCHEMA = T.StructType([
    T.StructField("asset_id", T.LongType(), False),
    T.StructField("n_bytes", T.IntegerType(), True),
    T.StructField("format", T.StringType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("mean_luma", T.DoubleType(), True),
    T.StructField("decode_error", T.StringType(), True),
])


def sniff_image_format(payload: bytes) -> str:
    """Container sniff from magic bytes (never raises) — the datasheet's
    format dimension even when decode fails."""
    if payload[:8] == PNG_MAGIC:
        return "png"
    if payload[:2] == b"BM":
        return "bmp"
    if payload[:2] == b"\xff\xd8":
        return "jpeg"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        return "webp"
    if payload[4:12] in (b"ftypmp42", b"ftypisom", b"ftypmp41"):
        return "mp4"
    return "unknown"


def _error_reason(exc: BaseException) -> str:
    """Compact ``Class: message`` reason string for the decode_error
    column (class first so the datasheet can group on it)."""
    msg = str(exc)
    if len(msg) > 200:
        msg = msg[:200] + "..."
    return f"{type(exc).__name__}: {msg}" if msg else type(exc).__name__


def _decode_image_bytes(payload: bytes, fake: bool) -> tuple[int, int, float]:
    """Real decode for PNG (:func:`decode_png`), BMP
    (:func:`decode_bmp`) and baseline JPEG (:func:`decode_jpeg`)
    payloads; other formats (progressive JPEG/WebP/...) need
    codec libraries absent in this environment and raise
    ``NotImplementedError``. ``fake=True`` derives deterministic
    pseudo-features from the raw bytes for any payload so the
    distributed plumbing is testable format-independently."""
    if fake:
        n = len(payload)
        width = (n % 640) + 1
        height = (n % 480) + 1
        mean_luma = (sum(payload[:64]) / max(min(n, 64), 1)) / 255.0
        return width, height, mean_luma
    if payload[:8] == PNG_MAGIC:
        return decode_png(payload)
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:2] == b"\xff\xd8":
        return decode_jpeg(payload)
    raise NotImplementedError(
        "real decode supports PNG, BMP and baseline JPEG only in this "
        "environment; other formats need an image codec library "
        "(run with fake=True for the deterministic stub)"
    )


def extract_image_features(df: DataFrame, fake: bool = False) -> DataFrame:
    """Decode + feature-extract image assets via Arrow-batched
    mapInPandas. Narrow (no shuffle); the payload column never leaves the
    stage — output is compact features only.

    Corrupt-proof by design (r9 verdict): every per-row decode is
    isolated — an unsupported format, a truncated payload behind valid
    magic bytes, or any other decoder exception yields NULL features
    plus a ``decode_error`` reason (``Class: message``) instead of
    failing the task. On a 100-TB corpus corrupt assets are a
    certainty; one poison pill must not kill the job (mirrors the
    rejection-reason pattern of the Gopher gate,
    ``text_analysis.py``). ``format`` is sniffed from magic bytes even
    when decode fails, so :func:`decode_error_datasheet` can report a
    per-format error budget."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prune_zip_importers()
        for pdf in batches:
            feats = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                if payload is None:
                    feats.append((asset_id, None, None, None, None, None,
                                  "null_payload"))
                    continue
                data = bytes(payload)
                fmt = sniff_image_format(data)
                try:
                    w, h, luma = _decode_image_bytes(data, fake)
                except Exception as exc:  # noqa: BLE001 — per-row isolation
                    feats.append((asset_id, len(data), fmt, None, None,
                                  None, _error_reason(exc)))
                    continue
                feats.append((asset_id, len(data), fmt, w, h, luma, None))
            yield pd.DataFrame(
                feats,
                columns=["asset_id", "n_bytes", "format", "width", "height",
                         "mean_luma", "decode_error"],
            )

    return df.filter(df.modality == "image").select(
        "asset_id", "payload"
    ).mapInPandas(_extract, IMAGE_FEATURES_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType([
    T.StructField("asset_id", T.LongType(), False),
    T.StructField("n_bytes", T.IntegerType(), True),
    T.StructField("format", T.StringType(), True),
    T.StructField("duration_ms", T.IntegerType(), True),
    T.StructField("rms_level", T.DoubleType(), True),
    T.StructField("decode_error", T.StringType(), True),
])


def sniff_audio_format(payload: bytes) -> str:
    """Container sniff from magic bytes (never raises)."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    if payload[:3] == b"ID3" or payload[:2] in (b"\xff\xfb", b"\xff\xf3"):
        return "mp3"
    if payload[:4] == b"fLaC":
        return "flac"
    if payload[:4] == b"OggS":
        return "ogg"
    return "unknown"


def extract_audio_features(df: DataFrame, fake: bool = False) -> DataFrame:
    """Audio analogue of :func:`extract_image_features`: decode +
    feature-extract via mapInPandas. Real decode for RIFF/WAVE PCM
    payloads (:func:`decode_wav` — duration from the frame count, RMS
    from the samples); ``fake=True`` derives a deterministic RMS-like
    level from the raw bytes for any payload.

    Per-row error isolation as in :func:`extract_image_features`:
    unsupported formats (non-PCM WAV, mp3, ...) and corrupt RIFF
    payloads yield NULL features + a ``decode_error`` reason rather
    than failing the task."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prune_zip_importers()
        for pdf in batches:
            rows = []
            for asset_id, payload, dur in zip(
                pdf["asset_id"], pdf["payload"], pdf["duration_ms"]
            ):
                if payload is None:
                    rows.append((asset_id, None, None, None, None,
                                 "null_payload"))
                    continue
                data = bytes(payload)
                n = len(data)
                fmt = sniff_audio_format(data)
                if fake:
                    rms = (sum(b * b for b in data[:256])
                           / max(min(n, 256), 1)) ** 0.5 / 255.0
                    rows.append((asset_id, n, fmt, dur, rms, None))
                    continue
                try:
                    if fmt != "wav":
                        raise NotImplementedError(
                            "real decode supports PCM WAV only in this "
                            "environment; other formats need an audio "
                            "codec library (run with fake=True for the "
                            "stub)"
                        )
                    real_dur, rms = decode_wav(data)
                except Exception as exc:  # noqa: BLE001 — per-row isolation
                    rows.append((asset_id, n, fmt, None, None,
                                 _error_reason(exc)))
                    continue
                rows.append((asset_id, n, fmt, real_dur, rms, None))
            yield pd.DataFrame(
                rows,
                columns=["asset_id", "n_bytes", "format", "duration_ms",
                         "rms_level", "decode_error"],
            )

    return df.filter(df.modality == "audio").select(
        "asset_id", "payload", "duration_ms"
    ).mapInPandas(_extract, AUDIO_FEATURES_SCHEMA)


FRAME_SAMPLE_SCHEMA = T.StructType([
    T.StructField("asset_id", T.LongType(), False),
    T.StructField("frame_idx", T.IntegerType(), False),
    T.StructField("frame_hash", T.LongType(), True),
])


def sample_video_frames(
    df: DataFrame, every_n: int = 10, fake: bool = False
) -> DataFrame:
    """Frame-sampling plumbing for video assets: one output row per
    sampled frame. STUB decode — ``fake=True`` hashes byte slices as
    stand-in frames; a real build swaps in a video codec behind the same
    mapInPandas signature."""

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prune_zip_importers()
        for pdf in batches:
            rows = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                if payload is None:
                    continue
                if not fake:
                    raise NotImplementedError(
                        "video decode requires a codec library; "
                        "run with fake=True for the deterministic stub"
                    )
                data = bytes(payload)
                n_frames = max(len(data) // 256, 1)
                for idx in range(0, n_frames, every_n):
                    chunk = data[idx * 256:(idx + 1) * 256]
                    # stable across processes/runs — builtin hash() is
                    # PYTHONHASHSEED-salted and would differ per executor
                    digest = hashlib.blake2b(chunk, digest_size=8).digest()
                    frame_hash = (
                        int.from_bytes(digest, "big") & 0x7FFFFFFFFFFFFFFF
                    )
                    rows.append((asset_id, idx, frame_hash))
            yield pd.DataFrame(
                rows, columns=["asset_id", "frame_idx", "frame_hash"]
            )

    return df.filter(df.modality == "video").select(
        "asset_id", "payload"
    ).mapInPandas(_sample, FRAME_SAMPLE_SCHEMA)


DATASHEET_SCHEMA = T.StructType([
    T.StructField("modality", T.StringType(), False),
    T.StructField("format", T.StringType(), False),
    T.StructField("status", T.StringType(), False),
    T.StructField("n_assets", T.LongType(), False),
    T.StructField("total_bytes", T.LongType(), True),
])


def decode_error_datasheet(feats: DataFrame, modality: str) -> DataFrame:
    """Decode-outcome datasheet over a feature frame from
    :func:`extract_image_features` / :func:`extract_audio_features`:
    one row per (modality, sniffed format, status) with asset counts
    and byte totals, where status is ``ok`` for clean decodes and the
    exception class (the part of ``decode_error`` before ``:``)
    otherwise. This is the observable decode-error budget a 100-TB run
    watches — a plain partial-aggregating groupBy over the compact
    feature frame (payloads already dropped), so it adds one small
    shuffle regardless of corpus size."""
    from pyspark.sql import functions as F

    return (
        feats.select(
            F.lit(modality).alias("modality"),
            F.coalesce(F.col("format"), F.lit("none")).alias("format"),
            F.coalesce(
                F.split(F.col("decode_error"), ":").getItem(0),
                F.lit("ok"),
            ).alias("status"),
            F.col("n_bytes"),
        )
        .groupBy("modality", "format", "status")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum("n_bytes").alias("total_bytes"),
        )
    )
