"""Multimodal column plumbing: image/audio/video as opaque binary + typed
metadata, with decode / feature-extract / resize / frame-sample as
per-row functions, each run in one narrow Arrow map (`docmap.map_rows`).

Decode strategy (no external codecs ship in this container — PIL/ffmpeg/
torchaudio are absent):

- REAL pure-Python decoders for the dependency-free public formats:
  netpbm P5/P6 images (header + raw samples), RIFF/WAV PCM audio (stdlib
  `wave`), and YUV4MPEG2 (y4m) uncompressed video (text header + FRAME
  markers). These paths compute true dimensions/luma/duration/RMS/frame
  counts and a true nearest-neighbour resize with netpbm re-encode.
- Compressed formats (PNG/JPEG/MP3/MP4 …) fall back to the deterministic
  STUB (`_decode_image_stub`/`_decode_audio_stub`) that derives stats from
  the payload digest — swap in the library call and nothing else changes:
  schemas, batch iteration, and the narrow plan shape are identical.
"""

from __future__ import annotations

import hashlib
import io
import wave
from typing import List, Optional, Tuple

import numpy as np
from pyspark.sql import DataFrame, functions as F

from docling_spark.docmap import map_rows

MEDIA_META_DDL = (
    "media_id string, media_type string, byte_len long, sha256 string"
)
IMAGE_FEATURES_DDL = (
    MEDIA_META_DDL + ", width int, height int, mean_luma double, decode_ok boolean"
)
FRAME_SAMPLE_DDL = "media_id string, frame_no int, frame_sha string"
RESIZE_DDL = (
    "media_id string, width int, height int, out_width int, out_height int, "
    "out_payload binary"
)
AUDIO_FEATURES_DDL = (
    MEDIA_META_DDL
    + ", duration_s double, sample_rate int, rms double, decode_ok boolean"
)


# --- real decoders for dependency-free public formats ------------------------


def _parse_netpbm(payload: bytes) -> Optional[Tuple[int, int, int, np.ndarray]]:
    """P5 (grayscale) / P6 (RGB) binary netpbm → (width, height, channels,
    samples uint8 HxWxC). Returns None if not netpbm. Header = magic,
    whitespace-separated width/height/maxval with '#' comments, one
    whitespace byte, then raw samples."""
    if not payload.startswith((b"P5", b"P6")):
        return None
    channels = 3 if payload[:2] == b"P6" else 1
    pos = 2
    fields: List[int] = []
    while len(fields) < 3 and pos < len(payload):
        c = payload[pos:pos + 1]
        if c == b"#":  # comment to end of line
            nl = payload.find(b"\n", pos)
            pos = len(payload) if nl < 0 else nl + 1
        elif c.isspace():
            pos += 1
        elif c.isdigit():
            start = pos
            while pos < len(payload) and payload[pos:pos + 1].isdigit():
                pos += 1
            fields.append(int(payload[start:pos]))
        else:
            return None
    if len(fields) < 3 or not payload[pos:pos + 1].isspace():
        return None
    pos += 1  # the single whitespace after maxval
    w, h, maxval = fields
    if maxval > 255 or w <= 0 or h <= 0:
        return None
    need = w * h * channels
    raw = payload[pos:pos + need]
    if len(raw) < need:
        return None
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, channels)
    return w, h, channels, arr


def _encode_netpbm(arr: np.ndarray) -> bytes:
    h, w, channels = arr.shape
    magic = b"P6" if channels == 3 else b"P5"
    return magic + f"\n{w} {h}\n255\n".encode() + arr.tobytes()


def _luma(arr: np.ndarray) -> float:
    """Mean luma in [0,1] (`_gray_f64`'s weights)."""
    return round(float(_gray_f64(arr).mean()) / 255.0, 6)


def _decode_wav(payload: bytes) -> Optional[Tuple[np.ndarray, int, int]]:
    """RIFF/WAV PCM → (float64 samples in [-1,1], sample_rate, n_frames);
    None if not decodable. Pure stdlib (`wave`) + numpy."""
    if not payload.startswith(b"RIFF"):
        return None
    try:
        with wave.open(io.BytesIO(payload)) as wf:
            sr = wf.getframerate()
            n = wf.getnframes()
            width = wf.getsampwidth()
            frames = wf.readframes(n)
    except Exception:
        return None
    if sr <= 0 or width not in (1, 2):
        return None
    # a data chunk cut mid-sample decodes its whole samples only
    frames = frames[:len(frames) - len(frames) % width]
    if width == 2:
        samples = np.frombuffer(frames, dtype=np.int16).astype(np.float64) / 32768.0
    else:
        samples = (np.frombuffer(frames, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    return samples, sr, n


def _wav_features(wav: Tuple[np.ndarray, int, int]) -> Tuple[float, int, float]:
    """`_decode_wav`'s output → (duration_s, sample_rate, rms in [0,1])."""
    samples, sr, n = wav
    rms = round(float(np.sqrt((samples ** 2).mean())) if len(samples) else 0.0, 6)
    return round(n / sr, 6), sr, rms


def _demux_y4m(payload: bytes) -> Optional[Tuple[int, int, List[bytes]]]:
    """YUV4MPEG2 → (width, height, raw frame byte blocks); None if not y4m.
    Header line 'YUV4MPEG2 W<w> H<h> ...', then per frame 'FRAME...\\n' +
    w*h*3/2 bytes (4:2:0)."""
    if not payload.startswith(b"YUV4MPEG2"):
        return None
    nl = payload.find(b"\n")
    if nl < 0:
        return None
    w = h = None
    for tok in payload[:nl].split(b" ")[1:]:
        if tok.startswith(b"W"):
            w = int(tok[1:])
        elif tok.startswith(b"H"):
            h = int(tok[1:])
    if not w or not h:
        return None
    frame_size = w * h * 3 // 2
    frames: List[bytes] = []
    pos = nl + 1
    while pos < len(payload):
        if not payload.startswith(b"FRAME", pos):
            return None
        fnl = payload.find(b"\n", pos)
        if fnl < 0:
            return None
        start = fnl + 1
        if start + frame_size > len(payload):
            return None
        frames.append(payload[start:start + frame_size])
        pos = start + frame_size
    return w, h, frames


def _decode_image_stub(payload: bytes):
    """Deterministic fake decoder. A real implementation would be
    `PIL.Image.open(io.BytesIO(payload))`; unavailable in this container.
    Derives (width, height, mean_luma) from the payload digest so tests are
    stable and the downstream schema is exercised with realistic values."""
    if not payload:
        raise NotImplementedError("empty payload — no codec available for real decode")
    d = hashlib.sha256(payload).digest()
    width = 64 + d[0] % 192
    height = 64 + d[1] % 192
    mean_luma = round(d[2] / 255.0, 6)
    return width, height, mean_luma


def media_metadata(df: DataFrame, id_col: str = "media_id",
                   payload_col: str = "payload",
                   type_col: str = "media_type") -> DataFrame:
    """Narrow metadata pass: byte length + content hash per blob."""

    def row(mid, mtype, payload):
        b = payload or b""
        return [(str(mid), str(mtype), len(b), hashlib.sha256(b).hexdigest())]

    return map_rows(df, row, (id_col, type_col, payload_col), MEDIA_META_DDL)


def image_features(df: DataFrame, id_col: str = "media_id",
                   payload_col: str = "payload",
                   type_col: str = "media_type") -> DataFrame:
    """Decode + feature-extract (stubbed decode, real plumbing)."""

    def row(mid, mtype, payload):
        b = payload or b""
        parsed = _parse_netpbm(b)
        if parsed is not None:  # REAL decode (netpbm)
            w, h, _ch, arr = parsed
            luma = _luma(arr)
            ok = True
        else:
            try:
                w, h, luma = _decode_image_stub(b)
                ok = True
            except NotImplementedError:
                w = h = 0
                luma = 0.0
                ok = False
        return [(str(mid), str(mtype), len(b), hashlib.sha256(b).hexdigest(), w, h, luma, ok)]

    return map_rows(df, row, (id_col, type_col, payload_col), IMAGE_FEATURES_DDL)


def frame_sample(df: DataFrame, every_n: int = 10, id_col: str = "media_id",
                 payload_col: str = "payload") -> DataFrame:
    """Video frame sampling plumbing: 1 row per sampled frame. Frame count is
    derived deterministically from the payload (stub for a demuxer)."""

    def row(mid, payload):
        b = payload or b""
        real = _demux_y4m(b)
        if real is not None:  # REAL demux (YUV4MPEG2)
            frames = real[2]
            return [(str(mid), fno, hashlib.sha256(frames[fno]).hexdigest()[:16])
                    for fno in range(0, len(frames), every_n)]
        n_frames = 1 + (len(b) % 97)  # stub: a demuxer would count real frames
        return [(str(mid), fno, hashlib.sha256(b + fno.to_bytes(4, "big")).hexdigest()[:16])
                for fno in range(0, n_frames, every_n)]

    return map_rows(df, row, (id_col, payload_col), FRAME_SAMPLE_DDL)


def _decode_audio_stub(payload: bytes):
    """Deterministic fake audio decoder. A real implementation would be
    `soundfile.read(io.BytesIO(payload))` / torchaudio; unavailable in this
    container. Derives (duration, sample_rate, rms) from the payload digest."""
    if not payload:
        raise NotImplementedError("empty payload — no codec available for real decode")
    d = hashlib.sha256(payload).digest()
    sample_rate = (8000, 16000, 22050, 44100)[d[0] % 4]
    duration_s = round(0.5 + (int.from_bytes(d[1:3], "big") % 6000) / 100.0, 2)
    rms = round(d[3] / 255.0, 6)
    return duration_s, sample_rate, rms


def audio_features(df: DataFrame, id_col: str = "media_id",
                   payload_col: str = "payload",
                   type_col: str = "media_type") -> DataFrame:
    """Audio decode + feature-extract (stubbed decode, real plumbing):
    duration / sample rate / RMS loudness per blob. Same narrow Arrow map
    as image_features."""

    def row(mid, mtype, payload):
        b = payload or b""
        wav = _decode_wav(b)
        if wav is not None:  # REAL decode (RIFF/WAV PCM)
            dur, sr, rms = _wav_features(wav)
            ok = True
        else:
            try:
                dur, sr, rms = _decode_audio_stub(b)
                ok = True
            except NotImplementedError:
                dur = 0.0
                sr = 0
                rms = 0.0
                ok = False
        return [(str(mid), str(mtype), len(b), hashlib.sha256(b).hexdigest(),
                 dur, sr, rms, ok)]

    return map_rows(df, row, (id_col, type_col, payload_col), AUDIO_FEATURES_DDL)


def image_resize(df: DataFrame, max_side: int = 64, id_col: str = "media_id",
                 payload_col: str = "payload") -> DataFrame:
    """Resize plumbing: computes the aspect-preserving target size from the
    (stub-)decoded dimensions and emits a deterministic fake thumbnail
    payload (digest-derived bytes of the right nominal size). A real
    implementation swaps `_decode_image_stub` + the fake thumbnail for
    PIL decode + `img.thumbnail((max_side, max_side))` + re-encode; the
    schema, batch iteration and narrow plan shape stay identical."""

    def row(mid, payload):
        b = payload or b""
        parsed = _parse_netpbm(b)
        if parsed is not None:  # REAL nearest-neighbour resize
            w, h, _ch, arr = parsed
            scale = min(1.0, max_side / max(w, h))
            ow, oh = max(1, int(w * scale)), max(1, int(h * scale))
            ry = (np.arange(oh) * h // oh).clip(0, h - 1)
            rx = (np.arange(ow) * w // ow).clip(0, w - 1)
            thumb = _encode_netpbm(np.ascontiguousarray(arr[ry][:, rx]))
            return [(str(mid), w, h, ow, oh, thumb)]
        try:
            w, h, _ = _decode_image_stub(b)
        except NotImplementedError:
            return [(str(mid), 0, 0, 0, 0, b"")]
        scale = min(1.0, max_side / max(w, h))
        ow, oh = max(1, int(w * scale)), max(1, int(h * scale))
        seed_digest = hashlib.sha256(b + b"resize").digest()
        thumb = (seed_digest * ((ow * oh) // len(seed_digest) + 1))[: ow * oh]
        return [(str(mid), w, h, ow, oh, thumb)]

    return map_rows(df, row, (id_col, payload_col), RESIZE_DDL)


def synth_wav(rng: np.random.RandomState, sr: int = 16000,
              duration_s: float = 0.25) -> bytes:
    """Real RIFF/WAV PCM16 payload (stdlib wave writer), deterministic."""
    n = int(sr * duration_s)
    t = np.arange(n) / sr
    freq = 200 + int(rng.randint(0, 800))
    samples = (np.sin(2 * np.pi * freq * t) * 12000).astype(np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(sr)
        wf.writeframes(samples.tobytes())
    return buf.getvalue()


def synth_y4m(rng: np.random.RandomState, w: int = 16, h: int = 16,
              n_frames: int = 24) -> bytes:
    """Real YUV4MPEG2 payload (4:2:0), deterministic."""
    out = [f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C420\n".encode()]
    for _ in range(n_frames):
        out.append(b"FRAME\n")
        out.append(bytes(rng.randint(0, 256, size=w * h * 3 // 2,
                                     dtype=np.int32).astype(np.uint8)))
    return b"".join(out)


def synth_media_rows(n: int = 32, seed: int = 13) -> List[tuple]:
    """Deterministic media rows mixing REAL payloads (P6/P5 netpbm images,
    PCM WAV audio, y4m video — all decodable by the pure-Python paths) with
    random-byte blobs that exercise the compressed-format stub fallback.
    Module-level (returns plain (media_id, media_type, bytearray) tuples)
    so the fixture generator can build the same table Spark-free."""
    rng = np.random.RandomState(seed)
    rows = []
    for i in range(n):
        kind = i % 5
        if kind == 0:  # real RGB netpbm
            w, h = int(rng.randint(8, 64)), int(rng.randint(8, 64))
            arr = rng.randint(0, 256, size=(h, w, 3), dtype=np.int32).astype(np.uint8)
            payload, mtype = _encode_netpbm(arr), "image/x-portable-pixmap"
        elif kind == 1:  # real grayscale netpbm
            w, h = int(rng.randint(8, 64)), int(rng.randint(8, 64))
            arr = rng.randint(0, 256, size=(h, w, 1), dtype=np.int32).astype(np.uint8)
            payload, mtype = _encode_netpbm(arr), "image/x-portable-graymap"
        elif kind == 2:  # real WAV
            payload, mtype = synth_wav(rng), "audio/wav"
        elif kind == 3:  # real y4m video
            payload, mtype = synth_y4m(rng, n_frames=int(rng.randint(5, 40))), "video/x-yuv4mpeg"
        else:  # opaque bytes → stub fallback path
            size = int(rng.randint(16, 4096))
            payload = bytes(rng.randint(0, 256, size=size, dtype=np.int32).astype(np.uint8))
            mtype = ["image/png", "audio/mp3", "video/mp4"][i % 3]
        rows.append((f"media-{i:04d}", mtype, bytearray(payload)))
    return rows


def synth_media_df(spark, n: int = 32, seed: int = 13) -> DataFrame:
    """`synth_media_rows` as a Spark DataFrame."""
    return spark.createDataFrame(
        synth_media_rows(n, seed),
        "media_id string, media_type string, payload binary",
    )


def neardup_demo_media_rows() -> List[tuple]:
    """Deterministic planted duplicates for the multimodal near-dup demo:
    6 netpbm images each with a ±5-intensity noisy twin, 3 WAV clips each
    with an exact twin, 2 y4m clips each with an exact twin. Shared by
    q_multimodal_neardup and the fixture generator (same input, the pair
    computation stays independent)."""
    rng = np.random.RandomState(29)
    rows = []
    for i in range(6):  # images + noisy twins
        base = rng.randint(0, 256, size=(32, 32, 1), dtype=np.int32).astype(np.uint8)
        noisy = (
            base.astype(np.int32) + rng.randint(-5, 6, size=base.shape)
        ).clip(0, 255).astype(np.uint8)
        rows.append((f"img-{i}a", bytearray(_encode_netpbm(base))))
        rows.append((f"img-{i}b", bytearray(_encode_netpbm(noisy))))
    wavs = [synth_wav(np.random.RandomState(40 + i)) for i in range(3)]
    for i, wv in enumerate(wavs):
        rows.append((f"au-{i}a", bytearray(wv)))
        rows.append((f"au-{i}b", bytearray(wv)))          # exact twin clip
    clips = [synth_y4m(np.random.RandomState(50 + i), n_frames=15) for i in range(2)]
    for i, cl in enumerate(clips):
        rows.append((f"vid-{i}a", bytearray(cl)))
        rows.append((f"vid-{i}b", bytearray(cl)))
    return rows


# ---------------------------------------------------------------------------
# Multimodal DEDUP: perceptual hashes + fingerprints over the real decoders.
# Image: 64-bit dHash (difference hash — the classic perceptual-dedup
# baseline: grayscale → 9×8 nearest-neighbour downsample → bit per
# horizontal gradient sign), searched with the SAME pigeonhole hamming join
# as text simhash (ops.dedup.hamming_pairs). Audio: Haitsma/Kalker-style
# band-energy-delta subfingerprints per STFT frame (Philips robust hash,
# ISMIR'02) — duplicate search = exact subfingerprint equi-join, the
# shared_windows shuffle shape. Video: per-sampled-frame dHash over the y4m
# luma plane — shared-frame-hash equi-join. Compressed formats fall back to
# a deterministic payload-digest hash (exact-dup-only signal), flagged via
# `decoded`.
# ---------------------------------------------------------------------------


def _gray_f64(arr: np.ndarray) -> np.ndarray:
    """HxWxC uint8 → HxW float64 luma (ITU-R 601 for RGB)."""
    if arr.shape[2] == 3:
        return (0.299 * arr[:, :, 0] + 0.587 * arr[:, :, 1]
                + 0.114 * arr[:, :, 2]).astype(np.float64)
    return arr[:, :, 0].astype(np.float64)


def _dhash64_from_gray(g: np.ndarray) -> int:
    """9×8 NN downsample (same index mapping as image_resize), bit r*8+c =
    cell[r, c] > cell[r, c+1], returned as a SIGNED 64-bit value (two's
    complement — the convention of the simhash column, so the pigeonhole
    join helper applies unchanged)."""
    h, w = g.shape
    ry = (np.arange(8) * h // 8).clip(0, h - 1)
    rx = (np.arange(9) * w // 9).clip(0, w - 1)
    small = g[np.ix_(ry, rx)]
    bits = (small[:, :-1] > small[:, 1:]).flatten()  # row-major 8x8
    v = 0
    for i, b in enumerate(bits):
        if b:
            v |= 1 << i
    return v - (1 << 64) if v >= (1 << 63) else v


def _payload_digest64(payload: bytes, salt: bytes = b"") -> int:
    d = hashlib.sha256(salt + payload).digest()
    return int.from_bytes(d[:8], "big", signed=True)


def image_dhash(df: DataFrame, id_col: str = "media_id",
                payload_col: str = "payload") -> DataFrame:
    """(media_id, dhash, decoded) — perceptual 64-bit difference hash.
    Real decode for netpbm; deterministic payload-digest fallback
    (decoded=false: exact-duplicate-only signal) for compressed formats."""

    def row(mid, payload):
        b = payload or b""
        parsed = _parse_netpbm(b)
        if parsed is not None:
            _w, _h, _ch, arr = parsed
            return [(str(mid), _dhash64_from_gray(_gray_f64(arr)), True)]
        return [(str(mid), _payload_digest64(b, b"dhash"), False)]

    return map_rows(df, row, (id_col, payload_col),
                    "media_id string, dhash long, decoded boolean")


def image_neardup_pairs(df: DataFrame, max_hamming: int = 10,
                        id_col: str = "media_id",
                        payload_col: str = "payload") -> DataFrame:
    """(id_a, id_b, hamming) — perceptual near-duplicate image pairs via
    the pigeonhole block join over dHashes (identical scale shape to text
    simhash: only 8-byte fingerprints shuffle, never pixels). dHash is
    robust to resize/re-encode/brightness shifts; `max_hamming≈10` is the
    conventional near-dup threshold for 64-bit dHash."""
    from docling_spark.ops.dedup import hamming_pairs

    sig = image_dhash(df, id_col, payload_col).select(id_col, "dhash")
    return hamming_pairs(sig, id_col, "dhash", bits=64, max_hamming=max_hamming)


def subfingerprints(samples: np.ndarray, sr: int, frame: int = 1024,
                    hop: int = 512, n_bands: int = 17,
                    max_frames: int = 64) -> List[int]:
    """Haitsma/Kalker band-energy-delta subfingerprints for one clip
    (module-level so the fixture generator can run it Spark-free)."""
    n = (len(samples) - frame) // hop + 1 if len(samples) >= frame else 0
    n = min(n, max_frames + 1)
    if n < 2:
        return []
    # log-spaced band edges over [300 Hz, min(sr/2, 6000)] per the paper
    lo_hz, hi_hz = 300.0, min(sr / 2.0, 6000.0)
    edges_hz = np.exp(np.linspace(np.log(lo_hz), np.log(hi_hz), n_bands + 1))
    bin_hz = sr / frame
    edges = np.clip((edges_hz / bin_hz).astype(np.int64), 1, frame // 2)
    energies = np.empty((n, n_bands), dtype=np.float64)
    win = np.hanning(frame)
    for t in range(n):
        seg = samples[t * hop:t * hop + frame] * win
        mag = np.abs(np.fft.rfft(seg)) ** 2
        for b in range(n_bands):
            lo, hi = edges[b], max(edges[b] + 1, edges[b + 1])
            energies[t, b] = mag[lo:hi].sum()
    d = energies[:, :-1] - energies[:, 1:]          # (n, n_bands-1)
    bits = (d[1:] - d[:-1]) > 0                     # (n-1, 16)
    out = []
    for t in range(bits.shape[0]):
        v = 0
        for b in range(bits.shape[1]):
            if bits[t, b]:
                v |= 1 << b
        out.append(v)
    return out


def audio_fingerprints(df: DataFrame, frame: int = 1024, hop: int = 512,
                       n_bands: int = 17, max_frames: int = 64,
                       id_col: str = "media_id",
                       payload_col: str = "payload") -> DataFrame:
    """(media_id, frame_no, fp, decoded) — per-frame 16-bit band-energy-
    delta subfingerprints (Haitsma & Kalker, "A Highly Robust Audio
    Fingerprinting System", ISMIR'02: bit b of frame t =
    (E[b,t]−E[b+1,t]) − (E[b,t−1]−E[b+1,t−1]) > 0 over log-spaced bands).
    Real decode for RIFF/WAV PCM; digest fallback (one synthetic frame,
    decoded=false) otherwise. Duplicate search = exact fp equi-join
    (ops.dedup.shared_window_pairs shape: only 8-byte hashes shuffle)."""

    def row(mid, payload):
        b = payload or b""
        decoded = _decode_wav(b)
        if decoded is None:
            return [(str(mid), 0, _payload_digest64(b, b"afp") & 0xFFFF, False)]
        samples, sr, _ = decoded
        fps = subfingerprints(samples, sr, frame, hop, n_bands, max_frames)
        return [(str(mid), t, fp, True) for t, fp in enumerate(fps)]

    return map_rows(df, row, (id_col, payload_col),
                    "media_id string, frame_no int, fp long, decoded boolean")


def video_frame_hashes(df: DataFrame, every_n: int = 5,
                       id_col: str = "media_id",
                       payload_col: str = "payload") -> DataFrame:
    """(media_id, frame_no, dhash, decoded) — perceptual dHash of every
    n-th frame's LUMA plane (the first w·h bytes of a 4:2:0 y4m frame).
    Video near-dup = shared frame-hash equi-join, optionally followed by a
    longest-common-run check. Digest fallback for compressed containers."""

    def row(mid, payload):
        b = payload or b""
        real = _demux_y4m(b)
        if real is None:
            return [(str(mid), 0, _payload_digest64(b, b"vfh"), False)]
        w, h, frames = real
        out = []
        for i in range(0, len(frames), every_n):
            y = np.frombuffer(frames[i][: w * h], dtype=np.uint8)
            g = y.reshape(h, w).astype(np.float64)
            out.append((str(mid), i, _dhash64_from_gray(g), True))
        return out

    return map_rows(df, row, (id_col, payload_col),
                    "media_id string, frame_no int, dhash long, decoded boolean")


def media_shared_fingerprint_pairs(fp_df: DataFrame, id_col: str = "media_id",
                                   fp_col: str = "fp",
                                   min_shared: int = 2) -> DataFrame:
    """(id_a, id_b, n_shared) over any per-frame fingerprint relation —
    exact equi-join on the fingerprint value (only 8-byte hashes shuffle),
    thresholded on the number of distinct shared fingerprints. Feed it
    audio_fingerprints or video_frame_hashes output."""
    a = fp_df.select(F.col(id_col).alias("id_a"), F.col(fp_col).alias("_f")).distinct()
    b = fp_df.select(F.col(id_col).alias("id_b"), F.col(fp_col).alias("_f")).distinct()
    return (
        a.join(b, "_f")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count_distinct("_f").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
