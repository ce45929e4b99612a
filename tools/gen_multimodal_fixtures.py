#!/usr/bin/env python
"""Build the committed expected-output parquet fixtures for the multimodal
queries (fixtures/multimodal_*.parquet) — the DuckDB side of their oracles.

Everything here runs SINGLE-PROCESS and Spark-free:

- the feature trio (image/audio/frame) re-derives each expected row
  directly from the pure decode helpers (`_parse_netpbm`, `_decode_wav`,
  `_demux_y4m`, the stubs) — certifying the distributed Arrow-map
  plumbing the way `_normalized_path` does for the extraction pipeline;
- the near-dup pairs are computed by BRUTE-FORCE all-pairs comparison,
  NOT the engine's pigeonhole/equi-join blocking — so the fixture also
  proves the blocked search misses no pair at this scale.

Inputs are the same deterministic generators the Spark queries use
(`synth_media_rows(32, 13)`, `neardup_demo_media_rows()`), so the fixtures
are reproducible byte-for-byte. Rerun after any semantic change to
docling_spark/ops/multimodal.py:

    python tools/gen_multimodal_fixtures.py
"""
from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from docling_spark.ops.multimodal import (  # noqa: E402
    _decode_audio_stub,
    _decode_image_stub,
    _decode_wav,
    _demux_y4m,
    _dhash64_from_gray,
    _gray_f64,
    _luma,
    _parse_netpbm,
    _payload_digest64,
    _wav_features,
    neardup_demo_media_rows,
    subfingerprints,
    synth_media_rows,
)

FIXDIR = os.path.join(os.path.dirname(__file__), "..", "fixtures")


def image_features_rows(media):
    rows = []
    for mid, mtype, payload in media:
        b = bytes(payload)
        parsed = _parse_netpbm(b)
        if parsed is not None:
            w, h, _ch, arr = parsed
            luma, ok = _luma(arr), True
        else:
            try:
                w, h, luma = _decode_image_stub(b)
                ok = True
            except NotImplementedError:
                w = h = 0
                luma, ok = 0.0, False
        rows.append((mid, mtype, len(b), hashlib.sha256(b).hexdigest(),
                     w, h, luma, ok))
    return rows


def audio_features_rows(media):
    rows = []
    for mid, mtype, payload in media:
        b = bytes(payload)
        wav = _decode_wav(b)
        if wav is not None:
            dur, sr, rms = _wav_features(wav)
            ok = True
        else:
            try:
                dur, sr, rms = _decode_audio_stub(b)
                ok = True
            except NotImplementedError:
                dur, sr, rms, ok = 0.0, 0, 0.0, False
        rows.append((mid, mtype, len(b), hashlib.sha256(b).hexdigest(),
                     dur, sr, rms, ok))
    return rows


def frame_sample_rows(media, every_n=10):
    rows = []
    for mid, _mtype, payload in media:
        b = bytes(payload)
        demuxed = _demux_y4m(b)
        if demuxed is not None:
            frames = demuxed[2]
            for fno in range(0, len(frames), every_n):
                rows.append((mid, fno,
                             hashlib.sha256(frames[fno]).hexdigest()[:16]))
            continue
        n_frames = 1 + (len(b) % 97)
        for fno in range(0, n_frames, every_n):
            rows.append((mid, fno,
                         hashlib.sha256(b + fno.to_bytes(4, "big"))
                         .hexdigest()[:16]))
    return rows


def _hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def neardup_rows(media):
    """Brute-force all-pairs expected output of q_multimodal_neardup."""
    by_id = {mid: bytes(p) for mid, p in media}
    ids = sorted(by_id)

    dhash, audio_fps, video_fps = {}, {}, {}
    for mid, b in by_id.items():
        parsed = _parse_netpbm(b)
        dhash[mid] = (
            _dhash64_from_gray(_gray_f64(parsed[3]))
            if parsed is not None else _payload_digest64(b, b"dhash")
        )
        decoded = _decode_wav(b)
        audio_fps[mid] = (
            set(subfingerprints(*decoded[:2])) if decoded is not None
            else {_payload_digest64(b, b"afp") & 0xFFFF}
        )
        demuxed = _demux_y4m(b)
        if demuxed is not None:
            w, h, frames = demuxed
            video_fps[mid] = {
                _dhash64_from_gray(
                    np.frombuffer(frames[i][: w * h], dtype=np.uint8)
                    .reshape(h, w).astype(np.float64))
                for i in range(0, len(frames), 5)
            }
        else:
            video_fps[mid] = {_payload_digest64(b, b"vfh")}

    rows = []
    for i, id_a in enumerate(ids):
        for id_b in ids[i + 1:]:
            ham = _hamming64(dhash[id_a], dhash[id_b])
            if ham <= 10:
                rows.append(("image", id_a, id_b, ham))
            n_au = len(audio_fps[id_a] & audio_fps[id_b])
            if n_au >= 3:
                rows.append(("audio", id_a, id_b, n_au))
            n_vid = len(video_fps[id_a] & video_fps[id_b])
            if n_vid >= 2:
                rows.append(("video", id_a, id_b, n_vid))
    return rows


def write(name, rows, schema):
    os.makedirs(FIXDIR, exist_ok=True)
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    tbl = pa.table(
        {f.name: pa.array(list(c), f.type) for f, c in zip(schema, cols)}
    )
    path = os.path.join(FIXDIR, f"{name}.parquet")
    pq.write_table(tbl, path)
    print(f"{path}: {len(rows)} rows")


def main():
    media = synth_media_rows(32, 13)
    write("multimodal_image_features", image_features_rows(media), pa.schema([
        ("media_id", pa.string()), ("media_type", pa.string()),
        ("byte_len", pa.int64()), ("sha256", pa.string()),
        ("width", pa.int32()), ("height", pa.int32()),
        ("mean_luma", pa.float64()), ("decode_ok", pa.bool_()),
    ]))
    write("multimodal_audio_features", audio_features_rows(media), pa.schema([
        ("media_id", pa.string()), ("media_type", pa.string()),
        ("byte_len", pa.int64()), ("sha256", pa.string()),
        ("duration_s", pa.float64()), ("sample_rate", pa.int32()),
        ("rms", pa.float64()), ("decode_ok", pa.bool_()),
    ]))
    write("multimodal_frame_sample", frame_sample_rows(media), pa.schema([
        ("media_id", pa.string()), ("frame_no", pa.int32()),
        ("frame_sha", pa.string()),
    ]))
    write("multimodal_neardup", neardup_rows(neardup_demo_media_rows()),
          pa.schema([
              ("modality", pa.string()), ("id_a", pa.string()),
              ("id_b", pa.string()), ("score", pa.int64()),
          ]))


if __name__ == "__main__":
    main()
