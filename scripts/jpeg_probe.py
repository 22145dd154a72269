"""JPEG codec probe: encode and decode seconds per layout on a fixed
seeded corpus, in one process (no Spark).

Corpus: ``--images`` RGB images per repeat, the same every run (seed 7),
alternating two kinds at 32×32, 64×32 and 64×64 px:

- smooth: a bilinear field between four random corner colours plus
  ±8 noise (the shape of natural photos: many small AC terms);
- blocks: the closed-form block rule the ``multimodal.synth_jpeg_*``
  corpora draw (grey, one value per 8×8 block: DC-only blocks).

Layouts (encoder, arguments): ``gray``, ``gray_rst2``
(``restart_interval=2``), ``444``, ``422``, ``420``, ``prog_gray``,
``prog_444``, ``prog_420``; grayscale layouts take the image's R plane.

Each repeat times encoding the whole corpus once per layout, then
decoding the streams it produced: ``baseline`` decodes the five
sequential layouts' streams, ``progressive`` the three progressive ones.

Prints one JSON line per (phase, layout, repeat), then one summary line
per (phase, layout) with the median seconds and a SHA-256 prefix of the
streams (encode) or pixels (decode), so two checkouts can be compared
for identical output as well as for time.

Usage: python scripts/jpeg_probe.py [--reps 5] [--images 24]
"""
from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from connectors_spark.ops import jpegcodec as jc  # noqa: E402

SIZES = ((32, 32), (64, 32), (64, 64))
LAYOUTS = {
    "gray": lambda w, h, g, c: jc.encode_jpeg_gray(w, h, g),
    "gray_rst2": lambda w, h, g, c: jc.encode_jpeg_gray(
        w, h, g, restart_interval=2),
    "444": lambda w, h, g, c: jc.encode_jpeg_color(w, h, c),
    "422": lambda w, h, g, c: jc.encode_jpeg_color_422(w, h, c),
    "420": lambda w, h, g, c: jc.encode_jpeg_color_420(w, h, c),
    "prog_gray": lambda w, h, g, c: jc.encode_jpeg_progressive(w, h, g),
    "prog_444": lambda w, h, g, c: jc.encode_jpeg_progressive(w, h, c, 3),
    "prog_420": lambda w, h, g, c: jc.encode_jpeg_progressive(
        w, h, c, 3, subsampling="420"),
}


def corpus(n: int) -> list:
    rng = np.random.RandomState(7)
    out = []
    for i in range(n):
        w, h = SIZES[i % len(SIZES)]
        if i % 2 == 0:
            corners = rng.randint(0, 256, size=(2, 2, 3)).astype(float)
            ys = np.linspace(0, 1, h)[:, None, None]
            xs = np.linspace(0, 1, w)[None, :, None]
            img = ((1 - ys) * (1 - xs) * corners[0, 0]
                   + (1 - ys) * xs * corners[0, 1]
                   + ys * (1 - xs) * corners[1, 0]
                   + ys * xs * corners[1, 1]
                   + rng.randint(-8, 9, size=(h, w, 3)))
        else:
            by, bx = np.mgrid[0:h, 0:w] // 8
            b = by * (w // 8) + bx
            v = 128 + 2 * (((i * 7 + b * 13) % 64) - 32)
            img = np.repeat(v[:, :, None], 3, axis=2)
        img = np.clip(np.round(img), 0, 255).astype(np.uint8)
        out.append((w, h, img[:, :, 0].tobytes(), img.tobytes()))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--images", type=int, default=24)
    args = ap.parse_args()
    images = corpus(args.images)
    times: dict = {}
    digests: dict = {}

    def record(phase: str, layout: str, rep: int, dt: float,
               blobs: list) -> None:
        times.setdefault((phase, layout), []).append(dt)
        digests[(phase, layout)] = hashlib.sha256(
            b"".join(blobs)).hexdigest()[:16]
        print(json.dumps({"phase": phase, "layout": layout, "rep": rep,
                          "s": round(dt, 6)}))

    for rep in range(args.reps):
        streams = {}
        for layout, enc in LAYOUTS.items():
            t0 = time.perf_counter()
            streams[layout] = [enc(*im) for im in images]
            record("encode", layout, rep, time.perf_counter() - t0,
                   streams[layout])
        for phase, prefix in (("decode", ""), ("decode", "prog_")):
            blobs = [b for layout, bs in streams.items()
                     if layout.startswith("prog_") == bool(prefix)
                     for b in bs]
            t0 = time.perf_counter()
            pixels = [jc.decode_jpeg(b)[3] for b in blobs]
            record(phase, "progressive" if prefix else "baseline", rep,
                   time.perf_counter() - t0, pixels)
    for (phase, layout), ts in times.items():
        print(json.dumps({"summary": True, "phase": phase,
                          "layout": layout, "median_s":
                          round(statistics.median(ts), 6),
                          "reps": len(ts),
                          "sha256": digests[(phase, layout)]}))


if __name__ == "__main__":
    main()
