"""Seeded PNG, JPEG, GIF, WAV, FLAC and AVI/MJPEG blobs, decoded and
featurized through ``operators/multimodal`` in every corpus_curation
pass.

The media stage runs ``decode_media`` (PNG, JPEG, GIF), ``decode_audio`` (WAV,
FLAC) and ``decode_video`` (AVI) over the whole blob set, each followed
by ``media_byte_features`` on the decoded buffers, and collects the
features. The pure-Python codecs in ``functions/`` do the work.

Blobs are encoded from seeded source arrays. JPEG coefficients are the
source pixels' 8×8 DCT quantized by 2, so a decoded JPEG pixel is
within 16 of its source (each coefficient is off by at most 1) and the
mean absolute error is at most 1.5; every other codec is lossless and
must decode to its source exactly.
"""

from __future__ import annotations

import math
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import nproc, span_median

COUNTS = {"png": 12, "jpeg": 12, "gif": 12, "wav": 12, "flac": 12, "avi": 6}
IMAGE = 96  # image side, pixels
FRAME, FRAMES = 48, 6  # AVI frame side and frames per clip
SAMPLES, RATE = 16000, 8000  # audio samples per clip and sample rate
JPEG_Q = 2
JPEG_MAX_ERR, JPEG_MEAN_ERR = 16, 1.5
DECODERS = {"decode_media": ("png", "jpeg", "gif"),
            "decode_audio": ("wav", "flac"), "decode_video": ("avi",)}
BUFFER = {"decode_media": "pixels", "decode_audio": "samples",
          "decode_video": "pixels"}
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5, 12, 19, 26, 33, 40, 48,
    41, 34, 27, 20, 13, 6, 7, 14, 21, 28, 35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15,
    23, 30, 37, 44, 51, 58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63])


def _dct_matrix() -> np.ndarray:
    u = np.arange(8)[:, None]
    x = np.arange(8)[None, :]
    m = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
    m[0] /= np.sqrt(2)
    return m


DCT = _dct_matrix()


def _image(rng, h: int, w: int) -> np.ndarray:
    """Smooth gradient plus noise: compressible, never constant."""
    y, x = np.mgrid[0:h, 0:w]
    a, b, c = rng.integers(1, 6, 3)
    return ((a * x + b * y + c * 17) % 200 + rng.integers(0, 40, (h, w))).astype(np.uint8)


def _jpeg(gray: np.ndarray) -> bytes:
    from kaj_query_engine_spark.functions.jpeg import encode_jpeg

    h, w = gray.shape
    blocks = []
    for by in range(0, h, 8):
        for bx in range(0, w, 8):
            x = gray[by:by + 8, bx:bx + 8].astype(np.float64) - 128
            coef = np.round(DCT @ x @ DCT.T / JPEG_Q).astype(np.int64)
            blocks.append(coef.reshape(64)[ZIGZAG])
    return encode_jpeg(np.array(blocks), h, w, qtable=np.full(64, JPEG_Q))


def make_blobs(seed: int) -> list[dict]:
    """Every blob with its source array (what a lossless decode must
    return) and the decoded buffer layout the decoder emits."""
    from kaj_query_engine_spark.functions.avi import encode_avi_mjpeg
    from kaj_query_engine_spark.functions.flac import encode_flac
    from kaj_query_engine_spark.functions.gif import encode_gif
    from kaj_query_engine_spark.functions.png import encode_png
    from kaj_query_engine_spark.functions.wav import encode_wav

    rng = np.random.default_rng([seed, 8])
    out = []
    for kind, n in COUNTS.items():
        for _ in range(n):
            if kind == "png":
                img = _image(rng, IMAGE, IMAGE)
                src = np.stack([img, 255 - img, (img // 2) + 60], -1)
                blob = encode_png(src)
            elif kind == "jpeg":
                src = _image(rng, IMAGE, IMAGE)
                blob = _jpeg(src)
            elif kind == "gif":
                idx = _image(rng, IMAGE, IMAGE)
                src = np.repeat(idx[..., None], 3, -1)  # default grey palette
                blob = encode_gif(idx)
            elif kind in ("wav", "flac"):
                t = np.arange(SAMPLES)
                f = rng.uniform(50, 900)
                src = (np.sin(2 * np.pi * f * t / RATE) * rng.uniform(2000, 12000)
                       + rng.integers(-300, 300, SAMPLES)).astype(np.int16)
                blob = (encode_wav(src, RATE) if kind == "wav"
                        else encode_flac(src, RATE, block_size=512))
                src = src.astype("<i2")
            else:
                frames = [_image(rng, FRAME, FRAME) for _ in range(FRAMES)]
                blob = encode_avi_mjpeg([_jpeg(f) for f in frames], FRAME, FRAME)
                src = np.stack([np.repeat(f[..., None], 3, -1) for f in frames])
            out.append({"id": len(out), "kind": kind, "blob": blob, "src": src})
    return out


class MediaSet:
    """The media half of every curation batch: the blobs, their source
    arrays, and the decode-and-featurize stage that runs over them."""

    def __init__(self, seed: int, work):
        self.blobs = make_blobs(seed)
        self.mb = sum(len(b["blob"]) for b in self.blobs) / 1e6
        self.path = work / "media.parquet"
        pq.write_table(pa.table({
            "id": pa.array([b["id"] for b in self.blobs], pa.int64()),
            "kind": [b["kind"] for b in self.blobs],
            "blob": pa.array([b["blob"] for b in self.blobs], pa.binary()),
        }), self.path)
        self.want = {b["id"]: [_features(np.ascontiguousarray(f).tobytes())
                               for f in (b["src"] if b["kind"] == "avi" else [b["src"]])]
                     for b in self.blobs}

    def load(self, spark) -> None:
        from pyspark.sql import functions as F

        media = spark.read.parquet(str(self.path))
        self.frames = {}
        for dec, kinds in DECODERS.items():
            df = media.filter(F.col("kind").isin(*kinds)).repartition(nproc(), "id")
            self.frames[dec] = df.persist()
            self.frames[dec].count()

    def run(self, tr) -> dict:
        """Decode and featurize every blob: one feature row per image
        or audio clip and per video frame."""
        from kaj_query_engine_spark.operators import multimodal as mm

        rows: dict[int, list[tuple]] = {}
        for dec in DECODERS:
            with tr.span(f"multimodal.{dec}.build", jobs=True):
                feats = mm.media_byte_features(
                    getattr(mm, dec)(self.frames[dec], "id", "blob"), "id", BUFFER[dec])
            with tr.span(f"multimodal.{dec}.exec", jobs=True):
                for r in feats.collect():
                    rows.setdefault(r.id, []).append(
                        (r.n_bytes, r.mean_byte, r.n_distinct_bytes, r.mode_count))
        return rows

    def check(self, rows: dict) -> list[int]:
        """Ids of blobs whose features are wrong."""
        return [b["id"] for b in self.blobs
                if not _features_ok(b, rows.get(b["id"]), self.want[b["id"]])]

    def verify(self) -> int:
        """Every decoded buffer against its source array; returns the
        number of blobs that decode wrong."""
        from kaj_query_engine_spark.operators import multimodal as mm

        wrong = 0
        by_id = {b["id"]: b for b in self.blobs}
        for dec, kinds in DECODERS.items():
            got: dict[int, list] = {}
            for r in getattr(mm, dec)(self.frames[dec], "id", "blob").collect():
                got.setdefault(r.id, []).append((getattr(r, "frame_idx", 0),
                                                 r[BUFFER[dec]]))
            for k in (i for i, b in by_id.items() if b["kind"] in kinds):
                buf = b"".join(v for _, v in sorted(got.get(k, [])))
                if not _decoded_ok(by_id[k], buf):
                    wrong += 1
                    print(f"# blob {k} ({by_id[k]['kind']}) decodes wrong")
        return wrong

    def describe(self) -> str:
        return (", ".join(f"{n} {k}" for k, n in COUNTS.items())
                + f"; images {IMAGE}x{IMAGE}, audio {SAMPLES} samples, "
                f"video {FRAMES}x{FRAME}x{FRAME}; {self.mb:.3f} MB")

    def layer_metrics(self, tracer) -> dict:
        """Direct in-process decode rate of each codec on the same
        blobs, and the per-decoder stage times from the trace."""
        from kaj_query_engine_spark.functions import avi, flac, gif, jpeg, png, wav

        fns = {"png": png.decode_png, "jpeg": jpeg.decode_jpeg, "gif": gif.decode_gif,
               "wav": wav.decode_wav, "flac": flac.decode_flac, "avi": avi.decode_avi}
        out, codec_s = {}, 0.0
        for kind, fn in fns.items():
            blobs = [b["blob"] for b in self.blobs if b["kind"] == kind]
            t = time.perf_counter()
            for b in blobs:
                fn(b)
            dt = time.perf_counter() - t
            codec_s += dt
            out[f"codec.{kind}.decode_mb_per_s"] = sum(map(len, blobs)) / 1e6 / dt
        wall = 0.0
        for dec in DECODERS:
            out[f"multimodal.{dec}.build_ms"] = span_median(tracer, f"multimodal.{dec}.build")
            out[f"multimodal.{dec}.exec_ms"] = span_median(tracer, f"multimodal.{dec}.exec")
            wall += out[f"multimodal.{dec}.exec_ms"]
        # stage time the codecs do not explain, spread over the workers
        out["multimodal.non_codec_share"] = (
            1 - codec_s * 1e3 / nproc() / wall if wall else 0.0)
        return out


def _expected(b: dict) -> bytes:
    return np.ascontiguousarray(b["src"]).tobytes()


def _features(buf: bytes) -> tuple:
    counts = np.bincount(np.frombuffer(buf, np.uint8), minlength=256)
    mean = math.floor(sum(buf) / len(buf) * 1e6 + 0.5) / 1e6
    return (len(buf), mean, int((counts > 0).sum()), int(counts.max()))


def _features_ok(b: dict, got, want) -> bool:
    """One feature row per image or audio clip and per video frame.
    Lossless codecs must match exactly; for JPEG-coded blobs the sizes
    must match and the mean byte stay within the error bound."""
    if not got or len(got) != len(want):
        return False
    if b["kind"] in ("jpeg", "avi"):
        means = [g[1] for g in got], [w[1] for w in want]
        return (sorted(g[0] for g in got) == sorted(w[0] for w in want)
                and abs(np.mean(means[0]) - np.mean(means[1])) <= JPEG_MEAN_ERR)
    return got == want


def _decoded_ok(b: dict, buf: bytes) -> bool:
    src = np.frombuffer(_expected(b), np.uint8)
    got = np.frombuffer(buf, np.uint8)
    if got.shape != src.shape:
        return False
    if b["kind"] in ("jpeg", "avi"):
        err = np.abs(got.astype(np.int16) - src.astype(np.int16))
        return err.max() <= JPEG_MAX_ERR and err.mean() <= JPEG_MEAN_ERR
    return bool((got == src).all())
