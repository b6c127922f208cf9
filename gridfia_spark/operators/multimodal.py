"""Multimodal column plumbing: images/audio/video as opaque binary + typed
metadata, processed by Arrow-batched UDFs.

The Spark-side machinery (schemas, partitioning, UDF signatures, batch
shapes) is real and tested. PNG is a REAL codec (pure numpy+zlib,
gridfia_spark/png.py — 8-bit gray/RGB/RGBA, all five scanline filters), and
so are baseline JPEG (pure numpy DCT+Huffman, gridfia_spark/jpeg.py — the
lossy format behind the PSNR>=40dB row contract), WebP-lossless
(gridfia_spark/vp8l.py) and GeoTIFF (gridfia_spark/tiff.py). Formats that
need an external library (mp3/h264)
stay STUBBED behind ``NotImplementedError`` — plug one in with
``register_decoder`` and everything else works unchanged. The engine's own
raster codecs double as the working "image" format, and a deterministic
fake decoder supports tests.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .. import codecs

MEDIA_SCHEMA = (
    "media_id string, bytes binary, media_type string, fmt string, "
    "w int, h int, n_frames int, sample_rate int, caption string"
)

# Pluggable media-codec registry: register_decoder('png', PIL_based_fn) and
# every multimodal operator decodes that format. Each operator SNAPSHOTS the
# registry into its closure (dict(_MEDIA_DECODERS)) so driver-side
# registrations serialize into the Arrow-UDF tasks — module-level state
# alone would not survive the worker's fresh import.
def _png_decoder(data: bytes, w: int, h: int) -> np.ndarray:
    """Built-in pure-python PNG decode -> (h, w) float32 (RGB(A) collapses
    to ITU-R 601 luma, the standard grayscale conversion)."""
    from .. import png

    arr = png.decode_png(data)
    if arr.shape[:2] != (h, w):
        raise ValueError(f"PNG dims {arr.shape[:2]} != metadata ({h}, {w})")
    if arr.ndim == 3:
        rgb = arr[..., :3].astype(np.float32)
        return rgb[..., 0] * 0.299 + rgb[..., 1] * 0.587 + rgb[..., 2] * 0.114
    return arr.astype(np.float32)


def _jpeg_decoder(data: bytes, w: int, h: int) -> np.ndarray:
    """Built-in pure-python baseline JPEG decode -> (h, w) float32 (RGB
    collapses to ITU-R 601 luma, same convention as the png decoder)."""
    from .. import jpeg

    arr = jpeg.decode_jpeg(data)
    if arr.shape[:2] != (h, w):
        raise ValueError(f"JPEG dims {arr.shape[:2]} != metadata ({h}, {w})")
    if arr.ndim == 3:
        rgb = arr[..., :3].astype(np.float32)
        return rgb[..., 0] * 0.299 + rgb[..., 1] * 0.587 + rgb[..., 2] * 0.114
    return arr.astype(np.float32)


def _webp_decoder(data: bytes, w: int, h: int) -> np.ndarray:
    """Built-in pure-python WebP-lossless (VP8L) decode -> (h, w) float32
    (ARGB collapses to ITU-R 601 luma, same convention as png/jpeg)."""
    from .. import vp8l

    argb = vp8l.decode(data)
    if argb.shape[:2] != (h, w):
        raise ValueError(f"WebP dims {argb.shape[:2]} != metadata ({h}, {w})")
    rgb = argb[..., 1:4].astype(np.float32)
    if np.array_equal(rgb[..., 0], rgb[..., 1]) and np.array_equal(
        rgb[..., 1], rgb[..., 2]
    ):
        return rgb[..., 1]
    return rgb[..., 0] * 0.299 + rgb[..., 1] * 0.587 + rgb[..., 2] * 0.114


def _tiff_decoder(data: bytes, w: int, h: int) -> np.ndarray:
    """Built-in pure-python GeoTIFF decode -> (h, w) float32 (grayscale
    subset; georeferencing rides in the container, validated upstream)."""
    from .. import tiff

    arr, _meta = tiff.decode_geotiff(data)
    if arr.shape != (h, w):
        raise ValueError(f"TIFF dims {arr.shape} != metadata ({h}, {w})")
    return arr.astype(np.float32)


_DEFAULT_DECODERS: dict[str, Callable[[bytes, int, int], np.ndarray]] = {
    "png": _png_decoder,
    "jpeg": _jpeg_decoder,
    "webp": _webp_decoder,
    "tiff": _tiff_decoder,
}
_MEDIA_DECODERS: dict[str, Callable[[bytes, int, int], np.ndarray]] = dict(
    _DEFAULT_DECODERS
)


def register_decoder(fmt: str, fn: Callable[[bytes, int, int], np.ndarray]) -> None:
    """Plug in a real media codec, e.g.
    ``register_decoder('png', lambda b, w, h: np.asarray(PIL.Image.open(io.BytesIO(b))))``."""
    _MEDIA_DECODERS[fmt] = fn


def unregister_decoder(fmt: str) -> None:
    """Remove a user registration; built-in codecs (png) are restored, not
    removed — unregistering an override must not strip the engine's own
    decoder for the rest of the session."""
    _MEDIA_DECODERS.pop(fmt, None)
    if fmt in _DEFAULT_DECODERS:
        _MEDIA_DECODERS[fmt] = _DEFAULT_DECODERS[fmt]


def _decode_media(
    data: bytes,
    fmt: str,
    w: int,
    h: int,
    decoders: dict[str, Callable] | None = None,
) -> np.ndarray:
    """Single-frame decode -> (h, w) float32. Real codecs are stubs until a
    decoder is registered."""
    decoders = _MEDIA_DECODERS if decoders is None else decoders
    if fmt in decoders:
        return np.asarray(decoders[fmt](data, w, h), dtype=np.float32)
    if fmt in codecs.ALL_FMTS:
        return codecs.decode(data, w, h, fmt)
    if fmt == "fake64":
        # deterministic fake: bytes -> seeded pattern (tests the plumbing)
        seed = int.from_bytes(data[:8].ljust(8, b"\0"), "little") % (2**31)
        gy, gx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
        return (((gx * 31 + gy * 17 + seed) % 251)).astype(np.float32)
    if fmt in ("mp3", "h264"):
        # permanent documented scope boundary: perceptual audio / motion
        # video entropy stacks stay external — register a real decoder
        # (ffmpeg et al.) via multimodal.register_decoder. png/jpeg/webp/tiff
        # are built-in pure-numpy codecs.
        raise NotImplementedError(
            f"media codec {fmt!r} needs an external library (ffmpeg); "
            "register one with multimodal.register_decoder"
        )
    raise ValueError(f"unknown media fmt {fmt!r}")


def extract_features(media: DataFrame) -> DataFrame:
    """Decode + per-frame feature extraction (mean/std/entropy-proxy/edges)
    in one ``mapInPandas`` pass — the image-pipeline analogue of the metric
    kernels."""
    decs = dict(_MEDIA_DECODERS)  # snapshot: registrations ride the closure

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                if int(r.n_frames) > 1:
                    # multi-frame media: features over the first frame
                    arr = np.frombuffer(r.bytes, dtype="<f4").reshape(
                        int(r.n_frames), int(r.h), int(r.w)
                    )[0]
                else:
                    arr = _decode_media(r.bytes, r.fmt, int(r.w), int(r.h), decs)
                gx = np.abs(np.diff(arr, axis=1)).mean() if arr.shape[1] > 1 else 0.0
                gy = np.abs(np.diff(arr, axis=0)).mean() if arr.shape[0] > 1 else 0.0
                out.append(
                    (
                        r.media_id,
                        float(arr.mean()),
                        float(arr.std()),
                        float(arr.min()),
                        float(arr.max()),
                        float(gx + gy),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=["media_id", "mean_v", "std_v", "min_v", "max_v", "edge_energy"],
            )

    return media.mapInPandas(
        run,
        "media_id string, mean_v double, std_v double, min_v double, "
        "max_v double, edge_energy double",
    )


def resize(
    media: DataFrame,
    out_w: int,
    out_h: int,
    fmt: str = "raw32",
    method: str = "mean",
) -> DataFrame:
    """Resize each frame (integer factors), re-encoded — the thumbnailing
    stage of an image pipeline. ``method='mean'`` is block-mean (antialiased
    downsample); ``method='stride'`` is the reference's stride-slicing
    downsample (examples/utils.py:243) — every (fy, fx)-th pixel, exact
    values preserved."""
    if method not in ("mean", "stride"):
        raise ValueError(f"unknown resize method {method!r}")
    decs = dict(_MEDIA_DECODERS)  # snapshot: registrations ride the closure

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                arr = _decode_media(r.bytes, r.fmt, int(r.w), int(r.h), decs)
                fy, fx = max(arr.shape[0] // out_h, 1), max(arr.shape[1] // out_w, 1)
                clipped = arr[: out_h * fy, : out_w * fx]
                if method == "stride":
                    small = clipped[::fy, ::fx][:out_h, :out_w]
                else:
                    small = clipped.reshape(out_h, fy, out_w, fx).mean(axis=(1, 3))
                out.append(
                    (r.media_id, codecs.encode(small.astype(np.float32), fmt), out_w, out_h, fmt)
                )
            yield pd.DataFrame(
                out, columns=["media_id", "bytes", "w", "h", "fmt"]
            )

    return media.mapInPandas(
        run, "media_id string, bytes binary, w int, h int, fmt string"
    )
