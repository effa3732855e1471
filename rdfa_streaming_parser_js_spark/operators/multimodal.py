"""Multimodal columns: opaque binary payloads + typed metadata.

Images/audio/video are carried as ``payload: binary`` with typed
metadata columns — the schema/partitioning/UDF plumbing a 100 TB
training-data pipeline needs.  The actual codec work (PIL/ffmpeg) is not
available in this container, so the *decode step* is a deterministic
fake behind a clearly-marked seam (``_decode_payload``): the Spark-side
contract — Arrow batch shapes, binary handling, 1→N frame fan-out,
schema evolution on resize — is real and tested.

Batch shape notes (scale):
- `mapInPandas` receives Arrow-sized pandas chunks; payload bytes stay
  in Arrow buffers until touched — the metadata-only columns never copy
  the blobs.
- frame sampling fans out one video row → ceil(n_frames/k) rows inside
  the same task: map-side, no shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator
import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..worker import skip_unchanged_zip_rereads

MEDIA_TYPES = ("image", "audio", "video")
_MAGIC = b"FAKE"

DECODED_SCHEMA = ("media_id long, media_type string, width int, "
                  "height int, n_frames int, body_bytes long, "
                  "body_sha256 string")

RESIZED_SCHEMA = ("media_id long, width int, height int, "
                  "new_width int, new_height int, payload binary")

FRAMES_SCHEMA = ("media_id long, frame_index int, frame_sha256 string")


def synthesize_media(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Deterministic fake media table from documents — native exprs only.

    payload = b"FAKE|{type}|{width}|{height}|{n_frames}|" + utf8(text)
    """
    mid = F.col(id_col).cast("long")
    mtype = F.element_at(F.array(*[F.lit(t) for t in MEDIA_TYPES]),
                         (mid % 3 + 1).cast("int"))
    width = (F.lit(64) + (mid % 16) * 16).cast("int")
    height = (F.lit(48) + (mid % 12) * 16).cast("int")
    n_frames = (F.when(mtype == "video", mid % 30 + 2)
                .otherwise(F.lit(1))).cast("int")
    # concat_ws silently SKIPS null columns, which would emit a 4-field
    # header that crashes decode — coalesce keeps the field count fixed.
    header = F.concat_ws("|", F.lit("FAKE"), mtype,
                         width.cast("string"), height.cast("string"),
                         n_frames.cast("string"),
                         F.coalesce(F.col(text_col), F.lit("")))
    return docs.select(
        mid.alias("media_id"), mtype.alias("media_type"),
        F.struct(width.alias("width"), height.alias("height"),
                 n_frames.alias("n_frames")).alias("meta"),
        F.encode(header, "UTF-8").alias("payload"))


def _decode_payload(payload: bytes) -> tuple[str, int, int, int, bytes]:
    """STUB decode seam.  A real deployment replaces this with
    PIL.Image.open / soundfile / pyav — per-item C-library calls with the
    same (type, width, height, n_frames, body) contract.  Raises on
    payloads that are not the deterministic fake format."""
    if not payload.startswith(_MAGIC + b"|"):
        raise NotImplementedError(
            "real codec decode not available in this environment; "
            "only the deterministic FAKE container is supported")
    parts = payload[5:].split(b"|", 4)
    if len(parts) != 5:
        raise ValueError(
            f"malformed FAKE container: {len(parts) + 1} fields, need 6")
    mtype, w, h, nf, body = parts
    return mtype.decode(), int(w), int(h), int(nf), body


def decode_media_meta(media: DataFrame) -> DataFrame:
    """payload → typed metadata (the 'feature extraction' stage)."""
    pruned = media.select("media_id", "payload")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_rereads()
        for pdf in batches:
            rows = [_decode_payload(p) for p in pdf["payload"]]
            yield pd.DataFrame({
                "media_id": pdf["media_id"].values,
                "media_type": [r[0] for r in rows],
                "width": [r[1] for r in rows],
                "height": [r[2] for r in rows],
                "n_frames": [r[3] for r in rows],
                "body_bytes": [len(r[4]) for r in rows],
                "body_sha256": [hashlib.sha256(r[4]).hexdigest()
                                for r in rows],
            })

    return pruned.mapInPandas(run, DECODED_SCHEMA)


def resize_images(media: DataFrame, max_side: int = 64) -> DataFrame:
    """Scale image payloads so max(width, height) == max_side (aspect
    preserved, floor).  Output payload is re-encoded with the new header
    — schema-compatible with the input container."""
    pruned = (media.filter(F.col("media_type") == "image")
              .select("media_id", "payload"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_rereads()
        for pdf in batches:
            out = {k: [] for k in ("media_id", "width", "height",
                                   "new_width", "new_height", "payload")}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                mtype, w, h, nf, body = _decode_payload(p)
                scale = max_side / max(w, h)
                nw, nh = max(1, int(w * scale)), max(1, int(h * scale))
                hdr = f"FAKE|{mtype}|{nw}|{nh}|{nf}|".encode()
                out["media_id"].append(mid)
                out["width"].append(w)
                out["height"].append(h)
                out["new_width"].append(nw)
                out["new_height"].append(nh)
                out["payload"].append(hdr + body)
            yield pd.DataFrame(out)

    return pruned.mapInPandas(run, RESIZED_SCHEMA)


def sample_frames(media: DataFrame, every_k: int = 5) -> DataFrame:
    """Video frame sampling: one row per k-th frame (1→N fan-out inside
    the task; frame bytes faked as sha256(payload || index))."""
    pruned = (media.filter(F.col("media_type") == "video")
              .select("media_id", "payload"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_rereads()
        for pdf in batches:
            ids, idxs, shas = [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                _, _, _, nf, _ = _decode_payload(p)
                for i in range(0, nf, every_k):
                    ids.append(mid)
                    idxs.append(i)
                    shas.append(hashlib.sha256(
                        p + i.to_bytes(4, "big")).hexdigest())
            yield pd.DataFrame({"media_id": ids, "frame_index": idxs,
                                "frame_sha256": shas})

    return pruned.mapInPandas(run, FRAMES_SCHEMA)
