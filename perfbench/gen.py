"""Seeded, deterministic input generators for the benchmark workloads.

Two families, planned in numpy and written with pyarrow, so synthesis
runs no Spark job:

* ``image_plan`` / ``materialise_images`` — the image+caption table of
  the ``flagship`` and ``resume_append`` workloads: 12 shapes, PNG,
  LQ01 (the fixture-lossy container) and real baseline JPEG payloads
  encoded with the program's codecs, plus a small injected share of
  corrupt payloads.
* ``key_plan`` / ``materialise_keys`` — the narrow
  ``(entity_id, ts, image_id)`` key stream of ``asof_sessions`` and its
  caption timeline (Zipf entities, one hot entity, duplicate
  timestamps, 5 min / 2 h gaps).

Every random choice derives from the seed (and the row id or block),
never from wall clock, so the same seed gives the same rows.
Materialised inputs are cached under ``<root>/.perfbench/cache`` keyed
by workload family, size, seed and a hash of the generating sources.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
CACHE = os.path.join(WORK, "cache")

BASE_EPOCH = 1_704_067_200  # 2024-01-01T00:00:00Z
WIDTHS = (64, 96, 128, 256)
HEIGHTS = (48, 64, 128)
BLOCK = 120  # rows per stratification block: 10 cycles of the 12 shapes
JPEG_PER_BLOCK = 3  # 2.5 % real baseline JPEG
LQ01_PER_BLOCK = 21  # 17.5 % fixture-lossy
CORRUPT_EVERY = 10  # every 10th block's corrupt row is a pending row
GAP_CHOICES = np.array([300, 7200, 0])  # 5 min, 2 h, duplicate timestamp
GAP_PROBS = np.array([0.6, 0.3, 0.1])
CAPTIONS_PER_ENTITY = 40
CAPTION_OFFSETS = (-600, 0, 120)  # before, at and after an image
ROWS_PER_FILE = 150


def source_hash() -> str:
    """Hash of the generator and of the program sources it runs."""
    h = hashlib.sha256()
    paths = [os.path.abspath(__file__)]
    pkg = os.path.join(ROOT, "rp_extract_spark")
    for d, _dirs, files in sorted(os.walk(pkg)):
        paths += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


CACHE_ENTRIES = 12  # most recently used inputs kept on disk


def cache_dir(family: str, n: int, seed: int) -> str:
    """Cache directory of one input set; evicts the least recently used
    entries beyond CACHE_ENTRIES."""
    path = os.path.join(CACHE, f"{family}-n{n}-s{seed}-{source_hash()}")
    if os.path.isdir(CACHE):
        others = sorted((os.path.join(CACHE, d) for d in os.listdir(CACHE)
                         if os.path.join(CACHE, d) != path), key=os.path.getmtime)
        for old in others[:max(len(others) - CACHE_ENTRIES + 1, 0)]:
            shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(path):
        os.utime(path)
    return path


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _ts(offset: np.ndarray) -> pd.Series:
    return pd.Series(pd.to_datetime(BASE_EPOCH + offset, unit="s", utc=True))


def _write_parquet(df: pd.DataFrame, path: str, files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    for i, part in enumerate(np.array_split(np.arange(len(df)), files)):
        table = pa.Table.from_pandas(df.iloc[part], preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"),
                       coerce_timestamps="us")


# ---- image table ------------------------------------------------------


def image_plan(n: int, seed: int) -> pd.DataFrame:
    """Per-row metadata of the image table, without pixel payloads.

    Row ``i`` has shape ``i % 12``. Every 120-row block holds 3 JPEG, 21
    LQ01 and 96 PNG rows, 12 pending rows (one per shape) and one
    corrupt row. The JPEG shapes cycle through the 12 shapes from block
    to block, so the seed changes which rows carry each format, never
    how much decoding and kernel work a table holds."""
    if n % BLOCK:
        raise ValueError(f"image count must be a multiple of {BLOCK}")
    shapes = len(WIDTHS) * len(HEIGHTS)
    per_shape = BLOCK // shapes
    ids = np.arange(n)
    kind = np.full(n, "png", dtype=object)
    corrupt = np.zeros(n, dtype=bool)
    pending = np.zeros(n, dtype=bool)
    for b in range(n // BLOCK):
        rng = _rng(seed, 1, b)
        base = b * BLOCK
        jpeg = [base + (JPEG_PER_BLOCK * b + j) % shapes
                + shapes * int(rng.integers(per_shape)) for j in range(JPEG_PER_BLOCK)]
        kind[jpeg] = "jpeg"
        rest = np.setdiff1d(base + np.arange(BLOCK), jpeg)
        kind[rng.choice(rest, LQ01_PER_BLOCK, replace=False)] = "lq01"
        prow = base + np.arange(shapes) + shapes * rng.integers(0, per_shape, shapes)
        pending[prow] = True
        # one corrupt row per block, a pending one in every
        # CORRUPT_EVERY-th block: the resume delta then holds an exact
        # share of corrupt rows too
        pool = prow if b % CORRUPT_EVERY == 0 else np.setdiff1d(
            base + np.arange(BLOCK), prow)
        corrupt[rng.choice(pool)] = True

    n_ent = max(n // 50, 1)
    rng = _rng(seed, 3)
    ent = rng.integers(0, n_ent, n)
    gap = rng.choice(GAP_CHOICES, n, p=GAP_PROBS)
    offset = rng.integers(0, 86_400, n_ent)[ent] + _entity_cumsum(ent, ids, gap)
    words = np.array(["alpha", "bravo", "charlie", "delta", "echo", "foxtrot"])
    return pd.DataFrame({
        "row": ids,
        "image_id": [f"img{i:08d}" for i in ids],
        "h": np.array(HEIGHTS)[ids % len(HEIGHTS)],
        "w": np.array(WIDTHS)[ids % len(WIDTHS)],
        "kind": kind,
        "corrupt": corrupt,
        "pending": pending,
        "entity_id": [f"e{x:05d}" for x in ent],
        "offset": offset,
        "caption": [f"caption {i} {words[i % len(words)]}" for i in ids],
    })


def _entity_cumsum(ent: np.ndarray, order_key: np.ndarray, gap: np.ndarray) -> np.ndarray:
    """Per-entity running sum of ``gap`` in ``order_key`` order."""
    order = np.lexsort((order_key, ent))
    g, e = gap[order], ent[order]
    run = np.cumsum(g)
    first = np.r_[True, e[1:] != e[:-1]]
    out = np.empty(len(ent), dtype=np.int64)
    out[order] = run - np.maximum.accumulate(np.where(first, run - g, 0))
    return out


def caption_plan(plan: pd.DataFrame, seed: int) -> pd.DataFrame:
    """Per entity, caption events before, at and after its images."""
    rng = _rng(seed, 4)
    rows = []
    for ent, grp in plan.groupby("entity_id", sort=True):
        offs = grp["offset"].to_numpy()
        anchors = offs[rng.integers(0, len(offs), CAPTIONS_PER_ENTITY)]
        for c, a in enumerate(anchors):
            t = int(a) + CAPTION_OFFSETS[c % len(CAPTION_OFFSETS)]
            rows.append((ent, t, f"cap-{ent}-{t}"))
    df = pd.DataFrame(rows, columns=["entity_id", "offset", "caption"])
    return pd.DataFrame({"entity_id": df["entity_id"],
                         "caption_ts": _ts(df["offset"].to_numpy()),
                         "caption": df["caption"]})


def _pixels(row: int, h: int, w: int, seed: int) -> np.ndarray:
    rng = _rng(seed, 5, row)
    x = np.arange(w)[None, :]
    y = np.arange(h)[:, None]
    img = (127.5 + 60 * np.sin(2 * np.pi * x / (8 + row % 23))
           + 40 * np.cos(2 * np.pi * y / (5 + row % 17))
           + rng.normal(0, 25, (h, w)))
    return np.clip(img, 0, 255).astype(np.uint8)


def _corrupt(data: bytes, fmt: str, row: int, seed: int) -> bytes:
    """Truncate or garble a payload so that ``decode_image`` rejects it."""
    from rp_extract_spark.codecs import decode_image

    mode = int(_rng(seed, 6, row).integers(0, 3))
    if mode == 0:
        bad = data[: len(data) // 2]
    elif mode == 1:
        mid = len(data) // 2
        bad = data[:mid] + bytes(b ^ 0x5A for b in data[mid:mid + 64]) + data[mid + 64:]
    else:
        bad = data[:24]
    for candidate in (bad, data[:24], b"\x00" * 16):
        try:
            decode_image(candidate, fmt)
        except Exception:  # noqa: BLE001 - any decode failure is the goal
            return candidate
    raise RuntimeError(f"could not corrupt row {row}")


def encode_row(row: int, h: int, w: int, kind: str, corrupt: bool,
               seed: int) -> tuple[bytes, str]:
    from rp_extract_spark.codecs import encode_jpeg, encode_lossy, encode_png

    px = _pixels(row, h, w, seed)
    if kind == "jpeg":
        data, fmt = encode_jpeg(px, 97), "jpeg"
    elif kind == "lq01":
        data, fmt = encode_lossy(px), "jpeg"
    else:
        data, fmt = encode_png(px), "png"
    if corrupt:
        data = _corrupt(data, fmt, row, seed)
    return data, fmt


def _write_meta(path: str, meta: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def _fresh(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def input_digest(spark, meta: dict) -> str:
    """Digest of every materialised table named in ``meta``."""
    cols = {"images": ["image_id", "bytes", "fmt", "caption", "entity_id", "ts"],
            "keys": ["entity_id", "ts", "image_id"],
            "captions": ["entity_id", "caption_ts", "caption"]}
    return "/".join(digest(spark.read.parquet(meta[k]), c)
                    for k, c in cols.items() if k in meta)


def digest(df, cols) -> str:
    """Order- and partitioning-independent content digest of a frame."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("s")).first()
    return f"{row['n']}:{row['s']}"


def materialise_images(n: int, seed: int, out: str | None = None) -> dict:
    """Image and caption parquet tables for ``n`` images; cached."""
    out = out or cache_dir("images", n, seed)
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    _fresh(out)
    plan = image_plan(n, seed)
    encoded = [encode_row(r.row, r.h, r.w, r.kind, r.corrupt, seed)
               for r in plan.itertuples()]
    images = pd.DataFrame({
        "image_id": plan["image_id"],
        "bytes": [d for d, _ in encoded],
        "w": plan["w"].astype("int32"),
        "h": plan["h"].astype("int32"),
        "fmt": [f for _, f in encoded],
        "caption": plan["caption"],
        "entity_id": plan["entity_id"],
        "ts": _ts(plan["offset"].to_numpy()),
    })
    _write_parquet(images, os.path.join(out, "images"), max(n // ROWS_PER_FILE, 1))
    _write_parquet(caption_plan(plan, seed), os.path.join(out, "captions"), 1)
    meta = {
        "n": n,
        "seed": seed,
        "images": os.path.join(out, "images"),
        "captions": os.path.join(out, "captions"),
        "corrupt_ids": plan.loc[plan["corrupt"], "image_id"].tolist(),
        "pending_ids": plan.loc[plan["pending"], "image_id"].tolist(),
    }
    _write_meta(meta_path, meta)
    return meta


# ---- narrow key stream ---------------------------------------------------


def key_plan(n: int, seed: int, hot_share: float = 0.05) -> tuple[pd.DataFrame, pd.DataFrame, str]:
    """Key stream, caption timeline and hot entity id for ``n`` keys.

    Entities follow a Zipf (s=1) law over ``n // 20`` ranks through the
    inverse CDF ``floor(exp(u * ln N))``; ``hot_share`` of the rows
    belong to one extra hot entity. Per entity, timestamps are a
    running sum of 5 min / 2 h / 0 s gaps in arrival (id) order. Every
    8th key anchors three captions: before, at and after it."""
    n_ent = max(n // 20, 2)
    rng = _rng(seed, 7)
    ids = np.arange(n)
    ent = np.floor(np.exp(rng.random(n) * np.log(n_ent))).astype(np.int64) - 1
    ent[rng.random(n) < hot_share] = n_ent
    gap = rng.choice(GAP_CHOICES, n, p=GAP_PROBS)
    offset = rng.integers(0, 86_400, n_ent + 1)[ent] + _entity_cumsum(ent, ids, gap)
    ent_ids = np.char.mod("e%07d", ent)
    keys = pd.DataFrame({
        "entity_id": ent_ids,
        "ts": _ts(offset),
        "image_id": np.char.mod("k%09d", ids),
    })
    anchor = np.flatnonzero(rng.random(n) < 1 / 8)
    offs = np.array(CAPTION_OFFSETS)
    a = np.repeat(anchor, len(offs))
    o = np.tile(offs, len(anchor))
    captions = pd.DataFrame({
        "entity_id": ent_ids[a],
        "caption_ts": _ts(offset[a] + o),
        "caption": np.char.add(np.char.mod("cap-k%09d", a), np.char.mod("%+d", o)),
    })
    return keys, captions, f"e{n_ent:07d}"


def materialise_keys(n: int, seed: int, out: str | None = None) -> dict:
    """Key and caption parquet tables for ``n`` keys, in arrival order;
    cached."""
    out = out or cache_dir("keys", n, seed)
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    _fresh(out)
    keys, captions, hot = key_plan(n, seed)
    files = max(n // 100_000, 1)
    _write_parquet(keys, os.path.join(out, "keys"), files)
    _write_parquet(captions, os.path.join(out, "captions"), files)
    meta = {
        "n": n,
        "seed": seed,
        "keys": os.path.join(out, "keys"),
        "captions": os.path.join(out, "captions"),
        "hot_entity": hot,
    }
    _write_meta(meta_path, meta)
    return meta
