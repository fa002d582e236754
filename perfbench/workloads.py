"""The three benchmark workloads.

Each workload reads its seeded inputs (``gen``), runs one job per call
of ``job`` through the program's public operators, checks every job's
output (``check_job``, from metrics observed on the job's own output)
and the last one in more depth (``verify``), and for the traced run
re-runs the job with a span around each call into a layer and every
lazy layer forced to benchmark scratch space (``traced``).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from rp_extract_spark.codecs import decode_image
from rp_extract_spark.functions.kernel import (
    extract_segment_features,
    extract_segment_features_batch,
)
from rp_extract_spark.operators.asof import asof_join
from rp_extract_spark.operators.extract import extract_features, quarantine
from rp_extract_spark.operators.resume import (
    incremental_extract,
    pending_only,
    write_snapshot,
)
from rp_extract_spark.operators.windows import lag_lead_stack, sessionize
from rp_extract_spark.session import ARROW_BATCH_ROWS

from . import gen

FLAGSHIP_IMAGES = 1200
ASOF_KEYS = 300_000
RESUME_IMAGES = 1200
PROBE_ROWS = 240  # fixed sample for the in-process codec and kernel probes
FEATURE_SAMPLE = [f"img{i:08d}" for i in range(0, 320, 40)]
GAP_SECONDS = 1800


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_observed(df, **aggs) -> dict:
    """Run ``df`` into the noop sink; return ``aggs`` observed on its rows."""
    obs = Observation()
    noop(df.observe(obs, *[v.alias(k) for k, v in aggs.items()]))
    return dict(obs.get)


def read_rows(path: str, column: str, values: list[str], columns: list[str]) -> pd.DataFrame:
    """Rows of a parquet table whose ``column`` is in ``values``, read
    with pyarrow (no Spark job)."""
    return pq.read_table(path, columns=columns,
                         filters=[(column, "in", values)]).to_pandas()


def temporal(left, captions, value_col: str):
    """as-of caption join → lag stack → sessionize (plans/flagship)."""
    joined = asof_join(left, captions, on="entity_id", left_ts="ts",
                       right_ts="caption_ts", values=["caption"], suffix="_asof")
    return windows(joined, value_col)


def windows(joined, value_col: str):
    return sessionize(
        lag_lead_stack(joined, value_col, lags=(1,), tiebreak=("image_id",)),
        gap_seconds=GAP_SECONDS, tiebreak=("image_id",))


class Workload:
    name = ""
    rows = 0  # input rows of one timed job (rows_per_s)
    attempted_rows = 0  # rows one job must deliver or fail (delivered_frac)

    def __init__(self, seed: int, scratch: str):
        self.seed = seed
        self.scratch = scratch
        self.spark = None

    def materialise(self) -> None:
        """Build or reuse the seeded inputs. Runs before this process
        launches its JVM, so that every run's first set-up is cold."""
        raise NotImplementedError

    def open(self, spark) -> None:
        """Bind lazily-read inputs to a (new) session."""
        self.spark = spark

    def build(self) -> None:
        """Untimed inputs that the program itself makes, built once in
        the measured session after the set-ups."""

    def warmup(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        """Untimed step before each timed job."""

    def job(self) -> dict:
        """One timed job; returns at least ``delivered`` (good rows)."""
        raise NotImplementedError

    def check_job(self, res: dict) -> list[str]:
        return []

    def verify(self, res: dict) -> list[str]:
        """Deeper checks on the last job's result."""
        return []

    def probe_frame(self) -> pd.DataFrame | None:
        """Rows for the in-process codec and kernel probes."""
        return None

    def traced(self, tr, force_dir: str) -> dict:
        raise NotImplementedError


# ---- flagship -----------------------------------------------------------


class Flagship(Workload):
    """Parquet image+caption table through extract → quarantine →
    as-of join → lag stack → sessionize, into a noop sink."""

    name = "flagship"
    n = FLAGSHIP_IMAGES

    def materialise(self) -> None:
        self.meta = gen.materialise_images(self.n, self.seed)
        self.rows = self.attempted_rows = self.n
        self.corrupt = self.meta["corrupt_ids"]

    def open(self, spark) -> None:
        super().open(spark)
        self.images = spark.read.parquet(self.meta["images"])
        self.captions = spark.read.parquet(self.meta["captions"])

    def pipeline(self, images):
        feats, _bad = quarantine(extract_features(images))
        out = temporal(feats.withColumn("rp0", F.element_at("rp", 1)),
                       self.captions, "rp0")
        return out.select(
            "entity_id", "ts", "image_id", "rp", "ssd", "rh", "caption",
            "caption_asof", F.col("matched_ts_asof").alias("caption_asof_ts"),
            "rp0_lag1", "session_id")

    def warmup(self) -> None:
        noop(self.pipeline(self.images.filter(
            F.col("image_id") < f"img{gen.BLOCK:08d}")))

    def job(self) -> dict:
        sample = F.col("image_id").isin(FEATURE_SAMPLE)
        return run_observed(
            self.pipeline(self.images),
            delivered=F.count(F.lit(1)),
            leak=F.sum((F.col("caption_asof_ts") > F.col("ts")).cast("int")),
            bad=F.sum(F.col("image_id").isin(self.corrupt).cast("int")),
            sample=F.collect_list(F.when(sample, F.struct("image_id", "rp", "ssd", "rh"))),
        )

    def check_job(self, res):
        fails = []
        want = self.n - len(self.corrupt)
        if res["delivered"] != want:
            fails.append(f"flagship: {res['delivered']} rows, want {want}")
        if res["leak"]:
            fails.append(f"flagship: {res['leak']} rows leak a later caption")
        if res["bad"]:
            fails.append(f"flagship: {res['bad']} corrupt rows not quarantined")
        return fails

    def verify(self, res):
        return check_features(self.meta["images"], res["sample"], self.corrupt)

    def probe_frame(self):
        ids = [f"img{i:08d}" for i in range(PROBE_ROWS)]
        return read_rows(self.meta["images"], "image_id", ids,
                         ["image_id", "bytes", "fmt"]).sort_values("image_id")

    def traced(self, tr, force_dir):
        out = {}
        with tr.span("job"):
            with tr.span("extract"):
                with tr.span("extract.extract_features"):
                    raw = extract_features(self.images)
                with tr.span("extract.force"):
                    raw.write.parquet(os.path.join(force_dir, "extract"))
                with tr.span("extract.quarantine"):
                    good, bad = quarantine(
                        self.spark.read.parquet(os.path.join(force_dir, "extract")))
                with tr.span("extract.force_quarantine"):
                    out["extract.quarantined_rows"] = bad.count()
            left = good.withColumn("rp0", F.element_at("rp", 1))
            out.update(traced_temporal(tr, self.spark, left, self.captions,
                                       "rp0", force_dir))
        return out


def check_features(images: str, rows: list, corrupt: list[str]) -> list[str]:
    """Feature vectors of the fixed sample ids, as the job output them,
    against an in-process kernel call on the decoded payloads."""
    ids = [i for i in FEATURE_SAMPLE if i not in set(corrupt)]
    got = {r["image_id"]: r for r in rows}
    src = read_rows(images, "image_id", ids, ["image_id", "bytes", "fmt"])
    fails = []
    if len(src) != len(ids):
        fails.append(f"feature check: {len(src)} of {len(ids)} sample ids in the input")
    for i, data, fmt in zip(src["image_id"], src["bytes"], src["fmt"]):
        if i not in got:
            fails.append(f"feature check: {i} missing from the output")
            continue
        want = extract_segment_features(decode_image(data, fmt))
        for fam in ("rp", "ssd", "rh"):
            if not np.allclose(np.asarray(got[i][fam]), want[fam],
                               rtol=1e-9, atol=1e-9):
                fails.append(f"feature check: {i} {fam} differs from the kernel")
    return fails


def traced_temporal(tr, spark, left, captions, value_col, force_dir) -> dict:
    out = {}
    with tr.span("asof"):
        with tr.span("asof.asof_join"):
            joined = asof_join(left, captions, on="entity_id", left_ts="ts",
                               right_ts="caption_ts", values=["caption"],
                               suffix="_asof")
        with tr.span("asof.force"):
            joined.write.parquet(os.path.join(force_dir, "asof"))
        joined = spark.read.parquet(os.path.join(force_dir, "asof"))
        row = joined.agg(F.count(F.lit(1)).alias("n"),
                         F.count("matched_ts_asof").alias("m")).first()
        out["asof.left_rows"] = row["n"]
        out["asof.matched_frac"] = row["m"] / max(row["n"], 1)
    with tr.span("windows"):
        with tr.span("windows.lag_lead_stack+sessionize"):
            res = windows(joined, value_col)
        with tr.span("windows.force"):
            noop(res)
    return out


# ---- asof_sessions ------------------------------------------------------


ORACLE_COLS = ["image_id", "caption_asof", "matched_ts_asof",
               "caption_asof_lag1", "session_id"]


class AsofSessions(Workload):
    """Narrow key stream through as-of join → lag stack → sessionize."""

    name = "asof_sessions"
    n = ASOF_KEYS

    def materialise(self) -> None:
        self.meta = gen.materialise_keys(self.n, self.seed)
        self.rows = self.attempted_rows = self.n
        # the hot entity and Zipf ranks from the head to the tail
        self.entities = [self.meta["hot_entity"],
                         *(f"e{r:07d}" for r in (3, 30, 300, 3000))]

    def open(self, spark) -> None:
        super().open(spark)
        self.keys = spark.read.parquet(self.meta["keys"])
        self.captions = spark.read.parquet(self.meta["captions"])

    def pipeline(self, keys):
        return temporal(keys, self.captions, "caption_asof")

    def warmup(self) -> None:
        noop(self.pipeline(self.keys.filter(F.col("image_id") < "k000020000")))

    def job(self) -> dict:
        out = self.pipeline(self.keys)
        cols = [F.col(c).cast("long").alias(c) if c == "matched_ts_asof"
                else F.col(c) for c in ORACLE_COLS]
        return run_observed(
            out,
            delivered=F.count(F.lit(1)),
            sample=F.collect_list(F.when(F.col("entity_id").isin(self.entities),
                                         F.struct(*cols))),
        )

    def check_job(self, res):
        if res["delivered"] != self.n:
            return [f"asof: {res['delivered']} rows, want {self.n}"]
        return []

    def verify(self, res):
        keys = read_rows(self.meta["keys"], "entity_id", self.entities,
                         ["entity_id", "ts", "image_id"])
        caps = read_rows(self.meta["captions"], "entity_id", self.entities,
                         ["entity_id", "caption_ts", "caption"])
        got = pd.DataFrame([r.asDict() for r in res["sample"]], columns=ORACLE_COLS)
        return compare_oracle(got, oracle(keys, caps))

    def traced(self, tr, force_dir):
        with tr.span("job"):
            return traced_temporal(tr, self.spark, self.keys, self.captions,
                                   "caption_asof", force_dir)


def oracle(keys: pd.DataFrame, caps: pd.DataFrame) -> pd.DataFrame:
    """pandas merge_asof (inclusive, greatest caption on tied
    timestamps) + lag + cumsum sessionize, ordered by (ts, image_id)."""
    caps = (caps.sort_values(["entity_id", "caption_ts", "caption"])
            .drop_duplicates(["entity_id", "caption_ts"], keep="last")
            .rename(columns={"caption": "caption_asof",
                             "caption_ts": "matched_ts_asof"}))
    keys = keys.sort_values(["ts", "image_id"], kind="mergesort")
    m = pd.merge_asof(keys, caps.sort_values("matched_ts_asof"),
                      left_on="ts", right_on="matched_ts_asof", by="entity_id",
                      direction="backward", allow_exact_matches=True)
    m = m.sort_values(["entity_id", "ts", "image_id"], kind="mergesort")
    g = m.groupby("entity_id", sort=False)
    m["caption_asof_lag1"] = g["caption_asof"].shift(1)
    gap = g["ts"].diff().dt.total_seconds()
    m["session_id"] = (gap > GAP_SECONDS).astype(int).groupby(
        m["entity_id"]).cumsum()
    m["matched_ts_asof"] = (m["matched_ts_asof"]
                            - pd.Timestamp(0, tz="UTC")) // pd.Timedelta(seconds=1)
    return m.set_index("image_id")


def compare_oracle(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    got = got.set_index("image_id")
    if set(got.index) != set(want.index):
        return [f"asof oracle: {len(got)} sample rows, want {len(want)}"]
    got = got.loc[want.index]
    fails = []
    for col in ORACLE_COLS[1:]:
        a, b = got[col], want[col]
        same = (a == b) | (a.isna() & b.isna())
        if not same.all():
            fails.append(f"asof oracle: {int((~same).sum())} rows differ in {col}")
    return fails


# ---- resume_append ------------------------------------------------------


def restore(snapshot: str, dest: str) -> None:
    """Copy a snapshot directory: parquet parts as hard links, the
    small files (manifests, checksums, markers) as copies."""
    shutil.rmtree(dest, ignore_errors=True)
    for d, _dirs, files in os.walk(snapshot):
        tgt = os.path.join(dest, os.path.relpath(d, snapshot))
        os.makedirs(tgt, exist_ok=True)
        for f in files:
            src = os.path.join(d, f)
            if f.endswith(".parquet"):
                os.link(src, os.path.join(tgt, f))
            else:
                shutil.copyfile(src, os.path.join(tgt, f))


class ResumeAppend(Workload):
    """``incremental_extract`` over a snapshot that covers 90 % of the
    image table, then again (which must append nothing)."""

    name = "resume_append"
    n = RESUME_IMAGES

    def materialise(self) -> None:
        self.meta = gen.materialise_images(self.n, self.seed)
        self.rows = self.n
        self.snapshot = os.path.join(self.scratch, self.name, "snapshot")
        self.pending = self.meta["pending_ids"]
        self.pending_corrupt = len(set(self.pending) & set(self.meta["corrupt_ids"]))
        self.attempted_rows = len(self.pending)

    def build(self) -> None:
        """The snapshot: every image but the pending ones, extracted and
        written by the program's own operators."""
        shutil.rmtree(self.snapshot, ignore_errors=True)
        done = self.images.filter(~F.col("image_id").isin(self.pending))
        write_snapshot(extract_features(done), self.snapshot)
        self.base_files = set(os.listdir(os.path.join(self.snapshot, "data")))
        (manifest,) = os.listdir(os.path.join(self.snapshot, "_metrics"))
        with open(os.path.join(self.snapshot, "_metrics", manifest)) as f:
            self.base = json.load(f)

    def open(self, spark) -> None:
        super().open(spark)
        self.images = spark.read.parquet(self.meta["images"])
        self.table = os.path.join(self.scratch, self.name, "table")

    def warmup(self) -> None:
        """The job's plan shape on the first block: a call that creates
        a table from one row per shape, then one that resumes it."""
        shutil.rmtree(self.table, ignore_errors=True)
        for rows in (12, gen.BLOCK):
            incremental_extract(self.spark, self.images.filter(
                F.col("image_id") < f"img{rows:08d}"), self.table,
                extract_features)

    def prepare(self) -> None:
        restore(self.snapshot, self.table)

    def job(self) -> dict:
        m1 = incremental_extract(self.spark, self.images, self.table, extract_features)
        m2 = incremental_extract(self.spark, self.images, self.table, extract_features)
        written = m1["total_rows"] - self.base["total_rows"]
        errors = m1["total_errors"] - self.base["total_errors"]
        return {"delivered": written - errors, "m1": m1, "m2": m2}

    def written(self) -> tuple[int, int]:
        """(files, bytes) appended to the restored snapshot."""
        data = os.path.join(self.table, "data")
        new = [os.path.join(data, f) for f in os.listdir(data)
               if f.endswith(".parquet") and f not in self.base_files]
        return len(new), sum(os.path.getsize(f) for f in new)

    def check_job(self, res):
        m1, m2 = res["m1"], res["m2"]
        fails = []
        want = len(self.pending) - self.pending_corrupt
        if res["delivered"] != want:
            fails.append(f"resume: {res['delivered']} good rows appended, want {want}")
        if m1["total_rows"] != self.n:
            fails.append(f"resume: table holds {m1['total_rows']} rows, want {self.n}")
        if m2["total_rows"] != m1["total_rows"]:
            fails.append(f"resume: second call appended "
                         f"{m2['total_rows'] - m1['total_rows']} rows")
        return fails

    def verify(self, res):
        table = self.spark.read.parquet(os.path.join(self.table, "data"))
        row = table.agg(F.count(F.lit(1)).alias("n"),
                        F.countDistinct("image_id").alias("ids"),
                        F.count("err").alias("errs")).first()
        missing = self.images.join(table, "image_id", "left_anti").count()
        fails = []
        if row["n"] != row["ids"]:
            fails.append(f"resume: {row['n'] - row['ids']} duplicate image_id rows")
        if missing:
            fails.append(f"resume: {missing} image ids missing from the table")
        if res["m2"]["total_rows"] != row["n"]:
            fails.append(f"resume: manifest says {res['m2']['total_rows']} rows, "
                         f"table has {row['n']}")
        if res["m2"]["total_errors"] != row["errs"]:
            fails.append(f"resume: manifest says {res['m2']['total_errors']} "
                         f"errors, table has {row['errs']}")
        return fails

    def probe_frame(self):
        return read_rows(self.meta["images"], "image_id", self.pending[:PROBE_ROWS],
                         ["image_id", "bytes", "fmt"]).sort_values("image_id")

    def traced(self, tr, force_dir):
        """``incremental_extract``'s steps called one by one, each lazy
        one forced, then the real call again as the no-op rerun."""
        data = os.path.join(self.table, "data")
        out = {}
        spark = self.spark
        with tr.span("job"):
            with tr.span("resume.pending_only"):
                todo = pending_only(self.images, spark.read.parquet(data))
                todo.write.parquet(os.path.join(force_dir, "pending"))
            todo = spark.read.parquet(os.path.join(force_dir, "pending"))
            out["resume.pending_rows"] = todo.count()
            with tr.span("extract"):
                with tr.span("extract.extract_features"):
                    feats = extract_features(todo)
                with tr.span("extract.force"):
                    feats.write.parquet(os.path.join(force_dir, "extract"))
                feats = spark.read.parquet(os.path.join(force_dir, "extract"))
                out["extract.quarantined_rows"] = quarantine(feats)[1].count()
            with tr.span("resume.write_snapshot"):
                m1 = write_snapshot(feats, self.table, mode="append")
            files, nbytes = self.written()
            out["resume.files_written"] = files
            out["resume.bytes_written"] = nbytes
            out["resume.output_bytes_per_row"] = nbytes / max(
                m1["total_rows"] - self.base["total_rows"], 1)
            with tr.span("resume.noop_rerun"):
                incremental_extract(spark, self.images, self.table, extract_features)
        return out


WORKLOADS = {w.name: w for w in (Flagship, AsofSessions, ResumeAppend)}


# ---- in-process probes ----------------------------------------------------


def probe(frame: pd.DataFrame | None) -> dict:
    """Decode every sampled payload with ``decode_image`` and replay the
    batched kernel over the decoded pixels in Arrow-batch-sized chunks."""
    import time

    out = {"codecs.decode_us.png": 0.0, "codecs.decode_us.lossy": 0.0,
           "codecs.decode_us.jpeg": 0.0, "codecs.decode_errors": 0,
           "kernel.us_per_image": 0.0, "kernel.shape_groups_per_batch": 0.0,
           "kernel.batch_fallbacks": 0}
    if frame is None or not len(frame):
        return out
    spent: dict[str, list[float]] = {"png": [], "lossy": [], "jpeg": []}
    pixels = []
    for data, fmt in zip(frame["bytes"], frame["fmt"]):
        cls = "png" if fmt == "png" else ("lossy" if data[:4] == b"LQ01" else "jpeg")
        t = time.perf_counter()
        try:
            px = decode_image(data, fmt)
        except Exception:  # noqa: BLE001 - counting decode failures
            out["codecs.decode_errors"] += 1
            continue
        spent[cls].append(time.perf_counter() - t)
        pixels.append(px)
    for cls, ts in spent.items():
        out[f"codecs.decode_us.{cls}"] = 1e6 * sum(ts) / max(len(ts), 1)
    groups, t = [], time.perf_counter()
    for i in range(0, len(pixels), ARROW_BATCH_ROWS):
        chunk = pixels[i:i + ARROW_BATCH_ROWS]
        groups.append(len({p.shape for p in chunk}))
        try:
            extract_segment_features_batch(chunk)
        except Exception:  # noqa: BLE001 - mirrors extract_features' fallback
            out["kernel.batch_fallbacks"] += 1
            for p in chunk:
                try:
                    extract_segment_features(p)
                except Exception:  # noqa: BLE001
                    pass
    out["kernel.us_per_image"] = 1e6 * (time.perf_counter() - t) / max(len(pixels), 1)
    out["kernel.shape_groups_per_batch"] = sum(groups) / max(len(groups), 1)
    return out
