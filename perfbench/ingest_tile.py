"""ingest_tile: the pixel path, with tile-store writes beside the reads.

A seed-generated corpus of 128x128 png, jpeg and lossless webp rows, plus
planted corrupt rows (a PNG signature over zero bytes) and unsupported
rows (an animated WebP), goes through ``codecs.classify_table``; the
``ok`` rows go through ``tiles.pipeline.build_pyramid`` over the FIXED
zoom range z9..z8 (``max_zoom_for`` would pick z15 on datagen
footprints, where one image covers hundreds of tiles).  Each level
follows ``jobs/tile_job.py``'s persist -> count -> snapshot commit ->
unpersist loop.  It loads codecs, warp, the composite shuffle, overviews
and snapshot commits, and bypasses spatial_join and similarity.

Resume phase: a second store is put at the crash point right after the
first per-zoom commit (the committed base zoom only) and the pyramid is
finished from it with ``existing=snapshot_read_tiles(...)``.

The seed offsets the image-index window and places the corrupt and
unsupported rows.  The check: the planted status mix comes out exactly,
every ok image is in base-zoom ``src_ids`` lineage, and the resumed store
equals the from-scratch store key for key and PNG byte for byte.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from harness import Check, Tracer, median, noop
from tilemath import lonlat_to_tile

N_OK = 12
N_CORRUPT = 2
N_UNSUPPORTED = 2
N_IMAGES = N_OK + N_CORRUPT + N_UNSUPPORTED
#: 128 px, not 64: Python decode and warp then take about 27% of a
#: repetition's task-slot time, against 21% for 16 rows of 64 px
#: (4-vCPU host, local[4])
SIZE = 128
FMTS = ("png", "jpeg", "webp")
TZ_MAX, TZ_MIN = 9, 8
N_FILES = 8
CORRUPT_BYTES = b"\x89PNG\r\n\x1a\n" + bytes(24)
#: base-zoom work every seed's window carries: summed tile covers of the
#: footprints, distinct z9 tiles, distinct z8 parents (each +-1)
TARGET_WORK = (25, 23, 15)
STEP = 15  # keeps the format cycle (i % 3) and the hot box (i % 5) aligned


def _work(off: int) -> tuple[int, int, int]:
    from gdal_spark import datagen

    fp = datagen.footprint_np(np.arange(off, off + N_OK))
    x0, y0 = lonlat_to_tile(fp["lon_min"], fp["lat_min"], TZ_MAX)
    x1, y1 = lonlat_to_tile(fp["lon_max"], fp["lat_max"], TZ_MAX)
    tiles = {(x, y) for a, b, c, d in zip(x0, y0, x1, y1)
             for x in range(a, c + 1) for y in range(b, d + 1)}
    return (int(((x1 - x0 + 1) * (y1 - y0 + 1)).sum()), len(tiles),
            len({(x >> 1, y >> 1) for x, y in tiles}))


def window(seed: int) -> int:
    """First image index of the seed's window of ok images.

    The seed picks where the search starts; the start then steps by
    STEP images until the window's footprints carry TARGET_WORK, so every
    seed's corpus asks the pyramid for the same amount of work."""
    off = (seed % 1000) * 3000
    while any(abs(a - b) > 1 for a, b in zip(_work(off), TARGET_WORK)):
        off += STEP
    return off


def planted(seed: int) -> dict[int, str]:
    """Row position -> planted decode_status of the extra non-ok rows."""
    pos = np.random.default_rng(seed).permutation(N_IMAGES)
    out = {int(p): "corrupt" for p in pos[:N_CORRUPT]}
    out.update({int(p): "unsupported_codec"
                for p in pos[N_CORRUPT:N_CORRUPT + N_UNSUPPORTED]})
    return out


class Workload:
    name = "ingest_tile"
    rows = N_IMAGES
    min_reps = 2

    def __init__(self, spark, run):
        self.spark, self.run = spark, run
        self.off = window(run.seed)
        self.plant = planted(run.seed)
        self.images_path = run.path("in", "images.parquet")
        self.k = 0

    def image_ids(self) -> list[str]:
        """Row order of the corpus: the ok window with the planted rows
        (ids just past the window) at their seed-chosen positions."""
        ok = iter(range(self.off, self.off + N_OK))
        extra = iter(range(self.off + N_OK, self.off + N_IMAGES))
        return [f"img{next(extra if pos in self.plant else ok):08d}"
                for pos in range(N_IMAGES)]

    # -- inputs ----------------------------------------------------------
    def generate(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from gdal_spark import datagen
        from gdal_spark.functions import codecs
        from gdal_spark.functions.webp_fixtures import ANIM_WEBP

        rows = []
        for pos, iid in enumerate(self.image_ids()):
            i = int(iid[3:])
            status = self.plant.get(pos)
            if status == "corrupt":
                fmt, data = "png", CORRUPT_BYTES
            elif status == "unsupported_codec":
                fmt, data = "webp", ANIM_WEBP
            else:
                fmt = FMTS[i % len(FMTS)]
                data = codecs.encode_image(datagen.make_pixels(i, SIZE, SIZE), fmt)
            rows.append((iid, data, SIZE, SIZE, fmt,
                         f"caption of img{i:08d}", None))
        cols = list(zip(*rows))
        table = pa.table({
            "image_id": pa.array(cols[0], pa.string()),
            "bytes": pa.array(cols[1], pa.binary()),
            "w": pa.array(cols[2], pa.int32()),
            "h": pa.array(cols[3], pa.int32()),
            "fmt": pa.array(cols[4], pa.string()),
            "caption": pa.array(cols[5], pa.string()),
            "phash": pa.array(cols[6], pa.int64()),
        })
        shutil.rmtree(self.images_path, ignore_errors=True)
        os.makedirs(self.images_path)
        step = -(-N_IMAGES // N_FILES)
        for f in range(N_FILES):
            pq.write_table(table.slice(f * step, step),
                           os.path.join(self.images_path, f"part-{f:03d}.parquet"))

    # -- the job ---------------------------------------------------------
    def _images(self):
        from gdal_spark import datagen

        return datagen.with_footprint(self.spark.read.parquet(self.images_path))

    def _ok_rows(self):
        from pyspark.sql import functions as F

        from gdal_spark.functions.codecs import classify_table

        return (classify_table(self._images())
                .filter(F.col("decode_status") == "ok").drop("decode_status"))

    def _pyramid(self, existing=None):
        from gdal_spark.tiles import pipeline as P

        return P.build_pyramid(self._ok_rows(), tz_max=TZ_MAX, tz_min=TZ_MIN,
                               existing=existing)

    def _commit_levels(self, pyramid, store: str, tr: Tracer | None = None,
                       step: str = "level") -> None:
        """tile_job's per-zoom loop: persist -> count -> commit -> unpersist."""
        from gdal_spark.tiles import pipeline as P

        def run(layer, name, fn):
            return tr.span(layer, name, fn) if tr else fn()

        for tz in sorted(pyramid, reverse=True):
            tiles = pyramid[tz].persist()
            run("tiles", f"{step}_z{tz}", tiles.count)
            run("snapshots", f"{step}_commit",
                lambda: P.snapshot_write_tiles(tiles.drop("ms"), store))
            tiles.unpersist()

    def _crash_copy(self, full: str, crashed: str) -> None:
        """A store whose current snapshot is the full store's first commit
        (the base zoom): tile_job killed right after that commit."""
        from gdal_spark.sources.snapshots import SnapshotTable

        shutil.rmtree(crashed, ignore_errors=True)
        shutil.copytree(os.path.join(full, "metadata"),
                        os.path.join(crashed, "metadata"))
        SnapshotTable(crashed).rollback(1)

    def _stores(self, k: int) -> tuple[str, str]:
        return (self.run.path("work", f"full-{k}"),
                self.run.path("work", f"resumed-{k}"))

    def _full_and_resume(self, k: int, tr: Tracer | None = None) -> tuple[float, float]:
        from gdal_spark.tiles import pipeline as P

        full, resumed = self._stores(k)
        t0 = time.perf_counter()
        self._commit_levels(self._pyramid(), full, tr)
        t1 = time.perf_counter()
        self._crash_copy(full, resumed)
        t2 = time.perf_counter()
        existing = P.snapshot_read_tiles(self.spark, resumed)
        self._commit_levels(self._pyramid(existing), resumed, tr, "resume")
        t3 = time.perf_counter()
        return t1 - t0, t3 - t2

    def warm(self) -> None:
        """A full build and a resume: the first pyramid builds in a fresh
        JVM still pay for compilation."""
        self.rep()

    def rep(self) -> dict:
        self.k += 1
        for old in self._stores(self.k - 1):
            shutil.rmtree(old, ignore_errors=True)
        full_s, resume_s = self._full_and_resume(self.k)
        return {"job_s": full_s, "resume_s": resume_s}

    def e2e(self, samples: list[dict]) -> dict:
        return {"rows_per_s": N_IMAGES / median([s["job_s"] for s in samples]),
                "resume_s": median([s["resume_s"] for s in samples])}

    # -- output check ----------------------------------------------------
    def _tile_digests(self, store: str) -> dict:
        from pyspark.sql import functions as F

        from gdal_spark.tiles import pipeline as P

        df = P.snapshot_read_tiles(self.spark, store)
        return {(r["tz"], r["tx"], r["ty"]): r["d"] for r in
                df.select("tz", "tx", "ty", F.sha2("png", 256).alias("d")).collect()}

    def check(self) -> Check:
        from pyspark.sql import functions as F

        from gdal_spark.functions.codecs import classify_table
        from gdal_spark.tiles import pipeline as P

        if self.k == 0:
            self.rep()
        full, resumed = self._stores(self.k)
        status = {r["image_id"]: r["decode_status"] for r in
                  classify_table(self._images()).select("image_id", "decode_status").collect()}
        lineage = {r["i"] for r in
                   P.snapshot_read_tiles(self.spark, full)
                   .filter(F.col("tz") == TZ_MAX)
                   .select(F.explode("src_ids").alias("i")).collect()}
        chk = Check("images (status + base-zoom lineage) + tiles of the "
                    "from-scratch store (resumed == from-scratch)")
        bad_status = bad_lineage = 0
        for pos, iid in enumerate(self.image_ids()):
            want = self.plant.get(pos, "ok")
            if status.get(iid) != want:
                bad_status += 1
            elif want == "ok" and iid not in lineage:
                bad_lineage += 1
        chk.add("images (planted status, base-zoom lineage)", N_IMAGES,
                bad_status + bad_lineage,
                f"wrong status {bad_status}, missing lineage {bad_lineage}")
        a, b = self._tile_digests(full), self._tile_digests(resumed)
        keys = set(a) | set(b)
        bad = [k for k in keys if a.get(k) != b.get(k)]
        chk.add("resumed store == from-scratch store", len(keys), len(bad),
                f"e.g. {sorted(bad)[:3]}" if bad else "")
        return chk

    # -- traced run ------------------------------------------------------
    def trace(self, tr: Tracer) -> dict:
        from pyspark.sql import functions as F

        from gdal_spark.functions.codecs import classify_table
        from gdal_spark.tiles import pipeline as P

        out: dict[str, float] = {}
        counts = dict(tr.span(
            "codecs", "classify",
            lambda: classify_table(self._images()).groupBy("decode_status")
            .count().collect()))
        out["codecs.status_ok"] = counts.get("ok", 0)
        out["codecs.status_unsupported"] = counts.get("unsupported_codec", 0)
        out["codecs.status_corrupt"] = counts.get("corrupt", 0)
        out["codecs.classify_s"] = tr.s("codecs", "classify")

        patches = P.base_patches(self._ok_rows(), TZ_MAX)
        n_patches = tr.span("tiles", "patch", patches.count)
        out["tiles.patch_s"] = tr.s("tiles", "patch")
        out["tiles.patches_per_image"] = (
            n_patches / out["codecs.status_ok"] if out["codecs.status_ok"] else 0.0)
        tr.span("tiles", "composite", lambda: noop(P.composite_tiles(patches)))
        out["tiles.composite_s"] = tr.s("tiles", "composite")

        self.k += 1
        full, resumed = self._stores(self.k)
        self._full_and_resume(self.k, tr)
        for tz in range(TZ_MAX, TZ_MIN - 1, -1):
            out[f"tiles.level_s.z{tz}"] = tr.s("tiles", f"level_z{tz}")
        out["snapshots.commit_s"] = tr.s("snapshots", "level_commit")
        tr.span("snapshots", "read", lambda: P.snapshot_read_tiles(self.spark, full)
                .agg(F.sum(F.length("png"))).collect())
        out["snapshots.read_s"] = tr.s("snapshots", "read")

        base = P.snapshot_read_tiles(self.spark, resumed).filter(F.col("tz") == TZ_MAX)
        kept = tr.span("probe", "resume_filter",
                       lambda: P.resume_filter(patches, base).count())
        out["tiles.resume_discard_ratio"] = (
            (n_patches - kept) / n_patches if n_patches else 0.0)
        self._n_ok = out["codecs.status_ok"]
        return out

    def from_log(self, log, calls, tag: str) -> dict:
        from eventlog import heaviest

        # decoder calls made by the workers for one classify -> filter ->
        # base_patches pass (callprobe); classify decodes every row and
        # base_patches decodes the ok rows again
        decodes = sum(1 for f, _, d in calls
                      if f == "decode_image" and d == f"tiles|patch|{tag}")
        comp = log.select("tiles", "composite", tag)
        comp_read = [s for s in comp if s.shuffle_read_records]
        st = heaviest(comp_read)
        pyramid = [s for s in log.select("tiles", None, tag)
                   + log.select("snapshots", "level_commit", tag)
                   if s.desc.split("|")[1].startswith("level_")]
        return {
            "codecs.decode_rows_per_ok_row": decodes / self._n_ok if self._n_ok else 0.0,
            "tiles.composite_task_skew": st.task_skew if st else 0.0,
            "tiles.composite_shuffle_bytes": sum(s.shuffle_read_bytes for s in comp),
            "tiles.patch_passes": sum(1 for s in pyramid if "MapInPandas" in s.scopes),
            "snapshots.bytes_written": sum(
                s.output_bytes for s in log.select("snapshots", "level_commit", tag)),
        }
