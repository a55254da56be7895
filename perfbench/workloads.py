"""The workloads: one timed iteration each, its output checks, the layer
probes of a traced run, and the per-layer metrics.

`iterate` returns the seconds the engine worked (checks excluded) and the
input rows it consumed; a failed check raises CheckFailed. Layer probes
run after the timed loop of a traced run only, so they never change the
end-to-end figures. A layer a workload does not use reports 0.
"""

from __future__ import annotations

import shutil
import time
from pathlib import Path

from pyspark.sql import functions as F

import datagen
from stats import median
from spans import COUNTERS, attribute, plan_metric, span_stages

PROBE_REPS = 2
ROI_BOX = (5.0, 45.0, 15.0, 52.0)  # lon/lat box of the table probe's read
MAIN_LAYERS = ("assign_and_join", "manifest", "dedup", "warp")

S, B, N = ("s", "lower"), ("B", "lower"), ("count", "lower")
# name -> (unit, better)
LAYER_METRICS = {
    "session.start_s": S, "scan.s": S, "scan.bytes": B,
    "kernel.zone_tile_key_s": S, "kernel.rows_per_core_s": ("rows/s", "higher"),
    "assign_jvm.plan_s": S, "assign_jvm.tile_counts_s": S, "assign_jvm.assign_tiles_s": S,
    "assign_jvm.jobs": N, "assign_jvm.rows_dropped": N, "join.catalog_s": S,
    "assign_and_join.driver_gap_s": S,
    "manifest.write_s": S, "manifest.write_jobs": N, "manifest.input_scans": N,
    "manifest.files_written": N, "manifest.bytes_written": B, "manifest.bytes_per_row": B,
    "roi.search_s": S, "manifest.plan_scan_s": S,
    "manifest.partitions_kept_frac": ("fraction", "lower"), "manifest.read_s": S,
    "dedup.phash_pairs_s": S, "dedup.caption_pairs_s": S, "dedup.embed_pairs_s": S,
    "dedup.pairs_out": ("count", "higher"), "dedup.embed_candidates": N,
    "dedup.embed_useful_frac": ("fraction", "higher"),
    "dedup.cc_s": S, "dedup.cc_jobs": N, "dedup.cc_driver_gap_s": S,
    "warp.plan_s": S, "warp.fanout_s": S, "warp.tiles_out": ("count", "higher"),
    "warp.mpix_per_s": ("Mpx/s", "higher"),
}
COUNTER_UNITS = {"task_s": S, "gc_s": S, "shuffle_write_bytes": B, "shuffle_read_bytes": B,
                 "spill_bytes": B, "stages": N, "failed_tasks": N}
LAYER_METRICS.update({f"{layer}.{c}": COUNTER_UNITS[c]
                      for layer in MAIN_LAYERS for c in COUNTERS})


class CheckFailed(Exception):
    pass


def expect(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    kind = ""  # datagen cache kind
    build = None  # datagen build_* function
    scan_cols: tuple = ()

    def __init__(self, spec: dict, tracer, out: Path):
        self.size = spec["size"]
        self.probe_sizes = spec.get("probes", {})
        self.tr = tracer
        self.out = out
        self.inp: Path | None = None
        self.ref: dict = {}
        self.notes: dict = {}  # values a traced run could not observe, and why
        self.last: dict = {}  # figures of the latest iteration, beside its time
        self.samples: list[dict] = []  # one record per timed iteration

    def generate(self, cache: Path, seed: int, procs: int, traced: bool) -> float:
        self.inp, self.ref, secs = datagen.cached(
            cache, self.kind, seed, self.size, type(self).build, procs)
        return secs

    def read(self, spark):
        return spark.read.parquet(str(self.inp))

    def install_wrappers(self) -> None:
        """Traced runs: wrap engine functions that the engine calls itself."""

    def iterate(self, spark) -> tuple[float, int]:
        raise NotImplementedError

    def final_check(self, spark) -> None:
        """Once-per-run check that is too costly for every iteration."""

    # -- traced runs ---------------------------------------------------------
    def probes(self, spark) -> None:
        from equi7grid_spark.operators.kernel import zone_tile_key_col

        for _ in range(PROBE_REPS):
            with self.tr.span("probe.scan"):
                noop(self.read(spark).select(*self.scan_cols))
            with self.tr.span("probe.kernel"):
                noop(self.read(spark).select(
                    zone_tile_key_col(F.col("lon"), F.col("lat"), datagen.T6)))

    def layers(self, spans, log) -> dict:
        """Per-layer metrics from the spans and the parsed event log."""
        m = dict.fromkeys(LAYER_METRICS, 0.0)
        m["session.start_s"] = med(spans, "session.start")
        scans = named(spans, "probe.scan")
        m["scan.s"] = median(s.seconds for s in scans)
        m["scan.bytes"] = median(attribute(spans, log, s)["input_bytes"] for s in scans)
        kernel = named(spans, "probe.kernel")
        m["kernel.zone_tile_key_s"] = median(s.seconds for s in kernel)
        per = [attribute(spans, log, s) for s in kernel]
        m["kernel.rows_per_core_s"] = median(
            p["input_records"] / max(p["task_s"], 1e-9) for p in per)
        return m


def named(spans, name: str, timed: bool | None = None) -> list:
    """Spans called `name`; timed=True keeps the timed loop's iterations
    (>= 0), timed=False the set-up's warm-up iteration (-1)."""
    out = [s for s in spans if s.name == name]
    if timed is not None:
        out = [s for s in out if s.iteration is not None
               and (s.iteration >= 0 if timed else s.iteration == -1)]
    return out


def med(spans, name: str, timed: bool | None = None) -> float:
    xs = [s.seconds for s in named(spans, name, timed)]
    return median(xs) if xs else 0.0


def counters(chosen, spans, log, layer: str) -> dict:
    """Median over the `chosen` spans of their Spark counters, reported
    under `layer`."""
    per = [attribute(spans, log, s) for s in chosen]
    return {f"{layer}.{c}": median(p[c] for p in per) for c in COUNTERS} if per else {}


def tile_key(subgrid: str, ll_x: float, ll_y: float) -> tuple:
    from equi7grid_spark.constants import DEFAULT_SYSTEM_ORDER

    return (DEFAULT_SYSTEM_ORDER.index(subgrid),
            round(ll_x / datagen.T6), round(ll_y / datagen.T6))


def ref_counts(rows) -> dict:
    return {tuple(r[:3]): r[3] for r in rows}


class AssignCounts(Workload):
    """jobs.assign_and_join.run(spark, path, "T6", None) over the images table.

    Its traced run also probes the layers of the row-level table path
    (assign_tiles_jvm into IcebergLiteTable.write_partitioned, then an
    ROI-pruned read) on the table's first SAMPLE_ROWS rows, and the raster
    path (warp.resample.resample_to_equi7_tiles) on seeded rasters."""

    kind = "images"
    build = staticmethod(datagen.build_images)
    scan_cols = ("lon", "lat")

    def generate(self, cache: Path, seed: int, procs: int, traced: bool) -> float:
        secs = super().generate(cache, seed, procs, traced)
        if traced:
            self.rasters, self.raster_ref, more = datagen.cached(
                cache, "rasters", seed, self.probe_sizes["warp"],
                datagen.build_rasters, procs)
            secs += more
        return secs

    def install_wrappers(self) -> None:
        from equi7grid_spark.jobs import assign_and_join

        self.tr.wrap(assign_and_join, "tile_counts_jvm", "assign_jvm.tile_counts_jvm")

    def iterate(self, spark) -> tuple[float, int]:
        from equi7grid_spark.jobs.assign_and_join import run

        t0 = time.perf_counter()
        with self.tr.span("assign_and_join.run"):
            stats = run(spark, str(self.inp), "T6", None)
        secs = time.perf_counter() - t0
        self.last = {"images": stats["images"]}
        counts = self.ref["tile_counts"]
        expect(stats["images"] == sum(r[3] for r in counts),
               f"images {stats['images']} != reference {sum(r[3] for r in counts)}")
        expect(stats["tiles"] == len(counts),
               f"tiles {stats['tiles']} != reference {len(counts)}")
        return secs, self.ref["rows"]

    def sample(self, spark):
        """The table's first SAMPLE_ROWS rows (image ids sort by row index)."""
        return self.read(spark).filter(
            F.col("image_id") < f"img{datagen.SAMPLE_ROWS:012d}")

    def final_check(self, spark) -> None:
        from equi7grid_spark.operators.assign_jvm import tile_counts_jvm

        got = {tile_key(r.subgrid, r.ll_x, r.ll_y): r.n
               for r in tile_counts_jvm(self.sample(spark)).collect()}
        expect(got == ref_counts(self.ref["sample_tile_counts"]),
               "per-tile counts of the 100k-row sample differ from the NumPy reference")

    def probes(self, spark) -> None:
        from equi7grid_spark.operators.assign_jvm import assign_tiles_jvm, tile_counts_jvm
        from equi7grid_spark.operators.join import join_tile_catalog

        super().probes(spark)
        counts = tile_counts_jvm(self.read(spark)).localCheckpoint()
        for _ in range(PROBE_REPS):
            with self.tr.span("probe.tile_counts"):
                noop(tile_counts_jvm(self.read(spark)))
            with self.tr.span("probe.join_catalog"):
                noop(join_tile_catalog(counts, spark, "T6", how="left"))
            with self.tr.span("probe.assign_tiles"):
                noop(assign_tiles_jvm(self.sample(spark), tiling_id="T6"))
            self.table_probe(spark)
            self.warp_probe(spark)

    def table_probe(self, spark) -> None:
        """Write the sample's row-level assignment as a partitioned table,
        read it back through an ROI-pruned scan, and check both."""
        from equi7grid_spark.operators.assign_jvm import assign_tiles_jvm
        from equi7grid_spark.roi import get_tiles_in_geog_bbox
        from equi7grid_spark.table.manifest import IcebergLiteTable

        root = self.out / "table"
        shutil.rmtree(root, ignore_errors=True)
        table = IcebergLiteTable(root)
        with self.tr.span("probe.table_write") as w:
            manifest = table.write_partitioned(
                assign_tiles_jvm(self.sample(spark), tiling_id="T6"), "subgrid",
                stat_cols=["ll_x", "ll_y"])
        with self.tr.span("probe.table_read"):
            with self.tr.span("roi.get_tiles_in_geog_bbox"):
                roi = get_tiles_in_geog_bbox(ROI_BOX, "T6")
            names = sorted(t.tilename for t in roi)
            prune = {"ll_x": (min(t.ll_x for t in roi), max(t.ll_x for t in roi)),
                     "ll_y": (min(t.ll_y for t in roi), max(t.ll_y for t in roi))}
            with self.tr.span("manifest.plan_scan") as p:
                kept, skipped = table.plan_scan(None, prune)
            p.attrs["kept_frac"] = len(kept) / (len(kept) + len(skipped))
            with self.tr.span("manifest.read"):
                n_roi = table.read(spark, prune=prune).filter(
                    F.col("tilename").isin(names)).count()
        files = list((root / "data").rglob("*.parquet"))
        written = manifest["total_rows"]
        w.attrs.update(files=len(files), bytes=sum(f.stat().st_size for f in files),
                       rows=written)
        counts = ref_counts(self.ref["sample_tile_counts"])
        expect(written == sum(counts.values()),
               f"rows written {written} != reference {sum(counts.values())}")
        expect(table.read(spark).count() == written, "rows read back != rows written")
        unpruned = table.read(spark).filter(F.col("tilename").isin(names)).count()
        expect(n_roi == unpruned, f"pruned ROI read {n_roi} != unpruned {unpruned}")
        want = sum(counts.get(tile_key(t.subgrid, t.ll_x, t.ll_y), 0) for t in roi)
        expect(n_roi == want, f"ROI rows {n_roi} != reference {want}")

    def warp_probe(self, spark) -> None:
        """Warp the seeded rasters into T6 tiles (2 km, bilinear) and check
        the tile set and per-tile pixel checksums against the NumPy warp."""
        from equi7grid_spark.warp.resample import resample_to_equi7_tiles

        rasters = spark.read.parquet(str(self.rasters))
        with self.tr.span("probe.warp") as s:
            out = resample_to_equi7_tiles(
                rasters, "T6", self.probe_sizes["warp"]["sampling"], resampling="bilinear")
            rows = out.select("image_id", "tilename", "n_valid",
                              F.crc32("bytes").alias("crc")).collect()
        s.attrs["tiles"] = len(rows)
        got = sorted([r.image_id, r.tilename, r.n_valid, r.crc] for r in rows)
        expect(got == self.raster_ref["tiles"],
               f"{len(got)} tiles; tile set or pixel checksums differ from the NumPy warp")

    def layers(self, spans, log) -> dict:
        m = super().layers(spans, log)
        runs = named(spans, "assign_and_join.run", timed=True)
        m["assign_jvm.plan_s"] = med(spans, "assign_jvm.tile_counts_jvm", timed=False)
        m["assign_jvm.tile_counts_s"] = med(spans, "probe.tile_counts")
        m["assign_jvm.assign_tiles_s"] = med(spans, "probe.assign_tiles")
        m["assign_jvm.jobs"] = median(attribute(spans, log, s)["jobs"] for s in runs)
        m["assign_jvm.rows_dropped"] = self.ref["rows"] - median(
            s["images"] for s in self.samples)
        m["join.catalog_s"] = med(spans, "probe.join_catalog")
        m["assign_and_join.driver_gap_s"] = median(
            attribute(spans, log, s)["driver_gap_s"] for s in runs)
        m.update(counters(runs, spans, log, "assign_and_join"))

        writes = named(spans, "probe.table_write")
        per = [attribute(spans, log, s) for s in writes]
        m["manifest.write_s"] = median(s.seconds for s in writes)
        m["manifest.write_jobs"] = median(p["jobs"] for p in per)
        m["manifest.input_scans"] = median(p["input_scans"] for p in per)
        m["manifest.files_written"] = median(s.attrs["files"] for s in writes)
        m["manifest.bytes_written"] = median(s.attrs["bytes"] for s in writes)
        m["manifest.bytes_per_row"] = median(s.attrs["bytes"] / s.attrs["rows"] for s in writes)
        m["roi.search_s"] = med(spans, "roi.get_tiles_in_geog_bbox")
        m["manifest.plan_scan_s"] = med(spans, "manifest.plan_scan")
        m["manifest.partitions_kept_frac"] = median(
            s.attrs["kept_frac"] for s in named(spans, "manifest.plan_scan"))
        m["manifest.read_s"] = med(spans, "manifest.read")
        m.update(counters(writes, spans, log, "manifest"))

        warps = named(spans, "probe.warp")
        stages = [span_stages(spans, log, s) for s in warps]
        m["warp.plan_s"] = median(st[0].completed - st[0].submitted for st in stages)
        m["warp.fanout_s"] = median(st[-1].completed - st[-1].submitted for st in stages)
        m["warp.tiles_out"] = median(s.attrs["tiles"] for s in warps)
        m["warp.mpix_per_s"] = median(self.raster_ref["mpix"] / s.seconds for s in warps)
        m.update(counters(warps, spans, log, "warp"))
        return m


class NearDup(Workload):
    """dedup.multimodal_near_dup (three signals) over a corpus with planted
    variants; dedup.phash_dup_clusters over the same corpus once per run."""

    kind = "corpus"
    build = staticmethod(datagen.build_corpus)
    scan_cols = ("image_id", "phash", "caption", "embedding")

    def install_wrappers(self) -> None:
        from equi7grid_spark import dedup

        self.tr.wrap(dedup, "connected_components", "dedup.connected_components")

    def iterate(self, spark) -> tuple[float, int]:
        from equi7grid_spark.dedup import multimodal_near_dup

        imgs = self.read(spark)
        t0 = time.perf_counter()
        with self.tr.span("dedup.multimodal_near_dup"):
            pairs = multimodal_near_dup(imgs, embedding_col="embedding").collect()
        secs = time.perf_counter() - t0
        self.last = {"pairs": len(pairs),
                     "embed_verified": sum(r.cosine is not None for r in pairs)}
        got = sorted([r.id_a, r.id_b, r.signal, r.hamming] for r in pairs)
        expect(got == self.ref["pairs"],
               f"{len(got)} pairs found, {len(self.ref['pairs'])} planted; sets differ")
        return secs, self.ref["rows"]

    def final_check(self, spark) -> None:
        from equi7grid_spark.dedup import phash_dup_clusters

        with self.tr.span("dedup.phash_dup_clusters"):
            members = phash_dup_clusters(self.read(spark)).collect()
        got = sorted([r.image_id, r.cluster_id] for r in members)
        expect(got == self.ref["cluster_members"],
               "phash cluster membership differs from the plant")
        n_clusters = len({r.cluster_id for r in members})
        want = len({c for _, c in self.ref["cluster_members"]})
        expect(n_clusters == want, f"{n_clusters} clusters, {want} planted")

    def probes(self, spark) -> None:
        from equi7grid_spark.dedup import (
            caption_dup_pairs, embedding_near_dup_pairs, phash_near_dup)

        super().probes(spark)
        for _ in range(PROBE_REPS):
            with self.tr.span("probe.phash_pairs"):
                noop(phash_near_dup(self.read(spark)))
            with self.tr.span("probe.caption_pairs"):
                noop(caption_dup_pairs(self.read(spark)))
            with self.tr.span("probe.embed_pairs"):
                noop(embedding_near_dup_pairs(self.read(spark), embedding_col="embedding"))

    def layers(self, spans, log) -> dict:
        m = super().layers(spans, log)
        m["dedup.phash_pairs_s"] = med(spans, "probe.phash_pairs")
        m["dedup.caption_pairs_s"] = med(spans, "probe.caption_pairs")
        m["dedup.embed_pairs_s"] = med(spans, "probe.embed_pairs")
        m["dedup.pairs_out"] = median(s["pairs"] for s in self.samples)
        # the embedding candidates are the rows of the Filter on the
        # `_embcand` flag inside multimodal_near_dup's plan
        cands = [plan_metric(spans, log, s,
                             lambda n: n.get("nodeName") == "Filter"
                             and "_embcand" in n.get("simpleString", ""))
                 for s in named(spans, "dedup.multimodal_near_dup", timed=True)]
        if cands and None not in cands:
            m["dedup.embed_candidates"] = median(cands)
            verified = median(s["embed_verified"] for s in self.samples)
            m["dedup.embed_useful_frac"] = verified / max(m["dedup.embed_candidates"], 1)
        else:
            self.notes["dedup.embed_candidates"] = (
                "no Filter on _embcand in the event log's SQL plans")
        cc = named(spans, "dedup.connected_components")
        m["dedup.cc_s"] = median(s.seconds for s in cc)
        m["dedup.cc_jobs"] = median(attribute(spans, log, s)["jobs"] for s in cc)
        m["dedup.cc_driver_gap_s"] = median(
            attribute(spans, log, s)["driver_gap_s"] for s in cc)
        m.update(counters(named(spans, "dedup.multimodal_near_dup", timed=True),
                          spans, log, "dedup"))
        return m


WORKLOADS = {"assign_counts": AssignCounts, "near_dup": NearDup}
