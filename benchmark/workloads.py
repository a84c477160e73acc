"""The four workloads: inputs, one timed pass through the engine's entry
point, the output check, and the traced composition.

Each ``run`` calls only the engine's public entry points between its
clock reads.  Each ``traced`` calls the same layer functions in the
entry point's order and with its arguments, materializing every layer's
output (with its input already persisted) inside a span, so the span
times work that actually ran; it then returns the rows the untraced
entry point is compared against.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pyarrow.dataset as pads

from inputs import (
    ICE_VARS, SAR_VARS, Sizes, doy0, expected_batches, expected_reconstruction,
    write_build_inputs, write_documents, write_patch_lake,
)

TRAIN_VARS = list(SAR_VARS + ICE_VARS)
MB = 1 << 20


def dir_mb(path: str) -> tuple[float, int]:
    """(size in MB, number of data files) of a directory tree."""
    total, n = 0, 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
            total += os.path.getsize(os.path.join(d, f))
    return total / MB, n


def fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def read_table(path: str):
    return pads.dataset(path, format="parquet", partitioning="hive").to_table()


@dataclass
class Pass:
    seconds: float
    units: float  # work delivered: SAR pixels, patches, scenes or docs
    ok: bool
    detail: str = ""


def persist(df):
    """Materialize ``df`` once and keep it: the next layer's input."""
    df = df.persist()
    df.count()
    return df


class Workload:
    name = ""
    # A batch job (build, train, curate) runs once per application, so
    # its user pays the fresh session's first-pass cost (class loading,
    # JIT, plan code generation) every time: it is measured as the first
    # pass after set-up.  apply serves scene after scene from one session,
    # so it is warmed up first.
    batch = True

    def __init__(self, work: str, seed: int, sz: Sizes) -> None:
        self.work, self.seed, self.sz = work, seed, sz
        self.spark = None  # set once the session is up; writing inputs needs none
        self.k = 0

    def setup(self, root: str) -> None:
        """Write the inputs (benchmark code, before the session starts)."""
        raise NotImplementedError

    def first_scan(self) -> None:
        """The engine's first read of the inputs: part of set-up."""
        raise NotImplementedError

    def run(self) -> Pass:
        raise NotImplementedError

    def traced(self, tr, stats, driver_log) -> tuple[dict, bool]:
        raise NotImplementedError


# --- build -------------------------------------------------------------------


class Build(Workload):
    """NetCDF scenes → incremental pixel sink + ledger, then the five
    tables → build_patches → patch sink."""

    name = "build"

    def setup(self, root: str) -> None:
        self.root = root
        self.exp = write_build_inputs(root, self.seed, self.sz)

    def cfg(self):
        from asid_v2_data_pipeline_spark.config import PipelineConfig

        w = self.sz.window
        return PipelineConfig(window_sar=w, stride_sar=w, window_amsr2=self.sz.window_amsr2)

    def first_scan(self) -> None:
        from asid_v2_data_pipeline_spark.sources.ledger import list_files

        list_files(self.spark, f"{self.root}/scenes").count()

    def tables(self):
        rd = self.spark.read.parquet
        t = f"{self.root}/tables"
        return (rd(f"{t}/scenes"), rd(f"{t}/sar_pixels"), rd(f"{t}/icechart_pixels"),
                rd(f"{t}/polygon_codes"), rd(f"{t}/amsr2_pixels"))

    def _dirs(self, tag: str):
        base = fresh(f"{self.work}/build-{tag}")
        return f"{base}/pixels", f"{base}/ledger", f"{base}/patches"

    def run(self) -> Pass:
        from asid_v2_data_pipeline_spark.plans.build_pipeline import build_patches, write_patch_sink
        from asid_v2_data_pipeline_spark.plans.incremental import run_incremental_build

        pix, ledger, sink = self._dirs("run")
        cfg = self.cfg()
        t0 = time.perf_counter()
        n = run_incremental_build(self.spark, f"{self.root}/scenes", pix, ledger, cfg)
        write_patch_sink(build_patches(*self.tables(), cfg), sink)
        dt = time.perf_counter() - t0
        ok, why = self.check(n, pix, ledger, sink)
        units = sum(self.exp.var_rows[v] for v in SAR_VARS)
        return Pass(dt, units, ok, why)

    def check(self, n, pix, ledger, sink) -> tuple[bool, str]:
        e = self.exp
        if n != len(e.files):
            return False, f"processed {n} files, expected {len(e.files)}"
        if read_table(pix).num_rows != e.pixel_rows:
            return False, "pixel sink row count"
        if sorted(read_table(ledger).column("name").to_pylist()) != sorted(e.files):
            return False, "ledger names"
        t = read_table(sink).to_pandas()
        keys = set(zip(t["scene"].astype(str), t["i"], t["j"]))
        if keys != e.clean_keys:
            return False, f"clean keys: {len(keys)} vs {len(e.clean_keys)}"
        rows = t.groupby("var").size().to_dict()
        if rows != e.var_rows:
            return False, "per-variable row counts"
        for v in SAR_VARS:
            got = float(t.loc[t["var"] == v, "value"].astype(np.float64).sum())
            if not np.isclose(got, e.sar_sums[v], rtol=1e-9, atol=0):
                return False, f"{v} sum {got} vs {e.sar_sums[v]}"
        return True, ""

    def traced(self, tr, stats, driver_log) -> tuple[dict, bool]:
        from pyspark.sql import functions as F

        from asid_v2_data_pipeline_spark.operators.filters import healthy_scenes
        from asid_v2_data_pipeline_spark.operators.patching import (
            align_variables, assign_tumbling, clean_patches, patch_pixels,
        )
        from asid_v2_data_pipeline_spark.operators.regrid import bilinear_regrid, target_points
        from asid_v2_data_pipeline_spark.plans.build_pipeline import (
            build_patches, decode_icechart, write_patch_sink,
        )
        from asid_v2_data_pipeline_spark.plans.incremental import run_incremental_build
        from asid_v2_data_pipeline_spark.sources.ledger import (
            commit, list_files, read_ledger, unprocessed,
        )
        from asid_v2_data_pipeline_spark.sources.netcdf import read_scenes

        cfg = self.cfg()
        m: dict = {}
        scenes_dir = f"{self.root}/scenes"

        # the untraced entry point, with its engine-side counts
        u_pix, u_ledger, u_sink = self._dirs("untraced")
        g0 = stats.gc_ms()
        a = stats.marks()
        t0 = time.perf_counter()
        run_incremental_build(self.spark, scenes_dir, u_pix, u_ledger, cfg)
        b = stats.marks()
        l0 = driver_log.offset()
        write_patch_sink(build_patches(*self.tables(), cfg), u_sink)
        t2 = time.perf_counter()
        c = stats.marks()
        untraced_s = t2 - t0
        plan = stats.between(b, c)
        m["plans.build_pipeline.exchanges"] = plan["exchanges"]
        m["plans.build_pipeline.shuffle_mb"] = plan["shuffle_bytes"] / MB
        m["plans.build_pipeline.spill_mb"] = plan["spill_bytes"] / MB
        m["plans.build_pipeline.codegen_fallbacks"] = driver_log.fallbacks(l0)
        session_counts(m, stats.between(a, c), stats.gc_ms() - g0, untraced_s, self.spark)

        # the traced composition
        pix, ledger, sink = self._dirs("traced")
        scenes, sar_px, ice_px, codes, amsr_px = (persist(d) for d in self.tables())
        tt0 = time.perf_counter()
        with tr.span("plans.incremental.run_incremental_build"):
            with tr.span("sources.ledger.unprocessed"):
                files = persist(list_files(self.spark, scenes_dir))
                todo = persist(unprocessed(files, read_ledger(self.spark, ledger)))
            with tr.span("sources.netcdf.read_scenes"):
                px = persist(read_scenes(self.spark, scenes_dir, cfg.names_sar,
                                         names=todo.select("name")))
            with tr.span("plans.incremental.pixel_sink_write"):
                px.write.mode("append").partitionBy("scene").parquet(pix)
            with tr.span("sources.ledger.commit"):
                commit(todo, ledger)
        with tr.span("plans.build_pipeline.build_patches"):
            w, w2, s2 = cfg.window_sar, cfg.window_amsr2, cfg.stride_amsr2
            with tr.span("operators.filters.healthy_scenes"):
                ok_scenes = persist(healthy_scenes(scenes, w).select("scene"))
            sar = persist(sar_px.join(ok_scenes, "scene", "left_semi"))
            ice = persist(ice_px.join(ok_scenes, "scene", "left_semi"))
            with tr.span("functions.encoding.decode_icechart"):
                decoded = persist(decode_icechart(ice, codes, cfg))
            sar_t = persist(assign_tumbling(sar, w))
            out_t = persist(assign_tumbling(decoded, w))
            with tr.span("operators.patching.clean_patches"):
                sar_keys = persist(clean_patches(sar_t, w, ["sar_primary", "sar_secondary"]))
                out_keys = persist(clean_patches(out_t, w, ["oh0", "oh1", "oh2", "oh3"]))
            dims = sar.groupBy("scene").agg(
                (F.max("line") + 1).alias("height"), (F.max("sample") + 1).alias("width"))
            tgt = persist(target_points(self.spark, dims, cfg.resample_step_amsr2))
            amsr_ok = persist(amsr_px.join(ok_scenes, "scene", "left_semi"))
            r0 = stats.marks()
            with tr.span("operators.regrid.bilinear_regrid"):
                regridded = persist(bilinear_regrid(amsr_ok, tgt))
            r1 = stats.marks()
            amsr_t = assign_tumbling(
                regridded.withColumnRenamed("ti", "line").withColumnRenamed("tj", "sample"), w2)
            amsr_t = persist(amsr_t)
            amsr_pivot = persist(
                amsr_t.groupBy("scene", "i", "j")
                .agg(F.count("value").alias("_n_nonnull"), F.count(F.lit(1)).alias("_n"),
                     F.countDistinct("ch").alias("_nch"))
                .filter((F.col("_n_nonnull") == F.col("_n"))
                        & (F.col("_n") == F.col("_nch") * w2 * w2))
                .select("scene", "i", "j"))
            with tr.span("operators.patching.align_variables"):
                aligned = persist(align_variables(sar_keys, out_keys, amsr_pivot))
            with tr.span("operators.patching.patch_pixels"):
                sar_long = persist(
                    patch_pixels(sar_t, w, ["sar_primary", "sar_secondary"], stride=w,
                                 clean_keys=sar_keys)
                    .join(aligned, ["scene", "i", "j"], "left_semi")
                    .selectExpr("scene", "i", "j", "prow", "pcol",
                                "stack(2, 'nersc_sar_primary', sar_primary, "
                                "'nersc_sar_secondary', sar_secondary) as (var, value)"))
                out_long = persist(
                    patch_pixels(out_t, w, ["oh0", "oh1", "oh2", "oh3"], stride=w,
                                 clean_keys=out_keys)
                    .join(aligned, ["scene", "i", "j"], "left_semi")
                    .selectExpr("scene", "i", "j", "prow", "pcol",
                                "stack(4, 'ice_type_0', oh0, 'ice_type_1', oh1, "
                                "'ice_type_2', oh2, 'ice_type_3', oh3) as (var, value)"))
            amsr_long = amsr_t.join(aligned, ["scene", "i", "j"], "left_semi").select(
                "scene", "i", "j", (F.col("line") - F.col("i") * s2).alias("prow"),
                (F.col("sample") - F.col("j") * s2).alias("pcol"),
                F.regexp_replace("ch", r"\.", "_").alias("var"), F.col("value"))
            cols = ["scene", "i", "j", "var", "prow", "pcol", "value"]
            patch_px = persist(sar_long.select(*cols).unionByName(out_long.select(*cols))
                               .unionByName(amsr_long.select(*cols)))
        with tr.span("plans.build_pipeline.write_patch_sink"):
            write_patch_sink(patch_px, sink)
        m["trace.overhead_s"] = time.perf_counter() - tt0 - untraced_s

        # layer counts, read after the composition so spans hold none of it
        m["sources.ledger.new_file_ratio"] = todo.count() / files.count()
        m["sources.netcdf.mb_in"] = sum(
            os.path.getsize(f"{scenes_dir}/{r['name']}") for r in todo.collect()) / MB
        m["sources.netcdf.rows_out"] = px.count()
        m["plans.incremental.pixel_sink_mb"] = dir_mb(pix)[0]
        m["operators.filters.healthy_scene_ratio"] = ok_scenes.count() / scenes.count()
        m["operators.regrid.shuffle_mb"] = stats.between(r0, r1)["shuffle_bytes"] / MB
        m["operators.regrid.rows_out"] = regridded.count()
        candidates = sar_t.select("scene", "i", "j").distinct().count()
        m["operators.patching.patch_yield"] = aligned.count() / candidates
        m["plans.build_pipeline.sink_rows"] = patch_px.count()
        m["plans.build_pipeline.sink_mb"], m["plans.build_pipeline.sink_files"] = dir_mb(sink)
        self.spark.catalog.clearCache()
        same = (_sorted_frame(read_table(pix)).equals(_sorted_frame(read_table(u_pix)))
                and _sorted_frame(read_table(sink)).equals(_sorted_frame(read_table(u_sink))))
        return m, same


def _sorted_frame(t):
    df = t.to_pandas()
    df["scene"] = df["scene"].astype(str)
    cols = [c for c in df.columns if c != "value"]
    return df.sort_values(cols + ["value"]).reset_index(drop=True)[sorted(df.columns)]


def session_counts(m: dict, counts: dict, gc_ms: float, span_s: float, spark) -> None:
    slots = spark.sparkContext.defaultParallelism
    m["session.jvm_gc_s"] = gc_ms / 1000.0
    m["session.tasks"] = counts["tasks"]
    m["session.failed_tasks"] = counts["failed_tasks"]
    m["session.slot_busy_frac"] = counts["executor_run_ms"] / 1000.0 / (span_s * slots)


# --- train / apply: the patch lake -------------------------------------------


class Train(Workload):
    """Patch lake → train_val_feeds: day-of-year select, exact-count
    split, pivot + applyInPandas batch assembly, both feeds collected."""

    name = "train"

    def setup(self, root: str) -> None:
        self.lake_dir = f"{root}/lake"
        self.lake = write_patch_lake(self.lake_dir, self.seed, self.sz)
        self._expect = None

    def cfg(self):
        from asid_v2_data_pipeline_spark.config import PipelineConfig

        b, e = self.lake.doy_window
        return PipelineConfig(
            window_sar=self.sz.window, stride_sar=self.sz.window,
            window_amsr2=self.sz.window_amsr2, batch_size=self.sz.batch_size,
            percentage=0.8, beginning_day_of_year=b, ending_day_of_year=e,
        )

    def expected(self):
        """{(scene, batch_id): checksum} per feed, from the split order the
        engine documents: keys sorted by xxhash64(scene, i, j, seed), then
        by the key columns; the first floor(n * percentage) are train."""
        if self._expect is None:
            from pyspark.sql import functions as F

            b, e = self.lake.doy_window
            keys = [(s, i, j) for s, ls in self.lake.scenes.items() if b <= doy0(s) <= e
                    for i, j in ls.keys]
            kdf = self.spark.createDataFrame(keys, "scene string, i int, j int")
            h = {(r[0], r[1], r[2]): r[3] for r in kdf.select(
                "scene", "i", "j", F.xxhash64("scene", "i", "j", F.lit(self.seed))).collect()}
            order = sorted(keys, key=lambda k: (h[k], k))
            n_train = int(len(order) * 0.8)
            feeds = []
            for part in (order[:n_train], order[n_train:]):
                by_scene: dict = {}
                for s, i, j in part:
                    by_scene.setdefault(s, []).append((i, j))
                feeds.append(expected_batches(self.lake, by_scene, TRAIN_VARS, self.sz.batch_size))
            self._expect = feeds
        return self._expect

    def first_scan(self) -> None:
        self.spark.read.parquet(self.lake_dir).count()

    def _feeds(self):
        from asid_v2_data_pipeline_spark.plans.train_pipeline import train_val_feeds

        lake = self.spark.read.parquet(self.lake_dir)
        return train_val_feeds(lake, self.cfg(), TRAIN_VARS, seed=self.seed)

    def run(self) -> Pass:
        t0 = time.perf_counter()
        tr_df, va_df = self._feeds()
        rows = (tr_df.collect(), va_df.collect())
        dt = time.perf_counter() - t0
        ok, why = self.check(rows)
        return Pass(dt, sum(r["n"] for feed in rows for r in feed), ok, why)

    def check(self, rows) -> tuple[bool, str]:
        feeds = self.expected()
        bs, w = self.sz.batch_size, self.sz.window
        for got, exp in zip(rows, feeds):
            if any(r["n"] != bs for r in got):
                return False, "a batch is not full"
            if any(list(r[f"{v}_shape"]) != [bs, w, w, 1] for r in got for v in TRAIN_VARS):
                return False, "batch tensor shape"
            cs = {(r["scene"], r["batch_id"]): r["checksum"] for r in got}
            if set(cs) != set(exp):
                return False, f"batch keys: {len(cs)} vs {len(exp)}"
            for k, v in exp.items():
                if not np.isclose(cs[k], v, rtol=1e-9, atol=1e-9):
                    return False, f"checksum {k}: {cs[k]} vs {v}"
        return True, ""

    def traced(self, tr, stats, driver_log) -> tuple[dict, bool]:
        from pyspark.sql import functions as F

        from asid_v2_data_pipeline_spark.operators.batching import assemble_batches, pivot_patches
        from asid_v2_data_pipeline_spark.operators.split import fraction_split
        from asid_v2_data_pipeline_spark.plans.train_pipeline import select_training_patches

        m: dict = {}
        g0 = stats.gc_ms()
        a = stats.marks()
        t0 = time.perf_counter()
        tr_df, va_df = self._feeds()
        untraced = (tr_df.collect(), va_df.collect())
        untraced_s = time.perf_counter() - t0
        session_counts(m, stats.between(a, stats.marks()), stats.gc_ms() - g0, untraced_s,
                       self.spark)

        cfg = self.cfg()
        lake = persist(self.spark.read.parquet(self.lake_dir))
        tt0 = time.perf_counter()
        with tr.span("plans.train_pipeline.train_val_feeds"):
            with tr.span("operators.filters.select_training_patches"):
                selected = persist(select_training_patches(lake, cfg))
            keys = persist(selected.select("scene", "i", "j").distinct())
            s0 = stats.marks()
            with tr.span("operators.split.fraction_split"):
                train_keys, val_keys = fraction_split(keys, cfg.percentage, self.seed)
                train_keys, val_keys = persist(train_keys), persist(val_keys)
            s1 = stats.marks()
            out, pivots, pivot_marks = [], [], []
            for kdf in (train_keys, val_keys):
                px = persist(selected.join(kdf, ["scene", "i", "j"], "left_semi"))
                p0 = stats.marks()
                with tr.span("operators.batching.pivot_patches"):
                    piv = persist(pivot_patches(px, TRAIN_VARS, cfg.window_sar))
                pivot_marks.append((p0, stats.marks()))
                pivots.append(piv)
                with tr.span("operators.batching.assemble_batches"):
                    out.append(assemble_batches(piv, TRAIN_VARS, cfg.window_sar,
                                                cfg.batch_size).collect())
        m["trace.overhead_s"] = time.perf_counter() - tt0 - untraced_s

        n_all = lake.select("scene", "i", "j").distinct().count()
        m["operators.filters.doy_selected_ratio"] = keys.count() / n_all
        m["operators.split.exchanges"] = stats.between(s0, s1)["exchanges"]
        pivoted = sum(p.count() for p in pivots)  # rows the Arrow batches carry
        m["operators.batching.arrow_rows"] = pivoted
        m["operators.batching.pivot_shuffle_mb"] = sum(
            stats.between(*mk)["shuffle_bytes"] for mk in pivot_marks) / MB
        m["operators.batching.batch_fill_ratio"] = sum(
            r["n"] for rows in out for r in rows) / pivoted
        self.spark.catalog.clearCache()
        same = all(_rowset(x) == _rowset(y) for x, y in zip(out, untraced))
        same = same and self.check(out)[0]
        return m, same


def _rowset(rows) -> list:
    return sorted(tuple(str(v) for v in r) for r in rows)


class Apply(Workload):
    """Scenes of the patch lake applied one at a time in seeded order: a
    pruned read on ``scene``, then apply_and_write (channel-mean model)
    into a fresh directory."""

    name = "apply"
    batch = False

    def setup(self, root: str) -> None:
        self.lake_dir = f"{root}/lake"
        self.lake = write_patch_lake(self.lake_dir, self.seed, self.sz)
        names = sorted(self.lake.scenes)
        self.order = [names[k] for k in np.random.default_rng([self.seed, 4]).permutation(len(names))]

    def cfg(self):
        from asid_v2_data_pipeline_spark.config import PipelineConfig

        w = self.sz.window
        return PipelineConfig(window_sar=w, stride_sar=w, window_amsr2=self.sz.window_amsr2)

    def first_scan(self) -> None:
        self.spark.read.parquet(self.lake_dir).count()

    def next_scene(self) -> str:
        scene = self.order[self.k % len(self.order)]
        self.k += 1
        return scene

    def _apply(self, scene: str, out: str) -> None:
        from pyspark.sql import functions as F

        from asid_v2_data_pipeline_spark.plans.apply_pipeline import apply_and_write

        px = self.spark.read.parquet(self.lake_dir).filter(F.col("scene") == scene)
        apply_and_write(px, self.cfg(), list(SAR_VARS), out)

    def run(self) -> Pass:
        scene = self.next_scene()
        out = fresh(f"{self.work}/apply-run")
        t0 = time.perf_counter()
        self._apply(scene, out)
        dt = time.perf_counter() - t0
        ok, why = self.check(scene, out)
        return Pass(dt, 1, ok, why)

    def check(self, scene: str, out: str) -> tuple[bool, str]:
        exp = expected_reconstruction(self.lake.scenes[scene], self.sz.window)
        t = read_table(out).to_pandas()
        if set(t["scene"].astype(str)) != {scene}:
            return False, "scene partition"
        if len(t) != exp.size:
            return False, f"canvas {len(t)} px vs {exp.size}"
        t = t.sort_values(["line", "sample"])
        got = t["value"].to_numpy(np.float32).reshape(exp.shape)
        if not (t["line"].to_numpy().reshape(exp.shape) == np.arange(exp.shape[0])[:, None]).all():
            return False, "canvas lines"
        if not np.allclose(got, exp, rtol=1e-6, atol=1e-7):
            return False, "stitched values"
        return True, ""

    def traced(self, tr, stats, driver_log) -> tuple[dict, bool]:
        from pyspark.sql import functions as F

        from asid_v2_data_pipeline_spark.operators.batching import pivot_patches, predict_batches
        from asid_v2_data_pipeline_spark.operators.stitch import stitch_full_image
        from asid_v2_data_pipeline_spark.sources.ledger import write_reconstruction

        m: dict = {}
        scene = self.next_scene()
        cfg = self.cfg()
        u_out = fresh(f"{self.work}/apply-untraced")
        g0 = stats.gc_ms()
        a = stats.marks()
        t0 = time.perf_counter()
        self._apply(scene, u_out)
        untraced_s = time.perf_counter() - t0
        counts = stats.between(a, stats.marks(), sql_metrics=("number of files read",))
        session_counts(m, counts, stats.gc_ms() - g0, untraced_s, self.spark)
        m["plans.apply_pipeline.files_scanned_per_scene"] = counts["sql"]["number of files read"]

        out = fresh(f"{self.work}/apply-traced")
        px = persist(self.spark.read.parquet(self.lake_dir).filter(F.col("scene") == scene))
        tt0 = time.perf_counter()
        with tr.span("plans.apply_pipeline.apply_and_write"):
            p0 = stats.marks()
            with tr.span("operators.batching.pivot_patches"):
                piv = persist(pivot_patches(px, list(SAR_VARS), cfg.window_sar))
            p1 = stats.marks()
            with tr.span("operators.batching.predict_batches"):
                pred = persist(predict_batches(piv, list(SAR_VARS), cfg.window_sar, None))
            with tr.span("operators.stitch.stitch_full_image"):
                img = persist(stitch_full_image(
                    pred, cfg.window_sar, fill=0.0,
                    bug_compatible_size=cfg.strict_reference_semantics))
            with tr.span("sources.ledger.write_reconstruction"):
                write_reconstruction(img, out)
        m["trace.overhead_s"] = time.perf_counter() - tt0 - untraced_s
        m["operators.batching.arrow_rows"] = piv.count()
        m["operators.batching.pivot_shuffle_mb"] = stats.between(p0, p1)["shuffle_bytes"] / MB
        canvas = img.count()
        m["operators.stitch.canvas_rows"] = canvas
        dims = img.agg(F.max("line"), F.max("sample")).first()
        w = cfg.window_sar
        covered = pred.filter((F.col("i") * w + F.col("prow") <= dims[0])
                              & (F.col("j") * w + F.col("pcol") <= dims[1])).count()
        m["operators.stitch.covered_ratio"] = covered / canvas
        m["sources.ledger.reconstruction_mb"] = dir_mb(out)[0]
        self.spark.catalog.clearCache()
        same = (_sorted_frame(read_table(out)).equals(_sorted_frame(read_table(u_out)))
                and self.check(scene, out)[0])
        return m, same


# --- curate ------------------------------------------------------------------


class Curate(Workload):
    """documents.parquet → cur_pipeline_v2, checked against the DuckDB
    oracle ``_cur_v2_sql()`` on the same file."""

    name = "curate"

    def setup(self, root: str) -> None:
        self.dir = root
        os.makedirs(root, exist_ok=True)
        write_documents(f"{root}/documents.parquet", self.seed, self.sz)
        self._oracle = None

    def first_scan(self) -> None:
        from asid_v2_data_pipeline_spark.schemas import load_table

        load_table(self.spark, self.dir, "documents").count()

    def oracle(self) -> list:
        """The DuckDB oracle's rows, computed once, outside any timed pass."""
        if self._oracle is None:
            import duckdb

            from asid_v2_data_pipeline_spark.queries.curation import _cur_v2_sql

            con = duckdb.connect()
            try:
                con.execute("SET enable_progress_bar = false")
                con.execute(f"CREATE VIEW documents AS SELECT * FROM '{self.dir}/documents.parquet'")
                self._oracle = sorted(tuple(r) for r in con.execute(_cur_v2_sql()).fetchall())
            finally:
                con.close()
        return self._oracle

    def run(self) -> Pass:
        from asid_v2_data_pipeline_spark.queries.curation import cur_pipeline_v2

        t0 = time.perf_counter()
        rows = cur_pipeline_v2(self.spark, self.dir).collect()
        dt = time.perf_counter() - t0
        ok = sorted(tuple(r) for r in rows) == self.oracle() and len(rows) > 0
        return Pass(dt, self.sz.docs, ok, "" if ok else "rows differ from the DuckDB oracle")

    def traced(self, tr, stats, driver_log) -> tuple[dict, bool]:
        from pyspark.sql import functions as F

        from asid_v2_data_pipeline_spark.functions import text as tx
        from asid_v2_data_pipeline_spark.functions.arrowhash import hash_block
        from asid_v2_data_pipeline_spark.functions.classifier import lcg_weights, score_documents
        from asid_v2_data_pipeline_spark.operators.decontam import (
            contamination, fuzzy_contamination,
        )
        from asid_v2_data_pipeline_spark.operators.dedup import (
            exact_dedup, minhash_lsh_pairs_from_hashes, remove_duplicate_spans,
        )
        from asid_v2_data_pipeline_spark.operators.sampling import quota_per_group, weighted_repeat
        from asid_v2_data_pipeline_spark.queries import curation as q
        from asid_v2_data_pipeline_spark.queries._shared import _parallel
        from asid_v2_data_pipeline_spark.schemas import load_table
        from asid_v2_data_pipeline_spark.session import release_checkpoint

        m: dict = {}
        g0 = stats.gc_ms()
        a = stats.marks()
        t0 = time.perf_counter()
        untraced = q.cur_pipeline_v2(self.spark, self.dir).collect()
        untraced_s = time.perf_counter() - t0
        counts = stats.between(a, stats.marks())
        session_counts(m, counts, stats.gc_ms() - g0, untraced_s, self.spark)
        m["plans.curation.exchanges"] = counts["exchanges"]
        m["plans.curation.shuffle_mb"] = counts["shuffle_bytes"] / MB
        m["plans.curation.checkpoints"] = counts["checkpoints"]

        # cur_pipeline_v2's arguments, then curate_v2's layer calls in order
        d = load_table(self.spark, self.dir, "documents")
        benchmark = persist(d.filter(F.col("doc_id") % 5 == 0))
        docs = persist(_parallel(d.filter(F.col("doc_id") % 5 != 0),
                                 cols=("doc_id", "lang", "source", "text")))
        id_col, text_col, n8 = "doc_id", "text", 8
        tt0 = time.perf_counter()
        with tr.span("plans.curation.curate_v2"):
            with tr.span("functions.arrowhash.hash_block"):
                bench_hs = (
                    benchmark.select(F.col(id_col).alias("_id"),
                                     hash_block(F.col(text_col), 3, n8).alias("_hb"))
                    .select("_id", F.col("_hb.hs1").alias("_hs3"), F.col("_hb.hs2").alias("_hs8"))
                    .localCheckpoint())
            with tr.span("functions.classifier.score_documents"):
                scored = persist(score_documents(docs, text_col, lcg_weights(q._CLF_DIM, seed=17), 0.1))
            gated = persist(scored.filter(F.col("clf_score") >= q._CLF_GATE).drop("clf_score"))
            with tr.span("trace.counts"):  # a child span, so no layer's self time
                n_docs, n_gated = docs.count(), gated.count()
            passthrough = tuple(c for c in gated.columns if c not in (id_col, text_col))
            spent: list = []
            with tr.span("operators.dedup.remove_duplicate_spans"):
                cleaned = remove_duplicate_spans(gated, id_col, text_col, k=5,
                                                 keep_cols=passthrough, spent=spent)
                rewritten = cleaned.select(id_col, *passthrough,
                                           F.col("clean_text").alias(text_col)).localCheckpoint()
            for s in spent:
                release_checkpoint(s)
            with tr.span("functions.text.quality_score"):
                good = persist(rewritten.filter(tx.quality_score(F.col(text_col)) >= 0.5))
            with tr.span("trace.counts"):
                n_good = good.count()
            with tr.span("functions.arrowhash.hash_block"):
                gth = persist(good.select("*", hash_block(F.col(text_col), 3, n8).alias("_hb")))
            keyed = gth.withColumn("_fp", F.col("_hb.fp"))
            with tr.span("operators.dedup.exact_dedup"):
                uniq = (exact_dedup(keyed, ["_fp"], id_col)
                        .select("*", F.col("_hb.hs1").alias("_hs3"), F.col("_hb.hs2").alias("_hs8"))
                        .drop("_fp", "_hb", text_col).localCheckpoint())
            release_checkpoint(rewritten)
            with tr.span("trace.counts"):
                n_uniq = uniq.count()
            hashed3 = uniq.select(F.col(id_col).alias("_id"), F.col("_hs3").alias("_hs"))
            with tr.span("operators.dedup.minhash_lsh_pairs"):
                pairs = persist(minhash_lsh_pairs_from_hashes(hashed3, num_perm=16, bands=4))
                losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
                neat = uniq.join(F.broadcast(losers), id_col, "left_anti").localCheckpoint()
            release_checkpoint(uniq)
            with tr.span("trace.counts"):
                n_pairs, n_neat = pairs.count(), neat.count()
            with tr.span("operators.decontam.contamination"):
                exact_ids = persist(contamination(
                    neat, benchmark, id_col, text_col, n=n8,
                    docs_hashed=neat.select(F.col(id_col).alias("_id"), F.col("_hs8").alias("_hs")),
                    bench_hashed=bench_hs.select("_id", F.col("_hs8").alias("_hs")),
                ).select(id_col))
            with tr.span("operators.decontam.fuzzy_contamination"):
                fuzzy_ids = persist(fuzzy_contamination(
                    neat, benchmark, id_col, text_col, min_jaccard=q._DC_FUZZY_T,
                    docs_hashed=neat.select(F.col(id_col).alias("_id"), F.col("_hs3").alias("_hs")),
                    bench_hashed=bench_hs.select("_id", F.col("_hs3").alias("_hs")),
                ).select(id_col))
            clean = persist(neat.select(id_col, "source", "lang")
                            .join(F.broadcast(exact_ids), id_col, "left_anti")
                            .join(F.broadcast(fuzzy_ids), id_col, "left_anti"))
            with tr.span("operators.sampling.quota_per_group"):
                capped = persist(quota_per_group(clean, ["source"], 30, id_col, seed=17))
            with tr.span("operators.sampling.weighted_repeat"):
                mixed = persist(weighted_repeat(capped, "lang", q._MIX_WEIGHTS, id_col, seed=29))
        rows = mixed.select("doc_id", "lang", "source",
                            F.col("epoch").cast("long").alias("epoch")).collect()
        m["trace.overhead_s"] = time.perf_counter() - tt0 - untraced_s
        m["functions.classifier.gate_pass_ratio"] = n_gated / n_docs
        m["functions.text.quality_pass_ratio"] = n_good / n_gated
        m["operators.dedup.exact_dup_ratio"] = 1 - n_uniq / n_good
        m["operators.dedup.candidate_pairs"] = n_pairs
        m["operators.dedup.near_dup_ratio"] = 1 - n_neat / n_uniq
        m["operators.decontam.hit_ratio"] = 1 - clean.count() / n_neat
        release_checkpoint(neat)
        release_checkpoint(bench_hs)
        self.spark.catalog.clearCache()
        same = _rowset(rows) == _rowset(untraced) and sorted(tuple(r) for r in rows) == self.oracle()
        return m, same


WORKLOADS = {w.name: w for w in (Build, Train, Apply, Curate)}
