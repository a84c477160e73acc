"""Seeded inputs for the end-to-end benchmark and the NumPy expectations
their outputs are checked against.

Everything here is plain NumPy / pyarrow (plus the engine's own classic
NetCDF writer for the scene files): the engine only ever receives the
files these functions write.  The same ``seed`` always gives the same
bytes, and the amount of work per seed is fixed (exact counts of dirty
patches, lake patches, duplicates), so throughput does not drift with
the seed.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SAR_VARS = ("nersc_sar_primary", "nersc_sar_secondary")
ICE_VARS = ("ice_type_0", "ice_type_1", "ice_type_2", "ice_type_3")
FREQS = ("6.9", "7.3", "10.7", "18.7", "23.8", "36.5", "89.0")
AMSR2_CHANNELS = tuple(f"btemp_{f}{p}" for f in FREQS for p in ("h", "v"))
LANGS = ("en", "de", "es", "fr", "zh")

# polygon-code rows (id, ct, ca, sa, fa, cb, sb, fb, cc, sc, fc) covering
# every encoder branch: open water, young, first-year, multi-year, ties,
# unmapped stage, the ice-free wrap
CODE_POOL = (
    (92, -9, 91, 8, -9, -9, -9, -9, -9, -9),
    (5, -9, -9, -9, -9, -9, -9, -9, -9, -9),
    (80, 80, 83, 2, -9, -9, -9, -9, -9, -9),
    (90, 50, 96, 3, 40, 87, 2, -9, -9, -9),
    (60, 40, 87, 1, 40, 96, 2, -9, -9, -9),
    (70, -9, 94, 1, -9, -9, -9, -9, -9, -9),
    (85, 30, 0, 1, -9, -9, -9, -9, -9, -9),
    (95, 60, 95, 2, 35, 91, 1, -9, -9, -9),
)
CODE_COLS = ("ct", "ca", "sa", "fa", "cb", "sb", "fb", "cc", "sc", "fc")


@dataclass(frozen=True)
class Sizes:
    """Input sizes.  ``full`` is what the benchmark measures; ``tiny`` is
    the smoke test's."""

    scenes: int  # build: scene files (one of them unhealthy)
    side: int  # build: SAR grid side, pixels
    window: int  # SAR patch window (tumbling)
    window_amsr2: int  # AMSR2 patch window on the regridded grid
    lake_scenes: int  # train/apply: scenes in the patch lake
    lake_grid: int  # train/apply: candidate patch grid side per scene
    lake_patches: int  # train/apply: clean patches per scene
    batch_size: int  # train: batch size (drop-last)
    docs: int  # curate: documents


FULL = Sizes(
    scenes=3, side=512, window=64, window_amsr2=4,
    lake_scenes=8, lake_grid=8, lake_patches=16, batch_size=4, docs=1000,
)
TINY = Sizes(
    scenes=3, side=64, window=16, window_amsr2=2,
    lake_scenes=4, lake_grid=4, lake_patches=10, batch_size=4, docs=300,
)


def _scene_names(rng: np.random.Generator, n: int, halves: bool) -> list[str]:
    """Distinct scene ids ``YYYYMMDDTHHMMSS`` spread over 2018.  With
    ``halves`` exactly half fall in day-of-year 0..181 (0-based) and half
    in 183..364, so a first-half window keeps exactly half."""
    if halves:
        lo = rng.choice(np.arange(0, 182), n // 2, replace=False)
        hi = rng.choice(np.arange(183, 365), n - n // 2, replace=False)
        doys = np.concatenate([lo, hi])
    else:
        doys = rng.choice(np.arange(0, 365), n, replace=False)
    base = dt.datetime(2018, 1, 1)
    out = []
    for d in doys:
        t = base + dt.timedelta(days=int(d), seconds=int(rng.integers(0, 86400)))
        out.append(t.strftime("%Y%m%dT%H%M%S"))
    return out


def doy0(scene: str) -> int:
    """0-based day of year of a scene id."""
    return dt.datetime.strptime(scene, "%Y%m%dT%H%M%S").timetuple().tm_yday - 1


# --- build workload: NetCDF scenes + the tables build_patches takes ----------


@dataclass
class BuildExpect:
    files: list[str]
    clean_keys: set  # {(scene, i, j)}
    var_rows: dict  # var -> expected row count in the patch sink
    sar_sums: dict  # SAR var -> sum of its values over clean patches
    pixel_rows: int  # rows the incremental build writes to its pixel sink


def write_build_inputs(root: str, seed: int, sz: Sizes) -> BuildExpect:
    """Scene files under ``root/scenes`` and the five build_patches tables
    under ``root/tables``, from the same arrays."""
    from asid_v2_data_pipeline_spark.sources.netcdf_classic import write_classic

    rng = np.random.default_rng([seed, 1])
    s, w, w2 = sz.side, sz.window, sz.window_amsr2
    step = w // w2  # AMSR2 regrid step on the SAR grid
    cell = 2 * step  # native AMSR2 cell size on the SAR grid
    na = s // cell
    g = s // w
    names = _scene_names(rng, sz.scenes, halves=False)
    unhealthy = names[0]
    os.makedirs(f"{root}/scenes", exist_ok=True)
    tables: dict[str, list[pa.Table]] = {
        k: [] for k in ("scenes", "sar_pixels", "icechart_pixels", "polygon_codes", "amsr2_pixels")
    }
    clean_keys: set = set()
    sar_sums = {v: 0.0 for v in SAR_VARS}
    files = []
    line_idx = np.repeat(np.arange(s, dtype=np.int32), s)
    sample_idx = np.tile(np.arange(s, dtype=np.int32), s)
    for scene in names:
        sar = [
            rng.gamma(2.0, 0.05, (s, s)).astype(np.float32),
            rng.gamma(2.0, 0.03, (s, s)).astype(np.float32),
        ]
        dist = rng.uniform(0.0, 50.0, (s, s)).astype(np.float32)
        ids = rng.integers(1, len(CODE_POOL) + 1, (s // 16, s // 16)).astype(np.int32)
        poly = np.kron(ids, np.ones((16, 16), dtype=np.int32))
        # exactly a quarter of the candidate patches carry one masked pixel:
        # SAR primary, SAR secondary or an ice-chart hole
        dirty = rng.choice(g * g, (g * g) // 4, replace=False)
        for k, p in enumerate(dirty):
            pi, pj = divmod(int(p), g)
            y = pi * w + int(rng.integers(0, w))
            x = pj * w + int(rng.integers(0, w))
            kind = k % 3
            if kind < 2:
                sar[kind][y, x] = np.nan
            else:
                poly[y, x] = -1
        lc = cell / 2 + cell * np.arange(na)
        btemp = {
            ch: (
                150.0 + 5.0 * c + 0.3 * lc[:, None] + 0.2 * lc[None, :]
                + rng.normal(0.0, 1.0, (na, na))
            ).astype(np.float32)
            for c, ch in enumerate(AMSR2_CHANNELS)
        }
        variables = {
            "nersc_sar_primary": (("line", "sample"), sar[0], {}),
            "nersc_sar_secondary": (("line", "sample"), sar[1], {}),
            "distance_map": (("line", "sample"), dist, {}),
            "polygon_icechart": (("line", "sample"), poly, {"_FillValue": np.int32(-1)}),
        }
        for ch, a in btemp.items():
            variables[ch] = (("aline", "asample"), a, {})
        fname = f"{scene}_S1B_AMSR2_Icechart.nc"
        payload = write_classic(
            {"line": s, "sample": s, "aline": na, "asample": na}, variables, version=2
        )
        with open(f"{root}/scenes/{fname}", "wb") as f:
            f.write(payload)
        files.append(fname)

        ok = scene != unhealthy
        ts = dt.datetime.strptime(scene, "%Y%m%dT%H%M%S").replace(tzinfo=dt.timezone.utc)
        tables["scenes"].append(pa.table({
            "scene": [scene], "path": [fname],
            "ts": pa.array([ts], pa.timestamp("us", tz="UTC")),
            "aoi_ul_sample": pa.array([0], pa.int32()),
            "aoi_lr_sample": pa.array([s], pa.int32()),
            "aoi_ul_line": pa.array([0], pa.int32()),
            "aoi_lr_line": pa.array([s], pa.int32()),
            "rm_swath": pa.array([0], pa.int32()),
            "has_icechart": [ok], "has_amsr2": [True],
        }))
        sc = pa.array([scene] * (s * s))
        tables["sar_pixels"].append(pa.table({
            "scene": sc, "line": line_idx, "sample": sample_idx,
            "sar_primary": pa.array(sar[0].ravel(), mask=np.isnan(sar[0].ravel())),
            "sar_secondary": pa.array(sar[1].ravel(), mask=np.isnan(sar[1].ravel())),
            "distance_map": dist.ravel(),
        }))
        tables["icechart_pixels"].append(pa.table({
            "scene": sc, "line": line_idx, "sample": sample_idx,
            "polygon_id": pa.array(poly.ravel(), mask=poly.ravel() < 0),
        }))
        codes = {"scene": [scene] * len(CODE_POOL),
                 "id": pa.array(np.arange(1, len(CODE_POOL) + 1), pa.int32())}
        for c, col in enumerate(CODE_COLS):
            codes[col] = pa.array([r[c] for r in CODE_POOL], pa.int32())
        codes["poly_type"] = ["I"] * len(CODE_POOL)
        tables["polygon_codes"].append(pa.table(codes))
        al = np.repeat(np.arange(na, dtype=np.int32), na)
        asm = np.tile(np.arange(na, dtype=np.int32), na)
        tables["amsr2_pixels"].append(pa.table({
            "scene": [scene] * (na * na * len(AMSR2_CHANNELS)),
            "ch": np.repeat(np.array(AMSR2_CHANNELS), na * na),
            "aline": np.tile(al, len(AMSR2_CHANNELS)),
            "asample": np.tile(asm, len(AMSR2_CHANNELS)),
            "line": np.tile(lc[al], len(AMSR2_CHANNELS)),
            "sample": np.tile(lc[asm], len(AMSR2_CHANNELS)),
            "btemp": np.concatenate([btemp[ch].ravel() for ch in AMSR2_CHANNELS]),
        }))
        if not ok:
            continue
        dirty_set = {divmod(int(p), g) for p in dirty}
        for pi in range(g):
            for pj in range(g):
                if (pi, pj) in dirty_set:
                    continue
                clean_keys.add((scene, pi, pj))
                for v, a in zip(SAR_VARS, sar):
                    sar_sums[v] += float(a[pi * w:(pi + 1) * w, pj * w:(pj + 1) * w].sum(dtype=np.float64))
    for name, parts in tables.items():
        os.makedirs(f"{root}/tables/{name}", exist_ok=True)
        for k, t in enumerate(parts):
            pq.write_table(t, f"{root}/tables/{name}/part-{k:05d}.parquet")
    n_clean = len(clean_keys)
    var_rows = {v: n_clean * w * w for v in SAR_VARS + ICE_VARS}
    var_rows.update({ch.replace(".", "_"): n_clean * w2 * w2 for ch in AMSR2_CHANNELS})
    return BuildExpect(
        files=files, clean_keys=clean_keys, var_rows=var_rows, sar_sums=sar_sums,
        pixel_rows=len(names) * s * s * len(SAR_VARS),
    )


# --- train / apply workloads: a patch lake written directly ------------------


@dataclass
class LakeScene:
    keys: list  # [(i, j)] clean patches, sorted
    arrays: dict  # var -> (n_patches, w, w) float32, in ``keys`` order


@dataclass
class Lake:
    scenes: dict  # scene -> LakeScene
    doy_window: tuple  # (begin, end) keeping exactly half the scenes


def write_patch_lake(root: str, seed: int, sz: Sizes) -> Lake:
    """A patch lake in the ``PATCH_PIXELS`` schema, hive-partitioned by
    scene — the layout ``write_patch_sink`` produces — holding the SAR and
    ice-type variables of ``lake_patches`` clean patches per scene."""
    rng = np.random.default_rng([seed, 2])
    w, g = sz.window, sz.lake_grid
    names = _scene_names(rng, sz.lake_scenes, halves=True)
    prow = np.repeat(np.arange(w, dtype=np.int32), w)
    pcol = np.tile(np.arange(w, dtype=np.int32), w)
    scenes = {}
    for scene in names:
        # the bottom-right patch is always present, so every scene's
        # stitched canvas (cropped at the lexicographic-max patch) is the
        # full g*w square and the work per scene does not vary with the seed
        picks = np.append(np.sort(rng.choice(g * g - 1, sz.lake_patches - 1, replace=False)),
                          g * g - 1)
        keys = [divmod(int(p), g) for p in picks]
        n = len(keys)
        arrays = {
            SAR_VARS[0]: rng.gamma(2.0, 0.05, (n, w, w)).astype(np.float32),
            SAR_VARS[1]: rng.gamma(2.0, 0.03, (n, w, w)).astype(np.float32),
        }
        cls = np.kron(rng.integers(0, 4, (n, w // 8, w // 8)), np.ones((1, 8, 8), dtype=np.int64))
        for k, v in enumerate(ICE_VARS):
            arrays[v] = (cls == k).astype(np.float32)
        scenes[scene] = LakeScene(keys=keys, arrays=arrays)
        cols = {"i": [], "j": [], "var": [], "prow": [], "pcol": [], "value": []}
        for v, a in arrays.items():
            for p, (pi, pj) in enumerate(keys):
                cols["i"].append(np.full(w * w, pi, np.int32))
                cols["j"].append(np.full(w * w, pj, np.int32))
                cols["var"].append(np.full(w * w, v, dtype=object))
                cols["prow"].append(prow)
                cols["pcol"].append(pcol)
                cols["value"].append(a[p].ravel())
        t = pa.table({k: np.concatenate(c) for k, c in cols.items()})
        t = t.cast(pa.schema([
            ("i", pa.int32()), ("j", pa.int32()), ("var", pa.string()),
            ("prow", pa.int32()), ("pcol", pa.int32()), ("value", pa.float32()),
        ]))
        os.makedirs(f"{root}/scene={scene}", exist_ok=True)
        pq.write_table(t, f"{root}/scene={scene}/part-00000.parquet")
    return Lake(scenes=scenes, doy_window=(0, 181))


def expected_reconstruction(ls: LakeScene, w: int) -> np.ndarray:
    """The stitched scene: channel mean on clean patches, fill 0 elsewhere,
    cropped to the reference's lexicographic-max-patch canvas size."""
    imax, jmax = max(ls.keys)
    full = np.zeros(((imax + 1) * w, (max(j for _, j in ls.keys) + 1) * w), np.float32)
    x = np.stack([ls.arrays[v] for v in SAR_VARS], axis=-1).mean(axis=-1)
    for p, (pi, pj) in enumerate(ls.keys):
        full[pi * w:(pi + 1) * w, pj * w:(pj + 1) * w] = x[p]
    return full[:, : (jmax + 1) * w]


def expected_batches(lake: Lake, keys_by_scene: dict, variables, bs: int) -> dict:
    """{(scene, batch_id): checksum} for full batches over the given patch
    keys — per-scene numbering in (i, j) order, drop-last."""
    out = {}
    for scene, keys in keys_by_scene.items():
        ls = lake.scenes[scene]
        pos = {k: p for p, k in enumerate(ls.keys)}
        ordered = sorted(keys)
        for b in range(len(ordered) // bs):
            chunk = ordered[b * bs:(b + 1) * bs]
            total = 0.0
            for v in variables:
                stack = np.stack([ls.arrays[v][pos[k]] for k in chunk])[..., np.newaxis]
                total += float(np.nansum(stack, dtype=np.float64))
            out[(scene, b)] = total
    return out


# --- curate workload: a documents table -------------------------------------

_SYLL = ("ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "pe", "su", "da", "fo")


def _vocab() -> list[str]:
    words = [a + b for a in _SYLL for b in _SYLL]
    words += [a + b + c for a in _SYLL[:6] for b in _SYLL[6:] for c in _SYLL[:4]]
    return words


def write_documents(path: str, seed: int, sz: Sizes) -> None:
    """``documents.parquet`` with the testdata schema
    (doc_id, text, lang, source, n_chars): 10 % exact duplicates, 10 %
    near-duplicates, 5 % benchmark overlap (benchmark = doc_id % 5 == 0,
    the split ``cur_pipeline_v2`` uses)."""
    rng = np.random.default_rng([seed, 3])
    vocab = np.array(_vocab())
    n = sz.docs
    lens = rng.integers(20, 90, n)
    toks = [list(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    corpus = [d for d in range(n) if d % 5]
    bench = [d for d in range(n) if d % 5 == 0]
    order = rng.permutation(corpus)
    n_exact, n_near, n_over = n // 10, n // 10, n // 20
    exact, near, over = (
        order[:n_exact], order[n_exact:n_exact + n_near],
        order[n_exact + n_near:n_exact + n_near + n_over],
    )
    # copies come from documents that are never rewritten, so the shares hold
    pool = order[n_exact + n_near + n_over:]
    for d in exact:
        toks[d] = list(toks[int(rng.choice(pool))])
    for d in near:
        t = list(toks[int(rng.choice(pool))])
        for p in rng.choice(len(t), max(1, len(t) // 10), replace=False):
            t[p] = vocab[int(rng.integers(0, len(vocab)))]
        toks[d] = t
    for d in over:
        b = toks[int(rng.choice(bench))]
        start = int(rng.integers(0, len(b) - 12))
        at = int(rng.integers(0, len(toks[d])))
        toks[d] = toks[d][:at] + b[start:start + 12] + toks[d][at:]
    texts = [" ".join(t) for t in toks]
    langs = np.array(LANGS)[rng.choice(len(LANGS), n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{d % 20}" for d in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), path)
