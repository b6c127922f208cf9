"""The benchmark workloads.

Each workload builds its seeded inputs in ``setup``, runs one job through
``gridfia_spark``'s public functions in ``job``, reduces the job's output to
a comparable form in ``reduce`` and compares it with an oracle in ``check``.
``layers`` gives the workload's own per-layer numbers in a traced run, from
isolation jobs and single-process replays of the pure kernels.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from gridfia_spark import codecs, geom, grid
from gridfia_spark.constants import N_SPECIES, PIX, X0, Y0
from gridfia_spark.datagen import tiles as tgen
from gridfia_spark.functions import kernels
from gridfia_spark.localdf import local_df
from gridfia_spark.operators import broadcast_join, decode, metrics, spatial_join
from gridfia_spark.operators.knn import knn_join
from gridfia_spark.sources import zarrstore

from . import inputs, oracle

SPEC = inputs.TILE_SPEC
JOIN_RES = grid.res_for_size(SPEC.tile_w * PIX * 2)  # the flagship's rule
KNN_K = 5
KNN_SAMPLE = 300  # brute-force-checked kNN queries per seed
REPLAY_TILES = 256  # tile rows in the decode replay sample
REPLAY_PAIRS = 64  # boundary pairs in the PIP replay sample
REPLAY_CUBES = 16  # tile cubes in the metric-kernel replay sample
CUBE_METRICS = [
    metrics.MetricSpec("richness", "species_richness", {}, "long"),
    metrics.MetricSpec("shannon", "shannon_diversity", {}, "double"),
    metrics.MetricSpec("simpson", "simpson_diversity", {}, "double"),
    metrics.MetricSpec("dominant", "dominant_species", {}, "long"),
]


def tile_table(spark, work_dir: str) -> str:
    """Path of the benchmark's tile table, generated once per checkout
    through the engine's own generator. It does not depend on the seed."""
    path = os.path.join(work_dir, f"tiles_{SPEC.tiles_x}x{SPEC.tiles_y}_{SPEC.tile_w}.parquet")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        tgen.generate_tiles(spark, SPEC).write.mode("overwrite").parquet(path)
    return path


def _timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return time.perf_counter() - t0, out


def tr_seconds(tr, name: str) -> float:
    return next((s.seconds for s in tr.spans if s.name == name), 0.0)


class Workload:
    name = ""
    size_unit = ""

    def __init__(self, spark, seed: int, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir

    def size(self) -> float:
        """Throughput numerator: Mpx of the tile table, or points."""
        return SPEC.n_images * SPEC.tile_w * SPEC.tile_h / 1e6

    def prepare(self) -> None:
        """Untimed housekeeping before each job."""

    def setup(self) -> None:
        raise NotImplementedError

    def job(self, tr):
        raise NotImplementedError

    def reduce(self, out):
        return out

    def expected(self):
        raise NotImplementedError

    def check(self, got, exp) -> list[str]:
        raise NotImplementedError

    def layers(self, tr, out) -> dict:
        return {}

    # shared by the raster workloads
    def _load_tiles(self) -> None:
        self.tiles = self.spark.read.parquet(tile_table(self.spark, self.work_dir))
        self.meta = decode.with_tile_meta(self.tiles)
        self.n_tiles = self.tiles.count()

    def _cached(self, name: str, sql: str, compute):
        """A seed-independent oracle value, computed once per checkout and
        kept in the work directory, keyed by the SQL that defines it."""
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        path = os.path.join(self.work_dir, f"{name}_{key}.npy")
        if os.path.exists(path):
            return np.load(path)
        value = np.asarray(compute())
        np.save(path, value)
        return value

    def _raster(self) -> np.ndarray:
        return self._cached("raster", oracle.raster_sql(SPEC), lambda: oracle.pixel_raster(SPEC))

    def _tile_sample(self) -> list:
        if not hasattr(self, "_sample"):
            self._sample = (
                self.meta.select("image_id", "bytes", "w", "h", "fmt", "s", "tx", "ty")
                .orderBy("image_id").limit(REPLAY_TILES).collect()
            )
        return self._sample

    def _scan_and_decode(self, tr) -> dict:
        """Isolation jobs: the tile-table scan alone, then scan + decode."""
        with tr.span("iso.scan") as scan:
            self.tiles.agg(F.sum(F.length("bytes"))).first()
        with tr.span("iso.decode") as dec:
            decode.decode_stats(self.tiles).agg(F.sum("npx")).first()
        sample = self._tile_sample()
        t, _ = _timed(lambda: [codecs.decode(r.bytes, r.w, r.h, r.fmt) for r in sample])
        return {"sources.scan_s": scan.seconds, "decode.s": dec.seconds,
                "_decode_per_tile_s": t / len(sample)}


# ------------------------------------------------------------------ zonal


class Zonal(Workload):
    """Tile assignment + zonal stats over every species for one polygon
    layer: the county partition, the fixture L-shape and the fine polygons."""

    name = "zonal"
    size_unit = "Mpx"

    def setup(self) -> None:
        self._load_tiles()
        self.xcuts, self.ycuts = inputs.counties(self.seed)
        self.fine = inputs.fine_polygons(self.seed)
        polys = inputs.county_polygons(self.xcuts, self.ycuts) + [inputs.lshape(SPEC)] + self.fine
        self.polys = local_df(self.spark, inputs.polygon_rows(polys), inputs.POLYGON_SCHEMA)

    def expected(self):
        ky, kx = len(self.ycuts) - 1, len(self.xcuts) - 1
        names = [[inputs.county_id(j, i) for i in range(kx)] for j in range(ky)]
        zonal, assign = oracle.counties_duckdb(SPEC, self.xcuts, self.ycuts, names)
        lattice = [inputs.lshape_lattice(SPEC)] + self.fine
        zonal.update(oracle.lattice_zonal(self._raster(), lattice))
        assign |= oracle.lattice_assign(lattice, SPEC)
        return {"zonal": zonal, "assign": assign}

    def job(self, tr):
        with tr.span("job"):
            with tr.span("index.build"):
                index = broadcast_join.PolygonIndex.build(self.polys, JOIN_RES)
            with tr.span("assign"):
                assign = broadcast_join.assign_tiles_fast(
                    self.meta, self.polys, res=JOIN_RES, index=index
                ).collect()
            with tr.span("zonal"):
                zonal = broadcast_join.zonal_stats_fast(
                    self.tiles, self.polys, species=None, res=JOIN_RES, index=index
                ).collect()
        return {"index": index, "assign": assign, "zonal": zonal}

    def reduce(self, out):
        zonal = {}
        for r in out["zonal"]:
            zonal[(r.poly_id, int(r.s))] = (r.n_px, r.sum_v, r.max_v, r.nonzero_px)
        return {"assign": {(r.poly_id, r.image_id) for r in out["assign"]}, "zonal": zonal,
                "n_assign_rows": len(out["assign"])}

    def check(self, got, exp) -> list[str]:
        bad = []
        if got["n_assign_rows"] != len(got["assign"]):
            bad.append("tile assignment has duplicate rows")
        if got["assign"] != exp["assign"]:
            bad.append(
                f"tile assignment: {len(got['assign'] - exp['assign'])} extra, "
                f"{len(exp['assign'] - got['assign'])} missing pairs"
            )
        gz, ez = got["zonal"], exp["zonal"]
        if gz.keys() != ez.keys():
            bad.append(f"zonal keys: {len(gz.keys() - ez.keys())} extra, {len(ez.keys() - gz.keys())} missing")
        wrong = [k for k in gz.keys() & ez.keys() if tuple(map(float, gz[k])) != tuple(map(float, ez[k]))]
        if wrong:
            bad.append(f"zonal values differ for {len(wrong)} (poly, species) keys, e.g. {sorted(wrong)[0]}")
        return bad

    def layers(self, tr, out) -> dict:
        index = out["index"]
        m = self._scan_and_decode(tr)
        with tr.span("iso.assign"):
            broadcast_join.assign_tiles_fast(self.meta, self.polys, res=JOIN_RES, index=index).collect()
        with tr.span("iso.zonal") as iso_zonal:
            broadcast_join.zonal_stats_fast(
                self.tiles, self.polys, species=None, res=JOIN_RES, index=index
            ).collect()
        # cell-probe replay over every tile row's bbox, in one batch
        bb = self.meta.select("tx", "ty", "xmin", "ymin", "xmax", "ymax").toPandas()
        cols = [bb[c].to_numpy() for c in ("xmin", "ymin", "xmax", "ymax")]
        probe_s, cand = _timed(index.candidates, *cols)
        rows, _ = grid.bbox_cells_batch(*cols, index.res)
        sure = (cand.n_hit == cand.n_cells) & (cand.n_full == cand.n_hit)
        maybe = cand[~sure]
        n_assign = len(out["assign"])
        # boundary (tile, polygon) pairs: the mask is shared by a tile's species rows
        pairs = (
            maybe.assign(tx=bb["tx"].to_numpy()[maybe["row"]], ty=bb["ty"].to_numpy()[maybe["row"]])
            [["tx", "ty", "pidx"]].drop_duplicates().to_numpy()
        )
        edges = np.array([sum(len(r) - 1 for r in rings) for rings in index.rings])
        tw, th = SPEC.tile_w, SPEC.tile_h
        pick = pairs[inputs.rng(self.seed, 5).choice(len(pairs), size=min(REPLAY_PAIRS, len(pairs)), replace=False)]
        t0, useful = time.perf_counter(), 0
        for tx, ty, pidx in pick:
            cx = X0 + (int(tx) * tw + np.arange(tw)) * PIX + PIX / 2
            cy = Y0 - (int(ty) * th + np.arange(th)) * PIX - PIX / 2
            gx, gy = np.meshgrid(cx, cy)
            useful += bool(geom.points_in_polygon(gx.ravel(), gy.ravel(), index.rings[int(pidx)]).any())
        pip_sample_s = time.perf_counter() - t0
        n_decoded = int(cand["row"].nunique())
        m.update({
            "index.build_s": tr_seconds(tr, "index.build"),
            "index.polygons": len(index.poly_ids),
            "index.cover_cells": len(index.cell_to_poly),
            "probe.s": probe_s,
            "probe.cells_probed": len(rows),
            "probe.candidate_pairs": len(cand),
            "probe.sure_pairs": int(sure.sum()),
            "probe.maybe_pairs": len(maybe),
            "probe.useful_ratio": n_assign / len(cand) if len(cand) else 0.0,
            "pip.s": max(iso_zonal.seconds - m["decode.s"] - probe_s, 0.0),
            "pip.pairs": len(pairs),
            "pip.px_edge_tests": int(tw * th * edges[pairs[:, 2].astype(np.int64)].sum()),
            "pip.kernel_s": pip_sample_s / len(pick) * len(pairs) if len(pick) else 0.0,
            "pip.useful_ratio": useful / len(pick) if len(pick) else 0.0,
            "decode.tiles": n_decoded,
            "decode.mpx": n_decoded * tw * th / 1e6,
            "decode.kernel_s": m.pop("_decode_per_tile_s") * n_decoded,
            "_bases": {
                "probe.useful_ratio": f"{n_assign} assigned pairs / {len(cand)} candidate pairs",
                "pip.useful_ratio": f"{useful} non-empty masks / {len(pick)} sampled boundary pairs",
                "pip.s": "derived: iso.zonal - iso.decode - probe.s",
                "pip.kernel_s": f"{len(pick)} sampled pairs scaled to {len(pairs)}",
                "decode.kernel_s": f"{REPLAY_TILES} sampled tiles scaled to {n_decoded}",
            },
        })
        return m


# ---------------------------------------------------------------- cube_etl


def cube_digest_columns(df):
    """The order-insensitive digest of a per-pixel metric table; the same
    arithmetic as ``oracle.digest_sql``."""
    w = (F.col("gx") * 7919 + F.col("gy") * 104729) % oracle.DIGEST_MOD + 1
    q = lambda c: F.floor(F.col(c) * 10000.0 + 0.5)  # noqa: E731
    return df.agg(
        F.count("*"),
        F.sum(F.col("richness") * w),
        F.sum(F.col("dominant") * w),
        F.sum(q("shannon") * w),
        F.sum(q("simpson") * w),
    )


class CubeEtl(Workload):
    """create_zarr -> calculate_metrics. The seed does not change the input:
    the tile table is the workload's only input."""

    name = "cube_etl"
    size_unit = "Mpx"

    def setup(self) -> None:
        self._load_tiles()
        self.store = os.path.join(self.work_dir, "cube_etl_store.zarr")

    def prepare(self) -> None:
        shutil.rmtree(self.store, ignore_errors=True)

    def job(self, tr):
        with tr.span("job"):
            with tr.span("zarrstore.write"):
                chunks = zarrstore.write_zarr_store(self.tiles, self.store)
            with tr.span("read_metrics"):
                back = zarrstore.read_zarr_store(self.spark, self.store)
                out = metrics.metric_layers(back, CUBE_METRICS)
                digest = cube_digest_columns(out).first()
        return {"chunks": int(chunks), "digest": tuple(int(v) for v in digest)}

    def expected(self):
        digest = self._cached("cube_digest", oracle.digest_sql(SPEC), lambda: oracle.cube_digest(SPEC))
        return {"chunks": SPEC.n_images, "digest": tuple(int(v) for v in digest)}

    def check(self, got, exp) -> list[str]:
        bad = []
        if got["chunks"] != exp["chunks"]:
            bad.append(f"wrote {got['chunks']} chunks, expected {exp['chunks']}")
        if got["digest"] != exp["digest"]:
            bad.append(f"metric digest {got['digest']} != oracle {exp['digest']}")
        return bad

    def layers(self, tr, out) -> dict:
        m = self._scan_and_decode(tr)
        with tr.span("iso.read") as rd:
            zarrstore.read_zarr_store(self.spark, self.store).agg(F.sum(F.length("bytes"))).first()
        written = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(self.store) for f in fs
        )
        sample = self._tile_sample()
        by_tile: dict = {}
        for r in sample:
            by_tile.setdefault((r.tx, r.ty), {})[r.s] = r
        fns = [kernels.get(s.kernel) for s in CUBE_METRICS]
        cubes = []
        for layers in list(by_tile.values())[:REPLAY_CUBES]:
            cube = np.zeros((N_SPECIES, SPEC.tile_h, SPEC.tile_w), dtype=np.float32)
            for s, r in layers.items():
                cube[int(s)] = codecs.decode(r.bytes, r.w, r.h, r.fmt)
            cubes.append(cube)
        t, _ = _timed(lambda: [fn(c) for c in cubes for fn in fns])
        n_cubes = SPEC.tiles_x * SPEC.tiles_y
        per_tile = m.pop("_decode_per_tile_s")
        m.update({
            "zarrstore.write_s": tr_seconds(tr, "zarrstore.write"),
            "zarrstore.read_s": rd.seconds,
            "zarrstore.bytes_written": written,
            "zarrstore.chunks": out["chunks"],
            "decode.tiles": self.n_tiles,
            "decode.mpx": self.n_tiles * SPEC.tile_w * SPEC.tile_h / 1e6,
            "decode.kernel_s": per_tile * self.n_tiles,
            "kernels.kernel_s": t / len(cubes) * n_cubes,
            "kernels.px": n_cubes * SPEC.tile_w * SPEC.tile_h,
            "metrics.rows_out": out["digest"][0],
            "_bases": {
                "decode.kernel_s": f"{REPLAY_TILES} sampled tiles scaled to {self.n_tiles}",
                "kernels.kernel_s": f"{len(cubes)} sampled cubes x {len(fns)} kernels scaled to {n_cubes} cubes",
            },
        })
        return m


# -------------------------------------------------------------- points_knn


class PointsKnn(Workload):
    name = "points_knn"
    size_unit = "points"

    def size(self) -> float:
        return float(inputs.N_POINTS)

    def setup(self) -> None:
        self.ids, self.x, self.y = inputs.plot_points(self.seed)
        self.points = local_df(
            self.spark,
            list(zip(self.ids.tolist(), self.x.tolist(), self.y.tolist())),
            "point_id long, x double, y double",
        )
        self.polys_in = inputs.fine_polygons(self.seed)
        self.polys = local_df(self.spark, inputs.polygon_rows(self.polys_in), inputs.POLYGON_SCHEMA)

    def job(self, tr):
        with tr.span("job"):
            with tr.span("points.pip"):
                pip = spatial_join.join_points_polygons(self.points, self.polys).select(
                    "point_id", "poly_id"
                ).collect()
            with tr.span("knn"):
                knn = knn_join(self.points, self.points, k=KNN_K).toPandas()
        return {"pip": pip, "knn": knn}

    def reduce(self, out):
        """Keep the PIP pairs, the brute-force sample's rows and the list of
        structural faults found in the full kNN output."""
        knn = out["knn"].sort_values(["point_id", "rank"], kind="stable")
        faults = []
        n = self.ids.size
        if len(knn) != n * KNN_K:
            faults.append(f"kNN returned {len(knn)} rows, expected {n * KNN_K}")
        else:
            q = knn["point_id"].to_numpy()
            nb = knn["neighbor_id"].to_numpy()
            d = knn["dist_sq"].to_numpy()
            if not np.array_equal(q, np.repeat(self.ids, KNN_K)):
                faults.append("kNN query ids are not each present exactly k times")
            elif not np.array_equal(knn["rank"].to_numpy(), np.tile(np.arange(1, KNN_K + 1), n)):
                faults.append("kNN ranks are not 1..k")
            else:
                exact = (self.x[q] - self.x[nb]) ** 2 + (self.y[q] - self.y[nb]) ** 2
                if not np.array_equal(exact, d):
                    faults.append("kNN dist_sq differs from the coordinates")
                key = d.reshape(n, KNN_K)
                ids = nb.reshape(n, KNN_K)
                order_ok = (key[:, 1:] > key[:, :-1]) | ((key[:, 1:] == key[:, :-1]) & (ids[:, 1:] > ids[:, :-1]))
                if not order_ok.all() or (q == nb).any():
                    faults.append("kNN rows are not ordered by (dist_sq, neighbor_id) or include self")
        sample = set(self.ids[oracle.knn_queries(self.seed, n, KNN_SAMPLE)].tolist())
        rows = knn[knn["point_id"].isin(sample)]
        got = {}
        for r in rows.itertuples(index=False):
            got.setdefault(int(r.point_id), []).append((int(r.rank), int(r.neighbor_id), float(r.dist_sq)))
        pip = {(int(r.point_id), r.poly_id) for r in out["pip"]}
        return {"pip": pip, "n_pip_rows": len(out["pip"]), "knn": got, "faults": faults}

    def expected(self):
        return {
            "pip": oracle.points_pip(self.polys_in, self.ids, self.x, self.y),
            "knn": oracle.knn_sample(self.seed, self.ids, self.x, self.y, KNN_K, KNN_SAMPLE),
        }

    def check(self, got, exp) -> list[str]:
        bad = list(got["faults"])
        if got["n_pip_rows"] != len(got["pip"]):
            bad.append("point-in-polygon join has duplicate rows")
        if got["pip"] != exp["pip"]:
            bad.append(
                f"point-in-polygon: {len(got['pip'] - exp['pip'])} extra, "
                f"{len(exp['pip'] - got['pip'])} missing pairs"
            )
        wrong = [q for q in exp["knn"] if got["knn"].get(q) != exp["knn"][q]]
        if wrong:
            bad.append(f"kNN differs from brute force for {len(wrong)} of {len(exp['knn'])} sampled queries")
        return bad

    def layers(self, tr, out) -> dict:
        build_s, index = _timed(broadcast_join.PolygonIndex.build, self.polys, grid.JOIN_RES)
        cells = grid.cell_of_xy(self.x, self.y, index.res)
        probe_s, hits = _timed(
            lambda: len(pd.DataFrame({"cell_id": cells}).merge(index.cell_to_poly, on="cell_id"))
        )
        return {
            "index.build_s": build_s,
            "index.polygons": len(index.poly_ids),
            "index.cover_cells": len(index.cell_to_poly),
            "points.pip_s": tr_seconds(tr, "points.pip"),
            "points.candidate_pairs": hits,
            "knn.s": tr_seconds(tr, "knn"),
            "_bases": {"points.candidate_pairs": f"replayed point probe ({probe_s:.3f} s)"},
        }


WORKLOADS = {w.name: w for w in (Zonal, CubeEtl, PointsKnn)}
