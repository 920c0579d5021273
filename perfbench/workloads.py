"""The workloads: seeded inputs, one timed iteration, and output checks.

Workload code calls the engine through module attributes
(``job.execute``, ``pyramid.rollup_to_zoom``...) so that the traced run
can wrap those calls; it never imports the functions by name.

Each workload has:

- ``warm_up_iterations``: untimed iterations before the timed ones;
- ``prepare``: writes the seeded inputs (untimed);
- ``reset``: puts the output location back to its starting state
  between iterations (untimed);
- ``run``: one timed iteration, from the inputs to the complete result;
  returns the number of work items and the per-stage counts;
- ``quick_errors``: the checks cheap enough for every iteration;
- ``check``: compares the last result with the repo's oracles and
  returns a list of mismatches (empty when correct);
- ``hooks``, ``input_hooks``, ``output_paths``: the layer calls and the
  output tables the traced run wraps.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from dataclasses import dataclass, field
from typing import Dict, List

import duckdb
import numpy as np
from pyspark.sql import functions as F

from mapchete_spark.functions import geo, rastersql, repetition
from mapchete_spark.operators import assign, pyramid, sharding
from mapchete_spark.plans import job
from mapchete_spark.plans.config import JobConfig
from mapchete_spark.sources import tables
from perfbench import inputs


@dataclass(frozen=True)
class Sizes:
    raster_zoom: int
    aoi_rows: int
    aoi_cols: int
    corpus_docs: int
    digest_tiles: int


#: ``full`` is the benchmark; ``tiny`` is the size of the benchmark's
#: own tests
SIZES = {
    "full": Sizes(raster_zoom=2, aoi_rows=2, aoi_cols=6, corpus_docs=200_000, digest_tiles=3),
    "tiny": Sizes(raster_zoom=2, aoi_rows=1, aoi_cols=2, corpus_docs=8_000, digest_tiles=1),
}

#: one document in this many (by doc id) has its keep decision checked
TEXT_SAMPLE = 20

#: zooms of the corpus tile assignment; the rollup runs from the
#: highest of them down to z0
CORPUS_ZOOMS = (6, 8, 10)


@dataclass
class Ctx:
    """Where one workload run keeps its files, and what it runs with."""

    spark: object
    root: str
    seed: int
    sizes: Sizes
    oracle_dir: str
    state: Dict[str, object] = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)


@dataclass
class Outcome:
    items: int
    counts: Dict[str, int] = field(default_factory=dict)


def _cached_oracle(ctx: Ctx, key: str, compute):
    """Reference results are cached per key (the key holds the seed
    and every size the result depends on)."""
    os.makedirs(ctx.oracle_dir, exist_ok=True)
    path = os.path.join(ctx.oracle_dir, hashlib.md5(key.encode()).hexdigest() + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)
    return value


def _parquet_glob(path: str) -> str:
    return os.path.join(path, "**", "*.parquet")


# ---- raster ---------------------------------------------------------------


def _shading(seed: int) -> dict:
    """Seeded sun position of the hillshade process."""
    rng = random.Random(seed + 4)
    return {"azimuth": float(rng.randrange(0, 360, 5)), "altitude": float(rng.randrange(30, 65, 5))}


def _hillshade_config(dem_path: str, out: str, aoi: inputs.RasterAOI, shading: dict) -> JobConfig:
    return JobConfig.from_dict(
        dict(
            process="hillshade",
            zoom_levels={"min": 0, "max": aoi.zoom},
            pyramid={"grid": "geodetic"},
            input=dem_path,
            output={"path": out, "format": "parquet_tiles", "dtype": "uint8", "nodata": 0},
            baselevels={"min": aoi.zoom, "max": aoi.zoom, "lower": "average"},
            bounds=list(aoi.bounds()),
            process_parameters=shading,
        )
    )


def _stage_counts_errors(counts: Dict[str, int], expected: Dict[int, int], zoom: int) -> List[str]:
    errors = []
    for z, n in expected.items():
        key = f"process_z{z}" if z == zoom else f"overview_z{z}"
        if counts.get(key) != n:
            errors.append(f"{key}: {counts.get(key)} tiles, expected {n}")
    return errors


def _output_counts(tiles_path: str) -> Dict[int, tuple]:
    """zoom -> (rows, distinct tiles) of a zoom-partitioned tile table."""
    rows = duckdb.sql(
        f"SELECT zoom, COUNT(*), COUNT(DISTINCT (tile_row, tile_col)) "
        f"FROM read_parquet('{_parquet_glob(tiles_path)}', hive_partitioning = true) "
        f"GROUP BY zoom"
    ).fetchall()
    return {int(z): (int(n), int(d)) for z, n, d in rows}


def _digest_errors(ctx: Ctx, tiles_path: str, aoi: inputs.RasterAOI) -> List[str]:
    """Hillshade digests of seeded AOI tiles against the closed-form
    Horn oracle (``rastersql.hillshade_sql``) run in DuckDB."""
    rng = random.Random(ctx.seed + 2)
    cells = {
        (rng.randint(aoi.r0, aoi.r1), rng.randint(aoi.c0, aoi.c1))
        for _ in range(ctx.sizes.digest_tiles)
    }
    errors = []
    for r, c in sorted(cells):
        found = duckdb.sql(
            f"SELECT data, dtype, height, width "
            f"FROM read_parquet('{_parquet_glob(tiles_path)}', hive_partitioning = true) "
            f"WHERE zoom = {aoi.zoom} AND tile_row = {r} AND tile_col = {c}"
        ).fetchall()
        if len(found) != 1:
            errors.append(f"tile ({aoi.zoom},{r},{c}): {len(found)} rows")
            continue
        data, dtype, h, w = found[0]
        v = np.frombuffer(data, dtype=dtype).reshape(-1, int(h), int(w))[0].astype(np.int64)
        idx = np.arange(int(h) * int(w), dtype=np.int64).reshape(int(h), int(w))
        got = [int(v.size), int(v.sum()), int((v * (idx % rastersql.WMOD)).sum())]
        shading = ctx.state["shading"]
        want = _cached_oracle(
            ctx,
            f"hillshade:{aoi.zoom}:{r}:{c}:{shading}",
            lambda: [int(x) for x in duckdb.sql(
                rastersql.hillshade_sql(aoi.zoom, r, r, c, c, **shading)
            ).fetchall()[0][3:6]],
        )
        if got != want:
            errors.append(f"hillshade digest of ({aoi.zoom},{r},{c}): {got} != {want}")
    return errors


class RasterPyramid:
    """A hillshade job from a fresh output store, in ``continue`` mode
    (the job runner's default): every tile is computed, and the
    checkpoint's skip machinery runs against an empty checkpoint. The
    seed picks the sun position, and the AOI's place where the AOI is
    smaller than the grid (at the full size, z2 with its ring is the
    whole grid)."""

    name = "raster_pyramid"
    warm_up_iterations = 1

    def prepare(self, ctx: Ctx) -> None:
        aoi = inputs.raster_aoi(
            ctx.seed, ctx.sizes.aoi_rows, ctx.sizes.aoi_cols, ctx.sizes.raster_zoom
        )
        ctx.state["aoi"] = aoi
        ctx.state["shading"] = _shading(ctx.seed)
        inputs.write_dem(ctx.spark, ctx.path("inputs", "dem.parquet"), aoi)
        ctx.state["cfg"] = _hillshade_config(
            ctx.path("inputs", "dem.parquet"), ctx.path("out"), aoi.grown(), ctx.state["shading"]
        )

    def output_paths(self, ctx: Ctx) -> List[str]:
        return [ctx.path("out", "tiles")]

    def reset(self, ctx: Ctx) -> None:
        shutil.rmtree(ctx.path("out"), ignore_errors=True)

    def run(self, ctx: Ctx, tracer) -> Outcome:
        counts = job.execute(ctx.spark, ctx.state["cfg"], mode="continue")
        return Outcome(items=sum(counts.values()), counts=counts)

    def quick_errors(self, ctx: Ctx, outcome: Outcome) -> List[str]:
        aoi = ctx.state["aoi"]
        return _stage_counts_errors(outcome.counts, aoi.grown().tiles_per_zoom(), aoi.zoom)

    def check(self, ctx: Ctx, outcome: Outcome) -> List[str]:
        """Stage counts against the closed form, every AOI tile present
        once in the written table, and the hillshade digests."""
        errors = self.quick_errors(ctx, outcome)
        found = _output_counts(ctx.path("out", "tiles"))
        for z, n in ctx.state["aoi"].grown().tiles_per_zoom().items():
            if found.get(z) != (n, n):
                errors.append(f"z{z} output (rows, tiles) {found.get(z)}, expected {(n, n)}")
        return errors + _digest_errors(ctx, ctx.path("out", "tiles"), ctx.state["aoi"])

    def hooks(self) -> List[tuple]:
        return [
            ("mapchete_spark.plans.job:execute", "plans.job.execute", {}),
            ("mapchete_spark.plans.job:run_raster_process", "operators.process", {}),
            ("mapchete_spark.operators.halo:run_buffered_process", "operators.halo", {}),
            ("mapchete_spark.plans.job:overview_reduce_once", "operators.overviews", {}),
            ("mapchete_spark.operators.checkpoint:JobStore.filter_todo",
             "operators.checkpoint.filter_todo", {}),
            ("mapchete_spark.operators.checkpoint:JobStore.commit_tiles",
             "operators.checkpoint.commit", {}),
        ]

    def input_hooks(self) -> List[tuple]:
        return [("mapchete_spark.operators.rastertable:materialize_dem", "operators.rastertable", {})]


# ---- documents ------------------------------------------------------------


class Corpus:
    """The document table through both corpus paths of the engine:

    - tile pyramid: geo -> multi-zoom point assignment -> per-tile
      reduce -> rollup to z0 over every document (JVM codegen and
      shuffle, no Python);
    - English training shards: repetition stats -> keep filter ->
      shard packing over the ``lang = 'en'`` documents (the Arrow text
      boundary and the range-partition prefix-sum passes).
    """

    name = "corpus"
    #: the first iteration runs about 3x slower than the rest, and the
    #: next two still 5-15% slower, while the JVM compiles the
    #: generated code
    warm_up_iterations = 3

    def prepare(self, ctx: Ctx) -> None:
        inputs.write_documents(ctx.spark, ctx.path("inputs"), ctx.sizes.corpus_docs, ctx.seed)

    def output_paths(self, ctx: Ctx) -> List[str]:
        return [ctx.path("out", "tiles"), ctx.path("out", "shards")]

    def reset(self, ctx: Ctx) -> None:
        shutil.rmtree(ctx.path("out"), ignore_errors=True)

    def run(self, ctx: Ctx, tracer) -> Outcome:
        docs = tables.load_table(ctx.spark, ctx.path("inputs"), "documents")

        zmax = max(CORPUS_ZOOMS)
        located = geo.with_geo(docs)
        assigned = assign.assign_point_tiles(located, CORPUS_ZOOMS)
        base = pyramid.reduce_docs_to_tiles(assigned, {"n_docs": F.count(F.lit(1))})
        top = pyramid.rollup_to_zoom(
            base.where(F.col("zoom") == zmax), zmax, 0, {"n_docs": F.sum("n_docs")}
        )
        tiles = tracer.step("corpus.union", lambda: base.unionByName(top))
        tiles.write.mode("overwrite").partitionBy("zoom").parquet(ctx.path("out", "tiles"))

        english = tracer.step("corpus.english", lambda: docs.where(F.col("lang") == "en"))
        stats = repetition.repetition_stats(english)
        kept = tracer.step(
            "corpus.keep",
            lambda: english.join(
                stats.where(F.col("gopher_keep")).select("doc_id"), "doc_id", "left_semi"
            ),
        )
        shards = sharding.assign_shards(kept)
        shards.write.mode("overwrite").parquet(ctx.path("out", "shards"))
        return Outcome(items=ctx.sizes.corpus_docs)

    def quick_errors(self, ctx: Ctx, outcome: Outcome) -> List[str]:
        return []

    def check(self, ctx: Ctx, outcome: Outcome) -> List[str]:
        docs = os.path.join(ctx.path("inputs"), "documents.parquet", "*.parquet")
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW all_docs AS SELECT doc_id, text, lang FROM read_parquet('{docs}')")
            return self._tile_errors(ctx, con) + self._shard_errors(ctx, con)
        finally:
            con.close()

    def _tile_errors(self, ctx: Ctx, con) -> List[str]:
        """Per-zoom tile and document counts against the geo SQL twins
        over the generated table; z0 ``n_docs`` against its count."""

        def oracle():
            lon, lat = geo.lon_sql("doc_id"), geo.lat_sql("doc_id")
            out = {}
            for z in CORPUS_ZOOMS:
                n_tiles, n_docs = con.execute(
                    f"SELECT COUNT(DISTINCT ({geo.tile_row_sql(lat, str(z))}, "
                    f"{geo.tile_col_sql(lon, str(z))})), COUNT(*) FROM all_docs"
                ).fetchall()[0]
                out[str(z)] = [int(n_tiles), int(n_docs)]
            out["0"] = [None, int(con.execute("SELECT COUNT(*) FROM all_docs").fetchall()[0][0])]
            return out

        want = _cached_oracle(
            ctx, f"corpus-tiles:{ctx.seed}:{ctx.sizes.corpus_docs}:{CORPUS_ZOOMS}", oracle
        )
        got = {
            str(z): [int(t), int(d)]
            for z, t, d in con.execute(
                f"SELECT zoom, COUNT(*), SUM(n_docs) FROM read_parquet("
                f"'{_parquet_glob(ctx.path('out', 'tiles'))}', hive_partitioning = true) GROUP BY zoom"
            ).fetchall()
        }
        errors = []
        for z, (tiles, n) in want.items():
            g = got.get(z)
            if g is None or g[1] != n or (tiles is not None and g[0] != tiles):
                errors.append(f"z{z} (tiles, docs) {g}, expected {[tiles, n]}")
        return errors

    def _shard_errors(self, ctx: Ctx, con) -> List[str]:
        """Keep decisions of a seeded 1-in-``TEXT_SAMPLE`` sample of the
        English docs against ``repetition_stats_sql()``, and the shard
        layout of the kept set against ``shard_summary_sql()``."""
        con.execute(
            f"CREATE VIEW shards AS SELECT * FROM read_parquet("
            f"'{_parquet_glob(ctx.path('out', 'shards'))}')"
        )
        rem = ctx.seed % TEXT_SAMPLE

        def kept_sample():
            con.execute(
                f"CREATE OR REPLACE VIEW documents AS SELECT * FROM all_docs "
                f"WHERE lang = 'en' AND doc_id % {TEXT_SAMPLE} = {rem}"
            )
            rows = con.execute(
                f"SELECT doc_id FROM ({repetition.repetition_stats_sql()}) "
                f"WHERE gopher_keep ORDER BY doc_id"
            ).fetchall()
            return [int(r[0]) for r in rows]

        want_kept = _cached_oracle(ctx, f"corpus-kept:{ctx.seed}:{ctx.sizes.corpus_docs}", kept_sample)
        got_kept = [
            int(r[0])
            for r in con.execute(
                f"SELECT doc_id FROM shards WHERE doc_id % {TEXT_SAMPLE} = {rem} ORDER BY doc_id"
            ).fetchall()
        ]
        con.execute(
            "CREATE OR REPLACE VIEW documents AS SELECT * FROM all_docs SEMI JOIN shards USING (doc_id)"
        )
        want = con.execute(sharding.shard_summary_sql()).fetchall()
        got = con.execute(
            "SELECT shard_id, CAST(COUNT(*) AS BIGINT), CAST(SUM(n_tokens) AS BIGINT), "
            "md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY CAST(doc_id AS VARCHAR))) "
            "FROM shards GROUP BY shard_id ORDER BY shard_id"
        ).fetchall()
        errors = []
        if got_kept != want_kept:
            errors.append(f"kept sample: {len(got_kept)} docs in the output, {len(want_kept)} expected")
        if got != want:
            bad = [w for w, g in zip(want, got) if w != g]
            errors.append(f"shard summary: {len(got)} shards vs {len(want)}; first mismatch {bad[:1]}")
        return errors

    def hooks(self) -> List[tuple]:
        return [
            ("mapchete_spark.sources.tables:load_table", "sources.scan",
             {"columns": ("doc_id", "text", "lang")}),
            ("mapchete_spark.functions.geo:with_geo", "functions.geo", {}),
            ("mapchete_spark.operators.assign:assign_point_tiles", "operators.assign", {}),
            ("mapchete_spark.operators.pyramid:reduce_docs_to_tiles", "operators.pyramid", {}),
            ("mapchete_spark.operators.pyramid:rollup_to_zoom", "operators.pyramid", {}),
            ("mapchete_spark.functions.repetition:repetition_stats", "functions.repetition", {}),
            ("mapchete_spark.operators.sharding:assign_shards", "operators.sharding", {"input_rdd": True}),
        ]

    def input_hooks(self) -> List[tuple]:
        return []


#: every workload run.py accepts, as listed in BENCHMARK.json
WORKLOADS = {w.name: w for w in (RasterPyramid(), Corpus())}
