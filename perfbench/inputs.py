"""Seeded inputs: the DEM tile table and the document table.

Both are written before any timed region, and the same seed always
writes the same rows. The seed moves the inputs (which part of the grid
the AOI covers, which ids and words the documents carry) but not their
size, so runs on different seeds do the same amount of work.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapchete_spark.functions.spans import KIND_CYCLE
from mapchete_spark.operators import rastertable
from mapchete_spark.tilegrid import Bounds, TilePyramid


@dataclass(frozen=True)
class RasterAOI:
    """A rectangle of tiles at ``zoom``: rows r0..r1, cols c0..c1.

    The DEM table covers the AOI plus a one-tile ring, so every AOI
    tile has a complete halo; the job processes the ring tiles too."""

    zoom: int
    r0: int
    r1: int
    c0: int
    c1: int

    def grown(self) -> "RasterAOI":
        return RasterAOI(self.zoom, self.r0 - 1, self.r1 + 1, self.c0 - 1, self.c1 + 1)

    def n_tiles(self) -> int:
        return (self.r1 - self.r0 + 1) * (self.c1 - self.c0 + 1)

    def bounds(self) -> Bounds:
        """Bounds strictly inside the tile rectangle, so the tile cover
        of these bounds is exactly the rectangle."""
        pyr = TilePyramid("geodetic")
        ts = pyr.tile_x_size(self.zoom)
        eps = ts * 1e-6
        return Bounds(
            -180.0 + self.c0 * ts + eps,
            90.0 - (self.r1 + 1) * ts + eps,
            -180.0 + (self.c1 + 1) * ts - eps,
            90.0 - self.r0 * ts - eps,
        )

    def tiles_per_zoom(self, min_zoom: int = 0) -> dict:
        """Closed-form tile count of this rectangle and of its parents
        at every zoom down to ``min_zoom``."""
        out = {}
        r0, r1, c0, c1 = self.r0, self.r1, self.c0, self.c1
        for z in range(self.zoom, min_zoom - 1, -1):
            out[z] = (r1 - r0 + 1) * (c1 - c0 + 1)
            r0, r1, c0, c1 = r0 // 2, r1 // 2, c0 // 2, c1 // 2
        return out


def raster_aoi(seed: int, rows: int, cols: int, zoom: int) -> RasterAOI:
    """AOI of ``rows`` x ``cols`` tiles at a seeded place on the grid,
    one tile in from the grid edge so the ring fits."""
    rng = random.Random(seed)
    pyr = TilePyramid("geodetic")
    mh, mw = pyr.matrix_height(zoom), pyr.matrix_width(zoom)
    if rows + 2 > mh or cols + 2 > mw:
        raise ValueError(f"{rows}x{cols} tiles and their ring do not fit the z{zoom} grid")
    r0 = rng.randint(1, mh - rows - 1)
    c0 = rng.randint(1, mw - cols - 1)
    return RasterAOI(zoom, r0, r0 + rows - 1, c0, c0 + cols - 1)


def write_dem(spark: SparkSession, path: str, aoi: RasterAOI) -> int:
    """DEM tile table over the AOI and its ring (no nodata hole), as
    ``materialize_dem`` produces it. Returns the tile count."""
    g = aoi.grown()
    dem = rastertable.materialize_dem(
        spark, g.zoom, TilePyramid("geodetic"), bounds=g.bounds(), hole=False
    )
    dem.write.mode("overwrite").parquet(path)
    n = spark.read.parquet(path).count()
    if n != g.n_tiles():
        raise RuntimeError(f"DEM table has {n} tiles, expected {g.n_tiles()}")
    return n


# ---- documents -----------------------------------------------------------

#: document kinds by share (per mille of a per-doc hash): planted short
#: docs (1-3 words, one span), planted long docs (600-1000 words, 256
#: spans), repetitive docs (three-word vocabulary, dropped by the
#: repetition filter) and ordinary docs (20-60 words)
SHORT_PM, LONG_PM, REPETITIVE_PM = 20, 10, 100
VOCAB = 20000


def doc_id_base(seed: int) -> int:
    """First doc id of a seed. Ids feed the engine's geo hash modulo
    2^31, so the base must not be a multiple of it."""
    return 1_000 + (seed % 100_000) * 1_000_003_001


def documents(spark: SparkSession, n: int, seed: int) -> DataFrame:
    """``(doc_id, text, lang, spans)`` for ``n`` documents, with spans
    ``array<struct<kind, text, media_ref, offset>>``."""
    s = F.lit(int(seed))
    doc_id = (F.lit(doc_id_base(seed)) + F.col("id")).alias("doc_id")
    base = spark.range(n).select(doc_id)

    def h(*cols):
        return F.xxhash64(s, F.col("doc_id"), *cols)

    pm = F.pmod(h(F.lit("kind")), F.lit(1000))
    size = F.pmod(h(F.lit("size")), F.lit(1_000_000))
    n_words = (
        F.when(pm < SHORT_PM, 1 + size % 3)
        .when(pm < SHORT_PM + LONG_PM, 600 + size % 401)
        .otherwise(20 + size % 41)
    )
    vocab = F.when(
        (pm >= SHORT_PM + LONG_PM) & (pm < SHORT_PM + LONG_PM + REPETITIVE_PM),
        F.lit(3),
    ).otherwise(F.lit(VOCAB))
    n_spans = (
        F.when(pm < SHORT_PM, 1)
        .when(pm < SHORT_PM + LONG_PM, 256)
        .otherwise(1 + size % 8)
    )
    sized = base.select(
        "doc_id",
        n_words.cast("int").alias("n_words"),
        vocab.alias("vocab"),
        n_spans.cast("int").alias("n_spans"),
        F.element_at(
            F.array(*[F.lit(x) for x in ("en", "de", "fr", "es")]),
            (F.pmod(h(F.lit("lang")), F.lit(4)) + 1).cast("int"),
        ).alias("lang"),
    )
    words = F.transform(
        F.sequence(F.lit(0), F.col("n_words") - 1),
        lambda i: F.concat(
            F.lit("w"), F.pmod(h(i), F.col("vocab")).cast("string")
        ),
    )
    kinds = F.array(*[F.lit(k) for k in KIND_CYCLE])

    def span(i):
        kind = F.element_at(kinds, (i % len(KIND_CYCLE) + 1).cast("int"))
        is_text = kind == "text"
        return F.struct(
            kind.alias("kind"),
            F.when(is_text, F.element_at(F.col("words"), (i % F.col("n_words") + 1).cast("int")))
            .otherwise(F.lit(""))
            .alias("text"),
            F.when(is_text, F.lit(""))
            .otherwise(F.concat(F.lit("media://"), F.col("doc_id").cast("string"), F.lit("/"), i.cast("string")))
            .alias("media_ref"),
            (i * 16).cast("int").alias("offset"),
        )

    with_words = sized.withColumn("words", words)
    return with_words.select(
        "doc_id",
        F.concat_ws(" ", "words").alias("text"),
        "lang",
        F.transform(F.sequence(F.lit(0), F.col("n_spans") - 1), span).alias("spans"),
    )


def write_documents(spark: SparkSession, root: str, n: int, seed: int) -> None:
    """Writes ``<root>/documents.parquet``, the layout
    ``sources.tables.load_table`` reads."""
    documents(spark, n, seed).write.mode("overwrite").parquet(f"{root}/documents.parquet")
