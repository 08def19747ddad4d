"""Deterministic synthetic geometry layers over the driver testdata.

Everything here is *derived arithmetic* over the driver-generated tables
(/root/testdata/sf*/…, TESTDATA.md) so that (a) the layers are
bit-reproducible at any scale with no external data, and (b) each
derivation has an exact ANSI-SQL twin that DuckDB can evaluate for the
correctness oracles (both engines do the same IEEE-double ops in the
same order).

Layers (shapes mirror the reference's Providence-RI examples, see
FIXTURES.md §2 and /root/reference/tests/test_assign.py:144-160):

- ``points``       — one geotagged entity per document (plays "blocks").
  lon/lat land strictly inside grid cells (fraction .0005 offsets) so no
  point ever sits on a district boundary.
- ``districts``    — 10°×10° world grid with every 7th cell knocked out,
  so some points/rects are *unassigned* (exercises the NaN/warn path of
  /root/reference/maup/assign.py:29-35).
- ``source_rects`` — a 3°×2° rectangle centered on each point (plays the
  fine source layer for polygon assign/intersections/prorate).
- ``nation_grid``  — 5×5 unit squares keyed by n_nationkey (adjacency
  fixtures; rook/queen neighborhoods are pure index arithmetic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .geom.base import Geometry

# -- point derivation (identical text in Spark SQL and DuckDB SQL) ---------
# Each web page yields ENT_K geotagged entities (north_star: "geotagged
# extracted entities" joined against district layers).  Coordinates are
# double-typed end to end (…e0 literals) so Spark SQL and DuckDB do the
# exact same IEEE-754 ops in the same order → bit-identical coordinates.
import os as _os

# Bench-tunable fan-out (the scaling protocol needs a compute-bound job;
# oracles are derived from the same constant at import, so any value is
# self-consistent — the driver's correctness runs use the default).
ENT_K = int(_os.environ.get("SPARK_GRAFT_ENT_K", "64"))
LON_SQL = "(CAST((entity_id * 48271) % 360000 AS DOUBLE) / 1000.0e0 - 180.0e0 + 0.0005e0)"
LAT_SQL = "(CAST((entity_id * 16807) % 180000 AS DOUBLE) / 1000.0e0 - 90.0e0 + 0.0005e0)"

# -- district grid parameters ----------------------------------------------
D_NX, D_NY = 36, 18  # 10° cells
D_W, D_H = 10.0, 10.0
KNOCKOUT = 7  # cells with (di + dj) % 7 == 0 do not exist

# source rectangle half-extents
RX, RY = 1.5, 1.0

def entity_points(docs: DataFrame) -> DataFrame:
    """ENT_K geotagged entities per document row (maup's "blocks" role):
    (entity_id, doc_id, lon, lat, n_chars).  Shared by the batch and
    streaming paths, so both compute the same coordinates.

    The explode is a JVM-side ``sequence`` — no Python in the fan-out.
    """
    return docs.selectExpr(
        "doc_id", f"explode(sequence(0, {ENT_K - 1})) AS k", "n_chars"
    ).selectExpr(
        f"doc_id * {ENT_K} + k AS entity_id",
        "doc_id",
        f"{LON_SQL.replace('entity_id', f'(doc_id * {ENT_K} + k)')} AS lon",
        f"{LAT_SQL.replace('entity_id', f'(doc_id * {ENT_K} + k)')} AS lat",
        "n_chars",
    )


def points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``entity_points`` over the documents table."""
    # the documents file is a single small parquet -> one scan partition;
    # spread it across the cluster BEFORE the 64× entity fan-out so every
    # downstream map stage (rect build, cover explode, refine) parallelizes
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_part = spark.sparkContext.defaultParallelism
    return entity_points(docs.repartition(n_part))


def points_oracle_cte() -> str:
    return (
        f"SELECT doc_id * {ENT_K} + k AS entity_id, doc_id, "
        f"{LON_SQL.replace('entity_id', f'(doc_id * {ENT_K} + k)')} AS lon, "
        f"{LAT_SQL.replace('entity_id', f'(doc_id * {ENT_K} + k)')} AS lat, "
        "n_chars FROM documents CROSS JOIN "
        f"(SELECT UNNEST(RANGE(0, {ENT_K})) AS k)"
    )


def _rect_wkb(x0: float, y0: float, x1: float, y1: float) -> bytes:
    return Geometry.polygon([(x0, y0), (x1, y0), (x1, y1), (x0, y1)]).wkb



# Per-session memo for driver-built layers: rebuilding a
# createDataFrame layer yields a NEW plan (fresh RDD id) every call,
# which defeats plan-keyed caches downstream (the big-target probe
# cache in operators.spatial) and re-serializes the rows.  One entry
# per (application, layer) — bounded and tiny.
_LAYER_MEMO: dict = {}


def _memo_layer(spark: SparkSession, key: str, build):
    app_id = spark.sparkContext.applicationId
    # evict entries from stopped applications: their DataFrames hold
    # references into dead sessions and can never be reused
    for k in [k for k in _LAYER_MEMO if k[0] != app_id]:
        del _LAYER_MEMO[k]
    k = (app_id, key)
    if k not in _LAYER_MEMO:
        _LAYER_MEMO[k] = build()
    return _LAYER_MEMO[k]


def districts(spark: SparkSession) -> DataFrame:
    """10°×10° world grid districts with deterministic knockouts."""
    return _memo_layer(spark, "districts", lambda: _build_districts(spark))


def _build_districts(spark: SparkSession) -> DataFrame:
    rows = []
    for dj in range(D_NY):
        for di in range(D_NX):
            if (di + dj) % KNOCKOUT == 0:
                continue
            x0, y0 = -180.0 + di * D_W, -90.0 + dj * D_H
            rows.append(
                (
                    dj * D_NX + di,
                    _rect_wkb(x0, y0, x0 + D_W, y0 + D_H),
                    x0,
                    y0,
                    x0 + D_W,
                    y0 + D_H,
                )
            )
    return spark.createDataFrame(
        rows,
        "district_id bigint, geometry binary, "
        "dxmin double, dymin double, dxmax double, dymax double",
    )


def districts_oracle_cte() -> str:
    """Same districts as rect bounds, generated in SQL."""
    return (
        "SELECT (dj * 36 + di) AS district_id, "
        "(-180.0 + di * 10.0) AS x0, (-90.0 + dj * 10.0) AS y0, "
        "(-180.0 + di * 10.0 + 10.0) AS x1, (-90.0 + dj * 10.0 + 10.0) AS y1 "
        "FROM (SELECT UNNEST(RANGE(0, 36)) AS di) "
        "CROSS JOIN (SELECT UNNEST(RANGE(0, 18)) AS dj) "
        f"WHERE (di + dj) % {KNOCKOUT} <> 0"
    )


def source_rects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3°×2° rectangle per point, WKB geometry + bounds columns."""
    from .geom.vector import batch_rect_wkb

    def _rect_batch(x0, y0, x1, y1):
        return batch_rect_wkb(
            x0.to_numpy(), y0.to_numpy(), x1.to_numpy(), y1.to_numpy()
        )

    rect_udf = F.pandas_udf(_rect_batch, "binary").asNondeterministic()

    pts = points(spark, sf_dir)
    return (
        pts.withColumn("x0", F.col("lon") - RX)
        .withColumn("y0", F.col("lat") - RY)
        .withColumn("x1", F.col("lon") + RX)
        .withColumn("y1", F.col("lat") + RY)
        .withColumn("geometry", rect_udf("x0", "y0", "x1", "y1"))
        .select("entity_id", "doc_id", "x0", "y0", "x1", "y1", "geometry", "n_chars")
    )


def source_rects_oracle_cte() -> str:
    return (
        "SELECT entity_id, doc_id, lon - 1.5e0 AS x0, lat - 1.0e0 AS y0, "
        "lon + 1.5e0 AS x1, lat + 1.0e0 AS y1, n_chars "
        f"FROM ({points_oracle_cte()})"
    )


def nation_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5×5 unit-square layer keyed by n_nationkey (adjacency fixture)."""
    return _memo_layer(
        spark, f"nation_grid:{sf_dir}", lambda: _build_nation_grid(spark, sf_dir)
    )


def _build_nation_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet").select("n_nationkey")
    rows = [
        (
            int(k),
            _rect_wkb(k % 5, k // 5, k % 5 + 1, k // 5 + 1),
            float(k % 5),
            float(k // 5),
            float(k % 5 + 1),
            float(k // 5 + 1),
        )
        for (k,) in nat.collect()
    ]
    return spark.createDataFrame(
        rows,
        "nation_id bigint, geometry binary, "
        "nxmin double, nymin double, nxmax double, nymax double",
    )


# -- Common-Crawl-style pages table (input_hint shape) ----------------------
# (url:string, warc_ts:timestamp, html:binary, text:string, lang:string).
# The html payload is a deterministic boilerplate wrapper around the
# escaped document text: every non-text byte (doctype, head, script,
# style, title, comments, attributes, MIXED-case tags) is something the
# extractor (functions.webtext.extract_text) must remove COMPLETELY, so
# extraction recovers the original text byte-for-byte — the per-row
# invariant of the north_star ("byte-identical extracted text per url").

_HTML_PREFIX = (
    '<!DOCTYPE html><HTML lang="en"><head ><META charset="utf-8">'
    "<title>Doc &amp; boilerplate</title>"
    '<script type="text/javascript">if(a<b){track();}</script>'
    '<style media="all">.x>y{color:red}</style></head>'
    '<BODY class="main"><div id="content"><p>'
)
_HTML_SUFFIX = (
    "</p></div><script>trailing();</script>"
    "<!-- boilerplate <p>not text</p> --><footer></footer></BODY></HTML>"
)


def escape_html_text(col) -> "F.Column":
    """HTML-escape a text node: ``&`` FIRST, then ``<`` and ``>`` (the
    inverse of extract_text's entity decode, which does ``&amp;`` LAST)."""
    c = F.replace(col, F.lit("&"), F.lit("&amp;"))
    c = F.replace(c, F.lit("<"), F.lit("&lt;"))
    return F.replace(c, F.lit(">"), F.lit("&gt;"))


def web_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north_star input table, synthesized from documents.parquet.

    Each page carries a deterministic LINK STRUCTURE (empty-anchor
    ``<a href>`` tags, so text extraction stays byte-identical): a
    same-host "next doc" link (doc_id+1) and a link to the global hub
    page ``https://hub.example.com/`` — the hub's indegree equals the
    corpus size, giving the link-graph operators a built-in hot key."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    links = F.concat(
        F.lit('<nav><a href="https://'), F.col("source"),
        F.lit(".example.com/doc/"), (F.col("doc_id") + 1).cast("string"),
        F.lit('"></a><a href="https://hub.example.com/"></a></nav>'),
    )
    html = F.concat(
        F.lit(_HTML_PREFIX), escape_html_text(F.col("text")),
        F.lit("</p>"), links, F.lit("<p>"), F.lit(_HTML_SUFFIX),
    )
    return docs.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id") * 7200).alias(
            "warc_ts"
        ),
        F.encode(html, "UTF-8").alias("html"),
        "text",
        "lang",
    )
