"""Extended query registry: remaining metric kernels, the two-group
statistics over the driver's ``lineitem``/``documents`` tables, spatial
statistics and the zonal roll-ups.

Registered into the same registry as queries.py (imported from there)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .constants import spec_for_sf_dir
from .datagen import oracle_sql as osql
from .datagen import tiles as tgen
from .operators import decode, metrics
from .localdf import local_df
from .queries import q


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ===================================================================
# Remaining metric kernels (SURVEY A7-A9, A13-A16, W1, W2)
# ===================================================================


def _o_proportion(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    return f"""WITH {osql.val_cte(spec)},
t AS (
  SELECT gx, gy,
         CAST(SUM(v) AS DOUBLE) AS total,
         CAST(SUM(CASE WHEN s = 2 THEN v ELSE 0 END) AS DOUBLE) AS v2,
         CAST(SUM(CASE WHEN s IN (1,2) THEN v ELSE 0 END) AS DOUBLE) AS g12
  FROM val GROUP BY gx, gy
)
SELECT gx, gy,
       ROUND(CASE WHEN total > 0 THEN v2 / total ELSE 0 END, 6) AS prop_s2,
       ROUND(CASE WHEN total > 0 THEN v2 / total * 100.0 ELSE 0 END, 6) AS pct_s2,
       ROUND(CASE WHEN total > 0 THEN g12 / total ELSE 0 END, 6) AS prop_grp12
FROM t"""


@q("proportion_pixel", _o_proportion)
def proportion_pixel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pixel species proportion / percentage / group proportion
    (SURVEY A7/A8/A9)."""
    tiles = tgen.ensure_tiles(spark, sf_dir)
    specs = [
        metrics.MetricSpec("prop_s2", "species_proportion", {"species_index": 2}, "double"),
        metrics.MetricSpec("pct_s2", "species_percentage", {"species_index": 2}, "double"),
        metrics.MetricSpec("prop_grp12", "species_group_proportion", {"species_indices": [1, 2]}, "double"),
    ]
    out = metrics.metric_layers(tiles, specs)
    return out.select(
        "gx", "gy",
        F.round("prop_s2", 6).alias("prop_s2"),
        F.round("pct_s2", 6).alias("pct_s2"),
        F.round("prop_grp12", 6).alias("prop_grp12"),
    )


def _o_rare_common(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    return f"""WITH {osql.val_cte(spec)},
freq AS (
  SELECT s, CAST(SUM(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS f
  FROM val GROUP BY s
)
SELECT v.gx AS gx, v.gy AS gy,
       CAST(SUM(CASE WHEN v.v > 0 AND q.f < 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS rare_cnt,
       CAST(SUM(CASE WHEN v.v > 0 AND q.f >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS common_cnt
FROM val v JOIN freq q ON v.s = q.s
GROUP BY v.gx, v.gy"""


@q("rare_common_global", _o_rare_common)
def rare_common_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-scope rare/common species counts (SURVEY A14/A15): two-phase
    distributed frequency aggregate broadcast into the kernel pass."""
    tiles = tgen.ensure_tiles(spark, sf_dir)
    return metrics.rare_common_layers(tiles, rare_threshold=0.05, common_threshold=0.5)


def _o_rare_common_t(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    return f"""WITH {osql.val_cte(spec)},
freq AS (
  SELECT s, CAST(SUM(CASE WHEN v > 5 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS f
  FROM val GROUP BY s
)
SELECT v.gx AS gx, v.gy AS gy,
       CAST(SUM(CASE WHEN v.v > 5 AND q.f < 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS rare_cnt,
       CAST(SUM(CASE WHEN v.v > 5 AND q.f >= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS common_cnt
FROM val v JOIN freq q ON v.s = q.s
GROUP BY v.gx, v.gy"""


@q("rare_common_global_thresholded", _o_rare_common_t)
def rare_common_global_thresholded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-scope rare/common with a non-zero biomass threshold (SURVEY
    A14/A15 at t>0): the census and the per-pixel presence test both use
    v > 5 (species.py:218-234 biomass_threshold semantics)."""
    tiles = tgen.ensure_tiles(spark, sf_dir)
    return metrics.rare_common_layers(
        tiles, rare_threshold=0.05, common_threshold=0.3, biomass_threshold=5.0
    )


def _o_dominance(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    n_px = spec.gw * spec.gh
    return f"""WITH {osql.val_cte(spec)},
m AS (SELECT gx, gy, MAX(v) AS mx FROM val GROUP BY gx, gy),
dom AS (
  SELECT v.gx, v.gy, CASE WHEN m.mx > 0 THEN MIN(v.s) ELSE 0 END AS d
  FROM val v JOIN m ON v.gx = m.gx AND v.gy = m.gy AND v.v = m.mx
  GROUP BY v.gx, v.gy, m.mx
)
SELECT d AS s, ROUND(COUNT(*) * 100.0 / {n_px}.0, 6) AS dominance_pct
FROM dom WHERE d > 0 GROUP BY d"""


@q("dominance_global", _o_dominance)
def dominance_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global dominance % per species (SURVEY A13, global scope)."""
    tiles = tgen.ensure_tiles(spark, sf_dir)
    out = metrics.species_dominance_global(tiles)
    return out.select("s", F.round("dominance_pct", 6).alias("dominance_pct"))


def _o_presence_stats(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    return f"""WITH {osql.val_cte(spec)}
SELECT s,
       CAST(SUM(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_present,
       ROUND(SUM(CASE WHEN v > 0 THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 6) AS coverage_pct,
       ROUND(CAST(SUM(v) AS DOUBLE) / SUM(CASE WHEN v > 0 THEN 1 ELSE 0 END), 6) AS mean_nonzero,
       CAST(MAX(v) AS DOUBLE) AS max_v
FROM val GROUP BY s"""


@q("species_presence_stats", _o_presence_stats)
def species_presence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-species presence report (SURVEY A16): count/coverage/mean/max,
    from per-tile decode partials."""
    tiles = tgen.ensure_tiles(spark, sf_dir)
    st = decode.decode_stats(tiles).filter(F.col("s") > 0)
    return st.groupBy("s").agg(
        F.sum("nonzero").alias("n_present"),
        F.round(F.sum("nonzero") * 100.0 / F.sum("npx"), 6).alias("coverage_pct"),
        F.round(F.sum("vsum") / F.sum("nonzero"), 6).alias("mean_nonzero"),
        F.max("vmax").alias("max_v"),
    )


def _o_top_coverage(sf_dir: str) -> str:
    return f"""WITH base AS ({_o_presence_stats(sf_dir)})
SELECT s, coverage_pct FROM base ORDER BY coverage_pct DESC LIMIT 3"""


@q("top_species_by_coverage", _o_top_coverage)
def top_species_by_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k report (SURVEY W1): species ranked by coverage."""
    return (
        species_presence_stats(spark, sf_dir)
        .select("s", "coverage_pct")
        .orderBy(F.desc("coverage_pct"))
        .limit(3)
    )


def _o_percentile(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    return f"""WITH {osql.val_cte(spec)}
SELECT s, ROUND(quantile_cont(v, 0.02), 6) AS p2, ROUND(quantile_cont(v, 0.98), 6) AS p98
FROM val GROUP BY s"""


@q("percentile_stretch", _o_percentile)
def percentile_stretch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-98 percentile normalization bounds per species (SURVEY W2,
    mapper.py:128-158) — exact percentiles, linear interpolation, computed
    from per-tile bincount histogram partials (functions/histpct.py) so no
    reducer buffers a species' pixel population."""
    from .functions.histpct import hist_percentiles

    tiles = tgen.ensure_tiles(spark, sf_dir)
    hist = decode.value_hist(tiles, species=[1, 2, 3, 4, 5])
    pct = hist_percentiles(hist, ["s"], {"p2": 0.02, "p98": 0.98})
    return pct.select(
        "s", F.round("p2", 6).alias("p2"), F.round("p98", 6).alias("p98")
    )


def _o_sample_diversity(sf_dir: str) -> str:
    return """WITH counts AS (
  SELECT l_orderkey::VARCHAR AS sample_id, l_partkey, CAST(SUM(l_quantity) AS DOUBLE) AS c
  FROM lineitem GROUP BY l_orderkey, l_partkey
),
tot AS (SELECT sample_id, SUM(c) AS tot FROM counts GROUP BY sample_id),
per AS (
  SELECT c.sample_id,
         CAST(SUM(CASE WHEN c.c > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS obs,
         SUM(CASE WHEN c.c = 1 THEN 1 ELSE 0 END)::DOUBLE AS f1,
         SUM(CASE WHEN c.c = 2 THEN 1 ELSE 0 END)::DOUBLE AS f2,
         SUM(CASE WHEN c.c > 0 THEN -(c.c / t.tot) * ln(c.c / t.tot) ELSE 0 END) AS sh,
         -- rational form: exact integer sums -> one exact division
         SUM(c.c * c.c) / (MAX(t.tot) * MAX(t.tot)) AS dom,
         SUM(CASE WHEN c.c > 0 AND c.c <= 10 THEN 1 ELSE 0 END)::DOUBLE AS n_rare,
         SUM(CASE WHEN c.c > 10 THEN 1 ELSE 0 END)::DOUBLE AS n_abund,
         CAST(SUM(CASE WHEN c.c > 0 AND c.c <= 10 THEN c.c ELSE 0 END) AS DOUBLE) AS nrt,
         CAST(SUM(CASE WHEN c.c >= 1 AND c.c <= 10 AND c.c = floor(c.c)
                       THEN c.c * (c.c - 1) ELSE 0 END) AS DOUBLE) AS ace_num
  FROM counts c JOIN tot t ON c.sample_id = t.sample_id
  GROUP BY c.sample_id
),
per2 AS (
  SELECT *, CASE WHEN nrt > 0 THEN 1.0 - (f1 / nrt) ELSE 1.0 END AS c_ace
  FROM per
),
per3 AS (
  SELECT *, CASE WHEN nrt * (nrt - 1) > 0
                 THEN greatest(0.0, (n_rare / c_ace) * (ace_num / (nrt * (nrt - 1))) - 1)
                 ELSE 0.0 END AS gam
  FROM per2
)
SELECT sample_id,
       obs AS richness,
       ROUND(sh, 6) AS shannon,
       ROUND(1.0 - dom, 6) AS simpson,
       ROUND(CASE WHEN obs > 1 THEN sh / ln(obs) ELSE 0 END, 6) AS evenness,
       ROUND(obs + CASE WHEN f2 > 0 THEN f1 * f1 / (2 * f2)
                        WHEN f1 > 0 THEN f1 * (f1 - 1) / 2
                        ELSE 0 END, 6) AS chao1,
       ROUND(CASE WHEN n_rare = 0 THEN n_abund
                  WHEN c_ace > 0 THEN n_abund + n_rare / c_ace + (f1 / c_ace) * gam
                  ELSE n_abund + n_rare END, 6) AS ace
FROM per3"""


@q("sample_diversity", _o_sample_diversity)
def sample_diversity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-level diversity incl. Chao1 + ACE (SURVEY A18;
    statistical_analysis.py:86-192) — each order is a 'sample', parts are
    'species', quantities are counts."""
    from .functions import sample_stats as ss

    li = _t(spark, sf_dir, "lineitem")
    counts = li.groupBy(
        F.col("l_orderkey").cast("string").alias("sample_id"),
        F.col("l_partkey").alias("species"),
    ).agg(F.sum("l_quantity").cast("double").alias("count"))
    out = ss.sample_diversity_expr(counts)
    return out.select(
        "sample_id",
        "richness",
        F.round("shannon", 6).alias("shannon"),
        F.round("simpson", 6).alias("simpson"),
        F.round("evenness", 6).alias("evenness"),
        F.round("chao1", 6).alias("chao1"),
        F.round("ace", 6).alias("ace"),
    )


def _o_point_lookup(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    sf = sf_dir.rstrip("/").rsplit("/", 1)[-1][2:]
    from .datagen import vectors

    n = vectors.N_POINTS.get(sf, 200)
    return f"""WITH {osql.total_cte(spec)},
{osql.points_cte(spec, n)}
SELECT p.point_id AS point_id, CAST(t.v AS DOUBLE) AS v
FROM points p JOIN total t
  ON t.gx = CAST(floor((p.x - {-2000000.0!r}) / 30.0) AS BIGINT)
 AND t.gy = CAST(floor(({-900000.0!r} - p.y) / 30.0) AS BIGINT)"""


@q("point_biomass_lookup", _o_point_lookup)
def point_biomass_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point value lookup (SURVEY S9 / identify_pixel_value): decode only
    the tiles containing query points."""
    spec = spec_for_sf_dir(sf_dir)
    tiles = tgen.ensure_tiles(spark, sf_dir)
    pts = tgen.points_df(spark, sf_dir)
    return decode.point_lookup(pts, tiles, species=0, tile_dims=(spec.tile_w, spec.tile_h))


def _o_bh_fdr(sf_dir: str) -> str:
    return """WITH pv AS (
  SELECT doc_id::VARCHAR AS test_id, ((doc_id * 7919 + 13) % 997) / 997.0 AS p
  FROM documents
),
r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY p, test_id) AS rk, COUNT(*) OVER () AS n FROM pv),
a AS (SELECT *, least(1.0, p * n / rk) AS adj0 FROM r)
SELECT test_id, p,
       ROUND(MIN(adj0) OVER (ORDER BY p, test_id
                             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), 6) AS p_adj
FROM a"""


@q("bh_fdr", _o_bh_fdr)
def bh_fdr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR correction (SURVEY W5) over deterministic
    synthetic p-values."""
    from .functions import sample_stats as ss

    docs = _t(spark, sf_dir, "documents")
    pv = docs.select(
        F.col("doc_id").cast("string").alias("test_id"),
        (((F.col("doc_id") * 7919 + 13) % 997) / 997.0).alias("p"),
    )
    out = ss.bh_fdr(pv)
    return out.select("test_id", "p", F.round("p_adj", 6).alias("p_adj"))


def _o_cliffs(sf_dir: str) -> str:
    return """WITH v AS (
  SELECT l_returnflag AS g, l_quantity AS q FROM lineitem
  WHERE l_orderkey < 400 AND l_returnflag <> 'N'
)
SELECT 'A' AS group_a, 'R' AS group_b,
       (SUM(CASE WHEN a.q > b.q THEN 1 ELSE 0 END)
        - SUM(CASE WHEN a.q < b.q THEN 1 ELSE 0 END)) / COUNT(*)::DOUBLE AS delta,
       COUNT(*)::BIGINT AS n_pairs
FROM (SELECT q FROM v WHERE g = 'A') a, (SELECT q FROM v WHERE g = 'R') b"""


@q("cliffs_delta", _o_cliffs)
def cliffs_delta_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta effect size via crossJoin pair counting (SURVEY J6)."""
    from .functions import sample_stats as ss

    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_orderkey") < 400) & (F.col("l_returnflag") != "N")
    )
    return ss.cliffs_delta(
        li.select(F.col("l_returnflag").alias("g"), F.col("l_quantity").alias("q")),
        "g",
        "q",
    )


def _o_mann_whitney(sf_dir: str) -> str:
    # identical expression ORDER as the engine: exact-half u1/mu, one
    # division per term, A&S erf polynomial for the normal CDF (DuckDB has
    # no erf); 6dp rounding absorbs engine exp() ulp differences
    return """WITH v AS (
  SELECT l_returnflag AS g, l_quantity AS q FROM lineitem
  WHERE l_orderkey < 400 AND l_returnflag <> 'N'
),
r AS (SELECT g, q, rank() OVER (ORDER BY q) AS rk,
             COUNT(*) OVER (PARTITION BY q) AS tv FROM v),
s AS (SELECT SUM(CASE WHEN g = 'A' THEN rk + (tv - 1) / 2.0 ELSE 0 END) AS r1,
             SUM(CASE WHEN g = 'A' THEN 1 ELSE 0 END)::BIGINT AS n1,
             COUNT(*)::BIGINT AS n
      FROM r),
t AS (SELECT SUM(tv * tv * tv - tv) AS ties
      FROM (SELECT COUNT(*)::DOUBLE AS tv FROM v GROUP BY q)),
u AS (SELECT n1, n - n1 AS n2, n,
             r1 - n1 * (n1 + 1) / 2.0 AS u1,
             n1 * (n - n1) / 2.0 AS mu,
             n1 * (n - n1) / 12.0 * ((n + 1) - t.ties / (n * (n - 1))) AS var
      FROM s, t),
z AS (SELECT n1, n2, u1, n1 * n2 - u1 AS u2,
             CASE WHEN var <= 0 THEN 0.0
                  WHEN u1 > mu THEN (u1 - mu - 0.5) / sqrt(var)
                  WHEN u1 < mu THEN (u1 - mu + 0.5) / sqrt(var)
                  ELSE 0.0 END AS z
      FROM u),
p AS (SELECT *, abs(z) / sqrt(2.0) AS x, 1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))) AS tt
      FROM z)
SELECT 'A' AS group_a, 'R' AS group_b, n1, n2, u1, u2,
       ROUND(z, 6) AS z,
       ROUND(LEAST(1.0, 2.0 * (1.0 - (0.5 * (1.0 + (1.0 - (0.254829592 * tt
             - 0.284496736 * tt * tt + 1.421413741 * tt * tt * tt
             - 1.453152027 * tt * tt * tt * tt
             + 1.061405429 * tt * tt * tt * tt * tt) * exp(-x * x)))))), 6)
         AS p_norm
FROM p"""


@q("mann_whitney", _o_mann_whitney)
def mann_whitney_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test between two lineitem return-flag groups
    (ref statistical_analysis.py:340-361) — distributed rank formulation:
    value-histogram ranks, no per-group value buffering."""
    from .functions import sample_stats as ss

    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_orderkey") < 400) & (F.col("l_returnflag") != "N")
    )
    out = ss.mann_whitney_u(
        li.select(F.col("l_returnflag").alias("g"), F.col("l_quantity").alias("q")),
        "g",
        "q",
    )
    return out.select(
        "group_a", "group_b", "n1", "n2", "u1", "u2",
        F.round("z", 6).alias("z"), F.round("p_norm", 6).alias("p_norm"),
    )


def _o_cohens_d(sf_dir: str) -> str:
    return """WITH v AS (
  SELECT l_returnflag AS g, l_quantity AS q FROM lineitem
  WHERE l_orderkey < 400 AND l_returnflag <> 'N'
),
per AS (SELECT g, COUNT(*)::BIGINT AS n, AVG(q) AS mean, VAR_SAMP(q) AS var
        FROM v GROUP BY g),
ab AS (SELECT a.n AS n1, b.n AS n2, a.mean - b.mean AS mean_diff,
              ((a.n - 1) * a.var + (b.n - 1) * b.var) / (a.n + b.n - 2) AS sp2
       FROM (SELECT * FROM per WHERE g = 'A') a,
            (SELECT * FROM per WHERE g = 'R') b)
SELECT 'A' AS group_a, 'R' AS group_b, n1, n2,
       ROUND(mean_diff, 6) AS mean_diff,
       ROUND(CASE WHEN sp2 > 0 THEN mean_diff / sqrt(sp2) ELSE 0.0 END, 6) AS d
FROM ab"""


@q("cohens_d", _o_cohens_d)
def cohens_d_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d pooled-SD effect size (ref statistical_analysis.py:507-540)
    over the same two-group comparison battery as mann_whitney/cliffs_delta."""
    from .functions import sample_stats as ss

    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_orderkey") < 400) & (F.col("l_returnflag") != "N")
    )
    out = ss.cohens_d(
        li.select(F.col("l_returnflag").alias("g"), F.col("l_quantity").alias("q")),
        "g",
        "q",
    )
    return out.select(
        "group_a", "group_b", "n1", "n2",
        F.round("mean_diff", 6).alias("mean_diff"), F.round("d", 6).alias("d"),
    )


def _o_rare_common_tile(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    tw, th = spec.tile_w, spec.tile_h
    return f"""WITH {osql.val_cte(spec)},
freq AS (
  SELECT s, gx // {tw} AS tx, gy // {th} AS ty,
         CAST(SUM(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS f
  FROM val GROUP BY s, gx // {tw}, gy // {th}
)
SELECT v.gx AS gx, v.gy AS gy,
       CAST(SUM(CASE WHEN v.v > 0 AND q.f < 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS rare_cnt,
       CAST(SUM(CASE WHEN v.v > 0 AND q.f >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS common_cnt
FROM val v JOIN freq q
  ON v.s = q.s AND v.gx // {tw} = q.tx AND v.gy // {th} = q.ty
GROUP BY v.gx, v.gy"""


@q("rare_common_tile_scope", _o_rare_common_tile)
def rare_common_tile_scope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile-scope rare/common (SURVEY §3.1: the reference computes
    occurrence frequencies per CHUNK — this mode matches it bit-for-bit;
    rare_common_global is the distributed-global variant)."""
    tiles = tgen.ensure_tiles(spark, sf_dir)
    specs = [
        metrics.MetricSpec("rare_cnt", "rare_species", {"occurrence_threshold": 0.05}, "long"),
        metrics.MetricSpec("common_cnt", "common_species", {"occurrence_threshold": 0.5}, "long"),
    ]
    return metrics.metric_layers(tiles, specs)


def _o_morans(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    tw, th = spec.tile_w, spec.tile_h
    return f"""WITH {osql.val_cte(spec)},
tilev AS (
  SELECT gx // {tw} AS tx, gy // {th} AS ty, CAST(SUM(v) AS DOUBLE) AS x
  FROM val GROUP BY gx // {tw}, gy // {th}
),
st AS (SELECT COUNT(*)::DOUBLE AS n, AVG(x) AS m FROM tilev),
zt AS (SELECT tx, ty, x - (SELECT m FROM st) AS z FROM tilev),
offs(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),(1,-1),(1,0),(1,1)),
nbp AS (
  SELECT a.tx, a.ty, b.tx AS ntx, b.ty AS nty, a.z AS zi, b.z AS zj
  FROM zt a CROSS JOIN offs o JOIN zt b
    ON b.tx = a.tx + o.dx AND b.ty = a.ty + o.dy
),
deg AS (SELECT tx, ty, COUNT(*)::DOUBLE AS k FROM nbp GROUP BY tx, ty),
wk AS (
  SELECT p.*, di.k AS k, dj.k AS kj
  FROM nbp p JOIN deg di ON p.tx = di.tx AND p.ty = di.ty
             JOIN deg dj ON p.ntx = dj.tx AND p.nty = dj.ty
),
terms AS (
  SELECT SUM(zi * zj / k) AS num, SUM(1.0 / k) AS s0,
         SUM((1.0 / k + 1.0 / kj) * (1.0 / k + 1.0 / kj)) * 0.5 AS s1
  FROM wk
),
cs AS (SELECT tx, ty, SUM(1.0 / kj) AS colsum FROM wk GROUP BY tx, ty),
s2t AS (SELECT SUM((1.0 + colsum) * (1.0 + colsum)) AS s2 FROM cs),
den AS (SELECT SUM(z * z) AS denom FROM zt),
fin AS (
  SELECT (st.n / t.s0) * t.num / d.denom AS i,
         -1.0 / (st.n - 1) AS ei,
         (st.n * st.n * t.s1 - st.n * s2t.s2 + 3 * t.s0 * t.s0)
           / ((st.n * st.n - 1) * t.s0 * t.s0)
           - (-1.0 / (st.n - 1)) * (-1.0 / (st.n - 1)) AS vi
  FROM st, terms t, s2t, den d
)
SELECT ROUND(i, 6) AS morans_i, ROUND(ei, 6) AS expected_i,
       ROUND(vi, 6) AS variance_i, ROUND((i - ei) / sqrt(vi), 6) AS z_score
FROM fin"""


@q("morans_i", _o_morans)
def morans_i_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global Moran's I of per-tile total biomass (spatial autocorrelation,
    statistical_analysis.py:619-658; Queen weights, row-standardized)."""
    from .functions import spatial_stats

    tiles = tgen.ensure_tiles(spark, sf_dir)
    st = decode.decode_stats(tiles).filter(F.col("s") == 0)
    units = st.select(
        F.regexp_extract("image_id", r"_tx(\d+)_", 1).cast("int").alias("tx"),
        F.regexp_extract("image_id", r"_ty(\d+)$", 1).cast("int").alias("ty"),
        F.col("vsum").alias("value"),
    )
    r = spatial_stats.morans_i(units)
    return local_df(
        spark,
        [(round(r["morans_i"], 6), round(r["expected_i"], 6),
          round(r["variance_i"], 6), round(r["z_score"], 6))],
        "morans_i double, expected_i double, variance_i double, z_score double",
    )


def _o_clip(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    tw, th = spec.tile_w, spec.tile_h
    from .datagen import vectors

    c11 = next(p for p in vectors.county_grid(spec) if p.poly_id == "C11")
    xmin, ymin, xmax, ymax = c11.bounds
    return f"""WITH {osql.total_cte(spec)}
SELECT printf('sp0000_tx%03d_ty%03d', (gx // {tw})::INT, (gy // {th})::INT) AS image_id,
       CAST(SUM(CASE WHEN x > {xmin!r} AND x < {xmax!r}
                      AND y > {ymin!r} AND y < {ymax!r} THEN v ELSE 0 END) AS DOUBLE) AS vsum,
       CAST(SUM(CASE WHEN x > {xmin!r} AND x < {xmax!r}
                      AND y > {ymin!r} AND y < {ymax!r} AND v > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonzero
FROM total
GROUP BY gx // {tw}, gy // {th}
HAVING SUM(CASE WHEN x > {xmin!r} AND x < {xmax!r}
                 AND y > {ymin!r} AND y < {ymax!r} THEN 1 ELSE 0 END) > 0"""


@q("clip_tile_sums", _o_clip)
def clip_tile_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary clip to county C11 (SURVEY J3): clipped tile rows ->
    per-tile stats of the clipped raster."""
    from .operators import zonal

    tiles = tgen.ensure_tiles(spark, sf_dir)
    polys = tgen.polygons_df(spark, sf_dir)
    clipped = zonal.clip_to_polygon(tiles, polys, "C11", species=0)
    st = decode.decode_stats(clipped)
    return st.select("image_id", "vsum", "nonzero")


def _o_perm_test(sf_dir: str) -> str:
    return """WITH base AS (
  SELECT l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR || '-' ||
         l_partkey::VARCHAR || '-' || l_suppkey::VARCHAR || '-' ||
         CAST(l_quantity AS BIGINT)::VARCHAR AS rid,
         CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END AS is_a,
         l_quantity::DOUBLE AS v
  FROM lineitem WHERE l_orderkey < 200 AND l_returnflag <> 'N'
),
st AS (
  SELECT SUM(is_a) AS n1,
         SUM(v * is_a) / SUM(is_a) - SUM(v * (1 - is_a)) / SUM(1 - is_a) AS obs
  FROM base
),
lab AS (
  SELECT p.perm, b.v,
         CASE WHEN ROW_NUMBER() OVER (
                PARTITION BY p.perm
                ORDER BY md5(p.perm::VARCHAR || '_' || b.rid)
              ) <= (SELECT n1 FROM st) THEN 1 ELSE 0 END AS pa
  FROM base b CROSS JOIN (SELECT i AS perm FROM generate_series(0, 499) t(i)) p
),
per AS (
  SELECT perm,
         SUM(v * pa) / SUM(pa) - SUM(v * (1 - pa)) / SUM(1 - pa) AS diff
  FROM lab GROUP BY perm
)
SELECT ROUND((SELECT obs FROM st), 6) AS obs_diff,
       500::BIGINT AS n_perm,
       CAST(SUM(CASE WHEN abs(diff) >= abs((SELECT obs FROM st)) THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
       ROUND((1 + SUM(CASE WHEN abs(diff) >= abs((SELECT obs FROM st)) THEN 1 ELSE 0 END)) / 501.0, 6) AS p_value
FROM per"""


@q("permutation_test", _o_perm_test)
def permutation_test_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-group permutation test with engine-portable md5-ordered label
    shuffles (the reference's ProcessPool permutation machinery,
    parallel_processing.py:414, as one distributed job)."""
    from .functions import sample_stats as ss

    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_orderkey") < 200) & (F.col("l_returnflag") != "N")
    )
    # rid must be UNIQUE: md5 sort-key ties break engine-dependently
    # ((l_orderkey, l_linenumber) alone is not unique in this data)
    df = li.select(
        F.concat_ws(
            "-", "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
            F.col("l_quantity").cast("long"),
        ).alias("rid"),
        F.col("l_returnflag").alias("g"),
        F.col("l_quantity").alias("v"),
    )
    out = ss.permutation_test(df, "g", "v", "rid", n_perm=500)
    return out.select(
        F.round("obs_diff", 6).alias("obs_diff"),
        "n_perm",
        "n_extreme",
        F.round("p_value", 6).alias("p_value"),
    )


def _o_zonal_rollup(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    return f"""WITH {osql.val_cte(spec)},
allpx AS (
  SELECT s, gx, gy, v,
         {osql.X0_SQL} + gx*30.0 + 15.0 AS x,
         {osql.Y0_SQL} - gy*30.0 - 15.0 AS y
  FROM val
),
{osql.counties_cte(spec)},
joined AS (
  SELECT c.poly_id, p.s, p.v
  FROM allpx p JOIN counties c
    ON p.x > c.xmin AND p.x < c.xmax AND p.y > c.ymin AND p.y < c.ymax
)
SELECT COALESCE(poly_id, 'ALL') AS poly_id,
       COALESCE(s::VARCHAR, 'ALL') AS s,
       CAST(SUM(v) AS DOUBLE) AS sum_v,
       COUNT(*)::BIGINT AS n_px
FROM joined GROUP BY ROLLUP (poly_id, s)"""


@q("zonal_rollup", _o_zonal_rollup)
def zonal_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level zonal aggregation via ROLLUP: per (county, species),
    per-county subtotals, and the grand total in one pass."""
    from .operators import zonal

    tiles = tgen.ensure_tiles(spark, sf_dir)
    polys = tgen.polygons_df(spark, sf_dir).filter(F.col("is_rect"))
    from . import grid
    from .constants import PIX

    res = grid.res_for_size(spec_for_sf_dir(sf_dir).tile_w * PIX * 2)
    # species layers 1..5 only (exclude the precomputed total layer)
    species_tiles = tiles.filter(~F.col("image_id").startswith("sp0000"))
    part = zonal.zonal_stats(species_tiles, polys, species=None, res=res)
    return (
        part.rollup("poly_id", "s")
        .agg(F.sum("sum_v").alias("sum_v"), F.sum("n_px").alias("n_px"))
        .select(
            F.coalesce(F.col("poly_id"), F.lit("ALL")).alias("poly_id"),
            F.coalesce(F.col("s").cast("string"), F.lit("ALL")).alias("s"),
            "sum_v",
            "n_px",
        )
    )


def _o_zonal_pivot(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    return f"""WITH {osql.val_cte(spec)},
allpx AS (
  SELECT s, v,
         {osql.X0_SQL} + gx*30.0 + 15.0 AS x,
         {osql.Y0_SQL} - gy*30.0 - 15.0 AS y
  FROM val
),
{osql.counties_cte(spec)}
SELECT c.poly_id AS poly_id,
       CAST(SUM(CASE WHEN s = 1 THEN v ELSE 0 END) AS DOUBLE) AS sp1,
       CAST(SUM(CASE WHEN s = 2 THEN v ELSE 0 END) AS DOUBLE) AS sp2,
       CAST(SUM(CASE WHEN s = 3 THEN v ELSE 0 END) AS DOUBLE) AS sp3,
       CAST(SUM(CASE WHEN s = 4 THEN v ELSE 0 END) AS DOUBLE) AS sp4,
       CAST(SUM(CASE WHEN s = 5 THEN v ELSE 0 END) AS DOUBLE) AS sp5
FROM allpx p JOIN counties c
  ON p.x > c.xmin AND p.x < c.xmax AND p.y > c.ymin AND p.y < c.ymax
GROUP BY c.poly_id"""


@q("zonal_pivot", _o_zonal_pivot)
def zonal_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Species-as-columns zonal matrix via the pivot operator (counties x
    species biomass sums)."""
    from . import grid
    from .constants import PIX
    from .operators import zonal

    tiles = tgen.ensure_tiles(spark, sf_dir)
    polys = tgen.polygons_df(spark, sf_dir).filter(F.col("is_rect"))
    res = grid.res_for_size(spec_for_sf_dir(sf_dir).tile_w * PIX * 2)
    species_tiles = tiles.filter(~F.col("image_id").startswith("sp0000"))
    part = zonal.zonal_stats(species_tiles, polys, species=None, res=res)
    return (
        part.groupBy("poly_id")
        .pivot("s", [1, 2, 3, 4, 5])
        .agg(F.sum("sum_v"))
        .select(
            "poly_id",
            *[F.coalesce(F.col(str(i)), F.lit(0.0)).alias(f"sp{i}") for i in range(1, 6)],
        )
    )


# IO roundtrip registry (ingest/sink/manifest/streaming) — imported last so
# its @q registrations land in the shared registry
from . import queries_io  # noqa: E402,F401
