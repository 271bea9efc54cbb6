"""ML scoring (U10/U11, C17): URL features and exactly-fit linear models.

The reference blends a heuristic score with a GradientBoosting/XGBoost model
over URL features + MiniLM embeddings (ml/url_prioritizer.py:78-193, blend
0.7/0.3 at :175) and a zero-shot + RandomForest content classifier
(ml/content_classifier.py:66-165).  Torch/sklearn are not in this sandbox, so
the engine ships the **feature extraction as native Column expressions**
(``url_feature_cols``, q41) and the model family that trains exactly inside
Spark: least squares from one aggregate of integer sufficient statistics
(``fit_ols2`` / ``fit_ols3``, q42/q53), blended by ``blended_score``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# URL feature flags (ml/url_prioritizer.py:28-34, 82-95)
URL_FEATURE_PATTERNS = {
    "has_date": r"/\d{4}/\d{2}",
    "is_pagination": r"/page/\d+",
    "has_keywords": r"article|blog|news|post",
    "has_extension": r"\.[a-z0-9]{2,4}$",
    "has_query": r"\?",
}


def url_feature_cols(url: Column) -> dict[str, Column]:
    """C17 feature flags + scalar URL features, all JVM-side."""
    lower = F.lower(url)
    path = F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit("/"))
    feats: dict[str, Column] = {
        name: lower.rlike(pat).cast("int") for name, pat in URL_FEATURE_PATTERNS.items()
    }
    feats["url_len"] = F.length(url).cast("int")
    feats["path_depth"] = F.size(
        F.filter(F.split(path, "/"), lambda x: x != F.lit(""))
    )
    return feats


# ---------------------------------------------------------------------------
# training path (U10/U11): closed-form OLS from one distributed pass of
# sufficient statistics.  The reference trains GradientBoosting/XGBoost on URL
# features offline (ml/url_prioritizer.py:195-311); sklearn is not in this
# sandbox, so the engine ships the model family that IS trainable exactly at
# 100 TB inside Spark: linear least squares via the normal equations, whose
# sufficient statistics (means and second moments) are a single map-side-
# combinable aggregate — no toPandas, no iteration, no driver-side data.
# ---------------------------------------------------------------------------
def ols2_coeffs_from_sums(
    n: int, s1: int, s2: int, sy: int, s11: int, s12: int, s22: int,
    s1y: int, s2y: int,
) -> dict[str, float]:
    """Coefficients from EXACT integer sufficient statistics.  Kept as a pure
    function so the DuckDB oracle SQL can mirror the identical double-op
    sequence (same IEEE operand order → bit-identical coefficients and
    predictions — float partial-agg order never enters, because the sums are
    exact integers)."""
    m1 = s1 / n
    m2 = s2 / n
    my = sy / n
    c11 = s11 / n - m1 * m1
    c12 = s12 / n - m1 * m2
    c22 = s22 / n - m2 * m2
    c1y = s1y / n - m1 * my
    c2y = s2y / n - m2 * my
    det = c11 * c22 - c12 * c12
    b1 = (c22 * c1y - c12 * c2y) / det
    b2 = (c11 * c2y - c12 * c1y) / det
    return {"intercept": my - b1 * m1 - b2 * m2, "b1": b1, "b2": b2}


def fit_ols2(df: DataFrame, f1: str, f2: str, label: str) -> dict[str, float]:
    """Exact 2-feature OLS (intercept + β1·f1 + β2·f2) via the normal
    equations.  Inputs must be INTEGER-valued columns (scale fixed-point
    labels up, e.g. price cents) so the one-pass sufficient statistics are
    exact longs — map-side combinable, order-independent, reproducible."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(f1).cast("long")).alias("s1"),
        F.sum(F.col(f2).cast("long")).alias("s2"),
        F.sum(F.col(label).cast("long")).alias("sy"),
        F.sum((F.col(f1) * F.col(f1)).cast("long")).alias("s11"),
        F.sum((F.col(f1) * F.col(f2)).cast("long")).alias("s12"),
        F.sum((F.col(f2) * F.col(f2)).cast("long")).alias("s22"),
        F.sum((F.col(f1) * F.col(label)).cast("long")).alias("s1y"),
        F.sum((F.col(f2) * F.col(label)).cast("long")).alias("s2y"),
    ).collect()[0]
    return ols2_coeffs_from_sums(
        r["n"], r["s1"], r["s2"], r["sy"], r["s11"], r["s12"], r["s22"],
        r["s1y"], r["s2y"],
    )


def ols3_coeffs_from_sums(
    n: int, s1: int, s2: int, s3: int, sy: int,
    s11: int, s12: int, s13: int, s22: int, s23: int, s33: int,
    s1y: int, s2y: int, s3y: int,
) -> dict[str, float]:
    """3-feature OLS from exact integer sufficient statistics — Cramer's
    rule on the centered 3×3 normal matrix.  Every double op below is
    mirrored verbatim in the q53 oracle SQL (same operand order → identical
    IEEE results), so coefficients and predictions are bit-identical.
    The third regressor slot is how U10 takes an EMBEDDING feature next to
    the scalar URL features (ml/url_prioritizer.py:157-162 concatenates a
    MiniLM vector; fixed-point quantization keeps the statistics exact)."""
    m1 = s1 / n
    m2 = s2 / n
    m3 = s3 / n
    my = sy / n
    c11 = s11 / n - m1 * m1
    c12 = s12 / n - m1 * m2
    c13 = s13 / n - m1 * m3
    c22 = s22 / n - m2 * m2
    c23 = s23 / n - m2 * m3
    c33 = s33 / n - m3 * m3
    c1y = s1y / n - m1 * my
    c2y = s2y / n - m2 * my
    c3y = s3y / n - m3 * my
    det = (
        c11 * (c22 * c33 - c23 * c23)
        - c12 * (c12 * c33 - c23 * c13)
        + c13 * (c12 * c23 - c22 * c13)
    )
    b1 = (
        c1y * (c22 * c33 - c23 * c23)
        - c12 * (c2y * c33 - c23 * c3y)
        + c13 * (c2y * c23 - c22 * c3y)
    ) / det
    b2 = (
        c11 * (c2y * c33 - c23 * c3y)
        - c1y * (c12 * c33 - c23 * c13)
        + c13 * (c12 * c3y - c2y * c13)
    ) / det
    b3 = (
        c11 * (c22 * c3y - c2y * c23)
        - c12 * (c12 * c3y - c2y * c13)
        + c1y * (c12 * c23 - c22 * c13)
    ) / det
    return {
        "intercept": my - b1 * m1 - b2 * m2 - b3 * m3,
        "b1": b1, "b2": b2, "b3": b3,
    }


def fit_ols3(df: DataFrame, f1: str, f2: str, f3: str, label: str) -> dict[str, float]:
    """Exact 3-feature OLS — one map-side-combinable aggregate of integer
    sums (see fit_ols2); inputs must be integer-valued columns."""
    cols = {"f1": F.col(f1), "f2": F.col(f2), "f3": F.col(f3), "y": F.col(label)}
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum((cols[a] * cols[b]).cast("long")).alias(f"s{a[-1]}{b[-1]}")
            for a, b in (
                ("f1", "f1"), ("f1", "f2"), ("f1", "f3"), ("f2", "f2"),
                ("f2", "f3"), ("f3", "f3"), ("f1", "y"), ("f2", "y"),
                ("f3", "y"),
            )
        ],
        *[F.sum(cols[a].cast("long")).alias(f"s{a[-1]}") for a in ("f1", "f2", "f3", "y")],
    ).collect()[0]
    return ols3_coeffs_from_sums(
        r["n"], r["s1"], r["s2"], r["s3"], r["sy"],
        r["s11"], r["s12"], r["s13"], r["s22"], r["s23"], r["s33"],
        r["s1y"], r["s2y"], r["s3y"],
    )


def ols3_predict_col(
    coef: dict[str, float], f1: Column, f2: Column, f3: Column
) -> Column:
    return (
        F.lit(coef["intercept"])
        + F.lit(coef["b1"]) * f1
        + F.lit(coef["b2"]) * f2
        + F.lit(coef["b3"]) * f3
    )


def ols2_predict_col(coef: dict[str, float], f1: Column, f2: Column) -> Column:
    return (
        F.lit(coef["intercept"]) + F.lit(coef["b1"]) * f1 + F.lit(coef["b2"]) * f2
    )


def blended_score(heuristic: Column, ml_score: Column) -> Column:
    """0.7 × heuristic + 0.3 × model (ml/url_prioritizer.py:175)."""
    return heuristic * 0.7 + ml_score * 0.3

