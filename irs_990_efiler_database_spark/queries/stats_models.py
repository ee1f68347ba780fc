"""Model-fitting / learning-adjacent statistical operators (round-11
split of the 2,400-line stats_ops module: this file carries the
model-side sub-family — signSGD text classifier, closed-form ridge,
model-quality document filter, one-way ANOVA, difference-in-
differences, negative-binomial moments fit, calibration ECE,
Benjamini-Hochberg FDR, distribution-free median CI. stats_ops keeps
the classical-test/sampling sub-family and re-exports this module, so
registered names and import paths are unchanged.)

Determinism rules (see queries/__init__.py): every moment is
accumulated in DECIMAL fixed-point (associative, order-free) and cast
to DOUBLE only in the final per-row projection, so the value hash
matches the DuckDB oracle on any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from . import register



# ---------------------------------------------------------------------------
# signSGD distributed classifier (integer-exact logistic training)
# ---------------------------------------------------------------------------

_SGN_B = 64      # hashed feature buckets
_SGN_ITERS = 3   # full-batch sign-gradient steps


def _signgd_iter_sql(i: int) -> str:
    """One unrolled signSGD iteration: score -> hard-sigmoid error ->
    per-bucket gradient -> 1-unit sign update."""
    return f"""
    z{i} AS (
      SELECT f.doc_id, f.y, SUM(w{i - 1}.w * f.x) AS z
      FROM feat f JOIN w{i - 1} USING (bucket) GROUP BY 1, 2
    ),
    e{i} AS (
      SELECT doc_id,
             LEAST(GREATEST(5000 + 125 * z, 0), 10000) - 10000 * y AS err
      FROM z{i}
    ),
    g{i} AS (
      SELECT f.bucket, SUM(e.err * f.x) AS g
      FROM feat f JOIN e{i} e USING (doc_id) GROUP BY 1
    ),
    w{i} AS (
      SELECT w{i - 1}.bucket,
             w{i - 1}.w - CASE WHEN COALESCE(g{i}.g, 0) > 0 THEN 1
                               WHEN COALESCE(g{i}.g, 0) < 0 THEN -1
                               ELSE 0 END AS w
      FROM w{i - 1} LEFT JOIN g{i} USING (bucket)
    )"""


_SIGNGD_ORACLE = f"""
    WITH words AS (
      SELECT doc_id,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
      FROM documents
    ),
    feat AS (
      SELECT doc_id, y,
             CAST(concat('0x', substring(md5(w), 1, 8)) AS BIGINT)
               % {_SGN_B} AS bucket,
             COUNT(*) AS x
      FROM words GROUP BY 1, 2, 3
    ),
    w0 AS (
      SELECT i AS bucket, CAST(0 AS BIGINT) AS w
      FROM unnest(generate_series(0, {_SGN_B - 1})) g(i)
    ),{",".join(_signgd_iter_sql(i) for i in range(1, _SGN_ITERS + 1))},
    zf AS (
      SELECT f.doc_id, f.y, SUM(w{_SGN_ITERS}.w * f.x) AS z
      FROM feat f JOIN w{_SGN_ITERS} USING (bucket) GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(y AS INT) AS label,
           CAST(z AS BIGINT) AS score_u,
           CAST(CASE WHEN z > 0 THEN 1 ELSE 0 END AS INT) AS pred_label,
           CAST(CASE WHEN (z > 0) = (y = 1) THEN 1 ELSE 0 END AS INT)
             AS correct
    FROM zf
"""


def _sgn(c):
    return (
        F.when(c > 0, F.lit(1)).when(c < 0, F.lit(-1)).otherwise(F.lit(0))
    )


@register("stat_signgd_text_classifier", oracle=_SIGNGD_ORACLE)
def stat_signgd_text_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed text-quality classifier trained with signSGD
    (Bernstein et al. 2018) — the communication-efficient variant of
    full-batch gradient descent where each step transmits ONE SIGN BIT
    per weight. Logistic model over {_SGN_B} hashed unigram-count
    features (the fastText / hashing-trick shape), hard-sigmoid link,
    target = (lang = 'en').

    Everything is INTEGER arithmetic: probabilities live in 1e-4 units
    (hard sigmoid = clamp(5000 + 125*z_u, 0, 10000) with weights in
    0.05 units), gradients are exact integer sums, and the update is
    w -= sign(g) — so the trained weights and every document score are
    bit-exact on any engine, any partitioning, any summation order.
    Scale shape per iteration: score = feat ⋈ broadcast(64-row weight
    frame) + map-side-combined doc aggregation; gradient = one shuffle
    join of the error frame back to feat on doc_id + a 64-group
    aggregation. Nothing ever collects to the driver; iteration count
    is the only serial dimension (the signSGD paper's point: the
    all-reduce payload is {_SGN_B} sign bits)."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w"),
    )
    bucket = (
        F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long") % _SGN_B
    )
    from ..caching import tracked_persist

    # ONE shuffle establishes the doc_id partitioning; every
    # iteration's score aggregation AND gradient join then reuse it
    # (the unpartitioned form re-shuffled the feature frame per
    # iteration — measured 3.5 MB shuffled over 3 iterations at sf0.1
    # vs ~1 MB after, tools/shuffle_budget.py). y rides along via
    # max() — constant per doc, so the aggregate stays deterministic.
    feat = tracked_persist(
        words.groupBy("doc_id", "y", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("x"))
        .repartition("doc_id")
    )
    w = spark.range(_SGN_B).select(
        F.col("id").alias("bucket"), F.lit(0).cast("long").alias("w")
    )
    for _ in range(_SGN_ITERS):
        z = (
            feat.join(F.broadcast(w), "bucket")
            .groupBy("doc_id")
            .agg(
                F.max("y").alias("y"),
                F.sum(F.col("w") * F.col("x")).alias("z"),
            )
        )
        err = z.select(
            "doc_id",
            (
                F.least(
                    F.greatest(F.lit(5000) + 125 * F.col("z"), F.lit(0)),
                    F.lit(10000),
                )
                - 10000 * F.col("y")
            ).alias("err"),
        )
        g = (
            feat.join(err, "doc_id")
            .groupBy("bucket")
            .agg(F.sum(F.col("err") * F.col("x")).alias("g"))
        )
        w = (
            w.join(g, "bucket", "left")
            .select(
                "bucket",
                (F.col("w") - _sgn(F.coalesce(F.col("g"), F.lit(0))))
                .cast("long")
                .alias("w"),
            )
        )
        # persist the 64-row weight frame each step: w_{i-1} appears in
        # BOTH the scoring broadcast and the update join, so unpersisted
        # the weight lineage doubles per iteration (w0 evaluated 2^ITERS
        # times — measured superlinear growth, +0.65/+0.72/+1.29 s per
        # added iteration at sf0.1). Persisting truncates the recursion
        # at 64 rows per step; values are integer-exact either way.
        w = tracked_persist(w)
    zf = (
        feat.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(
            F.max("y").alias("y"),
            F.sum(F.col("w") * F.col("x")).alias("z"),
        )
    )
    return zf.select(
        "doc_id",
        F.col("y").cast("int").alias("label"),
        F.col("z").cast("long").alias("score_u"),
        (F.col("z") > 0).cast("int").alias("pred_label"),
        ((F.col("z") > 0) == (F.col("y") == 1)).cast("int").alias("correct"),
    )


# ---------------------------------------------------------------------------
# Ridge regression, closed form (exact integer moments + Cramer's rule)
# ---------------------------------------------------------------------------

_RIDGE_LAMBDA = 10000


def _det3(a, b, c, d, e, f, g, h, i):
    """Fixed-order 3x3 determinant: a(ei-fh) - b(di-fg) + c(dh-eg).
    Written with identical association in the SQL oracle so every
    IEEE double op matches bit-for-bit."""
    return a * (e * i - f * h) - b * (d * i - f * g) + c * (d * h - e * g)


_RIDGE_ORACLE = f"""
    WITH u AS (
      SELECT CAST(round(l_quantity) AS BIGINT) AS x1,
             CAST(round(l_discount * 100) AS BIGINT) AS x2,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(x1) AS DOUBLE) AS s1,
             CAST(SUM(x2) AS DOUBLE) AS s2,
             CAST(SUM(x1 * x1) AS DOUBLE) AS s11,
             CAST(SUM(x2 * x2) AS DOUBLE) AS s22,
             CAST(SUM(x1 * x2) AS DOUBLE) AS s12,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x1 * y) AS DOUBLE) AS s1y,
             CAST(SUM(x2 * y) AS DOUBLE) AS s2y
      FROM u
    ),
    d AS (
      SELECT CAST(n AS BIGINT) AS n, sy, s1y, s2y,
        (n * ((s11 + {_RIDGE_LAMBDA}) * (s22 + {_RIDGE_LAMBDA}) - s12 * s12)
         - s1 * (s1 * (s22 + {_RIDGE_LAMBDA}) - s12 * s2)
         + s2 * (s1 * s12 - (s11 + {_RIDGE_LAMBDA}) * s2)) AS det,
        (sy * ((s11 + {_RIDGE_LAMBDA}) * (s22 + {_RIDGE_LAMBDA}) - s12 * s12)
         - s1 * (s1y * (s22 + {_RIDGE_LAMBDA}) - s12 * s2y)
         + s2 * (s1y * s12 - (s11 + {_RIDGE_LAMBDA}) * s2y)) AS det0,
        (n * (s1y * (s22 + {_RIDGE_LAMBDA}) - s12 * s2y)
         - sy * (s1 * (s22 + {_RIDGE_LAMBDA}) - s12 * s2)
         + s2 * (s1 * s2y - s1y * s2)) AS det1,
        (n * ((s11 + {_RIDGE_LAMBDA}) * s2y - s1y * s12)
         - s1 * (s1 * s2y - s1y * s2)
         + sy * (s1 * s12 - (s11 + {_RIDGE_LAMBDA}) * s2))  AS det2
      FROM m
    )
    SELECT n,
           CAST({_RIDGE_LAMBDA} AS BIGINT) AS ridge_lambda,
           round((det0 / det) / 100, 6) AS b0,
           round((det1 / det) / 100, 6) AS b1_qty,
           round((det2 / det) / 100, 6) AS b2_disc_pct
    FROM d
"""


@register("stat_ridge_closed_form", oracle=_RIDGE_ORACLE)
def stat_ridge_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature ridge regression (L2-regularized least squares,
    Hoerl & Kennard 1970) in closed form: extendedprice ~ quantity +
    discount, solved from the normal equations (X'X + lambda*I')b = X'y
    with the penalty on the two slope coefficients only (I' zeroes the
    intercept entry — the standard convention). The 3x3 system is
    solved by Cramer's rule over NINE exact integer moments; inputs are
    integerized (cents / discount percentage points) so every moment is
    an exact integer sum — order-free under any partitioning — and the
    determinant arithmetic is fixed-order IEEE doubles written
    identically in the DuckDB oracle.

    Scale shape: ONE map-side-combined aggregation over the fact table
    produces nine scalars; the solve is a single-row projection. This
    is the d<<n regime where closed-form beats iterative solvers at any
    corpus size — the same shape a distributed GLM fit uses for its
    Gram-matrix pass. Contrast with stat_signgd_text_classifier, which
    covers the iterative/high-d regime."""
    li = load_table(spark, sf_dir, "lineitem")
    x1 = F.round(F.col("l_quantity")).cast("long")
    x2 = F.round(F.col("l_discount") * 100).cast("long")
    y = F.round(F.col("l_extendedprice") * 100).cast("long")
    u = li.select(x1.alias("x1"), x2.alias("x2"), y.alias("y"))
    dec = "decimal(38,0)"
    m = u.agg(
        F.count(F.lit(1)).alias("nn"),
        F.sum(F.col("x1").cast(dec)).alias("s1"),
        F.sum(F.col("x2").cast(dec)).alias("s2"),
        F.sum((F.col("x1") * F.col("x1")).cast(dec)).alias("s11"),
        F.sum((F.col("x2") * F.col("x2")).cast(dec)).alias("s22"),
        F.sum((F.col("x1") * F.col("x2")).cast(dec)).alias("s12"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x1") * F.col("y")).cast(dec)).alias("s1y"),
        F.sum((F.col("x2") * F.col("y")).cast(dec)).alias("s2y"),
    )
    n = F.col("nn").cast("double")
    s1, s2 = F.col("s1").cast("double"), F.col("s2").cast("double")
    s11 = F.col("s11").cast("double") + _RIDGE_LAMBDA
    s22 = F.col("s22").cast("double") + _RIDGE_LAMBDA
    s12 = F.col("s12").cast("double")
    sy = F.col("sy").cast("double")
    s1y, s2y = F.col("s1y").cast("double"), F.col("s2y").cast("double")
    det = _det3(n, s1, s2, s1, s11, s12, s2, s12, s22)
    det0 = _det3(sy, s1, s2, s1y, s11, s12, s2y, s12, s22)
    det1 = _det3(n, sy, s2, s1, s1y, s12, s2, s2y, s22)
    det2 = _det3(n, s1, sy, s1, s11, s1y, s2, s12, s2y)
    return m.select(
        F.col("nn").cast("long").alias("n"),
        F.lit(_RIDGE_LAMBDA).cast("long").alias("ridge_lambda"),
        F.round((det0 / det) / 100, 6).alias("b0"),
        F.round((det1 / det) / 100, 6).alias("b1_qty"),
        F.round((det2 / det) / 100, 6).alias("b2_disc_pct"),
    )


@register(
    "doc_model_quality_filter",
    oracle=f"""
    WITH sig AS ({_SIGNGD_ORACLE}),
    j AS (
      SELECT d.lang, s.pred_label
      FROM documents d JOIN sig s ON s.doc_id = d.doc_id
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(pred_label) AS BIGINT) AS n_kept,
           CAST(SUM(pred_label) AS DOUBLE) / COUNT(*) AS kept_frac
    FROM j
    GROUP BY 1
    """,
)
def doc_model_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (the GPT-3 / CCNet / FineWeb
    pipeline stage): run the trained classifier over the corpus and
    keep only documents it scores positive, reporting the per-language
    keep rate — the audit table a data curator reads before committing
    a filter. The classifier is stat_signgd_text_classifier composed as
    a frame; because its scores are integer-exact, the kept set is
    bit-reproducible on any engine or partitioning (a float-scored
    filter can disagree with itself across runs at the decision
    boundary).

    Scale shape: classifier plan (broadcast 64-row weights, two
    shuffles per iteration) + one fact-side join on doc_id + one
    map-side-combined aggregation to ~n_lang rows."""
    d = load_table(spark, sf_dir, "documents")
    sig = stat_signgd_text_classifier(spark, sf_dir)
    return (
        d.select("doc_id", "lang")
        .join(sig.select("doc_id", "pred_label"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.sum("pred_label").cast("long").alias("n_kept"),
            (
                F.sum("pred_label").cast("double") / F.count(F.lit(1))
            ).alias("kept_frac"),
        )
    )


@register(
    "stat_oneway_anova_f",
    oracle="""
    WITH u AS (
      SELECT l_returnflag AS grp,
             CAST(round(l_extendedprice) AS BIGINT) AS y
      FROM lineitem
    ),
    g AS (
      SELECT grp, COUNT(*) AS n_g, SUM(y) AS s_g, SUM(y * y) AS ss_g,
             (SUM(y) * SUM(y)) // COUNT(*) AS s2n_g
      FROM u GROUP BY 1
    ),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(SUM(s_g) AS DOUBLE) AS s,
             CAST(SUM(ss_g) AS DOUBLE) AS ss,
             CAST(SUM(s2n_g) AS DOUBLE) AS sb,
             CAST((SUM(s_g) * SUM(s_g)) // SUM(n_g) AS DOUBLE) AS s2n
      FROM g
    )
    SELECT k, n,
           round((sb - s2n) / (k - 1), 4) AS ms_between,
           round((ss - sb) / (n - k), 4) AS ms_within,
           round(((sb - s2n) / (k - 1)) / ((ss - sb) / (n - k)), 6)
             AS f_stat
    FROM t
    """,
)
def stat_oneway_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic (price by return flag) from exact
    integer moments: per-group (n, sum y, sum y^2, floor((sum y)^2/n)) in one
    map-side-combined aggregation over integerized dollars, then
    SSB/SSW assembled driver-free in a k-row reduction — the classic
    does-the-group-mean-differ test at any corpus size, same moment
    shape as stat_ridge_closed_form.

    Every cross-engine-sensitive quantity is an INTEGER: the
    between-group term uses floor(s^2/n) integer division (<= k units of
    floor error on ~1e15-scale terms — statistically nil, bit-exact on
    both engines; a double or double->decimal form of s^2/n differs in
    the last ulp between engines). Doubles appear only in the final
    single-row fixed-order assembly. Dollar (not cent) units keep
    s_g^2/n_g inside int64 through sf-1000-scale corpora."""
    li = load_table(spark, sf_dir, "lineitem")
    y = F.round(F.col("l_extendedprice")).cast("long")
    dec = "decimal(38,0)"
    g = (
        li.select(F.col("l_returnflag").alias("grp"), y.alias("y"))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_g"),
            F.sum(F.col("y").cast(dec)).alias("s_g"),
            F.sum((F.col("y") * F.col("y")).cast(dec)).alias("ss_g"),
        )
        .withColumn("s2n_g", F.expr("(s_g * s_g) div n_g"))
    )
    t = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").alias("sd"),
        F.sum("ss_g").cast("double").alias("ss"),
        F.sum("s2n_g").cast("double").alias("sb"),
    ).select(
        "k",
        "n",
        F.col("sd").cast("double").alias("s"),
        "ss",
        "sb",
        F.expr("CAST((sd * sd) div n AS DOUBLE)").alias("s2n"),
    )
    msb = (F.col("sb") - F.col("s2n")) / (F.col("k") - 1)
    msw = (F.col("ss") - F.col("sb")) / (F.col("n") - F.col("k"))
    return t.select(
        "k",
        "n",
        F.round(msb, 4).alias("ms_between"),
        F.round(msw, 4).alias("ms_within"),
        F.round(msb / msw, 6).alias("f_stat"),
    )


_DID_CUT = "2024-01-16"


def _did_cell_sql(t: int, p: int, expr: str) -> str:
    return (
        f"SUM(CASE WHEN treat = {t} AND post = {p} THEN {expr} ELSE 0 END)"
    )


_DID_ORACLE = f"""
    WITH u AS (
      SELECT CAST(user_id % 2 AS INT) AS treat,
             CASE WHEN ts >= TIMESTAMP '{_DID_CUT}' THEN 1 ELSE 0 END AS post,
             CAST(round(value * 100) AS BIGINT) AS y
      FROM events
    ),
    m AS (
      SELECT
        {_did_cell_sql(1, 1, "1")} AS n11, {_did_cell_sql(1, 0, "1")} AS n10,
        {_did_cell_sql(0, 1, "1")} AS n01, {_did_cell_sql(0, 0, "1")} AS n00,
        {_did_cell_sql(1, 1, "y")} AS s11, {_did_cell_sql(1, 0, "y")} AS s10,
        {_did_cell_sql(0, 1, "y")} AS s01, {_did_cell_sql(0, 0, "y")} AS s00,
        {_did_cell_sql(1, 1, "y * y")} AS q11,
        {_did_cell_sql(1, 0, "y * y")} AS q10,
        {_did_cell_sql(0, 1, "y * y")} AS q01,
        {_did_cell_sql(0, 0, "y * y")} AS q00
      FROM u
    )
    SELECT CAST(n11 + n10 + n01 + n00 AS BIGINT) AS n,
      round(((CAST(s11 AS DOUBLE) / n11 - CAST(s10 AS DOUBLE) / n10)
             - (CAST(s01 AS DOUBLE) / n01 - CAST(s00 AS DOUBLE) / n00))
            / 100, 6) AS did_estimate,
      round(sqrt(
          ((CAST(q11 AS DOUBLE) - CAST(s11 AS DOUBLE) * s11 / n11) / (n11 - 1)) / n11
        + ((CAST(q10 AS DOUBLE) - CAST(s10 AS DOUBLE) * s10 / n10) / (n10 - 1)) / n10
        + ((CAST(q01 AS DOUBLE) - CAST(s01 AS DOUBLE) * s01 / n01) / (n01 - 1)) / n01
        + ((CAST(q00 AS DOUBLE) - CAST(s00 AS DOUBLE) * s00 / n00) / (n00 - 1)) / n00
      ) / 100, 6) AS se
    FROM m
"""


@register("stat_diff_in_diff", oracle=_DID_ORACLE)
def stat_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator (Card & Krueger design):
    treatment = odd user ids, post period = events on/after
    {cut}, outcome = event value in integer cents. The 2×2
    cell moments (n, Σy, Σy²) come from ONE map-side-combined
    conditional aggregation — no joins, no window — and the estimate
    plus its unequal-variance standard error are assembled in a single
    fixed-order double expression mirrored exactly by the oracle, so
    the result is bit-reproducible under any partitioning. The
    canonical pre/post × treat/control causal read a product team runs
    on an event stream; the parallel-trends caveat lives with the
    analyst, not the engine.""".replace("{cut}", _DID_CUT)
    e = load_table(spark, sf_dir, "events")
    u = e.select(
        (F.col("user_id") % 2).cast("int").alias("treat"),
        (F.col("ts") >= F.lit(_DID_CUT).cast("timestamp"))
        .cast("int")
        .alias("post"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )

    def cell(t, p, col):
        return F.sum(
            F.when((F.col("treat") == t) & (F.col("post") == p), col).otherwise(
                F.lit(0)
            )
        )

    dec = "decimal(38,0)"
    m = u.agg(
        *[
            cell(t, p, F.lit(1).cast(dec)).alias(f"n{t}{p}")
            for t in (1, 0)
            for p in (1, 0)
        ],
        *[
            cell(t, p, F.col("y").cast(dec)).alias(f"s{t}{p}")
            for t in (1, 0)
            for p in (1, 0)
        ],
        *[
            cell(t, p, (F.col("y") * F.col("y")).cast(dec)).alias(f"q{t}{p}")
            for t in (1, 0)
            for p in (1, 0)
        ],
    )

    def d(name):
        return F.col(name).cast("double")

    def var_over_n(t, p):
        n, sm, q = d(f"n{t}{p}"), d(f"s{t}{p}"), d(f"q{t}{p}")
        return ((q - sm * sm / n) / (n - 1)) / n

    did = (
        (d("s11") / d("n11") - d("s10") / d("n10"))
        - (d("s01") / d("n01") - d("s00") / d("n00"))
    ) / 100
    se = (
        F.sqrt(
            var_over_n(1, 1)
            + var_over_n(1, 0)
            + var_over_n(0, 1)
            + var_over_n(0, 0)
        )
        / 100
    )
    return m.select(
        (F.col("n11") + F.col("n10") + F.col("n01") + F.col("n00"))
        .cast("long")
        .alias("n"),
        F.round(did, 6).alias("did_estimate"),
        F.round(se, 6).alias("se"),
    )


@register(
    "stat_negbin_moments_fit",
    oracle="""
    WITH c AS (
      SELECT event_type, user_id, COUNT(*) AS k
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(k) AS s1,
             SUM(k * k) AS s2
      FROM c GROUP BY 1
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_users,
           round(CAST(s1 AS DOUBLE) / n, 6) AS mean_k,
           round((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                 / (n - 1), 6) AS var_k,
           CAST(CASE WHEN (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                          / (n - 1) > CAST(s1 AS DOUBLE) / n
                THEN 1 ELSE 0 END AS INT) AS overdispersed,
           round(CASE WHEN (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                           / (n - 1) > CAST(s1 AS DOUBLE) / n
                 THEN (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                      / ((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                         / (n - 1) - CAST(s1 AS DOUBLE) / n)
                 END, 6) AS r_hat,
           round(CASE WHEN (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                           / (n - 1) > CAST(s1 AS DOUBLE) / n
                 THEN (CAST(s1 AS DOUBLE) / n)
                      / ((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                         / (n - 1))
                 END, 6) AS p_hat
    FROM m
    """,
)
def stat_negbin_moments_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial fit by method of moments over per-user event
    counts: r = m²/(v−m), p = m/v per event type — the standard model
    for overdispersed count data (per-user activity almost never fits
    a Poisson, whose variance equals its mean; the overdispersed flag
    reports exactly that check). Two map-side-combined aggregations —
    counts per (type, user), then exact integer moments per type —
    and a 5-row fixed-order double projection mirrored by the oracle;
    NULL parameters when the data is NOT overdispersed, where the NB
    degenerates."""
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("k")
    )
    dec = "decimal(38,0)"
    m = c.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("k").cast(dec)).alias("s1"),
        F.sum((F.col("k") * F.col("k")).cast(dec)).alias("s2"),
    )
    n = F.col("n")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    mean = s1 / n
    var = (s2 - s1 * F.col("s1") / n) / (n - 1)
    over = var > mean
    return m.select(
        "event_type",
        n.cast("long").alias("n_users"),
        F.round(mean, 6).alias("mean_k"),
        F.round(var, 6).alias("var_k"),
        over.cast("int").alias("overdispersed"),
        F.round(F.when(over, mean * mean / (var - mean)), 6).alias("r_hat"),
        F.round(F.when(over, mean / var), 6).alias("p_hat"),
    )


# ---------------------------------------------------------------------------
# Calibration: reliability bins + expected calibration error
# ---------------------------------------------------------------------------

_ECE_STOPWORDS = ("the", "a", "of", "to", "and", "in", "for", "is")


@register(
    "stat_calibration_ece",
    oracle=f"""
    WITH t AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             string_split_regex(lower(trim(text)), '\\s+') AS tk
      FROM documents
    ),
    s AS (
      SELECT y, len(tk) AS n,
             len(list_filter(tk,
               x -> x IN {str(tuple(_ECE_STOPWORDS))})) AS sw
      FROM t
    ),
    p AS (
      SELECT y,
             least(greatest(1000 + (25000 * sw) // n, 0), 9999) AS pu
      FROM s
    ),
    bins AS (
      SELECT pu // 1000 AS bin, COUNT(*) AS n_docs,
             SUM(pu) AS sum_p, SUM(y) AS sum_y
      FROM p GROUP BY 1
    ),
    tot AS (
      SELECT SUM(n_docs) AS nn,
             SUM(abs(10000 * sum_y - sum_p)) AS gg
      FROM bins
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(sum_p AS DOUBLE) / (10000.0 * n_docs) AS conf,
           CAST(sum_y AS DOUBLE) / n_docs AS acc,
           CAST(abs(10000 * sum_y - sum_p) AS DOUBLE)
             / (10000.0 * n_docs) AS gap,
           CAST(gg AS DOUBLE) / (10000.0 * nn) AS ece
    FROM bins, tot
    """,
)
def stat_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier calibration audit: 10-bin reliability table +
    Expected Calibration Error for a deterministic stopword-ratio
    language scorer (p(en) in 1e-4 units, hard-clamped linear link —
    the same integer-exact scoring discipline as the signSGD
    classifier). A quality / language / toxicity filter that gates
    training data MUST be calibrated — a filter that says 0.9 and is
    right 60% of the time silently skews the kept corpus — and ECE is
    the standard one-number audit (Guo et al. 2017).

    Every per-bin quantity is an exact integer aggregate (confidence
    sums in 1e-4 units, label sums, |10000·Σy − Σp| per bin), so the
    table is bit-identical on any partitioning; the only doubles are
    one final division per output column. ECE folds the per-bin
    integer gaps through ONE division — order-free by construction.
    Scale shape: one map-side-combined 10-group aggregation over the
    corpus + a broadcast 1-row total; no shuffle wider than 10 rows."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.split(F.lower(F.trim("text")), r"\s+").alias("tk"),
    )
    # two-projection build: tk materializes as an attribute before the
    # filter lambda touches it (gate-(d): literals + lambda var only)
    s = toks.select(
        "y",
        F.size("tk").alias("n"),
        F.size(
            F.filter(F.col("tk"), lambda x: x.isin(*_ECE_STOPWORDS))
        ).alias("sw"),
    )
    pu = F.least(
        F.greatest(
            F.lit(1000) + F.expr("(25000 * sw) div n").cast("long"),
            F.lit(0).cast("long"),
        ),
        F.lit(9999).cast("long"),
    )
    p = s.select("y", pu.alias("pu"))
    bins = p.groupBy(F.expr("pu div 1000").alias("bin")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("pu").alias("sum_p"),
        F.sum("y").alias("sum_y"),
    )
    gap_int = F.abs(10000 * F.col("sum_y") - F.col("sum_p"))
    tot = bins.agg(
        F.sum("n_docs").alias("nn"), F.sum(gap_int).alias("gg")
    )
    return bins.crossJoin(F.broadcast(tot)).select(
        F.col("bin").cast("long").alias("bin"),
        F.col("n_docs").cast("long").alias("n_docs"),
        (F.col("sum_p").cast("double") / (F.lit(10000.0) * F.col("n_docs")))
        .alias("conf"),
        (F.col("sum_y").cast("double") / F.col("n_docs")).alias("acc"),
        (gap_int.cast("double") / (F.lit(10000.0) * F.col("n_docs")))
        .alias("gap"),
        (F.col("gg").cast("double") / (F.lit(10000.0) * F.col("nn")))
        .alias("ece"),
    )


# ---------------------------------------------------------------------------
# Multiple-testing control: Benjamini-Hochberg step-up FDR
# ---------------------------------------------------------------------------

# Abramowitz & Stegun 7.1.26 erf approximation constants (|err| < 1.5e-7)
_AS_P = 0.3275911
_AS_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)
_BH_ALPHA = 0.05


def _erfc_sql(x: str) -> str:
    """erfc(x) for x >= 0 as a fixed-order Horner polynomial — the SAME
    arithmetic Spark runs, so the p-values agree bit-for-bit (neither
    engine ships erfc; both ship IEEE exp/sqrt)."""
    a1, a2, a3, a4, a5 = _AS_A
    t = f"(1.0 / (1.0 + {_AS_P} * {x}))"
    poly = f"({t} * ({a1} + {t} * ({a2} + {t} * ({a3} + {t} * ({a4} + {t} * {a5})))))"
    return f"({poly} * exp(-({x}) * ({x})))"


@register(
    "stat_bh_fdr",
    oracle=f"""
    WITH j AS (
      SELECT c.c_nationkey AS nat,
             CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS hot
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    g AS (SELECT nat, COUNT(*) AS n, SUM(hot) AS h FROM j GROUP BY nat),
    tot AS (SELECT SUM(n) AS nn, SUM(h) AS hh, COUNT(*) AS m FROM g),
    zc AS (
      SELECT nat, n, h, m,
             (CAST(h AS DOUBLE) / n - CAST(hh AS DOUBLE) / nn)
               / sqrt((CAST(hh AS DOUBLE) / nn)
                      * (1.0 - CAST(hh AS DOUBLE) / nn) / n) AS z
      FROM g, tot
    ),
    pv AS (
      SELECT nat, n, h, m, z,
             round({_erfc_sql("(abs(z) / sqrt(2.0))")}, 9) AS p
      FROM zc
    ),
    r AS (
      SELECT nat, n, h, m, z, p,
             CAST(ROW_NUMBER() OVER (ORDER BY p, nat) AS BIGINT) AS p_rank
      FROM pv
    ),
    mk AS (
      SELECT COALESCE(MAX(CASE WHEN p <= p_rank * {_BH_ALPHA} / m
                                THEN p_rank END), 0) AS kmax
      FROM r
    )
    SELECT nat AS nation_key,
           CAST(n AS BIGINT) AS n_orders,
           CAST(h AS BIGINT) AS n_hot,
           z, p, p_rank,
           CAST(CASE WHEN p_rank <= kmax THEN 1 ELSE 0 END AS INTEGER)
             AS rejected
    FROM r, mk
    """,
)
def stat_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg step-up FDR control over a FAMILY of
    hypothesis tests — the multiple-testing layer every per-group
    drift/imbalance screen needs: 25 per-nation two-sided proportion
    z-tests (urgent+high order share vs the global share) produce 25
    p-values, and testing each at alpha alone would expect ~1.25 false
    alarms per sweep; BH rejects the largest prefix of the sorted
    p-values with p_(k) <= k/m * alpha, bounding the false-discovery
    RATE at alpha (Benjamini & Hochberg 1995).

    Determinism: z comes from exact integer counts through IEEE
    division/sqrt (bit-identical on both engines); the normal tail
    probability is the Abramowitz-Stegun 7.1.26 polynomial in
    IDENTICAL Horner order on both engines (neither ships erfc),
    rounded once to 9 places. Scale shape: one groups aggregation, a
    broadcast 1-row total, and ranking over the m-row test family —
    the corpus is touched once; the window is bounded by m, not by
    data volume."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH")
        .cast("int")
        .alias("hot"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_nationkey").alias("nat"),
    )
    g = (
        o.join(c, "o_custkey")
        .groupBy("nat")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("hot").alias("h"))
    )
    tot = g.agg(
        F.sum("n").alias("nn"), F.sum("h").alias("hh"),
        F.count(F.lit(1)).alias("m"),
    )
    ph = F.col("hh").cast("double") / F.col("nn")
    z = (F.col("h").cast("double") / F.col("n") - ph) / F.sqrt(
        ph * (F.lit(1.0) - ph) / F.col("n")
    )
    zc = g.crossJoin(F.broadcast(tot)).select(
        "nat", "n", "h", "m", z.alias("z")
    )
    x = F.abs(F.col("z")) / F.sqrt(F.lit(2.0))
    a1, a2, a3, a4, a5 = _AS_A
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_AS_P) * x)
    poly = t * (
        F.lit(a1)
        + t * (F.lit(a2) + t * (F.lit(a3) + t * (F.lit(a4) + t * F.lit(a5))))
    )
    pv = zc.select(
        "nat", "n", "h", "m", "z",
        F.round(poly * F.exp(-x * x), 9).alias("p"),
    )
    # bounded-window: one row per hypothesis test (m = nation count)
    wr = Window.orderBy("p", "nat")
    r = pv.select(
        "nat", "n", "h", "m", "z", "p",
        F.row_number().over(wr).cast("long").alias("p_rank"),
    )
    mk = r.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p")
                    <= F.col("p_rank") * F.lit(_BH_ALPHA) / F.col("m"),
                    F.col("p_rank"),
                )
            ),
            F.lit(0).cast("long"),
        ).alias("kmax")
    )
    return r.crossJoin(F.broadcast(mk)).select(
        F.col("nat").alias("nation_key"),
        F.col("n").cast("long").alias("n_orders"),
        F.col("h").cast("long").alias("n_hot"),
        "z", "p", "p_rank",
        F.when(F.col("p_rank") <= F.col("kmax"), 1)
        .otherwise(0)
        .cast("int")
        .alias("rejected"),
    )


@register(
    "stat_median_ci_distribution_free",
    oracle="""
    WITH r AS (
      SELECT o_totalprice AS v,
             ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rn
      FROM orders
    ),
    t AS (
      SELECT COUNT(*) AS n,
             CAST(floor((COUNT(*) - 1.959963985 * sqrt(CAST(COUNT(*)
                  AS DOUBLE))) / 2.0) AS BIGINT) AS lo_rank,
             CAST(ceil(1.0 + (COUNT(*) + 1.959963985 * sqrt(CAST(COUNT(*)
                  AS DOUBLE))) / 2.0) AS BIGINT) AS hi_rank,
             CAST((COUNT(*) + 1) // 2 AS BIGINT) AS med_lo,
             CAST((COUNT(*) + 2) // 2 AS BIGINT) AS med_hi
      FROM r
    )
    SELECT CAST(n AS BIGINT) AS n,
           (MAX(CASE WHEN rn = med_lo THEN v END)
            + MAX(CASE WHEN rn = med_hi THEN v END)) / 2.0 AS median,
           MAX(CASE WHEN rn = lo_rank THEN v END) AS ci_lo,
           MAX(CASE WHEN rn = hi_rank THEN v END) AS ci_hi
    FROM r, t
    GROUP BY n
    """,
)
def stat_median_ci_distribution_free(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distribution-free 95% confidence interval for the MEDIAN order
    price via binomial order statistics: the number of observations
    below the true median is Binomial(N, ½), so the values at ranks
    (N ∓ z·√N)/2 bracket the median with 95% coverage for ANY
    distribution — no normality assumption, no resampling (the
    rank-based companion to the Poisson bootstrap, which targets the
    MEAN). The point estimate is the exact sample median
    (mid-average of the two central order statistics).

    Determinism: ranks come from the distributed exact ranker over a
    total order with a unique tiebreak; the CI ranks are floor/ceil of
    one IEEE sqrt expression evaluated identically on both engines;
    the only arithmetic on data values is one mid-average. Scale
    shape: one range shuffle (the ranker), then a 4-rank filtered
    aggregation — no single-partition window, nothing driver-side."""
    from ..operators.ntile import global_row_number

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("v"), "o_orderkey"
    )
    r = global_row_number(o, ["v", "o_orderkey"], "rn").select("v", "rn")
    z = F.lit(1.959963985)
    nn = F.count(F.lit(1))
    t = r.agg(
        nn.cast("long").alias("n"),
        F.floor((nn - z * F.sqrt(nn.cast("double"))) / 2.0)
        .cast("long")
        .alias("lo_rank"),
        F.ceil(F.lit(1.0) + (nn + z * F.sqrt(nn.cast("double"))) / 2.0)
        .cast("long")
        .alias("hi_rank"),
        F.expr("(count(1) + 1) div 2").alias("med_lo"),
        F.expr("(count(1) + 2) div 2").alias("med_hi"),
    )
    j = r.crossJoin(F.broadcast(t))
    return j.groupBy("n").agg(
        (
            (
                F.max(F.when(F.col("rn") == F.col("med_lo"), F.col("v")))
                + F.max(F.when(F.col("rn") == F.col("med_hi"), F.col("v")))
            )
            / F.lit(2.0)
        ).alias("median"),
        F.max(F.when(F.col("rn") == F.col("lo_rank"), F.col("v"))).alias(
            "ci_lo"
        ),
        F.max(F.when(F.col("rn") == F.col("hi_rank"), F.col("v"))).alias(
            "ci_hi"
        ),
    ).select("n", "median", "ci_lo", "ci_hi")
