"""Model-evaluation / monitoring aggregates over the events stream.

The training-data engine's closing loop: once a model is trained on the
corpus this engine prepares, the SAME engine scores its predictions at
scale — AUC, confusion/precision-recall, calibration, and
population-stability drift are the four readouts every ML platform runs
nightly over event logs. All four reduce to sufficient statistics first
(per-user rollup → per-score-value counts), so the expensive part is one
map-side-combinable aggregation; the statistic itself is arithmetic over
a bounded table.

Determinism across engines (see registry.py rules): labels and
predictions are defined by INTEGER cross-multiplication against global
totals (``p * n_users > total_p`` == "above average" without ever
forming a float mean), counts stay BIGINT, and every float is either a
single rounded division of exact integers or a quantized-then-summed
contribution.

Example set: each user is one example. label = user's purchase count is
above the global per-user average; score = the user's non-purchase
engagement (views/clicks/signups/errors). "Does engagement predict heavy
buyers" — deliberately simple so the oracle is exact; the operator
shapes are what matter.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import register
from ._util import t

# Shared per-user example rollup (Spark side) and its SQL twin.
_USERS_SQL = """
    u AS (
      SELECT user_id,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS p,
             CAST(sum(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS s
      FROM events GROUP BY user_id
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS nu,
                   CAST(sum(p) AS BIGINT) AS tp,
                   CAST(sum(s) AS BIGINT) AS ts FROM u),
    ex AS (
      SELECT u.s AS score,
             CASE WHEN u.p * t.nu > t.tp THEN 1 ELSE 0 END AS label
      FROM u CROSS JOIN tot t
    )
"""


def _examples(spark, sf_dir):
    """(score BIGINT, label INT) — one row per user.

    label = purchase count above the global per-user mean, decided by
    integer cross-multiplication (p * n_users > total_purchases) so no
    float mean ever exists; score = non-purchase event count. The
    rollup is one hash aggregation with map-side partials; the totals
    row is a broadcast of exactly one row.
    """
    ev = t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("p"),
        F.sum(F.when(F.col("event_type") != "purchase", 1).otherwise(0))
        .cast("long")
        .alias("s"),
    )
    tot = u.agg(
        F.count("*").cast("long").alias("nu"),
        F.sum("p").cast("long").alias("tp"),
        F.sum("s").cast("long").alias("ts"),
    )
    return u.join(F.broadcast(tot)).select(
        F.col("s").alias("score"),
        F.when(F.col("p") * F.col("nu") > F.col("tp"), 1).otherwise(0).alias("label"),
    )


@register(
    "q_ml_auc",
    family="mleval",
    oracle=f"""
    WITH {_USERS_SQL},
    by_score AS (
      SELECT score,
             CAST(sum(label) AS BIGINT) AS pos,
             CAST(sum(1 - label) AS BIGINT) AS neg
      FROM ex GROUP BY score
    ),
    ranked AS (
      SELECT pos, neg,
             CAST(coalesce(sum(neg) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS neg_below
      FROM by_score
    )
    SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
           CAST(sum(neg) AS BIGINT) AS n_neg,
           -- U grows O(P*N): accumulate in HUGEINT, cast once to DOUBLE
           round(CAST(sum(CAST(pos AS HUGEINT) * (2 * neg_below + neg)) AS DOUBLE)
                 / (2.0 * sum(pos) * sum(neg)), 6) AS auc
    FROM ranked
    """,
    doc="ROC AUC of 'engagement predicts heavy buyers', computed "
    "EXACTLY from the grouped score distribution: AUC = P(score_pos > "
    "score_neg) + ½P(tie), evaluated as sum over score values of "
    "pos·(2·neg_below + neg_at) / (2·P·N) — the Mann-Whitney U "
    "identity on integer counts, so the only float is one final "
    "division. Equivalent to trapezoidal area under the empirical ROC "
    "with proper tie handling. Scale: the per-user rollup is the only "
    "pass over data; the cumulative window runs over the DISTINCT "
    "SCORE VALUES table (bounded by the score's integer range — tens "
    "of rows even at 100 TB where users are billions), so the "
    "unpartitioned window is a deliberate non-issue, not a "
    "single-reducer trap.",
)
def q_ml_auc(spark, sf_dir):
    from pyspark.sql import Window

    ex = _examples(spark, sf_dir)
    by_score = ex.groupBy("score").agg(
        F.sum("label").cast("long").alias("pos"),
        F.sum(1 - F.col("label")).cast("long").alias("neg"),
    )
    # BOUNDED global window: runs over the DISTINCT-SCORE table, whose
    # cardinality is the score domain (quantized model outputs), not the
    # row count; a continuous score column would unbound it — switch to
    # the binned variant documented in SCALE.md §global-windows first.
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    ranked = by_score.select(
        "pos", "neg", F.coalesce(F.sum("neg").over(w), F.lit(0)).alias("neg_below")
    )
    return ranked.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("neg").cast("long").alias("n_neg"),
        F.round(
            # U grows O(P*N) — accumulate in DECIMAL(38,0), not LONG
            F.sum(
                F.col("pos").cast("decimal(38,0)")
                * (2 * F.col("neg_below") + F.col("neg")).cast("decimal(38,0)")
            ).cast("double")
            / (2.0 * F.sum("pos") * F.sum("neg")),
            6,
        ).alias("auc"),
    )


@register(
    "q_ml_confusion",
    family="mleval",
    oracle=f"""
    WITH {_USERS_SQL},
    pred AS (
      SELECT label,
             CASE WHEN ex.score * t.nu > t.ts THEN 1 ELSE 0 END AS yhat
      FROM ex CROSS JOIN tot t
    ),
    c AS (
      SELECT CAST(sum(CASE WHEN label = 1 AND yhat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN label = 0 AND yhat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN label = 1 AND yhat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(sum(CASE WHEN label = 0 AND yhat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM pred
    )
    SELECT tp, fp, fn, tn,
           round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision_,
           round(CAST(tp AS DOUBLE) / (tp + fn), 6) AS recall_,
           round(2.0 * tp / (2 * tp + fp + fn), 6) AS f1
    FROM c
    """,
    doc="Confusion matrix + precision/recall/F1 at the "
    "above-average-engagement operating point (yhat decided by the "
    "same integer cross-multiplication as the label, so the threshold "
    "is scale-free and float-free). F1 uses the single-division form "
    "2tp/(2tp+fp+fn) — one rounded division of exact integers, no "
    "intermediate precision/recall floats to compound. Scale: per-user "
    "rollup then a four-counter aggregation; everything after the "
    "first groupBy is constant-size.",
)
def q_ml_confusion(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("p"),
        F.sum(F.when(F.col("event_type") != "purchase", 1).otherwise(0))
        .cast("long")
        .alias("s"),
    )
    tot = u.agg(
        F.count("*").cast("long").alias("nu"),
        F.sum("p").cast("long").alias("tp_"),
        F.sum("s").cast("long").alias("ts_"),
    )
    pred = u.join(F.broadcast(tot)).select(
        F.when(F.col("p") * F.col("nu") > F.col("tp_"), 1).otherwise(0).alias("label"),
        F.when(F.col("s") * F.col("nu") > F.col("ts_"), 1).otherwise(0).alias("yhat"),
    )
    c = pred.agg(
        F.sum(F.when((F.col("label") == 1) & (F.col("yhat") == 1), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when((F.col("label") == 0) & (F.col("yhat") == 1), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when((F.col("label") == 1) & (F.col("yhat") == 0), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
        F.sum(F.when((F.col("label") == 0) & (F.col("yhat") == 0), 1).otherwise(0))
        .cast("long")
        .alias("tn"),
    )
    return c.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(F.col("tp").cast("double") / (F.col("tp") + F.col("fp")), 6).alias(
            "precision_"
        ),
        F.round(F.col("tp").cast("double") / (F.col("tp") + F.col("fn")), 6).alias(
            "recall_"
        ),
        F.round(
            2.0 * F.col("tp") / (2 * F.col("tp") + F.col("fp") + F.col("fn")), 6
        ).alias("f1"),
    )


@register(
    "q_ml_calibration",
    family="mleval",
    oracle=f"""
    WITH {_USERS_SQL},
    rng AS (SELECT CAST(min(score) AS BIGINT) AS mn,
                   CAST(max(score) AS BIGINT) AS mx FROM ex),
    binned AS (
      SELECT CAST((ex.score - r.mn) * 10 // (r.mx - r.mn + 1) AS BIGINT) AS bin,
             ex.score, ex.label, r.mn, r.mx
      FROM ex CROSS JOIN rng r
    )
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n,
           round(avg((score - mn) * 1.0 / (mx - mn)), 6) AS mean_pred,
           round(CAST(sum(label) AS DOUBLE) / count(*), 6) AS pos_rate
    FROM binned GROUP BY bin ORDER BY bin
    """,
    doc="Calibration (reliability) table: scores min-max-normalized to "
    "[0,1] as the 'predicted probability', cut into 10 fixed-width "
    "bins, per-bin mean prediction vs observed positive rate — the "
    "table behind every reliability diagram and ECE number. Binning is "
    "ALL-INTEGER ((s-mn)*10 // (mx-mn+1), exact cross-engine); only "
    "the two per-bin display means are rounded float divisions. "
    "Fixed-width score bins, not rank deciles, deliberately: rank "
    "deciles need a global sort of all examples, score bins need only "
    "a broadcast min/max — the shape that survives billions of users. "
    "One hash agg over users, then constant-size arithmetic.",
)
def q_ml_calibration(spark, sf_dir):
    ex = _examples(spark, sf_dir)
    rng = ex.agg(
        F.min("score").cast("long").alias("mn"), F.max("score").cast("long").alias("mx")
    )
    binned = ex.join(F.broadcast(rng)).select(
        F.floor((F.col("score") - F.col("mn")) * 10 / (F.col("mx") - F.col("mn") + 1))
        .cast("long")
        .alias("bin"),
        "score",
        "label",
        "mn",
        "mx",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(
                F.avg((F.col("score") - F.col("mn")) * 1.0 / (F.col("mx") - F.col("mn"))),
                6,
            ).alias("mean_pred"),
            F.round(F.sum("label").cast("double") / F.count("*"), 6).alias("pos_rate"),
        )
        .orderBy("bin")
    )


@register(
    "q_ml_psi",
    family="mleval",
    oracle="""
    WITH sliced AS (
      SELECT value,
             CASE WHEN extract(dow FROM ts) IN (0, 6) THEN 1 ELSE 0 END AS is_wkend
      FROM events
    ),
    rng AS (SELECT min(value) AS mn, max(value) AS mx FROM sliced),
    binned AS (
      SELECT CAST(least(floor((s.value - r.mn) * 10.0 / (r.mx - r.mn)), 9)
               AS BIGINT) AS bin,
             s.is_wkend
      FROM sliced s CROSS JOIN rng r
    ),
    cells AS (
      SELECT bin,
             CAST(sum(1 - is_wkend) + 1 AS BIGINT) AS a,
             CAST(sum(is_wkend) + 1 AS BIGINT) AS b
      FROM binned GROUP BY bin
    ),
    tots AS (SELECT CAST(sum(a) AS BIGINT) AS ta,
                    CAST(sum(b) AS BIGINT) AS tb FROM cells)
    SELECT c.bin,
           c.a - 1 AS n_ref,
           c.b - 1 AS n_cur,
           round(CAST(CAST(round(
             (c.a * 1.0 / t.ta - c.b * 1.0 / t.tb)
             * (ln(c.a * t.tb) - ln(c.b * t.ta)) * 1e9, 0) AS BIGINT)
             AS DOUBLE) / 1e9, 6) AS psi_term
    FROM cells c CROSS JOIN tots t
    ORDER BY c.bin
    """,
    doc="Population Stability Index per bin: drift of the event-value "
    "distribution between weekday (reference) and weekend (current) "
    "traffic — the monitoring statistic that pages the ML on-call when "
    "a feature's distribution shifts. 10 fixed-width bins over the "
    "global [min,max] (identical IEEE double expression both engines); "
    "add-one smoothing so empty bins stay finite; each bin's "
    "(pa−pb)·ln(pa/pb) keeps the log's argument INTEGRAL "
    "(ln(a·tb)−ln(b·ta)) and quantizes the term to 1e-9 before "
    "display, the adamic-adar determinism pattern. Weekday/weekend "
    "split uses day-of-week integers (Spark dayofweek−1 == DuckDB "
    "dow), no timestamp arithmetic. Scale: one map-side-combined "
    "aggregation to 10 cells; the statistic is constant-size math.",
)
def q_ml_psi(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    sliced = ev.select(
        "value",
        F.when((F.dayofweek("ts") - 1).isin(0, 6), 1).otherwise(0).alias("is_wkend"),
    )
    rng = sliced.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    binned = sliced.join(F.broadcast(rng)).select(
        F.least(
            F.floor((F.col("value") - F.col("mn")) * 10.0 / (F.col("mx") - F.col("mn"))),
            F.lit(9),
        )
        .cast("long")
        .alias("bin"),
        "is_wkend",
    )
    cells = binned.groupBy("bin").agg(
        (F.sum(1 - F.col("is_wkend")) + 1).cast("long").alias("a"),
        (F.sum("is_wkend") + 1).cast("long").alias("b"),
    )
    tots = cells.agg(
        F.sum("a").cast("long").alias("ta"), F.sum("b").cast("long").alias("tb")
    )
    term = (
        (F.col("a") * 1.0 / F.col("ta") - F.col("b") * 1.0 / F.col("tb"))
        * (F.log(F.col("a") * F.col("tb")) - F.log(F.col("b") * F.col("ta")))
        * 1e9
    )
    return (
        cells.join(F.broadcast(tots))
        .select(
            "bin",
            (F.col("a") - 1).alias("n_ref"),
            (F.col("b") - 1).alias("n_cur"),
            (F.round(term, 0).cast("long").cast("double") / 1e9).alias("psi_term"),
        )
        .withColumn("psi_term", F.round("psi_term", 6))
        .orderBy("bin")
    )


@register(
    "q_ml_ks_separation",
    family="mleval",
    oracle=f"""
    WITH {_USERS_SQL},
    by_score AS (
      SELECT score,
             CAST(sum(label) AS BIGINT) AS pos,
             CAST(sum(1 - label) AS BIGINT) AS neg
      FROM ex GROUP BY score
    ),
    tt AS (SELECT CAST(sum(pos) AS BIGINT) AS p,
                 CAST(sum(neg) AS BIGINT) AS n FROM by_score),
    cum AS (
      SELECT CAST(sum(pos) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_pos,
             CAST(sum(neg) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_neg
      FROM by_score
    )
    SELECT t.p AS n_pos, t.n AS n_neg,
           round(CAST(max(abs(c.cum_pos * t.n - c.cum_neg * t.p)) AS DOUBLE)
                 / (t.p * 1.0 * t.n), 6) AS ks
    FROM cum c CROSS JOIN tt t
    GROUP BY t.p, t.n
    """,
    doc="Kolmogorov-Smirnov separation of the score distributions of "
    "positives vs negatives — max |CDF_pos − CDF_neg|, the "
    "credit-scoring twin of AUC (KS is the single best operating "
    "point; AUC integrates all of them). EXACT: the max is taken over "
    "|cum_pos·N − cum_neg·P| in BIGINT (cross-multiplied CDFs — no "
    "per-row float), and only the final max divides by P·N. Same "
    "sufficient-statistics shape as q_ml_auc: one per-user pass, then "
    "a window over the bounded distinct-score table.",
)
def q_ml_ks_separation(spark, sf_dir):
    from pyspark.sql import Window

    ex = _examples(spark, sf_dir)
    by_score = ex.groupBy("score").agg(
        F.sum("label").cast("long").alias("pos"),
        F.sum(1 - F.col("label")).cast("long").alias("neg"),
    )
    tot = by_score.agg(
        F.sum("pos").cast("long").alias("p"), F.sum("neg").cast("long").alias("n")
    )
    # BOUNDED global window over the distinct-score table (see SCALE.md
    # §global-windows: score domain, not row count).
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, 0)
    cum = by_score.select(
        F.sum("pos").over(w).cast("long").alias("cum_pos"),
        F.sum("neg").over(w).cast("long").alias("cum_neg"),
    )
    return (
        cum.join(F.broadcast(tot))
        .groupBy("p", "n")
        .agg(
            F.round(
                F.max(
                    F.abs(F.col("cum_pos") * F.col("n") - F.col("cum_neg") * F.col("p"))
                ).cast("double")
                / (F.first("p") * 1.0 * F.first("n")),
                6,
            ).alias("ks")
        )
        .select(F.col("p").alias("n_pos"), F.col("n").alias("n_neg"), "ks")
    )


@register(
    "q_ml_lift",
    family="mleval",
    oracle=f"""
    WITH {_USERS_SQL},
    rng AS (SELECT CAST(min(score) AS BIGINT) AS mn,
                   CAST(max(score) AS BIGINT) AS mx FROM ex),
    binned AS (
      SELECT CAST((ex.score - r.mn) * 10 // (r.mx - r.mn + 1) AS BIGINT) AS bin,
             ex.label
      FROM ex CROSS JOIN rng r
    ),
    cells AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(label) AS BIGINT) AS pos
      FROM binned GROUP BY bin
    ),
    tt AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
                CAST(sum(pos) AS BIGINT) AS p FROM cells),
    cum AS (
      SELECT bin, n, pos,
             CAST(sum(n) OVER (ORDER BY bin DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_n,
             CAST(sum(pos) OVER (ORDER BY bin DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_pos
      FROM cells
    )
    SELECT c.bin, c.n, c.pos,
           round(CAST(c.cum_pos AS DOUBLE) / t.p, 6) AS gain,
           round(CAST(c.cum_pos AS DOUBLE) * t.nt / (t.p * 1.0 * c.cum_n), 6)
             AS lift
    FROM cum c CROSS JOIN tt t
    ORDER BY c.bin DESC
    """,
    doc="Cumulative gains / lift table: score bins walked from the "
    "highest down, reporting what fraction of all positives is "
    "captured (gain) and the capture rate vs random targeting (lift) "
    "— the campaign-targeting readout ('contact the top 2 bins, reach "
    "58% of buyers at 1.4x random'). Bins are the same all-integer "
    "fixed-width cut as q_ml_calibration (broadcast min/max, no "
    "global rank); cumulative sums run top-down over ≤10 bin rows; "
    "gain and lift are single rounded divisions of exact integers "
    "(lift cross-multiplied as cum_pos·NT / (P·cum_n)). One data "
    "pass, constant-size everything after.",
)
def q_ml_lift(spark, sf_dir):
    from pyspark.sql import Window

    ex = _examples(spark, sf_dir)
    rng = ex.agg(
        F.min("score").cast("long").alias("mn"), F.max("score").cast("long").alias("mx")
    )
    binned = ex.join(F.broadcast(rng)).select(
        F.floor((F.col("score") - F.col("mn")) * 10 / (F.col("mx") - F.col("mn") + 1))
        .cast("long")
        .alias("bin"),
        "label",
    )
    cells = binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"), F.sum("label").cast("long").alias("pos")
    )
    tot = cells.agg(
        F.sum("n").cast("long").alias("nt"), F.sum("pos").cast("long").alias("p")
    )
    # BOUNDED global window: partitioned-by-nothing but over the FIXED
    # bin grid (constant cardinality at any corpus size).
    w = Window.orderBy(F.col("bin").desc()).rowsBetween(Window.unboundedPreceding, 0)
    cum = cells.select(
        "bin",
        "n",
        "pos",
        F.sum("n").over(w).cast("long").alias("cum_n"),
        F.sum("pos").over(w).cast("long").alias("cum_pos"),
    )
    return (
        cum.join(F.broadcast(tot))
        .select(
            "bin",
            "n",
            "pos",
            F.round(F.col("cum_pos").cast("double") / F.col("p"), 6).alias("gain"),
            F.round(
                F.col("cum_pos").cast("double")
                * F.col("nt")
                / (F.col("p") * 1.0 * F.col("cum_n")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("bin").desc())
    )


_NDCG_PROBES = 20
_NDCG_K = 10


@register(
    "q_ml_ndcg",
    family="mleval",
    oracle=f"""
    WITH probes AS (
      SELECT vec_id AS probe_id, embedding AS p, label AS plabel
      FROM embeddings WHERE vec_id < {_NDCG_PROBES}
    ),
    corpus AS (
      SELECT vec_id, embedding, label FROM embeddings
      WHERE vec_id >= {_NDCG_PROBES}
    ),
    nrel AS (
      SELECT pr.probe_id,
             CAST(count(*) AS BIGINT) AS n_rel
      FROM probes pr JOIN corpus c ON c.label = pr.plabel
      GROUP BY pr.probe_id
    ),
    sims AS (
      SELECT pr.probe_id, pr.plabel, c.vec_id, c.label,
             round(
               list_sum(list_transform(range(1, 65),
                        i -> c.embedding[i]::DOUBLE * pr.p[i]::DOUBLE))
               / (sqrt(list_sum(list_transform(range(1, 65),
                        i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)))
                * sqrt(list_sum(list_transform(range(1, 65),
                        i -> pr.p[i]::DOUBLE * pr.p[i]::DOUBLE)))),
               5) AS cos_sim
      FROM corpus c, probes pr
    ),
    hits AS (
      SELECT probe_id,
             CASE WHEN label = plabel THEN 1 ELSE 0 END AS rel,
             row_number() OVER (
               PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id
             ) AS rk
      FROM sims
    ),
    dcg AS (
      SELECT probe_id,
             CAST(sum(rel * CAST(round(1e9 / (ln(rk + 1) / ln(2)), 0)
               AS BIGINT)) AS BIGINT) AS dcg_q
      FROM hits WHERE rk <= {_NDCG_K}
      GROUP BY probe_id
    )
    SELECT n.probe_id, n.n_rel,
           round(CAST(d.dcg_q AS DOUBLE) / list_sum(list_transform(
             range(1, least(n.n_rel, {_NDCG_K}) + 1),
             i -> CAST(round(1e9 / (ln(i + 1) / ln(2)), 0) AS BIGINT))),
             6) AS ndcg
    FROM nrel n JOIN dcg d ON d.probe_id = n.probe_id
    ORDER BY n.probe_id
    """,
    doc=f"NDCG@{_NDCG_K} of cosine retrieval per probe: "
    f"{_NDCG_PROBES} query vectors ranked against the corpus, "
    "relevance = same class label — the ranking-quality readout for "
    "an embedding index (ANN recall says 'found the true neighbors'; "
    "NDCG says 'the ranking puts RELEVANT items first'). EXACT "
    "cross-engine: cosines round to 5 before ranking (ties break on "
    "vec_id — the established knn pattern); each position discount "
    "1/log2(rk+1) is rounded to an exact 1e9-scaled BIGINT, so "
    "DCG and ideal-DCG are exact integer sums and NDCG is one "
    "rounded division. The ideal DCG sums the same quantized "
    "discounts over min(n_rel, k) positions via an identical "
    "sequence-fold both engines. Scale: the probe matrix rides into "
    "mapInPandas by value (k·d floats) and each Arrow batch computes "
    "one (n x p) GEMM then emits only its LOCAL top-k per probe — "
    "the q_sim_knn_join kernel verbatim (global top-k under a total "
    "order is a subset of the per-batch top-k union; np.round(.,5) "
    "before ranking matches the oracle exactly, as knn_join's five "
    "rounds of hash-green driver rows prove) — so the per-probe rank "
    "window reads ~batches·probes·k rows instead of probes·|corpus| "
    "(r5 verdict watch #3, closed in r6; a first attempt that kept "
    "the JVM zip_with cosine and capped in Python was measured at "
    "121.8s/100x — the per-pair HOF fold, not the window, was the "
    "real cost, and the GEMM removes it).",
)
def q_ml_ndcg(spark, sf_dir):
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    e = t(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < _NDCG_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("p"),
        F.col("label").alias("plabel"),
    )
    corpus = e.filter(F.col("vec_id") >= _NDCG_PROBES)
    nrel = (
        probes.join(
            F.broadcast(
                corpus.groupBy("label").agg(F.count("*").cast("long").alias("n_rel"))
            ),
            F.col("label") == F.col("plabel"),
        )
        .select("probe_id", "n_rel")
    )

    probe_rows = probes.orderBy("probe_id").collect()
    if not probe_rows:  # empty corpus: no probes, empty result
        return spark.createDataFrame([], "probe_id long, n_rel long, ndcg double")
    probe_ids = np.array([int(r.probe_id) for r in probe_rows])
    plabels = np.array([r.plabel for r in probe_rows], dtype=object)
    P = np.array([[float(x) for x in r.p] for r in probe_rows])
    p_norms = np.sqrt((P * P).sum(axis=1))

    # one corpus pass: per Arrow batch an (n x p) GEMM, emitting only
    # the batch-local top-k per probe under the SAME (cos desc, vec_id)
    # total order the rank window uses — the global top-k is always a
    # subset of the per-batch top-k union, so the window reads
    # ~batches·probes·k rows, never probes·|corpus| (r5 watch #3)
    def _gemm_topk(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy()
            labels = pdf["label"].to_numpy()
            a_norms = np.sqrt((A * A).sum(axis=1))
            # oracle form: dot / (|a| * |b|), then round — matches the
            # DuckDB fold's op order the same way vector.py's
            # pairwise_cosine_gemm does; normalize-then-GEMM differs by
            # ~1 ulp, enough to flip a rank at a 0.5e-5 rounding boundary
            sims = np.round((A @ P.T) / (a_norms[:, None] * p_norms[None, :]), 5)
            out_p, out_v, out_r, out_s = [], [], [], []
            for j, pid in enumerate(probe_ids):
                order = np.lexsort((ids, -sims[:, j]))[:_NDCG_K]
                out_p.extend([pid] * len(order))
                out_v.extend(ids[order])
                out_r.extend((labels[order] == plabels[j]).astype(int))
                out_s.extend(sims[order, j])
            yield pd.DataFrame(
                {
                    "probe_id": out_p,
                    "vec_id": out_v,
                    "rel": out_r,
                    "cos_sim": out_s,
                }
            )

    capped = corpus.select("vec_id", "embedding", "label").mapInPandas(
        _gemm_topk, "probe_id long, vec_id long, rel int, cos_sim double"
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    wq = F.round(F.lit(1e9) / (F.log(F.col("rk") + 1) / F.log(F.lit(2.0))), 0).cast(
        "long"
    )
    dcg = (
        capped.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _NDCG_K)
        .groupBy("probe_id")
        .agg(
            F.sum(F.when(F.col("rel") == 1, wq).otherwise(F.lit(0)))
            .cast("long")
            .alias("dcg_q")
        )
    )
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.least(F.col("n_rel"), F.lit(_NDCG_K))),
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + F.round(
            F.lit(1e9) / (F.log(i.cast("double") + 1) / F.log(F.lit(2.0))), 0
        ).cast("long"),
    )
    return (
        nrel.join(dcg, "probe_id")
        .select(
            "probe_id",
            "n_rel",
            F.round(F.col("dcg_q").cast("double") / idcg, 6).alias("ndcg"),
        )
        .orderBy("probe_id")
    )


_NCC_TEST = 100  # vec_id < 100 held out; the rest trains
_NCC_Q = 10_000_000  # per-dim quantizer: float32 values fit 1e7 exactly


@register(
    "q_ml_centroid_classify",
    family="mleval",
    oracle=f"""
    WITH train AS (
      SELECT label, embedding FROM embeddings WHERE vec_id >= {_NCC_TEST}
    ),
    dims AS (
      SELECT t.label, i.i,
             CAST(sum(CAST(round(t.embedding[i.i]::DOUBLE * {_NCC_Q}, 0)
               AS BIGINT)) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM train t, range(1, 65) i(i)
      GROUP BY t.label, i.i
    ),
    test AS (
      SELECT vec_id, label AS true_label, embedding
      FROM embeddings WHERE vec_id < {_NCC_TEST}
    ),
    dist AS (
      SELECT te.vec_id, te.true_label, d.label AS cand,
             round(sum(
               (te.embedding[d.i]::DOUBLE - d.s * 1.0 / (d.n * {_NCC_Q}.0))
               * (te.embedding[d.i]::DOUBLE - d.s * 1.0 / (d.n * {_NCC_Q}.0))
             ), 5) AS d2
      FROM test te JOIN dims d ON TRUE
      WHERE te.embedding[d.i] IS NOT NULL
      GROUP BY te.vec_id, te.true_label, d.label
    ),
    pred AS (
      SELECT vec_id, true_label, cand AS pred_label,
             row_number() OVER (
               PARTITION BY vec_id ORDER BY d2, cand
             ) AS rk
      FROM dist
    )
    SELECT CAST(true_label AS BIGINT) AS true_label,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
             AS BIGINT) AS n_correct,
           round(CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0
             END) AS DOUBLE) / count(*), 6) AS accuracy
    FROM pred WHERE rk = 1
    GROUP BY true_label ORDER BY true_label
    """,
    doc="Nearest-centroid classification readout: class centroids from "
    f"the training split (vec_id >= {_NCC_TEST}), each held-out vector "
    "assigned to the closest centroid by squared L2, per-class "
    "accuracy — the cheapest embedding-quality probe ('do classes "
    "separate linearly?') run before any expensive fine-tune. "
    "Determinism is CONSTRUCTIVE, not statistical: per-dim training "
    "values are quantized to exact 1e7-scaled BIGINTs BEFORE the sum, "
    "so each centroid dimension is the identical rational s/(n·1e7) "
    "in both engines, every distance is the same float expression "
    "tree (rounded to 5, ties by label), and the argmin is exact. "
    "Scale: the centroid table is k·d rows (map-side-combinable "
    "integer sums); scoring joins test rows against a BROADCAST "
    "k·d-row table — one pass, no shuffle of the corpus; the "
    "per-vec argmin window input is k rows.",
)
def q_ml_centroid_classify(spark, sf_dir):
    from pyspark.sql import Window

    e = t(spark, sf_dir, "embeddings")
    train = e.filter(F.col("vec_id") >= _NCC_TEST)
    dims = (
        train.select(
            "label", F.posexplode("embedding").alias("i0", "val")
        )
        .select(
            "label",
            (F.col("i0") + 1).alias("i"),
            F.round(F.col("val").cast("double") * _NCC_Q, 0).cast("long").alias("q"),
        )
        .groupBy("label", "i")
        .agg(F.sum("q").cast("long").alias("s"), F.count("*").cast("long").alias("n"))
    )
    test = e.filter(F.col("vec_id") < _NCC_TEST).select(
        "vec_id",
        F.col("label").alias("true_label"),
        F.posexplode("embedding").alias("i0", "x"),
    ).select("vec_id", "true_label", (F.col("i0") + 1).alias("i"), "x")
    diff = F.col("x").cast("double") - F.col("s") * 1.0 / (F.col("n") * float(_NCC_Q))
    dist = (
        test.join(F.broadcast(dims), "i")
        .groupBy("vec_id", "true_label", F.col("label").alias("cand"))
        .agg(F.round(F.sum(diff * diff), 5).alias("d2"))
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cand")
    return (
        dist.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .groupBy(F.col("true_label").cast("long").alias("true_label"))
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.sum(F.when(F.col("cand") == F.col("true_label"), 1).otherwise(0))
            .cast("long")
            .alias("n_correct"),
        )
        .select(
            "true_label",
            "n_test",
            "n_correct",
            F.round(F.col("n_correct").cast("double") / F.col("n_test"), 6).alias(
                "accuracy"
            ),
        )
        .orderBy("true_label")
    )


@register(
    "q_ml_pr_curve",
    family="mleval",
    oracle=f"""
    WITH {_USERS_SQL},
    by_score AS (
      SELECT score,
             CAST(sum(label) AS BIGINT) AS pos,
             CAST(count(*) AS BIGINT) AS n
      FROM ex GROUP BY score
    ),
    tt AS (SELECT CAST(sum(pos) AS BIGINT) AS p FROM by_score),
    cum AS (
      SELECT score,
             CAST(sum(pos) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS tp,
             CAST(sum(n) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS pred_pos
      FROM by_score
    )
    SELECT c.score AS threshold,
           c.tp, c.pred_pos,
           round(c.tp * 1.0 / c.pred_pos, 6) AS precision_,
           round(c.tp * 1.0 / t.p, 6) AS recall_
    FROM cum c CROSS JOIN tt t
    ORDER BY threshold DESC
    """,
    doc="Precision-recall curve: one operating point per DISTINCT "
    "score threshold (predict positive iff score >= t), computed from "
    "cumulative sums walked from the top score down — the curve "
    "behind average-precision and threshold selection for imbalanced "
    "problems where ROC flatters (q_ml_auc integrates ranking; this "
    "shows the precision you actually get at each recall). Same "
    "sufficient-statistics shape as AUC/KS: the window runs over the "
    "bounded distinct-score table, never over examples; precision "
    "and recall are single rounded divisions of exact BIGINTs.",
)
def q_ml_pr_curve(spark, sf_dir):
    from pyspark.sql import Window

    ex = _examples(spark, sf_dir)
    by_score = ex.groupBy("score").agg(
        F.sum("label").cast("long").alias("pos"),
        F.count("*").cast("long").alias("n"),
    )
    tt = by_score.agg(F.sum("pos").cast("long").alias("p"))
    # BOUNDED global window over the distinct-score table (see SCALE.md
    # §global-windows).
    w = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = by_score.select(
        F.col("score").alias("threshold"),
        F.sum("pos").over(w).cast("long").alias("tp"),
        F.sum("n").over(w).cast("long").alias("pred_pos"),
    )
    return (
        cum.join(F.broadcast(tt))
        .select(
            "threshold",
            "tp",
            "pred_pos",
            F.round(F.col("tp") * 1.0 / F.col("pred_pos"), 6).alias("precision_"),
            F.round(F.col("tp") * 1.0 / F.col("p"), 6).alias("recall_"),
        )
        .orderBy(F.col("threshold").desc())
    )


@register(
    "q_ml_brier",
    family="mleval",
    oracle=f"""
    WITH {_USERS_SQL},
    rng AS (SELECT CAST(min(score) AS BIGINT) AS mn,
                   CAST(max(score) AS BIGINT) AS mx FROM ex),
    terms AS (
      SELECT ex.label,
             CAST(round(
               ((ex.score - r.mn) * 1.0 / (r.mx - r.mn) - ex.label)
               * ((ex.score - r.mn) * 1.0 / (r.mx - r.mn) - ex.label)
               * 1e9, 0) AS BIGINT) AS tq
      FROM ex CROSS JOIN rng r
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(tq) AS DOUBLE) / (count(*) * 1e9), 6) AS brier
    FROM terms
    """,
    doc="Brier score: mean squared error of the min-max-normalized "
    "score against the binary label — the strictly proper scoring "
    "rule that penalizes BOTH miscalibration and poor resolution in "
    "one number (q_ml_calibration shows the reliability table; Brier "
    "compresses it plus sharpness into the metric you track "
    "release-over-release). Each squared residual is an identical "
    "float expression of exact integers (broadcast min/max "
    "normalization), quantized to 1e-9 and BIGINT-summed — "
    "order-independent cross-engine. One data pass, constant-size "
    "after.",
)
def q_ml_brier(spark, sf_dir):
    ex = _examples(spark, sf_dir)
    rng = ex.agg(
        F.min("score").cast("long").alias("mn"),
        F.max("score").cast("long").alias("mx"),
    )
    p_hat = (F.col("score") - F.col("mn")) * 1.0 / (F.col("mx") - F.col("mn"))
    tq = F.round((p_hat - F.col("label")) * (p_hat - F.col("label")) * 1e9, 0).cast(
        "long"
    )
    return (
        ex.join(F.broadcast(rng))
        .select(tq.alias("tq"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum("tq").cast("double") / (F.count("*") * 1e9), 6).alias(
                "brier"
            ),
        )
    )


@register(
    "q_ml_regression_metrics",
    family="mleval",
    oracle=f"""
    WITH {_USERS_SQL},
    pred AS (
      SELECT u.p, u.s, t.nu, t.tp, t.ts FROM u CROSS JOIN tot t
    ),
    terms AS (
      SELECT abs(p * ts - s * tp) AS ae_num,
             CAST(round((CAST(p * ts - s * tp AS DOUBLE) / NULLIF(ts, 0))
                        * (CAST(p * ts - s * tp AS DOUBLE) / NULLIF(ts, 0))
                        * 1e9, 0) AS BIGINT) AS sq,
             CAST(round((CAST(p * nu - tp AS DOUBLE) / NULLIF(nu, 0))
                        * (CAST(p * nu - tp AS DOUBLE) / NULLIF(nu, 0))
                        * 1e9, 0) AS BIGINT) AS sq_tot,
             ts
      FROM pred
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(ae_num) AS DOUBLE)
                 / NULLIF(CAST(count(*) AS DOUBLE) * max(ts), 0), 6) AS mae,
           round(sqrt(CAST(sum(sq) AS DOUBLE)
                 / (CAST(count(*) AS DOUBLE) * 1e9)), 6) AS rmse,
           round(1 - CAST(sum(sq) AS DOUBLE)
                 / NULLIF(CAST(sum(sq_tot) AS DOUBLE), 0), 6) AS r2
    FROM terms
    """,
    doc="Regression-eval readouts (MAE / RMSE / R^2) — the numeric "
    "sibling of the classification family (q_ml_auc..q_ml_brier "
    "score rankers; this scores a REGRESSOR): y = the user's "
    "purchase count, y_hat = the engagement-rate linear baseline "
    "s * total_purchases / total_engagement. Cross-engine exactness "
    "by the family's sufficient-statistics discipline: every "
    "residual is the INTEGER cross-multiplication (p*ts - s*tp) so "
    "no float mean or rate ever exists — MAE's numerator is an "
    "exact |.|-sum, the squared terms are identical float "
    "expressions of exact integers quantized to 1e-9 per row (the "
    "q_ml_brier trick, which also keeps each TERM inside int64 where "
    "(p*ts)^2 would overflow), their corpus sums ride DECIMAL(38,0) "
    "— the analog of DuckDB's HUGEINT sum, so billions of examples "
    "with large residuals cannot wrap — and each metric is one "
    "rounded division of doubles (sqrt on a bitwise-identical "
    "double for RMSE). Scale: one user-keyed rollup "
    "(map-side partials), a broadcast 1-row totals join, then a "
    "constant-size fold — examples never shuffle twice.",
)
def q_ml_regression_metrics(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("p"),
        F.sum(F.when(F.col("event_type") != "purchase", 1).otherwise(0))
        .cast("long")
        .alias("s"),
    )
    tot = u.agg(
        F.count("*").cast("long").alias("nu"),
        F.sum("p").cast("long").alias("tp"),
        F.sum("s").cast("long").alias("ts"),
    )
    pred = u.join(F.broadcast(tot))
    # NULLIF guards mirror the oracle exactly: the degenerate all-purchase
    # corpus (ts=0) must yield NULL metrics on BOTH engines — without them
    # DuckDB's double division yields inf and CAST(round(inf) AS BIGINT)
    # raises while Spark returns NULL (ADVICE r5 #2)
    ts_nz = F.nullif(F.col("ts"), F.lit(0))
    nu_nz = F.nullif(F.col("nu"), F.lit(0))
    r = (F.col("p") * F.col("ts") - F.col("s") * F.col("tp")).cast("double") / ts_nz
    rt = (F.col("p") * F.col("nu") - F.col("tp")).cast("double") / nu_nz
    terms = pred.select(
        F.abs(F.col("p") * F.col("ts") - F.col("s") * F.col("tp")).alias("ae_num"),
        F.round(r * r * 1e9, 0).cast("long").alias("sq"),
        F.round(rt * rt * 1e9, 0).cast("long").alias("sq_tot"),
        "ts",
    )
    # exact sums ride DECIMAL(38,0) — the int64 analog of DuckDB's
    # HUGEINT sum — so 1e9-quantized squared residuals cannot wrap at
    # example counts where sum(sq) exceeds BIGINT; denominators go
    # through double before multiplying for the same reason
    sum38 = lambda c: F.sum(F.col(c).cast("decimal(38,0)")).cast("double")  # noqa: E731
    n_dbl = F.count("*").cast("double")
    return terms.agg(
        F.count("*").cast("long").alias("n"),
        F.round(
            sum38("ae_num") / F.nullif(n_dbl * F.max("ts"), F.lit(0.0)), 6
        ).alias("mae"),
        F.round(F.sqrt(sum38("sq") / (n_dbl * 1e9)), 6).alias("rmse"),
        F.round(
            F.lit(1) - sum38("sq") / F.nullif(sum38("sq_tot"), F.lit(0.0)), 6
        ).alias("r2"),
    )


@register(
    "q_ml_mcc",
    family="mleval",
    oracle=f"""
    WITH {_USERS_SQL},
    pred AS (
      SELECT label,
             CASE WHEN ex.score * t.nu > t.ts THEN 1 ELSE 0 END AS yhat
      FROM ex CROSS JOIN tot t
    ),
    c AS (
      SELECT CAST(sum(CASE WHEN label = 1 AND yhat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN label = 0 AND yhat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN label = 1 AND yhat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(sum(CASE WHEN label = 0 AND yhat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM pred
    )
    SELECT tp, fp, fn, tn,
           round((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
                 / (sqrt(CAST(tp + fp AS DOUBLE)) * sqrt(CAST(tp + fn AS DOUBLE))
                  * sqrt(CAST(tn + fp AS DOUBLE)) * sqrt(CAST(tn + fn AS DOUBLE))),
                 6) + 0.0 AS mcc,
           round((CAST(tp AS DOUBLE) / nullif(tp + fn, 0)
                + CAST(tn AS DOUBLE) / nullif(tn + fp, 0)) / 2, 6) + 0.0
             AS balanced_acc,
           round(CAST(tp AS DOUBLE) / nullif(tp + fn, 0)
               - CAST(fp AS DOUBLE) / nullif(fp + tn, 0), 6) + 0.0 AS youden_j
    FROM c
    """,
    doc="Matthews correlation coefficient + balanced accuracy + "
    "Youden's J at q_ml_confusion's operating point — the "
    "chance-corrected single-number summaries that stay honest under "
    "class imbalance where accuracy and F1 inflate (MCC is the "
    "binary-case Pearson phi, the metric imbalanced-data evals "
    "report). Same float-free threshold (integer cross-"
    "multiplication), same four exact counters; each sqrt runs on its "
    "own marginal (never the product of four — that overflows where "
    "the factored form doesn't), and zero marginals degrade to NULL "
    "via nullif on BOTH engines. Scale: per-user rollup then a "
    "4-counter agg; constant beyond the first groupBy. Ref: no "
    "reference counterpart — ML-eval tier.",
)
def q_ml_mcc(spark, sf_dir):
    ex = _examples(spark, sf_dir)
    # yhat needs the score total again: recompute the 1-row totals from
    # the examples themselves (score sum == ts, count == nu)
    tot = ex.agg(
        F.count(F.lit(1)).cast("long").alias("nu"),
        F.sum("score").cast("long").alias("ts_"),
    )
    pred = ex.join(F.broadcast(tot)).select(
        "label",
        F.when(F.col("score") * F.col("nu") > F.col("ts_"), 1).otherwise(0).alias(
            "yhat"
        ),
    )
    c = pred.agg(
        F.sum(F.when((F.col("label") == 1) & (F.col("yhat") == 1), 1).otherwise(0))
        .cast("long").alias("tp"),
        F.sum(F.when((F.col("label") == 0) & (F.col("yhat") == 1), 1).otherwise(0))
        .cast("long").alias("fp"),
        F.sum(F.when((F.col("label") == 1) & (F.col("yhat") == 0), 1).otherwise(0))
        .cast("long").alias("fn"),
        F.sum(F.when((F.col("label") == 0) & (F.col("yhat") == 0), 1).otherwise(0))
        .cast("long").alias("tn"),
    )
    tp, fp, fn, tn = (F.col(x) for x in ("tp", "fp", "fn", "tn"))
    mcc = (tp.cast("double") * tn - fp.cast("double") * fn) / (
        F.sqrt((tp + fp).cast("double"))
        * F.sqrt((tp + fn).cast("double"))
        * F.sqrt((tn + fp).cast("double"))
        * F.sqrt((tn + fn).cast("double"))
    )
    tpr = tp.cast("double") / F.nullif(tp + fn, F.lit(0))
    tnr = tn.cast("double") / F.nullif(tn + fp, F.lit(0))
    fpr = fp.cast("double") / F.nullif(fp + tn, F.lit(0))
    return c.select(
        "tp", "fp", "fn", "tn",
        (F.round(mcc, 6) + 0.0).alias("mcc"),
        (F.round((tpr + tnr) / 2, 6) + 0.0).alias("balanced_acc"),
        (F.round(tpr - fpr, 6) + 0.0).alias("youden_j"),
    )


_FAIR_GROUPS = 4


@register(
    "q_ml_group_fairness",
    family="mleval",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CAST(user_id % {_FAIR_GROUPS} AS BIGINT) AS grp,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS p,
             CAST(sum(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS s
      FROM events GROUP BY user_id
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS nu,
                   CAST(sum(p) AS BIGINT) AS tp,
                   CAST(sum(s) AS BIGINT) AS ts FROM u),
    ex AS (
      SELECT grp,
             CASE WHEN u.p * t.nu > t.tp THEN 1 ELSE 0 END AS label,
             CASE WHEN u.s * t.nu > t.ts THEN 1 ELSE 0 END AS yhat
      FROM u CROSS JOIN tot t
    ),
    g AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(label) AS BIGINT) AS pos,
             CAST(sum(yhat) AS BIGINT) AS pred_pos,
             CAST(sum(CASE WHEN label = 1 AND yhat = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS tp,
             CAST(sum(CASE WHEN label = 0 AND yhat = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS fp
      FROM ex GROUP BY grp
    )
    SELECT grp, n, pos, pred_pos,
           round(CAST(pred_pos AS DOUBLE) / n, 6) AS selection_rate,
           round(CAST(tp AS DOUBLE) / nullif(pos, 0), 6) + 0.0 AS tpr,
           round(CAST(fp AS DOUBLE) / nullif(n - pos, 0), 6) + 0.0 AS fpr
    FROM g ORDER BY grp
    """,
    doc="Group-fairness audit of q_ml_confusion's classifier: per "
    "cohort (deterministic user_id mod {n} proxy attribute) the "
    "selection rate (demographic-parity readout), TPR and FPR "
    "(equalized-odds readouts) — the slice table every responsible-AI "
    "review and model card reports; gaps across rows are the fairness "
    "violations. Same float-free label/threshold construction as the "
    "rest of mleval; rates are single rounded divisions of exact "
    "integers with nullif degeneracy guards mirrored on both engines. "
    "Scale: per-user rollup (combinable), then a {n}-row group agg — "
    "constant-size after the first shuffle; a real protected attribute "
    "would join in from a dim table as a broadcast. Ref: no reference "
    "counterpart — ML-eval/governance tier.".format(n=_FAIR_GROUPS),
)
def q_ml_group_fairness(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long").alias("p"),
        F.sum(F.when(F.col("event_type") != "purchase", 1).otherwise(0))
        .cast("long").alias("s"),
    )
    tot = u.agg(
        F.count(F.lit(1)).cast("long").alias("nu"),
        F.sum("p").cast("long").alias("tp_"),
        F.sum("s").cast("long").alias("ts_"),
    )
    ex = u.join(F.broadcast(tot)).select(
        (F.col("user_id") % _FAIR_GROUPS).cast("long").alias("grp"),
        F.when(F.col("p") * F.col("nu") > F.col("tp_"), 1).otherwise(0).alias("label"),
        F.when(F.col("s") * F.col("nu") > F.col("ts_"), 1).otherwise(0).alias("yhat"),
    )
    g = ex.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("label").cast("long").alias("pos"),
        F.sum("yhat").cast("long").alias("pred_pos"),
        F.sum(F.when((F.col("label") == 1) & (F.col("yhat") == 1), 1).otherwise(0))
        .cast("long").alias("tp"),
        F.sum(F.when((F.col("label") == 0) & (F.col("yhat") == 1), 1).otherwise(0))
        .cast("long").alias("fp"),
    )
    return g.select(
        "grp", "n", "pos", "pred_pos",
        F.round(F.col("pred_pos").cast("double") / F.col("n"), 6).alias(
            "selection_rate"
        ),
        (F.round(F.col("tp").cast("double") / F.nullif(F.col("pos"), F.lit(0)), 6)
         + 0.0).alias("tpr"),
        (F.round(
            F.col("fp").cast("double")
            / F.nullif(F.col("n") - F.col("pos"), F.lit(0)),
            6,
        ) + 0.0).alias("fpr"),
    ).orderBy("grp")


@register(
    "q_ml_auc_by_group",
    family="mleval",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CAST(user_id % {_FAIR_GROUPS} AS BIGINT) AS grp,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS p,
             CAST(sum(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS s
      FROM events GROUP BY user_id
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS nu,
                   CAST(sum(p) AS BIGINT) AS tp FROM u),
    ex AS (
      SELECT grp, u.s AS score,
             CASE WHEN u.p * t.nu > t.tp THEN 1 ELSE 0 END AS label
      FROM u CROSS JOIN tot t
    ),
    by_score AS (
      SELECT grp, score,
             CAST(sum(label) AS BIGINT) AS pos,
             CAST(sum(1 - label) AS BIGINT) AS neg
      FROM ex GROUP BY grp, score
    ),
    ranked AS (
      SELECT grp, pos, neg,
             CAST(coalesce(sum(neg) OVER (PARTITION BY grp ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS neg_below
      FROM by_score
    )
    SELECT grp,
           CAST(sum(pos) AS BIGINT) AS n_pos,
           CAST(sum(neg) AS BIGINT) AS n_neg,
           -- U grows O(P*N): accumulate in HUGEINT, cast once to DOUBLE
           round(CAST(sum(CAST(pos AS HUGEINT) * (2 * neg_below + neg)) AS DOUBLE)
                 / (2.0 * nullif(sum(pos) * sum(neg), 0)), 6) + 0.0 AS auc
    FROM ranked GROUP BY grp ORDER BY grp
    """,
    doc="Subgroup ROC AUC — q_ml_auc sliced by q_ml_group_fairness's "
    "cohorts: does the score RANK as well within every group? The "
    "ranking-quality half of a fairness review (a model can pass "
    "demographic-parity checks while ranking one cohort at "
    "coin-flip quality — this is the readout that catches it; labels "
    "stay GLOBAL so cohorts are comparable). Same exact Mann-Whitney "
    "identity on integer counts as q_ml_auc, windowed per group over "
    "the bounded distinct-score table; degenerate one-class groups "
    "degrade to NULL via nullif on both engines. Scale: one per-user "
    "rollup, then everything runs on (groups x distinct scores) rows. "
    "Ref: no reference counterpart — ML-eval/governance tier.",
)
def q_ml_auc_by_group(spark, sf_dir):
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long").alias("p"),
        F.sum(F.when(F.col("event_type") != "purchase", 1).otherwise(0))
        .cast("long").alias("s"),
    )
    tot = u.agg(
        F.count(F.lit(1)).cast("long").alias("nu"),
        F.sum("p").cast("long").alias("tp_"),
    )
    ex = u.join(F.broadcast(tot)).select(
        (F.col("user_id") % _FAIR_GROUPS).cast("long").alias("grp"),
        F.col("s").alias("score"),
        F.when(F.col("p") * F.col("nu") > F.col("tp_"), 1).otherwise(0).alias("label"),
    )
    by_score = ex.groupBy("grp", "score").agg(
        F.sum("label").cast("long").alias("pos"),
        F.sum(1 - F.col("label")).cast("long").alias("neg"),
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = by_score.select(
        "grp",
        "pos",
        "neg",
        F.coalesce(F.sum("neg").over(w), F.lit(0)).cast("long").alias("neg_below"),
    )
    return (
        ranked.groupBy("grp")
        .agg(
            F.sum("pos").cast("long").alias("n_pos"),
            F.sum("neg").cast("long").alias("n_neg"),
            (
                F.round(
                    F.sum(
                        # O(P*N) U statistic — DECIMAL accumulator
                        F.col("pos").cast("decimal(38,0)")
                        * (2 * F.col("neg_below") + F.col("neg")).cast(
                            "decimal(38,0)"
                        )
                    ).cast("double")
                    / (2.0 * F.nullif(F.sum("pos") * F.sum("neg"), F.lit(0))),
                    6,
                )
                + 0.0
            ).alias("auc"),
        )
        .orderBy("grp")
    )


@register(
    "q_ml_naive_bayes",
    family="mleval",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    train AS (SELECT * FROM toks WHERE doc_id % 5 <> 0),
    test  AS (SELECT * FROM toks WHERE doc_id % 5 = 0),
    classes AS (
      SELECT lang AS c, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_toks
      FROM train GROUP BY lang
    ),
    vocab AS (SELECT DISTINCT tok FROM train),
    vsize AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
    tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nd FROM classes),
    counts AS (
      SELECT lang AS c, tok, CAST(count(*) AS BIGINT) AS cnt
      FROM train GROUP BY lang, tok
    ),
    lp AS (
      -- add-1 smoothed log prob for EVERY (vocab token, class) cell,
      -- quantized to 1e9 fixed-point so per-doc scores are exact
      -- integer sums (order-insensitive)
      SELECT cl.c, v.tok,
             CAST(round(ln((coalesce(ct.cnt, 0) + 1.0)
                           / (cl.n_toks + vs.v)) * 1e9) AS BIGINT) AS lp_q
      FROM vocab v CROSS JOIN classes cl CROSS JOIN vsize vs
      LEFT JOIN counts ct ON ct.c = cl.c AND ct.tok = v.tok
    ),
    prior AS (
      SELECT cl.c,
             CAST(round(ln(CAST(cl.n_docs AS DOUBLE) / t.nd) * 1e9)
               AS BIGINT) AS pr_q
      FROM classes cl CROSS JOIN tot t
    ),
    scores AS (
      SELECT te.doc_id, any_value(te.lang) AS actual, lp.c,
             CAST(any_value(p.pr_q) + sum(lp.lp_q) AS BIGINT) AS score_q
      FROM test te
      JOIN lp ON lp.tok = te.tok
      JOIN prior p ON p.c = lp.c
      GROUP BY te.doc_id, lp.c
    ),
    pred AS (
      SELECT doc_id, actual, c AS predicted,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score_q DESC, c) AS rn
      FROM scores
    )
    SELECT actual AS lang,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(count(*) FILTER (predicted = actual) AS BIGINT) AS n_correct,
           round(CAST(count(*) FILTER (predicted = actual) AS DOUBLE)
                 / count(*), 6) + 0.0 AS accuracy
    FROM pred WHERE rn = 1
    GROUP BY actual ORDER BY lang
    """,
    doc="Multinomial Naive Bayes trained AND evaluated entirely in the "
    "lake (add-1 smoothing, 80/20 deterministic doc_id%5 split, "
    "language as the class): token log-probs from one train-side "
    "agg, per-doc class scores as EXACT integer sums of "
    "1e9-quantized log-probs (order-insensitive — the whole "
    "train+predict pipeline is hash-checkable cross-engine, which "
    "float log-sums would never be), argmax with a class tie-break. "
    "The shape is the classic in-database ML pattern: model = "
    "broadcast-sized (vocab × classes) table, scoring = one join + "
    "combinable agg — no UDF, no driver loop. Scale: scoring cost is "
    "O(test tokens × 1) after the lp join (the lp table hash-joins "
    "on token); train is two combinable aggs. Reported accuracy is "
    "whatever the corpus supports (the fixture's word-soup text has "
    "little lang signal — the METER is the deliverable, the number "
    "is honest). Ref: no reference counterpart — mleval tier.",
)
def q_ml_naive_bayes(spark, sf_dir):
    from pyspark.sql import Window

    # NOT spread: measured 1.7s -> 2.4s with a spread() here (r12) — the
    # explode is cheap (split only) and the added exchange + 32-way
    # partial-agg maps on (lang, tok) cost more than the parallelism
    # buys at this corpus size; the downstream aggregations already
    # parallelize via their own exchanges
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    test = toks.filter(F.col("doc_id") % 5 == 0)
    # ONE pass over the exploded train tokens: the (class, token) count
    # table is the sufficient statistic — class token totals and the
    # vocabulary both DERIVE from it (orders of magnitude smaller than
    # the token stream), and per-class doc counts come straight from
    # the un-exploded documents table. Pre-r8-final this ran three
    # aggregations over the exploded tokens (9s -> 3s at sf0.1).
    counts = (
        toks.filter(F.col("doc_id") % 5 != 0)
        .groupBy(F.col("lang").alias("c"), "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    counts = counts.localCheckpoint(eager=False)  # 3 derived consumers
    ndocs = (
        d.filter(F.col("doc_id") % 5 != 0)
        .groupBy(F.col("lang").alias("c"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    classes = (
        counts.groupBy("c")
        .agg(F.sum("cnt").cast("long").alias("n_toks"))
        .join(F.broadcast(ndocs), "c")
    )
    vocab = counts.select("tok").distinct()
    vsize = vocab.agg(F.count(F.lit(1)).cast("long").alias("v"))
    tot = classes.agg(F.sum("n_docs").cast("long").alias("nd"))
    lp = (
        vocab.crossJoin(F.broadcast(classes))
        .crossJoin(F.broadcast(vsize))
        .join(counts, ["c", "tok"], "left")
        .select(
            "c",
            "tok",
            F.round(
                F.log(
                    (F.coalesce(F.col("cnt"), F.lit(0)) + 1.0)
                    / (F.col("n_toks") + F.col("v"))
                )
                * 1e9
            ).cast("long").alias("lp_q"),
        )
    )
    prior = classes.crossJoin(F.broadcast(tot)).select(
        "c",
        F.round(
            F.log(F.col("n_docs").cast("double") / F.col("nd")) * 1e9
        ).cast("long").alias("pr_q"),
    )
    scores = (
        test.join(lp, "tok")
        .join(F.broadcast(prior), "c")
        .groupBy("doc_id", "c")
        .agg(
            F.any_value("lang").alias("actual"),
            (F.any_value("pr_q") + F.sum("lp_q")).cast("long").alias("score_q"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_q"), "c")
    pred = scores.select(
        "doc_id", "actual", F.col("c").alias("predicted"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") == 1)
    return (
        pred.groupBy(F.col("actual").alias("lang"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(F.when(F.col("predicted") == F.col("actual"), 1).otherwise(0))
            .cast("long").alias("n_correct"),
            (
                F.round(
                    F.sum(
                        F.when(F.col("predicted") == F.col("actual"), 1)
                        .otherwise(0)
                    ).cast("double")
                    / F.count(F.lit(1)),
                    6,
                )
                + 0.0
            ).alias("accuracy"),
        )
        .orderBy("lang")
    )


_SIL_MOD = 10  # vec_id % 10 == 0 → deterministic point sample


@register(
    "q_ml_silhouette",
    family="mleval",
    oracle=f"""
    WITH pts AS (
      SELECT vec_id AS pid, embedding AS pe, label AS plab
      -- the cap bounds the sample at <=256 points so the sampled-
      -- point x corpus join stays O(corpus), never quadratic; at
      -- fixture scale (max vec_id 2000, cap 2560) it excludes nothing
      FROM embeddings
      WHERE vec_id % {_SIL_MOD} = 0 AND vec_id < {_SIL_MOD} * 256
    ),
    dists AS (
      SELECT p.pid, p.plab, e.label AS clab,
             CAST(round((1.0 -
               list_sum(list_transform(range(1, 65),
                 i -> p.pe[i]::DOUBLE * e.embedding[i]::DOUBLE))
               / (sqrt(list_sum(list_transform(range(1, 65),
                   i -> p.pe[i]::DOUBLE * p.pe[i]::DOUBLE)))
                * sqrt(list_sum(list_transform(range(1, 65),
                   i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))))
             ) * 1e9) AS BIGINT) AS dq
      FROM pts p JOIN embeddings e ON e.vec_id <> p.pid
    ),
    md AS (
      SELECT pid, plab, clab,
             -- 1e9-quantized per-pair terms over up-to-corpus-size
             -- groups: HUGEINT accumulator (LONG caps at ~9e9 pairs)
             sum(CAST(dq AS HUGEINT)) AS sdq,
             CAST(count(*) AS BIGINT) AS nd
      FROM dists GROUP BY pid, plab, clab
    ),
    ab AS (
      SELECT pid, plab,
             max(CASE WHEN clab = plab THEN sdq * 1.0 / nd END) AS a_i,
             min(CASE WHEN clab <> plab THEN sdq * 1.0 / nd END) AS b_i
      FROM md GROUP BY pid, plab
    ),
    s AS (
      SELECT pid, plab,
             (b_i - a_i) / greatest(a_i, b_i) AS s_i
      FROM ab WHERE a_i IS NOT NULL AND b_i IS NOT NULL
    )
    SELECT plab AS label,
           CAST(count(*) AS BIGINT) AS n_sampled,
           round(sum(CAST(round(s_i * 1e9) AS BIGINT)) / count(*) / 1e9, 6)
             + 0.0 AS mean_silhouette
    FROM s GROUP BY plab ORDER BY label
    """,
    doc="Silhouette score per cluster label over a deterministic "
    "stride point sample (vec_id % 10) against the FULL corpus — the "
    "are-my-clusters-real metric (s≈0: overlapping, s→1: separated, "
    "s<0: misassigned) that validates the `label` partitioning used "
    "by q_dedup_semantic / q_sample_balanced / blocked GEMMs: a(i) = "
    "mean cosine distance to own label, b(i) = min over other labels "
    "of mean distance, s = (b−a)/max(a,b). Exactness: every pairwise "
    "distance is quantized 1e9 BEFORE the per-(point,label) sum "
    "(order-insensitive — a float mean over thousands of corpus "
    "rows would be summation-order-dependent); a/b are single "
    "divisions of exact ints; s_i is re-quantized before the final "
    "label mean. Scale: the sampled-point x corpus join is O(corpus "
    "× sample) with the sample a fixed stride (the standard "
    "silhouette estimator at scale — exact silhouette is O(n²) by "
    "definition); one combinable (point,label) agg. Ref: no "
    "reference counterpart — mleval tier.",
)
def q_ml_silhouette(spark, sf_dir):
    from ..functions.vector import dot, norm

    e = t(spark, sf_dir, "embeddings")
    pts = e.filter(
        (F.col("vec_id") % _SIL_MOD == 0)
        # bounded sample: <=256 points at any corpus size (see oracle)
        & (F.col("vec_id") < _SIL_MOD * 256)
    ).select(
        F.col("vec_id").alias("pid"),
        F.col("embedding").alias("pe"),
        F.col("label").alias("plab"),
    )
    cos = dot("pe", "embedding") / (norm("pe") * norm("embedding"))
    # same under-parallel-scan guard as q_sim_recall_at_k: spread the
    # expensive cosine map when the compressed file scans as <cores
    # partitions; no-op (no shuffle) when partitions are plentiful
    par = spark.sparkContext.defaultParallelism
    corpus = e if e.rdd.getNumPartitions() >= par else e.repartition(par)
    dists = (
        corpus.crossJoin(F.broadcast(pts))
        .filter(F.col("vec_id") != F.col("pid"))
        .select(
            "pid",
            "plab",
            F.col("label").alias("clab"),
            F.round((1.0 - cos) * 1e9).cast("long").alias("dq"),
        )
    )
    md = dists.groupBy("pid", "plab", "clab").agg(
        # 1e9-quantized per-pair terms over up-to-corpus-size groups:
        # DECIMAL accumulator (LONG caps at ~9e9 pairs per group)
        F.sum(F.col("dq").cast("decimal(38,0)")).alias("sdq"),
        F.count(F.lit(1)).cast("long").alias("nd"),
    )
    ab = md.groupBy("pid", "plab").agg(
        F.max(
            F.when(F.col("clab") == F.col("plab"), F.col("sdq") * 1.0 / F.col("nd"))
        ).alias("a_i"),
        F.min(
            F.when(F.col("clab") != F.col("plab"), F.col("sdq") * 1.0 / F.col("nd"))
        ).alias("b_i"),
    )
    s = ab.filter(
        F.col("a_i").isNotNull() & F.col("b_i").isNotNull()
    ).select(
        "pid",
        "plab",
        ((F.col("b_i") - F.col("a_i")) / F.greatest("a_i", "b_i")).alias("s_i"),
    )
    return (
        s.groupBy(F.col("plab").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sampled"),
            (
                F.round(
                    F.sum(F.round(F.col("s_i") * 1e9).cast("long"))
                    / F.count(F.lit(1))
                    / 1e9,
                    6,
                )
                + 0.0
            ).alias("mean_silhouette"),
        )
        .orderBy("label")
    )


_BAUC_R = 40          # bootstrap replicates (order stats 2/39 ≈ 95% CI)
_BAUC_A = 2654435761  # Knuth multiplicative-hash constant
_BAUC_B = 40503
_BAUC_M = 100000
# inverse-CDF thresholds of Poisson(1) scaled to M (same as q_agg_bootstrap)
_BAUC_W = ((36788, 0), (73576, 1), (91970, 2), (98101, 3))


def _bauc_w_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {thr} THEN {val}" for thr, val in _BAUC_W
    )
    return f"(CASE {cases} ELSE 4 END)"


@register(
    "q_ml_bootstrap_auc_ci",
    family="mleval",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS p,
             CAST(sum(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS s
      FROM events GROUP BY user_id
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS nu,
                   CAST(sum(p) AS BIGINT) AS tp FROM u),
    exu AS (
      SELECT u.user_id, u.s AS score,
             CASE WHEN u.p * t.nu > t.tp THEN 1 ELSE 0 END AS label
      FROM u CROSS JOIN tot t
    ),
    rep AS (
      SELECT e.user_id, e.score, e.label, r.r,
             {_bauc_w_sql(f"((e.user_id % {_BAUC_M}) * {_BAUC_A} + r.r * {_BAUC_B}) % {_BAUC_M}")}
               AS w
      FROM exu e CROSS JOIN range(0, {_BAUC_R}) AS r(r)
    ),
    by_score AS (
      SELECT r, score,
             CAST(sum(w * label) AS BIGINT) AS wpos,
             CAST(sum(w * (1 - label)) AS BIGINT) AS wneg
      FROM rep GROUP BY r, score
    ),
    ranked AS (
      SELECT r, wpos, wneg,
             CAST(coalesce(sum(wneg) OVER (PARTITION BY r ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS wneg_below
      FROM by_score
    ),
    aucs AS (
      SELECT r,
             -- weighted U grows O(P*N): accumulate in HUGEINT
             CAST(sum(CAST(wpos AS HUGEINT) * (2 * wneg_below + wneg)) AS DOUBLE)
             / (2.0 * sum(wpos) * sum(wneg)) AS auc
      FROM ranked GROUP BY r
    ),
    ordered AS (
      SELECT auc, row_number() OVER (ORDER BY auc, r) AS rk FROM aucs
    )
    SELECT CAST({_BAUC_R} AS BIGINT) AS n_replicates,
           round(sum(CAST(round(auc * 1e9) AS BIGINT)) / {_BAUC_R} / 1e9, 6)
             + 0.0 AS auc_boot_mean,
           round(min(CASE WHEN rk = 2 THEN auc END), 6) + 0.0 AS ci_lo,
           round(min(CASE WHEN rk = {_BAUC_R - 1} THEN auc END), 6) + 0.0
             AS ci_hi
    FROM ordered
    """,
    doc="Bootstrap confidence interval for AUC — the error bar "
    "q_ml_auc's point estimate needs before anyone compares two "
    "models on it: 40 Poisson-bootstrap replicates (per-user "
    "multiplicities from the same engine-independent LCG as "
    "q_agg_bootstrap — resampling USERS, the exchangeable unit, not "
    "events), each replicate's AUC via the weighted Mann-Whitney "
    "identity over the distinct-score table, CI = order statistics "
    "2/39 (~95%). Exactness: weighted pos/neg masses are exact ints; "
    "each replicate AUC is ONE division of exact ints; the replicate "
    "mean is quantized 1e9 before averaging; the CI rides "
    "row_number with a replicate tie-break (no float-equality "
    "pitfalls). Scale: the explode is map-side (users × 40); "
    "windows partition by replicate over the bounded score domain "
    "(SCALE.md ledger); everything map-combinable. Ref: no "
    "reference counterpart — mleval tier.",
)
def q_ml_bootstrap_auc_ci(spark, sf_dir):
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long").alias("p"),
        F.sum(F.when(F.col("event_type") != "purchase", 1).otherwise(0))
        .cast("long").alias("s"),
    )
    tot = u.agg(
        F.count(F.lit(1)).cast("long").alias("nu"),
        F.sum("p").cast("long").alias("tp"),
    )
    exu = u.join(F.broadcast(tot)).select(
        "user_id",
        F.col("s").alias("score"),
        F.when(F.col("p") * F.col("nu") > F.col("tp"), 1).otherwise(0).alias(
            "label"
        ),
    )
    rep = exu.select(
        "user_id", "score", "label",
        F.explode(F.sequence(F.lit(0), F.lit(_BAUC_R - 1))).alias("r"),
    )
    uexpr = (
        (F.col("user_id") % _BAUC_M) * _BAUC_A + F.col("r") * _BAUC_B
    ) % _BAUC_M
    w = F.when(uexpr < _BAUC_W[0][0], _BAUC_W[0][1])
    for thr, val in _BAUC_W[1:]:
        w = w.when(uexpr < thr, val)
    w = w.otherwise(4)
    by_score = (
        rep.select("r", "score", "label", w.alias("w"))
        .groupBy("r", "score")
        .agg(
            F.sum(F.col("w") * F.col("label")).cast("long").alias("wpos"),
            F.sum(F.col("w") * (1 - F.col("label"))).cast("long").alias("wneg"),
        )
    )
    # replicate-partitioned window over the bounded score domain
    wb = Window.partitionBy("r").orderBy("score").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = by_score.select(
        "r", "wpos", "wneg",
        F.coalesce(F.sum("wneg").over(wb), F.lit(0)).cast("long").alias(
            "wneg_below"
        ),
    )
    aucs = ranked.groupBy("r").agg(
        (
            # weighted U grows O(P*N) — DECIMAL accumulator
            F.sum(
                F.col("wpos").cast("decimal(38,0)")
                * (2 * F.col("wneg_below") + F.col("wneg")).cast("decimal(38,0)")
            ).cast("double")
            / (2.0 * F.sum("wpos") * F.sum("wneg"))
        ).alias("auc")
    )
    ordered = aucs.select(
        "auc", F.row_number().over(Window.orderBy("auc", "r")).alias("rk")
    )
    return ordered.agg(
        F.lit(_BAUC_R).cast("long").alias("n_replicates"),
        (
            F.round(
                F.sum(F.round(F.col("auc") * 1e9).cast("long")) / _BAUC_R / 1e9,
                6,
            )
            + 0.0
        ).alias("auc_boot_mean"),
        (F.round(F.min(F.when(F.col("rk") == 2, F.col("auc"))), 6) + 0.0).alias(
            "ci_lo"
        ),
        (
            F.round(
                F.min(F.when(F.col("rk") == _BAUC_R - 1, F.col("auc"))), 6
            )
            + 0.0
        ).alias("ci_hi"),
    )


_TC_COSTS = ((1, 1), (1, 5), (1, 20))  # (fp_cost, fn_cost) scenarios


@register(
    "q_ml_threshold_cost",
    family="mleval",
    oracle=f"""
    WITH {_USERS_SQL},
    by_score AS (
      SELECT score,
             CAST(sum(label) AS BIGINT) AS pos,
             CAST(sum(1 - label) AS BIGINT) AS neg
      FROM ex GROUP BY score
    ),
    cum AS (
      -- predict positive iff score >= threshold: at threshold t,
      -- FN = positives with score < t, FP = negatives with score >= t
      SELECT score AS threshold, pos, neg,
             CAST(coalesce(sum(pos) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS fn_,
             CAST(sum(neg) OVER (ORDER BY score
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS BIGINT) AS fp_
      FROM by_score
    ),
    costs AS (
      SELECT c.threshold, c.fn_, c.fp_, s.fp_cost, s.fn_cost,
             CAST(c.fp_ * s.fp_cost + c.fn_ * s.fn_cost AS BIGINT) AS cost
      FROM cum c CROSS JOIN (VALUES {", ".join(f"({a}, {b})" for a, b in _TC_COSTS)})
        AS s(fp_cost, fn_cost)
    ),
    best AS (
      SELECT *, row_number() OVER (PARTITION BY fp_cost, fn_cost
                                   ORDER BY cost, threshold) AS rn
      FROM costs
    )
    SELECT fp_cost, fn_cost, threshold AS best_threshold,
           fp_ AS false_positives, fn_ AS false_negatives, cost AS total_cost
    FROM best WHERE rn = 1
    ORDER BY fp_cost, fn_cost
    """,
    doc="Cost-optimal decision threshold under asymmetric FP/FN costs "
    "(three scenarios: 1:1, 1:5, 1:20) — the step every deployed "
    "classifier needs after q_ml_pr_curve: sweep every achievable "
    "threshold (= every distinct score) and pick the argmin of "
    "fp·c_fp + fn·c_fn. FN/FP counts at every threshold come from "
    "ONE pair of cumulative windows over the distinct-score table "
    "(positives below / negatives at-or-above), so the full sweep "
    "costs one window pass, not |thresholds| scans. Exactness: all "
    "counts and costs exact ints; argmin via row_number with "
    "threshold tie-break. Scale: windows on the bounded score "
    "domain (SCALE.md ledger); the scenario grid is a 3-row "
    "broadcast VALUES. Ref: no reference counterpart — mleval "
    "tier.",
)
def q_ml_threshold_cost(spark, sf_dir):
    from pyspark.sql import Window

    ex = _examples(spark, sf_dir)
    by_score = ex.groupBy("score").agg(
        F.sum("label").cast("long").alias("pos"),
        F.sum(1 - F.col("label")).cast("long").alias("neg"),
    )
    # BOUNDED global windows over the distinct-score table (SCALE.md)
    w_below = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_above = Window.orderBy("score").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    cum = by_score.select(
        F.col("score").alias("threshold"),
        F.coalesce(F.sum("pos").over(w_below), F.lit(0)).cast("long").alias(
            "fn_"
        ),
        F.sum("neg").over(w_above).cast("long").alias("fp_"),
    )
    scen = spark.createDataFrame(
        list(_TC_COSTS), "fp_cost long, fn_cost long"
    )
    costs = cum.crossJoin(F.broadcast(scen)).select(
        "threshold", "fn_", "fp_", "fp_cost", "fn_cost",
        (F.col("fp_") * F.col("fp_cost") + F.col("fn_") * F.col("fn_cost"))
        .cast("long").alias("cost"),
    )
    wb = Window.partitionBy("fp_cost", "fn_cost").orderBy("cost", "threshold")
    return (
        costs.select("*", F.row_number().over(wb).alias("rn"))
        .filter(F.col("rn") == 1)
        .select(
            "fp_cost",
            "fn_cost",
            F.col("threshold").alias("best_threshold"),
            F.col("fp_").alias("false_positives"),
            F.col("fn_").alias("false_negatives"),
            F.col("cost").alias("total_cost"),
        )
        .orderBy("fp_cost", "fn_cost")
    )


@register(
    "q_ml_ece",
    family="mleval",
    oracle=f"""
    WITH {_USERS_SQL},
    rng AS (SELECT CAST(min(score) AS BIGINT) AS mn,
                   CAST(max(score) AS BIGINT) AS mx FROM ex),
    binned AS (
      SELECT CAST((ex.score - r.mn) * 10 // (r.mx - r.mn + 1) AS BIGINT)
               AS bin,
             ex.score, ex.label, r.mn, r.mx
      FROM ex CROSS JOIN rng r
    ),
    bins AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(score) AS BIGINT) AS sscore,
             CAST(sum(label) AS BIGINT) AS pos,
             any_value(mn) AS mn, any_value(mx) AS mx
      FROM binned GROUP BY bin
    ),
    gaps AS (
      SELECT n,
             CAST(round(abs(
               CAST(pos AS DOUBLE) / n
               - (CAST(sscore AS DOUBLE) / n - mn) / (mx - mn)
             ) * 1e9) AS BIGINT) AS gap_q
      FROM bins
    )
    SELECT CAST(sum(n) AS BIGINT) AS n_examples,
           CAST(count(*) AS BIGINT) AS n_bins,
           round(sum(n * gap_q) / 1e9 / sum(n), 6) + 0.0 AS ece,
           round(max(gap_q) / 1e9, 6) + 0.0 AS mce
    FROM gaps
    """,
    doc="Expected + maximum calibration error (ECE/MCE) over the same "
    "10 fixed-width score bins as q_ml_calibration — the two scalars "
    "a model gate thresholds on, where the calibration TABLE is what "
    "a human reads: ECE = Σ(n_b/N)·|acc_b − conf_b|, MCE = max gap. "
    "Exactness: per-bin confidence comes from the exact integer "
    "score sum ((Σs/n − mn)/(mx−mn) — ONE division, unlike a "
    "row-level float avg whose summation order drifts); each bin gap "
    "is quantized 1e9 before the n-weighted cross-bin integer sum. "
    "Scale: one hash agg over users into ≤10 bins + arithmetic. "
    "Ref: no reference counterpart — mleval tier.",
)
def q_ml_ece(spark, sf_dir):
    # checkpoint: rng and binned both consume ex, halving the fact scans
    ex = _examples(spark, sf_dir).localCheckpoint(eager=False)
    rng = ex.agg(
        F.min("score").cast("long").alias("mn"),
        F.max("score").cast("long").alias("mx"),
    )
    binned = ex.join(F.broadcast(rng)).select(
        F.floor(
            (F.col("score") - F.col("mn")) * 10 / (F.col("mx") - F.col("mn") + 1)
        ).cast("long").alias("bin"),
        "score",
        "label",
        "mn",
        "mx",
    )
    bins = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("score").cast("long").alias("sscore"),
        F.sum("label").cast("long").alias("pos"),
        F.any_value("mn").alias("mn"),
        F.any_value("mx").alias("mx"),
    )
    gap_q = F.round(
        F.abs(
            F.col("pos").cast("double") / F.col("n")
            - (F.col("sscore").cast("double") / F.col("n") - F.col("mn"))
            / (F.col("mx") - F.col("mn"))
        )
        * 1e9
    ).cast("long")
    gaps = bins.select("n", gap_q.alias("gap_q"))
    return gaps.agg(
        F.sum("n").cast("long").alias("n_examples"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        (
            F.round(F.sum(F.col("n") * F.col("gap_q")) / 1e9 / F.sum("n"), 6)
            + 0.0
        ).alias("ece"),
        (F.round(F.max("gap_q") / 1e9, 6) + 0.0).alias("mce"),
    )


# ---------------------------------------------------------------------------
# Round-9 wave 3: calibration decomposition + inter-rater agreement.
# ---------------------------------------------------------------------------


@register(
    "q_ml_brier_decomp",
    family="mleval",
    oracle=f"""
    WITH {_USERS_SQL},
    rng AS (SELECT CAST(min(score) AS BIGINT) AS mn,
                   CAST(max(score) AS BIGINT) AS mx FROM ex),
    binned AS (
      SELECT least(CAST(floor((ex.score - r.mn) * 10.0 / (r.mx - r.mn))
                        AS BIGINT), 9) AS bin,
             ex.label,
             (ex.score - r.mn) * 1.0 / (r.mx - r.mn) AS f
      FROM ex CROSS JOIN rng r
    ),
    bins AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS nk,
             CAST(sum(label) AS BIGINT) AS pos,
             CAST(sum(CAST(round(f * 1e9) AS BIGINT)) AS BIGINT) AS fsum9
      FROM binned GROUP BY bin
    ),
    gtot AS (SELECT CAST(sum(nk) AS BIGINT) AS n,
                    CAST(sum(pos) AS BIGINT) AS npos FROM bins),
    terms AS (
      SELECT CAST(sum(CAST(round(
               nk * ((CAST(fsum9 AS DOUBLE) / nk / 1e9)
                     - CAST(pos AS DOUBLE) / nk)
                  * ((CAST(fsum9 AS DOUBLE) / nk / 1e9)
                     - CAST(pos AS DOUBLE) / nk) * 1e9) AS BIGINT))
               AS DOUBLE) / 1e9 AS rel_n,
             CAST(sum(CAST(round(
               nk * (CAST(pos AS DOUBLE) / nk
                     - CAST(t.npos AS DOUBLE) / t.n)
                  * (CAST(pos AS DOUBLE) / nk
                     - CAST(t.npos AS DOUBLE) / t.n) * 1e9) AS BIGINT))
               AS DOUBLE) / 1e9 AS res_n
      FROM bins CROSS JOIN gtot t
    )
    SELECT t.n,
           round(terms.rel_n / t.n, 6) + 0.0 AS reliability,
           round(terms.res_n / t.n, 6) + 0.0 AS resolution,
           round(CAST(t.npos AS DOUBLE) / t.n
                 * (1.0 - CAST(t.npos AS DOUBLE) / t.n), 6) + 0.0
             AS uncertainty,
           round(terms.rel_n / t.n - terms.res_n / t.n
                 + CAST(t.npos AS DOUBLE) / t.n
                   * (1.0 - CAST(t.npos AS DOUBLE) / t.n), 6) + 0.0
             AS brier_binned
    FROM gtot t CROSS JOIN terms
    """,
    doc="Murphy decomposition of the Brier score over 10 forecast "
    "bins: reliability (calibration gap — how far each bin's mean "
    "forecast sits from its observed rate), resolution (how much "
    "the bins separate outcomes), uncertainty (base-rate variance) "
    "— brier_binned = REL - RES + UNC, the WHY behind q_ml_brier's "
    "single number and q_ml_calibration's table. Per-bin counts and "
    "positives are exact ints; mean forecasts ride 1e-9-quantized "
    "BIGINT sums; each bin's REL/RES term is re-quantized before "
    "the cross-bin sum (bin order cannot perturb the result — the "
    "q_ml_brier discipline applied twice). Scale: one per-user "
    "rollup, a broadcast min/max, a <=10-row bin table. Ref: no "
    "reference counterpart — ML-eval tier.",
)
def q_ml_brier_decomp(spark, sf_dir):
    ex = _examples(spark, sf_dir)
    rng = ex.agg(
        F.min("score").cast("long").alias("mn"),
        F.max("score").cast("long").alias("mx"),
    )
    f = (F.col("score") - F.col("mn")) * 1.0 / (F.col("mx") - F.col("mn"))
    # Bin expr is textually identical to the oracle's
    # floor((score-mn)*10.0/(mx-mn)) — NOT floor(f*10.0): the two
    # double-rounding orders can land a boundary score in different bins.
    bin_expr = F.floor(
        (F.col("score") - F.col("mn")) * 10.0 / (F.col("mx") - F.col("mn"))
    )
    binned = ex.crossJoin(F.broadcast(rng)).select(
        F.least(bin_expr.cast("long"), F.lit(9)).alias("bin"),
        "label",
        f.alias("f"),
    )
    bins = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("nk"),
        F.sum("label").cast("long").alias("pos"),
        F.sum(F.round(F.col("f") * 1e9).cast("long")).cast("long").alias("fsum9"),
    )
    bins = bins.localCheckpoint(eager=False)  # tot + terms read it
    tot = bins.agg(
        F.sum("nk").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("npos"),
    )
    fbar = F.col("fsum9").cast("double") / F.col("nk") / 1e9
    obar_k = F.col("pos").cast("double") / F.col("nk")
    obar = F.col("npos").cast("double") / F.col("n")
    terms = (
        bins.crossJoin(F.broadcast(tot))
        .agg(
            (
                F.sum(
                    F.round(
                        F.col("nk") * (fbar - obar_k) * (fbar - obar_k) * 1e9
                    ).cast("long")
                ).cast("double")
                / 1e9
            ).alias("rel_n"),
            (
                F.sum(
                    F.round(
                        F.col("nk") * (obar_k - obar) * (obar_k - obar) * 1e9
                    ).cast("long")
                ).cast("double")
                / 1e9
            ).alias("res_n"),
        )
    )
    unc = obar * (1.0 - obar)
    return tot.crossJoin(terms).select(
        "n",
        (F.round(F.col("rel_n") / F.col("n"), 6) + 0.0).alias("reliability"),
        (F.round(F.col("res_n") / F.col("n"), 6) + 0.0).alias("resolution"),
        (F.round(unc, 6) + 0.0).alias("uncertainty"),
        (
            F.round(
                F.col("rel_n") / F.col("n") - F.col("res_n") / F.col("n") + unc,
                6,
            )
            + 0.0
        ).alias("brier_binned"),
    )


@register(
    "q_ml_kappa",
    family="mleval",
    oracle=f"""
    WITH {_USERS_SQL},
    rated AS (
      SELECT CASE WHEN ex.score * t.nu > t.ts THEN 1 ELSE 0 END AS a,
             ex.label AS b
      FROM ex CROSS JOIN tot t
    ),
    cells AS (
      SELECT CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c11,
             CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c10,
             CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c01,
             CAST(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c00
      FROM rated
    )
    SELECT c11 + c10 + c01 + c00 AS n,
           round(CAST(c11 + c00 AS DOUBLE) / (c11 + c10 + c01 + c00), 6) + 0.0
             AS po,
           round((CAST(c11 + c10 AS DOUBLE) * (c11 + c01)
                  + CAST(c01 + c00 AS DOUBLE) * (c10 + c00))
                 / ((c11 + c10 + c01 + c00) * 1.0 * (c11 + c10 + c01 + c00)),
                 6) + 0.0 AS pe,
           round((CAST(c11 + c00 AS DOUBLE) / (c11 + c10 + c01 + c00)
                  - (CAST(c11 + c10 AS DOUBLE) * (c11 + c01)
                     + CAST(c01 + c00 AS DOUBLE) * (c10 + c00))
                    / ((c11 + c10 + c01 + c00) * 1.0
                       * (c11 + c10 + c01 + c00)))
                 / (1.0 - (CAST(c11 + c10 AS DOUBLE) * (c11 + c01)
                           + CAST(c01 + c00 AS DOUBLE) * (c10 + c00))
                          / ((c11 + c10 + c01 + c00) * 1.0
                             * (c11 + c10 + c01 + c00))), 6) + 0.0 AS kappa
    FROM cells
    """,
    doc="Cohen's kappa between two deterministic raters over the "
    "per-user examples: rater A = above-average ACTIVITY (score "
    "cross-multiplication s*n > total_s), rater B = above-average "
    "PURCHASING (the label) — chance-corrected agreement, the "
    "does-engagement-proxy-revenue check behind every proxy-metric "
    "decision, and the agreement statistic any labeling pipeline "
    "needs verbatim for annotator QA. Both raters are decided by "
    "integer cross-multiplication (no float thresholds), the 2x2 "
    "cells are exact ints, and po/pe/kappa are single float "
    "expressions of them. Scale: one per-user rollup + a broadcast "
    "totals row + a 4-counter agg. Ref: no reference counterpart — "
    "ML-eval tier.",
)
def q_ml_kappa(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long").alias("p"),
        F.sum(F.when(F.col("event_type") != "purchase", 1).otherwise(0))
        .cast("long").alias("s"),
    )
    u = u.localCheckpoint(eager=False)  # tot + rated read it
    tot = u.agg(
        F.count("*").cast("long").alias("nu"),
        F.sum("p").cast("long").alias("tp"),
        F.sum("s").cast("long").alias("ts"),
    )
    rated = u.crossJoin(F.broadcast(tot)).select(
        F.when(F.col("s") * F.col("nu") > F.col("ts"), 1).otherwise(0).alias("a"),
        F.when(F.col("p") * F.col("nu") > F.col("tp"), 1).otherwise(0).alias("b"),
    )
    cells = rated.agg(
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 1), 1).otherwise(0))
        .cast("long").alias("c11"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 0), 1).otherwise(0))
        .cast("long").alias("c10"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 1), 1).otherwise(0))
        .cast("long").alias("c01"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 0), 1).otherwise(0))
        .cast("long").alias("c00"),
    )
    n = F.col("c11") + F.col("c10") + F.col("c01") + F.col("c00")
    po = (F.col("c11") + F.col("c00")).cast("double") / n
    pe = (
        (F.col("c11") + F.col("c10")).cast("double") * (F.col("c11") + F.col("c01"))
        + (F.col("c01") + F.col("c00")).cast("double") * (F.col("c10") + F.col("c00"))
    ) / (n * 1.0 * n)
    return cells.select(
        n.alias("n"),
        (F.round(po, 6) + 0.0).alias("po"),
        (F.round(pe, 6) + 0.0).alias("pe"),
        (F.round((po - pe) / (1.0 - pe), 6) + 0.0).alias("kappa"),
    )


@register(
    "q_ml_equalized_odds",
    family="mleval",
    oracle=f"""
    WITH u AS (
      SELECT user_id, CAST(user_id % {_FAIR_GROUPS} AS BIGINT) AS grp,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS p,
             CAST(sum(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS s
      FROM events GROUP BY user_id
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS nu,
                   CAST(sum(p) AS BIGINT) AS tp,
                   CAST(sum(s) AS BIGINT) AS ts FROM u),
    rated AS (
      SELECT u.grp,
             CASE WHEN u.s * t.nu > t.ts THEN 1 ELSE 0 END AS yhat,
             CASE WHEN u.p * t.nu > t.tp THEN 1 ELSE 0 END AS y
      FROM u CROSS JOIN tot t
    ),
    per AS (
      SELECT grp,
             CAST(sum(CASE WHEN y = 1 AND yhat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp_,
             CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
             CAST(sum(CASE WHEN y = 0 AND yhat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp_,
             CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg
      FROM rated GROUP BY grp
    ),
    rates AS (
      SELECT grp, pos + neg AS n,
             CAST(tp_ AS DOUBLE) / nullif(pos, 0) AS tpr,
             CAST(fp_ AS DOUBLE) / nullif(neg, 0) AS fpr
      FROM per
    )
    SELECT CAST(count(*) AS BIGINT) AS k_groups,
           round(max(tpr) - min(tpr), 6) + 0.0 AS tpr_gap,
           round(max(fpr) - min(fpr), 6) + 0.0 AS fpr_gap,
           round(greatest(max(tpr) - min(tpr), max(fpr) - min(fpr)), 6) + 0.0
             AS eo_gap
    FROM rates
    """,
    doc="Equalized-odds audit: the max cross-group gap in TPR and in "
    "FPR of the activity classifier against the purchasing label "
    f"(groups = user_id % {_FAIR_GROUPS}, the q_ml_group_fairness "
    "cohorts) — Hardt et al.'s error-RATE parity, the fairness "
    "criterion q_ml_group_fairness's selection-rate parity cannot "
    "see (a classifier can select every group equally often while "
    "being wrong about one of them twice as much). Both classifier "
    "and label are integer cross-multiplication thresholds; per-"
    "group confusion cells are exact ints; TPR/FPR are NULLIF-"
    "guarded single divisions and the gaps are max-min over the "
    "k-row rate table. Scale: one per-user rollup + a broadcast "
    "totals row + a k-cell agg. Ref: no reference counterpart — "
    "ML-eval tier.",
)
def q_ml_equalized_odds(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long").alias("p"),
        F.sum(F.when(F.col("event_type") != "purchase", 1).otherwise(0))
        .cast("long").alias("s"),
    ).select(
        (F.col("user_id") % _FAIR_GROUPS).cast("long").alias("grp"), "p", "s"
    )
    u = u.localCheckpoint(eager=False)  # totals + rated read it
    tot = u.agg(
        F.count("*").cast("long").alias("nu"),
        F.sum("p").cast("long").alias("tp"),
        F.sum("s").cast("long").alias("ts"),
    )
    rated = u.crossJoin(F.broadcast(tot)).select(
        "grp",
        F.when(F.col("s") * F.col("nu") > F.col("ts"), 1).otherwise(0).alias("yhat"),
        F.when(F.col("p") * F.col("nu") > F.col("tp"), 1).otherwise(0).alias("y"),
    )
    per = rated.groupBy("grp").agg(
        F.sum(F.when((F.col("y") == 1) & (F.col("yhat") == 1), 1).otherwise(0))
        .cast("long").alias("tp_"),
        F.sum(F.when(F.col("y") == 1, 1).otherwise(0)).cast("long").alias("pos"),
        F.sum(F.when((F.col("y") == 0) & (F.col("yhat") == 1), 1).otherwise(0))
        .cast("long").alias("fp_"),
        F.sum(F.when(F.col("y") == 0, 1).otherwise(0)).cast("long").alias("neg"),
    )
    tpr = F.col("tp_").cast("double") / F.nullif(F.col("pos"), F.lit(0))
    fpr = F.col("fp_").cast("double") / F.nullif(F.col("neg"), F.lit(0))
    rates = per.select("grp", tpr.alias("tpr"), fpr.alias("fpr"))
    return rates.agg(
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        (F.round(F.max("tpr") - F.min("tpr"), 6) + 0.0).alias("tpr_gap"),
        (F.round(F.max("fpr") - F.min("fpr"), 6) + 0.0).alias("fpr_gap"),
        (
            F.round(
                F.greatest(
                    F.max("tpr") - F.min("tpr"), F.max("fpr") - F.min("fpr")
                ),
                6,
            )
            + 0.0
        ).alias("eo_gap"),
    )


# ---------------------------------------------------------------------------
# Round-10 wave 3: proper-scoring-rule and retrieval-ranking metrics
# (log loss + skill, Spiegelhalter's calibration z, the F-beta family,
# the Youden-optimal threshold sweep, MRR@k, MAP@k).
# ---------------------------------------------------------------------------

# Shared normalized forecast for the scoring-rule metrics: the add-one
# range normalization p = (score - mn + 1) / (mx - mn + 2) maps the
# integer score domain into (0,1) strictly (no log(0) anywhere), is an
# identical float expression on both engines, and is monotone in score.
_P_SQL = "(CAST(score - mn + 1 AS DOUBLE) / (mx - mn + 2))"


@register(
    "q_ml_log_loss",
    family="mleval",
    oracle=f"""
    WITH {_USERS_SQL},
    rng AS (SELECT CAST(min(score) AS BIGINT) AS mn,
                   CAST(max(score) AS BIGINT) AS mx FROM ex),
    by_score AS (
      SELECT score, CAST(sum(label) AS BIGINT) AS pos,
             CAST(sum(1 - label) AS BIGINT) AS neg
      FROM ex GROUP BY score
    ),
    cells AS (
      SELECT CAST(round(1e9 * (pos * (-ln({_P_SQL}))
                        + neg * (-ln(1.0 - {_P_SQL})))) AS BIGINT) AS tq,
             pos, neg
      FROM by_score CROSS JOIN rng
    ),
    s AS (
      SELECT CAST(sum(pos + neg) AS BIGINT) AS n,
             CAST(sum(pos) AS BIGINT) AS npos,
             CAST(sum(tq) AS DOUBLE) / 1e9 AS llsum
      FROM cells
    ),
    ll AS (
      SELECT n, llsum / n AS logloss,
             -((CAST(npos AS DOUBLE) / n) * ln(CAST(npos AS DOUBLE) / n)
               + (1.0 - CAST(npos AS DOUBLE) / n)
                 * ln(1.0 - CAST(npos AS DOUBLE) / n)) AS ll_base
      FROM s
    )
    SELECT n AS n_examples,
           round(logloss, 6) + 0.0 AS log_loss,
           round(ll_base, 6) + 0.0 AS log_loss_baseline,
           round(1.0 - logloss / ll_base, 6) + 0.0 AS skill_score
    FROM ll
    """,
    doc="Binary log loss (cross-entropy) of the range-normalized "
    "forecast p = (score-mn+1)/(mx-mn+2) against the label, plus the "
    "base-rate log loss and the skill score 1 - LL/LL_base — the "
    "PROPER scoring rule beside q_ml_brier (log loss punishes "
    "confident misses unboundedly; Brier caps at 1): a model can "
    "improve AUC while its log loss degrades, which is exactly what "
    "this catches. Per-score-cell terms pos*(-ln p) + neg*(-ln(1-p)) "
    "are identical float expressions quantized 1e-9 and BIGINT-summed "
    "(cell order cannot perturb the sum); the add-one normalization "
    "keeps p strictly inside (0,1) so no clamp is ever needed. "
    "Scale: one per-user rollup, one distinct-score rollup, constant "
    "tail. Ref: no reference counterpart — ML-eval tier.",
)
def q_ml_log_loss(spark, sf_dir):
    ex = _examples(spark, sf_dir)
    ex = ex.localCheckpoint(eager=False)  # rng + by_score read it
    rng = ex.agg(
        F.min("score").cast("long").alias("mn"),
        F.max("score").cast("long").alias("mx"),
    )
    by_score = ex.groupBy("score").agg(
        F.sum("label").cast("long").alias("pos"),
        F.sum(1 - F.col("label")).cast("long").alias("neg"),
    )
    p = (F.col("score") - F.col("mn") + 1).cast("double") / (
        F.col("mx") - F.col("mn") + 2
    )
    cells = by_score.crossJoin(F.broadcast(rng)).select(
        F.round(
            1e9 * (F.col("pos") * -F.log(p) + F.col("neg") * -F.log(1.0 - p))
        )
        .cast("long")
        .alias("tq"),
        "pos",
        "neg",
    )
    s = cells.agg(
        F.sum(F.col("pos") + F.col("neg")).cast("long").alias("n"),
        F.sum("pos").cast("long").alias("npos"),
        (F.sum("tq").cast("double") / 1e9).alias("llsum"),
    )
    pi = F.col("npos").cast("double") / F.col("n")
    ll = s.select(
        "n",
        (F.col("llsum") / F.col("n")).alias("logloss"),
        (-(pi * F.log(pi) + (1.0 - pi) * F.log(1.0 - pi))).alias("ll_base"),
    )
    return ll.select(
        F.col("n").alias("n_examples"),
        (F.round("logloss", 6) + 0.0).alias("log_loss"),
        (F.round("ll_base", 6) + 0.0).alias("log_loss_baseline"),
        (F.round(1.0 - F.col("logloss") / F.col("ll_base"), 6) + 0.0).alias(
            "skill_score"
        ),
    )


from .aggregates import _erfc_sql  # noqa: E402 — shared p-value kernel


@register(
    "q_ml_spiegelhalter_z",
    family="mleval",
    oracle=f"""
    WITH {_USERS_SQL},
    rng AS (SELECT CAST(min(score) AS BIGINT) AS mn,
                   CAST(max(score) AS BIGINT) AS mx FROM ex),
    by_score AS (
      SELECT score, CAST(sum(label) AS BIGINT) AS pos,
             CAST(sum(1 - label) AS BIGINT) AS neg
      FROM ex GROUP BY score
    ),
    cells AS (
      SELECT CAST(round(1e9 * ((pos * (1.0 - {_P_SQL}) - neg * {_P_SQL})
                               * (1.0 - 2 * {_P_SQL}))) AS BIGINT) AS numq,
             CAST(round(1e9 * ((pos + neg) * (1.0 - 2 * {_P_SQL})
                               * (1.0 - 2 * {_P_SQL}) * {_P_SQL}
                               * (1.0 - {_P_SQL}))) AS BIGINT) AS denq,
             pos, neg
      FROM by_score CROSS JOIN rng
    ),
    s AS (
      SELECT CAST(sum(pos + neg) AS BIGINT) AS n,
             (CAST(sum(numq) AS DOUBLE) / 1e9)
               / sqrt(CAST(sum(denq) AS DOUBLE) / 1e9) AS zval
      FROM cells
    )
    SELECT n AS n_examples,
           round(zval, 6) + 0.0 AS z,
           round({_erfc_sql("abs(zval) / 1.4142135623730951")}, 6) + 0.0
             AS p_value
    FROM s
    """,
    doc="Spiegelhalter's calibration z-test on the range-normalized "
    "forecast: z = sum((y-p)(1-2p)) / sqrt(sum((1-2p)^2 p(1-p))) — "
    "the HYPOTHESIS TEST behind q_ml_ece's descriptive gap (ECE says "
    "how big the miscalibration looks; this says whether it exceeds "
    "chance given n). The test isolates exactly the calibration "
    "component of the Brier score (its numerator is Brier minus its "
    "irreducible refinement part), so it complements "
    "q_ml_brier_decomp's reliability term with a p-value. Per-cell "
    "numerator/denominator terms are identical float expressions "
    "quantized 1e-9 and BIGINT-summed; two-sided p via the shared "
    "erfc kernel. Scale: per-user rollup + distinct-score rollup, "
    "constant tail. Ref: no reference counterpart — ML-eval tier.",
)
def q_ml_spiegelhalter_z(spark, sf_dir):
    ex = _examples(spark, sf_dir)
    ex = ex.localCheckpoint(eager=False)  # rng + by_score read it
    rng = ex.agg(
        F.min("score").cast("long").alias("mn"),
        F.max("score").cast("long").alias("mx"),
    )
    by_score = ex.groupBy("score").agg(
        F.sum("label").cast("long").alias("pos"),
        F.sum(1 - F.col("label")).cast("long").alias("neg"),
    )
    p = (F.col("score") - F.col("mn") + 1).cast("double") / (
        F.col("mx") - F.col("mn") + 2
    )
    one_m_2p = 1.0 - 2 * p
    cells = by_score.crossJoin(F.broadcast(rng)).select(
        F.round(1e9 * ((F.col("pos") * (1.0 - p) - F.col("neg") * p) * one_m_2p))
        .cast("long")
        .alias("numq"),
        F.round(
            1e9 * ((F.col("pos") + F.col("neg")) * one_m_2p * one_m_2p * p * (1.0 - p))
        )
        .cast("long")
        .alias("denq"),
        "pos",
        "neg",
    )
    s = cells.agg(
        F.sum(F.col("pos") + F.col("neg")).cast("long").alias("n"),
        (
            (F.sum("numq").cast("double") / 1e9)
            / F.sqrt(F.sum("denq").cast("double") / 1e9)
        ).alias("zval"),
    )
    return s.select(
        F.col("n").alias("n_examples"),
        (F.round("zval", 6) + 0.0).alias("z"),
        (
            F.round(F.expr(_erfc_sql("abs(zval) / 1.4142135623730951")), 6) + 0.0
        ).alias("p_value"),
    )


@register(
    "q_ml_fbeta",
    family="mleval",
    oracle=f"""
    WITH {_USERS_SQL},
    pred AS (
      SELECT label,
             CASE WHEN ex.score * t.nu > t.ts THEN 1 ELSE 0 END AS yhat
      FROM ex CROSS JOIN tot t
    ),
    c AS (
      SELECT CAST(sum(CASE WHEN label = 1 AND yhat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN label = 0 AND yhat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN label = 1 AND yhat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn
      FROM pred
    )
    SELECT beta, tp, fp, fn,
           round(CASE
             WHEN beta = 0.5 THEN 5.0 * tp / (5 * tp + fn + 4 * fp)
             WHEN beta = 1.0 THEN 2.0 * tp / (2 * tp + fn + fp)
             ELSE 5.0 * tp / (5 * tp + 4 * fn + fp)
           END, 6) + 0.0 AS fbeta
    FROM c CROSS JOIN (VALUES (0.5), (1.0), (2.0)) AS b(beta)
    ORDER BY beta
    """,
    doc="The F-beta family (F0.5 precision-weighted, F1, F2 recall-"
    "weighted) at q_ml_confusion's operating point — the knob F1 "
    "hides: a spam filter wants F0.5 (false positives cost users), a "
    "cancer screen wants F2 (false negatives cost lives). Each Fbeta "
    "reduces to an exact INTEGER rational ((1+b^2)tp / ((1+b^2)tp + "
    "b^2 fn + fp) with 4b^2 integral for b in {{0.5,1,2}}), so every "
    "value is one division of exact counters — no float powering "
    "anywhere. Same float-free integer cross-multiplication "
    "threshold as confusion/mcc. Scale: per-user rollup + 3-counter "
    "agg x a 3-row literal grid. Ref: no reference counterpart — "
    "ML-eval tier.",
)
def q_ml_fbeta(spark, sf_dir):
    ex = _examples(spark, sf_dir)
    ex = ex.localCheckpoint(eager=False)  # tot + pred read it
    tot = ex.agg(
        F.count(F.lit(1)).cast("long").alias("nu"),
        F.sum("score").cast("long").alias("ts"),
    )
    pred = ex.crossJoin(F.broadcast(tot)).select(
        "label",
        F.when(F.col("score") * F.col("nu") > F.col("ts"), 1)
        .otherwise(0)
        .alias("yhat"),
    )
    c = pred.agg(
        F.sum(F.when((F.col("label") == 1) & (F.col("yhat") == 1), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when((F.col("label") == 0) & (F.col("yhat") == 1), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when((F.col("label") == 1) & (F.col("yhat") == 0), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
    )
    betas = spark.createDataFrame([(0.5,), (1.0,), (2.0,)], "beta double")
    fb = (
        F.when(
            F.col("beta") == 0.5,
            5.0 * F.col("tp") / (5 * F.col("tp") + F.col("fn") + 4 * F.col("fp")),
        )
        .when(
            F.col("beta") == 1.0,
            2.0 * F.col("tp") / (2 * F.col("tp") + F.col("fn") + F.col("fp")),
        )
        .otherwise(
            5.0 * F.col("tp") / (5 * F.col("tp") + 4 * F.col("fn") + F.col("fp"))
        )
    )
    return (
        c.crossJoin(F.broadcast(betas))
        .select("beta", "tp", "fp", "fn", (F.round(fb, 6) + 0.0).alias("fbeta"))
        .orderBy("beta")
    )


@register(
    "q_ml_youden_optimal",
    family="mleval",
    oracle=f"""
    WITH {_USERS_SQL},
    by_score AS (
      SELECT score, CAST(sum(label) AS BIGINT) AS pos,
             CAST(sum(1 - label) AS BIGINT) AS neg
      FROM ex GROUP BY score
    ),
    tot2 AS (SELECT CAST(sum(pos) AS BIGINT) AS p,
                    CAST(sum(neg) AS BIGINT) AS q FROM by_score),
    cum AS (
      -- predict positive iff score >= threshold
      SELECT score AS threshold,
             CAST(sum(pos) OVER (ORDER BY score
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS BIGINT) AS tp,
             CAST(sum(neg) OVER (ORDER BY score
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS BIGINT) AS fp
      FROM by_score
    ),
    best AS (
      SELECT c.threshold, c.tp, c.fp, t.p, t.q,
             row_number() OVER (
               ORDER BY (c.tp * t.q - c.fp * t.p) DESC, c.threshold
             ) AS rn
      FROM cum c CROSS JOIN tot2 t
    )
    SELECT threshold AS best_threshold, tp, fp,
           round(CAST(tp AS DOUBLE) / p, 6) + 0.0 AS tpr,
           round(CAST(fp AS DOUBLE) / q, 6) + 0.0 AS fpr,
           round(CAST(tp AS DOUBLE) / p - CAST(fp AS DOUBLE) / q, 6) + 0.0
             AS youden_j
    FROM best WHERE rn = 1
    """,
    doc="Youden-optimal ROC operating point: sweep every achievable "
    "threshold (= every distinct score) and maximize J = TPR - FPR — "
    "the threshold-free companion to q_ml_mcc's FIXED operating "
    "point (mcc reports J where the deployment threshold sits; this "
    "reports the best J the scores could achieve, and the gap "
    "between them is the cost of the chosen threshold). The argmax "
    "is decided on the exact INTEGER cross-product tp*N - fp*P "
    "(equivalent to J without ever forming a float), tie-broken by "
    "threshold — fully deterministic; TPR/FPR/J are emitted as "
    "single divisions of exact counters. The full sweep costs ONE "
    "cumulative window over the distinct-score table (the "
    "q_ml_threshold_cost shape). Scale: per-user rollup + "
    "domain-bounded windows; constant tail. Ref: no reference "
    "counterpart — ML-eval tier.",
)
def q_ml_youden_optimal(spark, sf_dir):
    from pyspark.sql import Window

    ex = _examples(spark, sf_dir)
    ex = ex.localCheckpoint(eager=False)  # one fact scan into the sweep
    by_score = ex.groupBy("score").agg(
        F.sum("label").cast("long").alias("pos"),
        F.sum(1 - F.col("label")).cast("long").alias("neg"),
    )
    by_score = by_score.localCheckpoint(eager=False)  # tot2 + cum read it
    tot2 = by_score.agg(
        F.sum("pos").cast("long").alias("p"),
        F.sum("neg").cast("long").alias("q"),
    )
    w_ge = Window.orderBy("score").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    cum = by_score.select(
        F.col("score").alias("threshold"),
        F.sum("pos").over(w_ge).cast("long").alias("tp"),
        F.sum("neg").over(w_ge).cast("long").alias("fp"),
    )
    wb = Window.orderBy(
        (F.col("tp") * F.col("q") - F.col("fp") * F.col("p")).desc(), "threshold"
    )
    best = (
        cum.crossJoin(F.broadcast(tot2))
        .select("*", F.row_number().over(wb).alias("rn"))
        .filter(F.col("rn") == 1)
    )
    return best.select(
        F.col("threshold").alias("best_threshold"),
        "tp",
        "fp",
        (F.round(F.col("tp").cast("double") / F.col("p"), 6) + 0.0).alias("tpr"),
        (F.round(F.col("fp").cast("double") / F.col("q"), 6) + 0.0).alias("fpr"),
        (
            F.round(
                F.col("tp").cast("double") / F.col("p")
                - F.col("fp").cast("double") / F.col("q"),
                6,
            )
            + 0.0
        ).alias("youden_j"),
    )


def _retrieval_topk_hits(spark, sf_dir):
    """(probes_df, hits_df) for the retrieval-ranking metrics.

    probes: (probe_id) — the q_ml_ndcg probe set (vec_id < _NDCG_PROBES).
    hits:   (probe_id, rk, rel) — the global top-_NDCG_K per probe under
    the (cos_sim DESC, vec_id) total order, rel = same-label indicator.
    Same GEMM-with-per-batch-local-top-k kernel as q_ml_ndcg (the
    r5-watch-#3 shape: the rank window reads ~batches*probes*k rows,
    never probes*|corpus|); cosines round to 5 before ranking.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    e = t(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < _NDCG_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("p"),
        F.col("label").alias("plabel"),
    )
    corpus = e.filter(F.col("vec_id") >= _NDCG_PROBES)
    probe_rows = probes.orderBy("probe_id").collect()
    if not probe_rows:
        empty = spark.createDataFrame([], "probe_id long, rk long, rel int")
        return probes.select("probe_id"), empty
    probe_ids = np.array([int(r.probe_id) for r in probe_rows])
    plabels = np.array([r.plabel for r in probe_rows], dtype=object)
    pm = np.array([[float(x) for x in r.p] for r in probe_rows])
    p_norms = np.sqrt((pm * pm).sum(axis=1))

    def _gemm_topk(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy()
            labels = pdf["label"].to_numpy()
            a_norms = np.sqrt((a * a).sum(axis=1))
            sims = np.round((a @ pm.T) / (a_norms[:, None] * p_norms[None, :]), 5)
            out_p, out_v, out_r, out_s = [], [], [], []
            for j, pid in enumerate(probe_ids):
                order = np.lexsort((ids, -sims[:, j]))[:_NDCG_K]
                out_p.extend([pid] * len(order))
                out_v.extend(ids[order])
                out_r.extend((labels[order] == plabels[j]).astype(int))
                out_s.extend(sims[order, j])
            yield pd.DataFrame(
                {"probe_id": out_p, "vec_id": out_v, "rel": out_r, "cos_sim": out_s}
            )

    capped = corpus.select("vec_id", "embedding", "label").mapInPandas(
        _gemm_topk, "probe_id long, vec_id long, rel int, cos_sim double"
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    hits = (
        capped.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _NDCG_K)
        .select("probe_id", "rk", "rel")
    )
    return probes.select("probe_id"), hits


_RETRIEVAL_HITS_SQL = f"""
    probes AS (
      SELECT vec_id AS probe_id, embedding AS p, label AS plabel
      FROM embeddings WHERE vec_id < {_NDCG_PROBES}
    ),
    corpus AS (
      SELECT vec_id, embedding, label FROM embeddings
      WHERE vec_id >= {_NDCG_PROBES}
    ),
    sims AS (
      SELECT pr.probe_id, pr.plabel, c.vec_id, c.label,
             round(
               list_sum(list_transform(range(1, 65),
                        i -> c.embedding[i]::DOUBLE * pr.p[i]::DOUBLE))
               / (sqrt(list_sum(list_transform(range(1, 65),
                        i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)))
                * sqrt(list_sum(list_transform(range(1, 65),
                        i -> pr.p[i]::DOUBLE * pr.p[i]::DOUBLE)))),
               5) AS cos_sim
      FROM corpus c, probes pr
    ),
    hits AS (
      SELECT probe_id,
             CASE WHEN label = plabel THEN 1 ELSE 0 END AS rel,
             CAST(row_number() OVER (
               PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id
             ) AS BIGINT) AS rk
      FROM sims
    ),
    topk AS (SELECT * FROM hits WHERE rk <= {_NDCG_K})
"""


@register(
    "q_ml_mrr",
    family="mleval",
    oracle=f"""
    WITH {_RETRIEVAL_HITS_SQL},
    fr AS (
      SELECT probe_id, CAST(min(rk) AS BIGINT) AS first_rel_rank
      FROM topk WHERE rel = 1 GROUP BY probe_id
    )
    SELECT p.probe_id, fr.first_rel_rank,
           round(coalesce(1.0 / fr.first_rel_rank, 0.0), 6) + 0.0 AS rr
    FROM probes p LEFT JOIN fr ON fr.probe_id = p.probe_id
    ORDER BY p.probe_id
    """,
    doc=f"Reciprocal rank @ {_NDCG_K} per probe (MRR = the mean of the "
    "rr column): the rank of the FIRST relevant hit — the metric for "
    "known-item retrieval (RAG 'did the gold chunk surface early', "
    "QA passage ranking) where q_ml_ndcg grades the whole ranking "
    "and q_sim_recall_at_k only counts membership. Probes with no "
    "relevant hit in the top-k emit rr = 0 (the standard MRR@k "
    "convention) via a LEFT join from the probe list, so the output "
    "is always one row per probe. rr is one exact division; ranks "
    "come from the shared GEMM-with-local-top-k kernel (cosines "
    "rounded to 5 before ranking, vec_id tie-break — the ndcg/knn "
    "contract). Scale: one corpus pass, rank windows on "
    "~batches*probes*k rows. Ref: no reference counterpart — "
    "ML-eval tier.",
)
def q_ml_mrr(spark, sf_dir):
    probes, hits = _retrieval_topk_hits(spark, sf_dir)
    fr = (
        hits.filter(F.col("rel") == 1)
        .groupBy("probe_id")
        .agg(F.min("rk").cast("long").alias("first_rel_rank"))
    )
    return (
        probes.join(fr, "probe_id", "left")
        .select(
            "probe_id",
            "first_rel_rank",
            (
                F.round(
                    F.coalesce(1.0 / F.col("first_rel_rank"), F.lit(0.0)), 6
                )
                + 0.0
            ).alias("rr"),
        )
        .orderBy("probe_id")
    )


@register(
    "q_ml_map",
    family="mleval",
    oracle=f"""
    WITH {_RETRIEVAL_HITS_SQL},
    nrel AS (
      SELECT pr.probe_id, CAST(count(*) AS BIGINT) AS n_rel
      FROM probes pr JOIN corpus c ON c.label = pr.plabel
      GROUP BY pr.probe_id
    ),
    prec AS (
      SELECT probe_id, rk, rel,
             CAST(sum(rel) OVER (PARTITION BY probe_id ORDER BY rk
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumrel
      FROM topk
    ),
    ap AS (
      SELECT probe_id,
             CAST(sum(CASE WHEN rel = 1
               THEN CAST(round(1e9 * cumrel / rk) AS BIGINT)
               ELSE 0 END) AS BIGINT) AS apq
      FROM prec GROUP BY probe_id
    )
    SELECT n.probe_id, n.n_rel,
           round(CAST(coalesce(ap.apq, 0) AS DOUBLE) / 1e9
                 / least(n.n_rel, {_NDCG_K}), 6) + 0.0 AS ap_at_k
    FROM nrel n LEFT JOIN ap ON ap.probe_id = n.probe_id
    ORDER BY n.probe_id
    """,
    doc=f"Average precision @ {_NDCG_K} per probe (MAP = the mean of "
    "ap_at_k): sum of precision@j at each relevant rank j, normalized "
    "by min(n_rel, k) — the order-sensitive retrieval grade that "
    "rewards packing relevant items EARLY, between q_ml_mrr (first "
    "hit only) and q_ml_ndcg (graded discount). Each precision@j = "
    "cumrel/j is an exact rational quantized to a 1e9-scaled BIGINT "
    "before the per-probe sum (rank order cannot perturb it); ranks "
    "ride the same GEMM-with-local-top-k kernel and (cos DESC, "
    "vec_id) total order as ndcg/mrr. Scale: one corpus pass; "
    "windows on ~batches*probes*k rows; n_rel is a broadcast "
    "label-count join. Ref: no reference counterpart — ML-eval "
    "tier.",
)
def q_ml_map(spark, sf_dir):
    from pyspark.sql import Window

    probes, hits = _retrieval_topk_hits(spark, sf_dir)
    e = t(spark, sf_dir, "embeddings")
    pr = e.filter(F.col("vec_id") < _NDCG_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("label").alias("plabel")
    )
    corpus_counts = (
        e.filter(F.col("vec_id") >= _NDCG_PROBES)
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rel"))
    )
    nrel = pr.join(
        F.broadcast(corpus_counts), F.col("label") == F.col("plabel")
    ).select("probe_id", "n_rel")
    w = Window.partitionBy("probe_id").orderBy("rk").rowsBetween(
        Window.unboundedPreceding, 0
    )
    prec = hits.select(
        "probe_id", "rk", "rel", F.sum("rel").over(w).cast("long").alias("cumrel")
    )
    ap = prec.groupBy("probe_id").agg(
        F.sum(
            F.when(
                F.col("rel") == 1,
                F.round(1e9 * F.col("cumrel") / F.col("rk")).cast("long"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("apq")
    )
    return (
        nrel.join(ap, "probe_id", "left")
        .select(
            "probe_id",
            "n_rel",
            (
                F.round(
                    F.coalesce(F.col("apq"), F.lit(0)).cast("double")
                    / 1e9
                    / F.least(F.col("n_rel"), F.lit(_NDCG_K)),
                    6,
                )
                + 0.0
            ).alias("ap_at_k"),
        )
        .orderBy("probe_id")
    )


@register(
    "q_ml_topk_accuracy",
    family="mleval",
    oracle=f"""
    WITH {_RETRIEVAL_HITS_SQL},
    kk AS (SELECT CAST(k AS BIGINT) AS k
           FROM (VALUES (1), (3), (5), (10)) t(k)),
    np AS (SELECT CAST(count(*) AS BIGINT) AS n_probes FROM probes),
    hitk AS (
      SELECT kk.k, topk.probe_id, max(topk.rel) AS hit
      FROM kk JOIN topk ON topk.rk <= kk.k
      GROUP BY kk.k, topk.probe_id
    ),
    agg AS (
      SELECT k, CAST(sum(hit) AS BIGINT) AS n_hit FROM hitk GROUP BY k
    )
    SELECT agg.k, np.n_probes, agg.n_hit,
           round(CAST(agg.n_hit AS DOUBLE) / np.n_probes, 6) + 0.0
             AS hit_rate
    FROM agg CROSS JOIN np ORDER BY agg.k
    """,
    doc="Hit rate @ k for k in {1,3,5,10}: the share of probes with at "
    "least one relevant item in the top-k — the coarsest and most "
    "operational retrieval number (RAG: 'is the gold chunk in the "
    "context window at all'), completing the ladder hit-rate -> MRR "
    "-> MAP -> NDCG on the SAME ranked hits (same GEMM-local-top-k "
    "kernel, same (cos DESC, vec_id) total order — the four metrics "
    "are mutually consistent by construction, pinned in "
    "tests/test_r10_invariants.py). Exact integer hits, one division "
    "per k-row. Scale: one corpus pass; the k-grid is a 4-row "
    "broadcast against the capped hits. Ref: no reference "
    "counterpart — ML-eval tier.",
)
def q_ml_topk_accuracy(spark, sf_dir):
    probes, hits = _retrieval_topk_hits(spark, sf_dir)
    kk = probes.sparkSession.createDataFrame([(1,), (3,), (5,), (10,)], "k long")
    np_ = probes.agg(F.count(F.lit(1)).cast("long").alias("n_probes"))
    hitk = (
        F.broadcast(kk)
        .join(hits, hits.rk <= F.col("k"))
        .groupBy("k", "probe_id")
        .agg(F.max("rel").alias("hit"))
    )
    agg = hitk.groupBy("k").agg(F.sum("hit").cast("long").alias("n_hit"))
    return (
        agg.crossJoin(F.broadcast(np_))
        .select(
            "k",
            "n_probes",
            "n_hit",
            (
                F.round(F.col("n_hit").cast("double") / F.col("n_probes"), 6) + 0.0
            ).alias("hit_rate"),
        )
        .orderBy("k")
    )
