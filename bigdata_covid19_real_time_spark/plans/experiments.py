"""Experimentation and validation batch: MMR-diversified retrieval,
walk-forward CV folds, Poisson-bootstrap confidence intervals, and
CUPED variance reduction.

Extends the retrieval and evaluation families (SURVEY.md §2 extension
brief) with the measurement primitives a training-data/experimentation
platform runs on top of the engine.  Every query here is exactly
SQL-expressible — the MMR loop has a FIXED round count so it unrolls
as chained CTE rounds (the established BPE/PageRank/IVF-PQ oracle
pattern) — so each carries a full DuckDB oracle.

Scale shapes:

- ``embedding_mmr_topk``: the corpus-wide work is ONE broadcast-query
  cosine scan + top-``MMR_POOL`` cut (TakeOrderedAndProject); the MMR
  rounds then operate on the pool-sized frame (pairwise grid =
  pool^2 rows), so diversification cost is independent of corpus
  size.  Every cosine is ROUNDED to 6dp before any argmax, so
  cross-engine libm noise cannot flip a selection.
- ``events_walkforward_folds``: one broadcast 1-row max-date, one
  conditional-count scan per fold (explode x ``WF_FOLDS`` rows), one
  ``WF_FOLDS``-row output — the temporal cross-validation plan
  (expanding train, fixed test window) next to
  ``events_embargo_split``'s single purged split.
- ``events_value_bootstrap_ci``: the Poisson bootstrap (resample
  weights ~ Poisson(1), the scalable bootstrap — each row draws its
  weight independently, so no resample index is ever materialized).
  Weights come from the documented md5-bucket hash through the exact
  Poisson(1) inverse CDF (a 6-arm CASE ladder), never ``rand()``, so
  both engines draw identical resamples.  The explode multiplies the
  scan by B, but map-side partial aggregation reduces the shuffle to
  |types| x B rows.
- ``events_cuped_adjustment``: CUPED (controlled-experiment variance
  reduction using pre-period data): one conditional-sum shuffle to the
  per-(type, user) pre/post frame, then per-type mergeable moments —
  theta and the variance reduction are closed-form, guarded CASE for
  zero-variance covariates (the ANSI divide-by-zero trap).

Imported last by plans/__init__ (append-only registration).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_covid19_real_time_spark.operators.sampling import hash_bucket
from bigdata_covid19_real_time_spark.operators.similarity import (
    _as_double,
    dot,
    l2_norm,
    safe_cosine,
)
from bigdata_covid19_real_time_spark.plans.registry import query, stable_round
from bigdata_covid19_real_time_spark.sources.batch import load_table

#: MMR relevance/diversity trade-off, pool size, and rounds (fixed, so
#: the loop unrolls in the oracle).
MMR_LAMBDA = 0.7
MMR_POOL = 10
MMR_ROUNDS = 3
MMR_QUERY_ID = 0

#: Walk-forward CV: number of folds and test-window width (days).
WF_FOLDS = 3
WF_WINDOW_DAYS = 5

#: Poisson-bootstrap resample count and hash seed.
BOOT_B = 30
BOOT_SEED = 101

#: Poisson(1) CDF thresholds (cumulative e^-1 / k!), k = 0..5; u above
#: the last threshold caps the weight at 6 (P ~ 6e-4 of the tail).
POISSON1_CDF = (
    0.3678794411714423,
    0.7357588823428846,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
)

#: CUPED pre-period length in days (from the first event day).
CUPED_PRE_DAYS = 15


def _duck_cos(left_alias: str, right_alias: str) -> str:
    """DuckDB cosine between two embedding columns via the unnest
    pattern (rounded 6dp like the Spark side; 0.0 when either norm is
    zero, as ``similarity.safe_cosine``)."""

    def dot_sql(x: str, y: str) -> str:
        return f"SUM(CAST({x}.embedding[u.i] AS DOUBLE) * CAST({y}.embedding[u.i] AS DOUBLE))"

    a, b = left_alias, right_alias
    na, nb = f"sqrt({dot_sql(a, a)})", f"sqrt({dot_sql(b, b)})"
    return f"""ROUND(CASE WHEN {na} > 0 AND {nb} > 0
        THEN {dot_sql(a, b)} / ({na} * {nb}) ELSE 0.0 END + 1e-9, 6)"""


@query(
    "embedding_mmr_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    cosq AS (
      SELECT c.vec_id, {_duck_cos('c', 'q')} AS cos_r
      FROM e c, (SELECT embedding FROM e WHERE vec_id = {MMR_QUERY_ID}) q,
           unnest(range(1, len(c.embedding) + 1)) AS u(i)
      WHERE c.vec_id != {MMR_QUERY_ID}
      GROUP BY c.vec_id
    ),
    cand AS (
      SELECT vec_id, cos_r FROM cosq
      ORDER BY cos_r DESC, vec_id ASC LIMIT {MMR_POOL}
    ),
    pair AS (
      SELECT ca.vec_id AS ai, cb.vec_id AS bi, {_duck_cos('ea', 'eb')} AS pc
      FROM cand ca JOIN e ea ON ea.vec_id = ca.vec_id
           JOIN cand cb ON cb.vec_id != ca.vec_id
           JOIN e eb ON eb.vec_id = cb.vec_id,
           unnest(range(1, len(ea.embedding) + 1)) AS u(i)
      GROUP BY ca.vec_id, cb.vec_id
    ),
    s1 AS (
      SELECT vec_id, cos_r,
             ROUND({MMR_LAMBDA} * cos_r + 1e-9, 6) AS mmr_score
      FROM cand ORDER BY cos_r DESC, vec_id ASC LIMIT 1
    ),
    r2 AS (
      SELECT c.vec_id, c.cos_r,
             ROUND({MMR_LAMBDA} * c.cos_r
                   - {round(1 - MMR_LAMBDA, 10)} * MAX(p.pc) + 1e-9, 6) AS mmr_score
      FROM cand c JOIN pair p ON p.ai = c.vec_id
           AND p.bi IN (SELECT vec_id FROM s1)
      WHERE c.vec_id NOT IN (SELECT vec_id FROM s1)
      GROUP BY c.vec_id, c.cos_r
    ),
    s2 AS (SELECT * FROM r2 ORDER BY mmr_score DESC, vec_id ASC LIMIT 1),
    r3 AS (
      SELECT c.vec_id, c.cos_r,
             ROUND({MMR_LAMBDA} * c.cos_r
                   - {round(1 - MMR_LAMBDA, 10)} * MAX(p.pc) + 1e-9, 6) AS mmr_score
      FROM cand c JOIN pair p ON p.ai = c.vec_id
           AND p.bi IN (SELECT vec_id FROM s1 UNION SELECT vec_id FROM s2)
      WHERE c.vec_id NOT IN (SELECT vec_id FROM s1 UNION SELECT vec_id FROM s2)
      GROUP BY c.vec_id, c.cos_r
    ),
    s3 AS (SELECT * FROM r3 ORDER BY mmr_score DESC, vec_id ASC LIMIT 1)
    SELECT CAST(1 AS BIGINT) AS rank, vec_id, cos_r AS cosine, mmr_score FROM s1
    UNION ALL
    SELECT CAST(2 AS BIGINT), vec_id, cos_r, mmr_score FROM s2
    UNION ALL
    SELECT CAST(3 AS BIGINT), vec_id, cos_r, mmr_score FROM s3
    """,
)
def embedding_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance retrieval (Carbonell & Goldstein):
    top-{MMR_ROUNDS} results for query vector {MMR_QUERY_ID} that
    trade relevance against redundancy — round t picks
    argmax lambda*cos(q,d) - (1-lambda)*max_s cos(d,s) over the
    already-selected set.  The corpus-wide pass is one broadcast-query
    cosine scan + TakeOrderedAndProject top-{MMR_POOL}; the greedy
    {MMR_ROUNDS}-round rerank then runs driver-side on the collected
    pool — bounded at {MMR_POOL} rows by construction (see the inline
    note).  Diversification cost is independent of corpus size."""
    lam = MMR_LAMBDA
    from bigdata_covid19_real_time_spark.plans.extensions import (
        _empty_embeddings,
    )

    if _empty_embeddings(spark, sf_dir):
        return spark.createDataFrame(
            [], "rank long, vec_id long, cosine double, mmr_score double"
        )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    q = F.broadcast(
        emb.filter(F.col("vec_id") == MMR_QUERY_ID).select(
            F.col("v").alias("qv"), l2_norm(F.col("v")).alias("qn")
        )
    )
    cand = (
        emb.filter(F.col("vec_id") != MMR_QUERY_ID)
        .crossJoin(q)
        .select(
            "vec_id",
            "v",
            stable_round(
                safe_cosine(
                    dot(F.col("v"), F.col("qv")), l2_norm(F.col("v")), F.col("qn")
                ),
                6,
            ).alias("cos_r"),
        )
        .orderBy(F.col("cos_r").desc(), F.col("vec_id").asc())
        .limit(MMR_POOL)
    )
    # ONE corpus scan ends the distributed part: the pool is bounded at
    # MMR_POOL rows by the constant above, so the greedy rerank is a
    # driver-side loop over <= MMR_POOL^2 pairwise cosines (the
    # documented bounded-driver-fast-path pattern of operators/bpe.py /
    # components.py — a fully-lazy DataFrame unroll re-planned the
    # corpus-cosine subtree once per round, 44 exchanges for a 10-row
    # rerank, and a re-parallelized local frame pays the Python
    # data-shipping cost on every job).  Arithmetic replicates the
    # oracle exactly: every cosine is rounded to 6dp (the +1e-9 shift
    # keeps all three engines off round-half boundaries) before any
    # comparison, and ties break on vec_id.
    pool = cand.collect()
    cos_r = {r["vec_id"]: r["cos_r"] for r in pool}
    vecs = {r["vec_id"]: r["v"] for r in pool}

    def _pc(x: list[float], y: list[float]) -> float:
        dp = sum(a * b for a, b in zip(x, y))
        nx = sum(a * a for a in x) ** 0.5
        ny = sum(b * b for b in y) ** 0.5
        raw = dp / (nx * ny) if nx > 0 and ny > 0 else 0.0
        return round(raw + 1e-9, 6)

    selected: list[tuple[int, float]] = []  # (vec_id, mmr_score)
    remaining = sorted(cos_r)
    for _ in range(min(MMR_ROUNDS, len(remaining))):
        best = None
        for vid in remaining:
            if not selected:
                score = round(lam * cos_r[vid] + 1e-9, 6)
            else:
                pen = max(_pc(vecs[vid], vecs[sid]) for sid, _ in selected)
                score = round(lam * cos_r[vid] - (1 - lam) * pen + 1e-9, 6)
            if best is None or score > best[1] or (score == best[1] and vid < best[0]):
                best = (vid, score)
        selected.append(best)
        remaining.remove(best[0])
    # Return a JVM-side literal plan (explode of a literal struct
    # array): unlike a re-parallelized Python frame, actions on it do
    # not re-ship pickled data, so downstream consumers pay no
    # per-job overhead.
    rows = F.array(
        *[
            F.struct(
                F.lit(i + 1).cast("long").alias("rank"),
                F.lit(vid).cast("long").alias("vec_id"),
                F.lit(cos_r[vid]).alias("cosine"),
                F.lit(score).alias("mmr_score"),
            )
            for i, (vid, score) in enumerate(selected)
        ]
    )
    return (
        spark.range(1)
        .select(F.explode(rows).alias("x"))
        .select("x.rank", "x.vec_id", "x.cosine", "x.mmr_score")
    )


@query(
    "events_walkforward_folds",
    oracle=f"""
    WITH d AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS d FROM events),
    mx AS (SELECT MAX(d) AS big_d FROM d),
    g AS (
      SELECT CAST(u.i AS BIGINT) AS fold, d.d,
             mx.big_d - CAST(({WF_FOLDS} - u.i) * {WF_WINDOW_DAYS} AS INT)
               AS test_end
      FROM d, mx, unnest(range(1, {WF_FOLDS + 1})) AS u(i)
    ),
    w AS (
      SELECT fold, d, test_end,
             test_end - CAST({WF_WINDOW_DAYS - 1} AS INT) AS test_start
      FROM g
    )
    SELECT fold,
           MIN(test_start) - CAST(1 AS INT) AS train_end,
           MIN(test_start) AS test_start,
           MIN(test_end) AS test_end,
           CAST(COUNT(*) FILTER (WHERE d < test_start) AS BIGINT) AS n_train,
           CAST(COUNT(*) FILTER (WHERE d BETWEEN test_start AND test_end)
                AS BIGINT) AS n_test
    FROM w GROUP BY fold
    """,
)
def events_walkforward_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward (expanding-window) cross-validation folds: fold i
    tests on a fixed {WF_WINDOW_DAYS}-day window anchored to the
    stream's last day and trains on EVERYTHING strictly before it, so
    later folds see more history — the standard temporal CV plan
    (``events_embargo_split`` is the single purged split; this is the
    K-fold version).  One broadcast 1-row max-date, one
    conditional-count scan, {WF_FOLDS} output rows."""
    ev = load_table(spark, sf_dir, "events").select(F.to_date("ts").alias("d"))
    mx = ev.agg(F.max("d").alias("big_d"))
    g = (
        ev.crossJoin(F.broadcast(mx))
        .withColumn("fold", F.explode(F.sequence(F.lit(1), F.lit(WF_FOLDS))))
        .select(
            F.col("fold").cast("long").alias("fold"),
            "d",
            F.date_sub(
                F.col("big_d"),
                (F.lit(WF_FOLDS) - F.col("fold")) * WF_WINDOW_DAYS,
            ).alias("test_end"),
        )
        .withColumn("test_start", F.date_sub("test_end", WF_WINDOW_DAYS - 1))
    )
    return g.groupBy("fold").agg(
        F.date_sub(F.min("test_start"), 1).alias("train_end"),
        F.min("test_start").alias("test_start"),
        F.min("test_end").alias("test_end"),
        F.sum(
            F.when(F.col("d") < F.col("test_start"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_train"),
        F.sum(
            F.when(
                F.col("d").between(F.col("test_start"), F.col("test_end")), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_test"),
    )


def _poisson_weight(u):
    """Poisson(1) inverse CDF over a uniform column (CASE ladder)."""
    w = F.when(u < POISSON1_CDF[0], 0)
    for k in range(1, len(POISSON1_CDF)):
        w = w.when(u < POISSON1_CDF[k], k)
    return w.otherwise(len(POISSON1_CDF))


def _duck_poisson(u_expr: str) -> str:
    arms = "".join(
        f" WHEN {u_expr} < {c} THEN {k}" for k, c in enumerate(POISSON1_CDF)
    )
    return f"CASE{arms} ELSE {len(POISSON1_CDF)} END"


@query(
    "events_value_bootstrap_ci",
    oracle=f"""
    WITH ev AS (
      SELECT event_type, event_id, value FROM events
      WHERE value IS NOT NULL AND event_type IS NOT NULL
    ),
    drawn AS (
      SELECT event_type, value, u.b,
             {_duck_poisson(
                 f"((('0x' || substr(md5('{BOOT_SEED}:' || CAST(event_id AS VARCHAR)"
                 " || '#' || CAST(u.b AS VARCHAR)), 1, 15))::BIGINT % 1000000)"
                 " / 1000000.0)"
             )} AS w
      FROM ev, unnest(range(1, {BOOT_B + 1})) AS u(b)
    ),
    means AS (
      SELECT event_type, b, SUM(w * value) / SUM(w) AS m
      FROM drawn GROUP BY 1, 2 HAVING SUM(w) > 0
    ),
    boot AS (
      SELECT event_type, COUNT(*) AS nb, SUM(m) AS s, SUM(m * m) AS ss,
             quantile_cont(m, 0.025) AS lo, quantile_cont(m, 0.975) AS hi
      FROM means GROUP BY 1
    ),
    pt AS (
      SELECT event_type, COUNT(*) AS n_events, AVG(value) AS mean_v
      FROM ev GROUP BY 1
    )
    SELECT pt.event_type, CAST(n_events AS BIGINT) AS n_events,
           ROUND(mean_v + 1e-9, 4) AS mean_value,
           ROUND(CASE WHEN nb > 1
                      THEN SQRT((ss - s * s / nb) / (nb - 1)) ELSE 0.0 END
                 + 1e-9, 6) AS boot_se,
           ROUND(lo + 1e-9, 4) AS ci_lo,
           ROUND(hi + 1e-9, 4) AS ci_hi
    FROM pt JOIN boot ON boot.event_type = pt.event_type
    """,
)
def events_value_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% confidence interval for each event type's
    mean value: every row draws B={BOOT_B} independent Poisson(1)
    resample weights (the scalable bootstrap — no resample index is
    ever materialized, so the plan is explode -> partial agg, shuffle
    |types| x B rows).  Weights derive from the documented md5-bucket
    hash through the exact Poisson(1) inverse CDF, never ``rand()``,
    so both engines draw identical resamples and the gate hashes
    match."""
    from bigdata_covid19_real_time_spark.operators.fanout import fan_out_scan

    ev = fan_out_scan(
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select("event_type", "value", "event_id")
    )
    drawn = ev.select(
        "event_type",
        "value",
        F.explode(F.sequence(F.lit(1), F.lit(BOOT_B))).alias("b"),
        "event_id",
    ).select(
        "event_type",
        "value",
        "b",
        _poisson_weight(
            hash_bucket(
                F.concat_ws("#", F.col("event_id"), F.col("b")), BOOT_SEED
            )
            / F.lit(1_000_000.0)
        ).alias("w"),
    )
    means = (
        drawn.groupBy("event_type", "b")
        .agg(F.sum(F.col("w") * F.col("value")).alias("swx"), F.sum("w").alias("sw"))
        .filter(F.col("sw") > 0)
        .select("event_type", "b", (F.col("swx") / F.col("sw")).alias("m"))
    )
    boot = means.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum("m").alias("s"),
        F.sum(F.col("m") * F.col("m")).alias("ss"),
        F.expr("percentile(m, 0.025)").alias("lo"),
        F.expr("percentile(m, 0.975)").alias("hi"),
    )
    pt = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"), F.avg("value").alias("mean_v")
    )
    return pt.join(boot, "event_type").select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        stable_round(F.col("mean_v"), 4).alias("mean_value"),
        stable_round(
            F.when(
                F.col("nb") > 1,
                F.sqrt(
                    (F.col("ss") - F.col("s") * F.col("s") / F.col("nb"))
                    / (F.col("nb") - 1)
                ),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("boot_se"),
        stable_round(F.col("lo"), 4).alias("ci_lo"),
        stable_round(F.col("hi"), 4).alias("ci_hi"),
    )


@query(
    "events_cuped_adjustment",
    oracle=f"""
    WITH ev AS (
      SELECT event_type, user_id, value, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    ),
    mn AS (SELECT MIN(d) AS d0 FROM ev),
    xy AS (
      SELECT event_type, user_id,
             SUM(CASE WHEN d < d0 + CAST({CUPED_PRE_DAYS} AS INT)
                      THEN value ELSE 0.0 END) AS x,
             SUM(CASE WHEN d >= d0 + CAST({CUPED_PRE_DAYS} AS INT)
                      THEN value ELSE 0.0 END) AS y
      FROM ev, mn GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
      FROM xy GROUP BY 1 HAVING COUNT(*) >= 3
    ),
    v AS (
      SELECT event_type, n,
             (sxx - sx * sx / n) / (n - 1) AS vx,
             (syy - sy * sy / n) / (n - 1) AS vy,
             (sxy - sx * sy / n) / (n - 1) AS cxy
      FROM m
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_users,
           ROUND(CASE WHEN vx > 0 THEN cxy / vx ELSE 0.0 END + 1e-9, 6)
             AS theta,
           ROUND(vy + 1e-9, 4) AS var_raw,
           ROUND(CASE WHEN vx > 0 THEN vy - cxy * cxy / vx ELSE vy END
                 + 1e-9, 4) AS var_cuped,
           ROUND(CASE WHEN vx > 0 AND vy > 0
                      THEN 100.0 * cxy * cxy / (vx * vy) ELSE 0.0 END
                 + 1e-9, 4) AS reduction_pct
    FROM v
    """,
)
def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al.): per event type, each
    user's pre-period value total (first {CUPED_PRE_DAYS} days) is the
    control covariate for their post-period total; theta = cov/var and
    the achievable variance reduction are closed-form from six
    mergeable moments.  One conditional-sum shuffle to the per-(type,
    user) frame, one moment rollup; zero-variance covariates take the
    guarded CASE arm (the ANSI divide-by-zero trap), matching DuckDB's
    NULL-free contract."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    ).select("event_type", "user_id", "value", F.to_date("ts").alias("d"))
    mn = ev.agg(F.min("d").alias("d0"))
    split = F.date_add(F.col("d0"), CUPED_PRE_DAYS)
    xy = (
        ev.crossJoin(F.broadcast(mn))
        .groupBy("event_type", "user_id")
        .agg(
            F.sum(
                F.when(F.col("d") < split, F.col("value")).otherwise(0.0)
            ).alias("x"),
            F.sum(
                F.when(F.col("d") >= split, F.col("value")).otherwise(0.0)
            ).alias("y"),
        )
    )
    m = (
        xy.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
        .filter(F.col("n") >= 3)
    )
    vx = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)
    vy = (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")) / (F.col("n") - 1)
    cxy = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (F.col("n") - 1)
    v = m.select("event_type", F.col("n").alias("n"), vx.alias("vx"), vy.alias("vy"), cxy.alias("cxy"))
    return v.select(
        "event_type",
        F.col("n").cast("long").alias("n_users"),
        stable_round(
            F.when(F.col("vx") > 0, F.col("cxy") / F.col("vx")).otherwise(0.0), 6
        ).alias("theta"),
        stable_round(F.col("vy"), 4).alias("var_raw"),
        stable_round(
            F.when(
                F.col("vx") > 0,
                F.col("vy") - F.col("cxy") * F.col("cxy") / F.col("vx"),
            ).otherwise(F.col("vy")),
            4,
        ).alias("var_cuped"),
        stable_round(
            F.when(
                (F.col("vx") > 0) & (F.col("vy") > 0),
                F.lit(100.0) * F.col("cxy") * F.col("cxy") / (F.col("vx") * F.col("vy")),
            ).otherwise(0.0),
            4,
        ).alias("reduction_pct"),
    )
