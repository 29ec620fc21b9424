"""Deterministic, reproducible corpus sampling.

Not in the reference (its pipeline forwards everything); part of the
training-data extension surface.  At 100 TB, sampling must be:

- **deterministic under retries** — a speculative task re-run must pick
  the same rows, or the corpus differs between attempts.  Spark's
  ``df.sample()`` draws per-partition ``rand()`` streams whose output
  depends on partitioning and task attempt; hash-based sampling is a
  pure row-wise predicate, immune to both;
- **seed-addressable** — changing the seed yields an independent sample
  (held-out splits, ablations) while keeping run-to-run stability;
- **stratifiable** — per-source / per-language keep rates are the
  mixing-weights knob every LLM data recipe needs.

Mechanism: row kept iff ``bucket(key, seed) < rate * M`` where the
bucket is an md5-derived uniform integer in ``[0, M)``.  md5 (not
``xxhash64``) for the same reason as operators/simhash.py: both engines
compute it bit-identically, so the correctness gate's SQL oracle can
reproduce the EXACT sampled row set, not just its approximate size.
The predicate is a narrow map — it pushes below shuffles and costs one
hash per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigdata_covid19_real_time_spark.operators.text import md5_60

#: Bucket modulus: rate resolution of 1e-6.
NUM_BUCKETS = 1_000_000


def seeded_key(key: Column, seed: int) -> Column:
    """The uniform 60-bit integer of (seed, key): ``md5_60`` of
    ``seed:key``.  Cross-engine SQL twin:
    ``('0x' || substr(md5(seed || ':' || key), 1, 15))::BIGINT``."""
    return md5_60(F.concat_ws(":", F.lit(str(seed)), key.cast("string")))


def hash_bucket(key: Column, seed: int) -> Column:
    """Uniform bucket in [0, NUM_BUCKETS) from (seed, key):
    ``seeded_key`` modulo the bucket count."""
    return F.pmod(seeded_key(key, seed), F.lit(NUM_BUCKETS))


def deterministic_sample(
    df: DataFrame, rate: float, key_col: str, seed: int = 0
) -> DataFrame:
    """Keep ~``rate`` of rows, chosen purely by key hash.

    The same (key, seed) is kept or dropped identically in every run,
    every partitioning, every engine — and samples at different rates
    are NESTED (rate 0.1 is a subset of rate 0.2), which makes
    scale-up experiments comparable.
    """
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    return df.filter(
        hash_bucket(F.col(key_col), seed) < F.lit(int(rate * NUM_BUCKETS))
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str,
    key_col: str,
    seed: int = 0,
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum keep rates — the mixing-weights sampler.

    ``rates`` maps stratum values (e.g. language or source) to keep
    probabilities; unlisted strata fall back to ``default_rate``.  One
    hash + one CASE per row, narrow map, no shuffle.
    """
    for k, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for {k!r} must be in [0, 1], got {r}")
    threshold: Column | None = None
    for k, r in rates.items():
        t = F.lit(int(r * NUM_BUCKETS))
        cond = F.col(strata_col) == k
        threshold = F.when(cond, t) if threshold is None else threshold.when(cond, t)
    fallback = F.lit(int(default_rate * NUM_BUCKETS))
    threshold = fallback if threshold is None else threshold.otherwise(fallback)
    return df.filter(hash_bucket(F.col(key_col), seed) < threshold)


def group_sample_topk(
    df: DataFrame,
    k: int,
    group_col: str,
    key_col: str,
    seed: int = 0,
) -> DataFrame:
    """Exactly-k-per-group deterministic sample (hash-ordered).

    Rate-based sampling keeps a *fraction* per stratum; inspection and
    eval-set construction want a *fixed count* per group instead.  Rows
    are ranked inside each group by their md5 key hash (a deterministic
    shuffle of the group, stable under retries and ingestion order, same
    rationale as ``hash_bucket``) and the first ``k`` kept.

    One window per group — no global sort, no skew beyond the group
    sizes themselves.  Adds ``sample_rank`` (1-based within group).
    """
    order_key = F.md5(
        F.concat_ws(":", F.lit(str(seed)), F.col(key_col).cast("string"))
    )
    w = Window.partitionBy(group_col).orderBy(order_key, F.col(key_col))
    return df.withColumn("sample_rank", F.row_number().over(w)).filter(
        F.col("sample_rank") <= k
    )


def weighted_sample_topk(
    df: DataFrame,
    k: int,
    weight_col: str,
    key_col: str,
    seed: int = 0,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis A-ES),
    deterministic: each row draws u from its md5 key hash and scores
    ``-ln(u) / w``; the k SMALLEST scores are the sample.  This is
    exactly successive draws without replacement with probability
    proportional to weight — the quality-weighted corpus-selection
    primitive (weight = quality score, token count, ...).

    Determinism/portability: u derives from the same md5 construction
    as :func:`hash_bucket`, so retries, repartitions, and the SQL
    oracle reproduce the IDENTICAL sample set; different seeds give
    independent samples.  Rows with NULL or non-positive weight are
    excluded (they have zero selection probability).

    Scale: one hash + one ln per row (narrow map), then a global top-k
    — Spark plans ``TakeOrderedAndProject`` (per-partition heaps, k-row
    driver merge), never a full sort.  Adds ``sampling_score``.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    h = seeded_key(F.col(key_col), seed)
    # u in (0, 1]: (h + 1) / 2^60 — never 0, so ln(u) is finite
    u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 60))
    score = -F.log(u) / F.col(weight_col).cast("double")
    return (
        df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("sampling_score", score)
        .orderBy(F.col("sampling_score").asc(), F.col(key_col).asc())
        .limit(k)
    )


def leakage_free_splits(
    corpus: DataFrame,
    cluster_assignments: DataFrame,
    rates: dict[str, float],
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    seed: int = 0,
) -> DataFrame:
    """Train/val/test splits where every near-duplicate CLUSTER moves
    as a unit — the leakage-free split: a doc and its near-copies can
    never straddle train and eval (the contamination mode a plain
    per-doc hash split permits by construction).

    ``cluster_assignments`` is ``(id_col, cluster_col)`` from
    ``dedup.dedup_clusters`` — docs absent from it are singletons and
    split on their own id.  ``rates`` maps split name -> fraction in
    declaration order and must sum to 1.  The bucket hash is the same
    md5 scheme as ``deterministic_sample``: retry-stable and
    cross-engine reproducible.

    Scale: one left join on the doc id (cluster table is |paired docs|
    rows — usually a small fraction of the corpus, broadcast-eligible),
    then a narrow hash + CASE.  No shuffle of the corpus beyond that
    join.

    Output: corpus + ``cluster_key`` + ``split``.
    """
    total = sum(rates.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split rates must sum to 1, got {total}")
    ca = cluster_assignments.select(
        F.col(id_col), F.col(cluster_col).alias("__cluster")
    )
    keyed = corpus.join(ca, id_col, "left").withColumn(
        "cluster_key", F.coalesce(F.col("__cluster"), F.col(id_col))
    ).drop("__cluster")
    b = hash_bucket(F.col("cluster_key"), seed)
    split_expr = None
    upper = 0.0
    names = list(rates)
    for name in names[:-1]:
        upper += rates[name]
        cond = b < F.lit(int(upper * NUM_BUCKETS))
        split_expr = (
            F.when(cond, F.lit(name))
            if split_expr is None
            else split_expr.when(cond, F.lit(name))
        )
    split_expr = (
        split_expr.otherwise(F.lit(names[-1]))
        if split_expr is not None
        else F.lit(names[-1])
    )
    return keyed.withColumn("split", split_expr)


def hash_negative_samples(
    pool: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    n_probes: int = 10,
    n_buckets: int = 64,
    seed: int = 0,
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    anchor gets ~``k`` pool items with a DIFFERENT label, chosen by
    hash probing — no ``rand()`` (retry-stable, resumable, identical
    across engines and reruns).

    Mechanics: the pool hashes into ``n_buckets``; each anchor derives
    ``n_probes`` bucket addresses from (seed, anchor, j) and takes the
    md5-minimal different-label item from each probed bucket; the first
    ``k`` distinct items (by probe order, then id) are the negatives.
    Collisions across probes are why ``n_probes > k``.

    Scale: one explode (anchors x probes), one equi-join on the bucket
    id (pool side shuffles once on an int key), two partial-aggregated
    groupBys.  No all-pairs product, no global sort, no per-row RNG.

    Output: ``(anchor_id, negative_id, probe_j, neg_rank)``.
    """
    pool_b = pool.select(
        F.col(id_col).alias("__cand"),
        F.col(label_col).alias("__cand_label"),
        F.pmod(hash_bucket(F.col(id_col), seed), F.lit(n_buckets)).alias("__b"),
    )
    probes = anchors.select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("__a_label"),
        F.explode(F.sequence(F.lit(0), F.lit(n_probes - 1))).alias("__j"),
    ).withColumn(
        "__b",
        F.pmod(
            hash_bucket(
                F.concat_ws("#", F.col("anchor_id"), F.col("__j")), seed
            ),
            F.lit(n_buckets),
        ),
    )
    pick_key = F.md5(
        F.concat_ws(
            "#",
            F.lit(str(seed)),
            F.col("anchor_id"),
            F.col("__j"),
            F.col("__cand"),
        )
    )
    picked = (
        probes.join(pool_b, "__b")
        .filter(
            (F.col("__cand_label") != F.col("__a_label"))
            & (F.col("__cand") != F.col("anchor_id"))
        )
        .groupBy("anchor_id", "__j")
        .agg(F.min(F.struct(pick_key.alias("m"), F.col("__cand").alias("c"))).alias("__p"))
        .select("anchor_id", "__j", F.col("__p.c").alias("negative_id"))
    )
    first_probe = picked.groupBy("anchor_id", "negative_id").agg(
        F.min("__j").alias("probe_j")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("anchor_id").orderBy(
        F.asc("probe_j"), F.asc("negative_id")
    )
    return (
        first_probe.withColumn("neg_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("neg_rank") <= k)
        .select("anchor_id", "negative_id", "probe_j", "neg_rank")
    )


def temperature_mixing_rates(
    df: DataFrame,
    source_col: str,
    temperature: float = 2.0,
    target_fraction: float = 0.5,
) -> DataFrame:
    """Per-source sampling rates for temperature-scaled mixing:
    ``weight_i ∝ n_i^(1/T)`` — the standard recipe for rebalancing a
    skewed source/language distribution (T=1 keeps natural proportions,
    T→∞ approaches uniform) when drawing ``target_fraction`` of the
    corpus.  Rates cap at 1 (a source cannot over-sample without
    replacement; the residual mass is NOT redistributed — by design the
    draw then lands under target, which is the conservative choice).

    Feed the resulting rates into ``stratified_sample`` for the actual
    deterministic draw.

    Scale: one partial-agg groupBy on the source plus a broadcast 1-row
    total — the rate table is |sources| rows on the driver side of
    nothing (it stays a frame).

    Output: ``(source_col, n_rows, weight, sample_rate)``.
    """
    if temperature <= 0:
        raise ValueError(f"temperature must be positive, got {temperature}")
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_rows"))
    powered = counts.withColumn(
        "__w", F.pow(F.col("n_rows").cast("double"), F.lit(1.0 / temperature))
    )
    totals = F.broadcast(
        powered.agg(
            F.sum("__w").alias("__wsum"), F.sum("n_rows").alias("__total")
        )
    )
    return (
        powered.join(totals)
        .select(
            source_col,
            "n_rows",
            F.round(F.col("__w") / F.col("__wsum") + F.lit(1e-9), 6).alias("weight"),
            F.round(
                F.least(
                    F.lit(1.0),
                    (F.col("__w") / F.col("__wsum"))
                    * F.lit(target_fraction)
                    * F.col("__total")
                    / F.col("n_rows"),
                )
                + F.lit(1e-9),
                6,
            ).alias("sample_rate"),
        )
    )


def shuffle_shard_assignment(
    df: DataFrame,
    n_shards: int,
    seed: int = 0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global shuffle + shard assignment — the final step
    of a training-data export: break source/temporal ordering so every
    shard (and every sequential read of a shard) is an unbiased sample.

    Each id gets a shuffle key — the md5-derived 60-bit integer of
    ``seed:id`` (the ``hash_bucket`` family's cross-engine trick, so a
    SQL oracle replays the full assignment bit-exactly); its shard is
    the key mod ``n_shards`` and its position is the rank of the key
    within the shard (ties — hash collisions — break by id).  The
    assignment is a pure function of (id, seed, n_shards): retry-stable,
    machine-independent, and reproducible for a training run's data
    order audit.

    Scale: one shuffle on the 8-byte shard key; the within-shard sort is
    per-partition when the writer partitions by shard (at export time:
    ``.repartition(n_shards, "shard").sortWithinPartitions("pos")``) —
    never a global sort.  Shard sizes are balanced to ~|df|/n_shards by
    hash uniformity, not by an explicit count pass.
    """
    h = seeded_key(F.col(id_col), seed)
    w = Window.partitionBy("shard").orderBy(F.col("__h"), F.col(id_col))
    return (
        df.select(F.col(id_col), h.alias("__h"))
        .withColumn("shard", F.pmod(F.col("__h"), F.lit(n_shards)).cast("int"))
        .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
        .select(id_col, "shard", "pos")
    )
