"""Data-stewardship batch: point-in-time dimension lookup, a
right-to-erasure audit, and label-propagation communities.

Three ops a governed feature platform runs daily (SURVEY.md §2
extension brief: lakehouse + graph families):

- ``lineitem_pit_priority_mix``: the feature-store correctness
  primitive — each fact row joined to the dimension VERSION that was
  valid at the fact's own timestamp (here: lineitems at ship date
  against the customer-priority SCD2 intervals built by
  ``customer_priority_scd2``), never the current one, so training
  features match what was knowable at event time (no leakage).  The
  interval join is an equi-join on the customer key with the
  ``[valid_from, valid_to)`` range as a residual predicate — the
  shuffle is keyed, the range never fans out because SCD2 intervals
  tile each key's timeline disjointly — and the result collapses to a
  (ship_year, priority) mix.
- ``user_erasure_audit``: the GDPR/right-to-be-forgotten sweep — for a
  deterministic subject cohort (md5 ``hash_bucket`` rule, the same
  idiom the engine uses for splits, so the cohort is reproducible from
  the rule alone), count the rows each table would purge.  One
  narrow-column pass per table, each collapsing to a single audit row;
  the synthetic corpus uses one subject-id space for ``user_id`` /
  ``custkey``.
- ``brand_copurchase_communities``: synchronous label propagation (3
  fixed rounds, weighted argmax with a deterministic ``count DESC,
  label ASC`` tie-break) over the brand co-purchase graph — community
  detection next to the PageRank / connected-components / triangle
  siblings.  Per round: one join of the edge list to the current
  labels and one argmax groupBy; the fixed iteration count makes the
  DuckDB oracle exactly unrollable (the PageRank-oracle pattern).

Imported last by plans/__init__ (append-only registration).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigdata_covid19_real_time_spark.operators.components import (
    LOCAL_CC_MAX_EDGES,
    collect_bounded,
)
from bigdata_covid19_real_time_spark.operators.sampling import hash_bucket
from bigdata_covid19_real_time_spark.plans.registry import query, stable_round
from bigdata_covid19_real_time_spark.sources.batch import load_table

#: Erasure cohort: keys whose md5 bucket (of 1,000,000) falls below
#: this threshold — a reproducible ~20% subject sample.
ERASE_SEED = 13
ERASE_BUCKETS = 200_000
#: k-NN graph sparsification: each brand keeps its LPA_KNN strongest
#: co-purchase edges (the standard densifier-killer for similarity
#: graphs — a raw co-purchase graph over popular items is a clique, on
#: which label propagation degenerates to one community).
LPA_KNN = 3
#: Fixed synchronous label-propagation rounds.  They run driver-side
#: under ``components.LOCAL_CC_MAX_EDGES`` distinct directed edges: k-NN
#: sparsification bounds the graph at |brands| * 2k edges, so the
#: rounds operate on a frame thousands of times smaller than the
#: baskets self-join that BUILDS it — 2M (string, string, long) edge
#: rows is tens of MB on the driver, and a dict-based synchronous LPA
#: pass replaces ~5 AQE stage materializations per round.  Above the
#: threshold the distributed loop takes over unchanged.
LPA_ROUNDS = 3

_SCD2 = """
    scd_s AS (
      SELECT o_custkey, o_orderpriority AS p, o_orderdate, o_orderkey,
             LAG(o_orderpriority) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS pp
      FROM orders
    ),
    scd_chg AS (SELECT * FROM scd_s WHERE pp IS NULL OR pp != p),
    dim AS (
      SELECT o_custkey AS custkey, p AS priority,
             CAST(o_orderdate AS DATE) AS valid_from,
             CAST(LEAD(o_orderdate) OVER w AS DATE) AS valid_to
      FROM scd_chg
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    )
"""


@query(
    "lineitem_pit_priority_mix",
    oracle=f"""
    WITH {_SCD2},
    fact AS (
      SELECT o.o_custkey AS custkey, CAST(l.l_shipdate AS DATE) AS ship_d,
             CAST(EXTRACT(year FROM l.l_shipdate) AS INTEGER) AS ship_year,
             l.l_extendedprice * (1 - l.l_discount) AS rev
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE l.l_shipdate IS NOT NULL
    )
    SELECT f.ship_year, d.priority AS pit_priority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           -- decimal-sum: price/discount have 2 decimals each, so every
           -- per-row revenue is an exact 4-decimal value; summing in
           -- DECIMAL is exact and order-independent, which kills the
           -- accumulation-order half-boundary flips a double sum hits
           ROUND(CAST(SUM(CAST(f.rev AS DECIMAL(18, 4))) AS DOUBLE)
                 + 1e-9, 2) AS revenue
    FROM fact f
    JOIN dim d ON d.custkey = f.custkey
      AND d.valid_from <= f.ship_d
      AND (d.valid_to IS NULL OR f.ship_d < d.valid_to)
    GROUP BY 1, 2
    """,
)
def lineitem_pit_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time feature lookup: every lineitem joined to the
    customer-priority SCD2 version valid AT ITS SHIP DATE (not the
    current one) — the no-leakage contract a feature store must honor
    when a training row's features are reconstructed as-of event time.
    The dimension intervals tile each customer's timeline disjointly
    (``[valid_from, valid_to)``), so the keyed equi-join with the range
    residual matches each fact row exactly once; the result collapses
    to the (ship_year, priority-at-ship) mix.  Reuses the
    ``customer_priority_scd2`` builder (plans/featureeng.py)."""
    from bigdata_covid19_real_time_spark.plans.featureeng import (
        customer_priority_scd2,
    )

    dim = customer_priority_scd2(spark, sf_dir).select(
        F.col("o_custkey").alias("custkey"),
        "priority",
        "valid_from",
        "valid_to",
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").isNotNull()
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    fact = li.join(orders, F.col("o_orderkey") == F.col("l_orderkey")).select(
        F.col("o_custkey").alias("custkey"),
        F.to_date("l_shipdate").alias("ship_d"),
        F.year("l_shipdate").alias("ship_year"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    joined = fact.join(
        dim,
        (fact["custkey"] == dim["custkey"])
        & (dim["valid_from"] <= fact["ship_d"])
        & (dim["valid_to"].isNull() | (fact["ship_d"] < dim["valid_to"])),
    )
    # decimal-sum (see oracle note): per-row revenue is an exact
    # 4-decimal value, so a DECIMAL sum is exact and order-independent
    return joined.groupBy(
        "ship_year", F.col("priority").alias("pit_priority")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        stable_round(
            F.sum(F.col("rev").cast("decimal(18,4)")).cast("double"), 2
        ).alias("revenue"),
    )


_ERASE_RULE = (
    f"(('0x' || substr(md5('{ERASE_SEED}:' || CAST({{key}} AS VARCHAR)), 1, 15))"
    f"::BIGINT % 1000000) < {ERASE_BUCKETS}"
)


@query(
    "user_erasure_audit",
    oracle=f"""
    SELECT * FROM (
      SELECT 'events' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(*) FILTER ({_ERASE_RULE.format(key='user_id')})
               AS BIGINT) AS n_purge,
             CAST(COUNT(DISTINCT user_id)
               FILTER ({_ERASE_RULE.format(key='user_id')})
               AS BIGINT) AS n_subjects
      FROM events WHERE user_id IS NOT NULL
      UNION ALL
      SELECT 'orders', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(*) FILTER ({_ERASE_RULE.format(key='o_custkey')})
               AS BIGINT),
             CAST(COUNT(DISTINCT o_custkey)
               FILTER ({_ERASE_RULE.format(key='o_custkey')}) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'lineitem', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(*) FILTER ({_ERASE_RULE.format(key='o.o_custkey')})
               AS BIGINT),
             CAST(COUNT(DISTINCT o.o_custkey)
               FILTER ({_ERASE_RULE.format(key='o.o_custkey')}) AS BIGINT)
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      UNION ALL
      SELECT 'customer', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(*) FILTER ({_ERASE_RULE.format(key='c_custkey')})
               AS BIGINT),
             CAST(COUNT(DISTINCT c_custkey)
               FILTER ({_ERASE_RULE.format(key='c_custkey')}) AS BIGINT)
      FROM customer
    )
    """,
)
def user_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure sweep: for the deterministic subject cohort
    (md5 bucket < 20% — reproducible from the rule alone, no stored
    subject list needed), the rows each table would purge, per table:
    total rows, purge rows, distinct subjects hit.  events / orders /
    customer key directly; lineitem resolves its subject through the
    orders join.  Each table contributes one narrow-column scan
    collapsing to a single audit row — the audit costs one pass per
    table at any scale, and the hash rule is the engine-wide
    ``hash_bucket`` idiom (operators/sampling.py)."""

    def rule(col):
        return hash_bucket(F.col(col), ERASE_SEED) < ERASE_BUCKETS

    def audit(df, table, key):
        return df.agg(
            F.lit(table).alias("table_name"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count(F.when(rule(key), 1)).cast("long").alias("n_purge"),
            F.count_distinct(
                F.when(rule(key), F.col(key))
            ).cast("long").alias("n_subjects"),
        )

    from bigdata_covid19_real_time_spark.operators.fanout import fan_out_scan

    # scale-adaptive fan-out (no-op on session-parallel inputs): the
    # audit rule runs a per-row md5 over every key, and AQE broadcasts
    # the orders side of the lineitem join, so on the single-row-group
    # bench corpus the scan+join+partial-agg chain ran as ONE task
    # (profiled r15: 2.0 s stage wall with 3 tasks for 3 audits).  The
    # fanned frames are projected to the audit key columns first, so
    # the added exchange carries 8-byte rows (guide §2.3).
    events = fan_out_scan(
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id")
    )
    orders = load_table(spark, sf_dir, "orders")
    li = (
        fan_out_scan(load_table(spark, sf_dir, "lineitem").select("l_orderkey"))
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
    )
    # separate fanned projection for the orders AUDIT only — the join
    # build side above stays unfanned (a repartition under a broadcast
    # build side re-runs per reference, the round-14 waterfall lesson)
    orders_audit = fan_out_scan(orders.select("o_custkey"))
    customer = load_table(spark, sf_dir, "customer")
    return (
        audit(events, "events", "user_id")
        .unionAll(audit(orders_audit, "orders", "o_custkey"))
        .unionAll(audit(li, "lineitem", "o_custkey"))
        .unionAll(audit(customer, "customer", "c_custkey"))
    )


def _lpa_round_sql(prev: str, out: str) -> str:
    """One unrolled synchronous LPA round as DuckDB CTE text."""
    return f"""
    r_{out} AS (
      SELECT e.u AS b, l.lbl, SUM(e.w) AS s
      FROM edges e JOIN {prev} l ON l.b = e.v
      GROUP BY 1, 2
    ),
    {out} AS (
      SELECT n.b, COALESCE(p.lbl, old.lbl) AS lbl
      FROM nodes n
      JOIN {prev} old ON old.b = n.b
      LEFT JOIN (
        SELECT b, lbl FROM r_{out}
        QUALIFY ROW_NUMBER() OVER (
          PARTITION BY b ORDER BY s DESC, lbl ASC) = 1
      ) p ON p.b = n.b
    )"""


@query(
    "brand_copurchase_communities",
    oracle=f"""
    WITH baskets AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand AS b
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    e0 AS (
      SELECT a.b AS u, c.b AS v, COUNT(*) AS w
      FROM baskets a JOIN baskets c
        ON c.l_orderkey = a.l_orderkey AND a.b != c.b
      GROUP BY 1, 2
    ),
    knn AS (
      SELECT u, v, w FROM e0
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY u ORDER BY w DESC, v ASC) <= {LPA_KNN}
    ),
    edges AS (SELECT u, v, w FROM knn UNION SELECT v, u, w FROM knn),
    nodes AS (SELECT DISTINCT b FROM baskets),
    l0 AS (SELECT b, b AS lbl FROM nodes),
    {_lpa_round_sql('l0', 'l1')},
    {_lpa_round_sql('l1', 'l2')},
    {_lpa_round_sql('l2', 'l3')}
    SELECT b AS brand, lbl AS community,
           CAST(COUNT(*) OVER (PARTITION BY lbl) AS BIGINT)
             AS community_size
    FROM l3
    """,
)
def brand_copurchase_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (3 fixed rounds) on the
    k-NN-sparsified brand co-purchase graph: each brand keeps its
    LPA_KNN strongest co-order edges (raw co-purchase over popular
    items is a clique, on which LPA degenerates to one community —
    k-NN sparsification is the standard fix), the kept edges are
    symmetrized, every node starts as its own label, and each round
    every node adopts the neighbor label with the largest incident
    weight sum (deterministic ``weight DESC, label ASC`` tie-break;
    isolated nodes keep their label).  Execution is hybrid (round 15,
    the connected-components precedent): the edge build always runs
    distributed; the rounds run driver-side when the k-NN-bounded edge
    list is under ``LOCAL_CC_MAX_EDGES`` (identical argmax semantics,
    parity-pinned), else as the distributed per-round plan — one
    edge-to-label join plus one argmax groupBy over the brand-bounded
    frame.  The fixed round count makes the oracle exactly unrollable
    (the PageRank-oracle pattern)."""
    part = F.broadcast(
        load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    )
    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .select("l_orderkey", F.col("p_brand").alias("b"))
        .distinct()
    )
    a = baskets.select(F.col("l_orderkey").alias("ok"), F.col("b").alias("u"))
    c = baskets.select(
        F.col("l_orderkey").alias("ok_c"), F.col("b").alias("v")
    )
    e0 = (
        a.join(c, (F.col("ok") == F.col("ok_c")) & (F.col("u") != F.col("v")))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    knn_w = Window.partitionBy("u").orderBy(F.desc("w"), F.asc("v"))
    knn = (
        e0.withColumn("knn_rn", F.row_number().over(knn_w))
        .filter(F.col("knn_rn") <= LPA_KNN)
        .drop("knn_rn")
    )
    edges = knn.unionAll(
        knn.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    ).distinct()
    nodes = baskets.select("b").distinct()

    # Hybrid execution (round 15; the components.LOCAL_CC_MAX_EDGES
    # precedent): the expensive half of this query is the baskets
    # self-join that BUILDS the k-NN edge list — the LPA rounds
    # themselves run on a graph k-NN sparsification bounds at
    # |brands| * 2k edges.  Running the 3 synchronous rounds as one
    # deep lazy plan cost ~16 small AQE stage materializations plus
    # repeated re-planning of the edge subtree (profiled r15: ~2.6 s
    # of the query's 3.9 s at bench SF).  So: truncate the edge
    # lineage (the bounded collect writes the checkpoint, see
    # ``session.py`` on AQE; the distributed fallback reuses it instead
    # of re-deriving the self-join per round), and when the graph is
    # driver-sized run the EXACT same rounds in plain Python over the
    # collected edges — integer weight sums, ``weight DESC, label ASC``
    # argmax, isolated nodes keep their label — bit-equal semantics,
    # pinned by the local-vs-distributed parity test
    # (tests/test_stewardship.py).
    edges = edges.localCheckpoint(eager=False)
    local = collect_bounded(edges, LOCAL_CC_MAX_EDGES)
    if local is not None:
        import pandas as pd

        incid = list(
            zip(local["u"].tolist(), local["v"].tolist(), local["w"].tolist())
        )
        labels_d: dict = {r["b"]: r["b"] for r in nodes.collect()}
        for _ in range(LPA_ROUNDS):
            scores: dict = {}
            for u, v, w in incid:
                key = (u, labels_d[v])
                scores[key] = scores.get(key, 0) + w
            best: dict = {}
            for (b, lbl), s in scores.items():
                cur = best.get(b)
                if cur is None or s > cur[0] or (s == cur[0] and lbl < cur[1]):
                    best[b] = (s, lbl)
            labels_d = {
                b: (best[b][1] if b in best else lbl)
                for b, lbl in labels_d.items()
            }
        sizes: dict = {}
        for lbl in labels_d.values():
            sizes[lbl] = sizes.get(lbl, 0) + 1
        # Arrow-backed literal return (the components-local idiom): a
        # plain createDataFrame(python_rows) re-ships pickled rows on
        # every downstream action.
        pdf = pd.DataFrame(
            [(b, lbl, sizes[lbl]) for b, lbl in sorted(labels_d.items())],
            columns=["brand", "community", "community_size"],
        )
        pdf["community_size"] = pdf["community_size"].astype("int64")
        return spark.createDataFrame(
            pdf, "brand string, community string, community_size long"
        )

    labels = nodes.select("b", F.col("b").alias("lbl"))

    pick = Window.partitionBy("b").orderBy(F.desc("s"), F.asc("lbl"))
    for _ in range(LPA_ROUNDS):
        scores = (
            edges.join(
                labels.select(F.col("b").alias("v"), "lbl"), "v"
            )
            .groupBy(F.col("u").alias("b"), "lbl")
            .agg(F.sum("w").alias("s"))
        )
        best = (
            scores.withColumn("rn", F.row_number().over(pick))
            .filter(F.col("rn") == 1)
            .select("b", F.col("lbl").alias("new_lbl"))
        )
        labels = (
            labels.join(best, "b", "left")
            .select(
                "b",
                F.coalesce(F.col("new_lbl"), F.col("lbl")).alias("lbl"),
            )
        )
    return labels.select(
        F.col("b").alias("brand"),
        F.col("lbl").alias("community"),
        F.count(F.lit(1))
        .over(Window.partitionBy("lbl"))
        .cast("long")
        .alias("community_size"),
    )
