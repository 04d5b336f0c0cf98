"""Market-basket association rules — support / confidence / lift.

The classic co-occurrence analytics the co-purchase graph queries
(``graph_triangle_count``'s pair generator) stop short of: for every
unordered item pair that co-occurs in at least ``min_pair_count``
baskets, emit BOTH directed rules ``ante → cons`` with

- ``support``    = pairs / baskets          (how common the pair is),
- ``confidence`` = pairs / count(ante)      (P(cons | ante)),
- ``lift``       = confidence / P(cons)     (association strength vs
  independence; > 1 = positively associated, symmetric by definition).

Spark-first shape, audited for 100 TB:

- the only corpus-sized work is one distinct + one within-basket
  self-join; pair generation is quadratic ONLY in basket size (bounded
  by the order-size cap the fixture inherits from TPC-H — an unbounded
  corpus takes a basket-size cap exactly like the dedup family's
  stop-shingle DF cap, queries/graph.py::copurchase_pairs
  documents the same trade);
- item counts are a dimension-sized relation equi-joined into the rule
  join; the basket total is a ONE-ROW aggregate cross-joined broadcast
  (never a driver value). The marginals joins carry NO explicit
  ``F.broadcast`` hint (ADVICE r12 #1): one row per distinct item is
  broadcast-sized for parts/SKU/vocab dimensions (item count grows with
  the CATALOG, not the 100 TB of baskets) and AQE broadcasts it from
  the MEASURED size — but for an open-ended item space (items = raw
  n-grams) a hard hint would force a driver OOM where unhinted AQE
  degrades gracefully to a shuffle join. The rule join is a plain
  equi-join under either physical choice;
- rules are pair-set-sized — the whole point of ``min_pair_count`` is
  that the output is the interesting tail, not the cross product.

Float discipline for the SQL oracle: every count is an exact integer
(long); the three metrics are spelled as single divisions /
multiplications of those integers cast to double, so an oracle that
mirrors the parenthesization is bit-identical modulo nothing — there is
no summation-order freedom at all. (Parity pinned in
tests/test_basket.py; the registered query lands with the r13 window.)

Reference contrast: the reference's one-shot map→reduce (worker.go:
104-165) can count pairs (that's ``mr_posting_pairs``) but has no join
to bring the two marginal counts back onto each pair — rules need three
relations met on two keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_system_spark.caches import tracked_cache


def association_rules(
    baskets: DataFrame,
    basket_col: str = "basket",
    item_col: str = "item",
    min_pair_count: int = 1,
) -> DataFrame:
    """Directed pairwise association rules over (basket, item) rows.

    Input rows may repeat (a basket listing an item twice is one
    membership — distinct is applied here); NULL baskets or items are
    dropped (a NULL key can never equi-join its marginals back). Returns
    (antecedent, consequent, pair_count, ante_count, cons_count,
    n_baskets, support, confidence, lift) — one row per DIRECTION of
    each qualifying pair; callers round the double metrics.
    """
    if min_pair_count < 1:
        raise ValueError(f"min_pair_count must be >= 1, got {min_pair_count}")
    b = tracked_cache(
        baskets.select(
            F.col(basket_col).alias("bk"), F.col(item_col).alias("it")
        )
        .where(F.col("bk").isNotNull() & F.col("it").isNotNull())
        .distinct()
    )
    # one-row basket total, broadcast — never a driver scalar
    nb = b.agg(F.count_distinct("bk").alias("n_baskets"))
    ic = b.groupBy(F.col("it").alias("item")).agg(F.count("*").alias("item_count"))
    a1, a2 = b.alias("a"), b.alias("b")
    pairs = (
        a1.join(a2, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.it") < F.col("b.it")))
        .groupBy(F.col("a.it").alias("u"), F.col("b.it").alias("v"))
        .agg(F.count("*").alias("pair_count"))
        .where(F.col("pair_count") >= min_pair_count)
    )
    # both directions of each unordered pair: (u→v) and (v→u)
    directed = pairs.select(
        F.col("u").alias("antecedent"), F.col("v").alias("consequent"), "pair_count"
    ).unionByName(
        pairs.select(
            F.col("v").alias("antecedent"), F.col("u").alias("consequent"), "pair_count"
        )
    )
    ante = ic.select(F.col("item").alias("antecedent"), F.col("item_count").alias("ante_count"))
    cons = ic.select(F.col("item").alias("consequent"), F.col("item_count").alias("cons_count"))
    # no explicit broadcast hint on the marginals (ADVICE r12 #1): a hint
    # FORCES the build side driver-resident even when the item dimension
    # outgrows the broadcast budget (open-ended item spaces — raw n-grams
    # — would OOM the driver); unhinted, AQE broadcasts from the MEASURED
    # marginal size below the threshold and degrades to a shuffle join
    # above it. The one-row basket total keeps its hint — its size is a
    # constant, not a cardinality bet.
    out = (
        directed.join(ante, "antecedent")
        .join(cons, "consequent")
        .crossJoin(F.broadcast(nb))
    )
    pc = F.col("pair_count").cast("double")
    return out.select(
        "antecedent",
        "consequent",
        "pair_count",
        "ante_count",
        "cons_count",
        "n_baskets",
        (pc / F.col("n_baskets").cast("double")).alias("support"),
        (pc / F.col("ante_count").cast("double")).alias("confidence"),
        (
            (pc * F.col("n_baskets").cast("double"))
            / (F.col("ante_count").cast("double") * F.col("cons_count").cast("double"))
        ).alias("lift"),
    )
