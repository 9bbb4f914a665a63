"""Collaborative-filtering trainers + predictors (RecDB R7-R12).

Reference math (all in ``PostgreSQL/src/backend/utils/misc/recathon.c``):

- Item cosine (R7): per-item norms ``recathon.c:1236-1308``; pairwise
  dot over co-rating users ``recathon.c:1319-1344``; sim = dot /
  (norm_i * norm_j) ``recathon.c:1353-1367``; keep upper triangle
  (item1 < item2) and drop sim <= 0 (``recathon.c:1493``).
- Item Pearson (R8): per-item mean + sqrt(sum((r-mean)^2))
  ``recathon.c:1575-1697``; covariance-style dot over co-raters
  ``recathon.c:1708-1733``; denominator uses ALL raters of each item,
  not just co-raters (non-classic Pearson); drop only sim == 0
  (``recathon.c:1885``), negatives kept.
- User variants (R9): identical math transposed
  (``recathon.c:1969-2358``).
- Item-CF predict (R11, ``recathon.c:4235-4295``):
  score(u,i) = sum_{j in rated(u)} sim(i,j)*r(u,j) / sum |sim(i,j)|.
- User-CF predict (R12, ``recathon.c:4305-4363``):
  score(u,i) = avg(u) + sum_{v rated i} sim(u,v)*(r(v,i) - avg(u))
  / sum |sim(u,v)| — NOTE the reference subtracts the *target* user's
  average, not each neighbor's (quirk at ``recathon.c:4349``); we
  reproduce it.

The reference builds models with O(n^2) nested loops over dense
in-memory triangle matrices (``recathon.c:3033-3060``) and predicts
with one SQL query per rated item (``recathon.c:4259-4288``). Here
everything is a sparse self-join + aggregation: only co-rated pairs
materialize, partial aggregation is map-side, and Catalyst picks
broadcast vs shuffle joins. At 100 TB the events self-join shuffles on
the user (resp. item) key once; skewed power users are handled by AQE
skew-join; the pair space stays sparse (pairs that share no rater never
exist, matching the reference's dropped sim<=0 rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ----------------------------------------------------------------------
# Event normalization
# ----------------------------------------------------------------------

def normalize_events(events: DataFrame, userkey: str, itemkey: str,
                     eventval: str, ts_col: str | None = None,
                     half_life: float | None = None) -> DataFrame:
    """Canonical (user, item, rating) with one row per (user, item).

    The reference streams raw event rows into its model builders; when
    the same (user,item) occurs more than once this engine defines the
    rating as the average event value (a deliberate, documented choice —
    the oracle SQL in the test harness applies the same rule).

    Time decay (``half_life``, in the units of ``ts_col``): each event
    value is weighted 2^(-age/half_life), age measured from the NEWEST
    event in the frame, so rating = avg(value * weight). Recency
    weighting is the one capability a production recommender needs that
    the reference stores data for but never uses: install.pl:74 creates
    ``ratingts`` and no recathon code reads it. The reference epoch is
    a broadcast one-row aggregate, NOT a global window — an OVER ()
    window would drag the whole events table through one partition at
    100 TB. The age difference is computed in exact integer arithmetic
    before the cast to double. ``half_life=None`` takes the identical
    plan as before (no extra nodes) — pinned in test_cf_semantics.
    """
    cols = [
        F.col(userkey).alias("user"),
        F.col(itemkey).alias("item"),
        F.col(eventval).cast("double").alias("r"),
    ]
    keep = (F.col("user").isNotNull() & F.col("item").isNotNull()
            & F.col("r").isNotNull())
    if half_life is not None:
        if ts_col is None:
            raise ValueError("half_life requires ts_col")
        cols.append(F.col(ts_col).cast("long").alias("_ts"))
        base = events.select(*cols).where(keep & F.col("_ts").isNotNull())
        tmax = base.agg(F.max("_ts").alias("_tmax"))
        base = base.crossJoin(F.broadcast(tmax)).withColumn(
            "r", F.col("r") * F.pow(
                F.lit(2.0),
                (F.col("_ts") - F.col("_tmax")).cast("double")
                / F.lit(float(half_life))))
    else:
        base = events.select(*cols).where(keep)
    return base.groupBy("user", "item").agg(F.avg("r").alias("rating"))


# ----------------------------------------------------------------------
# Trainers
# ----------------------------------------------------------------------

def _pairwise(ratings: DataFrame, entity: str, other: str, value: str,
              ratings_b: DataFrame | None = None) -> DataFrame:
    """Upper-triangle co-occurrence pairs of `entity` joined on `other`.

    Output: (e1, e2, v1, v2) for every co-rating of two entities.
    This is THE scale-critical join: it shuffles `ratings` once on
    `other` and only emits pairs that actually co-occur.

    ``ratings_b``: optional SAME-DATA frame for the right side. The
    user-WHERE of an on-the-fly RECOMMEND prunes only the e1 side (the
    predicate infers through the predict join onto e1 and pushes into
    that side's parquet scan); the e2 side is always consumed in full,
    so callers hand a materialized copy there while keeping the
    prunable e1 side lazy.
    """
    a = ratings.select(F.col(entity).alias("e1"), F.col(other).alias("o"),
                       F.col(value).alias("v1"))
    b = (ratings_b if ratings_b is not None else ratings).select(
        F.col(entity).alias("e2"), F.col(other).alias("o"),
        F.col(value).alias("v2"))
    return a.join(b, "o").where(F.col("e1") < F.col("e2"))


def train_item_cos(ratings: DataFrame,
                   max_coraters: int | None = None) -> DataFrame:
    """(item1, item2, similarity), item1 < item2, sim > 0.

    recathon.c:1378-1562 (updateItemCosModel) re-expressed as
    norms + sparse self-join. ``max_coraters`` caps rated ITEMS per
    USER (the item-CF pair join is quadratic in items-per-user — the
    symmetric hot key to user-CF's raters-per-item); default-on for
    materialized builds via ``RecEngine._train``."""
    if max_coraters:
        ratings = cap_coraters(ratings, "item", "user", max_coraters)
    norms = ratings.groupBy("item").agg(
        F.sqrt(F.sum(F.col("rating") * F.col("rating"))).alias("norm"))
    dots = (_pairwise(ratings, "item", "user", "rating")
            .groupBy("e1", "e2")
            .agg(F.sum(F.col("v1") * F.col("v2")).alias("dot")))
    n1 = norms.select(F.col("item").alias("e1"), F.col("norm").alias("n1"))
    n2 = norms.select(F.col("item").alias("e2"), F.col("norm").alias("n2"))
    return (dots.join(n1, "e1").join(n2, "e2")
            # zero-norm guard (all-zero rating vectors — possible after
            # cap_coraters drops an entity's nonzero rows): cosine is
            # 0/0 there and the reference's sim>0 cut drops it anyway;
            # ANSI mode errors on the division unless filtered first
            .where((F.col("n1") * F.col("n2")) != 0)
            .select(F.col("e1").alias("item1"), F.col("e2").alias("item2"),
                    (F.col("dot") / (F.col("n1") * F.col("n2"))).alias("similarity"))
            .where(F.col("similarity") > 0))  # cosine drops sim<=0: recathon.c:1493


def train_item_pearson(ratings: DataFrame,
                       max_coraters: int | None = None) -> DataFrame:
    """(item1, item2, similarity), item1 < item2, sim != 0 (negatives kept).

    recathon.c:1768-1958 (updateItemPearModel). Per-item stats over ALL
    raters (recathon.c:1575-1697); the pair dot subtracts each item's own
    mean over co-raters only. ``max_coraters`` caps rated items per
    user (see ``train_item_cos``)."""
    if max_coraters:
        ratings = cap_coraters(ratings, "item", "user", max_coraters)
    # two-pass (join the mean back) rather than a window: one shuffle on
    # item either way, and the join side is a tiny aggregate.
    means = ratings.groupBy("item").agg(F.avg("rating").alias("mean"))
    centered = ratings.join(means, "item").select(
        "user", "item", (F.col("rating") - F.col("mean")).alias("c"))
    pearsons = centered.groupBy("item").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("p"))
    dots = (_pairwise(centered, "item", "user", "c")
            .groupBy("e1", "e2")
            .agg(F.sum(F.col("v1") * F.col("v2")).alias("dot")))
    p1 = pearsons.select(F.col("item").alias("e1"), F.col("p").alias("p1"))
    p2 = pearsons.select(F.col("item").alias("e2"), F.col("p").alias("p2"))
    return (dots.join(p1, "e1").join(p2, "e2")
            .where((F.col("p1") * F.col("p2")) != 0)  # zero denom -> sim 0 -> dropped (recathon.c:1751-1756)
            .select(F.col("e1").alias("item1"), F.col("e2").alias("item2"),
                    (F.col("dot") / (F.col("p1") * F.col("p2"))).alias("similarity"))
            .where(F.col("similarity") != 0))  # pearson drops only ==0: recathon.c:1885


# Default rater cap for MATERIALIZED user-CF builds (RecEngine
# create_recommender / threshold retrain). 10k raters per item bounds
# the pair fan-out to <= 10^8 pairs per hot item — large but finite;
# uncapped, a single viral item with 10M raters emits 5*10^13 pairs
# and the build never finishes. Below the cap the filter is a no-op
# (row_number <= cap keeps every row), so exact-parity holds on any
# dataset whose hottest item has fewer raters — the oracle-checked
# harness scales are far below it. The lazy on-the-fly query path
# stays uncapped by default: its user-WHERE prunes the pair join at
# the scan (measured 2x cheaper than paying the cap's extra ratings
# evaluations per query), and hot-key exposure there is one query, not
# a persisted model build.
AUTO_CORATER_CAP = 10_000


def cap_coraters(ratings: DataFrame, entity: str, other: str,
                 max_n: int) -> DataFrame:
    """Deterministically keep at most ``max_n`` raters per ``other``
    (e.g. 10k users per item) before the pairwise join.

    The user-CF pair join is quadratic in raters-per-item: a 10x data
    scale-up with fixed item count makes it 100x — at billions of
    events a hot item has millions of raters and the exact join is
    infeasible (the reference's dense O(U^2) matrix dies far earlier).
    Capping by the md5 rank of (other, entity) is the standard
    approximation: reproducible (no RNG), unbiased w.r.t. rating
    values, and it bounds pair fan-out to max_n^2 per item. The window
    partitions on the same key the pair join shuffles on, so the
    exchange is shared — the cap costs one md5 + sort, no extra
    shuffle. ``train_user_*`` themselves default to uncapped
    (``max_coraters=None``); the default-on policy lives in
    ``RecEngine._train``, which passes ``AUTO_CORATER_CAP`` for
    MATERIALIZED builds only — the lazy on-the-fly path stays uncapped
    so its user-WHERE pushdown is never blocked.
    """
    from pyspark.sql import Window

    from recdb_postgresql_spark.functions.hashing import md5_long

    # Split hot keys (> max_n raters) from the rest FIRST: the window
    # runs only over hot-key rows, so on data with no hot keys the
    # window leg is empty and predicates (e.g. the user-WHERE that
    # prunes the on-the-fly predict path) still push through the union
    # into the scans — a window over ALL rows would block that pushdown
    # (measured 2x on the user-CF top-k queries).
    hot = (ratings.groupBy(other).agg(F.count(F.lit(1)).alias("_n"))
           .where(F.col("_n") > max_n).select(other))
    cold = ratings.join(F.broadcast(hot), other, "left_anti")
    hot_rows = ratings.join(F.broadcast(hot), other, "left_semi")
    w = Window.partitionBy(other).orderBy(
        md5_long(F.concat_ws(":", F.col(other).cast("string"),
                             F.col(entity).cast("string"))), entity)
    capped = (hot_rows.withColumn("_rn", F.row_number().over(w))
              .where(F.col("_rn") <= max_n).drop("_rn"))
    return cold.unionByName(capped)


def train_user_cos(ratings: DataFrame,
                   max_coraters: int | None = None,
                   ratings_full: DataFrame | None = None) -> DataFrame:
    """(user1, user2, similarity) — item-cos transposed (recathon.c:1969-2157).

    ``ratings_full``: optional materialized copy of the SAME ratings
    data, consumed by the legs a downstream user-WHERE can never prune
    (the e2 pair side and the norms aggregate); the ``ratings`` frame
    stays on the e1 side so the predicate keeps pushing into its scan.
    Ignored when ``max_coraters`` is set (the capped frame must feed
    both sides identically)."""
    if max_coraters:
        ratings = cap_coraters(ratings, "user", "item", max_coraters)
        ratings_full = None
    rf = ratings_full if ratings_full is not None else ratings
    norms = rf.groupBy("user").agg(
        F.sqrt(F.sum(F.col("rating") * F.col("rating"))).alias("norm"))
    dots = (_pairwise(ratings, "user", "item", "rating", ratings_b=rf)
            .groupBy("e1", "e2")
            .agg(F.sum(F.col("v1") * F.col("v2")).alias("dot")))
    n1 = norms.select(F.col("user").alias("e1"), F.col("norm").alias("n1"))
    n2 = norms.select(F.col("user").alias("e2"), F.col("norm").alias("n2"))
    return (dots.join(n1, "e1").join(n2, "e2")
            # zero-norm guard, same as train_item_cos (found at the
            # x100 decade probe: cap_coraters left one user only their
            # rating-0.0 rows -> norm 0 -> ANSI DIVIDE_BY_ZERO)
            .where((F.col("n1") * F.col("n2")) != 0)
            .select(F.col("e1").alias("user1"), F.col("e2").alias("user2"),
                    (F.col("dot") / (F.col("n1") * F.col("n2"))).alias("similarity"))
            .where(F.col("similarity") > 0))


def train_user_pearson(ratings: DataFrame,
                       max_coraters: int | None = None,
                       ratings_full: DataFrame | None = None) -> DataFrame:
    """(user1, user2, similarity) — item-pearson transposed (recathon.c:2168-2358).

    ``ratings_full``: same contract as ``train_user_cos`` — a
    materialized copy feeding the unprunable legs (means, the e2
    centered side, the pearson norms) while the lazy ``ratings`` keeps
    the e1 side's user-WHERE pushdown."""
    if max_coraters:
        ratings = cap_coraters(ratings, "user", "item", max_coraters)
        ratings_full = None
    rf = ratings_full if ratings_full is not None else ratings
    means = rf.groupBy("user").agg(F.avg("rating").alias("mean"))
    centered = ratings.join(means, "user").select(
        "user", "item", (F.col("rating") - F.col("mean")).alias("c"))
    centered_full = rf.join(means, "user").select(
        "user", "item", (F.col("rating") - F.col("mean")).alias("c"))
    pearsons = centered_full.groupBy("user").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("p"))
    dots = (_pairwise(centered, "user", "item", "c", ratings_b=centered_full)
            .groupBy("e1", "e2")
            .agg(F.sum(F.col("v1") * F.col("v2")).alias("dot")))
    p1 = pearsons.select(F.col("user").alias("e1"), F.col("p").alias("p1"))
    p2 = pearsons.select(F.col("user").alias("e2"), F.col("p").alias("p2"))
    return (dots.join(p1, "e1").join(p2, "e2")
            .where((F.col("p1") * F.col("p2")) != 0)
            .select(F.col("e1").alias("user1"), F.col("e2").alias("user2"),
                    (F.col("dot") / (F.col("p1") * F.col("p2"))).alias("similarity"))
            .where(F.col("similarity") != 0))


# ----------------------------------------------------------------------
# Predictors
# ----------------------------------------------------------------------

def symmetrize(model: DataFrame, k1: str, k2: str) -> DataFrame:
    """The model stores the upper triangle (recathon.c:1469-1495);
    prediction needs both directions. A union of two projections, so a
    filter on ``a`` (the user-CF target) reaches each leg's pair build
    as a filter on one pair side."""
    up = model.select(F.col(k1).alias("a"), F.col(k2).alias("b"), "similarity")
    dn = model.select(F.col(k2).alias("a"), F.col(k1).alias("b"), "similarity")
    return up.unionByName(dn)


def predict_item_cf(model: DataFrame, ratings: DataFrame,
                    users: DataFrame | None, items: DataFrame) -> DataFrame:
    """score(u,i) = sum_j sim(i,j)*r(u,j) / sum_j |sim(i,j)| over the
    target user's rated items j (recathon.c:4235-4295). Pairs with no
    overlapping similarity score 0 (itemCFpredict returns 0 when
    totalSim == 0). ``users=None`` targets every user in ``ratings``.

    Plan shape: ONE groupBy (user, item) over the union of the
    users x items grid (zero-valued rows, flagged) and the
    rated x sym-model contributions sim*r and |sim|; only flagged
    groups are emitted, score = num/den, or 0 where den is 0. The grid
    and the contributions share that single shuffle instead of a
    contribution aggregate plus a grid join. `items` is tiny relative
    to events — broadcast. The model is read once: each stored pair is
    flipped into both directions by one explode, not by
    ``symmetrize``'s union of two reads (no user predicate can reach
    an item-keyed model, so the union would buy nothing here).
    """
    if users is None:
        rated, users = ratings, ratings.select("user").distinct()
    else:
        rated = users.withColumnRenamed("user", "u").join(
            ratings, F.col("u") == F.col("user")).select("user", "item", "rating")
    pair = F.explode(F.array(
        F.struct(F.col("item1").alias("a"), F.col("item2").alias("b")),
        F.struct(F.col("item2").alias("a"), F.col("item1").alias("b"))))
    sym = (model.select(pair.alias("p"), "similarity")
           .select("p.a", "p.b", "similarity"))
    contrib = rated.join(sym, rated["item"] == sym["b"]).select(
        "user", F.col("a").alias("item"),
        (F.col("similarity") * F.col("rating")).alias("num"),
        F.abs(F.col("similarity")).alias("den"),
        F.lit(False).alias("in_grid"))
    grid = users.crossJoin(F.broadcast(items)).select(
        "user", "item", F.lit(0.0).alias("num"), F.lit(0.0).alias("den"),
        F.lit(True).alias("in_grid"))
    return (grid.unionByName(contrib)
            .groupBy("user", "item")
            .agg(F.sum("num").alias("num"), F.sum("den").alias("den"),
                 F.max("in_grid").alias("in_grid"))
            .where(F.col("in_grid"))
            .select("user", "item",
                    F.when(F.col("den") != 0, F.col("num") / F.col("den"))
                    .otherwise(F.lit(0.0)).alias("score")))


def predict_user_cf(model: DataFrame, ratings: DataFrame, users: DataFrame,
                    items: DataFrame,
                    ratings_full: DataFrame | None = None) -> DataFrame:
    """score(u,i) = avg(u) + sum_v sim(u,v)*(r(v,i) - avg(u)) / sum_v |sim(u,v)|
    with avg(u) the TARGET user's mean (reference quirk, recathon.c:4349;
    average set at recathon.c:3973-3982). Users with no similar raters of
    an item score 0 for it (userCFpredict returns 0 when totalSim == 0).

    ``ratings_full``: optional materialized same-data copy for the
    neighbor-ratings leg, which is always consumed unfiltered (the
    neighbor set is every user); the target-user average stays on the
    lazy ``ratings`` so the user-WHERE keeps pruning its scan."""
    avgs = (users.join(ratings, "user")
            .groupBy("user").agg(F.avg("rating").alias("uavg")))
    sym = symmetrize(model, "user1", "user2")  # (a=target, b=neighbor)
    neigh = (ratings_full if ratings_full is not None else ratings).select(
        F.col("user").alias("b"), "item", F.col("rating").alias("nr"))
    contrib = (users.join(sym, users["user"] == sym["a"])
               .join(neigh, "b")
               .join(avgs, "user")
               .groupBy("user", "item", "uavg")
               .agg((F.sum(F.col("similarity") * (F.col("nr") - F.col("uavg")))
                     / F.sum(F.abs(F.col("similarity")))).alias("adj"))
               .select("user", "item", (F.col("uavg") + F.col("adj")).alias("score")))
    grid = users.crossJoin(F.broadcast(items))
    return (grid.join(contrib, ["user", "item"], "left")
            .select("user", "item", F.coalesce("score", F.lit(0.0)).alias("score")))


def item_cooccurrence(ratings: DataFrame, min_support: int = 2,
                      max_coraters: int | None = None) -> DataFrame:
    """(item1, item2, n_both, n1, n2, lift, pmi), item1 < item2:
    market-basket association statistics over the user x item
    interaction matrix — the classic "frequently bought together"
    counterpart to the similarity-based CF models.

    n_both = users who interacted with both items; lift =
    n_both * n_users / (n1 * n2) (ratio of observed co-occurrence to
    the independence expectation, > 1 means positively associated);
    pmi = ln(lift). ``min_support`` prunes the pair tail BEFORE the
    count joins.

    Scale shape mirrors ``train_item_cos``: the per-user self-join is
    quadratic in items-per-user, so ``max_coraters`` (the same
    md5-rank cap) bounds hot-user fan-out; the n_users total reduces
    to a one-row broadcast, never a window or a collected scalar."""
    from recdb_postgresql_spark.functions.mat import materialize

    if max_coraters:
        ratings = cap_coraters(ratings, "item", "user", max_coraters)
    # the distinct basket table feeds 5 legs (totals broadcast, the
    # two per-item count attaches, both pair-join sides); materialize
    # it once so the corpus distinct — a full shuffle at scale — runs
    # once, not per leg (r13 sweep; interleaved A/B at sf0.1: med
    # 1.54 -> 1.37 s, and the win is scale-bound like every shared
    # frame here. RECDB_MAT_STORAGE=none restores the lazy plan).
    baskets = materialize(ratings.select("user", "item").distinct())
    totals = baskets.agg(
        F.count_distinct(F.col("user")).cast("double").alias("n_users"))
    counts = baskets.groupBy("item").agg(F.count(F.lit(1)).alias("n"))
    a = baskets.select(F.col("item").alias("item1"), "user")
    b = baskets.select(F.col("item").alias("item2"), "user")
    pairs = (a.join(b, "user").where(F.col("item1") < F.col("item2"))
             .groupBy("item1", "item2")
             .agg(F.count(F.lit(1)).alias("n_both"))
             .where(F.col("n_both") >= min_support))
    c1 = counts.select(F.col("item").alias("item1"), F.col("n").alias("n1"))
    c2 = counts.select(F.col("item").alias("item2"), F.col("n").alias("n2"))
    lift = (F.col("n_both") * F.col("n_users")
            / (F.col("n1") * F.col("n2")))
    return (pairs.join(c1, "item1").join(c2, "item2")
            .crossJoin(F.broadcast(totals))
            .select("item1", "item2", "n_both", "n1", "n2",
                    F.round(lift, 6).alias("lift"),
                    F.round(F.log(lift), 6).alias("pmi")))


def negative_samples(ratings: DataFrame, k: int = 3,
                     oversample: int = 4) -> DataFrame:
    """(user, item, neg_rank<=k): deterministic negative sampling —
    for each user, k catalog items they have NOT interacted with,
    the training-pair generator every implicit-feedback loss (BPR,
    sampled softmax, ALS-implicit) needs. No RNG: candidate j for a
    user is the item whose dense index is md5(user:j) % n_items, so
    the sample is reproducible across runs/engines/partitionings.

    Scale shape: the user x catalog cross join never exists — each
    user generates oversample*k candidate rows (hash-indexed into the
    catalog), the rated anti-join removes positives, and a per-user
    window keeps the first k by j. The catalog index is one
    row_number over the ITEM table (catalog-sized, not corpus-sized);
    users with nearly-complete catalogs can exhaust oversample*k
    candidates and return fewer than k rows — raise ``oversample``
    for dense-interaction regimes."""
    from pyspark.sql import Window

    from recdb_postgresql_spark.functions.hashing import md5_long

    items = ratings.select("item").distinct()
    iw = Window.orderBy("item")
    idx = items.select("item", (F.row_number().over(iw) - 1).alias("idx"))
    n = items.agg(F.count(F.lit(1)).alias("n_items"))
    users = ratings.select("user").distinct()
    js = F.explode(F.sequence(F.lit(0), F.lit(oversample * k - 1))).alias("j")
    cand = (users.select("user", js).crossJoin(F.broadcast(n))
            .select("user", "j",
                    (md5_long(F.concat_ws(":", F.col("user").cast("string"),
                                          F.col("j").cast("string")))
                     % F.col("n_items")).alias("idx")))
    cand = (cand.join(F.broadcast(idx), "idx")
            .groupBy("user", "item").agg(F.min("j").alias("j")))
    rated = ratings.select("user", "item").distinct()
    fresh = cand.join(rated, ["user", "item"], "left_anti")
    w = Window.partitionBy("user").orderBy("j", "item")
    return (fresh.withColumn("neg_rank", F.row_number().over(w).cast("int"))
            .where(F.col("neg_rank") <= k)
            .select("user", "item", "neg_rank"))


def train_bias_baseline(ratings: DataFrame, damping: float = 5.0):
    """The classic damped-mean baseline predictor (Koren's b_ui):
    mu (global mean), item bias b_i = sum(r - mu) / (n_i + damping),
    user bias b_u = sum(r - mu - b_i) / (n_u + damping);
    predict(u, i) = mu + b_u + b_i. The model every factor method is
    benchmarked against — and the right cheap fallback between pure
    popularity and a full CF model (it personalizes LEVEL, not
    ranking). Returns (mu_df, item_bias_df, user_bias_df).

    Scale shape: one global aggregate (broadcast one-row mu), one
    item aggregate, one join + user aggregate — three shuffles total,
    all partial-aggregated map-side; no window, no collect. Fully
    SQL-expressible, so the whole model is oracle-checkable (unlike
    SVD/ALS)."""
    mu = ratings.agg(F.avg("rating").alias("mu"))
    with_mu = ratings.crossJoin(F.broadcast(mu))
    bi = (with_mu.groupBy("item")
          .agg((F.sum(F.col("rating") - F.col("mu"))
                / (F.count(F.lit(1)) + F.lit(float(damping))))
               .alias("b_i")))
    bu = (with_mu.join(bi, "item")
          .groupBy("user")
          .agg((F.sum(F.col("rating") - F.col("mu") - F.col("b_i"))
                / (F.count(F.lit(1)) + F.lit(float(damping))))
               .alias("b_u")))
    return mu, bi, bu


def bias_baseline_topk(ratings: DataFrame, users: DataFrame,
                       k: int = 10, damping: float = 5.0) -> DataFrame:
    """(user, item, score): top-k unrated items per user under the
    bias baseline. Because score = mu + b_u + b_i and b_u is constant
    within a user, every user's ranking is the SAME item-bias order —
    so the exact candidate set is the global top ``k + c`` items by
    b_i (c = max ratings per user, the popularity_topk bound): even
    the heaviest rater cannot exclude enough candidates to starve
    their top-k. Candidates broadcast; per-user work is one anti-join
    and a bounded window. Scores round to 6 before ranking (ties by
    ascending item) for engine portability."""
    from pyspark.sql import Window

    mu, bi, bu = train_bias_baseline(ratings, damping)
    c = (ratings.groupBy("user").agg(F.count(F.lit(1)).alias("n"))
         .agg(F.max("n")).collect()[0][0] or 0)
    # Cut by ROUNDED b_i (same round-6 + item-asc order as the final
    # ranking and the oracle) so the candidate set is a true prefix of
    # the serving order — an unrounded cut can exclude an item that
    # rounds into a tie with the boundary and wins the item tie-break
    # (ADVICE r7).
    cand = (bi.orderBy(F.desc(F.round(F.col("b_i"), 6)), F.col("item"))
            .limit(k + int(c)))
    grid = (users.join(bu, "user", "left")
            .crossJoin(F.broadcast(cand))
            .crossJoin(F.broadcast(mu)))
    unrated = grid.join(ratings.select("user", "item"),
                        ["user", "item"], "left_anti")
    score = F.round(F.col("mu") + F.coalesce(F.col("b_u"), F.lit(0.0))
                    + F.col("b_i"), 6)
    w = Window.partitionBy("user").orderBy(F.desc("score"),
                                           F.col("item"))
    return (unrated.withColumn("score", score)
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k)
            .select("user", "item", "score"))


def popularity_topk(ratings: DataFrame, users: DataFrame,
                    k: int = 10) -> DataFrame:
    """(user, item, n_raters): cold-start fallback recommender — rank
    items by how many users rated them (ties by ascending item id),
    excluding each target user's already-rated items. The capability
    the reference lacks for brand-new users (every RecDB method needs
    the target's own ratings; recathon.c's predictors all join on
    them); production recommenders back off to popularity.

    Exact at scale: the candidate set is the global top ``k + c``
    items where c = the maximum ratings-per-user (one scalar
    aggregate) — even the heaviest rater cannot exclude enough
    candidates to starve their top-k. Candidates BROADCAST against
    the user list; the only per-user work is the anti-join against
    their own ratings and a bounded window."""
    from pyspark.sql import Window

    pop = ratings.groupBy("item").agg(F.count(F.lit(1)).alias("n_raters"))
    c = (ratings.groupBy("user").agg(F.count(F.lit(1)).alias("n"))
         .agg(F.max("n")).collect()[0][0] or 0)
    cand = (pop.orderBy(F.desc("n_raters"), F.col("item"))
            .limit(k + int(c)))
    grid = users.crossJoin(F.broadcast(cand))
    unrated = grid.join(ratings.select("user", "item"),
                        ["user", "item"], "left_anti")
    w = Window.partitionBy("user").orderBy(F.desc("n_raters"),
                                           F.col("item"))
    return (unrated.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k).drop("_rn"))


def fpgrowth_rules(ratings: DataFrame, min_support: float = 0.05,
                   min_confidence: float = 0.3,
                   max_basket: int = 12,
                   min_count: int | None = None) -> DataFrame:
    """(antecedent, consequent, confidence, lift, support):
    association rules from MLlib's distributed FP-Growth over each
    user's item basket — the k-itemset generalization of
    ``item_cooccurrence``'s pairs ("users with {A, B} also take C").

    Baskets are distinct per-user item sets (one collect_set
    aggregate); PFP partitions the frequent-pattern tree by item
    suffix, so no executor materializes the global tree. The frequent
    itemsets above ``min_support`` are a deterministic SET for fixed
    data — only row order varies — and counts are exact, so the
    planted-basket pytest pins values while the driver records
    rows+schema (rows-only entry: the lattice walk is not
    SQL-expressible at arbitrary depth). Antecedents are sorted for
    deterministic array values.

    ``max_basket`` is the scale knob FP-Growth itself lacks a handle
    for: a user holding half the catalog contributes up to
    2^|basket| itemsets (measured: 2.9M rules on the dense synthetic
    baskets before the cap). Each basket keeps its ``max_basket``
    strongest items (by rating desc, item asc — deterministic), which
    bounds the per-user lattice at 2^max_basket and mirrors what a
    real market-basket pipeline does with power shoppers."""
    from pyspark.sql import Window

    from pyspark.ml.fpm import FPGrowth

    ranked = (ratings.groupBy("user", "item")
              .agg(F.max("rating").alias("r")))
    w = Window.partitionBy("user").orderBy(F.desc("r"), F.col("item"))
    capped = (ranked.withColumn("_rn", F.row_number().over(w))
              .where(F.col("_rn") <= max_basket))
    baskets = (capped.groupBy("user")
               .agg(F.collect_set("item").alias("items")))
    if min_count is not None:
        # the absolute-floor path needs a basket count anyway, and the
        # FPGrowth fit re-reads the baskets several times — materialize
        # the (user, items) table once instead of re-running the
        # ratings aggregate + window per pass (r12 audit)
        baskets = baskets.localCheckpoint(eager=True)
        # two-sided support bound: the ABSOLUTE floor (min_count)
        # protects small corpora — a fraction threshold alone melts
        # to count 1 there and the lattice explodes — while the
        # FRACTION (min_support) bounds big ones, where "seen 3
        # times among 150k baskets" is noise and the unpruned FP-tree
        # is the measured 14 s outlier. Effective support =
        # max(min_support, min_count/n).
        n_users = baskets.count()
        min_support = max(float(min_support),
                          float(min_count) / max(n_users, 1), 1e-9)
    model = FPGrowth(itemsCol="items", minSupport=min_support,
                     minConfidence=min_confidence).fit(baskets)
    rules = model.associationRules.select(
        F.sort_array("antecedent").alias("antecedent"),
        F.col("consequent")[0].alias("consequent"),
        F.round("confidence", 6).alias("confidence"),
        F.round("lift", 6).alias("lift"),
        F.round("support", 6).alias("support"))
    return rules


def wilson_topk(ratings: DataFrame, positive_threshold: float = 50.0,
                k: int = 20, z: float = 1.96) -> DataFrame:
    """(item, n, n_pos, pos_rate, wilson_lb): items ranked by the
    Wilson score interval's LOWER bound on the positive-rating
    proportion — the classic fix for "sort by average rating"
    (a 1-of-1 five-star item must not outrank 95-of-100): small
    samples get pulled toward zero by their own uncertainty.

    One groupBy for (n, positives); the Wilson arithmetic is map-side
    over the reduced item rows. Ranking uses the ROUNDED bound with
    an item tiebreak, so the top-k boundary is deterministic and
    engine-portable; TakeOrderedAndProject, never a full sort."""
    agg = (ratings.groupBy("item")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.when(F.col("rating") >= positive_threshold, 1)
                      .otherwise(0)).alias("n_pos")))
    n = F.col("n").cast("double")
    p = F.col("n_pos") / n
    z2 = z * z
    lb = ((p + z2 / (2 * n)
           - z * F.sqrt((p * (1 - p) + z2 / (4 * n)) / n))
          / (1 + z2 / n))
    return (agg.select("item", "n", "n_pos",
                       F.round(p, 6).alias("pos_rate"),
                       F.round(lb, 6).alias("wilson_lb"))
            .orderBy(F.desc("wilson_lb"), "item").limit(k))


def covisitation(ratings_ts: DataFrame, window_ns: int = 3600 * 10 ** 9,
                 k: int = 5, user_col: str = "userid",
                 item_col: str = "itemid",
                 ts_col: str = "ratingts",
                 max_user_events: int = 2 ** 11,
                 eager_guard: bool = False) -> DataFrame:
    """(itemid, next_item, n, rank): the directional co-visitation
    matrix — for each item, the top-``k`` items the SAME user touched
    within ``window_ns`` AFTER it (count-ranked) — the
    session-locality "viewed next" recommender that the symmetric
    co-occurrence/PMI matrix here can't express (it ignores order and
    time). Serving is one broadcast-index lookup; the matrix rebuilds
    incrementally per day and counts merge additively.

    Work shape: the pair join is keyed on the USER with a time-window
    predicate — per-user cost is bounded by events-per-user x
    window density, never corpus²; counts collapse to an items²-
    bounded matrix (and far sparser in practice). Ties rank by
    (n DESC, next_item) so the cut is deterministic.

    Guarded like ``theil_sen_grouped``: ONE power user x a wide
    window is a single activity²-shaped join task AQE cannot split
    (the pair output is byte-proportional per user key). The guard
    rides the pair join itself — the per-user count is aggregated on
    the SAME user key the pairs shuffle on and raised via an
    assertion predicate, so no extra eager scan is paid and the plan
    stays fully lazy (changed in r11; the r10 form ran a separate
    collect() pre-count per call). The error therefore surfaces at
    ACTION time as a Spark ``USER_RAISED_EXCEPTION``, not a driver
    ValueError. Caveat (ADVICE r11): because the lazy guard is an
    ordinary filter predicate, Catalyst may evaluate OTHER composed
    pushed-down predicates below it — a downstream user/item filter
    can prune a fat user's rows before the assertion ever evaluates,
    so the lazy form is best-effort on composed plans. For untrusted
    ingest pass ``eager_guard=True``: one extra aggregate + collect
    of the offending keys BEFORE the pair join is planned, raising a
    driver-side ValueError that no plan rewrite can elide (the r10
    semantics, now opt-in). ``max_user_events=None`` skips the guard
    entirely.
    Default 2^11 -> <=2^22 pairs for the fattest key, the same budget
    the regression guards enforce; cap or tail-sample that user's
    event stream upstream — a 2k-event window already spans weeks of
    any human session history, so the cap is a bot/crawler filter,
    not a data loss."""
    from pyspark.sql import Window

    a = ratings_ts.select(F.col(user_col).alias("u"),
                          F.col(item_col).alias("i1"),
                          F.col(ts_col).alias("t1"))
    b = ratings_ts.select(F.col(user_col).alias("u"),
                          F.col(item_col).alias("i2"),
                          F.col(ts_col).alias("t2"))
    if max_user_events is not None and eager_guard:
        fat = (ratings_ts.groupBy(F.col(user_col).alias("u"))
               .agg(F.count(F.lit(1)).alias("_n"))
               .where(F.col("_n") > max_user_events)
               .orderBy(F.col("_n").desc()).limit(5).collect())
        if fat:
            raise ValueError(
                "covisitation pairs are quadratic PER USER and "
                f"{len(fat)}+ users exceed max_user_events="
                f"{max_user_events}: "
                + ", ".join(f"user {r['u']}={r['_n']}" for r in fat)
                + " — cap or tail-sample their events upstream "
                  "(bot filter)")
    elif max_user_events is not None:
        ucnt = (ratings_ts.groupBy(F.col(user_col).alias("u"))
                .agg(F.count(F.lit(1)).alias("_n")))
        guard = (F.when(F.col("_n") <= F.lit(max_user_events), F.lit(True))
                 .otherwise(F.raise_error(F.concat(
                     F.lit("covisitation pairs are quadratic PER USER "
                           "and user "),
                     F.col("u").cast("string"), F.lit(" has "),
                     F.col("_n").cast("string"),
                     F.lit(f" events (> {max_user_events}): cap or "
                           "tail-sample that user's events upstream "
                           "(bot filter)"))).cast("boolean")))
        a = a.join(ucnt, "u").where(guard).drop("_n")
    pairs = (a.join(b, "u")
             .where((F.col("i1") != F.col("i2"))
                    & (F.col("t2") > F.col("t1"))
                    & (F.col("t2") - F.col("t1") <= window_ns)))
    cnt = (pairs.groupBy(F.col("i1").alias("itemid"),
                         F.col("i2").alias("next_item"))
           .agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("itemid").orderBy(F.col("n").desc(),
                                             "next_item")
    return (cnt.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .orderBy("itemid", "rank"))
