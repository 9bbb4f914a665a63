"""Seeded input generator: ratings, the ``part`` dimension, and the
statement/insert stream of each workload.

Everything here is a pure function of ``(workload, seed)``; the
program under test only ever sees the SQL text and the DataFrames
built from these tables.
"""

from __future__ import annotations

from dataclasses import dataclass
from itertools import count
from typing import Iterator, Optional

import numpy as np
import pandas as pd

# Shape of the sf0.1 ``events`` table (100,000 events, 1,500 users,
# 100 items), as measured on it: every event draws its user and its
# item uniformly and independently (per-user event counts have
# variance/mean 1.01; the most and least rated items differ by 1.2x),
# so 27% of events repeat an earlier (user, item) pair, and the value
# is exponential with mean 50, rounded to cents. The stand-in keeps
# that shape, i.e. the same 66.7 events per user, at 600 users.
N_USERS = 600
N_ITEMS = 100
EVENTS_PER_1500_USERS = 100_000
N_EVENTS = N_USERS * EVENTS_PER_1500_USERS // 1_500
# serve_on_the_fly trains a model in every statement: at 300 users a
# user-CF statement takes about as long as an item-CF one (~1.2 s once
# warm) instead of twice as long, so a run measures more statements
USERS = {"serve_on_the_fly": 300, "ingest_mixed": N_USERS}
VALUE_MEAN = 50.0
# sf0.1 ``part`` names are one of 8 adjectives and one of 8 nouns,
# uniform, so ``p_name LIKE '%word%'`` keeps about 1/8 of the items
ADJECTIVES = ("red", "small", "hot", "cold", "old", "new", "large", "blue")
NOUNS = ("gear", "gizmo", "widget", "ring", "plate", "anvil", "bolt", "rod")
# No source for these: the events table carries no batch boundaries,
# and every one of its users is active from its first day.
INSERT_ROWS = 100               # rows per INSERT batch (ingest_mixed)
NEW_USERS_PER_INSERT = 3        # brand-new users in each batch ...
NEW_USER_ROWS = 30              # ... sharing this many of its rows
READER_ZIPF = 1.1               # ingest_mixed reader skew over users
TOP_K = 10

# Operation cycles. Statement shapes are the reference regression
# suite's: mostly single-user top-k, some IN-list with an item filter,
# some dimension JOIN with LIKE. A fixed cycle keeps the mix identical
# across seeds and runs.
ON_THE_FLY_CYCLE = (
    ("single", "ItemCosCF"), ("single", "UserCosCF"), ("in", "ItemCosCF"),
    ("single", "ItemPearCF"), ("join", "ItemCosCF"), ("single", "UserPearCF"),
    ("in", "UserCosCF"))
# ingest_mixed: one INSERT batch per four reads over the two
# materialized recommenders (SVD single-user reads route to its
# RecView; the rest score the stored models). The threshold retrains
# on every second batch, so with two batches per cycle the retrain
# always falls on the cycle's second INSERT.
INSERT = ("insert", None)
INGEST_CYCLE = (
    INSERT, ("single", "ItemCosCF"), ("single", "SVD"),
    ("in", "ItemCosCF"), ("single", "ItemCosCF"),
    INSERT, ("single", "ItemCosCF"), ("single", "SVD"),
    ("join", "ItemCosCF"), ("in", "SVD"))
CYCLES = {"serve_on_the_fly": ON_THE_FLY_CYCLE, "ingest_mixed": INGEST_CYCLE}


@dataclass(frozen=True)
class Statement:
    """One RECOMMEND statement plus the predicate it encodes, so the
    checker can derive the expected answer from a score grid."""
    sql: str
    method: str
    shape: str                      # single | in | join
    users: tuple
    item_lt: Optional[int] = None
    like: Optional[str] = None
    limit: int = TOP_K


@dataclass(frozen=True)
class Insert:
    """One INSERT batch of (userid, itemid, ratingval) rows."""
    rows: pd.DataFrame


def _rng(seed: int, purpose: str) -> np.random.Generator:
    salt = sum(ord(c) * 131 ** i for i, c in enumerate(purpose)) % (2 ** 32)
    return np.random.default_rng([seed, salt])


def _values(rng: np.random.Generator, n: int) -> np.ndarray:
    return np.round(rng.exponential(VALUE_MEAN, size=n), 2)


def ratings(seed: int, n_users: int = N_USERS) -> pd.DataFrame:
    """(userid, itemid, ratingval) events in the sf0.1 shape: user
    (1..n_users) and item drawn uniformly per event, exponential
    values. A repeated (user, item) pair is averaged by the engine and
    by the oracles alike."""
    rng = _rng(seed, "ratings")
    n_events = n_users * EVENTS_PER_1500_USERS // 1_500
    return pd.DataFrame({
        "userid": rng.integers(1, n_users + 1, size=n_events).astype("int32"),
        "itemid": rng.integers(0, N_ITEMS, size=n_events).astype("int32"),
        "ratingval": _values(rng, n_events)})


def part(seed: int) -> pd.DataFrame:
    """``part`` dimension keyed by item id, named like sf0.1's: one
    seeded adjective and noun per item."""
    rng = _rng(seed, "part")
    names = [f"{rng.choice(ADJECTIVES)} {rng.choice(NOUNS)}"
             for _ in range(N_ITEMS)]
    return pd.DataFrame({"p_partkey": np.arange(N_ITEMS, dtype="int32"),
                         "p_name": names})


def _zipf_users(rng: np.random.Generator,
                n_users: int) -> tuple[np.ndarray, np.ndarray]:
    order = rng.permutation(n_users) + 1
    p = 1.0 / np.arange(1, n_users + 1) ** READER_ZIPF
    return order, p / p.sum()


def _statement(rng, method: str, shape: str, pick_user) -> Statement:
    src = ("SELECT * FROM ml_ratings RECOMMEND itemid TO userid "
           f"ON ratingval USING {method}")
    if shape == "single":
        u = pick_user()
        return Statement(f"{src} WHERE userid = {u} "
                         f"ORDER BY ratingval DESC LIMIT {TOP_K}",
                         method, shape, (u,))
    if shape == "in":
        users = []
        while len(users) < 5:
            u = pick_user()
            if u not in users:
                users.append(u)
        lt = int(rng.integers(N_ITEMS // 4, N_ITEMS))
        return Statement(f"{src} WHERE userid IN ({','.join(map(str, users))}) "
                         f"AND itemid < {lt} ORDER BY ratingval DESC "
                         f"LIMIT {TOP_K}", method, shape, tuple(users),
                         item_lt=lt)
    u = pick_user()
    word = str(rng.choice(ADJECTIVES + NOUNS))
    return Statement(
        "SELECT r.userid, r.itemid, r.ratingval, p.p_name FROM ml_ratings r "
        "JOIN part p ON r.itemid = p.p_partkey "
        f"RECOMMEND r.itemid TO r.userid ON r.ratingval USING {method} "
        f"WHERE r.userid = {u} AND p.p_name LIKE '%{word}%' "
        f"ORDER BY r.ratingval DESC LIMIT {TOP_K}",
        method, shape, (u,), like=word)


def _insert(rng, n_users: int, first_new_user: int) -> Insert:
    """INSERT_ROWS events over the existing item set, drawn like the
    table's: NEW_USER_ROWS from NEW_USERS_PER_INSERT brand-new users,
    the rest from the n_users existing ones."""
    users = np.concatenate([
        rng.integers(1, n_users + 1, size=INSERT_ROWS - NEW_USER_ROWS),
        first_new_user + np.arange(NEW_USER_ROWS) % NEW_USERS_PER_INSERT,
    ]).astype("int32")
    return Insert(pd.DataFrame({
        "userid": users,
        "itemid": rng.integers(0, N_ITEMS, size=INSERT_ROWS).astype("int32"),
        "ratingval": _values(rng, INSERT_ROWS)}))


def stream(workload: str, seed: int) -> Iterator:
    """Endless op stream for a workload: Statement and Insert objects.
    The shape/method cycle is fixed, so every run sees the same mix;
    the seed picks users, filters and inserted rows. ingest_mixed draws
    its readers Zipf-skewed, serve_on_the_fly uniformly."""
    if workload not in CYCLES:
        raise ValueError(f"unknown workload {workload!r}")
    rng = _rng(seed, "stream:" + workload)
    n_users = USERS[workload]
    if workload == "ingest_mixed":
        order, p = _zipf_users(rng, n_users)
        pick = lambda: int(rng.choice(order, p=p))          # noqa: E731
    else:
        pick = lambda: int(rng.integers(1, n_users + 1))    # noqa: E731
    next_user = n_users + 1
    cycle = CYCLES[workload]
    for n in count():
        shape, method = cycle[n % len(cycle)]
        if shape == "insert":
            yield _insert(rng, n_users, next_user)
            next_user += NEW_USERS_PER_INSERT
        else:
            yield _statement(rng, method, shape, pick)
