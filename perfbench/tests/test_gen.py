"""The generator is a pure function of (workload, seed)."""

from itertools import islice

import pandas as pd
import pytest

import gen


def _ops(workload, seed, n=40):
    out = []
    for op in islice(gen.stream(workload, seed), n):
        out.append(op.sql if isinstance(op, gen.Statement)
                   else op.rows.to_csv(index=False))
    return out


@pytest.mark.parametrize("workload", sorted(gen.CYCLES))
def test_same_seed_same_stream(workload):
    assert _ops(workload, 7) == _ops(workload, 7)


@pytest.mark.parametrize("workload", sorted(gen.CYCLES))
def test_other_seed_other_stream(workload):
    assert _ops(workload, 7) != _ops(workload, 8)


def test_tables_follow_the_seed():
    pd.testing.assert_frame_equal(gen.ratings(3), gen.ratings(3))
    pd.testing.assert_frame_equal(gen.part(3), gen.part(3))
    assert not gen.ratings(3).equals(gen.ratings(4))
    assert not gen.part(3).equals(gen.part(4))


def test_ratings_shape():
    """The sf0.1 events shape: ~67 events per user, uniform items,
    about a quarter of the (user, item) pairs repeated, exponential
    values in cents with mean ~50."""
    r = gen.ratings(1)
    assert len(r) == gen.N_EVENTS == 40_000
    assert set(r.userid) == set(range(1, gen.N_USERS + 1))
    assert set(r.itemid) == set(range(gen.N_ITEMS))
    per_item = r.itemid.value_counts()
    assert per_item.max() / per_item.min() < 1.5
    assert 0.2 < r.duplicated(["userid", "itemid"]).mean() < 0.35
    assert (r.ratingval >= 0).all()
    assert ((r.ratingval * 100 - (r.ratingval * 100).round()).abs() < 1e-6).all()
    assert 47 < r.ratingval.mean() < 53


def test_ratings_scale_with_users():
    """serve_on_the_fly's table has fewer users at the same events per
    user; the seed still decides it."""
    r = gen.ratings(1, gen.USERS["serve_on_the_fly"])
    assert len(r) == 20_000
    assert set(r.userid) == set(range(1, gen.USERS["serve_on_the_fly"] + 1))
    assert not r.equals(gen.ratings(2, gen.USERS["serve_on_the_fly"]))


def test_readers_stay_within_the_table():
    for workload, n_users in gen.USERS.items():
        stmts = [o for o in islice(gen.stream(workload, 3), 60)
                 if isinstance(o, gen.Statement)]
        assert all(1 <= u <= n_users for s in stmts for u in s.users)


def test_cycle_mix_is_fixed():
    """Only users, filters and rows depend on the seed; the sequence of
    shapes and methods does not."""
    for workload, cycle in gen.CYCLES.items():
        for seed in (1, 2):
            ops = list(islice(gen.stream(workload, seed), 2 * len(cycle)))
            kinds = [("insert", None) if isinstance(o, gen.Insert)
                     else (o.shape, o.method) for o in ops]
            assert kinds == list(cycle) * 2


def test_retrain_lands_on_one_cycle_position():
    """With a retrain every second batch, the cycle holds an even number
    of INSERTs, so each retrain falls on the same cycle position."""
    import workloads
    cut = workloads.UPDATE_THRESHOLD * gen.N_EVENTS
    assert gen.INSERT_ROWS < cut <= 2 * gen.INSERT_ROWS
    assert sum(1 for op in gen.INGEST_CYCLE if op == gen.INSERT) % 2 == 0


def test_insert_batches():
    inserts = [o for o in islice(gen.stream("ingest_mixed", 5), 30)
               if isinstance(o, gen.Insert)]
    assert inserts and all(len(i.rows) == gen.INSERT_ROWS for i in inserts)
    new_users = [set(i.rows.userid[i.rows.userid > gen.N_USERS]) for i in inserts]
    assert all(len(u) == gen.NEW_USERS_PER_INSERT for u in new_users)
    assert not set.intersection(*new_users)
