"""The answer checker accepts a correct answer and rejects wrong ones,
against the DuckDB oracles ``__spark_entry__`` ships."""

import pandas as pd
import pytest

import check
import gen


@pytest.fixture(scope="module")
def data(tmp_path_factory):
    path = tmp_path_factory.mktemp("ratings") / "r.parquet"
    gen.ratings(11).to_parquet(path, index=False)
    part = gen.part(11)
    return str(path), dict(zip(part.p_partkey.tolist(), part.p_name.tolist()))


def _answer(stmt, grid, part_names):
    """The correct answer, built independently of check.expected."""
    rows = [(u, i, s, part_names[i]) for (u, i), s in grid.items()
            if u in stmt.users
            and (stmt.item_lt is None or i < stmt.item_lt)
            and (stmt.like is None or stmt.like in part_names[i])]
    rows.sort(key=lambda r: (-r[2], r[0], r[1]))
    return rows[:stmt.limit]


def _stmt(shape, method="ItemCosCF", users=(3,), item_lt=None, like=None):
    return gen.Statement("", method, shape, users, item_lt=item_lt, like=like)


STMTS = [_stmt("single"), _stmt("in", users=(3, 9, 27, 81, 243), item_lt=60),
         _stmt("join", like="old"), _stmt("single", method="UserPearCF")]


@pytest.mark.parametrize("stmt", STMTS, ids=lambda s: f"{s.method}-{s.shape}")
def test_correct_answer_passes(data, stmt):
    path, names = data
    grid = check.oracle_grid([path], stmt.method, stmt.users)
    assert len(grid) == len(stmt.users) * gen.N_ITEMS
    rows = _answer(stmt, grid, names)
    assert len(rows) == stmt.limit
    assert check.compare(stmt, rows, grid, names) is None
    assert check.well_formed(stmt, rows, names) is None


def _wrong_answers(rows, names):
    top = rows[0]
    other = next(i for i in names if i not in {r[1] for r in rows})
    yield "score off", [(top[0], top[1], top[2] + 1e-3, top[3])] + rows[1:]
    yield "row dropped", rows[:-1]
    yield "row swapped", rows[:-1] + [(top[0], other, rows[-1][2], names[other])]
    yield "order", rows[::-1]
    yield "duplicate", rows[:-1] + [rows[0]]
    yield "nan", [(top[0], top[1], float("nan"), top[3])] + rows[1:]


@pytest.mark.parametrize("stmt", STMTS, ids=lambda s: f"{s.method}-{s.shape}")
def test_wrong_answers_fail(data, stmt):
    path, names = data
    grid = check.oracle_grid([path], stmt.method, stmt.users)
    rows = _answer(stmt, grid, names)
    for label, bad in _wrong_answers(rows, names):
        assert check.compare(stmt, bad, grid, names) is not None, label


def test_non_finite_reference_fails(data):
    """A reference score that is not finite (a diverged SVD model) fails
    every answer for that user, even one whose rows avoid the item."""
    path, names = data
    stmt = _stmt("single")
    grid = check.oracle_grid([path], stmt.method, stmt.users)
    rows = _answer(stmt, grid, names)
    last = min(grid, key=grid.get)
    assert last not in {(r[0], r[1]) for r in rows}
    assert check.compare(stmt, rows, {**grid, last: float("nan")},
                         names) is not None


def test_oracle_follows_the_events(data, tmp_path):
    """A grid computed over other events rejects the answer: the
    oracle really reads the files it is given."""
    path, names = data
    stmt = _stmt("single")
    rows = _answer(stmt, check.oracle_grid([path], stmt.method, stmt.users), names)
    more = gen.ratings(11)
    more["ratingval"] = more["ratingval"].max() - more["ratingval"]
    other = tmp_path / "other.parquet"
    more.to_parquet(other, index=False)
    grid = check.oracle_grid([str(other)], stmt.method, stmt.users)
    assert check.compare(stmt, rows, grid, names) is not None


def test_well_formed_rejects_predicate_violations(data):
    _, names = data
    stmt = _stmt("in", users=(1, 2, 3, 4, 5), item_lt=30)
    rows = [(1, i, 1.0 - i / 100, names[i]) for i in range(10)]
    assert check.well_formed(stmt, rows, names) is None
    assert check.well_formed(stmt, rows[:-1] + [(1, 45, 0.0, names[45])],
                             names) is not None
    assert check.well_formed(stmt, rows[:-1] + [(6, 9, 0.0, names[9])],
                             names) is not None
    assert check.well_formed(stmt, rows[:-1], names) is not None
