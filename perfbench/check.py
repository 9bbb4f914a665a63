"""Answer checks.

Each RECOMMEND answer is compared with a score grid for the users the
statement names: (user, item) -> predicted score over every item.

- Item-CF and user-CF grids come from the DuckDB oracles that
  ``__spark_entry__`` already ships (``RATINGS_CTE`` via the
  ``*_MODEL_CTES`` fragments, ``_item_predict_sql``,
  ``_user_predict_sql``), run over exactly the events the program saw.
- SVD is trained by SGD, so there is no independent oracle: its grid
  is ``RecEngine.recommend(name=...)`` over the same stored model.

The expected answer is the statement's predicate applied to the grid,
sorted by score, cut at the LIMIT. Ties at the cut may legally come
back in any order, so rows are matched by score sequence, and each row
must carry its own grid score.
"""

from __future__ import annotations

import math
from typing import Iterable, Optional

import duckdb

import __spark_entry__ as spark_entry
from gen import Statement

TOL = 1e-5        # the oracles round to 6 dp; Spark returns raw doubles

_ORACLE = {
    "itemcoscf": lambda pred: spark_entry._item_predict_sql(
        spark_entry.ITEMCOS_MODEL_CTES, pred, ""),
    "itempearcf": lambda pred: spark_entry._item_predict_sql(
        spark_entry.ITEMPEAR_MODEL_CTES, pred, ""),
    "usercoscf": lambda pred: spark_entry._user_predict_sql("cos", pred, ""),
    "userpearcf": lambda pred: spark_entry._user_predict_sql("pear", pred, ""),
}


def oracle_grid(parquet_files: list[str], method: str,
                users: Iterable[int]) -> dict:
    """DuckDB oracle scores for ``users`` over the ratings stored in
    ``parquet_files``, which hold (userid, itemid, ratingval) rows. The
    oracles read the raw ``events`` table shape (user_id, JSON
    props with the item under ``k``, value), so the ratings are
    presented in that shape."""
    users = sorted(set(users))
    if not users:
        return {}
    con = duckdb.connect()
    try:
        files = ", ".join("'" + f.replace("'", "''") + "'" for f in parquet_files)
        con.execute(
            "CREATE VIEW events AS SELECT userid AS user_id, "
            "json_object('k', itemid) AS props, ratingval AS value "
            f"FROM read_parquet([{files}])")
        sql = _ORACLE[method.lower()](f"userid IN ({','.join(map(str, users))})")
        return {(int(u), int(i)): float(s)
                for u, i, s in con.execute(sql).fetchall()}
    finally:
        con.close()


def expected(stmt: Statement, grid: dict, part_names: dict) -> list[float]:
    """Score sequence of the correct answer (descending)."""
    users = set(stmt.users)
    keep = [s for (u, i), s in grid.items()
            if u in users and _item_ok(stmt, i, part_names)]
    return sorted(keep, reverse=True)[:stmt.limit]


def _item_ok(stmt: Statement, item: int, part_names: dict) -> bool:
    if stmt.item_lt is not None and not item < stmt.item_lt:
        return False
    if stmt.like is not None and stmt.like not in part_names.get(item, ""):
        return False
    return True


def compare(stmt: Statement, rows: list[tuple], grid: dict,
            part_names: dict) -> Optional[str]:
    """None when ``rows`` (userid, itemid, ratingval[, p_name]) is a
    correct answer to ``stmt`` under ``grid``; else the reason."""
    users = set(stmt.users)
    broken = sorted(k for k, v in grid.items() if k[0] in users
                    and not math.isfinite(v))
    if broken:
        return f"reference score for {broken[0]} is not finite"
    seen = set()
    for row in rows:
        u, i, s = int(row[0]), int(row[1]), row[2]
        if s is None or not math.isfinite(s):
            return f"non-finite score {s!r} for ({u}, {i})"
        if u not in users:
            return f"user {u} not in {sorted(users)}"
        if not _item_ok(stmt, i, part_names):
            return f"item {i} violates the statement's item predicate"
        if stmt.like is not None and row[3] != part_names.get(i):
            return f"p_name {row[3]!r} is not item {i}'s"
        if (u, i) in seen:
            return f"duplicate row ({u}, {i})"
        seen.add((u, i))
        want = grid.get((u, i))
        if want is None:
            return f"({u}, {i}) has no score in the reference grid"
        if abs(s - want) > TOL:
            return f"({u}, {i}) scored {s:.6f}, reference {want:.6f}"
    got = [r[2] for r in rows]
    if got != sorted(got, reverse=True):
        return "rows are not ordered by score descending"
    exp = expected(stmt, grid, part_names)
    if len(got) != len(exp):
        return f"{len(got)} rows, expected {len(exp)}"
    for k, (a, b) in enumerate(zip(got, exp)):
        if abs(a - b) > TOL:
            return f"rank {k + 1} scored {a:.6f}, expected {b:.6f}"
    return None


def well_formed(stmt: Statement, rows: list[tuple], part_names: dict) -> Optional[str]:
    """Checks for answers no reference grid exists for (ingest_mixed
    reads whose stored model predates the newest INSERT): the right
    row count (every item is scored for every user), rows satisfying
    the statement's predicate, finite scores in descending order."""
    n_items = sum(1 for i in part_names if _item_ok(stmt, i, part_names))
    want = min(stmt.limit, n_items * len(stmt.users))
    if len(rows) != want:
        return f"{len(rows)} rows, expected {want}"
    seen = set()
    for row in rows:
        u, i, s = int(row[0]), int(row[1]), row[2]
        if s is None or not math.isfinite(s):
            return f"non-finite score {s!r} for ({u}, {i})"
        if u not in stmt.users or not _item_ok(stmt, i, part_names):
            return f"row ({u}, {i}) violates the statement's predicate"
        if (u, i) in seen:
            return f"duplicate row ({u}, {i})"
        seen.add((u, i))
    scores = [r[2] for r in rows]
    if scores != sorted(scores, reverse=True):
        return "rows are not ordered by score descending"
    return None
