"""Independent DuckDB evaluation of the CF oracle formulas.

The formulas are the ones ``FIXTURES.md`` gives for ItemCosCF and
UserCosCF: a cosine model trained over ``model_ev`` (the events the
model was built from) and scores predicted from ``cur_ev`` (the events
table at query time). For a freshly created recommender the two are
the same table; after appends below the retrain threshold the model is
older than the events. This module shares no code with the program.
"""

from __future__ import annotations

import math
from typing import Optional

import duckdb
import pandas as pd

TOL = 1e-6

_ITEM_COS = """
WITH mr AS (SELECT userid u, itemid i, avg(ratingval) x
            FROM model_ev GROUP BY ALL),
nrm AS (SELECT i, sqrt(sum(x * x)) n FROM mr GROUP BY i),
dots AS (SELECT a.i e1, b.i e2, sum(a.x * b.x) d
         FROM mr a JOIN mr b ON a.u = b.u AND a.i < b.i GROUP BY ALL),
sim AS (SELECT e1, e2, d / (n1.n * n2.n) s
        FROM dots JOIN nrm n1 ON n1.i = e1 JOIN nrm n2 ON n2.i = e2
        WHERE n1.n * n2.n <> 0),
sym AS (SELECT e1 a, e2 b, s FROM sim WHERE s > 0
        UNION ALL SELECT e2, e1, s FROM sim WHERE s > 0),
cr AS (SELECT userid u, itemid i, avg(ratingval) r FROM cur_ev GROUP BY ALL),
tu AS (SELECT DISTINCT u FROM cr JOIN targets USING (u)),
contrib AS (SELECT cr.u, sym.a i, sum(s * r) / sum(abs(s)) score
            FROM cr JOIN tu USING (u) JOIN sym ON cr.i = sym.b GROUP BY ALL),
items AS (SELECT DISTINCT i FROM cr)
SELECT tu.u userid, items.i itemid, coalesce(contrib.score, 0.0) score
FROM tu CROSS JOIN items
LEFT JOIN contrib ON contrib.u = tu.u AND contrib.i = items.i
"""

_USER_COS = """
WITH mr AS (SELECT userid u, itemid i, avg(ratingval) x
            FROM model_ev GROUP BY ALL),
nrm AS (SELECT u, sqrt(sum(x * x)) n FROM mr GROUP BY u),
dots AS (SELECT a.u t, b.u v, sum(a.x * b.x) d
         FROM mr a JOIN mr b ON a.i = b.i AND a.u <> b.u
         WHERE a.u IN (SELECT u FROM targets) GROUP BY ALL),
sym AS (SELECT t, v, d / (n1.n * n2.n) s
        FROM dots JOIN nrm n1 ON n1.u = t JOIN nrm n2 ON n2.u = v
        WHERE n1.n * n2.n <> 0 AND d / (n1.n * n2.n) > 0),
cr AS (SELECT userid u, itemid i, avg(ratingval) r FROM cur_ev GROUP BY ALL),
tu AS (SELECT DISTINCT u FROM cr JOIN targets USING (u)),
avgs AS (SELECT u, avg(r) uavg FROM cr JOIN tu USING (u) GROUP BY u),
contrib AS (SELECT sym.t u, cr.i, avgs.uavg
                   + sum(s * (cr.r - avgs.uavg)) / sum(abs(s)) score
            FROM sym JOIN tu ON tu.u = sym.t JOIN cr ON cr.u = sym.v
            JOIN avgs ON avgs.u = sym.t GROUP BY sym.t, cr.i, avgs.uavg),
items AS (SELECT DISTINCT i FROM cr)
SELECT tu.u userid, items.i itemid, coalesce(contrib.score, 0.0) score
FROM tu CROSS JOIN items
LEFT JOIN contrib ON contrib.u = tu.u AND contrib.i = items.i
"""

ORACLES = {"itemcoscf": _ITEM_COS, "usercoscf": _USER_COS}


def scores(model_ev: pd.DataFrame, cur_ev: pd.DataFrame, method: str,
           users: list[int]) -> dict[tuple[int, int], float]:
    """(user, item) -> predicted score for every target user that has
    events in ``cur_ev``, over every item of ``cur_ev``."""
    con = duckdb.connect()
    try:
        con.register("model_ev", model_ev)
        con.register("cur_ev", cur_ev)
        con.register("targets", pd.DataFrame({"u": users}, dtype="int64"))
        rows = con.execute(ORACLES[method]).fetchall()
    finally:
        con.close()
    return {(int(u), int(i)): float(s) for u, i, s in rows}


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=TOL, abs_tol=TOL)


def compare(rows: list[tuple], expected: dict[tuple[int, int], float], *,
            k: Optional[int] = None, item_lt: Optional[int] = None,
            min_score: Optional[float] = None) -> Optional[str]:
    """None when ``rows`` (user, item, score) is a correct answer given
    the expected full-grid scores, else a one-line reason.

    ``item_lt`` / ``min_score`` restrict the expected grid the way the
    statement's residual WHERE does (a row within TOL of ``min_score``
    may be on either side). ``k`` makes it a top-k answer: any tie
    order at the cut is accepted, because ``ORDER BY score LIMIT k``
    does not fix one."""
    want = {key: s for key, s in expected.items()
            if item_lt is None or key[1] < item_lt}
    optional = set()
    if min_score is not None:
        optional = {key for key, s in want.items()
                    if abs(s - min_score) <= TOL}
        want = {key: s for key, s in want.items() if s >= min_score - TOL}
    got = {}
    for u, i, s in rows:
        key = (int(u), int(i))
        if key in got:
            return f"duplicate row {key}"
        if key not in want:
            return f"unexpected row {key} score {s}"
        if s is None or not _close(float(s), want[key]):
            return f"score {key}: got {s}, want {want[key]}"
        got[key] = float(s)
    if k is None:
        missing = set(want) - set(got) - optional
        if missing:
            return f"{len(missing)} rows missing, e.g. {min(missing)}"
        return None
    if len(got) != min(k, len(want)):
        return f"top-{k}: got {len(got)} rows of {len(want)}"
    if got:
        cut = min(got.values())
        rest = [s for key, s in want.items() if key not in got]
        if rest and max(rest) > cut + TOL:
            return f"top-{k}: left out score {max(rest)} above cut {cut}"
    return None
