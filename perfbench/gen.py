"""Seeded input generator for the RecDB benchmark.

Everything a workload feeds the program comes from here: the ratings
tables, the ingest batches and the operation sequences. Nothing reads
test data from disk, so the same ``--seed`` gives the same inputs on
any machine. The functions are pure NumPy/pandas and start no Spark.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd

CF_METHODS = ("itemcoscf", "itempearcf", "usercoscf", "userpearcf")


@dataclass(frozen=True)
class Corpus:
    """Shape of a synthetic ratings table."""
    users: int
    items: int
    per_user: int          # mean ratings per user (lognormal activity)
    copies: int = 1        # amplification: copies with shifted user ids


# Full sizes, chosen so that 22 runs of each gated workload fit in
# under an hour on a 4-core machine. Per-query cost at these sizes is dominated by the program's
# fixed per-statement work (rewrite, planning, job count). generate
# amplifies its table x8 with per-copy user-id shifts.
SIZES = {
    "full": {
        "serve": Corpus(users=800, items=150, per_user=8),
        "generate": Corpus(users=400, items=150, per_user=8, copies=8),
        "ingest": Corpus(users=4000, items=200, per_user=10),
    },
    "tiny": {
        "serve": Corpus(users=60, items=25, per_user=5),
        "generate": Corpus(users=40, items=20, per_user=5, copies=2),
        "ingest": Corpus(users=80, items=25, per_user=5),
    },
}
COPY_SHIFT = 1_000_000     # user-id offset per amplified copy
INGEST_BATCH = {"full": 400, "tiny": 10}
INGEST_NEW_USER_SHARE = 0.10
INGEST_RETRAIN_EVERY = 10  # appends per threshold retrain
VIEW_CAP = 20              # per-user RecView cap in serve
GENERATE_USERS = 5
GENERATE_K = 50


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _item_popularity(items: int) -> np.ndarray:
    p = 1.0 / np.arange(1, items + 1) ** 0.8
    return p / p.sum()


def _rate(rng: np.random.Generator, users: np.ndarray, items: np.ndarray,
          ufac: np.ndarray, ifac: np.ndarray) -> np.ndarray:
    """Ratings 0.5..5.0 in 0.5 steps from a rank-4 taste model plus
    noise, so neighbourhoods carry signal and ties occur."""
    s = np.einsum("ij,ij->i", ufac[users], ifac[items])
    r = 3.0 + 0.7 * s + rng.normal(scale=0.5, size=len(s))
    return np.clip(np.round(r * 2) / 2, 0.5, 5.0)


def ratings(seed: int, c: Corpus) -> pd.DataFrame:
    """(userid, itemid, ratingval): one row per (user, item), exactly
    ``users * per_user`` rows per copy. Every user rates at least two
    items; the rest spread over users by a lognormal activity level.
    User ids are 1..users (plus ``k * COPY_SHIFT`` for amplified copy
    k); item ids 1..items, drawn Zipf-popular."""
    rng = _rng(seed, 1)
    ufac = rng.normal(size=(c.users, 4))
    ifac = rng.normal(size=(c.items, 4))
    pop = _item_popularity(c.items)
    activity = rng.lognormal(0.0, 0.8, size=c.users)
    extra = rng.multinomial(c.users * (c.per_user - 2), activity / activity.sum())
    counts = np.minimum(c.items, 2 + extra)
    us, its = [], []
    for u, m in enumerate(counts):
        us.append(np.full(m, u))
        its.append(rng.choice(c.items, size=m, replace=False, p=pop))
    u = np.concatenate(us)
    i = np.concatenate(its)
    r = _rate(rng, u, i, ufac, ifac)
    base = pd.DataFrame({"userid": (u + 1).astype(np.int64),
                         "itemid": (i + 1).astype(np.int64),
                         "ratingval": r.astype(np.float64)})
    if c.copies == 1:
        return base
    return pd.concat([base.assign(userid=base.userid + k * COPY_SHIFT)
                      for k in range(c.copies)], ignore_index=True)


class ZipfUsers:
    """Users drawn Zipf-skewed (exponent ``s``) over one seeded
    popularity order, so the same users stay hot for a whole run."""

    def __init__(self, seed: int, user_ids: np.ndarray, s: float = 1.1):
        self.order = _rng(seed, 6).permutation(np.asarray(user_ids))
        p = 1.0 / np.arange(1, len(self.order) + 1) ** s
        self.p = p / p.sum()

    def draw(self, rng: np.random.Generator, n: int) -> list[int]:
        return [int(x) for x in rng.choice(self.order, size=n, p=self.p)]


# -- serve ---------------------------------------------------------------

# One cycle of the serve mix. Shapes follow FIXTURES.md's regression
# list: 1 = single user, all items; 2 = shape 1 with no recommender for
# the method (on-the-fly, GenerateRecommend); 5 = single-user top-10;
# 3 = IN-list plus item filter; 7 = score predicate. "index" is the
# view-routable top-k that the RecView answers (IndexRecommend).
SERVE_CYCLE = (
    ("generate2", "itempearcf"),
    ("filter1", "itemcoscf"),
    ("filter1", "usercoscf"),
    ("filter5", "svd"),
    ("filter3", "itemcoscf"),
    ("filter7", "itemcoscf"),
    ("index", "itemcoscf"),
    ("index", "itemcoscf"),
    ("index", "itemcoscf"),
)


def serve_ops(seed: int, user_ids: np.ndarray, items: int) -> Iterator[dict]:
    """Endless cycles of the serve mix, each cycle seed-shuffled. Every
    op carries its RecDB SQL statement."""
    rng, zipf = _rng(seed, 2), ZipfUsers(seed, user_ids)
    for c in itertools.count():
        for j in rng.permutation(len(SERVE_CYCLE)):
            shape, method = SERVE_CYCLE[j]
            u = zipf.draw(rng, 1)[0]
            head = ("SELECT * FROM ml_ratings RECOMMEND itemid TO userid "
                    f"ON ratingval USING {method} ")
            op = {"kind": shape.rstrip("0123456789"), "shape": shape,
                  "method": method, "cycle": c, "users": [u]}
            if shape in ("filter1", "generate2"):
                op["sql"] = head + f"WHERE userid = {u}"
            elif shape == "filter5":
                op["k"] = 10
                op["sql"] = head + (f"WHERE userid = {u} "
                                    "ORDER BY ratingval DESC LIMIT 10")
            elif shape == "filter3":
                us = sorted(set(zipf.draw(rng, 5)))
                op["users"] = us
                op["item_lt"] = int(rng.integers(items // 8, items // 2))
                op["sql"] = head + (
                    f"WHERE userid IN ({','.join(map(str, us))}) "
                    f"AND itemid < {op['item_lt']}")
            elif shape == "filter7":
                op["min_score"] = float(rng.choice([3.0, 3.5, 4.0]))
                op["sql"] = head + (f"WHERE userid = {u} "
                                    f"AND ratingval >= {op['min_score']}")
            else:
                op["k"] = int(rng.integers(5, VIEW_CAP + 1))
                op["sql"] = head + (f"WHERE userid = {u} "
                                    f"ORDER BY ratingval DESC LIMIT {op['k']}")
            yield op


# -- generate ------------------------------------------------------------

def generate_ops(seed: int, user_ids: np.ndarray) -> Iterator[dict]:
    """On-the-fly RECOMMEND: each cycle runs every CF method once (in a
    seeded order) for a Zipf-drawn 5-user IN-list, top-50."""
    rng, zipf = _rng(seed, 3), ZipfUsers(seed, user_ids)
    for c in itertools.count():
        for j in rng.permutation(len(CF_METHODS)):
            us = sorted(set(zipf.draw(rng, GENERATE_USERS)))
            yield {"kind": "generate", "method": CF_METHODS[j],
                   "cycle": c, "users": us, "k": GENERATE_K}


# -- ingest --------------------------------------------------------------

def ingest_batch(seed: int, step: int, c: Corpus, batch: int,
                 next_user: int) -> pd.DataFrame:
    """Batch ``step`` of appended events: ~10% from brand-new users
    (ids from ``next_user`` up), the rest from existing users."""
    rng = _rng(seed, 4, step)
    n_new_users = max(1, int(round(batch * INGEST_NEW_USER_SHARE / 5)))
    new_ids = np.arange(next_user, next_user + n_new_users)
    n_new = int(round(batch * INGEST_NEW_USER_SHARE))
    users = np.concatenate([
        rng.choice(new_ids, size=n_new),
        rng.integers(1, c.users + 1, size=batch - n_new)])
    pop = _item_popularity(c.items)
    items = rng.choice(c.items, size=batch, p=pop) + 1
    # the same 0.5-step scale, drawn around the corpus mean
    r = np.clip(np.round(rng.normal(3.2, 1.0, size=batch) * 2) / 2, 0.5, 5.0)
    return pd.DataFrame({"userid": users.astype(np.int64),
                         "itemid": items.astype(np.int64),
                         "ratingval": r.astype(np.float64)})


def ingest_steps(seed: int, c: Corpus, batch: int) -> Iterator[dict]:
    """Endless ingest steps: append a batch, then read recommendations
    for one user of that batch through FilterRecommend."""
    rng = _rng(seed, 5)
    next_user = c.users + 1
    for s in itertools.count():
        b = ingest_batch(seed, s, c, batch, next_user)
        next_user = max(next_user, int(b.userid.max()) + 1)
        yield {"step": s, "batch": b, "user": int(rng.choice(b.userid))}
