"""``als_recsys``: the paper's batch pipeline, from a ratings CSV.

Set-up writes one seeded MovieLens-format ratings CSV (no header,
``user,item,rating``) as a single file, drawn from a low-rank-plus-noise
model (FIXTURES.md §A1) so that ALS at rank 20 beats the global mean.
User and item ids are sparse (drawn from a larger id space), as in
MovieLens. One cycle runs:

- ``functions.ids.dense_ids`` on the user and on the item column of
  ``sources.read_ratings_csv(csv)`` (the dense-id step, mapid.py),
  each checked against the ranks of the generated ids;
- twice, ``operators.als.als_pipeline`` on the same scan (0.8/0.2
  split → ALS-WR rank 20, 10 iterations → probe RMSE), followed by
  ``recommendForAllUsers(k)`` on its model. Every call must repeat the
  first call's probe RMSE and recommendation count.

The pipeline is not called through ``operators.als.reference_pipeline``,
which joins the dense ids back before the split, because of a program
defect left for a later change: ``randomSplit`` over the joined frame
evaluates it once for the train set and again for the probe set, and
the joined frame's partitioning is decided at run time, so the two
sets need not be complementary. Probe rows then leak into training: on
one seed ``reference_pipeline`` mostly returned probe RMSE 0.2706,
sometimes 0.4294, while the same ratings split once from a materialized
file give 0.4148. A single-file scan has a fixed layout, so the split
is disjoint and repeats. (For the same reason ``als_pipeline`` is fed
from a file, not from ``synth_ratings(...)``, which gave 0.2530/0.3096/
0.3096 across three calls in one session.)
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

N_USERS = 2000
N_ITEMS = 1000
N_RATINGS = 60_000
#: users and items get distinct ids below this
ID_SPACE = 1_000_000
LATENT_RANK = 6
RECOMMEND_K = 10
#: pipeline calls per cycle: the second checks that the first repeats
CALLS_PER_CYCLE = 2


def write_ratings_csv(path: str, seed: int, n_users: int, n_items: int, n_ratings: int) -> None:
    """Distinct (user, item) cells, each rated ``3 + scaled <u, v> +
    noise`` on the 1..5 scale, two decimals."""
    rng = np.random.default_rng([seed, 7])
    cells = rng.choice(n_users * n_items, n_ratings, replace=False)
    users, items = cells // n_items, cells % n_items
    u_vec = rng.uniform(-1, 1, (n_users, LATENT_RANK))
    i_vec = rng.uniform(-1, 1, (n_items, LATENT_RANK))
    affinity = np.einsum("ij,ij->i", u_vec[users], i_vec[items])
    noise = (rng.random(n_ratings) - 0.5) * 0.5
    rating = np.clip(3.0 + affinity * (2.4 / (LATENT_RANK / 3.0)) + noise, 1.0, 5.0)
    user_ids = rng.choice(ID_SPACE, n_users, replace=False)
    item_ids = rng.choice(ID_SPACE, n_items, replace=False)
    pd.DataFrame({"u": user_ids[users], "i": item_ids[items], "r": rating.round(2)}).to_csv(
        path, header=False, index=False, float_format="%.2f"
    )


def expected_dense_ids(csv: str) -> dict[str, dict[int, int]]:
    """Per id column, each id that occurs → its rank among them."""
    df = pd.read_csv(csv, header=None, names=["user_id", "item_id", "rating"])
    return {c: {int(k): i for i, k in enumerate(np.unique(df[c]))} for c in ("user_id", "item_id")}


class AlsRecsys:
    def __init__(self):
        self.csv = None
        self.dense = None  # expected dense ids, per column
        self.expect = None  # (rmse, users with recommendations) of the first call

    def make_inputs(self, bench, out_dir: str) -> None:
        os.makedirs(out_dir)
        self.csv = os.path.join(out_dir, "ratings.csv")
        write_ratings_csv(self.csv, bench.seed, N_USERS, N_ITEMS, N_RATINGS)
        self.dense = expected_dense_ids(self.csv)

    def prepare(self, bench) -> None:
        pass

    def _dense_ids(self, bench, key: str):
        from als_hadoop_spark.functions.ids import dense_ids
        from als_hadoop_spark.sources import read_ratings_csv

        with bench.span("operators.build"):
            mapping = dense_ids(read_ratings_csv(bench.spark, self.csv), key)
        with bench.span("operators.exec"):
            return {r[0]: r[1] for r in mapping.collect()}

    def _pipeline(self, bench):
        from als_hadoop_spark.operators.als import als_pipeline
        from als_hadoop_spark.sources import read_ratings_csv

        with bench.span("operators.build"), bench.span("als.pipeline"):
            preds, rmse, base, model = als_pipeline(read_ratings_csv(bench.spark, self.csv))
        preds.unpersist()
        with bench.span("operators.exec"), bench.span("als.recommend"):
            recs = model.recommendForAllUsers(RECOMMEND_K)
            (row,) = recs.select(
                F.count("*").alias("users"),
                F.min(F.size("recommendations")).alias("k_min"),
                F.max(F.size("recommendations")).alias("k_max"),
                F.min(F.expr("array_min(transform(recommendations, r -> r.item_id))")).alias("item_min"),
            ).collect()
        return rmse, base, row

    def _check(self, result) -> bool:
        rmse, base, row = result
        ok = (
            0.0 < rmse < base  # beats the global-mean predictor
            and row.k_min == row.k_max == RECOMMEND_K
            and row.item_min >= 0
        )
        if self.expect is None:
            self.expect = (rmse, row.users)
            return ok and row.users > 0
        if (rmse, row.users) != self.expect:
            print(
                f"perfbench: als call gave rmse {rmse!r}, {row.users} users; "
                f"first call gave rmse {self.expect[0]!r}, {self.expect[1]} users",
                file=sys.stderr,
            )
            return False
        return ok

    def cycle(self, bench) -> None:
        for key in ("user_id", "item_id"):
            bench.op(f"dense_{key}", "read", lambda key=key: self._dense_ids(bench, key), self.dense[key].__eq__)
        for _ in range(CALLS_PER_CYCLE):
            bench.op("als_pipeline", "fit", lambda: self._pipeline(bench), self._check)

    def verify(self, bench) -> None:
        pass

    def layer_metrics(self, bench) -> dict[str, float]:
        return {"als.probe_rmse": self.expect[0] if self.expect else 0.0}
