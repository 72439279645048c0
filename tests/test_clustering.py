"""k1 k-means: independent numpy replay of the exact Lloyd schedule.

The DuckDB oracle shares the *specification* with the Spark side; this
replays it in a third implementation (numpy) so a shared misreading of
the spec (e.g. off-by-one in the round count, wrong tie-break) can't
pass silently.
"""

import numpy as np

from orc_release_hdp_2_6_5_99_1_tag_spark.operators.clustering import (
    _ITERS,
    _K,
    k1_kmeans_clusters,
)
from orc_release_hdp_2_6_5_99_1_tag_spark.tables import load_table


def _numpy_kmeans(X, ids, k, iters):
    order = np.argsort(ids)
    X, ids = X[order], ids[order]
    cents = X[ids < k].astype(np.float64)
    cids = ids[ids < k]
    for it in range(iters):
        d = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        # tie-break to lower centroid id: argmin takes the first minimum
        # and cents are ordered by cid
        assign = cids[d.argmin(1)]
        if it == iters - 1:
            break
        new_c, new_ids = [], []
        for c in sorted(set(assign.tolist())):
            new_c.append(X[assign == c].mean(0))
            new_ids.append(c)
        cents, cids = np.stack(new_c), np.array(new_ids)
    return dict(zip(ids.tolist(), assign.tolist()))


def test_kmeans_matches_numpy_replay(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in e])
    X = np.array([r["embedding"] for r in e], dtype=np.float64)
    expected = _numpy_kmeans(X, ids, _K, _ITERS)

    got = {
        r["vec_id"]: r["cluster"]
        for r in k1_kmeans_clusters(spark, sf_dir).collect()
    }
    assert got == expected
    # sanity: the run actually moved past the init partition
    assert len(set(got.values())) > 1
