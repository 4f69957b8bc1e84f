"""Anti-drift + structural checks for the ANN/k-means ground-truth fixture.

The committed fixtures/sim_oracle/*.parquet files are what the driver's
DuckDB oracles read for sim_ivf_ann / sim_kmeans_clusters; if the vector
corpus generator or a kernel constant changes, the LIVE recomputation here
diverges from the committed files and fails loudly (instead of the oracle
quietly pinning a stale answer)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.parquet as pq


def _committed(name: str) -> pd.DataFrame:
    from fs2_osm_spark.synth.staging import sim_fixture_path

    return pq.read_table(sim_fixture_path(name)).to_pandas()


def test_fixture_matches_live_ground_truth(spark):
    from fs2_osm_spark.synth.staging import sim_ground_truth

    live = sim_ground_truth(spark)
    for name, pdf in live.items():
        want = _committed(name)
        got = pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
        want = want.sort_values(list(want.columns)).reset_index(drop=True)
        pd.testing.assert_frame_equal(
            got.astype(want.dtypes.to_dict()), want, check_names=True, obj=name
        )


def test_engine_queries_match_fixture(spark):
    """The distributed pipelines (matmul assign kernel, probe kernel,
    broadcast joins, shuffle mean-update) reproduce the brute-force
    fixture bit-for-bit — the same comparison the driver's oracle makes,
    pinned here so a regression fails before the round gate."""
    import fs2_osm_spark.queries.similarity as S

    for name, q, keys in (
        ("ivf_ann", S.sim_ivf_ann, ["query_id", "rank"]),
        ("kmeans_clusters", S.sim_kmeans_clusters, ["vec_id"]),
    ):
        want = _committed(name).sort_values(keys).reset_index(drop=True)
        got = (
            q(spark, "/root/testdata/sf0.001")
            .toPandas()
            .sort_values(keys)
            .reset_index(drop=True)[want.columns.tolist()]
        )
        pd.testing.assert_frame_equal(
            got.astype(want.dtypes.to_dict()), want, check_names=True, obj=name
        )


def test_corpus_is_deterministic_and_clustered():
    from fs2_osm_spark.synth.vectors import (
        N_SIM_VECS,
        SIM_CENTERS,
        sim_corpus_pdf,
    )

    a = sim_corpus_pdf()
    b = sim_corpus_pdf()
    pd.testing.assert_frame_equal(a, b)
    assert len(a) == N_SIM_VECS
    # same-center vectors are far more similar than cross-center ones,
    # so IVF lists / k-means clusters have real structure to find
    vecs = np.stack([np.asarray(v) for v in a.v])
    vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = vn @ vn.T
    labels = a.vec_id.to_numpy() % SIM_CENTERS
    same = sims[labels[:, None] == labels[None, :]]
    diff = sims[labels[:, None] != labels[None, :]]
    assert same.mean() > 0.7 > diff.mean() + 0.4


def test_kmeans_recovers_center_structure():
    """Fitted clusters should align with the true generating centers.
    With k=8 < 12 generators some clusters necessarily hold two centers,
    so the invariant is per-CENTER consistency: every generator's vectors
    land in one fitted cluster, and all k clusters are used."""
    pdf = _committed("kmeans_clusters")
    from fs2_osm_spark.synth.vectors import SIM_CENTERS

    df = pd.DataFrame(
        {"c": pdf.centroid_id, "t": pdf.vec_id.to_numpy() % SIM_CENTERS}
    )
    consistency = df.groupby("t")["c"].agg(
        lambda s: s.value_counts().iloc[0] / len(s)
    )
    assert consistency.min() > 0.95
    assert df.c.nunique() == 8
