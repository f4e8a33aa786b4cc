"""The round-13 Arrow pair kernels (functions/pairwise.py) replace the
interpreted per-pair zip_with/aggregate cosine folds. The oracle hashes
VALUES, so the kernels must be bit-identical to the expression path —
pinned here at three levels:

- the numpy sequential fold vs a pure-Python left fold (op-sequence
  identity, element level),
- the numpy rnd replica vs functions/rounding.rnd evaluated by Spark
  (boundary and sign cases),
- the full SemDeDup loser set and near-dup pair kernel vs the exact
  self-join + expression formulation they replaced, on the real
  sf0.001 embeddings (row-for-row, value-for-value).
"""

from __future__ import annotations

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from energy_data_pipeline_spark.functions.pairwise import (
    _pair_cosines,
    _rnd_np,
    _seq_fold_sum,
    bucket_cosine_pairs,
    semdedup_loser_ids,
)

SF_DIR = "/root/testdata/sf0.001"


def _bits(x: float) -> int:
    return struct.unpack("<Q", struct.pack("<d", x))[0]


def test_seq_fold_sum_is_bitwise_left_fold():
    rng = np.random.RandomState(7)
    # adversarial magnitudes: mixed signs and 12 orders of magnitude so
    # pairwise summation WOULD disagree in the last ulp
    prod = (rng.randn(257, 64) * np.power(10.0, rng.randint(-6, 6, (257, 64)))).astype(
        np.float64
    )
    got = _seq_fold_sum(prod)
    for r in range(prod.shape[0]):
        acc = 0.0
        for j in range(prod.shape[1]):
            acc = acc + float(prod[r, j])
        assert _bits(acc) == _bits(float(got[r])), f"row {r}"
    # np.sum would NOT match bitwise on this input (sanity that the test
    # has teeth — if it does match, the input was not adversarial)
    assert any(
        _bits(float(np.sum(prod[r]))) != _bits(float(got[r]))
        for r in range(prod.shape[0])
    )


def test_rnd_np_matches_spark_rnd_bitwise(spark):
    from energy_data_pipeline_spark.functions.rounding import rnd

    vals = [
        0.0, -0.0, 0.3499995, 0.34999949999, -0.3499995, 0.9999995,
        1.0000005, -1.0000005, 0.1234565, 0.1234575, -0.1234565,
        36.75375, -36.75375, 1e-7, -1e-7, 0.5e-6, 1.5e-6, 2.5e-6,
        123456.1234565, -123456.1234565, 1e13 + 0.1234565, 9.3e18,
        -9.3e18, 2.0**63, 0.9999999999999999,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x double").select(
        F.col("x"), rnd(F.col("x"), 6).alias("r")
    )
    expected = {r["x"]: r["r"] for r in df.collect()}
    got = _rnd_np(np.array(vals, dtype=np.float64), 6)
    for v, g in zip(vals, got):
        assert _bits(expected[v]) == _bits(float(g)), v


@pytest.fixture(scope="module")
def _assigned(spark):
    from pyspark.storagelevel import StorageLevel

    from energy_data_pipeline_spark.functions.vectors import norm
    from energy_data_pipeline_spark.operators import ivf
    from energy_data_pipeline_spark.plans.catalog_ext import (
        IVF_TRAIN_ITERS,
        fan_out,
    )
    from energy_data_pipeline_spark.sources import load_table

    emb = fan_out(load_table(spark, SF_DIR, "embeddings"))
    cents = ivf.kmeans_lloyd(
        emb, "vec_id", "embedding", k=ivf.N_CELLS, iterations=IVF_TRAIN_ITERS
    )
    assigned = (
        ivf.ivf_assign(emb, cents)
        .select(
            "vec_id",
            F.col("embedding").alias("_v"),
            norm("embedding").alias("_n"),
            "cell",
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    yield assigned
    assigned.unpersist()


def test_semdedup_kernel_matches_expression_join(spark, _assigned):
    from energy_data_pipeline_spark.functions.rounding import rnd
    from energy_data_pipeline_spark.functions.vectors import cosine_from_norms
    from energy_data_pipeline_spark.plans.catalog_ext import SEMDEDUP_EPS

    a = _assigned.select(
        F.col("vec_id").alias("id1"),
        F.col("_v").alias("_v1"),
        F.col("_n").alias("_n1"),
        "cell",
    )
    b = _assigned.select(
        F.col("vec_id").alias("id2"),
        F.col("_v").alias("_v2"),
        F.col("_n").alias("_n2"),
        "cell",
    )
    expr_losers = sorted(
        r["vec_id"]
        for r in (
            a.join(b, "cell")
            .filter(F.col("id1") < F.col("id2"))
            .filter(
                rnd(cosine_from_norms("_v1", "_v2", F.col("_n1"), F.col("_n2")), 6)
                >= SEMDEDUP_EPS
            )
            .select(F.col("id2").alias("vec_id"))
            .distinct()
            .collect()
        )
    )
    kern_losers = sorted(
        r["vec_id"] for r in semdedup_loser_ids(_assigned, SEMDEDUP_EPS).collect()
    )
    assert kern_losers == expr_losers
    assert len(kern_losers) == len(set(kern_losers)), "kernel emitted dups"


@pytest.mark.parametrize("blocks", [1, 2, 3, 8])
def test_semdedup_block_decomposition_is_invariant(spark, _assigned, blocks):
    """The all-pairs bucket decomposition (parallelism un-capped from
    the cell count) must produce the SAME loser set for every block
    count — each i<j pair is evaluated in exactly one bucket-pair task
    and the per-pair math is orientation-independent."""
    from energy_data_pipeline_spark.plans.catalog_ext import SEMDEDUP_EPS

    base = sorted(
        r["vec_id"]
        for r in semdedup_loser_ids(_assigned, SEMDEDUP_EPS, blocks=1).collect()
    )
    got = sorted(
        r["vec_id"]
        for r in semdedup_loser_ids(
            _assigned, SEMDEDUP_EPS, blocks=blocks
        ).collect()
    )
    assert got == base
    assert len(got) == len(set(got))


def test_bucket_pair_kernel_matches_expression_join(spark, _assigned):
    """bucket_cosine_pairs at a LOW threshold (many survivors) against
    the expression self-join — values compared bitwise via repr."""
    from energy_data_pipeline_spark.functions.rounding import rnd
    from energy_data_pipeline_spark.functions.vectors import cosine_from_norms

    thr = 0.05
    bucketed = _assigned.select(
        F.col("vec_id").alias("_id"), "_v", "_n", F.col("cell").alias("_bkt")
    )
    a = bucketed.select(
        F.col("_id").alias("id1"),
        F.col("_v").alias("_v1"),
        F.col("_n").alias("_n1"),
        "_bkt",
    )
    b = bucketed.select(
        F.col("_id").alias("id2"),
        F.col("_v").alias("_v2"),
        F.col("_n").alias("_n2"),
        "_bkt",
    )
    expr = {
        (r["id1"], r["id2"]): _bits(r["cosine_sim"])
        for r in (
            a.join(b, "_bkt")
            .filter(F.col("id1") < F.col("id2"))
            .withColumn(
                "cosine_sim",
                rnd(cosine_from_norms("_v1", "_v2", F.col("_n1"), F.col("_n2")), 6),
            )
            .filter(F.col("cosine_sim") >= thr)
            .select("id1", "id2", "cosine_sim")
            .collect()
        )
    }
    kern = {
        (r["id1"], r["id2"]): _bits(r["cosine_sim"])
        for r in bucket_cosine_pairs(bucketed, "_bkt", thr).collect()
    }
    assert expr, "threshold too high — test lost its teeth"
    assert kern == expr


def test_pair_cosines_empty_and_singleton_groups(spark):
    V = np.ones((1, 4), dtype=np.float64)
    norms = np.array([2.0])
    ii, jj = np.triu_indices(1, 1)
    assert _pair_cosines(V, norms, ii, jj).size == 0


def test_near_dup_path_selection_from_plan(spark):
    """cosine_near_dup_pairs picks its pair stage from the required
    ``n_rows`` alone: below the ~3M expected-pair cutoff the expression
    self-join, past it the Arrow bucket kernel. Pinned on the optimized
    plan of a tiny frame — no action runs."""
    from energy_data_pipeline_spark.operators.similarity import (
        cosine_near_dup_pairs,
    )

    tiny = spark.createDataFrame(
        [(i, [float(i + d) for d in range(64)]) for i in range(4)],
        "vec_id bigint, embedding array<float>",
    )
    with pytest.raises(TypeError):
        cosine_near_dup_pairs(tiny)  # no silent default path

    def plan(n_rows: int) -> str:
        pins: list = []
        df = cosine_near_dup_pairs(tiny, pins_out=pins, n_rows=n_rows)
        text = df._jdf.queryExecution().optimizedPlan().toString()
        for frame, _level in pins:
            frame.unpersist()
        return text

    small = plan(2_000)  # 2k² / 2^7 ≈ 31k expected pairs
    assert "Join" in small and "FlatMapGroupsInArrow" not in small
    big = plan(100_000)  # 100k² / 2^7 ≈ 78M expected pairs
    assert "FlatMapGroupsInArrow" in big and "Join" not in big
