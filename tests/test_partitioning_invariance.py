"""Face-level partitioning invariance: the scalable plans (deterministic
borders + exact offsets, carry-ins and halos) must produce IDENTICAL
results under different shuffle-partition settings — hidden dependence on
partition count is the classic way a 'scalable' rank/prefix path goes
wrong."""

import pytest

SF = "/root/testdata/sf0.001"

FACES = [
    "global_rank_scalable_events",
    "sliding_sum_91_scalable",
    "rfm_segmentation_customers",
    "roc_auc_embeddings",
    "gains_deciles_embeddings",
    "running_revenue_global",
    "heavy_hitters_trigrams_documents",
    "sliding_min_79_scalable",
    "sliding_max_91_scalable",
    "late_arrival_audit_events",
    "pack_documents_2k",
]


@pytest.fixture(scope="module")
def spark():
    from uw_mapreduce_spark.session import get_spark

    return get_spark(
        app_name="part-invariance", master="local[4]", shuffle_partitions=8
    )


@pytest.mark.parametrize("face", FACES)
def test_result_invariant_to_shuffle_partitions(spark, face):
    import __spark_entry__ as e

    qs = e.queries()

    def run(parts):
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            return sorted(
                tuple(str(v) for v in row) for row in qs[face](spark, SF).collect()
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", "8")

    assert run(3) == run(16), face
