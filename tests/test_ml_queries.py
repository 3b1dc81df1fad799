"""ml_queries invariants that the oracle gate cannot see."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_analytics_spark.catalog import load_table
from big_data_analytics_spark.operators.similarity import EMBEDDING_DIM as _DIM
from tests.conftest import SF_SMOKE


def test_embedding_fixture_is_fixed_width(spark):
    """lloyd_assign's fused n_members/ss_err read-back (max over the
    per-(cluster, dim) groups) is exact ONLY for non-empty fixed-width
    embedding arrays — a ragged or empty row would contribute to
    fewer dim groups and silently skew the stats (r15 ADVICE). Pin
    the fixture contract so a future change fails loudly here instead
    of as a wrong aggregate."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    row = emb.agg(F.min(F.size("embedding")).alias("lo"),
                  F.max(F.size("embedding")).alias("hi")).first()
    assert row["lo"] == row["hi"] == _DIM
