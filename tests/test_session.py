"""Session factory helpers that need no Spark session."""

from __future__ import annotations

import pytest

from biosd_feature_annotator_spark.session import _local_threads


@pytest.mark.parametrize("master, want", [
    ("local[4]", 4),
    ("local[4,2]", 4),   # 2 = max task failures, not threads
    ("local[*]", 16),
    ("local", 1),        # Spark's bare local master runs one thread
    ("yarn", 16),
])
def test_shuffle_partitions_follow_the_local_thread_count(master, want):
    assert _local_threads(master, cores=16) == want
