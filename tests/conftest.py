from __future__ import annotations

import pytest

from conveyor_spark.registry import OpContext
from conveyor_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="conveyor-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def ctx(spark):
    return OpContext(spark=spark)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


def run_op(__ctx, __op, __inputs, **config):
    from conveyor_spark.registry import get_function, unknown_params

    op = get_function(__op)
    # Keep the declared parameter metadata honest: any config key the
    # suite exercises must be declared (test hooks start with "_").
    unknown = unknown_params(op, config)
    assert not unknown, f"{__op}: metadata out of date: {unknown}"
    return op.fn(__ctx, __inputs, config)


def _per_bucket(ctx, op, df, bucket_column, **config):
    """Run ``op`` on each non-NULL bucket's slice of ``df``; the union."""
    from functools import reduce

    from pyspark.sql import functions as F

    keys = [r[0] for r in df.select(bucket_column).distinct().collect()
            if r[0] is not None]
    return reduce(lambda a, b: a.unionByName(b), [
        run_op(ctx, op, [df.filter(F.col(bucket_column) == key)], **config)
        for key in keys
    ])


def knn_ivf_reference(ctx, df, bucket_column, **config):
    """knn.ivf's expected output: knn.brute on each bucket's slice."""
    return _per_bucket(ctx, "knn.brute", df, bucket_column, **config)


def dedup_embedding_reference(ctx, df, bucket_column, **config):
    """dedup.embedding's expected output: the same op, unbucketed
    (``allow_full``, the distributed pair join), on each bucket's
    slice."""
    return _per_bucket(ctx, "dedup.embedding", df, bucket_column,
                       allow_full=True, **config)
