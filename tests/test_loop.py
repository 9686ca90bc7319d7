"""SuperstepRunner construction contract: the run ledger lives on the
local filesystem, so a checkpoint_dir with another URI scheme is refused
up front instead of failing at the first checkpoint."""

import pytest

from louvain_spark.plans.loop import SuperstepRunner


@pytest.mark.parametrize("uri", ["hdfs://nn:8020/ckpt", "s3a://bucket/ckpt"])
def test_runner_rejects_non_local_checkpoint_dir(spark, uri):
    with pytest.raises(ValueError, match="local filesystem"):
        SuperstepRunner(spark, "run", "cc", checkpoint_dir=uri)


def test_runner_accepts_local_paths(spark, tmp_path):
    assert SuperstepRunner(spark, "run", "cc", str(tmp_path)).checkpoint_dir == str(tmp_path)
    uri = SuperstepRunner(spark, "run", "cc", f"file://{tmp_path}")
    assert uri.checkpoint_dir == str(tmp_path)
    assert SuperstepRunner(spark, "run", "cc").checkpoint_dir is None
