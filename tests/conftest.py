import os

import pytest

from web_archive_downloader_spark.session import get_spark


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # cores = SPARK_GRAFT_CPUS (the Tier-1 command exports the host's
    # nproc), shuffle partitions = cores: at test data sizes the suite
    # is bound by per-task scheduling + python-worker overhead, not
    # compute, so more partitions than cores only adds overhead.
    # Tests that need a specific parallelism (skew, AQE, cogroup
    # pid-pruning) set their own confs/partitioning explicitly.
    # The catalog warehouse is a temp dir, so no run leaves tables in
    # the checkout.
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)
    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    s = get_spark(
        "tests", cores=cores, shuffle_partitions=cores,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield s
    s.stop()
