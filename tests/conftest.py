from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # keep test JVM small


@pytest.fixture(scope="session")
def spark():
    from nous_spark.session import get_spark

    s = get_spark(cores=int(os.environ["SPARK_GRAFT_CPUS"]), app_name="nous_tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture
def distributed():
    """``with distributed():`` runs the capped driver fast paths
    (connected_components, k_core, label_propagation,
    near_duplicate_clusters, PIC, link_entities) on their distributed
    plans instead, so a test can compare both paths on the same input. A
    cap of -1 admits no input, not even an empty one."""
    import contextlib

    from nous_spark.operators import clustering, graph, linking

    @contextlib.contextmanager
    def force():
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(graph, "DRIVER_EDGE_CAP", -1)
            mp.setattr(clustering, "_PIC_EDGE_DRIVER_CAP", -1)
            mp.setattr(linking, "_LINK_DRIVER_CAP", -1)
            yield

    return force
