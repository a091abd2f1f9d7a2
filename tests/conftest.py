import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from rehiver_spark.session import get_spark

    s = get_spark(app_name="rehiver-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


class Py4jCallCounter:
    """Counts Python→JVM round-trips: ``calls(fn, *args)`` runs ``fn``
    and returns how many py4j commands it sent."""

    def __init__(self):
        self.n = 0

    def calls(self, fn, *args, **kwargs) -> int:
        before = self.n
        fn(*args, **kwargs)
        return self.n - before


@pytest.fixture
def py4j_calls(spark, monkeypatch):
    """Wrap the session's ``GatewayClient.send_command`` so a test can
    hold a code path to a py4j round-trip budget."""
    client = spark.sparkContext._gateway._gateway_client
    counter = Py4jCallCounter()
    send = client.send_command

    def counting_send(*args, **kwargs):
        counter.n += 1
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting_send)
    return counter


@pytest.fixture(scope="session")
def expr_twins():
    """``with expr_twins():`` runs every operator with two code paths on
    its oracle-shaped twin: each fast kernel is monkeypatched to the
    private relational/expression function tests compare it against,
    and the measured dispatches (LSH verify, connected components) are
    pinned to the twin's side. Parity tests run ``op(...)`` once
    outside the block and once inside it. Session-scoped (it holds no
    state) so hypothesis tests can take it."""
    import contextlib

    from rehiver_spark.operators import dedup, textops, vectorops

    twins = [
        (dedup, "_jaccard_pairs_prefix", dedup._jaccard_pairs_blocking),
        (
            dedup,
            "_cc_driver",
            lambda raw, id_type, max_iter: dedup._cc_distributed(
                raw, id_type, max_iter, raw.count()
            ),
        ),
        (vectorops, "_LSH_EXPR_VERIFY_MAX_BYTES", float("inf")),
        (vectorops, "_assign_cells_arrow", vectorops._assign_to_cells),
        (vectorops, "_prior_max_arrow", vectorops._prior_max_expr),
        (vectorops, "_jl_coords_arrow", vectorops._jl_coords_expr),
        (vectorops, "_kmeans_assign_arrow", vectorops._kmeans_assign_expr),
        (textops, "_repetition_stats_arrow", textops._repetition_stats_expr),
        (textops, "_winnow_select_arrow", textops._winnow_select_expr),
    ]

    @contextlib.contextmanager
    def patched():
        with pytest.MonkeyPatch.context() as mp:
            for module, name, twin in twins:
                mp.setattr(module, name, twin)
            yield

    return patched


@pytest.fixture
def lsh_kernel(monkeypatch):
    """Send every LSH near-dup verify to the within-bucket Arrow kernel,
    whatever the Σpop² probe measures (small test corpora would
    otherwise take the relational join)."""
    from rehiver_spark.operators import vectorops

    monkeypatch.setattr(vectorops, "_LSH_EXPR_VERIFY_MAX_BYTES", -1)
