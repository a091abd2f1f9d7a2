"""Default-path pins: with default arguments each two-path operator runs
the kernel ``curate`` relies on, and a measured dispatch picks its side
from the measured quantity alone. A refactor that silently moves the
production path to a twin fails here."""

from rehiver_spark.operators import dedup, vectorops


def _spy(monkeypatch, module, name):
    """Wrap ``module.name`` so each call is recorded; returns the list."""
    calls = []
    real = getattr(module, name)

    def wrapper(*args, **kwargs):
        calls.append(name)
        return real(*args, **kwargs)

    monkeypatch.setattr(module, name, wrapper)
    return calls


def test_semdedup_default_runs_arrow_kernels(spark, monkeypatch):
    corpus = spark.createDataFrame(
        [(i, [1.0 * (i % 3), 1.0, 0.5 * i]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    assign = _spy(monkeypatch, vectorops, "_assign_cells_arrow")
    prior = _spy(monkeypatch, vectorops, "_prior_max_arrow")
    twins = _spy(monkeypatch, vectorops, "_assign_to_cells")
    twins += _spy(monkeypatch, vectorops, "_prior_max_expr")
    rows = vectorops.semdedup(corpus).collect()
    assert len(rows) == 30
    assert assign and prior and not twins


def test_connected_components_dispatches_on_edge_count(spark, monkeypatch):
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "id_a long, id_b long")
    want = {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)}
    drv = _spy(monkeypatch, dedup, "_cc_driver")
    dist = _spy(monkeypatch, dedup, "_cc_distributed")
    got = {(r.doc_id, r.cluster_id) for r in dedup.connected_components(pairs).collect()}
    assert got == want and drv and not dist
    # 6 directed edges > 2 × cap of 1: the distributed loop takes it
    monkeypatch.setattr(dedup, "_CC_DRIVER_EDGE_CAP", 1)
    drv.clear()
    got = {(r.doc_id, r.cluster_id) for r in dedup.connected_components(pairs).collect()}
    assert got == want and dist and not drv


def test_lsh_small_corpus_takes_relational_verify(spark, monkeypatch):
    rows = [(1, [1.0, 0.0, 0.0]), (2, [1.0, 0.001, 0.0]), (3, [0.0, 1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    rel = _spy(monkeypatch, vectorops, "_lsh_verify_expr")
    kernel = _spy(monkeypatch, vectorops, "_lsh_verify_arrow")
    got = {
        (r["id_a"], r["id_b"])
        for r in vectorops.lsh_cosine_neardup(df, dim=3, threshold=0.9).collect()
    }
    assert got == {(1, 2)}
    assert rel and not kernel
