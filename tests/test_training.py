"""M3 training tests: numerical gradient checks for all three models,
optimizer behavior, and the distributed loss-decrease smoke (t1)."""

from __future__ import annotations

import numpy as np
import pytest

from spark_tensors_spark.functions.init import init_matrix_np
from spark_tensors_spark.train import SGD, AdaGrad, Adam, RMSprop, KGETrainer
from spark_tensors_spark.train import models as M

RNG = np.random.default_rng(7)


def _params(n_ent=12, n_rel=3, d=6):
    E = RNG.standard_normal((n_ent, d)) * 0.1
    R = RNG.standard_normal((n_rel, d)) * 0.1
    W = RNG.standard_normal((n_rel, d, d)) * 0.1
    return E, R, W


def _numeric_grad(f, x, eps=1e-6):
    g = np.zeros_like(x)
    it = np.nditer(x, flags=["multi_index"])
    while not it.finished:
        i = it.multi_index
        old = x[i]
        x[i] = old + eps
        hi = f()
        x[i] = old - eps
        lo = f()
        x[i] = old
        g[i] = (hi - lo) / (2 * eps)
        it.iternext()
    return g


def test_transe_gradcheck():
    E, R, _ = _params()
    s = np.array([0, 1])
    p = np.array([0, 2])
    o = np.array([2, 3])
    o_neg = np.array([4, 5])

    def total_loss():
        loss, _ = M.transe_pairwise(E, R, s, p, o, o_neg, margin=1.0)
        return loss.sum()

    _, grads = M.transe_pairwise(E, R, s, p, o, o_neg, margin=1.0)
    gE = np.zeros_like(E)
    gR = np.zeros_like(R)
    for name, ids, g in grads:
        tgt = gE if name == "E" else gR
        np.add.at(tgt, ids, g)
    np.testing.assert_allclose(gE, _numeric_grad(total_loss, E), atol=1e-4)
    np.testing.assert_allclose(gR, _numeric_grad(total_loss, R), atol=1e-4)


@pytest.mark.parametrize("model", ["rescal", "hole"])
def test_pointwise_gradcheck(model):
    E, R, W = _params()
    s = np.array([0, 1, 6])
    p = np.array([0, 2, 1])
    o = np.array([2, 3, 7])
    y = np.array([1.0, -1.0, 1.0])

    if model == "rescal":
        fn = lambda: M.rescal_pointwise(E, W, s, p, o, y)  # noqa: E731
        P, name2 = W, "W"
    else:
        fn = lambda: M.hole_pointwise(E, R, s, p, o, y)  # noqa: E731
        P, name2 = R, "R"

    def total_loss():
        loss, _ = fn()
        return loss.sum()

    _, grads = fn()
    gE = np.zeros_like(E)
    gP = np.zeros_like(P)
    for name, ids, g in grads:
        tgt = gE if name == "E" else gP
        np.add.at(tgt, ids, g)
    np.testing.assert_allclose(gE, _numeric_grad(total_loss, E), atol=1e-4)
    np.testing.assert_allclose(gP, _numeric_grad(total_loss, P), atol=1e-4)


@pytest.mark.parametrize("model", ["rescal", "hole"])
def test_pairwise_gradcheck(model):
    """Margin-ranking objectives for RESCAL/HolE (`kge/hole.py:145-147`
    semantics): analytic grads match numeric grads through the hinge."""
    E, R, W = _params()
    s = np.array([0, 1, 6])
    p = np.array([0, 2, 1])
    o = np.array([2, 3, 7])
    o_neg = np.array([4, 5, 9])

    if model == "rescal":
        fn = lambda: M.rescal_pairwise(E, W, s, p, o, o_neg, 0.5)  # noqa: E731
        P = W
    else:
        fn = lambda: M.hole_pairwise(E, R, s, p, o, o_neg, 0.5)  # noqa: E731
        P = R

    def total_loss():
        loss, _ = fn()
        return loss.sum()

    _, grads = fn()
    gE = np.zeros_like(E)
    gP = np.zeros_like(P)
    for name, ids, g in grads:
        tgt = gE if name == "E" else gP
        np.add.at(tgt, ids, g)
    np.testing.assert_allclose(gE, _numeric_grad(total_loss, E), atol=1e-4)
    np.testing.assert_allclose(gP, _numeric_grad(total_loss, P), atol=1e-4)


@pytest.mark.parametrize("model", ["rescal", "hole"])
def test_pairwise_models_train(spark, kg_triples, model):
    """RESCAL/HolE under the margin objective: loss decreases over
    distributed epochs (reference margin config, model parity)."""
    t = KGETrainer(
        spark, n_entities=40, n_relations=2, dim=8, model=model,
        optimizer=AdaGrad(lr=0.5), seed=17, neg_per_pos=2,
        objective="pairwise", margin=0.5,
    )
    t.fit(kg_triples, epochs=4)
    assert t.loss_history[-1] < t.loss_history[0], (model, t.loss_history)


def test_optimizers_reduce_quadratic():
    """Each optimizer minimizes ½‖x‖² with per-row sparse steps."""
    for opt in (SGD(lr=0.1), AdaGrad(lr=0.5), Adam(lr=0.05, weight_decay=0),
                RMSprop(lr=0.05)):
        x = RNG.standard_normal((10, 4))
        start = (x**2).sum()
        for _ in range(60):
            ids = np.arange(10)
            opt.step(x, ids, x[ids].copy())
        assert (x**2).sum() < 0.05 * start, type(opt).__name__


def test_rmsprop_matches_reference_formula():
    """Keras-default RMSprop parity to 1e-9: ms ← ρ·ms+(1-ρ)g²,
    x ← x − lr·g/√(ms+… ) with sparse row addressing (only touched
    rows change)."""
    rng = np.random.default_rng(7)
    x = rng.standard_normal((6, 3))
    ref = x.copy()
    ms_ref = np.zeros_like(ref)
    opt = RMSprop(lr=0.01, rho=0.9, eps=1e-7)
    for step in range(25):
        ids = np.array([step % 6, (step * 2) % 6])
        ids = np.unique(ids)
        g = rng.standard_normal((len(ids), 3))
        opt.step(x, ids, g.copy(), name="p")
        ms_ref[ids] = 0.9 * ms_ref[ids] + 0.1 * g * g
        ref[ids] -= 0.01 * g / (np.sqrt(ms_ref[ids]) + 1e-7)
    np.testing.assert_allclose(x, ref, atol=1e-9)


@pytest.fixture(scope="module")
def kg_triples(spark):
    """Structured toy KG (ring + attribute pattern) so TransE has signal."""
    n = 40
    rows = []
    for i in range(n):
        rows.append((i, 0, (i + 1) % n))          # ring successor
        rows.append((i, 1, (i + 2) % n))          # skip-2
    df = spark.createDataFrame(
        sorted(set(rows)), "s_id long, p_id long, o_id long"
    )
    df.cache().count()
    return df


def test_transe_loss_decreases_and_beats_random(spark, kg_triples):
    """SURVEY §5.2 item 4: distributed epochs, loss trend + eval lift."""
    t = KGETrainer(
        spark, n_entities=40, n_relations=2, dim=16, model="transe",
        optimizer=AdaGrad(lr=0.2), seed=11, neg_per_pos=2,
    )
    t.fit(kg_triples, epochs=10)
    assert t.loss_history[-1] < t.loss_history[0], t.loss_history
    m = t.evaluate(kg_triples.limit(30)).collect()[0]
    # random ranking over 40 entities → MRR ≈ Σ(1/r)/40 ≈ 0.11; the ring
    # KG caps attainable MRR (adjacent entities stay near-ties) — demand
    # >2× random plus perfect Hits@10
    assert m["mrr"] > 0.25, m
    assert m["hits10"] == 1.0, m


@pytest.mark.parametrize("model", ["rescal", "hole"])
def test_pointwise_models_train(spark, kg_triples, model):
    t = KGETrainer(
        spark, n_entities=40, n_relations=2, dim=8, model=model,
        optimizer=AdaGrad(lr=0.5), seed=13, neg_per_pos=2,
    )
    t.fit(kg_triples, epochs=4)
    assert t.loss_history[-1] < t.loss_history[0], (model, t.loss_history)


def test_joinmerge_matches_driver_path(spark, kg_triples):
    """The join-merge (100 TB) update path reproduces the driver path's
    loss trajectory on the ring KG with the same seed: same init hash,
    same sampled rows, same kernels, same AdaGrad arithmetic — only the
    physical location of the parameters differs."""
    from spark_tensors_spark.train import JoinMergeKGETrainer

    driver = KGETrainer(
        spark, n_entities=40, n_relations=2, dim=8, model="transe",
        optimizer=AdaGrad(lr=0.2), seed=23, neg_per_pos=2,
    ).fit(kg_triples, epochs=3)
    jm = JoinMergeKGETrainer(
        spark, n_entities=40, n_relations=2, dim=8, model="transe",
        optimizer="adagrad", lr=0.2, seed=23, neg_per_pos=2,
    ).fit(kg_triples, epochs=3)
    np.testing.assert_allclose(
        jm.loss_history, driver.loss_history, rtol=1e-9
    )
    # final embeddings agree too (not just the scalar loss)
    E_jm = {r.id: np.array(r.vec) for r in jm.entity_embeddings().collect()}
    for i in range(40):
        np.testing.assert_allclose(E_jm[i], driver.E[i], rtol=1e-9)


def test_joinmerge_adam_matches_driver_path(spark, kg_triples):
    """Adam through the join-merge path, at the REFERENCE's TransE
    config (`TransE.scala:98`: lr 0.001, weight decay 1e-4): loss
    trajectory and final embeddings match the driver path to 1e-9 —
    m/v moments live as array columns, t per parameter."""
    from spark_tensors_spark.train import JoinMergeKGETrainer

    driver = KGETrainer(
        spark, n_entities=40, n_relations=2, dim=8, model="transe",
        optimizer=Adam(lr=0.001, weight_decay=1e-4), seed=23,
        neg_per_pos=2,
    ).fit(kg_triples, epochs=3)
    jm = JoinMergeKGETrainer(
        spark, n_entities=40, n_relations=2, dim=8, model="transe",
        optimizer="adam", lr=0.001, weight_decay=1e-4, seed=23,
        neg_per_pos=2,
    ).fit(kg_triples, epochs=3)
    np.testing.assert_allclose(
        jm.loss_history, driver.loss_history, rtol=1e-9
    )
    E_jm = {r.id: np.array(r.vec) for r in jm.entity_embeddings().collect()}
    for i in range(40):
        np.testing.assert_allclose(E_jm[i], driver.E[i], rtol=1e-9)


def test_joinmerge_rescal_matches_driver_path(spark, kg_triples):
    """Pointwise RESCAL through the join-merge path: same trajectory as
    the driver path (covers the labeled-row gather and the W merge)."""
    from spark_tensors_spark.train import JoinMergeKGETrainer

    driver = KGETrainer(
        spark, n_entities=40, n_relations=2, dim=6, model="rescal",
        optimizer=AdaGrad(lr=0.5), seed=29, neg_per_pos=2,
    ).fit(kg_triples, epochs=3)
    jm = JoinMergeKGETrainer(
        spark, n_entities=40, n_relations=2, dim=6, model="rescal",
        optimizer="adagrad", lr=0.5, seed=29, neg_per_pos=2,
    ).fit(kg_triples, epochs=3)
    np.testing.assert_allclose(
        jm.loss_history, driver.loss_history, rtol=1e-9
    )


def test_joinmerge_never_collects_parameters(spark, kg_triples, monkeypatch):
    """The scale-path guarantee: per epoch only the 1-row loss frame is
    collected — gradients and parameters never pass through the driver."""
    # patch the CONCRETE class: pyspark.sql.DataFrame is the abstract
    # facade in Spark 4, collect() dispatches to classic.dataframe
    from pyspark.sql.classic.dataframe import DataFrame as SparkDF

    from spark_tensors_spark.train import JoinMergeKGETrainer

    collected_sizes = []
    orig = SparkDF.collect

    def spy(self):
        rows = orig(self)
        collected_sizes.append(len(rows))
        return rows

    monkeypatch.setattr(SparkDF, "collect", spy)
    JoinMergeKGETrainer(
        spark, n_entities=40, n_relations=2, dim=8, model="transe",
        seed=31,
    ).fit(kg_triples, epochs=2)
    assert collected_sizes and max(collected_sizes) <= 1, collected_sizes


def test_trainer_deterministic(spark, kg_triples):
    a = KGETrainer(spark, 40, 2, dim=8, model="transe", seed=5)
    b = KGETrainer(spark, 40, 2, dim=8, model="transe", seed=5)
    a.fit(kg_triples, epochs=2)
    b.fit(kg_triples, epochs=2)
    np.testing.assert_array_equal(a.E, b.E)
    assert a.loss_history == b.loss_history


def test_checkpoint_roundtrip(spark, kg_triples, tmp_path):
    """S6/S7 mapping: parquet embeddings + JSON sidecar round-trip."""
    t = KGETrainer(spark, 40, 2, dim=8, model="transe", seed=9)
    t.fit(kg_triples, epochs=2)
    path = str(tmp_path / "ckpt")
    t.save(path)
    back = KGETrainer.load(spark, path)
    np.testing.assert_allclose(back.E, t.E)
    np.testing.assert_allclose(back.R, t.R)
    assert back.loss_history == t.loss_history
    assert back.model == "transe" and back.dim == 8


def test_checkpoint_roundtrip_rescal(spark, kg_triples, tmp_path):
    t = KGETrainer(spark, 40, 2, dim=4, model="rescal", seed=9)
    t.fit(kg_triples, epochs=1)
    path = str(tmp_path / "ckpt_r")
    t.save(path)
    back = KGETrainer.load(spark, path)
    np.testing.assert_allclose(back.W, t.W)


@pytest.mark.parametrize(
    "model,objective",
    [("transe", "pairwise"), ("hole", "pointwise"), ("rescal", "pointwise")],
)
def test_driver_merge_matches_spark_agg(
    spark, kg_triples, model, objective, monkeypatch
):
    """fit()'s driver-merge fast path (≤2-partition frames collect the
    fused per-task gradient partials and merge on the driver) against
    the Spark segment-sum aggregate it replaces, each side forced
    through the ``_driver_merge`` gate.  Pairwise on ≤2 partitions is
    provably bit-exact (≤2 partials per key → float addition
    commutes); the pointwise pos∪neg union re-associates the partial
    sums, pinned here to 1e-12."""
    dim = 6 if model == "rescal" else 8
    tri = kg_triples.coalesce(2)

    def _fit(driver_merge):
        monkeypatch.setattr(
            KGETrainer, "_driver_merge",
            staticmethod(lambda triples: driver_merge),
        )
        return KGETrainer(
            spark, n_entities=40, n_relations=2, dim=dim, model=model,
            optimizer=AdaGrad(lr=0.2), seed=31, neg_per_pos=2,
        ).fit(tri, epochs=3)

    a, b = _fit(True), _fit(False)
    if objective == "pairwise":
        np.testing.assert_array_equal(a.E, b.E)
        assert a.loss_history == b.loss_history
    else:
        np.testing.assert_allclose(a.E, b.E, rtol=1e-12, atol=0)
        np.testing.assert_allclose(
            a.loss_history, b.loss_history, rtol=1e-12
        )
    p_a = a.W if model == "rescal" else a.R
    p_b = b.W if model == "rescal" else b.R
    np.testing.assert_allclose(p_a, p_b, rtol=1e-12, atol=0)


def test_driver_merge_gate_requires_two_partitions(spark, kg_triples):
    """Frames wider than 2 partitions must keep the Spark aggregate
    path (the ≤2-partials exactness argument does not apply there)."""
    t = KGETrainer(
        spark, n_entities=40, n_relations=2, dim=4, model="transe",
        optimizer=AdaGrad(lr=0.2), seed=3, neg_per_pos=1,
    )
    wide = kg_triples.repartition(8)
    calls = []
    orig = KGETrainer._merge_partials

    def spy(parts):
        calls.append(len(parts))
        return orig(parts)

    KGETrainer._merge_partials = staticmethod(spy)
    try:
        t.fit(wide, epochs=1)
        assert calls == []  # wide frame → spark agg, no driver merge
        t2 = KGETrainer(
            spark, n_entities=40, n_relations=2, dim=4, model="transe",
            optimizer=AdaGrad(lr=0.2), seed=3, neg_per_pos=1,
        )
        t2.fit(kg_triples.coalesce(2), epochs=1)
        assert calls  # narrow frame → driver merge engaged
    finally:
        KGETrainer._merge_partials = staticmethod(orig)
