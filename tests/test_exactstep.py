"""Parity of train/exactstep.transe_l1_sgd_step against a pure-Python
full-batch L1-TransE step (reference semantics: the gather → margin
filter → backward → SGD update loop of `TransE.scala:98-134` with L1
distance; violation-gated gradients as in `hole.py:22-42`)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from spark_tensors_spark.train.exactstep import (
    transe_l1_loss_summary,
    transe_l1_sgd_step,
)

DIM = 4
N_ENT = 9
N_REL = 2
MARGIN = 3
LR = 0.5


def _emb_e(i, d):
    return (i * 31 + d * 17) % 13 - 6


def _emb_r(i, d):
    return (i * 29 + d * 23) % 11 - 5


def _python_step(triples):
    E = np.array(
        [[_emb_e(i, d) for d in range(DIM)] for i in range(N_ENT)],
        dtype=np.int64,
    )
    R = np.array(
        [[_emb_r(i, d) for d in range(DIM)] for i in range(N_REL)],
        dtype=np.int64,
    )
    gE = np.zeros_like(E)
    gR = np.zeros_like(R)
    n_viol = 0
    total_loss = 0
    for s, p, o in triples:
        n = (o + 1 + p) % N_ENT
        dp = E[s] + R[p] - E[o]
        dn = E[s] + R[p] - E[n]
        raw = MARGIN + np.abs(dp).sum() - np.abs(dn).sum()
        total_loss += max(0, raw)
        if raw > 0:
            n_viol += 1
            gE[s] += np.sign(dp) - np.sign(dn)
            gE[o] += -np.sign(dp)
            gE[n] += np.sign(dn)
            gR[p] += np.sign(dp) - np.sign(dn)
    newE = E - LR * gE
    newR = R - LR * gR
    return E, R, gE, gR, newE, newR, n_viol, total_loss


@pytest.fixture(scope="module")
def fixtures(spark):
    rng = np.random.RandomState(11)
    triples = [
        (int(rng.randint(N_ENT)), int(rng.randint(N_REL)),
         int(rng.randint(N_ENT)))
        for _ in range(40)
    ]
    triples = sorted(set(triples))
    tri = spark.createDataFrame(
        triples, "s_id long, p_id long, o_id long"
    ).coalesce(1)
    d_seq = F.sequence(F.lit(0), F.lit(DIM - 1))
    E = spark.range(N_ENT).select(
        "id",
        F.transform(
            d_seq, lambda d: ((F.col("id") * 31 + d * 17) % 13 - 6).cast("long")
        ).alias("vec"),
    )
    R = spark.range(N_REL).select(
        "id",
        F.transform(
            d_seq, lambda d: ((F.col("id") * 29 + d * 23) % 11 - 5).cast("long")
        ).alias("vec"),
    )
    return triples, tri, E, R


def test_step_matches_python_reference(spark, fixtures):
    triples, tri, E, R = fixtures
    _, _, gE, gR, newE, newR, _, _ = _python_step(triples)

    out = transe_l1_sgd_step(
        tri, E, R, dim=DIM, n_entities=N_ENT, margin=MARGIN, lr=LR
    ).collect()
    assert len(out) == (N_ENT + N_REL) * DIM
    for row in out:
        if row.kind == "E":
            assert row.old_val == _emb_e(row.id, row.d)
            assert row.grad == gE[row.id][row.d]
            assert row.new_val == newE[row.id][row.d]
        else:
            assert row.kind == "R"
            assert row.old_val == _emb_r(row.id, row.d)
            assert row.grad == gR[row.id][row.d]
            assert row.new_val == newR[row.id][row.d]


def test_loss_summary_matches_python_reference(spark, fixtures):
    triples, tri, E, R = fixtures
    *_, n_viol, total_loss = _python_step(triples)
    row = transe_l1_loss_summary(
        tri, E, R, dim=DIM, n_entities=N_ENT, margin=MARGIN
    ).collect()[0]
    assert row.n_triples == len(triples)
    assert row.n_violations == n_viol
    # total_loss is a DECIMAL(38,0) since r13 (full-KG bilinear losses
    # cross int64); still an exact integer — compare as int
    assert int(row.total_loss) == int(total_loss)


def test_untouched_parameters_unchanged(spark, fixtures):
    """Entities no violating triple touches keep grad 0, new == old."""
    triples, tri, E, R = fixtures
    _, _, gE, _, _, _, _, _ = _python_step(triples)
    untouched = [i for i in range(N_ENT) if not gE[i].any()]
    out = transe_l1_sgd_step(
        tri, E, R, dim=DIM, n_entities=N_ENT, margin=MARGIN, lr=LR
    )
    rows = out.filter(
        (F.col("kind") == "E") & F.col("id").isin(untouched)
    ).collect()
    assert len(rows) == len(untouched) * DIM
    assert all(r.grad == 0 and r.new_val == r.old_val for r in rows)


# ---------------------------------------------------------------------------
# RESCAL / HolE exact steps: parity against the GRADCHECKED float kernels
# (train/models.rescal_pairwise / hole_pairwise) run on the same integer
# inputs — exact integer arithmetic ⇒ identical violation decisions, and
# every float gradient is an exact small integer.
# ---------------------------------------------------------------------------

from spark_tensors_spark.train.exactstep import (  # noqa: E402
    hole_ccorr_sgd_step,
    hole_loss_summary,
    rescal_bilinear_sgd_step,
    rescal_loss_summary,
)
from spark_tensors_spark.train import models  # noqa: E402

R_MARGIN = 2


def _emb_w(p, i, d):
    # flat slot d = i*DIM + j
    j = d % DIM
    return (p * 19 + i * 7 + j * 3) % 9 - 4


def _np_E():
    return np.array(
        [[_emb_e(i, d) for d in range(DIM)] for i in range(N_ENT)],
        dtype=np.float64,
    )


def _np_R():
    return np.array(
        [[_emb_r(i, d) for d in range(DIM)] for i in range(N_REL)],
        dtype=np.float64,
    )


def _np_W():
    return np.array(
        [
            [
                [(p * 19 + i * 7 + j * 3) % 9 - 4 for j in range(DIM)]
                for i in range(DIM)
            ]
            for p in range(N_REL)
        ],
        dtype=np.float64,
    )


def _accumulate(n_rows, width, ids, grads):
    out = np.zeros((n_rows, width))
    np.add.at(out, ids, grads)
    return out


def _spark_w(spark):
    d_seq = F.sequence(F.lit(0), F.lit(DIM * DIM - 1))
    return spark.range(N_REL).select(
        "id",
        F.transform(
            d_seq,
            lambda d: (
                (
                    F.col("id") * 19
                    + F.floor(d / DIM) * 7
                    + (d % DIM) * 3
                )
                % 9
                - 4
            ).cast("long"),
        ).alias("vec"),
    )


def test_rescal_step_matches_gradchecked_kernel(spark, fixtures):
    triples, tri, E, R = fixtures
    s = np.array([t[0] for t in triples])
    p = np.array([t[1] for t in triples])
    o = np.array([t[2] for t in triples])
    n = (o + 1 + p) % N_ENT
    Enp, Wnp = _np_E(), _np_W()
    loss, slots = models.rescal_pairwise(
        Enp, Wnp, s, p, o, n, margin=R_MARGIN
    )
    gE = np.zeros((N_ENT, DIM))
    gW = np.zeros((N_REL, DIM, DIM))
    for kind, ids, g in slots:
        if kind == "E":
            np.add.at(gE, ids, g)
        else:
            np.add.at(gW, ids, g)
    LR = 0.5
    out = rescal_bilinear_sgd_step(
        tri, E, _spark_w(spark), dim=DIM, n_entities=N_ENT,
        margin=R_MARGIN, lr=LR,
    ).collect()
    assert len(out) == N_ENT * DIM + N_REL * DIM * DIM
    for row in out:
        if row.kind == "E":
            want = gE[row.id][row.d]
            assert row.old_val == _emb_e(row.id, row.d)
        else:
            assert row.kind == "W"
            want = gW[row.id][row.d // DIM][row.d % DIM]
            assert row.old_val == _emb_w(row.id, row.d // DIM, row.d)
        assert row.grad == want, (row, want)
        assert row.new_val == row.old_val - LR * want

    lrow = rescal_loss_summary(
        tri, E, _spark_w(spark), dim=DIM, n_entities=N_ENT, margin=R_MARGIN
    ).collect()[0]
    assert lrow.n_triples == len(triples)
    assert lrow.n_violations == int((loss > 0).sum())
    assert lrow.total_loss == int(loss.sum())


def test_hole_step_matches_gradchecked_kernel(spark, fixtures):
    triples, tri, E, R = fixtures
    s = np.array([t[0] for t in triples])
    p = np.array([t[1] for t in triples])
    o = np.array([t[2] for t in triples])
    n = (o + 1 + p) % N_ENT
    Enp, Rnp = _np_E(), _np_R()
    loss, slots = models.hole_pairwise(
        Enp, Rnp, s, p, o, n, margin=R_MARGIN
    )
    gE = np.zeros((N_ENT, DIM))
    gR = np.zeros((N_REL, DIM))
    for kind, ids, g in slots:
        if kind == "E":
            np.add.at(gE, ids, g)
        else:
            np.add.at(gR, ids, g)
    # the FFT kernels return exact integers up to float eps — snap
    gE, gR = np.round(gE), np.round(gR)
    LR = 0.5
    out = hole_ccorr_sgd_step(
        tri, E, R, dim=DIM, n_entities=N_ENT, margin=R_MARGIN, lr=LR
    ).collect()
    assert len(out) == (N_ENT + N_REL) * DIM
    for row in out:
        want = (gE if row.kind == "E" else gR)[row.id][row.d]
        assert row.grad == want, (row, want)
        assert row.new_val == row.old_val - LR * want

    lrow = hole_loss_summary(
        tri, E, R, dim=DIM, n_entities=N_ENT, margin=R_MARGIN
    ).collect()[0]
    assert lrow.n_triples == len(triples)
    assert lrow.n_violations == int((loss > 0).sum())
    assert lrow.total_loss == int(round(loss.sum()))


def test_transe_two_chained_steps_match_python_loop(spark, fixtures):
    """The exact step COMPOSES: feed step 1's updated parameter table
    back in as step 2's parameters and the result still matches a
    two-iteration pure-Python SGD loop bit-for-bit (lr=1 keeps the
    parameters integer so the second gather/margin/sign pass stays
    exact BIGINT arithmetic) — the training LOOP, not just one step,
    is reproducible DataFrame algebra."""
    triples, tri, E, R = fixtures

    def py_step(E, R):
        gE = np.zeros_like(E)
        gR = np.zeros_like(R)
        for s, p, o in triples:
            n = (o + 1 + p) % N_ENT
            dp = E[s] + R[p] - E[o]
            dn = E[s] + R[p] - E[n]
            if MARGIN + np.abs(dp).sum() - np.abs(dn).sum() > 0:
                gE[s] += np.sign(dp) - np.sign(dn)
                gE[o] += -np.sign(dp)
                gE[n] += np.sign(dn)
                gR[p] += np.sign(dp) - np.sign(dn)
        return E - gE, R - gR

    E1, R1 = py_step(_np_E().astype(np.int64), _np_R().astype(np.int64))
    E2, R2 = py_step(E1, R1)

    def rebuild(out_df, kind):
        rows = out_df.filter(F.col("kind") == kind)
        return (
            rows.groupBy("id")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("d", "new_val"))
                    ),
                    lambda s: s["new_val"].cast("long"),
                ).alias("vec")
            )
        )

    step1 = transe_l1_sgd_step(
        tri, E, R, dim=DIM, n_entities=N_ENT, margin=MARGIN, lr=1.0
    ).localCheckpoint()
    step2 = transe_l1_sgd_step(
        tri, rebuild(step1, "E"), rebuild(step1, "R"),
        dim=DIM, n_entities=N_ENT, margin=MARGIN, lr=1.0,
    )
    for row in step2.collect():
        want = (E2 if row.kind == "E" else R2)[row.id][row.d]
        assert row.new_val == want, (row, want)


def test_step_identical_across_join_strategies(spark, fixtures):
    """The tns_mttkrp_shuffle doctrine applied to training: integer
    arithmetic makes the step value-comparable ACROSS physical plans,
    so forcing every gather join onto the shuffle path (no broadcast)
    must reproduce the default plan's output bit-for-bit."""
    triples, tri, E, R = fixtures

    def run():
        return sorted(
            map(
                tuple,
                transe_l1_sgd_step(
                    tri, E, R, dim=DIM, n_entities=N_ENT,
                    margin=MARGIN, lr=LR,
                ).collect(),
            )
        )

    default = run()
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        forced = run()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    assert forced == default


def _py_two_steps(triples, model_fn, E0, P0, margin, accumulate_w=False):
    """Two lr=1 full-batch steps of a gradchecked pairwise kernel —
    the pure-Python loop the chained Spark steps must reproduce."""
    s = np.array([t[0] for t in triples])
    p = np.array([t[1] for t in triples])
    o = np.array([t[2] for t in triples])
    n = (o + 1 + p) % N_ENT
    E, P = E0.copy(), P0.copy()
    for _ in range(2):
        _loss, slots = model_fn(E, P, s, p, o, n, margin=margin)
        gE = np.zeros_like(E)
        gP = np.zeros_like(P)
        for kind, ids, g in slots:
            if kind == "E":
                np.add.at(gE, ids, g)
            else:
                np.add.at(gP, ids, g)
        E = E - np.round(gE)
        P = P - np.round(gP)
    return E, P


@pytest.mark.parametrize("model", ["rescal", "hole"])
def test_two_chained_steps_rescal_hole_match_python_loop(
    spark, fixtures, model
):
    """The exact-step CHAINING property holds for the other two models
    too: rebuild_embedding_table folds step 1's output back into
    parameter tables, and step 2 still matches a two-iteration
    pure-Python loop bit-for-bit (lr=1 keeps parameters integer, so
    the second gather/score/gradient pass stays exact) — the loop
    doctrine of kge_transe_two_step_exact, pinned across the model
    zoo."""
    from spark_tensors_spark.train.exactstep import rebuild_embedding_table

    triples, tri, E, R = fixtures
    if model == "rescal":
        P_spark, pkind = _spark_w(spark), "W"
        E2, P2 = _py_two_steps(
            triples, models.rescal_pairwise, _np_E(), _np_W(), R_MARGIN
        )
        P2 = P2.reshape(N_REL, DIM * DIM)

        def step(E_, P_):
            return rescal_bilinear_sgd_step(
                tri, E_, P_, dim=DIM, n_entities=N_ENT,
                margin=R_MARGIN, lr=1.0,
            )
    else:
        P_spark, pkind = R, "R"
        E2, P2 = _py_two_steps(
            triples, models.hole_pairwise, _np_E(), _np_R(), R_MARGIN
        )

        def step(E_, P_):
            return hole_ccorr_sgd_step(
                tri, E_, P_, dim=DIM, n_entities=N_ENT,
                margin=R_MARGIN, lr=1.0,
            )

    s1 = step(E, P_spark).localCheckpoint()
    s2 = step(
        rebuild_embedding_table(s1, "E"),
        rebuild_embedding_table(s1, pkind),
    )
    for row in s2.collect():
        want = (E2 if row.kind == "E" else P2)[row.id][row.d]
        assert row.new_val == want, (model, row, want)


@pytest.mark.parametrize("model", ["transe", "rescal", "hole"])
def test_as_tables_chain_equals_rebuild_chain(spark, fixtures, model):
    """r14 chain fusion: stepping with ``as_tables=True`` (array-form
    merge, no posexplode → collect_list round-trip) feeds the NEXT step
    parameters bit-identical to the rebuild_embedding_table path, and
    ``slot_filter`` on the final step returns exactly the post-filtered
    rows of the unfiltered step — the two r14 plan changes preserve the
    declared two-step outputs verbatim."""
    from spark_tensors_spark.train.exactstep import rebuild_embedding_table

    triples, tri, E, R = fixtures
    if model == "transe":
        P_spark, pkind, margin = R, "R", MARGIN

        def step(E_, P_, **kw):
            return transe_l1_sgd_step(
                tri, E_, P_, dim=DIM, n_entities=N_ENT,
                margin=MARGIN, lr=1.0, **kw,
            )
    elif model == "rescal":
        P_spark, pkind, margin = _spark_w(spark), "W", R_MARGIN

        def step(E_, P_, **kw):
            return rescal_bilinear_sgd_step(
                tri, E_, P_, dim=DIM, n_entities=N_ENT,
                margin=R_MARGIN, lr=1.0, **kw,
            )
    else:
        P_spark, pkind, margin = R, "R", R_MARGIN

        def step(E_, P_, **kw):
            return hole_ccorr_sgd_step(
                tri, E_, P_, dim=DIM, n_entities=N_ENT,
                margin=R_MARGIN, lr=1.0, **kw,
            )

    # reference chain: per-slot output folded back via rebuild
    s1_slots = step(E, P_spark).localCheckpoint()
    ref2 = step(
        rebuild_embedding_table(s1_slots, "E"),
        rebuild_embedding_table(s1_slots, pkind),
    )
    ref_rows = {
        (r.kind, r.id, r.d): (r.old_val, r.grad, r.new_val)
        for r in ref2.collect()
    }

    # fused chain: array tables between steps + slot_filter on step 2
    s1_tab = step(E, P_spark, as_tables=True).localCheckpoint()
    E1 = s1_tab.filter(F.col("kind") == "E").select("id", "vec")
    P1 = s1_tab.filter(F.col("kind") == pkind).select("id", "vec")
    pred = lambda kind, id: (kind == pkind) | (id % 3 == 0)  # noqa: E731
    got2 = step(E1, P1, slot_filter=pred)
    got_rows = {
        (r.kind, r.id, r.d): (r.old_val, r.grad, r.new_val)
        for r in got2.collect()
    }

    want_rows = {
        k: v
        for k, v in ref_rows.items()
        if k[0] == pkind or k[1] % 3 == 0
    }
    assert got_rows == want_rows
