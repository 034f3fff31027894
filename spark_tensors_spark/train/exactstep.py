"""Exact-arithmetic distributed KGE training steps (TransE, RESCAL,
HolE).

One FULL-BATCH SGD step per model, expressed as DataFrame operations —
gather (join), margin filter, per-parameter segment-sum, SGD update.
Reference semantics mirrored: the gather → margin loss → backward →
update loop of `TransE.scala:98-134` (L2Similarity there; L1 here),
the bilinear RESCAL score sᵀWₚo of `kge/hole.py:145-147` / keras
`holek.py:136-150`, the holographic score r·ccorr(s,o) of
`hole.py:19-20`, and the violation-gated gradient flow of
`hole.py:22-42` (the reference's margin-ranking objective, margin
configs at `kge/hole.py:459`).

Scoring kernels: the per-row O(dim²) score / backward vectors of
each model are computed by one Arrow-vectorized numpy kernel
(``mapInPandas`` over the gathered rows — whole int64 batches through
BLAS-free numpy C loops; guide §4.2), because Spark's higher-order
array functions (``aggregate``/``transform``/``zip_with``) do not
participate in whole-stage codegen — every lambda evaluation is
interpreted, and the kge bench family spent its time there (measured;
the expression-tree unroll alternative was measured WORSE, see
OPTIMIZATION_r14.md).  numpy int64 arithmetic has Java-long wrap
semantics, and every value in these kernels is magnitude-bounded far
below 2⁶³ (ternary / ±6 inits), so the kernels are exact; every
parameter slot of each step is pinned against a gradient-checked
numpy reference in tests/test_exactstep.py.  The batch plumbing all
three share lives in ``_score_batches``.  Everything around the
kernel — margin filter, gradient explode, segment-sum, join-merge
update — stays pure JVM codegen.

Why integers: on integer embeddings the L1 distance (TransE), the
bilinear form (RESCAL), the circular-correlation score (HolE), the
margin test, and every gradient component are exact BIGINT arithmetic,
and with a power-of-two learning rate the updated parameters are exact
dyadic doubles — so each whole step is bit-reproducible across engines
and can sit under a DuckDB value oracle (the EWMA α=½ /
histogram-rank doctrine applied to training).  HolE needs no FFT for
this: ccorr/cconv are stated by their index algebra
(ccorr(a,b)ₖ = Σᵢ aᵢ·b₍ᵢ₊ₖ₎ mod d, cconv(a,b)ₖ = Σᵢ aᵢ·b₍ₖ₋ᵢ₎ mod d),
the same sums the production FFT kernels (`functions/kernels.py`)
compute in O(d log d) — parity between the two is property-tested in
tests/test_kernels.py.

At 100 TB scale this is the shape that matters: embeddings live in a
TABLE (never a driver matrix), the entity/relation gathers are
shuffle joins on the id key, the gradient aggregation is one
map-side-combinable groupBy per parameter kind, and the update is a
join-merge projection — the same topology as `train/joinmerge.py`'s
float trainer, with no collect anywhere.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def _gather_joined(
    triples: DataFrame,
    entity_emb: DataFrame,
    rel_tab: DataFrame,
    n_entities: int,
    rel_col: str,
) -> DataFrame:
    """Shared gather: deterministic corruption + three entity joins +
    one relation join → one row per triple carrying the four parameter
    vectors (sv, <rel_col>, ov, nv)."""
    t = _with_negative(triples, n_entities)
    e = entity_emb.select("id", "vec")
    r = rel_tab.select("id", "vec")
    return (
        t.join(e.select(F.col("id").alias("s_id"), F.col("vec").alias("sv")), "s_id")
        .join(r.select(F.col("id").alias("p_id"), F.col("vec").alias(rel_col)), "p_id")
        .join(e.select(F.col("id").alias("o_id"), F.col("vec").alias("ov")), "o_id")
        .join(e.select(F.col("id").alias("n_id"), F.col("vec").alias("nv")), "n_id")
    )


_IDS = ["s_id", "p_id", "o_id", "n_id"]


def _stack(pdf: pd.DataFrame, col: str) -> np.ndarray:
    """(n, d) int64 matrix from a pandas column of int arrays."""
    return np.stack(pdf[col].to_numpy()).astype(np.int64, copy=False)


def _score_batches(
    g: DataFrame, ins: list[str], kernel, out_schema: str
) -> DataFrame:
    """Run a numpy scoring ``kernel`` over the gathered rows, one Arrow
    batch at a time — the single site of the batch format.  The kernel
    takes one (n, d) int64 matrix per ``ins`` column and returns a dict
    of output columns (2-D matrices become array columns, 1-D vectors
    scalar columns), typed by ``out_schema``; the ``_IDS`` key columns
    pass through unchanged."""

    def batch(it):
        for pdf in it:
            if not len(pdf):
                continue
            out = kernel(*(_stack(pdf, c) for c in ins))
            yield pd.DataFrame(
                {
                    **{c: pdf[c].to_numpy() for c in _IDS},
                    **{k: list(v) if v.ndim == 2 else v
                       for k, v in out.items()},
                }
            )

    return g.select(*_IDS, *ins).mapInPandas(
        batch, "s_id long, p_id long, o_id long, n_id long, " + out_schema
    )


def _np_ccorr(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise ccorr(a,b)ₖ = Σᵢ aᵢ·b₍ᵢ₊ₖ₎ mod d on (n, d) int64."""
    d = a.shape[1]
    return np.stack(
        [(a * np.roll(b, -k, axis=1)).sum(axis=1) for k in range(d)],
        axis=1,
    )


def _np_cconv(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise cconv(a,b)ₖ = Σᵢ aᵢ·b₍ₖ₋ᵢ₎ mod d on (n, d) int64."""
    d = a.shape[1]
    idx = (np.arange(d)[:, None] - np.arange(d)[None, :]) % d  # [k, i]
    return np.stack(
        [(a * b[:, idx[k]]).sum(axis=1) for k in range(d)], axis=1
    )


def _gather_and_score(
    triples: DataFrame,
    entity_emb: DataFrame,
    relation_emb: DataFrame,
    n_entities: int,
    margin: int,
) -> DataFrame:
    """Shared TransE gather + scoring — the single source both the SGD
    step and the loss summary derive from (they must never drift
    apart).  Output: (s_id, p_id, o_id, n_id, sp, sn, raw_loss) where
    sp/sn are the sign vectors of s+p−o⁺ / s+p−o⁻ (the only function
    of the differences the backward pass needs) and raw_loss the raw
    margin loss, exact BIGINT."""
    g = _gather_joined(triples, entity_emb, relation_emb, n_entities, "pv")

    def kernel(s, p, o, nv):
        sp_ = s + p
        dp = sp_ - o
        dn = sp_ - nv
        return {
            "sp": np.sign(dp),
            "sn": np.sign(dn),
            "raw_loss": margin
            + np.abs(dp).sum(axis=1)
            - np.abs(dn).sum(axis=1),
        }

    return _score_batches(
        g, ["sv", "pv", "ov", "nv"], kernel,
        "sp array<long>, sn array<long>, raw_loss long",
    )


def transe_l1_sgd_step(
    triples: DataFrame,
    entity_emb: DataFrame,
    relation_emb: DataFrame,
    dim: int,
    n_entities: int,
    margin: int = 4,
    lr: float = 0.25,
    scored: DataFrame | None = None,
    as_tables: bool = False,
    slot_filter=None,
) -> DataFrame:
    """One full-batch L1-TransE SGD step over integer embeddings.

    Parameters
    ----------
    triples : DataFrame(s_id, p_id, o_id) — positive triples.
    entity_emb : DataFrame(id, vec array<bigint> of length ``dim``).
    relation_emb : DataFrame(id, vec array<bigint> of length ``dim``).
    n_entities : corruption modulus for the deterministic negative
        ``o_neg = (o_id + 1 + p_id) % n_entities`` (the reference
        corrupts the tail with a random entity, `TransE.scala:94`;
        seeded determinism is this repo's doctrine).
    margin : integer margin of max(0, margin + ‖s+p−o⁺‖₁ − ‖s+p−o⁻‖₁).
    lr : learning rate; MUST be a power of two for dyadic exactness.

    Returns (kind, id, d, old_val, grad, new_val):
      kind 'E'/'R', old_val/grad BIGINT, new_val = old − lr·grad
      (exact dyadic DOUBLE).  Covers every parameter slot of the two
      embedding tables (grad 0 where no violating triple touches it).

    ``scored``: a precomputed (e.g. localCheckpointed)
    ``_gather_and_score`` frame — pass the SAME one to the loss
    summary so the gather pipeline is planned once, not once per
    consumer.

    ``as_tables``: return the updated parameters directly as array
    TABLES (kind, id, vec) — arithmetic identical to the per-slot
    output folded through ``rebuild_embedding_table``, but without the
    dim× posexplode → collect_list round-trip (used between chained
    steps; requires integer-closed lr).  ``slot_filter``: optional
    ``(kind_col, id_col) -> Column`` predicate applied to the gradient
    contributions AND the parameter table before the merge — valid
    because both the segment-sum and the update are keyed on exactly
    (kind, id), so pre-filtering equals post-filtering the output rows
    (used when the caller only declares a (kind, id)-filtered slice).
    """
    if scored is None:
        scored = _gather_and_score(
            triples, entity_emb, relation_emb, n_entities, margin
        )

    # margin filter: gradients flow only through violations (P4 shape)
    viol = scored.filter(F.col("raw_loss") > 0)
    gh = F.zip_with("sp", "sn", lambda a, b: a - b)
    contrib = viol.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("E").alias("kind"),
                    F.col("s_id").alias("id"),
                    gh.alias("g"),
                ),
                F.struct(
                    F.lit("E").alias("kind"),
                    F.col("o_id").alias("id"),
                    F.transform("sp", lambda x: -x).alias("g"),
                ),
                F.struct(
                    F.lit("E").alias("kind"),
                    F.col("n_id").alias("id"),
                    F.col("sn").alias("g"),
                ),
                F.struct(
                    F.lit("R").alias("kind"),
                    F.col("p_id").alias("id"),
                    gh.alias("g"),
                ),
            )
        ).alias("c")
    ).select("c.kind", "c.id", "c.g")

    if slot_filter is not None:
        contrib = contrib.filter(slot_filter(F.col("kind"), F.col("id")))

    # segment-sum without exploding dims (A6 shape, trainer.py doctrine)
    grads = _segment_sum_wide(contrib, dim)

    params = entity_emb.select(
        F.lit("E").alias("kind"), "id", "vec"
    ).unionByName(
        relation_emb.select(F.lit("R").alias("kind"), "id", "vec")
    )
    if slot_filter is not None:
        params = params.filter(slot_filter(F.col("kind"), F.col("id")))

    hint = n_entities // 37 if slot_filter is not None else n_entities
    if as_tables:
        return _merge_update_tables(params, grads, dim, lr, hint)
    return _merge_update(params, grads, dim, lr, hint)


def _with_negative(triples: DataFrame, n_entities: int) -> DataFrame:
    """Deterministic tail corruption n = (o+1+p) mod N — the reference
    corrupts with a random entity (`TransE.scala:94`); seeded
    determinism is this repo's oracle doctrine."""
    return triples.select(
        "s_id",
        "p_id",
        "o_id",
        ((F.col("o_id") + 1 + F.col("p_id")) % F.lit(n_entities)).alias(
            "n_id"
        ),
    )


def _segment_sum_wide(contrib: DataFrame, width: int) -> DataFrame:
    """(kind, id, g array) → per-parameter summed gradient via ONE
    map-side-combinable hash aggregate (A6 shape, no explode)."""
    return (
        contrib.groupBy("kind", "id")
        .agg(
            *[
                F.sum(F.get("g", i)).cast("long").alias(f"_g{i}")
                for i in range(width)
            ]
        )
        .select(
            "kind",
            "id",
            F.array(*[F.col(f"_g{i}") for i in range(width)]).alias("g"),
        )
    )


# Same work unit and threshold as queries.mlops._kernel_parts: one
# "op" ≈ one interpreted lambda evaluation; the merge kernel is one
# zip_with over `width` elements per row.
# r15 recalibration: the array-form chain merge (join + zip_with +
# checkpoint write) measures ~1.4 µs per row·width element — ~5× the
# interpreted-lambda estimate the original 2M budget assumed — so the
# full-KG intermediate merges of the multi-step chains (n_ent·dim
# ≈ 1.3M at sf0.1) fell under the threshold and ran as single-task
# 1.6-1.9 s stages (profiled).  400k ⇒ ~0.5 s tasks; in-process A/B
# (alternating, min-of-3): hole_two_step_entity 0.92×,
# rescal_two_step_entity 0.94×, transe_three_step_entity 0.98×, no
# regression on the subset queries (their slot-filtered merges stay
# below threshold and keep skipping the spread).
_MERGE_OPS_PER_TASK = 400_000


def _params_spread(
    params: DataFrame, n_rows_hint: int | None, width: int
) -> DataFrame:
    """Hash-repartition the parameter table on its join key before the
    merge join, sized by KERNEL WORK (rows × update width).  The
    gradient side is a Generate-fed aggregate whose pre-runtime size
    estimate is unknown, so the initial plan is always an SMJ that
    exchanges the params side under ENSURE_REQUIREMENTS — and AQE then
    coalesces that exchange by BYTES (a few MB ⇒ 1-2 tasks),
    serializing the update kernel even when the runtime plan flips to
    a broadcast join.  A user-numbered repartition on the same key
    satisfies the join's distribution requirement (so it replaces, not
    adds to, the exchange) and is exempt from AQE coalescing (guide
    §2.5: partition by compute when bytes misrepresent cost).  Clamped
    to defaultParallelism — scales with both data and cluster; skipped
    when the update work is too small to beat the 1-2 tasks AQE
    already produces (measured: an unconditional 32-way pin cost
    1.1-1.2× on the subset-KG two-step queries, whose merge is cheap,
    while the sf0.1 merges all fall below this threshold)."""
    if n_rows_hint is None:
        return params
    spark = params.sparkSession
    parts = max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            -(-(n_rows_hint * width) // _MERGE_OPS_PER_TASK),
        ),
    )
    if parts <= 2:
        return params
    return params.repartition(parts, "kind", "id")


def _merge_update(
    params: DataFrame,
    grads: DataFrame,
    width: int,
    lr: float,
    n_rows_hint: int | None = None,
) -> DataFrame:
    """LEFT-JOIN merge + dyadic SGD update → one row per parameter slot
    (kind, id, d, old_val, grad, new_val)."""
    zero = F.lit(0).cast("long")
    merged = _params_spread(params, n_rows_hint, width).join(
        grads, ["kind", "id"], "left"
    )
    return merged.select(
        "kind",
        "id",
        F.posexplode(
            F.zip_with(
                "vec",
                F.coalesce("g", F.array_repeat(zero, width)),
                lambda v, gr: F.struct(
                    v.alias("old_val"), gr.alias("grad")
                ),
            )
        ).alias("d", "s"),
    ).select(
        "kind",
        "id",
        F.col("d").cast("long").alias("d"),
        F.col("s.old_val").alias("old_val"),
        F.col("s.grad").alias("grad"),
        (
            F.col("s.old_val")
            - F.lit(lr).cast("double") * F.col("s.grad")
        ).alias("new_val"),
    )


def _merge_update_tables(
    params: DataFrame,
    grads: DataFrame,
    width: int,
    lr: float,
    n_rows_hint: int | None = None,
) -> DataFrame:
    """LEFT-JOIN merge + dyadic SGD update kept in ARRAY form — one row
    per parameter VECTOR (kind, id, vec), element arithmetic identical
    to ``_merge_update`` followed by ``rebuild_embedding_table``
    ((old − lr·grad) through DOUBLE, then the integer-closure cast back
    to BIGINT), but without materializing width× per-slot rows or the
    collect_list/array_sort re-assembly shuffle.  Chaining operator for
    the exact training loops (valid only at integer-closed lr, same
    contract as rebuild_embedding_table)."""
    zero = F.lit(0).cast("long")
    merged = _params_spread(params, n_rows_hint, width).join(
        grads, ["kind", "id"], "left"
    )
    return merged.select(
        "kind",
        "id",
        F.zip_with(
            "vec",
            F.coalesce("g", F.array_repeat(zero, width)),
            lambda v, gr: (
                v - F.lit(lr).cast("double") * gr
            ).cast("long"),
        ).alias("vec"),
    )


def _loss_row(scored: DataFrame) -> DataFrame:
    """1-row (n_triples, n_violations, total_loss) off a scored gather
    frame carrying ``raw_loss`` (exact BIGINT).  total_loss sums
    through DECIMAL(38,0): per-triple raw losses are int64-bounded,
    but the FULL-KG bilinear loops sum ~1e15 losses over ~1e5 triples
    — past int64, where a long sum would wrap silently while DuckDB's
    HUGEINT sum stays exact.  The decimal sum is exact on both engines
    and the downstream double cast is a correctly-rounded conversion
    of the same integer."""
    return scored.agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.sum(F.when(F.col("raw_loss") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_violations"),
        F.sum(
            F.greatest(F.lit(0).cast("long"), F.col("raw_loss")).cast(
                "decimal(38,0)"
            )
        ).alias("total_loss"),
    )


def _rescal_gather_score(
    triples: DataFrame,
    entity_emb: DataFrame,
    rel_w: DataFrame,
    dim: int,
    n_entities: int,
    margin: int,
) -> DataFrame:
    """Shared RESCAL gather + scoring pipeline: three entity joins +
    one relation-matrix join, then the bilinear kernel
    (`kge/hole.py:145-147` objective) — raw pairwise margin loss plus
    every vector the backward pass consumes: up = Wₚo⁺, un = Wₚo⁻,
    vv = Wₚᵀs and the flattened outer-product relation gradient
    gw[i·d+j] = sᵢ·(o⁻ⱼ − o⁺ⱼ).

    Accepted footprint tradeoff (ADVICE r14): gw is dim²-wide and built
    for ALL gathered rows, so the scored frame carries dim²·n_triples
    bigints even for loss-summary-only consumers — measured neutral at
    the bench dims (d ≤ 8) but quadratic in dim.  If larger dims are
    ever used, move the gw build behind the raw_loss > 0 filter (a
    second small mapInPandas over violations only)."""
    g = _gather_joined(triples, entity_emb, rel_w, n_entities, "wv")

    def kernel(s, wv, o, nv):
        w3 = wv.reshape(-1, dim, dim)
        up = np.einsum("nij,nj->ni", w3, o)
        un = np.einsum("nij,nj->ni", w3, nv)
        return {
            "up": up,
            "un": un,
            "vv": np.einsum("nij,ni->nj", w3, s),
            "gw": (s[:, :, None] * (nv - o)[:, None, :]).reshape(
                -1, dim * dim
            ),
            "raw_loss": margin
            - (s * up).sum(axis=1)
            + (s * un).sum(axis=1),
        }

    return _score_batches(
        g, ["sv", "wv", "ov", "nv"], kernel,
        "up array<long>, un array<long>, vv array<long>, "
        "gw array<long>, raw_loss long",
    )


def rescal_bilinear_sgd_step(
    triples: DataFrame,
    entity_emb: DataFrame,
    rel_w: DataFrame,
    dim: int,
    n_entities: int,
    margin: int = 2,
    lr: float = 0.25,
    scored: DataFrame | None = None,
    as_tables: bool = False,
    slot_filter=None,
) -> DataFrame:
    """One full-batch pairwise margin-ranking RESCAL SGD step over
    integer parameters — the reference's actual RESCAL objective
    (`kge/hole.py:145-147`: loss = max(0, margin − sᵀWₚo⁺ + sᵀWₚo⁻),
    violation-gated gradients; bilinear score `holek.py:136-150`).

    ``rel_w``: (id, vec array<bigint> of length dim²), W row-major.
    Gradients (exact integer algebra, matching
    `train/models.rescal_pairwise_g`):
      ∂/∂s = Wₚ(o⁻ − o⁺) = un − up;  ∂/∂o⁺ = −Wₚᵀs;  ∂/∂o⁻ = +Wₚᵀs;
      ∂/∂W[i,j] = sᵢ·(o⁻ⱼ − o⁺ⱼ).
    Returns one row per parameter slot — kind 'E' (slot d ∈ [0,dim))
    and kind 'W' (slot d = i·dim+j ∈ [0,dim²)) — with
    new_val = old − lr·grad exact dyadic.  ``scored``: precomputed
    `_rescal_gather_score` frame shared with the loss summary."""
    if scored is None:
        scored = _rescal_gather_score(
            triples, entity_emb, rel_w, dim, n_entities, margin
        )
    viol = scored.filter(F.col("raw_loss") > 0)

    e_contrib = viol.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("E").alias("kind"),
                    F.col("s_id").alias("id"),
                    F.zip_with("un", "up", lambda a, b: a - b).alias("g"),
                ),
                F.struct(
                    F.lit("E").alias("kind"),
                    F.col("o_id").alias("id"),
                    F.transform("vv", lambda x: -x).alias("g"),
                ),
                F.struct(
                    F.lit("E").alias("kind"),
                    F.col("n_id").alias("id"),
                    F.col("vv").alias("g"),
                ),
            )
        ).alias("c")
    ).select("c.kind", "c.id", "c.g")

    w_contrib = viol.select(
        F.lit("W").alias("kind"),
        F.col("p_id").alias("id"),
        F.col("gw").alias("g"),
    )

    e_params = entity_emb.select(F.lit("E").alias("kind"), "id", "vec")
    w_params = rel_w.select(F.lit("W").alias("kind"), "id", "vec")
    if slot_filter is not None:
        e_contrib = e_contrib.filter(
            slot_filter(F.col("kind"), F.col("id"))
        )
        w_contrib = w_contrib.filter(
            slot_filter(F.col("kind"), F.col("id"))
        )
        e_params = e_params.filter(slot_filter(F.col("kind"), F.col("id")))
        w_params = w_params.filter(slot_filter(F.col("kind"), F.col("id")))
    merge = _merge_update_tables if as_tables else _merge_update
    e_hint = n_entities // 37 if slot_filter is not None else n_entities
    out_e = merge(
        e_params, _segment_sum_wide(e_contrib, dim), dim, lr, e_hint
    )
    out_w = merge(
        w_params, _segment_sum_wide(w_contrib, dim * dim), dim * dim, lr,
        None,  # relation-matrix table is n_rel rows — tiny
    )
    return out_e.unionByName(out_w)


def rescal_loss_summary(
    triples: DataFrame,
    entity_emb: DataFrame,
    rel_w: DataFrame,
    dim: int,
    n_entities: int,
    margin: int = 2,
    scored: DataFrame | None = None,
) -> DataFrame:
    """1-row loss summary for the SAME RESCAL step (pass the step's
    ``scored`` frame to share the computation, not just the code)."""
    if scored is None:
        scored = _rescal_gather_score(
            triples, entity_emb, rel_w, dim, n_entities, margin
        )
    return _loss_row(scored)


def _hole_gather_score(
    triples: DataFrame,
    entity_emb: DataFrame,
    relation_emb: DataFrame,
    dim: int,
    n_entities: int,
    margin: int,
) -> DataFrame:
    """Shared HolE gather + scoring: score = r·ccorr(s,o)
    (`hole.py:19-20`), pairwise margin loss, plus every correlation
    vector the backward pass consumes — cp = ccorr(s,o⁺),
    cn = ccorr(s,o⁻), gs = ccorr(r,o⁻) − ccorr(r,o⁺) (the subject
    gradient) and cv = cconv(s,r) (±the object gradients)."""
    g = _gather_joined(triples, entity_emb, relation_emb, n_entities, "rv")

    def kernel(s, r, o, nv):
        cp = _np_ccorr(s, o)
        cn = _np_ccorr(s, nv)
        return {
            "cp": cp,
            "cn": cn,
            "gs": _np_ccorr(r, nv) - _np_ccorr(r, o),
            "cv": _np_cconv(s, r),
            "raw_loss": margin
            - (r * cp).sum(axis=1)
            + (r * cn).sum(axis=1),
        }

    return _score_batches(
        g, ["sv", "rv", "ov", "nv"], kernel,
        "cp array<long>, cn array<long>, gs array<long>, "
        "cv array<long>, raw_loss long",
    )


def hole_ccorr_sgd_step(
    triples: DataFrame,
    entity_emb: DataFrame,
    relation_emb: DataFrame,
    dim: int,
    n_entities: int,
    margin: int = 2,
    lr: float = 0.25,
    scored: DataFrame | None = None,
    as_tables: bool = False,
    slot_filter=None,
) -> DataFrame:
    """One full-batch pairwise margin-ranking HolE SGD step over
    integer embeddings — score r·ccorr(s,o) (`hole.py:19-20`),
    margin objective and violation gating as in `hole.py:22-58`.

    Gradient index algebra (matching `train/models.hole_pairwise_g`):
      ∂/∂r = ccorr(s,o⁻) − ccorr(s,o⁺);
      ∂/∂s = ccorr(r,o⁻) − ccorr(r,o⁺);
      ∂/∂o⁺ = −cconv(s,r);  ∂/∂o⁻ = +cconv(s,r).
    All four are width-dim — one explode + ONE wide segment-sum, the
    exact transe_l1_sgd_step topology.  ``scored``: precomputed
    `_hole_gather_score` frame shared with the loss summary."""
    if scored is None:
        scored = _hole_gather_score(
            triples, entity_emb, relation_emb, dim, n_entities, margin
        )
    viol = scored.filter(F.col("raw_loss") > 0)
    contrib = viol.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("E").alias("kind"),
                    F.col("s_id").alias("id"),
                    F.col("gs").alias("g"),
                ),
                F.struct(
                    F.lit("E").alias("kind"),
                    F.col("o_id").alias("id"),
                    F.transform("cv", lambda x: -x).alias("g"),
                ),
                F.struct(
                    F.lit("E").alias("kind"),
                    F.col("n_id").alias("id"),
                    F.col("cv").alias("g"),
                ),
                F.struct(
                    F.lit("R").alias("kind"),
                    F.col("p_id").alias("id"),
                    F.zip_with("cn", "cp", lambda a, b: a - b).alias("g"),
                ),
            )
        ).alias("c")
    ).select("c.kind", "c.id", "c.g")

    params = entity_emb.select(
        F.lit("E").alias("kind"), "id", "vec"
    ).unionByName(
        relation_emb.select(F.lit("R").alias("kind"), "id", "vec")
    )
    if slot_filter is not None:
        contrib = contrib.filter(slot_filter(F.col("kind"), F.col("id")))
        params = params.filter(slot_filter(F.col("kind"), F.col("id")))
    merge = _merge_update_tables if as_tables else _merge_update
    hint = n_entities // 37 if slot_filter is not None else n_entities
    return merge(params, _segment_sum_wide(contrib, dim), dim, lr, hint)


def hole_loss_summary(
    triples: DataFrame,
    entity_emb: DataFrame,
    relation_emb: DataFrame,
    dim: int,
    n_entities: int,
    margin: int = 2,
    scored: DataFrame | None = None,
) -> DataFrame:
    """1-row loss summary for the SAME HolE step (pass the step's
    ``scored`` frame to share the computation, not just the code)."""
    if scored is None:
        scored = _hole_gather_score(
            triples, entity_emb, relation_emb, dim, n_entities, margin
        )
    return _loss_row(scored)


def transe_l1_loss_summary(
    triples: DataFrame,
    entity_emb: DataFrame,
    relation_emb: DataFrame,
    dim: int,
    n_entities: int,
    margin: int = 4,
    scored: DataFrame | None = None,
) -> DataFrame:
    """1-row (n_triples, n_violations, total_loss) for the SAME step —
    total_loss = Σ max(0, margin + ‖·‖₁ − ‖·‖₁), exact BIGINT.  Derives
    from the same _gather_and_score pipeline as the SGD step (pass the
    step's ``scored`` frame to share the computation, not just the
    code)."""
    if scored is None:
        scored = _gather_and_score(
            triples, entity_emb, relation_emb, n_entities, margin
        )
    return _loss_row(scored)


def rebuild_embedding_table(step_out: DataFrame, kind: str) -> DataFrame:
    """Fold a step's (kind, id, d, …, new_val) output back into an
    embedding TABLE (id, vec array<bigint>) so the next step can
    consume it — the chaining operator that turns one exact step into
    an exact training LOOP (reference loop shape: `TransE.scala:114-134`
    iterates exactly this update→gather cycle; `base.py:470-492` the
    same per-epoch).

    Only valid when the step's parameters stay INTEGER (lr=1, or any
    integer lr): ``new_val`` is cast back to BIGINT, which is exact for
    integer-valued doubles ≤ 2⁵³ and would silently truncate fractional
    dyadics — the caller picks the lr that makes the loop closed over
    the integers.

    Shape at scale: one hash aggregate keyed on (id) — same topology as
    the segment-sum the step itself runs; no collect, no explode."""
    return (
        step_out.filter(F.col("kind") == kind)
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "new_val"))),
                lambda s: s["new_val"].cast("long"),
            ).alias("vec")
        )
    )
