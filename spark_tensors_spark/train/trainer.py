"""Distributed minibatch KGE trainer (SURVEY §3.3 Spark-native lifecycle).

Per epoch (one Catalyst-planned job per phase):
  1. negatives drawn by the deterministic samplers (kg.sampling, seed
     varies per epoch) → pairwise (TransE) or labeled pointwise
     (RESCAL/HolE) training rows;
  2. ``mapInPandas`` computes batch gradients with the *broadcast*
     parameter matrices (numpy, Arrow batches) and pre-aggregates per id
     within the batch (np.add.at) — map-side combine;
  3. ``applyInPandas`` segment-sums gradients per (param, id) — the A6
     `grad_sum_matrix` semantics (`util.py:53-60`) including mean
     normalization by multiplicity;
  4. the driver applies the optimizer step (F13) and re-broadcasts.

Scale notes: parameter matrices are MBs at reference scale (14,951×100
floats ≈ 6 MB — SURVEY §4.3) so broadcast-per-epoch is the right
physical plan; at 100 TB-triples scale the same loop holds but steps 3–4
become a join-merge against an embeddings DataFrame (documented, not v1).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_tensors_spark.functions.init import init_matrix_np
from spark_tensors_spark.kg import sampling
from spark_tensors_spark.train import models as M
from spark_tensors_spark.train.optim import AdaGrad


def segment_sum_arrays(contrib: DataFrame, max_width: int) -> DataFrame:
    """A6 segment-sum over gradient-array rows WITHOUT exploding: each
    component is summed as its own aggregate column (`F.get` stays in
    whole-stage codegen), so the shuffle moves one array row per
    (param, id) contribution instead of `width` exploded rows — at
    dim=16 that is 16× less shuffle volume and a 16× smaller collect.

    One groupBy covers every parameter (single scan of the gradient
    batches — no per-param union branches, which would re-run the
    Python gradient workers once per branch): arrays shorter than
    ``max_width`` aggregate to trailing NULLs (``F.get`` past the end),
    and consumers slice each parameter back to its own width.

    Returns (param, id, g array<double> of component sums padded to
    max_width, c total multiplicity).
    """
    return (
        contrib.groupBy("param", "id")
        .agg(
            *[
                F.sum(F.get("g", i)).alias(f"_g{i}")
                for i in range(max_width)
            ],
            F.sum("cnt").alias("c"),
        )
        .select(
            "param",
            "id",
            F.array(*[F.col(f"_g{i}") for i in range(max_width)]).alias("g"),
            "c",
        )
    )


def build_training_rows(
    triples: DataFrame,
    epoch: int,
    seed: int,
    objective: str,
    neg_per_pos: int,
    n_entities: int,
) -> DataFrame:
    """Deterministic per-epoch training rows, shared by the driver-side
    trainer and the join-merge scale trainer: pairwise → explicit
    (positive, corrupted-object) pairs; pointwise → ±1-labeled rows."""
    ep_seed = seed * 1_000_003 + epoch
    if objective == "pairwise":
        base = triples.withColumn(
            "_k", F.explode(F.sequence(F.lit(1), F.lit(neg_per_pos)))
        )
        neg_o = F.pmod(
            F.xxhash64("s_id", "p_id", "o_id", "_k", F.lit(ep_seed)),
            F.lit(n_entities),
        ).cast("long")
        return base.select(
            "s_id", "p_id", "o_id", neg_o.alias("o_neg")
        ).filter(F.col("o_neg") != F.col("o_id"))
    negs = sampling.random_mode_sampler(
        triples, n_entities, n=neg_per_pos, seed=ep_seed, mode="o"
    )
    return sampling.with_positives(triples, negs)


# Above this entity count, evaluate() ranks via the table-streaming
# aggregate path (kg/eval.rank_against_all_entities_agg) instead of
# shipping the full E matrix in every ranking task's closure — the
# closure path's memory is O(N·d) per task and is the first thing to
# break at 100× entities (VERDICT r10 #3); the agg path's closure is
# O(|test|·d) regardless of N.  FB15k (14,951) is deliberately above
# the threshold so the real-data golden test exercises the scale path.
AGG_RANK_ENTITY_THRESHOLD = 10_000


class KGETrainer:
    """model ∈ {'transe', 'rescal', 'hole'}."""

    def __init__(
        self,
        spark: SparkSession,
        n_entities: int,
        n_relations: int,
        dim: int = 16,
        model: str = "transe",
        margin: float = 1.0,
        optimizer=None,
        seed: int = 42,
        neg_per_pos: int = 1,
        objective: str | None = None,
    ):
        self.spark = spark
        self.model = model
        # reference parity: TransE trains pairwise-margin, RESCAL/HolE
        # default pointwise-logistic here, but the reference's RESCAL
        # margin objective (`kge/hole.py:145-147`) is selectable for all
        # three via objective='pairwise'
        if objective is None:
            objective = "pairwise" if model == "transe" else "pointwise"
        if model == "transe" and objective != "pairwise":
            raise ValueError("transe implements only the pairwise objective")
        self.objective = objective
        self.margin = margin
        self.seed = seed
        self.neg = neg_per_pos
        self.n_entities = n_entities
        self.n_relations = n_relations
        self.dim = dim
        self.opt = optimizer or AdaGrad(lr=0.1)

        ent_ids = np.arange(n_entities)
        rel_ids = np.arange(n_relations)
        self.E = init_matrix_np(seed, ent_ids, dim, "nunif")
        if model == "rescal":
            self.W = init_matrix_np(seed + 1, rel_ids, dim * dim, "nunif").reshape(
                n_relations, dim, dim
            )
        else:
            self.R = init_matrix_np(seed + 1, rel_ids, dim, "nunif")
        self.loss_history: list[float] = []

    # ------------------------------------------------------------ epoch

    def _training_rows(self, triples: DataFrame, epoch: int) -> DataFrame:
        """Pairwise rows for TransE; pointwise ±1-labeled for others."""
        return build_training_rows(
            triples, epoch, self.seed, self.objective, self.neg,
            self.n_entities,
        )

    def _epoch_gradients(self, rows: DataFrame, fuse_partition: bool = False):
        model = self.model
        margin = self.margin
        pairwise = self.objective == "pairwise"
        # explicit broadcast: matrices in the task closure would be
        # re-pickled into every task binary (10+ MB at 166k entities);
        # broadcast ships once per executor and Python workers read it
        # from the local spill file
        bc = self.spark.sparkContext.broadcast(
            (self.E, self.W if model == "rescal" else self.R)
        )

        def batch_grads(batches):
            E, P = bc.value  # noqa: N806
            # fuse_partition: accumulate across the partition's Arrow
            # batches and emit ONE partial frame per task, so each
            # (param, id) key has exactly one partial per PARTITION.
            # On the smoke-scale frames (≤1 batch per partition) this
            # is the identity; it exists so the driver-merge fast path
            # in fit() sees a provable ≤2-partials-per-key bound.
            part_acc: dict = {}
            part_loss = [0.0, 0]

            for pdf in batches:
                s = pdf["s_id"].to_numpy()
                p = pdf["p_id"].to_numpy()
                o = pdf["o_id"].to_numpy()
                if pairwise:
                    o_neg = pdf["o_neg"].to_numpy()
                    fn = {
                        "transe": M.transe_pairwise,
                        "rescal": M.rescal_pairwise,
                        "hole": M.hole_pairwise,
                    }[model]
                    loss, grads = fn(E, P, s, p, o, o_neg, margin)
                elif model == "rescal":
                    loss, grads = M.rescal_pointwise(
                        E, P, s, p, o, pdf["label"].to_numpy()
                    )
                else:
                    loss, grads = M.hole_pointwise(
                        E, P, s, p, o, pdf["label"].to_numpy()
                    )
                if fuse_partition:
                    for name, ids, g in grads:
                        uniq, inv = np.unique(ids, return_inverse=True)
                        acc = np.zeros((len(uniq),) + g.shape[1:])
                        np.add.at(acc, inv, g)
                        cnt = np.bincount(inv, minlength=len(uniq))
                        per_id = part_acc.setdefault(name, {})
                        for i, gi, ci in zip(
                            uniq.tolist(), acc, cnt.tolist()
                        ):
                            old = per_id.get(i)
                            per_id[i] = (
                                (gi, ci)
                                if old is None
                                else (old[0] + gi, old[1] + ci)
                            )
                    part_loss[0] += float(loss.sum())
                    part_loss[1] += len(pdf)
                    continue
                out_param, out_id, out_g, out_c = [], [], [], []
                for name, ids, g in grads:
                    uniq, inv = np.unique(ids, return_inverse=True)
                    acc = np.zeros((len(uniq),) + g.shape[1:])
                    np.add.at(acc, inv, g)
                    cnt = np.bincount(inv, minlength=len(uniq))
                    out_param.extend([name] * len(uniq))
                    out_id.extend(uniq.tolist())
                    out_g.extend(acc.reshape(len(uniq), -1).tolist())
                    out_c.extend(cnt.tolist())
                # loss travels as a pseudo-parameter row so ONE Spark
                # action per epoch yields gradients AND loss (a second
                # action would recompute every gradient batch)
                out_param.append("_loss")
                out_id.append(0)
                out_g.append([float(loss.sum())])
                out_c.append(len(pdf))
                yield pd.DataFrame(
                    {
                        "param": out_param,
                        "id": out_id,
                        "g": out_g,
                        "cnt": out_c,
                    }
                )
            if fuse_partition and (part_acc or part_loss[1]):
                out_param, out_id, out_g, out_c = [], [], [], []
                for name in sorted(part_acc):
                    per_id = part_acc[name]
                    for i in sorted(per_id):
                        gi, ci = per_id[i]
                        out_param.append(name)
                        out_id.append(i)
                        out_g.append(gi.reshape(-1).tolist())
                        out_c.append(ci)
                out_param.append("_loss")
                out_id.append(0)
                out_g.append([part_loss[0]])
                out_c.append(part_loss[1])
                yield pd.DataFrame(
                    {
                        "param": out_param,
                        "id": out_id,
                        "g": out_g,
                        "cnt": out_c,
                    }
                )

        schema = "param string, id long, g array<double>, cnt long"
        contrib = rows.mapInPandas(batch_grads, schema)
        return contrib, bc

    @staticmethod
    def _merge_partials(parts: "pd.DataFrame") -> "pd.DataFrame":
        """`segment_sum_arrays` semantics computed on the driver —
        (param, id)-keyed component sums plus total multiplicity — over
        the collected fused partials (at most one per task per key).
        ``np.add.at`` folds duplicate keys in collected-partition order,
        which is deterministic; with ≤2 partials per key the sum is
        order-free outright."""
        out_param, out_id, out_g, out_c = [], [], [], []
        for name, gp in parts.groupby("param", sort=True):
            ids = gp["id"].to_numpy()
            g = np.stack(
                [np.asarray(v, dtype=np.float64) for v in gp["g"]]
            )
            c = gp["cnt"].to_numpy(dtype=np.int64)
            uniq, inv = np.unique(ids, return_inverse=True)
            gsum = np.zeros((len(uniq), g.shape[1]))
            np.add.at(gsum, inv, g)
            csum = np.zeros(len(uniq), dtype=np.int64)
            np.add.at(csum, inv, c)
            out_param.extend([name] * len(uniq))
            out_id.extend(uniq.tolist())
            out_g.extend(list(gsum))
            out_c.extend(csum.tolist())
        return pd.DataFrame(
            {"param": out_param, "id": out_id, "g": out_g, "c": out_c}
        )

    def _grad_widths(self) -> dict[str, int]:
        pw = self.dim * self.dim if self.model == "rescal" else self.dim
        pname = "W" if self.model == "rescal" else "R"
        return {"E": self.dim, pname: pw, "_loss": 1}

    @staticmethod
    def _driver_merge(triples: DataFrame) -> bool:
        """Gate of fit()'s driver-merge fast path (guide §5 — these
        smokes are dominated by per-epoch plan/shuffle constants, not
        data): on a ≤2-partition cached triple frame, each epoch's
        gradient partials are fused to ONE frame per task, collected,
        and merged on the driver, skipping the per-epoch groupBy plan
        + shuffle.  Wider frames (e.g. the FB15k golden) keep the
        Spark aggregate.

        The exactness argument needs few partials per key in the
        per-epoch ROWS frame; the gate reads the TRIPLES frame (asking
        the rows frame for its partitions can start extra jobs under
        AQE).  Pairwise rows derive from the triples by narrow
        operators: ≤2 partials per (param, id) key, and two-float IEEE
        addition commutes, so the merge is bit-identical.  Pointwise
        rows add ``_reject_known``'s left-anti join (kg/sampling.py)
        and a pos∪neg union: the ≤4-partials bound (re-association at
        double precision) holds only while that anti-join broadcasts,
        as it does at smoke scale.  Nothing here enforces it — the
        1e-12 parity test against the Spark aggregate
        (tests/test_training.py) is what pins it."""
        return triples.rdd.getNumPartitions() <= 2

    def fit(self, triples: DataFrame, epochs: int = 5) -> "KGETrainer":
        triples = triples.select("s_id", "p_id", "o_id").cache()
        triples.count()
        driver_merge = self._driver_merge(triples)
        for epoch in range(epochs):
            rows = self._training_rows(triples, epoch)
            contrib, bc = self._epoch_gradients(
                rows, fuse_partition=driver_merge
            )
            widths = self._grad_widths()
            if driver_merge:
                pdf = self._merge_partials(contrib.toPandas())
            else:
                pdf = segment_sum_arrays(
                    contrib, max(widths.values())
                ).toPandas()
            bc.destroy()  # epoch's snapshot is stale once collected

            lmask = pdf["param"] == "_loss"
            lrows = pdf[lmask]
            if len(lrows):
                self.loss_history.append(
                    float(lrows["g"].iloc[0][0])
                    / max(int(lrows["c"].iloc[0]), 1)
                )

            for name, gp in pdf[~lmask].groupby("param", sort=True):
                gp = gp.sort_values("id")
                ids = gp["id"].to_numpy()
                c = np.maximum(gp["c"].to_numpy(dtype=np.int64), 1)
                # slice off the NULL padding beyond this param's width
                g = (
                    np.stack(gp["g"].to_numpy())[:, : widths[name]]
                    .astype(np.float64)
                    / c[:, None]
                )  # A6 mean
                if name == "E":
                    self.opt.step(self.E, ids, g, name="E")
                elif name == "R":
                    self.opt.step(self.R, ids, g, name="R")
                else:
                    self.opt.step(
                        self.W,
                        ids,
                        g.reshape(len(ids), self.dim, self.dim),
                        name="W",
                    )
        triples.unpersist()
        return self

    # ----------------------------------------------------------- export

    def save(self, path: str) -> None:
        """Checkpoint (SURVEY S6/S7): pickles/HDF5 become parquet
        embedding tables + a JSON hyperparameter sidecar — columnar,
        splittable, schema'd; readable by any engine."""
        import json
        import os

        self.entity_embeddings().write.mode("overwrite").parquet(
            os.path.join(path, "entities.parquet")
        )
        self.relation_embeddings().write.mode("overwrite").parquet(
            os.path.join(path, "relations.parquet")
        )
        meta = {
            "model": self.model,
            "objective": self.objective,
            "dim": self.dim,
            "margin": self.margin,
            "seed": self.seed,
            "neg_per_pos": self.neg,
            "n_entities": self.n_entities,
            "n_relations": self.n_relations,
            "loss_history": self.loss_history,
        }
        with open(os.path.join(path, "model.json"), "w") as fh:
            json.dump(meta, fh)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "KGETrainer":
        import json
        import os

        with open(os.path.join(path, "model.json")) as fh:
            meta = json.load(fh)
        t = cls(
            spark,
            n_entities=meta["n_entities"],
            n_relations=meta["n_relations"],
            dim=meta["dim"],
            model=meta["model"],
            margin=meta["margin"],
            seed=meta["seed"],
            neg_per_pos=meta["neg_per_pos"],
            objective=meta.get("objective"),
        )
        t.loss_history = list(meta["loss_history"])
        ent = spark.read.parquet(
            os.path.join(path, "entities.parquet")
        ).collect()
        for r in ent:
            t.E[r["id"]] = np.asarray(r["vec"])
        rel = spark.read.parquet(
            os.path.join(path, "relations.parquet")
        ).collect()
        for r in rel:
            if meta["model"] == "rescal":
                t.W[r["id"]] = np.asarray(r["vec"]).reshape(
                    meta["dim"], meta["dim"]
                )
            else:
                t.R[r["id"]] = np.asarray(r["vec"])
        return t

    def entity_embeddings(self) -> DataFrame:
        return self._matrix_df(self.E)

    def relation_embeddings(self) -> DataFrame:
        mat = self.W.reshape(self.n_relations, -1) if self.model == "rescal" else self.R
        return self._matrix_df(mat)

    def _matrix_df(self, mat: np.ndarray) -> DataFrame:
        # Arrow path: one pandas frame, not N driver-side Python rows
        pdf = pd.DataFrame(
            {"id": np.arange(len(mat)), "vec": [row.tolist() for row in mat]}
        )
        return self.spark.createDataFrame(pdf, "id long, vec array<double>")

    def evaluate(
        self,
        test: DataFrame,
        known_triples: np.ndarray | None = None,
        force_path: str | None = None,
    ) -> DataFrame:
        """Link-prediction metrics (object-corruption protocol,
        `kge/hole.py:389-420` semantics), routed by entity count:

        - below ``AGG_RANK_ENTITY_THRESHOLD`` entities, the
          broadcast-matrix ranker (the whole E matrix rides the task
          closure — cheapest at smoke scale);
        - at or above it, `kg.eval.rank_against_all_entities_agg` —
          the entity matrix streams through the plan as a TABLE and
          ranks come from map-side partial better-counts, so the only
          driver/closure state is the bounded test split.  The two
          paths are bit-identical (tests/test_rank_agg.py); FB15k
          (14,951 entities) exercises the agg path in its golden test.

        ``known_triples`` (n×3 array of every train/valid/test triple)
        switches to the FILTERED protocol — other known-true objects are
        excluded from each candidate list (`kge/hole.py:394-399`), which
        is the setting behind every published FB15k/WN18 number.
        ``force_path``: 'agg' or 'closure' overrides the threshold
        (parity tests)."""
        from spark_tensors_spark.kg import eval as kgeval

        # one scorer per model, shared with the table-streaming ranker
        # (bit-parity between paths depends on identical float ops)
        score_all = M.score_all_fn(self.model)
        rel_mat = self.W if self.model == "rescal" else self.R

        if force_path not in (None, "agg", "closure"):
            # a typo must not silently validate the OTHER path
            raise ValueError(
                f"force_path must be None, 'agg' or 'closure', "
                f"got {force_path!r}"
            )
        use_agg = (
            force_path == "agg"
            or (
                force_path is None
                and self.n_entities >= AGG_RANK_ENTITY_THRESHOLD
            )
        )
        if use_agg:
            ranked = kgeval.rank_against_all_entities_agg(
                test,
                self.entity_embeddings(),
                gather_s=lambda ids: self.E[ids],
                gather_r=lambda ids: rel_mat[ids],
                gather_true=lambda ids: self.E[ids],
                score_batch=score_all,
                known_triples=known_triples,
            )
        else:
            # matrices are already numpy on the driver — go
            # matrix-direct (no createDataFrame/collect round trip)
            ranked = kgeval.rank_against_all_entities_np(
                test,
                self.E,
                np.arange(self.n_entities),
                rel_mat,
                score_all,
                known_triples=known_triples,
            )
        return kgeval.link_prediction_metrics(ranked)
