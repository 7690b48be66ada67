"""IVF×SQ8 — the composed index the reference's store ships as
``IVF_SQ8`` (Milvus standard index type; the reference drives Milvus at
``Milvus/stream1.py:117-130`` with HNSW, and IVF_SQ8 is the
sibling index type in the same family — this completes the engine's
Milvus index-type parity: FLAT ≡ exact, IVF_FLAT ≡ operators/ivf,
IVF_PQ ≡ operators/ivfpq, IVF_SQ8 ≡ here; HNSW is serving-side, out of
Spark scope per SURVEY §2.9).

The routing, pruning, shortlist, re-rank, range refine and batch route
are the shared ``ivf.IVFCodecIndex`` scaffold; this module holds only
what is SQ8's:

- build: ``IVFIndex.build`` trains the coarse quantizer and writes the
  full-vector lists; ``SQCodec.train`` (distributed min/max) +
  ``encode`` writes a parallel ``sq_codes/`` table partitioned by the
  SAME cluster_id — 1 B/dim instead of 4, pruned identically;
- score: decode-on-the-fly ADC **entirely inside whole-stage codegen**
  (the SQ decode is a transform expression + dot product; contrast
  IVF×PQ, whose LUT gather needs an Arrow mapInPandas stage);
- range bound: the quantizer's per-query dot-product error margin.

Why this exists next to IVF×PQ at the 100 TB design point: SQ8 is 4×
(vs PQ's 16-48×) but near-lossless, so the composed recall is bounded
by PRUNING alone — teams pick IVF_SQ8 exactly when memory allows 4× and
they want pruning speed without quantization recall loss; the measured
panel (`ann_recall`, ivfsq rows) shows adc ≈ rerank for this index
while ivfpq needs the re-rank to recover compression loss.

Recall: driver-visible in ``queries.q_ivfsq_recall`` (folded into the
``ann_recall`` panel) and floor-pinned in tests/test_recall_floors.py;
independently re-derived by tools/check_oracle.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deployment_spark.functions.vector import dot_product
from deployment_spark.operators.ivf import IVFCodecIndex
from deployment_spark.operators.sq import SQCodec


class IVFSQIndex(IVFCodecIndex):
    """root/ holds the IVFIndex layout plus ``sq_codes/cluster_id=*``
    and ``sq_ranges.json``."""

    codes_dir = "sq_codes"
    code_col = "codes"
    code_type = "array<tinyint>"

    @property
    def _ranges_path(self) -> str:
        return os.path.join(self.root, "sq_ranges.json")

    def build(
        self,
        df: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        nlist: int | None = None,
        seed: int = 42,
    ) -> "IVFSQIndex":
        self.ivf.build(df, id_col=id_col, vec_col=vec_col, nlist=nlist, seed=seed)
        codec = SQCodec.train(df, vec_col)
        assigned = self.ivf.data().select(id_col, vec_col, "cluster_id")
        codes = codec.encode(assigned, vec_col)
        codes.write.mode("overwrite").partitionBy("cluster_id").parquet(
            self._codes_path
        )
        with open(self._ranges_path, "w") as f:
            f.write(codec.to_json())
        return self

    def codec(self) -> SQCodec:
        with open(self._ranges_path) as f:
            return SQCodec.from_json(f.read())

    def _score(self, scan, queries, qrows, take, query_id, query_vec, id_col):
        """Pure-Catalyst ADC: the dot product of each query with its
        routed rows' ``decode_expr`` — no Python stage in the plan."""
        qv = F.broadcast(queries.select(query_id, F.col(query_vec).alias("_qv")))
        return scan.join(qv, query_id).select(
            F.col(query_id).alias("_qid"),
            F.col(id_col).alias("_cid"),
            dot_product(self.codec().decode_expr("codes"), "_qv").alias("_sim"),
        )

    def _range_candidates(self, scan, queries, qrows, qv, radius, query_id, id_col):
        """Candidate filter (pure codegen): ADC dot ≥ radius −
        margin(q) − ε, where margin(q) = Σ|q_i|·scale_i/2 is the
        quantizer's tight dot-product error bound
        (``SQCodec.margin_expr``) and ε=1e-9 absorbs float rounding. No
        true hit can fail this: exact ≥ radius ⇒ ADC ≥ exact − margin ≥
        radius − margin."""
        codec = self.codec()
        qm = F.broadcast(qv.select(query_id, "_qv", codec.margin_expr("_qv").alias("_margin")))
        return (
            scan.join(qm, query_id)
            .filter(
                dot_product(codec.decode_expr("codes"), "_qv")
                >= F.lit(radius) - F.col("_margin") - F.lit(1e-9)
            )
            .select(query_id, id_col)
        )

    def _grouped_score(self, both, group_cols, take, cid_kind):
        """Batch ADC: each grouped task decodes its code block with the
        numpy image of ``decode_expr`` (bit-identical float64 values)
        and runs one dot-product matmul; scores differ from the
        expression path only in summation-order ulps."""
        from deployment_spark.operators.similarity import _grouped_pair_topk

        codec = self.codec()
        lo, scale = codec.lo, codec.scale

        def decode_codes(cp):
            import numpy as np

            arr = np.array(cp["_code"].tolist(), dtype=np.float64)
            return lo + (arr + 128.0) * scale

        return _grouped_pair_topk(
            both, group_cols, take, "dot", cid_kind, corpus_decode=decode_codes
        )
