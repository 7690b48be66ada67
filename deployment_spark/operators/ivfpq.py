"""IVF×PQ — the composed vector index (FAISS ``IndexIVFPQ`` analog):
coarse KMeans lists give PARTITION PRUNING (scan only nprobe of nlist
lists), PQ codes inside each list give MEMORY COMPRESSION (m bytes per
vector), and an optional exact re-rank refines the shortlist from the
full-precision rows — the three-stage shape every production vector
store converges on, here expressed as a parquet layout plus DataFrame
plans.

The routing, pruning, shortlist, re-rank, range refine and batch route
are the shared ``ivf.IVFCodecIndex`` scaffold; this module holds only
what is PQ's:

- build: ``IVFIndex.build`` trains the coarse quantizer and writes the
  full-vector lists; then ``PQCodec.train`` + ``encode`` writes a
  parallel ``codes/`` table partitioned by the SAME cluster_id, so both
  representations prune identically;
- score: a per-query (m × ksub) lookup table gathered per code row in
  one Arrow ``mapInPandas`` stage; the negated squared-L2 ADC distance
  is the score (negation keeps order and ties exact);
- range bound: each row's reconstruction-error norm, stored at encode
  time.

At 100 TB the codes table is what the hot path scans (16-48× smaller);
full vectors are touched O(nq·shortlist) rows per query batch.

Recall: driver-visible in tests (pruning recall ≈ `ivf_recall`'s,
compression recall recovered by re-rank as in `pq_recall`).
"""

from __future__ import annotations

import os

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deployment_spark.operators.ivf import IVFCodecIndex
from deployment_spark.operators.pq import PQCodec


class IVFPQIndex(IVFCodecIndex):
    """root/ holds the IVFIndex layout plus ``codes/cluster_id=*`` and
    ``codebook.json``."""

    codes_dir = "codes"
    code_col = "code"
    code_type = "binary"

    @property
    def _codebook_path(self) -> str:
        return os.path.join(self.root, "codebook.json")

    def build(
        self,
        df: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        nlist: int | None = None,
        m: int = 8,
        ksub: int = 64,
        seed: int = 42,
    ) -> "IVFPQIndex":
        self.ivf.build(df, id_col=id_col, vec_col=vec_col, nlist=nlist, seed=seed)
        codec = PQCodec.train(df, vec_col, m=m, ksub=ksub, seed=seed)
        # encode the ASSIGNED table so codes carry the same cluster_id;
        # the per-row reconstruction-error norm rides along (r10) — it
        # is what makes range_search's candidate filter error-bounded
        assigned = self.ivf.data().select(id_col, vec_col, "cluster_id")
        codes = codec.encode(assigned, id_col, vec_col, resid_col="resid").join(
            assigned.select(id_col, "cluster_id"), id_col
        )
        codes.write.mode("overwrite").partitionBy("cluster_id").parquet(
            self._codes_path
        )
        codec.save(self._codebook_path)
        return self

    def codec(self) -> PQCodec:
        return PQCodec.load(self._codebook_path)

    def _luts(self, qrows, dot: bool):
        """Broadcast ({query id: position}, (nq, m, ksub) LUTs) for the
        collected (query id, vector) rows: partial squared distances, or
        with ``dot`` the partial dot products q_j·c, whose per-row gather
        sum is exactly q·v̂."""
        codec = self.codec()
        m, dsub, books = codec.m, codec.dsub, codec.codebooks
        luts = []
        for r in qrows:
            qv = np.asarray(r[1], dtype=np.float64)
            parts = [qv[j * dsub : (j + 1) * dsub] for j in range(m)]
            luts.append(np.stack([
                books[j] @ parts[j] if dot else ((books[j] - parts[j]) ** 2).sum(axis=1)
                for j in range(m)
            ]))
        qindex = {r[0]: i for i, r in enumerate(qrows)}
        return self.spark.sparkContext.broadcast((qindex, np.stack(luts))), m

    def _score(self, scan, queries, qrows, take, query_id, query_vec, id_col):
        """ADC over the routed codes: one LUT gather per Arrow batch, each
        query's local top-``take`` by (distance asc, id asc), emitted as
        the negated distance."""
        import pandas as pd

        from pyspark.sql.types import DoubleType, StructField, StructType

        bq, m = self._luts(qrows, dot=False)
        qids = [r[0] for r in qrows]
        # id types follow the inputs (topk_similarity_join contract)
        out_schema = StructType(
            [
                StructField("_qid", queries.schema[query_id].dataType),
                StructField("_cid", scan.schema[id_col].dataType),
                StructField("_sim", DoubleType()),
            ]
        )

        def adc_topk(batches):
            qidx_map, lut_all = bq.value
            for pdf in batches:
                if pdf.empty:
                    continue
                codes_arr = np.frombuffer(
                    b"".join(pdf["code"].tolist()), dtype=np.uint8
                ).reshape(-1, m)
                qi = pdf["_qid"].map(qidx_map).to_numpy()
                # dist[i] = Σ_j lut[q_i, j, code[i, j]] — one gather per batch
                d = lut_all[qi[:, None], np.arange(m)[None, :], codes_arr].sum(axis=1)
                cid = pdf["_cid"].to_numpy()
                out_q, out_c, out_s = [], [], []
                for q in np.unique(qi):
                    mask = qi == q
                    order = np.lexsort((cid[mask], d[mask]))[:take]
                    out_q.extend([qids[q]] * len(order))
                    out_c.extend(cid[mask][order].tolist())
                    out_s.extend((-d[mask][order]).tolist())
                yield pd.DataFrame({"_qid": out_q, "_cid": out_c, "_sim": out_s})

        return scan.select(
            F.col(query_id).alias("_qid"), F.col(id_col).alias("_cid"), "code"
        ).mapInPandas(adc_topk, schema=out_schema)

    def _range_candidates(self, scan, queries, qrows, qv, radius, query_id, id_col):
        """Candidate filter: ADC DOT ≥ radius −
        resid_i − ε, where resid_i = ‖v_i − v̂_i‖ is the row's
        reconstruction error STORED AT ENCODE TIME
        (``PQCodec.encode(resid_col)``). By Cauchy–Schwarz |q·v − q·v̂| ≤
        ‖q‖·resid_i = resid_i for unit q, so no true hit can fail the
        filter. Unlike SQ8's trained-range margin this bound is per ROW
        and measured, so it survives codebook drift: a badly-fitting row
        gets a looser filter, never a missed hit."""
        from pyspark.sql.types import StructField, StructType

        if "resid" not in scan.columns:
            raise ValueError(
                "error-bounded range search needs the per-row "
                "reconstruction-error column ('resid') next to the codes "
                "— rebuild the index with IVFPQIndex.build (r10+), which "
                "stores it via PQCodec.encode(resid_col='resid')"
            )
        bq, m = self._luts(qrows, dot=True)
        out_schema = StructType(
            [
                StructField(query_id, queries.schema[query_id].dataType),
                StructField(id_col, scan.schema[id_col].dataType),
            ]
        )

        def adc_candidates(batches):
            qidx_map, lut_all = bq.value
            gather = np.arange(m)[None, :]
            for pdf in batches:
                if pdf.empty:
                    continue
                codes_arr = np.frombuffer(
                    b"".join(pdf["code"].tolist()), dtype=np.uint8
                ).reshape(-1, m)
                qi = pdf[query_id].map(qidx_map).to_numpy()
                adc = lut_all[qi[:, None], gather, codes_arr].sum(axis=1)
                # a null resid (externally-maintained codes row) means
                # "bound unknown": NaN would make the comparison False
                # and SILENTLY drop a possible true hit — map it to +inf
                # so the row always survives to the exact refine, which
                # decides membership
                resid = np.nan_to_num(
                    pdf["resid"].to_numpy(dtype=np.float64), nan=np.inf
                )
                # no true hit can fail: exact ≥ rad ⇒ adc ≥ exact − resid
                keep = adc >= radius - resid - 1e-9
                if keep.any():
                    yield pdf.loc[keep, [query_id, id_col]]

        return scan.select(query_id, id_col, "code", "resid").mapInPandas(
            adc_candidates, schema=out_schema
        )

    def _grouped_score(self, both, group_cols, take, cid_kind):
        """Batch ADC: each grouped task rebuilds its queries' LUTs from
        the broadcast codebooks with the same expressions as
        :meth:`_score` and gathers, so scores are bit-identical across
        routes (``pq._grouped_adc_topk``)."""
        from deployment_spark.operators.pq import _grouped_adc_topk

        codec = self.codec()
        books_bc = self.spark.sparkContext.broadcast(codec.codebooks)
        return _grouped_adc_topk(
            both, group_cols, take, books_bc, codec.m, codec.dsub, cid_kind
        ).select("_qid", "_cid", (-F.col("_d")).alias("_sim"))
