"""The benchmark's workloads, driving the engine's public layer functions.

Each workload has a set-up (everything before the first timed call) and a
closed loop of timed calls: the next call is issued only after the previous
one returned and its answer was checked. Every timed call runs inside one
span named after the engine module and function it calls. Answers are
checked outside the spans against check.py's numpy reference.

The end-to-end metrics are common to both workloads, so each workload binds
them to its own calls (see ``SLOTS``):

- ``index_op``: the call that goes through a maintained search structure;
- ``store_op``: SnapshotStore calls;
- ``exact_search``: the exact 3-query top-10 over ``store.read()``.
"""

from __future__ import annotations

import os
import random
import sys
import time
import traceback

import gen
from check import Corpus, ann_recall, check_topk, row_matches

K = 10
NPROBE = 10
DIM = 64
NQ = 3  # queries per interactive search, as in the reference's UI loop

# span names that make up each end-to-end slot, per workload
SLOTS = {
    "query_serve": {
        "index_op": ["ivf.search"],
        "store_op": ["crud.read_where_key_in"],
        "exact_search": ["similarity.topk_similarity_join"],
    },
    "crud_stream": {
        "index_op": ["streaming.ingest_to_store"],
        "store_op": ["crud.delete_ids", "crud.upsert", "crud.update"],
        "exact_search": ["similarity.topk_similarity_join"],
    },
}


def prepare(df):
    """ingest.prepare: the reference's clean → text → embed chain."""
    from deployment_spark.functions.embed import hash_embed
    from deployment_spark.functions.text import packet_text_v1
    from deployment_spark.operators.cleaning import clean_packet_frame

    return clean_packet_frame(df).withColumn("embedding", hash_embed(packet_text_v1(), DIM))


def rows_df(spark, rows: dict):
    from deployment_spark.schemas import PACKET_SCHEMA

    return spark.createDataFrame([tuple(v if v else None for v in r) for r in rows.values()],
                                 PACKET_SCHEMA)


def query_df(spark, qvecs: dict):
    return spark.createDataFrame(
        [(int(q), [float(x) for x in v]) for q, v in qvecs.items()],
        "query_id long, query_vec array<float>",
    )


def collect_vectors(df) -> dict:
    return {int(r[0]): list(r[1]) for r in df.select("frame_number", "embedding").collect()}


class Outcome:
    """Timed-call bookkeeping: attempts, failures and per-span samples."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.recall: list[float] = []
        self.recall_n = 0
        self.extra: dict = {}

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)


class Workload:
    name = ""

    def __init__(self, spark, tracer, workdir: str, seed: int, trace: bool):
        self.spark = spark
        self.tracer = tracer
        self.dir = workdir
        self.seed = seed
        self.trace = trace
        self.out = Outcome()

    def rebind(self, spark, tracer) -> None:
        """Continue on a new session (the traced run's untraced phase)."""
        self.spark = spark
        self.tracer = tracer

    def timed(self, name: str, fn, **attrs):
        """Run one timed call in a span; a raised error counts as failed."""
        self.out.attempted += 1
        try:
            with self.tracer.span(name, timed=True, **attrs) as s:
                res = fn()
                if isinstance(res, list):
                    s.attrs["returned"] = len(res)
                return res
        except Exception:  # a failed call is recorded and the loop stops
            self.out.fail(f"{name}: {traceback.format_exc(limit=3)}")
            raise

    def ingest_corpus(self, csv_path: str, store) -> None:
        """The reference's batch chain into ``store``: scan → clean → text →
        embed → SnapshotStore.create. The traced run also materializes the
        prepared frame once to a noop sink so the lazy layers get a cost."""
        from deployment_spark.schemas import read_packet_csv

        if self.trace:
            with self.tracer.span("ingest.prepare"):
                prepare(read_packet_csv(self.spark, csv_path)).write.format("noop").mode(
                    "overwrite").save()
        with self.tracer.span("crud.create", user_bytes=os.path.getsize(csv_path)):
            store.create(prepare(read_packet_csv(self.spark, csv_path)))


class QueryServe(Workload):
    """Set-up runs the reference's bulk main() chain (ingest → create →
    IVF build → batch search of a 1% sample); the loop then serves a seeded
    interleaving of IVF searches, exact searches and point reads."""

    name = "query_serve"
    N = 5_000
    HELD_OUT = 30
    POINT_KEYS = 2

    def setup(self) -> None:
        from deployment_spark.operators.crud import SnapshotStore
        from deployment_spark.operators.ivf import IVFIndex, reference_nlist

        rows, data = gen.capture(self.seed, 1, self.N)
        self.rows = rows
        csv_path = os.path.join(self.dir, "corpus.csv")
        with open(csv_path, "wb") as f:
            f.write(data)
        self.store = SnapshotStore(self.spark, os.path.join(self.dir, "store"), key="frame_number")
        self.ingest_corpus(csv_path, self.store)
        self.index = IVFIndex(self.spark, os.path.join(self.dir, "ivf"))
        with self.tracer.span("ivf.build"):
            self.index.build(self.store.read(), id_col="frame_number",
                             nlist=reference_nlist(self.N))
        with self.tracer.span("check"):
            vecs = collect_vectors(self.store.read())
            if set(vecs) != set(rows):
                self.out.fail("crud.create: stored key set differs from the generated rows")
            self.corpus = Corpus(list(vecs), list(vecs.values()))
            rng = random.Random(f"{self.seed}:sample")
            sample = sorted(rng.sample(sorted(vecs), max(1, self.N // 100)))
            sample_q = {i: vecs[i] for i in sample}
            qdf = query_df(self.spark, sample_q)
        with self.tracer.span("ivf.search_batch", nq=len(sample), k=K) as s:
            got = self.index.search_batch(qdf, k=K, nprobe=NPROBE, id_col="frame_number").collect()
            s.attrs["returned"] = len(got)
        with self.tracer.span("check"):
            r, n = ann_recall(got, sample_q, self.corpus, K)
            self.out.extra["bulk_recall_at_10"] = r
            self.out.recall.append(r * n)
            self.out.recall_n += n
            held = gen.held_out(self.seed, 10 * self.N, self.HELD_OUT)
            self.qvecs = collect_vectors(prepare(rows_df(self.spark, held)))
        ids = sorted(self.qvecs)
        self.batches = [
            {i: self.qvecs[i] for i in ids[j:j + NQ]} for j in range(0, len(ids), NQ)
        ]
        self.batch_dfs = [query_df(self.spark, b) for b in self.batches]
        self.plan = gen.query_serve_plan(self.seed, sorted(rows), self.POINT_KEYS)

    def rebind(self, spark, tracer) -> None:
        from deployment_spark.operators.crud import SnapshotStore
        from deployment_spark.operators.ivf import IVFIndex

        super().rebind(spark, tracer)
        self.store = SnapshotStore(spark, self.store.root, key="frame_number")
        self.index = IVFIndex(spark, self.index.root)
        self.batch_dfs = [query_df(spark, b) for b in self.batches]

    def run(self, seconds: float, covered) -> None:
        """Serve calls for ``seconds``, and on until every call kind has
        been sampled (``covered``)."""
        from deployment_spark.operators.similarity import topk_similarity_join

        deadline = time.perf_counter() + seconds
        while (time.perf_counter() < deadline or not covered()) and not self.out.failed:
            kind, arg = next(self.plan)
            if kind == "point":
                got = self.timed("crud.read_where_key_in",
                                 lambda: self.store.read_where_key_in(arg).collect(),
                                 keys=len(arg))
                got_rows = {int(r["frame_number"]): r.asDict() for r in got}
                if set(got_rows) != set(arg) or not all(
                        row_matches(got_rows[k], self.rows[k]) for k in arg):
                    self.out.fail(f"point read {arg}: rows differ from the generated ones")
                continue
            b = arg % len(self.batches)
            qdf, qs = self.batch_dfs[b], self.batches[b]
            if kind == "ivf":
                got = self.timed("ivf.search", lambda: self.index.search(
                    qdf, k=K, nprobe=NPROBE, id_col="frame_number").collect(), nq=NQ, k=K)
                r, n = ann_recall(got, qs, self.corpus, K)
                self.out.recall.append(r * n)
                self.out.recall_n += n
            else:
                got = self.timed("similarity.topk_similarity_join", lambda: topk_similarity_join(
                    self.store.read(), qdf, k=K, corpus_id="frame_number").collect(), nq=NQ, k=K)
                if not check_topk(got, qs, self.corpus, K):
                    self.out.fail(f"exact search batch {b}: differs from the numpy top-{K}")

    def finish(self) -> None:
        pass


class CrudStream(Workload):
    """The Milvus CRUD loop: add_data drains a landed file through
    ingest_to_store with standing top-k maintenance; delete, upsert and
    update mutate the store; every op is followed by the reference's
    3-query exact search."""

    name = "crud_stream"
    N = 5_000
    BATCH = 500
    FILE_ROWS = 1_000

    def setup(self) -> None:
        from deployment_spark.operators.crud import SnapshotStore

        rows, data = gen.capture(self.seed, 1, self.N)
        csv_path = os.path.join(self.dir, "corpus.csv")
        with open(csv_path, "wb") as f:
            f.write(data)
        self.land = os.path.join(self.dir, "landing")
        os.makedirs(self.land, exist_ok=True)
        self.stream = gen.CrudStream(self.seed, rows, self.BATCH, self.FILE_ROWS)
        self.store = SnapshotStore(self.spark, os.path.join(self.dir, "store"), key="frame_number")
        self.ingest_corpus(csv_path, self.store)
        with self.tracer.span("check"):
            self.vecs = collect_vectors(self.store.read())
            held = gen.held_out(self.seed, 10 * self.N, NQ)
            self.sq = dict(enumerate(collect_vectors(prepare(rows_df(self.spark, held))).values()))
        self.files = 0
        self.last_kind = None
        # the first drain builds the standing top-k over the whole store
        self.apply(self.stream.add_data(), timed=False)

    def rebind(self, spark, tracer) -> None:
        from deployment_spark.operators.crud import SnapshotStore

        super().rebind(spark, tracer)
        self.store = SnapshotStore(spark, self.store.root, key="frame_number")

    def _drain(self):
        from deployment_spark.streaming.ingest import ingest_to_store, packet_csv_stream

        q = ingest_to_store(
            packet_csv_stream(self.spark, self.land),
            self.store,
            os.path.join(self.dir, "checkpoint"),
            transform=prepare,
            standing_topk_maintain={
                "root": os.path.join(self.dir, "standing"),
                "queries": query_df(self.spark, self.sq),
                "k": K,
                "on_mutation": "repair",
            },
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))

    def apply(self, op, timed: bool = True) -> None:
        """Run one op (and, when timed, its post-op search); keep the
        checker's vector map in step with the store."""
        from deployment_spark.operators.similarity import topk_similarity_join

        call = self.timed if timed else (lambda name, fn, **a: fn())
        if op.kind == "add_data":
            self.files += 1
            with open(os.path.join(self.land, f"capture-{self.files:05d}.csv"), "wb") as f:
                f.write(op.csv)
            call("streaming.ingest_to_store", self._drain, rows=len(op.rows),
                 user_bytes=len(op.csv))
        elif op.kind == "delete":
            call("crud.delete_ids", lambda: self.store.delete_ids(op.keys), rows=len(op.keys),
                 user_bytes=sum(len(str(k)) + 1 for k in op.keys))
        elif op.kind == "upsert":
            df = prepare(rows_df(self.spark, op.rows))
            call("crud.upsert", lambda: self.store.upsert(df), rows=len(op.rows),
                 user_bytes=len(gen.csv_bytes(list(op.rows.values()))))
        else:
            df = prepare(rows_df(self.spark, op.rows))
            call("crud.update", lambda: self.store.update(op.keys, df), rows=len(op.rows),
                 user_bytes=len(gen.csv_bytes(list(op.rows.values()))))
        self.last_kind = op.kind
        with self.tracer.span("check"):
            for k in op.keys:
                self.vecs.pop(k, None)
            if op.rows:
                self.vecs.update(collect_vectors(self.store.read_where_key_in(sorted(op.rows))))
        if not timed:
            return
        qdf = query_df(self.spark, self.sq)
        got = self.timed("similarity.topk_similarity_join", lambda: topk_similarity_join(
            self.store.read(), qdf, k=K, corpus_id="frame_number").collect(), nq=NQ, k=K,
            after=op.kind)
        with self.tracer.span("check"):
            corpus = Corpus(list(self.vecs), list(self.vecs.values()))
            if not check_topk(got, self.sq, corpus, K):
                self.out.fail(f"post-{op.kind} search differs from the numpy top-{K}")

    def run(self, seconds: float, covered) -> None:
        """Cycle through the ops for ``seconds``, and on to the end of the
        cycle: it ends with a drain, so the standing top-k is current."""
        deadline = time.perf_counter() + seconds
        while not self.out.failed and (
                time.perf_counter() < deadline or not covered() or self.last_kind != "add_data"):
            self.apply(self.stream.next_op())

    def finish(self) -> None:
        """Final answer checks: the store equals the op-log replay, and the
        standing top-k equals the numpy top-10 over the final store."""
        from deployment_spark.streaming.ingest import read_standing_topk

        if self.out.failed:
            return
        stored = {int(r["frame_number"]): r.asDict()
                  for r in self.store.read().drop("embedding").collect()}
        if set(stored) != set(self.stream.live):
            self.out.fail("store key set differs from the op-log replay")
            return
        bad = [k for k, v in self.stream.live.items() if not row_matches(stored[k], v)]
        if bad:
            self.out.fail(f"{len(bad)} stored rows differ from the op-log replay")
        if set(self.vecs) != set(stored):
            self.out.fail("checker vector map out of step with the store")
            return
        corpus = Corpus(list(self.vecs), list(self.vecs.values()))
        got = read_standing_topk(self.spark, os.path.join(self.dir, "standing")).collect()
        r, n = ann_recall(got, self.sq, corpus, K)
        self.out.recall.append(r * n)
        self.out.recall_n += n
        if not check_topk(got, self.sq, corpus, K):
            self.out.fail("standing top-k differs from the numpy top-10 over the final store")


WORKLOADS = {w.name: w for w in (QueryServe, CrudStream)}
