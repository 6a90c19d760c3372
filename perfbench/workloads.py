"""The benchmark's workloads, driven only through the engine's public
entry points (``api``, ``sources.images``, ``operators.ingest``,
``operators.knn``, ``operators.ann``, ``io`` and the ``queries``
registry).

A workload has a ``setup`` (timed into ``setup_s``, ending with untimed
warm-up ops), an ``op`` (one closed-loop request, timed), a ``check``
over the recorded op outputs (untimed), a ``report`` of its specific
figures, and ``install_trace``, which wraps the public functions it
drives so a traced run gets per-layer spans.
"""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import functions as F

from perfbench import checks
from perfbench.trace import checkpoint, checkpoint_counted

QUERY_SCHEMA = "stem string, path string, content binary"


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


class Workload:
    name = ""
    op_span = ""
    setup_checks = 0  # set-up steps whose outputs are checked
    # untimed ops at the end of set-up, the first untimed pass among
    # them: the first op of a fresh JVM pays Python worker start, and
    # op latency then falls with JIT warm-up over several more ops
    warm_ops = 1

    def __init__(self, spark, manifest: dict, work: str, tracer):
        self.spark = spark
        self.man = manifest
        self.work = work
        self.tracer = tracer
        self.failures: list[str] = []  # set-up checks
        self.counters: dict[str, float] = {}
        self._patched: list[tuple[object, str, object]] = []

    def warm_up(self) -> None:
        for j in range(self.warm_ops):
            self.op(-1 - j)

    def bump(self, key: str, by: float = 1) -> None:
        self.counters[key] = self.counters.get(key, 0) + by

    def patch(self, module, attr: str, wrapper) -> None:
        self._patched.append((module, attr, getattr(module, attr)))
        setattr(module, attr, wrapper)

    def uninstall_trace(self) -> None:
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)

    def prepare_checks(self) -> None:
        """Work the checks need that must stay outside every timing."""

    def install_trace(self) -> None:
        """Wrap the public functions this workload drives in spans."""

    def layer_report(self, t, ops: set) -> dict:
        """This workload's layer timings from a traced run."""
        return {}

    def traced_knn(self, fn):
        """``operators.knn.knn_search`` in a ``knn.search`` span, counting
        the tier chosen, index rows scored and candidates returned."""
        from oracle_vector_search_spark.operators.knn import choose_knn_tier

        def inner(index_df, query_df, k=5, tier="auto", **kw):
            with self.tracer.span("knn.search"):
                n_q = query_df.count()
                self.bump(f"knn.tier_{choose_knn_tier(n_q, kw.get('codes') is not None, tier)}")
                out = checkpoint(fn(index_df, query_df, k=k, tier=tier, **kw))
                self.bump("knn.index_rows_scored", n_q * index_df.count())
                self.bump("knn.candidates_out", out.count())
                self.bump("knn.slots", n_q * k)
                return out

        return inner

    def layer_metrics(self, t, traced: list[dict]) -> dict:
        """Per-layer figures of a traced run: the universal ones named
        in BENCHMARK.json (counters default to 0 where a workload does
        not drive that layer) plus this workload's layer timings."""
        c = self.counters
        ops = {r["op"] for r in traced}
        roots = {s["id"] for s in t.spans if s["name"] == self.op_span and s["op"] in ops}
        n_ops = max(1, len(ops))
        layer_s = sum(
            s["end"] - s["start"] for s in t.spans if s["parent"] in roots
        )
        self_s = t.self_seconds(self.op_span, ops) / n_ops
        rows_in = c.get("images.rows_in", 0)
        slots = c.get("knn.slots", 0)
        return {
            "op.self_s": self_s,
            f"{self.op_span}.self_s": self_s,
            "op.layers_s": layer_s / n_ops,
            "images.rows_in": rows_in,
            "images.rows_dropped": c.get("images.rows_dropped", 0),
            "images.useful_ratio": (
                (rows_in - c.get("images.rows_dropped", 0)) / rows_in
                if rows_in else 0.0
            ),
            "ingest.labels_dropped": c.get("ingest.labels_dropped", 0),
            "ingest.bytes_written": c.get("ingest.bytes_written", 0),
            "knn.tier_expr": c.get("knn.tier_expr", 0),
            "knn.tier_gemm": c.get("knn.tier_gemm", 0),
            "knn.index_rows_scored": c.get("knn.index_rows_scored", 0),
            "knn.candidates_out": c.get("knn.candidates_out", 0),
            "knn.candidate_ratio": (
                c.get("knn.candidates_out", 0) / slots if slots else 0.0
            ),
            "ann.candidates_per_query": 0.0,
            "ann.useful_ratio": 0.0,
            "ann.recall_at_10": 0.0,
            **self.layer_report(t, ops),
        }


# ------------------------------------------------------------------ image
class ImageSearch(Workload):
    """Reference online path: build and load the index (set-up), then
    one ``api.search(k=5)`` per held-out JPEG upload."""

    name = "image_search"
    op_span = "api.search"
    setup_checks = 2  # the build, the first request (with F5)
    warm_ops = 1  # after the first request, the untimed pass
    K = 5

    def setup(self) -> None:
        from oracle_vector_search_spark import api

        spark, man = self.spark, self.man
        labels = spark.createDataFrame(
            [tuple(r) for r in man["labels"]],
            "stem string, box_idx long, value string",
        )
        path = os.path.join(self.work, "index")
        t0 = time.perf_counter()
        with self.tracer.span("api.build_index"):
            built = api.build_index(spark, man["corpus_dir"], labels, out_path=path)
            rows = [r.asDict() for r in built.collect()]
        self.build_s = time.perf_counter() - t0
        self.failures += [
            f"build: {m}"
            for m in checks.index_mismatches(rows, man["expected_boxes"])
        ]
        with self.tracer.span("io.load_index"):
            self.index = api.load_index(spark, path)
            self.index.count()
        self.index_ids = np.array([r["id"] for r in rows], dtype=np.int64)
        self.index_vecs = np.array([r["embedding"] for r in rows], dtype=np.float64)
        self.queries = [(s, bytes.fromhex(h)) for s, h in man["queries"]]
        # first, untimed request: one held-out upload plus the F5 upload
        # (no detection), which must add no rows
        stem, blob = self.queries[-1]
        f5_stem, f5_blob = man["f5_query"]
        got = self._search([(stem, blob), (f5_stem, bytes.fromhex(f5_blob))])
        self.failures += [
            f"first request: {m}"
            for m in checks.ranks_and_metadata(got, self.K)
            + [f"{r['query_stem']} returned rows" for r in got if r["query_stem"] != stem]
        ]
        self.warm_up()

    def _search(self, uploads: list[tuple[str, bytes]]) -> list[dict]:
        from oracle_vector_search_spark import api

        q = self.spark.createDataFrame(
            [(s, f"upload/{s}.jpg", b) for s, b in uploads], QUERY_SCHEMA
        )
        return [r.asDict() for r in api.search(self.spark, self.index, q, k=self.K).collect()]

    def op(self, i: int):
        stem, blob = self.queries[i % len(self.queries)]
        return (stem, self._search([(stem, blob)])), {}

    def query_embeddings(self, stems: list[str]) -> dict[str, np.ndarray]:
        """Query embeddings through the public image layers (decode →
        preprocess → detect → best box → crop → embed), one batch."""
        from oracle_vector_search_spark.sources import images as I

        blobs = dict(self.queries)
        q = self.spark.createDataFrame(
            [(s, f"upload/{s}.jpg", blobs[s]) for s in sorted(set(stems))],
            QUERY_SCHEMA,
        )
        pre = I.preprocess_images(
            I.decode_images(q).filter(F.col("pixels").isNotNull()),
            mode="gamma_blur",
        )
        best = I.detect_boxes(pre).groupBy("stem").agg(
            F.max_by(
                F.struct("x1", "y1", "x2", "y2"), F.struct("conf", "x1")
            ).alias("b")
        )
        boxes = best.select(
            "stem",
            F.lit(0).cast("long").alias("box_idx"),
            F.lit(-1).alias("class_id"),
            *[F.col(f"b.{c}").alias(c) for c in ("x1", "y1", "x2", "y2")],
        )
        emb = I.embed_crops(
            I.crop_boxes(boxes.join(pre, "stem")).filter(
                F.col("crop").isNotNull()
            ),
            dims=8,
        )
        return {
            r["stem"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()
        }

    def check(self, outputs: list) -> list[list[str]]:
        embs = self.query_embeddings([stem for stem, _ in outputs])
        stems = sorted(embs)
        Q = np.array([embs[s] for s in stems])
        top_ids, top_scores, S = checks.numpy_topk(
            self.index_ids, self.index_vecs, Q, self.K
        )
        pos = {int(v): j for j, v in enumerate(self.index_ids)}
        row_of = {s: i for i, s in enumerate(stems)}
        res = []
        for stem, rows in outputs:
            bad = checks.ranks_and_metadata(rows, self.K)
            if stem not in row_of:
                res.append(bad + [f"{stem}: no query embedding"])
                continue
            i = row_of[stem]
            rows = sorted(rows, key=lambda r: r["rank"])
            bad += checks.topk_mismatches(
                [r["match_id"] for r in rows],
                [r["score"] for r in rows],
                top_ids[i].tolist(),
                top_scores[i].tolist(),
                lambda vid, i=i: float(S[i, pos[vid]]) if vid in pos else float("nan"),
            )
            res.append([f"{stem}: {m}" for m in bad])
        return res

    def install_trace(self) -> None:
        from oracle_vector_search_spark import api

        t = self.tracer

        def decoded(df, rec):
            out = checkpoint(df)
            rows = out.count()
            dropped = out.filter(F.col("pixels").isNull()).count()
            self.bump("images.rows_in", rows)
            self.bump("images.rows_dropped", dropped)
            return out

        def parsed(fn):
            def inner(lines, *a, **kw):
                with t.span("ingest.parse_labels"):
                    n_in = lines.count()
                    out = checkpoint(fn(lines, *a, **kw))
                    self.bump("ingest.labels_dropped", n_in - out.count())
                    return out
            return inner

        def written(fn):
            def inner(df, path, *a, **kw):
                with t.span("ingest.write"):
                    fn(df, path, *a, **kw)
                self.bump("ingest.bytes_written", _dir_bytes(path))
            return inner

        self.patch(api, "decode_images", t.wrap("images.decode", api.decode_images, decoded))
        for attr, name in (
            ("preprocess_images", "images.preprocess"),
            ("detect_boxes", "images.detect"),
            ("crop_boxes", "images.crop"),
            ("embed_crops", "images.embed"),
            ("assign_index_ids_two_phase", "ingest.assign_ids"),
            ("knn_join_metadata", "knn.join_metadata"),
        ):
            self.patch(api, attr, t.wrap(name, getattr(api, attr), checkpoint))
        self.patch(api, "read_artifact", t.wrap("io.read_artifact", api.read_artifact, checkpoint_counted))
        self.patch(api, "parse_yolo_labels", parsed(api.parse_yolo_labels))
        self.patch(api, "write_index_table", written(api.write_index_table))
        self.patch(api, "knn_search", self.traced_knn(api.knn_search))

    def report(self, recs: list[dict]) -> dict:
        lat = [r["s"] for r in recs]
        n = len(lat)
        out = {
            "op_p50_s": float(np.median(lat)),
            "search_p50_s": float(np.median(lat)),
            "index_boxes": len(self.index_ids),
            "index_build_s": self.build_s,
            "build_images_per_s": len(os.listdir(self.man["corpus_dir"])) / self.build_s,
        }
        # highest percentile with at least 10 samples beyond it
        if n >= 20:
            p = int(100 * (1 - 10 / n))
            out["search_tail_s"] = float(np.percentile(lat, p))
            out["search_tail_pct"], out["search_tail_n"] = p, n
        else:
            out["search_tail_s"] = None
            out["search_tail_note"] = (
                f"{n} requests: fewer than 20, no percentile has 10 "
                "samples beyond it"
            )
        return out

    def layer_report(self, t, ops: set) -> dict:
        """Totals over the traced set-up (the build) and traced ops."""
        sec = t.layer_seconds()
        return {
            k + "_s": sec.get(k, 0.0)
            for k in (
                "images.decode", "images.preprocess", "images.detect",
                "images.crop", "images.embed", "ingest.parse_labels",
                "ingest.assign_ids", "ingest.write", "io.load_index",
                "knn.search", "knn.join_metadata",
            )
        }


# ----------------------------------------------------------------- vector
class VectorBatchSearch(Workload):
    """Batch top-10 over a clustered 64-d corpus at rest: exact through
    ``knn_search`` (auto tier) and LSH ANN through ``lsh_ann_topk``
    with a bucket table built in set-up."""

    name = "vector_batch_search"
    op_span = "vector.batch"
    warm_ops = 2
    K = 10

    def setup(self) -> None:
        import pyarrow.parquet as pq
        from oracle_vector_search_spark.io import read_artifact, write_artifact
        from oracle_vector_search_spark.operators.ann import lsh_bucket_table

        spark, man = self.spark, self.man
        self.vecs = read_artifact(spark, man["vectors"])
        self.qall = read_artifact(spark, man["queries"]).persist()
        self.n_batches = man["batches"]
        t0 = time.perf_counter()
        with self.tracer.span("ann.bucket_table"):
            path = os.path.join(self.work, "lsh_buckets")
            write_artifact(
                lsh_bucket_table(self.vecs, id_col="vec_id", vec_col="embedding", dims=64),
                path,
            )
            self.buckets = read_artifact(spark, path)
        self.bucket_s = time.perf_counter() - t0
        tb = pq.read_table(man["vectors"])
        self.ids = tb["vec_id"].to_numpy()
        self.V = np.stack(tb["embedding"].to_numpy(zero_copy_only=False))
        qt = pq.read_table(man["queries"])
        self.qids = qt["vec_id"].to_numpy()
        self.Q = np.stack(qt["embedding"].to_numpy(zero_copy_only=False))
        self.qbatch = qt["batch"].to_numpy()
        self.warm_up()

    def op(self, i: int):
        from oracle_vector_search_spark.operators.ann import lsh_ann_topk
        from oracle_vector_search_spark.operators.knn import knn_search

        b = i % self.n_batches
        q = self.qall.filter(F.col("batch") == b).select("vec_id", "embedding")
        t0 = time.perf_counter()
        exact = knn_search(
            self.vecs, q, k=self.K, id_col="vec_id", vec_col="embedding"
        ).collect()
        t1 = time.perf_counter()
        ann = lsh_ann_topk(
            self.vecs, q, k=self.K, id_col="vec_id", vec_col="embedding",
            dims=64, index_buckets=self.buckets,
        ).collect()
        t2 = time.perf_counter()
        out = (b, [r.asDict() for r in exact], [r.asDict() for r in ann])
        return out, {"exact_s": t1 - t0, "ann_s": t2 - t1}

    def _ranked(self, rows):
        by_q: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            by_q.setdefault(r["query_id"], []).append(r)
        return by_q

    def check(self, outputs: list) -> list[list[str]]:
        res = []
        self.recalls: list[float] = []
        for b, exact, ann in outputs:
            sel = self.qbatch == b
            qids = self.qids[sel]
            top_ids, top_scores, S = checks.numpy_topk(self.ids, self.V, self.Q[sel], self.K)
            ex, an = self._ranked(exact), self._ranked(ann)
            bad = []
            for i, qid in enumerate(qids.tolist()):
                def true(vid, i=i):
                    return float(S[i, vid])  # vec_id == row position
                got = ex.get(qid, [])
                bad += [
                    f"exact q{qid}: {m}"
                    for m in checks.topk_mismatches(
                        [r["neighbor_id"] for r in got],
                        [r["score"] for r in got],
                        top_ids[i].tolist(), top_scores[i].tolist(), true,
                    )
                ]
                got = an.get(qid, [])
                for r in got:
                    if abs(true(r["neighbor_id"]) - r["score"]) > checks.SCORE_TOL:
                        bad.append(f"ann q{qid}: id {r['neighbor_id']} mis-scored")
                if [r["rank"] for r in got] != list(range(1, len(got) + 1)):
                    bad.append(f"ann q{qid}: ranks not 1..{len(got)}")
                self.recalls.append(
                    checks.recall([r["neighbor_id"] for r in got], top_ids[i].tolist())
                )
            res.append(bad)
        return res

    def install_trace(self) -> None:
        from oracle_vector_search_spark.operators import ann, knn

        self.patch(knn, "knn_search", self.traced_knn(knn.knn_search))
        self.patch(
            ann, "lsh_ann_topk",
            self.tracer.wrap("ann.search", ann.lsh_ann_topk, checkpoint),
        )

    def ann_candidates(self) -> float:
        """Mean distinct (query, index) candidate pairs per query that
        share ≥1 LSH band bucket — the rows ANN scores exactly."""
        from oracle_vector_search_spark.operators.ann import lsh_bucket_table

        qb = lsh_bucket_table(
            self.qall.select("vec_id", "embedding"), id_col="vec_id",
            vec_col="embedding", dims=64,
        ).withColumnRenamed("vec_id", "query_id")
        pairs = (
            qb.join(self.buckets, ["band", "bucket"])
            .select("query_id", "vec_id").distinct().count()
        )
        return pairs / len(self.qids)

    def report(self, recs: list[dict]) -> dict:
        q_per = len(self.qids) / self.n_batches
        exact = [r["split"]["exact_s"] for r in recs]
        ann = [r["split"]["ann_s"] for r in recs]
        return {
            "op_p50_s": float(np.median([r["s"] for r in recs])),
            "exact_qps": q_per / float(np.median(exact)),
            "ann_qps": q_per / float(np.median(ann)),
            "ann_recall_at_10": float(np.mean(self.recalls)),
            "queries_per_batch": q_per,
            "corpus_vectors": len(self.ids),
            "bucket_table_s": self.bucket_s,
        }

    def layer_report(self, t, ops: set) -> dict:
        """Search times per traced op; the bucket table from set-up."""
        per_op = t.layer_seconds(ops)
        n = max(1, len(ops))
        cand = self.ann_candidates()
        return {
            "knn.search_s": per_op.get("knn.search", 0.0) / n,
            "ann.search_s": per_op.get("ann.search", 0.0) / n,
            "ann.bucket_table_s": t.layer_seconds({None}).get("ann.bucket_table", 0.0),
            "ann.candidates_per_query": cand,
            "ann.useful_ratio": self.K / cand,
            "ann.recall_at_10": float(np.mean(self.recalls)),
        }


# -------------------------------------------------------------- analytics
ANALYTICS_QUERIES = [
    "q1_pricing_summary",
    "revenue_by_nation",
    "q21_waiting_suppliers",
    "top3_orders_per_customer",
    "user_sessions",
    "purchase_asof_order",
    "hourly_event_windows",
    "events_json_agg",
    "exact_dedup_groups",
    "minhash_near_dup_pairs",
    "doc_token_stats",
    "bm25_retrieval_top10",
]


class AnalyticsMix(Workload):
    """One pass = the fixed list of registry queries, each result fully
    collected (``toPandas``), checked against its DuckDB oracle."""

    name = "analytics_mix"
    op_span = "analytics.pass"

    def setup(self) -> None:
        import __spark_entry__ as entry

        self.sf_dir = self.man["sf_dir"]
        reg = entry.queries()
        self.fns = {q: reg[q] for q in ANALYTICS_QUERIES}
        self.warm_up()  # the first pass builds the session-scoped caches

    def prepare_checks(self) -> None:
        """DuckDB oracle results, computed once."""
        import __spark_entry__ as entry

        sql = entry.oracle_sql()
        con = checks.duck_connection(self.sf_dir)
        self.expected = {q: con.sql(sql[q]).df() for q in ANALYTICS_QUERIES}
        con.close()

    def op(self, i: int):
        out, split = {}, {}
        for q, fn in self.fns.items():
            with self.tracer.span(f"analytics.{q}"):
                t0 = time.perf_counter()
                out[q] = fn(self.spark, self.sf_dir).toPandas()
                split[q] = time.perf_counter() - t0
        return out, split

    def check(self, outputs: list) -> list[list[str]]:
        return [
            [
                f"{q}: {m}"
                for q, pdf in got.items()
                for m in checks.analytics_mismatches(q, pdf, self.expected[q])
            ]
            for got in outputs
        ]

    def report(self, recs: list[dict]) -> dict:
        p50 = float(np.median([r["s"] for r in recs]))
        return {
            "op_p50_s": p50,
            "analytics_pass_s": p50,
            "query_p50_s": {
                q: float(np.median([r["split"][q] for r in recs]))
                for q in ANALYTICS_QUERIES
            },
        }

    def layer_report(self, t, ops: set) -> dict:
        """Query times per traced pass."""
        per_op = t.layer_seconds(ops)
        return {
            f"analytics.{q}_s": per_op.get(f"analytics.{q}", 0.0) / max(1, len(ops))
            for q in ANALYTICS_QUERIES
        }


WORKLOADS = {
    w.name: w for w in (ImageSearch, VectorBatchSearch, AnalyticsMix)
}
