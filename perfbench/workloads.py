"""The three workloads, their correctness checks and the layer probes.

Each workload is one client thread driving a closed loop: the next
request is sent only after the previous one returned its last row. The
timed phase runs whole rounds of the workload's fixed request mix; the
round count is ``--seconds`` over the round's nominal length, its
length on a loaded 4-core box when the benchmark was written, and at
least one. Every run therefore does the same work and sees the same
mix, and a faster engine finishes it sooner. Checks against the NumPy
truth run after the timed phase, from what each request returned.
"""

from __future__ import annotations

import hashlib
import os
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pyarrow as pa

from data import DIM, NEARDUP_JACCARD, Corpus, Truth, recall, shingle_jaccard, texts_of
from tracing import Tracer, median, pct

K = 10
N_PROBE = 4
IVF_CELLS = 16
TAG_LIMIT = 10
WHERE = f"tag < {TAG_LIMIT}"
QBATCH = 200


class Bench:
    """State shared by a run: session, tracer, inputs and tallies."""

    def __init__(self, spark, tracer: Tracer, seed: int, work: str, seconds: float):
        self.spark, self.tr, self.work, self.seconds = spark, tracer, work, seconds
        self.setup_end = None  # when the first timed phase began
        self.corpus = Corpus(seed)
        self.attempted = 0
        self.failures: list[dict] = []
        self.checks: dict[str, bool] = {}
        self.hashes: dict[str, str] = {}
        self.probing = False

    def rounds(self, nominal_s: float) -> int:
        return max(1, round(self.seconds / nominal_s))

    def phase(self, name: str) -> None:
        """Label the spans that follow (setup, warmup, workload); while
        probing every span is labelled ``probe``."""
        self.tr.source = "probe" if self.probing else name
        if name == "workload" and self.setup_end is None:
            self.setup_end = time.perf_counter()

    # -- operations -----------------------------------------------------

    def request(self, kind: str, body):
        """Run ``body()`` as one counted client request. Returns
        (result, request span), or (None, None) when it raised."""
        self.attempted += 1
        try:
            with self.tr.request(kind) as span:
                return body(), span
        except Exception as e:  # a failed request is counted, not fatal
            self.fail(kind, e)
            return None, None

    def fail(self, what: str, err) -> None:
        self.failures.append({"op": what, "error": str(err)[:300]})

    def check(self, name: str, ok: bool) -> None:
        """An end-of-run check is an operation of its own."""
        self.attempted += 1
        self.checks[name] = bool(ok)
        if not ok:
            self.fail(name, "check failed")

    def vectors_df(self, ids, X, tags):
        """The rows as a DataFrame, handed over as one Arrow table: a
        pandas column of 100k small arrays takes seconds to convert."""
        X = np.ascontiguousarray(X, dtype=np.float32)
        offsets = np.arange(0, X.size + 1, X.shape[1], dtype=np.int32)
        table = pa.table({
            "vec_id": pa.array(np.asarray(ids, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(pa.array(offsets), pa.array(X.ravel())),
            "tag": pa.array(np.asarray(tags, dtype=np.int32)),
        })
        return self.spark.createDataFrame(table, "vec_id long, embedding array<float>, tag int")

    def query_df(self, Q, terms=None):
        rows = [(i, [float(x) for x in q]) for i, q in enumerate(np.atleast_2d(Q))]
        if terms is None:
            return self.spark.createDataFrame(rows, "qid long, qvec array<double>")
        return self.spark.createDataFrame(
            [r + (terms,) for r in rows], "qid long, qvec array<double>, terms array<string>"
        )

    def knn_request(self, kind: str, call, build):
        """query build -> lazy engine call -> collect, as child spans."""

        def body():
            with self.tr.span("query.build"):
                q = build()
            with self.tr.span("knn.call", kind=kind):
                df = call(q)
            with self.tr.span("knn.collect", kind=kind):
                return df.collect()

        return self.request(kind, body)

    def build(self, fns: dict) -> None:
        """Build the stores side by side, one thread each; a build that
        raises fails the set-up."""

        def timed(fn):
            t0 = time.perf_counter()
            fn()
            return t0, time.perf_counter()

        with ThreadPoolExecutor(len(fns)) as pool:
            futs = {store: pool.submit(timed, fn) for store, fn in fns.items()}
            for store, fut in futs.items():
                self.tr.record("sources.write", *fut.result(), store=store)

    # -- traced-run extras ----------------------------------------------

    def layer_probe(self, store, Q) -> None:
        """Traced only, after a timed request and outside it: the
        store-scan lookup, the lazy read, the file count and the
        query-side helpers the kNN path runs before any scan."""
        if not self.tr.enabled or self.tr.source == "warmup":
            return
        from distributedvectordatabase_spark.operators.knn import (
            collect_query_batch,
            local_query_relation,
        )
        from distributedvectordatabase_spark.sources.scan_cache import cached_parquet

        with self.tr.span("sources.scan_lookup"):
            cached_parquet(self.spark, store.path)
        with self.tr.span("sources.read"):
            store.read(self.spark)
        with self.tr.span("sources.store_files", files=count_files(store.path)):
            pass
        qdf = self.query_df(Q)
        with self.tr.span("knn.query_collect"):
            rows = collect_query_batch(qdf, "qid", "qvec")
        with self.tr.span("knn.query_relation", batch=f"q{len(rows)}"):
            local_query_relation(self.spark, rows, "qid", "qvec")


def count_files(path: str) -> int:
    return sum(len(fs) for _, _, fs in os.walk(path))


def disk_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )


def user_bytes(n_rows: int) -> int:
    """What the caller handed over: id (8) + float32 vector + tag (4)."""
    return n_rows * (8 + 4 * DIM + 4)


def rows_topk(rows):
    """(ids, dists) of kNN result rows, in rank order."""
    rows = sorted(rows, key=lambda r: r["rnk"])
    return [r["neighbor_id"] for r in rows], [r["dist"] for r in rows]


def by_query(rows) -> dict[int, list]:
    out: dict[int, list] = {}
    for r in rows:
        out.setdefault(r["qid"], []).append(r)
    return out


def batch_recalls(rows, Q, truth: Truth) -> list[float]:
    """recall@k of each query of a batch against the NumPy truth."""
    got = by_query(rows)
    return [recall(rows_topk(got.get(i, []))[0], want[0])
            for i, want in enumerate(truth.topk(Q, K))]


def timed_rounds(n_rounds: int, one_round) -> float:
    """Run ``n_rounds`` whole rounds; returns the phase's wall time."""
    t0 = time.perf_counter()
    for r in range(n_rounds):
        one_round(r)
    return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# serve_point


SERVE_KINDS = ("exact", "lsh", "ivf", "ivf_where", "sql", "hybrid")
SEARCH_KINDS = ("exact", "lsh", "ivf", "ivf_where", "sql")
SERVE_ROUND_S = 10.0  # one request of each kind
RECALL_QUERIES = 100


def serve_point(b: Bench, n: int = 10_000, rounds: int | None = None,
                doc_words: int = 20, warm: bool = True) -> dict:
    """A warm session answering single-query k=10 requests, the shape of
    the reference's POST /search, over unchanging stores."""
    from distributedvectordatabase_spark.operators.search import hybrid_serve_batch
    from distributedvectordatabase_spark.sources.ivf_store import IVFStore
    from distributedvectordatabase_spark.sources.text_index import TextIndex
    from distributedvectordatabase_spark.sources.vector_store import VectorStore
    from distributedvectordatabase_spark.sql import rewrite

    spark, c, tr = b.spark, b.corpus, b.tr
    root = os.path.join(b.work, f"serve{n}")
    X, tags = c.vectors(n), c.tags(n)
    texts = [texts_of(row) for row in c.words(n, doc_words)]
    df = b.vectors_df(np.arange(n), X, tags)
    vs = VectorStore(os.path.join(root, "vectors"))
    ivf = IVFStore(os.path.join(root, "ivf"), n_cells=IVF_CELLS, meta_cols=("tag",))
    ti = TextIndex(os.path.join(root, "text"))
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64),
                                               "text": texts}))
    b.build({"vector_store": lambda: vs.write(df),
             "ivf_store": lambda: ivf.build(df),
             "text_index": lambda: ti.build(docs)})
    truth = Truth(X)
    full_probe = vs.lsh.num_tables  # every shard: the sql kind is exact

    def sql_call(q):
        with tr.span("sql.rewrite"):
            text = rewrite(spark, q)
        with tr.span("sql.plan"):
            return spark.sql(text)

    def sql_text(q, terms):
        vec = ",".join(repr(float(x)) for x in q)
        return f"SELECT * FROM knn('{vs.path}', array({vec}), {K}, {full_probe})"

    def vector_query(q, terms):
        return b.query_df(q)

    kinds = {  # kind -> (engine call, query build, store it reads)
        "exact": (lambda qd: vs.knn(spark, qd, k=K, pruned=False), vector_query, vs),
        "lsh": (lambda qd: vs.knn(spark, qd, k=K, pruned=True), vector_query, vs),
        "ivf": (lambda qd: ivf.knn(spark, qd, k=K, n_probe=N_PROBE), vector_query, ivf),
        "ivf_where": (lambda qd: ivf.knn(spark, qd, k=K, n_probe=N_PROBE, where=WHERE),
                      vector_query, ivf),
        "sql": (sql_call, sql_text, vs),
        "hybrid": (lambda qd: hybrid_serve_batch(spark, ivf, ti, qd, k=K, n_probe=N_PROBE,
                                                 id_col="vec_id"), b.query_df, ivf),
    }
    order = [SERVE_KINDS[i] for i in c.rng.permutation(len(SERVE_KINDS))]
    done = []  # (kind, q, rows, request span)

    def one(kind):
        q, terms = c.queries(1)[0], c.terms(3)
        call, build, store = kinds[kind]
        rows, span = b.knn_request(kind, call, lambda: build(q, terms))
        if rows is not None:
            done.append((kind, q, rows, span))
        b.layer_probe(store, q)
        if kind == "hybrid" and tr.enabled:
            tq = b.query_df(q, terms).select("qid", "terms")
            with tr.span("text_index.bm25_call"):
                bm = ti.bm25_batch(spark, tq, k=4 * K)
            with tr.span("text_index.bm25_collect"):
                bm.collect()

    if warm:
        b.phase("warmup")
        for kind in order:
            one(kind)
    n_warm = len(done)
    b.phase("workload")
    phase = timed_rounds(rounds or b.rounds(SERVE_ROUND_S),
                         lambda r: [one(kind) for kind in order])
    timed = done[n_warm:]

    lat = {k: [] for k in SERVE_KINDS}
    allowed = tags < TAG_LIMIT
    for kind, q, rows, span in done:
        ok = len(rows) == K
        if kind == "hybrid":
            ids = [r["vec_id"] for r in sorted(rows, key=lambda r: r["rnk"])]
            ok = ok and sorted(r["rnk"] for r in rows) == list(range(1, K + 1)) \
                and len(set(ids)) == K and all(0 <= i < n for i in ids)
        else:
            ids, dists = rows_topk(rows)
            if kind in ("exact", "sql"):
                ok = ok and truth.same(q, ids, *truth.topk(q, K)[0])
            elif kind == "ivf_where":
                want = truth.topk(q, K, mask=allowed)[0]
                ok = ok and truth.same(q, ids, *want) and all(allowed[ids])
            else:
                ok = ok and len(set(ids)) == K
        if not ok:
            b.fail(kind, "wrong answer")
    for kind, q, rows, span in timed:
        lat[kind].append(span.ms)
    search = [ms for k in SEARCH_KINDS for ms in lat[k]]
    # recall over one untimed 100-query batch per approximate kind: a
    # handful of single queries is too few to read it from
    b.phase("check")
    recalls = []
    for kind in () if b.probing else ("lsh", "ivf"):
        Q = c.queries(RECALL_QUERIES)
        rows, _ = b.knn_request(kind, kinds[kind][0], lambda: b.query_df(Q))
        if rows is not None:
            recalls += batch_recalls(rows, Q, truth)
    return {
        "search_p50_ms": median(search),
        "queries_per_s": len(timed) / phase,
        "recall_at_10": float(np.mean(recalls)) if recalls else float("nan"),
        "side": {
            "search_p90_ms": pct(search, 90),
            "hybrid_p50_ms": median(lat["hybrid"]),
            "kind_p50_ms": {k: median(v) for k, v in lat.items()},
            "samples": {k: len(v) for k, v in lat.items()},
            "phase_s": phase,
            "order": order,
        },
        "store": (vs.path, n),
    }


# ---------------------------------------------------------------------------
# ingest_serve


INGEST_ROUND_S = 12.0  # four append+read steps, two deletes, one compaction


def ingest_serve(b: Bench, n0: int = 5_000, batch: int = 200, n_delete: int = 20,
                 rounds: int | None = None, max_steps: int = 200,
                 warm: bool = True) -> dict:
    """Writes beside reads on one VectorStore: append a fresh batch with
    explicit ids, read it back at once with an LSH search, and on a
    fixed cadence delete earlier ids and compact."""
    from distributedvectordatabase_spark.sources.vector_store import VectorStore

    spark, c, tr = b.spark, b.corpus, b.tr
    cap = n0 + batch * (max_steps + 1)
    X, tags = c.vectors(cap), c.tags(cap)
    truth = Truth(X)
    live = np.zeros(cap, dtype=bool)
    store = VectorStore(os.path.join(b.work, f"ingest{n0}"))
    b.build({"vector_store": lambda: store.write(
        b.vectors_df(np.arange(n0), X[:n0], tags[:n0]))})
    live[:n0] = True
    state = {"next": n0}
    reads = []  # (target id, rows, live snapshot, deleted-so-far, span)
    lat = {"append": [], "delete": [], "compact": []}
    deleted: set[int] = set()

    def step(delete: bool, compact: bool):
        lo = state["next"]
        if lo + batch > cap:
            raise RuntimeError("ingest_serve ran past its pre-generated capacity")
        ids = np.arange(lo, lo + batch)

        def append():
            with tr.span("sources.append"):
                store.append(b.vectors_df(ids, X[ids], tags[ids]))

        lat["append"].append(b.request("append", append)[1])
        live[ids] = True
        state["next"] = lo + batch
        target = int(c.rng.integers(lo, lo + batch))
        q = X[target].astype(np.float64)
        rows, span = b.knn_request(
            "lsh", lambda qd: store.knn(spark, qd, k=K, pruned=True), lambda: b.query_df(q)
        )
        if rows is not None:
            reads.append((target, rows, live.copy(), frozenset(deleted), span))
        b.layer_probe(store, q)
        if delete:
            pool = np.flatnonzero(live[:lo])
            gone = [int(i) for i in c.rng.choice(pool, size=n_delete, replace=False)]

            def drop():
                with tr.span("sources.delete"):
                    store.delete(spark, gone)

            lat["delete"].append(b.request("delete", drop)[1])
            live[gone] = False
            deleted.update(gone)
        if compact:

            def fold():
                with tr.span("sources.compact"):
                    store.compact(spark)

            lat["compact"].append(b.request("compact", fold)[1])

    # a round of four steps deletes twice and compacts once
    cadence = ((False, False), (True, False), (False, False), (True, True))
    if warm:
        b.phase("warmup")
        step(True, True)
    warm_n = {k: len(v) for k, v in lat.items()}
    n_reads_warm = len(reads)
    appended_before = state["next"]
    b.phase("workload")
    phase = timed_rounds(rounds or b.rounds(INGEST_ROUND_S),
                         lambda r: [step(*s) for s in cadence])

    recalls = []
    for i, (target, rows, alive, gone, span) in enumerate(reads):
        ids, dists = rows_topk(rows)
        q = X[target].astype(np.float64)
        ok = len(ids) == K and ids[0] == target and dists[0] == 0.0 \
            and not (set(ids) & gone)
        if not ok:
            b.fail("lsh", f"read-after-write: wanted {target} first, got {ids[:3]}")
        elif i >= n_reads_warm:
            recalls.append(recall(ids, truth.topk(q, K, mask=alive)[0][0]))
    total = store.system_stats(spark).first()["total_vectors"]
    b.check("system_stats_rows", int(total) == int(live.sum()))
    ms = {k: [s.ms for s in v[warm_n[k]:] if s is not None] for k, v in lat.items()}
    raw = [s.ms for _, _, _, _, s in reads[n_reads_warm:]]
    return {
        "search_p50_ms": median(raw),
        "queries_per_s": len(raw) / phase,
        "recall_at_10": float(np.mean(recalls)) if recalls else float("nan"),
        "side": {
            "search_p90_ms": pct(raw, 90),
            "append_p50_ms": median(ms["append"]),
            "append_p90_ms": pct(ms["append"], 90),
            "rows_per_s": (state["next"] - appended_before) / phase,
            "delete_p50_ms": median(ms["delete"]),
            "compact_p50_ms": median(ms["compact"]),
            "samples": {k: len(v) for k, v in ms.items()},
            "phase_s": phase,
            "live_rows": int(live.sum()),
        },
        "store": (store.path, int(live.sum())),
    }


# ---------------------------------------------------------------------------
# bulk_scan


BULK_ROUND_S = 6.0  # one exact and one LSH 200-query batch


def bulk_scan(b: Bench, n: int = 100_000, n_docs: int = 500,
              rounds: int | None = None, knn_phase: bool = True,
              curate: bool | None = None) -> dict:
    """Data-bound batch work: 200-query exact and LSH batches over a
    large store, then one curation pass over the generated documents.

    The curation pass runs in the traced run only (``curate`` defaults
    to whether tracing is on): its six operators take 10-12 s of a run,
    and the untraced run spends that time on more kNN batches instead,
    which its gated metrics need to be steady."""
    from distributedvectordatabase_spark.sources.vector_store import VectorStore

    spark, c, tr = b.spark, b.corpus, b.tr
    if curate is None:
        curate = tr.enabled
    out: dict = {"side": {}}
    # generated either way, so a seed gives the same vectors traced or not
    texts, planted = c.documents(n_docs)
    builds = {}
    if curate:
        docs_path = os.path.join(b.work, f"docs{n_docs}")
        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts}))
        builds["documents"] = lambda: docs.write.mode("overwrite").parquet(docs_path)
    if knn_phase:
        X, tags = c.vectors(n), c.tags(n)
        store = VectorStore(os.path.join(b.work, f"bulk{n}"))
        vectors = b.vectors_df(np.arange(n), X, tags)
        builds["vector_store"] = lambda: store.write(vectors)
        truth = Truth(X)
    b.build(builds)

    if knn_phase:
        calls = {
            "exact": lambda qd: store.knn(spark, qd, k=K, pruned=False),
            "lsh": lambda qd: store.knn(spark, qd, k=K, pruned=True),
        }
        order = [("exact", "lsh"), ("lsh", "exact")][int(c.rng.integers(2))]
        batches = []

        def one(kind, probe=False):
            Q = c.queries(QBATCH)
            rows, span = b.knn_request(kind, calls[kind], lambda: b.query_df(Q))
            if rows is not None:
                batches.append((kind, Q, rows, span))
            if probe:
                b.layer_probe(store, Q)

        # two full-size warm-up rounds: the 200-query plan build (its
        # VALUES literal) keeps speeding up over the first few batches,
        # and smaller batches do not warm that path
        b.phase("warmup")
        for _ in range(2):
            for kind in order:
                one(kind)
        n_warm = len(batches)
        b.phase("workload")
        # the layer probes cost about a second a batch in the traced
        # run; the first round gives them enough samples
        phase = timed_rounds(rounds or b.rounds(BULK_ROUND_S),
                             lambda r: [one(kind, probe=r == 0) for kind in order])
        recalls = []
        for kind, Q, rows, span in batches:
            if kind == "lsh":
                recalls += batch_recalls(rows, Q, truth)
                continue
            got = by_query(rows)
            if not all(truth.same(q, rows_topk(got.get(i, []))[0], *want)
                       for i, (q, want) in enumerate(zip(Q, truth.topk(Q, K)))):
                b.fail(kind, "wrong answer in a 200-query batch")
        timed = batches[n_warm:]
        lat = [s.ms for _, _, _, s in timed]
        out.update({
            "search_p50_ms": median(lat),
            "queries_per_s": QBATCH * len(timed) / phase,
            "recall_at_10": float(np.mean(recalls)) if recalls else float("nan"),
            "store": (store.path, n),
        })
        out["side"].update({"search_p90_ms": pct(lat, 90), "knn_phase_s": phase,
                            "batches": len(timed),
                            "batch_ms": [(kind, s.ms) for kind, _, _, s in batches],
                            "warmup_batches": n_warm})
    if curate:
        docs = spark.read.parquet(docs_path)
        out["side"].update(curation_pass(b, docs, texts, planted))
    return out


CURATION_OPS = ("decontam", "minhash", "setsim", "components", "dsir", "gopher")


def curation_pass(b: Bench, docs, texts, planted) -> dict:
    """One pass of the five curation operators over ``docs``. Outputs are
    collected (at most one small row per document) and hashed."""
    from pyspark.sql import functions as F

    from distributedvectordatabase_spark.functions import text as T
    from distributedvectordatabase_spark.operators.components import connected_components
    from distributedvectordatabase_spark.operators.decontam import ngram_contamination
    from distributedvectordatabase_spark.operators.dedup import minhash_neardup_pairs
    from distributedvectordatabase_spark.operators.dsir import dsir_weights
    from distributedvectordatabase_spark.operators.gopher import gopher_repetition
    from distributedvectordatabase_spark.operators.setsim import similarity_join

    spark, tr = b.spark, b.tr
    is_bench = F.col("doc_id") % 16 == 0
    shingles = F.expr(
        f"array_distinct({T.word_shingles(T.tokens('text', T.SPARK), 3, T.SPARK)})"
    )
    results: dict[str, list] = {}
    plans = {
        "decontam": lambda: ngram_contamination(docs.filter(~is_bench), docs.filter(is_bench), n=3),
        "minhash": lambda: minhash_neardup_pairs(
            docs, threshold=NEARDUP_JACCARD, bands=4, rows=3, shingle_n=3),
        "setsim": lambda: similarity_join(
            docs.select("doc_id", shingles.alias("sh")), "doc_id", "sh", NEARDUP_JACCARD),
        "components": lambda: connected_components(spark.createDataFrame(
            [(r["id_a"], r["id_b"]) for r in results["setsim"]], "src long, dst long")),
        "dsir": lambda: dsir_weights(docs, docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")),
        "gopher": lambda: gopher_repetition(docs),
    }
    t0 = time.perf_counter()
    for op in CURATION_OPS:

        def body(op=op):
            with tr.span("curation", op=op):
                return plans[op]().collect()

        rows, _ = b.request(op, body)
        results[op] = rows or []
        if rows is not None:
            b.hashes[op] = rows_hash(rows)
    pass_s = time.perf_counter() - t0

    found = {(r["id_a"], r["id_b"]): r["jaccard"] for r in results["setsim"]}
    need = [p for p in planted if shingle_jaccard(texts[p[0]], texts[p[1]]) >= NEARDUP_JACCARD]
    b.check("planted_pairs_found", bool(need) and all(p in found for p in need))
    b.check("setsim_jaccard_exact", all(
        abs(j - shingle_jaccard(texts[a], texts[bb])) <= 1e-6 for (a, bb), j in found.items()))
    comp = {r["node"]: r["component"] for r in results["components"]}
    b.check("planted_pairs_one_component",
            all(p[0] in comp and comp[p[0]] == comp.get(p[1]) for p in need))
    return {"docs_per_s": len(texts) / pass_s, "curation_pass_s": pass_s,
            "planted_pairs": len(need)}


def rows_hash(rows) -> str:
    """sha256 of the sorted rows, floats rounded to 1e-6."""

    def norm(v):
        return round(v, 6) if isinstance(v, float) else v

    lines = sorted(repr(tuple(norm(v) for v in r)) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


# ---------------------------------------------------------------------------
# traced-run probes for layers a workload does not exercise


def batch_topk_probe(b: Bench, reps: int = 5) -> None:
    """``batch_topk`` on a 200 x 10k distance matrix."""
    from distributedvectordatabase_spark.operators.knn import batch_topk

    X = b.corpus.vectors(10_000).astype(np.float64)
    Q = b.corpus.queries(QBATCH)
    D = (Q * Q).sum(1)[:, None] + (X * X).sum(1)[None, :] - 2.0 * Q @ X.T
    ids = np.arange(len(X), dtype=np.int64)
    madds = QBATCH * len(X) * X.shape[1]  # the matmul that feeds it
    for _ in range(reps):
        with b.tr.span("knn.batch_topk", madds=madds):
            batch_topk(D, ids, K, 2 * K)


def query_side_probe(b: Bench, store, reps: int = 3) -> None:
    """The query-side helpers on a 200-query batch, and the SQL
    rewrite, against the workload's own store."""
    from distributedvectordatabase_spark.operators.knn import (
        collect_query_batch,
        local_query_relation,
    )
    from distributedvectordatabase_spark.sql import rewrite

    qdf = b.query_df(b.corpus.queries(QBATCH))
    rows = collect_query_batch(qdf, "qid", "qvec")
    for _ in range(reps):
        with b.tr.span("knn.query_relation", batch=f"q{len(rows)}"):
            local_query_relation(b.spark, rows, "qid", "qvec")
        vec = ",".join(repr(float(x)) for x in b.corpus.queries(1)[0])
        with b.tr.span("sql.rewrite"):
            rewrite(b.spark, f"SELECT * FROM knn('{store}', array({vec}), {K})")


def probes(b: Bench, workload: str, store_path: str) -> None:
    """Traced run only: drive, on small inputs, each layer the workload
    itself never touches, so every per-layer metric has a value. The
    spans carry source=probe, and the result file says which metric
    came from a probe."""
    b.probing = True
    b.phase("probe")
    batch_topk_probe(b)
    query_side_probe(b, store_path)
    if workload != "serve_point":
        serve_point(b, n=2_000, rounds=1, warm=False)
    if workload != "ingest_serve":
        ingest_serve(b, n0=1_000, batch=100, n_delete=10, rounds=1, max_steps=4,
                     warm=False)
    if workload != "bulk_scan":
        bulk_scan(b, n_docs=300, knn_phase=False, curate=True)
