"""The three workloads. Each returns (end-to-end metrics, kernel measurement).

Every call into the engine is one operation: it is counted, timed from
outside and, where the engine returns something checkable, compared with the
oracle. An exception or a disagreement counts the operation as failed and
abandons the rest of its round. Every workload prints the same metrics:
``setup_s``, ``round_s`` (the summed wall of one round's timed engine calls)
and ``index_bytes_per_text_byte``; traced runs print every LAYER_METRICS entry.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
import pandas as pd

from layerbench import gen, kernels
from layerbench.oracle import Oracle, check_topk
from layerbench.spans import in_jobs_s

N_SEGMENTS = 4
SETUP_REPS = 3          # timed set-ups after one untimed warm-up; the median is reported
TOP_K = 10

INGEST_DOCS, INGEST_BATCHES, INGEST_DELETE_EVERY = 16, 3, 5
SEARCH_DOCS = 2000
SEARCH_WARMUP_ROUNDS = 2   # untimed rounds of the five kinds before the timed ones
REFRESH_BASE, REFRESH_ROUNDS, REFRESH_BATCH, REFRESH_DELETES = 500, 3, 10, 3
# after each round's marker query (a term query), one query of these kinds
REFRESH_KINDS = ("or", "phrase", "prefix")


class RoundFailed(Exception):
    pass


class Run:
    def __init__(self, spark, work: str, seed: int, seconds: float, tracer):
        self.spark, self.work, self.seed, self.seconds = spark, work, seed, seconds
        self.tr = tracer
        self.attempted = self.failed = self.wrong = 0
        self.blocks: list = []   # (scanned, decoded) per timed, traced query
        self.last_index: "str | None" = None   # the index the kernels read
        self.round_s: list = []   # timed seconds of each completed round
        self.timing = False       # inside the timed rounds
        self.measure_from = 0     # first span of the timed rounds
        self.t0 = time.perf_counter()

    def note(self, phase: str) -> None:
        print(f"{phase} done at {time.perf_counter() - self.t0:.2f}s", file=sys.stderr)

    def op(self, name: str, fn, check=None):
        """Run one engine operation: (result, seconds). Raises RoundFailed."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            with self.tr.op(name):
                out = fn()
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            raise RoundFailed(name) from None
        dt = time.perf_counter() - t
        err = check(out) if check is not None else None
        if err:
            self.failed += 1
            self.wrong += 1
            print(f"WRONG {name}: {err}", file=sys.stderr)
            raise RoundFailed(name)
        return out, dt

    def span(self, name: str):
        return self.tr.span(name)

    def frame(self, d: gen.Docs, col: str, values: "list[str]"):
        pdf = pd.DataFrame({"gid": d.gids, "url": d.keys(), col: values})
        return self.spark.createDataFrame(pdf)

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def build(self, df, path: str, text_col: str, append: bool = False, **kw):
        from lucene_spark.operators.indexer import build_index

        with self.span("indexer.build_index"):
            return build_index(self.spark, df, path, key_col="url", text_col=text_col,
                               gid_col="gid", n_segments=N_SEGMENTS, append=append, **kw)

    def timed_setup(self, make) -> float:
        """Median wall seconds of ``make(1..SETUP_REPS)``.

        ``make(0)`` runs first, untimed: it pays the cold JVM's class loading
        and JIT and the Python workers' start, which would otherwise decide
        the median.
        """
        t = time.perf_counter()
        make(0)
        print(f"setup_warmup_s {time.perf_counter() - t:.3f}", file=sys.stderr)
        walls = []
        for rep in range(1, SETUP_REPS + 1):
            t = time.perf_counter()
            make(rep)
            walls.append(time.perf_counter() - t)
        print("setup_s " + " ".join(f"{x:.3f}" for x in walls), file=sys.stderr)
        return statistics.median(walls)

    def query(self, searcher, q: gen.Query, k: int, oracle: Oracle, extra=None):
        """Parse + search one query; returns its latency in seconds."""
        from lucene_spark.plans.query import parse_query

        def go():
            with self.span("plans.parse_query"):
                node = parse_query(q.text())
            with self.span("search.search"):
                return searcher.search(node, k=k)

        def check(res):
            err = check_topk(oracle, q, k, res["gid"].tolist(), res["score"].tolist(),
                             res["key"].tolist())
            return err or (extra(res) if extra else None)

        before = _blocks(searcher)
        _, dt = self.op("query", go, check)
        after = _blocks(searcher)
        if after is not None and self.timing:
            self.blocks.append((after[0] - before[0], after[1] - before[1]))
        return dt


def _blocks(searcher):
    m = searcher.metrics
    return None if m is None else (m["blocks_scanned"].value, m["blocks_decoded"].value)


def _open(run: Run, path: str):
    from lucene_spark.operators.search import Searcher

    def go():
        with run.span("search.Searcher"):
            s = Searcher(run.spark, path)
        if run.tr.enabled:
            s.enable_metrics()
        return s

    return run.op("open_searcher", go)[0]


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _stats_check(run: Run, path: str, oracle: Oracle):
    """The index's term table and collection stats against the oracle."""
    from lucene_spark.operators.search import Searcher

    def go():
        with run.span("search.Searcher"):
            s = Searcher(run.spark, path)
        t = s.terms_table().select("term", "doc_freq", "total_term_freq").toPandas()
        return s.stats, t

    def check(out):
        stats, t = out
        want_docs, want_ttf = oracle.collection()
        if (stats["doc_count"], stats["sum_total_term_freq"]) != (want_docs, want_ttf):
            return (f"collection stats {stats['doc_count']}/{stats['sum_total_term_freq']}"
                    f", oracle {want_docs}/{want_ttf}")
        got = {r.term: (int(r.doc_freq), int(r.total_term_freq))
               for r in t.itertuples(index=False)}
        want = oracle.term_stats()
        if got != want:
            bad = sorted(set(got.items()) ^ set(want.items()))[:3]
            return f"term stats differ ({len(set(got) ^ set(want))} terms missing/extra), e.g. {bad}"
        return None

    run.op("stats_check", go, check)


def _until(run: Run, round_fn) -> None:
    """Whole rounds until ``seconds`` have passed (at least one).

    ``round_fn(r)`` returns the seconds its timed engine calls took; the
    oracle checks between them are not timed. A failed round adds no time.
    """
    run.timing = True
    if run.tr.enabled:
        run.measure_from = len(run.tr.spans)
    t0, r = time.perf_counter(), 0
    while True:
        try:
            run.round_s.append(round_fn(r))
        except RoundFailed:
            pass
        r += 1
        if time.perf_counter() - t0 >= run.seconds:
            run.timing = False
            print("round_s " + " ".join(f"{x:.3f}" for x in run.round_s), file=sys.stderr)
            return


def _e2e(run: Run, setup_s: float, ratio: float) -> dict:
    """The end-to-end metrics every workload prints."""
    return {
        "setup_s": (setup_s, "s"),
        "round_s": (_med(run.round_s), "s"),
        "index_bytes_per_text_byte": (ratio, "ratio"),
    }


# ---- ingest -----------------------------------------------------------------

def ingest(run: Run):
    from lucene_spark.operators.check import check_index
    from lucene_spark.operators.indexer import delete_docs
    from lucene_spark.operators.merge import merge_index

    d = gen.docs(run.seed, 1, INGEST_DOCS)
    html = [gen.html_page(d, i) for i in range(len(d))]
    texts = d.texts()
    text_bytes = sum(len(t.encode()) for t in texts)
    parts = np.array_split(np.arange(len(d)), INGEST_BATCHES)
    frames = [run.frame(_take(d, p), "html", [html[i] for i in p]) for p in parts]
    doomed = d.gids[::INGEST_DELETE_EVERY].tolist()

    setup_s = run.timed_setup(lambda rep: run.op(
        "setup_build", lambda: run.build(frames[0], run.fresh_dir(f"ingest_setup{rep}"),
                                         "html", char_filter="html")))
    run.note("setup")
    ratios = []

    def one(r: int) -> float:
        path = run.fresh_dir(f"ingest_r{r}")
        oracle = Oracle([d])
        spent = 0.0
        for b, df in enumerate(frames):
            spent += run.op("build_batch", lambda: run.build(
                df, path, "html", append=b > 0, char_filter="html"))[1]
        spent += run.op("delete", lambda: _span(
            run, "indexer.delete_docs", lambda: delete_docs(run.spark, path, gids=doomed)))[1]
        oracle.delete(doomed)
        _stats_check(run, path, oracle)
        spent += run.op("merge", lambda: _span(
            run, "merge.merge_index", lambda: merge_index(run.spark, path, purge=True)))[1]
        oracle.purge()
        ratios.append(_dir_bytes(path) / text_bytes)
        _stats_check(run, path, oracle)
        spent += run.op(
            "check_index", lambda: _span(run, "check.check_index",
                                         lambda: check_index(run.spark, path)),
            lambda rep: None if rep.get("healthy") else f"unhealthy: {rep}")[1]
        run.last_index = path
        return spent

    _until(run, one)
    run.note("measure")
    return _e2e(run, setup_s, _med(ratios)), lambda: kernels.measure(texts, run.last_index, html)


def _take(d: gen.Docs, rows: np.ndarray) -> gen.Docs:
    lo, hi = int(rows[0]), int(rows[-1]) + 1
    return gen.Docs(d.gids[lo:hi], d.ptr[lo:hi + 1] - d.ptr[lo], d.toks[d.ptr[lo]:d.ptr[hi]])


def _span(run: Run, name: str, fn):
    with run.span(name):
        return fn()


def _med(xs):
    return statistics.median(xs) if xs else float("nan")


def _pages(d: gen.Docs) -> "list[str]":
    return [gen.html_page(d, i) for i in range(len(d))]


# ---- search -----------------------------------------------------------------

def search(run: Run):
    d = gen.docs(run.seed, 2, SEARCH_DOCS)
    texts = d.texts()
    text_bytes = sum(len(t.encode()) for t in texts)
    df = run.frame(d, "text", texts)
    oracle = Oracle([d])
    path = {}

    def make(rep: int):
        if rep:
            shutil.rmtree(path["idx"], ignore_errors=True)
        path["idx"] = run.fresh_dir(f"search{rep}")
        run.op("setup_build", lambda: run.build(df, path["idx"], "text"))

    setup_s = run.timed_setup(make)
    ratio = _dir_bytes(path["idx"]) / text_bytes
    run.note("setup")
    s = _open(run, path["idx"])
    for q in gen.queries(run.seed, 4, SEARCH_WARMUP_ROUNDS, d):   # JIT and searcher caches
        try:
            run.query(s, q, TOP_K, oracle)
        except RoundFailed:
            pass
    run.note("warm-up")
    qs = gen.queries(run.seed, 3, 2000, d)
    per_round = len(gen.QUERY_KINDS)

    def one(r: int) -> float:
        return sum(run.query(s, q, TOP_K, oracle)
                   for q in qs[r * per_round:(r + 1) * per_round])

    _until(run, one)
    run.note("measure")
    return _e2e(run, setup_s, ratio), lambda: kernels.measure(texts, path["idx"], _pages(d))


# ---- refresh ----------------------------------------------------------------

def refresh(run: Run):
    from lucene_spark.operators.indexer import delete_docs
    from lucene_spark.operators.merge import tiered_merge

    base = gen.docs(run.seed, 5, REFRESH_BASE)
    base_df = run.frame(base, "text", base.texts())
    batches = [gen.docs(run.seed, 6 + r, REFRESH_BATCH, gid_base=REFRESH_BASE + r * REFRESH_BATCH,
                        marker=r) for r in range(REFRESH_ROUNDS)]
    texts = [b.texts() for b in batches]
    text_bytes = sum(len(t.encode()) for t in base.texts() + sum(texts, []))
    frames = [run.frame(b, "text", t) for b, t in zip(batches, texts)]
    doomed = np.random.default_rng([run.seed, 7]).permutation(base.gids)
    pool = gen.queries(run.seed, 8, REFRESH_ROUNDS, base)
    mixed = [next(q for q in pool[5 * r:] if q.kind == k) for r, k in enumerate(REFRESH_KINDS)]
    template = {}

    def make(rep: int):
        if rep:
            shutil.rmtree(template["idx"], ignore_errors=True)
        template["idx"] = run.fresh_dir(f"refresh_base{rep}")
        run.op("setup_build", lambda: run.build(base_df, template["idx"], "text"))

    setup_s = run.timed_setup(make)
    run.note("setup")
    ratios = []

    def cycle(c: int) -> float:
        """One round: a copy of the base index refreshed REFRESH_ROUNDS times."""
        path = run.fresh_dir(f"refresh_c{c}")
        shutil.copytree(template["idx"], path)
        gone: list = []
        spent = 0.0
        for r in range(REFRESH_ROUNDS):
            dels = doomed[r * REFRESH_DELETES:(r + 1) * REFRESH_DELETES].tolist()
            spent += run.op("append", lambda: run.build(frames[r], path, "text", append=True))[1]
            spent += run.op("delete", lambda: _span(
                run, "indexer.delete_docs", lambda: delete_docs(run.spark, path, gids=dels)))[1]
            spent += run.op("tiered_merge", lambda: _span(
                run, "merge.tiered_merge", lambda: tiered_merge(run.spark, path)))[1]
            gone += dels
            oracle = Oracle([base] + batches[:r + 1])
            oracle.delete(gone)
            t = time.perf_counter()
            s = _open(run, path)
            spent += time.perf_counter() - t
            new = set(batches[r].gids.tolist())
            marker = gen.Query("term", (gen.MARKER_BASE + r,))
            spent += run.query(
                s, marker, REFRESH_BATCH, oracle,
                lambda res: None if set(res["gid"].tolist()) == new else "new docs not all found")
            spent += run.query(s, mixed[r], TOP_K, oracle)
        ratios.append(_dir_bytes(path) / text_bytes)
        run.last_index = path
        return spent

    _until(run, cycle)
    run.note("measure")
    return _e2e(run, setup_s, _med(ratios)), lambda: kernels.measure(
        texts[0] + base.texts(), run.last_index, _pages(base))


WORKLOADS = {"ingest": ingest, "search": search, "refresh": refresh}


# ---- per-layer metrics from the trace ---------------------------------------

# (metric, unit) in the order they are printed; every workload prints all of
# them. Span metrics are totals per timed round, so a layer the workload does
# not call in its rounds reads 0.
LAYER_METRICS = (
    ("html.strip_mb_per_s", "MB/s"),
    ("analysis.analyze_mb_per_s", "MB/s"),
    ("pfor.encode_mvalues_per_s", "Mvalues/s"),
    ("pfor.decode_mvalues_per_s", "Mvalues/s"),
    ("bm25.score_mpostings_per_s", "Mpostings/s"),
    ("indexer.build_s", "s"),
    ("indexer.build_jobs", "count"),
    ("indexer.shuffle_write_mb", "MB"),
    ("indexer.written_mb", "MB"),
    ("indexer.delete_s", "s"),
    ("indexer.delete_jobs", "count"),
    ("merge.merge_s", "s"),
    ("merge.jobs", "count"),
    ("merge.executor_busy_s", "s"),
    ("merge.shuffle_read_mb", "MB"),
    ("merge.written_mb", "MB"),
    ("check.check_s", "s"),
    ("check.jobs", "count"),
    ("check.executor_busy_s", "s"),
    ("plans.parse_ms", "ms"),
    ("search.open_ms", "ms"),
    ("search.first_query_jobs", "count"),
    ("search.search_ms", "ms"),
    ("search.jobs", "count"),
    ("search.in_jobs_ms", "ms"),
    ("search.outside_jobs_ms", "ms"),
    ("search.input_mb", "MB"),
    ("search.result_kb", "kB"),
    ("search.blocks_scanned", "count"),
    ("search.blocks_decoded", "count"),
    ("spark.empty_job_ms", "ms"),
)


def layer_metrics(run: Run) -> dict:
    """Span and Spark-counter metrics, per timed round (see LAYER_METRICS)."""
    tr = run.tr
    timed = tr.spans[run.measure_from:]
    per = 1.0 / max(1, len(run.round_s))
    out: dict = {}

    def spans(*names):
        return [s for s in timed if s.name in names]

    def total(ss, fn):
        return sum(fn(s) for s in ss) * per

    def jobs(ss):
        return total(ss, lambda s: len(tr.jobs_under(s)))

    def stage(ss, key, scale):
        return total(ss, lambda s: sum(j[3][key] for j in tr.jobs_under(s)) * scale)

    def dur(ss, scale=1.0):
        return total(ss, lambda s: s.dur * scale)

    b = spans("indexer.build_index")
    out["indexer.build_s"] = dur(b)
    out["indexer.build_jobs"] = jobs(b)
    out["indexer.shuffle_write_mb"] = stage(b, "shuffle_write", 1e-6)
    out["indexer.written_mb"] = stage(b, "output", 1e-6)
    dl = spans("indexer.delete_docs")
    out["indexer.delete_s"] = dur(dl)
    out["indexer.delete_jobs"] = jobs(dl)
    m = spans("merge.merge_index", "merge.tiered_merge")
    out["merge.merge_s"] = dur(m)
    out["merge.jobs"] = jobs(m)
    out["merge.executor_busy_s"] = stage(m, "run_ms", 1e-3)
    out["merge.shuffle_read_mb"] = stage(m, "shuffle_read", 1e-6)
    out["merge.written_mb"] = stage(m, "output", 1e-6)
    c = spans("check.check_index")
    out["check.check_s"] = dur(c)
    out["check.jobs"] = jobs(c)
    out["check.executor_busy_s"] = stage(c, "run_ms", 1e-3)
    out["plans.parse_ms"] = dur(spans("plans.parse_query"), 1e3)
    # every Searcher the run opens, set-up and checks included: never 0
    out["search.open_ms"] = _med([s.dur * 1e3 for s in tr.named("search.Searcher")])
    # the first search after each Searcher(...) runs on cold caches; warm-up included
    first, opened = [], False
    for s in tr.spans:
        if s.name == "search.Searcher":
            opened = True
        elif s.name == "search.search" and opened:
            first.append(len(tr.jobs_under(s)))
            opened = False
    out["search.first_query_jobs"] = _med(first) if first else 0.0
    q = spans("search.search")
    inside = {s.id: in_jobs_s(tr, s) for s in q}
    out["search.search_ms"] = dur(q, 1e3)
    out["search.jobs"] = jobs(q)
    out["search.in_jobs_ms"] = total(q, lambda s: inside[s.id] * 1e3)
    out["search.outside_jobs_ms"] = total(q, lambda s: (s.dur - inside[s.id]) * 1e3)
    out["search.input_mb"] = stage(q, "input", 1e-6)
    out["search.result_kb"] = stage(q, "result", 1e-3)
    out["search.blocks_scanned"] = sum(x[0] for x in run.blocks) * per
    out["search.blocks_decoded"] = sum(x[1] for x in run.blocks) * per
    return out


def empty_job_ms(spark, reps: int = 5) -> float:
    """Median wall of a one-task Spark job that does nothing."""
    sc = spark.sparkContext
    walls = []
    for _ in range(reps):
        t = time.perf_counter()
        sc.parallelize([0], 1).count()
        walls.append(time.perf_counter() - t)
    return statistics.median(walls) * 1e3

