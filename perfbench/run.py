"""End-to-end benchmark of the searchengine_spark engine.

    python3 perfbench/run.py --workload build|serve --seed N \\
        --seconds S --trace 0|1

Run from the repository root. The engine is imported unmodified and
driven only through its public functions and its HTTP endpoint. The
last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics; with ``--trace 1``
spans are recorded around the calls into each layer and the metrics are
the per-layer ones. README.md defines every metric. Everything a run
writes stays under ``.perfbench_work/`` in the current directory.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".perfbench_work")
RUN_DIR = os.path.join(WORK, "run")

# 600 pages in 4 part files; N_ARRIVING of the files are held back as
# the arrival batch that streaming ingest folds into the built index.
# n_buckets=8 is the engine's default: the postings stage runs as two
# concurrent bucket-group jobs and the merge as two rounds of four
# bucket jobs. Fixed per-Spark-job and per-task costs dominate every
# stage at this size (README.md records the measured per-page share):
# one token chunk and 4 part files instead of 2 and 16 cut a `build`
# run from ~100 s to ~82 s, which both workloads need to fit the time
# their runs are given.
N_PAGES = 600
N_FILES = 4
N_ARRIVING = 1
N_BUCKETS = 8
N_CHUNKS = 1
# corpus generation runs this many times and setup_s takes the median;
# session start and a session's cold first queries happen once per run
SETUP_REPEATS = 3
PHRASE_LEN = 4
# PageRank stops at this L-inf change: ~18 power iterations instead of
# the ~57 of the engine's 1e-4 default, which alone took ~30 s of each
# run. Every iteration is the same pair of Spark jobs, so a change to
# the per-iteration cost shows in full; one that only speeds up
# convergence shows less than it would at the default. The oracle
# check uses the same threshold.
PAGERANK_THRESHOLD = 0.05


def size_environment() -> int:
    """Point every scratch location inside the checkout and make the
    engine importable by Spark's Python workers (they inherit this
    process's environment, not its sys.path). Returns the core count."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prev if prev else "")
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts, the launcher too: temp files in the
    # checkout, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # SPARK_LOCAL_DIRS, when set, overrides spark.local.dir
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["SPARK_GRAFT_LOCAL_DIR"]
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return nproc


def start_session(nproc: int):
    from searchengine_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{nproc}]",
        # the session's default of 32 shuffle partitions is sized for a
        # 32-core host; one per core here
        shuffle_partitions=nproc,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def write_corpus(path: str) -> None:
    from searchengine_spark import corpus

    # row groups of N_PAGES/N_FILES rows make write_pages_parquet emit
    # exactly N_FILES part files
    corpus.write_pages_parquet(
        path, N_PAGES, batch_rows=4 * (N_PAGES // N_FILES), n_files=N_FILES
    )


def tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def serve_ready_build(spark, pages: str, root: str, build_id: str) -> None:
    """The serve-ready build: index, then PageRank, then the docstore."""
    from searchengine_spark import indexer, pagerank, serving

    indexer.build_index(
        spark, pages, root, build_id, n_chunks=N_CHUNKS, n_buckets=N_BUCKETS
    )
    pagerank.build_pagerank_stage(spark, pages, root, build_id,
                                  threshold=PAGERANK_THRESHOLD)
    serving.build_docstore(spark, root, pages)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def timed(fn, *args) -> float:
    t0 = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def zipf_terms(rng: random.Random, n: int) -> list[str]:
    """``n`` distinct terms drawn Zipf-weighted over corpus.VOCAB ranks
    (the corpus's own 1/(r+2.7)^1.07 shape), so head terms dominate."""
    from searchengine_spark import corpus

    weights = [1.0 / (r + 2.7) ** 1.07 for r in range(len(corpus.VOCAB))]
    out: list[str] = []
    while len(out) < n:
        t = rng.choices(corpus.VOCAB, weights=weights)[0]
        if t not in out:
            out.append(t)
    return out


def page_phrases(pages: list[dict], rng: random.Random, n: int) -> list[str]:
    """``n`` phrases of PHRASE_LEN consecutive scoring-text tokens, each
    taken from a seeded page of ``pages``."""
    from searchengine_spark.textprep import extract_text_titlep_lower, java_tokens

    out = []
    while len(out) < n:
        toks = java_tokens(extract_text_titlep_lower(
            bytes(rng.choice(pages)["html"]).decode("utf-8", "replace")))
        if len(toks) >= PHRASE_LEN:
            i = rng.randrange(len(toks) - PHRASE_LEN + 1)
            out.append(" ".join(toks[i:i + PHRASE_LEN]))
    return out


def serve_pool(pages: list[dict], seed: int) -> list[dict]:
    """The query pool of the ``serve`` workload: two groups of four
    specs, each group one multi-term OR, one AND, one PHRASE and one
    more OR, covering ``-term`` exclusion, a second result page and an
    absent term. The load generator sends the groups in turn, one per
    batch of four in-flight requests, so every batch has the same mix
    of kinds (a PHRASE spec adds Spark jobs to its batch). The seed
    picks the terms, Zipf-weighted over corpus.VOCAB ranks, and the
    phrases."""
    rng = random.Random(f"{seed}:serve")
    absent = f"qqqabsent{seed}"
    t = [" ".join(zipf_terms(rng, n)) for n in (2, 2, 3, 2, 2, 1)]
    p1, p2 = page_phrases(pages, rng, 2)
    e, f, g = zipf_terms(rng, 3)
    specs = [
        {"query": t[0]},
        {"query": t[1], "mode": "AND"},
        {"query": p1, "mode": "PHRASE"},
        {"query": f"{e} {f} -{g}"},
        {"query": t[2], "offset": 15},  # second result page
        {"query": f"{absent} {t[3]}", "mode": "AND"},
        {"query": p2, "mode": "PHRASE"},
        {"query": f"{absent} {t[4]} {t[5]}"},
    ]
    for s in specs:
        s.setdefault("mode", "OR")
        s.setdefault("offset", 0)
        s["limit"] = 15
    return specs


# ---------------------------------------------------------------------------
# HTTP: the server runs in this process, the clients in their own
# ---------------------------------------------------------------------------

def run_loadgen(port: int, clients: int, pool_path: str,
                seconds: int) -> list[dict]:
    """Run ``loadgen.py`` until it has measured for ``seconds`` after
    every client's first answer, and return every request record."""
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "loadgen.py"),
         "--port", str(port), "--clients", str(clients),
         "--pool", pool_path, "--seconds", str(seconds)],
        stdout=subprocess.PIPE, text=True,
    )
    try:
        out, _ = proc.communicate(timeout=150)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"load generator exited {proc.returncode}")
    return json.loads(out.strip().splitlines()[-1])


def stop_http(server, thread) -> None:
    server.shutdown()
    server.server_close()
    server.batcher.close()
    thread.join(timeout=30)


# ---------------------------------------------------------------------------
# correctness
# ---------------------------------------------------------------------------

def reference_mismatches(spark, root: str, pages: list[dict],
                         ranked_pages: list[dict]) -> int:
    """Reference queries whose top-k from query.score_exhaustive differs
    from the Spark-free oracle's (doc ids, order, blended score to 9 dp).
    BM25 runs over ``pages``; PageRank over ``ranked_pages`` (the pages
    the PageRank stage saw) with the corpus's planted edges, and a page
    outside them blends a rank of 0, as in the engine."""
    from searchengine_spark import corpus, query
    from searchengine_spark.oracle import (
        build_oracle_index,
        oracle_all_queries,
        oracle_pagerank,
    )

    idx = build_oracle_index(pages)
    ranked = build_oracle_index(ranked_pages, corpus.expected_edges(N_PAGES))
    idx.pagerank = oracle_pagerank(ranked, threshold=PAGERANK_THRESHOLD)
    qs = corpus.reference_queries()

    def top(rows) -> dict[int, list]:
        out: dict[int, list] = {q["query_id"]: [] for q in qs}
        for r in rows:
            out[r["query_id"]].append(
                (r["rank"], r["doc_id"], round(r["blended"], 9)))
        return {q: sorted(v) for q, v in out.items()}

    eng = top(query.score_exhaustive(spark, root, qs).collect())
    gold = top(oracle_all_queries(idx, qs))
    return sum(eng[q] != gold[q] for q in eng)


def oracle_answers(root: str, pages: list[dict],
                   pool: list[dict]) -> list[list[str]]:
    """The url list the HTTP endpoint must return for each spec, from the
    Spark-free oracle given the served index's stored PageRank (so the
    blended scores are bit-identical inputs). Exclusions drop a doc
    before the top-k window; a PHRASE spec ranks as AND over docs where
    the stemmed terms sit at consecutive token positions; the page is
    ``[offset, offset + limit)`` of the ranking."""
    import pyarrow.parquet as pq

    from searchengine_spark import catalog
    from searchengine_spark.oracle import build_oracle_index, oracle_topk
    from searchengine_spark.porter import porter_stem
    from searchengine_spark.query import parse_query
    from searchengine_spark.serving import split_exclusions
    from searchengine_spark.textprep import (
        doc_term_stats,
        extract_text_titlep_lower,
        java_tokens,
    )

    idx = build_oracle_index(pages)
    ranks = pq.read_table(catalog.path(root, catalog.PAGERANKS))
    idx.pagerank = dict(zip(ranks.column("doc_id").to_pylist(),
                            ranks.column("rank").to_pylist()))
    html = {p["url"]: p["html"] for p in pages}

    def has_phrase(doc_id: int, stems: list[str]) -> bool:
        text = extract_text_titlep_lower(
            bytes(html[idx.doc_url[doc_id]]).decode("utf-8", "replace"))
        terms, _, poss, _, _ = doc_term_stats(text)
        at = dict(zip(terms, map(set, poss)))
        return any(all(p + i in at.get(t, ()) for i, t in enumerate(stems))
                   for p in at.get(stems[0], ()))

    out = []
    for s in pool:
        query, exclude = split_exclusions(s["query"])
        mode = "AND" if s["mode"] == "PHRASE" else s["mode"]
        ranked = oracle_topk(idx, query, mode, k=len(idx.doc_url))
        deny = {d for t in parse_query(exclude) for d in idx.postings.get(t, ())}
        docs = [r["doc_id"] for r in ranked if r["doc_id"] not in deny]
        if s["mode"] == "PHRASE":
            stems = [porter_stem(t) for t in java_tokens(query.lower())]
            docs = [d for d in docs if has_phrase(d, stems)]
        page = docs[s["offset"]:s["offset"] + s["limit"]]
        out.append([idx.doc_url[d] for d in page])
    return out


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

def read_pages(path: str) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pylist()


def link_files(src: str, names: list[str], dst: str) -> None:
    os.makedirs(dst, exist_ok=True)
    for f in names:
        os.link(os.path.join(src, f), os.path.join(dst, f))


def probe_spec(root: str, batch_pages: list[dict], arrived_pages: list[dict],
               rng: random.Random) -> tuple[dict, list[str]]:
    """A PHRASE query taken from a page of the arrival batch, and its
    oracle answer over the arrived pages; the answer must hold a page of
    the batch, so only an index that has absorbed the batch gives it."""
    batch_urls = {p["url"] for p in batch_pages}
    specs = [{"query": q, "mode": "PHRASE", "offset": 0, "limit": 15}
             for q in page_phrases(batch_pages, rng, 4)]
    for spec, want in zip(specs, oracle_answers(root, arrived_pages, specs)):
        if batch_urls & set(want):
            return spec, want
    raise RuntimeError("no probe phrase finds a page of the arrival batch")


def run_build(spark, seed: int, seconds: int, nproc: int) -> dict:
    """One serve-ready build of the corpus less its arrival batch, then
    the batch lands and goes through streaming ingest, merge and docstore
    refresh until a probe query finds it. ``seconds`` does not apply: a
    run is one build and one batch. The seed picks the batch's part files
    and the probe. Checked after both: fsck, the reference queries
    against the oracle over every arrived page, and the probe's answer."""
    from searchengine_spark import catalog, checkpoint, fsck, merge, serving
    from searchengine_spark.streaming.ingest import stream_tokenize

    prep = [timed(write_corpus, os.path.join(RUN_DIR, f"pages{i}"))
            for i in range(SETUP_REPEATS)]
    full = os.path.join(RUN_DIR, "pages0")
    files = sorted(f for f in os.listdir(full) if f.endswith(".parquet"))
    rng = random.Random(f"{seed}:build")
    batch = sorted(rng.sample(files, N_ARRIVING))
    base = [f for f in files if f not in batch]
    base_dir = os.path.join(RUN_DIR, "base")
    arrived_dir = os.path.join(RUN_DIR, "arrived")  # merge's pages_path
    stream_dir = os.path.join(RUN_DIR, "stream")
    link_files(full, base, base_dir)
    link_files(full, base, arrived_dir)
    os.makedirs(stream_dir)
    base_pages = read_pages(base_dir)
    batch_pages = [p for f in batch for p in read_pages(os.path.join(full, f))]
    arrived_pages = base_pages + batch_pages
    root = os.path.join(RUN_DIR, "index")

    t0 = time.perf_counter()
    serve_ready_build(spark, base_dir, root, "build")
    t1 = time.perf_counter()
    spec, want = probe_spec(root, batch_pages, arrived_pages, rng)

    t2 = time.perf_counter()  # the batch lands
    link_files(full, batch, stream_dir)
    link_files(full, batch, arrived_dir)
    stream_tokenize(spark, stream_dir, catalog.path(root, catalog.TOKENS),
                    os.path.join(RUN_DIR, "stream-ckpt")).awaitTermination()
    report = merge.merge_tokens_stage(spark, root, "ingest",
                                      pages_path=arrived_dir)
    serving.refresh_docstore(spark, root, arrived_dir)
    got = [r["url"] for r in serving.search(
        spark, root, arrived_dir, spec["query"], spec["mode"],
        k=spec["limit"]).collect()]
    t3 = time.perf_counter()

    with ThreadPoolExecutor(max_workers=1) as ex:
        fs = ex.submit(lambda: fsck.fsck(spark, root).collect())
        mism = reference_mismatches(spark, root, arrived_pages, base_pages)
        findings = fs.result()
    checks = {
        f"{len(findings)} fsck findings": not findings,
        f"{mism} reference queries differ from the oracle": not mism,
        f"probe {spec} -> {got}, want {want}": got == want,
    }
    for what, ok in checks.items():
        if not ok:
            print(what, file=sys.stderr)
    build_s, fresh_s = t1 - t0, t3 - t2
    print(f"build {build_s:.1f}s, arrival batch searchable after "
          f"{fresh_s:.1f}s, checks {time.perf_counter() - t3:.1f}s",
          file=sys.stderr)
    written = sum(r["bytes"] for r in checkpoint.read_metrics(root)
                  if r["build_id"] == "ingest")
    arrived_bytes = sum(os.path.getsize(os.path.join(full, f)) for f in batch)
    return {
        "attempted": len(checks),
        "failed": sum(not ok for ok in checks.values()),
        "setup_s": median(prep),
        "windows": [(t0, t1), (t2, t3)],
        "root": root,
        "records": [],
        "ingest": {
            "ingest.freshness_s": fresh_s,
            "ingest.write_amp": written / arrived_bytes,
            "merge.merged_buckets": len(report["merged_buckets"]),
            "merge.bytes_written": written,
        },
        "metrics": {
            "latency_p50_s": build_s,
            "throughput": len(arrived_pages) / (build_s + fresh_s),
            "index_bytes_per_doc": tree_bytes(root) / len(arrived_pages),
        },
    }


def engine_key() -> str:
    """Hash of the engine's sources and the corpus shape: a cached index
    is reused only by the code that built it."""
    h = hashlib.sha1(repr((N_PAGES, N_FILES, N_BUCKETS, N_CHUNKS,
                           PAGERANK_THRESHOLD)).encode())
    pkg = os.path.join(ROOT, "searchengine_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), pkg).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def cached_index(spark) -> str:
    """A serve-ready index of the corpus, built once per checkout and
    engine version (the ``build`` workload measures that build)."""
    cache = os.path.join(WORK, "cache", f"serve-{engine_key()}")
    if os.path.exists(os.path.join(cache, "READY")):
        return cache
    tmp = cache + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    write_corpus(os.path.join(tmp, "pages"))
    serve_ready_build(spark, os.path.join(tmp, "pages"),
                      os.path.join(tmp, "index"), "serve")
    open(os.path.join(tmp, "READY"), "w").close()
    shutil.rmtree(cache, ignore_errors=True)
    os.rename(tmp, cache)
    return cache


def run_serve(spark, seed: int, seconds: int, nproc: int) -> dict:
    """``nproc`` closed-loop HTTP clients in a separate process against
    webserver -> QueryBatcher -> serving.search_many for ``seconds``,
    over the cached index in place (the query path only reads it).
    Every answer must equal the oracle's."""
    from searchengine_spark import webserver

    cache = cached_index(spark)
    root = os.path.join(cache, "index")
    pages_dir = os.path.join(cache, "pages")
    pages = read_pages(pages_dir)
    pool = serve_pool(pages, seed)
    pool_path = os.path.join(RUN_DIR, "pool.jsonl")
    with open(pool_path, "w") as f:
        f.write("".join(json.dumps(s) + "\n" for s in pool))

    expected = oracle_answers(root, pages, pool)

    server, thread = webserver.start_server(spark, root, pages_dir)
    try:
        t0 = time.perf_counter()
        records = run_loadgen(server.server_address[1], nproc, pool_path,
                              seconds)
    finally:
        stop_http(server, thread)

    wrong = {r["id"] for r in records
             if r["status"] != 200 or r.get("urls") != expected[r["pool_idx"]]}
    for r in records:
        if r["id"] in wrong:
            print(f"wrong answer: {pool[r['pool_idx']]} -> {r}", file=sys.stderr)
    # each client's first request meets the session's cold query path
    # (the first PHRASE batch above all): it counts as set-up, and the
    # metrics start when the last of them is answered
    first = [r for r in records if r["n"] == 0]
    measured = [r for r in records if r["n"] > 0]
    if not measured:
        raise RuntimeError("no request was sent after the first round")
    t_warm = max(r["done"] for r in first)
    t_last = max(r["done"] for r in records)
    print(f"first round {t_warm - t0:.1f}s, measured {len(measured)} "
          f"requests in {t_last - t_warm:.1f}s", file=sys.stderr)
    return {
        "attempted": len(records),
        "failed": len(wrong),
        "setup_s": t_warm - t0,
        "windows": [(t_warm, t_last)],
        "root": root,
        "records": measured,
        "ingest": {},
        "metrics": {
            "latency_p50_s": median([r["latency_s"] for r in measured]),
            # the loop ends when the last in-flight answer arrives, so
            # the window holds whole requests only
            "throughput": sum(r["id"] not in wrong for r in measured)
                          / (t_last - t_warm),
            "index_bytes_per_doc": tree_bytes(root) / N_PAGES,
        },
    }


WORKLOADS = {"build": run_build, "serve": run_serve}


# ---------------------------------------------------------------------------
# tracing (--trace 1)
# ---------------------------------------------------------------------------

# (module, function, span name): the public calls into each layer
TRACED_FUNCTIONS = (
    ("indexer", "build_tokens_stage", "indexer.tokens"),
    ("indexer", "build_docstats_stage", "indexer.docstats"),
    ("indexer", "build_postings_stage", "indexer.postings"),
    ("indexer", "build_title_index_stage", "indexer.title_index"),
    ("indexer", "read_stats", "indexer.read_stats"),
    ("pagerank", "build_pagerank_stage", "pagerank"),
    ("serving", "build_docstore", "serving.build_docstore"),
    ("query", "score_exhaustive", "query.score_exhaustive"),
    ("query", "phrase_match", "query.phrase_match"),
    ("query", "term_idfs", "query.term_idfs"),
    ("checkpoint", "completed_partitions", "checkpoint.completed_partitions"),
    ("merge", "merge_tokens_stage", "merge.merge_tokens_stage"),
    ("serving", "refresh_docstore", "serving.refresh_docstore"),
)


def instrument(rec) -> None:
    """Replace the engine's layer entry points with span-recording
    wrappers. Runs before any workload code resolves them."""
    import importlib

    from searchengine_spark import serving, webserver
    from searchengine_spark.streaming import ingest

    for mod, fn, span in TRACED_FUNCTIONS:
        func = getattr(importlib.import_module(f"searchengine_spark.{mod}"), fn)
        rec.wrap_function(func, span, "searchengine_spark")

    def count_jobs(span, args, kwargs, call):
        # a job group per call counts the Spark jobs one batch runs
        sc = args[0].sparkContext
        group = f"perfbench-search-many-{span['id']}"
        sc.setJobGroup(group, "search_many")
        try:
            return call(*args, **kwargs)
        finally:
            span["spark_jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
            span["batch"] = len(args[3])
            sc.setLocalProperty("spark.jobGroup.id", None)

    def await_stream(span, args, kwargs, call):
        # the stream runs until awaitTermination returns; the span
        # covers the whole micro-batch run, not only the start
        q = call(*args, **kwargs)
        q.awaitTermination()
        return q

    rec.wrap_function(ingest.stream_tokenize, "streaming.ingest.stream_tokenize",
                      "searchengine_spark", on_call=await_stream)
    rec.wrap_function(serving.search_many, "serving.search_many",
                      "searchengine_spark", on_call=count_jobs)
    rec.wrap_method(serving.QueryBatcher, "search", "serving.batcher.search")
    rec.wrap_method(webserver.SearchHandler, "do_GET", "webserver.request",
                    request_id=lambda h: h.headers.get("X-Bench-Request"))


def layer_metrics(spans: list[dict], result: dict) -> dict[str, float]:
    """Per-layer numbers from the spans of one traced run, counting only
    spans that start inside a measured window (never the checks or the
    once-per-checkout cache build). Stage times are self time summed
    over the run; query-path times are the median self time per call
    made under serving.search_many."""
    from searchengine_spark import catalog, checkpoint
    from spans import self_times

    spans = [s for s in spans
             if any(lo <= s["start"] <= hi for lo, hi in result["windows"])]
    own = self_times(spans)
    by_id = {s["id"]: s for s in spans}

    def in_batch(s: dict) -> bool:
        p = s["parent"]
        while p is not None and p in by_id:
            if by_id[p]["name"] == "serving.search_many":
                return True
            p = by_id[p]["parent"]
        return False

    def total(name: str) -> float:
        return sum(own[s["id"]] for s in spans if s["name"] == name)

    def per_call(name: str) -> float:
        return median([own[s["id"]] for s in spans
                       if s["name"] == name and in_batch(s)])

    root = result["root"]
    lineage = checkpoint.read_metrics(root)
    tok_rows, _ = catalog.parquet_rows_bytes(catalog.path(root, catalog.TOKENS))
    sm = [s for s in spans if s["name"] == "serving.search_many"]
    waits = []
    for s in spans:
        if s["name"] != "serving.batcher.search":
            continue
        # the batch that answered this request: the last one to end
        # before the request returned
        done = [b for b in sm if b["end"] <= s["end"]]
        if done:
            b = max(done, key=lambda b: b["end"])
            waits.append((s["end"] - s["start"]) - (b["end"] - b["start"]))
    server_s = {s["request"]: s["end"] - s["start"] for s in spans
                if s["name"] == "serving.batcher.search" and s["request"]}
    overhead = [r["latency_s"] - server_s[r["id"]] for r in result["records"]
                if r["id"] in server_s]
    return {
        "indexer.tokens.wall_s": total("indexer.tokens"),
        "indexer.tokens.rows": sum(
            r["rows"] for r in lineage if r["stage"] == "tokens"),
        "indexer.docstats.wall_s": total("indexer.docstats"),
        "indexer.postings.wall_s": total("indexer.postings"),
        "indexer.title_index.wall_s": total("indexer.title_index"),
        "pagerank.wall_s": total("pagerank"),
        "serving.build_docstore.wall_s": total("serving.build_docstore"),
        "checkpoint.completed_partitions.wall_s":
            total("checkpoint.completed_partitions"),
        "checkpoint.lineage_files": len(catalog.list_files(
            catalog.path(root, catalog.LINEAGE), ".parquet")),
        "compress.bytes_per_posting":
            tree_bytes(catalog.path(root, catalog.POSTINGS)) / max(tok_rows, 1),
        "serving.search_many.wall_s": median([own[s["id"]] for s in sm]),
        "serving.search_many.spark_jobs": median(
            [s["spark_jobs"] for s in sm]),
        "serving.batch_size": (
            sum(s["batch"] for s in sm) / len(sm) if sm else 0.0),
        "serving.queue_wait_s": median(waits),
        "indexer.read_stats.wall_s": per_call("indexer.read_stats"),
        "query.term_idfs.wall_s": per_call("query.term_idfs"),
        "query.score_exhaustive.plan_s": per_call("query.score_exhaustive"),
        "query.phrase_match.plan_s": per_call("query.phrase_match"),
        # client latency minus the server's handling of the request
        "webserver.overhead_s": median(overhead),
        "streaming.ingest.stream_tokenize.wall_s":
            total("streaming.ingest.stream_tokenize"),
        "merge.merge_tokens_stage.wall_s": total("merge.merge_tokens_stage"),
        "serving.refresh_docstore.wall_s": total("serving.refresh_docstore"),
        **{k: result["ingest"].get(k, 0) for k in INGEST_METRICS},
    }


# ---------------------------------------------------------------------------

E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "throughput": "1/s",
    "index_bytes_per_doc": "B",
}
# measured by run_build around the arrival batch, not from spans
INGEST_METRICS = ("ingest.freshness_s", "ingest.write_amp",
                  "merge.merged_buckets", "merge.bytes_written")
LAYER_UNITS = {
    "ingest.write_amp": "ratio",
    "merge.merged_buckets": "count",
    "merge.bytes_written": "B",
    "indexer.tokens.rows": "count",
    "checkpoint.lineage_files": "count",
    "compress.bytes_per_posting": "B",
    "serving.search_many.spark_jobs": "count",
    "serving.batch_size": "count",
}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    nproc = size_environment()
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    os.makedirs(RUN_DIR)
    rec = None
    if args.trace:
        from spans import Recorder

        rec = Recorder()
        instrument(rec)
    t0 = time.perf_counter()
    spark = start_session(nproc)
    session_s = time.perf_counter() - t0
    try:
        result = WORKLOADS[args.workload](spark, args.seed, args.seconds, nproc)
        layers = layer_metrics(rec.finished(), result) if rec else None
    finally:
        stop_session(spark)
        shutil.rmtree(RUN_DIR, ignore_errors=True)

    e2e = {"setup_s": session_s + result["setup_s"], **result["metrics"]}
    if rec:
        values = {**layers, **{f"traced.{k}": v for k, v in e2e.items()}}
        units = {**{k: LAYER_UNITS.get(k, "s") for k in layers},
                 **{f"traced.{k}": u for k, u in E2E_UNITS.items()}}
    else:
        values, units = e2e, E2E_UNITS
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in values.items()},
    }))


if __name__ == "__main__":
    main()
