"""Solo-query serving profile: where one request's time and Spark jobs go.

Decomposes a single-request ``serving.search_many`` batch into the
phases it runs, and times each across repeated queries in a warmed
session, so the floor's composition is measured, not guessed:

  plan     ``_topk_df``: corpus stats + query-term idfs (one Spark job
           each) and construction of the one scoring plan
  score    the scoring plan (``collect``)
  fetch    ``_fetch_docs``: the docstore lookup of the ranked docs (one
           collect; the corpus-scan fallback only for docs it lacks)

It prints per-phase medians of wall time and of Spark jobs (counted
through a job group per phase), plus the end-to-end solo
``search_many`` p50:

    python tools/solo_serve_profile.py INDEX_ROOT PAGES_PATH

The index must be serve-ready (``build_index``, ``build_pagerank_stage``
and ``build_docstore``). The result is also written next to this file
as ``solo_serve_profile.json``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class JobCounter:
    """Runs a phase under its own Spark job group and returns its
    result, wall time and Spark job count."""

    def __init__(self, sc) -> None:
        self._sc = sc
        self._n = 0

    def run(self, fn):
        group = f"solo-profile-{self._n}"
        self._n += 1
        self._sc.setJobGroup(group, "solo serve profile")
        try:
            t0 = time.perf_counter()
            out = fn()
            wall = time.perf_counter() - t0
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = len(self._sc.statusTracker().getJobIdsForGroup(group))
        return out, wall, jobs


def main() -> None:
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    root, pages = sys.argv[1], sys.argv[2]

    from searchengine_spark import corpus
    from searchengine_spark.serving import _fetch_docs, _topk_df, search_many
    from searchengine_spark.session import get_spark

    n_cores = len(os.sched_getaffinity(0))
    spark = get_spark("solo-profile", master=f"local[{n_cores}]",
                      shuffle_partitions=n_cores)
    spark.sparkContext.setLogLevel("ERROR")
    count = JobCounter(spark.sparkContext)
    # two-term OR and AND reference queries, plus one each of the
    # serving-only shapes: a phrase, an exclusion and a second page
    sample = [
        {"query": q["query"], "mode": q["mode"], "k": 15, "offset": 0}
        for q in corpus.reference_queries()[14:26]
    ]
    sample[2]["mode"] = "PHRASE"
    sample[4]["query"] += " -flaidrais"
    sample[6]["offset"] = 15

    # warm: one full request (JIT, python workers, page cache)
    search_many(spark, root, pages, sample[:1])

    wall: dict[str, list[float]] = {
        "plan": [], "score": [], "fetch": [], "total": []}
    jobs: dict[str, list[int]] = {k: [] for k in wall}
    for req in sample:
        topk, t_plan, j_plan = count.run(lambda: _topk_df(spark, root, [req]))
        ranked, t_score, j_score = count.run(topk.collect)
        ids = sorted({r["doc_id"] for r in ranked})
        _, t_fetch, j_fetch = count.run(
            lambda: _fetch_docs(spark, root, pages, ids))
        for k, t, j in (("plan", t_plan, j_plan), ("score", t_score, j_score),
                        ("fetch", t_fetch, j_fetch)):
            wall[k].append(t)
            jobs[k].append(j)
        wall["total"].append(t_plan + t_score + t_fetch)
        jobs["total"].append(j_plan + j_score + j_fetch)

    e2e = []
    for req in sample:
        _, t, _ = count.run(lambda: search_many(spark, root, pages, [req]))
        e2e.append(t)

    out = {
        "index_root": root,
        "n_queries": len(sample),
        "phase_median_s": {k: round(statistics.median(v), 3)
                           for k, v in wall.items()},
        "phase_median_spark_jobs": {k: statistics.median(v)
                                    for k, v in jobs.items()},
        "solo_search_many_p50_s": round(statistics.median(e2e), 3),
        "solo_search_many_best_s": round(min(e2e), 3),
    }
    print(json.dumps(out, indent=1))
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "solo_serve_profile.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"written: {path}")
    spark.stop()


if __name__ == "__main__":
    main()
