"""Top-k query execution over the compressed index.

Two physical strategies, one semantics:

* ``score_exhaustive`` — the fully-distributed DataFrame path: bucket-
  pruned segment scan -> Arrow decode -> broadcast-join of the (tiny)
  query-term table -> deterministic fold-sum per (query, doc) ->
  window top-k. This is the scale path: no per-group memory beyond one
  segment blob, every join against query terms is a broadcast, the scan
  touches only the buckets holding query terms. Title and anchor hits,
  exclusions and phrase adjacency ride the same join and aggregation
  (the single-pass top-k aggregation of *Cache-Efficient Top-k
  Aggregation over High Cardinality Large Datasets*, VLDB 2023), so a
  batch of any mix of queries is one plan; query-path reads use the
  schemas pinned in ``catalog.SCHEMAS`` (no inference jobs).
* ``wand.py`` — per-query block-max WAND over the same segments for
  low-latency serving (validated equal to the exhaustive path).

Determinism contract (rank-identity across parallelism — SURVEY.md §7.3):
per-term idf is computed once, driver-side, in Python float64; per-posting
scores use one fixed expression shape; the per-(query,doc) sum folds the
per-term scores in sorted-term order via sort_array + aggregate, never a
float ``sum()`` whose partial-aggregation order varies with partitioning.

Reference parity: disjunctive (OR) scoring with per-term accumulation is
``frontend/Mainpage.java:63-110``; conjunctive (AND) is new per the
north_rule. The blend weights 0.3 (pagerank) / 0.5 (title hit) /
0.2 (relevance) are ``Mainpage.java:88-89,105``.
"""

from __future__ import annotations

import json
import math
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import catalog
from .bm25 import B, K1, W_PAGERANK, W_RELEVANCE, W_TITLE
from .compress import decode_postings, to_signed, varbyte_decode
from .indexer import POSTINGS_SCHEMA, term_buckets
from .porter import porter_stem
from .textprep import java_tokens

MATCH_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("tf", T.IntegerType()),
        T.StructField("doc_len", T.IntegerType()),
    ]
)


def parse_query(query: str) -> list[str]:
    """Reference query parsing: lowercase, whitespace split, Porter stem
    (``Mainpage.java:58-61``). Duplicate terms are kept once (the
    reference's HashMap accumulation is idempotent per term)."""
    toks = java_tokens(query.lower())
    seen: dict[str, None] = {}
    for t in toks:
        seen.setdefault(porter_stem(t), None)
    return list(seen)


def parse_exclusions(q: dict) -> list[str]:
    """Stemmed exclusion (NOT) terms from a query dict's optional
    ``exclude`` field — a raw string parsed exactly like the query, or a
    list of raw terms. A doc containing ANY of them is dropped from the
    candidate set BEFORE top-k (k fills from survivors)."""
    raw = q.get("exclude") or ""
    if isinstance(raw, (list, tuple)):
        raw = " ".join(raw)
    return parse_query(raw)


def load_segments(spark: SparkSession, root: str, terms: list[str]) -> DataFrame:
    """Bucket-pruned read of posting segments for the given terms.
    Layout: postings/group=<g>/bucket=<b>/ (group = build resume unit,
    bucket = term-hash pruning unit). The segment schema is pinned by
    the code (``indexer.POSTINGS_SCHEMA``), so no inference job runs."""
    postings_root = catalog.path(root, catalog.POSTINGS)
    buckets = sorted(set(term_buckets(spark, terms, _n_buckets(root)).values()))
    paths = [
        p
        for b in buckets
        for p in catalog.glob_dirs(
            os.path.join(postings_root, "group=*", f"bucket={b}")
        )
    ]
    reader = spark.read.schema(POSTINGS_SCHEMA)
    if not paths:
        return reader.parquet(postings_root).filter(F.lit(False))
    df = reader.option("basePath", postings_root).parquet(*paths)
    return df.filter(F.col("term").isin(terms))


def _meta_int(root: str, key: str) -> int:
    """A build parameter from the persisted index metadata, NOT from
    directory shape: partitionBy omits empty buckets, so a directory
    count can undercount and send every query term to the wrong
    bucket or group."""
    meta = catalog.read_meta(root)
    if key not in meta:
        # NO directory-count fallback (_meta.json is the source of truth)
        raise RuntimeError(
            f"{root}/_meta.json has no {key} — rebuild the postings "
            "stage (build_postings_stage writes it) before querying"
        )
    return int(meta[key])


def _n_buckets(root: str) -> int:
    """Bucket count the build hashed terms with."""
    return _meta_int(root, "n_buckets")


def decode_segments(segments: DataFrame) -> DataFrame:
    """Arrow-vectorized decode: segment blobs -> (term, doc_id, tf, doc_len)."""
    # project BEFORE mapInPandas: Spark cannot column-prune through an
    # opaque Python kernel, and an unprojected pass would drag pos_blob
    # (the largest column) through the parquet scan and Arrow transfer
    segments = segments.select("term", "doc_blob", "tf_blob", "dl_blob")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            terms: list[np.ndarray] = []
            docs: list[np.ndarray] = []
            tfs: list[np.ndarray] = []
            dls: list[np.ndarray] = []
            for term, doc_blob, tf_blob, dl_blob in zip(
                pdf["term"], pdf["doc_blob"], pdf["tf_blob"], pdf["dl_blob"]
            ):
                d, t = decode_postings(bytes(doc_blob), bytes(tf_blob))
                l = varbyte_decode(bytes(dl_blob)).astype(np.int64)
                terms.append(np.full(len(d), term, dtype=object))
                docs.append(d)
                tfs.append(t)
                dls.append(l)
            if docs:
                yield pd.DataFrame(
                    {
                        "term": np.concatenate(terms),
                        "doc_id": np.concatenate(docs),
                        "tf": np.concatenate(tfs).astype(np.int32),
                        "doc_len": np.concatenate(dls).astype(np.int32),
                    }
                )
            else:
                yield pd.DataFrame(
                    {
                        "term": pd.Series([], dtype="object"),
                        "doc_id": pd.Series([], dtype="int64"),
                        "tf": pd.Series([], dtype="int32"),
                        "doc_len": pd.Series([], dtype="int32"),
                    }
                )

    return segments.mapInPandas(kernel, MATCH_SCHEMA)


POS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("positions", T.ArrayType(T.IntegerType())),
    ]
)


def decode_positions(segments: DataFrame) -> DataFrame:
    """Arrow-vectorized decode of the per-posting position lists:
    pos_blob holds, per doc in blob order, [n, delta1..deltan]
    varbyte-encoded (``indexer._postings_kernel``)."""
    segments = segments.select("term", "doc_blob", "pos_blob")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_t: list[str] = []
            out_d: list[int] = []
            out_p: list[list[int]] = []
            for term, doc_blob, pos_blob in zip(
                pdf["term"], pdf["doc_blob"], pdf["pos_blob"]
            ):
                docs = to_signed(
                    np.cumsum(varbyte_decode(bytes(doc_blob)), dtype=np.uint64)
                )
                flat = varbyte_decode(bytes(pos_blob)).astype(np.int64)
                i = 0
                for d in docs:
                    n = int(flat[i])
                    deltas = flat[i + 1 : i + 1 + n]
                    i += 1 + n
                    out_t.append(term)
                    out_d.append(int(d))
                    out_p.append(np.cumsum(deltas).astype(int).tolist())
            yield pd.DataFrame(
                {
                    "term": pd.Series(out_t, dtype="object"),
                    "doc_id": pd.Series(out_d, dtype="int64"),
                    "positions": pd.Series(out_p, dtype="object"),
                }
            )

    return segments.mapInPandas(kernel, POS_SCHEMA)


def phrase_match(spark: SparkSession, root: str, phrase: list[str]) -> DataFrame:
    """Exact-phrase docs from the positional index: (doc_id, n_hits)
    where the stemmed phrase terms occur at consecutive positions.
    Adjacency is checked JVM-side on the decoded position arrays
    (arrays_overlap of shifted positions via higher-order functions)."""
    stemmed = [porter_stem(t) for t in phrase]
    if not stemmed:
        return spark.createDataFrame([], "doc_id long, n_hits int")
    # ONE decode pass: the previous per-term join chain re-ran the
    # bucket-pruned segment scan and the Python position decode once per
    # phrase term. Each (term, slot) of the phrase is a row of a tiny
    # broadcast table (a repeated term gets one row per slot), the
    # decoded postings fan out to their slots in a single map-side join,
    # and a phrase occurrence = one position present in EVERY slot's
    # shifted set — an order-insensitive array-intersection fold, so the
    # collect_list ordering cannot affect n_hits.
    slots = spark.createDataFrame(
        [(t, i) for i, t in enumerate(stemmed)], "term string, slot int"
    )
    pos = decode_positions(load_segments(spark, root, stemmed))
    shifted = pos.join(F.broadcast(slots), "term").select(
        "doc_id",
        F.transform("positions", lambda pp: pp - F.col("slot")).alias("sp"),
    )
    per_doc = shifted.groupBy("doc_id").agg(
        F.count("*").alias("n_slots"),
        F.collect_list("sp").alias("sets"),
    )
    return (
        per_doc.filter(F.col("n_slots") == len(stemmed))
        .select("doc_id", _phrase_hits("sets", len(stemmed)).alias("n_hits"))
        .filter(F.col("n_hits") > 0)
        .orderBy("doc_id")
    )


def _phrase_hits(sets, n_slots):
    """Phrase occurrences in one doc, from its per-slot shifted position
    arrays: the positions present in EVERY slot's set — an
    order-insensitive array-intersection fold, so the collect_list
    ordering cannot change the count. ``sets`` must hold ``n_slots``
    arrays."""
    return F.size(
        F.aggregate(
            F.slice(sets, 2, n_slots),
            F.element_at(sets, 1),
            lambda acc, x: F.array_intersect(acc, x),
        )
    )


def term_idfs(spark: SparkSession, root: str, terms: list[str], n_docs: int) -> dict[str, float]:
    """Per-term idf from the dictionary, computed driver-side in Python
    float64 (one ln definition for engine + oracle). Reads only the
    ``dictionary/group=<g>`` directories holding the terms' buckets
    (``g = bucket // group_size``), as ``load_segments`` prunes
    postings."""
    if not terms:
        return {}
    group_size = _meta_int(root, "group_size")
    groups = sorted(
        {b // group_size
         for b in term_buckets(spark, terms, _n_buckets(root)).values()}
    )
    dict_root = catalog.path(root, catalog.DICTIONARY)
    paths = [
        p for g in groups
        for p in catalog.glob_dirs(os.path.join(dict_root, f"group={g}"))
    ]
    if not paths:
        return {}
    rows = (
        spark.read.schema(catalog.SCHEMAS[catalog.DICTIONARY])
        .parquet(*paths)
        .filter(F.col("term").isin(terms))
        .select("term", "df")
        .collect()
    )
    return {
        r["term"]: math.log(1.0 + (n_docs - r["df"] + 0.5) / (r["df"] + 0.5))
        for r in rows
    }


# roles of the query-term table's rows and kinds of the index hits
# joined against it; only the (kind, role) pairs in _score_rows meet
ROLE_TERM, ROLE_EXCL, ROLE_SLOT = "term", "excl", "slot"
KIND_POSTING, KIND_POSITIONS, KIND_TITLE, KIND_ANCHOR = (
    "posting", "positions", "title", "anchor"
)
QUERY_MODES = ("OR", "AND", "PHRASE")
_QT_COLUMNS = (
    ("query_id", "int"), ("term", "string"), ("role", "string"),
    ("idf", "double"), ("slot", "int"), ("n_terms", "int"),
    ("mode", "string"), ("k", "int"), ("off", "int"), ("n_slots", "int"),
)


def _query_term_rows(
    queries: list[dict], idfs: dict[str, float]
) -> list[tuple]:
    """The batch's query-term table, as ``_QT_COLUMNS`` tuples: one row
    per (query_id, term, role) — a scoring term (with its idf), an
    exclusion term, or a phrase slot (a repeated phrase term gets one
    row per slot). Every row carries its query's n_terms, mode, k,
    offset and phrase length, so they ride the (query_id, doc_id)
    aggregation. Absent terms are kept for the AND n_terms count but
    carry no postings."""
    rows = []
    for q in queries:
        qid = int(q["query_id"])
        mode = str(q.get("mode", "OR")).upper()
        terms = parse_query(q["query"])
        slots = (
            [porter_stem(t) for t in java_tokens(q["query"].lower())]
            if mode == "PHRASE" else []
        )
        # a phrase match contains every term, so a PHRASE query is an
        # AND query over the docs its slots line up in
        const = (
            len(terms), "OR" if mode == "OR" else "AND",
            int(q.get("k", 15)), int(q.get("offset", 0) or 0),
            len(slots) or None,
        )
        rows += [(qid, t, ROLE_TERM, float(idfs.get(t, 0.0)), None, *const)
                 for t in terms]
        rows += [(qid, t, ROLE_EXCL, None, None, *const)
                 for t in parse_exclusions(q)]
        rows += [(qid, t, ROLE_SLOT, None, i, *const)
                 for i, t in enumerate(slots)]
    return rows


def _query_terms_df(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """The query-term table as a DataFrame. A literal table: the rows
    travel as ONE JSON constant inlined over a one-row relation, so
    its broadcast is a single one-task job, not a pickled RDD of one
    slice per core. Python's float repr and the JVM's double parsing
    round-trip every idf exactly."""
    names = [n for n, _ in _QT_COLUMNS]
    rows_json = json.dumps([dict(zip(names, r)) for r in rows])
    schema = ", ".join(f"{n}: {t}" for n, t in _QT_COLUMNS)
    return spark.sql("SELECT 1").select(
        F.inline(F.from_json(F.lit(rows_json), f"array<struct<{schema}>>"))
    )


def all_query_terms(queries: list[dict]) -> list[str]:
    out: dict[str, None] = {}
    for q in queries:
        for t in parse_query(q["query"]):
            out.setdefault(t, None)
    return list(out)


def _check_queries(queries: list[dict]) -> None:
    for q in queries:
        if str(q.get("mode", "OR")).upper() not in QUERY_MODES:
            # the two physical strategies default opposite ways on junk
            # values (exhaustive -> AND, WAND -> OR); fail loudly instead
            raise ValueError(
                f"query mode must be one of {QUERY_MODES}, got {q.get('mode')!r}"
            )
        if int(q.get("offset", 0) or 0) < 0:
            raise ValueError(f"query offset must be >= 0, got {q['offset']!r}")


def _index_hits(
    spark: SparkSession, root: str, rows: list[tuple], use_anchor: bool
) -> DataFrame:
    """(term, doc_id, tf, doc_len, positions, kind) rows of every index
    structure the query-term ``rows`` need, unioned so ONE broadcast
    join routes them to their queries: decoded postings of the scoring
    and exclusion terms, decoded position lists of the phrase terms,
    and title (and anchor) hits of the scoring terms."""

    def terms(*roles: str) -> list[str]:
        return sorted({term for _, term, role, *_ in rows if role in roles})

    phrase = terms(ROLE_SLOT)
    no_pos = F.lit(None).cast("array<int>")
    no_int = F.lit(None).cast("int")
    parts = [
        decode_segments(
            load_segments(spark, root, terms(ROLE_TERM, ROLE_EXCL))
        ).select(
            "term", "doc_id", "tf", "doc_len", no_pos.alias("positions"),
            F.lit(KIND_POSTING).alias("kind"),
        )
    ]
    if phrase:
        parts.append(
            decode_positions(load_segments(spark, root, phrase)).select(
                "term", "doc_id", no_int.alias("tf"), no_int.alias("doc_len"),
                "positions", F.lit(KIND_POSITIONS).alias("kind"),
            )
        )
    fields = [(catalog.TITLE_INDEX, KIND_TITLE)]
    if use_anchor:
        fields.append((catalog.ANCHOR_INDEX, KIND_ANCHOR))
    for table, kind in fields:
        if catalog.exists(root, table):
            parts.append(
                catalog.read_table(spark, root, table)
                .filter(F.col("term").isin(terms(ROLE_TERM)))
                .select(
                    "term", "doc_id", no_int.alias("tf"),
                    no_int.alias("doc_len"), no_pos.alias("positions"),
                    F.lit(kind).alias("kind"),
                )
            )
    hits = parts[0]
    for p in parts[1:]:
        hits = hits.unionAll(p)
    return hits


def _score_rows(hits: DataFrame, qt: DataFrame, avgdl: float,
                use_anchor: bool) -> DataFrame:
    """Per-(query, doc, term) contributions of the routed hits. Only a
    posting of a scoring term scores; every other row is a rider with
    score exactly 0.0 (an IEEE additive identity, so the sorted-term
    bm25 fold is bit-identical with or without it) that sets one flag:
    title or anchor hit, exclusion, or a phrase slot's shifted
    positions."""
    kind, role = F.col("kind"), F.col("role")
    is_posting = kind == KIND_POSTING
    scores = is_posting & (role == ROLE_TERM)
    routed = hits.join(F.broadcast(qt), "term").filter(
        (is_posting & role.isin(ROLE_TERM, ROLE_EXCL))
        | ((kind == KIND_POSITIONS) & (role == ROLE_SLOT))
        | (kind.isin(KIND_TITLE, KIND_ANCHOR) & (role == ROLE_TERM))
    )
    bm25 = (
        F.col("idf")
        * F.lit(K1 + 1.0)
        * (
            F.col("tf")
            / (
                F.col("tf")
                + F.lit(K1)
                * (F.lit(1.0 - B) + F.lit(B) * F.col("doc_len") / F.lit(avgdl))
            )
        )
    )
    return routed.select(
        "query_id",
        "doc_id",
        "term",
        F.when(scores, bm25).otherwise(F.lit(0.0)).alias("score"),
        scores.cast("int").alias("is_match"),
        F.when(kind == KIND_TITLE, 1.0).otherwise(0.0).alias("title"),
        *([F.when(kind == KIND_ANCHOR, 1.0).otherwise(0.0).alias("anchor")]
          if use_anchor else []),
        (role == ROLE_EXCL).cast("int").alias("excl"),
        F.when(
            role == ROLE_SLOT,
            F.transform("positions", lambda p: p - F.col("slot")),
        ).alias("sp"),
        "n_terms", "mode", "k", "off", "n_slots",
    )


def score_exhaustive(
    spark: SparkSession,
    root: str,
    queries: list[dict],
    w_anchor: float = 0.0,
) -> DataFrame:
    """(query_id, rank, doc_id, bm25, blended) for every query, top-k,
    as ONE plan whatever the mix of queries: bucket-pruned segment
    scan -> broadcast join of the query-term table -> one (query_id,
    doc_id) aggregation -> per-query top-k window.

    Query dicts: ``query_id``, ``query``, ``mode`` (``OR``, ``AND`` or
    ``PHRASE``), ``k``, and optionally ``exclude`` (raw NOT terms, see
    :func:`parse_exclusions`) and ``offset`` (ranks returned are
    ``(offset, offset + k]``; default 0).

    bm25(q,d) = fold-sum over the query's terms (sorted) of
    idf * (k1+1) * tf / (tf + k1*(1-b+b*dl/avgdl)).
    blended  = 0.3*pagerank + 0.5*title_hit + 0.2*bm25
               [+ w_anchor*anchor_hit].
    Tie-break: score DESC, doc_id ASC (total order).

    Every filter applies BEFORE the top-k window, so k fills from the
    survivors: AND needs every term; a doc holding any exclusion term
    is dropped; a PHRASE query is AND over the docs where its stemmed
    tokens sit at consecutive positions (checked JVM-side on the
    decoded position lists, per query_id).

    ``w_anchor`` — weight of the inbound-anchor-text hit
    (``anchors.build_anchor_stage``); the DEFAULT 0.0 skips the anchor
    rows entirely, keeping the reference-parity plan bit-identical.
    Nonzero weights only reorder docs already matching in the body
    (anchor-only docs never become candidates).
    """
    from .indexer import read_stats

    _check_queries(queries)
    terms = all_query_terms(queries)
    if not terms:
        return spark.createDataFrame(
            [], "query_id int, rank int, doc_id long, bm25 double, blended double"
        )
    n_docs, avgdl = read_stats(spark, root)
    rows = _query_term_rows(queries, term_idfs(spark, root, terms, n_docs))
    use_anchor = w_anchor != 0.0 and catalog.exists(root, catalog.ANCHOR_INDEX)
    scored = _score_rows(
        _index_hits(spark, root, rows, use_anchor),
        _query_terms_df(spark, rows), avgdl, use_anchor,
    )

    per_doc = scored.groupBy("query_id", "doc_id").agg(
        # deterministic fold order: sort per-term scores by term name
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("term", "score"))),
            F.lit(0.0),
            lambda acc, x: acc + x["score"],
        ).alias("bm25"),
        F.sum("is_match").alias("n_hit"),
        F.max("title").alias("title_hit"),
        F.max("excl").alias("excluded"),
        F.collect_list("sp").alias("sets"),  # skips non-slot NULLs
        *[F.first(c, ignorenulls=True).alias(c)
          for c in ("n_terms", "mode", "k", "off", "n_slots")],
        *([F.max("anchor").alias("anchor_hit")] if use_anchor else []),
    )
    # candidates = docs with at least one posting match (title-only rows
    # are not candidates — reference oracle semantics)
    n_slots = F.col("n_slots")
    candidates = per_doc.filter(
        (F.col("n_hit") > 0)
        & ((F.col("mode") == "OR") | (F.col("n_hit") == F.col("n_terms")))
        & (F.col("excluded") == 0)
        # CASE keeps the intersection fold off docs missing a slot
        & F.when(n_slots.isNull(), True)
        .when(F.size("sets") == n_slots, _phrase_hits("sets", n_slots) > 0)
        .otherwise(False)
    )

    # blend: pagerank
    if catalog.exists(root, catalog.PAGERANKS):
        pr = catalog.read_table(spark, root, catalog.PAGERANKS).select(
            "doc_id", F.col("rank").alias("pagerank")
        )
        candidates = candidates.join(pr, "doc_id", "left").fillna({"pagerank": 0.0})
    else:
        candidates = candidates.withColumn("pagerank", F.lit(0.0))

    blend_col = (
        F.lit(W_PAGERANK) * F.col("pagerank")
        + F.lit(W_TITLE) * F.col("title_hit")
        + F.lit(W_RELEVANCE) * F.col("bm25")
    )
    if use_anchor:
        blend_col = blend_col + F.lit(w_anchor) * F.col("anchor_hit")
    blended = candidates.withColumn("blended", blend_col)

    w = Window.partitionBy("query_id").orderBy(
        F.desc("blended"), F.asc("doc_id")
    )
    rank = F.col("rank")
    return (
        blended.withColumn("rank", F.row_number().over(w))
        .filter((rank > F.col("off")) & (rank <= F.col("off") + F.col("k")))
        .select("query_id", "rank", "doc_id", "bm25", "blended")
    )
