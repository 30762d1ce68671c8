"""Retrieval-ranking fixture (SURVEY.md §5.3): the engine's batched
DataFrame retrieval flow vs an independent numpy replication of
HippoRAG's per-query path (fact scores → phrase weights → link_top_k →
DPR×0.05 → PPR → sorted passages), sharing only the edge table."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from hipporag_spark.embed import embed_batch
from hipporag_spark.extract import extract_all
from hipporag_spark.graph import build_graph
from hipporag_spark.retrieve import GraphRetriever, RetrievalConfig
from tests.reference_impl import ppr_exact

DOCS = [
    "graph node edge traversal search",
    "spark shuffle partition join skew",
    "node embedding vector cosine search",
    "query planner optimizer join order",
    "hash index scan filter pushdown",
    "graph partition edge cut balance",
    "vector index quantization recall",
    "join hash probe build spill",
]
QUERIES = [("q1", "graph edge search"), ("q2", "join hash spill")]
CFG = RetrievalConfig(link_top_k=3, damping=0.5, retrieval_top_k=8, dim=64)


def _minmax(x):
    if len(x) == 0:
        return x
    lo, hi = x.min(), x.max()
    if hi == lo:
        return np.ones_like(x)
    return (x - lo) / (hi - lo)


def _numpy_flow(tables_pdf, edge_rows, question):
    """Independent replication of HippoRAG.py:1406-1520 + 1281-1356."""
    import hashlib

    facts = tables_pdf["facts"]  # list of (fact_id, subject, object, text)
    chunks = tables_pdf["chunks"]  # list of (chunk_id, content)
    deg = tables_pdf["deg"]  # entity_id -> chunk_degree
    entity_of = tables_pdf["entity_of"]  # phrase -> entity_id

    qv = embed_batch([question], CFG.dim)[0].astype(np.float64)
    qv /= np.linalg.norm(qv)

    fvecs = np.stack([f[4] for f in facts]).astype(np.float64)
    fvecs /= np.linalg.norm(fvecs, axis=1, keepdims=True)
    fscores = fvecs @ qv
    fnorm = _minmax(fscores)
    order = sorted(range(len(facts)), key=lambda i: (-fscores[i], facts[i][0]))
    top = order[: CFG.link_top_k]

    acc, cnt = {}, {}
    for i in top:
        _, s, o, _, _ = facts[i]
        for phrase in (s.lower(), o.lower()):
            eid = entity_of.get(phrase)
            if eid is None:
                continue
            w = fnorm[i]
            if deg.get(eid, 0) > 0:
                w = w / deg[eid]
            acc[eid] = acc.get(eid, 0.0) + w
            cnt[eid] = cnt.get(eid, 0) + 1
    pw = {e: acc[e] / cnt[e] for e in acc}
    id2phrase = {v: k for k, v in entity_of.items()}
    kept = sorted(pw, key=lambda e: (-pw[e], id2phrase[e]))[: CFG.link_top_k]
    reset = {e: pw[e] for e in kept}

    cvecs = np.stack([c[2] for c in chunks]).astype(np.float64)
    cvecs /= np.linalg.norm(cvecs, axis=1, keepdims=True)
    dnorm = _minmax(cvecs @ qv)
    for (cid, _, _), sc in zip(chunks, dnorm):
        reset[cid] = reset.get(cid, 0.0) + sc * CFG.passage_node_weight

    scores = ppr_exact(edge_rows, reset, CFG.damping)
    doc_scores = sorted(
        ((cid, scores.get(cid, 0.0)) for cid, _, _ in chunks),
        key=lambda t: (-t[1], t[0]),
    )
    return doc_scores[: CFG.retrieval_top_k]


@pytest.fixture(scope="module")
def built(spark):
    corpus = spark.createDataFrame(
        [(f"r{i}", f"p{i}", f"c{i}", "py", d) for i, d in enumerate(DOCS)],
        "repo string, path string, commit string, lang string, content string",
    )
    t = extract_all(corpus)
    nodes, edges = build_graph(t)
    edges = edges.persist()
    r = GraphRetriever(spark, nodes, edges, t["chunks"], t["entities"], t["facts"], t["membership"], CFG)
    edge_rows = [(x["src"], x["dst"], x["weight"]) for x in edges.collect()]
    fact_pdf = r.facts.select("fact_id", "subject", "object", "fact_text", "embedding").collect()
    facts = [(x["fact_id"], x["subject"], x["object"], x["fact_text"], np.array(x["embedding"])) for x in fact_pdf]
    chunk_pdf = r.passages.collect()
    chunks = [(x["chunk_id"], x["content"], np.array(x["embedding"])) for x in chunk_pdf]
    deg = {x["entity_id"]: x["chunk_degree"] for x in r.ent_degree.collect()}
    entity_of = {x["phrase"]: x["entity_id"] for x in t["entities"].collect()}
    return r, {"facts": facts, "chunks": chunks, "deg": deg, "entity_of": entity_of}, edge_rows


def test_retrieval_matches_numpy_reference_flow(spark, built):
    r, tables_pdf, edge_rows = built
    qdf = spark.createDataFrame(QUERIES, "query_id string, question string")
    got = r.retrieve(qdf).collect()
    by_q = {}
    for row in got:
        by_q.setdefault(row["query_id"], []).append((row["rank"], row["doc_id"], row["score"]))
    for qid, question in QUERIES:
        want = _numpy_flow(tables_pdf, edge_rows, question)
        mine = sorted(by_q[qid])
        assert len(mine) == len(want)
        for (rank, doc_id, score), (wdoc, wscore) in zip(mine, want):
            assert doc_id == wdoc, (qid, rank, doc_id, wdoc)
            assert abs(score - wscore) < 1e-6


def test_retrieval_is_deterministic(spark, built):
    r, _, _ = built
    qdf = spark.createDataFrame(QUERIES, "query_id string, question string")
    a = sorted((x["query_id"], x["rank"], x["doc_id"]) for x in r.retrieve(qdf).collect())
    b = sorted((x["query_id"], x["rank"], x["doc_id"]) for x in r.retrieve(qdf).collect())
    assert a == b


def test_retrieve_dpr_matches_numpy_cosine(spark, built):
    """Graph-free StandardRAG baseline (StandardRAG.py:37-196 /
    HippoRAG.retrieve_dpr 522-592): ranking must equal plain cosine
    against every passage, min-max normalized per query, ties pinned."""
    r, tables_pdf, _ = built
    qdf = spark.createDataFrame(QUERIES, "query_id string, question string")
    got = {}
    for row in r.retrieve_dpr(qdf).collect():
        got.setdefault(row["query_id"], []).append(
            (row["rank"], row["doc_id"], row["score"]))
    chunks = tables_pdf["chunks"]
    cvecs = np.stack([c[2] for c in chunks]).astype(np.float64)
    cvecs /= np.linalg.norm(cvecs, axis=1, keepdims=True)
    for qid, question in QUERIES:
        qv = embed_batch([question], CFG.dim)[0].astype(np.float64)
        qv /= np.linalg.norm(qv)
        scores = _minmax(cvecs @ qv)
        order = sorted(range(len(chunks)), key=lambda i: (-scores[i], chunks[i][0]))
        want = [(chunks[i][0], scores[i]) for i in order[: CFG.retrieval_top_k]]
        mine = sorted(got[qid])
        assert len(mine) == len(want)
        for (rank, doc_id, score), (wdoc, wscore) in zip(mine, want):
            assert doc_id == wdoc, (qid, rank, doc_id, wdoc)
            assert abs(score - wscore) < 1e-9


def test_dense_ppr_output_matches_sparse(spark, built):
    """dense_ppr_output=True (the reference's |V|×|Q| dense contract /
    the bench A/B arm) must produce identical (doc, rank, score) to the
    default sparse passage-set filter when dpr_reset_top_m is None."""
    r, _, _ = built
    import dataclasses

    qdf = spark.createDataFrame(QUERIES, "query_id string, question string")
    base = {(x["query_id"], x["rank"]): (x["doc_id"], x["score"])
            for x in r.retrieve(qdf).collect()}
    old = r.cfg
    try:
        r.cfg = dataclasses.replace(CFG, dense_ppr_output=True)
        dense = {(x["query_id"], x["rank"]): (x["doc_id"], x["score"])
                 for x in r.retrieve(qdf).collect()}
    finally:
        r.cfg = old
    assert base.keys() == dense.keys()
    for key, (doc, score) in base.items():
        ddoc, dscore = dense[key]
        assert doc == ddoc
        assert abs(score - dscore) < 1e-12


def test_dpr_reset_top_m_covering_is_exact(spark, built):
    """With dpr_reset_top_m >= |passages| the scale hatch must be a no-op:
    identical (doc, rank) AND identical scores to the reference-exact path."""
    r, _, _ = built
    import dataclasses

    n_passages = r.passages.count()
    cfg2 = dataclasses.replace(CFG, dpr_reset_top_m=int(n_passages))
    qdf = spark.createDataFrame(QUERIES, "query_id string, question string")
    base = {(x["query_id"], x["rank"]): (x["doc_id"], x["score"])
            for x in r.retrieve(qdf).collect()}
    old = r.cfg
    try:
        r.cfg = cfg2
        hatched = {(x["query_id"], x["rank"]): (x["doc_id"], x["score"])
                   for x in r.retrieve(qdf).collect()}
    finally:
        r.cfg = old
    assert base.keys() == hatched.keys()
    for key, (doc, score) in base.items():
        hdoc, hscore = hatched[key]
        assert doc == hdoc
        assert abs(score - hscore) < 1e-12


def test_dpr_reset_top_m_truncated_still_ranks(spark, built):
    """Small top_m: per-query row counts and the top-1 doc (strong graph
    signal) survive truncating the passage-side reset tail."""
    r, _, _ = built
    import dataclasses

    qdf = spark.createDataFrame(QUERIES, "query_id string, question string")
    base = r.retrieve(qdf).collect()
    old = r.cfg
    try:
        r.cfg = dataclasses.replace(CFG, dpr_reset_top_m=2)
        out = r.retrieve(qdf).collect()
    finally:
        r.cfg = old
    def tops(rows):
        t = {}
        for x in rows:
            if x["rank"] == 1:
                t[x["query_id"]] = x["doc_id"]
        return t
    assert tops(out) == tops(base)
    from collections import Counter
    assert Counter(x["query_id"] for x in out) == Counter(x["query_id"] for x in base)


def test_pad_to_dense_topk_unit(spark):
    """pad_to_dense_topk fills an under-filled query with zero-score
    docs ordered by doc_id, ranks continuing after the positives; a
    full query and a zero-positive query are both handled, and a 0.0-score
    row in the input is not a positive: it comes back as a pad in doc_id
    order, not at its input rank."""
    from hipporag_spark.retrieve import pad_to_dense_topk

    ranked = spark.createDataFrame(
        [("qa", "d07", 0.9, 1), ("qa", "d03", 0.5, 2), ("qa", "d01", 0.0, 3),
         ("qc", "d01", 0.8, 1), ("qc", "d02", 0.7, 2),
         ("qc", "d03", 0.6, 3), ("qc", "d04", 0.5, 4)],
        "query_id string, doc_id string, score double, rank int")
    queries = spark.createDataFrame([("qa",), ("qb",), ("qc",)],
                                    "query_id string")
    all_docs = spark.createDataFrame(
        [(f"d{i:02d}",) for i in range(10)], "doc_id string")
    out = pad_to_dense_topk(ranked, queries, all_docs, k=4)
    rows = sorted(out.collect(), key=lambda x: (x["query_id"], x["rank"]))
    by_q = {}
    for x in rows:
        by_q.setdefault(x["query_id"], []).append(
            (x["rank"], x["doc_id"], x["score"]))
    # qa: 2 positives + 2 zero pads = smallest ids not in {d07, d03};
    # the 0.0-score d01 lands at rank 4 behind d00, not at its input rank 3
    assert by_q["qa"] == [(1, "d07", 0.9), (2, "d03", 0.5),
                          (3, "d00", 0.0), (4, "d01", 0.0)]
    # qb: no positives at all -> 4 smallest ids, all zero
    assert by_q["qb"] == [(1, "d00", 0.0), (2, "d01", 0.0),
                          (3, "d02", 0.0), (4, "d03", 0.0)]
    # qc: already full -> untouched
    assert by_q["qc"] == [(1, "d01", 0.8), (2, "d02", 0.7),
                          (3, "d03", 0.6), (4, "d04", 0.5)]


def test_sparse_retrieve_matches_dense_contract(spark):
    """End-to-end invariant behind pad_to_dense_topk (ADVICE r4 item 1):
    with dpr_reset_top_m set and isolated passage components in the
    graph, sparse-output retrieve() must equal the dense
    |V|x|Q|-contract retrieve() (dense_ppr_output=True) exactly —
    same docs, ranks, and scores, every query filled to top_k."""
    import dataclasses

    docs = DOCS + [
        "zzalpha zzbeta zzgamma zzdelta zzeps",   # isolated component 1
        "yyalpha yybeta yygamma yydelta yyeps",   # isolated component 2
    ]
    corpus = spark.createDataFrame(
        [(f"r{i}", f"p{i}", f"c{i}", "py", d) for i, d in enumerate(docs)],
        "repo string, path string, commit string, lang string, content string",
    )
    t = extract_all(corpus)
    nodes, edges = build_graph(t)
    cfg = dataclasses.replace(
        CFG, retrieval_top_k=len(docs), dpr_reset_top_m=2)
    r = GraphRetriever(spark, nodes, edges, t["chunks"], t["entities"],
                       t["facts"], t["membership"], cfg)
    qdf = spark.createDataFrame(QUERIES, "query_id string, question string")

    sparse = r.retrieve(qdf).collect()
    r.cfg = dataclasses.replace(cfg, dense_ppr_output=True)
    dense = r.retrieve(qdf).collect()

    from collections import Counter
    n_passages = r.passages.count()
    want_n = min(cfg.retrieval_top_k, n_passages)
    assert Counter(x["query_id"] for x in sparse) == \
        {q: want_n for q, _ in QUERIES}
    key = lambda rows: {(x["query_id"], x["rank"]): (x["doc_id"], x["score"])
                        for x in rows}
    ks, kd = key(sparse), key(dense)
    assert ks.keys() == kd.keys()
    for kk, (doc, score) in ks.items():
        ddoc, dscore = kd[kk]
        assert doc == ddoc, (kk, doc, ddoc)
        assert abs(score - dscore) < 1e-12
