"""The benchmark's workloads.

Each workload is a single closed-loop client in the benchmark process: it
sends an operation only after the previous one returned.  Inputs come from
``synthesize_corpus(seed)`` and from questions drawn from the synthesis
vocabulary; the program receives only those generated inputs.

A workload has a set-up (timed as ``setup_s``) and a fixed cycle of
operations that the runner repeats until the run's measuring time is used
up.  Every operation's output is checked against an engine-independent
oracle (:mod:`oracles`) after the operation's clock has stopped.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import random
import shutil
import urllib.request

import numpy as np
import pandas as pd

import oracles


def synthesize_docs(n_files: int, seed: int, tokens_per_file: int = 40) -> pd.DataFrame:
    """The rows ``hipporag_spark.corpus.synthesize_corpus(spark, n_files,
    seed)`` generates, built in this process without a Spark job:
    ``(repo, path, commit, lang, content)``, Zipf-drawn identifiers per
    file from a per-file seeded generator.  ``selfcheck.py`` asserts the
    two are equal."""
    from hipporag_spark.corpus import _LANGS, vocabulary

    vocab = vocabulary()
    w = 1.0 / (np.arange(len(vocab)) + 1.0)
    w /= w.sum()
    rows = []
    for i in range(n_files):
        rng = np.random.default_rng(seed * 1_000_003 + i)
        toks = rng.choice(len(vocab), size=tokens_per_file, p=w)
        lang = _LANGS[i % len(_LANGS)]
        repo, path = f"org{i % 7}/repo{i % 97}", f"src/mod{i % 13}/file{i}.{lang}"
        commit = hashlib.sha256(f"{repo}/{path}".encode()).hexdigest()[:40]
        rows.append((repo, path, commit, lang, " ".join(vocab[t] for t in toks)))
    return pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])


class Workload:
    name = ""
    sizes: dict = {}
    # operation kinds that change the graph; every other kind only reads it
    write_kinds: tuple[str, ...] = ()
    # operation kinds that run a retrieval; their persisted-RDD growth is
    # reported as retrieve.persisted_rdds_delta
    retrieval_kinds: tuple[str, ...] = ()

    def __init__(self, seed: int, work: str, sizes: dict | None = None):
        self.seed = seed
        self.work = work
        self.sizes = dict(sizes or self.sizes)
        self.info: dict = {}
        self.spark = None
        self.tracer = None

    def cached(self, tag: str, compute) -> dict:
        """``compute()``'s JSON result, computed once per seed, sizes,
        ``tag`` and version of ``oracles.py``, kept under ``<work>/oracle``."""
        with open(oracles.__file__, "rb") as f:
            version = hashlib.sha256(f.read()).hexdigest()
        key = json.dumps([self.name, self.seed, self.sizes, tag, version], sort_keys=True)
        path = os.path.join(self.work, "oracle", oracles.sha(key)[:24] + ".json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        value = compute()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(value, f)
        os.replace(tmp, path)
        return value

    def span(self, layer: str, name: str):
        return self.tracer.span(layer, name) if self.tracer else contextlib.nullcontext()

    def make_inputs(self) -> None:
        """Generate the seeded inputs and the oracle values that depend on
        nothing else (untimed, before the Spark session exists)."""

    def setup(self) -> None:
        """Bring the program to its serving state; ``setup_s`` times this
        plus the Spark session start before it."""

    def cycle(self, k: int) -> list[tuple[str, object, object]]:
        """Cycle ``k``'s operations as ``(kind, run, check)``: ``run()``
        returns the output, ``check(output)`` returns error strings."""
        raise NotImplementedError

    def final_errors(self, cycles: int) -> list[str]:
        """Checks that need the whole run (untimed)."""
        return []

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------
# serve-mixed
# ---------------------------------------------------------------------------

class ServeMixed(Workload):
    """REST writes beside reads: ``HippoService`` on localhost with one
    tenant.  Every cycle is one ``/index`` of new files followed by one
    ``/retrieve`` of several questions, which builds a retriever over the
    graph version the write just produced."""

    name = "serve-mixed"
    write_kinds = ("rest_index",)
    retrieval_kinds = ("rest_retrieve",)
    sizes = {"batch_files": 20, "questions": 3, "top_k": 10, "max_cycles": 4}

    def make_inputs(self) -> None:
        from hipporag_spark.corpus import vocabulary

        s = self.sizes
        docs = synthesize_docs(s["batch_files"] * s["max_cycles"], self.seed)["content"].tolist()
        b = s["batch_files"]
        self.batches = [docs[i * b:(i + 1) * b] for i in range(s["max_cycles"])]
        rng = random.Random(self.seed)
        vocab = vocabulary()
        self.questions = [[" ".join(rng.sample(vocab, 3)) for _ in range(s["questions"])]
                          for _ in range(s["max_cycles"])]
        # no proxy for localhost, whatever the environment says
        self.http = urllib.request.build_opener(urllib.request.ProxyHandler({}))
        self.last_retrieve: tuple[list[str], list[list[str]]] | None = None

    def _post(self, path: str, payload: dict) -> dict:
        req = urllib.request.Request(
            f"http://127.0.0.1:{self.port}{path}",
            data=json.dumps(payload).encode("utf-8"),
            headers={"Content-Type": "application/json"})
        with self.span("api", "http") as sp:
            if self.tracer:
                self.tracer.remote_parent = sp
            try:
                with self.http.open(req, timeout=170) as r:
                    return json.loads(r.read())
            finally:
                if self.tracer:
                    self.tracer.remote_parent = None

    def setup(self) -> None:
        from hipporag_spark.api import HippoService

        self.root = os.path.join(self.work, f"tenants-{os.getpid()}")
        shutil.rmtree(self.root, ignore_errors=True)
        self.svc = HippoService(self.spark, self.root, retrieval_top_k=self.sizes["top_k"])
        self.port = self.svc.serve()

    @staticmethod
    def _index_errors(reply: dict, docs: list[str]) -> list[str]:
        if reply.get("code") != 0:
            return [f"/index code {reply.get('code')}: {reply.get('msg', '')[:200]}"]
        got = reply["data"]["counts"].get("chunks")
        if got != len(set(docs)):
            return [f"/index inserted {got} chunks, expected {len(set(docs))}"]
        return []

    def _retrieve_errors(self, reply: dict, qs: list[str]) -> list[str]:
        if reply.get("code") != 0:
            return [f"/retrieve code {reply.get('code')}: {reply.get('msg', '')[:200]}"]
        docs = reply["data"]["docs"]
        if len(docs) != len(qs) or any(len(d) != self.sizes["top_k"] for d in docs):
            return [f"/retrieve returned {[len(d) for d in docs]} docs per query"]
        self.last_retrieve = (qs, docs)
        return []

    def cycle(self, k: int):
        batch, qs = self.batches[k], self.questions[k]
        return [
            ("rest_index", lambda: self._post("/index", {"tenant_id": "bench", "docs": batch}),
             lambda r: self._index_errors(r, batch)),
            ("rest_retrieve", lambda: self._post("/retrieve", {"tenant_id": "bench", "querys": qs}),
             lambda r: self._retrieve_errors(r, qs)),
        ]

    def final_errors(self, cycles: int) -> list[str]:
        """The run's last ``/retrieve`` response against a re-derivation of
        retrieval over every document indexed so far."""
        if self.last_retrieve is None:
            return ["no successful /retrieve to check"]
        qs, docs = self.last_retrieve

        def compute():
            corpus = oracles.Corpus()
            for b in self.batches[:cycles]:
                corpus.add_batch(b)
            return {"chunks": len(corpus.chunks), "edges": len(corpus.edges()),
                    "ranked": oracles.retrieve_oracle(corpus, qs, self.sizes["top_k"])}

        exp = self.cached(json.dumps(["last-retrieve", cycles, qs]), compute)
        self.info.update(chunks=exp["chunks"], edges=exp["edges"])
        errs = []
        for q, texts, cands in zip(qs, docs, exp["ranked"]):
            got = [oracles.chunk_id(t) for t in texts]
            errs += [f"{q!r}: {msg}" for msg in oracles.ranking_errors(got, cands)]
        return errs

    def close(self) -> None:
        if getattr(self, "svc", None) is not None:
            self.svc.stop()
            self.svc.mgr.evict_all()
        shutil.rmtree(getattr(self, "root", ""), ignore_errors=True)


# ---------------------------------------------------------------------------
# graph-analytics
# ---------------------------------------------------------------------------

class GraphAnalytics(Workload):
    """Distributed graph operators.  Each cycle builds and materializes the
    ``build_graph`` edge table from the corpus (the write), then runs
    connected components, label propagation and triangle count over it
    (the reads).  Each operator runs its distributed kernel (``mode``
    pinned), not the small-graph path that runs on the Spark driver."""

    name = "graph-analytics"
    write_kinds = ("graph_build",)
    sizes = {"files": 400, "min_sym_edges": 20_000, "max_cycles": 4}

    def make_inputs(self) -> None:
        self.pdf = synthesize_docs(self.sizes["files"], self.seed)
        corpus = oracles.Corpus()
        corpus.add_batch(self.pdf["content"].tolist(), synonyms=False)
        self.exp = self.cached("analytics", lambda: oracles.analytics_oracle(corpus))
        self.edges = None

    def setup(self) -> None:
        self.corpus_df = self.spark.createDataFrame(self.pdf)

    def _build(self):
        from hipporag_spark import graph
        from hipporag_spark.extract import extract_all

        if self.edges is not None:
            self.edges.unpersist()
        _nodes, edges = graph.build_graph(extract_all(self.corpus_df))
        self.edges = edges.persist()
        with self.span("graph", "materialize"):
            return self.edges.count()

    def _build_errors(self, n_edges: int) -> list[str]:
        from hipporag_spark import graph

        exp = self.exp
        n_sym = graph.symmetrize(self.edges).count()
        self.info.update(files=self.sizes["files"], edges=n_edges, sym_edges=n_sym)
        if n_sym < self.sizes["min_sym_edges"]:
            raise SystemExit(f"graph-analytics: {n_sym} symmetrized edges, below the "
                             f"{self.sizes['min_sym_edges']} this workload is sized for")
        rows = [tuple(r) for r in self.edges.select("src", "dst", "weight", "relation").collect()]
        if oracles.edges_digest(rows) != exp["edges_digest"] or n_sym != exp["sym_edges"]:
            return [f"edge table differs from the oracle ({len(rows)} rows, "
                    f"expected {exp['edges']})"]
        return []

    def _components(self):
        from hipporag_spark import components

        res = components.connected_components(self.spark, self.edges, mode="star")
        with self.span("components", "collect"):
            return {r[0]: r[1] for r in res.components.collect()}

    def _lpa(self):
        from hipporag_spark import lpa

        res = lpa.label_propagation(self.spark, self.edges, mode="dataframe")
        with self.span("lpa", "collect"):
            return {r[0]: r[1] for r in res.labels.collect()}

    def _triangles(self):
        from hipporag_spark import triangles

        return triangles.triangle_count(self.edges)

    def _digest_errors(self, what: str, key: str):
        def check(labels):
            if oracles.labels_digest(labels) != self.exp[key]:
                return [f"{what} labels differ from the oracle ({len(labels)} nodes)"]
            return []
        return check

    def cycle(self, k: int):
        exp = self.exp
        return [
            ("graph_build", self._build, self._build_errors),
            ("components", self._components, self._digest_errors("components", "components_digest")),
            ("lpa", self._lpa, self._digest_errors("LPA", "lpa_digest")),
            ("triangles", self._triangles,
             lambda n: [] if n == exp["triangles"] else [f"{n} triangles, expected {exp['triangles']}"]),
        ]

    def close(self) -> None:
        if getattr(self, "edges", None) is not None:
            self.edges.unpersist()


WORKLOADS = {w.name: w for w in (ServeMixed, GraphAnalytics)}
