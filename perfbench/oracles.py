"""Engine-independent expected values for the benchmark's output checks.

Everything here is plain Python and numpy over the generated input
documents; nothing calls ``hipporag_spark``.  The graph algorithms'
oracles are the repository's own exact references in
``tests/reference_impl.py`` (dense PPR solve, union-find components,
triangle enumeration, deterministic label propagation).

- :class:`Corpus` re-derives the engine's edge table: distinct
  normalized tokens per document are entities, within-document token pairs
  are fact edges weighted by the number of documents holding the pair (both
  directions), document→token edges are passage edges of weight 1, and
  synonym edges (cosine ≥ 0.8 between entity embeddings) win over the
  other relations for the same ordered pair.
- :func:`retrieve_oracle` re-derives HippoRAG retrieval: fact linking
  (cosine top-5 with min-max normalization over all facts), phrase weights
  (÷ chunk degree, mean over occurrences, top-5 mask), dense passage scores
  × 0.05, and an exact PPR solve per query.  Synthetic identifiers make
  exactly tied cosine scores common, so each tie at a top-k cut yields one
  acceptable result per way of resolving it.
- :func:`analytics_oracle` gives the edge table digest, the connected
  components, the label propagation labels and the triangle count.
"""

from __future__ import annotations

import hashlib
import itertools
import re
from collections import Counter

import numpy as np

SPLIT = re.compile("[^a-z0-9\u4e00-\u9fff]+")
MAX_TOKENS_PER_CHUNK = 2048
_SEP = "\x1f"
_PRIORITY = {"fact": 1, "passage": 2, "synonym": 3}


def sha(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def chunk_id(content: str) -> str:
    return "chunk-" + sha(content)


def entity_id(phrase: str) -> str:
    return "entity-" + sha(phrase)


def tokens(content: str) -> list[str]:
    """Distinct normalized identifiers of a document, capped to the first
    ``MAX_TOKENS_PER_CHUNK`` in lexicographic order."""
    toks = sorted({t for t in SPLIT.split(content.lower()) if t})
    return toks[:MAX_TOKENS_PER_CHUNK]


def embed(texts: list[str], dim: int = 128) -> np.ndarray:
    """Hashed character-3-gram featurizer: ``vec[md5(g)[:8] LE % dim] += 1``
    over the grams of ``" text "``, L2-normalized, stored as float32."""
    out = np.zeros((len(texts), dim), dtype=np.float64)
    for i, s in enumerate(texts):
        t = f" {s} "
        for j in range(max(len(t) - 2, 1)):
            h = int.from_bytes(hashlib.md5(t[j:j + 3].encode()).digest()[:8], "little")
            out[i, h % dim] += 1.0
        n = np.linalg.norm(out[i])
        if n > 0:
            out[i] /= n
    return out.astype(np.float32)


def _unit(mat: np.ndarray) -> np.ndarray:
    m = mat.astype(np.float64)
    nrm = np.linalg.norm(m, axis=1, keepdims=True)
    nrm[nrm == 0] = 1.0
    return m / nrm


class Corpus:
    """Indexed state built from document batches in index order."""

    def __init__(self, dim: int = 128):
        self.dim = dim
        self.chunks: dict[str, str] = {}               # chunk_id -> content
        self.chunk_tokens: dict[str, list[str]] = {}
        self.pairs: Counter = Counter()                 # (subject, object) -> #chunks
        self.phrases: dict[str, str] = {}               # entity_id -> phrase
        self.synonyms: dict[tuple[str, str], float] = {}
        self._entity_emb: dict[str, np.ndarray] = {}

    def add_batch(self, docs: list[str], synonyms: bool = True) -> None:
        new_entities = []
        first = not self.chunks
        for d in docs:
            cid = chunk_id(d)
            if cid in self.chunks:
                continue
            toks = tokens(d)
            self.chunks[cid] = d
            self.chunk_tokens[cid] = toks
            for a_i, a in enumerate(toks):
                for b in toks[a_i + 1:]:
                    self.pairs[(a, b)] += 1
            for t in toks:
                eid = entity_id(t)
                if eid not in self.phrases:
                    self.phrases[eid] = t
                    new_entities.append(eid)
        if new_entities:
            vecs = embed([self.phrases[e] for e in new_entities], self.dim)
            self._entity_emb.update(zip(new_entities, vecs))
        if synonyms:
            # the first batch queries every entity, later batches only the
            # entities they inserted, each against the whole entity store
            queries = list(self.phrases) if first else new_entities
            self._add_synonyms(queries)

    def _add_synonyms(self, queries: list[str], topk: int = 2047,
                      threshold: float = 0.8, max_neighbors: int = 101) -> None:
        q = [e for e in queries
             if len(re.sub("[^A-Za-z0-9]", "", self.phrases[e])) > 2]
        if not q:
            return
        keys = sorted(self.phrases)
        kmat = _unit(np.stack([self._entity_emb[k] for k in keys]))
        qmat = _unit(np.stack([self._entity_emb[e] for e in q]))
        sims = kmat @ qmat.T
        for j, e in enumerate(q):
            cand = sorted(((-sims[i, j], keys[i]) for i in range(len(keys))))[:topk]
            acc = [(-s, k) for s, k in cand
                   if -s >= threshold and k != e and self.phrases[k].strip()]
            for s, k in acc[:max_neighbors]:
                self.synonyms[(e, k)] = float(s)

    def edges(self) -> list[tuple[str, str, float, str]]:
        """The merged, validated edge table ``(src, dst, weight, relation)``."""
        best: dict[tuple[str, str], tuple[int, float, str]] = {}

        def put(src, dst, w, rel):
            if src == dst:
                return
            cand = (_PRIORITY[rel], w, rel)
            cur = best.get((src, dst))
            if cur is None or cand[:2] > cur[:2]:
                best[(src, dst)] = cand

        for (a, b), n in self.pairs.items():
            put(entity_id(a), entity_id(b), float(n), "fact")
            put(entity_id(b), entity_id(a), float(n), "fact")
        for cid, toks in self.chunk_tokens.items():
            for t in toks:
                put(cid, entity_id(t), 1.0, "passage")
        for (s, d), w in self.synonyms.items():
            put(s, d, w, "synonym")
        return sorted((s, d, w, rel) for (s, d), (_p, w, rel) in best.items())


def edges_digest(rows) -> str:
    """Order-independent digest of ``(src, dst, weight, relation)`` rows."""
    lines = sorted(f"{s}|{d}|{float(w)!r}|{r}" for s, d, w, r in rows)
    return sha("\n".join(lines))


def labels_digest(labels: dict) -> str:
    return sha("\n".join(f"{k}|{v}" for k, v in sorted(labels.items())))


# ---------------------------------------------------------------------------
# retrieval
# ---------------------------------------------------------------------------

TIE_TOL = 1e-12


def top_k_choices(items: list[tuple[float, str]], k: int) -> list[list[tuple[float, str]]]:
    """Every top-``k`` selection of ``(score, key)`` items the engine may
    make.  The engine orders by (score desc, key asc), but scores that are
    equal in exact arithmetic reach it with last-bit rounding noise, so
    within a group tied to ``TIE_TOL`` at the cut any members can fill the
    remaining slots."""
    items = sorted(items, key=lambda t: (-t[0], t[1]))
    if len(items) <= k:
        return [items]
    cut = items[k - 1][0]
    sure = [t for t in items if t[0] > cut + TIE_TOL]
    tied = [t for t in items if abs(t[0] - cut) <= TIE_TOL]
    return [sure + list(c) for c in itertools.combinations(tied, k - len(sure))]


def retrieve_oracle(corpus: Corpus, questions: list[str], top_k: int,
                    link_top_k: int = 5, passage_node_weight: float = 0.05,
                    damping: float = 0.5, max_candidates: int = 256) -> list[list[dict]]:
    """Per question, the list of acceptable results, one per resolution of
    scores tied at the fact-linking and phrase top-k cuts: each is
    ``{"ranked": [(chunk_id, score), ...], "scores": {chunk_id: score}}``
    with ``ranked`` ordered (score desc, id asc)."""
    from tests.reference_impl import ppr_exact

    facts = sorted({(a, "cooccurs_with", b) for a, b in corpus.pairs})
    fact_ids = [sha(_SEP.join(f)) for f in facts]
    fmat = _unit(embed([" ".join(f) for f in facts], corpus.dim))
    pids = sorted(corpus.chunks)
    pmat = _unit(embed([corpus.chunks[p] for p in pids], corpus.dim))
    qmat = _unit(embed(questions, corpus.dim))
    by_phrase = {p: e for e, p in corpus.phrases.items()}
    degree = Counter(entity_id(t) for toks in corpus.chunk_tokens.values() for t in toks)
    edge_rows = [(s, d, w) for s, d, w, _r in corpus.edges()]
    fact_at = {fid: i for i, fid in enumerate(fact_ids)}

    fs_all = fmat @ qmat.T
    ps_all = pmat @ qmat.T
    out = []
    for j in range(len(questions)):
        fs = fs_all[:, j]
        fmin, fmax = fs.min(), fs.max()
        ps = ps_all[:, j]
        pmin, pmax = ps.min(), ps.max()
        dpr = {p: (1.0 if pmax == pmin else (ps[i] - pmin) / (pmax - pmin))
               for i, p in enumerate(pids)}
        resets = []
        for top in top_k_choices([(fs[i], fact_ids[i]) for i in range(len(facts))], link_top_k):
            acc: dict[str, list[float]] = {}
            for score, fid in top:
                score = 1.0 if fmax == fmin else (score - fmin) / (fmax - fmin)
                f = facts[fact_at[fid]]
                for phrase in (f[0].lower(), f[2].lower()):
                    eid = by_phrase.get(phrase)
                    if eid is None:
                        continue
                    deg = degree.get(eid, 0)
                    acc.setdefault(phrase, []).append(score / deg if deg > 0 else score)
            weights = [(sum(v) / len(v), p) for p, v in acc.items()]
            for pw in top_k_choices(weights, link_top_k):
                reset = {by_phrase[p]: w for w, p in pw}
                if reset not in resets:
                    resets.append(reset)
        if len(resets) > max_candidates:
            raise ValueError(f"{len(resets)} tie resolutions for {questions[j]!r}")
        cands = []
        for pw in resets:
            if pw:
                reset = dict(pw)
                for p, s in dpr.items():
                    reset[p] = reset.get(p, 0.0) + s * passage_node_weight
                scores = ppr_exact(edge_rows, reset, damping=damping)
                doc_scores = {p: scores.get(p, 0.0) for p in pids}
                pos = sorted(((s, p) for p, s in doc_scores.items() if s != 0.0),
                             key=lambda t: (-t[0], t[1]))[:top_k]
                ranked = [(p, s) for s, p in pos]
                if len(ranked) < top_k:
                    have = {p for p, _ in ranked}
                    ranked += [(p, 0.0) for p in pids if p not in have][:top_k - len(ranked)]
            else:  # no fact phrase matched the graph: dense passage scores only
                order = sorted(range(len(pids)), key=lambda i: (-ps[i], pids[i]))[:top_k]
                doc_scores = dpr
                ranked = [(pids[i], dpr[pids[i]]) for i in order]
            cands.append({"ranked": ranked, "scores": doc_scores})
        out.append(cands)
    return out


def ranking_errors(got: list[str], candidates: list[dict], tie_tol: float = 1e-9) -> list[str]:
    """Compare a returned ranking with the acceptable results of
    :func:`retrieve_oracle`; no error when any candidate matches.

    Order must match position by position; the only allowed difference is
    between documents whose oracle scores are within ``tie_tol`` (the
    engine iterates PPR to ``tol=1e-9`` and the oracle solves exactly, so
    closer scores are ties)."""
    first = None
    for expected in candidates:
        errs = _ranking_errors(got, expected, tie_tol)
        if not errs:
            return []
        first = first or errs
    return first


def _ranking_errors(got: list[str], expected: dict, tie_tol: float) -> list[str]:
    exp = expected["ranked"]
    scores = expected["scores"]
    if len(got) != len(exp):
        return [f"returned {len(got)} docs, expected {len(exp)}"]
    for i, (g, (e, es)) in enumerate(zip(got, exp)):
        if g != e and not (g in scores and abs(scores[g] - es) <= tie_tol):
            return [f"rank {i + 1}: got {g[:18]} expected {e[:18]}"]
    return []


def analytics_oracle(corpus: Corpus) -> dict:
    from tests.reference_impl import components_exact, lpa_exact, triangles_exact

    rows = corpus.edges()
    edge_rows = [(s, d, w) for s, d, w, _r in rows]
    und = {(min(s, d), max(s, d)) for s, d, _w in edge_rows}
    sym = len(und) * 2  # every undirected pair appears in both directions
    return {
        "edges": len(rows),
        "sym_edges": sym,
        "edges_digest": edges_digest(rows),
        "components_digest": labels_digest(components_exact(edge_rows)),
        "lpa_digest": labels_digest(lpa_exact(edge_rows)),
        "triangles": triangles_exact(edge_rows),
    }
