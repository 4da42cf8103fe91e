"""Independent relevance oracle for the benchmark's answer checks.

Scores TF-IDF and BM25 with numpy straight from the formulas in PAPER.md
(bleve's Lucene-classic TF-IDF with queryNorm and coord; BM25 with
k1=1.2, b=0.75), over the tokens of the engine's ``code`` analyzer. It
uses none of the engine's ``codec``, ``index`` or ``search`` modules, so
a bug in posting encoding, decoding, planning or scoring shows up as a
disagreement.

Score vectors are dense over the corpus' documents: ``(scores, matched)``.
"""

from __future__ import annotations

import math
import os

import numpy as np

K1 = 1.2
B = 0.75
# relative tolerance for comparing scores: the engine and the oracle sum
# and multiply the same terms in different orders
SCORE_RTOL = 1e-9


class CorpusOracle:
    """Inverted view of one corpus field built from analyzer tokens."""

    def __init__(self, ids, vocab, tok_term, tok_pos, doc_ptr):
        self.ids = list(ids)
        self.vocab = list(vocab)
        self.term_id = {t: i for i, t in enumerate(self.vocab)}
        self.tok_term = tok_term
        self.tok_pos = tok_pos
        self.doc_ptr = doc_ptr
        self.n = len(self.ids)
        self.lengths = np.diff(doc_ptr).astype(np.int64)
        self.avg_len = float(self.lengths.mean()) if self.n else 1.0
        tok_doc = np.repeat(np.arange(self.n), self.lengths)
        # one row per distinct (term, doc): tf = token count
        key = tok_term.astype(np.int64) * self.n + tok_doc
        uniq, counts = np.unique(key, return_counts=True)
        self.post_term = (uniq // self.n).astype(np.int64)
        self.post_doc = (uniq % self.n).astype(np.int64)
        self.post_tf = counts.astype(np.int64)
        self.term_ptr = np.searchsorted(
            self.post_term, np.arange(len(self.vocab) + 1)
        )
        self.df = np.diff(self.term_ptr)
        self._tok_doc = tok_doc

    # -- construction / cache --------------------------------------------

    @classmethod
    def from_texts(cls, ids, texts, analyzer_name="code"):
        from bleve_spark.analysis import get_analyzer

        analyzer = get_analyzer(analyzer_name)
        vocab, term_id = [], {}
        terms, positions, ptr = [], [], [0]
        for text in texts:
            for tok in analyzer.analyze(text):
                t = tok[0]
                tid = term_id.get(t)
                if tid is None:
                    tid = term_id[t] = len(vocab)
                    vocab.append(t)
                terms.append(tid)
                positions.append(tok[1])
            ptr.append(len(terms))
        return cls(
            ids,
            vocab,
            np.asarray(terms, dtype=np.int32),
            np.asarray(positions, dtype=np.int32),
            np.asarray(ptr, dtype=np.int64),
        )

    @classmethod
    def cached(cls, path, ids, texts):
        """Load the oracle for this corpus from ``path``, or build and
        save it. The key (seed, size) is in the file name; the stored ids
        guard against a stale file."""
        if os.path.exists(path):
            with np.load(path, allow_pickle=False) as z:
                if list(z["ids"]) == list(ids):
                    return cls(
                        z["ids"], z["vocab"], z["tok_term"], z["tok_pos"], z["doc_ptr"]
                    )
        o = cls.from_texts(ids, texts)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + f".tmp{os.getpid()}.npz"
        np.savez(
            tmp,
            ids=np.asarray(o.ids),
            vocab=np.asarray(o.vocab),
            tok_term=o.tok_term,
            tok_pos=o.tok_pos,
            doc_ptr=o.doc_ptr,
        )
        os.replace(tmp, path)
        return o

    # -- dictionary --------------------------------------------------------

    def doc_freq(self, term):
        tid = self.term_id.get(term)
        return 0 if tid is None else int(self.df[tid])

    def terms_with_prefix(self, prefix):
        return [t for t in self.vocab if t.startswith(prefix)]

    def doc_terms(self, doc):
        lo, hi = self.doc_ptr[doc], self.doc_ptr[doc + 1]
        return [self.vocab[i] for i in np.unique(self.tok_term[lo:hi])]

    def positions(self, term):
        """doc -> set of token positions of ``term``."""
        tid = self.term_id.get(term)
        out = {}
        if tid is None:
            return out
        sel = np.nonzero(self.tok_term == tid)[0]
        for d, p in zip(self._tok_doc[sel], self.tok_pos[sel]):
            out.setdefault(int(d), set()).add(int(p))
        return out

    # -- scoring -------------------------------------------------------------

    def idf(self, sim, df):
        if sim == "tfidf":
            return 1.0 + math.log(self.n / (df + 1.0))
        return math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))

    def leaf(self, sim, term, qn=None, boost=1.0):
        """Per-doc score of one term clause."""
        scores = np.zeros(self.n)
        matched = np.zeros(self.n, dtype=bool)
        tid = self.term_id.get(term)
        if tid is None:
            return scores, matched
        lo, hi = self.term_ptr[tid], self.term_ptr[tid + 1]
        docs = self.post_doc[lo:hi]
        tf = self.post_tf[lo:hi].astype(np.float64)
        length = self.lengths[docs].astype(np.float64)
        idf = self.idf(sim, hi - lo)
        if sim == "tfidf":
            # the stored norm is a float32, as in bleve
            norm = (1.0 / np.sqrt(np.maximum(length, 1.0))).astype(np.float32)
            s = np.sqrt(tf) * norm.astype(np.float64) * idf
            if qn is not None:
                s = s * (boost * idf * qn)
        else:
            s = boost * idf * tf * (K1 + 1.0) / (
                tf + K1 * (1.0 - B + B * length / max(self.avg_len, 1e-9))
            )
        scores[docs] = s
        matched[docs] = True
        return scores, matched

    def _query_norm(self, sim, terms, boost=1.0):
        if sim != "tfidf":
            return None
        w = sum(
            (boost * self.idf(sim, self.doc_freq(t))) ** 2
            for t in terms
            if self.doc_freq(t) > 0
        )
        return 1.0 / math.sqrt(w) if w > 0 else None

    def _disjunction(self, sim, terms, qn):
        total = np.zeros(self.n)
        nmatch = np.zeros(self.n)
        for t in terms:
            s, m = self.leaf(sim, t, qn)
            total += s
            nmatch += m
        if sim == "tfidf":
            # coord: matched clauses / clauses
            total = total * nmatch / len(terms)
        return total, nmatch > 0

    def _conjunction(self, sim, terms, qn):
        total = np.zeros(self.n)
        every = np.ones(self.n, dtype=bool)
        for t in terms:
            s, m = self.leaf(sim, t, qn)
            total += s
            every &= m
        return total, every

    def term(self, sim, term):
        return self.leaf(sim, term)

    def match(self, sim, terms):
        return self._disjunction(sim, terms, self._query_norm(sim, terms))

    def conjunction(self, sim, terms):
        return self._conjunction(sim, terms, self._query_norm(sim, terms))

    def phrase(self, sim, terms):
        """Exact phrase: consecutive analyzer positions, scored as the
        conjunction of its terms."""
        scores, every = self._conjunction(sim, terms, self._query_norm(sim, terms))
        pos = [self.positions(t) for t in terms]
        hit = np.zeros(self.n, dtype=bool)
        for d in np.nonzero(every)[0]:
            reach = pos[0][d]
            for i in range(1, len(terms)):
                reach = {p + 1 for p in reach} & pos[i][d]
            hit[d] = bool(reach)
        return np.where(hit, scores, 0.0), hit

    def boolean(self, sim, must, should, must_not):
        qn = self._query_norm(sim, must + should)
        scores, keep = self._conjunction(sim, must, qn)
        s, m = self._disjunction(sim, should, qn)
        scores = scores + np.where(m, s, 0.0)
        for t in must_not:
            keep &= ~self.leaf(sim, t)[1]
        return scores, keep

    def prefix(self, sim, prefix):
        terms = self.terms_with_prefix(prefix)
        return self._disjunction(sim, terms, self._query_norm(sim, terms))

    def expected(self, result):
        """Sorted [(id, score)] of every matching doc, best first, ties
        by id (the engine's default sort)."""
        scores, matched = result
        rows = [(self.ids[d], float(scores[d])) for d in np.nonzero(matched)[0]]
        rows.sort(key=lambda r: (-r[1], r[0]))
        return rows


def _close(a, b):
    return abs(a - b) <= SCORE_RTOL * max(1.0, abs(a), abs(b))


def check_topk(got, expected, k):
    """True iff ``got`` ([(id, score)], engine order) is a correct top-k
    of ``expected`` (every matching doc, oracle order).

    Ids and scores must match the oracle. Order is strict except between
    scores equal within SCORE_RTOL, where summation order may decide.
    """
    want = expected[:k]
    if len(got) != len(want):
        return False
    oracle = dict(expected)
    ids = [g[0] for g in got]
    if len(set(ids)) != len(ids):
        return False
    for (gid, gscore), (_wid, wscore) in zip(got, want):
        if gid not in oracle or not _close(gscore, oracle[gid]):
            return False
        if not _close(gscore, wscore):
            return False
    # every doc scoring clearly above the k-th must be in the page
    if want:
        floor = want[-1][1]
        got_ids = set(ids)
        for eid, escore in expected:
            if escore <= floor or _close(escore, floor):
                break
            if eid not in got_ids:
                return False
    return True
