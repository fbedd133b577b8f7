"""Seeded input generators and the expected answers the checks need.

Every generator takes the seed as an argument and derives all of its
randomness from it, so the same seed gives byte-identical inputs. The
library under test only ever sees the files written from these
structures; the expected answers stay on the benchmark side.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from functools import lru_cache

import numpy as np

#: 2024-01-01T00:00:00Z — the log corpus spans DAYS days from here
BASE_EPOCH = 1_704_067_200
DAYS = 14

LEVELS = np.array(["INFO", "DEBUG", "WARN", "ERROR"])
LEVEL_P = np.array([0.70, 0.15, 0.10, 0.05])
STATUSES = np.array([200, 201, 204, 301, 304, 400, 401, 403, 404, 429, 500, 502, 503])
STATUS_P = np.array([0.62, 0.05, 0.03, 0.02, 0.04, 0.04, 0.02, 0.02, 0.07, 0.02, 0.04, 0.02, 0.01])
N_SERVICES = 24
N_HOSTS = 256
VOCAB_SIZE = 3000

_ONSETS = ["b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s", "t",
           "v", "w", "z", "br", "ch", "dr", "gr", "pl", "sh", "st", "tr"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ea", "ou"]


@lru_cache(maxsize=None)
def vocabulary(n: int, salt: int = 0) -> tuple:
    """*n* distinct lowercase pseudo-words (letters only, so the
    default tokenizer maps each word to exactly itself)."""
    rng = np.random.default_rng(10_007 + salt)
    out: list = []
    seen: set[str] = set()
    while len(out) < n:
        k = int(rng.integers(1, 4))
        w = "".join(
            _ONSETS[rng.integers(len(_ONSETS))] + _VOWELS[rng.integers(len(_VOWELS))]
            for _ in range(k)
        ) + _ONSETS[rng.integers(len(_ONSETS))]
        if w not in seen:
            seen.add(w)
            out.append(w)
    return tuple(out)


def zipf_p(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


# ---------------------------------------------------------------------------
# log corpus
# ---------------------------------------------------------------------------

LOG_INDEX_FIELDS = [
    {"name": "ts", "type": "datetime"},
    {"name": "level", "type": "text", "tokenizer": "raw"},
    {"name": "service", "type": "text", "tokenizer": "raw"},
    {"name": "trace_id", "type": "text", "tokenizer": "raw"},
    {"name": "host", "type": "ip"},
    {"name": "status", "type": "number", "number_type": "i64"},
    {"name": "latency_ms", "type": "number", "number_type": "i64"},
    {"name": "message", "type": "text", "tokenizer": "default"},
]


@dataclass
class LogCorpus:
    ts: np.ndarray          # epoch seconds
    level: np.ndarray
    service: np.ndarray
    trace_id: np.ndarray
    host: np.ndarray
    status: np.ndarray
    latency_ms: np.ndarray
    message: list           # list[list[str]]
    postings: dict = field(default_factory=dict, repr=False)

    def __len__(self) -> int:
        return len(self.ts)

    def doc(self, i: int) -> dict:
        return {
            "ts": int(self.ts[i]),
            "level": str(self.level[i]),
            "service": str(self.service[i]),
            "trace_id": str(self.trace_id[i]),
            "host": str(self.host[i]),
            "status": int(self.status[i]),
            "latency_ms": int(self.latency_ms[i]),
            "message": " ".join(self.message[i]),
        }

    def jsonl(self, lo: int = 0, hi: "int | None" = None) -> str:
        hi = len(self) if hi is None else hi
        return "".join(
            json.dumps(self.doc(i), separators=(",", ":")) + "\n" for i in range(lo, hi)
        )

    def build_postings(self) -> dict:
        """word -> sorted doc indexes of the messages holding it."""
        if not self.postings:
            post: dict = {}
            for i, ws in enumerate(self.message):
                for w in set(ws):
                    post.setdefault(w, []).append(i)
            self.postings = {w: np.asarray(v, dtype=np.int64) for w, v in post.items()}
        return self.postings

    def word_docs(self, word: str) -> np.ndarray:
        """Doc indexes whose message contains *word* (sorted)."""
        docs = self.build_postings().get(word, np.empty(0, dtype=np.int64))
        return docs[docs < len(self)]   # a prefix view shares its corpus' postings


def log_corpus(seed: int, n_docs: int) -> LogCorpus:
    """*n_docs* log lines over DAYS days: skewed levels, statuses,
    services and hosts, long-tailed latencies, unique trace ids and a
    Zipf-ish message vocabulary."""
    rng = np.random.default_rng([seed, 1])
    vocab = np.array(vocabulary(VOCAB_SIZE))
    ts = BASE_EPOCH + rng.integers(0, DAYS * 86_400, n_docs)
    level = LEVELS[rng.choice(len(LEVELS), n_docs, p=LEVEL_P)]
    service = np.array([f"svc-{i:02d}" for i in range(N_SERVICES)])[
        rng.choice(N_SERVICES, n_docs, p=zipf_p(N_SERVICES, 1.1))
    ]
    hosts = np.array([f"10.{i // 64}.{(i * 7) % 64}.{i % 250 + 1}" for i in range(N_HOSTS)])
    host = hosts[rng.choice(N_HOSTS, n_docs, p=zipf_p(N_HOSTS, 0.8))]
    status = STATUSES[rng.choice(len(STATUSES), n_docs, p=STATUS_P)]
    latency = np.minimum(
        (rng.lognormal(3.5, 1.1, n_docs) * np.where(status >= 500, 4.0, 1.0)).astype(np.int64)
        + 1,
        600_000,
    )
    # unique trace ids: a seeded bijection of the doc number
    key = int(rng.integers(0, 2**63))
    trace_id = np.array([
        format(((i * 0x9E3779B97F4A7C15) ^ key) & 0xFFFF_FFFF_FFFF_FFFF, "016x")
        for i in range(n_docs)
    ])
    lens = rng.integers(5, 16, n_docs)
    words = vocab[rng.choice(VOCAB_SIZE, int(lens.sum()), p=zipf_p(VOCAB_SIZE, 1.05))]
    cuts = np.concatenate([[0], np.cumsum(lens)])
    message = [words[cuts[i]:cuts[i + 1]].tolist() for i in range(n_docs)]
    return LogCorpus(ts, level, service, trace_id, host, status, latency, message)


# ---------------------------------------------------------------------------
# query specs: one structure renders to the query string AND evaluates in
# Python, so the expected answer and the per-hit check share one source
# ---------------------------------------------------------------------------
# clause forms (ANDed in a spec):
#   ("eq", field, value)            raw text / number equality
#   ("word", word)                  message contains the token
#   ("phrase", [w1, w2])            message contains the adjacent pair
#   ("range", field, lo, hi)        inclusive numeric range
#   ("ge", field, value)            numeric >=
#   ("time", lo, hi)                inclusive epoch-second window on ts
#   ("any", [clause, ...])          OR of clauses
#   ("not", clause)


def render_clause(c) -> str:
    kind = c[0]
    if kind == "eq":
        return f"{c[1]}:{c[2]}"
    if kind == "word":
        return f"message:{c[1]}"
    if kind == "phrase":
        return 'message:"' + " ".join(c[1]) + '"'
    if kind == "range":
        return f"{c[1]}:[{c[2]} TO {c[3]}]"
    if kind == "ge":
        return f"{c[1]}:>={c[2]}"
    if kind == "time":
        return f"ts:[{c[1]} TO {c[2]}]"
    if kind == "any":
        return "(" + " OR ".join(render_clause(x) for x in c[1]) + ")"
    if kind == "not":
        return "NOT " + render_clause(c[1])
    raise ValueError(kind)


def render(spec) -> str:
    return " AND ".join(render_clause(c) for c in spec)


def _has_pair(ws: list, pair: list) -> bool:
    a, b = pair
    return any(ws[i] == a and ws[i + 1] == b for i in range(len(ws) - 1))


def doc_matches(spec, doc: dict) -> bool:
    """Python evaluation of *spec* over one document in its output
    (JSON) form — the per-hit check."""

    def ok(c) -> bool:
        kind = c[0]
        if kind == "eq":
            return doc.get(c[1]) == c[2]
        if kind == "word":
            return c[1] in doc.get("message", "").split()
        if kind == "phrase":
            return _has_pair(doc.get("message", "").split(), c[1])
        if kind == "range":
            v = doc.get(c[1])
            return v is not None and c[2] <= v <= c[3]
        if kind == "ge":
            v = doc.get(c[1])
            return v is not None and v >= c[2]
        if kind == "time":
            return c[1] <= doc["ts_epoch"] <= c[2]
        if kind == "any":
            return any(ok(x) for x in c[1])
        if kind == "not":
            return not ok(c[1])
        raise ValueError(kind)

    return all(ok(c) for c in spec)


def spec_mask(spec, corpus: LogCorpus) -> np.ndarray:
    """Boolean match mask of *spec* over the whole corpus (vectorized;
    the phrase clause filters the word-posting candidates)."""
    n = len(corpus)

    def mask(c) -> np.ndarray:
        kind = c[0]
        if kind == "eq":
            return getattr(corpus, c[1]) == c[2]
        if kind == "word":
            m = np.zeros(n, dtype=bool)
            m[corpus.word_docs(c[1])] = True
            return m
        if kind == "phrase":
            cand = np.intersect1d(corpus.word_docs(c[1][0]), corpus.word_docs(c[1][1]))
            m = np.zeros(n, dtype=bool)
            m[[i for i in cand if _has_pair(corpus.message[i], c[1])]] = True
            return m
        if kind == "range":
            v = getattr(corpus, c[1])
            return (v >= c[2]) & (v <= c[3])
        if kind == "ge":
            return getattr(corpus, c[1]) >= c[2]
        if kind == "time":
            return (corpus.ts >= c[1]) & (corpus.ts <= c[2])
        if kind == "any":
            out = np.zeros(n, dtype=bool)
            for x in c[1]:
                out |= mask(x)
            return out
        if kind == "not":
            return ~mask(c[1])
        raise ValueError(kind)

    out = np.ones(n, dtype=bool)
    for c in spec:
        out &= mask(c)
    return out


@dataclass
class Query:
    kind: str        # filter | window | needle | scored | panel
    spec: tuple
    text: str
    expected: int    # unscored hit count over the corpus
    top_ts: list = field(default_factory=list)    # window: newest-k ts, desc
    facets: dict = field(default_factory=dict)    # panel: service -> count
    buckets: dict = field(default_factory=dict)   # panel: hour bucket -> count


TOPK = 20
SCORED_K = 10
PANEL_INTERVAL_S = 3600


def filter_spec(rng, corpus: LogCorpus, vocab_head: list) -> tuple:
    i = int(rng.integers(len(corpus)))
    shape = int(rng.integers(5))
    svc = str(corpus.service[i])
    if shape == 0:   # term AND term
        return (("eq", "level", str(corpus.level[i])), ("word", corpus.message[i][0]))
    if shape == 1:   # boolean with OR and NOT
        return (
            ("any", [("eq", "level", "ERROR"), ("eq", "level", "WARN")]),
            ("eq", "service", svc),
            ("not", ("eq", "status", 200)),
        )
    if shape == 2:   # phrase (taken from a real doc, so it matches)
        ws = corpus.message[i]
        j = int(rng.integers(len(ws) - 1))
        return (("phrase", [ws[j], ws[j + 1]]),)
    if shape == 3:   # numeric ranges
        lo = int(rng.choice([100, 250, 500, 1000]))
        return (("range", "latency_ms", lo, lo * 4), ("ge", "status", 500))
    # rare-word term query plus a service filter
    w = vocab_head[int(rng.integers(len(vocab_head)))]
    return (("word", w), ("any", [("eq", "service", svc), ("eq", "level", "ERROR")]))


KINDS = ("filter", "window", "needle", "scored", "panel")


def query_spec(kind: str, rng, corpus: LogCorpus, n: int = 0) -> tuple:
    """One seeded query of *kind* over the docs of *corpus*. *n* counts
    the earlier queries of *kind*: panels alternate their two shapes by
    it, so any two panels in a row hold both (they differ ~2x in cost)."""
    vocab_head = vocabulary(VOCAB_SIZE)[50:400]
    t0, t1 = int(corpus.ts.min()), int(corpus.ts.max())
    if kind == "filter":     # term / boolean / phrase / numeric range
        return filter_spec(rng, corpus, vocab_head)
    if kind == "window":     # newest TOPK in a 1-6 h window
        width = int(rng.integers(1, 7)) * 3600
        lo = t0 + int(rng.integers(0, max(1, t1 - t0 - width)))
        spec = (("time", lo, lo + width - 1),)
        if rng.random() < 0.5:
            spec = spec + (("eq", "level", str(rng.choice(LEVELS[:3]))),)
        return spec
    if kind == "needle":     # one trace id
        return (("eq", "trace_id", str(corpus.trace_id[int(rng.integers(len(corpus)))])),)
    if kind == "scored":     # BM25 top-10 over two message words
        a, b = rng.choice(vocab_head, 2, replace=False).tolist()
        return (("any", [("word", a), ("word", b)]),)
    if kind == "panel":      # hits + hourly histogram + service facets
        if n % 2 == 0:
            return (("eq", "level", str(rng.choice(LEVELS[1:]))),)
        lo = t0 + int(rng.integers(0, max(1, t1 - t0 - 2 * 86_400)))
        return (("ge", "status", int(rng.choice([400, 500]))), ("time", lo, lo + 2 * 86_400))
    raise ValueError(kind)


def answer(kind: str, spec: tuple, corpus: LogCorpus) -> Query:
    """*spec* with the answers the checks need, over *corpus*."""
    m = spec_mask(spec, corpus)
    q = Query(kind, spec, render(spec), int(m.sum()))
    if kind == "window":
        q.top_ts = np.sort(corpus.ts[m])[::-1][:TOPK].tolist()
    elif kind == "panel":
        svc, cnt = np.unique(corpus.service[m], return_counts=True)
        hb, hcnt = np.unique(corpus.ts[m] - corpus.ts[m] % PANEL_INTERVAL_S, return_counts=True)
        q.facets = dict(zip(svc.tolist(), cnt.tolist()))
        q.buckets = dict(zip(hb.tolist(), hcnt.tolist()))
    return q


# ---------------------------------------------------------------------------
# curation corpus
# ---------------------------------------------------------------------------

CURATE_FIELDS = [
    {"name": "doc_id", "type": "number", "number_type": "i64"},
    {"name": "source", "type": "text", "tokenizer": "raw"},
    {"name": "text", "type": "text", "tokenizer": "default"},
]
SOURCES = ["web", "news", "forum", "wiki"]


@dataclass
class CurationCorpus:
    docs: list                    # (doc_id, source, text)
    exact_kept: int               # distinct texts after whitespace normalization
    near_pairs: list              # planted (base_id, variant_id) pairs

    def jsonl(self) -> str:
        return "".join(
            json.dumps({"doc_id": d, "source": s, "text": t}, separators=(",", ":")) + "\n"
            for d, s, t in self.docs
        )


def curation_corpus(seed: int, n_base: int) -> CurationCorpus:
    """*n_base* original documents from several sources, plus planted
    exact dups (some differing only in whitespace), near-dup clusters
    (5% word substitutions of a base doc) and junk documents."""
    rng = np.random.default_rng([seed, 3])
    vocab = np.array(vocabulary(VOCAB_SIZE, salt=1))
    p = zipf_p(VOCAB_SIZE, 1.0)
    # each source draws from its own rotation of the shared vocabulary
    offsets = {s: k * 400 for k, s in enumerate(SOURCES)}
    texts: list[tuple[str, list]] = []
    for _ in range(n_base):
        src = SOURCES[int(rng.integers(len(SOURCES)))]
        n = int(rng.integers(60, 160))
        idx = (rng.choice(VOCAB_SIZE, n, p=p) + offsets[src]) % VOCAB_SIZE
        texts.append((src, vocab[idx].tolist()))

    docs: list = []
    near_pairs: list = []
    next_id = [1]

    def add(src: str, text: str) -> int:
        d = next_id[0]
        next_id[0] += 1
        docs.append((d, src, text))
        return d

    base_ids = [add(src, " ".join(ws)) for src, ws in texts]
    order = rng.permutation(n_base)
    n_clusters = n_base // 10
    n_exact = n_base // 10
    # near-dup clusters: 1-3 variants of a base doc, ~5% of words swapped
    for b in order[:n_clusters]:
        src, ws = texts[b]
        for _ in range(int(rng.integers(1, 4))):
            v = list(ws)
            for j in rng.choice(len(v), max(2, len(v) // 20), replace=False):
                v[j] = str(vocab[rng.integers(VOCAB_SIZE)])
            near_pairs.append((base_ids[b], add(src, " ".join(v))))
    # exact dups of other base docs; half differ only in whitespace
    for k, b in enumerate(order[n_clusters:n_clusters + n_exact]):
        src, ws = texts[b]
        sep = "  " if k % 2 else " "
        add(src, sep.join(ws) + ("\n" if k % 2 else ""))
    # junk: digit/symbol soup, failing the quality rules
    for _ in range(n_base // 20):
        n = int(rng.integers(5, 40))
        add(str(rng.choice(SOURCES)),
            " ".join(f"{int(x)}#" for x in rng.integers(0, 10**6, n)))
    # ingest order is shuffled so dups are not adjacent to their originals
    perm = rng.permutation(len(docs))
    docs = [docs[i] for i in perm]
    exact_kept = len({" ".join(t.split()) for _, _, t in docs})
    return CurationCorpus(docs, exact_kept, near_pairs)
