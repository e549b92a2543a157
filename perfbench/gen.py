"""Seeded input generators for the three workloads.

Everything here is a pure function of its seed: the same seed gives the same
corpus, the same serve operation stream and the same ask question stream.
Tables are written as ONE parquet file each (``sources.tables.load_table``
reads the footer of ``<dir>/<name>.parquet`` with pyarrow, so it needs a
file, not a Spark-written directory).
"""

from __future__ import annotations

import functools
import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Each language draws from its own syllable set, so languages have disjoint
# vocabularies with their own Zipf heads.
_SYLLABLES = {
    "en": ["ta", "ro", "mi", "ke", "lo", "pa", "su", "ne", "di", "va", "gor", "ben"],
    "de": ["sch", "ei", "ung", "ber", "ach", "tz", "kle", "ost", "ruh", "zin"],
    "fr": ["eau", "oir", "que", "lle", "mon", "tre", "ien", "ai", "gue", "cou"],
}
LANG_SHARES = {"en": 0.6, "de": 0.25, "fr": 0.15}
SOURCES = ["web", "news", "forum", "wiki", "code"]
SOURCE_SHARES = [0.4, 0.2, 0.2, 0.15, 0.05]
ZIPF_S = 1.1


@functools.lru_cache(maxsize=None)
def _vocabulary(lang: str, n_words: int) -> tuple[str, ...]:
    """A language's word list in Zipf rank order (the same for every seed)."""
    rng = np.random.default_rng(sorted(_SYLLABLES).index(lang))
    syl = _SYLLABLES[lang]
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n_words:
        w = "".join(syl[i] for i in rng.integers(0, len(syl), int(rng.integers(2, 5))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return tuple(words)


class Zipf:
    """Rank-frequency sampler over a fixed word list (p(rank r) ∝ r^-s)."""

    def __init__(self, words: list[str], s: float = ZIPF_S):
        self.words = words
        p = 1.0 / np.arange(1, len(words) + 1) ** s
        self.cdf = np.cumsum(p / p.sum())

    def ranks(self, rng: np.random.Generator, n: int) -> np.ndarray:
        return np.minimum(np.searchsorted(self.cdf, rng.random(n), side="right"), len(self.words) - 1)

    def draw(self, rng: np.random.Generator, n: int) -> list[str]:
        return [self.words[i] for i in self.ranks(rng, n)]


@dataclass
class Corpus:
    """A generated document corpus plus its planted duplicate structure."""

    doc_id: list[int]
    text: list[str]
    lang: list[str]
    source: list[str]
    exact_dups: list[tuple[int, int]] = field(default_factory=list)  # (original, copy)
    near_dups: list[tuple[int, int]] = field(default_factory=list)
    zipf: dict[str, Zipf] = field(default_factory=dict)

    def table(self) -> pa.Table:
        return pa.table({
            "doc_id": pa.array(self.doc_id, pa.int64()),
            "text": pa.array(self.text, pa.string()),
            "lang": pa.array(self.lang, pa.string()),
            "source": pa.array(self.source, pa.string()),
            "n_chars": pa.array([len(t) for t in self.text], pa.int32()),
        })


def corpus(
    seed: int,
    n_docs: int,
    exact_share: float = 0.05,
    near_share: float = 0.05,
    vocab_size: int = 4000,
    min_tokens: int = 40,
    max_tokens: int = 120,
) -> Corpus:
    """``n_docs`` documents: ``exact_share`` are exact copies of an earlier
    document (case and whitespace varied, so only a normalizing fingerprint
    matches them), ``near_share`` are copies with one token replaced (3-word
    shingle Jaccard about 0.9), the rest are fresh Zipf draws. Languages and
    sources follow LANG_SHARES and SOURCE_SHARES."""
    rng = np.random.default_rng(seed)
    langs = list(LANG_SHARES)
    zipf = {lg: Zipf(list(_vocabulary(lg, vocab_size))) for lg in langs}
    words = {lg: np.array(z.words, dtype=object) for lg, z in zipf.items()}
    n_exact = int(n_docs * exact_share)
    n_near = int(n_docs * near_share)
    kinds = np.array(["fresh"] * (n_docs - n_exact - n_near) + ["exact"] * n_exact + ["near"] * n_near)
    # the first 10% are always fresh so every copy has an earlier original
    head = max(1, n_docs // 10)
    rng.shuffle(kinds[head:])
    lang_of = np.searchsorted(np.cumsum(list(LANG_SHARES.values())), rng.random(n_docs), side="right")
    source_of = np.searchsorted(np.cumsum(SOURCE_SHARES), rng.random(n_docs), side="right")
    lengths = rng.integers(min_tokens, max_tokens + 1, n_docs)
    pools = {lg: iter(np.split(zipf[lg].ranks(rng, int(lengths[lang_of == k].sum())),
                               np.cumsum(lengths[lang_of == k])[:-1]))
             for k, lg in enumerate(langs)}
    c = Corpus([], [], [], [], zipf=zipf)
    fresh: list[int] = []
    for i in range(n_docs):
        doc_id = i + 1
        lg = langs[min(int(lang_of[i]), len(langs) - 1)]
        ranks = next(pools[lg])
        if i < head or kinds[i] == "fresh":
            kind = "fresh"
            text = " ".join(words[lg][ranks])
            src = SOURCES[min(int(source_of[i]), len(SOURCES) - 1)]
            fresh.append(i)
        else:
            kind = kinds[i]
            j = fresh[int(rng.integers(0, len(fresh)))]
            lg, src, text = c.lang[j], c.source[j], c.text[j]
            toks = text.split(" ")
            if kind == "exact":
                toks[0] = toks[0].upper()
                text = "  ".join(toks) + " "
                c.exact_dups.append((c.doc_id[j], doc_id))
            else:
                pos = int(rng.integers(0, len(toks)))
                toks[pos] = "zz" + toks[pos]
                text = " ".join(toks)
                c.near_dups.append((c.doc_id[j], doc_id))
        c.doc_id.append(doc_id)
        c.text.append(text)
        c.lang.append(lg)
        c.source.append(src)
    return c


def write_table(table: pa.Table, directory: str, name: str) -> str:
    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, f"{name}.parquet")
    pq.write_table(table, path)
    return path


def hash_embed(text: str, dim: int = 64) -> list[float]:
    """Python replica of ``operators.embed``'s md5-bucket hashing embedder
    (``md5_hash60`` bucket of each lower/trim whitespace token, l2-normalized,
    float32-rounded) for query vectors built on the client side."""
    v = np.zeros(dim, dtype=np.float64)
    for t in text.lower().strip().split():
        v[int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % dim] += 1.0
    n = float(np.sqrt((v * v).sum()))
    v = v / (n if n > 0 else 1.0)
    return [float(x) for x in v.astype(np.float32)]


# -- serve: read/write operation stream -----------------------------------


@dataclass
class ServeOp:
    kind: str                       # bm25 | ann | hybrid | write
    query: str = ""                 # read ops
    delta: list[tuple[int, str | None, str]] = field(default_factory=list)  # (doc_id, text, op)


class ServeStream:
    """Seeded serve operations over a live document set. Reads carry 1-4
    Zipf-drawn terms; writes are CDC deltas of inserts, updates and deletes
    against the documents live at that point, so the stream also knows the
    merged corpus after any prefix of it."""

    def __init__(self, seed: int, base: Corpus, delta_docs: int = 50):
        self.rng = np.random.default_rng(seed + 7919)
        self.zipf = base.zipf
        self.live = dict(zip(base.doc_id, base.text))
        self.lang_of = dict(zip(base.doc_id, base.lang))
        self.next_id = max(base.doc_id) + 1
        self.delta_docs = delta_docs

    def _terms(self) -> str:
        lg = list(LANG_SHARES)[int(self.rng.choice(len(LANG_SHARES), p=list(LANG_SHARES.values())))]
        return " ".join(self.zipf[lg].draw(self.rng, int(self.rng.integers(1, 5))))

    def next_read(self, kind: str) -> ServeOp:
        return ServeOp(kind, query=self._terms())

    def next_write(self) -> ServeOp:
        return ServeOp("write", delta=self._delta())

    def _delta(self) -> list[tuple[int, str | None, str]]:
        n_ins = int(self.delta_docs * 0.4)
        n_del = int(self.delta_docs * 0.2)
        n_upd = self.delta_docs - n_ins - n_del
        ids = sorted(self.live)
        picked = self.rng.choice(len(ids), n_upd + n_del, replace=False)
        rows: list[tuple[int, str | None, str]] = []
        for k, p in enumerate(picked):
            doc_id = ids[int(p)]
            if k < n_upd:
                lg = self.lang_of[doc_id]
                text = self.live[doc_id] + " " + " ".join(self.zipf[lg].draw(self.rng, 5))
                rows.append((doc_id, text, "U"))
                self.live[doc_id] = text
            else:
                rows.append((doc_id, None, "D"))
                del self.live[doc_id]
        for _ in range(n_ins):
            lg = list(LANG_SHARES)[int(self.rng.integers(0, len(LANG_SHARES)))]
            text = " ".join(self.zipf[lg].draw(self.rng, int(self.rng.integers(40, 121))))
            doc_id = self.next_id
            self.next_id += 1
            rows.append((doc_id, text, "I"))
            self.live[doc_id] = text
            self.lang_of[doc_id] = lg
        return rows

    def query_sample(self, n: int) -> list[str]:
        return [self._terms() for _ in range(n)]


# -- ask: documents/events tables and the question stream -----------------

EVENT_TYPES = ["view", "click", "share", "report"]
_LLM_TAIL = "answer with a single digit."


def ask_tables(seed: int, n_docs: int, n_events: int) -> tuple[Corpus, pa.Table, pa.Table]:
    """The ask workload's two tables: ``documents`` (corpus columns plus a
    unique ``score`` that is NULL for ~5% of rows) and ``events``."""
    c = corpus(seed, n_docs, exact_share=0.0, near_share=0.0)
    rng = np.random.default_rng(seed + 104729)
    score = rng.permutation(n_docs).astype(np.float64) / n_docs * 5.0
    score_arr = pa.array([None if rng.random() < 0.05 else float(s) for s in score], pa.float64())
    docs = c.table().append_column("score", score_arr)
    ev_type = rng.choice(len(EVENT_TYPES), n_events, p=[0.6, 0.25, 0.1, 0.05])
    events = pa.table({
        "event_id": pa.array(np.arange(1, n_events + 1), pa.int64()),
        "doc_id": pa.array(rng.integers(1, n_docs + 1, n_events), pa.int64()),
        "user_id": pa.array(rng.integers(1, 500, n_events), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in ev_type], pa.string()),
        "value": pa.array(np.round(rng.random(n_events) * 100.0, 2), pa.float64()),
    })
    return c, docs, events


@dataclass
class Question:
    kind: str
    params: dict


ASK_KINDS = (
    "nl_count", "nl_count_distinct", "nl_topk", "nl_contains",
    "plan_range_count", "plan_fieldin_group", "plan_percent", "plan_sort_limit",
    "plan_llm_filter", "plan_topk_unique", "plan_events_group", "plan_summarize",
)


def ask_stream(seed: int, c: Corpus):
    """Endless question stream: the shapes in ASK_KINDS in turn, each with
    seeded parameters (words are Zipf-drawn from the corpus vocabulary)."""
    rng = np.random.default_rng(seed + 15485863)
    langs = list(LANG_SHARES)
    i = 0
    while True:
        kind = ASK_KINDS[i % len(ASK_KINDS)]
        lg = langs[int(rng.integers(0, len(langs)))]
        word = c.zipf[lg].draw(rng, 1)[0]
        while len(word) < 5 or word in _LLM_TAIL:
            word = c.zipf[lg].draw(rng, 1)[0]
        lo = int(rng.integers(200, 500))
        p = {
            "lang": lg, "word": word, "k": int(rng.integers(2, 6)),
            "lo": lo, "hi": lo + int(rng.integers(100, 400)),
            "source": SOURCES[int(rng.integers(0, len(SOURCES)))],
            "event_type": EVENT_TYPES[int(rng.integers(0, len(EVENT_TYPES)))],
            "field": ("lang", "source")[int(rng.integers(0, 2))],
            "threshold": int(rng.integers(1, 3)),
        }
        i += 1
        yield Question(kind, p)
