"""Seeded inputs for every workload, generated before the engine runs.

One seed fixes the corpus texts, the read schedule, the mutation
schedule and the watchlist.  Everything here is plain numpy/pandas
with a ``numpy.random.Generator``; nothing depends on the process
(hash randomisation, dict order of sets), which ``Inputs.digest``
lets a run prove by regenerating the same seed in a child process.
"""
from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

# the sf0.1 shape: 5,000 texts of 10-100 words over a 31-word
# vocabulary, 30 common words plus one rare marker word
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
RARE = "dup"
N_TEXTS = 5000
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
_EXT = {"en": "py", "fr": "js", "es": "go", "de": "java", "zh": "rs"}
# query words skip the two one-letter/stop-like words so every class
# has selective terms; the corpus still contains them
QUERY_WORDS = [w for w in WORDS if w not in ("a", "the")]

READ_CLASSES = ("and", "or", "phrase2", "phrase3", "prefix", "filter_lang",
                "facet", "count", "msearch")
TOP_K = 10


@dataclass
class Read:
    cls: str
    args: dict                      # reference-dialect arg dict
    batch: dict | None = None       # msearch: query_id -> arg dict

    def key(self) -> str:
        return json.dumps([self.cls, self.args, self.batch], sort_keys=True)


@dataclass
class Tick:
    append: list[int]               # text ids appended this tick
    delete: list[int]               # text ids whose every replica is deleted
    reads: list[Read] = field(default_factory=list)


def make_texts(rng: np.random.Generator, n: int = N_TEXTS) -> pd.DataFrame:
    """documents(doc_id, text, lang, source, n_chars) — the table
    ``sources.code_table.docs_from_documents`` reads."""
    lens = rng.integers(10, 101, n)
    words = np.asarray(WORDS + [RARE])
    p = np.full(len(words), 0.999 / len(WORDS))
    p[-1] = 0.001
    flat = words[rng.choice(len(words), int(lens.sum()), p=p)]
    ends = np.cumsum(lens)
    texts = [" ".join(flat[e - k:e]) for e, k in zip(ends, lens)]
    langs = np.asarray(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": [len(t) for t in texts],
    })


def docs_rows(texts: pd.DataFrame, ids, tag: str) -> pd.DataFrame:
    """The docs shape (repo, path, commit, lang, content) for a batch of
    text ids, with the same repo/path as ``docs_from_documents`` and a
    commit unique to ``tag`` — a new version of an existing file."""
    t = texts.iloc[np.asarray(ids, dtype=np.int64)]
    d = t["doc_id"].to_numpy()
    return pd.DataFrame({
        "repo": [f"org{i % 7}/project{i % 23}" for i in d],
        "path": [f"src/{s}/mod_{i}.{_EXT.get(l, 'txt')}"
                 for i, s, l in zip(d, t["source"], t["lang"])],
        "commit": [hashlib.sha256(f"{tag}|{i}".encode()).hexdigest()[:40]
                   for i in d],
        "lang": t["lang"].to_numpy(),
        "content": t["text"].to_numpy(),
    })


def base_commit(text_id: int, rep: int) -> str:
    """The commit ``docs_from_documents`` gives replica ``rep``."""
    return hashlib.sha256(f"{text_id}|{rep}".encode()).hexdigest()[:40]


def path_of(texts: pd.DataFrame, text_id: int) -> str:
    r = texts.iloc[text_id]
    return f"src/{r['source']}/mod_{text_id}.{_EXT.get(r['lang'], 'txt')}"


def text_id_of_path(path: str) -> int:
    return int(path.rsplit("mod_", 1)[1].split(".", 1)[0])


def _span(rng, toks: list[list[str]], n: int) -> list[str]:
    """n consecutive words of a random text (a phrase that occurs)."""
    while True:
        t = toks[int(rng.integers(len(toks)))]
        if len(t) >= n:
            o = int(rng.integers(len(t) - n + 1))
            span = t[o:o + n]
            if RARE not in span and not {"a", "the"} & set(span):
                return span


def make_read(rng, cls: str, toks: list[list[str]]) -> Read:
    w = lambda: QUERY_WORDS[int(rng.integers(len(QUERY_WORDS)))]  # noqa: E731
    two = lambda: " ".join(rng.choice(QUERY_WORDS, 2, replace=False))  # noqa: E731
    if cls == "and":
        return Read(cls, {"q": two(), "limit": TOP_K})
    if cls == "or":
        a, b = rng.choice(QUERY_WORDS, 2, replace=False)
        return Read(cls, {"q": f"{a} OR {b}", "limit": TOP_K})
    if cls == "phrase2":
        return Read(cls, {"q": '"%s"' % " ".join(_span(rng, toks, 2)),
                          "limit": TOP_K})
    if cls == "phrase3":
        return Read(cls, {"q": '"%s"' % " ".join(_span(rng, toks, 3)),
                          "limit": TOP_K})
    if cls == "prefix":
        p = w()
        return Read(cls, {"q": f"{w()} {p[:2]}*", "limit": TOP_K})
    if cls == "filter_lang":
        lang = LANGS[int(rng.integers(len(LANGS)))]
        return Read(cls, {"q": two(), "filter:lang": lang, "limit": TOP_K})
    if cls == "facet":
        return Read(cls, {"q": w(), "facet": "lang", "limit": 0})
    if cls == "count":
        return Read(cls, {"q": two()})
    if cls == "msearch":
        return Read(cls, {}, {f"m{i}": {"q": two()} for i in range(8)})
    raise ValueError(cls)


@dataclass
class Inputs:
    texts: pd.DataFrame
    reads: list[Read]               # search: timed read schedule
    warm_reads: list[Read]          # one per class, untimed
    ticks: list[Tick]               # churn: mutation schedule
    churn_final: list[Read]         # churn: reads after compaction
    appends: list[list[int]]        # ingest: micro-batches (text ids)
    upsert: list[int]               # ingest: text ids re-versioned
    watchlist: list[dict]

    def digest(self) -> str:
        h = hashlib.sha256()
        h.update(self.texts.to_csv(index=False).encode())
        for r in self.reads + self.warm_reads + self.churn_final:
            h.update(r.key().encode())
        for t in self.ticks:
            h.update(json.dumps([t.append, t.delete,
                                 [r.key() for r in t.reads]]).encode())
        h.update(json.dumps([self.appends, self.upsert,
                             self.watchlist]).encode())
        return h.hexdigest()


def make_inputs(seed: int, n_reads: int, n_ticks: int, n_appends: int,
                append_docs: int, tick_docs: int, tick_reads: int,
                delete_texts: int, upsert_docs: int) -> Inputs:
    rng = np.random.default_rng(seed)
    texts = make_texts(rng)
    toks = [t.split() for t in texts["text"]]
    # round-robin over the classes: every seed gets the same class mix,
    # so the median read latency does not depend on which classes won
    reads = [make_read(rng, READ_CLASSES[i % len(READ_CLASSES)], toks)
             for i in range(n_reads)]
    warm = [make_read(rng, c, toks) for c in READ_CLASSES]
    churn_classes = ("and", "or", "phrase2", "filter_lang")
    pool = [make_read(rng, churn_classes[i % len(churn_classes)], toks)
            for i in range(tick_reads)]
    ticks = []
    for _ in range(n_ticks):
        ticks.append(Tick(
            append=sorted(rng.choice(N_TEXTS, tick_docs,
                                     replace=False).tolist()),
            delete=sorted(rng.choice(N_TEXTS, delete_texts,
                                     replace=False).tolist()),
            reads=pool))
    appends = [sorted(rng.choice(N_TEXTS, append_docs,
                                 replace=False).tolist())
               for _ in range(n_appends)]
    upsert = sorted(rng.choice(N_TEXTS, upsert_docs, replace=False).tolist())
    watchlist = []
    for i in range(200):
        names = [" ".join(rng.choice(QUERY_WORDS, 2, replace=False))]
        if rng.random() < 0.3:
            names.append(" ".join(rng.choice(QUERY_WORDS, 3, replace=False)))
        watchlist.append({"entity_id": f"ent{i:03d}", "names": names})
    # after compaction, half the tick's reads again: the slower
    # post-compaction reads stay a minority, so the median read is
    # not on the boundary between the two groups
    return Inputs(texts, reads, warm, ticks, pool[:tick_reads // 2],
                  appends, upsert, watchlist)
