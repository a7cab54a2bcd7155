"""Seeded input generators owned by the benchmark.

Everything here is a pure function of its ``seed`` argument: the same
seed gives byte-identical corpora and query streams. Nothing here
imports the engine, so the inputs never depend on the code under test.

Transcripts follow the ``input_hint`` schema
``(conv_id, turn_idx, role, text, tool, ts)`` and are chosen so that
the engine's selectivity-dependent mechanisms actually fire:

* a Zipf vocabulary of ``VOCAB_SIZE`` content words: the head puts a
  few dozen terms above the 5% document-frequency gate that routes
  single-clause queries to block-max WAND (``index.py``), the long tail
  sits far below it, so both sides of the gate are exercised;
* words are built from syllables plus English suffixes (-ing, -ation,
  -ness, -ies, ...) so the Porter2 stemmer does real work and several
  surface forms fold onto one stem, as in real text;
* about a third of the tokens are stopwords from the reference list, so
  the stop-word filter removes real volume;
* per-role turn lengths: user turns are short, assistant turns long,
  tool turns medium and carry a tool name, as in agent transcripts.

The query stream draws terms from both sides of the gate, phrases as
adjacent word pairs from real turns (so they match), and prefix/fuzzy
probes from vocabulary words.
"""

from __future__ import annotations

import datetime as _dt
import os
from typing import Dict, List

import numpy as np

VOCAB_SIZE = 30_000
ZIPF_S = 1.07          # rank exponent: English-like head/tail balance
ZIPF_Q = 2.7           # Mandelbrot offset flattens the extreme head
STOPWORD_SHARE = 0.33  # share of tokens drawn from the stopword list

ROLES = ("user", "assistant", "tool")
TOOLS = ("", "search", "bash", "browser", "python", "editor", "sql")
# (min, max) words per turn by role
TURN_WORDS = {"user": (4, 20), "assistant": (20, 80), "tool": (8, 30)}

ONSETS = ("b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n", "p",
          "r", "s", "t", "v", "w", "z", "br", "ch", "cl", "cr", "dr",
          "fl", "gr", "pl", "pr", "sh", "sl", "sp", "st", "str", "th",
          "tr")
NUCLEI = ("a", "e", "i", "o", "u", "ai", "ea", "ee", "ie", "oa", "ou")
CODAS = ("", "", "n", "r", "l", "s", "t", "m", "nd", "nt", "rk", "st",
         "ck")
# English derivational/inflectional suffixes Porter2 strips or rewrites
SUFFIXES = ("", "", "", "s", "es", "ed", "ing", "ly", "er", "ers",
            "ation", "ations", "ational", "ness", "ful", "fulness",
            "ment", "ments", "ies", "ied", "able", "ability", "ize",
            "izing", "ization", "ive", "iveness", "ously", "al", "ality",
            "ence", "ency", "ism", "ist", "iti")

# the reference's stopword list subset most frequent in English text
STOPWORDS = ("the", "a", "and", "of", "to", "is", "it", "in", "that",
             "for", "on", "with", "as", "be", "at", "by", "this", "from",
             "or", "an", "are", "was", "but", "not", "have", "we", "you",
             "they", "can", "will", "if", "so", "what", "all", "there")

EPOCH = _dt.datetime(2026, 1, 1)


def vocabulary(seed: int, size: int = VOCAB_SIZE) -> List[str]:
    """``size`` distinct lowercase words in Zipf rank order: one to three
    syllables (onset + nucleus + coda) and an English suffix."""
    rng = np.random.default_rng([seed, 1])
    seen: Dict[str, None] = {}
    stop = set(STOPWORDS)
    while len(seen) < size:
        m = size
        n_syl = rng.choice((1, 2, 2, 2, 3), size=m)
        on = rng.integers(len(ONSETS), size=(m, 3))
        nu = rng.integers(len(NUCLEI), size=(m, 3))
        co = rng.integers(len(CODAS), size=(m, 3))
        su = rng.integers(len(SUFFIXES), size=m)
        for i in range(m):
            w = "".join(ONSETS[on[i, j]] + NUCLEI[nu[i, j]] + CODAS[co[i, j]]
                        for j in range(n_syl[i])) + SUFFIXES[su[i]]
            if len(w) > 2 and w not in stop:
                seen.setdefault(w, None)
                if len(seen) == size:
                    break
    return list(seen)


def zipf_probs(size: int = VOCAB_SIZE) -> np.ndarray:
    p = 1.0 / (np.arange(size) + 1 + ZIPF_Q) ** ZIPF_S
    return p / p.sum()


class Corpus:
    """A seeded transcripts corpus kept as token-id rows (so query
    generation can read document frequencies and adjacent pairs
    without re-tokenizing) plus the rendered ``input_hint`` columns."""

    def __init__(self, seed: int, n_turns: int, turns_per_conv: int = 8,
                 conv_offset: int = 0, vocab: List[str] = None):
        self.seed = seed
        self.vocab = vocab if vocab is not None else vocabulary(seed)
        rng = np.random.default_rng([seed, 2, conv_offset])
        cdf = np.cumsum(zipf_probs(len(self.vocab)))
        g = np.arange(n_turns)
        conv, turn = np.divmod(g, turns_per_conv)
        role_ix = turn % 3
        lo = np.array([TURN_WORDS[r][0] for r in ROLES])[role_ix]
        hi = np.array([TURN_WORDS[r][1] for r in ROLES])[role_ix]
        lens = rng.integers(lo, hi + 1)
        total = int(lens.sum())
        ids = np.minimum(np.searchsorted(cdf, rng.random(total),
                                         side="right"), len(self.vocab) - 1)
        # negative ids are stopwords: -1 - index into STOPWORDS
        sw = -1 - rng.integers(len(STOPWORDS), size=total)
        seq = np.where(rng.random(total) < STOPWORD_SHARE, sw, ids)
        lex = np.array(list(reversed(STOPWORDS)) + self.vocab, dtype=object)
        words = lex[seq + len(STOPWORDS)]
        bounds = np.concatenate(([0], np.cumsum(lens)))
        tool_pick = rng.integers(len(TOOLS), size=n_turns)
        self.tokens: List[np.ndarray] = [seq[bounds[i]:bounds[i + 1]]
                                         for i in range(n_turns)]
        self.text: List[str] = [" ".join(words[bounds[i]:bounds[i + 1]])
                                for i in range(n_turns)]
        self.conv_id: List[str] = ["conv-%07d" % (conv_offset + c)
                                   for c in conv.tolist()]
        self.turn_idx: List[int] = turn.tolist()
        self.role: List[str] = [ROLES[r] for r in role_ix.tolist()]
        self.tool: List[str] = [TOOLS[k] if r == 2 else ""
                                for k, r in zip(tool_pick.tolist(),
                                                role_ix.tolist())]
        base = conv_offset * turns_per_conv
        self.ts: List[_dt.datetime] = [
            EPOCH + _dt.timedelta(seconds=60 * (base + i))
            for i in range(n_turns)]

    def __len__(self) -> int:
        return len(self.text)

    @property
    def docids(self) -> List[str]:
        return ["%s:%d" % (c, t) for c, t in zip(self.conv_id,
                                                 self.turn_idx)]

    def text_bytes(self) -> int:
        """UTF-8 bytes of the indexed fields (text + tool)."""
        return sum(len(s.encode()) for s in self.text) + sum(
            len(s.encode()) for s in self.tool)

    def doc_freq(self) -> np.ndarray:
        """Surface-word document frequency per vocabulary id."""
        df = np.zeros(len(self.vocab), dtype=np.int64)
        for seq in self.tokens:
            u = np.unique(seq[seq >= 0])
            df[u] += 1
        return df

    def write_parquet(self, path: str, files: int) -> None:
        """Write the ``input_hint`` columns plus ``docid`` as ``files``
        parquet parts under directory ``path``."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(path, exist_ok=True)
        tab = pa.table({"conv_id": self.conv_id,
                        "turn_idx": pa.array(self.turn_idx, pa.int32()),
                        "role": self.role, "text": self.text,
                        "tool": self.tool,
                        "ts": pa.array(self.ts, pa.timestamp("us")),
                        "docid": self.docids})
        step = -(-tab.num_rows // files)
        for i in range(files):
            pq.write_table(tab.slice(i * step, step),
                           os.path.join(path, "part-%03d.parquet" % i))


# words of the reference query set (tests/oracle/query_set.py): the
# referee corpus puts them at the head of its Zipf vocabulary so every
# oracle query matches something
ORACLE_WORDS = ["elixir", "tool", "run", "quick", "fox", "brown", "jumped",
                "lazy", "dog", "lorem", "ipsum", "dolor", "livebook",
                "jupyter", "project", "projects", "spark", "transcript",
                "search", "full-text", "top-k", "index", "query", "stream"]


def oracle_corpus(seed: int, n_turns: int = 200) -> Corpus:
    """A small corpus the pure-Python oracle can index in about a
    second, over the reference query set's words plus seeded ones."""
    return Corpus(seed, n_turns, conv_offset=9_000_000,
                  vocab=ORACLE_WORDS + vocabulary(seed, 400))


def planted_batch(seed: int, cycle: int, n_turns: int,
                  vocab: List[str]) -> tuple:
    """Ingest batch ``cycle``: fresh conversations over the base
    vocabulary, every turn carrying a term that occurs in no other
    batch. Returns (corpus, planted term)."""
    term = "zqplant%dx%d" % (seed, cycle)
    c = Corpus(seed, n_turns, conv_offset=10_000_000 + 1000 * cycle,
               vocab=vocab)
    c.text = [t + " " + term for t in c.text]
    return c, term


# -- query stream ---------------------------------------------------------

GATE = 0.05  # index.py WAND_SINGLE_CLAUSE_MAX_DF_FRAC

SHAPES = ("match_or", "match_and", "bool", "bm25", "wand_text", "phrase",
          "fuzzy", "expand")


def term_buckets(corpus: Corpus):
    """(hot, cold) vocabulary words: hot have surface df above the WAND
    gate, cold are tail words with df between 2 and 0.5% of turns."""
    df = corpus.doc_freq()
    n = len(corpus)
    order = np.argsort(-df, kind="stable")
    hot = [corpus.vocab[i] for i in order if df[i] > GATE * n]
    cold = [corpus.vocab[i] for i in order
            if 2 <= df[i] <= max(2, int(0.005 * n))]
    return hot, cold


# term pattern per shape: H = hot (df above the 5% gate), C = cold
# (df far below it). match_and is all-hot, so the single-clause gate
# stays shut and it runs the exhaustive plan. match_or has no pattern:
# it reuses two C terms of earlier queries in its stream (below).
PATTERNS = {"match_and": "HH", "bool": "HCC", "bm25": "HC",
            "wand_text": "CCH"}
EXPAND_MATCHES = (2, 20)  # vocabulary words a prefix probe may expand to
REPEAT_SHARE = 0.25       # queries that repeat an earlier one of their shape


def query_stream(seed: int, corpus: Corpus, n: int,
                 stream: int = 0) -> List[dict]:
    """``n`` seeded query specs ``{"shape", "terms", "text"}``;
    ``stream`` selects an independent stream for the same seed.

    Shapes come in blocks holding each of ``SHAPES`` once, in a seeded
    order, and each shape has a fixed hot/cold term pattern, so any run
    of a few dozen queries does the same kind of work whatever the seed:
    run-to-run differences come from the terms, not the mix. Phrases
    are adjacent content-word pairs from real turns; prefix probes
    expand to a bounded number of vocabulary words. A ``REPEAT_SHARE``
    of queries repeat an earlier query of their shape, as popular
    queries do in search logs, so queries whose terms were all seen
    before (warm driver term caches) occur beside cold ones.

    ``Index.search`` routes a single-clause match to block-max WAND only
    when every term's df is already in the reader's driver cache and
    all sit under the 5% gate (``Index._route_wand``); a first-seen
    term always runs the exhaustive plan. So ``match_or`` draws both
    terms from the C terms of earlier queries in the stream (which
    resolve them on the same reader), and the first block issues
    ``match_or`` last so such terms exist. Whether the route was taken
    is recorded per query (``probes.took_route``)."""
    import bisect

    rng = np.random.default_rng([seed, 3, stream])
    hot, cold = term_buckets(corpus)
    pairs = []
    for seq in corpus.tokens[:4000]:
        for a, b in zip(seq[:-1], seq[1:]):
            if a >= 0 and b >= 0 and a != b:
                pairs.append((corpus.vocab[a], corpus.vocab[b]))
    lex = sorted(corpus.vocab)

    def n_prefixed(p: str) -> int:
        return (bisect.bisect_left(lex, p + "\uffff")
                - bisect.bisect_left(lex, p))

    def pick(pool: List[str]) -> str:
        return pool[int(rng.integers(len(pool)))]

    def prefix() -> str:
        while True:
            w = pick(cold)
            for cut in range(len(w) - 1, 3, -1):
                m = n_prefixed(w[:cut])
                if EXPAND_MATCHES[0] <= m <= EXPAND_MATCHES[1]:
                    return w[:cut]

    out = []
    by_shape: Dict[str, List[dict]] = {}
    resolved: Dict[str, None] = {}  # C terms of earlier queries, in order
    order: List[str] = []
    for _ in range(n):
        if not order:
            order = [SHAPES[i] for i in rng.permutation(len(SHAPES))]
            if not out:  # pop() takes from the end: match_or goes last
                order.remove("match_or")
                order.insert(0, "match_or")
        shape = order.pop()
        earlier = by_shape.setdefault(shape, [])
        if earlier and rng.random() < REPEAT_SHARE:
            out.append(earlier[int(rng.integers(len(earlier)))])
            continue
        if shape == "phrase":
            terms = list(pairs[int(rng.integers(len(pairs)))])
        elif shape == "expand":
            terms = [prefix()]
        elif shape == "fuzzy":
            w = pick(cold)
            i = int(rng.integers(len(w)))
            terms = [w[:i] + ("x" if w[i] != "x" else "y") + w[i + 1:]]
        elif shape == "match_or":
            pool = list(resolved)
            terms = [pool[int(i)]
                     for i in rng.choice(len(pool), 2, replace=False)]
        else:
            terms = [pick(hot if c == "H" else cold)
                     for c in PATTERNS[shape]]
            resolved.update((t, None) for t, c in zip(terms, PATTERNS[shape])
                            if c == "C")
        earlier.append({"shape": shape, "terms": terms,
                        "text": " ".join(terms)})
        out.append(earlier[-1])
    return out


def to_dsl(q: dict) -> dict:
    """The DSL map for a query spec (shapes that go through ``search``)."""
    s, t, text = q["shape"], q["terms"], q["text"]
    if s == "match_or":
        return {"query": {"match": {"text": text}}}
    if s == "match_and":
        return {"query": {"match": {"text": {"query": text,
                                             "operator": "and"}}}}
    if s == "bool":
        return {"query": {"bool": {
            "must": {"match": {"text": t[0]}},
            "must_not": {"match": {"text": t[1]}},
            "should": [{"match": {"text": t[2]}},
                       {"match": {"tool": "search"}}]}}}
    if s == "phrase":
        return {"query": {"match_phrase": {"text": text}}}
    if s == "fuzzy":
        return {"query": {"terms": {"text": {"value": t[0],
                                             "fuzziness": 1}}}}
    if s == "expand":
        return {"query": {"terms": {"text": {"value": t[0],
                                             "expand": True}}}}
    raise ValueError(s)
