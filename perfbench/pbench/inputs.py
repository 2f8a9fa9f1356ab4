"""Seeded input generators, independent of ``prosearch_spark.corpus``
so that edits to the program's own generators cannot change a workload.

Every generator takes a ``random.Random`` and returns plain Python data;
``digest`` folds any of it into a short hex string printed with each
result, so two commits can be shown to have run identical inputs.
"""

from __future__ import annotations

import hashlib
import json
import math
import random

# -- web text (serve, ingest) -------------------------------------------------

N_TOPICS = 16
TOPIC_VOCAB = 25
GLOBAL_VOCAB = 2000
REGION = 256  # contiguous doc ids sharing a topic (crawl order by host)


def _zipf_rank(rng: random.Random, n: int) -> int:
    """Rank in [1, n] with P(r) ~ 1/r (inverse CDF in log space)."""
    return max(1, min(n, int(math.exp(rng.random() * math.log(n)))))


def web_doc(rng: random.Random, doc_id: int, version: int = 0) -> dict:
    """One web page: Zipf(1) filler vocabulary plus topical terms whose
    topic is a function of the doc id (doc-id-local topics)."""
    topic = (doc_id // REGION) % N_TOPICS
    toks = []
    for _ in range(rng.randint(40, 200)):
        u = rng.random()
        if u < 0.35:
            toks.append(f"z{topic}_{_zipf_rank(rng, TOPIC_VOCAB)}")
        elif u < 0.45:
            toks.append(f"z{rng.randrange(N_TOPICS)}_"
                        f"{_zipf_rank(rng, TOPIC_VOCAB)}")
        else:
            toks.append(f"t{_zipf_rank(rng, GLOBAL_VOCAB)}")
    text = " ".join(toks)
    return {
        "doc_id": doc_id,
        "text": text,
        "title": " ".join(toks[:4]),
        "url": f"https://site{doc_id % 97}.example/p/{doc_id}/v{version}",
    }


def web_corpus(rng: random.Random, n_docs: int) -> list[dict]:
    return [web_doc(rng, d) for d in range(n_docs)]


# -- query mix (serve) --------------------------------------------------------

# Each shape fixes the Zipf ranks of its terms and the seed picks only the
# topic, and topics are statistically alike: a query's cost does not depend
# on the seed, so runs with different seeds measure the same work. The
# shapes cycle in a fixed order, so a run's sample composition is fixed too.
SHAPE_TEMPLATES = {
    "and2": "z{t}_1 z{t}_3",
    "term_phrase": 'z{t}_3 "z{t}_2 z{t}_1"',
    "term": "z{t}_2",
    "hot_and": "t2 z{t}_4",
    "phrase": '"z{t}_1 z{t}_2"',
    "and3": "z{t}_1 z{t}_2 z{t}_5",
}
SHAPES = tuple(SHAPE_TEMPLATES)


def n_topics(n_docs: int) -> int:
    return min(N_TOPICS, max(1, n_docs // REGION))


def query(rng: random.Random, n_docs: int, shape: str) -> str:
    """One ``shape`` query on a seeded topic of an ``n_docs`` corpus."""
    return SHAPE_TEMPLATES[shape].format(t=rng.randrange(n_topics(n_docs)))


def query_stream(rng: random.Random, n_docs: int, n: int,
                 shapes: tuple[str, ...] = SHAPES) -> list[str]:
    """``n`` queries cycling through ``shapes`` in order."""
    return [query(rng, n_docs, shapes[i % len(shapes)]) for i in range(n)]


def query_batch(rng: random.Random, n_docs: int, n: int) -> list[str]:
    """``n`` distinct queries, shapes in cycle order, topics seeded."""
    topics = n_topics(n_docs)
    if n > topics * len(SHAPES):
        raise ValueError(f"only {topics * len(SHAPES)} distinct queries")
    per_shape = {s: rng.sample(range(topics), topics) for s in SHAPES}
    return [SHAPE_TEMPLATES[s].format(t=per_shape[s][i // len(SHAPES)])
            for i, s in zip(range(n), SHAPES * n)]


# -- recrawl waves (ingest) ---------------------------------------------------

def waves(rng: random.Random, n_base: int, n_waves: int, n_new: int,
          n_recrawl: int) -> list[list[dict]]:
    """Each wave: ``n_new`` docs with fresh ids plus ``n_recrawl``
    replacements (same doc_id, new text) of ids already live when the
    wave arrives."""
    out = []
    next_id = n_base
    for w in range(n_waves):
        live = next_id
        re_ids = rng.sample(range(live), n_recrawl)
        batch = [web_doc(rng, d, version=w + 1) for d in re_ids]
        batch += [web_doc(rng, next_id + i) for i in range(n_new)]
        next_id += n_new
        out.append(batch)
    return out


# -- source code (build) -----------------------------------------------------

LANGS = ("python", "java", "rust", "js", "go")
EXT = {"python": "py", "java": "java", "rust": "rs", "js": "js", "go": "go"}
KEYWORDS = {
    "python": ("def", "return", "import", "from", "self", "None", "class"),
    "java": ("public", "private", "void", "return", "new", "null", "class"),
    "rust": ("fn", "let", "mut", "pub", "return", "self", "impl"),
    "js": ("function", "const", "let", "return", "null", "var"),
    "go": ("func", "return", "nil", "err", "package", "type"),
}
_CONS = "bcdfghklmnprstvwz"
_VOW = "aeiou"


def _word(rng: random.Random) -> str:
    return "".join(rng.choice(_CONS) + rng.choice(_VOW)
                   for _ in range(rng.randint(1, 3)))


class CodeVocab:
    """Long-tailed identifier parts: part rank ~ Zipf(1) over ``n``
    syllable words."""

    def __init__(self, rng: random.Random, n: int = 3000):
        seen: set[str] = set()
        words = []
        while len(words) < n:
            w = _word(rng)
            if w not in seen:
                seen.add(w)
                words.append(w)
        self.words = words

    def part(self, rng: random.Random) -> str:
        return self.words[_zipf_rank(rng, len(self.words)) - 1]

    def identifier(self, rng: random.Random) -> str:
        parts = [self.part(rng) for _ in range(rng.randint(1, 4))]
        style = rng.random()
        if style < 0.4:
            return parts[0] + "".join(p.capitalize() for p in parts[1:])
        if style < 0.7:
            return "_".join(parts)
        if style < 0.8:
            return "".join(p.capitalize() for p in parts)
        if style < 0.9:
            return "_".join(parts).upper()
        return parts[0] + str(rng.randint(0, 99))

    def path(self, rng: random.Random, lang: str) -> str:
        segs = [self.part(rng) for _ in range(rng.randint(1, 3))]
        return "/".join(["src", *segs, self.identifier(rng)]) \
            + "." + EXT[lang]


def code_file(rng: random.Random, vocab: CodeVocab, doc_id: int) -> dict:
    lang = rng.choice(LANGS)
    repo = f"org{rng.randint(0, 9)}/{vocab.part(rng)}"
    path = vocab.path(rng, lang)
    toks = []
    for _ in range(rng.randint(30, 160)):
        u = rng.random()
        if u < 0.2:
            toks.append(rng.choice(KEYWORDS[lang]))
        elif u < 0.9:
            toks.append(vocab.identifier(rng))
        elif u < 0.95:
            toks.append(vocab.path(rng, lang))
        else:
            toks.append(str(rng.randint(0, 4096)))
    content = "\n".join(" ".join(toks[i:i + 8])
                        for i in range(0, len(toks), 8))
    commit = hashlib.sha1(f"{repo}/{path}/{doc_id}".encode()).hexdigest()
    return {"doc_id": doc_id, "repo": repo, "path": path,
            "commit": commit, "lang": lang, "content": content}


def code_corpus(rng: random.Random, n_files: int) -> list[dict]:
    vocab = CodeVocab(rng)
    return [code_file(rng, vocab, d) for d in range(n_files)]


# -- digest ---------------------------------------------------------------------

def digest(*parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(json.dumps(p, sort_keys=True).encode())
    return h.hexdigest()[:16]
