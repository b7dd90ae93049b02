"""Seeded input generator owned by the benchmark.

Everything a workload feeds the engine comes from here, so a change to
the program's own fixtures (``sources.fixtures``) cannot move a
workload. The same ``seed`` always gives the same corpus, query
streams and ingest batches.

Corpus properties:

- code-like text: camelCase / snake_case / UPPER identifiers built from
  a Zipf-weighted vocabulary of sub-words, so after the engine splits
  identifiers the term distribution is Zipfian with a long rare tail;
- ``HOT_TERMS`` appear in about 95% of docs (df close to N);
- about 2% near-duplicates (an earlier doc plus one changed line);
- about 1% of docs carry a non-ASCII comment line. Spread over every
  build partition, this sends most tokenize batches down the build's
  pandas fallback, as real source code does.

Where the settings come from:

- ``DOC_LINES`` sets the median doc length. At 192 lines a doc holds
  about 8 KB of content, and the corpus writes 4.3 KB of parquet per doc
  in one file (4.5-4.8 KB in the benchmark's 16 small files). That
  matches the corpus ``bench.py`` indexes (``sources.fixtures``), which
  writes 4.27 KB of parquet per doc (12.8 KB of more repetitive
  content). The engine's own Python source has a median file size of
  8.3 KB.
- ``ZIPF_S`` is the rank-frequency slope of identifier sub-words
  (identifiers split at case changes, underscores and digits) in the
  engine's own Python source: 1.06 on a log-log fit over ranks 1-1000.
  ``FIXTURES.md`` specifies s of about 1.1.
- ``VOCAB_SIZE`` is chosen, not fitted. The engine's 30 source files
  use about 3,500 distinct sub-words. 6,000 leaves room for the
  several repositories a corpus holds.
- The hot-term, near-duplicate and non-ASCII shares are set to give
  the corpus properties listed above. They are not measured on real
  code.
"""

from __future__ import annotations

import hashlib
import os
import re
from dataclasses import dataclass

import numpy as np
import pandas as pd

HOT_TERMS = ("value", "data", "index", "result")
_KEYWORDS = ("def", "return", "class", "import", "for", "while", "if", "else", "let", "fn")
_LANGS = ("py", "java", "go", "rs", "js")
_CONS = "bcdfghklmnprstvz"
_VOWELS = "aeiou"
_NON_ASCII = ("# café naïve résumé", "# 数据 索引 查询", "# größe straße", "# αβγ δ λ")
VOCAB_SIZE = 6000
ZIPF_S = 1.07
DOC_LINES = 192


def _subwords(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct pronounceable lowercase sub-words of 2-4 syllables."""
    out: list[str] = []
    seen = set(HOT_TERMS) | set(_KEYWORDS)
    while len(out) < n:
        k = int(rng.integers(2, 5))
        w = "".join(
            _CONS[int(rng.integers(len(_CONS)))] + _VOWELS[int(rng.integers(len(_VOWELS)))]
            for _ in range(k)
        )
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


@dataclass
class Vocab:
    words: list[str]
    cdf: np.ndarray  # cumulative Zipf probabilities, rank order

    @classmethod
    def make(cls, seed: int) -> "Vocab":
        rng = np.random.default_rng((seed, 1))
        words = _subwords(rng, VOCAB_SIZE)
        w = 1.0 / np.power(np.arange(1, VOCAB_SIZE + 1), ZIPF_S)
        return cls(words, np.cumsum(w / w.sum()))

    def draw(self, rng: np.random.Generator, n: int) -> np.ndarray:
        return np.minimum(np.searchsorted(self.cdf, rng.random(n)), len(self.words) - 1)


def _ident(rng: np.random.Generator, parts: list[str], style: int | None = None) -> str:
    if style is None:
        style = int(rng.integers(3))
    if style == 0:
        return parts[0] + "".join(p.capitalize() for p in parts[1:])
    if style == 1:
        return "_".join(parts)
    return "_".join(p.upper() for p in parts)


def _doc_text(rng: np.random.Generator, vocab: Vocab, n_lines: int) -> str:
    draws = vocab.draw(rng, n_lines * 4)
    sizes = rng.integers(1, 4, size=n_lines * 2)
    styles = rng.integers(0, 3, size=n_lines * 2)
    nums = rng.integers(0, 64, size=n_lines)
    lines = []
    if rng.random() < 0.97:
        lines.append("import " + ", ".join(h for h in HOT_TERMS if rng.random() < 0.98))
    for ln in range(n_lines):
        a = [vocab.words[int(x)] for x in draws[ln * 4 : ln * 4 + int(sizes[ln * 2])]]
        b = [vocab.words[int(x)] for x in draws[ln * 4 + 2 : ln * 4 + 2 + int(sizes[ln * 2 + 1])]]
        kw = _KEYWORDS[ln % len(_KEYWORDS)]
        ia, ib = _ident(rng, a, styles[ln * 2]), _ident(rng, b, styles[ln * 2 + 1])
        form = ln % 5
        if form == 0:
            lines.append(f"{kw} {ia}({ib}):")
        elif form == 1:
            lines.append(f"    {ia} = {ib}.{kw}()")
        elif form == 2:
            lines.append(f"# {ia} from {ib}")
        elif form == 3:
            lines.append(f"    {kw} {ia}[{ib}]")
        else:
            lines.append(f"    {ib}({ia}, {nums[ln]})")
    return "\n".join(lines)


def make_docs(seed: int, n_docs: int, first_id: int = 0, lines: int = DOC_LINES,
              vocab: Vocab | None = None, tag: str = "base") -> pd.DataFrame:
    """``n_docs`` rows of ``(doc_id, repo, path, commit, lang, content)``
    with data-supplied ids ``first_id ..``. About 2% are near-duplicates
    of earlier rows and about 1% carry a non-ASCII line."""
    vocab = vocab or Vocab.make(seed)
    rng = np.random.default_rng((seed, 2, first_id))
    n_dup = n_docs // 50
    n_orig = n_docs - n_dup
    texts = []
    for _ in range(n_orig):
        n_lines = max(4, int(rng.lognormal(np.log(lines), 0.5)))
        texts.append(_doc_text(rng, vocab, n_lines))
    for j in range(n_dup):
        src = texts[int(rng.integers(0, n_orig))]
        texts.append(src + f"\n# clone {j}")
    non_ascii = rng.random(n_docs) < 0.01
    for i in np.flatnonzero(non_ascii):
        texts[i] = texts[i] + "\n" + _NON_ASCII[int(i) % len(_NON_ASCII)]
    ids = np.arange(first_id, first_id + n_docs, dtype=np.int64)
    langs = [_LANGS[int(x)] for x in rng.integers(0, len(_LANGS), size=n_docs)]
    repos = [f"org{int(i) % 5}/{tag}{int(i) % 37}" for i in ids]
    paths = [f"src/m{int(i) % 11}/f{int(i)}.{lang}" for i, lang in zip(ids, langs)]
    commits = [hashlib.sha1(f"{r}|{p}|{seed}".encode()).hexdigest()[:12] for r, p in zip(repos, paths)]
    return pd.DataFrame(
        {"doc_id": ids, "repo": repos, "path": paths, "commit": commits,
         "lang": langs, "content": texts}
    )


def sha256_hex(texts) -> list[str]:
    """The engine's per-row ``sha2(content, 256)`` invariant, computed
    independently of Spark."""
    return [hashlib.sha256(t.encode("utf-8")).hexdigest() for t in texts]


def _doc_terms(vocab: Vocab, text: str, lo: int, hi: int) -> list[str]:
    """Vocabulary sub-words of Zipf rank ``lo <= r < hi`` present in
    ``text`` (generator-side; used only to pick queries with answers)."""
    rank = {w: r for r, w in enumerate(vocab.words[:hi])}
    out: list[str] = []
    for tok in re.split(r"[^a-z]+", text.lower()):
        if lo <= rank.get(tok, -1) and tok not in out:
            out.append(tok)
    return out


def point_queries(seed: int, docs: pd.DataFrame, vocab: Vocab, n: int = 48) -> list[tuple[str, str]]:
    """``n`` selective ``(mode, text)`` queries of 2-4 terms. Terms come
    from Zipf ranks 40-3000 (rare to mid df); conjunctive queries take
    their terms from one doc, so each has at least one hit."""
    rng = np.random.default_rng((seed, 3))
    out = []
    for i in range(n):
        n_terms = int(rng.integers(2, 5))
        if i % 3 == 2:
            doc = docs["content"].iloc[int(rng.integers(len(docs)))]
            terms = _doc_terms(vocab, doc, 40, 3000)
            if len(terms) >= 2:
                pick = rng.choice(len(terms), size=min(len(terms), n_terms), replace=False)
                out.append(("conjunctive", " ".join(terms[int(j)] for j in pick)))
                continue
        ranks = rng.integers(40, 3000, size=n_terms)
        out.append(("disjunctive", " ".join(_ident(rng, [vocab.words[int(r)]]) for r in ranks)))
    return out


def hot_queries(seed: int, vocab: Vocab, n: int = 32) -> list[str]:
    """``n`` queries over the hot terms (df close to N), each with 2-3
    hot terms plus one frequent sub-word."""
    rng = np.random.default_rng((seed, 4))
    out = []
    for _ in range(n):
        hot = rng.choice(len(HOT_TERMS), size=int(rng.integers(2, 4)), replace=False)
        words = [HOT_TERMS[int(h)] for h in hot] + [vocab.words[int(rng.integers(0, 10))]]
        out.append(" ".join(words))
    return out


def percolate_queries(seed: int, vocab: Vocab, n: int = 32) -> list[str]:
    """``n`` registered alerting queries (conjunctive): one hot term
    plus one or two frequent-to-mid sub-words, so arriving docs match."""
    rng = np.random.default_rng((seed, 5))
    out = []
    for _ in range(n):
        words = [HOT_TERMS[int(rng.integers(len(HOT_TERMS)))]]
        words += [vocab.words[int(r)] for r in rng.integers(0, 120, size=int(rng.integers(1, 3)))]
        out.append(" ".join(words))
    return out


def write_parquet(docs: pd.DataFrame, out_dir: str, n_files: int) -> None:
    """The corpus as ``n_files`` parquet files (the build's input)."""
    os.makedirs(out_dir, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(docs)), n_files)):
        docs.iloc[part].to_parquet(os.path.join(out_dir, f"part-{i:03d}.parquet"), index=False)
