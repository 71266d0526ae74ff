"""Seeded code-like corpus with planted near-duplicates (the input of
the ``maintain`` workload).

``engine.corpus.generate_corpus`` cannot feed a near-duplicate sweep: its
one-line template makes files of the same length share most 3-word
shingles, so MinHash pairs most of the corpus.  Here every file draws its
identifiers from a vocabulary of its own, so two files share keywords and
punctuation, as real code does, but almost no 3-word shingle.  SimHash,
which weights raw token counts, still sees the shared keywords; that is
left as real code would show it.

A planted copy repeats an original body with its last token edited,
which changes one of its n-2 3-word shingles: Jaccard similarity
(n-3)/(n-1), at least 0.98 for the originals of 100 tokens or more that
are planted, where MinHash's 8-band estimate misses
the 0.5 threshold with odds below 1e-6 per pair.  Its path sorts after
the original's within the same repo, so the sweep's components policy
(keep the smallest row id of each group) drops exactly the copies.
"""

from __future__ import annotations

import hashlib
import random

SYLLABLES = [
    "get", "set", "load", "save", "parse", "emit", "scan", "index", "cache",
    "user", "token", "chunk", "file", "repo", "path", "hash", "row", "page",
    "node", "edge", "span", "queue", "batch", "state", "frame", "query",
    "vector", "score", "merge", "split", "walk", "lock", "buf", "item",
]

# Every window of three space-separated tokens holds an identifier or a
# literal of the file (indentation is a tab, which the shingler does not
# split on), so no 3-word shingle is common to a whole language.
LANGS = {
    "python": ("py", [
        "def {f}({a}, {b}):",
        "\t{x} = {g}({a}) + {n}",
        "\tif {x} > {n}:",
        "\t\treturn {x}",
        "\tfor {i} in {g}({b}):",
        "\t\t{y}.append({i})",
        "\treturn {y}",
        "import {m}",
    ]),
    "rust": ("rs", [
        "fn {f}({a}: &{T}, {b}: usize) -> Option<{T}> {{",
        "\tlet {x} = {g}({a})?;",
        "\tif {x}.len() > {n} {{ return {y}; }}",
        "\tfor {i} in {b}..{n} {{ {y}.push({i}); }}",
        "\tSome({x})",
        "}}",
        "use crate::{m}::{T};",
    ]),
    "javascript": ("js", [
        "function {f}({a}, {b}) {{",
        "\tconst {x} = await {g}({a});",
        "\tif ({x} === {n}) throw new {T}('{f}');",
        "\t{y}.forEach(({i}) => {b}.push({i}));",
        "\treturn {x};",
        "}}",
        "export {{ {f} }} from './{m}';",
    ]),
    "go": ("go", [
        "func {f}({a} *{T}, {b} int) ({T}, error) {{",
        "\t{x}, err := {g}({a})",
        "\tif nil != {e} {{ return {x}, {e} }}",
        "\tfor {i} := 0; {i} < {n}; {i}++ {{ {y} = append({y}, {i}) }}",
        "\treturn {x}, nil",
        "}}",
        "import \"{m}\"",
    ]),
}


def _name(rng: random.Random) -> str:
    return f"{rng.choice(SYLLABLES)}_{rng.choice(SYLLABLES)}_{rng.getrandbits(20):05x}"


def _body(rng: random.Random, lang: str) -> str:
    ext, templates = LANGS[lang]
    vocab = [_name(rng) for _ in range(24)]
    types = [f"{rng.choice(SYLLABLES).capitalize()}{rng.getrandbits(16):04X}" for _ in range(4)]
    lines = [templates[-1].format(f=_name(rng), m=_name(rng), T=rng.choice(types))]
    for _ in range(rng.randint(5, 8)):  # functions
        fill = {
            "f": _name(rng), "g": rng.choice(vocab), "a": rng.choice(vocab),
            "b": rng.choice(vocab), "x": rng.choice(vocab), "y": rng.choice(vocab),
            "i": rng.choice(vocab), "e": rng.choice(vocab), "T": rng.choice(types),
            "m": rng.choice(vocab),
            "n": rng.randint(2, 99999),
        }
        for t in templates[:-1]:
            lines.append(t.format(**fill))
    return "\n".join(lines)


def _row(repo: str, path: str, lang: str, content: str) -> tuple:
    commit = hashlib.sha256(content.encode()).hexdigest()[:40]
    return (repo, path, commit, lang, content)


def generate(seed: int, n_files: int, n_repos: int = 20, prefix: str = "src") -> list[tuple]:
    """``n_files`` rows of ``(repo, path, commit, lang, content)`` with
    paths under ``prefix/``; the commit is content-addressed, as in
    ``engine.corpus``."""
    rng = random.Random(seed)
    rows = []
    for k in range(n_files):
        lang = rng.choice(sorted(LANGS))
        repo = f"repo_{rng.randrange(n_repos):04d}"
        path = f"{prefix}/{rng.choice(SYLLABLES)}/{_name(rng)}_{k}.{LANGS[lang][0]}"
        rows.append(_row(repo, path, lang, _body(rng, lang)))
    return rows


def plant(seed: int, originals: list[tuple], n: int, tag: str) -> list[tuple[tuple, tuple]]:
    """``n`` ``(original, copy)`` pairs over distinct ``originals`` rows
    of at least 100 tokens.  A copy keeps the repo, appends ``~<tag>`` to
    the path and edits the last token of the body."""
    rng = random.Random(seed)
    out = []
    big = [r for r in originals if r[4].count(" ") >= 99]
    for orig in rng.sample(big, n):
        repo, path, _commit, lang, content = orig
        out.append((orig, _row(repo, f"{path}~{tag}", lang, content + "_v2")))
    return out
