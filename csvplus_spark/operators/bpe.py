"""Real byte-pair-encoding token counting (merges-table-driven).

The regex estimate in :mod:`operators.text` (``bpe_token_count``)
approximates tokenizer behavior with one pattern; budgeting tokens
against a real tokenizer needs the actual BPE merge loop (Sennrich et
al. 2016; the GPT-2 tokenizer applies the same algorithm byte-level —
reference semantics: csvplus has no tokenizer, this is an extension for
LLM-pipeline parity, VERDICT r2 item 8).

Three pieces, all deterministic:

* :func:`parse_merges` / :func:`format_merges` — the public GPT-2
  ``merges.txt`` format (``#version`` header, one space-separated merge
  pair per line, rank = line order).
* :func:`train_bpe_merges` — learns a merges table from sample text
  (greedy most-frequent-pair, ties broken lexicographically so the
  table is stable across runs). Training is driver-side over a BOUNDED
  sample — vocab fitting needs a representative sample, not the corpus
  (same argument as similarity.IVF_FIT_SAMPLE); the expensive part,
  encoding, is distributed.
* :func:`bpe_token_counts` — one Arrow-batched ``mapInPandas`` pass
  over documents with the ranks dict BROADCAST to executors; the merge
  loop runs per pre-token with a memo cache, so each distinct word is
  merged once per batch.

Pre-tokenization uses an ASCII approximation of the GPT-2 split
pattern (Python ``re`` lacks ``\\p{L}``/``\\p{N}``; the unicode classes
degrade to ASCII ones). Encoding operates on raw bytes — GPT-2's
``bytes_to_unicode`` table only exists to make byte tokens printable
and does not change token boundaries or counts.
"""

from __future__ import annotations

import re
from typing import Iterable, Iterator, Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .scanprobe import fan_out

#: ASCII approximation of the GPT-2 pre-tokenizer pattern
_PRETOK = re.compile(
    r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+(?!\S)|\s+"
)

MERGES_VERSION = "#version: 0.2"


def _bytes_to_unicode() -> dict[int, str]:
    """GPT-2's printable byte alphabet: visible latin-1 bytes map to
    themselves, the rest (space, control bytes, …) shift to 256+n —
    so merge symbols never contain the literal space that delimits the
    two symbols of a merges.txt line. Public algorithm from the GPT-2
    encoder release."""
    bs = (list(range(ord("!"), ord("~") + 1))
          + list(range(ord("¡"), ord("¬") + 1))
          + list(range(ord("®"), ord("ÿ") + 1)))
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return dict(zip(bs, (chr(c) for c in cs)))


_B2U = _bytes_to_unicode()
_U2B = {u: b for b, u in _B2U.items()}


def _sym_to_text(sym: bytes) -> str:
    return "".join(_B2U[b] for b in sym)


def _text_to_sym(text: str) -> bytes:
    try:
        return bytes(_U2B[c] for c in text)
    except KeyError as exc:
        raise ValueError(f"invalid merges symbol: {text!r}") from exc


def parse_merges(lines: Iterable[str]) -> dict[tuple[bytes, bytes], int]:
    """Parse the public GPT-2 ``merges.txt`` format into a rank dict.

    Lines are ``left right`` (space-separated symbol pair in the
    bytes_to_unicode alphabet), rank = position; ``#``-prefixed header
    lines and blanks are skipped. Symbols are stored as raw bytes.
    """
    ranks: dict[tuple[bytes, bytes], int] = {}
    for line in lines:
        line = line.rstrip("\n")
        if not line or line.startswith("#"):
            continue
        left, sep, right = line.partition(" ")
        if not sep:
            raise ValueError(f"malformed merges line: {line!r}")
        ranks[(_text_to_sym(left), _text_to_sym(right))] = len(ranks)
    return ranks


def format_merges(ranks: Mapping[tuple[bytes, bytes], int]) -> str:
    """Serialize a rank dict back to GPT-2 ``merges.txt`` text."""
    lines = [MERGES_VERSION]
    for (a, b), _ in sorted(ranks.items(), key=lambda kv: kv[1]):
        lines.append(f"{_sym_to_text(a)} {_sym_to_text(b)}")
    return "\n".join(lines) + "\n"


def _merge_word(word: tuple[bytes, ...],
                ranks: Mapping[tuple[bytes, bytes], int]) -> tuple[bytes, ...]:
    """Apply merges to one pre-token: repeatedly join the adjacent pair
    with the LOWEST rank until none applies (the standard BPE loop)."""
    while len(word) > 1:
        best = None
        best_rank = None
        for pair in zip(word, word[1:]):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = pair, r
        if best is None:
            break
        merged: list[bytes] = []
        i = 0
        while i < len(word):
            if i < len(word) - 1 and (word[i], word[i + 1]) == best:
                merged.append(word[i] + word[i + 1])
                i += 2
            else:
                merged.append(word[i])
                i += 1
        word = tuple(merged)
    return word


def encode_count(text: str, ranks: Mapping[tuple[bytes, bytes], int],
                 _memo: dict | None = None) -> int:
    """Number of BPE tokens for ``text`` under ``ranks``."""
    if _memo is None:
        _memo = {}
    n = 0
    for m in _PRETOK.finditer(text):
        piece = m.group()
        got = _memo.get(piece)
        if got is None:
            word = tuple(bytes([b]) for b in piece.encode("utf-8"))
            got = len(_merge_word(word, ranks))
            _memo[piece] = got
        n += got
    return n


def train_bpe_merges(texts: Iterable[str],
                     n_merges: int = 200) -> dict[tuple[bytes, bytes], int]:
    """Learn a merges table: ``n_merges`` rounds of merging the most
    frequent adjacent pair (ties → lexicographically smallest pair, so
    the result is independent of dict iteration order).
    """
    from collections import Counter

    words: Counter = Counter()
    for t in texts:
        for m in _PRETOK.finditer(t):
            words[tuple(bytes([b]) for b in m.group().encode("utf-8"))] += 1

    ranks: dict[tuple[bytes, bytes], int] = {}
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for word, cnt in words.items():
            for pair in zip(word, word[1:]):
                pairs[pair] += cnt
        if not pairs:
            break
        best = min(pairs, key=lambda p: (-pairs[p], p))
        if pairs[best] < 2:
            break
        ranks[best] = len(ranks)
        new_words: Counter = Counter()
        for word, cnt in words.items():
            if len(word) > 1:
                merged: list[bytes] = []
                i = 0
                while i < len(word):
                    if i < len(word) - 1 and (word[i], word[i + 1]) == best:
                        merged.append(word[i] + word[i + 1])
                        i += 2
                    else:
                        merged.append(word[i])
                        i += 1
                word = tuple(merged)
            new_words[word] += cnt
        words = new_words
    return ranks


#: bounded, deterministic training sample (docs ordered by id)
BPE_TRAIN_DOCS = 200
BPE_TRAIN_CHARS = 4000


def bpe_token_counts(df: DataFrame,
                     ranks: Mapping[tuple[bytes, bytes], int] | None = None,
                     n_merges: int = 200, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """(id, n_tokens_bpe) for every document under a real merges table.

    When ``ranks`` is None the table is trained on the BPE_TRAIN_DOCS
    lowest-id documents (truncated to BPE_TRAIN_CHARS chars each) — a
    bounded driver-side fit, deterministic for a given corpus. Counting
    is one ``mapInPandas`` pass: Arrow batches in, the ranks dict rides
    the closure (broadcast once per executor), a per-batch memo caches
    repeated pre-tokens.
    """
    if ranks is None:
        sample = (
            df.select(F.col(id_col), F.substring(F.col(text_col), 1,
                                                 BPE_TRAIN_CHARS).alias("t"))
            .orderBy(F.col(id_col)).limit(BPE_TRAIN_DOCS).collect()
        )
        ranks = train_bpe_merges((r["t"] or "" for r in sample), n_merges)
    ranks = dict(ranks)

    src = df.select(F.col(id_col), F.col(text_col))
    id_dt = src.schema[id_col].dataType.simpleString()

    def _count(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            memo: dict = {}
            counts = [
                encode_count(t if isinstance(t, str) else "", ranks, memo)
                for t in pdf[text_col]
            ]
            yield pd.DataFrame({id_col: pdf[id_col],
                                "n_tokens_bpe": pd.Series(counts, dtype="int64")})

    return fan_out(src).mapInPandas(
        _count, f"{id_col} {id_dt}, n_tokens_bpe long")
