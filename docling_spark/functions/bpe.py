"""Byte-pair encoding over a small COMMITTED vocabulary — the hybrid/code
chunkers' token counter (VERDICT r4 task 3: replace the regex stand-in with
a real BPE while keeping the DOCLING_TOKENIZER HF hook).

Classic BPE (Sennrich et al., ACL'16 — arXiv:1508.07909), not a heuristic:

- pretokenize with the SAME regex the proxy counter used (runs of letters /
  digits / single punctuation — `PRETOKEN_RE`), so merges never cross
  whitespace or pretoken boundaries and token counts stay ADDITIVE across
  concatenation-by-whitespace. That additivity is what makes the chunkers'
  budget arithmetic fold-able (and the DuckDB oracle expressible: the
  per-pretoken counts become a driver-derived MAP parameter, the same
  discipline as k-means centroids and bm25 idf literals).
- training: standard merge loop over the pretoken frequency table —
  count adjacent symbol pairs, merge the most frequent (ties broken to the
  lexicographically smallest pair → fully deterministic), repeat.
- encoding: greedy lowest-merge-rank pair collapsing per pretoken (the
  GPT-2/HF `bpe()` loop), cached per pretoken.

The committed merges live in `bpe_merges.py` as a plain Python list —
regenerate with `python tools/train_bpe_vocab.py` (trains on the
deterministic synth corpora; a .py literal ships inside the same --py-files
zip as the code, so executors need no filesystem side-channel).

Scale shape: the encoder is driver/worker-local Python used inside the
chunkers' existing zero-shuffle map stages; the per-pretoken
lru_cache makes counting amortized O(chars) per document.
"""

from __future__ import annotations

import re
from functools import lru_cache
from typing import Dict, Iterable, List, Sequence, Tuple

PRETOKEN_RE = re.compile(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]")

_RANKS: "Dict[Tuple[str, str], int] | None" = None


def train_bpe(texts: Iterable[str], n_merges: int = 1024) -> List[Tuple[str, str]]:
    """Learn `n_merges` merge rules from `texts`. Deterministic: pair
    counts over the pretoken frequency table, best = (max count, then
    lexicographically smallest pair)."""
    from collections import Counter

    wf: Counter = Counter()
    for t in texts:
        wf.update(PRETOKEN_RE.findall(t))
    words: Dict[str, Tuple[str, ...]] = {w: tuple(w) for w in wf}
    merges: List[Tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for w, syms in words.items():
            f = wf[w]
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += f
        if not pairs:
            break
        best = min(pairs, key=lambda p: (-pairs[p], p))
        if pairs[best] < 2:
            break  # nothing left worth merging
        merges.append(best)
        merged = best[0] + best[1]
        new_words = {}
        for w, syms in words.items():
            out: List[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_words[w] = tuple(out)
        words = new_words
    return merges


def _ranks() -> Dict[Tuple[str, str], int]:
    global _RANKS
    if _RANKS is None:
        from docling_spark.functions.bpe_merges import MERGES

        _RANKS = {tuple(m): i for i, m in enumerate(MERGES)}
    return _RANKS


@lru_cache(maxsize=65536)
def encode_pretoken(word: str) -> Tuple[str, ...]:
    """Greedy BPE for one pretoken: repeatedly collapse the pair with the
    lowest merge rank (all its occurrences) until no learned pair remains."""
    ranks = _ranks()
    syms: List[str] = list(word)
    while len(syms) > 1:
        best, best_rank = None, None
        for pair in zip(syms, syms[1:]):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = pair, r
        if best is None:
            break
        merged = best[0] + best[1]
        out: List[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                out.append(merged)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return tuple(syms)


def bpe_count(text: str) -> int:
    """Σ per-pretoken BPE token counts — the chunkers' budget counter."""
    return sum(len(encode_pretoken(w)) for w in PRETOKEN_RE.findall(text))


def bpe_count_map(pretokens: Sequence[str]) -> Dict[str, int]:
    """(pretoken → count) for an explicit vocabulary — the DuckDB oracle's
    query parameter (it joins token counts by map lookup; the folds it
    verifies are the distributed budget arithmetic, not the tokenizer)."""
    return {w: len(encode_pretoken(w)) for w in pretokens}
