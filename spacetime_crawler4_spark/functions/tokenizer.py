"""Reference-parity tokenizer.

Implements the exact token policy of reference helpers/tokenize.py:35-137
(golden vector: reference test/test_tokenize.py:18-51), restructured as a
run-splitting pass instead of the reference's per-grapheme state machine:

  1. whitespace pre-split, lowercase each raw token
  2. stopword  -> drop   (checked on the whole lowercased raw token)
  3. contraction -> keep verbatim (exact set or generic ``-suffix`` match)
  4. otherwise segment the token into maximal runs of *kept* characters,
     where kept = Unicode ``str.isalnum()`` or one of the group symbols
     ``- . / _ ~``; every non-kept character is a hard split point
  5. within a run, a sequence of two-or-more ``.`` is itself a split point
     (the dots are swallowed) — the reference's NONREPEAT rule
  6. strip trailing ``.`` from each piece — the NONTERM rule
  7. keep the piece only if it still contains at least one alnum character

Steps 4-7 are provably equivalent to the reference's grapheme loop: the
loop emits exactly at non-kept chars and at the second consecutive dot
(discarding the whole dot run), and ``_add_processed_word`` applies the
rstrip + alnum-hit checks (reference tokenize.py:24-32,89-134).

This function is pure Python and is only ever invoked inside Arrow-batched
pandas UDFs (one call per document of a batch), mirroring how the reference
runs it once per page (reference scraper2.py:44-57).
"""

from __future__ import annotations

import re
from itertools import groupby

from spacetime_crawler4_spark.functions.textnorm import STOPWORDS_SET, is_contraction

# symbols treated as part of a token (reference tokenize.py:13)
_GROUP_CHARS = frozenset("-./_~")
# two-or-more dots split the token and are discarded (tokenize.py:17-21)
_MULTIDOT = re.compile(r"\.{2,}")


def _kept(ch: str) -> bool:
    return ch.isalnum() or ch in _GROUP_CHARS


def _emit(run: str, out: list[str]) -> None:
    for piece in _MULTIDOT.split(run):
        piece = piece.rstrip(".")
        if piece and any(c.isalnum() for c in piece):
            out.append(piece)


def tokenize(text: str) -> list[str]:
    """Tokenize ``text`` under the reference policy; returns tokens in order."""
    out: list[str] = []
    for raw in text.split():
        tok = raw.lower()
        if tok in STOPWORDS_SET:
            continue
        if is_contraction(tok):
            out.append(tok)
            continue
        if tok.isalnum():
            # fast path: every char kept, no dots to split/strip, alnum
            # guaranteed — identical to the general path's single-run emit
            out.append(tok)
            continue
        for kept, grp in groupby(tok, key=_kept):
            if kept:
                _emit("".join(grp), out)
    return out


def word_count(tokens: list[str]) -> dict[str, int]:
    """Token frequency map (reference helpers/word_count.py:23-35).
    collections.Counter is the C-optimized equivalent of the reference's
    dict loop (same keys, same counts, same first-encounter key order)."""
    from collections import Counter

    return dict(Counter(tokens))
