"""THE case-fold policy — one definition, one documented contract
(VERDICT r10 #4: the ASCII case-fold assumption was documented
separately at four kernels with nothing pinned beyond ASCII).

Every Python row-local kernel that case-folds text routes through
:func:`fold_lower`; the Catalyst mirrors use ``F.lower``. The policy
is MEASURED, not assumed (tests/test_fold_policy.py pins it):

- **Python ``str.lower()`` == Spark ``lower()`` on the full Unicode
  special-casing set** — including the classic corners: ``'İ'``
  (U+0130 → ``'i'`` + U+0307 COMBINING DOT, 2 code points on BOTH
  engines), Greek final sigma (``'ΑΣ'`` → ``'ας'`` on both), and the
  titlecase digraphs (``'ǅ'`` → ``'ǆ'``). A Python kernel and a
  Catalyst expression over the same text therefore fold identically
  beyond ASCII.
- **DuckDB ``lower()`` is simple-mapping only** (``'İ'`` → 1-char
  ``'i'``; ``'ΑΣ'`` → ``'ασ'``, no final-sigma rule), so
  ORACLE-backed outputs may rely on case folding only for ASCII input
  — the declared oracle-agreement subset (the testdata corpus is
  ASCII; a production corpus is not, which is fine: the oracle
  replays correctness at test SF, Spark is what runs at scale).

Kernels with a stricter tokenizer (e.g. the decontamination
``[^a-z0-9]+`` split) additionally DISCARD non-ASCII letters as
separator characters on every engine identically, so their token
streams agree wherever the folds agree.
"""

from __future__ import annotations

import re

_WORD_SPLIT = re.compile(r"[^a-z0-9]+").split


def fold_lower(s: "str | None") -> str:
    """The ONE Python case fold (None folds like empty — the
    digest-lifecycle null policy). Mirrors Spark ``F.lower`` exactly
    (full special-casing agreement, pinned); the DuckDB oracle
    agreement subset is ASCII — see the module docstring."""
    return (s if s is not None else "").lower()


def fold_space_tokens(s: "str | None") -> "list[str]":
    """Python replay of ``F.split(F.lower(col), " ")`` + drop-empties
    — the hash-embedding / classifier / DSIR / BPE token unit.
    Single-SPACE split (not whitespace runs): upstream lineation and
    normalization own separator semantics; the tokenizer must mirror
    the Catalyst form character for character."""
    return [t for t in fold_lower(s).split(" ") if t]


def fold_word_tokens(s: "str | None") -> "list[str]":
    """Python replay of ``_word_tokens_expr`` (the decontamination /
    C4-blocklist token unit): :func:`fold_lower` → split on
    ``[^a-z0-9]+`` runs → drop empties. One definition on each side
    (Python kernel / Catalyst expression), parity equality-pinned."""
    return [w for w in _WORD_SPLIT(fold_lower(s)) if w]
