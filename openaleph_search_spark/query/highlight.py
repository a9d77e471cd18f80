"""Highlighting — fragment extraction over top-k hits only.

Re-expresses the reference's unified-highlighter configuration
(/root/reference/openaleph_search/query/highlight.py:9-120,
query/base.py:394-452; knobs settings.py:83-91: fragment_size 200,
≤3 fragments score-ordered, no_match_size 300 fallback, <em> wrapping,
HTML-escaped output) as a post-retrieval pass: the index stores no
term vectors (SURVEY.md T17) — offsets are recomputed on the (tiny)
top-k hit set with the same analyzer chain.
"""
from __future__ import annotations

import html

import pandas as pd

from ..analysis.analyzer import _TOKEN_RE, ZWJ, fold_text, strip_html_series

FRAGMENT_SIZE = 200
MAX_FRAGMENTS = 3
NO_MATCH_SIZE = 300


def _token_spans(text: str) -> list[tuple[str, int, int]]:
    """(folded_term, start, end) char spans; ZWJ tokens yield one span
    per segment (all sharing the token's span)."""
    out = []
    for m in _TOKEN_RE.finditer(text):
        tok = m.group(0)
        for seg in tok.split(ZWJ):
            if seg:
                out.append((fold_text(seg.lower()), m.start(), m.end()))
    return out


def highlight_text(text: str, terms: set[str],
                   fragment_size: int = FRAGMENT_SIZE,
                   max_fragments: int = MAX_FRAGMENTS,
                   no_match_size: int = NO_MATCH_SIZE) -> list[str]:
    """→ up to ``max_fragments`` HTML-escaped fragments, score-ordered
    (fragments with more distinct query-term hits first), query terms
    wrapped in <em>. Falls back to the leading ``no_match_size`` chars
    when nothing matches (reference ``no_match_size`` behavior)."""
    if not text:
        return []
    stripped = strip_html_series(pd.Series([text])).iloc[0]
    spans = [s for s in _token_spans(stripped) if s[0] in terms]
    if not spans:
        head = stripped[:no_match_size].strip()
        return [html.escape(head)] if head else []

    # greedy windowing: center a fragment on each hit, merge overlaps
    frags: list[tuple[int, int, list[tuple[int, int]]]] = []
    for _, start, end in spans:
        lo = max(0, start - fragment_size // 2)
        hi = min(len(stripped), lo + fragment_size)
        if frags and lo <= frags[-1][1]:
            prev_lo, prev_hi, hits = frags[-1]
            frags[-1] = (prev_lo, max(prev_hi, hi), hits + [(start, end)])
        else:
            frags.append((lo, hi, [(start, end)]))
    # score: distinct hit count desc, then document order
    frags.sort(key=lambda f: (-len(f[2]), f[0]))
    out = []
    for lo, hi, hits in frags[:max_fragments]:
        piece = stripped[lo:hi]
        parts, cursor = [], 0
        for s, e in sorted(set(hits)):
            s, e = s - lo, e - lo
            if s < cursor:
                continue
            parts.append(html.escape(piece[cursor:s]))
            parts.append("<em>" + html.escape(piece[s:e]) + "</em>")
            cursor = e
        parts.append(html.escape(piece[cursor:]))
        out.append("".join(parts).strip())
    return out


def highlight_hits(hits_pdf: pd.DataFrame, terms: set[str],
                   content_col: str = "content") -> pd.Series:
    """Vector entry point for a pandas batch of hydrated hits."""
    return hits_pdf[content_col].map(
        lambda t: highlight_text(t or "", terms))
