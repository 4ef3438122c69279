"""Byte-level vectorized ASCII tokenizer for Arrow string columns.

The engine's text kernels share one normalization contract (pinned against
the Spark expression twins): ``lower`` -> ASCII ``[^\\w\\s]`` -> space ->
collapse whitespace -> strip -> split on single spaces. For an ASCII,
null-free input that contract reduces to byte arithmetic: lowercase is
``+32`` on ``A-Z``, and tokens are exactly the maximal runs of
``[a-z0-9_]`` bytes (every other byte — punctuation, whitespace of any
kind, control bytes — normalizes to a separator). This module implements
that reduction as pure numpy passes over the Arrow buffer, so kernels can
tokenize without materializing per-row Python strings.

Callers MUST route non-ASCII or null rows through their per-row Python
path instead (Unicode lowercasing has one-to-many mappings — e.g. U+0130
lowers to ``i`` + combining dot — that byte arithmetic cannot reproduce);
``pyarrow.compute.string_is_ascii`` is the dispatch predicate. Everything
here derives from public knowledge (ASCII, the xxHash spec, Arrow's
buffer layout).
"""

from __future__ import annotations

import numpy as np


def ascii_token_spans(sub):
    """Tokenize an ASCII, null-free ``pyarrow.StringArray``.

    Returns ``(comp, tok_start, tok_len, per_doc)``:

    - ``comp``: uint8 buffer holding every document's canonical normalized
      text — lowercased tokens separated (and each followed) by exactly one
      space, documents back to back. A slice ``comp[tok_start[i] :
      tok_start[j] + tok_len[j]]`` for tokens ``i <= j`` of the SAME doc is
      therefore byte-identical to ``" ".join(words[i..j])`` of the Python
      normalizer — the property the MinHash shingle builder relies on.
    - ``tok_start``/``tok_len``: int64 per-token offsets into ``comp``.
    - ``per_doc``: int64 token count per input row.
    """
    import pyarrow as pa

    # Offsets are parsed as int32 from ONE buffer set below, which is only
    # valid for a contiguous pa.string array (large_string / string_view
    # carry 64-bit or view offsets, and a ChunkedArray has no single buffer
    # set — misparsing either would corrupt token spans, i.e. wrong MinHash
    # signatures). Fail loudly instead.
    if not isinstance(sub, pa.Array) or sub.type != pa.string():
        raise TypeError(
            "ascii_token_spans requires a pa.string() Array, got "
            f"{type(sub).__name__} of {sub.type}"
        )
    m = len(sub)
    if m == 0:
        return (
            np.zeros(0, np.uint8),
            np.zeros(0, np.int64),
            np.zeros(0, np.int64),
            np.zeros(0, np.int64),
        )
    bufs = sub.buffers()
    off = np.frombuffer(bufs[1], np.int32)[sub.offset : sub.offset + m + 1].astype(
        np.int64
    )
    b = np.frombuffer(bufs[2], np.uint8)[off[0] : off[-1]]
    o = off - off[0]
    upper = (b >= 65) & (b <= 90)
    b = np.where(upper, b + 32, b)
    wm = ((b >= 97) & (b <= 122)) | ((b >= 48) & (b <= 57)) | (b == 95)
    # run starts/ends, with runs force-broken at document boundaries
    prev = np.empty_like(wm)
    nxt = np.empty_like(wm)
    if len(b):
        prev[0] = False
        prev[1:] = wm[:-1]
        nxt[-1] = False
        nxt[:-1] = wm[1:]
        inner = o[1:-1]
        inner = inner[(inner > 0) & (inner < len(b))]
        prev[inner] = False
        nxt[inner - 1] = False
    starts = np.flatnonzero(wm & ~prev)
    ends = np.flatnonzero(wm & ~nxt) + 1
    tok_len = ends - starts
    ntok = len(starts)
    per_doc = np.diff(np.searchsorted(starts, o))
    if ntok == 0:
        return (np.zeros(0, np.uint8), starts, tok_len, per_doc)
    # canonical buffer: each token's bytes followed by one space
    out_end = np.cumsum(tok_len + 1)
    tok_start = out_end - (tok_len + 1)
    comp = np.full(out_end[-1], 0x20, dtype=np.uint8)
    # scatter token bytes: for source byte k of token t at in-token offset d,
    # dest = tok_start[t] + d  (vectorized over all token bytes)
    src_rows = np.repeat(np.arange(ntok, dtype=np.int64), tok_len)
    src_idx = np.arange(len(src_rows), dtype=np.int64) + np.repeat(
        starts - np.concatenate(([0], np.cumsum(tok_len)))[:-1], tok_len
    )
    dest = np.arange(len(src_rows), dtype=np.int64) + np.repeat(
        tok_start - np.concatenate(([0], np.cumsum(tok_len)))[:-1], tok_len
    )
    comp[dest] = b[src_idx]
    return comp, tok_start, tok_len, per_doc
