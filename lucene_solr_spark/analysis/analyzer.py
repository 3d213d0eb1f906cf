"""Analyzer chain: StandardTokenizer → LowerCaseFilter → StopFilter → PorterStemFilter.

Reference semantics (see SURVEY.md §2.A):

- StandardTokenizer (``L/analysis/standard/StandardTokenizer.java``):
  UAX#29 word-break segmentation, ``maxTokenLength=255`` (longer runs split).
  For ASCII input, tokens are runs of ``[0-9A-Za-z_]`` with embedded
  apostrophes (UAX#29 MidNumLet) — punctuation and whitespace are dropped.
  Non-ASCII input routes to the FULL UAX#29 word-break implementation
  (``analysis/uax29.py``): the WB5-WB13b joining rules, Extend/Format
  transparency, Han/Hiragana singles (IDEOGRAPHIC/HIRAGANA types), Katakana
  runs, Complex_Context (SE Asian) runs — table-driven over the Unicode
  word-break property data. Path dispatch is per-row on ``isascii()``;
  the documented ASCII-subset deviation (no '.'/','/':' sandwich joins in
  pure-ASCII text) is pinned in ``tests/test_uax29.py``.
- LowerCaseFilter (``L/analysis/LowerCaseFilter.java``).
- StopFilter (``L/analysis/StopFilter.java``): drops the 33-word English set
  (``LA/en/EnglishAnalyzer.java#ENGLISH_STOP_WORDS_SET``) and — critically for
  phrase rank-identity — **advances the position counter across the hole**
  (``enablePositionIncrements`` is always on in 8.x). Positions are 0-based.
- PorterStemFilter (``LA/en/PorterStemFilter.java``).

Everything operates on pandas Series (Arrow-batched inside Spark UDFs) —
no per-row Python in the hot path: regex tokenization via ``Series.str``,
stop filtering via vectorized ``isin``, stemming via a memoized dict built
from the batch's *unique* tokens only.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from .porter import porter_stem

# The exact 33-word Lucene English stop set (EnglishAnalyzer#ENGLISH_STOP_WORDS_SET).
ENGLISH_STOP_WORDS = frozenset(
    """a an and are as at be but by for if in into is it no not of on or such
    that the their then there these they this to was will with""".split()
)

# Tokens: alnum/underscore runs (with embedded apostrophes), split at 255 chars
# to mirror StandardTokenizer#maxTokenLength.
_TOKEN_RE = re.compile(r"[0-9A-Za-z_](?:['’]?[0-9A-Za-z_]){0,254}")

# Legacy UAX#29-approximating regex — retained ONLY as the sentinel default
# for ``uni_token_re`` (chains that keep it route non-ASCII input through
# the full table-driven UAX#29 implementation in ``uax29.py``; chains that
# SWAP it — whitespace, URL/email — keep their regex semantics) and as the
# word-run component of the URL/email alternation below.
_IDEO_CLS = (
    "\u2E80-\u2FDF"  # CJK radicals / Kangxi
    "\u3040-\u309F"  # Hiragana
    "\u3400-\u4DBF\u4E00-\u9FFF"  # Han ext-A + unified
    "\uF900-\uFAFF"  # CJK compatibility ideographs
)
_UNI_ALPHA = rf"(?:(?![{_IDEO_CLS}])[\w\u0300-\u036F])"
_UNI_TOKEN_RE = re.compile(
    rf"[{_IDEO_CLS}]|{_UNI_ALPHA}(?:['\u2019]?{_UNI_ALPHA}){{0,254}}"
)

# Byte LUTs for the zero-regex ASCII fast path (_analyze_batch_arrow):
# lowercase is a 256-entry gather (A-Z += 32), token-character membership a
# boolean gather — one linear pass each over the batch's UTF-8 buffer, no
# regex engine and no per-row work (the RE2 split this replaces was ~70% of
# the analyzer's wall time and the dominant memory-bandwidth consumer).
_LOWER_LUT = np.arange(256, dtype=np.uint8)
_LOWER_LUT[ord("A"):ord("Z") + 1] += 32
_ISTOK_LUT = np.zeros(256, dtype=bool)
_ISTOK_LUT[[ord(c) for c in "0123456789_"]] = True
_ISTOK_LUT[ord("a"):ord("z") + 1] = True
_ISTOK_LUT[ord("A"):ord("Z") + 1] = True


class _BaseAnalyzer:
    """Shared vectorized tokenize machinery. Subclasses set the filters."""

    lowercase = True
    stop_words: frozenset = frozenset()
    stem = False
    # tokenizer definition — StandardTokenizer by default; Whitespace
    # subclasses swap all three (regex = reference semantics, LUT = fast
    # path, uni = the UAX#29-approximating regex non-ASCII input routes to)
    token_re = _TOKEN_RE
    istok_lut = _ISTOK_LUT
    uni_token_re = _UNI_TOKEN_RE

    def __init__(self) -> None:
        self._stem_memo: dict[str, str] = {}

    # -- single-string path (query compile, tests) ---------------------------

    def analyze(self, text: str) -> list[tuple[str, int]]:
        """text → [(term, position)]; positions 0-based with stop holes."""
        return self.postprocess_tokens(self._analyze_base(text))

    def postprocess_tokens(self, toks: list[tuple[str, int]]) -> list[tuple[str, int]]:
        """Token-graph stage hook (synonym/shingle/edge-ngram chains).
        Identity in the base chains. Emitted extra tokens share the position
        of their source token (posIncrement=0) and are NOT counted in the
        norm length (Lucene ``discountOverlaps``, the 8.x default)."""
        return toks

    def postprocess_frame(self, frame: pd.DataFrame) -> pd.DataFrame:
        """Vectorized twin of ``postprocess_tokens`` for the batch path.
        MUST keep ``frame.attrs['doc_len']`` as the BASE token counts
        (discountOverlaps: overlapping emissions don't change norms)."""
        return frame

    def uni_tokenize(self, text: str) -> list[str]:
        """Non-ASCII tokenizer: full UAX#29 word break (analysis/uax29.py)
        for StandardTokenizer-semantics chains; subclasses that swap
        ``uni_token_re`` (whitespace, URL/email) keep their regex rule."""
        if self.uni_token_re is not _UNI_TOKEN_RE:
            return self.uni_token_re.findall(text)
        from .uax29 import tokenize as _uax29_tokenize

        return _uax29_tokenize(text)

    def _analyze_base(self, text: str) -> list[tuple[str, int]]:
        # ASCII rides the exact fast-path-equivalent regex; non-ASCII takes
        # the UAX#29 word-break rules (tokenize THEN lower, the reference
        # filter order — unicode lowering can change length, so lowering
        # per-token keeps offsets/segmentation independent of case)
        raws = (
            self.token_re.findall(text) if text.isascii()
            else self.uni_tokenize(text)
        )
        out: list[tuple[str, int]] = []
        for pos, raw in enumerate(raws):
            tok = raw.lower() if self.lowercase else raw
            if tok in self.stop_words:
                continue
            if self.stem:
                tok = self._memo_stem(tok)
            out.append((tok, pos))
        return out

    def _memo_stem(self, tok: str) -> str:
        s = self._stem_memo.get(tok)
        if s is None:
            # Porter is defined over ASCII English letters only — non-ASCII
            # tokens pass through unstemmed (PorterStemmer's own charset
            # guard leaves them unchanged upstream too)
            s = porter_stem(tok) if tok.isascii() else tok
            self._stem_memo[tok] = s
        return s

    # -- batched path (build/search kernels) ---------------------------------

    def analyze_batch(self, texts) -> pd.DataFrame:
        """Vectorized analysis of a batch of documents: base chain
        (tokenize/lower/stop/stem) then the subclass token-graph stage.

        ``texts`` may be a pandas Series OR a pyarrow Array/ChunkedArray —
        the Arrow form is the zero-copy fast path (the build kernel feeds
        parquet columns straight in; no Python string materialization)."""
        return self.postprocess_frame(self._analyze_batch_base(texts))

    def _analyze_batch_base(self, texts) -> pd.DataFrame:
        """Vectorized analysis of a batch of documents.

        Returns an exploded DataFrame with columns:
          row   int64  positional index into ``texts`` (0..len-1)
          term  str    analyzed term (post stop/stem)
          pos   int32  0-based token position (stop holes preserved)
        plus attribute access to per-row kept-token counts via
        ``frame.attrs['doc_len']`` (np.int64 array aligned to texts) — the
        BM25 norm length (tokens AFTER stop removal; holes don't count).

        Hot path discipline: ONE C-level ``findall`` over the '\\n'-joined
        (and pre-lowered) batch instead of a per-row pandas ``str`` loop;
        per-row counts recovered from a second findall per row would be
        quadratic, so row boundaries come from counting matches in each
        row's slice via the match-offset/row-offset merge. Stop and stem
        run on factorized codes — O(unique terms) python work, O(tokens)
        numpy gathers. (~6x less CPU and far fewer allocations than the
        naive pandas version — matters for memory-bandwidth scaling with
        32 concurrent workers.)
        """
        import pyarrow as pa
        import pyarrow.compute as pc

        if isinstance(texts, (pa.Array, pa.ChunkedArray)):
            # Arrow input: no pandas round trip, no Python strings
            col = pc.fill_null(texts, "")
            if isinstance(col, pa.ChunkedArray):
                col = col.combine_chunks()
            if col.type != pa.string():
                col = col.cast(pa.string())
            n_rows = len(col)
            pd_texts = None  # materialized lazily, fallback paths only
        else:
            texts = texts.fillna("").astype(str).reset_index(drop=True)
            col = pa.array(texts, type=pa.string())
            n_rows = len(texts)
            pd_texts = texts
        # ASCII / apostrophe dispatch on the raw UTF-8 bytes (one linear
        # scan — no '\n'-join, no Python-string allocation for the check)
        _off = np.frombuffer(col.buffers()[1], dtype=np.int32)
        _off = _off[col.offset:col.offset + n_rows + 1]
        _data = np.frombuffer(col.buffers()[2], dtype=np.uint8)[_off[0]:_off[-1]]
        is_ascii = _data.size == 0 or int(_data.max()) < 128
        if is_ascii and not (_data == 0x27).any():
            # ASCII + no apostrophes ⇒ tokenize-then-lower ≡ lower-then-split
            # on non-token chars, and the pure-Arrow path applies (no Python
            # string objects at all — dictionary-encoded terms).
            out = self._analyze_batch_arrow(None, n_rows, col=col)
            if out is not None:
                return out
        if pd_texts is None:
            texts = col.to_pandas().astype(str)
        if not is_ascii:
            if self.uni_token_re is not _UNI_TOKEN_RE:
                # regex-tokenizer chains (whitespace, URL/email) keep the
                # per-row reference path: RE2 vs Python `re` can shift
                # tokens across row boundaries on unicode input in ways the
                # count-sum guard cannot see; per-row is the semantic
                # reference for those chains.
                return self._analyze_batch_slow(texts)
            # StandardTokenizer chains: the batched UAX#29 scan — one
            # classify+rule pass over the '\n'-joined non-ASCII rows, ASCII
            # rows recursing onto their own fast path. No per-row Python.
            return self._analyze_batch_uax29(texts)
        # apostrophe-bearing ASCII batches: regex path ('\n' can never
        # appear inside a token, so joining preserves matches)
        joined = "\n".join(texts)
        if self.lowercase:
            joined = joined.lower()  # ASCII ⇒ 1:1, length-preserving

        # token strings: ONE C-level findall over the whole batch;
        # per-row counts: vectorized RE2 match count. ASCII-only here (see
        # guard above) ⇒ re and RE2 provably agree per row; the count-sum
        # check below is a belt-and-suspenders invariant, not the only guard.
        import pyarrow as pa
        import pyarrow.compute as pc

        flat = np.array(self.token_re.findall(joined), dtype=object)
        low_col = pa.array(texts, type=pa.string())
        if self.lowercase:
            low_col = pc.utf8_lower(low_col)
        counts = pc.count_substring_regex(low_col, self.token_re.pattern).to_numpy(
            zero_copy_only=False
        ).astype(np.int64)
        if counts.sum() != len(flat):  # re/RE2 divergence — fall back
            return self._analyze_batch_slow(texts)
        row = np.repeat(np.arange(n_rows, dtype=np.int64), counts)
        starts = np.zeros(n_rows + 1, dtype=np.int64)
        np.cumsum(counts, out=starts[1:])
        pos = np.arange(len(row), dtype=np.int64) - np.repeat(starts[:-1], counts)

        # factorize once; stop+stem operate on the (small) unique set
        codes, uniq = pd.factorize(flat)
        if self.stop_words:
            stop_mask = np.array([u in self.stop_words for u in uniq], dtype=bool)
            keep = ~stop_mask[codes] if len(codes) else np.zeros(0, dtype=bool)
            codes, row, pos = codes[keep], row[keep], pos[keep]
        if self.stem:
            memo = self._stem_memo
            uniq = np.array(
                [memo.get(u) or memo.setdefault(u, porter_stem(u)) for u in uniq],
                dtype=object,
            )
        terms = uniq[codes] if len(codes) else np.empty(0, dtype=object)

        doc_len = np.bincount(row, minlength=n_rows).astype(np.int64)
        frame = pd.DataFrame({"row": row, "term": terms, "pos": pos.astype(np.int32)})
        frame.attrs["doc_len"] = doc_len
        return frame

    def _analyze_batch_arrow(
        self, texts: pd.Series, n_rows: int, col=None
    ) -> pd.DataFrame | None:
        """Zero-Python-string fast path (ASCII, apostrophe-free batches):
        byte-LUT tokenizer over the Arrow UTF-8 value buffer + dictionary
        encoding; stop/stem run on the (small) dictionary only; the term
        column is a pandas Categorical sharing that dictionary. Returns
        None when a guard fails (token >255 chars) — caller falls back to
        the regex path, which defines the semantics.

        Bandwidth discipline (the build's N→4N scaling is memory-bound):
        lowercase = one 256-LUT gather; token runs = edges of a boolean
        membership mask (forced to break at row boundaries, since adjacent
        rows are contiguous in the buffer); token bytes gathered once into
        a compact buffer backing a new Arrow StringArray; all index arrays
        int32; stop filtering is a per-code LUT gather (no isin sort); used
        codes via bincount (no unique sort). No regex engine, no per-row
        Python, no Python token strings."""
        import pyarrow as pa
        import pyarrow.compute as pc

        if col is None:
            col = pa.array(texts, type=pa.string())
        off_all = np.frombuffer(col.buffers()[1], dtype=np.int32)
        off = off_all[col.offset:col.offset + n_rows + 1].astype(np.int64)
        base = off[0]
        data = np.frombuffer(col.buffers()[2], dtype=np.uint8)[base:off[-1]]
        off = off - base
        low = _LOWER_LUT[data] if self.lowercase else data
        m = self.istok_lut[low]
        start_mask = m.copy()
        start_mask[1:] &= ~m[:-1]
        end_mask = m.copy()
        end_mask[:-1] &= ~m[1:]
        rb = off[1:-1]  # interior row-start byte offsets: forced breaks
        if rb.size:
            start_mask[rb[rb < len(m)]] = m[rb[rb < len(m)]]
            rbp = rb[rb > 0] - 1
            end_mask[rbp] = m[rbp]
        tok_starts = np.flatnonzero(start_mask).astype(np.int32)
        n_tok = len(tok_starts)
        lens = (np.flatnonzero(end_mask).astype(np.int32) + 1) - tok_starts
        if n_tok and int(lens.max()) > 255:
            return None  # maxTokenLength splitting — regex path handles it
        if n_tok:
            # tokens appear in buffer order, so boolean compaction of the
            # membership mask IS the concatenated token bytes — one linear
            # C pass. (Replaces a cumsum-step gather that materialized a
            # 4x-size int32 index plus a second full cumsum: ~5x less
            # memory traffic on the kernel's hottest allocation.)
            out_off = np.zeros(n_tok + 1, dtype=np.int32)
            np.cumsum(lens, out=out_off[1:])
            tok_bytes = low[m]
            flat = pa.Array.from_buffers(
                pa.utf8(), n_tok,
                # numpy arrays ride the buffer protocol — zero-copy wrap
                [None, pa.py_buffer(out_off), pa.py_buffer(tok_bytes)],
            )
        else:
            flat = pa.array([], type=pa.utf8())

        dict_arr = pc.dictionary_encode(flat)
        codes = dict_arr.indices.to_numpy(zero_copy_only=False).astype(np.int32)
        vocab = dict_arr.dictionary.to_pylist()  # small: unique tokens only
        n_vocab = len(vocab)

        # per-row token counts: tokens whose start byte falls in the row's
        # byte range (forced breaks make spans row-aligned)
        counts_all = np.diff(
            np.searchsorted(tok_starts, off.astype(np.int32))
        ).astype(np.int32)
        row = np.repeat(np.arange(n_rows, dtype=np.int32), counts_all)
        starts = np.zeros(n_rows + 1, dtype=np.int32)
        np.cumsum(counts_all, out=starts[1:])
        pos = np.arange(len(row), dtype=np.int32) - np.repeat(starts[:-1], counts_all)

        if self.stop_words and n_vocab:
            keep_lut = np.array([v not in self.stop_words for v in vocab])
            if not keep_lut.all():
                kmask = keep_lut[codes]
                codes, row, pos = codes[kmask], row[kmask], pos[kmask]
        if self.stem:
            memo = self._stem_memo
            vocab = [memo.get(v) or memo.setdefault(v, porter_stem(v)) for v in vocab]

        # re-map to a sorted-unique category set (stemming can collapse
        # several raw tokens into one term; unused codes are dropped).
        # bincount>0 finds used codes without sorting the token stream.
        vocab_arr = np.array(vocab, dtype=object)
        used = (
            np.flatnonzero(np.bincount(codes, minlength=n_vocab))
            if len(codes) else np.empty(0, dtype=np.int64)
        )
        uniq_vals, inv_u = (
            np.unique(vocab_arr[used], return_inverse=True)
            if used.size else (np.empty(0, dtype=object), np.empty(0, dtype=np.int64))
        )
        lut = np.full(n_vocab, -1, dtype=np.int32)
        lut[used] = inv_u
        term = pd.Categorical.from_codes(
            lut[codes] if len(codes) else codes, categories=uniq_vals
        )

        doc_len = np.bincount(row, minlength=n_rows).astype(np.int64)
        frame = pd.DataFrame({"row": row, "term": term, "pos": pos})
        frame.attrs["doc_len"] = doc_len
        return frame

    def _analyze_batch_uax29(self, texts: pd.Series) -> pd.DataFrame:
        """Batched UAX#29 path for mixed/non-ASCII batches (StandardTokenizer
        chains only). ASCII rows recurse onto the byte-LUT/regex fast path
        (keeping the documented ASCII-subset rule and per-row dispatch
        determinism); the non-ASCII rows join with '\\n' (word-break class
        Other — never joined across, so the joined scan ≡ per-row scans,
        parity-pinned) and tokenize in ONE classify+rule pass. Lower, stop
        and stem all run on the factorized UNIQUE token set — O(vocabulary)
        Python, O(tokens) numpy gathers, no per-row loop."""
        n_rows = len(texts)
        mask = np.fromiter((t.isascii() for t in texts), dtype=bool, count=n_rows)
        doc_len = np.zeros(n_rows, dtype=np.int64)
        frames: list[pd.DataFrame] = []

        if mask.any():
            remap = np.flatnonzero(mask)
            fa = self._analyze_batch_base(texts[mask].reset_index(drop=True))
            doc_len[remap] = fa.attrs["doc_len"]
            if len(fa):
                fa = fa.assign(row=remap[fa["row"].to_numpy()])
                frames.append(fa)

        uidx = np.flatnonzero(~mask)
        if uidx.size:
            import pyarrow.compute as pc

            from .uax29 import tokenize_batch

            sub = [texts.iloc[int(i)] for i in uidx]
            flat, rloc, pos = tokenize_batch(sub)
            # dictionary-encode the Arrow token column: Python strings
            # materialize for the (small) unique set only — same discipline
            # as the ASCII byte-LUT path
            dict_arr = pc.dictionary_encode(flat)
            codes = dict_arr.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            uniq = np.array(dict_arr.dictionary.to_pylist(), dtype=object)
            # tokenize THEN lower, per token — on the unique set only
            if self.lowercase:
                low = np.array([u.lower() for u in uniq], dtype=object)
            else:
                low = uniq
            rows_g = uidx[rloc]
            if self.stop_words:
                stop_mask = np.array([u in self.stop_words for u in low], dtype=bool)
                keep = ~stop_mask[codes] if len(codes) else np.zeros(0, dtype=bool)
                codes, rows_g, pos = codes[keep], rows_g[keep], pos[keep]
            if self.stem:
                memo = self._stem_memo
                low = np.array([
                    memo.get(u) or memo.setdefault(
                        u, porter_stem(u) if u.isascii() else u
                    )
                    for u in low
                ], dtype=object)
            if len(rows_g):
                doc_len[uidx] = np.bincount(rows_g, minlength=n_rows)[uidx]
            frames.append(pd.DataFrame({
                "row": rows_g.astype(np.int64),
                "term": low[codes] if len(codes) else np.empty(0, dtype=object),
                "pos": pos.astype(np.int32),
            }))

        if not frames:
            frame = pd.DataFrame({
                "row": np.empty(0, dtype=np.int64),
                "term": np.empty(0, dtype=object),
                "pos": np.empty(0, dtype=np.int32),
            })
        elif len(frames) == 1:
            frame = frames[0]
        else:
            # from arrays, not pd.concat: an empty part would otherwise take
            # part in (and, by pandas' deprecation, someday change) the
            # result dtypes
            frame = pd.DataFrame({
                "row": np.concatenate([f["row"].to_numpy(np.int64) for f in frames]),
                "term": np.concatenate([f["term"].to_numpy(object) for f in frames]),
                "pos": np.concatenate([f["pos"].to_numpy(np.int32) for f in frames]),
            })
            order = np.lexsort((frame["pos"].to_numpy(), frame["row"].to_numpy()))
            frame = frame.iloc[order].reset_index(drop=True)
        frame.attrs["doc_len"] = doc_len
        return frame

    def _analyze_batch_slow(self, texts: pd.Series) -> pd.DataFrame:
        """Per-row reference path (also the unicode-casefold fallback)."""
        rows: list[int] = []
        terms: list[str] = []
        poss: list[int] = []
        doc_len = np.zeros(len(texts), dtype=np.int64)
        for i, text in enumerate(texts):
            analyzed = self._analyze_base(text)
            doc_len[i] = len(analyzed)
            for t, p in analyzed:
                rows.append(i)
                terms.append(t)
                poss.append(p)
        frame = pd.DataFrame({
            "row": np.array(rows, dtype=np.int64),
            "term": np.array(terms, dtype=object),
            "pos": np.array(poss, dtype=np.int32),
        })
        frame.attrs["doc_len"] = doc_len
        return frame


class LuceneChainAnalyzer(_BaseAnalyzer):
    """The graft target chain: Standard → LowerCase → Stop(33) → PorterStem
    (= EnglishAnalyzer minus EnglishPossessiveFilter, per BASELINE.json)."""

    lowercase = True
    stop_words = ENGLISH_STOP_WORDS
    stem = True


class SimpleAnalyzer(_BaseAnalyzer):
    """Tokenize + lowercase only — no stop/stem. SQL-oracle-expressible
    (DuckDB ``string_split``), used for the driver's documents-table checks."""

    lowercase = True
    stop_words = frozenset()
    stem = False


_HTML_BLOCK_RE = __import__("re").compile(
    r"(?is)<(script|style)\b.*?</\1\s*>"
)
_HTML_TAG_RE = __import__("re").compile(r"(?s)<[^>]*>")
_HTML_ENTITIES = (
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&apos;", "'"),
    ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),  # amp LAST
)


def _html_strip(text: str) -> str:
    """HTMLStripCharFilter subset (``LA/charfilter/HTMLStripCharFilter.java``):
    drop <script>/<style> elements WITH their content, drop all other tags,
    decode the common named entities (&amp; decoded last so '&amp;lt;' does
    not double-decode). Offset correction is moot here — positions are token
    ordinals, not char offsets."""
    text = _HTML_BLOCK_RE.sub(" ", text)
    text = _HTML_TAG_RE.sub(" ", text)
    for ent, ch in _HTML_ENTITIES:
        if ent in text:
            text = text.replace(ent, ch)
    return text


class HTMLStripAnalyzer(_BaseAnalyzer):
    """HTMLStrip → Standard → LowerCase: the char-filter runs BEFORE the
    tokenizer (CharFilter contract), so stripped text re-enters the normal
    fast paths. Batch stripping is vectorized with pyarrow's C++ regex
    replace — no per-row Python unless a document actually contains '<'."""

    lowercase = True
    stop_words = frozenset()
    stem = False

    def analyze(self, text: str):
        return super().analyze(_html_strip(text))

    def analyze_batch(self, texts):
        import pyarrow as pa
        import pyarrow.compute as pc

        if not isinstance(texts, (pa.Array, pa.ChunkedArray)):
            texts = pa.array(
                texts.fillna("").astype(str), type=pa.string()
            )
        col = pc.fill_null(texts, "")
        # cheap guard: batches with no '<' and no '&' skip the strip
        if pc.any(pc.match_substring_regex(col, "[<&]")).as_py():
            # RE2 has no backreferences: script and style block-drops are
            # two separate patterns (semantically identical to the joint
            # backreferenced form)
            for el in ("script", "style"):
                col = pc.replace_substring_regex(
                    col, rf"(?is)<{el}\b[\s\S]*?</{el}\s*>", " "
                )
            col = pc.replace_substring_regex(col, r"(?s)<[^>]*>", " ")
            for ent, ch in _HTML_ENTITIES:
                col = pc.replace_substring(col, ent, ch)
        return super().analyze_batch(col)


class _LengthPredicate:
    """Set-like 'stop set' whose membership test is a token-LENGTH
    predicate: ``LengthFilter`` (``LA/miscellaneous/LengthFilter.java``)
    extends ``FilteringTokenFilter`` exactly like StopFilter — removed
    tokens leave position holes and don't count toward the norm length —
    so the whole stop machinery (per-row, regex-batch, and arrow-LUT
    paths all test unique-term membership) is reused verbatim."""

    def __init__(self, lo: int, hi: int) -> None:
        self.lo, self.hi = lo, hi

    def __contains__(self, tok: str) -> bool:
        return not (self.lo <= len(tok) <= self.hi)

    def __bool__(self) -> bool:  # `if self.stop_words:` must engage
        return True


LENGTH_MIN, LENGTH_MAX = 3, 8


class LengthFilterAnalyzer(_BaseAnalyzer):
    """Standard → LowerCase → LengthFilter(3, 8): tokens outside the length
    band are dropped with position holes (FilteringTokenFilter), shrinking
    the norm length like stopwords do."""

    lowercase = True
    stop_words = _LengthPredicate(LENGTH_MIN, LENGTH_MAX)
    stem = False


LIMIT_TOKEN_COUNT = 40


class LimitTokenCountAnalyzer(_BaseAnalyzer):
    """Standard → LowerCase → LimitTokenCount(40)
    (``LA/miscellaneous/LimitTokenCountFilter.java``, consumeAllTokens
    irrelevant here — Solr's ``limitTokenCount`` guard against pathological
    huge documents): only the first N tokens are indexed; later tokens
    vanish entirely (no holes past the cut — the stream simply ends), so
    the norm length is min(doc tokens, N). With no upstream filtering the
    token ordinal equals its position, so the cut is the vectorized
    ``pos < N`` mask on all three analysis paths."""

    lowercase = True
    stop_words = frozenset()
    stem = False
    limit = LIMIT_TOKEN_COUNT

    def postprocess_tokens(self, toks: list[tuple[str, int]]) -> list[tuple[str, int]]:
        return [(t, p) for t, p in toks if p < self.limit]

    def postprocess_frame(self, frame: pd.DataFrame) -> pd.DataFrame:
        n_rows = len(frame.attrs["doc_len"])
        keep = frame["pos"].to_numpy() < self.limit
        if keep.all():
            return frame
        out = frame[keep].reset_index(drop=True)
        if isinstance(out["term"].dtype, pd.CategoricalDtype):
            # the invert kernel iterates the category dictionary as the
            # term vocabulary — categories whose every occurrence was cut
            # must leave it (the pre-categorical filter paths never
            # produce unused categories; this postprocessor can)
            out["term"] = out["term"].cat.remove_unused_categories()
        out.attrs["doc_len"] = np.bincount(
            out["row"].to_numpy(), minlength=n_rows
        ).astype(np.int64)
        return out


class StopChainAnalyzer(_BaseAnalyzer):
    """Standard → LowerCase → Stop(33) — the Lucene ``StandardAnalyzer`` with
    its English stop set (``L/analysis/standard/StandardAnalyzer.java``), i.e.
    the target chain minus Porter. Fully SQL-oracle-expressible (the stop set
    is a literal NOT IN list), so the driver can cross-check stop-hole
    positions and stop-aware norms, which the stemmed chain can't (DuckDB has
    no Porter stemmer in-sandbox)."""

    lowercase = True
    stop_words = ENGLISH_STOP_WORDS
    stem = False


# --- token-graph chains (synonym / shingle / edge-ngram) ---------------------

# Single-token synonym map (``LA/synonym/SynonymGraphFilter`` in its
# replace-with-canonical configuration — multi-word graph output is out of
# scope and documented): variants collapse to one canonical term at BOTH
# index and query time, so "row" and "line" become one merged posting list.
SYNONYMS = {"row": "line", "tuple": "line"}

EDGE_MIN, EDGE_MAX = 2, 4


def _edge_grams(t: str) -> list[str]:
    """Leading-edge grams of lengths EDGE_MIN..EDGE_MAX (capped at the token
    length); tokens shorter than EDGE_MIN pass through unchanged —
    ``LA/ngram/EdgeNGramTokenFilter`` (index-time autocomplete setup, all
    grams at the source token's position)."""
    if len(t) < EDGE_MIN:
        return [t]
    return [t[:g] for g in range(EDGE_MIN, min(EDGE_MAX, len(t)) + 1)]


def _term_values(frame: pd.DataFrame) -> np.ndarray:
    t = frame["term"]
    if isinstance(t.dtype, pd.CategoricalDtype):
        return t.astype(object).to_numpy()
    return t.to_numpy()


class SynonymAnalyzer(_BaseAnalyzer):
    """Standard → LowerCase → Synonym(replace): 1:1 token mapping, so
    positions and norm lengths are untouched."""

    lowercase = True
    synonyms = SYNONYMS

    def postprocess_tokens(self, toks):
        return [(self.synonyms.get(t, t), p) for t, p in toks]

    def postprocess_frame(self, frame: pd.DataFrame) -> pd.DataFrame:
        if not len(frame):
            return frame
        codes, uniq = pd.factorize(_term_values(frame))
        mapped = np.array([self.synonyms.get(u, u) for u in uniq], dtype=object)
        frame["term"] = pd.Categorical(mapped[codes])
        return frame


class ShingleAnalyzer(_BaseAnalyzer):
    """Standard → LowerCase → Shingle(2, outputUnigrams=true)
    (``LA/shingle/ShingleFilter``): adjacent-token 2-grams emitted at the
    first token's position (posIncrement 0 ⇒ discounted from norms)."""

    lowercase = True

    def postprocess_tokens(self, toks):
        out = list(toks)
        for i in range(len(toks) - 1):
            if toks[i + 1][1] == toks[i][1] + 1:
                out.append((f"{toks[i][0]} {toks[i + 1][0]}", toks[i][1]))
        return out

    def postprocess_frame(self, frame: pd.DataFrame) -> pd.DataFrame:
        if len(frame) < 2:
            return frame
        row = frame["row"].to_numpy()
        pos = frame["pos"].to_numpy()
        vals = _term_values(frame)
        adj = np.flatnonzero((row[1:] == row[:-1]) & (pos[1:] == pos[:-1] + 1))
        if not adj.size:
            return frame
        codes, uniq = pd.factorize(vals)
        v = len(uniq)
        pairc = codes[adj].astype(np.int64) * v + codes[adj + 1]
        up, inv = np.unique(pairc, return_inverse=True)
        pair_str = np.array(
            [f"{uniq[p // v]} {uniq[p % v]}" for p in up], dtype=object
        )
        out = pd.DataFrame({
            "row": np.concatenate([row, row[adj]]),
            "term": np.concatenate([vals, pair_str[inv]]),
            "pos": np.concatenate([pos, pos[adj]]).astype(np.int32),
        })
        out.attrs["doc_len"] = frame.attrs["doc_len"]  # discountOverlaps
        return out


class CommonGramsAnalyzer(_BaseAnalyzer):
    """Standard → LowerCase → CommonGramsFilter
    (``LA/commongrams/CommonGramsFilter.java``): for every adjacent token
    pair where EITHER member is a common word (the English stop set), emit
    the joined bigram ``a_b`` (the filter's '_' separator) at the first
    token's position with posIncrement 0 — unigrams (including the common
    words) pass through, bigrams are discounted from norms
    (discountOverlaps). Phrase-heavy stopword queries then hit one posting
    list instead of a positional intersect; the same chain at query time
    expands the query identically."""

    lowercase = True
    common_words = ENGLISH_STOP_WORDS

    def postprocess_tokens(self, toks):
        out = list(toks)
        for i in range(len(toks) - 1):
            if toks[i + 1][1] == toks[i][1] + 1 and (
                toks[i][0] in self.common_words
                or toks[i + 1][0] in self.common_words
            ):
                out.append((f"{toks[i][0]}_{toks[i + 1][0]}", toks[i][1]))
        return out

    def postprocess_frame(self, frame: pd.DataFrame) -> pd.DataFrame:
        if len(frame) < 2:
            return frame
        row = frame["row"].to_numpy()
        pos = frame["pos"].to_numpy()
        vals = _term_values(frame)
        codes, uniq = pd.factorize(vals)
        is_common = np.array([u in self.common_words for u in uniq], dtype=bool)
        adj = np.flatnonzero(
            (row[1:] == row[:-1]) & (pos[1:] == pos[:-1] + 1)
            & (is_common[codes[1:]] | is_common[codes[:-1]])
        )
        if not adj.size:
            return frame
        v = len(uniq)
        pairc = codes[adj].astype(np.int64) * v + codes[adj + 1]
        up, inv = np.unique(pairc, return_inverse=True)
        pair_str = np.array(
            [f"{uniq[p // v]}_{uniq[p % v]}" for p in up], dtype=object
        )
        out = pd.DataFrame({
            "row": np.concatenate([row, row[adj]]),
            "term": np.concatenate([vals, pair_str[inv]]),
            "pos": np.concatenate([pos, pos[adj]]).astype(np.int32),
        })
        out.attrs["doc_len"] = frame.attrs["doc_len"]  # discountOverlaps
        return out


def _all_ngrams(t: str) -> list[str]:
    """ALL substrings of lengths EDGE_MIN..EDGE_MAX (``LA/ngram/
    NGramTokenFilter``, minGram=2 maxGram=4). Tokens shorter than EDGE_MIN
    pass through unchanged — this deliberately models
    ``preserveOriginal=true``; the upstream DEFAULT (preserveOriginal=false)
    drops sub-minGram tokens entirely. Engine and oracle agree on the
    preserveOriginal=true semantics; the deviation from the upstream default
    is recorded in COVERAGE.md next to the ft_ngram_topk row."""
    if len(t) < EDGE_MIN:
        return [t]
    return [
        t[s:s + g]
        for g in range(EDGE_MIN, EDGE_MAX + 1)
        for s in range(0, len(t) - g + 1)
    ]


class EdgeNGramAnalyzer(_BaseAnalyzer):
    """Standard → LowerCase → EdgeNGram(2, 4): each token replaced by its
    leading-edge grams, all at the token's position (one position increment
    per source token ⇒ norms count source tokens)."""

    lowercase = True
    _grams = staticmethod(_edge_grams)

    def postprocess_tokens(self, toks):
        return [(g, p) for t, p in toks for g in type(self)._grams(t)]

    def postprocess_frame(self, frame: pd.DataFrame) -> pd.DataFrame:
        if not len(frame):
            return frame
        row = frame["row"].to_numpy()
        pos = frame["pos"].to_numpy()
        codes, uniq = pd.factorize(_term_values(frame))
        grams_fn = type(self)._grams
        gram_lists = [np.array(grams_fn(u), dtype=object) for u in uniq]
        counts_u = np.array([len(g) for g in gram_lists], dtype=np.int64)
        flat_u = (
            np.concatenate(gram_lists) if gram_lists else np.empty(0, dtype=object)
        )
        offs_u = np.cumsum(counts_u) - counts_u
        cnt = counts_u[codes]
        starts = np.cumsum(cnt) - cnt
        within = np.arange(int(cnt.sum()), dtype=np.int64) - np.repeat(starts, cnt)
        out = pd.DataFrame({
            "row": np.repeat(row, cnt),
            "term": flat_u[np.repeat(offs_u[codes], cnt) + within],
            "pos": np.repeat(pos, cnt).astype(np.int32),
        })
        out.attrs["doc_len"] = frame.attrs["doc_len"]  # 1 increment per source
        return out


class NGramAnalyzer(EdgeNGramAnalyzer):
    """Standard → LowerCase → NGram(2, 4) (``LA/ngram/NGramTokenFilter``):
    each token replaced by ALL its 2–4-grams at the token's position —
    the substring-search / noisy-text-matching chain (edge grams only
    cover prefixes). Same vectorized gram expansion as the edge chain,
    different gram function."""

    _grams = staticmethod(_all_ngrams)


def _all_ngrams_strict(t: str) -> list[str]:
    """``_all_ngrams`` at the upstream DEFAULT ``preserveOriginal=false``:
    sub-minGram tokens emit nothing."""
    return [] if len(t) < EDGE_MIN else _all_ngrams(t)


class NGramStrictAnalyzer(NGramAnalyzer):
    """NGram(2, 4) at the upstream DEFAULT ``preserveOriginal=false``
    (``LA/ngram/NGramTokenFilter``): a token shorter than minGram emits
    NOTHING — a position hole, like a stop word — and does not count
    toward the norm length (``FieldInvertState.length`` counts emitted
    tokens; a gram-less source token emits none). The sibling
    ``NGramAnalyzer`` deliberately models preserveOriginal=true; this
    chain closes that documented deviation from the upstream default."""

    _grams = staticmethod(_all_ngrams_strict)

    def postprocess_frame(self, frame: pd.DataFrame) -> pd.DataFrame:
        if not len(frame):
            return frame
        n_rows = len(frame.attrs["doc_len"])
        src_rows = frame["row"].to_numpy()
        src_keep = np.fromiter(
            (len(t) >= EDGE_MIN for t in _term_values(frame)),
            dtype=bool,
            count=len(frame),
        )
        out = super().postprocess_frame(frame)
        out.attrs["doc_len"] = np.bincount(
            src_rows[src_keep], minlength=n_rows
        ).astype(np.int64)
        return out


# --- char-normalizing filters (ASCII folding / English possessive) -----------

# ASCIIFoldingFilter (``LA/miscellaneous/ASCIIFoldingFilter.java``): Latin-1
# Supplement + Latin Extended-A foldings to ASCII. The upstream switch spans
# many more Unicode blocks; this table is the subset that occurs in
# Latin-script corpora (same mechanism — extend the dict for more blocks).
_FOLD_SINGLE = {
    "A": "ÀÁÂÃÄÅĀĂĄ", "C": "ÇĆĈĊČ", "D": "ÐĎĐ", "E": "ÈÉÊËĒĔĖĘĚ",
    "G": "ĜĞĠĢ", "H": "ĤĦ", "I": "ÌÍÎÏĨĪĬĮİ", "J": "Ĵ", "K": "Ķ",
    "L": "ĹĻĽĿŁ", "N": "ÑŃŅŇ", "O": "ÒÓÔÕÖØŌŎŐ", "R": "ŔŖŘ",
    "S": "ŚŜŞŠ", "T": "ŢŤŦ", "U": "ÙÚÛÜŨŪŬŮŰŲ", "W": "Ŵ", "Y": "ÝŶŸ",
    "Z": "ŹŻŽ",
    "a": "àáâãäåāăą", "c": "çćĉċč", "d": "ðďđ", "e": "èéêëēĕėęě",
    "g": "ĝğġģ", "h": "ĥħ", "i": "ìíîïĩīĭįı", "j": "ĵ", "k": "ķ",
    "l": "ĺļľŀł", "n": "ñńņň", "o": "òóôõöøōŏő", "r": "ŕŗř",
    "s": "śŝşš", "t": "ţťŧ", "u": "ùúûüũūŭůűų", "w": "ŵ", "y": "ýÿŷ",
    "z": "źżž",
}
_FOLD_MULTI = {"Æ": "AE", "æ": "ae", "Œ": "OE", "œ": "oe", "ß": "ss",
               "Þ": "TH", "þ": "th", "Ĳ": "IJ", "ĳ": "ij"}
_FOLD_TABLE: dict[int, str] = {
    ord(c): a for a, variants in _FOLD_SINGLE.items() for c in variants
}
_FOLD_TABLE.update((ord(c), r) for c, r in _FOLD_MULTI.items())


class ASCIIFoldingAnalyzer(_BaseAnalyzer):
    """Standard → LowerCase → ASCIIFolding (``LA/miscellaneous/
    ASCIIFoldingFilter.java``), realized as a char-filter-style pre-fold
    (``MappingCharFilter`` shape): folding Latin letters to ASCII *before*
    tokenization is equivalent to folding each token afterwards because every
    mapped character is a letter on both sides of the map (token boundaries
    cannot move) — and unlike the post-hoc form it makes accented words
    single tokens under this engine's ASCII tokenizer ("café" → "cafe", not
    "caf"+"e"), i.e. the folded corpus recovers UAX#29 segmentation for
    Latin text. Folding also re-enables the byte-LUT fast path: the folded
    batch is pure ASCII, so the whole hot path stays regex-free. ASCII input
    short-circuits on a C-level ``str.isascii`` check (zero cost on ASCII
    corpora). DuckDB oracle side uses ``strip_accents`` — identical for
    accented Latin; the ligature folds (Æ/ß/Œ/Þ/Ĳ) exceed it and are
    certified by pytest goldens instead."""

    lowercase = True

    @staticmethod
    def _fold_str(s: str) -> str:
        return s if s.isascii() else s.translate(_FOLD_TABLE)

    def analyze(self, text: str) -> list[tuple[str, int]]:
        return super().analyze(self._fold_str(text))

    def analyze_batch(self, texts) -> pd.DataFrame:
        import pyarrow as pa

        if isinstance(texts, (pa.Array, pa.ChunkedArray)):
            col = (
                texts.combine_chunks()
                if isinstance(texts, pa.ChunkedArray) else texts
            )
            buf = col.buffers()[2]
            data = (
                np.frombuffer(buf, dtype=np.uint8)
                if buf is not None else np.empty(0, dtype=np.uint8)
            )
            if data.size == 0 or int(data.max()) < 128:
                return super().analyze_batch(texts)  # pure ASCII: zero-copy
            texts = col.to_pandas()
        texts = texts.fillna("").astype(str).reset_index(drop=True)
        return super().analyze_batch(texts.map(self._fold_str))


_POSSESSIVE_RE = re.compile(r"['’]s$")


class EnglishPossessiveAnalyzer(_BaseAnalyzer):
    """Standard → EnglishPossessive → LowerCase
    (``LA/en/EnglishPossessiveFilter.java``): a trailing ``'s``/``’s`` is
    stripped from each token. The upstream filter runs before LowerCaseFilter
    and matches ``s`` case-insensitively; stripping after lowercasing is
    therefore equivalent (1:1 token mapping — positions and norm lengths
    untouched). Tokens can never strip to empty: the tokenizer requires a
    leading word character, so the shortest possessive token is ``x's``.
    DuckDB oracle: ``regexp_replace(term, '['’]s$', '')``."""

    lowercase = True

    def postprocess_tokens(self, toks):
        return [(_POSSESSIVE_RE.sub("", t), p) for t, p in toks]

    def postprocess_frame(self, frame: pd.DataFrame) -> pd.DataFrame:
        if not len(frame):
            return frame
        codes, uniq = pd.factorize(_term_values(frame))
        stripped = np.array(
            [_POSSESSIVE_RE.sub("", u) for u in uniq], dtype=object
        )
        frame["term"] = pd.Categorical(stripped[codes])
        return frame


# --- keyword marker: stemmer-exclusion set -----------------------------------

# KeywordMarkerFilter protectees (``LA/miscellaneous/
# SetKeywordMarkerFilter.java``): tokens in the set get KeywordAttribute
# set, which PorterStemFilter honors by passing them through unstemmed.
KEYWORD_MARKER_SET = frozenset({"indexing", "merging", "sharding"})


class KeywordMarkerAnalyzer(LuceneChainAnalyzer):
    """Standard → LowerCase → Stop → SetKeywordMarker → PorterStem
    (``LA/miscellaneous/SetKeywordMarkerFilter.java``): protected tokens
    skip the stemmer. Realized by PRE-SEEDING the stem memo with identity
    entries — every stem site (per-row `_memo_stem`, both batch dictionary
    passes) consults the memo before calling Porter, so one seeding covers
    all three paths with zero per-token overhead."""

    keyword_set = KEYWORD_MARKER_SET

    def __init__(self) -> None:
        super().__init__()
        self._stem_memo.update({w: w for w in self.keyword_set})


# --- alternative tokenizers (Whitespace / Keyword) ---------------------------

# token char = any byte that is not ASCII whitespace (bytes >= 128 occur only
# in non-ASCII batches, which route through the per-row reference path)
_WS_LUT = np.ones(256, dtype=bool)
_WS_LUT[[9, 10, 11, 12, 13, 32]] = False


class WhitespaceAnalyzer(_BaseAnalyzer):
    """WhitespaceTokenizer alone (``LA/core/WhitespaceAnalyzer``): tokens are
    maximal non-whitespace runs — punctuation kept, case preserved, no
    filters — split at 255 chars (the tokenizer's ``maxTokenLen`` default).
    Rides the same byte-LUT fast path with an all-but-whitespace membership
    LUT; the per-row path's ``\\S`` also covers Unicode spaces, matching
    ``Character.isWhitespace``."""

    lowercase = False
    token_re = re.compile(r"\S{1,255}")
    istok_lut = _WS_LUT
    uni_token_re = token_re  # \S is already unicode-correct


class KeywordAnalyzer(_BaseAnalyzer):
    """KeywordTokenizer (``LA/core/KeywordAnalyzer``): the ENTIRE field value
    is one token, verbatim. This is exactly the shape the engine's
    keyword-field posting lists already use (``index/build.keyword_term``'s
    ``\\x01col:value`` terms); registered as a first-class analyzer for
    reference parity. Empty input emits no token."""

    lowercase = False

    def _analyze_base(self, text: str) -> list[tuple[str, int]]:
        return [(text, 0)] if text else []

    def _analyze_batch_base(self, texts) -> pd.DataFrame:
        import pyarrow as pa

        if isinstance(texts, (pa.Array, pa.ChunkedArray)):
            col = (
                texts.combine_chunks()
                if isinstance(texts, pa.ChunkedArray) else texts
            )
            texts = col.to_pandas()
        texts = texts.fillna("").astype(str).reset_index(drop=True)
        keep = (texts.str.len() > 0).to_numpy()
        rows = np.flatnonzero(keep)
        frame = pd.DataFrame({
            "row": rows.astype(np.int64),
            "term": texts.to_numpy(dtype=object)[rows],
            "pos": np.zeros(len(rows), dtype=np.int32),
        })
        frame.attrs["doc_len"] = keep.astype(np.int64)
        return frame


_CJK_RANGES = (
    (0x2E80, 0x2FDF), (0x3040, 0x309F), (0x3400, 0x4DBF),
    (0x4E00, 0x9FFF), (0xF900, 0xFAFF),
)  # mirrors _IDEO_CLS — the classes the tokenizer emits per-character


def _is_cjk_single(t: str) -> bool:
    if len(t) != 1:
        return False
    o = ord(t)
    return any(lo <= o <= hi for lo, hi in _CJK_RANGES)


class CJKBigramAnalyzer(_BaseAnalyzer):
    """Standard → LowerCase → CJKBigram (``LA/cjk/CJKBigramFilter`` with the
    CJKAnalyzer default ``outputUnigrams=false``): runs of adjacent
    single-character CJK tokens (the classes our tokenizer emits
    per-character — Han, Hiragana, radicals, compatibility ideographs)
    combine into OVERLAPPING bigrams, each at its first character's
    position; an isolated CJK character (no adjacent CJK neighbor) stays a
    unigram; non-CJK tokens pass through untouched. 東京大学 → 東京, 京大,
    大学.

    Each bigram advances the position by one (posIncrement 1), so the norm
    length is the EMITTED token count — ``doc_len`` is recomputed, unlike
    the overlap-discounting Shingle chain."""

    lowercase = True

    def postprocess_tokens(self, toks):
        out: list[tuple[str, int]] = []
        i, n = 0, len(toks)
        while i < n:
            t, p = toks[i]
            if _is_cjk_single(t):
                j = i
                while (
                    j + 1 < n
                    and _is_cjk_single(toks[j + 1][0])
                    and toks[j + 1][1] == toks[j][1] + 1
                ):
                    j += 1
                if j == i:
                    out.append((t, p))
                else:
                    for m in range(i, j):
                        out.append(
                            (toks[m][0] + toks[m + 1][0], toks[m][1])
                        )
                i = j + 1
            else:
                out.append((t, p))
                i += 1
        return out

    def postprocess_frame(self, frame: pd.DataFrame) -> pd.DataFrame:
        if not len(frame):
            return frame
        row = frame["row"].to_numpy()
        pos = frame["pos"].to_numpy()
        vals = _term_values(frame)
        codes, uniq = pd.factorize(vals)
        cjk_u = np.array([_is_cjk_single(u) for u in uniq], dtype=bool)
        c = cjk_u[codes]
        if not c.any():
            return frame
        # adjacency between consecutive frame rows (analyzer emits
        # (row, pos)-sorted): both CJK, same doc, consecutive positions
        adj = np.flatnonzero(
            (row[1:] == row[:-1]) & (pos[1:] == pos[:-1] + 1)
            & c[1:] & c[:-1]
        )
        has_nbr = np.zeros(len(vals), dtype=bool)
        has_nbr[adj] = True
        has_nbr[adj + 1] = True
        keep = ~c | (c & ~has_nbr)  # non-CJK + isolated CJK unigrams
        big = np.array(
            [vals[i] + vals[i + 1] for i in adj], dtype=object
        ) if adj.size else np.empty(0, dtype=object)
        out = pd.DataFrame({
            "row": np.concatenate([row[keep], row[adj]]),
            "term": np.concatenate([vals[keep], big]),
            "pos": np.concatenate([pos[keep], pos[adj]]).astype(np.int32),
        }).sort_values(["row", "pos"], kind="mergesort").reset_index(drop=True)
        out.attrs["doc_len"] = np.bincount(
            out["row"].to_numpy(),
            minlength=len(frame.attrs["doc_len"]),
        ).astype(np.int64)
        return out


# --- WordDelimiterGraphFilter (subset) ---------------------------------------

# Intra-token boundary passes (``LA/miscellaneous/WordDelimiterGraphFilter``
# with generateWordParts=1, generateNumberParts=1, splitOnCaseChange=1,
# splitOnNumerics=1, catenate*=0, preserveOriginal=0 — the Solr
# text_en_splitting defaults minus catenation). A \x00 separator is injected
# at every subword boundary, then ASCII-alphanumeric runs are the parts
# (non-alphanumerics are delimiter type, like the upstream char-type table;
# non-ASCII letters are treated as delimiters here — documented deviation,
# the upstream type table spans Unicode).
_WD_BOUNDARY = (
    (re.compile(r"([a-z])([A-Z])"), "\\1\x00\\2"),        # case change
    (re.compile(r"([A-Z])([A-Z][a-z])"), "\\1\x00\\2"),   # upper-run end: ABCDef
    (re.compile(r"([A-Za-z])([0-9])"), "\\1\x00\\2"),     # letter→digit
    (re.compile(r"([0-9])([A-Za-z])"), "\\1\x00\\2"),     # digit→letter
)
_WD_PART_RE = re.compile(r"[A-Za-z0-9]+")


def _wd_parts(tok: str) -> list[str]:
    """Subword parts of one whitespace token, lowered. 'Wi-Fi2' → [wi, fi, 2];
    'PowerShot' → [power, shot]; '++' → [] (all-delimiter tokens vanish)."""
    for rx, rep in _WD_BOUNDARY:
        tok = rx.sub(rep, tok)
    return [p.lower() for p in _WD_PART_RE.findall(tok)]


class WordDelimiterGraphAnalyzer(_BaseAnalyzer):
    """Whitespace → WordDelimiterGraph(subset) → LowerCase
    (``LA/miscellaneous/WordDelimiterGraphFilter.java``): each whitespace
    token splits into subword parts on case changes, letter/digit
    transitions, and non-alphanumeric delimiters; parts advance the position
    by 1 each (the graph's posInc discipline for generated parts), so a
    split token occupies consecutive positions and phrase queries match
    across the split ('Merge-Batch' ≡ phrase "merge batch"). A token that
    is ALL delimiters emits nothing but still advances the position by 1
    (the filter's accumulated posIncrement — a hole). Norm length = emitted
    part count (parts are position-advancing tokens, not overlaps).

    The whitespace tokenizer (not Standard) feeds the filter, matching the
    upstream usage note: StandardTokenizer would already have stripped the
    intra-word punctuation WDGF exists to handle."""

    lowercase = False  # case is MEANINGFUL to the splitter; parts lower after
    token_re = re.compile(r"\S{1,255}")
    istok_lut = _WS_LUT
    uni_token_re = token_re

    def postprocess_tokens(self, toks):
        out: list[tuple[str, int]] = []
        cur = 0
        for t, _ in toks:
            parts = _wd_parts(t)
            out.extend((p, cur + i) for i, p in enumerate(parts))
            cur += max(1, len(parts))
        return out

    def postprocess_frame(self, frame: pd.DataFrame) -> pd.DataFrame:
        n_base = len(frame.attrs["doc_len"])
        if not len(frame):
            return frame
        row = frame["row"].to_numpy()
        codes, uniq = pd.factorize(_term_values(frame))
        part_lists = [np.array(_wd_parts(u), dtype=object) for u in uniq]
        counts_u = np.array([len(p) for p in part_lists], dtype=np.int64)
        flat_u = (
            np.concatenate(part_lists) if part_lists else np.empty(0, dtype=object)
        )
        offs_u = np.cumsum(counts_u) - counts_u
        cnt = counts_u[codes]                      # parts per source token
        inc = np.maximum(cnt, 1)                   # position increments
        # exclusive per-row cumulative start position (frame is (row, pos)
        # sorted — the base analyzer emits row-major)
        cum = np.cumsum(inc) - inc
        row_change = np.empty(len(row), dtype=bool)
        row_change[0] = True
        row_change[1:] = row[1:] != row[:-1]
        row_base = np.maximum.accumulate(np.where(row_change, cum, 0))
        start = cum - row_base
        starts_emit = np.cumsum(cnt) - cnt
        within = np.arange(int(cnt.sum()), dtype=np.int64) - np.repeat(
            starts_emit, cnt
        )
        out = pd.DataFrame({
            "row": np.repeat(row, cnt),
            "term": flat_u[np.repeat(offs_u[codes], cnt) + within],
            "pos": (np.repeat(start, cnt) + within).astype(np.int32),
        })
        out.attrs["doc_len"] = np.bincount(
            out["row"].to_numpy(), minlength=n_base
        ).astype(np.int64)
        return out


# --- KeywordRepeat → EnglishMinimalStem → RemoveDuplicates -------------------


def english_minimal_stem(t: str) -> str:
    """``LA/en/EnglishMinimalStemmer.java`` verbatim rule: strip one
    trailing 's' when length ≥ 3 and the preceding char is not 's'/'u'."""
    if len(t) < 3 or not t.endswith("s") or t[-2] in ("s", "u"):
        return t
    return t[:-1]


class KeywordRepeatAnalyzer(_BaseAnalyzer):
    """Standard → LowerCase → KeywordRepeat → EnglishMinimalStem →
    RemoveDuplicates (``LA/miscellaneous/KeywordRepeatFilter`` +
    ``LA/en/EnglishMinimalStemFilter`` + ``LA/miscellaneous/
    RemoveDuplicatesTokenFilter``): every token is emitted twice — once
    keyword-protected (unstemmed) and once through the stemmer — at the
    SAME position (posInc 0 on the repeat), then exact (term, position)
    duplicates collapse, so tokens the stemmer leaves unchanged emit once.
    Norm length counts source tokens only (discountOverlaps — the repeat is
    an overlap). Query-side, a surface analyzing to two same-position terms
    compiles to a SynonymQuery (QueryBuilder's position-graph rule)."""

    lowercase = True

    def postprocess_tokens(self, toks):
        out: list[tuple[str, int]] = []
        for t, p in toks:
            out.append((t, p))
            s = english_minimal_stem(t)
            if s != t:
                out.append((s, p))
        return out

    def postprocess_frame(self, frame: pd.DataFrame) -> pd.DataFrame:
        if not len(frame):
            return frame
        codes, uniq = pd.factorize(_term_values(frame))
        stemmed_u = np.array(
            [english_minimal_stem(u) for u in uniq], dtype=object
        )
        changed_u = stemmed_u != np.asarray(uniq, dtype=object)
        sel = np.flatnonzero(changed_u[codes])
        if not sel.size:
            return frame
        extra = pd.DataFrame({
            "row": frame["row"].to_numpy()[sel],
            "term": stemmed_u[codes[sel]],
            "pos": frame["pos"].to_numpy()[sel],
        })
        base = frame[["row", "term", "pos"]].copy()
        base["term"] = np.asarray(_term_values(frame), dtype=object)
        out = pd.concat([base, extra], ignore_index=True).sort_values(
            ["row", "pos"], kind="mergesort"
        ).reset_index(drop=True)
        out.attrs["doc_len"] = frame.attrs["doc_len"]  # discountOverlaps
        return out


# --- PatternReplaceFilter ----------------------------------------------------

# Solr PatternReplaceFilterFactory config modeled: pattern="[0-9]+",
# replacement="" (the classic digit-scrub example from the ref guide).
PATTERN_REPLACE_RE = re.compile(r"[0-9]+")
PATTERN_REPLACE_SQL = "[0-9]+"  # identical RE2 source for the DuckDB oracle


class PatternReplaceAnalyzer(_BaseAnalyzer):
    """Standard → LowerCase → PatternReplace(pattern='[0-9]+', replacement='')
    (``LA/pattern/PatternReplaceFilter.java`` via Solr's
    ``PatternReplaceFilterFactory``): every digit run is removed from each
    token's text. Faithful upstream detail: PatternReplaceFilter REWRITES
    the term and is NOT a FilteringTokenFilter — a token whose text
    replaces to EMPTY is still emitted (as the empty term), positions never
    hole and the norm length is unchanged (1:1 token mapping). DuckDB
    oracle: ``regexp_replace(term, '[0-9]+', '', 'g')``."""

    lowercase = True

    def postprocess_tokens(self, toks):
        return [(PATTERN_REPLACE_RE.sub("", t), p) for t, p in toks]

    def postprocess_frame(self, frame: pd.DataFrame) -> pd.DataFrame:
        if not len(frame):
            return frame
        codes, uniq = pd.factorize(_term_values(frame))
        repl = np.array(
            [PATTERN_REPLACE_RE.sub("", u) for u in uniq], dtype=object
        )
        frame["term"] = pd.Categorical(repl[codes])
        return frame


# --- UAX29URLEmailTokenizer (subset) -----------------------------------------

# ``LA/standard/UAX29URLEmailTokenizer`` recognizes full RFC-3986 URLs and
# RFC-5321 addresses as single <URL>/<EMAIL> tokens; this models the common
# subset (http/https URLs over the unreserved+sub-delim charset, dot-domain
# addresses) with ONE regex alternation shared verbatim by the engine (re +
# Arrow RE2 batch count) and the DuckDB oracle. Every character class is
# case-symmetric, so tokenize-then-lower ≡ lower-then-tokenize (the batch
# path pre-lowers; the per-row reference path lowers per token) and both
# orders segment identically. '\n' is in no class, so the joined-batch fast
# path stays row-aligned.
_URL_PART = r"[Hh][Tt][Tt][Pp][Ss]?://[0-9A-Za-z._/:?=&#%+-]{1,200}"
_EMAIL_PART = (
    r"[0-9A-Za-z_][0-9A-Za-z._+-]{0,63}@[0-9A-Za-z-]{1,63}"
    r"(?:\.[0-9A-Za-z-]{1,63}){1,8}"
)
URLEMAIL_PATTERN = f"{_URL_PART}|{_EMAIL_PART}|{_TOKEN_RE.pattern}"
# URL|EMAIL prefix for the oracle's regexp_extract_all (quote-free — the
# word branch is appended from the SQL-escaped TOKEN_RE_SQL in oracles.py)
URLEMAIL_SQL_PREFIX = f"{_URL_PART}|{_EMAIL_PART}"
_URLEMAIL_RE = re.compile(URLEMAIL_PATTERN)
_URLEMAIL_UNI_RE = re.compile(
    f"{_URL_PART}|{_EMAIL_PART}|{_UNI_TOKEN_RE.pattern}"
)


class URLEmailAnalyzer(_BaseAnalyzer):
    """UAX29URLEmailTokenizer (subset) → LowerCase
    (``LA/standard/UAX29URLEmailTokenizer.java`` — the tokenizer Solr's
    ``text_en_splitting``-style chains use for web/chat text): an
    http(s) URL or an email address is ONE token; everything else follows
    the standard word rule. Leftmost-first alternation (URL, then EMAIL,
    then WORD) — identical preference order in Python ``re``, Arrow RE2
    and DuckDB RE2, so all three paths segment identically. The byte-LUT
    fast path is disabled (URL/email tokens span non-word bytes — a
    char-class LUT cannot express the alternation); batches ride the
    joined-regex path instead."""

    lowercase = True
    token_re = _URLEMAIL_RE
    uni_token_re = _URLEMAIL_UNI_RE

    def _analyze_batch_arrow(self, texts, n_rows, col=None):
        return None  # LUT path can't express the alternation — regex path


# --- MinHashFilter (LSH fingerprint) -----------------------------------------

MINHASH_BUCKETS = 16     # upstream default bucketCount=512; 16 keeps the
                         # driver corpus' buckets non-degenerate (documented)
MINHASH_SHINGLE = 5      # the ShingleFilter(5,5) front upstream pairs it with


def _minhash_hash(shingle: str) -> int:
    """60-bit positive hash: first 15 md5 hex chars (upstream uses 128-bit
    murmur3; md5 is the deterministic stand-in BOTH engines can compute —
    DuckDB: ``('0x' || substr(md5(s), 1, 15))::BIGINT``)."""
    import hashlib

    return int(hashlib.md5(shingle.encode("utf-8")).hexdigest()[:15], 16)


def _minhash_sig(terms: list[str]) -> list[tuple[str, int]]:
    """Signature tokens for one ordered term stream: 5-shingle, hash, keep
    the MIN hash per (h % B) bucket, then fill empty buckets by ROTATION
    (withRotation=true: bucket b takes the nearest filled bucket scanning
    upward circularly — every doc with ≥1 shingle emits exactly B tokens).
    Token text ``mh:<bucket>:<minhash>`` at position <bucket>."""
    K, B = MINHASH_SHINGLE, MINHASH_BUCKETS
    if len(terms) < K:
        return []
    filled: dict[int, int] = {}
    for i in range(len(terms) - K + 1):
        h = _minhash_hash(" ".join(terms[i:i + K]))
        b = h % B
        if b not in filled or h < filled[b]:
            filled[b] = h
    out = []
    for b in range(B):
        d = min((bf - b) % B for bf in filled)
        v = filled[(b + d) % B]
        out.append((f"mh:{b}:{v}", b))
    return out


class MinHashAnalyzer(_BaseAnalyzer):
    """Standard → LowerCase → Shingle(5,5) → MinHash(hashCount=1,
    bucketCount=B, hashSetSize=1, withRotation) — ``LA/minhash/
    MinHashFilter.java``, the LSH-fingerprint chain Solr ships for
    index-time near-duplicate / similarity search: a document indexes as
    its B-bucket min-hash signature, and an OR query over a probe text's
    signature ranks by shared buckets ≈ Jaccard resemblance. Deviations
    (documented): md5-60bit in place of murmur3-128, decimal token text,
    norm length = emitted signature size (B per doc with ≥1 shingle) —
    both engines and the oracle share every choice, so scores stay
    bitwise. Docs shorter than the shingle width emit nothing."""

    lowercase = True

    def postprocess_tokens(self, toks):
        return _minhash_sig([t for t, _ in toks])

    def postprocess_frame(self, frame: pd.DataFrame) -> pd.DataFrame:
        K, B = MINHASH_SHINGLE, MINHASH_BUCKETS
        n_docs = len(frame.attrs["doc_len"])
        if not len(frame):
            frame.attrs["doc_len"] = np.zeros(n_docs, dtype=np.int64)
            return frame
        f = frame.sort_values(["row", "pos"], kind="mergesort")
        rows = f["row"].to_numpy(dtype=np.int64)
        terms = np.asarray(_term_values(f), dtype=object)
        n = len(rows)
        if n < K:
            out = frame.iloc[0:0].copy()
            out.attrs["doc_len"] = np.zeros(n_docs, dtype=np.int64)
            return out
        # contiguous positions within a row ⇒ a window of K consecutive
        # stream slots is a shingle iff its ends share the row
        ok = rows[: n - K + 1] == rows[K - 1:]
        sh = terms[: n - K + 1].copy()
        for j in range(1, K):
            sh = sh + " "
            sh = sh + terms[j: n - K + 1 + j]
        sh_rows = rows[: n - K + 1][ok]
        codes, uniq = pd.factorize(sh[ok])
        hashes = np.array([_minhash_hash(u) for u in uniq], dtype=np.int64)
        h = hashes[codes]
        b = h % B
        ru, rinv = np.unique(sh_rows, return_inverse=True)
        mat = np.full((len(ru), B), np.iinfo(np.int64).max, dtype=np.int64)
        np.minimum.at(mat, (rinv, b), h)
        empty = mat == np.iinfo(np.int64).max
        fill = mat.copy()
        for col in range(B):  # rotation: nearest filled bucket, upward mod B
            need = empty[:, col]
            for d in range(1, B):
                if not need.any():
                    break
                src = (col + d) % B
                take = need & ~empty[:, src]
                fill[take, col] = mat[take, src]
                need = need & ~take
        out_rows = np.repeat(ru, B)
        out_pos = np.tile(np.arange(B, dtype=np.int32), len(ru))
        vals = fill.reshape(-1)
        out_terms = np.array(
            [f"mh:{p}:{v}" for p, v in zip(out_pos, vals)], dtype=object
        )
        out = pd.DataFrame({"row": out_rows, "term": out_terms, "pos": out_pos})
        dl = np.zeros(n_docs, dtype=np.int64)
        dl[ru] = B
        out.attrs["doc_len"] = dl
        return out


def analyze_frame(texts: pd.Series, analyzer: _BaseAnalyzer | None = None) -> pd.DataFrame:
    """Module-level convenience for kernels."""
    return (analyzer or LuceneChainAnalyzer()).analyze_batch(texts)
