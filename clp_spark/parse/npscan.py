"""Byte-level vectorized CLP tokenizer: one numpy scan, zero per-token
Python.

The compress tokenizer's kernel (`tokenize_df` runs it over
mapInArrow; `parse_one` is the scalar form of the same rules). The
whole Arrow batch is processed as ONE uint8 array with lookup-table
char classes, run extraction by boolean diff, per-run classification
via cumulative-sum / segmented-reduction class counts, int/float
encoding via segmented polynomial reductions, and logtype assembly via
masked byte deletion — every step a C-level numpy primitive. Output
variable arrays are built as Arrow buffers (offsets + concatenated
token bytes), so there is no per-row or per-token Python anywhere in
the path.

Semantics are EXACTLY those of parse_one / the oracle tokenizer
(fuzz-asserted in tests/test_tokenizer_fuzz.py), which re-express the
reference rules:
  - delimiters / var schemas: clp/ir/parsing.cpp:20-88
  - int encodability:         clp/EncodedVariableInterpreter.cpp:25-62
  - float bit-packing:        clp/EncodedVariableInterpreter.cpp:64-143
  - logtype escaping:         clp/ir/parsing.inc

Why this equals the classifying regex (_VAR_RE): every regex
alternative carries the (?<![TC]) / (?![TC]) boundary lookarounds, so
any match is a MAXIMAL run of token chars, and a run matches iff one
alternative fullmatches it. At run level that reduces to:
  token  ⇔ has_digit | (preceded by '=' & has_letter) | (all_hex & len≥2)
  class  =  INT if int-syntax fullmatch (then int64-range check)
            elif FLOAT if float-syntax fullmatch (then ≤16-digit check)
            else DICT
which this module computes with class counts and byte compares.

Cost model (measured at 100k fixture messages, 7.9 MB): two full-array
LUT gathers (token-char, digit), one full cumsum, one int8 boundary
cumsum, two boolean gathers, and subset-sized segmented reductions —
all linear in BYTES with small constants, independent of message or
token count. Batches containing bytes 0x00-0x03 (the internal row
separator and placeholder sentinels — never present in real text)
fall back to `parse_one` per row.
"""

from __future__ import annotations

import numpy as np

from clp_spark.config import (
    PLACEHOLDER_DICT,
    PLACEHOLDER_ESCAPE,
    PLACEHOLDER_FLOAT,
    PLACEHOLDER_INT,
    VT_DICT,
    VT_FLOAT,
    VT_INT,
)

_INT64_MIN = -(2**63)
_INT64_MAX = 2**63 - 1

# ---- ASCII byte class lookup tables ----
_TOKCHARS = (
    b"+-."
    + bytes(range(ord("0"), ord("9") + 1))
    + bytes(range(ord("A"), ord("Z") + 1))
    + b"\\_"
    + bytes(range(ord("a"), ord("z") + 1))
)
_LUT_TC = np.zeros(256, dtype=bool)
_LUT_TC[list(_TOKCHARS)] = True
_LUT_DIGIT = np.zeros(256, dtype=bool)
_LUT_DIGIT[ord("0") : ord("9") + 1] = True
_LUT_HEX = np.zeros(256, dtype=bool)
_LUT_HEX[ord("0") : ord("9") + 1] = True
_LUT_HEX[ord("a") : ord("f") + 1] = True
_LUT_HEX[ord("A") : ord("F") + 1] = True
_LUT_LETTER = np.zeros(256, dtype=bool)
_LUT_LETTER[ord("A") : ord("Z") + 1] = True
_LUT_LETTER[ord("a") : ord("z") + 1] = True
# bytes needing a '\' escape prefix in logtype statics (ir/parsing.inc)
_LUT_ESC = np.zeros(256, dtype=bool)
for _c in (PLACEHOLDER_ESCAPE, PLACEHOLDER_INT, PLACEHOLDER_DICT, PLACEHOLDER_FLOAT):
    _LUT_ESC[ord(_c)] = True

# row separator + per-class sentinels inserted during assembly; a batch
# whose text contains any of these bytes takes the scalar fallback
_S_INT, _S_DICT, _S_FLOAT = 0x01, 0x02, 0x03
_LUT_SENT = np.arange(256, dtype=np.uint8)
_LUT_SENT[_S_INT] = ord(PLACEHOLDER_INT)
_LUT_SENT[_S_DICT] = ord(PLACEHOLDER_DICT)
_LUT_SENT[_S_FLOAT] = ord(PLACEHOLDER_FLOAT)

_POW10 = np.power(10, np.arange(19), dtype=np.int64)

_ESC_TRANS_STR = {
    ord(PLACEHOLDER_INT): PLACEHOLDER_ESCAPE + PLACEHOLDER_INT,
    ord(PLACEHOLDER_DICT): PLACEHOLDER_ESCAPE + PLACEHOLDER_DICT,
    ord(PLACEHOLDER_FLOAT): PLACEHOLDER_ESCAPE + PLACEHOLDER_FLOAT,
    ord(PLACEHOLDER_ESCAPE): PLACEHOLDER_ESCAPE + PLACEHOLDER_ESCAPE,
}


def _cum0(lens: np.ndarray) -> np.ndarray:
    """[0, cumsum(lens)[:-1]] — segment start offsets."""
    out = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=out[1:])
    return out


def _segment_gather(src: np.ndarray, starts: np.ndarray, lens: np.ndarray):
    """(flat byte values, per-element segment-relative index,
    segment start offsets in the flat array)."""
    total = int(lens.sum())
    seg0 = _cum0(lens)
    within = np.arange(total, dtype=np.int64) - np.repeat(seg0, lens)
    flat = src[np.repeat(starts, lens) + within]
    return flat, within, seg0


def _empty_result(n_rows: int, raw_bytes=None):
    return {
        "lt_offsets": np.zeros(n_rows + 1, dtype=np.int64),
        "lt_values": np.zeros(0, dtype=np.uint8),
        "tok_offsets": np.zeros(n_rows + 1, dtype=np.int64),
        "tok_val_offsets": np.zeros(1, dtype=np.int64),
        "tok_bytes": np.zeros(0, dtype=np.uint8),
        "var_types": np.zeros(0, dtype=np.int32),
        "enc": np.zeros(0, dtype=np.int64),
        "n_toks": np.zeros(n_rows, dtype=np.int64),
        "raw_bytes": (
            raw_bytes
            if raw_bytes is not None
            else np.zeros(n_rows, dtype=np.int64)
        ),
    }


def parse_block_buf(values: np.ndarray, offsets: np.ndarray):
    """Tokenize a batch given Arrow-style string buffers: `values` the
    concatenated UTF-8 bytes of all rows, `offsets` int64[n_rows+1] row
    boundaries. ZERO per-row Python on input or output — the separated
    scan buffer is built with one vectorized scatter (vs the list→join→
    encode path, which allocates n_rows Python strings and copies the
    text three times; measured, that conversion was ~30% of the batch
    wall and pure memory traffic, the resource that does NOT scale with
    cores on a shared bus).

    Returns None when the batch needs the scalar fallback (text contains
    bytes 0x00-0x03), else a dict with:
      lt_offsets: int64[n_rows+1], lt_values: uint8[...] — the logtype
        column as Arrow string buffers
      tok_offsets: int64[n_rows+1] token-count offsets per row
      tok_val_offsets: int64[n_tok+1] byte offsets into tok_bytes
      tok_bytes: uint8[...] concatenated token utf-8 bytes
      var_types: int32[n_tok], enc: int64[n_tok]
      n_toks: int64[n_rows], raw_bytes: int64[n_rows]
    """
    n_rows = len(offsets) - 1
    if n_rows <= 0:
        return _empty_result(0)
    base = int(offsets[0])
    total = int(offsets[-1]) - base
    if base != 0:
        values = values[base:]
        offsets = offsets - base
    raw_bytes = np.diff(offsets).astype(np.int64)
    if total == 0:
        return _empty_result(n_rows, raw_bytes=raw_bytes)
    values = values[:total]
    # guard: text must not contain separator/sentinel bytes (min is a
    # pure reduction — no materialized mask)
    if int(values.min()) < 4:
        return None
    if n_rows == 1:
        b = values
        seps = np.zeros(0, dtype=np.int64)
    else:
        # one scatter builds the 0x00-separated scan buffer: byte j of
        # the flat text lands at j + row(j); the gaps stay 0x00
        b = np.zeros(total + n_rows - 1, dtype=np.uint8)
        rows = np.arange(n_rows, dtype=np.int64)
        b[np.arange(total, dtype=np.int64) + np.repeat(rows, raw_bytes)] = values
        seps = offsets[1:-1].astype(np.int64) + np.arange(
            1, n_rows, dtype=np.int64
        ) - 1
    nb = len(b)
    row_start = np.concatenate(([0], seps + 1))
    row_end = np.append(seps, nb)
    return _scan(b, seps, row_start, row_end, n_rows, raw_bytes)


def parse_block(msgs: list):
    """Tokenize a batch of messages (list[str], no Nones). Same contract
    as parse_block_buf but list-in; `logtypes` comes back as list[str].
    Kept for the scalar-comparison fuzz tests and pandas callers."""
    n_rows = len(msgs)
    if n_rows == 0:
        r = _empty_result(0)
        r["logtypes"] = []
        return r
    big = "\x00".join(msgs)
    bb = big.encode("utf-8")
    b = np.frombuffer(bb, dtype=np.uint8)
    nb = len(b)
    if nb == 0:
        r = _empty_result(n_rows)
        r["logtypes"] = [""] * n_rows
        return r

    # guard: text must not contain the separator or sentinel bytes
    low = b < 4
    nlow = int(low.sum())
    if nlow != n_rows - 1 or (nlow and b[low].any()):
        return None
    seps = np.flatnonzero(low)
    row_start = np.concatenate(([0], seps + 1))
    row_end = np.append(seps, nb)
    raw_bytes = (row_end - row_start).astype(np.int64)
    r = _scan(b, seps, row_start, row_end, n_rows, raw_bytes)
    if r is not None:
        lo, lv = r["lt_offsets"], r["lt_values"]
        s = lv.tobytes().decode("utf-8")
        # byte offsets are valid str indexes only for ASCII; logtypes
        # with multibyte statics take the per-row decode
        if len(s) == len(lv):
            r["logtypes"] = [s[lo[i]: lo[i + 1]] for i in range(n_rows)]
        else:
            bts = lv.tobytes()
            r["logtypes"] = [
                bts[lo[i]: lo[i + 1]].decode("utf-8") for i in range(n_rows)
            ]
    return r


def _scan(b, seps, row_start, row_end, n_rows, raw_bytes):
    nb = len(b)
    tc = _LUT_TC[b]
    # ---- maximal token-char runs (one interleaved boundary scan) ----
    pad = np.zeros(nb + 2, dtype=np.int8)
    pad[1:-1] = tc
    idx = np.flatnonzero(np.diff(pad))
    starts = idx[0::2]
    ends = idx[1::2]
    lens = ends - starts

    # ---- digit counts per run (the only full-array class cumsum) ----
    # (A/B'd against flatnonzero(digits)+searchsorted: the position
    # array at real-log digit density is large enough that the cumsum
    # wins both single-core and 8-core-contended)
    c = np.zeros(nb + 1, dtype=np.int32)
    np.cumsum(_LUT_DIGIT[b], out=c[1:])
    digits = (c[ends] - c[starts]).astype(np.int64)
    has_digit = digits > 0

    # ---- no-digit runs: '='-prefixed letter runs and all-hex runs ----
    prev_eq = np.zeros(len(starts), dtype=bool)
    m = starts > 0
    prev_eq[m] = b[starts[m] - 1] == ord("=")
    is_token = has_digit.copy()
    nd = ~has_digit
    cand = nd & (prev_eq | (lens >= 2))
    if cand.any():
        cl = lens[cand]
        flat, _within, seg0 = _segment_gather(b, starts[cand], cl)
        letters = np.add.reduceat(_LUT_LETTER[flat].astype(np.int32), seg0)
        hexc = np.add.reduceat(_LUT_HEX[flat].astype(np.int32), seg0)
        tok_c = (prev_eq[cand] & (letters > 0)) | (
            (cl >= 2) & (hexc == cl)
        )
        is_token[np.flatnonzero(cand)[tok_c]] = True

    tstart = starts[is_token]
    tend = ends[is_token]
    tlen = lens[is_token]
    tdig = digits[is_token]
    n_tok = len(tstart)

    # ---- per-row token offsets ----
    row_of_tok = np.searchsorted(seps, tstart, side="left")
    n_toks = np.bincount(row_of_tok, minlength=n_rows).astype(np.int64)
    tok_offsets = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(n_toks, out=tok_offsets[1:])

    # ---- interior/covered masks (one int8 boundary cumsum) ----
    # token starts/ends are strictly separated by ≥1 non-token byte, so
    # plain fancy-index scatter is exact (no duplicate indices beyond
    # the len-1 token case, where +1 then -1 on the same slot nets 0)
    mark = np.zeros(nb + 1, dtype=np.int8)
    mark[tstart + 1] += 1
    mark[tend] -= 1
    interior = np.cumsum(mark[:-1]) > 0
    covered = interior.copy()
    covered[tstart] = True
    tok_bytes = b[covered]
    tok_val_offsets = np.zeros(n_tok + 1, dtype=np.int64)
    np.cumsum(tlen, out=tok_val_offsets[1:])
    vo_b = tok_val_offsets[:-1]

    # ---- classification in compact token space ----
    vt = np.full(n_tok, VT_DICT, dtype=np.int32)
    ev = np.zeros(n_tok, dtype=np.int64)
    sent = np.full(n_tok, _S_DICT, dtype=np.uint8)
    if n_tok:
        dotm = tok_bytes == ord(".")
        minm = tok_bytes == ord("-")
        tdot = np.add.reduceat(dotm.astype(np.int32), vo_b).astype(np.int64)
        tmin = np.add.reduceat(minm.astype(np.int32), vo_b).astype(np.int64)
        neg = tok_bytes[vo_b] == ord("-")
        negl = neg.astype(np.int64)
        body_len = tlen - negl
        first_body = tok_bytes[vo_b + negl]
        last = tok_bytes[tok_val_offsets[1:] - 1]
        # int grammar 0|-?[1-9][0-9]* (ir/parsing.cpp:74-78)
        int_syntax = (
            (tdig == body_len)
            & (tmin == negl)
            & (tdot == 0)
            & ((first_body != ord("0")) | ((body_len == 1) & ~neg))
        )
        # float grammar -?[0-9]*\.[0-9]+ (ir/parsing.cpp:79-85)
        float_syntax = (
            ~int_syntax
            & (tdot == 1)
            & (tmin == negl)
            & (tdig == body_len - 1)
            & (last != ord("."))
        )

        # ints ≤18 digits: segmented decimal polynomial (exact in int64)
        int_ok = int_syntax & (body_len <= 18)
        if int_ok.any():
            sel = np.flatnonzero(int_ok)
            flat, within, seg0 = _segment_gather(
                tok_bytes, vo_b[sel] + negl[sel], body_len[sel]
            )
            exps = np.repeat(body_len[sel], body_len[sel]) - 1 - within
            vals = np.add.reduceat(
                (flat.astype(np.int64) - 48) * _POW10[exps], seg0
            )
            vals = np.where(neg[sel], -vals, vals)
            vt[sel] = VT_INT
            ev[sel] = vals
            sent[sel] = _S_INT
        # 19-digit ints: exact int64-range boundary, checked scalar (rare)
        for j in np.flatnonzero(int_syntax & (body_len == 19)):
            v = int(
                tok_bytes[vo_b[j] : tok_val_offsets[j + 1]].tobytes().decode()
            )
            if _INT64_MIN <= v <= _INT64_MAX:
                vt[j] = VT_INT
                ev[j] = v
                sent[j] = _S_INT
        # ≥20 digits is always outside int64 → dictionary var

        # floats ≤16 digits: 54-bit pack
        float_ok = float_syntax & (body_len - 1 <= 16)
        if float_ok.any():
            sel = np.flatnonzero(float_ok)
            fl = body_len[sel]
            ndig = fl - 1
            flat, within, seg0 = _segment_gather(
                tok_bytes, vo_b[sel] + negl[sel], fl
            )
            dmask = flat != ord(".")
            dwithin = within[~dmask]  # dot's body-relative position
            cm = np.cumsum(dmask)
            before = cm[seg0] - dmask[seg0]
            rank = cm - 1 - np.repeat(before, fl)
            exps = np.repeat(ndig, fl) - 1 - rank
            terms = (flat.astype(np.int64) - 48) * _POW10[
                np.clip(exps, 0, 18)
            ]
            terms[~dmask] = 0
            dgv = np.add.reduceat(terms, seg0).astype(np.uint64)
            dec_pos = fl - 1 - dwithin
            e = np.where(neg[sel], np.uint64(1 << 55), np.uint64(0))
            e = e | (dgv & np.uint64((1 << 54) - 1))
            e = (e << np.uint64(4)) | (
                (ndig - 1).astype(np.uint64) & np.uint64(0x0F)
            )
            e = (e << np.uint64(4)) | (
                (dec_pos - 1).astype(np.uint64) & np.uint64(0x0F)
            )
            vt[sel] = VT_FLOAT
            ev[sel] = e.view(np.int64)
            sent[sel] = _S_FLOAT

    # ---- logtype: drop token interiors, sentinel at each token start ----
    lt_src = b.copy()
    lt_src[tstart] = sent
    lt_bytes = lt_src[~interior]
    escp = np.flatnonzero(_LUT_ESC[lt_bytes])
    if escp.size:
        # '\' prefix before each escapable static byte — equivalent to
        # parse_one's per-message translate (identity elsewhere)
        lt_bytes = np.insert(lt_bytes, escp, ord("\\"))
    lt_bytes = _LUT_SENT[lt_bytes]
    # logtype column as Arrow string buffers (no Python strings): the
    # 0x00 separators mark row boundaries (remap keeps 0 → 0; the guard
    # excluded <4 bytes from the text itself)
    if n_rows == 1:
        lt_values = lt_bytes
        lt_offsets = np.array([0, len(lt_bytes)], dtype=np.int64)
    else:
        sep_idx = np.flatnonzero(lt_bytes == 0)
        lt_row_lens = (
            np.diff(np.concatenate(([-1], sep_idx, [len(lt_bytes)]))) - 1
        )
        lt_offsets = np.zeros(n_rows + 1, dtype=np.int64)
        np.cumsum(lt_row_lens, out=lt_offsets[1:])
        lt_values = lt_bytes[lt_bytes != 0]

    return {
        "lt_offsets": lt_offsets,
        "lt_values": lt_values,
        "tok_offsets": tok_offsets,
        "tok_val_offsets": tok_val_offsets,
        "tok_bytes": tok_bytes,
        "var_types": vt,
        "enc": ev,
        "n_toks": n_toks,
        "raw_bytes": raw_bytes,
    }


def parse_block_rows(msgs: list):
    """Row-tuple view of parse_block for tests / fallbacks: list of
    (logtype, var_strs, var_types, enc_prelim) exactly like parse_one.
    Falls back to parse_one per row when parse_block declines."""
    from clp_spark.parse.tokenizer import parse_one

    msgs = [m if m is not None else "" for m in msgs]
    r = parse_block(msgs)
    if r is None:
        return [parse_one(m) for m in msgs]
    to = r["tok_offsets"]
    vo = r["tok_val_offsets"]
    tb = r["tok_bytes"].tobytes()
    vt = r["var_types"].tolist()
    ev = r["enc"].tolist()
    toks = [tb[vo[i] : vo[i + 1]].decode("utf-8") for i in range(len(vo) - 1)]
    out = []
    for i in range(len(msgs)):
        lo, hi = int(to[i]), int(to[i + 1])
        out.append((r["logtypes"][i], toks[lo:hi], vt[lo:hi], ev[lo:hi]))
    return out
