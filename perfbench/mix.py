"""Seeded query mixes and the independent answer checker.

Every query value is drawn from rows of the generated pages, so each
query (except the deliberately infeasible class) has hits. Each round of
a mix holds exactly one query per class in a seeded order, so class
shares are fixed whatever the seed; only the values and the order move.

The reference count is computed here from the raw pages with this
module's own wildcard-to-regex translation. It shares no code with
`clp_spark.search.wildcard`, so a bug there cannot hide a wrong answer.
"""

from __future__ import annotations

import datetime as dt
import random
import re
from dataclasses import dataclass

import numpy as np
import pandas as pd

# query classes of the archive workload, one of each per round
ARCHIVE_CLASSES = (
    "static",
    "int_kv",
    "dict_wildcard",
    "float",
    "broad",
    "infeasible",
    "ts_range",
)
# query classes of the streams workload; each query of a round runs on
# the unstructured IR streams, the KV-IR streams and the clp_s archive.
# None of the three has a dictionary index to probe, so every query scans
# every event: selectivity matters less than on an archive, and the
# classes are fewer so that a whole round fits one run.
STREAM_CLASSES = ("dict_wildcard", "broad", "ts_range")

STATIC_PHRASES = (
    "heartbeat acknowledged",
    "stack overflow",
    "glob match",
    "calib value",
    "caused by: timeout",
    "retry 007",
)


@dataclass(frozen=True)
class Query:
    cls: str
    pattern: str  # substring wildcard: '*' any run, '?' any one char
    ts_range: tuple | None = None  # inclusive (lo, hi) naive UTC datetimes

    def kql(self) -> str:
        """The same query in KQL over the JSON records of the streams
        workload (fields ts_ms, lang, url, message)."""
        parts = [f'message: "*{self.pattern}*"']
        if self.ts_range is not None:
            lo, hi = (_epoch_ms(t) for t in self.ts_range)
            parts.append(f"ts_ms >= {lo} AND ts_ms <= {hi}")
        return " AND ".join(parts)

    def ts_ms(self) -> tuple[int | None, int | None]:
        if self.ts_range is None:
            return None, None
        return tuple(_epoch_ms(t) for t in self.ts_range)


def _epoch_ms(t: dt.datetime) -> int:
    return int((t - dt.datetime(1970, 1, 1)).total_seconds() * 1000)


def wildcard_regex(pattern: str) -> re.Pattern:
    """Substring semantics: the pattern may match anywhere in the text,
    '*' spans any characters including newlines, '?' is one character."""
    out = []
    for c in pattern:
        if c == "*":
            out.append(".*")
        elif c == "?":
            out.append(".")
        else:
            out.append(re.escape(c))
    return re.compile("".join(out), re.S)


def reference_mask(pages: pd.DataFrame, q: Query) -> np.ndarray:
    """Rows of the raw pages (columns text, warc_ts) that `q` must
    return."""
    rx = wildcard_regex(q.pattern)
    mask = np.fromiter((rx.search(t) is not None for t in pages["text"]), bool, len(pages))
    if q.ts_range is not None:
        lo, hi = q.ts_range
        ts = pages["warc_ts"]
        mask &= ((ts >= pd.Timestamp(lo)) & (ts <= pd.Timestamp(hi))).to_numpy()
    return mask


def reference_count(pages: pd.DataFrame, q: Query) -> int:
    return int(reference_mask(pages, q).sum())


def _values(texts: pd.Series, rx: str) -> list[str]:
    found = texts.str.extract(rx, expand=False).dropna()
    return sorted(set(found))


class MixSource:
    """Draws query values present in the given pages."""

    def __init__(self, pages: pd.DataFrame, seed: int):
        self.rng = random.Random(seed)
        self.pages = pages
        t = pages["text"]
        self.kv = {
            k: _values(t, rf"\b({k}=\d+)\b") for k in ("status", "hits", "threshold")
        }
        self.hex = _values(t, r"session (deadbeef[0-9a-f])")
        self.ips = _values(t, r"conn from (10\.0\.\d+\.)")
        self.users = _values(t, r"(user=[a-z]+)")
        self.workers = _values(t, r"(worker=w\d+node)")
        self.floats = _values(t, r"(load \d+\.\d\d)")
        self.ts_lo = pages["warc_ts"].min().to_pydatetime()
        self.ts_hi = pages["warc_ts"].max().to_pydatetime()

    def _pick(self, xs):
        return xs[self.rng.randrange(len(xs))]

    def _window(self, around: dt.datetime) -> tuple:
        """A window of 10-25% of the pages' time span that holds `around`.
        Whole seconds, so the millisecond bounds the stream engines take
        cover exactly the same rows as the datetime bounds."""
        base = self.ts_lo.replace(microsecond=0)
        # [base, base + span] holds every page; so does the window `around`
        span = int((self.ts_hi - base).total_seconds()) + 2
        width = int(self.rng.uniform(0.1, 0.25) * span)
        offset = int((around - base).total_seconds())
        start = max(0, min(offset - self.rng.randrange(1, width - 1), span - width))
        lo = base + dt.timedelta(seconds=start)
        return (lo, lo + dt.timedelta(seconds=width))

    def query(self, cls: str) -> Query:
        if cls == "static":
            return Query(cls, self._pick(STATIC_PHRASES))
        if cls == "int_kv":
            key = self._pick(sorted(k for k, v in self.kv.items() if v))
            return Query(cls, self._pick(self.kv[key]))
        if cls == "dict_wildcard":
            kind = self.rng.randrange(4)
            if kind == 0:
                return Query(cls, self._pick(self.hex) + "*")
            if kind == 1:
                return Query(cls, self._pick(self.ips) + "*")
            if kind == 2:
                return Query(cls, self._pick(self.users))
            return Query(cls, self._pick(self.workers))
        if cls == "float":
            return Query(cls, self._pick(self.floats))
        if cls == "broad":
            return Query(cls, "request handled")
        if cls == "infeasible":
            word = "".join(self.rng.choice("jkqxz") for _ in range(8))
            return Query(cls, f"zz{word}zz")
        if cls == "ts_range":
            base = self.query(self._pick(("static", "int_kv", "broad")))
            hits = self.pages.loc[reference_mask(self.pages, base), "warc_ts"]
            around = hits.iloc[self.rng.randrange(len(hits))].to_pydatetime()
            return Query(cls, base.pattern, ts_range=self._window(around))
        raise ValueError(f"unknown query class {cls!r}")

    def rounds(self, classes: tuple):
        """Endless sequence of rounds; each round is one query of every
        class, in a seeded order."""
        while True:
            order = list(classes)
            self.rng.shuffle(order)
            yield [self.query(c) for c in order]
