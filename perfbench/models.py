"""Seeded input generators and exact expected-result models.

Everything here is plain numpy/Python: the generators decide every input
the engine sees, and the models predict every checked result from the
same seeded state, so a result can be judged without trusting the engine.
The same seed always gives the same inputs and the same expectations.
"""

from __future__ import annotations

import math
import string
from dataclasses import dataclass, field

import numpy as np

T0 = 1_577_836_800  # 2020-01-01T00:00:00Z; every generated time is UTC
DAY = 86_400

# Logical bytes of one generated object: _oid (8) + ver (4) + name (10)
# + category (6) + score (8) + qty (8) + active (1) + tags (3 x 5)
# + price (8). The Spark-side row builder emits fixed-width values, so
# "user bytes" is exact: rows x ROW_USER_BYTES.
ROW_USER_BYTES = 68
# _oid (8) + val (4) + _start (8) + _end (8) of one imported version
HISTORY_ROW_USER_BYTES = 28


def iso_day(epoch_s: int) -> str:
    """``YYYY-MM-DD`` of a UTC epoch second."""
    import datetime as dt

    return dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc).strftime(
        "%Y-%m-%d")


# ---------------------------------------------------------------------------
# versioned-object streams (bulk_ingest, cdc_mixed)


class ObjectLog:
    """Current version number of every object id, as the engine should
    hold it after each commit. ``ver[oid]`` is also a user field of the
    generated row, so a read can be checked against it directly."""

    def __init__(self, seed: int, zipf_s: float = 1.1):
        self.rng = np.random.default_rng(seed)
        self.ver = np.zeros(0, dtype=np.int64)
        self.rows_total = 0  # open + closed versions
        self.zipf_s = zipf_s
        self._hot = None  # seeded popularity order over oids

    @property
    def n_oids(self) -> int:
        return len(self.ver)

    @property
    def rows_open(self) -> int:
        return self.n_oids

    def initial(self, n: int) -> tuple[np.ndarray, np.ndarray]:
        """First load: ``n`` new objects at version 0."""
        self.ver = np.zeros(n, dtype=np.int64)
        self.rows_total = n
        self._hot = None
        return np.arange(n, dtype=np.int64), self.ver.copy()

    def bulk_batch(self, size: int, new_frac: float = 0.4,
                   changed_frac: float = 0.5) -> dict:
        """Snapshot batch: ``new_frac`` new oids, ``changed_frac`` new
        versions of existing oids, the rest byte-identical resubmissions
        of current versions (which the content hash must turn into
        no-ops)."""
        n_new = int(round(size * new_frac))
        n_chg = int(round(size * changed_frac))
        n_dup = size - n_new - n_chg
        if n_chg + n_dup > self.n_oids:
            raise ValueError("batch needs more existing oids than loaded")
        old = self.rng.choice(self.n_oids, n_chg + n_dup, replace=False)
        chg, dup = old[:n_chg], old[n_chg:]
        new = np.arange(self.n_oids, self.n_oids + n_new, dtype=np.int64)
        self.ver = np.concatenate([self.ver, np.zeros(n_new, np.int64)])
        self.ver[chg] += 1
        self.rows_total += n_new + n_chg
        oids = np.concatenate([new, chg, dup]).astype(np.int64)
        return {"oids": oids, "vers": self.ver[oids].copy(),
                "new": n_new, "changed": n_chg, "dup": n_dup}

    def zipf_keys(self, k: int) -> np.ndarray:
        """``k`` distinct oids drawn Zipf(``zipf_s``)-skewed toward a
        seeded set of hot objects."""
        if self._hot is None:
            order = self.rng.permutation(self.n_oids)
            w = 1.0 / np.arange(1, self.n_oids + 1) ** self.zipf_s
            self._hot = (order, w / w.sum())
        order, p = self._hot
        idx = self.rng.choice(self.n_oids, size=k, replace=False, p=p)
        return order[idx].astype(np.int64)

    def trickle(self, k: int) -> dict:
        """Trickle commit: new versions of ``k`` Zipf-drawn objects."""
        oids = self.zipf_keys(k)
        self.ver[oids] += 1
        self.rows_total += k
        return {"oids": oids, "vers": self.ver[oids].copy()}


def check_lookup(rows: list[dict], oid: int, log: ObjectLog) -> bool:
    """A point lookup returns exactly the open version just committed."""
    return (len(rows) == 1 and rows[0]["_oid"] == oid
            and rows[0]["ver"] == int(log.ver[oid])
            and rows[0]["_end"] is None)


def check_counts(rows_open: int, rows_total: int, log: ObjectLog) -> bool:
    return rows_open == log.rows_open and rows_total == log.rows_total


def cdc_deck(rng: np.random.Generator, commits: int = 2,
             lookups: int = 4) -> list[str]:
    """One deck of steps: ``commits`` times a trickle commit followed by
    ``lookups`` point lookups (the first reads back an object the commit
    just wrote), then one compaction. Lookups are half ``find(oids=...)``
    and half ``find(query=...)``, in a seeded order. Every deck has the
    same composition, so runs of whole decks mix steps identically."""
    kinds = []
    for _ in range(commits):
        look = ["oids", "mql"] * (lookups // 2) + ["oids"] * (lookups % 2)
        rng.shuffle(look)
        kinds += ["commit"] + [f"lookup_{k}" for k in look]
    return kinds + ["compact"]


# ---------------------------------------------------------------------------
# deep history (temporal_analytics)


@dataclass
class History:
    """A seeded version log: per object, ``nver`` consecutive versions
    between its birth and the horizon. Each version after the first
    starts where the previous ended, except at planted gaps (the
    previous version closed early), which break the version chain. The
    last version stays open unless the object was closed."""

    oid: np.ndarray
    start: np.ndarray  # epoch seconds
    end: np.ndarray    # epoch seconds; -1 = open
    val: np.ndarray
    horizon: int       # epoch second after every generated time

    @property
    def rows(self) -> int:
        return len(self.oid)

    def _live_end(self, at: int, strict: bool) -> np.ndarray:
        open_ = self.end < 0
        return open_ | ((self.end > at) if strict else (self.end >= at))

    def asof_count(self, day: int, gt: int) -> int:
        """``find(query="val > gt", date=day).count()``: versions with
        ``_start < d`` and ``_end >= d`` (or open)."""
        m = (self.start < day) & self._live_end(day, strict=False)
        return int(np.count_nonzero(m & (self.val > gt)))

    def range_count_sum(self, lo: int, hi: int) -> tuple[int, int]:
        """``find(date="lo~hi", fields=["val"])``: versions overlapping
        the range; returns (row count, sum of val)."""
        m = (self.start < hi) & self._live_end(lo, strict=False)
        return int(np.count_nonzero(m)), int(self.val[m].sum())

    def live_per_day(self, days: list[int]) -> list[int]:
        """``temporal.history`` over a daily spine: versions with
        ``_start <= d`` and ``_end > d`` (or open)."""
        return [int(np.count_nonzero((self.start <= d)
                                     & self._live_end(d, strict=True)))
                for d in days]

    def last_chain_rows(self) -> int:
        """Versions in each object's last unbroken chain, summed."""
        n = 0
        for s, e in self._per_oid():
            gaps = np.nonzero(e[:-1] != s[1:])[0]
            n += len(s) - (int(gaps[-1]) + 1 if len(gaps) else 0)
        return n

    def age_sum(self, rbound: int) -> int:
        """``last_versions_with_age(rbound=...)``: per object, seconds
        from its first start to min(latest end or rbound, rbound),
        floored; summed over objects."""
        tot = 0
        for s, e in self._per_oid():
            last_end = rbound if e[-1] < 0 else min(int(e[-1]), rbound)
            tot += math.floor(last_end - int(s[0]))
        return tot

    def _per_oid(self):
        bounds = np.flatnonzero(np.diff(self.oid)) + 1
        for lo, hi in zip(np.r_[0, bounds], np.r_[bounds, self.rows]):
            yield self.start[lo:hi], self.end[lo:hi]


def make_history(seed: int, n_objects: int, min_versions: int = 10,
                 max_versions: int = 30, days: int = 180,
                 gap_frac: float = 0.05, closed_frac: float = 0.2
                 ) -> History:
    rng = np.random.default_rng(seed)
    horizon = T0 + days * DAY
    oids, starts, ends, vals = [], [], [], []
    for o in range(n_objects):
        nv = int(rng.integers(min_versions, max_versions + 1))
        birth = T0 + int(rng.integers(0, 30 * DAY))
        # distinct version start seconds between birth and the horizon
        cut = np.sort(rng.choice(horizon - birth - DAY, nv, replace=False))
        s = birth + cut
        e = np.empty(nv, dtype=np.int64)
        e[:-1] = s[1:]
        gap = rng.random(nv - 1) < gap_frac
        e[:-1][gap] = s[:-1][gap] + (s[1:][gap] - s[:-1][gap]) // 2
        e[-1] = (s[-1] + int(rng.integers(1, DAY))
                 if rng.random() < closed_frac else -1)
        oids.append(np.full(nv, o, dtype=np.int64))
        starts.append(s)
        ends.append(e)
        vals.append(rng.integers(0, 100, nv))
    return History(np.concatenate(oids), np.concatenate(starts),
                   np.concatenate(ends), np.concatenate(vals).astype(np.int64),
                   horizon)


@dataclass
class TemporalQuery:
    kind: str           # asof | range | history | chain | age
    params: dict
    expected: object


def temporal_queries(hist: History, rng: np.random.Generator,
                     spine_days: int = 30) -> list[TemporalQuery]:
    """One cycle of the read-only loop, each query with its closed-form
    answer: two as-of finds in the last week of each third of the history
    and two week-long range finds (in the last fortnight of each half),
    so every cycle and every seed prunes the same month partitions; a
    daily history over a spine in the middle months; and the two
    version-window operators. Finds are cheap next to the other queries;
    six as-of finds a cycle give their median enough samples."""
    span = (hist.horizon - T0) // DAY
    third, half = span // 3, span // 2
    qs = []
    for i in range(3):
        for _ in range(2):
            day = T0 + ((i + 1) * third - int(rng.integers(1, 8))) * DAY
            gt = int(rng.integers(0, 100))
            qs.append(TemporalQuery("asof", {"day": day, "gt": gt},
                                    hist.asof_count(day, gt)))
        if i < 2:
            lo = T0 + ((i + 1) * half - 7 - int(rng.integers(1, 8))) * DAY
            hi = lo + 7 * DAY
            qs.append(TemporalQuery("range", {"lo": lo, "hi": hi},
                                    hist.range_count_sum(lo, hi)))
    h0 = T0 + int(rng.integers(half - 30, half)) * DAY
    spine = [h0 + i * DAY for i in range(spine_days)]
    rbound = hist.horizon - int(rng.integers(0, 60)) * DAY
    return qs + [
        TemporalQuery("history", {"days": spine},
                      hist.live_per_day(spine)),
        TemporalQuery("chain", {}, hist.last_chain_rows()),
        TemporalQuery("age", {"rbound": rbound}, hist.age_sum(rbound)),
    ]


# ---------------------------------------------------------------------------
# synthetic corpus (corpus_dedup)

STOPWORDS = ("the", "and")


@dataclass
class Corpus:
    doc_id: np.ndarray
    text: list[str]
    expected: dict = field(default_factory=dict)


def make_corpus(seed: int, n_docs: int, words: int = 80,
                short_words: int = 30, vocab: int = 20_000,
                exact_frac: float = 0.2, near_frac: float = 0.2,
                short_frac: float = 0.1, replaced: int = 4) -> Corpus:
    """Documents with planted structure: ``exact_frac`` of them are
    upper-cased copies of another document (same canonical tokens),
    ``near_frac`` are near-duplicate twins sharing all but ``replaced``
    of a base's distinct words (Jaccard (w-r)/(w+r), 0.905 at the
    defaults), and ``short_frac`` are too short for the Gopher word-count
    rule. Every other pair shares almost no words. Bases of copies, of
    twins and short documents are disjoint, so the expected counts
    follow from the role sizes alone."""
    rng = np.random.default_rng(seed)
    lexicon: set[str] = set()
    while len(lexicon) < vocab:
        lens = rng.integers(3, 10, vocab)
        chars = "".join(np.array(list(string.ascii_lowercase))[
            rng.integers(0, 26, int(lens.sum()))])
        ends = np.cumsum(lens)
        for a, b in zip(ends - lens, ends):
            w = chars[a:b]
            if w not in STOPWORDS and len(lexicon) < vocab:
                lexicon.add(w)
    lex = np.array(sorted(lexicon))

    n_copy = int(round(n_docs * exact_frac))
    n_twin = int(round(n_docs * near_frac))
    n_short = int(round(n_docs * short_frac))
    n_base = n_docs - n_copy - n_twin
    if n_copy + n_twin + n_short > n_base:
        raise ValueError("role fractions leave too few base documents")

    def doc(n_words: int, exclude=()) -> list[str]:
        pool = rng.choice(len(lex), n_words + len(exclude) + 8,
                          replace=False)
        picked = [w for w in lex[pool] if w not in exclude][:n_words]
        return picked

    bases = []
    for i in range(n_base):
        short = n_copy + n_twin <= i < n_copy + n_twin + n_short
        bases.append(doc((short_words if short else words) - len(STOPWORDS)))
    texts = []
    for ws in bases:
        toks = list(STOPWORDS) + list(ws)
        rng.shuffle(toks)
        texts.append(" ".join(toks))
    base_texts = list(texts)
    for i in range(n_copy):
        texts.append(base_texts[i].upper())
    for i in range(n_twin):
        b = bases[n_copy + i]
        keep = list(b[replaced:])
        fresh = doc(replaced, exclude=set(b))
        toks = list(STOPWORDS) + keep + fresh
        rng.shuffle(toks)
        texts.append(" ".join(toks))
    order = rng.permutation(n_docs)
    shuffled = [texts[j] for j in order]
    w = words
    expected = {
        "docs": n_docs,
        "gopher_pass": n_docs - n_short,
        "exact_kept": n_docs - n_copy,
        "verified_pairs": n_twin,
        "keep": n_docs - n_copy - n_twin,
        "twin_jaccard": (w - replaced) / (w + replaced),
    }
    return Corpus(np.arange(n_docs, dtype=np.int64), shuffled, expected)


def check_dedup(result: dict, expected: dict) -> bool:
    """Exact planted-structure check of one dedup pass."""
    return (result["gopher_pass"] == expected["gopher_pass"]
            and result["exact_kept"] == expected["exact_kept"]
            and result["verified_pairs"] == expected["verified_pairs"]
            and result["keep"] == expected["keep"]
            and 0.0 <= result["quality_min"] <= result["quality_max"] <= 1.0)
