"""Tests of the benchmark's generators, models and checkers (no Spark).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import os
import re
import sys
import time
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE.parents[1]))

import models  # noqa: E402
from cpu import PARTS, CpuMeter  # noqa: E402
from run import mix_throughput, tail  # noqa: E402
from tracing import StageProbe, _union_within  # noqa: E402


def test_history_is_deterministic_per_seed():
    a, b = models.make_history(7, 50), models.make_history(7, 50)
    c = models.make_history(8, 50)
    for f in ("oid", "start", "end", "val"):
        assert np.array_equal(getattr(a, f), getattr(b, f))
    assert not np.array_equal(a.start, c.start)


def test_corpus_is_deterministic_per_seed():
    a, b = models.make_corpus(3, 100), models.make_corpus(3, 100)
    assert a.text == b.text and a.expected == b.expected
    assert models.make_corpus(4, 100).text != a.text


def test_object_log_streams_are_deterministic_per_seed():
    def stream(seed):
        log = models.ObjectLog(seed)
        log.initial(1000)
        out = [log.bulk_batch(100)["oids"]]
        out += [log.trickle(5)["oids"] for _ in range(5)]
        rng = np.random.default_rng(seed)
        return out, models.cdc_deck(rng), log.rows_total

    (a, da, na), (b, db, nb) = stream(1), stream(1)
    assert all(np.array_equal(x, y) for x, y in zip(a, b))
    assert da == db and na == nb
    assert not all(np.array_equal(x, y) for x, y in zip(a, stream(2)[0]))


def test_bulk_batch_mix_and_counts():
    log = models.ObjectLog(0)
    log.initial(1000)
    b = log.bulk_batch(500)
    assert (b["new"], b["changed"], b["dup"]) == (200, 250, 50)
    assert len(set(b["oids"].tolist())) == 500
    # new oids open at version 0, changed ones moved to version 1,
    # resubmissions stay at version 0 (no-ops for the content hash)
    assert (b["vers"][:200] == 0).all() and (b["vers"][200:450] == 1).all()
    assert (b["vers"][450:] == 0).all()
    assert log.rows_open == 1200 and log.rows_total == 1450


def test_cdc_deck_composition_is_fixed():
    rng = np.random.default_rng(5)
    for _ in range(10):
        d = models.cdc_deck(rng)
        assert d.count("commit") == 2 and d[-1] == "compact"
        assert d.count("lookup_oids") == d.count("lookup_mql") == 4
        assert d[0] == "commit" and d[5] == "commit"


def test_lookup_checker_flags_corrupted_results():
    log = models.ObjectLog(0)
    log.initial(10)
    log.trickle(3)
    oid = int(np.flatnonzero(log.ver)[0])
    good = [{"_oid": oid, "ver": 1, "_end": None}]
    assert models.check_lookup(good, oid, log)
    assert not models.check_lookup([{**good[0], "ver": 0}], oid, log)
    assert not models.check_lookup(good * 2, oid, log)
    assert not models.check_lookup([], oid, log)
    assert not models.check_lookup([{**good[0], "_end": 1}], oid, log)
    assert models.check_counts(10, 13, log)
    assert not models.check_counts(10, 12, log)


def test_history_model_matches_brute_force():
    h = models.make_history(2, 40)
    rows = list(zip(h.oid.tolist(), h.start.tolist(), h.end.tolist(),
                    h.val.tolist()))
    d = models.T0 + 60 * models.DAY
    live = [r for r in rows if r[1] < d and (r[2] < 0 or r[2] >= d)]
    assert h.asof_count(d, 50) == sum(r[3] > 50 for r in live)
    days = [d + i * models.DAY for i in range(3)]
    assert h.live_per_day(days) == [
        sum(r[1] <= x and (r[2] < 0 or r[2] > x) for r in rows)
        for x in days]
    chain = 0
    for _, grp in itertools.groupby(rows, key=lambda r: r[0]):
        g = list(grp)
        n = 1
        for prev, cur in zip(g, g[1:]):
            n = n + 1 if prev[2] == cur[1] else 1
        chain += n
    assert h.last_chain_rows() == chain
    # every oid's versions are ordered, non-overlapping, and only the
    # last may be open
    for _, grp in itertools.groupby(rows, key=lambda r: r[0]):
        g = list(grp)
        assert all(r[2] >= 0 and r[2] <= nxt[1] for r, nxt in zip(g, g[1:]))


def test_temporal_expectations_are_exact_python_values():
    # steps compare results with ``==``: expectations must be plain ints
    # (or tuples/lists of them) so a result off by one is always flagged
    h = models.make_history(3, 30)
    for q in models.temporal_queries(h, np.random.default_rng(0)):
        e = q.expected
        flat = list(e) if isinstance(e, (list, tuple)) else [e]
        assert all(type(x) is int for x in flat), q.kind
        bad = ([flat[0] + 1] + flat[1:])
        bad = type(e)(bad) if isinstance(e, (list, tuple)) else bad[0]
        assert bad != e


def _tokens(text):
    return {t for t in re.split(r"[\W_]+", text.lower()) if t}


def test_corpus_planted_structure_matches_brute_force():
    c = models.make_corpus(9, 120)
    e = c.expected
    toks = [_tokens(t) for t in c.text]
    canon = [" ".join(t for t in re.split(r"[\W_]+", x.lower()) if t)
             for x in c.text]
    kept = {}
    for i, fp in enumerate(canon):
        kept.setdefault(fp, i)
    assert len(kept) == e["exact_kept"]
    ids = sorted(kept.values())
    pairs = [(a, b) for a, b in itertools.combinations(ids, 2)
             if len(toks[a] & toks[b]) / len(toks[a] | toks[b]) >= 0.8]
    assert len(pairs) == e["verified_pairs"]
    assert e["keep"] == e["exact_kept"] - e["verified_pairs"]
    words = [len(x.split()) for x in c.text]
    assert sum(w >= 50 for w in words) == e["gopher_pass"]


def test_dedup_checker_flags_corrupted_results():
    e = models.make_corpus(1, 100).expected
    good = {k: e[k] for k in ("gopher_pass", "exact_kept",
                              "verified_pairs", "keep")}
    good.update(quality_min=0.2, quality_max=0.9)
    assert models.check_dedup(good, e)
    for k in ("gopher_pass", "exact_kept", "verified_pairs", "keep"):
        assert not models.check_dedup({**good, k: good[k] - 1}, e)
    assert not models.check_dedup({**good, "quality_max": 1.5}, e)


def test_union_within_clips_and_merges():
    assert _union_within([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert _union_within([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert _union_within([], 0, 1) == 0


def test_stage_probe_counts_unreadable_jobs_and_stages_as_stageless():
    import urllib.error

    class Tracker:
        def getJobIdsForGroup(self, group):
            return [1, 2]

    def get(path):
        if path == "/jobs/1":
            raise urllib.error.HTTPError(path, 404, "gone", None, None)
        if path == "/jobs/2":
            return {"status": "SUCCEEDED", "stageIds": [7, 8]}
        if path.startswith("/stages/7"):
            raise TimeoutError("read timed out")
        return [{"status": "COMPLETE", "stageId": 8}]

    probe = StageProbe.__new__(StageProbe)
    probe.tracker, probe.wait_s, probe._get = Tracker(), 1.0, get
    assert probe.stages_of_group("g") == (2, [{"status": "COMPLETE",
                                               "stageId": 8}])


def test_mix_throughput_ignores_stalls_and_partial_decks():
    mix = {"commit": 1, "lookup": 4}
    lat = {"commit": [2.0, 2.0, 9.0], "lookup": [0.5] * 9}
    # deck time 2 + 4 x 0.5 = 4 s for 5 steps, whatever the stall or the
    # extra lookups cut off by the deadline
    assert mix_throughput(lat, {}, mix, True) == 5 / 4.0
    units = {"commit": 300.0, "lookup": 0.0}
    assert mix_throughput(lat, units, mix, False) == 100 / 4.0


def test_tail_keeps_ten_samples_beyond_it():
    xs = [float(i) for i in range(1, 101)]
    q, t = tail(xs)
    assert q == 0.9 and t == 90.0
    # 20 samples have no percentile above the median with ten beyond it
    assert tail([float(i) for i in range(20)]) is None
    assert tail([float(i) for i in range(21)]) == (1 - 10 / 21, 10.0)


def test_cpu_meter_charges_a_busy_step_to_its_process():
    # the meter reads this process as if it were the JVM: a busy loop
    # shows in its threads and in the driver part, not in the others
    meter = CpuMeter(os.getpid())
    before = meter.read(driver_first=False)
    t_end = time.process_time() + 0.2
    while time.process_time() < t_end:
        pass
    d = CpuMeter.delta(before, meter.read(driver_first=True))
    assert set(d) == set(PARTS)
    assert 0.15 < d["driver"] < 1.0 and 0.15 < d["jvm"] < 1.0
    assert d["jit"] == 0.0 and d["workers"] >= 0.0
