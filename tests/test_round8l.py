"""Round-8 batch 18 depth tests: pandas/python references for
sequential-pattern support, the dispersion index, and the
negative-sampling table — plus the table's two structural contracts
(slots partition 2^16 exactly; allocation tracks the 3/4-power law)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import numpy as np
import pandas as pd

SF_DIR = "/root/testdata/sf0.01"


def test_sequential_support_matches_pandas(spark):
    from ucl_data_pipeline_spark.plans.temporal import (
        _SEQ_TOPN,
        sequential_pattern_support,
    )

    ev = pd.read_parquet(f"{SF_DIR}/events.parquet").sort_values(
        ["user_id", "ts", "event_id"]
    )
    pat_users = defaultdict(set)
    for uid, sub in ev.groupby("user_id"):
        types = sub.event_type.tolist()
        for a, b in zip(types, types[1:]):
            pat_users[(a, b)].add(uid)
    singles = ev.groupby("event_type").user_id.nunique().to_dict()
    n = ev.user_id.nunique()

    scored = {
        (a, b): (
            len(us),
            round(len(us) / n, 6),
            round(len(us) * n / (singles[a] * singles[b]), 6),
        )
        for (a, b), us in pat_users.items()
    }
    expect = sorted(scored.items(), key=lambda kv: (-kv[1][0], kv[0]))[
        :_SEQ_TOPN
    ]

    rows = sequential_pattern_support(spark, SF_DIR).collect()
    assert len(rows) == min(_SEQ_TOPN, len(scored))
    got = sorted(
        [(r.a, r.b, r.n_users_pattern, r.support_frac, r.lift) for r in rows],
        key=lambda t: (-t[2], (t[0], t[1])),
    )
    for (g, ((a, b), (nu, sf, lift))) in zip(got, expect):
        assert g[0] == a and g[1] == b, (g, a, b)
        assert g[2] == nu
        assert abs(g[3] - sf) < 2e-6
        assert abs(g[4] - lift) < 2e-6


def test_dispersion_matches_pandas(spark):
    from ucl_data_pipeline_spark.plans.temporal import event_dispersion_index

    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    ev["h"] = ev.ts.dt.floor("h")
    rows = {r.event_type: r for r in event_dispersion_index(spark, SF_DIR).collect()}
    for et, sub in ev.groupby("event_type"):
        c = sub.groupby("h").size().to_numpy()
        mean = c.sum() / len(c)
        var = (np.square(c).sum() - c.sum() ** 2 / len(c)) / (len(c) - 1)
        r = rows[et]
        assert r.n_hours == len(c)
        assert abs(r.mean_per_hour - round(mean, 6)) < 2e-6
        assert abs(r.var_per_hour - round(var, 6)) < 2e-6
        assert abs(r.dispersion - round(var / mean, 6)) < 2e-6
        assert r.overdispersed == (1 if var / mean > 1.5 else 0)


def test_neg_sampling_table_partitions_exactly(spark):
    from ucl_data_pipeline_spark.plans.text import (
        _NEG_SLOTS,
        unigram_neg_sampling_table,
    )

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    cnt = Counter(w for t in docs.text for w in t.strip().lower().split())

    rows = sorted(
        unigram_neg_sampling_table(spark, SF_DIR).collect(),
        key=lambda r: r.token,
    )
    assert len(rows) == len(cnt)
    # exact integer partition of the slot space
    assert sum(r.n_slots for r in rows) == _NEG_SLOTS
    lo = 0
    for r in rows:
        assert r.slot_lo == lo
        assert r.slot_hi == lo + r.n_slots
        lo = r.slot_hi
    assert lo == _NEG_SLOTS

    # Hamilton replay on the same rounded weights
    w = {t: round(c**0.75, 6) for t, c in cnt.items()}
    W = sum(w.values())
    shares = {t: _NEG_SLOTS * wv / W for t, wv in w.items()}
    fl = {t: math.floor(v) for t, v in shares.items()}
    top = _NEG_SLOTS - sum(fl.values())
    order = sorted(shares, key=lambda t: (-(shares[t] - fl[t]), t))
    alloc = {t: fl[t] + (1 if i < top else 0) for i, t in enumerate(order)}
    for r in rows:
        assert r.n_occurrences == cnt[r.token]
        assert abs(r.weight - w[r.token]) < 2e-6
        assert r.n_slots == alloc[r.token], (r.token, r.n_slots, alloc[r.token])

    # 3/4-power smoothing: slots grow with count but SUB-linearly —
    # slot share per occurrence falls as counts rise
    by_count = sorted(rows, key=lambda r: r.n_occurrences)
    low, high = by_count[0], by_count[-1]
    if high.n_occurrences > low.n_occurrences:
        assert high.n_slots > low.n_slots
        assert (high.n_slots / high.n_occurrences) < (
            low.n_slots / low.n_occurrences
        )
