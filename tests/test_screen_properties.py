"""Property pins for the round-5 drift/shape screens.

Each test feeds a seeded random multi-source series through the engine
and recomputes the statistic INDEPENDENTLY in pure Python using the
same exact-integer-then-one-division discipline the operators document
— so equality is asserted EXACTLY (not approximately), the same bar the
DuckDB gate holds them to.  Inputs are shuffled across partitions to
also pin order-independence.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta

import pytest


def _series(rng, n_sources=3, n_hours=72, missing=0.15):
    """(source, hour_index, value) triples with random holes."""
    t0 = datetime(2024, 5, 1)
    rows = []
    for s in range(n_sources):
        for h in range(n_hours):
            if rng.random() < missing:
                continue
            rows.append((f"s{s}", t0 + timedelta(hours=h),
                         rng.randint(-10_000, 10_000)))
    rng.shuffle(rows)
    return rows


def test_autocorr_matches_python_exact(spark):
    from gents_spark.operators.anomaly import autocorr

    rng = random.Random(41)
    rows = _series(rng)
    df = spark.createDataFrame(
        rows, "source string, bucket_start timestamp, s long"
    ).repartition(7)
    got = {
        r["source"]: (r["n_pairs"], r["acf"])
        for r in autocorr(df, min_pairs=2).collect()
    }
    by_src: dict[str, dict] = {}
    for s, t, v in rows:
        by_src.setdefault(s, {})[t] = v
    for s, tv in by_src.items():
        pairs = [
            (tv[t - timedelta(hours=1)], v)
            for t, v in tv.items()
            if t - timedelta(hours=1) in tv
        ]
        n = len(pairs)
        sx = sum(x for x, _ in pairs)
        sy = sum(y for _, y in pairs)
        sxx = sum(x * x for x, _ in pairs)
        syy = sum(y * y for _, y in pairs)
        sxy = sum(x * y for x, y in pairs)
        den = ((n * sxx - sx * sx) * (n * syy - sy * sy)) ** 0.5
        exp = round((n * sxy - sx * sy) / den, 6) if den > 0 else None
        assert got[s] == (n, exp), s


def test_level_shift_matches_python_exact(spark):
    from gents_spark.operators.anomaly import level_shift

    rng = random.Random(42)
    rows = _series(rng, missing=0.0)
    df = spark.createDataFrame(
        rows, "source string, bucket_start timestamp, s long"
    ).repartition(5)
    W = 6
    got = {
        (r["source"], r["bucket_start"]): r["shift"]
        for r in level_shift(df, window=W).collect()
    }
    by_src: dict[str, list] = {}
    for s, t, v in sorted(rows, key=lambda r: (r[0], r[1])):
        by_src.setdefault(s, []).append((t, v))
    for s, seq in by_src.items():
        vals = [v for _, v in seq]
        for i, (t, _) in enumerate(seq):
            if i < W or i + W > len(seq):
                exp = None
            else:
                fwd = sum(vals[i:i + W])
                bwd = sum(vals[i - W:i])
                exp = round((fwd / W - bwd / W) / 100.0, 6)
            assert got[(s, t)] == exp, (s, t)


def test_burstiness_matches_python_exact(spark):
    from gents_spark.operators.anomaly import burstiness

    rng = random.Random(43)
    t0 = datetime(2024, 5, 1)
    rows = []
    for s in range(3):
        for _ in range(rng.randint(50, 400)):
            rows.append(
                (f"s{s}", t0 + timedelta(seconds=rng.randint(0, 3 * 3600 - 1)))
            )
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "source string, ts timestamp")
    got = {
        (r["source"], r["bucket_start"]): (
            r["n_events"], r["n_active_subs"], r["fano"]
        )
        for r in burstiness(df.repartition(4)).collect()
    }
    from collections import Counter

    per = Counter()
    for s, t in rows:
        e = int(t.timestamp())
        per[(s, e - e % 3600, e - e % 60)] += 1
    agg: dict[tuple, list] = {}
    for (s, b, sub), c in per.items():
        agg.setdefault((s, b), []).append(c)
    for (s, b), cs in agg.items():
        n, s2 = sum(cs), sum(c * c for c in cs)
        exp = round((60 * s2 - n * n) / (59 * n), 6)
        key = (s, datetime.utcfromtimestamp(b))
        assert got[key] == (n, len(cs), exp), key


def test_histogram_drift_matches_python_exact(spark):
    from gents_spark.operators.anomaly import histogram_drift

    rng = random.Random(44)
    t0 = datetime(2024, 5, 1)
    rows = []
    for s in range(2):
        for d in range(5):
            for _ in range(rng.randint(30, 120)):
                rows.append(
                    (
                        f"s{s}",
                        t0 + timedelta(days=d,
                                       seconds=rng.randint(0, 86399)),
                        # negatives included: bins must FLOOR (not
                        # truncate) so bin 0 stays single-width
                        rng.randint(-5000, 9999),
                    )
                )
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "source string, ts timestamp, v long")
    W = 1000
    got = {
        (r["source"], r["day"]): (r["n_cur"], r["n_prev"], r["tvd"])
        for r in histogram_drift(
            df.repartition(6), key="source", ts="ts", value="v", bin_width=W
        ).collect()
    }
    from collections import Counter

    hist: dict[tuple, Counter] = {}
    for s, t, v in rows:
        hist.setdefault((s, t.date()), Counter())[v // W] += 1
    for (s, day), h in hist.items():
        prev = hist.get((s, day - timedelta(days=1)))
        if prev is None:
            continue
        n, np_ = sum(h.values()), sum(prev.values())
        num = sum(
            abs(h.get(b, 0) * np_ - prev.get(b, 0) * n)
            for b in set(h) | set(prev)
        )
        exp = round(num / (2.0 * n * np_), 6)
        key = (s, datetime(day.year, day.month, day.day))
        assert got[key] == (n, np_, exp), key


def test_categorical_drift_matches_python_exact(spark):
    """Token-histogram TVD (categorical_drift) vs a pure-Python replay
    — same exact-integer numerator, one final division, and a
    distribution SHIFT between days so tvd is far from 0."""
    from gents_spark.operators.anomaly import categorical_drift

    rng = random.Random(45)
    t0 = datetime(2024, 5, 1)
    alphabet = [f"w{i}" for i in range(12)]
    rows = []
    for s in range(2):
        for d in range(5):
            # day-varying skew: day d favors tokens with index >= d
            for _ in range(rng.randint(40, 150)):
                w = alphabet[min(11, rng.randint(0, 11 - d) + d - s)]
                rows.append(
                    (f"s{s}",
                     t0 + timedelta(days=d,
                                    seconds=rng.randint(0, 86399)),
                     w)
                )
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "source string, ts timestamp, term string")
    got = {
        (r["source"], r["day"]): (r["n_cur"], r["n_prev"], r["tvd"])
        for r in categorical_drift(
            df.repartition(6), key="source", ts="ts", cat="term"
        ).collect()
    }
    from collections import Counter

    hist: dict[tuple, Counter] = {}
    for s, t, w in rows:
        hist.setdefault((s, t.date()), Counter())[w] += 1
    n_pairs = 0
    for (s, day), h in hist.items():
        prev = hist.get((s, day - timedelta(days=1)))
        if prev is None:
            continue
        n_pairs += 1
        n, np_ = sum(h.values()), sum(prev.values())
        num = sum(
            abs(h.get(b, 0) * np_ - prev.get(b, 0) * n)
            for b in set(h) | set(prev)
        )
        exp = round(num / (2.0 * n * np_), 6)
        key = (s, datetime(day.year, day.month, day.day))
        assert got[key] == (n, np_, exp), key
    assert n_pairs == 8 and len(got) == 8


def test_token_entropy_matches_python(spark):
    """Map-side entropy fold vs math.log recomputation in the same
    left-to-right sorted-token order, including the degenerate
    single-type (H=0) and all-distinct (H=ln n) edges."""
    import math

    from gents_spark.operators.vocab import token_entropy

    rng = random.Random(46)
    docs = [("dup0", "x x x x x"), ("uniq0", "a b c d e f g h")]
    for i in range(60):
        n = rng.randint(1, 200)
        words = [f"t{rng.randint(0, 30)}" for _ in range(n)]
        docs.append((f"d{i}", " ".join(words)))
    df = spark.createDataFrame(docs, "doc_id string, text string")
    got = {
        r["doc_id"]: (r["n_words"], r["n_types"], r["entropy"])
        for r in token_entropy(df.repartition(5)).collect()
    }
    from collections import Counter

    for doc_id, text in docs:
        toks = text.split(" ")
        c = Counter(toks)
        n = len(toks)
        acc = 0.0
        for term in sorted(c):  # the fold order both engines use
            acc = acc + c[term] * math.log(c[term])
        exp = round(math.log(n) - acc / n, 6)
        assert got[doc_id] == (n, len(c), exp), doc_id
    assert got["dup0"] == (5, 1, 0.0)
    assert got["uniq0"][2] == round(math.log(8), 6)


def test_vocab_growth_matches_python(spark):
    """First-seen census + running vocab size vs brute force; the
    cumulative curve must be monotone and end at the true vocab size."""
    from gents_spark.operators.vocab import vocab_growth

    rng = random.Random(47)
    t0 = datetime(2024, 5, 1)
    rows = []
    for s in range(2):
        for d in range(6):
            for _ in range(rng.randint(20, 80)):
                rows.append(
                    (f"s{s}", t0 + timedelta(days=d),
                     f"w{rng.randint(0, 40 + 10 * d)}")
                )
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "source string, day timestamp, term string")
    got = {
        (r["source"], r["day"]): (r["new_terms"], r["vocab_size"])
        for r in vocab_growth(df.repartition(6)).collect()
    }
    first: dict[tuple, datetime] = {}
    for s, d, w in sorted(rows, key=lambda r: r[1]):
        first.setdefault((s, w), d)
    from collections import Counter

    news = Counter((s, d) for (s, _), d in first.items())
    for s in ("s0", "s1"):
        run = 0
        for d in sorted({d for (ss, d) in news if ss == s}):
            run += news[(s, d)]
            assert got[(s, d)] == (news[(s, d)], run), (s, d)
        assert run == len({w for (ss, w) in first if ss == s})


def test_topk_terms_matches_python(spark):
    """Daily top-k leaderboard vs brute force with the deterministic
    (tf desc, term asc) tie-break."""
    from gents_spark.operators.vocab import topk_terms_per_bucket

    rng = random.Random(48)
    t0 = datetime(2024, 5, 1)
    rows = []
    for s in range(2):
        for d in range(3):
            for _ in range(rng.randint(50, 120)):
                rows.append(
                    (f"s{s}", t0 + timedelta(days=d),
                     f"w{rng.randint(0, 9)}")
                )
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "source string, day timestamp, term string")
    got = {}
    for r in topk_terms_per_bucket(df.repartition(4), k=3).collect():
        got.setdefault((r["source"], r["day"]), []).append(
            (r["rank"], r["term"], r["tf"])
        )
    from collections import Counter

    per: dict[tuple, Counter] = {}
    for s, d, w in rows:
        per.setdefault((s, d), Counter())[w] += 1
    for key, c in per.items():
        ranked = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        exp = [(i + 1, w, n) for i, (w, n) in enumerate(ranked)]
        assert sorted(got[key]) == exp, key


def test_dominant_period_detects_planted_cycles(spark):
    """Goertzel-at-candidates period detector: keys with planted daily
    (24) and half-day (12) cycles pick their own period from the
    candidate set; power matches a numpy recomputation to float
    tolerance (the argmax itself is far above ulp noise); candidate
    validation raises."""
    import math

    import pytest as _pytest

    from gents_spark.operators.anomaly import dominant_period

    rng = random.Random(53)
    t0 = datetime(2024, 5, 1)
    rows = []
    for h in range(24 * 14):  # two weeks of hourly buckets
        for s, period in (("daily", 24), ("halfday", 12)):
            v = 1000 + 500 * math.sin(2 * math.pi * h / period)
            rows.append(
                (s, t0 + timedelta(hours=h), int(v + rng.randint(-40, 40)))
            )
    df = spark.createDataFrame(
        rows, "source string, bucket_start timestamp, s long"
    ).repartition(7)
    got = {
        r["source"]: (r["period"], r["power"], r["n_buckets"])
        for r in dominant_period(
            df, candidate_periods=(6, 12, 24, 168)
        ).collect()
    }
    assert got["daily"][0] == 24
    assert got["halfday"][0] == 12
    assert got["daily"][2] == 24 * 14

    # power cross-check vs numpy at the winning candidate
    import numpy as np

    base = int(t0.timestamp()) // 3600
    for s, period in (("daily", 24), ("halfday", 12)):
        vs = np.array(
            [v for src, t, v in rows if src == s], dtype="float64"
        )
        hs = np.array(
            [int(t.timestamp()) // 3600 for src, t, v in rows if src == s]
        )
        theta = 2 * np.pi * np.mod(hs, period) / period
        c = (vs * np.cos(theta)).sum() - vs.mean() * np.cos(theta).sum()
        sn = (vs * np.sin(theta)).sum() - vs.mean() * np.sin(theta).sum()
        exp = c * c + sn * sn
        assert abs(got[s][1] - exp) / exp < 1e-9, s

    with _pytest.raises(ValueError):
        dominant_period(df, candidate_periods=(1,))


def test_merge_intervals_matches_python_sweep(spark):
    """Random overlapping/touching/nested intervals per key vs an
    independent Python sweep-line merge — exact bounds, counts and
    covered seconds, shuffled multi-partition input."""
    from datetime import datetime, timedelta

    from gents_spark.operators.sessions import merge_intervals

    rng = random.Random(43)
    t0 = datetime(2024, 5, 1)
    rows = []
    for u in range(4):
        for _ in range(60):
            a = rng.randint(0, 5000)
            rows.append(
                (u, t0 + timedelta(seconds=a),
                 t0 + timedelta(seconds=a + rng.randint(1, 400)))
            )
    rng.shuffle(rows)
    df = spark.createDataFrame(
        rows, "user_id long, start timestamp, end timestamp"
    ).repartition(7)
    got = sorted(
        (
            (r.user_id, r.merged_start, r.merged_end, r.n_merged,
             r.covered_s)
            for r in merge_intervals(df).collect()
        )
    )
    want = []
    by_key: dict[int, list] = {}
    for u, s, e in rows:
        by_key.setdefault(u, []).append((s, e))
    for u, iv in by_key.items():
        iv.sort()
        cur_s, cur_e, n = iv[0][0], iv[0][1], 1
        for s, e in iv[1:]:
            if s > cur_e:
                want.append((u, cur_s, cur_e, n,
                             (cur_e - cur_s).total_seconds()))
                cur_s, cur_e, n = s, e, 1
            else:
                cur_e, n = max(cur_e, e), n + 1
        want.append((u, cur_s, cur_e, n,
                     (cur_e - cur_s).total_seconds()))
    assert got == sorted(want)


def test_interp_join_matches_python_interpolation(spark):
    """Random data/query streams vs pure-Python bisect interpolation —
    EXACT double equality (same subtraction/ratio/fma-free shape)."""
    from datetime import datetime, timedelta

    from gents_spark.operators.sessions import interp_join

    rng = random.Random(44)
    t0 = datetime(2024, 5, 1)
    data_rows, query_rows = [], []
    for u in range(3):
        ts = rng.sample(range(0, 100_000), 80)
        for t in ts:
            data_rows.append(
                (u, t0 + timedelta(seconds=t),
                 float(rng.randint(-500_00, 500_00)) / 100.0)
            )
        for t in rng.sample(range(-50, 100_050), 120):
            query_rows.append((u, t0 + timedelta(seconds=t)))
    rng.shuffle(data_rows)
    rng.shuffle(query_rows)
    data = spark.createDataFrame(
        data_rows, "user_id long, ts timestamp, value double"
    ).repartition(5)
    queries = spark.createDataFrame(
        query_rows, "user_id long, ts timestamp"
    ).repartition(3)
    got = {
        (r.user_id, r.ts): r.v_interp
        for r in interp_join(queries, data).collect()
    }
    assert len(got) == len(query_rows)
    import bisect

    series: dict[int, list] = {}
    for u, t, v in data_rows:
        series.setdefault(u, []).append((t, v))
    for pts in series.values():
        pts.sort()
    for u, qt in query_rows:
        pts = series[u]
        times = [p[0] for p in pts]
        i = bisect.bisect_right(times, qt)
        if i > 0 and times[i - 1] == qt:
            want = pts[i - 1][1]
        elif i == 0 or i == len(pts):
            want = None
        else:
            (ta, va), (tb, vb) = pts[i - 1], pts[i]
            ratio = (qt - ta).total_seconds() * 1e6 / (
                (tb - ta).total_seconds() * 1e6
            )
            # HALF_UP like Spark's F.round — Python round() is
            # half-to-even and would diverge on exact .5 ties
            from decimal import ROUND_HALF_UP, Decimal

            want = float(
                Decimal(repr(va + (vb - va) * ratio)).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            )
        assert got[(u, qt)] == want, (u, qt)


def test_ohlc_matches_python_exact(spark):
    from gents_spark.operators.rollup import ohlc

    rng = random.Random(47)
    t0 = datetime(2024, 5, 1)
    rows = []
    for s in range(3):
        for _ in range(400):
            # coarse second grid => plenty of exact-timestamp ties to
            # exercise the (ts, value) struct tie-break
            ts = t0 + timedelta(seconds=rng.randint(0, 6 * 3600) * 10)
            rows.append((f"s{s}", ts, rng.randint(-10_000, 10_000)))
    rng.shuffle(rows)
    df = spark.createDataFrame(
        rows, "source string, event_time timestamp, v long"
    ).repartition(7)
    got = {
        (r["source"], r["bucket_start"]): (
            r["cnt"], r["open"], r["high"], r["low"], r["close"]
        )
        for r in ohlc(df, "1h", value_col="v").collect()
    }
    buckets: dict[tuple, list] = {}
    for s, ts, v in rows:
        b = ts.replace(minute=0, second=0, microsecond=0)
        buckets.setdefault((s, b), []).append((ts, v))
    assert set(got) == set(buckets)
    for k, pts in buckets.items():
        pts.sort()  # (ts, v) lexicographic == the documented tie-break
        vals = [v for _, v in pts]
        exp = (len(pts), pts[0][1], max(vals), min(vals), pts[-1][1])
        assert got[k] == exp, k


def test_max_drawdown_matches_python_exact(spark):
    from gents_spark.operators.anomaly import max_drawdown

    rng = random.Random(48)
    rows = _series(rng)
    df = spark.createDataFrame(
        rows, "source string, bucket_start timestamp, s long"
    ).repartition(7)
    got = {
        r["source"]: (
            r["n_buckets"], r["total"], r["max_drawdown"],
            r["trough_bucket"], r["peak_cum"], r["trough_cum"],
        )
        for r in max_drawdown(df).collect()
    }
    by_src: dict[str, list] = {}
    for s, t, v in rows:
        by_src.setdefault(s, []).append((t, v))
    for s, pts in by_src.items():
        pts.sort()
        cum = peak = 0
        best = None  # (dd, bucket, peak, cum); earliest bucket wins ties
        total = 0
        first = True
        for t, v in pts:
            cum = v if first else cum + v
            peak = cum if first else max(peak, cum)
            first = False
            total += v
            dd = peak - cum
            if best is None or dd > best[0]:
                best = (dd, t, peak, cum)
        assert got[s] == (
            len(pts), total, best[0], best[1], best[2], best[3]
        ), s


def test_gini_matches_python_exact(spark):
    from gents_spark.operators.concentration import gini_concentration

    rng = random.Random(49)
    rows = []
    for g in range(4):
        for e in range(rng.randint(2, 40)):
            for _ in range(rng.randint(1, 4)):
                rows.append((f"g{g}", e, rng.randint(0, 5_000)))
    # plus a degenerate group: single entity -> gini must be 0
    rows.append(("solo", 1, 777))
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "grp string, ent long, w long")
    df = df.repartition(7)
    got = {
        r["grp"]: (r["n_entities"], r["total"], r["gini"], r["top_share"])
        for r in gini_concentration(
            df, group="grp", entity="ent", weight="w"
        ).collect()
    }
    per: dict[str, dict] = {}
    for g, e, w in rows:
        per.setdefault(g, {})
        per[g][e] = per[g].get(e, 0) + w
    for g, ew in per.items():
        xs = sorted((x, e) for e, x in ew.items())
        n = len(xs)
        tot = sum(x for x, _ in xs)
        ix = sum(i * x for i, (x, _) in enumerate(xs, start=1))
        gini = round((2 * ix - (n + 1) * tot) / (n * tot), 9)
        top = round(max(x for x, _ in xs) / tot, 9)
        assert got[g] == (n, tot, gini, top), g
    assert got["solo"][2] == 0.0


def test_transition_counts_matches_python_exact(spark):
    from gents_spark.operators.sessions import transition_counts

    rng = random.Random(50)
    t0 = datetime(2024, 5, 1)
    states = ["a", "b", "c", "d"]
    rows = []
    eid = 0
    for u in range(12):
        for _ in range(rng.randint(0, 60)):
            # coarse minute grid => exact-ts ties exercise the
            # event_id tie-break
            ts = t0 + timedelta(minutes=rng.randint(0, 200))
            rows.append((u, eid, ts, rng.choice(states)))
            eid += 1
    rng.shuffle(rows)
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    ).repartition(7)
    got = {
        (r["prev_state"], r["next_state"]): (
            r["n_transitions"], r["n_keys"], r["share"]
        )
        for r in transition_counts(df).collect()
    }
    per_user: dict[int, list] = {}
    for u, e, ts, s in rows:
        per_user.setdefault(u, []).append((ts, e, s))
    counts: dict[tuple, int] = {}
    users: dict[tuple, set] = {}
    for u, evs in per_user.items():
        evs.sort()  # (ts, event_id) — the documented order
        for (_, _, a), (_, _, b) in zip(evs, evs[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + 1
            users.setdefault((a, b), set()).add(u)
    assert set(got) == set(counts)
    outof: dict[str, int] = {}
    for (a, _), c in counts.items():
        outof[a] = outof.get(a, 0) + c
    for k, c in counts.items():
        n, nu, share = got[k]
        assert (n, nu) == (c, len(users[k])), k
        assert share == pytest.approx(c / outof[k[0]], abs=1e-9), k


def test_collocation_lift_matches_python_exact(spark):
    from gents_spark.operators.vocab import collocation_lift

    rng = random.Random(51)
    alphabet = [f"w{i}" for i in range(15)]
    docs = []
    for d in range(60):
        n = rng.randint(0, 30)  # includes 0- and 1-word docs
        docs.append((d, " ".join(rng.choice(alphabet) for _ in range(n))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    df = df.repartition(7)
    got = {
        (r["w1"], r["w2"]): (
            r["n_pair"], r["n_left"], r["n_right"], r["n_total"],
            r["lift"],
        )
        for r in collocation_lift(df, min_count=2).collect()
    }
    pair: dict[tuple, int] = {}
    for _, text in docs:
        ws = text.split(" ") if text else [""]
        for a, b in zip(ws, ws[1:]):
            pair[(a, b)] = pair.get((a, b), 0) + 1
    left: dict[str, int] = {}
    right: dict[str, int] = {}
    for (a, b), c in pair.items():
        left[a] = left.get(a, 0) + c
        right[b] = right.get(b, 0) + c
    total = sum(pair.values())
    exp_keys = {k for k, c in pair.items() if c >= 2}
    assert set(got) == exp_keys
    for k in exp_keys:
        n, nl, nr, nt, lift = got[k]
        c = pair[k]
        assert (n, nl, nr, nt) == (c, left[k[0]], right[k[1]], total), k
        assert lift == pytest.approx(
            total * c / (left[k[0]] * right[k[1]]), abs=1e-6
        ), k


def test_collocation_lift_handles_degenerate_docs(spark):
    from gents_spark.operators.vocab import collocation_lift

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "solo"), (4, "x y x y x y")],
        "doc_id long, text string",
    )
    got = {
        (r["w1"], r["w2"]): r["n_pair"]
        for r in collocation_lift(df, min_count=2).collect()
    }
    # only the repeated pairs from doc 4 survive; NULL/empty/1-word
    # docs contribute nothing and do not crash pair extraction
    assert got == {("x", "y"): 3, ("y", "x"): 2}


def test_screen_report_matches_python_exact(spark):
    from gents_spark.operators.screens import screen_report

    rng = random.Random(52)
    t0 = datetime(2024, 5, 1)
    rows = []
    # key "planted": flatline at hours 10..14, gap at 20..22 (missing),
    # level step at hour 40 (100 -> 1000)
    for h in range(72):
        if 20 <= h <= 22:
            continue
        if 10 <= h <= 14:
            v = 500
        else:
            v = 100 if h < 40 else 1000
        rows.append(("planted", t0 + timedelta(hours=h), v))
    # plus two noisy keys with random holes/values
    for s in range(2):
        for h in range(72):
            if rng.random() < 0.2:
                continue
            rows.append((f"n{s}", t0 + timedelta(hours=h),
                         rng.randint(90, 110)))
    rng.shuffle(rows)
    df = spark.createDataFrame(
        rows, "source string, bucket_start timestamp, s long"
    ).repartition(7)
    # threshold 1.95 sits between the reachable shift grid points
    # (integer sums / 12 => multiples of 1/12) so no boundary rounding
    got = {
        (r["key"], r["alarm_type"], r["t_start"], r["t_end"]): (
            r["n_buckets"], r["v"], r["score"]
        )
        for r in screen_report(
            df, shift_threshold=1.95, scale_div=1.0
        ).collect()
    }

    per: dict[str, list] = {}
    for s, ts, v in rows:
        per.setdefault(s, []).append((int((ts - t0).total_seconds())
                                      // 3600, ts, v))
    exp: dict[tuple, tuple] = {}
    for k, pts in per.items():
        pts.sort()
        # flatline runs (identical v on a contiguous grid)
        i = 0
        while i < len(pts):
            j = i
            while (
                j + 1 < len(pts)
                and pts[j + 1][0] == pts[j][0] + 1
                and pts[j + 1][2] == pts[i][2]
            ):
                j += 1
            if j - i + 1 >= 3:
                exp[(k, "flatline", pts[i][1], pts[j][1])] = (
                    j - i + 1, pts[i][2], None
                )
            i = j + 1
        # gaps
        for (ta, _, _), (tb, _, _) in zip(pts, pts[1:]):
            if tb - ta > 1:
                exp[(k, "gap",
                     t0 + timedelta(hours=ta + 1),
                     t0 + timedelta(hours=tb - 1))] = (
                    tb - ta - 1, None, None
                )
        # level shifts over ROWS frames of the present rows
        vals = [v for _, _, v in pts]
        for i in range(len(pts)):
            if i < 12 or i + 12 > len(pts):
                continue
            shift = sum(vals[i:i + 12]) / 12 - sum(vals[i - 12:i]) / 12
            if abs(round(shift, 6)) >= 1.95:
                exp[(k, "level_shift", pts[i][1], pts[i][1])] = (
                    24, None, round(shift, 6)
                )
    assert set(got) == set(exp)
    for key in exp:
        g, e = got[key], exp[key]
        assert g[:2] == e[:2], key
        if e[2] is None:
            assert g[2] is None, key
        else:
            assert g[2] == pytest.approx(e[2], abs=1e-9), key
    # sanity: the planted alarms are all present
    assert ("planted", "flatline", t0 + timedelta(hours=10),
            t0 + timedelta(hours=14)) in got
    assert ("planted", "gap", t0 + timedelta(hours=20),
            t0 + timedelta(hours=22)) in got
    assert any(k[0] == "planted" and k[1] == "level_shift"
               for k in got)


def test_ohlc_null_values_are_missing_observations(spark):
    from gents_spark.operators.rollup import ohlc

    t0 = datetime(2024, 5, 1)
    df = spark.createDataFrame(
        [
            ("s", t0, None),              # earliest row: NULL value
            ("s", t0 + timedelta(minutes=1), 7),
            ("s", t0 + timedelta(minutes=2), 3),
            ("s", t0 + timedelta(minutes=3), None),  # latest row: NULL
            ("x", t0, None),              # all-NULL bucket -> no bar
        ],
        "source string, event_time timestamp, v long",
    )
    rows = {r["source"]: r for r in ohlc(df, "1h", value_col="v").collect()}
    assert set(rows) == {"s"}
    r = rows["s"]
    # NULLs are excluded from the bar entirely (cnt included)
    assert (r["cnt"], r["open"], r["high"], r["low"], r["close"]) == (
        2, 7, 7, 3, 3
    )


def test_screen_report_offset_grid_alarms_stay_on_grid(spark):
    from gents_spark.operators.screens import screen_report

    # a 00:07:30-anchored 15-minute tier (the bucket_15m_offset
    # alignment): alarm timestamps must round-trip to true buckets
    t0 = datetime(2024, 5, 1, 0, 7, 30)
    step = timedelta(minutes=15)
    rows = []
    for i in range(40):
        if 20 <= i <= 22:
            continue  # gap
        v = 500 if 10 <= i <= 14 else 100  # flatline at 10..14
        rows.append(("k", t0 + i * step, v))
    df = spark.createDataFrame(
        rows, "source string, bucket_start timestamp, s long"
    )
    got = {
        (r["alarm_type"], r["t_start"], r["t_end"])
        for r in screen_report(
            df, step_s=900, origin_s=450, shift_threshold=1000.0
        ).collect()
    }
    assert ("flatline", t0 + 10 * step, t0 + 14 * step) in got
    assert ("gap", t0 + 20 * step, t0 + 22 * step) in got
    # every reported time sits ON the offset grid
    for _, a, b in got:
        for ts in (a, b):
            assert (int((ts - t0).total_seconds()) % 900) == 0


def test_grid_index_floors_pre_epoch_timestamps(spark):
    from gents_spark.operators.rollup import grid_index

    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [
            (datetime(1969, 12, 31, 23, 30),),  # -1800s -> bucket -1
            (datetime(1969, 12, 31, 23, 0),),   # -3600s -> bucket -1
            (datetime(1970, 1, 1, 0, 30),),     # 1800s  -> bucket 0
            (datetime(1969, 12, 31, 22, 59),),  # -3660s -> bucket -2
        ],
        "ts timestamp",
    )
    got = [
        r["t"]
        for r in df.select(grid_index("ts", 3600).alias("t"))
        .orderBy(F.col("ts")).collect()
    ]
    # python floor-division semantics, matching DuckDB's `//`
    assert got == [-2, -1, -1, 0]


def test_spearman_matches_python_exact(spark):
    """q_spearman_1h's rank transform, replayed on a hand-built events
    table vs a pure-Python average-rank Spearman."""
    from gents_spark.driver_queries import q_spearman_1h

    rng = random.Random(53)
    t0 = datetime(2024, 5, 1)
    rows = []
    eid = 0
    series = {t: {} for t in ("a", "b", "c")}
    for h in range(100):
        for t in series:
            # coarse counts => plenty of rank ties
            n = rng.randint(0, 4)
            if n == 0:
                continue
            series[t][h] = n
            for _ in range(n):
                rows.append((eid, t0 + timedelta(hours=h, minutes=5),
                             1, t, 1.0, "{}"))
                eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.repartition(5).write.parquet(os.path.join(d, "events.parquet"))
        got = {
            (r["type_a"], r["type_b"]): (r["n_hours"], r["spearman"])
            for r in q_spearman_1h(spark, d).collect()
        }

    def avg_ranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        ranks = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while (j + 1 < len(order)
                   and vals[order[j + 1]] == vals[order[i]]):
                j += 1
            r = (i + j) / 2 + 1
            for k in range(i, j + 1):
                ranks[order[k]] = r
            i = j + 1
        return ranks

    for ta in series:
        for tb in series:
            if ta >= tb:
                continue
            hours = sorted(set(series[ta]) & set(series[tb]))
            xs = [series[ta][h] for h in hours]
            ys = [series[tb][h] for h in hours]
            rx, ry = avg_ranks(xs), avg_ranks(ys)
            n = len(hours)
            mx, my = sum(rx) / n, sum(ry) / n
            num = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
            den = (sum((a - mx) ** 2 for a in rx)
                   * sum((b - my) ** 2 for b in ry)) ** 0.5
            gn, gs = got[(ta, tb)]
            assert gn == n, (ta, tb)
            if den == 0:
                assert gs is None, (ta, tb)
            else:
                # engine emits round(spearman, 6)
                assert gs == pytest.approx(num / den, abs=1e-6), (ta, tb)


def test_calendar_rollup_month_boundaries_exact(spark):
    from gents_spark.operators.rollup import calendar_rollup

    rng = random.Random(54)
    rows = []
    # span a leap February and month ends
    for d in range(1, 120):
        ts = datetime(2024, 1, 1) + timedelta(days=d - 1, hours=3)
        rows.append(("s", ts, rng.randint(-500, 500)))
    df = spark.createDataFrame(
        rows, "source string, event_time timestamp, v long"
    ).repartition(7)
    got = {
        r["bucket_start"]: (
            r["bucket_end"], r["cnt"], r["sum_v"], r["min_v"], r["max_v"]
        )
        for r in calendar_rollup(df, "month", value_col="v").collect()
    }
    exp: dict = {}
    for s, ts, v in rows:
        b = ts.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
        exp.setdefault(b, []).append(v)
    assert set(got) == set(exp)
    # exact calendar widths: Jan 31d, LEAP Feb 29d, Mar 31d, Apr 30d
    assert got[datetime(2024, 1, 1)][0] == datetime(2024, 2, 1)
    assert got[datetime(2024, 2, 1)][0] == datetime(2024, 3, 1)
    ndays = {datetime(2024, 1, 1): 31, datetime(2024, 2, 1): 29,
             datetime(2024, 3, 1): 31, datetime(2024, 4, 1): 30}
    for b, vals in exp.items():
        end, cnt, sv, mn, mx = got[b]
        assert (end - b).days == ndays[b]
        assert (cnt, sv, mn, mx) == (
            len(vals), sum(vals), min(vals), max(vals)
        ), b

    with pytest.raises(ValueError, match="calendar grain"):
        calendar_rollup(df, "fortnight", value_col="v")


def test_week_window_start_offset_matches_date_trunc(spark):
    """The streaming '1w' window ('7 days' + '4 days' startTime) must
    land on the same Monday anchor as the batch tier's
    date_trunc('week') — epoch-aligned 604800s windows anchor on
    Thursday without the offset."""
    import pyspark.sql.functions as F

    rng = random.Random(55)
    rows = [
        (datetime(2024, 1, 1) + timedelta(hours=rng.randint(0, 2000)),)
        for _ in range(200)
    ]
    df = spark.createDataFrame(rows, "event_time timestamp")
    bad = df.filter(
        F.window("event_time", "7 days", "7 days", "4 days").start
        != F.date_trunc("week", "event_time")
    ).count()
    assert bad == 0
    # and WITHOUT the offset they disagree (Thursday anchor)
    assert df.filter(
        F.window("event_time", "7 days").start
        != F.date_trunc("week", "event_time")
    ).count() > 0


def test_check_expectations_counts_and_null_semantics(spark):
    from gents_spark.operators.expectations import check_expectations

    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(1, "a"), (5, "b"), (None, "a"), (12, None), (7, "c")],
        "v long, cat string",
    ).repartition(3)
    got = {
        r["rule"]: (r["n_rows"], r["n_violations"], r["violation_rate"])
        for r in check_expectations(
            df,
            {
                "v_le_10": F.col("v") <= 10,       # NULL v -> violation
                "cat_known": F.col("cat").isin("a", "b"),
                "v_not_null": F.col("v").isNotNull(),
            },
        ).collect()
    }
    assert got == {
        "v_le_10": (5, 2, 0.4),       # 12 and NULL
        "cat_known": (5, 2, 0.4),     # 'c' and NULL
        "v_not_null": (5, 1, 0.2),
    }
    with pytest.raises(ValueError, match="non-empty"):
        check_expectations(df, {})


def test_check_expectations_single_aggregation_plan(spark):
    """50 rules must cost ONE aggregation over one scan — no join, no
    per-rule pass."""
    from gents_spark.operators.expectations import check_expectations

    import pyspark.sql.functions as F

    df = spark.range(100).select(F.col("id").alias("v"))
    out = check_expectations(
        df, {f"r{i}": F.col("v") <= i for i in range(50)}
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1
    assert "Join" not in plan
    assert out.count() == 50


def test_chunk_documents_matches_python_exact(spark):
    from gents_spark.operators.packing import chunk_documents

    rng = random.Random(56)
    alphabet = [f"w{i}" for i in range(30)]
    docs = [(d, " ".join(rng.choice(alphabet)
                         for _ in range(rng.randint(0, 90))))
            for d in range(50)]
    docs.append((99, None))
    MAX, OV = 32, 8
    stride = MAX - OV
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {}
    out = chunk_documents(df.repartition(7), max_tokens=MAX, overlap=OV)
    for r in out.collect():
        got[(r["doc_id"], r["chunk_idx"])] = (
            r["n_chunks"], r["word_start"], r["n_words"], r["chunk_text"]
        )
    # plan: entirely map-side — no exchange beyond the input's own
    plain = chunk_documents(df, max_tokens=MAX, overlap=OV)
    plan = plain._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    exp = {}
    for d, text in docs:
        if text is None:
            continue
        ws = text.split(" ")  # '' -> [''] like both engines
        n = len(ws)
        nc = 1 if n <= MAX else -((n - MAX) // -stride) + 1
        for i in range(nc):
            piece = ws[i * stride: i * stride + MAX]
            exp[(d, i)] = (nc, i * stride, min(MAX, n - i * stride),
                           " ".join(piece))
    assert got == exp
    # coverage: every word index of every doc appears in >= 1 chunk
    for d, text in docs:
        if not text:
            continue
        n = len(text.split(" "))
        covered = set()
        for (dd, i), (_, start, nw, _) in exp.items():
            if dd == d:
                covered.update(range(start, start + nw))
        assert covered == set(range(n)), d

    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, max_tokens=8, overlap=8)


def test_token_coverage_matches_python(spark):
    """Head-coverage census vs brute force with the deterministic
    (tf desc, term asc) rank tie-break; all-integer until the one
    final division, so equality is exact."""
    from collections import Counter

    from gents_spark.operators.vocab import token_coverage

    rng = random.Random(49)
    rows = []
    for s in range(3):
        for _ in range(400):
            rows.append((f"s{s}", f"w{min(int(rng.paretovariate(1.1)), 25)}"))
    df = spark.createDataFrame(rows, "source string, term string")
    got = {
        r["source"]: (
            r["k_types"], r["n_types"], r["n_tokens"],
            r["covered_tokens"], r["coverage"],
        )
        for r in token_coverage(df.repartition(5), k=4).collect()
    }
    for s in ("s0", "s1", "s2"):
        c = Counter(t for src, t in rows if src == s)
        ranked = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))
        covered = sum(tf for _, tf in ranked[:4])
        total = sum(c.values())
        assert got[s] == (
            4, len(c), total, covered, round(covered / total, 6)
        ), s


def test_zipf_fit_matches_python(spark):
    """OLS slope/intercept of ln(tf) on ln(rank) vs a pure-Python
    left-to-right recomputation in the same rank order (the fold order
    both engines use), plus the degenerate one-rank edge (NULL)."""
    import math
    from collections import Counter

    from gents_spark.operators.vocab import zipf_fit

    rng = random.Random(50)
    rows = [("mono", "only")] * 5  # single type -> n_ranks=1 -> NULLs
    for s in range(3):
        for _ in range(600):
            rows.append((f"s{s}", f"w{min(int(rng.paretovariate(1.0)), 40)}"))
    df = spark.createDataFrame(rows, "source string, term string")
    got = {
        r["source"]: (r["n_ranks"], r["zipf_slope"], r["zipf_intercept"])
        for r in zipf_fit(df.repartition(6), max_rank=15).collect()
    }
    assert got["mono"] == (1, None, None)
    for s in ("s0", "s1", "s2"):
        c = Counter(t for src, t in rows if src == s)
        ranked = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:15]
        sx = sy = sxx = sxy = 0.0
        for i, (_, tf) in enumerate(ranked):  # rank order == fold order
            x, y = math.log(i + 1), math.log(tf)
            sx += x
            sy += y
            sxx += x * x
            sxy += x * y
        n = float(len(ranked))
        den = n * sxx - sx * sx
        slope = (n * sxy - sx * sy) / den
        intercept = (sy - slope * sx) / n
        assert got[s] == (
            len(ranked), round(slope, 6), round(intercept, 6)
        ), s


def test_winsorized_stats_matches_python(spark):
    """Winsorized mean vs a pure-Python replay: same interpolated
    percentile formula, same sorted fold order, exact clamp counts —
    including a bucket with a planted extreme outlier (raw mean moves,
    winsorized mean barely does) and a tiny all-equal bucket
    (p05 == p95, winsorized == raw)."""
    from gents_spark.operators.anomaly import winsorized_stats

    rng = random.Random(51)
    t0 = datetime(2024, 5, 1)
    rows = [("flat", t0, 7.0)] * 5  # degenerate: all equal
    for s in range(2):
        for d in range(3):
            for _ in range(40):
                rows.append((f"s{s}", t0 + timedelta(days=d),
                             round(rng.gauss(100, 15), 2)))
            rows.append((f"s{s}", t0 + timedelta(days=d), 10_000.0))
    df = spark.createDataFrame(rows, "source string, day timestamp, value double")
    got = {
        (r["source"], r["day"]): (
            r["n"], r["p_lo"], r["p_hi"], r["n_clamped_lo"],
            r["n_clamped_hi"], r["raw_mean"], r["winsorized_mean"],
        )
        for r in winsorized_stats(
            df.repartition(6), key="source", bucket="day"
        ).collect()
    }

    def pctl(sv, p):  # the sorted_percentile formula
        import math

        pos = p * (len(sv) - 1)
        lo, hi = math.floor(pos), math.ceil(pos)
        if lo == hi:
            return sv[lo]
        return (hi - pos) * sv[lo] + (pos - lo) * sv[hi]

    from collections import defaultdict

    buckets = defaultdict(list)
    for s, d, v in rows:
        buckets[(s, d)].append(v)
    for kb, vals in buckets.items():
        sv = sorted(vals)
        lo, hi = pctl(sv, 0.05), pctl(sv, 0.95)
        raw = 0.0
        win = 0.0
        for x in sv:  # fold order both engines use
            raw += x
            win += min(max(x, lo), hi)
        n = len(sv)
        exp = (
            n, round(lo, 6), round(hi, 6),
            sum(1 for x in sv if x < lo), sum(1 for x in sv if x > hi),
            round(raw / n, 6), round(win / n, 6),
        )
        assert got[kb] == exp, (kb, got[kb], exp)
    f = got[("flat", t0)]
    assert f[1] == f[2] == 7.0 and f[5] == f[6] == 7.0
    for s in ("s0", "s1"):
        for d in range(3):
            r = got[(s, t0 + timedelta(days=d))]
            assert r[5] > r[6] + 100  # outlier pulls raw mean far up


def test_seasonal_naive_error_matches_python(spark):
    """MAE/MASE census vs brute force on a planted daily-periodic
    series with holes: the periodic source must come out
    mase_seasonal < 1, the random-walk source > 1, and every count/
    MAE must equal the strict-grid recomputation exactly."""
    from gents_spark.operators.anomaly import seasonal_naive_error

    rng = random.Random(52)
    t0 = datetime(2024, 5, 1)
    rows = []
    daily = [100 + 80 * (h % 24 in (9, 10, 11)) for h in range(24)]
    for h in range(120):
        if rng.random() < 0.1:
            continue  # holes -> off-grid pairs must be excluded
        rows.append(("periodic", t0 + timedelta(hours=h),
                     daily[h % 24] + rng.randint(-2, 2)))
    v = 500
    for h in range(120):
        v += rng.randint(-40, 40)
        rows.append(("walk", t0 + timedelta(hours=h), v))
    df = spark.createDataFrame(rows, "source string, bucket_start timestamp, s long")
    got = {
        r["source"]: (
            r["n_pairs_1"], r["mae_naive"], r["n_pairs_season"],
            r["mae_seasonal"], r["mase_seasonal"],
        )
        for r in seasonal_naive_error(df.repartition(5)).collect()
    }
    by = {}
    for s, t, val in rows:
        by.setdefault(s, {})[t] = val
    for s, series in by.items():
        e1, es = [], []
        for t, val in series.items():
            p1 = series.get(t - timedelta(hours=1))
            ps = series.get(t - timedelta(hours=24))
            if p1 is not None:
                e1.append(abs(val - p1))
            if ps is not None:
                es.append(abs(val - ps))
        exp = (
            len(e1), round(sum(e1) / len(e1), 6),
            len(es), round(sum(es) / len(es), 6),
            round((sum(es) * len(e1)) / (sum(e1) * len(es)), 6),
        )
        assert got[s] == exp, (s, got[s], exp)
    assert got["periodic"][4] < 1 < got["walk"][4]


def test_centroid_drift_matches_python(spark):
    """Centroid L2 drift vs brute force in the same index-ordered fold,
    including a planted shift: label 'move' jumps +50 quantized units
    on every dim on day 2 (expected shift = 50*sqrt(dim)), label
    'still' repeats the same vectors (shift == 0.0)."""
    import math

    from gents_spark.operators.similarity import centroid_drift

    rng = random.Random(53)
    t0 = datetime(2024, 5, 1)
    dim = 4
    bases = [
        [rng.randint(-100, 100) for _ in range(dim)] for _ in range(30)
    ]
    rows = []
    for d in range(3):
        for i in range(30):
            rows.append(
                ("move", t0 + timedelta(days=d),
                 [b + 50 * d for b in bases[i]])
            )
            rows.append(("still", t0 + timedelta(days=d),
                         [(i * 7 + j) % 40 for j in range(dim)]))
    df = spark.createDataFrame(
        rows, "label string, day timestamp, q array<long>"
    )
    got = {
        (r["label"], r["day"]): (r["n_vectors"], r["l2_shift"])
        for r in centroid_drift(df.repartition(6)).collect()
    }
    from collections import defaultdict

    cells = defaultdict(list)
    for lab, d, q in rows:
        cells[(lab, d)].append(q)
    cents = {
        kb: [sum(v[i] for v in vs) / len(vs) for i in range(dim)]
        for kb, vs in cells.items()
    }
    for (lab, d), vs in cells.items():
        prev = cents.get((lab, d - timedelta(days=1)))
        if prev is None:
            exp = None
        else:
            acc = 0.0
            for a, b in zip(cents[(lab, d)], prev):  # index order
                acc += (a - b) * (a - b)
            exp = round(math.sqrt(acc), 6)
        assert got[(lab, d)] == (len(vs), exp), (lab, d)
    assert got[("still", t0 + timedelta(days=2))][1] == 0.0
    # the planted +50/dim jump: centroid moves exactly 50*sqrt(dim)
    assert got[("move", t0 + timedelta(days=1))][1] == round(
        50 * math.sqrt(dim), 6
    )


def test_centroid_drift_ragged_batch_nulls_not_wrong(spark):
    """r05 ADVICE: a ragged vector batch (one vector shorter than the
    rest) must NOT silently skew the short dimensions' means — the
    uniform-dimension guard emits NULL l2_shift for the affected
    bucket (and the one after it, whose lag is the bad centroid)
    instead of a wrong number."""
    from datetime import datetime, timedelta

    from gents_spark.operators.similarity import centroid_drift

    t0 = datetime(2024, 5, 1)
    rows = [
        ("a", t0, [1, 2, 3]),
        ("a", t0, [3, 4, 5]),
        ("a", t0 + timedelta(days=1), [1, 2, 3]),
        ("a", t0 + timedelta(days=1), [3, 4]),  # ragged!
        ("a", t0 + timedelta(days=2), [1, 2, 3]),
    ]
    df = spark.createDataFrame(
        rows, "label string, day timestamp, q array<long>"
    )
    got = {
        r["day"]: r["l2_shift"] for r in centroid_drift(df).collect()
    }
    assert got[t0] is None                        # first bucket
    assert got[t0 + timedelta(days=1)] is None    # ragged bucket
    assert got[t0 + timedelta(days=2)] is None    # lag of ragged


def test_freshness_report_matches_python(spark):
    """Freshness census vs brute force: a feed that stops mid-history
    must read stale against the corpus watermark; duty cycle counts
    only hours with events."""
    from gents_spark.operators.screens import freshness_report

    t0 = datetime(2024, 5, 1)
    rows = []
    for h in range(72):
        rows.append(("live", t0 + timedelta(hours=h, minutes=7)))
        if h % 3 == 0:
            rows.append(("sparse", t0 + timedelta(hours=h, minutes=40)))
        if h < 30:
            rows.append(("dead", t0 + timedelta(hours=h, minutes=2)))
    df = spark.createDataFrame(rows, "source string, ts timestamp")
    got = {
        r["source"]: (
            r["n_events"], r["hours_stale"], r["active_hours"],
            r["span_hours"], r["activity_ratio"], r["is_stale"],
        )
        for r in freshness_report(
            df.repartition(5), key="source", ts="ts", stale_after_h=24
        ).collect()
    }
    wm = max(t for _, t in rows)
    by = {}
    for s, t in rows:
        by.setdefault(s, []).append(t)
    for s, ts in by.items():
        first, last = min(ts), max(ts)
        stale = int((wm - last).total_seconds() // 3600)
        active = len({t.replace(minute=0, second=0) for t in ts})
        span = (
            int(
                (
                    last.replace(minute=0) - first.replace(minute=0)
                ).total_seconds()
                // 3600
            )
            + 1
        )
        exp = (
            len(ts), stale, active, span,
            round(active / span, 6), stale >= 24,
        )
        assert got[s] == exp, (s, got[s], exp)
    assert got["dead"][5] is True and got["live"][5] is False
    assert got["live"][4] == 1.0 and got["sparse"][4] < 0.4


def test_freshness_fractional_seconds_match_oracle(spark):
    """A last event 3,599.95 s before the watermark is 0 whole hours
    stale: the engine and its DuckDB oracle both count in integer
    micros, so neither truncates the fractional seconds."""
    import duckdb

    from gents_spark.driver_queries import ORACLES
    from gents_spark.operators.screens import freshness_report

    events = [
        ("a", datetime(2024, 5, 1, 10, 0, 0, 900_000)),
        ("b", datetime(2024, 5, 1, 9, 0, 0, 950_000)),
        ("b", datetime(2024, 5, 1, 8, 59, 59, 990_000)),
    ]
    df = spark.createDataFrame(events, "user_id string, ts timestamp")
    got = sorted(
        tuple(r)
        for r in freshness_report(
            df, key="user_id", ts="ts", stale_after_h=24
        ).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE events (user_id VARCHAR, ts TIMESTAMP)")
    con.executemany("INSERT INTO events VALUES (?, ?)", events)
    want = sorted(con.sql(ORACLES["freshness"]).fetchall())
    assert got == want
    assert {r[0]: r[4] for r in got} == {"a": 0, "b": 0}


def test_gap_percentiles_matches_python(spark):
    """Inter-event gap percentiles vs a pure-Python replay of the same
    interpolation formula over exact integer-micros gaps (UNROUNDED:
    at 1e11 magnitude, 6dp rounding is itself lossy)."""
    import math

    from gents_spark.driver_queries import q_gap_percentiles

    got = {
        r["user_id"]: (
            r["n_gaps"], r["p50_gap_us"], r["p95_gap_us"],
            r["max_gap_us"],
        )
        for r in q_gap_percentiles(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    import duckdb

    con = duckdb.connect()
    rows = con.sql(
        """
        WITH l AS (
            SELECT user_id,
                   epoch_us(ts) - lag(epoch_us(ts)) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id) AS g
            FROM read_parquet('/root/testdata/sf0.001/events.parquet')
        )
        SELECT user_id, list(g ORDER BY g) FROM l
        WHERE g IS NOT NULL GROUP BY 1
        """
    ).fetchall()

    def pctl(sv, p):
        pos = p * (len(sv) - 1)
        lo, hi = math.floor(pos), math.ceil(pos)
        if lo == hi:
            return float(sv[lo])
        return (hi - pos) * float(sv[lo]) + (pos - lo) * float(sv[hi])

    assert len(rows) > 0 and len(got) == len(rows)
    for uid, sv in rows:
        exp = (len(sv), pctl(sv, 0.5), pctl(sv, 0.95), max(sv))
        assert got[uid] == exp, (uid, got[uid], exp)


def test_length_histogram_matches_python(spark):
    """Log2 length census vs brute force, with power-of-two edge
    lengths planted on both sides of every boundary (the floating-log2
    trap the bit-length formula exists to avoid) and an empty doc."""
    from gents_spark.operators.textstats import length_histogram

    rng = random.Random(54)
    # split('', ' ') == [''] (n=1, bucket 0) in BOTH engines — the
    # words_col convention; only NULL text lands in bucket -1
    rows = [("edge", ""), ("edge", "w"), ("edge", None)]
    for b in (2, 4, 8, 16, 32, 64):
        rows.append(("edge", " ".join(["x"] * b)))        # == 2^k
        rows.append(("edge", " ".join(["x"] * (b - 1))))  # 2^k - 1
        rows.append(("edge", " ".join(["x"] * (b + 1))))  # 2^k + 1
    for i in range(200):
        rows.append(("bulk", " ".join(["t"] * rng.randint(1, 500))))
    df = spark.createDataFrame(rows, "source string, text string")
    got = {
        (r["source"], r["bucket"]): (r["lo_words"], r["n_docs"], r["share"])
        for r in length_histogram(df.repartition(5)).collect()
    }
    from collections import Counter

    c = Counter()
    for s, t in rows:
        n = len(t.split(" ")) if t is not None else 0
        c[(s, n.bit_length() - 1 if n > 0 else -1)] += 1
    tot = Counter()
    for (s, _), k in c.items():
        tot[s] += k
    assert len(got) == len(c)
    for (s, b), k in c.items():
        exp = (0 if b < 0 else 2 ** b, k, round(k / tot[s], 6))
        assert got[(s, b)] == exp, (s, b, got[(s, b)], exp)
    # 2^k lands in bucket k, 2^k - 1 in bucket k-1: both present
    assert got[("edge", 5)][0] == 32 and got[("edge", 4)][0] == 16


def test_record_highs_matches_python(spark):
    """Record census vs brute force on a climb-then-plateau series:
    the plateau source's last record must predate its last bucket."""
    from gents_spark.driver_queries import QUERIES

    import duckdb

    con = duckdb.connect()
    rows = con.sql(
        """
        WITH h AS (
            SELECT event_type AS source,
                   date_trunc('hour', ts) AS b,
                   sum(CAST(round(value * 100) AS BIGINT)) AS s
            FROM read_parquet('/root/testdata/sf0.001/events.parquet')
            GROUP BY 1, 2
        )
        SELECT source, b, s FROM h ORDER BY source, b
        """
    ).fetchall()
    got = {
        r["source"]: (
            r["n_buckets"], r["n_records"], r["last_record_ts"], r["peak"]
        )
        for r in QUERIES["record_highs_1h"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    from collections import defaultdict

    by = defaultdict(list)
    for s, b, v in rows:
        by[s].append((b, int(v)))
    assert got.keys() == by.keys()
    for s, seq in by.items():
        best, n_rec, last = None, 0, None
        for b, v in seq:
            if best is None or v > best:
                best, n_rec, last = v, n_rec + 1, b
        assert got[s] == (len(seq), n_rec, last, best), s
