"""Property pins for the round-11 wave-11 operators (PSI drift,
Kaplan-Meier survival)."""

from __future__ import annotations

import math
from collections import defaultdict

import pyarrow.parquet as pq


def test_psi_drift_matches_pure_python(spark, sf_dir):
    from gasket_rs_spark.operators.analytics import _PSI_B, _PSI_W, q_psi_drift

    t = pq.read_table(f"{sf_dir}/events.parquet", columns=["event_id", "value"])
    ref_n = [0] * _PSI_B
    cur_n = [0] * _PSI_B
    for eid, v in zip(t["event_id"].to_pylist(), t["value"].to_pylist()):
        b = min(int(math.floor(v / _PSI_W)), _PSI_B - 1)
        (ref_n if eid % 3 == 0 else cur_n)[b] += 1
    nr, nc = sum(ref_n), sum(cur_n)
    want = {}
    psi12 = 0
    for b in range(_PSI_B):
        diff6 = math.floor(
            ((ref_n[b] + 1) / (nr + _PSI_B) - (cur_n[b] + 1) / (nc + _PSI_B))
            * 1e6
            + 0.5
        )
        ln6 = math.floor(
            math.log(
                ((ref_n[b] + 1) * (nc + _PSI_B))
                / ((cur_n[b] + 1) * (nr + _PSI_B))
            )
            * 1e6
            + 0.5
        )
        want[b] = (ref_n[b], cur_n[b], diff6, ln6, diff6 * ln6)
        psi12 += diff6 * ln6
    rows = q_psi_drift(spark, sf_dir).collect()
    got = {
        r["b"]: (r["ref_n"], r["cur_n"], r["diff6"], r["ln6"], r["contrib12"])
        for r in rows
    }
    assert got == want
    assert all(r["psi12"] == psi12 for r in rows)
    # smoothed PSI of an id-split of one population: small but >= 0-ish;
    # every bucket contribution has diff and log-ratio of matching sign
    assert all(c >= 0 for *_, c in want.values())


def test_kaplan_meier_matches_pure_python(spark, sf_dir):
    from gasket_rs_spark.operators.analytics import (
        _KM_BUCKET_SEC,
        _KM_MAX_BUCKET,
        q_kaplan_meier,
    )

    t = pq.read_table(
        f"{sf_dir}/events.parquet", columns=["user_id", "event_type", "ts"]
    )
    ts_sec = [v.timestamp() if hasattr(v, "timestamp") else v
              for v in t["ts"].to_pylist()]
    ts_sec = [math.floor(x) for x in ts_sec]
    su, pu = {}, {}
    tmax = max(ts_sec)
    rows_ = list(zip(t["user_id"].to_pylist(), t["event_type"].to_pylist(), ts_sec))
    for uid, et, s in rows_:
        if et == "signup":
            su[uid] = min(su.get(uid, s), s)
    for uid, et, s in rows_:
        if et == "purchase" and uid in su and s >= su[uid]:
            pu[uid] = min(pu.get(uid, s), s)
    per_b = defaultdict(lambda: [0, 0])  # bucket -> [users ending, events]
    for uid, t0 in su.items():
        conv = uid in pu
        dur = (pu[uid] if conv else tmax) - t0
        b = min(dur // _KM_BUCKET_SEC, _KM_MAX_BUCKET)
        per_b[b][0] += 1
        per_b[b][1] += 1 if conv else 0
    order = sorted(per_b)
    want = {}
    cum_ln6 = 0
    hit_zero = False
    for b in order:
        n_at_risk = sum(per_b[x][0] for x in per_b if x >= b)
        d = per_b[b][1]
        if d == 0:
            continue
        if d == n_at_risk:
            hit_zero = True
        else:
            cum_ln6 += math.floor(math.log((n_at_risk - d) / n_at_risk) * 1e6 + 0.5)
        surv6 = 0 if hit_zero else math.floor(math.exp(cum_ln6 / 1e6) * 1e6 + 0.5)
        want[b] = (n_at_risk, d, surv6)
    got = {
        r["bucket"]: (r["n_at_risk"], r["n_events"], r["surv6"])
        for r in q_kaplan_meier(spark, sf_dir).collect()
    }
    assert got == want
    # survival curve is monotone non-increasing and starts <= 1
    vals = [want[b][2] for b in sorted(want)]
    assert vals == sorted(vals, reverse=True)
    assert all(0 <= v <= 1_000_000 for v in vals)
