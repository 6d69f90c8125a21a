"""Property pins for the round-11 wave-16 operators (KMV sketch,
temporal SCD2 join)."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import pyarrow.parquet as pq


def test_kmv_matches_pure_python(spark, sf_dir):
    from gasket_rs_spark.operators.sketches import _KMV_K, q_kmv_distinct_sketch

    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["source", "text"])
    pts = defaultdict(set)
    for s, txt in zip(t["source"].to_pylist(), t["text"].to_pylist()):
        pts[s].add(int(hashlib.md5(txt.encode()).hexdigest()[:12], 16))
    want = {}
    for s, us in pts.items():
        srt = sorted(us)
        if len(srt) >= _KMV_K:
            kth = srt[_KMV_K - 1]
            est = (_KMV_K - 1) * (1 << 48) // kth
        else:
            kth, est = 0, len(srt)
        want[s] = (
            len(srt),
            kth,
            est,
            abs(est - len(srt)) * 1_000_000 // len(srt),
        )
    got = {
        r["source"]: (r["n_distinct"], r["kth_u48"], r["est"], r["err6"])
        for r in q_kmv_distinct_sketch(spark, sf_dir).collect()
    }
    assert got == want
    # estimator quality on this corpus: within 60% everywhere (k=16 is
    # coarse; the pin guards against gross construction errors)
    assert all(e <= 600_000 for *_, e in want.values())


def test_temporal_join_scd2_matches_pure_python(spark, sf_dir):
    from gasket_rs_spark.operators.warehouse import q_temporal_join_scd2

    t = pq.read_table(
        f"{sf_dir}/events.parquet",
        columns=["user_id", "event_id", "event_type", "ts", "value"],
    )
    rows = list(
        zip(
            t["user_id"].to_pylist(),
            t["event_id"].to_pylist(),
            t["event_type"].to_pylist(),
            [math.floor(x.timestamp()) for x in t["ts"].to_pylist()],
            [math.floor(v * 1e4 + 0.5) for v in t["value"].to_pylist()],
        )
    )
    dim = defaultdict(list)
    for uid, eid, et, ts, a4 in rows:
        if et == "purchase":
            dim[uid].append((ts, eid, a4))
    versions = {}
    for uid, ch in dim.items():
        ch.sort()
        versions[uid] = [
            (ts, ch[i + 1][0] if i + 1 < len(ch) else None, i + 1, a4)
            for i, (ts, _, a4) in enumerate(ch)
        ]
    agg = defaultdict(lambda: [0, set(), 0])
    for uid, eid, et, ts, _ in rows:
        if et != "click":
            continue
        hit = 0
        attr = 0
        for vf, vt, ver, a4 in versions.get(uid, []):
            if ts >= vf and (vt is None or ts < vt):
                hit, attr = ver, a4
                break
        a = agg[hit]
        a[0] += 1
        a[1].add(uid)
        a[2] += attr
    want = {v: (c, len(us), s) for v, (c, us, s) in agg.items()}
    got = {
        r["version"]: (r["n_clicks"], r["n_users"], r["attr_sum4"])
        for r in q_temporal_join_scd2(spark, sf_dir).collect()
    }
    assert got == want
    # point-in-time semantics: every click maps to exactly one version
    assert sum(c for c, _, _ in want.values()) == sum(
        1 for _, _, et, _, _ in rows if et == "click"
    )
