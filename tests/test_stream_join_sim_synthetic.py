"""Synthetic-corpus pins for the stream-join batch sims (ADVICE r12).

The fixture corpora always have BOTH clicks and purchases, so the
one-sided-input guard (wm = NULL unless both sides produced data — the
divergence-vs-real-stream ADVICE r12 flagged) and the eviction
thresholds' edge behavior are unreachable through the normal gate.
These tests write tiny synthetic event tables (same parquet schema as
the fixture, read through tables.load like the witnesses do) and pin the
sims against an independent pure-Python reference implementing the
documented emission contract:

  matched pairs: cu == pu, pts - H <= cts <= pts
  wm           : min(max cts, max pts) - H, NULL if either side empty
  null purchase: unmatched and pts < wm          (left/full-outer)
  null click   : unmatched and cts < wm - H      (full/right-outer)
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

H_MS = 3_600_000
BASE = 1_700_000_000_000  # ms epoch, arbitrary


def _write_events(tmpdir: str, rows: list[tuple[int, int, str, int]]) -> str:
    """rows = (event_id, user_id, event_type, ts_ms) -> sf-dir path."""
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [r[3] * 1000 for r in rows], pa.timestamp("us")
            ),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows], pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(tmpdir, "events.parquet"))
    return tmpdir


def _reference(rows, how: str):
    clicks = [(e, u, t) for e, u, ty, t in rows if ty == "click"]
    purch = [(e, u, t) for e, u, ty, t in rows if ty == "purchase"]
    out = set()
    matched_c, matched_p = set(), set()
    for pid, pu, pts in purch:
        for cid, cu, cts in clicks:
            if cu == pu and pts - H_MS <= cts <= pts:
                out.add((pid, cid, pu))
                matched_p.add(pid)
                matched_c.add(cid)
    wm = (
        min(max(t for _, _, t in clicks), max(t for _, _, t in purch)) - H_MS
        if clicks and purch
        else None
    )
    if wm is not None:
        if how != "right":
            for pid, pu, pts in purch:
                if pid not in matched_p and pts < wm:
                    out.add((pid, None, pu))
        if how != "left":
            for cid, cu, cts in clicks:
                if cid not in matched_c and cts < wm - H_MS:
                    out.add((None, cid, cu))
    return out


def _run_sim(spark, sf_dir, how: str):
    from gasket_rs_spark.streaming import windows

    fn, user = {
        "left": (windows.q_stream_left_outer_join_sim, "p_user"),
        "full": (windows.q_stream_full_outer_join_sim, "join_user"),
        "right": (windows.q_stream_right_outer_join_sim, "c_user"),
    }[how]
    rows = fn(spark, sf_dir).collect()
    return {(r["purchase_id"], r["click_id"], r[user]) for r in rows}


# Each case: (label, rows). Minutes offsets keep the arithmetic readable.
def _m(minutes: int) -> int:
    return BASE + minutes * 60_000


CASES = [
    (
        # both emission classes + withheld tails on both sides:
        # u1: click at t0 matches purchase at t30 (in horizon).
        # u2: purchase at t10, no click -> unmatched; wm decides.
        # u3: click at t5, no purchase -> unmatched (full-outer only).
        # late rows at t600 push both maxes so wm = t600 - 60min = t540:
        #   u2 purchase t10 < wm -> null-extends; u3 click t5 < wm - 60min
        #   = t480 -> null-extends; the t600 rows themselves are withheld
        #   (u4 purchase t600 >= wm; u5 click t600 >= wm - H).
        "all_classes",
        [
            (1, 1, "click", _m(0)),
            (2, 1, "purchase", _m(30)),
            (3, 2, "purchase", _m(10)),
            (4, 3, "click", _m(5)),
            (5, 4, "purchase", _m(600)),
            (6, 5, "click", _m(600)),
        ],
    ),
    (
        # ADVICE r12 divergence case: purchases only. A naive
        # min-over-present-sides wm would null-extend everything; the
        # real stream (watermark at epoch 0) emits nothing.
        "one_sided_purchases_only",
        [
            (1, 1, "purchase", _m(0)),
            (2, 2, "purchase", _m(100)),
        ],
    ),
    (
        # one-sided the other way: clicks only -> nothing emits.
        "one_sided_clicks_only",
        [
            (1, 1, "click", _m(0)),
            (2, 2, "click", _m(100)),
        ],
    ),
    (
        # boundary pins: cts == pts matches; cts == pts - H matches
        # (inclusive both ends); cts == pts + 1ms does not.
        "interval_boundaries",
        [
            (1, 1, "click", _m(30)),
            (2, 1, "purchase", _m(30)),
            (3, 2, "click", _m(0)),
            (4, 2, "purchase", _m(60)),
            (5, 3, "purchase", _m(20)),
            (6, 3, "click", _m(20) + 1),
            (7, 9, "click", _m(600)),
            (8, 9, "purchase", _m(600)),
        ],
    ),
    (
        # eviction boundaries: wm = min-of-maxes - H exactly; a purchase
        # AT wm is withheld (strict <), one 1ms older null-extends; a
        # click AT wm - H is withheld, one 1ms older null-extends.
        "eviction_boundaries",
        [
            (1, 1, "purchase", _m(540)),          # == wm -> withheld
            (2, 2, "purchase", _m(540) - 1),      # < wm -> null row
            (3, 3, "click", _m(480)),             # == wm - H -> withheld
            (4, 4, "click", _m(480) - 1),         # < wm - H -> null row (FOJ)
            (5, 8, "click", _m(600)),             # sets max click ts
            (6, 9, "purchase", _m(600)),          # sets max purchase ts
        ],
    ),
]


@pytest.mark.parametrize("label,rows", CASES, ids=[c[0] for c in CASES])
@pytest.mark.parametrize("how", ["left", "full", "right"], ids=["loj", "foj", "roj"])
def test_stream_join_sim_synthetic(spark, tmp_path, label, rows, how):
    sf_dir = _write_events(str(tmp_path), rows)
    got = _run_sim(spark, sf_dir, how)
    want = _reference(rows, how)
    assert got == want, (label, sorted(got, key=str), sorted(want, key=str))
