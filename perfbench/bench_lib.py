"""Pure helpers of the benchmark: workload constants, percentile rule,
span self-time arithmetic, result digests and /proc readers.

Nothing here imports pyspark, so the helpers are testable without a JVM
(``python3 -m pytest perfbench``).
"""

from __future__ import annotations

import hashlib
import math
import os
from decimal import Decimal

# The 23 headline queries, copied from bench.py's HEADLINE at the commit that
# defined this benchmark, so later edits to bench.py cannot change the workload.
HEADLINE = (
    "flagship_revenue_by_region",
    "agg_hash",
    "join_theta_range",
    "asof_join",
    "rollup_agg",
    "window_frames",
    "topk_per_group",
    "json_funcs",
    "array_funcs",
    "dedup_exact",
    "dedup_incremental",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_lsh",
    "dedup_components_lsh",
    "similarity_topk",
    "similarity_ann_lsh",
    "text_token_counts",
    "text_quality_score",
    "text_tfidf_top",
    "multimodal_features",
    "stream_tumbling",
    "stream_session",
)

# Headline family -> the registry modules whose queries it sums.
FAMILY_MODULES = {
    "relational": ("operators.relational", "functions.scalar", "streaming.windows"),
    "dedup": ("operators.dedup",),
    "similarity": ("operators.similarity",),
    "text": ("operators.text", "operators.multimodal"),
}

# The five headline queries without a DuckDB oracle: checked by row count
# and an order-insensitive digest pinned when the benchmark was defined.
ROWS_ONLY = (
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_lsh",
    "dedup_components_lsh",
    "similarity_ann_lsh",
)

# The 20 registry modules, short names (package prefix dropped).
MODULES = (
    "operators.relational",
    "functions.scalar",
    "operators.text",
    "operators.dedup",
    "operators.curation",
    "operators.similarity",
    "operators.multimodal",
    "streaming.windows",
    "streaming.stream",
    "pipeline.witnesses",
    "functions.udf",
    "operators.stats",
    "operators.analytics",
    "operators.skew",
    "operators.profile",
    "operators.pii",
    "operators.sketches",
    "operators.warehouse",
    "operators.graph",
    "operators.bpe",
)


def short_module(modname: str) -> str:
    """'gasket_rs_spark.operators.dedup' -> 'operators.dedup'."""
    return modname.split(".", 1)[1] if modname.startswith("gasket_rs_spark.") else modname


def family_of(query_to_module: dict[str, str]) -> dict[str, str]:
    """Map each headline query to its family via its module. Raises if a
    query falls in no family or in two."""
    out: dict[str, str] = {}
    for q in HEADLINE:
        mod = query_to_module[q]
        hits = [f for f, mods in FAMILY_MODULES.items() if mod in mods]
        if len(hits) != 1:
            raise ValueError(f"{q} ({mod}) is in {len(hits)} families")
        out[q] = hits[0]
    return out


# -- percentiles ------------------------------------------------------------


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (numpy's default rule), q in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no values")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_level(n: int, beyond: int = 10, cap: float = 0.9) -> float:
    """The highest percentile (a fraction with two decimals) that still has
    at least ``beyond`` of ``n`` samples above it, at most ``cap`` and at
    least the median."""
    if n <= 0:
        raise ValueError("no samples")
    level = math.floor((1.0 - beyond / n) * 100 + 1e-9) / 100
    return min(max(level, 0.5), cap)


# -- spans ------------------------------------------------------------------


def _union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict[int, float]:
    """Self time per span id: its duration minus the part of its interval
    covered by its children (clipped to the parent's interval).

    ``spans`` is a list of dicts with ``id``, ``parent``, ``start``, ``end``.
    """
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = by_id.get(s["parent"])
        if p is not None:
            kids.setdefault(p["id"], []).append(
                (max(s["start"], p["start"]), min(s["end"], p["end"]))
            )
    return {
        s["id"]: (s["end"] - s["start"]) - _union_length(
            (a, b) for a, b in kids.get(s["id"], []) if b > a
        )
        for s in spans
    }


def layer_self_times(spans, root_id: int) -> tuple[dict[str, float], float]:
    """Sum self time by span name over the subtree under ``root_id``.
    Returns (per-name self time, the root's own self time = the gap no
    layer span covers). The values sum to the root span's duration."""
    selfs = self_times(spans)
    children: dict[int, list[dict]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    layers: dict[str, float] = {}
    stack = list(children.get(root_id, []))
    while stack:
        s = stack.pop()
        layers[s["name"]] = layers.get(s["name"], 0.0) + selfs[s["id"]]
        stack.extend(children.get(s["id"], []))
    return layers, selfs[root_id]


class Tracer:
    """In-memory spans (name, start, end, parent, run id). Disabled
    tracers hand out no-op spans so the untraced path pays one branch."""

    def __init__(self, run_id: str, enabled: bool, clock=None):
        import time

        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._clock = clock or time.perf_counter

    def span(self, name: str):
        return _Span(self, name)

    def dump(self, path: str) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


class _Span:
    __slots__ = ("_t", "_name", "record")

    def __init__(self, tracer: Tracer, name: str):
        self._t = tracer
        self._name = name
        self.record: dict | None = None

    def __enter__(self):
        t = self._t
        if not t.enabled:
            return self
        self.record = {
            "id": len(t.spans),
            "name": self._name,
            "parent": t._stack[-1] if t._stack else -1,
            "run": t.run_id,
            "start": t._clock(),
            "end": None,
        }
        t.spans.append(self.record)
        t._stack.append(self.record["id"])
        return self

    def __exit__(self, *exc):
        if self.record is not None:
            self.record["end"] = self._t._clock()
            self._t._stack.pop()
        return False


# -- result digests -----------------------------------------------------------


def canon_cell(v) -> str:
    """One cell as a stable string: floats rounded to 9 significant digits
    (so platform last-ulp noise cannot flip a digest), -0.0 folded into
    0.0, NaN spelled out, NULL as a NUL byte no text cell holds, nested
    values canonicalized recursively."""
    if v is None:
        return "\x00"
    if isinstance(v, str):
        return v
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0.0:
            return "0.0"
        return format(v, ".9g")
    if isinstance(v, int):
        return str(v)
    if isinstance(v, Decimal):
        return canon_cell(float(v))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{canon_cell(k)}:{canon_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    return repr(v)


def rows_digest(columns, rows) -> str:
    """Order-insensitive digest of a result: columns sorted by name, each
    row canonicalized, rows sorted, then sha256 of the joined text."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(canon_cell(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256()
    h.update("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return h.hexdigest()


# -- /proc readers ------------------------------------------------------------

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant (by parent pid)."""
    parent: dict[int, int] = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            st = stat_fields(int(p))
            if st is not None:
                parent[int(p)] = int(st[1])
    tree, frontier = [root], [root]
    while frontier:
        frontier = [c for c, pp in parent.items() if pp in frontier]
        tree.extend(frontier)
    return tree


def tree_rss_bytes(pids) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


def proc_cpu_s(pid: int) -> float:
    """utime+stime of one process plus that of its reaped children, in seconds."""
    st = stat_fields(pid)
    if st is None:
        return 0.0
    return (int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])) / CLK_TCK


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def process_age_s() -> float:
    """Seconds since this process started."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(stat_fields(os.getpid())[19]) / CLK_TCK


def host_busy_s() -> float:
    """Non-idle CPU seconds of the whole host since boot (/proc/stat)."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (sum(vals) - vals[3] - vals[4]) / CLK_TCK
