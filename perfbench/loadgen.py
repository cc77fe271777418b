"""Seeded input generators (layer `bench.loadgen`).

Everything here is a pure function of the seed: the same seed gives
byte-identical rotations, tables and corpora, so a run can be repeated
and its outputs checked against the expected rows the generator
returns alongside the inputs. Nothing here imports Spark.

Trace lines are FoundationDB-shaped: about 20 fields per event, of
which the declared ingest schema keeps six (Severity, Machine,
LogGroup, Time, Type, ID). Severity and Time are rendered as JSON
numbers; real FDB traces quote every value (see perfbench/README.md).
"""

from __future__ import annotations

import gzip
import os
from dataclasses import dataclass

import numpy as np

# FDB-ish event types, most frequent first (the skew is applied by
# Zipf-like weights, so a few types dominate like in real traces).
TRACE_TYPES = [
    "Net2SlowTaskTrace", "StorageMetrics", "ProcessMetrics", "MachineMetrics",
    "TLogMetrics", "ProxyMetrics", "MemoryMetrics", "NetworkMetrics",
    "BgDDMountainChopper", "RkUpdate", "TransactionMetrics", "DiskMetrics",
    "SlowSSLoopx100", "ConnectionClosed", "MasterRecoveryState",
    "FetchKeysBlock", "RelocateShard", "TraceEventThrottle",
]
SEVERITIES = np.array([10, 20, 30, 40])
_SEV_P = np.array([0.86, 0.09, 0.04, 0.01])
ROLES = ["SS", "TL", "MP", "CP", "RK", "DD"]
# Zipf exponents: machines and types are skewed, not uniform.
_MACHINE_SKEW = 1.1
_TYPE_SKEW = 1.2
N_MACHINES = 48
# Trace times start late in a month so every backlog spans two
# toYYYYMM partitions (the rollup grain and the MergeTree partition law).
TRACE_T0_US = 1_706_659_200_000_000  # 2024-01-31T00:00:00Z


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def machine_name(i: int) -> str:
    return f"10.0.{i // 16}.{i % 16}:4500"


@dataclass(frozen=True)
class Rotation:
    """One rendered trace-log rotation and the normalized rows the
    pipeline must deliver for it, as (severity, machine, log_group,
    time_ms, type, id) tuples."""

    index: int
    text: str
    expected: list[tuple]


def trace_rotation(seed: int, index: int, n_lines: int, t0_us: int, step_us: int) -> Rotation:
    """Render rotation `index`: `n_lines` JSON lines whose Time runs
    from `t0_us` in `step_us` steps plus jitter. The ID carries the
    rotation index in its first four hex digits, so a delivered row
    names the rotation it came from."""
    rng = np.random.default_rng([seed, index])
    sev = rng.choice(SEVERITIES, size=n_lines, p=_SEV_P)
    mach = rng.choice(N_MACHINES, size=n_lines, p=_zipf_weights(N_MACHINES, _MACHINE_SKEW))
    typ = rng.choice(len(TRACE_TYPES), size=n_lines, p=_zipf_weights(len(TRACE_TYPES), _TYPE_SKEW))
    us = t0_us + np.arange(n_lines, dtype=np.int64) * step_us + rng.integers(0, step_us, n_lines)
    elapsed = rng.exponential(0.05, n_lines)
    version = 7_000_000_000 + us // 1000
    nbytes = rng.integers(0, 1 << 20, n_lines)
    role = rng.integers(0, len(ROLES), n_lines)
    thread = rng.integers(1 << 40, 1 << 41, n_lines)
    date = (us // 1_000_000).astype("datetime64[s]").astype(str)
    lines, expected = [], []
    for i in range(n_lines):
        t = int(us[i])
        sec, frac = divmod(t, 1_000_000)
        m = machine_name(int(mach[i]))
        ty = TRACE_TYPES[int(typ[i])]
        ev_id = f"{index:04x}{i:012x}"
        s = int(sev[i])
        lines.append(
            f'{{"Severity": {s}, "Time": {sec}.{frac:06d}, '
            f'"DateTime": "{date[i]}Z", '
            f'"Type": "{ty}", "ID": "{ev_id}", "Machine": "{m}", '
            f'"LogGroup": "default", "Roles": "{ROLES[int(role[i])]}", '
            f'"ThreadID": "{int(thread[i])}", "TrackLatestType": "Original", '
            f'"Elapsed": {elapsed[i]:.6f}, "Version": {int(version[i])}, '
            f'"Bytes": {int(nbytes[i])}, "Priority": {int(role[i]) % 3}, '
            f'"Reason": "None", "Tag": "0:{int(mach[i]) % 8}", '
            f'"Status": "Ready", "Locality": "dc1", "Count": {i % 97}, '
            f'"Backtrace": ""}}'
        )
        expected.append((s, m, "default", t // 1000, ty, ev_id))
    return Rotation(index, "\n".join(lines) + "\n", expected)


def write_rotation(rot: Rotation, path: str, *, gz: bool = False) -> str:
    """Write a rendered rotation; `.json.gz` when `gz`. Returns the path."""
    if gz:
        path += ".gz"
        with gzip.open(path, "wt", compresslevel=1) as f:
            f.write(rot.text)
    else:
        with open(path, "w") as f:
            f.write(rot.text)
    return path


def backlog(seed: int, log_dir: str, n_rotations: int, n_lines: int) -> list[tuple]:
    """A fixed backlog of rotated logs in `log_dir`: every odd
    rotation is gzipped (older rotations are compressed in real trace
    dirs). Returns the expected normalized rows of the whole backlog."""
    os.makedirs(log_dir, exist_ok=True)
    step_us = 20_000_000  # ~20 s between events, so the backlog spans months
    expected: list[tuple] = []
    for r in range(n_rotations):
        t0 = TRACE_T0_US + r * n_lines * step_us
        rot = trace_rotation(seed, r, n_lines, t0, step_us)
        write_rotation(rot, os.path.join(log_dir, f"trace.{r:04d}.json"), gz=r % 2 == 1)
        expected.extend(rot.expected)
    return expected


def live_rotations(seed: int, n_rotations: int, n_lines: int, first_index: int = 0) -> list[Rotation]:
    """Pre-rendered rotations for the open-loop live schedule, so the
    schedule itself only writes and renames."""
    step_us = 60_000_000  # one event a minute per rotation line: crosses a month
    return [
        trace_rotation(seed, r, n_lines, TRACE_T0_US + r * n_lines * step_us, step_us)
        for r in range(first_index, first_index + n_rotations)
    ]


# ------------------------------------------------------------ events

EVENT_TYPES = ["view", "click", "purchase", "login", "logout", "error"]
_EVENT_P = np.array([0.45, 0.25, 0.1, 0.08, 0.07, 0.05])
EVENTS_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EVENTS_SPAN_US = 90 * 86_400 * 1_000_000  # ~3 months


def events_table(seed: int, n_rows: int, n_users: int = 2_000):
    """The `events` table the OLAP operators read, as a pyarrow
    Table with the test star schema's columns: Zipf-skewed users,
    skewed event types, ~3 months of time, 2-decimal values and a
    JSON `props` payload (about 1 in 10 carries no `k`)."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 7])
    ts = np.sort(EVENTS_T0_US + rng.integers(0, EVENTS_SPAN_US, n_rows))
    user = np.minimum(rng.zipf(1.4, n_rows), n_users) - 1
    typ = rng.choice(len(EVENT_TYPES), size=n_rows, p=_EVENT_P)
    cents = rng.integers(1, 50_000, n_rows)
    k = rng.integers(0, 100, n_rows)
    has_k = rng.random(n_rows) >= 0.1
    props = [f'{{"k": {int(x)}}}' if h else '{"src": "web"}' for x, h in zip(k, has_k)]
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_rows, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(user.astype(np.int64)),
            "event_type": pa.array([EVENT_TYPES[i] for i in typ]),
            "value": pa.array(cents / 100.0),
            "props": pa.array(props),
        }
    )


# --------------------------------------------------------- documents

_VOCAB = [
    "spark", "stream", "batch", "query", "table", "scan", "join", "sort",
    "hash", "group", "window", "value", "key", "filter", "column", "order",
    "trace", "log", "event", "shard", "merge", "index", "store", "vector",
    "fast", "slow", "big", "small", "data", "part", "line", "agg",
]


def documents_table(seed: int, n_docs: int, dup_share: float = 0.15, near_share: float = 0.15):
    """(doc_id, text) corpus with planted duplicates: `dup_share` of
    the docs copy an earlier doc exactly, `near_share` copy one with
    about 5% of its tokens replaced. Returns a pyarrow Table."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 11])
    texts: list[str] = []
    for i in range(n_docs):
        u = rng.random()
        if i > 0 and u < dup_share:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 0 and u < dup_share + near_share:
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.choice(len(toks), size=max(1, len(toks) // 20), replace=False):
                toks[int(j)] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            texts.append(" ".join(toks))
        else:
            n = int(rng.integers(20, 80))
            texts.append(" ".join(_VOCAB[int(t)] for t in rng.integers(0, len(_VOCAB), n)))
    return pa.table(
        {"doc_id": pa.array(np.arange(n_docs, dtype=np.int64)), "text": pa.array(texts)}
    )
