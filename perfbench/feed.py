"""Seeded flight feed, the FeatureTrack model it is checked against, and the
latency arithmetic that joins feed schedule to commit times.

Nothing here imports Spark: the self-tests exercise it in seconds, and the
workloads hand its lines to the program only as bytes on a socket or as
files on disk.
"""

from __future__ import annotations

import calendar
import hashlib
import random
import statistics
import time
from dataclasses import dataclass

#: event time of tick 0 (the FlightSim fixture's day, 2012-03-16 UTC)
EPOCH0_S = 1_331_906_400
MAX_PER_TRACK = 10  # FLIGHT_TRACK_CONFIG.max_per_track
AIRPORTS = ("IAD", "TPA", "ATL", "ORD", "DFW", "DEN", "SFO", "SEA", "BOS", "MIA")
AIRCRAFT = ("B733", "B738", "A320", "CRJ2", "E170")


@dataclass(frozen=True)
class Event:
    """One line of the feed: ``due`` is its scheduled send time in seconds
    after the feed starts; ``kind`` is new, dup (exact
    resend of an earlier line) or late (sent one tick after its event
    time)."""

    due: float
    flight: str
    tick: int
    kind: str
    line: str


def flight_time(tick: int) -> str:
    """``M/d/yyyy hh:mm:ss a`` for EPOCH0_S + tick seconds (UTC)."""
    t = time.gmtime(EPOCH0_S + tick)
    hour = t.tm_hour % 12 or 12
    ampm = "AM" if t.tm_hour < 12 else "PM"
    return f"{t.tm_mon}/{t.tm_mday}/{t.tm_year} {hour:02d}:{t.tm_min:02d}:{t.tm_sec:02d} {ampm}"


class Fleet:
    """``n`` seeded flights, each with a route, aircraft and a straight
    course; ``line(i, tick)`` renders flight i's report for a tick."""

    def __init__(self, rng: random.Random, n: int):
        self.ids = [f"F{i:05d}" for i in range(n)]
        self.params = []
        for _ in range(n):
            o, d = rng.sample(AIRPORTS, 2)
            self.params.append((
                rng.uniform(-120.0, -70.0), rng.uniform(26.0, 48.0),
                rng.uniform(-0.01, 0.01), rng.uniform(-0.01, 0.01),
                o, d, rng.choice(AIRCRAFT), rng.randrange(100, 400) * 100,
            ))

    def line(self, i: int, tick: int) -> str:
        lon, lat, dlon, dlat, o, d, ac, alt = self.params[i]
        return (
            f'"{self.ids[i]}","{flight_time(tick)}",{lon + dlon * tick:.6f},'
            f'{lat + dlat * tick:.6f},"{o}","{d}","{ac}",{alt}'
        )


def live_feed(
    seed: int, n_flights: int, ticks: int,
    dup_share: float = 0.05, late_share: float = 0.02,
) -> list[Event]:
    """Open-loop socket feed: every flight reports once per simulated
    second, sends staggered evenly across the second.  About ``dup_share``
    of reports are resent verbatim later in the same second and about
    ``late_share`` are sent one tick late.  Sorted by due time; the same
    arguments give the same list, so the same bytes on the wire."""
    rng = random.Random(seed)
    fleet = Fleet(rng, n_flights)
    order = list(range(n_flights))
    rng.shuffle(order)
    slot = {f: (k + 0.5) / n_flights for k, f in enumerate(order)}
    events = []
    for tick in range(ticks):
        for i in range(n_flights):
            line = fleet.line(i, tick)
            due = tick + slot[i]
            kind = "new"
            if rng.random() < late_share:
                due, kind = due + 1.0, "late"
            events.append(Event(due, fleet.ids[i], tick, kind, line))
            if rng.random() < dup_share:
                events.append(Event(due + rng.uniform(0.05, 0.5), fleet.ids[i], tick, "dup", line))
    events.sort(key=lambda e: e.due)
    return events


def feed_digest(events: list[Event]) -> str:
    """sha256 of the bytes the feed puts on the wire, in send order."""
    h = hashlib.sha256()
    for e in events:
        h.update(e.line.encode() + b"\n")
    return h.hexdigest()


# ---- the FeatureTrack model -------------------------------------------------

def parse_line(line: str) -> tuple:
    fid, ftime, lon, lat, o, d, ac, alt = (c.strip().strip('"') for c in line.split(","))
    return fid, ftime, float(lon), float(lat), o, d, ac, int(alt)


def track_model(lines, cap: int = MAX_PER_TRACK) -> dict[str, tuple]:
    """Pure-Python FeatureTrack over every line sent: per flight, drop a
    report whose timestamp the track already holds (first arrival wins),
    keep the ``cap`` newest by timestamp, and give (count, latest_ts_ms,
    oldest_ts_ms, latest longitude, latitude, origin, destination,
    aircraft, altitude) — the columns of the all-keys snapshot."""
    seen: dict[str, dict[int, tuple]] = {}
    for line in lines:
        fid, ftime, *vals = parse_line(line)
        ts_ms = calendar.timegm(time.strptime(ftime, "%m/%d/%Y %I:%M:%S %p")) * 1000
        seen.setdefault(fid, {}).setdefault(ts_ms, tuple(vals))
    out = {}
    for fid, by_ts in seen.items():
        kept = sorted(by_ts)[-cap:]
        out[fid] = (len(kept), kept[-1], kept[0], *by_ts[kept[-1]])
    return out


SNAPSHOT_COLUMNS = (
    "flightId", "track_count", "latest_ts_ms", "oldest_ts_ms", "latest_longitude",
    "latest_latitude", "latest_origin", "latest_destination", "latest_aircraft",
    "latest_altitude",
)


def snapshot_mismatches(rows, model: dict[str, tuple]) -> list[str]:
    """Compare snapshot rows (tuples in SNAPSHOT_COLUMNS order) with the
    model; returns one line per differing or missing key (empty = equal)."""
    got = {r[0]: tuple(r[1:]) for r in rows}
    bad = [f"missing {k}" for k in sorted(set(model) - set(got))]
    bad += [f"unexpected {k}" for k in sorted(set(got) - set(model))]
    bad += [
        f"{k}: snapshot {got[k]} != model {model[k]}"
        for k in sorted(set(got) & set(model)) if got[k] != model[k]
    ]
    return bad


# ---- latency ---------------------------------------------------------------

def batch_row_latencies(events: list[Event], t0: float, batches) -> list[float]:
    """Event-to-snapshot latency in ms, one sample per (flight, batch)
    snapshot row: the batch's commit time minus the scheduled send time of
    the newest-sent event of that flight in the batch.

    ``events`` are in wire order; ``batches`` are (first_line,
    end_line_exclusive, commit_wall_s) for each data batch; ``t0`` is the
    wall time of due == 0."""
    out = []
    for lo, hi, commit in batches:
        newest: dict[str, float] = {}
        for e in events[lo:hi]:
            newest[e.flight] = e.due  # wire order: later lines overwrite
        out.extend((commit - (t0 + due)) * 1000.0 for due in newest.values())
    return out


def pct(values, q: float) -> float:
    """q-th percentile (0 < q < 100), inclusive method; needs ≥ 2 values."""
    vals = sorted(values)
    if len(vals) == 1:
        return float(vals[0])
    cuts = statistics.quantiles(vals, n=100, method="inclusive")
    return float(cuts[int(q) - 1])
