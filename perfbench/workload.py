"""Seeded inputs and expected answers for the served-path benchmark.

Pure Python: no Spark and no sockets.  ``server.py`` ingests the line
protocol built here and ``run.py`` checks every response against the
answers computed here from the same seed, so the program only ever sees
generated inputs and is judged against an independent computation.

Field values are multiples of 1/8, so every sum and mean is exact in
binary floating point whatever order an engine adds them in.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

MEASUREMENT = "cpu"
FIELDS = ("usage", "temp")
REGIONS = ("us-east", "us-west", "eu-central", "ap-south")
SEC = 10**9
HOUR = 3600 * SEC
DAY = 24 * HOUR
#: 2023-11-14 00:00:00 UTC; each seed shifts the data by whole days so
#: hourly and daily partitions line up with the data the same way
BASE_NS = 1_699_920_000 * SEC

#: storage_read: READ_HOSTS series with READ_POINTS_PER_HOST points each
#: over READ_HOURS hours; the shares are of READ_HOSTS
READ_HOSTS = 50
READ_HOURS = 10
READ_POINTS_PER_HOST = 1000
READ_FILTER_SHARE = 0.2  # hosts ReadFilter's regex selects
REPLAY_SHARE = 0.1  # hosts whose replayed hour overlaps an append chunk
FLIGHT_SHARE = 0.1  # hosts the Flight SQL query selects (both workloads)
#: ingest_mixed: WRITERS connections; a body holds WRITE_HOSTS x
#: WRITE_STAMPS lines WRITE_STEP apart; every REPLAY_EVERY-th is a replay
WRITERS = 2
WRITE_HOSTS = 50
WRITE_STAMPS = 20
WRITE_STEP = 10 * SEC
REPLAY_EVERY = 10


@dataclass(frozen=True)
class Point:
    host: str
    region: str
    time: int
    usage: float
    temp: float

    def line(self) -> str:
        return (
            f"{MEASUREMENT},host={self.host},region={self.region} "
            f"usage={self.usage!r},temp={self.temp!r} {self.time}"
        )


def body(points: list[Point]) -> bytes:
    return ("\n".join(p.line() for p in points) + "\n").encode()


def epoch(seed: int) -> int:
    """Start of a seed's data: midnight UTC, one day later per seed."""
    return BASE_NS + (seed % 1000) * DAY


def _value(rng: random.Random, hi: int) -> float:
    return rng.randrange(hi * 8) / 8


def _hosts(n: int) -> list[str]:
    return [f"host{i:02d}" for i in range(n)]


def _regions(rng: random.Random, hosts: list[str]) -> dict[str, str]:
    # every region gets hosts, the rest are drawn by the seed
    return {
        h: REGIONS[i] if i < len(REGIONS) else rng.choice(REGIONS)
        for i, h in enumerate(hosts)
    }


def _share(rng: random.Random, hosts: list[str], share: float) -> list[str]:
    return rng.sample(hosts, max(1, int(len(hosts) * share)))


def host_regex(hosts: list[str]) -> str:
    return "^(" + "|".join(sorted(hosts)) + ")$"


# -- expected answers --------------------------------------------------------


def series_checksums(points) -> dict[tuple[str, str], tuple[int, float, int]]:
    """(host, field) -> (point count, value sum, timestamp sum), with
    duplicate (host, time) points counted once (last write wins; replays
    carry equal values)."""
    uniq = {(p.host, p.time): p for p in points}
    out: dict[tuple[str, str], list] = {}
    for p in uniq.values():
        for f in FIELDS:
            acc = out.setdefault((p.host, f), [0, 0.0, 0])
            acc[0] += 1
            acc[1] += getattr(p, f)
            acc[2] += p.time
    return {k: tuple(v) for k, v in out.items()}


def window_means(points, every: int, field_names=FIELDS, key="host"):
    """(key value, field) -> {window start: mean} over deduplicated points."""
    uniq = {(p.host, p.time): p for p in points}
    acc: dict[tuple[str, str], dict[int, list]] = {}
    for p in uniq.values():
        w = p.time - p.time % every
        for f in field_names:
            s = acc.setdefault((getattr(p, key), f), {}).setdefault(w, [0.0, 0])
            s[0] += getattr(p, f)
            s[1] += 1
    return {k: {w: s / n for w, (s, n) in ws.items()} for k, ws in acc.items()}


def row_sums(points, hosts, t0: int) -> tuple[int, float, float, int]:
    """(rows, sum usage, sum temp, sum of time offsets from ``t0``) of the
    deduplicated points of ``hosts`` — the Flight check."""
    keep = set(hosts)
    uniq = {(p.host, p.time): p for p in points if p.host in keep}
    return (
        len(uniq),
        sum(p.usage for p in uniq.values()),
        sum(p.temp for p in uniq.values()),
        sum(p.time - t0 for p in uniq.values()),
    )


def store_totals(points, t0: int) -> dict:
    """What a fresh reader of the whole store must see: one row per
    (host, time), value sums, and time as offsets from ``t0``."""
    uniq = {(p.host, p.time): p for p in points}
    return {
        "rows": len(uniq),
        "keys": len(uniq),
        "usage": sum(p.usage for p in uniq.values()),
        "temp": sum(p.temp for p in uniq.values()),
        "time": sum(p.time - t0 for p in uniq.values()),
    }


# -- storage_read --------------------------------------------------------------


@dataclass
class ReadStore:
    """The preloaded store of ``storage_read``.

    READ_HOSTS series report at even steps for READ_HOURS hours.  All of
    it is ingested as one body under an hourly partition template, which
    gives one append chunk per hour; ``replay`` re-sends one hour of a
    REPLAY_SHARE of the hosts, a chunk that overlaps the append chunk of
    that hour, so every full-range scan takes the dedup path."""

    seed: int
    t0: int = field(init=False)
    points: list[Point] = field(init=False)
    replay: list[Point] = field(init=False)
    filter_hosts: list[str] = field(init=False)
    flight_hosts: list[str] = field(init=False)

    def __post_init__(self):
        rng = random.Random(f"storage_read:{self.seed}")
        self.t0 = epoch(self.seed)
        step = READ_HOURS * HOUR // READ_POINTS_PER_HOST
        hosts = _hosts(READ_HOSTS)
        region = _regions(rng, hosts)
        self.points = [
            Point(h, region[h], self.t0 + i * step, _value(rng, 100), _value(rng, 90))
            for i in range(READ_POINTS_PER_HOST)
            for h in hosts
        ]
        replay_hosts = set(_share(rng, hosts, REPLAY_SHARE))
        hour = rng.randrange(READ_HOURS)
        lo, hi = self.t0 + hour * HOUR, self.t0 + (hour + 1) * HOUR
        self.replay = [
            p for p in self.points if p.host in replay_hosts and lo <= p.time < hi
        ]
        self.filter_hosts = sorted(_share(rng, hosts, READ_FILTER_SHARE))
        self.flight_hosts = sorted(_share(rng, hosts, FLIGHT_SHARE))

    @property
    def t_end(self) -> int:
        return self.t0 + READ_HOURS * HOUR

    def read_filter_expected(self):
        keep = set(self.filter_hosts)
        return series_checksums(p for p in self.points if p.host in keep)

    def window_agg_expected(self):
        return window_means(self.points, HOUR)

    def flight_expected(self):
        return row_sums(self.points, self.flight_hosts, self.t0)


# -- ingest_mixed --------------------------------------------------------------


@dataclass
class WriteBody:
    index: int
    points: list[Point]
    replay_of: int | None  # index of the same writer's body it repeats
    data: bytes = b""

    def __post_init__(self):
        self.data = body(self.points)


@dataclass
class IngestPlan:
    """The write traffic of ``ingest_mixed``.

    Each of WRITERS writers sends ``bodies_per_writer`` bodies of
    ``n_hosts * stamps`` lines.  Bodies carry new timestamps (writers
    interleave time slots) except every REPLAY_EVERY-th, which re-sends
    one of the same writer's earlier bodies — already acknowledged by the
    time it is sent, so visibility stays a prefix of each writer's
    sequence.  ``n_hosts`` and ``stamps`` shrink only in the self-tests."""

    seed: int
    bodies_per_writer: int
    n_hosts: int = WRITE_HOSTS
    stamps: int = WRITE_STAMPS
    t0: int = field(init=False)
    bodies: list[list[WriteBody]] = field(init=False)
    flight_hosts: list[str] = field(init=False)
    warmup: list[Point] = field(init=False)

    def __post_init__(self):
        rng = random.Random(f"ingest_mixed:{self.seed}")
        self.t0 = epoch(self.seed)
        hosts = _hosts(self.n_hosts)
        region = _regions(rng, hosts)
        span = self.stamps * WRITE_STEP

        def points(t_start):
            return [
                Point(h, region[h], t_start + j * WRITE_STEP, _value(rng, 100), _value(rng, 90))
                for j in range(self.stamps)
                for h in hosts
            ]

        self.bodies = []
        for w in range(WRITERS):
            seq: list[WriteBody] = []
            fresh = 0
            for i in range(self.bodies_per_writer):
                if (i + 1) % REPLAY_EVERY == 0:
                    src = rng.choice([b for b in seq if b.replay_of is None])
                    seq.append(WriteBody(i, src.points, src.index))
                else:
                    slot = fresh * WRITERS + w
                    seq.append(WriteBody(i, points(self.t0 + slot * span), None))
                    fresh += 1
            self.bodies.append(seq)
        self.flight_hosts = sorted(_share(rng, hosts, FLIGHT_SHARE))
        # set-up writes go to a scratch store, a day before the measured data
        self.warmup = points(self.t0 - DAY)

    @property
    def t_end(self) -> int:
        fresh = sum(1 for seq in self.bodies for b in seq if b.replay_of is None)
        slots = -(-fresh // WRITERS) * WRITERS
        return self.t0 + slots * self.stamps * WRITE_STEP

    def visible_points(self, prefix: tuple[int, ...]) -> list[Point]:
        """Points visible once writer w's first prefix[w] bodies landed."""
        return [
            p
            for w, k in enumerate(prefix)
            for b in self.bodies[w][:k]
            if b.replay_of is None
            for p in b.points
        ]

    def influxql_expected(self, prefix):
        """region -> {hour start: mean usage} (non-empty windows only)."""
        got = window_means(self.visible_points(prefix), HOUR, ("usage",), key="region")
        return {r: ws for (r, _f), ws in got.items()}

    def flight_expected(self, prefix):
        return row_sums(self.visible_points(prefix), self.flight_hosts, self.t0)


def candidate_prefixes(lo: tuple[int, ...], hi: tuple[int, ...]):
    """Every per-writer prefix a read could have seen: at least the bodies
    acknowledged before it was sent, at most those sent before it returned."""
    out = [()]
    for a, b in zip(lo, hi):
        out = [p + (k,) for p in out for k in range(a, b + 1)]
    return out


# -- statistics ----------------------------------------------------------------


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """Highest whole percentile with at least ``beyond`` of ``n`` samples
    above its nearest-rank position, or None when n is too small."""
    for p in range(99, 0, -1):
        rank = -(-p * n // 100)  # ceil(p * n / 100), 1-based
        if rank >= 1 and n - rank >= beyond:
            return p
    return None


def percentile(values, p: int) -> float:
    """Nearest-rank percentile."""
    xs = sorted(values)
    rank = max(1, -(-p * len(xs) // 100))
    return xs[rank - 1]


def median(values) -> float:
    xs = sorted(values)
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2
