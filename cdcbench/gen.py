"""Seeded input generators and the independent replay oracle.

Everything the engine sees comes from here: Debezium change-event files for
the CDC workloads (FIXTURES.md §3 shape, 7-column ``employees``). The same
seed always produces byte-identical inputs.

The oracle side (``replay`` and ``table_digest``) is plain Python over the
generated events; it shares no code with the engine.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
from dataclasses import dataclass, field

DEPARTMENTS = ("IT", "HR", "Sales", "Marketing")
_FIRST = (
    "Ada Alan Grace Linus Barbara Edsger Donald Ken Dennis Margaret John Frances "
    "Tony Leslie Niklaus Radia Shafi Whitfield Sophie Tim Bjarne Guido Anders "
    "Yukihiro Rasmus Larry James Brian Robin Judea"
).split()
_LAST = (
    "Lovelace Turing Hopper Torvalds Liskov Dijkstra Knuth Thompson Ritchie "
    "Hamilton McCarthy Allen Hoare Lamport Wirth Perlman Goldwasser Diffie "
    "Wilson Berners Stroustrup Rossum Hejlsberg Matsumoto Lerdorf Wall Gosling "
    "Kernighan Milner Pearl"
).split()
_DOMAINS = ("example.com", "acme.io", "initech.net", "globex.org", "umbrella.co")
_DATES = [(dt.date(2000, 1, 1) + dt.timedelta(days=d)).isoformat() for d in range(8000)]
TOPIC = "debezium1.public.employees"


@dataclass
class CdcFeed:
    """One generated change feed: files on disk plus the events they hold.

    ``batches[i]`` is the list of (lsn, op, row) events of file ``files[i]``
    in file order; ``row`` is the after-image (or the before-image for a
    delete) as a dict of JSON-level values (``created_at`` as ISO string).
    """

    files: list[str] = field(default_factory=list)
    batches: list[list[tuple[int, str, dict]]] = field(default_factory=list)
    input_bytes: list[int] = field(default_factory=list)

    def events(self, first: int = 0) -> int:
        """Change events in the batches from ``first`` on."""
        return sum(len(b) for b in self.batches[first:])


class CdcGenerator:
    """Debezium ``employees`` change feed with a hot-key update skew.

    A change batch holds ``batch_events`` events: about 78 % single updates
    (80 % of them on the hot 10 % of keys), 5 % updates written as
    out-of-order pairs on one key (the higher-LSN event first, so latest-wins
    must order by LSN, not by file position), 12 % inserts of new ids and
    5 % deletes carrying only the before-image. Pairs stay inside one batch:
    a micro-batch is the unit the engine orders within.
    """

    #: Cumulative draw thresholds: single update, out-of-order pair, insert;
    #: the remainder is a delete. A pair is two events per draw.
    _UPDATE, _PAIR, _INSERT = 0.80, 0.825, 0.945
    #: Share of updates and deletes aimed at the hot 10 % of keys.
    _HOT = 0.80

    def __init__(self, seed: int, keys: int, batch_events: int) -> None:
        self.rng = random.Random(seed)
        self.keys = keys
        self.batch_events = batch_events
        self.lsn = 1000
        self.next_id = 1
        self.offset = 0
        self.live: list[int] = []
        self.pos: dict[int, int] = {}
        self.state: dict[int, dict] = {}
        self._second_prefix: dict[int, str] = {}

    def _row(self, key: int) -> dict:
        u = self.rng.random
        first, last = _FIRST[int(u() * len(_FIRST))], _LAST[int(u() * len(_LAST))]
        domain = _DOMAINS[int(u() * len(_DOMAINS))]
        return {
            "id": key,
            "full_name": f"{first} {last}",
            "email": f"{first.lower()}.{last.lower()}{key % 97}@{domain}",
            "phone": "+1-%03d-%03d-%04d"
            % (200 + int(u() * 800), 100 + int(u() * 900), int(u() * 10000)),
            "department": DEPARTMENTS[int(u() * 4)],
            "salary": 10000 + int(u() * 140001),
            "created_at": _DATES[int(u() * len(_DATES))],
        }

    def _add_live(self, key: int) -> None:
        self.pos[key] = len(self.live)
        self.live.append(key)

    def _drop_live(self, key: int) -> None:
        i = self.pos.pop(key)
        last = self.live.pop()
        if last != key:
            self.live[i] = last
            self.pos[last] = i

    def _pick_live(self, exclude: set[int]) -> int:
        r = self.rng
        # Hot set: the lowest-numbered 10 % of ids ever created, as long as
        # they are still live; otherwise fall back to a uniform pick.
        for _ in range(8):
            if r.random() < self._HOT:
                key = 1 + int(r.random() * max(1, self.keys // 10))
                if key not in self.pos:
                    continue
            else:
                key = self.live[int(r.random() * len(self.live))]
            if key not in exclude:
                return key
        while True:
            key = self.live[int(r.random() * len(self.live))]
            if key not in exclude:
                return key

    def _next_lsn(self) -> int:
        self.lsn += 1 + int(self.rng.random() * 7)
        return self.lsn

    def snapshot_batch(self) -> list[tuple[int, str, dict]]:
        """Initial snapshot: one ``op='r'`` read event per key."""
        out = []
        for _ in range(self.keys):
            key = self.next_id
            self.next_id += 1
            row = self._row(key)
            self.state[key] = row
            self._add_live(key)
            out.append((self._next_lsn(), "r", row))
        return out

    def change_batch(self) -> list[tuple[int, str, dict]]:
        r = self.rng
        n = self.batch_events
        out: list[tuple[int, str, dict]] = []
        deleted: set[int] = set()
        while len(out) < n:
            x = r.random()
            if x < self._UPDATE:
                key = self._pick_live(deleted)
                row = self._row(key)
                self.state[key] = row
                out.append((self._next_lsn(), "u", row))
            elif x < self._PAIR:
                if len(out) + 2 > n:
                    continue
                key = self._pick_live(deleted)
                first, second = self._next_lsn(), self._next_lsn()
                a, b = self._row(key), self._row(key)
                self.state[key] = b
                out.append((second, "u", b))
                out.append((first, "u", a))
            elif x < self._INSERT:
                key = self.next_id
                self.next_id += 1
                row = self._row(key)
                self.state[key] = row
                self._add_live(key)
                out.append((self._next_lsn(), "c", row))
            else:
                if len(self.live) <= 1:
                    continue
                key = self._pick_live(deleted)
                deleted.add(key)
                self._drop_live(key)
                before = self.state.pop(key)
                out.append((self._next_lsn(), "d", before))
        return out

    def _kafka_timestamp(self, ts_ms: int) -> str:
        sec, ms = divmod(ts_ms, 1000)
        prefix = self._second_prefix.get(sec)
        if prefix is None:
            prefix = self._second_prefix[sec] = dt.datetime.fromtimestamp(
                sec, dt.timezone.utc
            ).strftime("%Y-%m-%dT%H:%M:%S")
        return "%s.%03dZ" % (prefix, ms)

    def write(self, events: list[tuple[int, str, dict]], path: str) -> int:
        """Write one batch as Kafka-shaped JSON lines (the
        ``file_envelope_source`` record shape); returns the file size.

        Lines are formatted directly: every generated string is plain ASCII
        without quotes or backslashes, so no JSON escaping is needed beyond
        the fixed one of the envelope nested in ``value``."""
        lines = []
        for lsn, op, row in events:
            img = _ROW_JSON % row
            before, after = (img, "null") if op == "d" else ("null", img)
            ts_ms = 1_700_000_000_000 + lsn
            lines.append(
                _LINE_JSON
                % (row["id"], before, after, lsn, ts_ms, op, ts_ms, self.offset,
                   self._kafka_timestamp(ts_ms))
            )
            self.offset += 1
        data = "".join(lines).encode()
        with open(path, "wb") as f:
            f.write(data)
        return len(data)


#: One employees row as JSON nested inside the ``value`` string (quotes
#: pre-escaped once for the outer JSON line).
_ROW_JSON = (
    '{\\"id\\":%(id)d,\\"full_name\\":\\"%(full_name)s\\",'
    '\\"email\\":\\"%(email)s\\",\\"phone\\":\\"%(phone)s\\",'
    '\\"department\\":\\"%(department)s\\",\\"salary\\":%(salary)d,'
    '\\"created_at\\":\\"%(created_at)s\\"}'
)
_LINE_JSON = (
    '{"key":"%d","value":"{\\"payload\\":{\\"before\\":%s,\\"after\\":%s,'
    '\\"source\\":{\\"lsn\\":%d,\\"ts_ms\\":%d,\\"table\\":\\"employees\\"},'
    '\\"op\\":\\"%s\\",\\"ts_ms\\":%d}}",'
    '"topic":"' + TOPIC + '","partition":0,"offset":%d,"timestamp":"%s"}\n'
)


def generate_feed(
    out_dir: str, seed: int, keys: int, batch_events: int, change_batches: int
) -> CdcFeed:
    """Snapshot file + ``change_batches`` change files under ``out_dir``.
    File names sort in batch order (the file source's processing order)."""
    os.makedirs(out_dir, exist_ok=True)
    g = CdcGenerator(seed, keys, batch_events)
    feed = CdcFeed()
    for i in range(change_batches + 1):
        events = g.snapshot_batch() if i == 0 else g.change_batch()
        path = os.path.join(out_dir, f"batch-{i:05d}.json")
        feed.files.append(path)
        feed.batches.append(events)
        feed.input_bytes.append(g.write(events, path))
    return feed


# -- oracle -------------------------------------------------------------------


def apply_batch(state: dict[int, dict], events) -> None:
    """Apply one batch to the replay state in LSN order; a delete removes
    the key."""
    for _lsn, op, row in sorted(events, key=lambda e: e[0]):
        if op == "d":
            state.pop(row["id"], None)
        else:
            state[row["id"]] = row


def replay(batches: list[list[tuple[int, str, dict]]]) -> dict[int, dict]:
    """Final table state by plain dict replay of every batch in order."""
    state: dict[int, dict] = {}
    for batch in batches:
        apply_batch(state, batch)
    return state


COLUMNS = ("id", "full_name", "email", "phone", "department", "salary", "created_at")


def _canon(values) -> str:
    return "\x1f".join("" if v is None else str(v) for v in values)


def table_digest(rows) -> tuple[int, str]:
    """(row count, order-insensitive digest) over rows given as tuples in
    ``COLUMNS`` order. Dates must already be ISO strings."""
    acc = 0
    n = 0
    for row in rows:
        h = hashlib.blake2b(_canon(row).encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(h, "little")) % (1 << 64)
        n += 1
    return n, f"{acc:016x}"


def oracle_digest(state: dict[int, dict]) -> tuple[int, str]:
    return table_digest(tuple(r[c] for c in COLUMNS) for r in state.values())


def dept_stats(state: dict[int, dict]) -> dict[str, tuple[int, float]]:
    """Per-department (count, avg salary) — the oracle of the analytic read."""
    acc: dict[str, list[int]] = {}
    for r in state.values():
        a = acc.setdefault(r["department"], [0, 0])
        a[0] += 1
        a[1] += r["salary"]
    return {d: (c, s / c) for d, (c, s) in acc.items()}
