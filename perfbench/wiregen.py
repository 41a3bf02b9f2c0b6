"""Seeded Debezium wire generator and the pure-Python reference fold.

Nothing here imports the engine or Spark: the wire is built with plain
``json`` and ``random`` so the benchmark's inputs and its correctness
oracle cannot share a bug with the code under test.

Wire record (one JSON line per change event, the columns of the engine's
file/Kafka source): ``{"_seq", "topic", "op", "value"}`` where ``value``
is the Debezium ``{"schema": ..., "payload": ...}`` envelope after
``ExtractNewRecordState``; timestamps ride as
``io.debezium.time.MicroTimestamp`` int64 epoch-microseconds.

Fold semantics (SURVEY section 0, the engine's default mode): delete
events are dropped, never applied; each key keeps the event with the
highest ``(updated_at, _seq)``; corrupt records are skipped (the engine
routes them to its dead-letter queue).
"""

from __future__ import annotations

import bisect
import hashlib
import json
import os
import random
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field

MICRO_TS = "io.debezium.time.MicroTimestamp"
T0_US = 1_754_155_842_030_174  # 2025-08-02 17:30:42.030174, the reference's golden ts
_TIERS = ("Bronze", "Silver", "Gold", "Platinum")
_STATUSES = ("new", "paid", "shipped", "delivered", "returned")
DELETE_FRAC = 0.05  # share of records that are deletes (the engine drops them)
LATE_FRAC = 0.02  # share of records whose updated_at is older than their position


@dataclass(frozen=True)
class Table:
    """A mirrored source table: name, primary key, and wire fields as
    ``(name, connect type, optional, logical name)``."""

    name: str
    key: str
    fields: tuple[tuple[str, str, bool, str | None], ...]

    @property
    def topic(self) -> str:
        return f"postgres_cdc.iman.{self.name}"

    @property
    def columns(self) -> list[str]:
        return [f[0] for f in self.fields]

    def schema_json(self) -> str:
        return json.dumps(
            {
                "type": "struct",
                "fields": [
                    {
                        "type": t,
                        "optional": opt,
                        "name": logical,
                        "version": 1 if logical else None,
                        "field": name,
                    }
                    for name, t, opt, logical in self.fields
                ],
                "optional": False,
                "name": f"{self.topic}.Value",
            },
            separators=(",", ":"),
        )


# reference postgres-init/init.sql:5-11
USERS = Table(
    "users",
    "user_id",
    (
        ("user_id", "int32", False, None),
        ("username", "string", True, None),
        ("account_type", "string", True, None),
        ("updated_at", "int64", True, MICRO_TS),
        ("created_at", "int64", True, MICRO_TS),
    ),
)
# an orders-shaped second table: bigint, double and timestamp columns
ORDERS = Table(
    "orders",
    "order_id",
    (
        ("order_id", "int64", False, None),
        ("user_id", "int64", True, None),
        ("amount", "double", True, None),
        ("status", "string", True, None),
        ("updated_at", "int64", True, MICRO_TS),
        ("created_at", "int64", True, MICRO_TS),
    ),
)


def envelope(table: Table, payload: dict, schema_json: str | None = None) -> str:
    """The wire ``value``: the Debezium ``{schema, payload}`` pair."""
    schema_json = schema_json or table.schema_json()
    return (
        '{"schema":' + schema_json + ',"payload":'
        + json.dumps({c: payload[c] for c in table.columns}, separators=(",", ":"))
        + "}"
    )


def wire_line(seq: int, topic: str, op: str, value: str | None) -> str:
    return json.dumps({"_seq": seq, "topic": topic, "op": op, "value": value})


class _Zipf:
    """Zipf(s) over keys 1..n by inverse-CDF lookup with ``random()``,
    which is stable across Python versions for a given seed."""

    def __init__(self, n: int, s: float) -> None:
        acc, cum = 0.0, []
        for k in range(1, n + 1):
            acc += 1.0 / k**s
            cum.append(acc)
        self._cum, self._total = cum, acc

    def sample(self, rng: random.Random) -> int:
        return bisect.bisect_left(self._cum, rng.random() * self._total) + 1


@dataclass(frozen=True)
class Stream:
    """One table's share of a generated changelog."""

    table: Table
    n_keys: int
    weight: float = 1.0
    zipf_s: float = 1.0


@dataclass
class Batch:
    """One micro-batch file's worth of wire lines plus what went into it."""

    lines: list[str] = field(default_factory=list)
    events: int = 0
    corrupt: int = 0
    tables: set[str] = field(default_factory=set)
    keys: dict[str, list] = field(default_factory=dict)  # table -> keys written


def _row(table: Table, key: int, ts_us: int, rng: random.Random) -> dict:
    created = T0_US - 3_600_000_000 - key * 1_000
    if table is USERS:
        return {
            "user_id": key,
            "username": f"user{key}_{rng.randrange(1_000_000)}",
            "account_type": rng.choice(_TIERS),
            "updated_at": ts_us,
            "created_at": created,
        }
    if table is ORDERS:
        return {
            "order_id": key,
            "user_id": rng.randrange(1, 50_000),
            "amount": round(rng.uniform(1.0, 5_000.0), 2),
            "status": rng.choice(_STATUSES),
            "updated_at": ts_us,
            "created_at": created,
        }
    raise ValueError(f"no row generator for table {table.name!r}")


def generate(
    seed: int,
    streams: list[Stream],
    n_batches: int,
    batch_size: int,
    corrupt_frac: float = 0.0,
) -> list[Batch]:
    """``n_batches`` batches of ``batch_size`` wire records each.

    Per record: the table is drawn by ``weight``, the key from the
    table's Zipf; ``DELETE_FRAC`` of records are deletes (which the
    engine drops), ``corrupt_frac`` carry a truncated envelope (parse
    failures bound for the DLQ), and ``LATE_FRAC`` carry an
    ``updated_at`` older than their position, so the LWW winner is not
    always the last record seen for a key."""
    rng = random.Random(seed)
    zipfs = [_Zipf(s.n_keys, s.zipf_s) for s in streams]
    weights = [s.weight for s in streams]
    schemas = {s.table.name: s.table.schema_json() for s in streams}
    seq = 1
    out = []
    for _ in range(n_batches):
        b = Batch()
        for _ in range(batch_size):
            i = rng.choices(range(len(streams)), weights)[0] if len(streams) > 1 else 0
            table = streams[i].table
            key = zipfs[i].sample(rng)
            ts = T0_US + seq * 1_000
            if rng.random() < LATE_FRAC:
                ts -= rng.randrange(1, 200) * 1_000
            op = "d" if rng.random() < DELETE_FRAC else "u"
            value = envelope(table, _row(table, key, ts, rng), schemas[table.name])
            if rng.random() < corrupt_frac:
                value = value[: len(value) // 2]
                b.corrupt += 1
            elif op != "d":
                b.keys.setdefault(table.name, []).append(key)
            b.lines.append(wire_line(seq, table.topic, op, value))
            b.tables.add(table.name)
            b.events += 1
            seq += 1
        out.append(b)
    return out


def snapshot_rows(seed: int, table: Table, n_keys: int) -> list[dict]:
    """Initial table image for ``seed_state``: every key once, older
    than any changelog event."""
    rng = random.Random(seed ^ 0x5EED)
    return [_row(table, k, T0_US - 1_000_000_000, rng) for k in range(1, n_keys + 1)]


def write_batches(batches: list[Batch], out_dir: str) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, b in enumerate(batches):
        path = os.path.join(out_dir, f"batch_{i:05d}.json")
        with open(path, "w") as f:
            f.write("\n".join(b.lines) + "\n")
        paths.append(path)
    return paths


def write_rows(rows: Iterable[dict], path: str) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


# ---------------------------------------------------------------- fold


class Fold:
    """Last-write-wins reference state, fed wire lines in order.

    State per table: ``key -> (updated_at, _seq, op, payload)``."""

    def __init__(self, tables: Iterable[Table]) -> None:
        self.tables = {t.topic: t for t in tables}
        self.state: dict[str, dict] = {t.name: {} for t in self.tables.values()}
        self.corrupt = 0

    def seed(self, table: Table, rows: Iterable[dict]) -> None:
        st = self.state[table.name]
        for r in rows:
            self._offer(st, table, r, 0, "r")

    def apply(self, lines: Iterable[str]) -> None:
        for line in lines:
            rec = json.loads(line)
            table = self.tables.get(rec["topic"])
            if table is None or rec["value"] is None:
                continue  # other topic / tombstone
            try:
                payload = json.loads(rec["value"])["payload"]
            except (ValueError, KeyError, TypeError):
                self.corrupt += 1
                continue
            if rec["op"] == "d":
                continue  # deletes dropped (SURVEY section 0)
            self._offer(self.state[table.name], table, payload, rec["_seq"], rec["op"])

    @staticmethod
    def _offer(st: dict, table: Table, payload: dict, seq: int, op: str) -> None:
        key = payload[table.key]
        version = (payload["updated_at"], seq)
        cur = st.get(key)
        if cur is None or version > (cur[0], cur[1]):
            st[key] = (version[0], seq, op, payload)

    def row(self, table: Table, key) -> list:
        """Canonical row: payload columns in schema order, then _seq, op."""
        _, seq, op, payload = self.state[table.name][key]
        return [payload[c] for c in table.columns] + [seq, op]

    def rows(self, table: Table) -> Iterator[list]:
        return (self.row(table, k) for k in self.state[table.name])


def digest(rows: Iterable[list]) -> tuple[int, str]:
    """Order-insensitive (row count, sha256) of canonical rows."""
    lines = sorted(json.dumps(r, separators=(",", ":")) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()
