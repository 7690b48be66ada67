"""Seeded packet-flow input generator.

Follows the reference traffic generator: 32 hosts on 172.25.0.0/24, each
emitting one of seven operation types (http, dns, dns, arp, icmp, http
burst, udp) chosen uniformly, captured as an 8-column tshark-style CSV
with dotted headers. A small seeded share of the rows carries a garbage
key, an empty key, or repeats an earlier row's key (an exact replay), so
the engine's cleaning step has real work to do.

Everything a workload feeds the engine is derived from one seed: corpus
CSVs, held-out query packets, landed add_data files, victim and upsert
keys, and the op interleaving. The same seed gives byte-identical CSVs.
"""

from __future__ import annotations

import csv
import io
import random
from dataclasses import dataclass, field

HEADER = [
    "frame.number",
    "frame.time",
    "ip.src",
    "ip.dst",
    "tcp.srcport",
    "tcp.dstport",
    "_ws.col.Protocol",
    "frame.len",
]
# the engine's sanitized names for the same columns, in the same order
COLUMNS = [
    "frame_number",
    "frame_time",
    "ip_src",
    "ip_dst",
    "tcp_srcport",
    "tcp_dstport",
    "_ws_col_protocol",
    "frame_len",
]
HOSTS = [f"172.25.0.{i}" for i in range(2, 34)]
GATEWAY = "172.25.0.1"
OPS = ("http", "dns_query", "dns_reverse", "arp", "icmp", "http_burst", "udp")
BASE_TIME = 1_760_000_000.0

GARBAGE_SHARE = 0.004
EMPTY_KEY_SHARE = 0.004
REPLAY_SHARE = 0.008


def _packet(rng: random.Random, proto: str) -> tuple:
    """(ip.src, ip.dst, tcp.srcport, tcp.dstport, protocol, frame.len) of one
    captured frame. Non-TCP frames leave the tcp.* columns empty and ARP
    frames the ip.* columns, as a tshark field export does."""
    src = rng.choice(HOSTS)
    peer = rng.choice(HOSTS)
    if proto == "HTTP":
        return (src, peer, str(rng.randint(32768, 60999)), "80", proto,
                str(rng.randint(66, 1514)))
    if proto == "DNS":
        return (src, GATEWAY, "", "", proto, str(rng.randint(70, 140)))
    if proto == "ARP":
        return ("", "", "", "", proto, rng.choice(("42", "60")))
    if proto == "ICMP":
        return (src, peer, "", "", proto, str(rng.randint(74, 98)))
    return (src, peer, "", "", proto, str(rng.randint(60, 560)))


def _op_packets(rng: random.Random) -> list[tuple]:
    op = rng.choice(OPS)
    if op == "http":
        return [_packet(rng, "HTTP")]
    if op == "http_burst":
        return [_packet(rng, "HTTP"), _packet(rng, "HTTP")]
    if op in ("dns_query", "dns_reverse"):
        return [_packet(rng, "DNS")]
    if op == "arp":
        return [_packet(rng, "ARP")]
    if op == "icmp":
        return [_packet(rng, "ICMP")]
    return [_packet(rng, "UDP")]


def clean_rows(rng: random.Random, first_id: int, n: int) -> dict[int, tuple]:
    """``n`` valid packets keyed by frame number ``first_id .. first_id+n-1``;
    each value is the 8 CSV fields in HEADER order."""
    rows: dict[int, tuple] = {}
    fid = first_id
    while fid < first_id + n:
        for pkt in _op_packets(rng):
            if fid >= first_id + n:
                break
            t = f"{BASE_TIME + fid * 0.03 + rng.random() * 0.01:.6f}"
            rows[fid] = (str(fid), t) + pkt
            fid += 1
    return rows


def dirty_lines(rng: random.Random, rows: dict[int, tuple]) -> list[tuple]:
    """CSV records for ``rows`` with the seeded anomalies mixed in: garbage
    keys and empty keys (extra records the cleaner must drop) and exact
    replays of earlier records (duplicates the cleaner must collapse)."""
    out: list[tuple] = []
    for rec in rows.values():
        out.append(rec)
        u = rng.random()
        if u < GARBAGE_SHARE:
            out.append((f"x{rng.randrange(16**4):04x}",) + _garbage_tail(rng))
        elif u < GARBAGE_SHARE + EMPTY_KEY_SHARE:
            out.append(("",) + _garbage_tail(rng))
        elif u < GARBAGE_SHARE + EMPTY_KEY_SHARE + REPLAY_SHARE:
            out.append(rng.choice(out[: max(1, len(out) - 1)]))
    return out


def _garbage_tail(rng: random.Random) -> tuple:
    return (f"{BASE_TIME:.6f}",) + _packet(rng, "UDP")


def csv_bytes(records: list[tuple]) -> bytes:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(HEADER)
    w.writerows(records)
    return buf.getvalue().encode()


def capture(seed: int, first_id: int, n: int, salt: str = "corpus") -> tuple[dict, bytes]:
    """One landed capture: its valid rows and the dirty CSV bytes."""
    rng = random.Random(f"{seed}:{salt}:{first_id}:{n}")
    rows = clean_rows(rng, first_id, n)
    return rows, csv_bytes(dirty_lines(rng, rows))


@dataclass
class CrudOp:
    """One crud_stream op and the inputs it lands."""

    kind: str  # add_data | delete | upsert | update
    rows: dict[int, tuple] = field(default_factory=dict)  # rows landed or re-landed
    csv: bytes = b""  # add_data: the landed file
    keys: list[int] = field(default_factory=list)  # delete / update victims


class CrudStream:
    """The crud_stream op sequence for one seed, and the replayed key set.

    Ops cycle delete → upsert → update → add_data, so that every completed
    cycle ends with a drain, which leaves the standing top-k current.
    ``live`` is the op-log replay the checker compares the store against.
    """

    CYCLE = ("delete", "upsert", "update", "add_data")

    def __init__(self, seed: int, corpus: dict[int, tuple], batch: int, file_rows: int):
        self.rng = random.Random(f"{seed}:crud")
        self.live: dict[int, tuple] = dict(corpus)
        self.next_id = max(corpus) + 1
        self.batch = batch
        self.file_rows = file_rows
        self.seed = seed
        self.n = 0

    def _fresh(self, n: int, salt: str) -> dict[int, tuple]:
        rows = clean_rows(random.Random(f"{self.seed}:{salt}:{self.next_id}"), self.next_id, n)
        self.next_id += n
        return rows

    def _victims(self) -> list[int]:
        return sorted(self.rng.sample(sorted(self.live), self.batch))

    def _mutated(self, keys: list[int]) -> dict[int, tuple]:
        out = {}
        for k in keys:
            rec = list(self.live[k])
            rec[2] = self.rng.choice([h for h in HOSTS if h != rec[2]])
            out[k] = tuple(rec)
        return out

    def add_data(self) -> CrudOp:
        rows = self._fresh(self.file_rows, "add")
        rng = random.Random(f"{self.seed}:dirty:{min(rows)}")
        self.live.update(rows)
        return CrudOp("add_data", rows=rows, csv=csv_bytes(dirty_lines(rng, rows)))

    def next_op(self) -> CrudOp:
        kind = self.CYCLE[self.n % len(self.CYCLE)]
        self.n += 1
        if kind == "add_data":
            op = self.add_data()
        elif kind == "delete":
            op = CrudOp(kind, keys=self._victims())
            for k in op.keys:
                del self.live[k]
        elif kind == "upsert":
            op = CrudOp(kind, rows=self._mutated(self._victims()))
            self.live.update(op.rows)
        else:
            keys = self._victims()
            rows = self._mutated(keys)
            rows.update(self._fresh(self.batch, "update"))
            op = CrudOp(kind, rows=rows, keys=keys)
            for k in keys:
                del self.live[k]
            self.live.update(rows)
        return op


def held_out(seed: int, first_id: int, n: int) -> dict[int, tuple]:
    """Query packets drawn from the same traffic mix but never landed."""
    return clean_rows(random.Random(f"{seed}:queries"), first_id, n)


ROUND = ("ivf", "exact", "point", "point", "point")


def query_serve_plan(seed: int, corpus_ids: list[int], n_keys: int):
    """The seeded, endless interleaving of query_serve calls, as
    ``(kind, arg)``: kind is ivf | exact | point; ivf and exact carry a
    number that picks their held-out query batch, point carries its keys.
    Each round holds one ivf call, one exact call and three point reads in
    a seeded order: point reads are cheap, so they get more samples."""
    rng = random.Random(f"{seed}:serve")
    while True:
        for kind in rng.sample(ROUND, len(ROUND)):
            if kind == "point":
                yield kind, sorted(rng.sample(corpus_ids, n_keys))
            else:
                yield kind, rng.randrange(1 << 30)
