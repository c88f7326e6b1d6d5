"""Seeded Meshtastic packet generator for the ingest workload.

Lines are shaped like the golden fixtures: v0 environment telemetry,
battery telemetry, v1 CSV ``text`` payloads, ``nodeinfo`` dimension
updates, unknown packet types and corrupt JSON. The seed picks the
fleet size and the shares of mesh re-broadcast duplicates, corrupt or
unknown packets and out-of-order event times; the same seed gives the
same lines.

Alongside the lines the generator keeps the counts an ingest path with
cross-batch dedup must produce: one fact row per distinct ``[from, id]``
packet on each route, and one quarantine row per corrupt line or
distinct unknown-type packet. Out-of-order packets move back by at most
four minutes, inside the ingest watermark (ten minutes), so none is
dropped as late. ``expected_counts`` recomputes the same counts from the
lines themselves, for any grouping of lines into micro-batches.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass

FACT_TABLES = ("airwise_data", "battery_data", "airwise_datav1")
START_TS = 1_760_734_800  # 2025-10-17 21:00 UTC: a run crosses midnight
SEND_INTERVAL_S = 30
MAX_OOO_S = 240
RECENT = 32


@dataclass(frozen=True)
class FleetMix:
    n_nodes: int
    dup_share: float
    bad_share: float
    ooo_share: float

    @classmethod
    def for_seed(cls, seed: int) -> FleetMix:
        rng = random.Random(f"mix-{seed}")
        return cls(
            n_nodes=rng.randint(8, 16),
            dup_share=round(rng.uniform(0.04, 0.10), 4),
            bad_share=round(rng.uniform(0.02, 0.05), 4),
            ooo_share=round(rng.uniform(0.02, 0.08), 4),
        )


class PacketGenerator:
    """Produces packet lines in order; ``expected`` holds the counts the
    lines emitted so far must leave in the fact and quarantine tables."""

    def __init__(self, seed: int):
        self.mix = FleetMix.for_seed(seed)
        self._rng = random.Random(f"packets-{seed}")
        self.nodes = [
            (node, f"!{node:08x}")
            for node in self._rng.sample(range(100_000_000, 4_294_967_295), self.mix.n_nodes)
        ]
        # Meshtastic packet ids are per-sender counters: nodes reuse each
        # other's ids, so only the [from, id] pair identifies a packet
        self._next_id = [1_000] * self.mix.n_nodes
        self._seq = 0
        self._recent: list[str] = []
        self.expected = {
            **dict.fromkeys(FACT_TABLES, 0),
            "quarantine": 0,
            "nodeinfo": 0,
            "duplicates": 0,
            "lines": 0,
        }

    def lines(self, n: int) -> list[str]:
        out = [self._line() for _ in range(n)]
        self.expected["lines"] += n
        return out

    def _line(self) -> str:
        rng, mix = self._rng, self.mix
        if self._recent and rng.random() < mix.dup_share:
            self.expected["duplicates"] += 1
            return rng.choice(self._recent)
        bad = rng.random() < mix.bad_share
        if bad and rng.random() < 0.3:
            self.expected["quarantine"] += 1
            return '{"from": %d, "type": "telemetry", ' % self.nodes[0][0]
        k = self._seq % mix.n_nodes
        node, sender = self.nodes[k]
        ts = START_TS + (self._seq // mix.n_nodes) * SEND_INTERVAL_S
        self._seq += 1
        if rng.random() < mix.ooo_share:
            ts -= rng.randint(SEND_INTERVAL_S, MAX_OOO_S)
        pid = self._next_id[k]
        self._next_id[k] += 1
        packet = {
            "channel": 0,
            "from": node,
            "sender": sender,
            "to": 4_294_967_295,
            "id": pid,
            "timestamp": ts,
            "rssi": rng.randint(-120, -40),
            "snr": round(rng.uniform(-10.0, 12.0), 2),
        }
        u = rng.random()
        if bad:
            packet["type"], packet["payload"] = "position", {}
            route = "quarantine"
        elif u < 0.58:
            packet["type"] = "telemetry"
            packet["payload"] = {
                "temperature": round(rng.uniform(5.0, 35.0), 2),
                "relative_humidity": round(rng.uniform(20.0, 90.0), 2),
                "barometric_pressure": round(rng.uniform(980.0, 1030.0), 2),
                "gas_resistance": round(rng.uniform(50.0, 300.0), 2),
                "iaq": rng.randint(0, 300),
            }
            route = "airwise_data"
        elif u < 0.74:
            packet["type"] = "telemetry"
            packet["payload"] = {
                "battery_level": float(rng.randint(0, 101)),
                "voltage": round(rng.uniform(3.0, 4.2), 3),
                "uptime_seconds": ts - START_TS + 3_600,
            }
            route = "battery_data"
        elif u < 0.95:
            vals = [
                rng.uniform(5, 35), rng.uniform(20, 90), rng.uniform(980, 1030),
                rng.uniform(50, 300), rng.uniform(0, 5), rng.uniform(0, 10),
                rng.uniform(0, 20), rng.uniform(3, 5), rng.uniform(50, 200),
            ]
            packet["type"] = "text"
            packet["payload"] = {"text": ",".join(f"{v:.2f}" for v in vals) + "\n"}
            route = "airwise_datav1"
        else:
            packet["type"] = "nodeinfo"
            packet["payload"] = {"id": sender, "longname": f"Node {sender}", "shortname": sender[-4:]}
            route = "nodeinfo"
        self.expected[route] += 1
        line = json.dumps(packet, separators=(",", ":"))
        self._recent = (self._recent + [line])[-RECENT:]
        return line


def expected_counts(batches: list[list[str]], dedup_across_batches: bool) -> dict[str, int]:
    """Rows each table must hold after ingesting ``batches`` of lines.

    With watermark dedup (``dedup_across_batches``) every ``[from, id]``
    packet counts once, unknown-type packets included, since the dedup
    runs before the batch body. Without it, the batch body dedups the
    fact routes within each micro-batch only (the ingest path's
    at-least-once semantics for its default topology) and quarantines
    every unknown-type copy it receives. Corrupt lines are quarantined
    once per copy either way: the quarantine logs rows as delivered."""
    counts = dict.fromkeys((*FACT_TABLES, "quarantine", "nodeinfo", "duplicates"), 0)
    known = ("telemetry", "text", "nodeinfo")
    seen: set = set()
    for lines in batches:
        if not dedup_across_batches:
            seen = set()
        for line in lines:
            try:
                p = json.loads(line)
            except json.JSONDecodeError:
                counts["quarantine"] += 1
                continue
            if not dedup_across_batches and p["type"] not in known:
                counts["quarantine"] += 1
                continue
            key = (p["from"], p["id"])
            if key in seen:
                counts["duplicates"] += 1
                continue
            seen.add(key)
            if p["type"] == "telemetry":
                counts["battery_data" if "battery_level" in p["payload"] else "airwise_data"] += 1
            elif p["type"] == "text":
                counts["airwise_datav1"] += 1
            elif p["type"] == "nodeinfo":
                counts["nodeinfo"] += 1
            else:
                counts["quarantine"] += 1
    return counts
