"""Seeded distinct-key generator for the flights export and its CDC stream.

``sources/fixture_gen.gen_corpus(scale)`` repeats the same keys as it
scales (scale 100 gives 4000 items but only 1854 distinct keys), so it
cannot size a load. This generator gives every export item its own key
while keeping the fixture's mix and dirty-data hazards:

- the 22:13:4:1 fare/flight/assignment/booking mix;
- an empty ``{}`` attribute (``__id``) on every item;
- ``number`` typed N on flight legs but S on assignments;
- ``segments`` typed N on nonstop headers and bookings but S
  (``"{A, B}"``) on direct headers;
- the literal un-substituted ``"${number}"`` in GSI2PK on half the
  assignments;
- assignment and booking items that no route takes.

It records exact per-type and live-key counts, and a pure-Python
last-write-wins model of the index, which the output checks compare
against. Inputs depend only on the seed and the sizes.
"""

from __future__ import annotations

import bisect
import json
import random

from opensearch_dynamodb_etl_cdk_spark.functions.ddb import marshal_item

# Bump when the generated bytes change, so cached inputs are rebuilt.
GEN_VERSION = 1

MIX = (("fare", 22), ("flight", 13), ("assignment", 4), ("booking", 1))
ROUTES = ("fare", "flight")
AIRPORTS = ["DEN", "SFO", "JFK", "ATL", "BOS", "ORD", "LAX", "SEA", "MIA",
            "DFW", "PHX", "IAH", "LAS", "MSP", "DTW", "PHL"]
CLASSES = ["nonstop", "direct"]
YEARS = [2021, 2021, 2021, 2021, 2021, 2021, 2018, 2023]


def _iso(uid: int, year: int = 2021, offset: int = 0) -> str:
    """A timestamp distinct per ``uid`` (for fewer than 525600 uids),
    spread over the whole year: 37 is coprime to the minutes in a year."""
    day, rem = divmod((uid * 37 + offset) % (365 * 24 * 60), 24 * 60)
    month_days = [31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31]
    month = 0
    while day >= month_days[month]:
        day -= month_days[month]
        month += 1
    return (f"{year:04d}-{month + 1:02d}-{day + 1:02d}"
            f"T{rem // 60:02d}:{rem % 60:02d}:00")


def _kinds(n: int) -> list[str]:
    """Exactly ``n`` type labels in the MIX ratio (largest remainder)."""
    total = sum(w for _, w in MIX)
    counts = {k: n * w // total for k, w in MIX}
    rest = n - sum(counts.values())
    for k, _ in MIX[:rest]:
        counts[k] += 1
    return [k for k, _ in MIX for _ in range(counts[k])]


def make_item(rng: random.Random, kind: str, uid: int) -> dict:
    """One plain (unmarshalled) item with a key unique to ``uid``."""
    origin = rng.choice(AIRPORTS)
    dest = rng.choice([a for a in AIRPORTS if a != origin])
    year = rng.choice(YEARS)
    when = _iso(uid, year)
    if kind == "fare":
        klass = rng.choice(CLASSES)
        return {
            "PK": origin, "SK": f"{dest}#{when}#{klass}", "type": "fare",
            "origin": origin, "dest": dest, "start": when,
            "end": _iso(uid, year, 23 * 60), "class": klass,
            "GSI1PK": dest, "GSI1SK": f"{origin}#{when}",
        }
    if kind == "flight":
        flight_no = 100 + uid
        if uid % 2 == 0:  # trip header, segId 0
            item = {
                "PK": origin, "SK": f"{origin}#{when}#{flight_no}#0",
                "type": "flight", "origin": origin, "dest": dest,
                "depart": when, "GSI2PK": str(flight_no), "GSI2SK": "0",
            }
            # direct headers carry a display set (S), nonstop a number (N)
            item["segments"] = (
                "{%s, %s}" % (rng.choice(AIRPORTS), dest)
                if rng.random() < 0.5 else 1
            )
            return item
        return {  # leg, segId 1, number N-typed
            "PK": origin, "SK": f"{origin}#{when}#{flight_no}#1",
            "type": "flight", "origin": origin, "dest": dest,
            "depart": when, "arrive": _iso(uid, year, 180),
            "number": flight_no, "isSegment": True, "segId": 1,
            "GSI2PK": str(flight_no), "GSI2SK": "1",
        }
    pax = f"Pax{rng.randrange(5000):04d}, {rng.choice(['Jon', 'Jane', 'Ana'])}"
    if kind == "assignment":
        flight_no = 100 + rng.randrange(100000)
        seat = f"{rng.randrange(1, 40)}{rng.choice('ABCDEF')}"
        return {
            "PK": pax, "SK": f"{when}#{flight_no}#2#{seat}#{uid}",
            "type": "assignment", "passenger": pax, "depart": when,
            "number": str(flight_no),  # S-typed on assignments
            "segId": 2, "seat": seat,
            "SSR": rng.choice(["[wheelchair, vegan]", "[]"]),
            "GSI2PK": "${number}" if rng.random() < 0.5 else str(flight_no),
            "GSI2SK": f"2#{seat}",
        }
    return {  # booking
        "PK": pax, "SK": f"{when}#{100 + uid}", "type": "booking",
        "passenger": pax, "depart": when, "segments": 2,
    }


def to_wire(item: dict) -> str:
    m = marshal_item(item)
    m["__id"] = {}  # malformed no-type attribute the codec drops
    return json.dumps(m, sort_keys=True)


def doc_id(item: dict) -> str:
    return f"{item['PK']}|{item['SK']}"


class FlightsWorkload:
    """The export plus a CDC event stream over it, with a model of the
    resulting index.

    ``live`` maps each stored ``_id`` to ``(route, source seq, ssr)``
    exactly as the engine's last-write-wins merge leaves it: per epoch,
    the highest-seq event per key wins inside the batch, then beats the
    stored row only with a strictly higher seq; deletes store nothing.
    """

    def __init__(self, seed: int, n_items: int):
        self.rng = random.Random(seed)
        kinds = _kinds(n_items)
        self.rng.shuffle(kinds)
        self.items: dict[str, dict] = {}
        self.type_counts = {k: 0 for k, _ in MIX}
        for uid, kind in enumerate(kinds):
            item = make_item(self.rng, kind, uid)
            self.items[doc_id(item)] = item
            self.type_counts[kind] += 1
        self.next_uid = n_items
        self.export = [to_wire(it) for it in self.items.values()]
        # export rows enter the index at source seq 0
        self.live = {k: (it["type"], 0, it.get("SSR"))
                     for k, it in self.items.items()
                     if it["type"] in ROUTES}
        # Zipf(1.1) popularity over a fixed ranking of the export keys
        self.ranked = list(self.items)
        self.rng.shuffle(self.ranked)
        acc, self.zipf_cdf = 0.0, []
        for r in range(len(self.ranked)):
            acc += 1.0 / (r + 1) ** 1.1
            self.zipf_cdf.append(acc)
        self.seq = 0
        self.last_seq: dict[str, int] = {}
        self.late_used: dict[str, int] = {}
        self.prev_epoch: list[dict] = []

    def live_counts(self) -> dict[str, int]:
        out = {r: 0 for r in ROUTES}
        for route, _, _ in self.live.values():
            out[route] += 1
        return out

    def _event(self, name: str, key: str, seq: int, image: dict | None) -> dict:
        pk, sk = key.split("|", 1)
        return {
            "seq": seq, "event_name": name,
            # logical stamp: deterministic per seed; the wall-clock
            # creation time of each epoch is held by the harness
            "event_ts": f"2021-09-01T00:00:{seq % 60:02d}",
            "pk": pk, "sk": sk,
            "new_image_json": None if image is None else to_wire(image),
        }

    def _modified(self, key: str, seq: int) -> dict:
        item = dict(self.items[key])
        item["SSR"] = f"[rev {seq}]"
        return item

    def epoch(self, n_events: int) -> list[dict]:
        """One epoch of about ``n_events`` events: 60% MODIFY on
        Zipf-skewed keys, 20% INSERT, 10% REMOVE, 5% exact re-delivery,
        5% late lower-seq events. The last event is always an INSERT of
        a new fare, so its visibility marks the epoch as applied."""
        rng = self.rng
        out: list[dict] = []
        for _ in range(n_events - 1):
            u = rng.random()
            if u < 0.60:
                r = bisect.bisect_left(self.zipf_cdf,
                                       rng.random() * self.zipf_cdf[-1])
                key = self.ranked[min(r, len(self.ranked) - 1)]
                self.seq += 10
                out.append(self._event("MODIFY", key, self.seq,
                                       self._modified(key, self.seq)))
            elif u < 0.80:
                out.append(self._insert(rng.choice(_MIX_KINDS)))
            elif u < 0.90:
                key = self.ranked[rng.randrange(len(self.ranked))]
                self.seq += 10
                out.append(self._event("REMOVE", key, self.seq, None))
            elif u < 0.95 and (out or self.prev_epoch):
                pool = (self.prev_epoch if self.prev_epoch
                        and (not out or rng.random() < 0.5) else out)
                out.append(dict(rng.choice(pool)))
            else:
                out.append(self._late(out) or self._insert("fare"))
        out.append(self._insert("fare"))
        for e in out:
            key = f"{e['pk']}|{e['sk']}"
            self.last_seq[key] = max(self.last_seq.get(key, 0), e["seq"])
        self._apply_model(out)
        self.prev_epoch = out
        return out

    def _insert(self, kind: str) -> dict:
        item = make_item(self.rng, kind, self.next_uid)
        self.next_uid += 1
        key = doc_id(item)
        self.items[key] = item
        self.seq += 10
        return self._event("INSERT", key, self.seq, item)

    def _late(self, out: list[dict]) -> dict | None:
        """A MODIFY for a key already written by an event, carrying a
        lower seq than that event (never equal to a seq used for the
        key, so the merge never sees two images tie)."""
        pool = out + self.prev_epoch
        for _ in range(8 if pool else 0):
            e = self.rng.choice(pool)
            key = f"{e['pk']}|{e['sk']}"
            top = max(e["seq"], self.last_seq.get(key, 0))
            used = self.late_used.get(key, 0)
            if used >= 9:
                continue
            self.late_used[key] = used + 1
            seq = top - 1 - used  # seqs of real events are multiples of 10
            return self._event("MODIFY", key, seq, self._modified(key, seq))
        return None

    def _apply_model(self, events: list[dict]) -> None:
        batch: dict[str, dict] = {}
        for e in events:
            key = f"{e['pk']}|{e['sk']}"
            if key not in batch or e["seq"] > batch[key]["seq"]:
                batch[key] = e
        for key, e in batch.items():
            route = self.items[key]["type"]
            stored = self.live.get(key)
            if stored is not None and stored[1] >= e["seq"]:
                continue
            if e["event_name"] == "REMOVE":
                self.live.pop(key, None)
            elif route in ROUTES:
                image = json.loads(e["new_image_json"])
                ssr = image.get("SSR", {}).get("S")
                self.live[key] = (route, e["seq"], ssr)


_MIX_KINDS = [k for k, w in MIX for _ in range(w)]
