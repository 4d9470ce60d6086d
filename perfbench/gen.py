"""Seeded OSM XML generator shaped like the reference extract, with a
ledger of what it wrote.

The reference extract (greater Bellingham, ``BASELINE.md``) holds
355,044 nodes, 30,179 ways and 554 relations; 131,881 tags over 1,032
distinct keys, the top key used 20,660 times and the median key 3
times; 13.4 ``nd`` refs per way and 32.8 members per relation; 921
contributing users.  ``write_osm`` keeps those ratios at any element
count and draws tag keys from a Zipf-Mandelbrot law (exponent 2.0,
offset 5) over the same 1,032-key space, which reproduces the top
share (15.4%) and the median (2.7 uses at full scale).

On top of the reference's shape it plants what the checks need:

* coordinate-less nodes, which validation must quarantine;
* relation members whose claimed ``type`` disagrees with the element
  they reference, which ``find_mismatched_members`` must report;
* ``addr:postcode`` / ``addr:state`` tags for ``update_states``.

Everything random comes from one ``random.Random(seed)``: the same
seed and size give byte-identical XML and an identical ledger.
"""

from __future__ import annotations

import random
from collections import Counter
from dataclasses import dataclass, field
from itertools import accumulate

# Full-scale reference counts (BASELINE.md).
REF_NODES, REF_WAYS, REF_RELATIONS = 355_044, 30_179, 554
REF_TAGS_PER_ELEMENT = 131_881 / 385_777
REF_NDS_PER_WAY = 405_590 / REF_WAYS
REF_MEMBERS_PER_RELATION = 18_179 / REF_RELATIONS
REF_USERS = 921
N_KEYS = 1_032
ZIPF_S, ZIPF_Q = 2.0, 5.0

# Share of nodes written without coordinates (quarantined downstream)
# and of relation members whose claimed type is wrong.
COORDLESS_FRAC = 0.004
MISMATCH_FRAC = 0.05
POSTCODE_FRAC = 0.08
STATE_ONLY_FRAC = 0.02

# Head of the key space: real OSM keys in rough popularity order; the
# tail is synthetic.  The addr:* keys are placed by hand below, so they
# are kept out of the sampled space.
HEAD_KEYS = [
    "highway", "name", "building", "source", "amenity", "surface",
    "oneway", "natural", "landuse", "service", "power", "barrier",
    "lanes", "maxspeed", "leisure", "ref", "access", "waterway",
    "shop", "phone", "website", "opening_hours", "ele", "bicycle",
    "foot", "layer", "bridge", "tunnel", "sport", "religion",
]
STATES = ["WA", "WA", "Washington", "wa", "BC"]
# Keys the cleaning rules cast to numbers get numeric values.
NUMERIC_KEYS = {"lanes", "ele", "layer", "maxspeed"}


def _key_space() -> list[str]:
    tail = [f"note_{i:04d}" for i in range(N_KEYS - len(HEAD_KEYS))]
    return HEAD_KEYS + tail


@dataclass
class Ledger:
    """What the generator wrote, for the output checks."""

    elements: int = 0
    bytes: int = 0
    by_type: Counter = field(default_factory=Counter)
    valid_by_type: Counter = field(default_factory=Counter)
    quarantined: int = 0
    # Raw-element profile per doc_type: tags, nds and members written.
    raw_tags: Counter = field(default_factory=Counter)
    raw_nds: Counter = field(default_factory=Counter)
    raw_members: Counter = field(default_factory=Counter)
    # Tag key -> use count / distinct values, over every element.
    key_uses: Counter = field(default_factory=Counter)
    key_values: dict = field(default_factory=dict)
    # uid -> valid node count; uids of every valid element.
    node_uids: Counter = field(default_factory=Counter)
    valid_uids: set = field(default_factory=set)
    # (rel_id, ref, claimed_type, actual_type) of every planted mismatch.
    mismatches: set = field(default_factory=set)
    valid_ids: list = field(default_factory=list)
    postcode_ids: list = field(default_factory=list)


def _counts(n_elements: int) -> tuple[int, int, int]:
    total = REF_NODES + REF_WAYS + REF_RELATIONS
    ways = max(1, round(n_elements * REF_WAYS / total))
    rels = max(2, round(n_elements * REF_RELATIONS / total))
    return n_elements - ways - rels, ways, rels


def write_osm(path: str, n_elements: int, seed: int) -> Ledger:
    """Write one ``.osm`` file of ``n_elements`` elements; return its ledger."""
    rng = random.Random(seed)
    n_nodes, n_ways, n_rels = _counts(n_elements)
    keys = _key_space()
    key_cw = list(accumulate((i + ZIPF_Q) ** -ZIPF_S for i in range(1, N_KEYS + 1)))
    users = range(1, REF_USERS + 1)
    user_cw = list(accumulate(1.0 / (i + 2) for i in range(REF_USERS)))
    led = Ledger()
    node_ids = [str(100_000_000 + i) for i in range(n_nodes)]
    way_ids = [str(200_000_000 + i) for i in range(n_ways)]
    rel_ids = [str(300_000_000 + i) for i in range(n_rels)]
    valid_nodes: list[str] = []
    out: list[str] = ['<?xml version="1.0" encoding="UTF-8"?>\n<osm version="0.6">\n']

    def created(kind: str) -> tuple[str, str]:
        uid = rng.choices(users, cum_weights=user_cw)[0]
        led.by_type[kind] += 1
        led.elements += 1
        return (
            f'version="{rng.randint(1, 9)}" changeset="{rng.randint(1, 99_999)}" '
            f'timestamp="20{rng.randint(10, 20)}-0{rng.randint(1, 9)}-1{rng.randint(0, 9)}'
            f'T0{rng.randint(0, 9)}:00:00Z" user="user{uid}" uid="{uid}"'
        ), str(uid)

    def tags(kind: str, el_id: str, extra: list[tuple[str, str]]) -> str:
        n = min(len(keys) - 1, int(rng.expovariate(1.0 / REF_TAGS_PER_ELEMENT) + 0.5))
        picked = dict(extra)
        for k in rng.choices(keys, cum_weights=key_cw, k=n):
            if k in picked:
                continue
            n_val = int(rng.paretovariate(1.2))
            if k == "name":
                picked[k] = f"Place {el_id}"
            elif k in NUMERIC_KEYS:
                picked[k] = str(n_val)
            else:
                picked[k] = f"v{n_val}"
        lines = []
        for k, v in picked.items():
            led.key_uses[k] += 1
            led.key_values.setdefault(k, set()).add(v)
            lines.append(f'    <tag k="{k}" v="{v}"/>\n')
        led.raw_tags[kind] += len(lines)
        return "".join(lines)

    for nid in node_ids:
        attrs, uid = created("node")
        extra: list[tuple[str, str]] = []
        r = rng.random()
        if r < POSTCODE_FRAC:
            extra.append(("addr:postcode", f"98{rng.randint(200, 299)}"))
            if rng.random() < 0.4:
                extra.append(("addr:state", rng.choice(STATES)))
        elif r < POSTCODE_FRAC + STATE_ONLY_FRAC:
            extra.append(("addr:state", rng.choice(STATES)))
        body = tags("node", nid, extra)
        if rng.random() < COORDLESS_FRAC:
            out.append(f'  <node id="{nid}" {attrs}>\n{body}  </node>\n')
            led.quarantined += 1
            continue
        lat = 48.602 + rng.random() * 0.4
        lon = -122.8244 + rng.random() * 0.7457
        out.append(
            f'  <node id="{nid}" lat="{lat:.7f}" lon="{lon:.7f}" {attrs}>\n{body}  </node>\n'
        )
        valid_nodes.append(nid)
        led.valid_by_type["node"] += 1
        led.node_uids[uid] += 1
        led.valid_uids.add(uid)
        led.valid_ids.append(nid)
        if extra and extra[0][0] == "addr:postcode":
            led.postcode_ids.append(nid)

    for wid in way_ids:
        attrs, uid = created("way")
        n_nd = max(2, int(rng.expovariate(1.0 / REF_NDS_PER_WAY)) + 2)
        start = rng.randrange(len(valid_nodes))
        nds = [valid_nodes[(start + d) % len(valid_nodes)] for d in range(n_nd)]
        led.raw_nds["way"] += n_nd
        body = "".join(f'    <nd ref="{r}"/>\n' for r in nds)
        body += tags("way", wid, [("highway", rng.choice(["residential", "service", "footway"]))])
        out.append(f'  <way id="{wid}" {attrs}>\n{body}  </way>\n')
        led.valid_by_type["way"] += 1
        led.valid_uids.add(uid)
        led.valid_ids.append(wid)

    for rid in rel_ids:
        attrs, uid = created("relation")
        n_mem = max(2, int(rng.expovariate(1.0 / REF_MEMBERS_PER_RELATION)) + 1)
        lines = []
        for _ in range(n_mem):
            actual, ref = (
                ("way", rng.choice(way_ids)) if rng.random() < 0.7
                else ("node", rng.choice(valid_nodes))
            )
            claimed = actual
            if rng.random() < MISMATCH_FRAC:
                claimed = "node" if actual == "way" else "way"
                led.mismatches.add((rid, ref, claimed, actual))
            role = rng.choice(["outer", "inner", ""])
            lines.append(f'    <member type="{claimed}" ref="{ref}" role="{role}"/>\n')
        led.raw_members["relation"] += n_mem
        body = "".join(lines) + tags("relation", rid, [("type", "multipolygon")])
        out.append(f'  <relation id="{rid}" {attrs}>\n{body}  </relation>\n')
        led.valid_by_type["relation"] += 1
        led.valid_uids.add(uid)
        led.valid_ids.append(rid)

    out.append("</osm>\n")
    data = "".join(out).encode("utf-8")
    with open(path, "wb") as f:
        f.write(data)
    led.bytes = len(data)
    return led
