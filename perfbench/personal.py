"""Seeded personal-data documents and SPARQL request plans.

The generator keeps its own records of what it planted (agents, emails,
dwell sites, overlapping events), so every expected answer here comes from
those records or from DuckDB over the generated tables, never from the
engine under test.
"""
import hashlib
import random
import urllib.parse
from datetime import datetime, timedelta, timezone

import duckdb

SCHEMA = "http://schema.org/"
BASE_DAY = datetime(2024, 3, 4, tzinfo=timezone.utc)
FIRST = ["Ada", "Blaise", "Clara", "Denis", "Emmy", "Felix", "Grace", "Hedy",
         "Ivan", "Joan", "Kurt", "Lise", "Mario", "Nina", "Otto", "Paula"]
LAST = ["Lovelace", "Pascal", "Schumann", "Diderot", "Noether", "Klein",
        "Hopper", "Lamarr", "Sutherland", "Clarke", "Godel", "Meitner"]
# dwell sites ~2-5 km apart, so a move between two is never one stay
SITES = [(48.8566, 2.3522), (48.8800, 2.3550), (48.8400, 2.3000),
         (48.8700, 2.3900), (48.8300, 2.3700), (48.8950, 2.3100)]


def name_uuid(key: str) -> str:
    """Name-based UUID (SHA-1, version 5 layout), as the converters mint."""
    d = bytearray(hashlib.sha1(key.encode("utf-8")).digest())
    d[6] = (d[6] & 0x0F) | 0x50
    d[8] = (d[8] & 0x3F) | 0x80
    h = d.hex()
    return f"{h[0:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"


def agent(key: str) -> str:
    return f"urn:graft:agent:{name_uuid(key)}"


def mid(message_id: str) -> str:
    return "mid:" + urllib.parse.quote_plus(message_id)


class People:
    """Agents with two addresses each, described by one vCard."""

    def __init__(self, rng: random.Random, n: int, tag: str):
        self.rng = rng
        self.people = []
        for i in range(n):
            name = f"{rng.choice(FIRST)} {rng.choice(LAST)}"
            # two addresses each, so every sameAs path has the same shape:
            # address agent - card agent - address agent
            emails = [f"p{i}.{tag}@mail{i % 3}.example", f"alt{i}.{tag}@home.example"]
            self.people.append({"uid": f"card-{tag}-{i}", "name": name,
                                "emails": emails, "version": 0})

    def vcard(self, i: int) -> str:
        p = self.people[i]
        lines = ["BEGIN:VCARD", "VERSION:3.0", f"UID:{p['uid']}",
                 f"FN:{p['name']}", f"TITLE:rev{p['version']}"]
        lines += [f"EMAIL:{e}" for e in p["emails"]]
        lines.append("END:VCARD")
        return "\n".join(lines)


def email_doc(msg_id: str, sender: tuple, to: list, day: datetime, minute: int,
              subject: str) -> str:
    date = (day + timedelta(minutes=minute)).strftime("%a, %d %b %Y %H:%M:%S +0000")
    return "\n".join([
        f"Message-ID: <{msg_id}>",
        f"From: {sender[0]} <{sender[1]}>",
        "To: " + ", ".join(f"{n} <{e}>" for n, e in to),
        f"Subject: {subject}",
        f"Date: {date}",
        "",
        f"about {subject}"])


def day_trace(rng: random.Random, day: datetime, n_sites: int, after=None):
    """One day of location history: n_sites dwells of 60-90 min with a
    point every 2 min, joined by moves in ~500 m steps. The first site
    differs from `after`, the previous day's last one: observations at one
    place with only a night between them are a single stay. Returns the
    takeout JSON and the dwell intervals (site, start, end)."""
    def e7(d):
        return int(round(d * 1e7))
    sites = rng.sample([x for x in SITES if x != after], n_sites)
    t = day + timedelta(hours=8, minutes=rng.randrange(0, 30))
    points, dwells = [], []
    for k, (lat, lon) in enumerate(sites):
        dur = rng.randrange(60, 91, 2)
        start = t
        for m in range(0, dur + 1, 2):
            ts = start + timedelta(minutes=m)
            points.append((ts, lat, lon))
        end = start + timedelta(minutes=dur)
        dwells.append(((lat, lon), start, end))
        t = end + timedelta(minutes=10)
        if k + 1 < len(sites):
            nlat, nlon = sites[k + 1]
            for s in range(1, 5):
                f = s / 5
                points.append((t, lat + (nlat - lat) * f, lon + (nlon - lon) * f))
                t += timedelta(minutes=6)
            t += timedelta(minutes=10)
    body = ",".join(
        f'{{"timestampMs":"{int(ts.timestamp() * 1000)}","latitudeE7":{e7(la)},'
        f'"longitudeE7":{e7(lo)},"accuracy":20}}' for ts, la, lo in points)
    return '{"locations":[' + body + "]}", dwells


def ical_doc(uid_prefix: str, events: list) -> str:
    lines = ["BEGIN:VCALENDAR"]
    for i, (summary, start, end, (lat, lon)) in enumerate(events):
        lines += ["BEGIN:VEVENT", f"UID:{uid_prefix}-{i}", f"SUMMARY:{summary}",
                  "DTSTART:" + start.strftime("%Y%m%dT%H%M%SZ"),
                  "DTEND:" + end.strftime("%Y%m%dT%H%M%SZ"),
                  f"GEO:{lat};{lon}", "END:VEVENT"]
    lines.append("END:VCALENDAR")
    return "\n".join(lines)


def day_calendar(rng: random.Random, day_tag: str, dwells: list):
    """Events overlapping some of the day's dwells (each one links to its
    stay) plus one far-away event that must not link."""
    events, linked = [], 0
    for k, (site, start, end) in enumerate(dwells):
        if k == 0 or rng.random() < 0.5:
            s = start + timedelta(minutes=10)
            events.append((f"meeting {day_tag}-{k}", s, s + timedelta(minutes=30), site))
            linked += 1
    s0 = dwells[0][1]
    events.append((f"remote {day_tag}", s0, s0 + timedelta(hours=1), (40.7128, -74.006)))
    return ical_doc(f"ev-{day_tag}", events), linked


class Mailbox:
    def __init__(self, rng: random.Random, people: People, tag: str):
        self.rng, self.people, self.tag = rng, people, tag
        self.sent = []  # (message id, sender email)
        self.used = set()  # every address that appears in a header

    def message(self, day: datetime, sender_idx=None, to_idx=None):
        rng, ppl = self.rng, self.people.people
        a = sender_idx if sender_idx is not None else rng.randrange(len(ppl))
        b = to_idx if to_idx is not None else rng.randrange(len(ppl))
        se = rng.choice(ppl[a]["emails"])
        re_ = rng.choice(ppl[b]["emails"])
        msg_id = f"m{len(self.sent)}.{self.tag}@bench.example"
        self.sent.append((msg_id, se))
        self.used.update([se, re_])
        body = email_doc(msg_id, (ppl[a]["name"], se), [(ppl[b]["name"], re_)],
                         day, rng.randrange(0, 600), f"note {len(self.sent)}")
        return f"mail/{msg_id}", body

    def same_as_pairs(self) -> int:
        """IFP pairs the enricher must find: one per (address seen in mail,
        card that lists it)."""
        return sum(1 for p in self.people.people for e in p["emails"] if e in self.used)


def snapshot(seed: int, n_people: int, n_msgs: int, n_days: int):
    """Documents for the served snapshot plus what they plant."""
    rng = random.Random(seed * 7919 + 1)
    people = People(rng, n_people, f"s{seed}")
    box = Mailbox(rng, people, f"s{seed}")
    docs = [(f"vcard/{p['uid']}", "vcard", people.vcard(i))
            for i, p in enumerate(people.people)]
    days = [BASE_DAY + timedelta(days=d) for d in range(n_days)]
    for _ in range(n_msgs):
        doc_id, body = box.message(rng.choice(days))
        docs.append((doc_id, "mail", body))
    stays = links = 0
    last = None
    for d, day in enumerate(days):
        trace, dwells = day_trace(rng, day, rng.choice([2, 3]), last)
        last = dwells[-1][0]
        cal, linked = day_calendar(rng, f"{seed}-{d}", dwells)
        docs.append((f"loc/{day:%Y-%m-%d}", "location", trace))
        docs.append((f"cal/{day:%Y-%m-%d}", "ical", cal))
        stays += len(dwells)
        links += linked
    expect = {"stays": stays, "same_as": box.same_as_pairs(), "event_stay": links,
              "last_site": last}
    return docs, expect, people, box


def path_expect(people: People, box: Mailbox, msg_id: str) -> list:
    sender = dict(box.sent)[msg_id]
    owner = next(p for p in people.people if sender in p["emails"])
    return sorted({mid(m) for m, e in box.sent if e in owner["emails"]})


def requests(seed: int, data_dir: str, people: People, box: Mailbox, n: int):
    """The serve mix: n requests per template, constants drawn from the
    seed, expected answers from DuckDB over the same parquet or from the
    generator's own records. Unordered templates compare as multisets;
    `csv` carries ORDER BY and compares row order too."""
    rng = random.Random(seed * 104729 + 3)
    con = duckdb.connect()
    for t in ("customer", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    n_cust = con.execute("SELECT count(*) FROM customer").fetchone()[0]
    # customers with at least one order, so join/csv/ask answers are never empty
    with_orders = [r[0] for r in con.execute(
        "SELECT DISTINCT o_custkey FROM orders ORDER BY 1").fetchall()]
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    out = []
    for i in range(n):
        k = rng.choice(with_orders)
        c = con.execute("SELECT c_name, c_nationkey, c_mktsegment FROM customer "
                        "WHERE c_custkey = ?", [k]).fetchone()
        out.append({"t": "point", "accept": "json",
                    "q": f"SELECT ?p ?o WHERE {{ <c:{k}> ?p ?o }}",
                    "rows": sorted([["name", c[0]], ["nation", f"n:{c[1]}"],
                                    ["segment", c[2]]])})
        k = rng.choice(with_orders)
        rows = con.execute("SELECT o_orderkey, o_orderstatus FROM orders "
                           "WHERE o_custkey = ?", [k]).fetchall()
        out.append({"t": "join", "accept": "json",
                    "q": f"SELECT ?o ?st WHERE {{ ?o <cust> <c:{k}> . ?o <status> ?st }}",
                    "rows": sorted([f"o:{o}", s] for o, s in rows)})
        nat = rng.randrange(25)
        rows = con.execute("SELECT c_mktsegment, count(*) FROM customer "
                           "WHERE c_nationkey = ? GROUP BY 1", [nat]).fetchall()
        out.append({"t": "agg", "accept": "json",
                    "q": (f"SELECT ?seg (COUNT(?c) AS ?n) WHERE {{ ?c <nation> <n:{nat}> . "
                          f"?c <segment> ?seg }} GROUP BY ?seg"),
                    "rows": sorted([s, str(m)] for s, m in rows)})
        k = rng.choice(with_orders)
        rows = con.execute("SELECT o_orderkey, o_orderpriority FROM orders "
                           "WHERE o_custkey = ?", [k]).fetchall()
        out.append({"t": "csv", "accept": "csv", "ordered": True,
                    "q": f"SELECT ?o ?pr WHERE {{ ?o <cust> <c:{k}> . ?o <priority> ?pr }} ORDER BY ?o",
                    "rows": sorted([f"o:{o}", p] for o, p in rows)})
        k = rng.randrange(n_cust)
        st = rng.choice(["F", "O", "P"])
        hit = con.execute("SELECT count(*) > 0 FROM orders WHERE o_custkey = ? "
                          "AND o_orderstatus = ?", [k, st]).fetchone()[0]
        out.append({"t": "ask", "accept": "json",
                    "q": f'ASK {{ ?o <cust> <c:{k}> . ?o <status> "{st}" }}',
                    "bool": bool(hit)})
        nat, seg = rng.randrange(25), rng.choice(segs)
        rows = con.execute("SELECT c_custkey FROM customer WHERE c_nationkey = ? "
                           "AND c_mktsegment = ?", [nat, seg]).fetchall()
        out.append({"t": "construct", "accept": "nquads",
                    "q": (f'CONSTRUCT {{ ?c <inSegment> "{seg}" }} WHERE {{ '
                          f'?c <nation> <n:{nat}> . ?c <segment> "{seg}" }}'),
                    "subjects": sorted(f"c:{r[0]}" for r in rows)})
        m = rng.choice(box.sent)[0]
        out.append({"t": "path", "accept": "json",
                    "q": (f"SELECT DISTINCT ?m WHERE {{ <{mid(m)}> <{SCHEMA}sender> ?a . "
                          f"?a (<personal:sameAs>|^<personal:sameAs>)* ?b . "
                          f"?m <{SCHEMA}sender> ?b }}"),
                    "rows": [[x] for x in path_expect(people, box, m)]})
    con.close()
    return out


def ordered_probe(data_dir: str):
    """A JSON SELECT with ORDER BY over one customer's orders; its rows
    must come back in order."""
    con = duckdb.connect()
    k, = con.execute(f"SELECT o_custkey FROM read_parquet('{data_dir}/orders.parquet') "
                     "GROUP BY 1 ORDER BY count(*) DESC, 1 LIMIT 1").fetchone()
    rows = con.execute(f"SELECT o_orderkey, o_orderstatus FROM read_parquet('{data_dir}/orders.parquet') "
                       "WHERE o_custkey = ?", [k]).fetchall()
    con.close()
    return {"t": "join", "accept": "json", "ordered": True,
            "q": f"SELECT ?o ?st WHERE {{ ?o <cust> <c:{k}> . ?o <status> ?st }} ORDER BY ?o",
            "rows": sorted([f"o:{o}", st] for o, st in rows)}


def event_iri(uid: str) -> str:
    return f"urn:graft:event:{name_uuid(uid)}"


def rounds(seed: int, n: int, people: People, box: Mailbox, base_expect: dict, n_days: int):
    """Sync deltas, one per day after the snapshot's days. Each carries new
    mail (to agents that already exist), one vCard changed under the same
    UID, one removed message, a day of location history with 2-3 dwells,
    that day's calendar, a probe, SPARQL UPDATEs, and the counts the store
    must hold after it (cumulative, from the generator's records)."""
    rng = random.Random(seed * 31337 + 5)
    removable = [m for m, _ in box.sent]
    rng.shuffle(removable)
    exp = dict(base_expect, notes=0)
    last = exp.pop("last_site")
    notes, out = [], []
    for r in range(n):
        day = BASE_DAY + timedelta(days=n_days + r)
        docs = []
        for _ in range(3):
            doc_id, body = box.message(day)
            docs.append((doc_id, "mail", body))
        i = rng.randrange(len(people.people))
        people.people[i]["version"] += 1
        docs.append((f"vcard/{people.people[i]['uid']}", "vcard", people.vcard(i)))
        trace, dwells = day_trace(rng, day, rng.choice([2, 3]), last)
        last = dwells[-1][0]
        tag = f"{seed}-r{r}"
        cal, linked = day_calendar(rng, tag, dwells)
        docs.append((f"loc/{day:%Y-%m-%d}", "location", trace))
        docs.append((f"cal/{day:%Y-%m-%d}", "ical", cal))
        # the round's source fact (its first event) and derived fact (the
        # event's link to a stay) must both be visible
        ev = event_iri(f"ev-{tag}-0")
        probe = (f"SELECT ?s WHERE {{ <{ev}> <{SCHEMA}name> ?n . "
                 f"<{ev}> <personal:tookPlaceAt> ?s }}")
        updates = []
        for j in range(2):
            note = f"urn:bench:note:{tag}-{j}"
            notes.append(note)
            updates.append(f'INSERT DATA {{ <{note}> <personal:note> "r{r} n{j}" }}')
        old = notes.pop(0)
        updates.append(f'DELETE DATA {{ <{old}> <personal:note> "{old_text(old)}" }}')
        exp = dict(exp, stays=exp["stays"] + len(dwells),
                   event_stay=exp["event_stay"] + linked,
                   same_as=box.same_as_pairs(), notes=len(notes))
        out.append({"docs": docs, "removed": [f"mail/{removable[r]}"], "probe": probe,
                    "updates": updates, "expect": exp})
    return out


def old_text(note: str) -> str:
    """The literal a note was inserted with (`urn:bench:note:<seed>-r<r>-<j>`)."""
    r, j = note.rsplit("-r", 1)[1].split("-")
    return f"r{r} n{j}"
