#!/usr/bin/env python3
"""Seeded generator for the ETL workload's raw CRM snapshots.

Writes a base and a delta snapshot in the seven raw JSON-lines files that
`graft.Pipeline` reads (users, contacts, companies, deals, engagements,
email_events, form_submissions). `--scale 1` is the size of the reference
portal (7,435 contacts, 6,877 companies, 1,970 deals, 3,067 engagements,
4,295 email events, 500 form submissions, 50 users).

The delta deletes 1%, modifies 5% and adds 2% of every entity table, moves
a third of the modified contacts to another owner and drops 3% of the
deal-to-company associations. Email events and form submissions are
append-only facts: the delta drops 1% of them (a lookback window) and adds
2%.

Besides the snapshots it returns the counts a base load followed by a delta
reload implies: current and history rows per SCD table, relationship-change
rows added and removed, event rows, and the row counts of the benchmark's
report calls. None of them depends on load-time timestamps.

Usage: gen_crm.py OUT_DIR [--seed N] [--scale F]
  (writes OUT_DIR/base, OUT_DIR/delta and OUT_DIR/expected.json)
"""
import argparse
import json
import os
import random

REFERENCE = {"users": 50, "contacts": 7435, "companies": 6877, "deals": 1970,
             "engagements": 3067, "email_events": 4295, "forms": 500}
INDUSTRIES = ["Tech", "Retail", "Finance", "Health", "Energy", "Media"]
STAGES = ["appointmentscheduled", "qualifiedtobuy", "presentationscheduled",
          "decisionmakerboughtin", "contractsent", "closedwon", "closedlost"]
LIFECYCLE = ["subscriber", "lead", "marketingqualifiedlead",
             "salesqualifiedlead", "opportunity", "customer"]
SOURCES = ["ORGANIC_SEARCH", "PAID_SEARCH", "EMAIL_MARKETING", "SOCIAL_MEDIA",
           "REFERRALS", "DIRECT_TRAFFIC"]
TITLES = ["CTO", "CEO", "VP Sales", "Engineer", "Analyst", "Manager"]
ENGAGEMENT_TYPES = ["MEETING", "CALL", "NOTE", "TASK"]
EVENT_TYPES = ["OPEN"] * 11 + ["CLICK"] * 3 + ["SENT"] * 4 + ["BOUNCE", "DEFERRED"]
EPOCH_MS = 1704067200000  # 2024-01-01T00:00:00Z
TRACKED = {"WORKS_AT", "ASSOCIATED_WITH", "BELONGS_TO", "OWNED_BY", "INVOLVES",
           "RELATED_TO"}


def _n(scale, key):
    return max(5, round(REFERENCE[key] * scale))


def _ms(rng):
    return str(EPOCH_MS + rng.randrange(0, 180 * 86_400_000))


class Snapshot:
    """One snapshot as id -> record dicts per raw file."""

    def __init__(self):
        self.users, self.contacts, self.companies = {}, {}, {}
        self.deals, self.engagements = {}, {}
        self.events, self.forms = {}, {}

    def entity_tables(self):
        return {"users": self.users, "contacts": self.contacts,
                "companies": self.companies, "deals": self.deals,
                "activities": self.engagements}

    def copy(self):
        s = Snapshot()
        for name in vars(self):
            setattr(s, name, {k: json.loads(json.dumps(v))
                              for k, v in getattr(self, name).items()})
        return s


class Generator:
    def __init__(self, seed, scale):
        self.rng = random.Random(seed)
        self.scale = scale
        self.next_id = {}
        self.pages = [f"https://site{i % 7}.example.com/page/{i}" for i in range(200)]

    def _id(self, prefix):
        k = self.next_id.get(prefix, 0)
        self.next_id[prefix] = k + 1
        return f"{prefix}{k}"

    def user(self):
        uid = self._id("u")
        return uid, {"id": uid, "email": f"owner.{uid}@example.com",
                     "first_name": f"First{uid}", "last_name": f"Last{uid}",
                     "archived": self.rng.random() < 0.1,
                     "created_at": "2024-01-01T10:00:00Z",
                     "updated_at": "2024-01-02T10:00:00Z",
                     "user_id": uid[1:],
                     "teams": [{"id": "1", "name": "Sales"}]}

    def company(self, s):
        cid = self._id("co")
        r = self.rng
        return cid, {"id": cid, "properties": {
            "name": f"Company {cid}", "domain": f"www.{cid}.example.com",
            "industry": r.choice(INDUSTRIES),
            "numberofemployees": str(r.randrange(1, 5000)),
            "annualrevenue": f"{r.uniform(1e4, 1e8):.2f}",
            "createdate": _ms(r), "hubspot_owner_id": r.choice(list(s.users)),
            "country": "US", "city": f"City{r.randrange(50)}"},
            "created_at": "2024-01-01 00:00:00+00:00",
            "updated_at": "2024-06-01 00:00:00+00:00", "associations": {}}

    def contact(self, s):
        cid = self._id("c")
        r = self.rng
        p = {"email": f"{cid}@mail{r.randrange(100)}.example.com",
             "firstname": f"F{cid}", "lastname": f"L{cid}",
             "jobtitle": r.choice(TITLES), "lifecyclestage": r.choice(LIFECYCLE),
             "createdate": _ms(r), "lastmodifieddate": "2024-06-01T00:00:00Z",
             "hs_email_open": str(r.randrange(50)),
             "hs_email_click": str(r.randrange(10)),
             "hs_analytics_num_visits": str(r.randrange(100)),
             "hs_analytics_source": r.choice(SOURCES), "country": "US"}
        if r.random() < 0.9:
            p["hubspot_owner_id"] = r.choice(list(s.users))
        if r.random() < 0.85:
            p["associatedcompanyid"] = r.choice(list(s.companies))
        if r.random() < 0.7:
            p["hs_analytics_first_url"] = r.choice(self.pages)
        assoc = {}
        if s.deals and r.random() < 0.1:
            assoc["deals"] = [{"id": r.choice(list(s.deals))}]
        return cid, {"id": cid, "properties": p,
                     "created_at": "2024-01-01 00:00:00+00:00",
                     "updated_at": "2024-06-01 00:00:00+00:00",
                     "associations": assoc}

    def deal(self, s):
        did = self._id("d")
        r = self.rng
        stage = r.choice(STAGES)
        contacts = r.sample(list(s.contacts), r.randrange(1, 4))
        assoc = {"contacts": [{"id": c} for c in contacts]}
        if r.random() < 0.9:
            assoc["companies"] = [{"id": r.choice(list(s.companies))}]
        return did, {"id": did, "properties": {
            "dealname": f"Deal {did}", "amount": f"{r.uniform(100, 1e6):.2f}",
            "dealstage": stage, "pipeline": "default", "closedate": _ms(r),
            "createdate": _ms(r),
            "hs_is_closed_won": "true" if stage == "closedwon" else "false",
            "hubspot_owner_id": r.choice(list(s.users)),
            "hs_forecast_probability": f"{r.random():.2f}"},
            "created_at": "2024-01-01 00:00:00+00:00",
            "updated_at": "2024-06-01 00:00:00+00:00", "associations": assoc}

    def engagement(self, s):
        eid = self._id("e")
        r = self.rng
        t = r.choice(ENGAGEMENT_TYPES)
        p = {"hs_engagement_type": t, "hs_timestamp": _ms(r), "hs_createdate": _ms(r)}
        if t == "MEETING":
            p.update(hs_meeting_title=f"Meeting {eid}", hs_meeting_body="notes",
                     hs_meeting_start_time=p["hs_timestamp"],
                     hs_meeting_end_time=str(int(p["hs_timestamp"]) + 3_600_000))
        elif t == "CALL":
            p.update(hs_call_title=f"Call {eid}", hs_call_duration=str(r.randrange(60, 3600)))
        elif t == "NOTE":
            p.update(hs_note_body=f"note about {eid}")
        else:
            p.update(hs_task_subject=f"Task {eid}", hs_task_body="do it",
                     hs_task_status=r.choice(["NOT_STARTED", "COMPLETED"]))
        assoc = {"contacts": [{"id": r.choice(list(s.contacts))}]}
        if r.random() < 0.4:
            assoc["companies"] = [{"id": r.choice(list(s.companies))}]
        if r.random() < 0.3:
            assoc["deals"] = [{"id": r.choice(list(s.deals))}]
        return eid, {"id": eid, "properties": p,
                     "created_at": "2024-01-01 00:00:00+00:00",
                     "updated_at": "2024-06-01 00:00:00+00:00", "associations": assoc}

    def event(self, s):
        vid = self._id("ev")
        r = self.rng
        t = r.choice(EVENT_TYPES)
        camp = r.randrange(40)
        ev = {"event_type": t,
              "recipient": s.contacts[r.choice(list(s.contacts))]["properties"]["email"],
              "created": str(EPOCH_MS + int(vid[2:]) * 1000 + r.randrange(1000)),
              "emailCampaignId": str(900 + camp),
              "emailCampaignName": f"Campaign {camp}", "subject": f"Subject {camp}",
              "deviceType": r.choice(["COMPUTER", "MOBILE"]),
              "location": {"city": f"City{r.randrange(50)}"}}
        if t == "CLICK":
            ev["url"] = r.choice(self.pages)
        return vid, ev

    def form(self, s):
        fid = self._id("f")
        r = self.rng
        email = s.contacts[r.choice(list(s.contacts))]["properties"]["email"]
        g = r.randrange(10)
        return fid, {"form_guid": f"g-{g}", "form_name": f"Form {g}",
                     "submitted_at": str(EPOCH_MS + int(fid[1:]) * 1000),
                     "page_url": r.choice(self.pages), "page_title": f"Page {g}",
                     "ip_address": "10.0.0.1", "email": email,
                     "values": [{"name": "email", "value": email}],
                     "contact_id": None}

    def base(self):
        s = Snapshot()
        n = lambda k: _n(self.scale, k)
        for table, make, key in [
                ("users", self.user, "users"), ("companies", self.company, "companies"),
                ("contacts", self.contact, "contacts"), ("deals", self.deal, "deals"),
                ("engagements", self.engagement, "engagements"),
                ("events", self.event, "email_events"), ("forms", self.form, "forms")]:
            target = getattr(s, table)
            for _ in range(n(key)):
                k, v = make(s) if make != self.user else make()
                target[k] = v
        return s

    def delta(self, base):
        s = base.copy()
        r = self.rng
        pick = lambda ids, frac, avoid=(): r.sample(
            sorted(set(ids) - set(avoid)), max(1, round(frac * len(ids))))
        modified = {}
        for table in ["users", "companies", "contacts", "deals", "engagements"]:
            recs = getattr(s, table)
            gone = pick(recs, 0.01)
            mod = pick(recs, 0.05, gone)
            for k in gone:
                del recs[k]
            modified[table] = mod
        for k in modified["users"]:
            s.users[k]["last_name"] += "-v2"
        for k in modified["companies"]:
            s.companies[k]["properties"]["industry"] += "-v2"
        for i, k in enumerate(modified["contacts"]):
            p = s.contacts[k]["properties"]
            p["jobtitle"] += "-v2"
            if i % 3 == 0:
                p["hubspot_owner_id"] = r.choice(sorted(s.users))
        for k in modified["deals"]:
            s.deals[k]["properties"]["dealstage"] += "-v2"
        for k in modified["engagements"]:
            p = s.engagements[k]["properties"]
            p["hs_timestamp"] = str(int(p["hs_timestamp"]) + 60_000)
        kept = [k for k, d in sorted(s.deals.items()) if "companies" in d["associations"]]
        for k in pick(kept, 0.03):
            del s.deals[k]["associations"]["companies"]
        for table in ["events", "forms"]:
            for k in pick(getattr(s, table), 0.01):
                del getattr(s, table)[k]
        for table, make, key in [
                ("users", self.user, "users"), ("companies", self.company, "companies"),
                ("contacts", self.contact, "contacts"), ("deals", self.deal, "deals"),
                ("engagements", self.engagement, "engagements"),
                ("events", self.event, "email_events"), ("forms", self.form, "forms")]:
            target = getattr(s, table)
            for _ in range(max(1, round(0.02 * _n(self.scale, key)))):
                k, v = make(s) if make != self.user else make()
                target[k] = v
        return s


def tracked_edges(s):
    """The trackable edges `Pipeline` keeps after validation, as key tuples."""
    nodes = {"HUBSPOT_User": set(s.users), "HUBSPOT_Contact": set(s.contacts),
             "HUBSPOT_Company": set(s.companies), "HUBSPOT_Deal": set(s.deals),
             "HUBSPOT_Activity": set(s.engagements)}
    edges = set()

    def add(rel, st, si, dt, di):
        if si in nodes[st] and di in nodes[dt]:
            edges.add((rel, st, si, dt, di))

    for k, c in s.contacts.items():
        p = c["properties"]
        if "associatedcompanyid" in p:
            add("WORKS_AT", "HUBSPOT_Contact", k, "HUBSPOT_Company", p["associatedcompanyid"])
        for a in c["associations"].get("deals", []):
            add("ASSOCIATED_WITH", "HUBSPOT_Contact", k, "HUBSPOT_Deal", a["id"])
    for label, table in [("HUBSPOT_Contact", s.contacts), ("HUBSPOT_Company", s.companies),
                         ("HUBSPOT_Deal", s.deals)]:
        for k, rec in table.items():
            owner = rec["properties"].get("hubspot_owner_id")
            if owner is not None:
                add("OWNED_BY", label, k, "HUBSPOT_User", owner)
    for k, d in s.deals.items():
        for a in d["associations"].get("contacts", []):
            add("ASSOCIATED_WITH", "HUBSPOT_Contact", a["id"], "HUBSPOT_Deal", k)
        for a in d["associations"].get("companies", []):
            add("BELONGS_TO", "HUBSPOT_Deal", k, "HUBSPOT_Company", a["id"])
    for k, e in s.engagements.items():
        a = e["associations"]
        for x in a.get("contacts", []):
            add("INVOLVES", "HUBSPOT_Activity", k, "HUBSPOT_Contact", x["id"])
        for x in a.get("companies", []):
            add("INVOLVES", "HUBSPOT_Activity", k, "HUBSPOT_Company", x["id"])
        for x in a.get("deals", []):
            add("RELATED_TO", "HUBSPOT_Activity", k, "HUBSPOT_Deal", x["id"])
    return edges


def expected_counts(base, delta):
    out = {}
    for name, b in base.entity_tables().items():
        d = delta.entity_tables()[name]
        out[f"current_{name}"] = len(set(b) | set(d))
        # association edits alone leave the node row (and its hash) unchanged
        fields = (lambda rec: rec) if name == "users" else (lambda rec: rec["properties"])
        updated = sum(1 for k in set(b) & set(d) if fields(b[k]) != fields(d[k]))
        out[f"history_{name}"] = updated + len(set(b) - set(d))
    eb, ed = tracked_edges(base), tracked_edges(delta)
    out["relchanges_added"] = len(ed - eb)
    out["relchanges_removed"] = len(eb - ed)
    for name, ty in [("email_opens", "OPEN"), ("email_clicks", "CLICK")]:
        ids = {k for snap in (base, delta) for k, v in snap.events.items()
               if v["event_type"] == ty}
        out[f"events_{name}"] = len(ids)
    out["events_form_submissions"] = len(set(base.forms) | set(delta.forms))
    changes = out["relchanges_added"] + out["relchanges_removed"]
    owned = sum(1 for e in (ed - eb) | (eb - ed) if e[0] == "OWNED_BY")
    reports = {"temporal_stats": 5,
               "recent_changes": min(50, out["current_contacts"]),
               "rel_changes": min(20, changes),
               "deleted": len(set(base.contacts) - set(delta.contacts)),
               "ownership_changes": owned,
               "graph_rank": 50}
    return out, reports


def _write(snap, out):
    os.makedirs(out, exist_ok=True)
    files = {"users": snap.users, "contacts": snap.contacts,
             "companies": snap.companies, "deals": snap.deals,
             "engagements": snap.engagements, "email_events": snap.events,
             "form_submissions": snap.forms}
    total = 0
    for name, recs in files.items():
        path = os.path.join(out, f"{name}.json")
        with open(path, "w") as f:
            for k in sorted(recs, key=lambda x: (len(x), x)):
                f.write(json.dumps(recs[k], separators=(",", ":")) + "\n")
        total += os.path.getsize(path)
    return total


def generate(out, seed, scale):
    g = Generator(seed, scale)
    base = g.base()
    delta = g.delta(base)
    counts, reports = expected_counts(base, delta)
    raw_bytes = _write(base, os.path.join(out, "base")) + \
        _write(delta, os.path.join(out, "delta"))
    expected = {"counts": counts, "reports": reports, "raw_bytes": raw_bytes}
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--scale", type=float, default=1.0)
    a = ap.parse_args()
    print(json.dumps(generate(a.out, a.seed, a.scale), sort_keys=True))


if __name__ == "__main__":
    main()
