"""Seeded CRM feed generator for the ``crm`` workload.

It writes the seven bronze feeds of ``sources.feeds.FEED_SCHEMAS`` as JSON
lines, one directory per day, and derives from the same in-memory model what
a correct pipeline run must report for that day.

Day 0 is a full CRM portal.  Each later day applies a fixed change mix to the
contact feed (owner reassignments, dropped contacts, new contacts) and appends
fresh email events and form submissions to their feeds.  Users, companies,
deals and engagements do not change; their day-0 files are hard-linked into
every later day.  Edge-case values follow the unit-test fixtures: padded and
mixed-case emails, non-numeric counts and amounts, null associations, events
with no recipient or an ignored type, and form emails under synonym names.

Ground truth per day (``CrmDay.truth``):

- ``stats``: live and deleted rows per node label after the run;
- ``node_changes``: the run's node changelog counts per label and change type;
- ``edge_changes``: the run's tracked-edge changelog counts (added/removed).

Report truth for the latest day (``owner_counts``, ``deals_by_company``) is
computed on demand from the same model.  The ``crm`` workload runs day 0
only (perfbench/README.md says why); the generator's tests cover later days.
"""

from __future__ import annotations

import json
import os
import random
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timezone
from decimal import Decimal

FEEDS = (
    "contacts",
    "companies",
    "deals",
    "engagements",
    "users",
    "email_events",
    "form_submissions",
)
STATIC_FEEDS = ("companies", "deals", "engagements", "users")

FIRST_NAMES = ["Ava", "Ben", "Cleo", "Dev", "Eli", "Fay", "Gus", "Hana", "Ivo", "Jun"]
INDUSTRIES = ["Software", "Retail", "Finance", "Health", "Energy", ""]
STAGES = ["subscriber", "lead", "marketingqualifiedlead", "opportunity", "customer"]
DEAL_STAGES = ["appointmentscheduled", "qualifiedtobuy", "contractsent", "closedwon"]
ENG_TYPES = ["NOTE", "CALL", "MEETING", "TASK"]
FORM_EMAIL_FIELDS = ["email", "Email", "work_email", "email_address"]

DAY0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
DAY_MS = 86_400_000


@dataclass(frozen=True)
class CrmSpec:
    contacts: int = 2000
    owner_moves: float = 0.05  # share of live contacts reassigned per day
    drops: float = 0.01  # share of live contacts dropped (soft delete) per day
    adds: float = 0.02  # new contacts per day, as a share of live contacts
    events_per_contact: float = 0.5  # day-0 email events per contact
    fresh_events: float = 0.1  # fresh email events per day, per contact
    fresh_forms: float = 0.03  # fresh form submissions per day, per contact

    @property
    def users(self) -> int:
        return max(8, self.contacts // 200)

    @property
    def companies(self) -> int:
        return max(10, self.contacts // 10)

    @property
    def deals(self) -> int:
        return max(10, self.contacts // 5)

    @property
    def engagements(self) -> int:
        return max(10, self.contacts // 2)


@dataclass
class CrmDay:
    day: int
    path: str  # feeds directory of this day (one subdirectory per feed)
    now: str  # the run's ``now``
    truth: dict = field(default_factory=dict)


def _iso(ms: int) -> str:
    return datetime.fromtimestamp(ms / 1000, tz=timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


class CrmGenerator:
    """Deterministic for a given (spec, seed): same feeds, same truth."""

    def __init__(self, root: str, seed: int, spec: CrmSpec = CrmSpec()):
        self.root = root
        self.spec = spec
        self.rng = random.Random(seed)
        self.days: list[CrmDay] = []
        self._clock = DAY0_MS
        self._urls = [f"https://www.site{i % 7}.com/page/{i}" for i in range(120)]
        self._campaigns = [
            (f"camp{i:02d}", f"Campaign {i:02d}", f"Subject {i:02d}") for i in range(8)
        ]
        self._users = [self._user(i) for i in range(spec.users)]
        self._owner_ids = [u["id"] for u in self._users]
        self._companies = [self._company(i) for i in range(spec.companies)]
        self._next_contact = 0
        self._contacts: dict[str, dict] = {}
        for _ in range(spec.contacts):
            self._add_contact()
        contact_ids = sorted(self._contacts)
        self._deals = [self._deal(i, contact_ids) for i in range(spec.deals)]
        self._engagements = [
            self._engagement(i, contact_ids) for i in range(spec.engagements)
        ]
        self._events: list[dict] = []
        self._forms: list[dict] = []
        self._prev_nodes: dict[str, dict[str, object]] = {}
        self._prev_edges: set[tuple[str, str, str]] = set()
        self._deleted: Counter = Counter()

    # -- entity records ------------------------------------------------------

    def _tick(self) -> int:
        self._clock += 1000 + self.rng.randrange(60_000)
        return self._clock

    def _user(self, i: int) -> dict:
        email = f"rep{i:03d}@corp.com"
        if i % 3 == 0:
            email = f" Rep{i:03d}@Corp.COM "
        return {
            "id": f"u{i:03d}",
            "email": email,
            "first_name": FIRST_NAMES[i % len(FIRST_NAMES)],
            "last_name": f"Rep{i:03d}",
            "archived": i % 7 == 6,
            "user_id": None if i % 5 == 4 else str(100 + i),
            "teams": None if i % 4 == 3 else [{"name": "Sales"}, {"name": f"T{i % 3}"}],
            "created_at": "2023-01-01T00:00:00Z",
            "updated_at": None,
        }

    def _company(self, i: int) -> dict:
        r = self.rng
        return {
            "id": f"co{i:05d}",
            "properties": {
                "name": f"Company {i:05d}",
                "domain": f"WWW.Co{i}.com" if i % 2 else f"co{i}.io",
                "industry": r.choice(INDUSTRIES),
                "numberofemployees": "n/a" if i % 11 == 0 else str(r.randrange(5, 5000)),
                "annualrevenue": f"{r.randrange(10_000, 9_000_000)}.5",
                "hubspot_owner_id": r.choice(self._owner_ids),
                "createdate": "2023-06-01T00:00:00Z",
                "country": "DE",
            },
        }

    def _add_contact(self) -> str:
        r = self.rng
        i = self._next_contact
        self._next_contact += 1
        cid = f"c{i:06d}"
        email = f"contact{i}@example.com"
        if i % 5 == 0:
            email = f" Contact{i}@Example.COM "
        props = {
            "email": email,
            "firstname": FIRST_NAMES[i % len(FIRST_NAMES)],
            "lastname": f"Person{i}",
            "lifecyclestage": r.choice(STAGES),
            "createdate": _iso(DAY0_MS - r.randrange(1, 300) * DAY_MS),
            "hubspot_owner_id": r.choice(self._owner_ids),
            "hs_email_open": str(r.randrange(0, 40)),
            "hs_email_click": "not_a_number" if i % 9 == 0 else str(r.randrange(0, 9)),
            "hs_analytics_num_visits": str(r.randrange(0, 99)),
            "hs_analytics_source": r.choice(["ORGANIC_SEARCH", "DIRECT_TRAFFIC", "EMAIL"]),
            "country": "DE",
            "city": r.choice(["Berlin", "Hamburg", "Munich"]),
        }
        if r.random() < 0.9:
            props["associatedcompanyid"] = r.choice(self._companies)["id"]
        if r.random() < 0.7:
            props["hs_analytics_last_url"] = r.choice(self._urls)
        self._contacts[cid] = {
            "id": cid,
            "properties": props,
            "associations": None,
            "created_at": None,
            "updated_at": None,
        }
        return cid

    def _deal(self, i: int, contact_ids: list[str]) -> dict:
        r = self.rng
        amount = "bogus" if i % 13 == 0 else f"{r.randrange(100, 90_000)}.{r.randrange(100):02d}"
        assoc = None
        if i % 10 != 9:
            contacts = r.sample(contact_ids, 1 + (i % 2))
            assoc = {
                "companies": [{"id": r.choice(self._companies)["id"]}],
                "contacts": [{"id": c} for c in contacts],
            }
            # some contacts list the deal on their own side as well
            c0 = self._contacts[contacts[0]]
            if i % 3 == 0:
                c0["associations"] = {"deals": [{"id": f"d{i:05d}"}]}
        return {
            "id": f"d{i:05d}",
            "properties": {
                "dealname": f"Deal {i:05d}",
                "amount": amount,
                "dealstage": r.choice(DEAL_STAGES),
                "hs_is_closed_won": r.choice(["True", "false"]),
                "hubspot_owner_id": r.choice(self._owner_ids),
                "createdate": "2023-09-01T00:00:00Z",
            },
            "associations": assoc,
        }

    def _engagement(self, i: int, contact_ids: list[str]) -> dict:
        r = self.rng
        etype = ENG_TYPES[i % len(ENG_TYPES)]
        props = {
            "hs_engagement_type": etype,
            "hs_timestamp": _iso(DAY0_MS - r.randrange(1, 90) * DAY_MS),
        }
        if etype == "NOTE":
            props["hs_note_body"] = "note " * r.randrange(5, 60)
        elif etype == "CALL":
            props["hs_call_title"] = "Intro call"
            props["hs_call_duration"] = str(r.randrange(1000, 900_000))
        elif etype == "MEETING":
            props["hs_meeting_title"] = "Demo"
        else:
            props["hs_task_subject"] = "Follow up"
            props["hs_task_status"] = "NOT_STARTED"
        return {
            "id": f"e{i:06d}",
            "properties": props,
            "associations": {
                "contacts": [{"id": r.choice(contact_ids)}] if i % 4 else None,
                "companies": [{"id": r.choice(self._companies)["id"]}] if i % 3 == 0 else None,
                "deals": [{"id": f"d{r.randrange(self.spec.deals):05d}"}] if i % 5 == 0 else None,
            },
        }

    def _event(self, live_ids: list[str]) -> dict:
        r = self.rng
        x = r.random()
        etype = "SENT" if x < 0.05 else ("CLICK" if x < 0.35 else "OPEN")
        email = self._contacts[r.choice(live_ids)]["properties"]["email"]
        recipient = None if r.random() < 0.03 else (email.upper() if r.random() < 0.2 else email)
        camp = None if r.random() < 0.05 else r.choice(self._campaigns)
        return {
            "id": None,
            "event_type": etype,
            "recipient": recipient,
            "created": str(self._tick()),
            "emailCampaignId": camp[0] if camp else None,
            "emailCampaignName": camp[1] if camp else None,
            "subject": camp[2] if camp else None,
            "deviceType": r.choice(["COMPUTER", "MOBILE", None]),
            "location": {"city": "Berlin"} if r.random() < 0.5 else None,
            "userAgent": "UA",
            "url": r.choice(self._urls) if etype == "CLICK" and r.random() < 0.9 else None,
        }

    def _form(self, live_ids: list[str]) -> dict:
        r = self.rng
        if r.random() < 0.8:
            email = self._contacts[r.choice(live_ids)]["properties"]["email"]
        else:
            email = f"stranger{r.randrange(10**6)}@nowhere.com"
        return {
            "form_guid": f"f{r.randrange(4)}",
            "form_name": "Contact Us",
            "submitted_at": self._tick(),
            "page_url": r.choice(self._urls) if r.random() < 0.9 else None,
            "page_title": "Contact",
            "ip_address": "10.0.0.1",
            "values": [
                {"name": r.choice(FORM_EMAIL_FIELDS), "value": email},
                {"name": "message", "value": "hi"},
            ],
        }

    # -- days ----------------------------------------------------------------

    def next_day(self) -> CrmDay:
        """Advance the model by one day, write that day's feeds, return it."""
        d = len(self.days)
        r = self.rng
        spec = self.spec
        live = sorted(self._contacts)
        if d > 0:
            n = len(live)
            dropped = r.sample(live, int(n * spec.drops))
            for cid in dropped:
                del self._contacts[cid]
            live = sorted(self._contacts)
            for cid in r.sample(live, int(n * spec.owner_moves)):
                props = self._contacts[cid]["properties"]
                props["hubspot_owner_id"] = r.choice(
                    [u for u in self._owner_ids if u != props["hubspot_owner_id"]]
                )
            for _ in range(int(n * spec.adds)):
                self._add_contact()
            live = sorted(self._contacts)
            n_events = int(spec.contacts * spec.fresh_events)
            n_forms = int(spec.contacts * spec.fresh_forms)
        else:
            n_events = int(spec.contacts * spec.events_per_contact)
            n_forms = int(spec.contacts * spec.fresh_forms) * 2
        self._clock = max(self._clock, DAY0_MS + d * DAY_MS)
        fresh_events = [self._event(live) for _ in range(n_events)]
        fresh_forms = [self._form(live) for _ in range(n_forms)]
        self._events.extend(fresh_events)
        self._forms.extend(fresh_forms)

        path = os.path.join(self.root, f"day{d:02d}")
        prev = self.days[-1].path if self.days else None
        for name in FEEDS:
            os.makedirs(os.path.join(path, name))
        _write(os.path.join(path, "contacts", "part-0.json"),
               (self._contacts[c] for c in live))
        if prev is None:
            _write(os.path.join(path, "users", "part-0.json"), self._users)
            _write(os.path.join(path, "companies", "part-0.json"), self._companies)
            _write(os.path.join(path, "deals", "part-0.json"), self._deals)
            _write(os.path.join(path, "engagements", "part-0.json"), self._engagements)
        else:
            for name in STATIC_FEEDS + ("email_events", "form_submissions"):
                for f in sorted(os.listdir(os.path.join(prev, name))):
                    os.link(os.path.join(prev, name, f), os.path.join(path, name, f))
        _write(os.path.join(path, "email_events", f"part-{d}.json"), fresh_events)
        _write(os.path.join(path, "form_submissions", f"part-{d}.json"), fresh_forms)

        now = _iso(DAY0_MS + (60 + d) * DAY_MS).replace("T", " ").rstrip("Z")
        day = CrmDay(day=d, path=path, now=now)
        day.truth = self._truth()
        self.days.append(day)
        return day

    # -- ground truth ----------------------------------------------------------

    def _nodes(self) -> dict[str, dict[str, object]]:
        """label -> {hubspot_id: content}; content differs iff the row's
        snapshot hash would."""
        contacts = {cid: json.dumps(c, sort_keys=True) for cid, c in self._contacts.items()}
        opens, clicks, campaigns, urls = {}, {}, {}, set()
        for c in self._contacts.values():
            u = c["properties"].get("hs_analytics_last_url")
            if u:
                urls.add(u)
        for i, ev in enumerate(self._events):
            if ev["emailCampaignId"] is not None:
                cid = ev["emailCampaignId"]
                first = campaigns.get(cid, (None, None, ev["created"]))
                campaigns[cid] = (ev["emailCampaignName"], ev["subject"],
                                  min(first[2], ev["created"], key=int))
            if ev["recipient"] is None or ev["event_type"] not in ("OPEN", "CLICK"):
                continue
            (opens if ev["event_type"] == "OPEN" else clicks)[f"ev{i}"] = 1
            if ev["event_type"] == "CLICK" and ev["url"]:
                urls.add(ev["url"])
        for f in self._forms:
            if f["page_url"]:
                urls.add(f["page_url"])
        return {
            "HUBSPOT_User": {u["id"]: 1 for u in self._users},
            "HUBSPOT_Contact": contacts,
            "HUBSPOT_Company": {c["id"]: 1 for c in self._companies},
            "HUBSPOT_Deal": {d["id"]: 1 for d in self._deals},
            "HUBSPOT_Activity": {e["id"]: 1 for e in self._engagements},
            "HUBSPOT_EmailOpenEvent": opens,
            "HUBSPOT_EmailClickEvent": clicks,
            "HUBSPOT_EmailCampaign": campaigns,
            "HUBSPOT_FormSubmission": {f"f{i}": 1 for i in range(len(self._forms))},
            "HUBSPOT_WebPage": {u: 1 for u in urls},
        }

    def tracked_edges(self) -> set[tuple[str, str, str]]:
        """(rel_type, from_id, to_id) of every change-tracked edge, as
        operators.transforms derives them from today's feeds."""
        out: set[tuple[str, str, str]] = set()
        for c in self._contacts.values():
            p = c["properties"]
            if p.get("hubspot_owner_id"):
                out.add(("OWNED_BY", c["id"], p["hubspot_owner_id"]))
            if p.get("associatedcompanyid"):
                out.add(("WORKS_AT", c["id"], p["associatedcompanyid"]))
            for a in (c["associations"] or {}).get("deals") or []:
                out.add(("ASSOCIATED_WITH", c["id"], a["id"]))
        for co in self._companies:
            out.add(("OWNED_BY", co["id"], co["properties"]["hubspot_owner_id"]))
        for d in self._deals:
            out.add(("OWNED_BY", d["id"], d["properties"]["hubspot_owner_id"]))
            a = d["associations"] or {}
            for co in a.get("companies") or []:
                out.add(("BELONGS_TO", d["id"], co["id"]))
            for c in a.get("contacts") or []:
                out.add(("ASSOCIATED_WITH", c["id"], d["id"]))
        for e in self._engagements:
            a = e["associations"]
            for field_, rel in (("contacts", "INVOLVES"), ("companies", "INVOLVES"),
                                ("deals", "RELATED_TO")):
                for x in a.get(field_) or []:
                    out.add((rel, e["id"], x["id"]))
        return out

    def _truth(self) -> dict:
        nodes = self._nodes()
        stats, changes = {}, {}
        for label, rows in nodes.items():
            prev = self._prev_nodes.get(label, {})
            c = Counter()
            for k, v in rows.items():
                if k not in prev:
                    c["new"] += 1
                elif prev[k] != v:
                    c["updated"] += 1
            c["deleted"] = sum(1 for k in prev if k not in rows)
            self._deleted[label] += c["deleted"]
            stats[label] = {"live": len(rows), "deleted": self._deleted[label]}
            changes[label] = {k: v for k, v in c.items() if v}
        edges = self.tracked_edges()
        edge_changes = {
            k: v
            for k, v in (
                ("added", len(edges - self._prev_edges)),
                ("removed", len(self._prev_edges - edges)),
            )
            if v
        }
        self._prev_nodes, self._prev_edges = nodes, edges
        return {"stats": stats, "node_changes": changes, "edge_changes": edge_changes}

    def live_contacts(self) -> list[str]:
        return sorted(self._contacts)

    def owner_counts(self) -> dict[str, tuple[int, int, int]]:
        """cleaned owner email -> (contacts, companies, deals) owned today
        (``reporting.all_owners_summary``)."""
        counts = {u["id"]: [0, 0, 0] for u in self._users}
        for c in self._contacts.values():
            counts[c["properties"]["hubspot_owner_id"]][0] += 1
        for co in self._companies:
            counts[co["properties"]["hubspot_owner_id"]][1] += 1
        for d in self._deals:
            counts[d["properties"]["hubspot_owner_id"]][2] += 1
        return {
            u["email"].strip().lower(): tuple(counts[u["id"]]) for u in self._users
        }

    def deals_by_company(self, top: int = 10) -> list[tuple[str, int, float]]:
        """(company_id, deal_count, total_value) rows of
        ``reporting.deals_by_company(g, top)``."""
        per: dict[str, list] = {}
        for d in self._deals:
            amount = d["properties"]["amount"]
            value = Decimal(amount) if amount != "bogus" else Decimal(0)
            for co in (d["associations"] or {}).get("companies") or []:
                row = per.setdefault(co["id"], [0, Decimal(0)])
                row[0] += 1
                row[1] += value
        rows = sorted(per.items(), key=lambda kv: (-kv[1][1], kv[0]))[:top]
        return [(cid, n, float(v)) for cid, (n, v) in rows]


def _write(path: str, records) -> None:
    with open(path, "w") as fh:
        for rec in records:
            fh.write(json.dumps(rec))
            fh.write("\n")
