"""Seeded inputs for the weekly-sync workloads, with the outputs a
correct sync must produce.

One seed fixes the org (regions, districts, locations, people), the
drift between the file drop and the API (new, renamed and API-only
locations; missing and orphan districts; unknown corporate emails) and
the drop files. Exact counts are fixed by the workload spec, so every
seed does the same amount of work; the seed only changes names,
addresses, assignments and case noise.

``expected`` mirrors the reference semantics in plain Python: the
``SyncReport.counts`` of one sync, the exact set of ``locationAdd``
records, and how many records each mutation operation must receive.
"""

from __future__ import annotations

import csv
import json
import os
import random
from dataclasses import dataclass

RAW_HEADERS = [
    "REGION / SUPERVISOR", "District", "Location", "Unit #", "Address", "City",
    "State", "Zip Code", "DM", "DM Email", "Supervisor Email", "Franchise or Equity",
]
SHEET = "Sorted by Store #"
BRANDS = ["Acme", "Globex", "Initech", "Umbrella", "Hooli", "Vandelay", "Stark", "Wayne"]
FIRST = ["Ada", "Grace", "Alan", "Edsger", "Barbara", "Donald", "Frances", "John", "Radia", "Ken"]
LAST = ["Lovelace", "Hopper", "Turing", "Dijkstra", "Liskov", "Knuth", "Allen", "Backus", "Perlman", "Thompson"]
CITIES = [("Springfield", "WA"), ("Portland", "OR"), ("Boise", "ID"), ("Reno", "NV"), ("Bend", "OR"), ("Tulsa", "OK"), ("Austin", "TX"), ("Dayton", "OH")]
STREETS = ["Main St", "Oak Ave", "Pine Rd", "Elm Blvd", "Fir Ln", "Cedar Ct", "Birch Way"]


REGIONS = 12
CORPORATE = 6  # corporate-manager e-mails in the drop
MISSING_DISTRICTS = 2  # file districts absent from the API
ORPHAN_DISTRICTS = 2  # API-only districts


@dataclass(frozen=True)
class WeeklySpec:
    """Sizes and API behaviour of one weekly-sync workload."""

    locations: int
    districts: int
    new_locations: int  # file locations the API lacks; all of them on a first run
    deprecated: int  # API-only locations
    renamed: int  # API names drifted; remoteId still matches
    drop: str  # "csv" or "xlsx"
    fail_every: int  # every N-th mutation POST fails once (0: never)


def _norm(email: str | None) -> str | None:
    return None if email is None else email.strip().lower()


def _noisy(rng: random.Random, email: str) -> str:
    """Case and whitespace noise the pipeline's normalize_email strips."""
    r = rng.random()
    if r < 0.2:
        return email.upper()
    if r < 0.4:
        return f" {email.title()} "
    return email


def _zip(rng: random.Random) -> tuple[str | None, str]:
    """(zip as dropped, zip5 the locationAdd payload must carry)."""
    z = rng.randint(10000, 99999)
    r = rng.random()
    if r < 0.7:
        return f"{z}.0", str(z)
    if r < 0.9:
        return f"{z}-{rng.randint(1000, 9999)}", str(z)
    if r < 0.95:
        return "junk", ""
    return None, ""


class WeeklyInputs:
    """The generated org for one (spec, seed)."""

    def __init__(self, spec: WeeklySpec, seed: int):
        self.spec = spec
        rng = random.Random(seed)

        self.regions = []  # [name, supervisor email as dropped (None: blank), equity?, supervisor email]
        for r in range(REGIONS):
            first, last = rng.choice(FIRST), rng.choice(LAST)
            name = f"{BRANDS[r % len(BRANDS)]} / {first} {last} {r}"
            email = f"{first}.{last}.{r}@corp.example".lower()
            equity = r % 3 == 0  # every third region is equity-run
            self.regions.append([name, _noisy(rng, email), equity, email])
        # region 1's supervisor email is blank in the drop; the P5
        # allowlist backfills it from each row's DM email
        self.regions[1][1] = None
        self.backfill = (self.regions[1][0],)

        self.districts = []  # (name, region index, dm name, dm email as dropped, dm email)
        for d in range(spec.districts):
            region = d % REGIONS if d < REGIONS else rng.randrange(REGIONS)
            first, last = rng.choice(FIRST), rng.choice(LAST)
            email = f"dm{d}.{last}@corp.example".lower()
            self.districts.append((f"District {d:04d}", region, f"{first} {last}", _noisy(rng, email), email))

        units = rng.sample(range(10_000, 10_000 + 20 * spec.locations), spec.locations)
        self.rows = []  # alignment rows in RAW_HEADERS order
        self.zip5 = []
        for i, unit in enumerate(units):
            d = i % spec.districts if i < spec.districts else rng.randrange(spec.districts)
            dname, r, dm, dm_email, _ = self.districts[d]
            rname, sup, equity, _ = self.regions[r]
            city, state = rng.choice(CITIES)
            addr = None if rng.random() < 0.03 else f"{rng.randint(1, 9999)} {rng.choice(STREETS)}"
            zip_dropped, zip5 = _zip(rng)
            self.rows.append([
                rname, dname, f"Store {unit} {city}", float(unit), addr, city, state,
                zip_dropped, dm, dm_email, sup, "Equity" if equity else "Franchise",
            ])
            self.zip5.append(zip5)

        idx = list(range(spec.locations))
        rng.shuffle(idx)
        self.new_idx = set(idx[: spec.new_locations])
        self.renamed_idx = set(idx[spec.new_locations : spec.new_locations + spec.renamed])

        self.missing_districts = {self.districts[d][0] for d in rng.sample(range(spec.districts), MISSING_DISTRICTS)}
        corp = [f"corp{k}@corp.example" for k in range(CORPORATE - 2)]
        corp.append(self.regions[0][3])  # a supervisor who is also corporate
        corp.append("nobody@elsewhere.example")  # unknown to the API
        self.corporate = [_noisy(rng, e) for e in corp]
        self.stragglers = [f"former{k}@corp.example" for k in range(3)]

    # -- API initial state ------------------------------------------------

    def api_state(self) -> dict:
        groups = []
        for r, (name, _, _, _) in enumerate(self.regions):
            groups.append({"id": f"g-r{r}", "isTop": True, "name": name, "remoteId": "", "parent": None})
        for d, (name, r, _, _, _) in enumerate(self.districts):
            if name in self.missing_districts:
                continue
            groups.append({
                "id": f"g-d{d}", "isTop": False, "name": name, "remoteId": "",
                "parent": {"id": f"g-r{r}", "name": self.regions[r][0]},
            })
        for k in range(ORPHAN_DISTRICTS):
            groups.append({
                "id": f"g-orphan{k}", "isTop": False, "name": f"Closed District {k}", "remoteId": "",
                "parent": {"id": "g-r0", "name": self.regions[0][0]},
            })

        emails = [reg[3] for reg in self.regions]
        emails += [d[4] for d in self.districts]
        emails += [e for e in map(_norm, self.corporate) if not e.endswith("elsewhere.example")]
        emails += self.stragglers
        users = []
        for k, email in enumerate(dict.fromkeys(emails)):
            users.append({"id": f"u{k}", "email": email, "firstName": email.split("@")[0], "lastName": "Example"})

        locations = []
        for i, row in enumerate(self.rows):
            if i in self.new_idx:
                continue
            name = row[2] + (" (rebranded)" if i in self.renamed_idx else "")
            locations.append({"id": f"loc-{i}", "name": name, "remoteId": str(int(row[3]))})
        for k in range(self.spec.deprecated):
            locations.append({"id": f"loc-old-{k}", "name": f"Closed Store {k}", "remoteId": str(900_000_000 + k)})
        return {"locations": locations, "users": users, "hierarchyGroups": groups}

    # -- drop files ---------------------------------------------------------

    def write_drop(self, directory: str, fmt: str | None = None) -> dict[str, str]:
        """Write the alignments drop (CSV or .xlsx) and the corporate CSV."""
        from graphql_api_etl_spark.sources.xlsx import write_xlsx

        os.makedirs(directory, exist_ok=True)
        fmt = fmt or self.spec.drop
        if fmt == "xlsx":
            alignments = write_xlsx(os.path.join(directory, "Weekly Alignments.xlsx"), SHEET, RAW_HEADERS, self.rows)
        else:
            alignments = os.path.join(directory, "weekly_alignments.csv")
            with open(alignments, "w", newline="") as f:
                w = csv.writer(f)
                w.writerow(RAW_HEADERS)
                w.writerows([["" if v is None else v for v in row] for row in self.rows])
        corporate = os.path.join(directory, "corporate_managers.csv")
        with open(corporate, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(["Corporate Managers"])
            w.writerows([[e] for e in self.corporate])
        return {"alignments": alignments, "corporate": corporate}

    def write_state(self, path: str) -> str:
        with open(path, "w") as f:
            json.dump(self.api_state(), f)
        return path

    # -- expected outputs -----------------------------------------------------

    def expected(self) -> dict:
        state = self.api_state()
        n = self.spec.locations
        n_new = len(self.new_idx)
        location_adds = sorted(
            (
                self.rows[i][2],
                self.rows[i][4] or "",
                self.rows[i][5] or "",
                self.rows[i][6] or "",
                self.zip5[i],
                str(int(self.rows[i][3])),
            )
            for i in self.new_idx
        )

        group_id = {g["name"]: g["id"] for g in state["hierarchyGroups"]}
        user_id = {u["email"]: u["id"] for u in state["users"]}
        grants = set()  # (hierarchy name, email, type, franchise/equity)
        for row in self.rows:
            region, district, dm, sup, foe = row[0], row[1], _norm(row[9]), _norm(row[10]), row[11]
            if sup is None and region in self.backfill:
                sup = dm
            if sup is not None:
                grants.add((region, sup, "Region", foe))
            if dm is not None:
                grants.add((district, dm, "District", foe))
        pairs = {
            (user_id[e], group_id[h], t, foe) for h, e, t, foe in grants if h in group_id
        }
        is_eq = lambda p: p[2] == "Region" and p[3] == "Equity"  # noqa: E731
        eq_users = {p[0] for p in pairs if is_eq(p)}
        eq_groups = {p[1] for p in pairs if is_eq(p)}
        equity = {(u, g) for u in eq_users for g in eq_groups}
        permission = equity | {(p[0], p[1]) for p in pairs if not is_eq(p)}
        corp = {_norm(e) for e in self.corporate}
        corp_users = {uid for email, uid in user_id.items() if email in corp}
        tops = {g["id"] for g in state["hierarchyGroups"] if g["isTop"]}
        corporate_new = {(u, g) for u in corp_users for g in tops} - permission

        file_districts = {row[1] for row in self.rows}
        districts_with_locations = len(file_districts - self.missing_districts)
        counts = {
            "hierarchy_rows": len(self.regions) + len(file_districts),
            "locations_matched_pass1": n - n_new,
            "locations_missing_pass1": n_new,
            "locations_matched_pass2": n,
            "districts_with_locations": districts_with_locations,
            "permission_pairs": len(permission),
            "equity_pairs": len(equity),
            "corporate_pairs_new": len(corporate_new),
        }
        records = {
            "locationAdd": n_new,
            "hierarchyGroupAssign": counts["hierarchy_rows"] + districts_with_locations,
            "hierarchyGroupPermissionAdd": len(permission) + len(corporate_new),
        }
        return {"counts": counts, "location_adds": location_adds, "records": records}
