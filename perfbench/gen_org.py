"""Seeded weekly-sync inputs: the file drop, the API state with weekly
drift, and every outcome the weekly location reconcile must produce —
derived here from the generator's own definitions, never by running
the program.

The file drop is what an operations team sends each week:

- ``Weekly Alignments.xlsx``, sheet ``Sorted by Store #``, with the
  reference's raw headers (``REGION / SUPERVISOR``, ``Unit #``,
  ``Zip Code``, ...). Units are numeric cells (``1234.0`` after the
  parse); zips mix numeric cells, ZIP+4 strings and junk; emails mix
  case and stray whitespace; two regions carry no supervisor email
  and are listed in ``Org.backfill`` for the row-wise DM backfill;
  a few rows have no ``Location`` and must be dropped.
- ``corporate_managers.csv`` with one ``Corporate Managers`` column:
  mixed-case emails, some unknown to the API, one that is also a
  region supervisor.

The API state is last week's file plus drift: about 5% of stores are
new (not in the API yet), about 2% of API stores are zombies (not in
the file), one district group is missing, one orphan district exists
only in the API, and a few API users appear nowhere in the file. The
API refuses the ``locationAdd`` of two of the new stores, per record.
"""

from __future__ import annotations

import csv
import hashlib
import io
import json
import zipfile
from dataclasses import dataclass, field

import numpy as np

SHEET = "Sorted by Store #"
HEADERS = [
    "REGION / SUPERVISOR", "District", "Location", "Unit #", "Address",
    "City", "State", "Zip Code", "DM", "DM Email", "Supervisor Email",
    "Franchise or Equity",
]
BRANDS = ["Acme", "Bolt", "Crest", "Dyna", "Echo", "Flux", "Glow", "Halo", "Iris", "Jade"]
FIRST = ["Ada", "Alan", "Grace", "Edsger", "Barbara", "Donald", "Frances", "Ken", "Radia", "Tim"]
LAST = ["Lovelace", "Turing", "Hopper", "Dijkstra", "Liskov", "Knuth", "Allen", "Thompson", "Perlman", "Lee"]
CITIES = [("Springfield", "WA"), ("Portland", "OR"), ("Boise", "ID"), ("Reno", "NV"), ("Bend", "OR"), ("Austin", "TX")]
DOMAIN = "org.example"


@dataclass
class Org:
    """One generated week: file drop rows, API state, expectations."""

    rows: list[list]  # sheet rows in HEADERS order (None = empty cell)
    corporate: list[str]  # CSV column values
    backfill: tuple[str, ...]
    groups: list[dict]  # hierarchyGroups nodes
    locations: list[dict]  # locations nodes
    users: list[dict]  # users nodes
    reject_remote_ids: frozenset[str]  # locationAdd records the API rejects
    expected: dict = field(default_factory=dict)

    def api_state(self) -> dict:
        return {
            "hierarchyGroups": self.groups,
            "locations": self.locations,
            "users": self.users,
            "reject_remote_ids": sorted(self.reject_remote_ids),
        }


def _uid(email: str) -> str:
    return "u-" + hashlib.md5(email.encode()).hexdigest()[:10]


def _messy(email: str, rng: np.random.Generator) -> str:
    """Mixed case and stray whitespace, as hand-typed sheets carry."""
    r = rng.random()
    if r < 0.25:
        return email.title() + " "
    if r < 0.4:
        return "  " + email.upper()
    return email


def _zip_cell(rng: np.random.Generator) -> tuple[object, str]:
    """(cell value, expected 5-digit postalCode) per FIXTURES.md A1."""
    z = int(rng.integers(10000, 100000))
    r = rng.random()
    if r < 0.7:
        return float(z), str(z)  # numeric cell: 12345.0
    if r < 0.95:
        return f"{z}-{int(rng.integers(1000, 10000))}", str(z)  # ZIP+4
    return "n/a", ""  # junk → NULL → ""


def generate(seed: int, regions: int = 10, districts: int = 250, stores: int = 5000) -> Org:
    rng = np.random.default_rng(seed)
    # -- regions: brand / supervisor, franchise or equity ----------------
    region_rows = []
    for r in range(regions):
        first, last = FIRST[r % len(FIRST)], LAST[(r + seed) % len(LAST)]
        name = f"{BRANDS[r % len(BRANDS)]} / {first} {last}"
        email = f"{first}.{last}{r}@{DOMAIN}".lower()
        equity = "Equity" if r % 3 == 0 else "Franchise"  # ≥2 equity regions when regions ≥ 4
        region_rows.append((name, email, equity))
    backfill = tuple(sorted({region_rows[0][0], region_rows[1][0]}))

    # -- districts: one DM each ------------------------------------------
    district_rows = []
    for d in range(districts):
        reg = d % regions
        single = rng.random() < 0.05
        dm = f"Manager{d}" if single else f"{FIRST[d % len(FIRST)]} Manager{d}"
        email = f"dm{d}@{DOMAIN}"
        district_rows.append((f"D-{reg:02d}-{d:04d}", reg, dm, email))

    # -- stores -----------------------------------------------------------
    units = rng.permutation(np.arange(100_000, 100_000 + stores * 3))[:stores]
    store_rows, store_payloads = [], {}
    for s in range(stores):
        d = s % districts
        dname, reg, dm, dm_email = district_rows[d]
        rname, sup_email, equity = region_rows[reg]
        unit = int(units[s])
        city, state = CITIES[int(rng.integers(0, len(CITIES)))]
        address = None if rng.random() < 0.03 else f"{int(rng.integers(1, 9999))} Main St"
        zcell, z5 = _zip_cell(rng)
        sup_cell = None if rname in backfill else _messy(sup_email, rng)
        name = f"Store {unit}"
        store_rows.append(
            [rname, dname, name, float(unit), address, city, state, zcell, dm,
             _messy(dm_email, rng), sup_cell, equity]
        )
        store_payloads[unit] = {
            "name": name, "streetAddress": address or "", "locality": city,
            "province": state, "postalCode": z5, "remoteId": str(unit),
        }
    # rows without a Location: dropped at ingestion (F1)
    blank = [list(store_rows[i]) for i in rng.choice(stores, 3, replace=False)]
    for b in blank:
        b[2] = None
    rows = [list(r) for r in store_rows] + blank
    order = rng.permutation(len(rows))
    rows = [rows[i] for i in order]

    # -- drift --------------------------------------------------------------
    new_units = set(int(u) for u in rng.choice(units, max(stores // 20, 1), replace=False))
    missing_district = district_rows[int(rng.integers(0, districts))][0]
    n_zombies = max(stores // 50, 1)

    # -- API state -----------------------------------------------------------
    groups = []
    for r, (rname, _, _) in enumerate(region_rows):
        groups.append({"id": f"grp-r{r}", "isTop": True, "name": rname, "remoteId": "",
                       "label": {"id": "lbl-region", "name": "Region"}, "parent": None})
    for d, (dname, reg, _, _) in enumerate(district_rows):
        if dname == missing_district:
            continue
        groups.append({"id": f"grp-d{d}", "isTop": False, "name": dname, "remoteId": "",
                       "label": {"id": "lbl-district", "name": "District"},
                       "parent": {"id": f"grp-r{reg}", "isTop": True, "name": region_rows[reg][0]}})
    orphan = f"D-orphan-{seed % 1000}"
    groups.append({"id": "grp-orphan", "isTop": False, "name": orphan, "remoteId": "",
                   "label": {"id": "lbl-district", "name": "District"},
                   "parent": {"id": "grp-r0", "isTop": True, "name": region_rows[0][0]}})
    group_id = {g["name"]: g["id"] for g in groups}

    locations = []
    for s in range(stores):
        unit = int(units[s])
        if unit in new_units:
            continue
        dname = district_rows[s % districts][0]
        locations.append({"id": f"loc-{unit}", "name": f"Store {unit}", "remoteId": str(unit),
                          "hierarchyGroup": {"id": group_id.get(dname, ""), "isTop": False, "name": dname}})
    for z in range(n_zombies):
        zid = 900_000 + z
        locations.append({"id": f"loc-{zid}", "name": f"Store {zid}", "remoteId": str(zid),
                          "hierarchyGroup": {"id": "grp-orphan", "isTop": False, "name": orphan}})
    order = rng.permutation(len(locations))
    locations = [locations[i] for i in order]

    corp_known = [f"corp{k}@{DOMAIN}" for k in range(4)]
    corp_unknown = [f"nobody{k}@elsewhere.example" for k in range(2)]
    corp_also_supervisor = region_rows[2][1]
    corporate = [_messy(e, rng) for e in corp_known + corp_unknown + [corp_also_supervisor]]

    emails = sorted({e for _, e, _ in region_rows} | {e for *_, e in district_rows}
                    | set(corp_known) | {f"straggler{k}@{DOMAIN}" for k in range(3)})
    users = [{"id": _uid(e), "email": e, "firstName": e.split("@")[0].title(), "lastName": "Generated"}
             for e in emails]
    # the API refuses a few of the new stores: they stay unloaded after the self-heal
    reject = frozenset(str(u) for u in rng.choice(sorted(new_units), min(2, len(new_units)), replace=False))

    org = Org(rows, corporate, backfill, groups, locations, users, reject)
    org.expected = expectations(org, district_rows, store_payloads, new_units, missing_district)
    return org


def expectations(org, district_rows, store_payloads, new_units, missing_district) -> dict:
    """Every outcome of the weekly location reconcile over ``org``,
    from the definitions: the reference's reconcile rules applied to
    what :func:`generate` put in the drop and the API."""
    stores = sorted(store_payloads)  # the blank-Location rows are dropped copies
    rejected = sorted(org.reject_remote_ids)
    used = {district_rows[s % len(district_rows)][0] for s in range(len(stores))}
    return {
        "counts": {
            "locations_matched_pass1": len(stores) - len(new_units),
            "locations_missing_pass1": len(new_units),
            "locations_matched_pass2": len(stores) - len(rejected),
            "districts_with_locations": len(used - {missing_district}),
        },
        "location_adds": sorted(json.dumps(store_payloads[u], sort_keys=True) for u in new_units),
        "rejected": rejected,
        # CSV reports: the new stores, then the soft gates — zombies, the
        # orphan district, the refused stores
        "reports": sorted(["missing_locations", "deprecated_locations", "outdated_districts"]
                          + (["still_unloaded"] if rejected else [])),
    }


# ---------------------------------------------------------------------------
# File drop writers
# ---------------------------------------------------------------------------

_FIXED_TIME = (2024, 1, 1, 0, 0, 0)
_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_REL = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_PKG_REL = "http://schemas.openxmlformats.org/package/2006/relationships"
_CT = "application/vnd.openxmlformats-officedocument.spreadsheetml"


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace('"', "&quot;")


def _col(i: int) -> str:
    out = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        out = chr(65 + r) + out
    return out


def xlsx_bytes(sheet_name: str, header: list[str], rows: list[list]) -> bytes:
    """A one-sheet workbook the way spreadsheet applications save one:
    a shared-string table, cell references on every cell, numeric
    cells for floats, empty cells omitted. Fixed zip timestamps make
    the bytes a function of the content only."""
    shared: dict[str, int] = {}

    def cell(ref: str, v) -> str:
        if v is None:
            return ""
        if isinstance(v, float):
            return f'<c r="{ref}"><v>{v!r}</v></c>'
        idx = shared.setdefault(str(v), len(shared))
        return f'<c r="{ref}" t="s"><v>{idx}</v></c>'

    body = []
    for r, values in enumerate([header] + rows, start=1):
        cells = "".join(cell(f"{_col(c)}{r}", v) for c, v in enumerate(values))
        body.append(f'<row r="{r}">{cells}</row>')
    sheet = (f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
             f'<worksheet xmlns="{_NS}"><sheetData>{"".join(body)}</sheetData></worksheet>')
    sst = (f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
           f'<sst xmlns="{_NS}" count="{len(shared)}" uniqueCount="{len(shared)}">'
           + "".join(f'<si><t xml:space="preserve">{_esc(s)}</t></si>' for s in shared)
           + "</sst>")
    parts = {
        "[Content_Types].xml": (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            f'<Override PartName="/xl/workbook.xml" ContentType="{_CT}.sheet.main+xml"/>'
            f'<Override PartName="/xl/worksheets/sheet1.xml" ContentType="{_CT}.worksheet+xml"/>'
            f'<Override PartName="/xl/sharedStrings.xml" ContentType="{_CT}.sharedStrings+xml"/>'
            "</Types>"),
        "_rels/.rels": (
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Relationships xmlns="{_PKG_REL}">'
            f'<Relationship Id="rId1" Type="{_REL}/officeDocument" Target="xl/workbook.xml"/></Relationships>'),
        "xl/workbook.xml": (
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?><workbook xmlns="{_NS}" xmlns:r="{_REL}">'
            f'<sheets><sheet name="{_esc(sheet_name)}" sheetId="1" r:id="rId1"/></sheets></workbook>'),
        "xl/_rels/workbook.xml.rels": (
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Relationships xmlns="{_PKG_REL}">'
            f'<Relationship Id="rId1" Type="{_REL}/worksheet" Target="worksheets/sheet1.xml"/>'
            f'<Relationship Id="rId2" Type="{_REL}/sharedStrings" Target="sharedStrings.xml"/></Relationships>'),
        "xl/worksheets/sheet1.xml": sheet,
        "xl/sharedStrings.xml": sst,
    }
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, text in parts.items():
            info = zipfile.ZipInfo(name, date_time=_FIXED_TIME)
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, text)
    return buf.getvalue()


def csv_bytes(corporate: list[str]) -> bytes:
    out = io.StringIO()
    w = csv.writer(out, lineterminator="\n")
    w.writerow(["Corporate Managers"])
    for e in corporate:
        w.writerow([e])
    return out.getvalue().encode()


def write_drop(org: Org, directory: str) -> dict[str, str]:
    """Land the weekly drop; returns {"xlsx": path, "csv": path}."""
    import os

    os.makedirs(directory, exist_ok=True)
    paths = {"xlsx": os.path.join(directory, "Weekly Alignments.xlsx"),
             "csv": os.path.join(directory, "corporate_managers.csv")}
    with open(paths["xlsx"], "wb") as f:
        f.write(xlsx_bytes(SHEET, HEADERS, org.rows))
    with open(paths["csv"], "wb") as f:
        f.write(csv_bytes(org.corporate))
    return paths
