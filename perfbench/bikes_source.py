"""Seeded bikes source extracts (the nine CSVs of FIXTURES.md section 1).

``BikesSource.day1_rows`` is the initial extract and ``day2_rows`` the
next day's full extract with planted changes; ``write_extract`` writes
either as nine CSVs. Dimensions keep reference size;
the two fact tables are replicated ``replicas`` times with disjoint keys.
At one replica every table has the reference row count:

    Customer 71 (70 after projection + dedup)   Address 52
    BusinessPartner 38   ProductCategory 9   Product 42
    ProductDetail 42     Store 20   SalesOrder 334   SalesOrderItems 1935

Quirks the ETL must handle, all present at every seed:

* customer_id 10 appears twice, the rows differing only in columns the
  ODS drops, so the duplicate disappears only after projection;
* 5 items per replica point at order ``500000334 + replica offset``,
  which never exists, so the inner join drops them;
* Address.csv and Store.csv begin with a UTF-8 BOM;
* DOBs sit on every age-bucket edge (18, 30, 40, 50, 60, 70, 120), one
  day either side of the as-of birthday, and out of range (<18, >120);
* first/last names carry non-word junk characters.

Day-2 changes: ~1% of orders and ~1% of items change GROSSAMOUNT, ~1%
new order keys (with their items) arrive, every customer whose id is a
multiple of 7 gets a new last name (SCD1 update), and every 5th product
changes price (SCD2 expire + append).
"""

from __future__ import annotations

import csv
import datetime as dt
import os
import random

AS_OF_DAY1 = "2022-01-15"
RUN_TS_DAY1 = "2022-01-15 18:00:00"
AS_OF_DAY2 = "2022-01-16"
RUN_TS_DAY2 = "2022-01-16 18:00:00"

ORDER_BASE = 500_000_000
ORDER_OFFSET = 10_000  # per-replica key stride; > 334 orders and > 1935 items
N_CUSTOMERS = 70
N_ADDRESSES = 52
N_PARTNERS = 38
N_PRODUCTS = 42
N_STORES = 20
N_ORDERS = 334
N_ITEMS = 1935
N_ORPHANS = 5
ORPHAN_ORDER = ORDER_BASE + N_ORDERS  # 500000334: never an order id

CATEGORIES = [
    ("RO", "Road Bike"), ("BX", "BMX"), ("CC", "Cyclocross Bike"),
    ("CB", "Cruiser Bike"), ("DB", "Dirt Bike"), ("EB", "E-Bike"),
    ("HB", "Hybrid Bike"), ("MB", "Mountain Bike"), ("RC", "Racing Bike"),
]
FIRST = ["Laraine", "Eli", "Arlin", "Sheila-kathryn", "Duff", "Tyrone",
         "Melba", "Ban@%", "Nat#alie", "Fer&&d", "Ro*b", "Kristos"]
LAST = ["Medendorp", "Bockman", "Dearle", "Calton", "Karolovsky", "Ludl@m",
        "Pep#pe", "O&&Neill", "Sm*ith", ""]
INDUSTRY = ["Health", "Financial Services", "Property", "IT", "Retail",
            "Manufacturing"]
WEALTH = ["Mass Customer", "High Net Worth", "Affluent Customer"]
CITIES = [("Seattle", "US", "AMER", 98101), ("Berlin", "DE", "EMEA", 10115),
          ("Tokyo", "JP", "APJ", 1000001), ("Austin", "US", "AMER", 73301),
          ("Paris", "FR", "EMEA", 75001), ("Sydney", "AU", "APJ", 2000)]
SALESORG = ["AMER", "EMEA", "APJ"]

TABLES = (
    "Customer", "Address", "BusinessPartner", "ProductCategory", "Product",
    "ProductDetail", "Store", "SalesOrder", "SalesOrderItems",
)
BOM_TABLES = ("Address", "Store")


def _ddmmyyyy(d: dt.date) -> str:
    return d.strftime("%d-%m-%Y")


def _edge_dobs(as_of: dt.date) -> list[dt.date]:
    """Birth dates that land exactly on each bucket edge at ``as_of``,
    one day either side of the birthday, and outside [18, 120]."""
    out = []
    for years in (18, 30, 40, 50, 60, 70, 120):
        bday = as_of.replace(year=as_of.year - years)
        out += [bday, bday + dt.timedelta(days=1), bday - dt.timedelta(days=1)]
    out.append(as_of.replace(year=as_of.year - 17))  # < 18 → no bucket
    out.append(as_of.replace(year=as_of.year - 121))  # > 120 → no bucket
    out.append(dt.date(1953, 10, 12))  # 12-10-1953: month-first ambiguous
    return out


class BikesSource:
    """One seeded source; ``replicas`` copies of the facts."""

    def __init__(self, seed: int, replicas: int) -> None:
        if not 1 <= replicas <= 200:  # new day-2 keys must fit one key slot
            raise ValueError(f"replicas must be in 1..200, got {replicas}")
        self.replicas = replicas
        rng = random.Random(seed)
        as_of = dt.date.fromisoformat(AS_OF_DAY1)
        dobs = _edge_dobs(as_of)
        self.customer = []
        for cid in range(1, N_CUSTOMERS + 1):
            dob = dobs[cid - 1] if cid <= len(dobs) else dt.date(
                rng.randint(1935, 2002), rng.randint(1, 12), rng.randint(1, 28)
            )
            self.customer.append([
                cid, rng.choice(FIRST), rng.choice(LAST),
                rng.choice(["Male", "Female"]), _ddmmyyyy(dob),
                rng.choice(INDUSTRY), rng.choice(WEALTH), rng.choice("NY"),
            ])
        dup = list(self.customer[9])  # customer_id 10
        dup[5] = next(i for i in INDUSTRY if i != dup[5])
        self.customer.insert(10, dup)

        self.address = []
        for i in range(N_ADDRESSES):
            city, country, region, postal = rng.choice(CITIES)
            self.address.append([1_000_000_034 + i, city, country, region,
                                 postal + i])
        addr_ids = [a[0] for a in self.address]
        self.partner = [
            [100_000_000 + i,
             "" if i % 9 == 4 else f"contact{i}@partner{i % 7}.com",
             rng.choice(addr_ids),
             "" if i % 13 == 6 else f"Company {i}"]
            for i in range(N_PARTNERS)
        ]
        self.category = [list(c) for c in CATEGORIES]
        self.product, self.detail = [], []
        for i in range(N_PRODUCTS):
            cat = CATEGORIES[i % len(CATEGORIES)][0]
            pid = f"{cat}-{1001 + i}"
            self.product.append([pid, cat, self.partner[i % N_PARTNERS][0],
                                 rng.randint(100, 5000)])
            self.detail.append([pid, f"{CATEGORIES[i % 9][1]} model {i}"])
        self.store = [
            [s, "" if s % 6 == 0 else f"Manager {s}", rng.choice(addr_ids),
             "" if s % 7 == 0 else f"({rng.randint(200, 999)}) "
             f"{rng.randint(200, 999)}-{rng.randint(1000, 9999)}"]
            for s in range(1, N_STORES + 1)
        ]

        # one replica of the facts; replicas shift the keys only
        first = dt.date(2018, 1, 1)
        span = (dt.date(2019, 12, 31) - first).days
        recent = [as_of - dt.timedelta(days=d) for d in range(0, 100)]
        self.orders = []
        for i in range(N_ORDERS):
            day = (rng.choice(recent) if i % 10 == 0
                   else first + dt.timedelta(days=rng.randint(0, span)))
            self.orders.append([
                ORDER_BASE + i, rng.choice(self.partner)[0],
                rng.choice(SALESORG), rng.randint(100, 20000),
                rng.choice(["Online", "Offline"]), rng.randint(1, N_STORES),
                _ddmmyyyy(day), "" if i % 11 == 3 else rng.randint(1, 5),
                rng.randint(1, N_CUSTOMERS),
            ])
        self.items = []
        for i in range(1, N_ITEMS + 1):
            order = (ORPHAN_ORDER if i > N_ITEMS - N_ORPHANS
                     else ORDER_BASE + rng.randrange(N_ORDERS))
            self.items.append([i, rng.choice(self.product)[0], order,
                               rng.randint(50, 5000), rng.randint(1, 10)])

    # ---------------- facts ----------------
    def _facts(self, replicas: range) -> tuple[list, list]:
        orders, items = [], []
        for r in replicas:
            off = r * ORDER_OFFSET
            orders += [[o[0] + off] + o[1:] for o in self.orders]
            items += [[it[0] + off, it[1], it[2] + off] + it[3:]
                      for it in self.items]
        return orders, items

    def day1_rows(self) -> dict[str, list]:
        orders, items = self._facts(range(self.replicas))
        return {
            "Customer": self.customer, "Address": self.address,
            "BusinessPartner": self.partner, "ProductCategory": self.category,
            "Product": self.product, "ProductDetail": self.detail,
            "Store": self.store, "SalesOrder": orders, "SalesOrderItems": items,
        }

    def day2_rows(self) -> dict[str, list]:
        rows = self.day1_rows()
        rows["Customer"] = [
            [c[0], c[1], f"Renamed{c[0]}"] + c[3:] if c[0] % 7 == 0 else c
            for c in rows["Customer"]
        ]
        rows["Product"] = [
            p[:3] + [p[3] + 10] if i % 5 == 0 else p
            for i, p in enumerate(rows["Product"])
        ]
        rows["SalesOrder"] = [
            o[:3] + [o[3] + 1] + o[4:] if o[0] % 100 == 7 else o
            for o in rows["SalesOrder"]
        ]
        rows["SalesOrderItems"] = [
            it[:3] + [it[3] + 1, it[4]] if it[0] % 100 == 7 else it
            for it in rows["SalesOrderItems"]
        ]
        # ~1% new order keys, copied from replica 0 with their items into
        # the key slot after the last replica
        off = self.replicas * ORDER_OFFSET
        items_of: dict[int, list] = {}
        for it in self.items:
            items_of.setdefault(it[2], []).append(it)
        item_id = off
        for i in range(max(1, self.replicas * N_ORDERS // 100)):
            tmpl = self.orders[i % N_ORDERS]
            rows["SalesOrder"].append([ORDER_BASE + off + i] + tmpl[1:])
            for it in items_of.get(tmpl[0], []):
                item_id += 1
                rows["SalesOrderItems"].append(
                    [item_id, it[1], ORDER_BASE + off + i] + it[3:]
                )
        return rows


def _age(dob: str, as_of: dt.date) -> int:
    born = dt.datetime.strptime(dob, "%d-%m-%Y").date()
    return as_of.year - born.year - ((as_of.month, as_of.day) < (born.month, born.day))


def _ods_projection(table: str, row: list, as_of: dt.date) -> tuple:
    if table == "Customer":  # id, names, gender, DOB, and Age at as_of
        return tuple(row[:5]) + (_age(row[4], as_of),)
    if table == "SalesOrder":
        return (row[0],) + tuple(row[2:])  # PARTNERID is dropped
    return tuple(row)


def ods_changes(day1: dict[str, list], day2: dict[str, list]) -> int:
    """ODS rows inserted + updated + expired by loading ``day2`` on top
    of ``day1``. Every table is keyed on its first column; a customer
    whose age differs between the two as-of dates is updated too; a
    changed Product expires its current row and inserts a new version."""
    as_of1 = dt.date.fromisoformat(AS_OF_DAY1)
    as_of2 = dt.date.fromisoformat(AS_OF_DAY2)
    n = 0
    for table in TABLES:
        old = {r[0]: _ods_projection(table, r, as_of1) for r in day1[table]}
        new = {r[0]: _ods_projection(table, r, as_of2) for r in day2[table]}
        changed = sum(1 for k, v in new.items() if k in old and old[k] != v)
        n += len(new.keys() - old.keys())
        n += changed * (2 if table == "Product" else 1)
    return n


def write_extract(rows: dict[str, list], out_dir: str) -> int:
    """Write the nine CSVs; returns the number of data rows written."""
    from bikes_data_warehouse_etl_spark.schemas import SOURCE_SCHEMAS

    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for table in TABLES:
        header = [f.name for f in SOURCE_SCHEMAS[table].fields]
        enc = "utf-8-sig" if table in BOM_TABLES else "utf-8"
        with open(os.path.join(out_dir, f"{table}.csv"), "w", newline="",
                  encoding=enc) as fh:
            w = csv.writer(fh, lineterminator="\n")
            w.writerow(header)
            w.writerows(rows[table])
        total += len(rows[table])
    return total
