"""Seeded input generators. Every input the program sees is made here from
``--seed``: the warehouse tables (same schemas as the driver's test data),
the dirty upload CSVs, the operational flights table and the eligibility
messages. Each generator also returns what a correct program must make of
its output (planted anomaly counts, expected verdicts), so the checks never
ask the program under test for the answer.
"""

from __future__ import annotations

import csv
import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- tables

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
NOUN = ["bolt", "gear", "anvil", "widget", "ring", "rod", "plate", "gizmo"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark a "
    "the line sort window order data column join small customer query big "
    "vector group stream filter"
).split()
LANGS = ["en", "de", "es", "zh", "fr"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    d = lo + rng.integers(0, span + 1, size=n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def gen_tables(out_dir: str, seed: int, sf: float, n_docs: int, n_emb: int) -> dict:
    """Write the ten warehouse tables at scale ``sf`` (lineitem = 6M x sf
    rows, like the driver's sf0.001/0.01/0.1 sets) plus ``n_docs``
    documents and ``n_emb`` embeddings. Returns the row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 10)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS, s)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})

    def money(lo, hi, n):
        return pa.array(np.round(rng.uniform(lo, hi, n), 2), f64)

    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s)})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(PTYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10, 2), f64)})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s)})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": money(900.0, 105000.0, n_line),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n_line), 2), f64),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_line), 2), f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), s),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)})
    ts = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev), s),
        "value": pa.array(np.round(rng.exponential(100.0, n_ev), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})
    _gen_documents(out_dir, rng, n_docs)
    _gen_embeddings(out_dir, rng, n_emb)
    return {"customer": n_cust, "orders": n_ord, "lineitem": n_line,
            "events": n_ev, "documents": n_docs, "embeddings": n_emb}


def _gen_documents(out_dir: str, rng: np.random.Generator, n: int) -> None:
    """Closed 30-word vocabulary, 40-72 tokens a document, with planted
    exact (0.5%) and 3-token-mutated near duplicates (2%) of earlier
    documents — the shape of the driver's corpus."""
    lang = rng.choice(LANGS, size=n, p=LANG_P)
    source = [f"src{i}" for i in rng.integers(0, 20, size=n)]
    texts = [" ".join(rng.choice(VOCAB, size=k)) for k in rng.integers(40, 72, size=n)]
    n_exact, n_near = int(n * 0.005), int(n * 0.02)
    for j, v in enumerate(rng.integers(n // 10, n, size=n_exact + n_near)):
        src_doc = texts[rng.integers(0, v)]
        if j >= n_exact:
            toks = src_doc.split()
            for p in rng.integers(0, len(toks), size=3):
                toks[p] = VOCAB[rng.integers(0, len(VOCAB))]
            src_doc = " ".join(toks)
        texts[v] = src_doc
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array(source, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _gen_embeddings(out_dir: str, rng: np.random.Generator, n: int) -> None:
    """Ten gaussian clusters in 64 dimensions, float32, cluster id as label."""
    centers = rng.normal(0, 1.0, size=(10, 64))
    label = rng.integers(0, 10, size=n)
    vecs = (centers[label] + rng.normal(0, 0.35, size=(n, 64))).astype(np.float32)
    flat = pa.array(vecs.ravel(), pa.float32())
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(flat, 64).cast(pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32), pa.int32())})


# ------------------------------------------------------------ upload CSVs
#
# Each generator plants every anomaly class of FIXTURES.md at a fixed share
# and returns (rows, expected) where ``expected`` holds the quarantine
# reason counts a correct cleaner must produce and the keys it must stage.
# Planted rows are built so that exactly one rule fires on each of them.

UPLOAD_TYPES = ("airlines", "airports", "flights", "passengers", "transactions")
HEADERS = {
    "airlines": ["AirlineKey", "AirlineName", "Alliance"],
    "airports": ["AirportKey", "AirportName", "City", "Country", "Latitude",
                 "Longitude", "Timezone"],
    "flights": ["FlightKey", "OriginAirportKey", "DestinationAirportKey", "AircraftType"],
    "passengers": ["PassengerKey", "FullName", "Email", "LoyaltyStatus"],
    "transactions": ["TransactionID", "TransactionDate", "PassengerID", "FlightID",
                     "TicketPrice", "Taxes", "BaggageFees", "TotalAmount"],
}
ALLIANCE_SPELLINGS = ["oneworld", "sky team", "skyteam", "staralliance", "Star Alliance",
                      "SkyTeam", "", "nan", "Galaxy Club"]
WORDS = ["Blue", "Sky", "Coastal", "Northern", "Pacific", "Royal", "Swift", "Summit",
         "Harbor", "Polar", "Desert", "Island", "Metro", "Alpine", "Crown", "River"]
FIRST = ["ada", "alan", "grace", "linus", "barbara", "edsger", "donald", "frances",
         "ken", "dennis", "margaret", "john", "radia", "leslie", "tim", "vint",
         "hedy", "claude", "karen", "niklaus", "anita", "bjarne", "guido", "james"]
LAST = ["lovelace", "turing", "hopper", "torvalds", "liskov", "dijkstra", "knuth",
        "allen", "thompson", "ritchie", "hamilton", "backus", "perlman", "lamport",
        "lee", "cerf", "lamarr", "shannon", "jones", "wirth", "borg", "stroustrup",
        "rossum", "gosling"]
CRAFT = ["boeing 737", "Airbus  A320", "EMBRAER e190", "boeing 787", "airbus a350"]
TIERS = ["Bronze", "silver", "GOLD", "gold!", "Platinum", " platinum "]


class UploadPlan:
    """Keys and anomaly pools shared by all upload batches of one seed, so a
    later batch can overlap an earlier one (the ``safe_upsert`` merge path)
    and flights can reference airlines staged before them."""

    def __init__(self, seed: int, size: int) -> None:
        self.rng = np.random.default_rng(seed + 7919)
        self.size = size
        codes = [a + b for a in "ABCDEFGHIJKLMNOPQRSTUVWXYZ" for b in "ABCDEFGHIJKLMNOPQRSTUVWXYZ"]
        codes.remove("JK")
        codes = list(self.rng.permutation(codes))
        self.airline_pool = codes[:200]  # clean airline keys, batch by batch
        self.bad_prefixes = codes[200:260]  # never staged as airlines
        self.bad_name_keys = codes[260:360]
        three = [c + x for c in codes[:400] for x in "XYZ"]
        three = [c for c in self.rng.permutation(three) if c != "JFK"]
        self.airport_pool = ["JFK"] + list(three[:600])
        names = [(f, m, l) for f in FIRST for m in "abcdefghijklmnopqrstuvwxyz" for l in LAST]
        self.names = [names[i] for i in self.rng.permutation(len(names))]
        self.staged: dict[str, dict[str, tuple]] = {t: {} for t in UPLOAD_TYPES}
        self.next_flight = 100
        self.next_passenger = 1
        self.next_txn = 0
        self.changed_per_batch: list[int] = []  # transaction ids re-sent per batch

    # -- helpers ------------------------------------------------------------
    def _pick(self, seq, k=None):
        if k is None:
            return seq[int(self.rng.integers(0, len(seq)))]
        return [seq[i] for i in self.rng.choice(len(seq), size=k, replace=False)]

    def _overlap(self, ftype: str, share: float = 0.3) -> list:
        old = sorted(self.staged[ftype])
        return self._pick(old, int(len(old) * share)) if old else []

    @staticmethod
    def _insert(rows: list, planted: list, rng) -> list:
        """Insert planted rows at random positions after the first row."""
        for r in planted:
            rows.insert(int(rng.integers(1, len(rows) + 1)), r)
        return rows

    # -- generators -----------------------------------------------------------
    def airlines(self, batch: int) -> tuple[list, dict]:
        n = max(self.size // 20, 12)
        keys = self._overlap("airlines") + self.airline_pool[batch * n:(batch + 1) * n]
        rows, clean = [], {}
        for k in keys:
            name = " ".join(self._pick(WORDS, 2)) + "  airways"
            shown = self._pick([k, k.lower(), f" {k} "])
            rows.append([shown, name.lower(), self._pick(ALLIANCE_SPELLINGS)])
            clean[k] = (name,)
        bad_names = self.bad_name_keys[batch * 4:(batch + 1) * 4]
        planted = (
            [[k + k, "Long Key Air", "oneworld"] for k in self._pick(keys, 2)]  # 4 chars
            + [[k, "Air#Line " + k, "skyteam"] for k in bad_names[:2]]
            + [list(r) for r in self._pick(rows, 3)]  # repeated key, keep first
        )
        expected = {"invalid_airlinekey": 2, "invalid_airlinename": 2,
                    "duplicate_airlinekey": 3}
        return self._finish("airlines", rows, planted, clean, expected)

    def airports(self, batch: int) -> tuple[list, dict]:
        n = max(self.size // 10, 20)
        # batch 0 starts with JFK, the target of the JK typo fix
        keys = self._overlap("airports") + self.airport_pool[batch * n:(batch + 1) * n]
        rows, clean = [], {}
        for k in keys:
            lat, lon = self.rng.uniform(-60, 70), self.rng.uniform(-170, 170)
            rows.append([k, f"{k} International", f"City {k}", "Country",
                         f"{lat:.4f}", f"{lon:.4f}", "America/New_York"])
            clean[k] = (k,)
        return self._finish("airports", rows, [], clean, {})

    def flights(self, batch: int) -> tuple[list, dict]:
        n = self.size
        airlines = sorted(self.staged["airlines"])
        ports = sorted(self.staged["airports"])
        rows, clean = [], {}
        for k in self._overlap("flights"):
            o, d = self._pick(ports, 2)
            rows.append([k, o, d, self._pick(CRAFT)])
            clean[k] = (o, d)
        for _ in range(n):
            k = f"{self._pick(airlines)}{self.next_flight}"
            self.next_flight += 1
            o, d = self._pick(ports, 2)
            shown_o = "JK" if o == "JFK" else o
            rows.append([self._pick([k, k.lower(), f" {k}"]), shown_o, d, self._pick(CRAFT)])
            clean[k] = (o, d)
        m = max(n // 25, 2)
        planted = (
            [[f"{self._pick(airlines)[0]}-{self.next_flight + i}", "JFK", ports[1], "x"]
             for i in range(m)]
            + [[f"{p}{self.next_flight + m + i}", ports[1], ports[2], "x"]
               for i, p in enumerate(self._pick(self.bad_prefixes, m))]
            + [[f"{airlines[0]}{self.next_flight + 2 * m + i}", "Q1Z", ports[2], "x"]
               for i in range(m)]
            + [[f"{airlines[0]}{self.next_flight + 3 * m + i}", ports[2], "Z9Q", "x"]
               for i in range(m)]
            + [[f"{airlines[0]}{self.next_flight + 4 * m + i}", ports[3], ports[3], "x"]
               for i in range(m)]
            + [list(r) for r in self._pick(rows, m)]
        )
        self.next_flight += 5 * m
        expected = {"invalid_flightkey": m, "invalid_airline_prefix": m, "invalid_origin": m,
                    "invalid_destination": m, "origin_equals_destination": m,
                    "duplicate_flightkey": m}
        return self._finish("flights", rows, planted, clean, expected)

    def passengers(self, batch: int) -> tuple[list, dict]:
        rng, n = self.rng, self.size

        def row(num: int, tier: str) -> list:
            first, mid, last = self.names[num % len(self.names)]
            digits = f"{num:05d}" if rng.random() < 0.5 else str(num)
            email = f"{first}.{mid}.{last}{digits}@example.com"
            if rng.random() < 0.2:
                email = email.upper()
            sep = "  " if rng.random() < 0.3 else " "
            return [f"P{num:05d}", f"{first.capitalize()}{sep}{mid} {last}", email, tier]

        overlap = self._overlap("passengers")
        fresh = list(range(self.next_passenger, self.next_passenger + n))
        self.next_passenger += n
        rows = [row(int(k[1:]), self._pick(TIERS)) for k in overlap]
        rows += [row(num, self._pick(TIERS)) for num in fresh]
        clean = {r[0]: () for r in rows}
        m = max(n // 40, 2)
        base = self.next_passenger  # key of the invalid rows; dups take base + 1..m
        self.next_passenger += 2 * m + 1
        planted = (
            [["", f"Nokey Person{chr(97 + i)}", "nokey@example.com", "Gold"] for i in range(m)]
            + [[f"P{base:05d}", f"Mononym{chr(97 + i)}", "mono@example.com", "Gold"]
               for i in range(m)]
            + [[f"P{base:05d}", f"Wrong Domain{chr(97 + i)}", "wrong@mail.org", "Gold"]
               for i in range(m)]
            + [[f"P{base:05d}", f"Bad Tier{chr(97 + i)}", "tier@example.com", "Diamond"]
               for i in range(m)]
        )
        rows = self._insert(rows, planted, rng)
        # dedup is on (fullname, email, loyalty): the same person under a new
        # key, after the original
        for i, num in enumerate(self._pick(fresh, m)):
            first, mid, last = self.names[num % len(self.names)]
            tier = next(r[3] for r in rows if r[0] == f"P{num:05d}")
            rows.append([f"P{base + 1 + i:05d}", f"{first} {mid} {last}",
                         f"{first}.{mid}.{last}@example.com", tier])
        expected = {"missing_passengerkey": m, "invalid_fullname": m, "invalid_email": m,
                    "invalid_loyaltystatus": m, "duplicate_passenger": m}
        return self._finish("passengers", rows, [], clean, expected)

    def transactions(self, batch: int) -> tuple[list, dict]:
        rng, n = self.rng, self.size * 6
        passengers = sorted(self.staged["passengers"])
        flights = sorted(self.staged["flights"])

        def fmt_date() -> str:
            d = datetime(2023, 1, 1) + timedelta(days=int(rng.integers(0, 700)))
            return d.strftime(self._pick(["%Y-%m-%d", "%m/%d/%Y", "%d-%b-%y", "%Y/%b/%d"]))

        def money(v: float) -> str:
            return self._pick([f"${v:,.2f}", f"{v:.2f}", f"${v:.2f}"])

        def txn(tid: str, price: float | None = None) -> list:
            if price is None:
                price = round(float(rng.uniform(80, 2500)), 2)
            tax, bag = round(price * 0.1, 2), float(self._pick([0.0, 25.0, 40.0]))
            return [tid, fmt_date(), self._pick(passengers), self._pick(flights),
                    money(price), money(tax), money(bag), money(round(price + tax + bag, 2))]

        def price(r: list) -> float:
            return float(r[4].replace("$", "").replace(",", ""))

        # re-sent ids get a new price: an upsert, and an SCD2 change
        overlap = [k for k in self._overlap("transactions") if int(k) % 2 == 0]
        self.changed_per_batch.append(len(overlap))
        rows = [txn(k, self.staged["transactions"][k][0] + 10.0) for k in overlap]
        # fresh ids are even and below 45000; planted ids live above it
        fresh = [str(40000 + 2 * j) for j in range(self.next_txn, self.next_txn + n)]
        self.next_txn += n
        if int(fresh[-1]) >= 45000:
            raise ValueError("upload batches exhausted the fresh transaction id range")
        rows += [txn(k) for k in fresh]
        m = max(n // 100, 2)
        off = 45000 + 8 * m * (batch % 6)
        planted = (
            [txn(str(off + 10000 + 2 * i)) for i in range(m)]  # outside 4xxxx
            + [[str(off + 2 * m + 2 * i), "N/A", *txn("")[2:]] for i in range(m)]
            + [[str(off + 4 * m + 2 * i), fmt_date(), "P90001", *txn("")[3:]]
               for i in range(m)]
            + [[str(off + 6 * m + 2 * i), fmt_date(), passengers[0], "", *txn("")[4:]]
               for i in range(m)]
        )
        rows = self._insert(rows, planted, rng)
        # non-numeric ids after a fresh row: ffill repairs them to prev + 1,
        # an odd id nothing else uses
        fresh_set = set(fresh)
        spots = [i for i in range(1, len(rows) - 1)
                 if rows[i][0] in fresh_set and rows[i - 1][0] in fresh_set]
        spots = sorted(self._pick(spots, min(m, len(spots))))
        for j, i in enumerate(spots):
            if rows[i - 1][0] not in fresh_set:  # an earlier repair took it
                continue
            fresh_set.discard(rows[i][0])
            rows[i][0] = self._pick(["4AN", "4G4", "4GW"]) + chr(97 + j % 26)
        clean = {}
        for i, r in enumerate(rows):
            if r[0] in fresh_set or r[0] in overlap:
                clean[r[0]] = (price(r),)
            elif not r[0].isdigit():
                clean[str(int(rows[i - 1][0]) + 1)] = (price(r),)
        originals = self._pick([r for r in rows if r[0] in fresh_set], 2 * m)
        rows += [list(r) for r in originals[:m]]  # exact duplicate rows
        rows += [[r[0], *txn("")[1:]] for r in originals[m:]]  # reused ids
        expected = {"invalid_transactionid": m, "unparseable_date": m,
                    "invalid_passengerid": m, "invalid_flightid": m,
                    "duplicate_row": m, "duplicate_transactionid": m}
        return self._finish("transactions", rows, [], clean, expected)

    def closed_total(self, batch: int) -> int:
        """SCD2 versions closed by warehouse batches 0..batch: every re-sent
        transaction changes its tracked price."""
        return sum(self.changed_per_batch[1:batch + 1])

    def _finish(self, ftype, rows, planted, clean, expected):
        rows = self._insert(rows, planted, self.rng) if planted else rows
        self.staged[ftype].update(clean)
        return rows, {"rows_in": len(rows), "reasons": expected,
                      "staged_keys": set(self.staged[ftype])}

    def write(self, ftype: str, batch: int, out_dir: str) -> tuple[str, dict]:
        rows, expected = getattr(self, ftype)(batch)
        path = os.path.join(out_dir, f"{ftype}_{batch:03d}.csv")
        with open(path, "w", newline="", encoding="utf-8-sig") as f:
            w = csv.writer(f)
            w.writerow(HEADERS[ftype])
            w.writerows(rows)
        expected["csv_bytes"] = os.path.getsize(path)
        return path, expected


# ------------------------------------------------------ eligibility stream

THRESHOLD_MIN = 120  # FIXTURES.md section 7: eligible iff delay >= 120 minutes


def gen_flights_table(path: str, seed: int, n: int) -> dict[str, tuple]:
    """Operational flights table (FIXTURES.md section 7) as parquet with
    string timestamps. Delays fall on both sides of the threshold (and on
    it), some flights have several rows (the latest scheduled one wins),
    some have missing or unparseable times. Returns flight -> (eligible,
    reason, delay_minutes) as a correct program must report it."""
    rng = np.random.default_rng(seed + 104729)
    rows, expected = [], {}
    base = datetime(2025, 12, 1, 6, 0)
    fmt = "%Y-%m-%d %H:%M:%S"
    for i in range(n):
        flight = f"{'ABCDEFGH'[i % 8]}{'KLMN'[i // 8 % 4]}{100 + i}"
        kind = rng.choice(["delay", "delay", "delay", "multi", "missing", "invalid"])
        sched = base + timedelta(hours=int(rng.integers(0, 24 * 20)))
        if kind == "missing":
            rows.append((flight, sched.strftime(fmt), None))
            expected[flight] = (False, "missing_time_data", None)
            continue
        if kind == "invalid":
            rows.append((flight, sched.strftime(fmt), "soon-ish"))
            expected[flight] = (False, "invalid_time_format", None)
            continue
        delay = int(rng.choice([THRESHOLD_MIN, int(rng.integers(0, 119)),
                                int(rng.integers(121, 400))]))
        if kind == "multi":  # older rows with other delays must lose
            for back in (1, 2):
                old = sched - timedelta(days=back)
                rows.append((flight, old.strftime(fmt),
                             (old + timedelta(minutes=int(rng.integers(0, 400)))).strftime(fmt)))
        rows.append((flight, sched.strftime(fmt), (sched + timedelta(minutes=delay)).strftime(fmt)))
        ok = delay >= THRESHOLD_MIN
        expected[flight] = (ok, "delay_threshold_met" if ok else "delay_below_threshold", delay)
    order = rng.permutation(len(rows))
    rows = [rows[i] for i in order]
    pq.write_table(pa.table({
        "flight_number": pa.array([r[0] for r in rows], pa.string()),
        "scheduled_departure": pa.array([r[1] for r in rows], pa.string()),
        "actual_departure": pa.array([r[2] for r in rows], pa.string()),
    }), path)
    return expected


class MessageStream:
    """Seeded eligibility messages (FIXTURES.md section 8): checks against
    known and unknown flights, checks without a flight number, malformed
    JSON and other message types. ``next()`` returns (value, expected)
    where expected is None for a message that gets no verdict, else the
    (passenger_id, eligible, reason, delay_minutes) a correct worker writes.
    FIXTURES.md names these variants but not how often they occur; the
    shares (5% malformed, 7% other types, 5% without and 5% with an unknown
    flight number, 78% known flights) are assumptions."""

    def __init__(self, seed: int, flights: dict[str, tuple], prefix: str = "M") -> None:
        self.rng = np.random.default_rng(seed + 15485863)
        self.flights, self.names = flights, sorted(flights)
        self.prefix, self.seq = prefix, 0

    def next(self) -> tuple[str, tuple | None]:
        rng, self.seq = self.rng, self.seq + 1
        pid = f"{self.prefix}{self.seq:07d}"
        roll = rng.random()
        if roll < 0.05:
            return f'{{"type": "eligibility_check", "payload": {{"passengerId": "{pid}"', None
        if roll < 0.12:
            return json.dumps({"type": "booking_update", "payload": {"passengerId": pid}}), None
        payload = {"firstName": "Ada", "lastName": "Lovelace", "passengerId": pid}
        if roll < 0.17:
            expected = (pid, False, "flight_not_found", None)
        elif roll < 0.22:
            payload["flightNumber"] = f"ZZ{rng.integers(1, 99999)}"
            expected = (pid, False, "flight_not_found", None)
        else:
            flight = self.names[int(rng.integers(0, len(self.names)))]
            payload["flightNumber"] = flight
            expected = (pid, *self.flights[flight])
        msg = {"type": "eligibility_check", "requested_at": "2025-12-10T22:00:00Z",
               "payload": payload}
        return json.dumps(msg), expected
