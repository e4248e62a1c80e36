"""Seeded generator for the star_etl workload, with its own model of the result.

The generator draws a clean truth first (products, stores, clients, sales) and
then writes it in the reference's four input formats with the documented
anomalies of FIXTURES.md A1-A4 layered on top, each one chosen so that the
engine's cleaning step maps it back to the truth:

- SFCC monthly CSVs: embedded tabs in names, upper-case and space-padded
  e-mails, quoted addresses with commas and edge spaces, the phone-format zoo
  (10 digits with leading 0, bare 9 digits, empty, too short), padded booleans;
- CEGID multiline JSON: mostly-null e-mails, ``XX``-prefixed sale ids that the
  ETL repairs, duplicate sale ids that it suffixes with ``_2``, the ``"x"``
  price sentinel that it back-fills from the catalogue, mixed int/float prices;
- two product reference CSVs whose ids overlap (2024 is a subset of 2025);
- the boutiques text: a CSV header line, then pipe-delimited rows with a
  quoted address carrying edge quotes and spaces.

The model is the expected star schema (Dim_Product, Dim_Store, Dim_Client,
Fact_Sales) plus daily batches of Fact_Sales upserts, client erasures and the
expected answer of the reference's three analytics after every batch. The
same seed writes byte-identical files.
"""
import csv
import io
import json
import os
import random
from dataclasses import dataclass, field

STORES = ["PA01", "PA02", "PA03", "BO01", "BO02", "MO01", "LY01", "LY02",
          "MA01", "LI01", "RE01", "ST01", "CL01"]
# store -> the bad prefix the ETL repairs back to it (graft.etl.FineGourmet.PrefixRepairs)
BAD_PREFIX = {"MO01": "XXMO", "LI01": "XXLI", "CL01": "XXCL", "PA01": "XXPA",
              "BO01": "XXBO", "LY01": "XXLY", "MA01": "XXMA", "RE01": "XXRE"}
CATEGORIES = ["confiserie", "divers", "luxe", "epicerie", "cave", "fromage"]
SYLLABLES = ["ma", "ro", "li", "du", "pe", "ta", "no", "vi", "sa", "be",
             "lo", "ra", "mi", "ce", "fa", "go"]
STREETS = ["Rue Haute", "Quai Bas", "Allee Verte", "Cours Sud", "Place Neuve",
           "Avenue Longue", "Chemin Creux", "Impasse Claire"]
CITIES = [("75001", "Paris"), ("69001", "Lyon"), ("13001", "Marseille"),
          ("31000", "Toulouse"), ("33000", "Bordeaux"), ("34000", "Montpellier")]
ANALYTICS = ["monthly_by_type", "top_products", "loyal_clients"]
# Anomaly rates, from the counts of the reference inputs in FIXTURES.md:
# A1 is 246 SFCC rows, A2 is 336 CEGID records.
TAB_NAME = 18 / 246       # A1: last names with an embedded tab (per client)
EMPTY_PHONE = 88 / 246    # A1: empty phones (per client)
BAD_PHONE = 7 / 246       # A1: too short or too long ("few": 246 - 151 valid - 88 empty)
NULL_EMAIL = 317 / 336    # A2: CEGID records without an e-mail
XX_PREFIX = 10 / 336      # A2: sale ids with an XX prefix the ETL repairs
DUP_ID = 2 / 336          # A2: sale ids written twice, suffixed _2 by the ETL
BAD_PRICE = 1 / 336       # A2: the "x" price sentinel
# FIXTURES.md gives no count for these; each is a small rate of the generator's own.
UPPER_EMAIL = 3 / 246     # A1: "a few uppercase" e-mails
PADDED_EMAIL = 3 / 246    # e-mails with edge spaces, which the ETL trims
PADDED_ADDRESS = 0.1      # A1: SFCC addresses with edge spaces
PADDED_STORE_ADDRESS = 0.3  # A4: boutique addresses with a space inside the quote
BARE_PHONE = 0.5          # A1: valid phones written without their leading 0
INT_PRICE = 0.5           # A2: whole-euro prices written as JSON ints

FACT_COLUMNS = ["Sale_ID", "Quantity", "Price", "Type", "Date",
                "FK_Client_ID", "FK_Product_ID", "FK_Store_ID"]

SFCC_HEADER = ["sale_id", "transaction_date", "product_id", "customer_id",
               "customer_last_name", "customer_first_name", "customer_email",
               "customer_address", "customer_phone", "email_optin", "sms_optin"]


@dataclass
class Sizes:
    """Input size of one star_etl run."""
    products: int = 220
    clients: int = 4000
    sfcc_sales: int = 18000
    cegid_sales: int = 22000
    batches: int = 48
    batch_rows: int = 2000
    correction_share: float = 0.2
    erase_every: int = 3


@dataclass
class Model:
    """What the generator wrote, as the ETL must see it after cleaning."""
    dim_product: list = field(default_factory=list)
    dim_store: list = field(default_factory=list)
    dim_client: list = field(default_factory=list)
    fact: dict = field(default_factory=dict)
    batches: list = field(default_factory=list)
    input_bytes: int = 0


def _word(rng, n):
    return "".join(rng.choice(SYLLABLES) for _ in range(n))


def _cents_str(cents):
    return f"{cents // 100}.{cents % 100:02d}"


def _write(path, text):
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write(text)
    return len(text.encode("utf-8"))


def _csv_text(rows):
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    for r in rows:
        w.writerow(r)
    return buf.getvalue()


def _day(rng, month):
    return f"2024-{month:02d}-{rng.randint(1, 27):02d}"


def _next_day(date):
    return date[:8] + f"{int(date[8:]) + 1:02d}"


def generate(seed, out_dir, sizes=Sizes()):
    """Write the inputs under ``out_dir`` and return the Model of the result."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    m = Model()
    written = 0

    # ---- products: 2024 file is a prefix of the 2025 file ------------------
    products = []
    for i in range(sizes.products):
        name = f"{_word(rng, 3).capitalize()} {_word(rng, 2)} {i}"
        products.append((f"P{100000 + i}", name, CATEGORIES[rng.randrange(len(CATEGORIES))],
                         rng.randint(150, 9900)))
    n2024 = sizes.products * 9 // 10
    for year, rows in (("2024", products[:n2024]), ("2025", products)):
        written += _write(f"{out_dir}/{year}_product_reference.csv", _csv_text(
            [["product_id", "product_name", "price", "category"]] +
            [[pid, name, _cents_str(c), cat] for pid, name, cat, c in rows]))
    m.dim_product = [(pid, name, cat, c / 100) for pid, name, cat, c in products]
    price_cents = {pid: c for pid, _, _, c in products}

    # ---- boutiques: header line, then ID|Name|"Address" -------------------
    lines = ["store_id,store_name,address"]
    for sid in STORES:
        name = f"Boutique {_word(rng, 2).capitalize()}"
        zip_, city = CITIES[rng.randrange(len(CITIES))]
        addr = f"{rng.randint(1, 99)} {STREETS[rng.randrange(len(STREETS))]}, {zip_} {city}"
        raw = f"\" {addr}\"" if rng.random() < PADDED_STORE_ADDRESS else f"\"{addr}\""
        lines.append(f"{sid}|{name}|{raw}")
        m.dim_store.append((sid, name, addr))
    written += _write(f"{out_dir}/2025_boutiques.csv", "\n".join(lines) + "\n")

    # ---- clients -----------------------------------------------------------
    clients = []
    for i in range(sizes.clients):
        last, first = _word(rng, 3).capitalize(), _word(rng, 2).capitalize()
        email = f"{first.lower()}.{last.lower()}{i}@mail.test"
        zip_, city = CITIES[rng.randrange(len(CITIES))]
        addr = f"{rng.randint(1, 199)} {STREETS[rng.randrange(len(STREETS))]}, {zip_} {city}"
        nine = f"{rng.choice('67')}{rng.randint(0, 99999999):08d}"
        form = rng.random()
        if form < EMPTY_PHONE:
            raw_phone, phone = "", None
        elif form < EMPTY_PHONE + BAD_PHONE:
            raw_phone, phone = nine[:5], None
        elif rng.random() < BARE_PHONE:
            raw_phone, phone = nine, "+33" + nine
        else:
            raw_phone, phone = "0" + nine, "+33" + nine
        clients.append(dict(email=email, last=last, first=first, addr=addr,
                            raw_phone=raw_phone, phone=phone, tab=rng.random() < TAB_NAME))

    def raw_email(c):
        r = rng.random()
        if r < UPPER_EMAIL:
            return c["email"].upper()
        if r < UPPER_EMAIL + PADDED_EMAIL:
            return f"  {c['email']} "
        return c["email"]

    # ---- SFCC online sales, 12 monthly files ---------------------------------
    by_month = {mo: [] for mo in range(1, 13)}
    sfcc_facts = []  # (sale_id, date, product, client index)
    for i in range(sizes.sfcc_sales):
        month = rng.randint(1, 12)
        ci = rng.randrange(len(clients))
        c = clients[ci]
        pid = products[rng.randrange(len(products))][0]
        sid = f"S{month:02d}{i:07d}"
        date = _day(rng, month)
        last = c["last"][:2] + "\t" + c["last"][2:] if c["tab"] else c["last"]
        addr = f" {c['addr']} " if rng.random() < PADDED_ADDRESS else c["addr"]
        by_month[month].append([
            sid, date, pid, str(1000 + ci), last, c["first"], raw_email(c), addr,
            c["raw_phone"], rng.choice(["true", " true", "false", " false"]),
            rng.choice(["true", "false", " true"])])
        sfcc_facts.append((sid, date, pid, ci))
    for month, rows in by_month.items():
        written += _write(f"{out_dir}/2024{month:02d}_sfcc_sales.csv",
                          _csv_text([SFCC_HEADER] + rows))

    # ---- CEGID store sales, one multiline JSON array -------------------------
    cegid_records = []
    cegid_facts = []  # (sale_id, date, product id, qty, cents, client index|None, store)
    seq = {}
    n_dup = max(1, round(sizes.cegid_sales * DUP_ID))
    for i in range(sizes.cegid_sales):
        month = rng.randint(1, 12)
        store = STORES[rng.randrange(len(STORES))]
        seq[(store, month)] = seq.get((store, month), 0) + 1
        sid = f"{store}24{month:02d}{seq[(store, month)]:05d}"
        date = _day(rng, month)
        pid, pname, _, cents = products[rng.randrange(len(products))]
        qty = rng.randint(1, 5)
        ci = rng.randrange(len(clients)) if rng.random() >= NULL_EMAIL else None
        email = None if ci is None else raw_email(clients[ci])
        written_id = sid
        # only some stores have a repair, so their rows carry all of the XX_PREFIX share
        if store in BAD_PREFIX and rng.random() < XX_PREFIX * len(STORES) / len(BAD_PREFIX):
            written_id = BAD_PREFIX[store] + sid[4:]
        if rng.random() < BAD_PRICE:
            price, got_cents = "x", cents
        elif cents % 100 == 0 and rng.random() < INT_PRICE:
            price, got_cents = cents // 100, cents
        else:
            price, got_cents = float(_cents_str(cents)), cents
        rec = {"sale_id": written_id, "email": email, "transaction_date": date,
               "product_name": pname, "quantity": qty, "price": price}
        cegid_records.append(rec)
        cegid_facts.append((sid, date, pid, qty, got_cents, ci, store))
        if i < n_dup:  # a second record under the same id, one day later
            dpid, dname, _, dcents = products[rng.randrange(len(products))]
            ddate = _next_day(date)
            cegid_records.append({"sale_id": written_id, "email": None,
                                  "transaction_date": ddate, "product_name": dname,
                                  "quantity": 1, "price": float(_cents_str(dcents))})
            cegid_facts.append((sid + "_2", ddate, dpid, 1, dcents, None, store))
    rng.shuffle(cegid_records)
    text = "[\n" + ",\n".join("  " + json.dumps(r, sort_keys=True) for r in cegid_records) + "\n]\n"
    written += _write(f"{out_dir}/2024_cegid_sales.json", text)
    m.input_bytes = written

    # ---- expected star -------------------------------------------------------
    emails = {clients[ci]["email"] for _, _, _, ci in sfcc_facts}
    cegid_emails = {clients[ci]["email"] for *_, ci, _ in cegid_facts if ci is not None}
    all_emails = sorted(emails | cegid_emails)
    client_id = {e: i + 1 for i, e in enumerate(all_emails)}
    seen_sfcc = {clients[ci]["email"]: clients[ci] for _, _, _, ci in sfcc_facts}
    for e in all_emails:
        c = seen_sfcc.get(e)
        if c is None:
            m.dim_client.append((client_id[e], e, None, None, None, None))
        else:
            last = c["last"][:2] + " " + c["last"][2:] if c["tab"] else c["last"]
            m.dim_client.append((client_id[e], e, last, c["first"], c["phone"], c["addr"]))
    for sid, date, pid, ci in sfcc_facts:
        m.fact[sid] = (sid, 1, price_cents[pid] / 100, "Online", date,
                       client_id[clients[ci]["email"]], pid, None)
    for sid, date, pid, qty, cents, ci, store in cegid_facts:
        fk = None if ci is None else client_id[clients[ci]["email"]]
        m.fact[sid] = (sid, qty, cents / 100, "Store", date, fk, pid, store)

    _make_batches(rng, out_dir, m, sizes, [p[0] for p in products])
    return m


def _make_batches(rng, out_dir, m, sizes, product_ids):
    """Daily Fact_Sales batches: new sale ids plus corrections of live ones,
    every ``erase_every``-th batch also erasing one client (and compacting)."""
    os.makedirs(f"{out_dir}/batches", exist_ok=True)
    live = dict(m.fact)
    live_ids = sorted(live)
    clients = [c[0] for c in m.dim_client]
    erased = set()
    plan = []
    for b in range(1, sizes.batches + 1):
        rows = []
        n_fix = int(sizes.batch_rows * sizes.correction_share)
        for sid in rng.sample(live_ids, n_fix):
            old = live[sid]
            rows.append((sid, old[1] + rng.randint(1, 3), rng.randint(150, 9900) / 100,
                         old[3], old[4], old[5], old[6], old[7]))
        for i in range(sizes.batch_rows - n_fix):
            store = rng.choice(STORES + [None, None])
            fk = rng.choice(clients)
            while fk in erased:
                fk = rng.choice(clients)
            rows.append((f"D{b:03d}{i:05d}", rng.randint(1, 5), rng.randint(150, 9900) / 100,
                         "Online" if store is None else "Store",
                         f"2025-{1 + b // 28:02d}-{1 + b % 28:02d}",
                         fk, rng.choice(product_ids), store))
        erase = None
        if b % sizes.erase_every == 0:
            erase = rng.choice([c for c in clients if c not in erased])
            erased.add(erase)
        name = f"b{b:03d}.csv"
        text = _csv_text([FACT_COLUMNS] + [
            [r[0], r[1], repr(r[2]), r[3], r[4], "" if r[5] is None else r[5], r[6],
             "" if r[7] is None else r[7]] for r in rows])
        _write(f"{out_dir}/batches/{name}", text)
        for r in rows:
            if r[0] not in live:
                live_ids.append(r[0])
            live[r[0]] = r
        if erase is not None:
            live_ids = [s for s in live_ids if live[s][5] != erase]
            live = {s: live[s] for s in live_ids}
        plan.append(dict(file=name, rows=rows, erase=erase, compact=erase is not None,
                         analytic=ANALYTICS[(b - 1) % len(ANALYTICS)],
                         input_bytes=len(text.encode("utf-8"))))
    with open(f"{out_dir}/batches/plan.tsv", "w", encoding="utf-8") as f:
        for p in plan:
            f.write(f"{p['file']}\t{'' if p['erase'] is None else p['erase']}\t"
                    f"{int(p['compact'])}\t{p['analytic']}\n")
    m.batches = plan


def apply_batches(m, n):
    """Expected (fact dict, dim_client rows) after the first ``n`` batches,
    and the expected analytic answer after each of them."""
    fact = dict(m.fact)
    clients = {c[0]: c for c in m.dim_client}
    answers = []
    for p in m.batches[:n]:
        for r in p["rows"]:
            fact[r[0]] = r
        if p["erase"] is not None:
            fact = {s: r for s, r in fact.items() if r[5] != p["erase"]}
            clients.pop(p["erase"], None)
        answers.append(analytic(p["analytic"], fact, m.dim_product, clients))
    return fact, sorted(clients.values()), answers


def _cents(price):
    return round(price * 100)


def analytic(name, fact, dim_product, clients):
    """The reference's three analytics over Fact_Sales, revenue in cents."""
    if name == "monthly_by_type":
        acc = {}
        for r in fact.values():
            k = (r[4][:7], r[3])
            rev, vol = acc.get(k, (0, 0))
            acc[k] = (rev + r[1] * _cents(r[2]), vol + r[1])
        return [[k[0], k[1], v[0], v[1]] for k, v in sorted(acc.items())]
    if name == "top_products":
        names = {p[0]: p[1] for p in dim_product}
        acc = {}
        for r in fact.values():
            acc[r[6]] = acc.get(r[6], 0) + r[1] * _cents(r[2])
        top = sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        return [[pid, names.get(pid), rev] for pid, rev in top]
    if name == "loyal_clients":
        acc = {}
        for r in fact.values():
            if r[5] is not None:
                acc[r[5]] = acc.get(r[5], 0) + 1
        top = sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        return [[cid, clients[cid][1] if cid in clients else None, n] for cid, n in top]
    raise ValueError(name)
