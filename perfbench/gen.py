"""Seeded input generators and their expected outcomes.

Everything here is plain Python and pyarrow: no Spark. Each generator takes a
``random.Random`` built from the run's seed and returns the bytes the program
will read together with what the program should make of them, computed here
independently of the program (cleaned values, invalid row numbers, per-file
insert / update / unchanged counts, planted duplicate families).
"""

from __future__ import annotations

import csv
import datetime
import os
import random
import re
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

# Column headers of the reference's customers benchmark file, in file order.
HEADERS = [
    "Customer Id", "First Name", "Last Name", "Company", "City", "Country",
    "Phone 1", "Phone 2", "Email", "Subscription Date", "Website",
]
# Target column for each header (the source config maps one to the other).
COLUMNS = [
    "customer_id", "first_name", "last_name", "company", "city", "country",
    "phone_1", "phone_2", "email", "subscription_date", "website",
]
MAX_LEN = {
    "customer_id": 15, "first_name": 50, "last_name": 50, "company": 100,
    "city": 50, "country": 50, "phone_1": 20, "phone_2": 20, "email": 100,
    "website": 200,
}

_FIRST = ["Sheryl", "Preston", "Roy", "Linda", "Joanna", "Aimee", "Darren",
          "Brett", "Sheryl", "Erin", "Kara", "Marie", "Isaac", "Nina", "Omar",
          "Paula", "Quinn", "Rhea", "Sam", "Tariq", "Uma", "Vera", "Wade"]
_LAST = ["Baxter", "Lozano", "Berry", "Perez", "Bishop", "Pugh", "Ramos",
         "Stone", "Hicks", "Duran", "Frost", "Gill", "Hale", "Ivers", "Judd"]
_COMPANY = ["Rasmussen Group", "Vega-Gentry", "Murillo-Perry", "Dominguez Ltd",
            "Martin Lester", "Chung Inc", "Bryant-Crane", "Keller PLC"]
_CITY = ["East Leonard", "Dominiquefort", "Isabelborough", "West Mackenzie",
         "North Ann", "Lake Tara", "Port Kim", "South Ryan", "New Eli"]
_COUNTRY = ["Chile", "Djibouti", "Antigua and Barbuda", "Dominican Republic",
            "Slovakia", "Bhutan", "Norway", "Peru", "Kenya", "Fiji"]
_DOMAIN = ["example.com", "mail.org", "post.net", "inbox.io"]

# Shares of a stream file's rows: changed rows of existing keys, unchanged
# re-sends and invalid rows; the rest are new keys.
CHANGE_SHARE, RESEND_SHARE, INVALID_SHARE = 0.4, 0.4, 0.01

# Kinds of planted invalid rows and the validator error each must produce.
INVALID_KINDS = {
    "bad_email": "email",
    "long_phone": "max_length",
    "long_name": "max_length",
    "bad_date": "cast_error",
    "missing_id": "missing",
}


def clean_phone(raw: str | None) -> str | None:
    """The source's phone cleaner, restated: keep digits only."""
    return None if raw is None else re.sub(r"[^0-9]", "", raw)


def customer_id(key: int) -> str:
    # bijection on [0, 2**60): distinct keys give distinct 15-hex-digit ids
    return format((key * 0x9E3779B97F4A7C15) % (1 << 60), "015X")


def _phone(rng: random.Random) -> str:
    a, b, c = rng.randrange(200, 1000), rng.randrange(100, 1000), rng.randrange(10000)
    style = rng.randrange(4)
    if style == 0:
        return f"+1-{a}-{b}-{c:04d}x{rng.randrange(100, 1000)}"
    if style == 1:
        return f"({a}){b}-{c:04d}"
    if style == 2:
        return f"001-{a}-{b}-{c:04d}"
    return f"{a}.{b}.{c:04d}"


def _customer(rng: random.Random, key: int) -> dict:
    first, last = rng.choice(_FIRST), rng.choice(_LAST)
    day = datetime.date(2020, 1, 1) + datetime.timedelta(days=rng.randrange(900))
    return {
        "customer_id": customer_id(key),
        "first_name": first,
        "last_name": last,
        "company": rng.choice(_COMPANY),
        "city": rng.choice(_CITY),
        "country": rng.choice(_COUNTRY),
        "phone_1": _phone(rng),
        "phone_2": _phone(rng),
        "email": f"{first}.{last}{key}@{rng.choice(_DOMAIN)}".lower(),
        "subscription_date": day.isoformat(),
        "website": f"https://www.{last.lower()}{rng.randrange(1000)}.com/",
    }


def _changed(rng: random.Random, row: dict) -> dict:
    """The same customer with one business field given a new value."""
    out = dict(row)
    col = rng.choice(["city", "country", "company", "phone_1", "website"])
    while expected_row(out)[col] == expected_row(row)[col]:
        out[col] = {
            "city": lambda: rng.choice(_CITY),
            "country": lambda: rng.choice(_COUNTRY),
            "company": lambda: rng.choice(_COMPANY),
            "phone_1": lambda: _phone(rng),
            "website": lambda: f"https://www.x{rng.randrange(10**6)}.com/",
        }[col]()
    return out


def _spoil(rng: random.Random, row: dict, kind: str) -> dict:
    out = dict(row)
    if kind == "bad_email":
        out["email"] = out["email"].replace("@", "_at_")
    elif kind == "long_phone":
        out["phone_1"] = "+" + "".join(str(rng.randrange(10)) for _ in range(24))
    elif kind == "long_name":
        out["first_name"] = "N" * 60
    elif kind == "bad_date":
        out["subscription_date"] = "not-a-date"
    elif kind == "missing_id":
        out["customer_id"] = None
    return out


def expected_row(raw: dict) -> dict:
    """What a valid raw row becomes in the target: cleaned phones, typed date."""
    out = dict(raw)
    out["phone_1"] = clean_phone(raw["phone_1"])
    out["phone_2"] = clean_phone(raw["phone_2"])
    out["subscription_date"] = datetime.date.fromisoformat(raw["subscription_date"])
    return out


@dataclass
class CustomerFile:
    """One generated input file and what loading it must produce."""

    name: str
    path: str
    n_rows: int
    n_bytes: int
    invalid: dict[int, str]  # 1-based file row number -> expected error type
    inserts: int = 0
    updates: int = 0
    unchanged: int = 0


def _invalid_positions(rng: random.Random, n_rows: int, share: float) -> set[int]:
    n_bad = max(1, round(n_rows * share))
    return set(rng.sample(range(n_rows), n_bad))


@dataclass
class UpsertStream:
    """A stream of CSV files upserting into one customers table.

    ``state`` is the expected target (customer_id -> raw row) after every
    file generated so far: a last-writer-wins fold of the valid rows.
    """

    rng: random.Random
    directory: str
    file_rows: int
    state: dict[str, dict] = field(default_factory=dict)
    next_key: int = 0
    n_files: int = 0

    def next_file(self, n_rows: int | None = None) -> CustomerFile:
        """Write the next file. The first file of a stream is all new keys."""
        rng = self.rng
        n = n_rows or self.file_rows
        existing = sorted(self.state)
        if existing:
            n_change = round(n * CHANGE_SHARE)
            n_resend = round(n * RESEND_SHARE)
        else:
            n_change = n_resend = 0
        old = rng.sample(existing, n_change + n_resend)
        bad = _invalid_positions(rng, n, INVALID_SHARE)
        kinds = sorted(INVALID_KINDS)
        # rows: (raw row, role); roles assigned first, then shuffled in place
        rows: list[tuple[dict, str]] = []
        for k in old[:n_change]:
            rows.append((_changed(rng, self.state[k]), "update"))
        for k in old[n_change:]:
            rows.append((dict(self.state[k]), "unchanged"))
        while len(rows) < n:
            rows.append((_customer(rng, self.next_key), "insert"))
            self.next_key += 1
        rng.shuffle(rows)
        out = CustomerFile(
            f"customers-{self.n_files:05d}.csv",
            os.path.join(self.directory, f"customers-{self.n_files:05d}.csv"),
            n, 0, {},
        )
        # invalid rows are fresh keys, never used again, so a spoiled row
        # never touches an existing customer
        for i in sorted(bad):
            kind = kinds[(self.n_files + i) % len(kinds)]
            rows[i] = (_spoil(rng, _customer(rng, self.next_key), kind), "invalid")
            self.next_key += 1
            out.invalid[i + 2] = INVALID_KINDS[kind]  # header is CSV row 1
        with open(out.path, "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(HEADERS)
            for row, role in rows:
                w.writerow(["" if row[c] is None else row[c] for c in COLUMNS])
                if role == "invalid":
                    continue
                self.state[row["customer_id"]] = row
                if role == "insert":
                    out.inserts += 1
                elif role == "update":
                    out.updates += 1
                else:
                    out.unchanged += 1
        out.n_bytes = os.path.getsize(out.path)
        self.n_files += 1
        return out

    def expected_table(self) -> dict[str, dict]:
        return {k: expected_row(v) for k, v in self.state.items()}


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------

SAMPLE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents_sample.parquet")


@dataclass
class Corpus:
    path: str
    n_docs: int
    n_bytes: int
    docs: list[tuple[int, str, str]]  # (doc_id, lang, text), by doc_id
    exact_families: list[list[int]]  # doc ids sharing one identical text
    near_families: list[list[int]]  # doc ids planted as light edits of one doc
    junk: set[int]  # doc ids of planted punctuation-only documents


def load_sample() -> list[tuple[str, str]]:
    """(text, lang) of the committed sample of the sf0.1 test corpus, in
    sample order (see ``make_sample.py``)."""
    t = pq.read_table(SAMPLE, columns=["text", "lang"])
    return list(zip(t["text"].to_pylist(), t["lang"].to_pylist()))


def _pii(rng: random.Random) -> str:
    kind = rng.randrange(3)
    if kind == 0:
        return f"mail {rng.choice(_FIRST).lower()}.{rng.randrange(100)}@{rng.choice(_DOMAIN)} now"
    if kind == 1:
        return f"ssn {rng.randrange(100, 1000)}-{rng.randrange(10, 100)}-{rng.randrange(1000, 10000)}"
    return f"call {rng.randrange(200, 1000)}-{rng.randrange(100, 1000)}-{rng.randrange(1000, 10000)}"


def write_corpus(
    rng: random.Random, path: str, base: list[tuple[str, str]],
    exact_share: float = 0.08, near_share: float = 0.08,
    pii_share: float = 0.05, junk_share: float = 0.03,
) -> Corpus:
    """The ``base`` documents (text, lang) with planted exact copies, near
    copies (one or two words replaced by words of the base vocabulary), PII
    strings and punctuation-only junk that the quality floor drops. Copies
    keep their original's language. The shares are per base document."""
    vocab = sorted({w for text, _ in base for w in text.split()})
    docs: list[tuple[str, str]] = []
    exact: list[list[int]] = []
    near: list[list[int]] = []
    junk: list[int] = []
    for text, lang in base:
        words = text.split()
        if rng.random() < pii_share:
            words.insert(rng.randrange(len(words) + 1), _pii(rng))
        docs.append((" ".join(words), lang))
        r = rng.random()
        if r < exact_share:
            fam = [len(docs) - 1]
            for _ in range(rng.randrange(1, 4)):
                fam.append(len(docs))
                docs.append(docs[fam[0]])
            exact.append(fam)
        elif r < exact_share + near_share:
            fam = [len(docs) - 1]
            for _ in range(rng.randrange(1, 3)):
                edited = list(words)
                for _ in range(rng.randrange(1, 3)):
                    edited[rng.randrange(len(edited))] = rng.choice(vocab)
                fam.append(len(docs))
                docs.append((" ".join(edited), lang))
            near.append(fam)
        if rng.random() < junk_share:
            junk.append(len(docs))
            docs.append(("".join(rng.choice("!?#*") for _ in range(rng.randrange(5, 30))), lang))
    # shuffle ids so a family's surviving (minimum) id is any of its members
    ids = list(range(1, len(docs) + 1))
    rng.shuffle(ids)
    table = pa.table({
        "doc_id": pa.array(ids, type=pa.int64()),
        "text": pa.array([t for t, _ in docs], type=pa.string()),
        "lang": pa.array([lang for _, lang in docs], type=pa.string()),
    })
    pq.write_table(table, path)
    return Corpus(
        path, len(docs), os.path.getsize(path),
        sorted((ids[i], lang, t) for i, (t, lang) in enumerate(docs)),
        [[ids[i] for i in f] for f in exact],
        [[ids[i] for i in f] for f in near],
        {ids[i] for i in junk},
    )
