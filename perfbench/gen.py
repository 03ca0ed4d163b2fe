"""Seeded input generator for the scanner benchmark.

Writes parquet inputs from a seed with numpy + pyarrow only: it imports
nothing from the scanner package, so a change to the system under test
cannot change its inputs. The same (parameters, seed) always produce the
same files. Sizes (tables, rows, columns, documents) depend on the
parameters alone; the seed picks values and where PII lands, so every
seed asks for the same amount of work.

Layouts:

- catalog: ``<dir>/<table>.parquet`` single files, one per table, with a
  skewed size schedule (a few large fact tables, a long tail of small
  ones). Most columns are numeric or timestamp; a minority are strings,
  most of them PII of one kind each (emails, phones, Luhn-valid and
  -invalid cards, SSNs, Verhoeff-valid and -invalid Aadhaar numbers, IPs,
  MACs, PANs, names, dates of birth, free-text notes).
- documents: ``<dir>/documents.parquet`` with long free-text documents,
  embedded PII at a seeded density and near-miss distractors
  (Luhn-invalid cards, over-long SSN-shaped references).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Generator parameters. Recorded in README.md; change them only together
#: with a new benchmark baseline.
PARAMS = {
    "catalog": {
        # rows per table, largest first: three fact tables, then a tail
        "table_rows": [6000, 4000, 2000, 1000, 600, 400, 250, 150],
        "columns_per_table": 9,
        "string_columns_per_table": 3,   # status + two PII columns
        "null_frac": 0.03,               # nulls in PII string columns
        "luhn_valid_frac": 0.7,
        "verhoeff_valid_frac": 0.6,
    },
    "documents": {
        "n_docs": 1500,
        "words_per_doc": 120,
        "pii_per_doc": 4,                # mean, Poisson
        "distractors_per_doc": 2,        # mean, Poisson
    },
}

#: Seed reserved for confirming a claimed gain; never tune against it.
HELD_OUT_SEED = 9001

# --- value makers -----------------------------------------------------------

_FIRST = ["Alice", "Bruno", "Carla", "Deepak", "Elena", "Farid", "Grace",
          "Hiro", "Ines", "Jonas", "Keiko", "Liam", "Maya", "Nikhil",
          "Olga", "Pedro", "Quinn", "Rosa", "Sanjay", "Tara", "Umar",
          "Vera", "Wen", "Ximena", "Yusuf", "Zoe"]
_LAST = ["Adams", "Baker", "Chen", "Diaz", "Evans", "Fischer", "Garcia",
         "Huang", "Iyer", "Jensen", "Kumar", "Lopez", "Meyer", "Nakamura",
         "Okafor", "Patel", "Quist", "Rossi", "Singh", "Tanaka", "Usman",
         "Varga", "Weber", "Xu", "Yilmaz", "Zhang"]
_DOMAINS = ["example.com", "mail.test", "corp.example.org", "shop.test"]
_WORDS = ("account order review shipment invoice balance request update "
          "ticket refund customer status delayed pending processed team "
          "report quarterly region warehouse item quantity price support "
          "agent escalation resolved follow call note reference number "
          "payment method address change contact window schedule").split()
_STATUS = ["OPEN", "SHIPPED", "RETURNED", "CLOSED", "ON_HOLD"]

_VD = [[0, 1, 2, 3, 4, 5, 6, 7, 8, 9], [1, 2, 3, 4, 0, 6, 7, 8, 9, 5],
       [2, 3, 4, 0, 1, 7, 8, 9, 5, 6], [3, 4, 0, 1, 2, 8, 9, 5, 6, 7],
       [4, 0, 1, 2, 3, 9, 5, 6, 7, 8], [5, 9, 8, 7, 6, 0, 4, 3, 2, 1],
       [6, 5, 9, 8, 7, 1, 0, 4, 3, 2], [7, 6, 5, 9, 8, 2, 1, 0, 4, 3],
       [8, 7, 6, 5, 9, 3, 2, 1, 0, 4], [9, 8, 7, 6, 5, 4, 3, 2, 1, 0]]
_VP = [[0, 1, 2, 3, 4, 5, 6, 7, 8, 9], [1, 5, 7, 6, 2, 8, 3, 0, 9, 4],
       [5, 8, 0, 3, 7, 9, 6, 1, 4, 2], [8, 9, 1, 6, 0, 4, 3, 5, 2, 7],
       [9, 4, 5, 3, 1, 2, 6, 8, 7, 0], [4, 2, 8, 6, 5, 7, 3, 9, 0, 1],
       [2, 7, 9, 3, 8, 0, 6, 4, 1, 5], [7, 0, 4, 6, 9, 1, 3, 2, 5, 8]]
_VINV = [0, 4, 3, 2, 1, 5, 6, 7, 8, 9]


def _luhn_digit(body: str) -> int:
    total = 0
    for i, ch in enumerate(reversed(body)):
        d = int(ch)
        if i % 2 == 0:
            d *= 2
            if d > 9:
                d -= 9
        total += d
    return (10 - total % 10) % 10


def _verhoeff_digit(body: str) -> int:
    c = 0
    for i, ch in enumerate(reversed(body)):
        c = _VD[c][_VP[(i + 1) % 8][int(ch)]]
    return _VINV[c]


def _digits(rng: np.random.Generator, n: int) -> str:
    return "".join(map(str, rng.integers(0, 10, n)))


def _card(rng, valid: bool) -> str:
    body = str(rng.integers(3, 7)) + _digits(rng, 14)
    d = _luhn_digit(body)
    if not valid:
        d = (d + int(rng.integers(1, 10))) % 10
    s = body + str(d)
    return " ".join(s[i:i + 4] for i in range(0, 16, 4))


def _aadhaar(rng, valid: bool) -> str:
    body = str(rng.integers(2, 10)) + _digits(rng, 10)
    d = _verhoeff_digit(body)
    if not valid:
        d = (d + int(rng.integers(1, 10))) % 10
    s = body + str(d)
    return f"{s[:4]} {s[4:8]} {s[8:]}"


def _phone(rng) -> str:
    a, b, c = rng.integers(200, 1000), rng.integers(200, 1000), \
        rng.integers(0, 10000)
    if rng.random() < 0.5:
        return f"({a}) {b}-{c:04d}"
    return f"{a}-{b}-{c:04d}"


def _ssn(rng) -> str:
    return (f"{rng.integers(100, 900):03d}-{rng.integers(10, 100):02d}-"
            f"{rng.integers(1000, 10000):04d}")


def _person(rng) -> str:
    first, last = _FIRST[rng.integers(len(_FIRST))], \
        _LAST[rng.integers(len(_LAST))]
    return f"{first} {last}"


def _email(rng, tag: str) -> str:
    f, la = _FIRST[rng.integers(len(_FIRST))], _LAST[rng.integers(len(_LAST))]
    domain = _DOMAINS[rng.integers(len(_DOMAINS))]
    return f"{f.lower()}.{la.lower()}{tag}@{domain}"


def _ip(rng) -> str:
    return ".".join(str(x) for x in rng.integers(1, 255, 4))


def _mac(rng) -> str:
    return ":".join(f"{x:02x}" for x in rng.integers(0, 256, 6))


def _pan(rng) -> str:
    letters = "".join(chr(65 + x) for x in rng.integers(0, 26, 5))
    return f"{letters}{rng.integers(1000, 10000)}{chr(65 + rng.integers(26))}"


def _dob(rng) -> str:
    return (f"dob: {rng.integers(1950, 2005)}-{rng.integers(1, 13):02d}-"
            f"{rng.integers(1, 29):02d}")


def _pii_mention(rng, kind: str, tag: str) -> str:
    if kind == "email":
        return _email(rng, tag)
    if kind == "phone":
        return _phone(rng)
    if kind == "card":
        return _card(rng, rng.random() < PARAMS["catalog"]["luhn_valid_frac"])
    if kind == "ssn":
        return _ssn(rng)
    if kind == "aadhaar":
        return _aadhaar(
            rng, rng.random() < PARAMS["catalog"]["verhoeff_valid_frac"])
    if kind == "ip":
        return _ip(rng)
    if kind == "mac":
        return _mac(rng)
    if kind == "pan":
        return _pan(rng)
    if kind == "person":
        return _person(rng)
    if kind == "dob":
        return _dob(rng)
    raise ValueError(kind)


_MENTION_KINDS = ("email", "phone", "card", "ssn", "aadhaar", "ip", "mac",
                  "pan", "person", "dob")


def _note(rng, tag: str) -> str:
    words = [_WORDS[i] for i in rng.integers(len(_WORDS), size=6)]
    kind = _MENTION_KINDS[rng.integers(len(_MENTION_KINDS))]
    words.insert(int(rng.integers(0, 6)), _pii_mention(rng, kind, tag))
    return " ".join(words)


#: PII string column kinds; table i takes kinds 2i and 2i+1 (cyclic).
PII_KINDS = ("email", "phone", "card", "ssn", "aadhaar", "ip", "mac", "pan",
             "person", "dob", "note")


def _string_values(rng, kind: str, n: int, tag: str) -> list:
    if kind == "note":
        return [_note(rng, f"{tag}{i}") for i in range(n)]
    if kind == "email":
        # unique per row: the high-cardinality case
        return [_email(rng, f"{tag}{i}") for i in range(n)]
    return [_pii_mention(rng, kind, tag) for _ in range(n)]


# --- catalog ----------------------------------------------------------------

#: Non-string column layout, cycled per table after the id column.
_NUMERIC_LAYOUT = (("qty", "int"), ("amount", "double"),
                   ("created_at", "timestamp"), ("acct_no", "bigint"),
                   ("score", "double"), ("updated_at", "timestamp"))

_TS_LO = 1_577_836_800  # 2020-01-01 UTC, epoch seconds
_TS_SPAN = 5 * 365 * 86400


def table_name(i: int) -> str:
    return f"t{i:02d}"


def catalog_schema() -> dict[str, list[tuple[str, str]]]:
    """table -> [(column, type)] in the scanner's melt type vocabulary.
    Depends on the parameters only, never on the seed."""
    p = PARAMS["catalog"]
    out = {}
    for i in range(len(p["table_rows"])):
        cols = [("id", "bigint")]
        n_num = p["columns_per_table"] - 1 - p["string_columns_per_table"]
        cols += list(_NUMERIC_LAYOUT[:n_num])
        cols.append(("status", "string"))
        for j in range(p["string_columns_per_table"] - 1):
            cols.append((f"pii_{PII_KINDS[(2 * i + j) % len(PII_KINDS)]}",
                         "string"))
        out[table_name(i)] = cols
    return out


def _column(rng, table_idx: int, name: str, dtype: str, n: int, tag: str):
    if name == "id":
        return pa.array(np.arange(n, dtype=np.int64)
                        + (table_idx + 1) * 10_000_000)
    if dtype == "int":
        return pa.array(rng.integers(0, 500, n).astype(np.int32))
    if dtype == "double":
        cents = rng.integers(0, 5_000_000, n)
        return pa.array(np.round(cents / 100.0, 2))
    if dtype == "timestamp":
        secs = _TS_LO + rng.integers(0, _TS_SPAN, n)
        return pa.array(secs * 1_000_000, pa.timestamp("us"))
    if dtype == "bigint":
        # 10-digit account numbers: the phone pattern matches them on the
        # numeric value class
        return pa.array(rng.integers(1_000_000_000, 10_000_000_000, n))
    if name == "status":
        return pa.array([_STATUS[k]
                         for k in rng.integers(len(_STATUS), size=n)])
    vals = _string_values(rng, name[len("pii_"):], n, tag)
    nulls = rng.random(n) < PARAMS["catalog"]["null_frac"]
    return pa.array([None if z else v for v, z in zip(vals, nulls)],
                    pa.string())


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _catalog_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    out = {}
    for i, (t, cols) in enumerate(catalog_schema().items()):
        n = PARAMS["catalog"]["table_rows"][i]
        out[t] = pa.table({c: _column(rng, i, c, ty, n, f"{i}x")
                           for c, ty in cols})
    return out


def write_catalog(seed: int, out_dir: str) -> None:
    """One ``<table>.parquet`` per table of :func:`catalog_schema`."""
    os.makedirs(out_dir, exist_ok=True)
    for t, tbl in _catalog_tables(seed).items():
        _write(tbl, os.path.join(out_dir, f"{t}.parquet"))


# --- documents --------------------------------------------------------------

def _distractor(rng) -> str:
    if rng.random() < 0.5:
        return _card(rng, valid=False)
    # SSN-shaped reference one digit too long: no word boundary after it
    return f"ref {_ssn(rng)}{rng.integers(0, 10)}"


def write_documents(seed: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    p = PARAMS["documents"]
    rng = np.random.default_rng([seed, 4])
    texts = []
    for d in range(p["n_docs"]):
        words = [_WORDS[i] for i in rng.integers(len(_WORDS),
                                                  size=p["words_per_doc"])]
        inserts = [_pii_mention(rng, _MENTION_KINDS[
                       rng.integers(len(_MENTION_KINDS))], f"d{d}k{j}")
                   for j in range(rng.poisson(p["pii_per_doc"]))]
        inserts += [_distractor(rng)
                    for _ in range(rng.poisson(p["distractors_per_doc"]))]
        for s in inserts:
            words.insert(int(rng.integers(0, len(words) + 1)), s)
        texts.append(" ".join(words))
    tbl = pa.table({"doc_id": pa.array(np.arange(p["n_docs"], dtype=np.int64)),
                    "text": pa.array(texts, pa.string())})
    _write(tbl, os.path.join(out_dir, "documents.parquet"))
