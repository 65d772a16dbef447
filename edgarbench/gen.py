"""Seeded input generator for the edgarbench workloads.

Every file the benchmark feeds the program comes from here, and the
same ``seed`` always yields byte-identical files.  Each generator
returns a manifest of what it wrote together with the ground truth the
output checks compare against (valid index rows in file order, document
and transaction counts), so nothing has to be re-derived by reading the
files back.

Stated input properties (also recorded in BENCHMARK.json):

- master.idx files carry the 11-line EDGAR banner and a
  ``MALFORMED_SHARE`` of malformed lines (truncated rows, non-numeric
  CIKs, free text) that every production reader must drop;
- quarterly files use ``yyyy-MM-dd`` dates, modern daily files
  ``yyyyMMdd`` and pre-1998 daily files ``MM-dd-yyyy``;
- ``UU_SHARE`` of SGML filings embed one uuencoded GRAPHIC document;
- ``DOC_NEAR_DUP_SHARE`` of catalog documents and ``EMB_NEAR_DUP_SHARE``
  of embeddings are near-duplicates of an earlier row;
- ``EVENTS_HOT_SHARE`` of events belong to one hot user.
"""

from __future__ import annotations

import binascii
import datetime as dt
import json
import os
import random

import numpy as np

MALFORMED_SHARE = 0.01
UU_SHARE = 0.25
DOC_NEAR_DUP_SHARE = 0.10
EMB_NEAR_DUP_SHARE = 0.02
EVENTS_HOT_SHARE = 0.20

# Form mix of the index rows: (form type, weight).  An assumption, not
# a measured EDGAR distribution: ownership forms and 8-Ks dominate, as
# in the real index, but the weights are not taken from any statistic.
FORMS = (
    ("4", 30), ("8-K", 18), ("10-Q", 12), ("SC 13G", 8), ("3", 6),
    ("424B2", 6), ("10-K", 5), ("S-8", 4), ("DEF 14A", 4), ("13F-HR", 3),
    ("8-K/A", 2), ("10-K/A", 1), ("S-1", 1),
)
LOOKUP_FORMS = ("10-K", "8-K", "10-Q", "DEF 14A", "S-1")

_ADJ = (
    "ACME BLUE GREAT NORTHERN PACIFIC ATLANTIC FIRST UNITED GLOBAL "
    "AMERICAN SUMMIT PIONEER APEX CENTRAL EASTERN WESTERN SOUTHERN "
    "GOLDEN SILVER IRON"
).split()
_NOUN = (
    "HOLDINGS ENERGY CAPITAL BANCORP PHARMA SYSTEMS FOODS MOTORS METALS "
    "MEDIA RETAIL LOGISTICS WIRELESS THERAPEUTICS REALTY MINING FOODS "
    "AIRLINES SOFTWARE CHEMICAL"
).split()
_SUFFIX = ("INC", "CORP", "CO", "LTD", "LP", "GROUP")
_WORDS = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
_BANNER = (
    "Description:           Master Index of EDGAR Dissemination Feed\n"
    "Last Data Received:    {received}\n"
    "Comments:              webmaster@sec.gov\n"
    "Anonymous FTP:         ftp://ftp.sec.gov/edgar/\n"
    "Cloud HTTP:            https://www.sec.gov/Archives/\n"
    "\n\n\n\n"
    "CIK|Company Name|Form Type|Date Filed|Filename\n"
    + "-" * 80
    + "\n"
)


def _rng(seed: int, stream: str) -> random.Random:
    # String seeds hash through SHA-512: stable across processes.
    return random.Random(f"edgarbench:{seed}:{stream}")


def _np_rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _write(path: str, data: str | bytes) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    mode = "wb" if isinstance(data, bytes) else "w"
    with open(path, mode, **({} if mode == "wb" else {"encoding": "utf-8", "newline": "\n"})) as f:
        f.write(data)


# --------------------------------------------------------------------------
# EDGAR index files
# --------------------------------------------------------------------------


def companies(seed: int, n: int) -> list[tuple[int, str]]:
    """``n`` companies as (cik, unique name)."""
    rng = _rng(seed, "companies")
    ciks = rng.sample(range(1_000, 2_000_000), n)
    names, seen = [], set()
    for cik in ciks:
        name = f"{rng.choice(_ADJ)} {rng.choice(_NOUN)} {rng.choice(_SUFFIX)}"
        if name in seen:
            name = f"{name} {cik % 997}"
        while name in seen:
            name += " II"
        seen.add(name)
        names.append(name)
    return list(zip(ciks, names))


def _quarter_days(year: int, quarter: int) -> list[dt.date]:
    d = dt.date(year, 3 * quarter - 2, 1)
    end = dt.date(year + (quarter == 4), 1 if quarter == 4 else 3 * quarter + 1, 1)
    days = []
    while d < end:
        days.append(d)
        d += dt.timedelta(days=1)
    return days


def index_rows(
    rng: random.Random,
    comps: list[tuple[int, str]],
    days: list[dt.date],
    n: int,
    seq_start: int,
) -> list[tuple]:
    """``n`` filing rows (cik, company, form, date, file_name) on
    ``days``, in filed-date order like a real master.idx."""
    forms = [f for f, _ in FORMS]
    weights = [w for _, w in FORMS]
    # A few heavy filers, a long tail: Pareto-ish company popularity
    # (the exponent is assumed, not fitted to EDGAR data).
    cw = [1.0 / (1 + i) ** 0.6 for i in range(len(comps))]
    picks = rng.choices(comps, weights=cw, k=n)
    fpicks = rng.choices(forms, weights=weights, k=n)
    dpicks = sorted(rng.choices(days, k=n))
    rows = []
    for i, ((cik, name), form, day) in enumerate(zip(picks, fpicks, dpicks)):
        acc = f"{cik:010d}-{day.year % 100:02d}-{seq_start + i:06d}"
        rows.append((cik, name, form, day, f"edgar/data/{cik}/{acc}.txt"))
    return rows


def _fmt_date(d: dt.date, style: str) -> str:
    if style == "iso":
        return d.isoformat()
    if style == "compact":
        return d.strftime("%Y%m%d")
    return d.strftime("%m-%d-%Y")


def _malformed(rng: random.Random, row: tuple) -> str:
    cik, name, form, day, fn = row
    kind = rng.randrange(3)
    if kind == 0:
        return f"{cik}|{name}|{form}"  # truncated row
    if kind == 1:
        return f"CIK{cik}|{name}|{form}|{day:%Y%m%d}|{fn}"  # bad CIK
    return f"*** feed interrupted at {day:%Y%m%d} {rng.randrange(10**6)} ***"


def write_master_idx(
    path: str, rows: list[tuple], date_style: str, rng: random.Random
) -> int:
    """Write one master.idx; returns the number of malformed lines."""
    received = max(r[3] for r in rows) if rows else dt.date(2000, 1, 1)
    out = [_BANNER.format(received=received.strftime("%B %d, %Y"))]
    bad = 0
    for row in rows:
        if rng.random() < MALFORMED_SHARE:
            out.append(_malformed(rng, row) + "\n")
            bad += 1
        cik, name, form, day, fn = row
        out.append(f"{cik}|{name}|{form}|{_fmt_date(day, date_style)}|{fn}\n")
    _write(path, "".join(out))
    return bad


def company_tickers(path: str, comps: list[tuple[int, str]], rng: random.Random) -> dict[str, int]:
    """Write ``company_tickers.json`` for the listed companies; returns
    ticker → cik.  Tickers are unique."""
    letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    tickers: dict[str, int] = {}
    doc = {}
    for i, (cik, name) in enumerate(comps):
        t = "".join(rng.choice(letters) for _ in range(rng.randint(3, 5)))
        while t in tickers:
            t = "".join(rng.choice(letters) for _ in range(5))
        tickers[t] = cik
        doc[str(i)] = {"cik_str": cik, "ticker": t, "title": name.title()}
    _write(path, json.dumps(doc))
    return tickers


# --------------------------------------------------------------------------
# Filing containers
# --------------------------------------------------------------------------


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choices(_WORDS, k=n))


def _uuencode(name: str, payload: bytes) -> str:
    lines = [f"begin 644 {name}"]
    for i in range(0, len(payload), 45):
        lines.append(binascii.b2a_uu(payload[i : i + 45]).decode("ascii").rstrip("\n"))
    lines += ["`", "end"]
    return "\n".join(lines)


def sgml_filing(rng: random.Random, row: tuple, with_uu: bool, text_words: int) -> tuple[str, str, int]:
    """One multi-document SGML container; returns (accession, text,
    number of documents)."""
    cik, name, form, day, fn = row
    acc = fn.rsplit("/", 1)[1][:-4]
    docs = [(form, f"primary.htm", f"<html><body>{_words(rng, text_words)}</body></html>")]
    for k in range(rng.randint(1, 3)):
        docs.append((f"EX-{k + 21}", f"ex{k + 21}.htm", _words(rng, text_words // 4)))
    if with_uu:
        payload = bytes(rng.randrange(256) for _ in range(rng.randint(600, 3000)))
        docs.append(("GRAPHIC", "logo.jpg", _uuencode("logo.jpg", payload)))
    head = (
        f"<SEC-DOCUMENT>{acc}.txt : {day:%Y%m%d}\n"
        f"<SEC-HEADER>{acc}.hdr.sgml : {day:%Y%m%d}\n"
        f"<ACCEPTANCE-DATETIME>{day:%Y%m%d}16{rng.randrange(60):02d}00\n"
        f"ACCESSION NUMBER:\t\t{acc}\n"
        f"CONFORMED SUBMISSION TYPE:\t{form}\n"
        f"PUBLIC DOCUMENT COUNT:\t\t{len(docs)}\n"
        f"FILED AS OF DATE:\t\t{day:%Y%m%d}\n"
        "FILER:\n\tCOMPANY DATA:\n"
        f"\t\tCOMPANY CONFORMED NAME:\t\t\t{name}\n"
        f"\t\tCENTRAL INDEX KEY:\t\t\t{cik:010d}\n"
        "\tFILING VALUES:\n"
        f"\t\tFORM TYPE:\t\t{form}\n"
        "</SEC-HEADER>\n"
    )
    body = "".join(
        f"<DOCUMENT>\n<TYPE>{t}\n<SEQUENCE>{i + 1}\n<FILENAME>{f}\n<TEXT>\n{txt}\n</TEXT>\n</DOCUMENT>\n"
        for i, (t, f, txt) in enumerate(docs)
    )
    return acc, head + body + "</SEC-DOCUMENT>\n", len(docs)


def form4_xml(rng: random.Random, row: tuple) -> tuple[str, int]:
    """One Form-4 ownership document; returns (xml, transactions)."""
    cik, name, _form, day, _fn = row
    n = rng.randint(1, 4)
    tx = []
    for _ in range(n):
        tdate = day - dt.timedelta(days=rng.randrange(3))
        tx.append(
            "<nonDerivativeTransaction>"
            "<securityTitle><value>Common Stock</value></securityTitle>"
            f"<transactionDate><value>{tdate.isoformat()}</value></transactionDate>"
            "<transactionCoding><transactionFormType>4</transactionFormType>"
            f"<transactionCode>{rng.choice('SPMAG')}</transactionCode>"
            f"<equitySwapInvolved>{rng.randrange(2)}</equitySwapInvolved></transactionCoding>"
            "<transactionAmounts>"
            f"<transactionShares><value>{rng.randrange(1, 50000)}</value></transactionShares>"
            f"<transactionPricePerShare><value>{rng.randrange(100, 50000) / 100}</value></transactionPricePerShare>"
            f"<transactionAcquiredDisposedCode><value>{rng.choice('AD')}</value></transactionAcquiredDisposedCode>"
            "</transactionAmounts>"
            "<postTransactionAmounts><sharesOwnedFollowingTransaction>"
            f"<value>{rng.randrange(1, 10**6)}</value>"
            "</sharesOwnedFollowingTransaction></postTransactionAmounts>"
            f"<ownershipNature><directOrIndirectOwnership><value>{rng.choice('DI')}</value>"
            "</directOrIndirectOwnership></ownershipNature>"
            "</nonDerivativeTransaction>\n"
        )
    xml = (
        '<?xml version="1.0"?>\n<ownershipDocument>\n'
        "<schemaVersion>X0306</schemaVersion><documentType>4</documentType>\n"
        f"<periodOfReport>{day.isoformat()}</periodOfReport>\n"
        f"<issuer><issuerCik>{cik:010d}</issuerCik><issuerName>{name}</issuerName>"
        "<issuerTradingSymbol>XYZ</issuerTradingSymbol></issuer>\n"
        "<nonDerivativeTable>\n" + "".join(tx) + "</nonDerivativeTable>\n</ownershipDocument>\n"
    )
    return xml, n


# --------------------------------------------------------------------------
# Workload inputs
# --------------------------------------------------------------------------

def lookup_specs(rng, comps, tickers, first: dt.date, last: dt.date, n: int) -> list[dict]:
    """A seeded pool of ``filings(...)`` specs in a fixed kind pattern:
    three date/form scans (form + range, range, top-k) for every company
    lookup (digit CIKs, tickers through the cik map, grouped URLs), so
    any stretch of the pool has the same mix.  The mix and the window
    widths are assumptions, not measured request traffic: with a quarter
    of the lookups on the several-times slower company path, the 90th
    percentile sits inside the company kinds, with margin."""
    span = (last - first).days

    def window(days):
        days = min(days, span - 1)
        s = first + dt.timedelta(days=rng.randrange(span - days))
        return s, s + dt.timedelta(days=days)

    ticker_list = sorted(tickers)
    specs = []
    for i in range(n):
        kind = SPEC_PATTERN[i % len(SPEC_PATTERN)]
        if kind == "form_range":
            s, e = window(rng.randint(5, 20))
            spec = {"form": rng.choice(LOOKUP_FORMS)}
        elif kind == "range":
            s, e = window(rng.randint(0, 1))
            spec = {}
        elif kind == "topk":
            s, e = window(rng.randint(30, 90))
            spec = {"form": rng.choice(("10-K", "DEF 14A", "S-1")), "count": rng.randint(1, 3)}
        elif kind == "ticker":
            s, e = window(rng.randint(180, 720))
            spec = {"terms": rng.sample(ticker_list, rng.randint(1, 4))}
        else:  # cik / grouped: digit lookup terms
            s, e = window(rng.randint(180, 720))
            spec = {"terms": [str(c) for c, _ in rng.sample(comps[:300], rng.randint(1, 4))]}
        specs.append(dict(spec, kind=kind, start=s.isoformat(), end=e.isoformat()))
    return specs


SPEC_PATTERN = ("form_range", "range", "topk", "cik", "form_range", "range", "topk", "ticker",
                "form_range", "range", "topk", "grouped")

INPUT_SIZE = {
    "quarters": 12, "rows_per_quarter": 1_000, "daily_files": 6,
    "old_daily_files": 2, "rows_per_day": 250, "filings": 120,
    "filing_words": 1_500, "form4": 120, "companies": 1_500, "tickers": 150,
    "specs": 60,
}


def lookup_inputs(seed: int, root: str, size: dict = INPUT_SIZE) -> dict:
    """Everything the ``lookup`` workload reads: quarterly + daily
    master.idx (three date formats), a revised last quarter for the
    upsert, a flat daily-drop directory for the stream, SGML filing
    containers, Form-4 XML, company_tickers.json, and the seeded lookup
    spec pool.  ``mirror_rows`` holds the valid rows of the mirror the
    ingest phase builds, per source file in file order."""
    rng = _rng(seed, "ingest")
    comps = companies(seed, size["companies"])
    quarters = [(2024 - (size["quarters"] + 3) // 4 + q // 4, q % 4 + 1) for q in range(size["quarters"])]
    q_files, valid, malformed = [], {}, {}
    for k, (y, q) in enumerate(quarters):
        rows = index_rows(rng, comps, _quarter_days(y, q), size["rows_per_quarter"], k * 100_000)
        path = os.path.join(root, "full-index", str(y), f"QTR{q}", "master.idx")
        malformed[path] = write_master_idx(path, rows, "iso", rng)
        q_files.append(path)
        valid[path] = rows
    # Revised last quarter: replaces that (year, quarter) partition on upsert.
    y, q = quarters[-1]
    rev_rows = index_rows(rng, comps, _quarter_days(y, q), size["rows_per_quarter"] + 200, 9_000_000)
    rev_path = os.path.join(root, "revised", "full-index", str(y), f"QTR{q}", "master.idx")
    malformed[rev_path] = write_master_idx(rev_path, rev_rows, "iso", rng)
    # Daily drops, both eras, one flat watch directory.
    d_files = []
    modern = [d for d in _quarter_days(2024, 1) if d.weekday() < 5][: size["daily_files"]]
    old = [d for d in _quarter_days(1997, 2) if d.weekday() < 5][: size["old_daily_files"]]
    for k, day in enumerate(old + modern):
        rows = index_rows(rng, comps, [day], size["rows_per_day"], 5_000_000 + k * 1_000)
        style = "us" if day.year < 1998 else "compact"
        token = day.strftime("%y%m%d") if day.year < 1998 else day.strftime("%Y%m%d")
        path = os.path.join(root, "daily-feed", f"master.{token}.idx")
        malformed[path] = write_master_idx(path, rows, style, rng)
        d_files.append(path)
        valid[path] = rows
    # SGML containers and Form-4 XML for filings drawn from the quarters.
    pool = [r for p in q_files for r in valid[p]]
    picks = rng.sample(pool, size["filings"] + size["form4"])
    n_docs, n_uu = 0, 0
    for row in picks[: size["filings"]]:
        with_uu = rng.random() < UU_SHARE
        acc, text, docs = sgml_filing(rng, row, with_uu, size["filing_words"])
        _write(os.path.join(root, "filings", f"{acc}.txt"), text)
        n_docs += docs
        n_uu += with_uu
    n_tx = 0
    for row in picks[size["filings"] :]:
        acc = row[4].rsplit("/", 1)[1][:-4]
        xml, tx = form4_xml(rng, row)
        _write(os.path.join(root, "form4", f"{acc}.xml"), xml)
        n_tx += tx
    tickers_path = os.path.join(root, "company_tickers.json")
    tickers = company_tickers(tickers_path, rng.sample(comps, size["tickers"]), rng)
    mirror = {p: valid[p] for p in q_files[:-1]}
    mirror[rev_path] = rev_rows
    mirror.update((p, valid[p]) for p in d_files)
    first = dt.date(quarters[0][0], 1, 1)
    specs = lookup_specs(rng, comps, tickers, first, modern[-1], size["specs"])
    return {
        "quarterly_files": q_files,
        "revised_file": rev_path,
        "daily_files": d_files,
        "daily_dir": os.path.join(root, "daily-feed"),
        "filings_glob": os.path.join(root, "filings", "*.txt"),
        "form4_glob": os.path.join(root, "form4", "*.xml"),
        "valid_rows": {p: len(r) for p, r in valid.items()},
        "revised_rows": len(rev_rows),
        "malformed_lines": malformed,
        "banner_lines": _BANNER.count("\n"),
        "filings": size["filings"],
        "documents": n_docs,
        "uuencoded_filings": n_uu,
        "form4_docs": size["form4"],
        "form4_transactions": n_tx,
        "tickers_path": tickers_path,
        "tickers": tickers,
        "mirror_rows": mirror,
        "specs": specs,
        "size": dict(size),
    }


# --------------------------------------------------------------------------
# Catalog tables (curation / olap)
# --------------------------------------------------------------------------

CATALOG_SIZE = {
    "customer": 150, "supplier": 10, "part": 200, "orders": 1_500,
    "lineitem": 6_000, "events": 1_000, "events_users": 150,
    "documents": 500, "embeddings": 500, "dim": 64,
}


def _days(rng: np.random.Generator, start: str, n_days: int, k: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, k)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, k: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), k) / 100.0, 2)


def catalog_tables(seed: int, root: str, size: dict = CATALOG_SIZE) -> dict:
    """The ten catalog tables (TPC-H-ish star schema, events, documents,
    embeddings) as one parquet file each under ``root``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    r = _np_rng(seed, 7)
    py = _rng(seed, "catalog")
    n = size
    t = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    t["nation"] = {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = {"c_custkey": np.arange(n["customer"], dtype=np.int64),
                     "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
                     "c_nationkey": r.integers(0, 25, n["customer"]).astype(np.int32),
                     "c_acctbal": _money(r, -999.99, 9999.99, n["customer"]),
                     "c_mktsegment": segs[r.integers(0, 5, n["customer"])]}
    t["supplier"] = {"s_suppkey": np.arange(n["supplier"], dtype=np.int64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
                     "s_nationkey": r.integers(0, 25, n["supplier"]).astype(np.int32),
                     "s_acctbal": _money(r, -999.99, 9999.99, n["supplier"])}
    adj = ["small", "red", "blue", "hot", "old", "large", "new", "green"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring"]
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    t["part"] = {"p_partkey": np.arange(n["part"], dtype=np.int64),
                 "p_name": [f"{adj[a]} {noun[b]}" for a, b in r.integers(0, 8, (n["part"], 2))],
                 "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n["part"])],
                 "p_type": types[r.integers(0, 6, n["part"])],
                 "p_size": r.integers(1, 51, n["part"]).astype(np.int32),
                 "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 2)}
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = {"o_orderkey": np.arange(n["orders"], dtype=np.int64),
                   "o_custkey": r.integers(0, n["customer"], n["orders"]).astype(np.int64),
                   "o_orderstatus": np.array(list("FOP"))[r.integers(0, 3, n["orders"])],
                   "o_totalprice": _money(r, 1000, 500000, n["orders"]),
                   "o_orderdate": _days(r, "1995-01-01", 2404, n["orders"]),
                   "o_orderpriority": prio[r.integers(0, 5, n["orders"])]}
    k = n["lineitem"]
    t["lineitem"] = {"l_orderkey": r.integers(0, n["orders"], k).astype(np.int64),
                     "l_partkey": r.integers(0, n["part"], k).astype(np.int64),
                     "l_suppkey": r.integers(0, n["supplier"], k).astype(np.int64),
                     "l_linenumber": r.integers(1, 8, k).astype(np.int32),
                     "l_quantity": r.integers(1, 51, k).astype(np.float64),
                     "l_extendedprice": _money(r, 900, 105000, k),
                     "l_discount": r.integers(0, 11, k) / 100.0,
                     "l_tax": r.integers(0, 9, k) / 100.0,
                     "l_returnflag": np.array(list("ANR"))[r.integers(0, 3, k)],
                     "l_linestatus": np.array(list("FO"))[r.integers(0, 2, k)],
                     "l_shipdate": _days(r, "1995-01-02", 2498, k)}
    e = n["events"]
    users = r.integers(1, n["events_users"], e)
    users[r.random(e) < EVENTS_HOT_SHARE] = 0  # the hot key
    ts = np.sort(r.integers(0, 30 * 86_400 * 10**6, e))
    t["events"] = {"event_id": np.arange(e, dtype=np.int64),
                   "ts": (np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
                   "user_id": users.astype(np.int64),
                   "event_type": np.array(["click", "error", "purchase", "signup", "view"])[r.integers(0, 5, e)],
                   "value": _money(r, 0.01, 490.02, e),
                   "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, e)]}
    texts = []
    for i in range(n["documents"]):
        if texts and py.random() < DOC_NEAR_DUP_SHARE:
            words = py.choice(texts).split()
            for j in py.sample(range(len(words)), max(1, len(words) // 20)):
                words[j] = py.choice(_WORDS)
            texts.append(" ".join(words))
        else:
            texts.append(_words(py, py.randint(8, 90)))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    t["documents"] = {"doc_id": np.arange(n["documents"], dtype=np.int64),
                      "text": texts,
                      "lang": langs[r.integers(0, 7, n["documents"])],
                      "source": [f"src{i % 20}" for i in range(n["documents"])],
                      "n_chars": np.array([len(x) for x in texts], dtype=np.int64)}
    m, dim = n["embeddings"], n["dim"]
    labels = r.integers(0, 10, m).astype(np.int32)
    centers = r.normal(0, 1, (10, dim))
    vecs = centers[labels] * 0.15 + r.normal(0, 1, (m, dim)) / np.sqrt(dim)
    dups = np.flatnonzero(r.random(m) < EMB_NEAR_DUP_SHARE)
    for i in dups[dups > 0]:
        vecs[i] = vecs[r.integers(0, i)] + r.normal(0, 1e-3, dim)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = {"vec_id": np.arange(m, dtype=np.int64),
                       "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                       "label": labels}
    os.makedirs(root, exist_ok=True)
    rows = {}
    for name, cols in t.items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
        rows[name] = table.num_rows
    return {"sf_dir": root, "rows": rows, "size": dict(size)}
