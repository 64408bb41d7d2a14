"""Seeded input generators for the benchmark workloads.

Everything the program under test reads is made here from ``seed``; the
same seed always yields byte-identical inputs. Each generator returns a
small record of what it wrote (files, bytes, rows) for the result log.
"""

from __future__ import annotations

import codecs
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# TPC-H-ish star schema + events / documents / embeddings, in the layout of
# the engine's TESTDATA_SCHEMAS (one <table>.parquet file per table).
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMB_DIM = 64

_DAY = np.timedelta64(1, "D")


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi_d - lo_d) / _DAY)
    return (lo_d + rng.integers(0, span + 1, n) * _DAY).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(path: str, cols: dict) -> int:
    pq.write_table(pa.table(cols), path)
    return len(next(iter(cols.values())))


def gen_tables(out_dir: str, sf: float, seed: int) -> dict:
    """Write the ten engine tables at scale factor ``sf`` under ``out_dir``.
    Row counts follow the engine's test data (sf0.01: 60k lineitem)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 200)
    n_li = n_ord * 4
    n_ev = max(int(1_000_000 * sf), 500)
    n_users = max(int(15_000 * sf), 20)
    n_docs = max(int(50_000 * sf), 100)
    n_emb = max(int(20_000 * sf), 100)
    rows = {}
    rows["region"] = _write(f"{out_dir}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    rows["nation"] = _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    rows["customer"] = _write(f"{out_dir}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    rows["supplier"] = _write(f"{out_dir}/supplier.parquet", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    rows["part"] = _write(f"{out_dir}/part.parquet", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 1),
    })
    rows["orders"] = _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    rows["lineitem"] = _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, n_ev)) + t0
    rows["events"] = _write(f"{out_dir}/events.parquet", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = _doc_texts(rng, n_docs)
    rows["documents"] = _write(f"{out_dir}/documents.parquet", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.standard_normal((n_emb, EMB_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    rows["embeddings"] = _write(f"{out_dir}/embeddings.parquet", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return {"dir": out_dir, "rows": rows, "bytes": _dir_bytes(out_dir)}


def _doc_texts(rng, n: int) -> list[str]:
    """Space-joined words from the 31-word engine vocabulary; 5% of the
    documents repeat an earlier one with a trailing ``dup`` token."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, at = [], 0
    for i, ln in enumerate(lens):
        texts.append(" ".join(VOCAB[w] for w in words[at:at + ln]))
        at += ln
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return texts


def documents_replica(src_parquet: str, out_path: str, copies: int,
                      seed: int) -> dict:
    """``copies`` concatenated copies of a documents table, each copy's
    doc_ids shifted by a seeded offset so every id is unique; the row
    order is seed-shuffled."""
    rng = np.random.default_rng([seed, 2])
    base = pq.read_table(src_parquet)
    n = base.num_rows
    ids = base.column("doc_id").to_numpy()
    parts = []
    for c in range(copies):
        shifted = ids + c * (int(ids.max()) + 1)
        parts.append(base.set_column(0, "doc_id", pa.array(shifted, pa.int64())))
    out = pa.concat_tables(parts)
    out = out.take(pa.array(rng.permutation(out.num_rows)))
    pq.write_table(out, out_path)
    return {"path": out_path, "rows": out.num_rows, "copies": copies,
            "base_rows": n, "bytes": os.path.getsize(out_path)}


def search_terms(texts: list[str], n: int, seed: int) -> list[tuple[str, ...]]:
    """``n`` seeded term tuples drawn from the corpus vocabulary: single
    terms, adjacent pairs (phrases that occur) and two-term AND queries."""
    rng = np.random.default_rng([seed, 3])
    vocab = sorted({w for t in texts for w in t.split()})
    out = []
    for i in range(n):
        if i % 2 == 0:
            t = texts[int(rng.integers(0, len(texts)))].split()
            j = int(rng.integers(0, max(len(t) - 1, 1)))
            out.append(tuple(t[j:j + 2]) if len(t) > 1 else (t[0], t[0]))
        else:
            a, b = rng.choice(len(vocab), 2, replace=False)
            out.append((vocab[int(a)], vocab[int(b)]))
    return out


def bm25_top(texts: list[str], ids, terms: tuple[str, ...], k: int,
             k1: float = 1.2, b: float = 0.75) -> list[int]:
    """The ``k`` doc ids ranked highest for ``terms`` by the engine's BM25
    (space-split tokens, idf ln((N - df + 0.5) / (df + 0.5)), only docs
    holding a term, ties to the lower doc_id), so a delete of them shows
    in the stored top-k."""
    docs = [t.split(" ") for t in texts]
    lens = np.array([len(d) for d in docs], dtype=float)
    score = np.zeros(len(docs))
    hit = np.zeros(len(docs), dtype=bool)
    for term in set(terms):
        tf = np.array([d.count(term) for d in docs], dtype=float)
        df = int((tf > 0).sum())
        idf = np.log((len(docs) - df + 0.5) / (df + 0.5))
        score += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * lens / lens.mean()))
        hit |= tf > 0
    ranked = sorted((-score[i], int(ids[i])) for i in np.flatnonzero(hit))
    return [doc for _s, doc in ranked[:k]]


# ---------------------------------------------------------------------------
# EDINET XBRL→CSV filings (the paper's ETL input)
# ---------------------------------------------------------------------------

HEADER = ["要素ID", "項目名", "コンテキストID", "相対年度", "連結・個別",
          "期間・時点", "ユニットID", "単位", "値"]
FULLWIDTH_DIGITS = "０１２３４５６７８９"
PL_ITEMS = [
    ("jppfs_cor:NetSales", "売上高"),
    ("jppfs_cor:CostOfSales", "売上原価"),
    ("jppfs_cor:GrossProfit", "売上総利益"),
    ("jppfs_cor:OperatingIncome", "営業利益"),
    ("jppfs_cor:OrdinaryIncome", "経常利益"),
    ("jppfs_cor:ProfitLoss", "当期純利益"),
]
BS_ITEMS = [
    ("jppfs_cor:Assets", "資産"),
    ("jppfs_cor:Liabilities", "負債"),
    ("jppfs_cor:NetAssets", "純資産"),
    ("jppfs_cor:CashAndDeposits", "現金及び預金"),
]


def _zen(n: int) -> str:
    return "".join(FULLWIDTH_DIGITS[int(c)] for c in str(n))


def _period_string(year: int, quarter: int, wareki: bool) -> str:
    """Cover-page period text: quarter q of fiscal year ``year`` (April
    start), Gregorian or Reiwa-era (wareki) spelling."""
    start_m = 4 + 3 * (quarter - 1)
    sy, sm = (year, start_m) if start_m <= 12 else (year + 1, start_m - 12)
    em = sm + 2
    ey, em = (sy, em) if em <= 12 else (sy + 1, em - 12)
    ed = (dt.date(ey + (em == 12), em % 12 + 1, 1) - dt.timedelta(days=1)).day
    if wareki:
        return (f"第{_zen(40 + quarter)}期第{_zen(quarter)}四半期"
                f"(自  令和{_zen(sy - 2018)}年{_zen(sm)}月１日  "
                f"至  令和{_zen(ey - 2018)}年{_zen(em)}月{_zen(ed)}日)")
    return (f"第{_zen(100 + quarter)}期 第{_zen(quarter)}四半期"
            f"(自  {sy}年{sm}月１日  至  {ey}年{em}月{ed}日)")


def _period_end(year: int, quarter: int) -> dt.date:
    m = 4 + 3 * (quarter - 1) + 2
    y, m = (year, m) if m <= 12 else (year + 1, m - 12)
    return dt.date(y + (m == 12), m % 12 + 1, 1) - dt.timedelta(days=1)


def _fiscal_year(year: int, quarter: int) -> int:
    """The fiscal year the engine's period parser assigns: the calendar
    year of the period's END date."""
    return _period_end(year, quarter).year


def _filing_rows(rng, company: int, year: int, quarter: int, wareki: bool,
                 bump: int, extra_items: int,
                 bad_period: bool = False) -> tuple[list[list[str]], dict]:
    code = f"E{10000 + company:05d}"
    end = _period_end(year, quarter)
    filed = end + dt.timedelta(days=40 + int(rng.integers(0, 5)))
    rows = [
        ["jpdei_cor:EDINETCodeDEI", "ＥＤＩＮＥＴコード", "FilingDateInstant",
         "提出日時点", "その他", "時点", "", "", code],
        ["jpcrp_cor:CompanyNameCoverPage", "会社名", "FilingDateInstant",
         "提出日時点", "その他", "時点", "", "", f"テスト{company}株式会社"],
        ["jpdei_cor:SecurityCodeDEI", "証券コード", "FilingDateInstant",
         "提出日時点", "その他", "時点", "", "", f"{1000 + company}0"],
        ["jpcrp_cor:DocumentTitleCoverPage", "表紙", "FilingDateInstant",
         "提出日時点", "その他", "時点", "", "", "四半期報告書"],
        ["jpcrp_cor:QuarterlyAccountingPeriodCoverPage", "会計期間",
         "FilingDateInstant", "提出日時点", "その他", "時点", "", "",
         "これはパース不可能な文字列です" if bad_period
         else _period_string(year, quarter, wareki)],
        ["jpdei_cor:CurrentPeriodEndDateDEI", "当会計期間終了日",
         "FilingDateInstant", "提出日時点", "その他", "時点", "", "",
         f"{end.year}/{end.month}/{end.day}"],
        ["jpcrp_cor:FilingDateCoverPage", "提出日", "FilingDateInstant",
         "提出日時点", "その他", "時点", "", "",
         f"{filed.year}/{filed.month}/{filed.day}"],
        ["jpcrp_cor:BusinessResultsOfGroupTextBlock", "経営成績",
         "CurrentYTDDuration", "当四半期累計期間", "連結", "期間", "", "",
         "当社グループの業績は堅調に推移しました"],
    ]
    base = int(rng.integers(1_000, 100_000)) * 1_000_000 + bump * 1_000_000
    vals = {
        "jppfs_cor:NetSales": base,
        "jppfs_cor:CostOfSales": base * 6 // 10,
        "jppfs_cor:GrossProfit": base - base * 6 // 10,
        "jppfs_cor:OperatingIncome": base * int(rng.integers(2, 15)) // 100,
        "jppfs_cor:OrdinaryIncome": base * int(rng.integers(2, 15)) // 100,
        "jppfs_cor:ProfitLoss": base * int(rng.integers(1, 10)) // 100,
    }
    # the summary resolves each element to its LAST source row, so the
    # current period follows the prior-year comparative, as in EDINET files
    for eid, name in PL_ITEMS:
        for ctx, rel in (("Prior1YTDDuration", "前年度同四半期累計期間"),
                         ("CurrentYTDDuration", "当四半期累計期間")):
            v = vals[eid] if ctx.startswith("Current") else vals[eid] * 9 // 10
            rows.append([eid, name, ctx, rel, "連結", "期間", "JPY", "円",
                         str(v)])
    for eid, name in BS_ITEMS:
        v = "－" if rng.random() < 0.1 else str(int(rng.integers(1, 10**6)) * 1000)
        rows.append([eid, name, "CurrentQuarterInstant", "当四半期会計期間末",
                     "連結", "時点", "JPY", "円", v])
    rows.append(["jppfs_cor:EPS", "１株当たり四半期純利益",
                 "CurrentYTDDuration", "当四半期累計期間", "連結", "期間",
                 "JPYPerShares", "円", f"{rng.integers(1, 999)}.{rng.integers(0, 99):02d}"])
    for k in range(extra_items):
        v = ("－" if k % 13 == 5 else f"注記{k}" if k % 17 == 3
             else str(int(rng.integers(-10**6, 10**9)) * 1000))
        rows.append([f"jppfs_cor:OtherItem{k}", f"その他項目{k}",
                     "CurrentYTDDuration", "当四半期累計期間", "連結", "期間",
                     "JPY", "円", v])
    facts = {
        "edinet_code": code,
        "fiscal_year": _fiscal_year(year, quarter),
        "quarter": quarter,
        "net_sales": vals["jppfs_cor:NetSales"],
        "operating_income": vals["jppfs_cor:OperatingIncome"],
        "ordinary_income": vals["jppfs_cor:OrdinaryIncome"],
        "net_income": vals["jppfs_cor:ProfitLoss"],
        "period_end": end,
    }
    return rows, facts


def _encode(rows: list[list[str]], enc: str) -> bytes:
    text = "\r\n".join("\t".join(r) for r in [HEADER] + rows) + "\r\n"
    if enc == "utf-16le":
        return codecs.BOM_UTF16_LE + text.encode("utf-16-le")
    return text.encode(enc)


#: fact rows per valid filing besides the extra items: 6 P&L items in two
#: contexts, 4 balance-sheet items and EPS
FACTS_PER_FILING = len(PL_ITEMS) * 2 + len(BS_ITEMS) + 1


def gen_filings(out_dir: str, n_companies: int, quarters: int, seed: int,
                extra_items: int = 0, amend_frac: float = 0.1,
                reject_frac: float = 0.02) -> dict:
    """EDINET-style TSV filings: ``n_companies`` × ``quarters`` quarterly
    reports under ``out_dir/base`` (mostly UTF-16LE with BOM, plus CP932
    and UTF-8, CRLF line ends; cover rows, wareki period strings, ``－``
    placeholders and text values) and an amendment batch re-filing a
    seeded ``amend_frac`` of them with new figures under
    ``out_dir/amend``. A seeded ``reject_frac`` of the filings carry an
    unparsable period string, which the ETL must quarantine. Neither
    touches a company's latest quarter, so the margin summary is the same
    before and after the amendments load.

    Returns the silver-table counts a correct load produces and each
    company's latest-quarter figures, which the summary must report."""
    rng = np.random.default_rng([seed, 4])
    base_dir, amend_dir = f"{out_dir}/base", f"{out_dir}/amend"
    os.makedirs(base_dir, exist_ok=True)
    os.makedirs(amend_dir, exist_ok=True)
    latest = {}
    n_rows = n_files = n_amend_rows = 0
    slots = [(c, q) for c in range(n_companies) for q in range(quarters)]
    older = [i for i, (c, q) in enumerate(slots) if q < quarters - 1]
    picked = rng.permutation(older)
    n_amend = max(1, int(len(slots) * amend_frac))
    n_reject = max(1, int(len(slots) * reject_frac))
    amend_set = {slots[i] for i in picked[:n_amend]}
    reject_set = {slots[i] for i in picked[n_amend:n_amend + n_reject]}
    for c, q in slots:
        year = 2021 + q // 4
        quarter = q % 4 + 1
        wareki = bool(rng.random() < 0.5)
        enc = rng.choice(["utf-16le"] * 8 + ["cp932", "utf-8"])
        rows, facts = _filing_rows(rng, c, year, quarter, wareki, 0,
                                   extra_items, (c, q) in reject_set)
        if q == quarters - 1:
            latest[facts["edinet_code"]] = facts
        name = f"jpcrp040300-q{quarter}r-001_{facts['edinet_code']}-{year}q{quarter}.csv"
        with open(f"{base_dir}/{name}", "wb") as fh:
            fh.write(_encode(rows, str(enc)))
        n_rows += len(rows)
        n_files += 1
        if (c, q) in amend_set:
            arows, _ = _filing_rows(rng, c, year, quarter, wareki, 7,
                                    extra_items)
            n_amend_rows += len(arows)
            with open(f"{amend_dir}/{name[:-4]}-amend.csv", "wb") as fh:
                fh.write(_encode(arows, str(enc)))
    return {
        "base_glob": f"{base_dir}/*.csv",
        "amend_glob": f"{amend_dir}/*.csv",
        "files": n_files,
        "amend_files": len(amend_set),
        "rows": n_rows,
        "amend_rows": n_amend_rows,
        "bytes": _dir_bytes(base_dir),
        "amend_bytes": _dir_bytes(amend_dir),
        "latest": latest,
        "rejected": len(reject_set),
        "companies": n_companies,
        "items": len(PL_ITEMS) + len(BS_ITEMS) + 1 + extra_items,
        "reports": n_files - len(reject_set),
        "facts": (n_files - len(reject_set)) * (FACTS_PER_FILING + extra_items),
    }


# ---------------------------------------------------------------------------
# WARC crawl (tools/scale_funnel's page lattice, seeded by page offset)
# ---------------------------------------------------------------------------


def gen_crawl(out_dir: str, docs_parquet: str, pages: int, seed: int) -> dict:
    """One raw-HTML WARC crawl of ``pages`` pages through
    ``tools/scale_funnel.generate``. Its page lattice is a pure function of
    the page number, so the seed picks the page-number range."""
    from tools import scale_funnel

    start = (seed % 100_000) * 1_000_000
    scale_funnel.generate(out_dir, pages, 1, os.path.dirname(docs_parquet),
                          start=start, fmt="warc")
    return {"dir": out_dir, "pages": pages, "start": start,
            "bytes": _dir_bytes(out_dir)}


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
