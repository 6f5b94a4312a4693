"""Seeded input generator and reference answers for the filesqlspark benchmark.

`generate(workload, seed, out_dir, gates)` writes the workload's input files
under `out_dir/in` and returns a manifest: the warm-up and timed statement
streams with their expected answers. With `gates`, it also writes the
parquet tables that the pipeline gates of a traced run read, under
`out_dir/gates`.

Expected answers come from Python's sqlite3 (the reference engine of the
filesql surface) loaded with the same values, never from the program. Every
answer is canonicalised by `canon_rows`: NULL -> "NULL", integers as
decimal text, floats rounded to two decimals, rows sorted. The same seed
gives byte-identical files and the same statement stream; row counts do not
depend on the seed, so run cost does not either.
"""
import bz2
import csv
import gzip
import io
import json
import lzma
import os
import random
import shutil
import sqlite3
import subprocess
import zipfile
from datetime import datetime, timedelta
from decimal import Decimal, ROUND_HALF_EVEN

EPOCH = datetime(2024, 1, 1)
WORDS = ("the fast key order sort table scan merge part window small hash join "
         "batch stream spark row data slow filter customer line value group "
         "query agg column big vector a").split()


# ---------------------------------------------------------------- answers
def canon_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        v = Decimal(repr(v))
    if isinstance(v, Decimal):
        return str(v.quantize(Decimal("0.01"), ROUND_HALF_EVEN))
    return str(v)


def canon_rows(rows):
    """Order-free canonical form of a result: a sorted list of row strings."""
    return sorted("|".join(canon_value(v) for v in r) for r in rows)


# ------------------------------------------------------------ file writers
def _csv_bytes(header, rows, delim=","):
    buf = io.StringIO()
    w = csv.writer(buf, delimiter=delim, lineterminator="\n")
    w.writerow(header)
    w.writerows(rows)
    return buf.getvalue().encode("utf-8")


def _ltsv_bytes(rows):
    return "".join("\t".join(f"{k}:{v}" for k, v in r) + "\n"
                   for r in rows).encode("utf-8")


def _zstd(data):
    exe = shutil.which("zstd")
    if exe is None:
        raise RuntimeError("the zstd command is needed to write .zst inputs")
    return subprocess.run([exe, "-q", "-3", "-c"], input=data,
                          stdout=subprocess.PIPE, check=True).stdout


def _compress(name, data):
    if name.endswith(".gz"):
        return gzip.compress(data, mtime=0)
    if name.endswith(".bz2"):
        return bz2.compress(data)
    if name.endswith(".xz"):
        return lzma.compress(data)
    if name.endswith(".zst"):
        return _zstd(data)
    return data


def _write(path, data):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


def _xlsx_bytes(sheet, header, rows):
    """Minimal single-sheet workbook with inline strings and numbers."""
    def col(i):
        s = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            s = chr(65 + r) + s
        return s

    def cell(ref, v):
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v}</v></c>'
        esc = str(v).replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        return f'<c r="{ref}" t="inlineStr"><is><t>{esc}</t></is></c>'

    xml_rows = []
    for ri, r in enumerate([header] + rows, start=1):
        cells = "".join(cell(f"{col(ci)}{ri}", v) for ci, v in enumerate(r))
        xml_rows.append(f'<row r="{ri}">{cells}</row>')
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    files = {
        "[Content_Types].xml":
            '<?xml version="1.0" encoding="UTF-8"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            '</Types>',
        "_rels/.rels":
            '<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{rel}/officeDocument" Target="xl/workbook.xml"/></Relationships>',
        "xl/workbook.xml":
            f'<?xml version="1.0" encoding="UTF-8"?><workbook {ns} xmlns:r="{rel}"><sheets>'
            f'<sheet name="{sheet}" sheetId="1" r:id="rId1"/></sheets></workbook>',
        "xl/_rels/workbook.xml.rels":
            '<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{rel}/worksheet" Target="worksheets/sheet1.xml"/></Relationships>',
        "xl/worksheets/sheet1.xml":
            f'<?xml version="1.0" encoding="UTF-8"?><worksheet {ns}><sheetData>'
            + "".join(xml_rows) + "</sheetData></worksheet>",
    }
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, text in files.items():
            info = zipfile.ZipInfo(name, date_time=(2024, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, text)
    return buf.getvalue()


def _ts(rng, days=365):
    return EPOCH + timedelta(seconds=rng.randrange(days * 86400))


# ------------------------------------------------------------ point queries
# Each table: its file, and its columns as (name, type). The type is what
# the program infers: INTEGER, REAL, TEXT, or DATETIME, which SQLite (and the
# program's PRAGMA table_info) declare as TEXT. LTSV columns are listed in
# key order, as the program names them. The files mix formats, codecs,
# datetime families and one CSV with quoted embedded newlines, so `open`
# exercises every source path.
PQ_TABLES = {
    "customers": ("customers.csv.gz", [("id", "INTEGER"), ("name", "TEXT"), ("city", "TEXT"),
                                       ("tier", "INTEGER"), ("signup", "DATETIME")]),
    "orders": ("orders.csv", [("id", "INTEGER"), ("customer_id", "INTEGER"),
                              ("product_id", "INTEGER"), ("qty", "INTEGER"), ("price", "REAL"),
                              ("ordered_at", "DATETIME"), ("note", "TEXT")]),
    "products": ("products.tsv.bz2", [("id", "INTEGER"), ("title", "TEXT"),
                                      ("category", "TEXT"), ("weight", "REAL")]),
    "visits": ("visits.ltsv.xz", [("customer_id", "INTEGER"), ("ms", "INTEGER"),
                                  ("page", "TEXT"), ("time", "DATETIME"), ("ua", "TEXT")]),
    "stock": ("stock.csv.zst", [("product_id", "INTEGER"), ("warehouse", "INTEGER"),
                                ("on_hand", "INTEGER"), ("checked_at", "DATETIME"),
                                ("counted", "DATETIME")]),
    "reviews": ("reviews.csv", [("id", "INTEGER"), ("product_id", "INTEGER"), ("body", "TEXT"),
                                ("posted", "DATETIME")]),
    "ledger_Q1": ("ledger.xlsx", [("id", "INTEGER"), ("account", "TEXT"), ("debit", "REAL"),
                                  ("credit", "REAL"), ("booked", "DATETIME"), ("day", "DATETIME")]),
}
CITIES = [f"city{i:02d}" for i in range(20)]
PAGES = ["/", "/cart", "/search", "/item", "/help"]
PQ_CUSTOMERS = 1000
PQ_ORDERS = 6000
PQ_PRODUCTS = 300


def _sqlite_load(schema, data):
    con = sqlite3.connect(":memory:")
    for t, cols in schema.items():
        decl = ", ".join(f"{c} {'TEXT' if ty == 'DATETIME' else ty}" for c, ty in cols)
        con.execute(f"CREATE TABLE {t} ({decl})")
        con.executemany(f"INSERT INTO {t} VALUES ({', '.join('?' * len(cols))})", data[t])
    return con


def _cell(v):
    """File text of a value: None -> empty cell, floats with two decimals."""
    if v is None:
        return ""
    return f"{v:.2f}" if isinstance(v, float) else str(v)


def _write_table(d, file, cols, rows):
    """Write typed rows in the file's format; returns the bytes on disk."""
    names = [c for c, _ in cols]
    if file.endswith(".xlsx"):
        data = _xlsx_bytes("Q1", names, [list(r) for r in rows])
    elif ".ltsv" in file:
        # an empty value is an absent key: "" for text, NULL for numbers
        data = _compress(file, _ltsv_bytes(
            [[(k, _cell(v)) for k, v in zip(names, r) if v not in (None, "")] for r in rows]))
    else:
        delim = "\t" if ".tsv" in file else ","
        data = _compress(file, _csv_bytes(names, [[_cell(v) for v in r] for r in rows], delim))
    _write(os.path.join(d, file), data)
    return len(data)


def _pq_data(rng):
    def stamp(fmt):
        t = _ts(rng)
        return fmt.format(t=t, M=t.month, D=t.day, h=t.hour)
    customers = [(i, f"name{rng.randrange(10**6):06d}", rng.choice(CITIES), rng.randrange(1, 4),
                  _ts(rng).strftime("%Y-%m-%d %H:%M:%S")) for i in range(1, PQ_CUSTOMERS + 1)]
    products = [(i, f"product {i}", f"cat{rng.randrange(10)}", rng.randrange(10, 5000) / 100)
                for i in range(1, PQ_PRODUCTS + 1)]
    orders = [(i, rng.randrange(1, PQ_CUSTOMERS + 1), rng.randrange(1, PQ_PRODUCTS + 1),
               None if rng.random() < 0.05 else rng.randrange(1, 20),
               rng.randrange(100, 50000) / 100, _ts(rng).strftime("%Y-%m-%d %H:%M:%S"),
               rng.choice(WORDS) if rng.random() < 0.7 else "")
              for i in range(1, PQ_ORDERS + 1)]
    visits = [(rng.randrange(1, PQ_CUSTOMERS + 1),
               None if rng.random() < 0.03 else rng.randrange(5, 3000), rng.choice(PAGES),
               _ts(rng).strftime("%Y-%m-%dT%H:%M:%SZ"),
               rng.choice(["curl", "firefox", "chrome", "bot"]) if rng.random() < 0.8 else "")
              for _ in range(3000)]
    stock = [(rng.randrange(1, PQ_PRODUCTS + 1), rng.randrange(1, 9),
              None if rng.random() < 0.03 else rng.randrange(500),
              stamp("{M}/{D}/{t.year} {h}:{t.minute:02d}:{t.second:02d}"),
              stamp("{D}.{M}.{t.year} {t.hour:02d}:{t.minute:02d}:{t.second:02d}"))
             for _ in range(2000)]
    reviews = []
    for i in range(1, 301):
        body = " ".join(rng.choice(WORDS) for _ in range(rng.randrange(3, 12)))
        if i % 3 == 0:
            body += '\nsecond line, with "quotes"'
        reviews.append((i, rng.randrange(1, PQ_PRODUCTS + 1), body, stamp("{M}/{D}/{t.year}")))
    ledger = [(i, f"acct-{rng.randrange(200)}", rng.randrange(0, 100000) / 100,
               rng.randrange(0, 100000) / 100, _ts(rng).strftime("%Y-%m-%dT%H:%M:%S"),
               stamp("{D}.{M}.{t.year}")) for i in range(1, 501)]
    return {"customers": customers, "orders": orders, "products": products, "visits": visits,
            "stock": stock, "reviews": reviews, "ledger_Q1": ledger}


def _scan(rng, n):
    """Full-scan aggregate touching every column, so every cast runs; the
    n-th one of a stream scans the n-th table, in turn."""
    t = sorted(PQ_TABLES)[n % len(PQ_TABLES)]
    return t, ", ".join(f"count({c})" for c, _ in PQ_TABLES[t][1])


PQ_TEMPLATES = [
    # (kind, uses SqliteDialect functions, template, literal generator)
    ("lookup_customer", False,
     "SELECT id, name, city, tier FROM customers WHERE id = {0}",
     lambda r, n: (r.randrange(1, PQ_CUSTOMERS + 1),)),
    ("lookup_order", False,
     "SELECT id, customer_id, product_id, qty, price FROM orders WHERE id = {0}",
     lambda r, n: (r.randrange(1, PQ_ORDERS + 1),)),
    ("month_totals", True,
     "SELECT strftime('%Y-%m', ordered_at) AS m, count(*), total(qty) FROM orders "
     "WHERE customer_id = {0} GROUP BY strftime('%Y-%m', ordered_at)",
     lambda r, n: (r.randrange(1, PQ_CUSTOMERS + 1),)),
    ("product_revenue", True,
     "SELECT printf('%.2f', total(price * qty)), ifnull(max(note), 'none'), count(*) "
     "FROM orders WHERE product_id = {0}",
     lambda r, n: (r.randrange(1, 301),)),
    ("city_names", True,
     "SELECT city, count(*), length(group_concat(name)) FROM customers "
     "WHERE tier = {0} AND city < '{1}' GROUP BY city",
     lambda r, n: (r.randrange(1, 4), r.choice(CITIES))),
    ("join_city", True,
     "SELECT c.city, count(*), total(o.qty) FROM orders o JOIN customers c "
     "ON o.customer_id = c.id WHERE o.product_id = {0} GROUP BY c.city",
     lambda r, n: (r.randrange(1, 301),)),
    ("join_category", False,
     "SELECT p.category, count(*), sum(o.qty) FROM orders o JOIN products p "
     "ON o.product_id = p.id WHERE o.customer_id = {0} GROUP BY p.category",
     lambda r, n: (r.randrange(1, PQ_CUSTOMERS + 1),)),
    ("visits_tier", True,
     "SELECT c.tier, count(*), total(v.ms) FROM visits v JOIN customers c "
     "ON v.customer_id = c.id WHERE v.page = '{0}' GROUP BY c.tier",
     lambda r, n: (r.choice(PAGES),)),
    ("stock_level", False,
     "SELECT warehouse, count(*), sum(on_hand) FROM stock "
     "WHERE product_id BETWEEN {0} AND {0} + 20 GROUP BY warehouse",
     lambda r, n: (r.randrange(1, PQ_PRODUCTS + 1),)),
    ("page_agents", True,
     "SELECT page, count(*), ifnull(max(ua), 'none') FROM visits "
     "WHERE customer_id <= {0} GROUP BY page",
     lambda r, n: (r.randrange(1, PQ_CUSTOMERS + 1),)),
    ("scan", False, "SELECT count(*), {1} FROM {0}", _scan),
    ("pragma", False, "PRAGMA table_info({0})",
     lambda r, n: (sorted(PQ_TABLES)[n % len(PQ_TABLES)],)),
    ("master", False,
     "SELECT type, name FROM sqlite_master WHERE type = 'table' AND name >= '{0}'",
     lambda r, n: (r.choice(["a", "customers", "orders", "p"]),)),
]
# The timed stream holds PQ_CYCLES cycles of the kinds; a run times a fixed
# prefix of whole cycles (see `window` in run.py).
PQ_CYCLES = 18


def _pragma_deviation(table):
    """PRAGMA table_info as the program answers it today: notnull=1 on
    string columns, whose empty cells load as "" rather than NULL. SQLite
    reports 0 (no NOT NULL constraint). Counted as a known deviation, not as
    a pass, so the report shows it until the program changes."""
    return canon_rows((i, c, "TEXT" if ty == "DATETIME" else ty, int(ty == "TEXT"), None, 0)
                      for i, (c, ty) in enumerate(PQ_TABLES[table][1]))


def _point_queries(rng, d):
    data = _pq_data(rng)
    sizes = {t: _write_table(d, PQ_TABLES[t][0], PQ_TABLES[t][1], rows)
             for t, rows in data.items()}
    con = _sqlite_load({t: cols for t, (_, cols) in PQ_TABLES.items()}, data)
    answers, deviations = {}, {}

    def stmt(t, sql):
        kind, dia = PQ_TEMPLATES[t][:2]
        if sql not in answers:
            answers[sql] = canon_rows(con.execute(sql).fetchall())
            if kind == "pragma":
                deviations[sql] = _pragma_deviation(sql[len("PRAGMA table_info("):-1])
        return {"sql": sql, "kind": kind, "dialect": dia}

    def fresh(t, n):
        return PQ_TEMPLATES[t][2].format(*PQ_TEMPLATES[t][3](rng, n))

    # statement i is of kind i mod #kinds, so every seed runs the same mix in
    # the same order (an odd number of kinds puts the median of whole cycles
    # inside one kind's latencies). The warm-up is WINDOW's warm-up cycles
    # of texts of its own. In timed cycle r >= 1, kind t re-runs its cycle-0
    # text when t + r is odd, so a window of two or more cycles holds exact
    # repeats; the other statements vary their literals.
    k = len(PQ_TEMPLATES)
    warmup = [stmt(t, fresh(t, len(PQ_TABLES) - 1 - w))
              for w in range(WINDOW["point_queries"][2]) for t in range(k)]
    stream = []
    for r in range(PQ_CYCLES):
        for t in range(k):
            repeat = r > 0 and (t + r) % 2 == 1
            stream.append(stmt(t, stream[t]["sql"] if repeat else fresh(t, r)))
    con.close()
    return {"tables": sorted(data), "bytes": sum(sizes.values()), "cycle": k,
            "max_cycles": PQ_CYCLES, "statements": stream, "warmup": warmup, "answers": answers,
            "known_deviations": deviations}


# ------------------------------------------------------------- mutate+dump
MD_SCHEMA = {
    "accounts": [("id", "INTEGER"), ("owner", "TEXT"), ("balance", "REAL"), ("tier", "INTEGER")],
    "txns": [("id", "INTEGER"), ("account_id", "INTEGER"), ("amount", "REAL"), ("kind", "TEXT")],
    "branches": [("id", "INTEGER"), ("city", "TEXT"), ("staff", "INTEGER")],
}
# The timed stream holds MD_CYCLES cycles of steps, each from the files in a
# session of its own.
MD_CYCLES = 16
KINDS = ["deposit", "withdrawal", "fee", "refund"]


# Step kinds, in a fixed cycle so every seed runs the same mix in the same
# order: I insert values, U update, S insert-select, D delete transactions,
# A delete accounts, C BEGIN..COMMIT group, R BEGIN..ROLLBACK group. Each
# cycle starts from the files in a fresh session, so every cycle stacks the
# same depth of DML onto the tables' plans; the last session of the timed
# window is dumped. An odd number of kinds puts the median of whole cycles
# inside one kind's latencies, not between two.
MD_CYCLE = "IUSCDRA"


def _md_step(rng, i, state):
    """Step i: a list of statements (one DML, or a BEGIN..COMMIT/ROLLBACK
    group) and the read-back SELECT that follows it."""
    next_acct, next_txn = state
    kind = MD_CYCLE[i % len(MD_CYCLE)]
    if kind == "I":
        rows = []
        for _ in range(2):
            rows.append(f"({next_acct}, 'owner{rng.randrange(999)}', "
                        f"{rng.randrange(0, 500000) / 100:.2f}, {rng.randrange(1, 4)})")
            next_acct += 1
        stmts = [f"INSERT INTO accounts (id, owner, balance, tier) VALUES {', '.join(rows)}"]
    elif kind == "U":
        stmts = [f"UPDATE accounts SET balance = balance + {rng.randrange(1, 10000) / 100:.2f} "
                 f"WHERE tier = {rng.randrange(1, 4)} AND id % 13 = {rng.randrange(13)}"]
    elif kind == "S":
        lo = rng.randrange(1, 6000)
        stmts = [f"INSERT INTO txns (id, account_id, amount, kind) SELECT id + {next_txn}, "
                 f"account_id, amount * 2, 'copy' FROM txns WHERE id BETWEEN {lo} AND {lo + 4}"]
        next_txn += 10000
    elif kind == "D":
        stmts = [f"DELETE FROM txns WHERE account_id = {rng.randrange(1, 3001)} "
                 f"AND kind = '{rng.choice(KINDS + ['copy'])}'"]
    elif kind == "A":
        stmts = [f"DELETE FROM accounts WHERE id % 97 = {rng.randrange(97)} "
                 f"AND tier = {rng.randrange(1, 4)} AND balance < 100"]
    elif kind == "C":
        stmts = ["BEGIN",
                 f"INSERT INTO txns (id, account_id, amount, kind) VALUES "
                 f"({next_txn}, {rng.randrange(1, 3001)}, {rng.randrange(1, 90000) / 100:.2f}, 'refund')",
                 f"UPDATE accounts SET tier = {rng.randrange(1, 4)} WHERE id = {rng.randrange(1, 3001)}",
                 "COMMIT"]
        next_txn += 1
    else:
        stmts = ["BEGIN",
                 f"DELETE FROM accounts WHERE tier = {rng.randrange(1, 4)}",
                 f"UPDATE txns SET amount = 0 WHERE kind = '{rng.choice(KINDS)}'",
                 "ROLLBACK"]
    if i % 2 == 0:
        back = (f"SELECT count(*), total(balance), sum(tier) FROM accounts "
                f"WHERE id % 7 = {rng.randrange(7)}")
    else:
        back = (f"SELECT kind, count(*), total(amount) FROM txns "
                f"WHERE account_id % 5 = {rng.randrange(5)} GROUP BY kind")
    return stmts, back, (next_acct, next_txn)


def _md_checksums(con):
    return {t: canon_rows(con.execute(
        f"SELECT count(*), sum(id), {agg} FROM {t}").fetchall())[0]
        for t, agg in (("accounts", "total(balance)"), ("txns", "total(amount)"))}


def _mutate_dump(rng, d):
    data = {
        "accounts": [(i, f"owner{rng.randrange(999)}", rng.randrange(0, 500000) / 100,
                      rng.randrange(1, 4)) for i in range(1, 3001)],
        "txns": [(i, rng.randrange(1, 3001), rng.randrange(1, 90000) / 100, rng.choice(KINDS))
                 for i in range(1, 6001)],
        "branches": [(i, rng.choice(CITIES), rng.randrange(2, 40)) for i in range(1, 41)],
    }
    sizes = {t: _write_table(d, f"{t}.csv", MD_SCHEMA[t], rows) for t, rows in data.items()}
    # warm-up cycles of steps of their own, then the timed cycles
    warmup, steps = ([s for _ in range(n) for s in _md_steps(rng, data, len(MD_CYCLE))]
                     for n in (WINDOW["mutate_dump"][2], MD_CYCLES))
    return {"tables": sorted(data), "bytes": sum(sizes.values()), "cycle": len(MD_CYCLE),
            "max_cycles": MD_CYCLES, "steps": steps, "warmup": warmup, "xlsx_rows": len(data["branches"])}


def _md_steps(rng, data, n):
    """n steps from the tables as written: one cycle's session. Each step
    holds the reference's read-back answer and table checksums after it."""
    con = _sqlite_load(MD_SCHEMA, data)
    con.isolation_level = None  # explicit BEGIN/COMMIT/ROLLBACK as written
    steps, state = [], (100001, 1000000)
    for i in range(n):
        stmts, back, state = _md_step(rng, i, state)
        for s in stmts:
            con.execute(s)
        steps.append({"statements": stmts, "readback": back,
                      "answer": canon_rows(con.execute(back).fetchall()),
                      "state": _md_checksums(con)})
    con.close()
    return steps


# ---------------------------------------------------------- pipeline gates
def _gate_tables(rng, d):
    """documents / embeddings / events shaped like the engine's gate tables
    at their smallest scale (500 documents, 500 vectors, 1000 events), for
    the SparkEntry.queries gates a traced run replays."""
    import duckdb
    import pandas as pd
    docs = []
    for i in range(500):
        text = " ".join(rng.choice(WORDS) for _ in range(rng.randrange(8, 80)))
        docs.append((i, text, rng.choice(["en", "es", "de", "fr", "zh"]), f"src{i % 5}", len(text)))
    embs = []
    for i in range(500):
        v = [rng.gauss(0, 0.12) for _ in range(64)]
        embs.append((i, v, rng.randrange(10)))
    t = EPOCH
    events = []
    for i in range(1000):
        t += timedelta(seconds=rng.randrange(1, 600), microseconds=rng.randrange(10**6))
        events.append((i, t, rng.randrange(50), rng.choice(["click", "view", "signup", "error", "buy"]),
                       rng.randrange(100, 30000) / 100, json.dumps({"k": rng.randrange(100)})))
    frames = {
        "documents": (pd.DataFrame(docs, columns=["doc_id", "text", "lang", "source", "n_chars"]),
                      "doc_id::BIGINT AS doc_id, text, lang, source, n_chars::BIGINT AS n_chars"),
        "embeddings": (pd.DataFrame(embs, columns=["vec_id", "embedding", "label"]),
                       "vec_id::BIGINT AS vec_id, embedding::FLOAT[] AS embedding, "
                       "label::INTEGER AS label"),
        "events": (pd.DataFrame(events, columns=["event_id", "ts", "user_id", "event_type",
                                                 "value", "props"]),
                   "event_id::BIGINT AS event_id, ts::TIMESTAMP AS ts, user_id::BIGINT AS user_id, "
                   "event_type, value::DOUBLE AS value, props"),
    }
    con = duckdb.connect()
    try:
        for name, (frame, cols) in frames.items():
            con.register("src", frame)
            con.execute(f"COPY (SELECT {cols} FROM src ORDER BY 1) TO "
                        f"'{os.path.join(d, name + '.parquet')}' (FORMAT PARQUET)")
            con.unregister("src")
    finally:
        con.close()
    return {"tables": ["documents", "embeddings", "events"], "input_dir": os.path.abspath(d)}


# The timed window of each workload, in whole cycles of its operation
# kinds: (seconds a cycle took on a 4-cpu host when the benchmark was
# added; fewest cycles, so that the tail percentile has samples beyond
# it; warm-up cycles, run before the window on statements of their own).
# A run times max(fewest, round(--seconds / cycle seconds)) cycles from the
# start of the stream: a count fixed by --seconds alone, so a faster
# program times the same operations, in less time.
WINDOW = {"point_queries": (2.7, 4, 2), "mutate_dump": (2.0, 4, 3)}

WORKLOADS = {
    "point_queries": _point_queries,
    "mutate_dump": _mutate_dump,
}


def generate(workload, seed, out_dir, gates=False):
    """Write the workload's inputs under out_dir/in (and, with `gates`, the
    gate tables under out_dir/gates) and return its manifest (also written
    to out_dir/manifest.json)."""
    in_dir = os.path.join(out_dir, "in")
    shutil.rmtree(in_dir, ignore_errors=True)
    os.makedirs(in_dir)
    rng = random.Random(f"{workload}:{seed}")
    manifest = WORKLOADS[workload](rng, in_dir)
    if gates:
        gates_dir = os.path.join(out_dir, "gates")
        shutil.rmtree(gates_dir, ignore_errors=True)
        os.makedirs(gates_dir)
        manifest["gates"] = _gate_tables(random.Random(f"gates:{seed}"), gates_dir)
    manifest["cycle_s"], manifest["min_cycles"], _ = WINDOW[workload]
    manifest.update({"workload": workload, "seed": seed, "input_dir": os.path.abspath(in_dir)})
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest
