"""Seeded fixture generator for the benchmark.

Everything the benchmark feeds the library is made here from one seed:

* ``tables/<name>.parquet`` -- ``customer``, ``orders``, ``lineitem`` and
  ``documents`` in the column layout the hot gate queries
  (``graft.SparkEntry.queries``) and their DuckDB oracles read;
* ``canvas/<table>/<file>.gz`` -- Canvas-style gzip TSV extracts
  (LazySimpleSerDe conventions: tab separated, ``\\N`` for NULL, no
  quoting), derived from the same generators;
* ``schema.json`` -- the CD schema of those extracts;
* ``days.json`` -- the daily manifests (``path`` is relative to the
  fixture directory), the forget requests, and the sync diff each day must
  produce;
* ``truth.json`` -- row counts, id sums, rollup sums and forgotten keys of
  the warehouse after the last day;
* ``reads.json`` -- the seeded analyst read mix with the checksum each read
  must return.

The day plan has a fixed shape (the seed changes the content, not the
amount of work), so timings from different seeds are comparable.
"""
import gzip
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = "14"

# Each day: (kind, new files per appendable table, forget after the sync).
# "noop" repeats the previous manifest exactly; the delivery after a
# forget re-delivers the forgotten rows under a new file name. Three
# delivery days of the same size, so costs that grow with the warehouse's
# age show a trend.
DAY_PLAN = [("init", 1, True), ("append", 1, False), ("noop", 0, False),
            ("append", 1, False)]

# The analyst read mix: every block of BLOCK reads holds these kinds (in a
# seeded order), so runs with different seeds time the same mix. The
# slowest kinds (neardup, point) make up less than a tenth of the reads
# and range reads more than a tenth, so the p90 of read latency lies
# inside the range reads rather than on the edge between two kinds.
BLOCK_MIX = dict(sql_range=27, range=6, point=2, rollup=4, profile=4,
                 view=5, neardup=1, raw_scan=1)
BLOCK = sum(BLOCK_MIX.values())
APPEND_TABLES = ("requests", "fact", "docs")

WORDS = ["the", "fast", "key", "order", "sort", "table", "scan", "merge",
         "part", "window", "small", "hash", "join", "batch", "stream",
         "spark", "group", "query", "row", "data", "slow", "filter",
         "customer", "line", "value", "agg", "column", "big", "vector", "a"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "es", "fr"]

# rows per gate table (the sf0.001 shape); part and supplier are key ranges
OP_ROWS = dict(customer=150, orders=1500, lineitem=6000, documents=500,
               part=200, supplier=10)


def _scale(name):
    """Warehouse sizes per scale: rows per delivered file."""
    if name == "smoke":
        return dict(requests=200, fact=60, docs=12, customers=40,
                    new_customers=5, read_blocks=2)
    return dict(requests=2000, fact=500, docs=40, customers=300,
                new_customers=20, read_blocks=8)


def _ts(days_from, start, n, rng, unit):
    base = np.datetime64(start, unit)
    span = np.timedelta64(days_from, "D").astype(f"timedelta64[{unit}]")
    off = rng.integers(0, span.astype(np.int64), n)
    return base + off.astype(f"timedelta64[{unit}]")


def _midnights(rng, n, start="1995-01-01", days=2404):
    return (np.datetime64(start, "D") +
            rng.integers(0, days, n).astype("timedelta64[D]")
            ).astype("datetime64[ms]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _doc_texts(rng, n, vocab):
    lens = rng.integers(20, 80, n)
    return [" ".join(vocab[i] for i in rng.integers(0, len(vocab), k))
            for k in lens]


def gate_tables(rng):
    """The tables the hot gate queries read, as pyarrow tables."""
    r = OP_ROWS
    c, o, p, s = r["customer"], r["orders"], r["part"], r["supplier"]
    out = {}
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, c)]})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, 1000, 500000, o),
        "o_orderdate": pa.array(_midnights(rng, o), pa.timestamp("ms")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, o)]})
    n = r["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n)],
        "l_shipdate": pa.array(_midnights(rng, n, "1995-01-02"),
                               pa.timestamp("ms"))})
    n = r["documents"]
    texts = _doc_texts(rng, n, WORDS)
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n, p=[.4, .15, .15, .15, .15])],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    return out


SCHEMA = [
    {"tableName": "requests", "description": "Web requests (from events)",
     "columns": [
         {"name": "id", "type": "bigint"},
         {"name": "ts", "type": "datetime"},
         {"name": "user_id", "type": "bigint"},
         {"name": "event_type", "type": "varchar", "length": 32},
         {"name": "value", "type": "double precision"},
         {"name": "props", "type": "text"}]},
    {"tableName": "fact", "description": "Orders fact (from orders)",
     "columns": [
         {"name": "id", "type": "bigint"},
         {"name": "customer_id", "type": "bigint"},
         {"name": "status", "type": "enum"},
         {"name": "total_price", "type": "double precision"},
         {"name": "ordered_at", "type": "datetime"},
         {"name": "priority", "type": "varchar", "length": 20},
         {"name": "quantity", "type": "integer"}]},
    {"tableName": "dim", "description": "Customer dimension (from customer)",
     "columns": [
         {"name": "customer_id", "type": "bigint"},
         {"name": "name", "type": "varchar", "length": 32},
         {"name": "nation_id", "type": "integer"},
         {"name": "balance", "type": "double precision"},
         {"name": "segment", "type": "enum"}]},
    {"tableName": "docs", "description": "Documents (from documents)",
     "columns": [
         {"name": "doc_id", "type": "bigint"},
         {"name": "text", "type": "text"},
         {"name": "lang", "type": "varchar", "length": 4},
         {"name": "source", "type": "varchar", "length": 16}]},
]


def _tsv_cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def _write_tsv(path, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    body = "".join("\t".join(_tsv_cell(v) for v in r) + "\n" for r in rows)
    # mtime=0 keeps the bytes a pure function of the seed
    with open(path, "wb") as f, \
            gzip.GzipFile(fileobj=f, mode="wb", mtime=0) as g:
        g.write(body.encode("utf-8"))


class _Canvas:
    """Row generators for the Canvas extracts; ids grow across days."""

    def __init__(self, rng, sizes):
        self.rng = rng
        self.sz = sizes
        self.next_id = {t: 0 for t in APPEND_TABLES}
        self.customers = sizes["customers"]
        # a large vocabulary keeps unrelated documents far apart, so the
        # near-duplicates the MinHash index reports are exactly the
        # planted copies
        self.vocab = [f"w{i:04d}" for i in range(4000)]

    def _ids(self, table, n):
        lo = self.next_id[table]
        self.next_id[table] += n
        return list(range(lo, lo + n))

    def requests(self, day):
        rng, n = self.rng, self.sz["requests"]
        ids = self._ids("requests", n)
        ts = np.sort(_ts(3, str(np.datetime64("2024-01-01") +
                                np.timedelta64(3 * day, "D")), n, rng, "s"))
        users = rng.integers(0, self.customers, n)
        kinds = rng.integers(0, 5, n)
        vals = _money(rng, 0, 200, n)
        props = rng.integers(0, 100, n)
        rows = []
        for i in range(n):
            rows.append([ids[i], str(ts[i]).replace("T", " "), int(users[i]),
                         EVENT_TYPES[kinds[i]], float(vals[i]),
                         None if props[i] < 2 else f'{{"k": {props[i]}}}'])
        return rows

    def fact(self, day):
        rng, n = self.rng, self.sz["fact"]
        ids = self._ids("fact", n)
        cust = rng.integers(0, self.customers, n)
        status = rng.integers(0, 3, n)
        price = _money(rng, 1000, 500000, n)
        when = _midnights(rng, n, "2023-06-01", 200)
        prio = rng.integers(0, 6, n)
        qty = rng.integers(1, 51, n)
        return [[ids[i], int(cust[i]), ["F", "O", "P"][status[i]],
                 float(price[i]), str(when[i])[:10] + " 00:00:00",
                 None if prio[i] == 5 else PRIORITIES[prio[i]], int(qty[i])]
                for i in range(n)]

    def docs(self, day):
        rng, n = self.rng, self.sz["docs"]
        ids = self._ids("docs", n)
        texts = _doc_texts(rng, n, self.vocab)
        langs = rng.integers(0, 5, n)
        return [[ids[i], texts[i], LANGS[langs[i]], f"src{ids[i] % 20}"]
                for i in range(n)]

    def dim(self, day):
        rng = self.rng
        self.customers += self.sz["new_customers"] if day else 0
        n = self.customers
        nat = rng.integers(0, 25, n)
        bal = _money(rng, -999.99, 9999.99, n)
        seg = rng.integers(0, 5, n)
        return [[i, f"Customer#{i:09d}", int(nat[i]), float(bal[i]),
                 SEGMENTS[seg[i]]] for i in range(n)]


def _sum(rows, col=0):
    return int(sum(r[col] for r in rows))


def warehouse_fixtures(rng, out, sizes):
    """Write the Canvas extracts, day manifests and ground truth."""
    gen = _Canvas(rng, sizes)
    delivered = {t: [] for t in APPEND_TABLES}  # every row ever delivered
    manifest = []   # current manifest: list of entry dicts
    days = []
    forgotten = []
    redeliver = []
    dim_rows = []
    for day, (kind, nfiles, forget) in enumerate(DAY_PLAN):
        prev = list(manifest)
        forgets = []
        if kind != "noop":
            for t in APPEND_TABLES:
                for k in range(nfiles):
                    rows = getattr(gen, t)(day)
                    if t == "docs" and k == 0 and redeliver:
                        # the upstream re-delivers forgotten documents
                        rows = rows + redeliver
                        redeliver = []
                    name = f"{t}-d{day}-{k}.gz"
                    _write_tsv(os.path.join(out, "canvas", t, name), rows)
                    delivered[t] += rows
                    manifest.append(dict(table=t, filename=name,
                                         path=f"canvas/{t}/{name}"))
            dim_rows = gen.dim(day)
            name = f"dim-d{day}.gz"
            _write_tsv(os.path.join(out, "canvas", "dim", name), dim_rows)
            manifest = [e for e in manifest if e["table"] != "dim"]
            manifest.append(dict(table="dim", filename=name,
                                 path=f"canvas/dim/{name}"))
        if forget:
            live = [r for r in delivered["docs"] if r[0] not in forgotten]
            picks = rng.choice(len(live), 3, replace=False)
            keys = sorted(int(live[i][0]) for i in picks)
            forgets.append(dict(table="docs", column="doc_id", keys=keys))
            forgotten += keys
            redeliver += [list(live[i]) for i in picks]
        before = {(e["table"], e["filename"]) for e in prev}
        after = {(e["table"], e["filename"]) for e in manifest}
        days.append(dict(
            kind=kind, manifest=list(manifest), forgets=forgets,
            expect=dict(total=len(after), fetched=len(after - before),
                        skipped=len(after & before),
                        removed=len(before - after), failed=0)))

    fset = set(forgotten)
    final = {t: {r[0]: r for r in delivered[t]} for t in APPEND_TABLES}
    docs = [r for k, r in final["docs"].items() if k not in fset]
    fact = list(final["fact"].values())
    reqs = list(final["requests"].values())
    by_status = {}
    for r in fact:
        n, cents, qty = by_status.get(r[2], (0, 0, 0))
        by_status[r[2]] = (n + 1, cents + round(r[3] * 100), qty + r[6])
    truth = dict(
        tables=dict(
            requests=dict(rows=len(reqs), id_sum=_sum(reqs)),
            fact=dict(rows=len(fact), id_sum=_sum(fact)),
            dim=dict(rows=len(dim_rows), id_sum=_sum(dim_rows)),
            docs=dict(rows=len(docs), id_sum=_sum(docs))),
        rollup={k: dict(n=v[0], total_price_cents=v[1], quantity=v[2])
                for k, v in sorted(by_status.items())},
        forgotten=sorted(fset),
        forgotten_texts=[final["docs"][k][1] for k in sorted(fset)])
    with open(os.path.join(out, "schema.json"), "w") as f:
        json.dump(SCHEMA, f, indent=1)
    with open(os.path.join(out, "days.json"), "w") as f:
        json.dump(days, f, indent=1)
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1)
    return reqs, fact, docs, dim_rows


def read_mix(rng, out, blocks, reqs, fact, docs):
    """The analyst read mix, each read with its expected checksum."""
    req_day = np.array([int(r[1][8:10]) for r in reqs])  # 2024-01-DD
    req_id = np.array([r[0] for r in reqs], dtype=np.int64)
    req_user = np.array([r[2] for r in reqs], dtype=np.int64)
    req_type = np.array([r[3] for r in reqs])
    fact_id = np.array(sorted(r[0] for r in fact), dtype=np.int64)
    fact_cust = {r[0]: r[1] for r in fact}
    doc_by_id = {r[0]: r for r in docs}
    doc_ids = sorted(doc_by_id)
    block = [k for k, n in BLOCK_MIX.items() for _ in range(n)]
    kinds = [k for _ in range(blocks) for k in rng.permutation(block)]
    reads = []
    for kind in kinds:
        if kind == "sql_range":
            lo = int(rng.integers(1, 3 * len(DAY_PLAN) - 1))
            hi = lo + int(rng.integers(0, 4))
            et = EVENT_TYPES[rng.integers(0, 5)]
            m = (req_day >= lo) & (req_day <= hi) & (req_type == et)
            reads.append(dict(kind=kind, lo=f"2024-01-{lo:02d}",
                              hi=f"2024-01-{hi:02d}", event_type=et,
                              expect=[int(m.sum()), int(req_id[m].sum()),
                                      int(req_user[m].sum())]))
        elif kind == "range":
            lo = int(rng.integers(0, len(fact_id) - 100))
            hi = lo + 99
            m = (fact_id >= lo) & (fact_id <= hi)
            reads.append(dict(kind=kind, lo=lo, hi=hi,
                              expect=[int(m.sum()), int(fact_id[m].sum())]))
        elif kind == "point":
            keys = [int(k) for k in rng.integers(0, len(fact_id) + 50, 5)]
            hit = [k for k in set(keys) if k in fact_cust]
            reads.append(dict(kind=kind, keys=keys,
                              expect=[len(hit), int(sum(hit))]))
        elif kind == "neardup":
            picks = [doc_ids[j] for j in
                     rng.choice(len(doc_ids), 3, replace=False)]
            probe = [[10**9 + k, doc_by_id[k][1]] for k in picks]
            reads.append(dict(kind=kind, probe=probe,
                              expect=[3, int(sum(picks)),
                                      int(sum(p[0] for p in probe))]))
        else:
            reads.append(dict(kind=kind))
    # reads without parameters check against whole-table truth
    fixed = dict(
        rollup=[len(fact), int(round(sum(r[3] for r in fact) * 100)),
                int(sum(r[6] for r in fact))],
        profile=[len(fact), int(fact_id.min()), int(fact_id.max())],
        view=[len(fact), int(fact_id.sum()),
              int(sum(fact_cust.values()))],
        raw_scan=[len(reqs), int(req_id.sum())])
    for r in reads:
        if r["kind"] in fixed:
            r["expect"] = fixed[r["kind"]]
    with open(os.path.join(out, "reads.json"), "w") as f:
        json.dump(dict(block=BLOCK, reads=reads), f)


def generate(seed, out, scale="bench"):
    """Build every fixture for ``seed`` under ``out`` (idempotent)."""
    marker = os.path.join(out, f".complete-{VERSION}")
    if os.path.exists(marker):
        return out
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    tdir = os.path.join(out, "tables")
    os.makedirs(tdir, exist_ok=True)
    for name, tbl in gate_tables(rng).items():
        pq.write_table(tbl, os.path.join(tdir, f"{name}.parquet"))
    sizes = _scale(scale)
    rng = np.random.default_rng([seed, 2])
    reqs, fact, docs, _ = warehouse_fixtures(rng, out, sizes)
    read_mix(np.random.default_rng([seed, 3]), out, sizes["read_blocks"],
             reqs, fact, docs)
    open(marker, "w").close()
    return out

