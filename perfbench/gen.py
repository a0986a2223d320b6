"""Seeded input generators for the benchmark.

Everything here is a pure function of its arguments: the same seed writes
byte-identical parquet/CSV files.

* `tables`     -- the star schema plus `events`, `documents` and
                  `embeddings`, with the column types and value domains the
                  engine's queries expect (one parquet file per table; the
                  engine registers every table of a directory as a view).
* `deliveries` -- EEA-shaped CSV deliveries plus the exact last-write-wins
                  warehouse state after each one.
"""
import datetime as dt
import hashlib
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = (["en", "zh", "de", "fr", "es"], [0.41, 0.15, 0.14, 0.15, 0.15])


def _write(path, columns):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(columns), path, compression="snappy")


def _days(rng, start, end, n):
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(out_dir, sf, seed):
    """Star schema + events + corpus tables at scale `sf` (0.1 ~ 600k
    lineitem rows, 5000 documents, 2000 embeddings)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    p = lambda t: os.path.join(out_dir, f"{t}.parquet")

    _write(p("region"), {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(p("nation"), {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(p("customer"), {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    _write(p("supplier"), {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = np.array(["large", "hot", "blue", "old", "cold", "small", "red", "new"])
    noun = np.array(["ring", "bolt", "plate", "gear", "valve", "pipe", "nut", "rod"])
    _write(p("part"), {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])[
            rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(p("orders"), {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    _write(p("lineitem"), {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 100000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li)})
    ev_ts = np.sort(np.datetime64("2024-01-01", "us") +
                    rng.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]"))
    _write(p("events"), {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, max(15, int(15_000 * sf)), n_ev).astype(np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(60.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    corpus(out_dir, max(500, int(50_000 * sf)), max(500, int(20_000 * sf)), seed)


def corpus(out_dir, n_docs, n_vecs, seed):
    """`documents` (random-word texts, 5% planted near-duplicates: an earlier
    document plus a trailing ' dup') and `embeddings` (unit 64-dim vectors)."""
    rng = np.random.default_rng([seed, 2])
    words = np.array(WORDS)
    texts = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    _write(os.path.join(out_dir, "documents.parquet"), {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS[0])[rng.choice(5, n_docs, p=LANGS[1])],
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    v = rng.standard_normal((n_vecs, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(os.path.join(out_dir, "embeddings.parquet"), {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32)})


# --- EEA deliveries ---------------------------------------------------------

TOTAL_GHG = "Total GHG emissions (ktCO2e)"
OTHER_GASES = ["CO2 emissions (ktCO2e)", "CH4 emissions (ktCO2e)", "N2O emissions (ktCO2e)"]
MEMBERS = {
    "AT": "Austria", "BE": "Belgium", "BG": "Bulgaria", "CH": "Switzerland",
    "CY": "Cyprus", "CZ": "Czech Republic", "DE": "Germany", "DK": "Denmark",
    "EE": "Estonia", "ES": "Spain", "FI": "Finland", "FR": "France",
    "GR": "Greece", "HR": "Croatia", "HU": "Hungary", "IE": "Ireland",
    "IS": "Iceland", "IT": "Italy", "LT": "Lithuania", "LU": "Luxembourg",
    "LV": "Latvia", "MT": "Malta", "NL": "Netherlands", "NO": "Norway",
    "PL": "Poland", "PT": "Portugal", "RO": "Romania", "SE": "Sweden",
    "SI": "Slovenia", "SK": "Slovakia"}
NON_MEMBERS = ["US", "TR", "UK", "RS", "UA", "EU27"]
SCENARIOS = ["WEM", "WOM", "WAM"]
CATEGORIES = [f"{s}.{c}" for s in ("1.A", "1.B", "2", "3", "4", "5")
              for c in "ABCDEFGH"][:40]
YEARS = list(range(2015, 2051))
# The six columns the pipeline projects (P1), then descriptive columns it
# drops, as the published file carries: they bring a row to ~230 bytes, the
# reference delivery's ~7 MB for 30,000 rows.
HEADER = ("CountryCode,Year,Scenario,Category,Gas,Reported Value,Notation,Country,"
          "Sector name,Category name,Projection type,Gas unit,Source,Edition,Comment\n")
SECTORS = {"1.A": "Energy", "1.B": "Energy", "2": "Industrial Processes and Product Use",
           "3": "Agriculture", "4": "Land Use, Land-Use Change and Forestry", "5": "Waste"}
CATEGORY_NAMES = {"1.A": "Fuel combustion activities", "1.B": "Fugitive emissions from fuels",
                  "2": "Industrial processes", "3": "Agriculture (livestock and soils)",
                  "4": "Land use, land-use change and forestry", "5": "Waste management"}
PROJECTION = {"WEM": "Projections with existing measures",
              "WOM": "Projections without measures",
              "WAM": "Projections with additional measures"}
SOURCE = '"Regulation (EU) 2018/1999"'
COMMENTS = ["", "", '"Recalculated after review"', '"Preliminary, subject to revision"',
            '"Includes indirect CO2"', '"Gap-filled from the previous submission"']


def padding(country, category, scenario, j):
    """The dropped columns of one row (a `,`-prefixed CSV fragment)."""
    sector = category.rsplit(".", 1)[0]
    return (f',"{MEMBERS.get(country, country)}","{SECTORS[sector]}",'
            f'"{CATEGORY_NAMES[sector]}","{PROJECTION.get(scenario, scenario)}",'
            f'"kt CO2 equivalent",{SOURCE},2023,{COMMENTS[j % len(COMMENTS)]}')


def row_hash(country, year, scenario, category, value):
    """Order-insensitive warehouse digest term for one row: md5 of the
    canonical row (the double as its IEEE-754 bits), first 8 bytes; the
    runner's `warehouseDigest` computes the same over the warehouse."""
    bits = struct.unpack("<q", struct.pack("<d", value))[0]
    s = f"{country}|{year}|{scenario}|{category}|Total GHG emissions|{bits}|kt CO2 equivalent"
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big", signed=True)


REPLAY_EVERY = 4


def deliveries(out_dir, seed, n, rows=30_000, replay_every=REPLAY_EVERY):
    """Write `n` deliveries `d{i}.csv` to `out_dir`; return, per delivery,
    the expected warehouse (rows, digest) after it lands, the rows it
    changed and its valid (upserted) rows.

    A delivery mixes fresh keys, re-delivered keys with new values, rows of
    other gases, non-member countries and rows with a null field. Every
    `replay_every`-th delivery is an exact byte copy of the previous one
    (an at-least-once redelivery), which must change 0 warehouse rows."""
    rng = np.random.default_rng([seed, 4])
    codes = list(MEMBERS)
    n_keys = len(codes) * len(YEARS) * len(SCENARIOS) * len(CATEGORIES)
    order = rng.permutation(n_keys)
    state, digest, fresh_at, out, prev = {}, 0, 0, [], None
    os.makedirs(out_dir, exist_ok=True)

    def key_fields(k):
        k, cat = divmod(int(k), len(CATEGORIES))
        k, sc = divmod(k, len(SCENARIOS))
        c, y = divmod(k, len(YEARS))
        return codes[c], YEARS[y], SCENARIOS[sc], CATEGORIES[cat]

    def signed(d):
        return d - 2**64 if d >= 2**63 else d

    for i in range(n):
        path = os.path.join(out_dir, f"d{i}.csv")
        if prev is not None and i % replay_every == replay_every - 1:
            with open(path, "w") as f:
                f.write(prev)
            out.append((len(state), signed(digest), 0, out[-1][3]))
            continue
        n_valid = int(rows * 0.75)
        n_upd = min(len(state), int(n_valid * 0.3))
        n_new = min(n_valid - n_upd, n_keys - fresh_at)
        keys = [int(k) for k in order[fresh_at:fresh_at + n_new]]
        fresh_at += n_new
        if n_upd:
            keys += [int(k) for k in rng.choice(sorted(state), n_upd, replace=False)]
        vals = np.round(rng.uniform(-5000.0, 250000.0, len(keys)), 3)
        lines, changed = [], 0
        for k, v in zip(keys, vals.tolist()):
            c, y, sc, cat = key_fields(k)
            lines.append(f'{c},{y},{sc},{cat},"{TOTAL_GHG}",{v!r},'
                         + padding(c, cat, sc, len(lines)) + "\n")
            old = state.get(k)
            if old != v:
                changed += 1
                if old is not None:
                    digest -= row_hash(MEMBERS[c], y, sc, cat, old)
                digest = (digest + row_hash(MEMBERS[c], y, sc, cat, v)) % 2**64
                state[k] = v
        for j in range(rows - len(lines)):
            c, y, sc, cat = key_fields(rng.integers(0, n_keys))
            v = round(float(rng.uniform(0, 1000)), 3)
            f = [c, str(y), sc, cat, f'"{TOTAL_GHG}"', repr(v), ""]
            if j % 3 == 0:
                f[4] = f'"{OTHER_GASES[j % len(OTHER_GASES)]}"'
            elif j % 3 == 1:
                f[0] = NON_MEMBERS[j % len(NON_MEMBERS)]
            else:  # a null in a projected column: the row must be dropped
                f[int(rng.integers(0, 6))] = ""
            lines.append(",".join(f) + padding(c, cat, sc, j) + "\n")
        prev = HEADER + "".join(lines[p] for p in rng.permutation(len(lines)))
        with open(path, "w") as f:
            f.write(prev)
        out.append((len(state), signed(digest), changed, len(keys)))
    return out
