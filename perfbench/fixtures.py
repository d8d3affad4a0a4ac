"""Seeded input fixtures for the benchmark workloads.

Every fixture is a pure function of ``(seed, size)`` and is written as
parquet under the run's work directory before any Spark session
exists, so fixture generation never warms (or pollutes) the JVM whose
set-up and cold iteration are measured. The program under test only
ever sees the files; the answers stay on the harness side.

Generators:

- :func:`tpch_tables` — region, nation, customer, supplier, part,
  orders and lineitem at a scale factor, drawn by the rules of the
  TPC-H specification (Revision 3.0.1, Clause 4.2.3, with the part
  name word list of Clause 4.2.2.13), in the column layout of the
  repository's own test tables (``FIXTURES.md``).
- :func:`topn_table` — (region, product, sales) rows for the config
  top-N job: the lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region ⋈ part
  star join of :func:`tpch_tables`, one row per line item.
- :func:`star_schema` — the tables the headline queries read: the
  TPC-H tables plus events, documents and embeddings.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

# TPC-H Clause 4.2.3: the 25 nations and the region each belongs to
NATIONS = (
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4),
    ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0),
    ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3),
    ("UNITED KINGDOM", 3), ("UNITED STATES", 1),
)

# TPC-H Clause 4.2.2.13: P_NAME is five distinct words of this list
_P_NAME_WORDS = (
    "almond antique aquamarine azure beige bisque black blanched blue "
    "blush brown burlywood burnished chartreuse chiffon chocolate coral "
    "cornflower cornsilk cream cyan dark deep dim dodger drab firebrick "
    "floral forest frosted gainsboro ghost goldenrod green grey honeydew "
    "hot indian ivory khaki lace lavender lawn lemon light lime linen "
    "magenta maroon medium metallic midnight mint misty moccasin navajo "
    "navy olive orange orchid pale papaya peach peru pink plum powder "
    "puff purple red rose rosy royal saddle salmon sandy seashell sienna "
    "sky slate smoke snow spring steel tan thistle tomato turquoise "
    "violet wheat white yellow"
).split()
_P_TYPE = (
    ("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"),
    ("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED"),
    ("TIN", "NICKEL", "BRASS", "STEEL", "COPPER"),
)
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_DAY = np.timedelta64(86_400_000_000, "us")
_START = np.datetime64("1992-01-01", "us")
_END = np.datetime64("1998-12-31", "us")
_CURRENT = np.datetime64("1995-06-17", "us")


def _write(table: pa.Table, path: str, files: int = 1) -> None:
    """Write ``table`` as ``files`` parquet files under directory
    ``path`` (one file when ``files == 1`` and ``path`` ends in
    ``.parquet``)."""
    if path.endswith(".parquet"):
        pq.write_table(table, path)
        return
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet")
        )


def fixture_hash(path: str) -> str:
    """sha256 over every file under ``path`` (names and bytes, in
    sorted order) — the identity of a generated fixture."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            full = os.path.join(root, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The seven TPC-H tables at scale factor ``sf``.

    Cardinalities, key ranges and value rules follow Clause 4.2.3:
    nations uniform over the 25 (five per region), O_CUSTKEY never a
    multiple of 3, 1–7 line items per order, L_EXTENDEDPRICE =
    L_QUANTITY × P_RETAILPRICE with P_RETAILPRICE = (90000 +
    ((P_PARTKEY/10) mod 20001) + 100 × (P_PARTKEY mod 1000)) / 100,
    L_SUPPKEY from the part's four suppliers, the ship/receipt dates
    and the return flag and line status they imply. Monetary values
    are exact in cents. Comment columns are left out."""
    rng = np.random.default_rng(seed)
    n_part, n_supp = int(sf * 200_000), max(int(sf * 10_000), 4)
    n_cust, n_ord = int(sf * 150_000), int(sf * 1_500_000)

    def money(lo: int, hi: int, n: int) -> np.ndarray:  # cents, inclusive
        return rng.integers(lo, hi + 1, n) / 100.0

    pk = np.arange(1, n_part + 1, dtype=np.int64)
    retail_cents = 90_000 + (pk // 10) % 20_001 + 100 * (pk % 1000)
    words = np.array(_P_NAME_WORDS, dtype=object)
    picks = rng.random((n_part, len(words))).argsort(axis=1)[:, :5]
    p_name = [" ".join(r) for r in words[picks]]
    types = [np.array(s, dtype=object)[rng.integers(0, len(s), n_part)] for s in _P_TYPE]
    part = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array(p_name),
        "p_brand": pa.array([f"Brand#{m}{n}" for m, n in rng.integers(1, 6, (n_part, 2))]),
        "p_type": pa.array(types[0] + " " + types[1] + " " + types[2]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(retail_cents / 100.0),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(1, n_supp + 1, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(1, n_supp + 1)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(money(-99_999, 999_999, n_supp)),
    })
    c_nation = rng.integers(0, 25, n_cust).astype(np.int32)
    customer = pa.table({
        "c_custkey": pa.array(np.arange(1, n_cust + 1, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, n_cust + 1)]),
        "c_nationkey": pa.array(c_nation),
        "c_acctbal": pa.array(money(-99_999, 999_999, n_cust)),
        "c_mktsegment": pa.array(np.array(_SEGMENTS, dtype=object)[rng.integers(0, 5, n_cust)]),
    })

    # orders: sparse keys (the first 8 of every 32), customers not ≡ 0 mod 3
    i_ord = np.arange(n_ord, dtype=np.int64)
    okey = (i_ord // 8) * 32 + i_ord % 8 + 1
    ckeys = np.arange(1, n_cust + 1, dtype=np.int64)
    ckeys = ckeys[ckeys % 3 != 0]
    o_cust = ckeys[rng.integers(0, len(ckeys), n_ord)]
    span_days = int((_END - 151 * _DAY - _START) // _DAY)
    o_date = _START + rng.integers(0, span_days + 1, n_ord) * _DAY

    # lineitem: 1..7 rows per order
    per = rng.integers(1, 8, n_ord)
    li_ord = np.repeat(i_ord, per)
    n_li = len(li_ord)
    first = np.cumsum(per) - per
    l_pk = rng.integers(1, n_part + 1, n_li)
    supp_i = rng.integers(0, 4, n_li)
    l_sk = (l_pk + supp_i * (n_supp // 4 + (l_pk - 1) // n_supp)) % n_supp + 1
    qty = rng.integers(1, 51, n_li)
    ext_cents = qty * retail_cents[l_pk - 1]
    disc = rng.integers(0, 11, n_li)
    tax = rng.integers(0, 9, n_li)
    ship = o_date[li_ord] + rng.integers(1, 122, n_li) * _DAY
    receipt = ship + rng.integers(1, 31, n_li) * _DAY
    flag = np.where(
        receipt <= _CURRENT, np.where(rng.random(n_li) < 0.5, "R", "A"), "N"
    ).astype(object)
    shipped = ship <= _CURRENT
    lineitem = pa.table({
        "l_orderkey": pa.array(okey[li_ord]),
        "l_partkey": pa.array(l_pk),
        "l_suppkey": pa.array(l_sk),
        "l_linenumber": pa.array((np.arange(n_li) - first[li_ord] + 1).astype(np.int32)),
        "l_quantity": pa.array(qty.astype(np.float64)),
        "l_extendedprice": pa.array(ext_cents / 100.0),
        "l_discount": pa.array(disc / 100.0),
        "l_tax": pa.array(tax / 100.0),
        "l_returnflag": pa.array(flag),
        "l_linestatus": pa.array(np.where(shipped, "F", "O").astype(object)),
        "l_shipdate": pa.array(ship),
    })

    # O_ORDERSTATUS and O_TOTALPRICE follow from the order's line items
    n_shipped = np.add.reduceat(shipped.astype(np.int64), first)
    status = np.where(n_shipped == per, "F", np.where(n_shipped == 0, "O", "P"))
    total = np.add.reduceat(ext_cents * (100 + tax) * (100 - disc), first)
    orders = pa.table({
        "o_orderkey": pa.array(okey),
        "o_custkey": pa.array(o_cust),
        "o_orderstatus": pa.array(status.astype(object)),
        "o_totalprice": pa.array(np.round(total / 10_000) / 100.0),
        "o_orderdate": pa.array(o_date),
        "o_orderpriority": pa.array(np.array(_PRIORITIES, dtype=object)[rng.integers(0, 5, n_ord)]),
    })
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(list(REGIONS)),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([n for n, _ in NATIONS]),
        "n_regionkey": pa.array(np.array([r for _, r in NATIONS], dtype=np.int32)),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders, "lineitem": lineitem,
    }


def topn_table(path: str, seed: int, sf: float, files: int = 4) -> int:
    """(region, product, sales) input for the top-N job: one row per
    TPC-H line item at scale factor ``sf``, with the region of the
    ordering customer's nation, the part name as the product and
    L_EXTENDEDPRICE as the sales. Regions are near equal in size, as
    customer nations are uniform. Returns the row count."""
    t = tpch_tables(seed, sf)
    li, orders = t["lineitem"], t["orders"]
    # order keys are sparse: map each line item to its order's row
    okey = orders.column("o_orderkey").to_numpy()
    o_row = np.searchsorted(okey, li.column("l_orderkey").to_numpy())
    cust = orders.column("o_custkey").to_numpy()[o_row]
    nation = t["customer"].column("c_nationkey").to_numpy()[cust - 1]
    region_of = np.array([r for _, r in NATIONS])[nation]
    product = np.array(t["part"].column("p_name").to_pylist(), dtype=object)
    table = pa.table({
        "region": pa.array(np.array(REGIONS, dtype=object)[region_of]),
        "product": pa.array(product[li.column("l_partkey").to_numpy() - 1]),
        "sales": li.column("l_extendedprice"),
    })
    _write(table, path, files)
    return table.num_rows


_WORDS = (
    "the a data row key value table scan join merge sort hash filter "
    "window batch stream fast slow big small group query line part "
    "order customer agg spark column vector"
).split()


def star_schema(out_dir: str, seed: int, sf: float) -> int:
    """The tables the headline queries read, one parquet file each:
    the TPC-H tables of :func:`tpch_tables` plus three tables outside
    TPC-H, sized from the line item count — events (a 30-day click
    stream with a JSON ``props`` column), documents (word soup with
    planted near-duplicates) and 64-d unit embeddings. Returns the
    line item count."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def w(name: str, table: pa.Table) -> None:
        _write(table, os.path.join(out_dir, f"{name}.parquet"))

    for name, table in tpch_tables(seed, sf).items():
        w(name, table)
        if name == "lineitem":
            n_li = table.num_rows
    n_ev = max(n_li // 6, 10)
    n_doc = max(n_li // 120, 50)
    n_emb = max(n_li // 120, 50)

    ev_base = np.datetime64("2024-01-01T00:00:00", "us")
    ev_ts = np.sort(ev_base + rng.integers(0, 30 * 86_400_000_000, n_ev) * np.timedelta64(1, "us"))
    etypes = np.array(["signup", "click", "error", "view", "purchase"], dtype=object)
    w("events", pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ev_ts),
        "user_id": pa.array(rng.integers(0, max(n_ev // 66, 5), n_ev).astype(np.int64)),
        "event_type": pa.array(etypes[rng.integers(0, 5, n_ev)]),
        "value": pa.array(rng.integers(1, 50_000, n_ev) / 100.0),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }))
    words = np.array(_WORDS, dtype=object)
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.05:
            # planted near-duplicate: an earlier doc with one word swapped
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = str(words[rng.integers(0, len(words))])
        else:
            toks = list(words[rng.integers(0, len(words), int(rng.integers(8, 90)))])
        texts.append(" ".join(toks))
    langs = np.array(["en", "en", "en", "es", "zh", "de", "fr"], dtype=object)
    w("documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs[rng.integers(0, len(langs), n_doc)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }))
    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    w("embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
    }))
    return n_li
