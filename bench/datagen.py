"""Seeded synthetic input tables for the benchmark.

The tables have the schemas and the physical layout of the library's test
tables (FIXTURES.md): one parquet file per table, `<name>.parquet`, written
by pyarrow with microsecond timestamps and no time zone. Sizes follow the
scale factor the way the test tables do: customer = 150k * sf,
orders = 1.5M * sf with 1-7 lines each, events = 1M * sf, with small floors
so that tiny scale factors still give every operator some work. The same
seed and scale factor always give the same files.
"""
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HISTORY_START = np.datetime64("1995-01-01", "D")
HISTORY_DAYS = 2400
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "s")


class Sizes:
    def __init__(self, sf):
        def n(base, floor):
            return max(floor, int(round(base * sf)))
        self.customers = n(150000, 150)
        self.suppliers = n(10000, 10)
        self.parts = n(200000, 200)
        self.orders = n(1500000, 1500)
        self.event_users = n(15000, 15)
        self.events = n(1000000, 1000)
        self.embeddings = n(20000, 500)


def _money(x):
    return np.round(x, 2)


def _pick(rng, values, n):
    return np.array(values, dtype=object)[rng.integers(0, len(values), n)]


def _ts(days):
    return (HISTORY_START + days.astype("timedelta64[D]")).astype("datetime64[us]")


def region(rng, z):
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})


def nation(rng, z):
    k = np.arange(25)
    return pa.table({"n_nationkey": pa.array(k, pa.int32()),
                     "n_name": [f"NATION_{i}" for i in k],
                     "n_regionkey": pa.array(k % 5, pa.int32())})


def customer(rng, z):
    n = z.customers
    return pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng.uniform(-999.99, 9999.99, n)),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n)})


def part(rng, z):
    n = z.parts
    names = [f"{a} {b}" for a, b in zip(
        _pick(rng, ["small", "red", "blue", "large", "green", "steel"], n),
        _pick(rng, ["ring", "widget", "bolt", "gear", "panel", "valve"], n))]
    return pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": _pick(rng, ["ECONOMY", "SMALL", "PROMO", "MEDIUM", "LARGE", "STANDARD"], n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": _money(900.0 + (np.arange(n) % 1000) * 0.1)})


def _order_days(z, seed):
    return np.random.default_rng([seed, 32]).integers(0, HISTORY_DAYS, z.orders)


def orders(rng, z, seed):
    n = z.orders
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, z.customers, n).astype(np.int64),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n),
        "o_totalprice": _money(rng.uniform(1000, 501000, n)),
        "o_orderdate": _ts(_order_days(z, seed)),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)})


def lineitem(rng, z, seed):
    lines = rng.integers(1, 8, z.orders)
    okey = np.repeat(np.arange(z.orders, dtype=np.int64), lines)
    n = len(okey)
    lineno = np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    ship = _order_days(z, seed)[okey] + rng.integers(1, 121, n)
    return pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, z.parts, n).astype(np.int64),
        "l_suppkey": rng.integers(0, z.suppliers, n).astype(np.int64),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng.uniform(900, 90900, n)),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["O", "F"], n),
        "l_shipdate": _ts(ship)})


def events(rng, z):
    n = z.events
    secs = (np.arange(n) * (30 * 86400) // n) + rng.integers(0, 60, n)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": (EVENTS_START + secs.astype("timedelta64[s]")).astype("datetime64[us]"),
        "user_id": rng.integers(0, z.event_users, n).astype(np.int64),
        "event_type": _pick(rng, ["click", "signup", "error", "view", "purchase"], n),
        "value": _money(rng.uniform(0, 20, n)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def embeddings(rng, z):
    """64-d unit vectors around ten label centres."""
    n, dim = z.embeddings, 64
    centres = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, n)
    v = centres[labels] * 0.7 + rng.normal(size=(n, dim)) * 0.5
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


KRX_HEADERS = ["회사명", "종목코드", "상장일", "상장폐지일", "시장구분"]


def _fmt_dates(rng, days):
    """Dates as crawled strings in one of three formats; NaN -> ""."""
    out = []
    for d, k in zip(days, rng.integers(0, 3, len(days))):
        if np.isnan(d):
            out.append("")
            continue
        s = str(np.datetime64("1970-01-01", "D") + int(d))
        out.append(s.replace("-", ".") if k == 0 else s if k == 1 else s.replace("-", ""))
    return out


def daily(out_dir, seed, days, cutoff, dirty_share=0.08, recrawl_share=0.05):
    """Crawl drops and price rows for the daily batch, from customer and
    orders: customer is the listing master (listed on its first order day;
    15% delist the day after their last one) and orders the price fact.

    drops.parquet: all-string rows under the crawler's Korean headers plus
    `_day` (0 = the backfill snapshot as of the cutoff, i = cutoff + i days:
    that day's listings and delistings and a re-crawled sample of active
    listings), with a share of dirty rows (prefixed, short or non-numeric
    codes, empty names, pre-1990 listing dates).
    prices.parquet: one row per (symbol, trade day) up to the last replayed
    day, `_day` 0 for the history up to the cutoff.
    daily.tsv: per `_day`, its date, drop rows and price rows.
    """
    rng = np.random.default_rng([seed, 99])
    o = pq.read_table(os.path.join(out_dir, "orders.parquet"))
    c = pq.read_table(os.path.join(out_dir, "customer.parquet"))
    epoch = np.datetime64("1970-01-01", "D")
    cut = int((np.datetime64(cutoff, "D") - epoch).astype(int))
    ck = o["o_custkey"].to_numpy()
    od = o["o_orderdate"].to_numpy().astype("datetime64[D]").astype(np.int64)
    price = o["o_totalprice"].to_numpy()
    okey = o["o_orderkey"].to_numpy()
    n = c.num_rows
    first = np.full(n, np.inf)
    last = np.full(n, -np.inf)
    np.minimum.at(first, ck, od)
    np.maximum.at(last, ck, od)
    listed_keys = np.flatnonzero(np.isfinite(first))
    delist = np.where(rng.random(n) < 0.15, last + 1, np.nan)
    market = _pick(rng, ["KOSPI", "KOSDAQ", "KONEX"], n)
    names = c["c_name"].to_numpy(zero_copy_only=False)

    rows, row_day = [], []
    for day in range(days + 1):
        on = cut + day
        f, dl = first[listed_keys], delist[listed_keys]
        listed = f <= on
        delisted = ~np.isnan(dl) & (dl <= on)
        if day == 0:
            keep = listed
        else:
            recrawl = rng.random(len(listed_keys)) < recrawl_share
            keep = (f == on) | (dl == on) | (listed & ~delisted & recrawl)
        k = listed_keys[keep]
        rows.append(k)
        row_day.append(np.full(len(k), day))
    keys = np.concatenate(rows)
    dayv = np.concatenate(row_day)
    on = cut + dayv
    symbol = np.array([f"{k:06d}" for k in keys], dtype=object)
    name = names[keys].astype(object)
    listing = _fmt_dates(rng, first[keys])
    shown = np.where(~np.isnan(delist[keys]) & (delist[keys] <= on), delist[keys], np.nan)
    delisting = _fmt_dates(rng, shown)
    dirty = rng.random(len(keys)) < dirty_share
    kind = rng.integers(0, 5, len(keys))
    for i in np.flatnonzero(dirty):
        if kind[i] == 0:
            symbol[i] = "A" + symbol[i]
        elif kind[i] == 1:
            symbol[i] = symbol[i][1:]
        elif kind[i] == 2:
            name[i] = ""
        elif kind[i] == 3:
            listing[i] = "1985.03.01"
        else:
            symbol[i] = "ABCDEF"
    pq.write_table(pa.table({
        KRX_HEADERS[0]: pa.array(name, pa.string()),
        KRX_HEADERS[1]: pa.array(symbol, pa.string()),
        KRX_HEADERS[2]: pa.array(listing, pa.string()),
        KRX_HEADERS[3]: pa.array(delisting, pa.string()),
        KRX_HEADERS[4]: pa.array(market[keys], pa.string()),
        "_day": pa.array(dayv, pa.int32())}), os.path.join(out_dir, "drops.parquet"))

    sel = od <= cut + days
    order = np.lexsort((okey[sel], od[sel], ck[sel]))
    gk, gd, gp = ck[sel][order], od[sel][order], price[sel][order]
    starts = np.flatnonzero(np.r_[True, (gk[1:] != gk[:-1]) | (gd[1:] != gd[:-1])])
    ends = np.r_[starts[1:], len(gk)]
    counts = ends - starts
    amount = np.round(np.add.reduceat(gp, starts)).astype(np.int64)
    day_of = np.maximum(gd[starts] - cut, 0)
    stamp = ((epoch + (cut + day_of).astype("timedelta64[D]")).astype("datetime64[us]")
             + np.timedelta64(18, "h"))
    with open(os.path.join(out_dir, "daily.tsv"), "w") as fh:
        for day in range(days + 1):
            fh.write(f"{day}\t{epoch + cut + day}\t{int((dayv == day).sum())}\t"
                     f"{int((day_of == day).sum())}\n")
    pq.write_table(pa.table({
        "symbol": pa.array([f"{k:06d}" for k in gk[starts]], pa.string()),
        "trade_date": pa.array((epoch + gd[starts].astype("timedelta64[D]")), pa.date32()),
        "open_price": gp[starts],
        "high_price": np.maximum.reduceat(gp, starts),
        "low_price": np.minimum.reduceat(gp, starts),
        "close_price": gp[ends - 1],
        "volume": (counts * 1000).astype(np.int64),
        "amount": amount,
        "market_cap": amount * 10,
        "change_rate": pa.nulls(len(starts), pa.float64()),
        "_day": pa.array(day_of, pa.int32()),
        "update_dt": pa.array(stamp, pa.timestamp("us", tz="UTC"))}),
        os.path.join(out_dir, "prices.parquet"))


TABLES = {"region": region, "nation": nation, "customer": customer, "part": part,
          "orders": orders, "lineitem": lineitem, "events": events, "embeddings": embeddings}
NEEDS_SEED = {"orders", "lineitem"}


def generate(out_dir, seed, sf, names, daily_days=0, cutoff="2001-06-01"):
    """Write the named tables under out_dir (and, with daily_days, the
    daily batch's drops and prices), then an empty _READY marker."""
    if os.path.exists(os.path.join(out_dir, "_READY")):
        return
    os.makedirs(out_dir, exist_ok=True)
    z = Sizes(sf)
    for name in names:
        rng = np.random.default_rng([seed, zlib.crc32(name.encode())])
        args = (rng, z, seed) if name in NEEDS_SEED else (rng, z)
        pq.write_table(TABLES[name](*args), os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=1 << 22)
    if daily_days:
        daily(out_dir, seed, daily_days, cutoff)
    open(os.path.join(out_dir, "_READY"), "w").close()

