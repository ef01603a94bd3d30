"""Seeded benchmark inputs.

One ``--seed`` drives every generated input: the star-schema parquet
fixtures the catalog queries read, the Uber-booking CSV landing zone
the medallion ticks ingest and the statements the gateway clients send.
The same seed gives byte-identical inputs; the sizes are fixed (see
``SIZES``) so two seeds differ in values, never in volume.

The fixture shapes follow ``tools/gen_sf.py`` (same columns, arrow
types and value ranges) at a fixed small size, with ``nation`` and
``region`` generated instead of copied.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per fixture table (about TPC-H sf0.01, the size the query
# catalog's oracle tests run at)
SIZES = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
EVENT_USERS = 150

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPE = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]
DAY_US = 86_400_000_000


def rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, input stream)."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def _ts_us(us) -> pa.Array:
    return pa.array(np.asarray(us, dtype="int64"), type=pa.timestamp("us"))


def _days(d: str) -> int:
    return int(np.datetime64(d, "D").astype(int))


def write_fixtures(out: str, seed: int, scale: float = 1.0) -> None:
    """Write the ten fixture tables under ``out``. ``scale`` shrinks
    every table (the smoke test runs at 0.2)."""
    os.makedirs(out, exist_ok=True)
    n = {k: max(8, int(v * scale)) for k, v in SIZES.items()}

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), f"{out}/{name}.parquet")

    put("region", {
        "r_regionkey": pa.array(np.arange(5), type=pa.int64()),
        "r_name": REGIONS,
    })
    put("nation", {
        "n_nationkey": pa.array(np.arange(25), type=pa.int64()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, type=pa.int64()),
    })

    r = rng(seed, "customer")
    k = n["customer"]
    put("customer", {
        "c_custkey": pa.array(np.arange(k), type=pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(r.integers(0, 25, k), type=pa.int32()),
        "c_acctbal": np.round(r.uniform(-1000, 10_000, k), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, 5, k)]),
    })

    r = rng(seed, "supplier")
    k = n["supplier"]
    put("supplier", {
        "s_suppkey": pa.array(np.arange(k), type=pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(r.integers(0, 25, k), type=pa.int32()),
        "s_acctbal": np.round(r.uniform(0, 10_000, k), 2),
    })

    r = rng(seed, "part")
    k = n["part"]
    keys = np.arange(k)
    put("part", {
        "p_partkey": pa.array(keys, type=pa.int64()),
        "p_name": [
            f"{P_ADJ[a]} {P_NOUN[b]}"
            for a, b in zip(r.integers(0, 8, k), r.integers(0, 8, k))
        ],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, k)],
        "p_type": pa.array(np.array(P_TYPE)[r.integers(0, 6, k)]),
        "p_size": pa.array(r.integers(1, 51, k), type=pa.int32()),
        "p_retailprice": 900.0 + (keys % 1000) / 10.0,
    })

    r = rng(seed, "orders")
    k = n["orders"]
    put("orders", {
        "o_orderkey": pa.array(np.arange(k), type=pa.int64()),
        "o_custkey": pa.array(r.integers(0, n["customer"], k), type=pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, k)]),
        "o_totalprice": np.round(r.uniform(1000, 500_000, k), 2),
        "o_orderdate": _ts_us(
            r.integers(_days("1995-01-01"), _days("2001-08-01") + 1, k) * DAY_US
        ),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, k)]),
    })

    r = rng(seed, "lineitem")
    per_order = r.integers(1, 8, n["orders"])
    l_orderkey = np.repeat(np.arange(n["orders"]), per_order)
    k = len(l_orderkey)
    starts = np.cumsum(per_order) - per_order
    linenumber = np.arange(k) - np.repeat(starts, per_order) + 1
    put("lineitem", {
        "l_orderkey": pa.array(l_orderkey, type=pa.int64()),
        "l_partkey": pa.array(r.integers(0, n["part"], k), type=pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], k), type=pa.int64()),
        "l_linenumber": pa.array(linenumber, type=pa.int32()),
        "l_quantity": r.integers(1, 51, k).astype("float64"),
        "l_extendedprice": np.round(r.uniform(900, 105_000, k), 2),
        "l_discount": np.round(r.integers(0, 11, k) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, k) / 100.0, 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, k)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, k)]),
        "l_shipdate": _ts_us(
            r.integers(_days("1995-01-02"), _days("2001-11-04") + 1, k) * DAY_US
        ),
    })

    r = rng(seed, "events")
    k = n["events"]
    t0 = int(np.datetime64("2024-01-01T00:00:00", "us").astype(int))
    put("events", {
        "event_id": pa.array(np.arange(k), type=pa.int64()),
        "ts": _ts_us(np.sort(t0 + r.integers(0, 30 * DAY_US, k))),
        "user_id": pa.array(
            r.integers(0, max(2, int(EVENT_USERS * scale)), k), type=pa.int64()
        ),
        "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, k)]),
        "value": np.round(r.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)],
    })

    r = rng(seed, "documents")
    k = n["documents"]
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[r.integers(0, len(vocab), c)])
        for c in r.integers(8, 100, k)
    ]
    for _ in range(max(1, k // 100)):  # planted exact duplicates
        i, j = r.integers(0, k, 2)
        texts[i] = texts[j]
    put("documents", {
        "doc_id": pa.array(np.arange(k), type=pa.int64()),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[r.choice(5, k, p=LANG_P)]),
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": pa.array([len(s) for s in texts], type=pa.int64()),
    })

    r = rng(seed, "embeddings")
    k = n["embeddings"]
    v = r.normal(0, 1, (k, 64))
    for _ in range(max(1, k // 100)):  # planted near-duplicate pairs
        i, j = r.integers(0, k, 2)
        v[i] = v[j] + r.normal(0, 0.1, 64)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    put("embeddings", {
        "vec_id": pa.array(np.arange(k), type=pa.int64()),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, k), type=pa.int32()),
    })


# ---------------------------------------------------------------------------
# Uber-booking landing zone (medallion_ticks)
# ---------------------------------------------------------------------------

UBER_HEADER = (
    "Date,Time,Booking_ID,Booking_Status,Vehicle_Type,Avg_VTAT,"
    "Booking_Value,Ride_Distance,Payment_Method,"
    "Reason_for_cancelling_by_Customer,Driver_Cancellation_Reason,"
    "Incomplete_Rides_Reason"
)
UBER_START = "2024-05-01"
STATUSES = ["Completed", "Completed", "Completed", "Cancelled by Driver",
            "Cancelled by Customer", "Incomplete"]
VEHICLES = ["Auto", "Bike", "Sedan", "SUV", "eBike"]
PAYMENTS = ["Cash", "Card", "UPI", "Wallet"]


def write_uber_landing(raw_dir: str, seed: int, days: int, rows_per_day: int) -> None:
    """Land one CSV per day under ``date=YYYY-MM-DD`` dirs, the layout
    the scheduled Uber DAG prunes by interval."""
    r = rng(seed, "uber")
    start = np.datetime64(UBER_START, "D")
    for d in range(days):
        day = str(start + d)
        ddir = os.path.join(raw_dir, f"date={day}")
        os.makedirs(ddir, exist_ok=True)
        lines = [UBER_HEADER]
        for i in range(rows_per_day):
            status = STATUSES[r.integers(0, len(STATUSES))]
            vtat = "null" if r.random() < 0.05 else f"{r.uniform(1, 15):.1f}"
            value = "" if status.startswith("Cancelled") else f"{r.uniform(50, 900):.1f}"
            pay = "" if r.random() < 0.05 else PAYMENTS[r.integers(0, len(PAYMENTS))]
            reason_c = "Changed plans" if status == "Cancelled by Customer" else ""
            reason_d = "Too far" if status == "Cancelled by Driver" else ""
            reason_i = "Vehicle breakdown" if status == "Incomplete" else ""
            lines.append(
                f"{day},{r.integers(0, 24):02d}:{r.integers(0, 60):02d}:00,"
                f"BK{d:03d}{i:05d},{status},{VEHICLES[r.integers(0, len(VEHICLES))]},"
                f"{vtat},{value},{r.uniform(1, 50):.1f},{pay},"
                f"{reason_c},{reason_d},{reason_i}"
            )
        with open(os.path.join(ddir, "part-0.csv"), "w") as f:
            f.write("\n".join(lines) + "\n")


GATEWAY_TIMEZONES = ["Morning", "Afternoon", "Evenings", "LateNights"]


def gateway_statements(seed: int, client: int, rows_per_day: int):
    """The seeded statement sequence of one gateway client: an endless
    round-robin over the four kinds, each statement prefixed with a
    ``/* kind */`` comment. Parameters come from small pools, so
    statements repeat and every answer can be checked."""
    r = rng(seed, f"gateway-{client}")
    while True:
        for kind in ("point", "agg", "topk", "join"):
            if kind == "point":
                bid = f"BK{r.integers(0, 2):03d}{r.integers(0, min(16, rows_per_day)):05d}"
                sql = ("SELECT Booking_ID, Booking_Status, Vehicle_Type, Ride_Distance "
                       f"FROM silver WHERE Booking_ID = '{bid}'")
            elif kind == "agg":
                tz = GATEWAY_TIMEZONES[r.integers(0, len(GATEWAY_TIMEZONES))]
                sql = ("SELECT Vehicle_Type, count(*) AS n, avg(Ride_Distance) AS avg_km "
                       f"FROM silver WHERE TimeZone = '{tz}' GROUP BY Vehicle_Type")
            elif kind == "topk":
                v = VEHICLES[r.integers(0, len(VEHICLES))]
                k = (5, 10, 20)[r.integers(0, 3)]
                sql = ("SELECT Booking_ID, Booking_Value FROM silver "
                       f"WHERE Booking_Value IS NOT NULL AND Vehicle_Type = '{v}' "
                       f"ORDER BY Booking_Value DESC, Booking_ID LIMIT {k}")
            else:
                h = int(r.integers(0, 6)) * 4
                sql = ("SELECT s.Vehicle_Type, s.Date, count(*) AS n, "
                       "max(g.Total_Bookings) AS total FROM silver s "
                       "JOIN gold_booking_stats g "
                       "ON s.Vehicle_Type = g.Vehicle_Type AND s.Date = g.Date "
                       f"WHERE s.Hour >= {h} GROUP BY s.Vehicle_Type, s.Date")
            yield kind, f"/* {kind} */ {sql}"


def dir_bytes(path: str) -> int:
    """Total size of the regular files under ``path``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
    return total
