"""Seeded, vectorised input generators for the benchmark.

Everything here is a pure function of its arguments: the same seed gives
the same rows and the same parquet bytes. Inputs are written before any
clock starts, so generation never counts against a timed metric.

- `ticks`: Kafka-shaped ticker records (binary key = venue, binary value =
  Coinbase-style ticker JSON, broker timestamp) over a chosen number of
  symbols with a chosen Zipf skew, two venues, a chosen share of
  non-ticker and malformed messages that the silver gate drops, and event
  times that run out of order by at most `MAX_DISORDER_US`, well inside
  the gold hop's 10-minute watermark, so the gold output does not depend
  on how the stream is cut into batches.
- `write_raw_files`: split a tick table into raw parquet files of given
  row counts, in order.
- `write_sf_dir`: a small TPC-H-shaped table set plus an ``events`` table
  in the schema the engine's registered queries read.
- `write_delta_history`: a Delta table whose log holds one commit per
  given table, written without the engine, so a workload can start on a
  table with a commit history.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: 2024-01-01T00:00:00Z in epoch microseconds.
EPOCH0_US = 1_704_067_200_000_000
VENUES = ("coinbase", "binance")
#: largest backwards jump of an event time against the stream order; the
#: gold hop's watermark delay is 10 minutes, so no tick is ever late. An
#: assumption: no measurement of the reference feed's disorder exists.
MAX_DISORDER_US = 4 * 60 * 1_000_000

KAFKA_SCHEMA = pa.schema(
    [("key", pa.binary()), ("value", pa.binary()), ("timestamp", pa.timestamp("us"))]
)


def zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def _iso_us(us: np.ndarray) -> pa.Array:
    """Epoch micros -> ``YYYY-MM-DDTHH:MM:SS.ffffff`` strings. Formats
    each distinct minute once, then appends zero-padded seconds and
    micros."""
    minutes = us // 60_000_000
    uniq, inv = np.unique(minutes, return_inverse=True)
    prefix = pc.strftime(
        pa.array(uniq * 60_000_000).cast(pa.timestamp("us")), format="%Y-%m-%dT%H:%M:"
    )
    sec = pc.utf8_lpad(pc.cast(pa.array(us // 1_000_000 % 60), pa.string()), 2, "0")
    frac = pc.utf8_lpad(pc.cast(pa.array(us % 1_000_000), pa.string()), 6, "0")
    return pc.binary_join_element_wise(pc.take(prefix, pa.array(inv)), sec, ".", frac, "")


def decimal_str(units: np.ndarray, scale: int) -> pa.Array:
    """Non-negative integer ``units`` of 10**-scale -> decimal strings."""
    q = 10**scale
    whole = pc.cast(pa.array(units // q), pa.string())
    frac = pc.utf8_lpad(pc.cast(pa.array(units % q), pa.string()), scale, "0")
    return pc.binary_join_element_wise(whole, frac, ".")


def ticks(seed: int, n: int, *, symbols: int, rate_per_s: float, zipf_s: float,
          bad_share: float) -> pa.Table:
    """``n`` ticks in stream (arrival) order.

    Columns: ``key``/``value``/``timestamp`` (the raw topic record) plus
    the ground truth the output checks use: ``is_tick``, ``venue``,
    ``symbol``, ``price_cents``, ``size_milli``, ``trade_id``, ``event_us``.
    Arrival time advances by ``1/rate_per_s``; each event time lags its
    arrival by up to `MAX_DISORDER_US`. Symbols are drawn with Zipf
    exponent ``zipf_s`` (0 = uniform). A ``bad_share`` of messages is for
    the silver gate to drop: half non-ticker control messages, half
    truncated payloads.
    """
    rng = np.random.default_rng(seed)
    trade_id = np.arange(n, dtype=np.int64)
    arrival_us = EPOCH0_US + (trade_id * (1e6 / rate_per_s)).astype(np.int64)
    event_us = arrival_us - rng.integers(0, MAX_DISORDER_US, n, dtype=np.int64)
    sym_idx = rng.choice(symbols, size=n, p=zipf_weights(symbols, zipf_s))
    venue_idx = rng.integers(0, 2, n)
    base_cents = 100 * (10 + (np.arange(symbols, dtype=np.int64) * 7919) % 50_000)
    walk = rng.integers(-50, 51, n, dtype=np.int64)
    price_cents = base_cents[sym_idx] + walk + venue_idx * 3
    size_milli = rng.integers(1, 5000, n, dtype=np.int64)
    kind = rng.random(n)
    # non-ticker control messages (dropped by the type gate) and truncated
    # payloads (dropped by the from_json null check)
    is_control = kind < bad_share / 2
    is_malformed = (kind >= bad_share / 2) & (kind < bad_share)
    is_tick = ~(is_control | is_malformed)

    sym_names = pa.array([f"SYM{i:04d}-USD" for i in range(symbols)])
    symbol = pc.take(sym_names, pa.array(sym_idx))
    side = pc.take(pa.array(["buy", "sell"]), pa.array(rng.integers(0, 2, n)))
    msg_type = pc.take(
        pa.array(["ticker", "heartbeat"]), pa.array(is_control.astype(np.int64))
    )
    tid = pc.cast(pa.array(trade_id), pa.string())
    parts = [
        '{"type":"', msg_type, '","sequence":', tid,
        ',"product_id":"', symbol, '","price":"', decimal_str(price_cents, 2),
        '","time":"', _iso_us(event_us), 'Z","trade_id":', tid,
        ',"last_size":"', decimal_str(size_milli, 3), '","side":"', side, '"}',
    ]
    value = pc.binary_join_element_wise(*parts, "")
    # a malformed record loses its closing brace and everything after the
    # price, so from_json returns null and the row is gated out
    cut = pc.utf8_slice_codeunits(value, 0, 40)
    value = pc.if_else(pa.array(is_malformed), cut, value)
    key = pc.take(pa.array(list(VENUES)), pa.array(venue_idx))
    return pa.table(
        {
            "key": pc.cast(key, pa.binary()),
            "value": pc.cast(value, pa.binary()),
            "timestamp": pa.array(arrival_us).cast(pa.timestamp("us")),
            "is_tick": is_tick,
            "venue": key,
            "symbol": symbol,
            "price_cents": price_cents,
            "size_milli": size_milli,
            "trade_id": trade_id,
            "event_us": event_us,
        }
    )


def write_raw_files(table: pa.Table, out_dir: str, sizes: list[int]) -> list[str]:
    """Write the raw topic columns of ``table`` as parquet files of
    consecutive rows, ``sizes[i]`` rows in file ``i``; returns their paths
    in stream order."""
    os.makedirs(out_dir, exist_ok=True)
    raw = table.select(KAFKA_SCHEMA.names)
    bounds = np.cumsum([0, *sizes])
    paths = []
    for i, size in enumerate(sizes):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(raw.slice(bounds[i], size), path)
        paths.append(path)
    return paths


def write_sf_dir(seed: int, out_dir: str, *, scale: float) -> None:
    """TPC-H-shaped tables plus ``events`` at ``scale`` (1.0 = 6 M
    lineitems), in the column names and types the engine's loaders read."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_li, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def money(lo: float, hi: float, size: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, size), 2)

    def dates(lo_year: int, hi_year: int, size: int) -> pa.Array:
        lo = np.datetime64(f"{lo_year}-01-01", "D").astype(np.int64)
        hi = np.datetime64(f"{hi_year}-01-01", "D").astype(np.int64)
        days = rng.integers(lo, hi, size)
        return pa.array(days * 86_400_000_000).cast(pa.timestamp("us"))

    def pick(values: list, size: int) -> pa.Array:
        return pc.take(pa.array(values), pa.array(rng.integers(0, len(values), size)))

    def names(fmt: str, size: int) -> list[str]:
        return [fmt.format(i) for i in range(size)]

    write("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    write("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": names("NATION_{}", 25),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": names("Customer#{:09d}", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999, 9999, n_cust),
        "c_mktsegment": pick(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": names("Supplier#{:09d}", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999, 9999, n_supp),
    })
    part_names = [f"{a} {b}" for a in ("small", "red", "large", "green", "blue")
                  for b in ("ring", "widget", "bolt", "gear")]
    write("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": pick(part_names, n_part),
        "p_brand": pc.binary_join_element_wise(
            "Brand#", pc.cast(pa.array(rng.integers(1, 26, n_part)), pa.string()), ""
        ),
        "p_type": pick(["ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": money(900, 2100, n_part),
    })
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": dates(1992, 1999, n_ord),
        "o_orderpriority": pick(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": dates(1992, 2002, n_li),
    })
    ev_us = EPOCH0_US + np.sort(rng.integers(0, 7 * 86_400_000_000, n_ev))
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_us).cast(pa.timestamp("us")),
        "user_id": rng.integers(0, 1000, n_ev),
        "event_type": pick(["click", "view", "purchase", "signup", "error"], n_ev),
        "value": money(1, 500, n_ev),
        "props": pc.binary_join_element_wise(
            '{"k": ', pc.cast(pa.array(rng.integers(0, 100, n_ev)), pa.string()), "}", ""
        ),
    })


def _spark_type(t: pa.DataType) -> str:
    """Delta schema type name of an arrow type (the types used here)."""
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_timestamp(t):
        return "timestamp"
    return {pa.string(): "string", pa.int64(): "long", pa.float64(): "double"}[t]


def write_delta_history(path: str, commits: list[pa.Table], *, seed: int) -> None:
    """A Delta table at ``path`` with one commit per table in ``commits``,
    each adding that table as one parquet file. Version 0 also carries
    the protocol and the metadata. Stats hold the record count only.
    Commit times are fixed, so the same tables give the same bytes."""
    log_dir = os.path.join(path, "_delta_log")
    os.makedirs(log_dir)
    schema = commits[0].schema
    schema_string = json.dumps({"type": "struct", "fields": [
        {"name": f.name, "type": _spark_type(f.type), "nullable": True, "metadata": {}}
        for f in schema
    ]})
    table_id = "%032x" % np.random.default_rng(seed).integers(0, 2**63)
    for version, table in enumerate(commits):
        now_ms = EPOCH0_US // 1000 + version * 60_000
        name = f"part-{version:05d}-{table_id[:8]}.snappy.parquet"
        pq.write_table(table, os.path.join(path, name))
        actions = [{"commitInfo": {"timestamp": now_ms, "operation": "WRITE",
                                   "operationParameters": {"mode": "Append"}}}]
        if version == 0:
            actions += [
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
                {"metaData": {"id": table_id, "format": {"provider": "parquet", "options": {}},
                              "schemaString": schema_string, "partitionColumns": [],
                              "configuration": {}, "createdTime": now_ms}},
            ]
        actions.append({"add": {
            "path": name, "partitionValues": {},
            "size": os.path.getsize(os.path.join(path, name)),
            "modificationTime": now_ms, "dataChange": True,
            "stats": json.dumps({"numRecords": table.num_rows}),
        }})
        with open(os.path.join(log_dir, f"{version:020d}.json"), "w") as f:
            f.write("".join(json.dumps(a) + "\n" for a in actions))
