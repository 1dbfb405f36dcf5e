"""Deterministic input generator for the benchmark.

Everything the engine sees is produced here from ``--seed``: the ten
star-schema tables the query registry reads (same column names, types and
value domains as the engine's test data) and the canal wire packets the
streaming workloads ingest. Packets are real ``canal_wire`` encodings of the
``schemas.canal_entries_view`` mapping, so the expected binlog rows can be
derived here in plain Python, independent of the engine's decoder.

Files land by atomic rename, so a streaming file source never lists a
half-written file.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from use_clickhouse_2_analyze_mysql_binlog_spark import schemas
from use_clickhouse_2_analyze_mysql_binlog_spark.sources import canal_wire

EPOCH_2024 = datetime(2024, 1, 1, tzinfo=timezone.utc)
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
WORDS = (
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.44, 0.14, 0.13, 0.14, 0.15)
#: mean event gap of the engine's sf0.1 events table (100k events over 30 days)
EVENT_GAP_S = 26.0
#: canal batch: entries per packet
ENTRIES_PER_PACKET = 50
_DDL_IDS = {i for i, n in schemas.EVENT_TYPE_NAMES.items() if n in schemas.DDL_EVENT_TYPES}


def _tmp_path(path: str) -> str:
    d, base = os.path.split(path)
    return os.path.join(d, f".{base}.tmp")


def land(tables: list[pa.Table], paths: list[str]) -> None:
    """Write every table next to its path, then rename them all into place,
    so a streaming source lists them together."""
    for table, path in zip(tables, paths):
        pq.write_table(table, _tmp_path(path), coerce_timestamps="us", allow_truncated_timestamps=True)
    for path in paths:
        os.replace(_tmp_path(path), path)


# ---------------------------------------------------------------------------
# Events and canal packets
# ---------------------------------------------------------------------------

def events(n: int, seed: int, first_id: int = 0, start_s: float = 0.0) -> pd.DataFrame:
    """``n`` events with ids ``first_id..`` and increasing timestamps.

    Event ``i`` falls at a seeded point of the ``i``-th ``EVENT_GAP_S``
    slot, so how events split into days (and so into fact files and
    windows) is the same for every seed; the seed varies the rest."""
    rng = np.random.default_rng([seed, first_id])
    slots = np.arange(n) + rng.uniform(0.0, 1.0, n)
    micros = (
        int(EPOCH_2024.timestamp() * 1e6)
        + int(start_s * 1e6)
        + (slots * EVENT_GAP_S * 1e6).astype(np.int64)
    )
    return pd.DataFrame(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": pd.to_datetime(micros, unit="us"),
            "user_id": rng.integers(0, 150, n, dtype=np.int64),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.uniform(0.01, 490.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _millis(ts: pd.Series) -> pd.Series:
    """Epoch milliseconds, as canal's ``executeTime`` carries them."""
    return pd.Series(ts.values.astype("datetime64[ms]").astype(np.int64), index=ts.index)


def binlog_rows(ev: pd.DataFrame) -> pd.DataFrame:
    """The binlog fact rows the canal packets of ``ev`` must ingest to:
    ``canal_entries_view`` followed by the ingest transform, in pandas."""
    ev = ev[ev["event_id"] % 50 != 0]
    type_id = ev["event_id"] % 15 + 1
    millis = _millis(ev["ts"])
    uid = ev["user_id"].astype(str)
    return pd.DataFrame(
        {
            "schema": "appdb",
            "table": "t_" + (ev["user_id"] % 4).astype(str),
            "event_type": type_id.map(schemas.EVENT_TYPE_NAMES),
            "is_ddl": type_id.isin(_DDL_IDS).astype("int32"),
            "binlog_file": "mysql-bin." + (ev["user_id"] % 3).astype(str),
            "binlog_pos": ev["event_id"],
            "characterset": "UTF-8",
            "execute_time": pd.to_datetime(millis, unit="ms"),
            "gtid": "txn-" + uid,
            "single_statement_affected_rows": (ev["event_id"] % 5 + 1).astype("int64"),
            "single_statement_size": np.floor(ev["value"] * 100).astype("int64"),
        }
    ).reset_index(drop=True)


def canal_packets(ev: pd.DataFrame) -> list[bytes]:
    """Encode ``ev`` as canal ``Packet`` bytes, ``ENTRIES_PER_PACKET``
    entries each, with the ``schemas.canal_entries_view`` mapping."""
    entries = []
    millis = _millis(ev["ts"]).tolist()
    for eid, uid, ms, value in zip(
        ev["event_id"].tolist(), ev["user_id"].tolist(), millis, ev["value"].tolist()
    ):
        type_id = eid % 15 + 1
        header = canal_wire.encode_header(
            schema_name="appdb",
            table_name=f"t_{uid % 4}",
            logfile_name=f"mysql-bin.{uid % 3}",
            logfile_offset=eid,
            serveren_code="UTF-8",
            execute_time=ms,
            event_length=int(np.floor(value * 100)),
            gtid=f"txn-{uid}",
            event_type=type_id,
        )
        begin = eid % 50 == 0
        store = canal_wire.encode_row_change(type_id in _DDL_IDS, eid % 5 + 1)
        entries.append(
            canal_wire.encode_entry(
                "TRANSACTIONBEGIN" if begin else "ROWDATA", header, store
            )
        )
    return [
        canal_wire.encode_packet(entries[i : i + ENTRIES_PER_PACKET])
        for i in range(0, len(entries), ENTRIES_PER_PACKET)
    ]


def packet_tables(ev: pd.DataFrame, n: int) -> list[pa.Table]:
    """The canal packets of ``ev`` as ``n`` tables of about equal size."""
    packets = canal_packets(ev)
    per = -(-len(packets) // n)
    return [
        pa.table({"value": pa.array(packets[i * per : (i + 1) * per], type=pa.binary())})
        for i in range(n)
    ]


# ---------------------------------------------------------------------------
# Star-schema tables for the query sweep
# ---------------------------------------------------------------------------

def _ts(days: np.ndarray, base: str) -> pd.Series:
    return pd.to_datetime(base) + pd.to_timedelta(days, unit="D")


def tables(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    """The ten registry tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        }
    )
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    adj = ["cold", "small", "hot", "blue", "red", "old", "new"]
    noun = ["widget", "bolt", "gear", "rod", "ring", "plate", "anvil"]
    out["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(
                ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part
            ),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        }
    )
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
            "o_orderdate": _ts(rng.integers(0, 2404, n_ord), "1995-01-01"),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }
    )
    qty = rng.integers(1, 51, n_line).astype(float)
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _ts(rng.integers(0, 2499, n_line), "1995-01-02"),
        }
    )
    ev = events(n_ev, seed)
    # the table spans 30 days whatever its size, like the engine's test data
    span = (ev["ts"] - ev["ts"].iloc[0]).dt.total_seconds()
    scale = 30 * 86400 / max(float(span.iloc[-1]), 1.0)
    ev["ts"] = ev["ts"].iloc[0] + pd.to_timedelta((span * scale).round(6), unit="s")
    out["events"] = ev
    out["documents"] = _documents(rng, 500)
    out["embeddings"] = _embeddings(rng, 500)
    return out


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    texts = [
        " ".join(rng.choice(WORDS, int(rng.integers(10, 100)))) for _ in range(n)
    ]
    # a few near-duplicates, so the dedup operators find something
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pd.DataFrame:
    centers = rng.normal(0, 1, (10, dim))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(0, 0.6, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(vecs.astype(np.float32)),
            "label": labels.astype(np.int32),
        }
    )


def write_tables(sf_dir: str, sf: float, seed: int) -> None:
    """Write the registry tables as ``<sf_dir>/<name>.parquet``."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, df in tables(sf, seed).items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.set_column(
                1, "embedding", pa.array(df["embedding"].map(list), pa.list_(pa.float32()))
            )
        land([table], [os.path.join(sf_dir, f"{name}.parquet")])
