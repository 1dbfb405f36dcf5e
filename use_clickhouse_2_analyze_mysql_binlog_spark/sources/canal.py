"""Canal protobuf decode (S5/S6, SURVEY.md §2.1).

The wire format is alibaba/canal's public protocol: a Kafka message value is
a ``Packet`` whose ``body`` holds ``Messages`` (repeated ``Entry`` bytes);
each ``Entry`` has a ``Header`` and a ``storeValue`` that decodes to a
``RowChange`` (``/root/reference/mon_mysql_dml.py:150-169, 254-255``).

The decode path is the dependency-free wire-format codec in
:mod:`canal_wire` (golden-bytes pinned against the public protocol),
Arrow-batched through ``mapInPandas`` by :func:`decode_packets`;
:func:`decode_packets_with` is the underlying runner for any
packet-parsing callable (tests inject their own). Decode yields
CANAL_ENTRY_SCHEMA rows for the downstream transform
(sources/transform.py).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from use_clickhouse_2_analyze_mysql_binlog_spark.schemas import CANAL_ENTRY_SCHEMA
from use_clickhouse_2_analyze_mysql_binlog_spark.sources import canal_wire

#: entry dict keys produced by a packet parser, matching CANAL_ENTRY_SCHEMA
PacketParser = Callable[[bytes], list[dict[str, Any]]]


#: CANAL_ENTRY_SCHEMA plus the dead-letter routing columns: good entries
#: carry NULLs in both; an undecodable packet yields exactly ONE row with
#: the error text and the verbatim packet bytes (so the message can be
#: replayed through a fixed decoder later) and NULLs elsewhere.
ROUTED_ENTRY_SCHEMA = T.StructType(
    list(CANAL_ENTRY_SCHEMA.fields)
    + [
        T.StructField("_decode_error", T.StringType(), True),
        T.StructField("_raw", T.BinaryType(), True),
    ]
)

_ENTRY_COLS = ["entryType", "header", "isDdl", "rowDatas"]


def decode_packets_with(
    raw_df: DataFrame, parser: PacketParser, on_error: str = "fail"
) -> DataFrame:
    """Decode a ``value: binary`` DataFrame into canal entries via
    ``mapInPandas`` (Arrow-batched; one python worker per input partition —
    scales with Kafka partition count, no shuffle).

    ``on_error`` controls the poison-message contract:

    - ``"fail"`` (default): a malformed packet raises, the task fails and
      Spark retries it — loud, but ONE corrupt Kafka message wedges the
      stream forever (every retry replays the same offsets). This is also
      the reference consumer's behavior (its decode loop has no guard,
      ``mon_mysql_dml.py:254-316``).
    - ``"route"``: the output gains ``_decode_error``/``_raw`` columns
      (:data:`ROUTED_ENTRY_SCHEMA`); malformed packets become single
      dead-letterable rows instead of task failures, and the stream keeps
      draining. Pair with ``run_ingest_stream(dead_letter_path=...)``.
    """
    if on_error not in ("fail", "route"):
        raise ValueError(f"on_error must be 'fail' or 'route', got {on_error!r}")
    route = on_error == "route"
    schema = ROUTED_ENTRY_SCHEMA if route else CANAL_ENTRY_SCHEMA
    cols = _ENTRY_COLS + (["_decode_error", "_raw"] if route else [])

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict[str, Any]] = []
            for raw in pdf["value"]:
                b = bytes(raw)
                if not route:
                    rows.extend(parser(b))
                    continue
                try:
                    entries = parser(b)
                except Exception as exc:  # noqa: BLE001 — routed, not lost
                    # explicit Nones: pandas fills absent keys with NaN,
                    # which Arrow rejects for struct/array columns
                    rows.append(
                        dict.fromkeys(_ENTRY_COLS)
                        | {
                            "_decode_error": f"{type(exc).__name__}: {exc}",
                            "_raw": b,
                        }
                    )
                    continue
                for e in entries:
                    rows.append({**e, "_decode_error": None, "_raw": None})
            yield pd.DataFrame(rows, columns=cols)

    return raw_df.select("value").mapInPandas(decode, schema=schema)


def decode_packets(raw_df: DataFrame, on_error: str = "fail") -> DataFrame:
    """Production decode path: :func:`canal_wire.parse_packet_wire`, a
    dependency-free pure-Python codec for the public canal wire format
    (pinned by a golden-bytes test), run Arrow-batched inside
    ``mapInPandas``, one python worker per Kafka partition. See
    :func:`decode_packets_with` for the ``on_error`` poison-message modes.
    """
    return decode_packets_with(raw_df, canal_wire.parse_packet_wire, on_error)


# NOTE on the from_protobuf alternative (removed; VERDICT r04 #2): Spark
# >= 3.4 can decode the same wire format fully JVM-side with
# pyspark.sql.protobuf.functions.from_protobuf and a compiled descriptor
# set (protoc --descriptor_set_out --include_imports over the public
# alibaba/canal protos), unwrapping Packet.body -> Messages.messages ->
# Entry -> RowChange(storeValue). That requires the spark-protobuf jar,
# which is NOT bundled with pyspark and cannot be fetched here (verified:
# calling it raises PROTOBUF_NOT_LOADED_SQL_FUNCTIONS_UNUSABLE), so the
# engine ships the wire codec as its only decode path instead of
# carrying an untestable code path. A deployment with the jar on the
# classpath can swap decode_packets for the from_protobuf chain without
# touching anything downstream — every path yields CANAL_ENTRY_SCHEMA
# rows into sources/transform.py.
