"""Seeded input generator for the kwack-spark benchmark.

Runs as its own process, before and apart from the program under test:

    python3 perfbench/gen.py --workload kafka_topics --seed 7 --out DIR

The same seed always writes the same bytes.  Per workload it writes:

- ``kafka_topics``: four topics as Kafka-shaped frame files (the Spark Kafka
  source's column shape, one parquet file per Kafka partition) under
  ``DIR/frames/<topic>/``, the schemas a producer would have registered
  (``DIR/schemas.json``), and a truth table per topic (``DIR/truth/``) holding
  the source values in the decoded table's layout.
- ``curation_pipeline``: a ``documents`` corpus with planted near-duplicates
  and an ``embeddings`` table with label clusters.

Only numpy, pyarrow and the standard library are used.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import random
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import wire

# --- sizes -------------------------------------------------------------------
# Records per topic.  Decode rates measured on 4 cores at HEAD: orders (Avro,
# Python stage) ~12-13k rows/s, clicks (protobuf, Python stage) ~27-37k,
# events (JSON Schema, JVM from_json) ~150-186k, metrics (primitives, JVM
# casts) ~350-435k.  See perfbench/NOTES.md for how the sizes were chosen.
TOPIC_ROWS = {"orders": 2_500, "clicks": 5_000, "events": 6_000, "metrics": 12_000}
PARTITIONS = 4
DOC_ROWS = 400
EMBEDDING_ROWS = 400
EMBEDDING_DIM = 32

EPOCH_2024_MS = 1_704_067_200_000

# --- schemas -------------------------------------------------------------------

_ORDER_FIELDS_V1 = [
    {"name": "order_id", "type": "long"},
    {"name": "customer_id", "type": "long"},
    {
        "name": "status",
        "type": {
            "type": "enum",
            "name": "Status",
            "symbols": ["NEW", "PAID", "SHIPPED", "RETURNED"],
        },
    },
    {
        "name": "amount",
        "type": {"type": "bytes", "logicalType": "decimal", "precision": 12, "scale": 2},
    },
    {"name": "created", "type": {"type": "long", "logicalType": "timestamp-millis"}},
    {
        "name": "ship",
        "type": {
            "type": "record",
            "name": "Ship",
            "fields": [{"name": "city", "type": "string"}, {"name": "zip", "type": "int"}],
        },
    },
    {"name": "items", "type": {"type": "array", "items": "long"}},
    {"name": "attrs", "type": {"type": "map", "values": "string"}},
    {"name": "ref", "type": ["null", "long", "string"], "default": None},
]
ORDER_SCHEMA_V1 = json.dumps(
    {"type": "record", "name": "Order", "namespace": "bench", "fields": _ORDER_FIELDS_V1}
)
ORDER_SCHEMA_V2 = json.dumps(
    {
        "type": "record",
        "name": "Order",
        "namespace": "bench",
        "fields": _ORDER_FIELDS_V1
        + [{"name": "coupon", "type": ["null", "string"], "default": None}],
    }
)
CLICK_PROTO = """syntax = "proto3";
package bench;

message Click {
  int64 click_id = 1;
  int64 customer_id = 2;
  string url = 3;
  repeated string tags = 4;
  int32 dwell_ms = 5;
  double score = 6;
}
"""
EVENT_JSON_SCHEMA = json.dumps(
    {
        "type": "object",
        "title": "Event",
        "properties": {
            "event_id": {"type": "integer"},
            "user_id": {"type": "integer"},
            "kind": {"type": "string"},
            "value": {"type": "number"},
            "ok": {"type": "boolean"},
        },
        "required": ["event_id", "user_id", "kind", "value", "ok"],
    }
)
# The reference's own benchmark record (AvroBenchmark.java); decoded once per
# run as a probe, never renamed.
REFERENCE_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "AvroBenchmark",
        "fields": [
            {"name": "id", "type": "int"},
            {"name": "name", "type": "string"},
            {"name": "value", "type": "double"},
            {"name": "timestamp", "type": "long"},
        ],
    }
)
REFERENCE_ROWS = 64

# subject -> [(schema type, schema text)] in registration order; a fresh
# in-process registry assigns ids 1, 2, ... in exactly this order.
SUBJECTS = [
    ("orders-value", "AVRO", ORDER_SCHEMA_V1),
    ("orders-value", "AVRO", ORDER_SCHEMA_V2),
    ("clicks-value", "PROTOBUF", CLICK_PROTO),
    ("events-value", "JSON", EVENT_JSON_SCHEMA),
    ("reference-value", "AVRO", REFERENCE_SCHEMA),
]
SCHEMA_IDS = {(s, t): i + 1 for i, (s, _, t) in enumerate(SUBJECTS)}

CITIES = ["Oslo", "Lima", "Pune", "Kyiv", "Cork", "Kobe", "Nice", "Bern"]
TAGS = ["promo", "mobile", "organic", "retarget", "email"]
EVENT_KINDS = ["view", "click", "cart", "purchase", "refund"]
METRIC_NAMES = [f"{m}.host{h:02d}" for m in ("cpu", "mem", "disk", "net") for h in range(16)]

# --- frame files -------------------------------------------------------------

FRAME_ARROW_SCHEMA = pa.schema(
    [
        pa.field("key", pa.binary()),
        pa.field("value", pa.binary()),
        pa.field("topic", pa.string(), nullable=False),
        pa.field("partition", pa.int32(), nullable=False),
        pa.field("offset", pa.int64(), nullable=False),
        pa.field("timestamp", pa.timestamp("us", tz="UTC"), nullable=False),
        pa.field("timestampType", pa.int32(), nullable=False),
        pa.field(
            "headers",
            pa.list_(
                pa.struct(
                    [pa.field("key", pa.string(), nullable=False), pa.field("value", pa.binary())]
                )
            ),
        ),
    ]
)
ROWINFO_ARROW = pa.struct(
    [
        pa.field("ksi", pa.int32()),
        pa.field("vsi", pa.int32()),
        pa.field("par", pa.int32()),
        pa.field("off", pa.int64()),
        pa.field("ts", pa.int64()),
        pa.field("hdr", pa.map_(pa.string(), pa.string())),
    ]
)


def _write_topic(out: str, topic: str, records: list[dict], truth_fields: list, rng) -> None:
    """records: dicts with key, value (bytes), row (decoded values).  Assigns
    partitions and offsets, writes one frame file per partition and the
    truth table in the decoded layout [rowkey, <value fields>, rowinfo]."""
    frames = {p: [] for p in range(PARTITIONS)}
    truth = []
    ts_ms = EPOCH_2024_MS + rng.randrange(86_400_000)
    for rec in records:
        p = rng.randrange(PARTITIONS)
        off = len(frames[p])
        ts_ms += rng.randrange(1, 50)
        headers = None
        if rng.random() < 0.7:
            headers = [{"key": "src", "value": b"gen"}]
            if rng.random() < 0.5:
                headers.append({"key": "trace", "value": f"{rng.getrandbits(32):08x}".encode()})
        frames[p].append(
            {
                "key": rec["key"],
                "value": rec["value"],
                "topic": topic,
                "partition": p,
                "offset": off,
                "timestamp": dt.datetime.fromtimestamp(ts_ms / 1000, dt.timezone.utc),
                "timestampType": 0,
                "headers": headers,
            }
        )
        row = dict(rec["row"])
        row["rowinfo"] = {
            "ksi": wire.frame_schema_id(rec["key"]),
            "vsi": wire.frame_schema_id(rec["value"]),
            "par": p,
            "off": off,
            "ts": ts_ms,
            "hdr": None
            if headers is None
            else [(h["key"], h["value"].decode()) for h in headers],
        }
        truth.append(row)
    tdir = os.path.join(out, "frames", topic)
    os.makedirs(tdir, exist_ok=True)
    for p, rows in frames.items():
        pq.write_table(
            pa.Table.from_pylist(rows, schema=FRAME_ARROW_SCHEMA),
            os.path.join(tdir, f"part-{p}.parquet"),
        )
    schema = pa.schema(truth_fields + [pa.field("rowinfo", ROWINFO_ARROW)])
    os.makedirs(os.path.join(out, "truth"), exist_ok=True)
    pq.write_table(
        pa.Table.from_pylist(truth, schema=schema),
        os.path.join(out, "truth", f"{topic}.parquet"),
    )


def _long_key(n: int) -> bytes:
    return n.to_bytes(8, "big", signed=True)


def _orders(rng, n: int) -> list[dict]:
    out = []
    for i in range(n):
        order_id = 1_000_000 + i
        v2 = rng.random() < 0.6
        sid = SCHEMA_IDS[("orders-value", ORDER_SCHEMA_V2 if v2 else ORDER_SCHEMA_V1)]
        customer = rng.randrange(1, 2_000)
        status = rng.randrange(4)
        amount = Decimal(rng.randrange(100, 5_000_000)).scaleb(-2)
        created = EPOCH_2024_MS + rng.randrange(365 * 86_400_000)
        city, zip_ = rng.choice(CITIES), rng.randrange(10_000, 99_999)
        items = [rng.randrange(1, 500) for _ in range(rng.randrange(0, 5))]
        attrs = {f"a{j}": rng.choice(TAGS) for j in range(rng.randrange(0, 3))}
        r = rng.random()
        ref = None if r < 0.4 else (rng.randrange(10**6) if r < 0.7 else f"R-{rng.randrange(10**4)}")
        coupon = (f"C{rng.randrange(100)}" if rng.random() < 0.5 else None) if v2 else None
        body = (
            wire.avro_long(order_id)
            + wire.avro_long(customer)
            + wire.avro_long(status)
            + wire.avro_decimal(amount, 2)
            + wire.avro_long(created)
            + wire.avro_string(city)
            + wire.avro_long(zip_)
            + wire.avro_array([wire.avro_long(x) for x in items])
            + wire.avro_map({k: wire.avro_string(v) for k, v in attrs.items()})
            + (
                wire.avro_union(0)
                if ref is None
                else wire.avro_union(1, wire.avro_long(ref))
                if isinstance(ref, int)
                else wire.avro_union(2, wire.avro_string(ref))
            )
        )
        if v2:
            body += wire.avro_union(0) if coupon is None else wire.avro_union(1, wire.avro_string(coupon))
        out.append(
            {
                "key": _long_key(order_id),
                "value": wire.confluent(sid, body),
                "row": {
                    "rowkey": order_id,
                    "order_id": order_id,
                    "customer_id": customer,
                    "status": ["NEW", "PAID", "SHIPPED", "RETURNED"][status],
                    "amount": amount,
                    "created": dt.datetime.fromtimestamp(created / 1000, dt.timezone.utc),
                    "ship": {"city": city, "zip": zip_},
                    "items": items,
                    "attrs": list(attrs.items()),
                    "ref": None
                    if ref is None
                    else {"u0": ref, "u1": None}
                    if isinstance(ref, int)
                    else {"u0": None, "u1": ref},
                    "coupon": coupon,
                },
            }
        )
    return out


ORDERS_TRUTH = [
    pa.field("rowkey", pa.int64()),
    pa.field("order_id", pa.int64()),
    pa.field("customer_id", pa.int64()),
    pa.field("status", pa.string()),
    pa.field("amount", pa.decimal128(12, 2)),
    pa.field("created", pa.timestamp("ms", tz="UTC")),
    pa.field("ship", pa.struct([pa.field("city", pa.string()), pa.field("zip", pa.int32())])),
    pa.field("items", pa.list_(pa.int64())),
    pa.field("attrs", pa.map_(pa.string(), pa.string())),
    pa.field("ref", pa.struct([pa.field("u0", pa.int64()), pa.field("u1", pa.string())])),
    pa.field("coupon", pa.string()),
]


def _clicks(rng, n: int) -> list[dict]:
    sid = SCHEMA_IDS[("clicks-value", CLICK_PROTO)]
    out = []
    for i in range(n):
        click_id = 5_000_000 + i
        customer = rng.randrange(1, 2_000)
        url = f"/p/{rng.randrange(300)}"
        tags = rng.sample(TAGS, rng.randrange(0, 3))
        dwell = rng.randrange(1, 10_000)
        score = rng.randrange(1, 8_000) / 8  # dyadic: prints identically everywhere
        body = (
            wire.pb_varint(1, click_id)
            + wire.pb_varint(2, customer)
            + wire.pb_string(3, url)
            + b"".join(wire.pb_string(4, t) for t in tags)
            + wire.pb_varint(5, dwell)
            + wire.pb_double(6, score)
        )
        out.append(
            {
                "key": _long_key(click_id),
                "value": wire.confluent(sid, wire.pb_message_indexes_first() + body),
                "row": {
                    "rowkey": click_id,
                    "click_id": click_id,
                    "customer_id": customer,
                    "url": url,
                    "tags": tags,
                    "dwell_ms": dwell,
                    "score": score,
                },
            }
        )
    return out


CLICKS_TRUTH = [
    pa.field("rowkey", pa.int64()),
    pa.field("click_id", pa.int64()),
    pa.field("customer_id", pa.int64()),
    pa.field("url", pa.string()),
    pa.field("tags", pa.list_(pa.string())),
    pa.field("dwell_ms", pa.int32()),
    pa.field("score", pa.float64()),
]


def _events(rng, n: int) -> list[dict]:
    sid = SCHEMA_IDS[("events-value", EVENT_JSON_SCHEMA)]
    out = []
    for i in range(n):
        row = {
            "event_id": 9_000_000 + i,
            "user_id": rng.randrange(1, 5_000),
            "kind": rng.choice(EVENT_KINDS),
            "value": rng.randrange(0, 80_000) / 16,
            "ok": rng.random() < 0.9,
        }
        out.append(
            {
                "key": _long_key(row["event_id"]),
                "value": wire.confluent(sid, json.dumps(row).encode()),
                "row": {"rowkey": row["event_id"], **row},
            }
        )
    return out


EVENTS_TRUTH = [
    pa.field("rowkey", pa.int64()),
    pa.field("event_id", pa.int64()),
    pa.field("user_id", pa.int64()),
    pa.field("kind", pa.string()),
    pa.field("value", pa.float64()),
    pa.field("ok", pa.bool_()),
]


def _metrics(rng, n: int) -> list[dict]:
    out = []
    for _ in range(n):
        name = rng.choice(METRIC_NAMES)
        v = rng.randrange(0, 1 << 40)
        out.append(
            {
                "key": name.encode(),
                "value": v.to_bytes(8, "big", signed=True),
                "row": {"rowkey": name, "rowval": v},
            }
        )
    return out


METRICS_TRUTH = [pa.field("rowkey", pa.string()), pa.field("rowval", pa.int64())]


def _reference(out: str, rng) -> None:
    """Frames of the reference benchmark's record, for the schema probe."""
    sid = SCHEMA_IDS[("reference-value", REFERENCE_SCHEMA)]
    rows = []
    for i in range(REFERENCE_ROWS):
        body = (
            wire.avro_long(i)
            + wire.avro_string(f"name-{i}")
            + wire.avro_double(rng.randrange(1000) / 4)
            + wire.avro_long(EPOCH_2024_MS + i)
        )
        rows.append(
            {
                "key": None,
                "value": wire.confluent(sid, body),
                "topic": "reference",
                "partition": 0,
                "offset": i,
                "timestamp": dt.datetime.fromtimestamp(EPOCH_2024_MS / 1000, dt.timezone.utc),
                "timestampType": 0,
                "headers": None,
            }
        )
    d = os.path.join(out, "frames", "reference")
    os.makedirs(d, exist_ok=True)
    pq.write_table(
        pa.Table.from_pylist(rows, schema=FRAME_ARROW_SCHEMA), os.path.join(d, "part-0.parquet")
    )


def gen_kafka(out: str, seed: int) -> None:
    rng = random.Random(seed)
    for topic, make, fields in (
        ("orders", _orders, ORDERS_TRUTH),
        ("clicks", _clicks, CLICKS_TRUTH),
        ("events", _events, EVENTS_TRUTH),
        ("metrics", _metrics, METRICS_TRUTH),
    ):
        _write_topic(out, topic, make(rng, TOPIC_ROWS[topic]), fields, rng)
    _reference(out, rng)
    # a point-lookup key that exists, drawn from the seed
    meta = {
        "subjects": SUBJECTS,
        "rows": TOPIC_ROWS,
        "lookup_order_id": 1_000_000 + rng.randrange(TOPIC_ROWS["orders"]),
    }
    with open(os.path.join(out, "schemas.json"), "w") as fh:
        json.dump(meta, fh)


# --- curation corpus ------------------------------------------------------------

_WORDS = (
    "a the data row column table key value part hash join agg group order sort "
    "filter scan batch stream window merge query line customer spark vector "
    "fast slow big small"
).split()
_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]


def gen_curation(out: str, seed: int) -> None:
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(DOC_ROWS):
        if texts and rng.random() < 0.2:
            # planted near-duplicate: an earlier document with a few edits
            words = rng.choice(texts).split()
            for _ in range(rng.randrange(0, 3)):
                words[rng.randrange(len(words))] = rng.choice(_WORDS)
        else:
            words = [rng.choice(_WORDS) for _ in range(rng.randrange(10, 90))]
        texts.append(" ".join(words))
    documents = pa.table(
        {
            "doc_id": pa.array(range(DOC_ROWS), type=pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array([rng.choice(_LANGS) for _ in range(DOC_ROWS)]),
            "source": pa.array([f"src{i % 20}" for i in range(DOC_ROWS)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    g = np.random.default_rng(seed)
    labels = g.integers(0, 10, EMBEDDING_ROWS).astype(np.int32)
    centers = g.normal(0.0, 1.0, (10, EMBEDDING_DIM))
    vecs = (centers[labels] + g.normal(0.0, 0.35, (EMBEDDING_ROWS, EMBEDDING_DIM))).astype(
        np.float32
    )
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": pa.array(range(EMBEDDING_ROWS), type=pa.int64()),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )
    pq.write_table(documents, os.path.join(out, "documents.parquet"))
    pq.write_table(embeddings, os.path.join(out, "embeddings.parquet"))


GENERATORS = {
    "kafka_topics": gen_kafka,
    "curation_pipeline": gen_curation,
}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    GENERATORS[args.workload](args.out, args.seed)


if __name__ == "__main__":
    main()
