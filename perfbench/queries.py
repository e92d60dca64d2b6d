"""The SQL texts kafka_topics sends, verbatim, to both kwack-spark and DuckDB.

Every text is written in the dialect the two engines share, so DuckDB can run
the same string as the correctness oracle.  Outputs are scalars only
(integers, decimals, doubles, strings) so the two result encodings compare
cleanly.
"""

from __future__ import annotations

# kafka_topics: one "-q" mix per cycle.  Each entry is (name, topics read, sql).
# {lookup} is the seeded point-lookup key.
KAFKA_MIX = [
    (
        "orders_by_status_version",
        ("orders",),
        "SELECT status, rowinfo.vsi AS writer_schema, count(*) AS n, sum(amount) AS total "
        "FROM orders GROUP BY status, rowinfo.vsi",
    ),
    (
        "orders_point_lookup",
        ("orders",),
        "SELECT order_id, customer_id, status, amount, ship.city AS city "
        "FROM orders WHERE rowkey = {lookup}",
    ),
    (
        "orders_clicks_join",
        ("orders", "clicks"),
        "SELECT o.status AS status, count(*) AS n, sum(c.dwell_ms) AS dwell "
        "FROM orders o JOIN clicks c ON o.customer_id = c.customer_id "
        "WHERE c.score > 900 GROUP BY o.status",
    ),
    (
        "events_by_kind",
        ("events",),
        "SELECT kind, count(*) AS n, sum(value) AS total, min(user_id) AS lo, "
        "max(user_id) AS hi FROM events WHERE ok GROUP BY kind",
    ),
    (
        "metrics_top",
        ("metrics",),
        "SELECT rowkey AS name, count(*) AS n, sum(rowval) AS total FROM metrics "
        "GROUP BY rowkey ORDER BY total DESC, name LIMIT 5",
    ),
]
