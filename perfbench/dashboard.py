"""The ch_dashboard statement templates.

Each template is one ClickHouse-dialect statement a dashboard would send
through the engine's front door (`ChSqlRewriter.sql`), paired with the
DuckDB SQL that computes the same answer over the same parquet files (the
output check). Parameters come from the run's seed. Every statement is
fully ordered, so results compare row by row.

Thresholds on the generated three-decimal timings use four decimals, so a
float32 column and a double literal agree in both engines.
"""
import numpy as np

EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]


# Parameters pick equally sized slices (a residue class, one event type,
# one discount value), so every draw costs about the same and runs with
# different seeds time the same amount of work.

def _p_prewhere_if(r):
    return dict(rt=f"{r.choice([0.0505, 0.1005, 0.2005])}", m=4, r=int(r.integers(0, 4)),
                rl=int(r.integers(100, 300)))


def _p_shard(r):
    return dict(m=4, r=int(r.integers(0, 4)))


def _p_limit_by(r):
    return dict(m=5, r=int(r.integers(0, 5)))


def _p_fill(r):
    return dict(et=str(r.choice(EVENT_TYPES)), v=f"{r.choice([0.5, 1.5, 2.5])}")


def _p_asof(r):
    return dict(m=3, r=int(r.integers(0, 3)))


def _p_join(r):
    return dict(d="2023-12-15 00:00:00", disc=f"{int(r.integers(0, 11)) / 100:.2f}")


# (name, parameter draw, ClickHouse text, DuckDB text)
TEMPLATES = [
    ("prewhere_if", _p_prewhere_if,
     "SELECT status, count() AS hits, countIf(request_time > {rt}) AS slow, "
     "sumIf(body_bytes_sent, http_referer = '') AS direct_bytes "
     "FROM access_log PREWHERE shard_id % {m} = {r} WHERE request_length > {rl} "
     "GROUP BY status ORDER BY status",
     "SELECT status, count(*) AS hits, count(*) FILTER (WHERE request_time > {rt}) AS slow, "
     "sum(body_bytes_sent) FILTER (WHERE http_referer = '') AS direct_bytes "
     "FROM access_log WHERE shard_id % {m} = {r} AND request_length > {rl} "
     "GROUP BY status ORDER BY status"),
    ("daily_status_classes", _p_shard,
     "SELECT toYYYYMMDD(time_local) AS day, "
     "multiIf(status >= 500, 'server', status >= 400, 'client', 'ok') AS cls, "
     "count() AS n, max(request_time) AS worst, sum(body_bytes_sent) AS bytes "
     "FROM access_log WHERE shard_id % {m} = {r} GROUP BY day, cls ORDER BY day, cls",
     "SELECT CAST(strftime(time_local, '%Y%m%d') AS INTEGER) AS day, "
     "CASE WHEN status >= 500 THEN 'server' WHEN status >= 400 THEN 'client' ELSE 'ok' END "
     "AS cls, count(*) AS n, max(request_time) AS worst, sum(body_bytes_sent) AS bytes "
     "FROM access_log WHERE shard_id % {m} = {r} GROUP BY day, cls ORDER BY day, cls"),
    ("hourly_uniq_quantile", _p_shard,
     "SELECT toStartOfHour(time_local) AS h, uniqExact(remote_addr) AS clients, "
     "quantileExact(0.5)(request_time) AS med FROM access_log WHERE shard_id % {m} = {r} "
     "GROUP BY h ORDER BY h",
     "SELECT date_trunc('hour', time_local) AS h, count(DISTINCT remote_addr) AS clients, "
     "list_sort(list(request_time))[least(CAST(floor(0.5 * count(request_time)) AS BIGINT) + 1, "
     "count(request_time))] AS med FROM access_log WHERE shard_id % {m} = {r} "
     "GROUP BY h ORDER BY h"),
    ("top_per_client", _p_limit_by,
     "SELECT remote_addr, status, count() AS hits FROM access_log "
     "WHERE shard_id % {m} = {r} GROUP BY remote_addr, status "
     "ORDER BY hits DESC, remote_addr, status LIMIT 2 BY remote_addr LIMIT 50",
     "SELECT remote_addr, status, hits FROM (SELECT remote_addr, status, count(*) AS hits, "
     "row_number() OVER (PARTITION BY remote_addr "
     "ORDER BY count(*) DESC, remote_addr, status) AS rn "
     "FROM access_log WHERE shard_id % {m} = {r} GROUP BY remote_addr, status) "
     "WHERE rn <= 2 ORDER BY hits DESC, remote_addr, status LIMIT 50"),
    ("daily_filled", _p_fill,
     "SELECT toStartOfDay(ts) AS d, count() AS n FROM events "
     "WHERE event_type = '{et}' AND value > {v} GROUP BY d "
     "ORDER BY d WITH FILL STEP INTERVAL 1 DAY",
     "WITH src AS (SELECT date_trunc('day', ts) AS d, count(*) AS n FROM events "
     "WHERE event_type = '{et}' AND value > {v} GROUP BY d), "
     "ax AS (SELECT unnest(generate_series((SELECT min(d) FROM src), (SELECT max(d) FROM src), "
     "INTERVAL 1 DAY)) AS d) "
     "SELECT d, n FROM ax FULL OUTER JOIN src USING (d) ORDER BY d"),
    ("asof_last_order", _p_asof,
     "SELECT a.event_type AS event_type, count() AS n, sum(b.o_totalprice) AS spend "
     "FROM events AS a ASOF JOIN orders AS b "
     "ON a.user_id = b.o_custkey AND a.ts >= b.o_orderdate "
     "WHERE a.user_id % {m} = {r} GROUP BY a.event_type ORDER BY event_type",
     "SELECT a.event_type AS event_type, count(*) AS n, sum(b.o_totalprice) AS spend "
     "FROM events AS a ASOF JOIN orders AS b "
     "ON a.user_id = b.o_custkey AND a.ts >= b.o_orderdate "
     "WHERE a.user_id % {m} = {r} GROUP BY a.event_type ORDER BY event_type"),
    ("nation_revenue", _p_join,
     "SELECT n.n_name AS nation, count() AS lines, "
     "sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue "
     "FROM lineitem AS l INNER JOIN orders AS o ON l.l_orderkey = o.o_orderkey "
     "INNER JOIN customer AS c ON o.o_custkey = c.c_custkey "
     "INNER JOIN nation AS n ON c.c_nationkey = n.n_nationkey "
     "WHERE o.o_orderdate >= toDateTime('{d}') AND l.l_discount = {disc} "
     "GROUP BY nation ORDER BY nation",
     "SELECT n.n_name AS nation, count(*) AS lines, "
     "sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue "
     "FROM lineitem AS l INNER JOIN orders AS o ON l.l_orderkey = o.o_orderkey "
     "INNER JOIN customer AS c ON o.o_custkey = c.c_custkey "
     "INNER JOIN nation AS n ON c.c_nationkey = n.n_nationkey "
     "WHERE o.o_orderdate >= TIMESTAMPTZ '{d}' AND l.l_discount = {disc} "
     "GROUP BY nation ORDER BY nation"),
]


def statements(seed, cycles):
    """`cycles` rounds of statements as (template, ClickHouse text, DuckDB
    text). The seed sets up one dashboard: a panel per template with its
    parameters. A round is one refresh of it, sending every panel's
    statement once, in a seeded order, so every run times the same mix and
    repeats statements as a refreshing dashboard does.
    """
    r = np.random.default_rng(seed)
    panels = []
    for name, draw, ch, duck in TEMPLATES:
        p = draw(r)
        panels.append((name, ch.format(**p), duck.format(**p)))
    return [panels[i] for _ in range(cycles) for i in r.permutation(len(panels))]
