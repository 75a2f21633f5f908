"""Seeded input generation for the benchmark.

Everything a run feeds the program is made here from the run's seed:
nginx access-log lines in the benchmark's log format (with a fixed share
of malformed lines), the TPC-H-shaped analytical tables the dashboard reads,
and the document / embedding tables the curation pipelines read. Each
generator also returns what the program must produce from its input
(expected row and reject counts, typed rows for checksums), so run.py can
check the outputs without trusting the program.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# share of malformed lines, split evenly between the two reject reasons
NO_MATCH_SHARE = 0.01
CAST_FAIL_SHARE = 0.01

_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
_USERS = ["alice", "bob", "carol", "dave", "erin", "frank"]
_METHODS = np.array(["GET"] * 16 + ["POST"] * 2 + ["PUT", "HEAD"])
_PATHS = ["/api/v1/items/", "/static/app.", "/search?q=", "/user/"]
_STATUSES = np.array([200] * 30 + [301, 302, 304, 304, 400, 404, 404, 499, 500, 502])
_AGENTS = [
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
    "(KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 14_2) AppleWebKit/605.1.15 "
    "(KHTML, like Gecko) Version/17.2 Safari/605.1.15",
    "Mozilla/5.0 (X11; Linux x86_64; rv:121.0) Gecko/20100101 Firefox/121.0",
    "curl/8.5.0", "Go-http-client/1.1", "python-requests/2.31.0",
    "Googlebot/2.1 (+http://www.google.com/bot.html)",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_2 like Mac OS X) AppleWebKit/605.1.15",
]
# start of the access-log clock: the lines span the Jan/Feb 2024 month
# boundary, so the month-partitioned sink writes two partitions
LOG_EPOCH = int(dt.datetime(2024, 1, 30, tzinfo=dt.timezone.utc).timestamp())
LOG_SPAN_S = 4 * 86400


def _ip_pool(rng, n):
    octets = rng.integers(1, 255, size=(n, 4))
    return np.array([f"{a}.{b}.{c}.{d}" for a, b, c, d in octets])


_HMS = pa.array([f"{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}"
                 for s in range(86400)])


def _day_text(days):
    """`dd/Mon/yyyy:` for each day of the log clock."""
    out = []
    for k in range(days):
        d = dt.datetime.fromtimestamp(LOG_EPOCH + k * 86400, dt.timezone.utc)
        out.append(f"{d.day:02d}/{_MONTHS[d.month - 1]}/{d.year}:")
    return pa.array(out)


def _str(values):
    return pa.array(values).cast(pa.string())


def _secs3(rng, n, scale):
    """Durations with three decimals, as nginx prints them."""
    return np.round(rng.exponential(scale, n), 3)


def access_log(seed, n):
    """`n` nginx lines from `seed`.

    Returns (lines, kind, expected): `lines` is a pyarrow string array,
    kind[i] is 0 (good), 1 (does not match the log format) or 2 (matches,
    but a typed field fails its cast), and `expected` is a pyarrow table
    of the typed good rows.
    """
    rng = np.random.default_rng(seed)
    pool = pa.array(_ip_pool(rng, 4000))
    # Zipf-skewed clients: a few addresses send most requests
    addr = pool.take(pa.array((rng.zipf(1.3, n) - 1) % len(pool)))
    user_on = rng.random(n) >= 0.9
    user = pa.array(np.array(_USERS)[rng.integers(0, len(_USERS), n)])
    secs = LOG_EPOCH + np.sort(rng.integers(0, LOG_SPAN_S, n))
    times = pc.binary_join_element_wise(
        _day_text(LOG_SPAN_S // 86400).take(pa.array((secs - LOG_EPOCH) // 86400)),
        _HMS.take(pa.array((secs - LOG_EPOCH) % 86400)), " +0000", "")
    request = pc.binary_join_element_wise(
        pa.array(_METHODS[rng.integers(0, len(_METHODS), n)]), " ",
        pa.array(np.array(_PATHS)[rng.integers(0, len(_PATHS), n)]),
        _str(rng.zipf(1.5, n) % 5000), " HTTP/1.1", "")
    status = _STATUSES[rng.integers(0, len(_STATUSES), n)]
    body = np.minimum(rng.lognormal(7.5, 1.5, n).astype(np.int64), 4_000_000_000)
    referer = pc.binary_join_element_wise(
        "https://ref", _str(rng.integers(0, 50, n)), ".example.com/page/",
        _str(rng.integers(0, 200, n)), "")
    referer = pc.if_else(pa.array(rng.random(n) < 0.4), "", referer)
    agent = pa.array(_AGENTS).take(pa.array(rng.integers(0, len(_AGENTS), n)))
    req_len = rng.integers(80, 4000, n)
    req_time = _secs3(rng, n, 0.08)
    up_on = rng.random(n) < 0.8
    up_conn = np.where(up_on, _secs3(rng, n, 0.002), 0.0)
    up_resp = np.where(up_on, _secs3(rng, n, 0.06), 0.0)
    shard = rng.integers(0, 200, n)

    kind = np.zeros(n, dtype=np.int8)
    bad = rng.permutation(n)[: int(round(n * (NO_MATCH_SHARE + CAST_FAIL_SHARE)))]
    n_nm = int(round(n * NO_MATCH_SHARE))
    kind[bad[:n_nm]] = 1
    kind[bad[n_nm:]] = 2

    def text(values, on=None, broken=None, which=None):
        """Field text; '-' where `on` is false; `broken` where a cast
        failure of kind `which` is injected."""
        s = _str(values)
        if on is not None:
            s = pc.if_else(pa.array(on), s, "-")
        if broken is not None:
            s = pc.if_else(pa.array((kind == 2) & (np.arange(n) % 5 == which)), broken, s)
        return s

    dash = lambda s: pc.if_else(pc.equal(s, ""), "-", s)  # noqa: E731
    # one typed field per cast-failure line is made uncastable, cycling
    # through the cast kinds: letter in a UInt16, sign on a UInt32, letter
    # in an Int32, two dots in a Float32, overflow of the custom UInt8
    lines = pc.binary_join_element_wise(
        addr, " - ", pc.if_else(pa.array(user_on), user, "-"), " [", times, '] "',
        request, '" ', text(status, broken="2O0", which=0), " ",
        text(body, broken="-5", which=1), ' "', dash(referer), '" "', agent, '" ',
        text(req_len, broken="12a", which=2), " ",
        text(req_time, broken="0.1.2", which=3), " ",
        text(up_conn, on=up_on), " ", text(up_resp, on=up_on), " ",
        text(shard, broken="300", which=4), "")
    # no match: a truncated line, or a record with no field separators
    idx = np.arange(n)
    nm_trunc = pa.array((kind == 1) & (idx % 2 == 0))
    nm_junk = pa.array((kind == 1) & (idx % 2 == 1))
    lines = pc.if_else(nm_trunc, pc.utf8_slice_codeunits(lines, 0, 25), lines)
    lines = pc.if_else(nm_junk, pc.binary_join_element_wise(
        "#malformed-record-", _str(idx), ""), lines)

    good = pa.array(kind == 0)
    expected = pa.table({
        "remote_addr": addr,
        "remote_user": pc.if_else(pa.array(user_on), user, ""),
        "time_local": pa.array(secs, pa.int64()),
        "request": request,
        "status": pa.array(status, pa.int64()),
        "body_bytes_sent": pa.array(body, pa.int64()),
        "http_referer": referer,
        "http_user_agent": agent,
        "request_length": pa.array(req_len, pa.int64()),
        "request_time": pa.array(req_time.astype(np.float32)),
        "upstream_connect_time": pa.array(up_conn.astype(np.float32)),
        "upstream_response_time": pa.array(up_resp.astype(np.float32)),
        "shard_id": pa.array(shard, pa.int64()),
    }).filter(good)
    return lines, kind, expected


def syslog_wrap(lines, secs0=LOG_EPOCH):
    """RFC3164 envelope: `<PRI>Mmm dd hh:mm:ss host tag: content`."""
    d = dt.datetime.fromtimestamp(secs0, dt.timezone.utc)
    head = f"<190>{_MONTHS[d.month - 1]} {d.day:2d} {d:%H:%M:%S} web01 nginx: "
    return pc.binary_join_element_wise(head, lines, "")


def encode(lines):
    """Newline-terminated UTF-8 bytes of a string array."""
    joined = pc.binary_join_element_wise(lines, "\n", "")
    offsets = np.frombuffer(joined.buffers()[1], dtype=np.int32,
                            count=len(joined) + 1, offset=joined.offset * 4)
    return joined.buffers()[2].to_pybytes()[offsets[0]:offsets[-1]]


def write_lines(path, lines):
    with open(path, "wb") as f:
        f.write(encode(lines))


def write_split(dir_, lines, parts):
    """Write `lines` as `parts` text files of near-equal size."""
    os.makedirs(dir_, exist_ok=True)
    step = (len(lines) + parts - 1) // parts
    for p in range(parts):
        write_lines(os.path.join(dir_, f"part-{p:03d}.log"), lines.slice(p * step, step))


# ---- analytical tables ----------------------------------------------------

def tables(seed, out_dir, sf):
    """events / orders / lineitem / customer / nation at TPC-H scale
    factor `sf` (events: 1,000,000 rows per unit of scale)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_ord, n_li, n_ev = (int(round(k * sf)) for k in
                                 (150_000, 1_500_000, 6_000_000, 1_000_000))

    def us(d):
        return int(dt.datetime(*d, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000

    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )[rng.integers(0, 5, n_cust)]),
    })
    # order times at second resolution over the weeks before and during the
    # events' month, so an ASOF join on (customer, time) has real matches
    # and no ties
    o_lo, o_hi = us((2023, 12, 1)), us((2024, 1, 31))
    o_time = (rng.integers(o_lo // 1_000_000, o_hi // 1_000_000, n_ord)) * 1_000_000
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 450_000, n_ord), 2)),
        "o_orderdate": pa.array(o_time, pa.timestamp("us", tz="UTC")),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)]),
    })
    li_order = np.sort(rng.integers(0, n_ord, n_li))
    lineitem = pa.table({
        "l_orderkey": pa.array(li_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20_000, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(
            us((1992, 1, 1)) + rng.integers(0, 2400, n_li) * 86_400_000_000,
            pa.timestamp("us", tz="UTC")),
    })
    ev_lo = us((2024, 1, 1))
    # event times skip a seeded set of days, so WITH FILL has gaps to fill
    day = rng.integers(0, 30, n_ev)
    skip = rng.choice(30, 4, replace=False)
    day = np.where(np.isin(day, skip), (day + 5) % 30, day)
    day = np.where(np.isin(day, skip), (day + 7) % 30, day)
    ev_t = ev_lo + day * 86_400_000_000 + rng.integers(0, 86_400_000_000, n_ev)
    events = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.sort(ev_t), pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(rng.integers(0, n_cust, n_ev), pa.int64()),
        "event_type": pa.array(np.array(
            ["view", "click", "signup", "purchase", "error"])[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(40.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    for name, t in [("nation", nation), ("customer", customer), ("orders", orders),
                    ("lineitem", lineitem), ("events", events)]:
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


# ---- curation corpus -----------------------------------------------------

_WORDS = ["spark", "data", "value", "table", "scan", "sort", "hash", "join",
          "group", "filter", "query", "stream", "batch", "window", "key",
          "row", "column", "part", "line", "fast", "slow", "small", "big",
          "order", "customer", "vector", "agg", "merge", "a", "the", "of"]


def corpus(seed, out_dir, n_docs, n_vecs):
    """documents and embeddings tables for the curation pipelines."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    # Zipf-bounded vocabulary: word ranks follow 1/r over a small table
    w = 1.0 / np.arange(1, len(_WORDS) + 1)
    w /= w.sum()
    lens = rng.integers(10, 100, n_docs)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.choice(len(_WORDS), L, p=w)]) for L in lens]
    # a slice of exact and near duplicates, so dedup has positives
    for i in range(0, n_docs, 17):
        j = int(rng.integers(0, n_docs))
        texts[i] = texts[j] if i % 2 else texts[j] + " " + words[i % len(words)]
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(["en", "en", "de", "fr", "es", "zh"])[
            rng.integers(0, 6, n_docs)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    # ten clusters in 64 dimensions, so nearest neighbours are meaningful
    centers = rng.normal(0, 1, (10, 64)).astype(np.float32)
    label = rng.integers(0, 10, n_vecs)
    vecs = centers[label] * 0.3 + rng.normal(0, 0.1, (n_vecs, 64)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    pq.write_table(documents, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embeddings, os.path.join(out_dir, "embeddings.parquet"))


def sample_corpus(seed, src_dir, out_dir, fracs):
    """A seeded row sample of the corpus tables (ids kept); `fracs` maps
    table name to the share of rows kept."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name, frac in fracs.items():
        t = pq.read_table(os.path.join(src_dir, f"{name}.parquet"))
        keep = np.sort(rng.permutation(t.num_rows)[: int(t.num_rows * frac)])
        pq.write_table(t.take(pa.array(keep)), os.path.join(out_dir, f"{name}.parquet"))
