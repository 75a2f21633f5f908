"""Open-loop syslog-over-TCP load generator (one process, one connection).

The program's syslog-tcp source dials out, so this process listens. Once
the source connects it sends, in order:

  warm   lines at a fixed rate (warm-up; not measured),
  steady lines at the same fixed rate (the freshness window),
  (an idle gap of GAP_S seconds)
  flood  lines back to back (the drain window).

Pacing starts when the file --go appears. Each paced line is due at
t_start + index / rate; the schedule is written to --plan then, so the
benchmark can
time every line from when it was due. After the flood it waits for the
peer to close and writes its own figures (how late it ran, lines sent,
flood send marks) to --stats.

Usage: loadgen.py --data FILE --offsets FILE.npy --warm N --steady N
       --rate R --port-file F --go F --plan F --stats F
"""
import argparse
import json
import os
import socket
import time

import numpy as np

GAP_S = 1.5                 # idle gap between the paced lines and the flood
ACCEPT_TIMEOUT_S = 120.0    # how long to wait for the source to connect


def main():
    ap = argparse.ArgumentParser()
    for k in ("data", "offsets", "port-file", "go", "plan", "stats"):
        ap.add_argument("--" + k, required=True)
    ap.add_argument("--warm", type=int, required=True)
    ap.add_argument("--steady", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    a = ap.parse_args()

    data = memoryview(open(a.data, "rb").read())
    # offsets[i] is the byte offset where line i starts; offsets[-1] = len
    offsets = np.load(a.offsets)
    total = len(offsets) - 1
    paced = a.warm + a.steady

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    srv.settimeout(ACCEPT_TIMEOUT_S)
    with open(a.port_file + ".tmp", "w") as f:
        f.write(str(srv.getsockname()[1]))
    os.replace(a.port_file + ".tmp", a.port_file)
    conn, _ = srv.accept()
    srv.close()
    conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
    # the source connects while the query plans its first (empty)
    # micro-batch; pacing starts once the benchmark says the query is up
    deadline = time.time() + ACCEPT_TIMEOUT_S
    while not os.path.exists(a.go) and time.time() < deadline:
        time.sleep(0.001)

    t_start = time.time()
    with open(a.plan + ".tmp", "w") as f:
        f.write(f"t_start_ms={t_start * 1000.0}\nrate={a.rate}\n"
                f"warm={a.warm}\nsteady={a.steady}\nflood={total - paced}\n")
    os.replace(a.plan + ".tmp", a.plan)

    late_max = 0.0
    sent = 0
    while sent < paced:
        now = time.time()
        due = min(paced, int((now - t_start) * a.rate) + 1)
        if due > sent:
            # the first line of this chunk was due at t_start + sent / rate
            late_max = max(late_max, now - (t_start + sent / a.rate))
            conn.sendall(data[offsets[sent]:offsets[due]])
            sent = due
        next_due = t_start + sent / a.rate
        wait = next_due - time.time()
        if wait > 0:
            time.sleep(wait)

    # an idle gap lets the last paced lines commit before the flood
    time.sleep(GAP_S)
    flood_start = time.time()
    marks = []
    chunk = 20000
    while sent < total:
        stop = min(total, sent + chunk)
        conn.sendall(data[offsets[sent]:offsets[stop]])
        sent = stop
        marks.append([time.time() * 1000.0, sent])

    # wait for the benchmark to stop its query (the source closes)
    conn.settimeout(180.0)
    try:
        while conn.recv(65536):
            pass
    except OSError:
        pass
    conn.close()
    with open(a.stats, "w") as f:
        json.dump({"late_ms_max": late_max * 1000.0, "lines_sent": sent,
                   "flood_start_ms": flood_start * 1000.0, "flood_marks": marks}, f)


if __name__ == "__main__":
    main()
