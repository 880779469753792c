#!/usr/bin/env python3
"""Seeded Pi-hole FTL database for the benchmark's dashboard and
interactive workloads.

Writes `<out>` (plus `<out>-wal`) with the reference's `queries` DDL:
31 days of DNS queries with a diurnal arrival rate, ~40 Zipf clients,
~20k Zipf domains, roughly 72/25/3 % allowed/blocked/other statuses and
2 % NULL reply_time. The newest day is committed only into the `-wal`
sidecar: both files are copied while the writing connection is still
open, before its close-time checkpoint folds the WAL back in, which is
the state a live Pi-hole leaves on disk.

Same (seed, rows) -> byte-identical files. Usage:
    python3 perfbench/gen_ftl.py --seed 1 --rows 200000 --out x.db
"""
import argparse
import bisect
import itertools
import os
import random
import shutil
import sqlite3

DDL = """
CREATE TABLE queries (
    id INTEGER,
    timestamp INTEGER,
    type INTEGER,
    status INTEGER,
    domain TEXT,
    client TEXT,
    forward TEXT,
    additional_info TEXT,
    reply_type INTEGER,
    reply_time REAL,
    dnssec INTEGER,
    list_id TEXT,
    ede INTEGER
)
"""

DAYS = 31
T_END = 1706745600  # 2024-02-01 00:00 UTC: the span is January 2024
T0 = T_END - DAYS * 86400
N_CLIENTS = 40
N_DOMAINS = 20000

# Preprocess.AllowedStatuses / BlockedStatuses; anything else is "Other"
ALLOWED = (2, 3, 12, 13, 14, 17)
BLOCKED = (1, 4, 5, 6, 7, 8, 9, 10, 11, 15, 16, 18)
OTHER = (0, 19)
# per-code weights: forwarded/cached dominate the allowed class and
# gravity (1) the blocked class, as on a real resolver
STATUS_CODES = ALLOWED + BLOCKED + OTHER
STATUS_WEIGHTS = ((40.0, 28.0, 1.0, 1.0, 1.0, 1.0)
                  + (19.0,) + (0.5,) * 11 + (2.0, 1.0))

# relative query rate per UTC hour of day: quiet nights, evening peak
DIURNAL = (0.25, 0.18, 0.15, 0.15, 0.2, 0.35, 0.6, 0.9, 1.0, 0.95, 0.9, 0.9,
           1.0, 0.95, 0.9, 0.9, 1.0, 1.1, 1.3, 1.5, 1.6, 1.4, 0.9, 0.5)

INSERT = "INSERT INTO queries VALUES (" + ",".join("?" * 13) + ")"


def zipf_cdf(n, s):
    return list(itertools.accumulate(1.0 / (k ** s) for k in range(1, n + 1)))


def rows(seed, n):
    rnd = random.Random(seed)
    hour_cdf = list(itertools.accumulate(DIURNAL))
    client_cdf = zipf_cdf(N_CLIENTS, 1.1)
    domain_cdf = zipf_cdf(N_DOMAINS, 1.0)
    status_cdf = list(itertools.accumulate(STATUS_WEIGHTS))

    def draw(cdf):
        return bisect.bisect_right(cdf, rnd.random() * cdf[-1])

    stamps = sorted(
        T0 + rnd.randrange(DAYS) * 86400 + draw(hour_cdf) * 3600 + rnd.randrange(3600)
        for _ in range(n))
    out = []
    for i, ts in enumerate(stamps, start=1):
        status = STATUS_CODES[draw(status_cdf)]
        client = f"192.168.1.{10 + draw(client_cdf)}"
        domain = f"d{draw(domain_cdf)}.example.{('com', 'net', 'org')[i % 3]}"
        reply = None if rnd.random() < 0.02 else round(rnd.expovariate(40.0), 6)
        out.append((i, ts, 1 + rnd.randrange(16), status, domain, client, None,
                    None, rnd.randrange(13), reply, rnd.randrange(6), None, None))
    return out


def write(seed, n, out):
    data = rows(seed, n)
    cut = bisect.bisect_left([r[1] for r in data], T_END - 86400)
    tmp = out + ".work"
    for p in (tmp, tmp + "-wal", tmp + "-shm", out, out + "-wal"):
        if os.path.exists(p):
            os.remove(p)
    conn = sqlite3.connect(tmp)
    conn.execute("PRAGMA journal_mode=WAL")
    conn.execute("PRAGMA wal_autocheckpoint=0")
    conn.execute(DDL)
    conn.executemany(INSERT, data[:cut])
    conn.commit()
    conn.execute("PRAGMA wal_checkpoint(TRUNCATE)")
    conn.executemany(INSERT, data[cut:])
    conn.commit()
    # copy before close: closing checkpoints the WAL into the main file
    shutil.copy(tmp + "-wal", out + "-wal")
    shutil.copy(tmp, out)
    conn.close()
    for p in (tmp, tmp + "-wal", tmp + "-shm"):
        if os.path.exists(p):
            os.remove(p)
    return n - cut


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    wal_rows = write(a.seed, a.rows, a.out)
    print(f"{a.out}: {a.rows} rows, {wal_rows} only in the -wal")


if __name__ == "__main__":
    main()
