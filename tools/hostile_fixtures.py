#!/usr/bin/env python3
"""Hostile DOCS / VECTORS fixture generator (r14 verdict #4/#5).

Builds two fixture dirs that clone a base scale-factor dir but replace ONE
table with a poisoned variant, so every d_*/t_* (docs) and sim_*/d_*embedding
(vectors) query can be run through BOTH engines (graft.Verify + DuckDB via
tools/oracle_check.py) over inputs a 100 TB crawl actually contains:

  hostile_docs/documents.parquet  — 0-length doc, null text, whitespace-only
    text, embedded NULs, astral-plane + zero-width + BiDi chars, a multi-MB
    doc, duplicate doc_ids (same AND different text), null lang/source, a
    lying n_chars, an exact content dup of doc 0, and tab-led, tab-trailed,
    newline-only, newline-led and vertical-tab texts
  hostile_vecs/embeddings.parquet — zero-norm vector, NaN / +Inf / -Inf
    components, wrong-dim strays (short and long), null embedding, empty
    array, duplicate vec_ids (same AND different vector), null label

Usage: python3 tools/hostile_fixtures.py <base_sf_dir> <out_root>
Then:  sbt "runMain graft.Verify <out_root>/hostile_docs /tmp/hd_out <names>"
       python3 tools/oracle_check.py <out_root>/hostile_docs /tmp/hd_out <names>
"""
import os
import random
import shutil
import sys
from datetime import datetime

import duckdb


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def donor_row(orig, want_id, avoid_id=None):
    """Duplicate-plant donor: the row with the given id, else a mid-table
    fallback. Never returns avoid_id (the two dup plants must land on two
    DISTINCT ids or the 'same payload' and 'different payload' classes
    merge) and never indexes out of range (a 2-row base made the old
    len//2+1 fallback crash)."""
    r = next((r for r in orig if r[0] == want_id), None)
    if r is not None and (avoid_id is None or r[0] != avoid_id):
        return r
    pool = [r for r in orig if avoid_id is None or r[0] != avoid_id]
    # an empty pool means every base row carries avoid_id (a
    # single-distinct-id base) — there is NO way to plant two distinct
    # dup ids, so fail loudly rather than let the class silently merge
    assert pool, (
        f"donor_row: no candidate row with id != {avoid_id} - the base "
        "table has a single distinct id; dup-id plant classes cannot be "
        "kept distinct")
    fb = pool[len(pool) // 2]
    if fb[0] != want_id:
        # visible signal (r16 ADVICE): a base change that demotes the
        # intended dup-id plant to a different id must not pass silently
        print(f"[hostile_fixtures] donor_row fallback: wanted id "
              f"{want_id}, planting id {fb[0]} instead", file=sys.stderr)
    return fb


def clone_base(base, out, skip):
    skip = {skip} if isinstance(skip, str) else set(skip)
    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        src = f"{base}/{t}.parquet"
        dst = f"{out}/{t}.parquet"
        if t in skip or not os.path.exists(src):
            continue
        if os.path.exists(dst):
            os.remove(dst)
        shutil.copyfile(src, dst)


def hostile_docs(base, out):
    clone_base(base, out, "documents")
    con = duckdb.connect()
    rng = random.Random(1234)
    # 60k words (~350 KB): ~500x the fixture's doc length — enough to catch
    # O(words x chunks)-class operator quadratics as multi-second slowdowns —
    # while the DuckDB oracle replays (list comprehensions that slice the
    # token list per window) stay tractable; at the original 400k words the
    # SQL side burned 45+ CPU-minutes on one query. The 400k-word variant
    # remains worth running Spark-only when touching the chunking family
    # (it is what caught the dedupChunks re-split as a 20-min hang).
    big = " ".join(rng.choice(["alpha", "beta", "gamma", "delta", "epsi",
                               "zeta", "eta", "theta"]) for _ in range(60_000))
    orig = con.execute(
        f"SELECT doc_id, text, lang, source, n_chars FROM "
        f"'{base}/documents.parquet' ORDER BY doc_id").fetchall()
    doc0_text = orig[0][1]
    doc42 = next(r for r in orig if r[0] == 42)
    astral = ("naïve \U0001F600\U0001D518 z​e​ro wid﻿th "
              "‍ join ‮RTL‬ mark")
    rows = list(orig) + [
        (9000, "", "en", "src_h", 0),                       # 0-length
        (9001, None, "en", "src_h", None),                  # null text
        (9002, "   \t\n  ", "en", "src_h", 7),              # whitespace-only
        (9003, "abc\x00def ghi\x00jkl nul bytes", "en", "src_h", 26),
        (9004, astral, "zz", "src_h", len(astral)),         # astral/zero-width
        (9005, big, "en", "src_big", len(big)),             # multi-MB doc
        (42, doc42[1], doc42[2], doc42[3], doc42[4]),       # dup id, same text
        (43, "a wholly different text for the colliding id",
         "en", "src_h", 44),                                # dup id, diff text
        (9006, "null metadata text body here", None, None, 28),
        (9007, "short body", "en", "src_h", 999_999),       # lying n_chars
        (9009, "text present but n_chars null", "en", "src_h",
         None),                                             # null n_chars
        (9008, doc0_text, "es", "src_h", len(doc0_text)),   # content dup of 0
    ] + [
        # whitespace edges: a raw split of a tab- or newline-led text has
        # a "" head token, and Java's \s holds the vertical tab (U+000B)
        # where RE2's does not
        (doc_id, t, "en", "src_edge", len(t)) for doc_id, t in [
            (9010, "\talpha beta gamma delta"),                # tab-led
            (9011, "alpha beta gamma delta\t"),                # tab-trailed
            (9012, "\n"),                                      # newline-only
            (9013, "\nalpha beta gamma delta"),                # newline-led
            (9014, "a\x0Bb c d"),                              # vertical tab
        ]
    ]
    con.execute("""CREATE TABLE d (doc_id BIGINT, text VARCHAR, lang VARCHAR,
                   source VARCHAR, n_chars BIGINT)""")
    con.executemany("INSERT INTO d VALUES (?,?,?,?,?)", rows)
    con.execute(f"COPY d TO '{out}/documents.parquet' (FORMAT parquet)")
    print(f"hostile_docs: {len(rows)} rows -> {out}/documents.parquet")


def hostile_vecs(base, out):
    clone_base(base, out, "embeddings")
    con = duckdb.connect()
    orig = con.execute(
        f"SELECT vec_id, embedding, label FROM "
        f"'{base}/embeddings.parquet' ORDER BY vec_id").fetchall()
    dim = len(orig[0][1])
    # planted-duplicate donors BY ID (r15 ADVICE: ids may be sparse or
    # non-zero-based in a future base), distinct and bounds-safe
    e7 = donor_row(orig, 7)
    e8 = donor_row(orig, 8, avoid_id=e7[0])
    # irregular components: a 0.1-step grid made centroid sums land exactly
    # on 6-dp half boundaries, where Spark's BigDecimal HALF_UP and DuckDB's
    # float-multiply round() legitimately differ by 1 ppm — that is inherent
    # cross-engine noise at measure-zero inputs, not a robustness class;
    # the planted vector's job is dims/finiteness/duplicates
    base_v = [0.0137 * ((i * 7) % 13) - 0.05 * ((i * 3) % 5) + 0.2113
              for i in range(dim)]
    nanv = list(base_v); nanv[3] = float("nan")
    pinf = list(base_v); pinf[0] = float("inf")
    ninf = list(base_v); ninf[dim - 1] = float("-inf")
    rows = list(orig) + [
        (9000, [0.0] * dim, 0),            # zero-norm
        (9001, nanv, 1),                   # NaN component
        (9002, pinf, 2),                   # +Inf component
        (9003, ninf, 0),                   # -Inf component
        (9004, [1.0, 2.0], 1),             # wrong dim: short
        (9005, [0.5] * (dim + 16), 2),     # wrong dim: long
        (9006, None, 0),                   # null embedding
        (9007, [], 1),                     # empty array
        (e7[0], e7[1], e7[2]),             # dup vec_id, same vector
        (e8[0], [9.9] * dim, 2),           # dup vec_id, different vector
        (9008, base_v, None),              # null label
    ]
    con.execute("CREATE TABLE e (vec_id BIGINT, embedding FLOAT[], label INTEGER)")
    con.executemany("INSERT INTO e VALUES (?,?,?)", rows)
    con.execute(f"COPY e TO '{out}/embeddings.parquet' (FORMAT parquet)")
    print(f"hostile_vecs: {len(rows)} rows -> {out}/embeddings.parquet")


def hostile_events(base, out):
    """The r13 hostile-events wave's fixture, reproducible: NaN/±Inf
    values, post-2038 + epoch-edge timestamps, null keys/types/values/ts,
    duplicate event_ids (same AND different payload), exact (user, ts)
    ties. q_monitor_catchup FAILS LOUDLY on the 230-year span by design —
    exclude it from the oracle subset and assert the failure instead."""
    clone_base(base, out, "events")
    con = duckdb.connect()
    orig = con.execute(
        f"SELECT event_id, ts, user_id, event_type, value, props FROM "
        f"'{base}/events.parquet' ORDER BY event_id").fetchall()
    # by-id lookup, not positional (r15 ADVICE: sparse/non-zero-based ids
    # would otherwise silently demote the 'dup id' plants), distinct and
    # bounds-safe via donor_row
    e5 = donor_row(orig, 5)
    e6 = donor_row(orig, 6, avoid_id=e5[0])
    tie_ts = datetime(2024, 1, 2, 0, 30, 0)
    rows = list(orig) + [
        (9000, datetime(2024, 1, 2, 0, 0, 0), 8, "click", float("nan"), '{"k": 1}'),
        (9001, datetime(2024, 1, 2, 0, 0, 1), 8, "view", float("inf"), '{"k": 2}'),
        (9002, datetime(2024, 1, 2, 0, 0, 2), 9, "view", float("-inf"), '{"k": 3}'),
        (9003, datetime(2200, 1, 1, 0, 0, 0), 10, "click", 1.0, '{"k": 4}'),
        (9004, datetime(1970, 1, 1, 0, 0, 0), 10, "view", 2.0, '{"k": 5}'),
        (9005, None, 11, "click", 3.0, '{"k": 6}'),           # null ts
        (9006, datetime(2024, 1, 2, 0, 1, 0), None, "click", 4.0, '{"k": 7}'),
        (9007, datetime(2024, 1, 2, 0, 2, 0), 12, None, 5.0, None),
        (9008, datetime(2024, 1, 2, 0, 3, 0), 12, "error", None, '{"k": 8}'),
        tuple(e5),                                            # dup id, same row
        (e6[0], datetime(2024, 1, 2, 0, 4, 0), 14, "purchase", 9.75,
         '{"k": 999}'),                                       # dup id, diff row
        (9009, tie_ts, 13, "click", 1.5, '{"k": 9}'),         # (user, ts) tie
        (9010, tie_ts, 13, "view", 2.5, '{"k": 10}'),
    ]
    con.execute("""CREATE TABLE ev (event_id BIGINT, ts TIMESTAMP,
                   user_id BIGINT, event_type VARCHAR, value DOUBLE,
                   props VARCHAR)""")
    con.executemany("INSERT INTO ev VALUES (?,?,?,?,?,?)", rows)
    con.execute(f"COPY ev TO '{out}/events.parquet' (FORMAT parquet)")
    print(f"hostile_events: {len(rows)} rows -> {out}/events.parquet")


def hostile_tpch(base, out):
    """The r13 hostile TPC-H fixture, reproducible: null join keys, null
    group keys, NaN/±Inf prices, duplicate o_orderkey/c_custkey, null
    dates across lineitem/orders/customer."""
    clone_base(base, out, {"lineitem", "orders", "customer"})
    con = duckdb.connect()

    li = con.execute(
        f"SELECT * FROM '{base}/lineitem.parquet' ORDER BY l_orderkey, "
        f"l_linenumber").fetchall()
    li0 = li[0]
    d = datetime(2024, 3, 1)
    li_rows = list(li) + [
        (None, 1, 1, 901, 1.0, 100.0, 0.0, 0.0, "N", "O", d),   # null join key
        (li0[0], 1, 1, 902, 1.0, 100.0, 0.0, 0.0, None, None, d),  # null group keys
        (li0[0], 1, 1, 903, 1.0, float("nan"), 0.05, 0.01, "A", "F", d),
        (li0[0], 1, 1, 904, 1.0, float("inf"), 0.05, 0.01, "A", "F", d),
        (li0[0], 1, 1, 905, 1.0, float("-inf"), 0.05, 0.01, "A", "F", d),
        (li0[0], 1, 1, 906, 2.0, 50.0, 0.0, 0.0, "N", "O", None),  # null date
        tuple(li0),                                              # exact dup row
    ]
    con.execute("""CREATE TABLE li (l_orderkey BIGINT, l_partkey BIGINT,
        l_suppkey BIGINT, l_linenumber INTEGER, l_quantity DOUBLE,
        l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE,
        l_returnflag VARCHAR, l_linestatus VARCHAR, l_shipdate TIMESTAMP)""")
    con.executemany("INSERT INTO li VALUES (?,?,?,?,?,?,?,?,?,?,?)", li_rows)
    con.execute(f"COPY li TO '{out}/lineitem.parquet' (FORMAT parquet)")

    od = con.execute(
        f"SELECT * FROM '{base}/orders.parquet' ORDER BY o_orderkey").fetchall()
    od0 = od[0]
    od_rows = list(od) + [
        tuple(od0),                                              # dup key, same row
        (od0[0], 77, "H", 123.45, datetime(2024, 4, 1), "1-URGENT"),  # dup key, diff
        (9000001, None, "O", 50.0, datetime(2024, 4, 2), "3-MEDIUM"),  # null custkey
        (9000002, 1, "O", float("nan"), datetime(2024, 4, 3), "3-MEDIUM"),
        (9000003, 1, None, 60.0, None, None),                    # null status/date
    ]
    con.execute("""CREATE TABLE od (o_orderkey BIGINT, o_custkey BIGINT,
        o_orderstatus VARCHAR, o_totalprice DOUBLE, o_orderdate TIMESTAMP,
        o_orderpriority VARCHAR)""")
    con.executemany("INSERT INTO od VALUES (?,?,?,?,?,?)", od_rows)
    con.execute(f"COPY od TO '{out}/orders.parquet' (FORMAT parquet)")

    cu = con.execute(
        f"SELECT * FROM '{base}/customer.parquet' ORDER BY c_custkey").fetchall()
    cu0 = cu[0]
    cu_rows = list(cu) + [
        (9000001, "Hostile Null Nation", None, 10.0, "BUILDING"),
        (9000002, "Hostile Null Segment", 1, float("nan"), None),
        tuple(cu0),                                              # dup custkey
    ]
    con.execute("""CREATE TABLE cu (c_custkey BIGINT, c_name VARCHAR,
        c_nationkey INTEGER, c_acctbal DOUBLE, c_mktsegment VARCHAR)""")
    con.executemany("INSERT INTO cu VALUES (?,?,?,?,?)", cu_rows)
    con.execute(f"COPY cu TO '{out}/customer.parquet' (FORMAT parquet)")
    print(f"hostile_tpch: li {len(li_rows)} / od {len(od_rows)} / "
          f"cu {len(cu_rows)} rows -> {out}")


if __name__ == "__main__":
    base, out_root = sys.argv[1], sys.argv[2]
    hostile_docs(base, f"{out_root}/hostile_docs")
    hostile_vecs(base, f"{out_root}/hostile_vecs")
    hostile_events(base, f"{out_root}/hostile_events")
    hostile_tpch(base, f"{out_root}/hostile_tpch")
