"""Adversarial-input oracle gate: run the WHOLE contract (queries() +
extra_queries() vs their DuckDB oracles, via tools/compare_oracle.py)
against hostile randomized documents and events tables.

The driver's correctness gate and the local compare both run on the
fixed synthetic corpus, whose text is benign; a Spark/DuckDB semantic
divergence that only shows on nasty content (empty strings, multi-space
runs, CRLF/controls/NFD/fullwidth byte forms, 500x word repeats,
whole-doc duplicates, shared spans/lines, PII shapes, tied and boundary
timestamps) would be invisible there. This tool regenerates only the
free-content tables — schema-identical to the real ones (documents:
doc_id BIGINT, text, lang, source, n_chars; events: event_id BIGINT, ts,
user_id BIGINT, event_type, value DOUBLE, props) — symlinks
the TPC-H-ish tables from a base sf dir, and exit-codes like
compare_oracle (non-zero on any value mismatch).

    python tools/fuzz_oracle.py [seed] [base_sf_dir]

Deterministic per seed. Used ad hoc (several seeds) rather than in the
suite: one full pass is ~5 min of Spark+DuckDB work.
"""

from __future__ import annotations

import os
import random
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

LANGS = ["en", "de", "fr", "es", "zh"]
WORDS = (
    "the of and to in data model token spark corpus word line text "
    "alpha beta gamma delta epsilon zeta eta theta"
).split()

NASTY_SNIPPETS = [
    "",                                   # empty doc
    " ",                                  # single space (one empty-ish token)
    "x",                                  # single char
    "a  b   c",                           # multi-space runs -> empty tokens
    " leading and trailing ",             # edge spaces
    "line one\r\nline two\rline three",   # CRLF / lone CR
    "tab\there and\x07bell and\x00nul",   # C0 controls
    "﻿BOM start ​zero width",   # BOM / ZWSP
    "Café decomposed Å angstrom",  # NFD + singleton
    "ＦＵＬＬｗｉｄｔｈ ｆｏｒｍｓ",       # fullwidth (NFKC-only folds)
    "emoji \U0001f469‍\U0001f4bb keep zwj",  # ZWJ sequence
    "reach me at bob@example.com or +1-555-123-4567 today",  # PII shapes
    "ssn 123-45-6789 card 4111 1111 1111 1111",
    "{ \"json\": true } lorem ipsum dolor",  # clean_lines banned content
    "buy now!!! $$$ %%% @@@ ###",            # punct-heavy
    "1 22 333 4444 55555 666666 7777777",    # digit tokens
]


def _doc_text(rng: random.Random) -> str:
    n = rng.randrange(0, 60)
    return " ".join(rng.choice(WORDS) for _ in range(n))


def build_documents(seed: int):
    rng = random.Random(seed)
    rows = []
    did = 0

    def add(text: str):
        nonlocal did
        lang = rng.choice(LANGS)
        # skewed sources incl. a 1-doc tail source (source_quota edge)
        source = f"src{min(rng.randrange(20), rng.randrange(20))}" if did % 97 else "srcTINY"
        rows.append((did, text, lang, source, len(text)))
        did += 1

    for s in NASTY_SNIPPETS:
        add(s)
    for _ in range(140):
        add(_doc_text(rng))
    # repetition torture: one word 500x, a 7-gram repeated 40x
    add("spam " * 499 + "spam")
    pat = _doc_text(rng)[:40] or "a b c d e f g"
    add(" ".join([pat] * 40))
    # whole-doc duplicates and near-duplicates (minhash/simhash/exact)
    base = _doc_text(rng) or "base doc text"
    for _ in range(3):
        add(base)
    add(base + " tail")
    add("head " + base)
    # shared span embedded in distinct docs (span_dedup)
    span = " ".join(rng.choice(WORDS) for _ in range(30))
    for _ in range(3):
        add(f"{_doc_text(rng)} {span} {_doc_text(rng)}")
    # shared lines across docs (line_dedup) + blank separator lines
    shared = "this exact line recurs across documents."
    for _ in range(4):
        add(f"{_doc_text(rng)}\n{shared}\n\n{_doc_text(rng)}")
    return rows


def build_events(seed: int):
    """Hostile event stream for the core as-of/sessionize/window family:
    duplicate timestamps (within AND across users, including tied
    reference rows for the as-of), gaps exactly AT the 1800 s session
    threshold and 1 us on either side, state runs exactly at the 600 s
    min-duration, a purchase exactly at a click's timestamp (the
    at-or-before boundary), 1 us spacings, exact-second timestamps
    (floor-parity), constant-value groups (zero min-max span), value
    extremes, a single-event user, and a hot user for the salted path."""
    import datetime as dt

    rng = random.Random(seed + 2)
    t0 = dt.datetime(2024, 3, 1, 0, 0, 0)
    types = ["click", "purchase", "view", "signup", "error"]
    rows = []
    eid = 0

    def add(user, ts, etype, value):
        nonlocal eid
        rows.append((eid, ts, user, etype, float(value), '{"k": %d}' % (eid % 97)))
        eid += 1

    us = dt.timedelta(microseconds=1)
    sec = dt.timedelta(seconds=1)

    # user 1: hot, 5-min cadence, several exact-duplicate instants with
    # DIFFERENT event types (state-change tie) and duplicate values
    t = t0
    for i in range(100):
        add(1, t, types[i % 5], (i % 7) * 10.0)
        if i % 19 == 0:
            add(1, t, types[(i + 1) % 5], (i % 7) * 10.0)
        t += dt.timedelta(minutes=5)
    # user 2: single event
    add(2, t0 + dt.timedelta(hours=1), "click", 1.0)
    # user 3: two events at the same microsecond
    add(3, t0, "click", 5.0)
    add(3, t0, "purchase", 6.0)
    # user 4: gaps exactly 1800 s, 1800s - 1us, 1800s + 1us
    t = t0
    for gap in [1800 * sec, 1800 * sec - us, 1800 * sec + us, 1800 * sec]:
        add(4, t, "view", 2.0)
        t = t + gap
    add(4, t, "view", 2.0)
    # user 5: state runs exactly 600 s long, alternating
    t = t0
    for i in range(6):
        add(5, t, "view" if i % 2 == 0 else "click", 3.0)
        add(5, t + 600 * sec - us, "view" if i % 2 == 0 else "click", 3.5)
        t += 600 * sec
    # user 6: constant type and value (zero min-max span, constant rolling)
    for i in range(8):
        add(6, t0 + i * 900 * sec, "view", 42.0)
    # user 7: 1 us spacings + exact-second timestamps
    for i in range(6):
        add(7, t0 + i * us, "click", i)
    for i in range(4):
        add(7, t0 + dt.timedelta(hours=2, seconds=i), "purchase", i)
    # user 8: value extremes
    for i, v in enumerate([0.0, -1.5, 1e15, 0.03, 0.03, 327.53]):
        add(8, t0 + i * 700 * sec, types[i % 5], v)
    # user 9: as-of boundaries — purchase exactly AT a click's ts, a click
    # 1 us after a purchase, and TWO clicks at one instant with different
    # values (tied reference rows)
    tc = t0 + dt.timedelta(hours=3)
    add(9, tc, "click", 100.0)
    add(9, tc, "purchase", 1.0)        # left ts == right ts (at-or-before)
    add(9, tc + 60 * sec, "purchase", 2.0)
    add(9, tc + 60 * sec + us, "click", 200.0)  # click just AFTER purchase
    add(9, tc + 120 * sec, "click", 300.0)
    add(9, tc + 120 * sec, "click", 301.0)      # tied clicks
    add(9, tc + 180 * sec, "purchase", 3.0)
    # cross-user identical instants
    for u in (10, 11, 12):
        add(u, t0 + dt.timedelta(hours=4), "signup", 7.0)
    # random fill for the remaining users
    for u in (13, 14, 15):
        t = t0 + dt.timedelta(minutes=rng.randrange(0, 600))
        for _ in range(rng.randrange(5, 25)):
            add(u, t, rng.choice(types), round(rng.uniform(0, 300), 2))
            t += dt.timedelta(seconds=rng.randrange(1, 4000))
    return rows


def main() -> None:
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    base_sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"
    out_dir = f"/tmp/gfg_fuzz_sf_seed{seed}"
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem"]:
        os.symlink(f"{base_sf}/{t}.parquet", f"{out_dir}/{t}.parquet")

    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = build_documents(seed)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in docs], pa.int64()),
                "text": pa.array([r[1] for r in docs], pa.string()),
                "lang": pa.array([r[2] for r in docs], pa.string()),
                "source": pa.array([r[3] for r in docs], pa.string()),
                "n_chars": pa.array([r[4] for r in docs], pa.int64()),
            }
        ),
        f"{out_dir}/documents.parquet",
    )
    evs = build_events(seed)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in evs], pa.int64()),
                "ts": pa.array([r[1] for r in evs], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in evs], pa.int64()),
                "event_type": pa.array([r[3] for r in evs], pa.string()),
                "value": pa.array([r[4] for r in evs], pa.float64()),
                "props": pa.array([r[5] for r in evs], pa.string()),
            }
        ),
        f"{out_dir}/events.parquet",
    )
    print(f"fuzz corpus (seed {seed}): {len(docs)} docs, "
          f"{len(evs)} events -> {out_dir}")
    rc = subprocess.call(
        [sys.executable,
         os.path.join(os.path.dirname(__file__), "compare_oracle.py"),
         out_dir] + sys.argv[3:]
    )
    sys.exit(rc)


if __name__ == "__main__":
    main()
