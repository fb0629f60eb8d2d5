"""Engine-free host-capacity probes for two-level scaling diagnosis.

When a two-level scaling number misses the 0.8 target, the FIRST question
is whether the host can even deliver 4x at that working set — these
probes run the job's hot kernel in plain multiprocessing (no Spark, no
JVM, no Arrow) at 2 and 8 processes:

    python tools/host_probes.py normalize   # normalize_text's regex+NFC scan

Interpretation (measured 2026-08-19):

* ``normalize`` — normalize_text's regex+NFC pipeline as pure per-doc
  Python (re.sub string reallocs): caps at **0.63 efficiency**
  (0.631-0.643 across 3 runs, 2026-08-19) — string-substitution realloc
  traffic saturates the shared allocator/DRAM path at 2 procs, the
  same ceiling class as the dedup job's narrow md5 stage. The shipped
  Spark stage measures 0.94 because JVM regexes + the vectorized Arrow
  ASCII scan keep the 90% majority out of per-row Python entirely.

The BASELINE.md scaling-evidence sections cite these numbers; re-run the
probes in the same session as any scaling bench you intend to compare
against (host capacity drifts with co-tenant load).
"""

from __future__ import annotations

import json
import multiprocessing as mp
import sys
import time


def _normalize_work(seed: int) -> int:
    # normalize_text's per-byte shape with no engine: regex scans over
    # ~10 MB of ASCII-heavy text (10% of docs spiked non-ASCII, like the
    # scaling corpus), NFC only on the spiked minority, string realloc
    # per substitution — measures the host's string/alloc bandwidth
    # scaling, which is what the Spark stage contends on
    import re
    import unicodedata

    base = ("the quick brown fox jumps over the lazy dog " * 20 + "\r\n") * 8
    docs = [
        ("\ufeffCafe\u0301 \r\n" + base) if i % 10 == 0 else base
        for i in range(1500)
    ]
    crlf = re.compile(r"\r\n?")
    ctrl = re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f\u200b\ufeff]")
    ws = re.compile(r"[ \t]+")
    edge = re.compile(r" *\n *")
    n = 0
    for d in docs:
        s = ctrl.sub("", crlf.sub("\n", d))
        if not s.isascii():
            s = unicodedata.normalize("NFC", s)
        s = edge.sub("\n", ws.sub(" ", s)).strip("\n ")
        n += len(s)
    return n


def _run(fn, procs: int, chunks: int = 8, reps: int = 3) -> float:
    walls = []
    for _ in range(reps):
        with mp.Pool(procs) as pool:
            t0 = time.perf_counter()
            pool.map(fn, range(chunks))
            walls.append(time.perf_counter() - t0)
    return min(walls)


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "normalize"
    fn = {"normalize": _normalize_work}[which]
    w2 = _run(fn, 2)
    w8 = _run(fn, 8)
    print(
        json.dumps(
            {
                "probe": which,
                "p2_wall_s": round(w2, 2),
                "p8_wall_s": round(w8, 2),
                "speedup": round(w2 / w8, 3),
                "efficiency": round(w2 / w8 / 4, 3),
            }
        )
    )


if __name__ == "__main__":
    main()
